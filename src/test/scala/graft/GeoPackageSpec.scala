package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.geom.st
import graft.io.{GeoPackage, Sqlite}

class GeoPackageSpec extends AnyFunSuite with SparkSpec {

  private def layerDf = {
    import spark.implicits._
    Seq((1L, "alpha", 2.5), (2L, "beta", -1.0), (3L, "gamma", 0.0))
      .toDF("id", "name", "score")
      .withColumn("geom", st.makeBox(
        col("id") * 1.0, lit(0.0), col("id") * 1.0 + 2.0, lit(3.0)))
  }

  test("gpkg roundtrip preserves attributes and geometry") {
    val path = Files.createTempDirectory("gpkg_spec").resolve("t.gpkg").toString
    GeoPackage.write(layerDf, "geom", path, "boxes")
    val back = GeoPackage.read(spark, path, "boxes", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType))))
    val rows = back
      .select(col("fid"), col("id"), col("name"), col("score"),
        st.area(col("geom")).as("area"))
      .orderBy("fid").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(2)).toSeq == Seq("alpha", "beta", "gamma"))
    assert(rows.map(_.getDouble(3)).toSeq == Seq(2.5, -1.0, 0.0))
    assert(rows.forall(_.getDouble(4) == 6.0))
  }

  test("gpkg metadata tables are spec-shaped") {
    val path = Files.createTempDirectory("gpkg_spec").resolve("t.gpkg").toString
    GeoPackage.write(layerDf, "geom", path, "boxes")
    val contents = Sqlite.readTable(path, "gpkg_contents")
    assert(contents.size == 1)
    assert(contents.head._2(0) == Sqlite.SqlText("boxes"))
    assert(contents.head._2(1) == Sqlite.SqlText("features"))
    val srs = Sqlite.readTable(path, "gpkg_spatial_ref_sys")
    assert(srs.map(_._1).toSet == Set(-1L, 0L, 4326L))
    val gc = Sqlite.readTable(path, "gpkg_geometry_columns")
    assert(gc.head._2(1) == Sqlite.SqlText("geom"))
  }

  test("stock sqlite3 can open and query the file") {
    val python = new java.io.File("/usr/bin/python3")
    assume(python.exists, "python3 not available")
    val path = Files.createTempDirectory("gpkg_spec").resolve("t.gpkg").toString
    GeoPackage.write(layerDf, "geom", path, "boxes")
    val script =
      s"""import sqlite3
         |con = sqlite3.connect("$path")
         |n, = con.execute("SELECT count(*) FROM boxes").fetchone()
         |ids = [r[0] for r in con.execute("SELECT fid FROM boxes ORDER BY fid")]
         |names = [r[0] for r in con.execute("SELECT name FROM boxes ORDER BY fid")]
         |ct, = con.execute("SELECT table_name FROM gpkg_contents").fetchone()
         |assert n == 3 and ids == [1, 2, 3], (n, ids)
         |assert names == ["alpha", "beta", "gamma"], names
         |assert ct == "boxes", ct
         |print("SQLITE_OK")
         |""".stripMargin
    val p = new ProcessBuilder("/usr/bin/python3", "-c", script)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    p.waitFor()
    assert(out.contains("SQLITE_OK"), s"sqlite3 validation failed:\n$out")
  }

  test("multi-page tables roundtrip (interior b-tree level)") {
    import spark.implicits._
    val n = 2000
    val big = (1 to n).map(i => (i.toLong, s"row_$i", i * 1.5)).toDF("id", "name", "score")
      .withColumn("geom", st.makeBox(col("id") * 1.0, lit(0.0),
        col("id") * 1.0 + 1.0, lit(1.0)))
    val path = Files.createTempDirectory("gpkg_spec").resolve("big.gpkg").toString
    GeoPackage.write(big, "geom", path, "big")
    val back = GeoPackage.read(spark, path, "big", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType))))
    assert(back.count() == n)
    assert(back.agg(sum("id")).head().getLong(0) == n.toLong * (n + 1) / 2)
  }

  test("33,286-feature layer: several interior b-tree levels, stock sqlite3 agrees") {
    // the reference's wrf_voronoi.py GPKG layer size: ~1,000 leaf pages,
    // more than one interior page can address
    val n = 33286
    val big = spark.range(1, n + 1).select(col("id"),
        concat(lit("cell_"), col("id")).as("name"), (col("id") * 0.25).as("score"))
      .withColumn("geom", st.makeBox(col("id") % 187 * 1.0, floor(col("id") / 187) * 1.0,
        col("id") % 187 * 1.0 + 1.0, floor(col("id") / 187) * 1.0 + 1.0))
    val path = Files.createTempDirectory("gpkg_spec").resolve("wrf.gpkg").toString
    GeoPackage.write(big, "geom", path, "cells")
    val back = GeoPackage.read(spark, path, "cells", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType))))
    val agg = back.agg(count(lit(1)), sum("id"), sum("score"), sum(st.area(col("geom"))),
      sum(when(col("name") === concat(lit("cell_"), col("id")), 1).otherwise(0))).head()
    assert(agg.getLong(0) == n)
    assert(agg.getLong(1) == n.toLong * (n + 1) / 2)
    assert(agg.getDouble(2) == n.toLong * (n + 1) / 2 * 0.25)
    assert(agg.getDouble(3) == n.toDouble)
    assert(agg.getLong(4) == n)

    val python = new java.io.File("/usr/bin/python3")
    assume(python.exists, "python3 not available")
    val script =
      s"""import sqlite3
         |con = sqlite3.connect("$path")
         |ok, = con.execute("PRAGMA integrity_check").fetchone()
         |cnt, = con.execute("SELECT count(*) FROM cells").fetchone()
         |last, = con.execute("SELECT name FROM cells WHERE fid = $n").fetchone()
         |assert ok == "ok", ok
         |assert cnt == $n, cnt
         |assert last == "cell_$n", last
         |print("SQLITE_OK")
         |""".stripMargin
    val p = new ProcessBuilder("/usr/bin/python3", "-c", script)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    p.waitFor()
    assert(out.contains("SQLITE_OK"), s"sqlite3 validation failed:\n$out")
  }
}
