package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.st
import graft.operators.SpatialJoin
import graft.util.Exact

/** Same-JVM interleaved A/B attributing the r16 pool readings of the
  * fused-spatial-refine consumers (grid_pipeline_haduk read −25%,
  * grid_pipeline −15% vs r15 floors in r16's membw-degraded sweeps —
  * VERDICT r16 Next #3 "plausible-noise, not proven-noise"):
  * alternate the two declared join shapes between the FUSED refine
  * ([[SpatialJoin.joinContains]]/[[SpatialJoin.overlayIntersection]] —
  * `st_pair_refine` / `st_pair_overlay`, one WKB parse per side) and the GENERIC
  * Column-chain refine ([[SpatialJoin.join]] — reference-point struct
  * compare + separate predicate, ~6 parses per candidate). The explode
  * side is fused in both, so the A/B isolates exactly the refine
  * fusion r16 shipped. If the fused side is not slower in paired reps,
  * the fusion is not the cause of the pool readings.
  *
  * Run: `sbt "runMain graft.tools.GeoRefineAb [reps]"`.
  */
object GeoRefineAb {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.queries.GeoQueries
    def pipShape(fused: Boolean): DataFrame = {
      val cells = GeoQueries.supplierCells(spark, sfDir).drop("pop_cents")
      val pts = GeoQueries.eventPoints(spark, sfDir)
      val joined =
        if (fused) SpatialJoin.joinContains(cells, pts, "geom", "pt_geom", 5.0)
        else SpatialJoin.join(cells, pts, "geom", "pt_geom", 5.0,
          (a, b) => st.contains(a, b))
      joined.groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_points"),
          Exact.fixedSum(col("value"), 2).as("sum_value"))
        .orderBy("s_suppkey")
    }
    def overlayShape(fused: Boolean): DataFrame = {
      val pop = GeoQueries.supplierCells(spark, sfDir).drop("cx", "cy")
        .withColumnRenamed("geom", "pop_geom")
      val tgt = GeoQueries.partRegridCells(spark, sfDir)
      val joined =
        if (fused) SpatialJoin.overlayIntersection(pop, tgt, "pop_geom", "tgt_geom", 5.0)
        else SpatialJoin.join(pop, tgt, "pop_geom", "tgt_geom", 5.0,
            (a, b) => st.intersects(a, b))
          .withColumn("piece_area",
            st.area(st.intersection(col("pop_geom"), col("tgt_geom"))))
      joined.groupBy("p_partkey")
        .agg(sum(col("pop_cents") * round(col("piece_area") * 16).cast("long"))
          .as("wsum"))
        .withColumn("population", col("wsum").cast("double") / 32000.0)
        .orderBy("p_partkey")
    }

    def time(df: => DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Seq(("pip_contains", pipShape _), ("overlay_intersects", overlayShape _))
      .foreach { case (tag, shape) =>
        time(shape(true)); time(shape(false)) // JIT warmup
        val fusedT = collection.mutable.ArrayBuffer[Double]()
        val chainT = collection.mutable.ArrayBuffer[Double]()
        (0 until reps).foreach { _ =>
          chainT += time(shape(false))
          fusedT += time(shape(true))
        }
        def s(xs: Seq[Double]) =
          f"min=${xs.min}%.3f med=${xs.sorted.apply(xs.size / 2)}%.3f"
        val wins = chainT.zip(fusedT).count { case (c, f) => f <= c }
        println(s"[georefine_ab] $tag CHAIN ${s(chainT.toSeq)}  " +
          s"FUSED ${s(fusedT.toSeq)}  fused_wins=$wins/$reps")
      }
    spark.stop()
  }
}
