package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.WKBReader

import graft.geom.st
import graft.grid.GridConfig
import graft.io.{GeoJson, Hdf5, NetCdf}
import graft.operators.Voronoi
import graft.pipelines.Pipelines

/** Expected daily statistics of one cell. */
final case class CellStats(nDays: Long, tmin: Double, tmax: Double, tmean: Double)

/** Seeded WRF-shaped input: a curvilinear `t2(time, y, x)` grid over
  * Great Britain plus three boundary regions in British National Grid
  * metres (EPSG:27700), and the closed-form expectations derived from
  * the same arrays.
  *
  * Temperatures are whole centi-kelvin, so the program's fixed-point
  * daily statistics have exact expected values: per cell, the mean over
  * days of the daily min, max, and the daily mean truncated to 1e-4 K.
  */
final class WrfGrid(seed: Long, val ny: Int, val nx: Int, val nt: Int) {
  val cells: Int = ny * nx
  val start: Instant = Instant.parse("2018-05-25T00:00:00Z")

  private def mix(a: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val diurnal: Array[Int] =
    Array.tabulate(24)(h => math.round(450 * math.sin(2 * math.Pi * (h - 9) / 24)).toInt)

  /** t2 in centi-kelvin, row-major (time, y, x). */
  val cents: Array[Int] = Array.tabulate(nt * cells) { i =>
    val t = i / cells
    val c = i % cells
    val (y, x) = (c / nx, c % nx)
    val noise = java.lang.Long.remainderUnsigned(mix(seed * 1000003L + i), 300).toInt
    27000 + (y * 7 + x * 3) % 600 + diurnal(t % 24) + noise
  }

  /** Curvilinear cell centres: both indices feed both coordinates, the
    * shape of WRF's 2-D XLONG/XLAT. Spark evaluates the same expression
    * in the same order, so both sides get identical doubles. */
  private val (dx, dy, mid) = (9.724 / nx, 8.9 / ny, nx / 2)
  private val (sx, sy, bow) = (dx / 13, dy / 17, 0.18 / (mid * mid))
  def lon(y: Int, x: Int): Double = -7.5 + x * dx + y * sx
  def lat(y: Int, x: Int): Double = 49.9 + y * dy - x * sy + (x - mid) * (x - mid) * bow
  def lonCol(y: Column, x: Column): Column = lit(-7.5) + x * dx + y * sx
  def latCol(y: Column, x: Column): Column =
    lit(49.9) + y * dy - x * sy + (x - mid) * (x - mid) * bow

  val clip: (Double, Double, Double, Double) = {
    val ls = for (y <- 0 until ny; x <- 0 until nx) yield (lon(y, x), lat(y, x))
    (ls.map(_._1).min - 0.1, ls.map(_._2).min - 0.1, ls.map(_._1).max + 0.1, ls.map(_._2).max + 0.1)
  }

  /** Boundary boxes (E0, N0, E1, N1) in metres; the seed moves each
    * edge by up to 20 km in whole kilometres. */
  val regions: Seq[(Double, Double, Double, Double)] = {
    val base = Seq((150000, 50000, 420000, 400000), (300000, 150000, 560000, 650000),
      (200000, 600000, 400000, 950000))
    base.zipWithIndex.map { case ((e0, n0, e1, n1), r) =>
      def j(k: Int) = java.lang.Long.remainderUnsigned(mix(seed * 31 + r * 4 + k), 21).toInt * 1000
      ((e0 + j(0)).toDouble, (n0 + j(1)).toDouble, (e1 - j(2)).toDouble, (n1 - j(3)).toDouble)
    }
  }

  /** Expected `Pipelines.temporalDailyStats` row per cell (index y*nx+x). */
  lazy val expected: Array[CellStats] = {
    val nDays = (nt + 23) / 24
    Array.tabulate(cells) { c =>
      var sMin = 0L; var sMax = 0L; var sQ = 0L
      for (d <- 0 until nDays) {
        val hours = (d * 24) until math.min(nt, d * 24 + 24)
        val v = hours.map(t => cents(t * cells + c).toLong)
        sMin += v.min; sMax += v.max
        sQ += (v.sum * 100) / v.length
      }
      CellStats(nDays, sMin.toDouble / (nDays * 100.0), sMax.toDouble / (nDays * 100.0),
        sQ.toDouble / (nDays * 10000.0))
    }
  }

  def write(path: String): Unit = {
    val dims = Seq(NetCdf.Dim("time", nt), NetCdf.Dim("y", ny), NetCdf.Dim("x", nx))
    val vars = Seq(
      NetCdf.Var("time", Seq(0), NetCdf.NcDouble,
        Seq("units" -> "hours since 2018-05-25 00:00:00"), Array.tabulate(nt)(_.toDouble)),
      NetCdf.Var("y", Seq(1), NetCdf.NcDouble, Nil, Array.tabulate(ny)(_.toDouble)),
      NetCdf.Var("x", Seq(2), NetCdf.NcDouble, Nil, Array.tabulate(nx)(_.toDouble)),
      NetCdf.Var("t2", Seq(0, 1, 2), NetCdf.NcDouble, Seq("units" -> "K"),
        cents.map(_ / 100.0)))
    Hdf5.write(path, dims, Seq("title" -> "perfbench WRF-shaped grid"), vars,
      chunkDeflate = true)
  }
}

/** The reference's `wrf_voronoi.py`: scan the WRF grid, daily
  * statistics per cell, Voronoi polygons of the cell centres, keep the
  * cells that meet the boundary regions, join, write GeoJSON parts and
  * read them back; every cell read back is then checked.
  *
  * The reference also writes a GeoPackage; `GeoPackage.write` is left
  * out because it throws on a layer of this size (its SQLite writer
  * renders a single interior B-tree page, about 450 leaf pages, and
  * overflows beyond that). */
final class WrfVoronoi(seed: Long, tiny: Boolean, dir: Path) extends Workload {
  // 187 x 178 = 33,286 cells, the reference's Brazil artifact count
  private val g = if (tiny) new WrfGrid(seed, 20, 24, 30) else new WrfGrid(seed, 178, 187, 24)
  val itemsPerPass: Long = g.nt.toLong * g.cells
  private val h5 = dir.resolve("wrf_t2.h5")
  private val json = dir.resolve("wrf_voronoi_json")
  private val cfg = GridConfig("x", "y", "lon", "lat", "time", "value")
  private var digest: Option[Long] = None

  def setup(spark: SparkSession): Map[String, Double] = {
    Files.createDirectories(dir)
    Files.deleteIfExists(h5)
    g.expected
    val t = System.nanoTime()
    g.write(h5.toString)
    Map("io.hdf5_write_s" -> (System.nanoTime() - t) / 1e9)
  }

  private def regions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    g.regions.toDF("e0", "n0", "e1", "n1")
      .select(st.makeBox(col("e0"), col("n0"), col("e1"), col("n1")).as("geom"))
  }

  private def boundary(spark: SparkSession): DataFrame =
    regions(spark).agg(st.unionAggr(st.transform(col("geom"), 27700, 4326)).as("bnd"))

  def pass(spark: SparkSession, t: Tracer): () => Unit = {
    Main.deleteTree(json)
    val grid = t.layer("sources.scan") {
      spark.read.format("graft.sources.GridSource").load(h5.toString)
    }
    val stats = t.layer("pipelines.daily_stats") { Pipelines.temporalDailyStats(grid, cfg) }
    val seeds = grid.filter(col("time") === lit(java.sql.Timestamp.from(g.start)))
      .select(col("y"), col("x"))
      .withColumn("vid", col("y").cast("long") * 1000L + col("x"))
      .withColumn("lon", g.lonCol(col("y"), col("x")))
      .withColumn("lat", g.latCol(col("y"), col("x")))
    val cells = t.layer("operators.voronoi") {
      Voronoi.tessellate(seeds, "vid", "lon", "lat", g.clip)
    }
    val kept = t.layer("geom.boundary_filter") {
      cells.crossJoin(boundary(spark))
        .filter(st.intersects(col("geom"), col("bnd"))).drop("bnd")
    }
    val out = t.layer("wrf.join") {
      kept.select((col("vid") / 1000).cast("int").as("y"), (col("vid") % 1000).cast("int").as("x"),
          col("geom"))
        .join(stats, Seq("y", "x"))
        .select(col("y"), col("x"), g.lonCol(col("y"), col("x")).as("lon"),
          g.latCol(col("y"), col("x")).as("lat"), col("n_days"), col("tmin_mean"),
          col("tmax_mean"), col("tmean_mean"), col("geom"))
    }
    t.span("io.geojson_write") { GeoJson.writeParts(out, "geom", json.toString) }
    val rows = t.span("io.geojson_read") {
      GeoJson.read(spark, json.toString)
        .select("y", "x", "lon", "lat", "n_days", "tmin_mean", "tmax_mean", "tmean_mean", "geom")
        .collect()
    }
    () => check(spark, rows)
  }

  private val gf = new GeometryFactory()
  private def seedPt(y: Int, x: Int) = gf.createPoint(new Coordinate(g.lon(y, x), g.lat(y, x)))

  /** The boundary (the same every pass) and the cell centres inside it,
    * computed at the first check. */
  private var bounded: Option[(PreparedGeometry, Set[(Int, Int)])] = None

  private def check(spark: SparkSession, rows: Array[Row]): Unit = {
    def fail(msg: String) = throw new IllegalStateException(s"wrf_voronoi check: $msg")
    val (prepared, inside) = bounded.getOrElse {
      val p = PreparedGeometryFactory.prepare(
        new WKBReader().read(boundary(spark).head().getAs[Array[Byte]](0)))
      val in = (for (y <- 0 until g.ny; x <- 0 until g.nx
        if p.contains(seedPt(y, x))) yield (y, x)).toSet
      if (in.isEmpty) fail("no cell centre lies inside the boundary")
      bounded = Some((p, in))
      (p, in)
    }
    val wkb = new WKBReader()
    val keys = rows.map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
    if (keys.distinct.length != keys.length) fail("duplicate cells in the output")
    // every cell centre inside the boundary must be kept
    val missing = inside -- keys.toSet
    if (missing.nonEmpty) fail(s"${missing.size} cells inside the boundary are missing")
    var dig = 0L
    rows.zip(keys).foreach { case (r, (y, x)) =>
      if (y < 0 || y >= g.ny || x < 0 || x >= g.nx) fail(s"bad cell ${(y, x)}")
      val e = g.expected(y * g.nx + x)
      val got = CellStats(r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      if (got != e) fail(s"cell ${(y, x)} stats $got, want $e")
      if (r.getDouble(2) != g.lon(y, x) || r.getDouble(3) != g.lat(y, x))
        fail(s"cell ${(y, x)} centre")
      val geom = wkb.read(r.getAs[Array[Byte]](8))
      if (!geom.covers(seedPt(y, x))) fail(s"cell ${(y, x)} does not cover its centre")
      if (!prepared.intersects(geom)) fail(s"cell ${(y, x)} misses the boundary")
      dig += java.util.Arrays.hashCode(Array(y.toLong, x.toLong,
        java.lang.Double.doubleToLongBits(geom.getArea)))
    }
    // the output is a function of the inputs: every pass writes the same
    digest match {
      case None => digest = Some(dig)
      case Some(d) => if (d != dig) fail("output differs from the first pass")
    }
  }

  /** GridSource scans executed in the pass: Voronoi's seed count and
    * the sink's plan (daily statistics and seeds) each re-read the grid,
    * as nothing caches it. */
  override def planMetrics(queries: Seq[QueryRecord]): Map[String, Double] = {
    val scans = queries.flatMap(_.nodes).distinctBy(_.identity)
      .count(n => n.desc.contains("BatchScan") && n.desc.contains("ggrd:") &&
        n.metrics.getOrElse("numOutputRows", 0L) > 0)
    Map("wrf.scan_executions" -> scans.toDouble)
  }
}
