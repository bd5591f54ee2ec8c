package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.st
import graft.operators.SpatialJoin
import graft.pipelines.Pipelines

/** Seeded regrid lattices: n x n unit source cells with a whole-number
  * population each, and an m x m target lattice over the same extent.
  * Because every source cell is a unit square, the conservative regrid
  * of a target cell has a closed form: the sum over the source cells it
  * overlaps of population x overlap width x overlap height. */
final class RegridLattices(seed: Long, val n: Int, val m: Int) {
  val w: Double = n.toDouble / m

  def pop(id: Long): Long = Math.floorMod(id * 2654435761L + seed * 40503L, 97L) + 1

  def source(spark: SparkSession): DataFrame =
    spark.range(n.toLong * n)
      .select(col("id"),
        (col("id") % n).cast("double").as("sx"),
        (col("id") / n).cast("long").cast("double").as("sy"),
        (pmod(col("id") * 2654435761L + lit(seed * 40503L), lit(97L)) + 1).as("pop"))
      .withColumn("geom", st.makeBox(col("sx"), col("sy"), col("sx") + 1.0, col("sy") + 1.0))
      .drop("sx", "sy")

  def target(spark: SparkSession): DataFrame =
    spark.range(m.toLong * m)
      .select(col("id").as("tid"),
        (col("id") % m).cast("double").as("tx"),
        (col("id") / m).cast("long").cast("double").as("ty"))
      .withColumn("tgt_geom", st.makeBox(col("tx") * w, col("ty") * w,
        (col("tx") + 1.0) * w, (col("ty") + 1.0) * w))
      .drop("tx", "ty")

  /** Expected regridded value per target id, and the source total. */
  lazy val expected: (Array[Double], Long) = {
    def overlaps(k: Int): Seq[(Int, Double)] = {
      val (a, b) = (k * w, (k + 1.0) * w)
      (math.floor(a).toInt until math.min(n, math.ceil(b).toInt))
        .map(i => i -> (math.min(i + 1.0, b) - math.max(i.toDouble, a)))
        .filter(_._2 > 0)
    }
    val ov = Array.tabulate(m)(overlaps)
    val out = Array.tabulate(m * m) { t =>
      val (tx, ty) = (t % m, t / m)
      var s = 0.0
      for ((j, oy) <- ov(ty); (i, ox) <- ov(tx)) s += pop(j.toLong * n + i) * ox * oy
      s
    }
    var total = 0L
    for (id <- 0L until n.toLong * n) total += pop(id)
    (out, total)
  }
}

/** The reference's `delphine/regrid.py`: a conservative regrid of a
  * fine source lattice onto a coarse target lattice through the
  * bucket-explode overlay join. No scan and no I/O: the work is the
  * join and the JTS refine and intersection kernels. */
final class RegridOverlay(seed: Long, tiny: Boolean) extends Workload {
  private val lat = if (tiny) new RegridLattices(seed, 60, 11) else new RegridLattices(seed, 400, 73)
  // bucket cells about 1.5 target widths, the ScaleBench ratio
  private val bucket = math.ceil(1.5 * lat.w)
  val itemsPerPass: Long = lat.n.toLong * lat.n

  def setup(spark: SparkSession): Map[String, Double] = {
    lat.expected
    Map.empty
  }

  def pass(spark: SparkSession, t: Tracer): () => Unit = {
    val src = lat.source(spark)
    val tgt = lat.target(spark)
    if (t.enabled) {
      // the same overlay Pipelines.conservativeRegrid builds: traced,
      // it is persisted here, so the regrid span's own time is the
      // aggregation alone
      t.layer("operators.spatial_join") {
        SpatialJoin.overlayIntersection(src.withColumn("__area_src", st.area(col("geom"))),
          tgt, "geom", "tgt_geom", bucket)
      }
    }
    val regrid = t.layer("pipelines.regrid") {
      Pipelines.conservativeRegrid(src, tgt, "geom", "tgt_geom", "pop", Seq("tid"), bucket)
    }
    val rows = t.span("regrid.collect") { regrid.select("tid", "regridded").collect() }
    () => {
      val (exp, total) = lat.expected
      def fail(msg: String) = throw new IllegalStateException(s"regrid_overlay check: $msg")
      if (rows.length != lat.m * lat.m) fail(s"${rows.length} target rows, want ${lat.m * lat.m}")
      var sum = 0.0
      rows.foreach { r =>
        val (tid, v) = (r.getLong(0), r.getDouble(1))
        val e = exp(tid.toInt)
        if (math.abs(v - e) > 1e-9 * math.max(1.0, e)) fail(s"target $tid: $v, want $e")
        sum += v
      }
      val ratio = sum / total
      if (math.abs(ratio - 1.0) > 1e-9) fail(s"conservation ratio $ratio")
    }
  }

  /** Bucket rows the explode emits per input geometry. (The refine is
    * fused into the bucket join's condition, so candidates before the
    * refine are not visible in the plan metrics.) */
  override def planMetrics(queries: Seq[QueryRecord]): Map[String, Double] = {
    val exploded = queries.flatMap(_.nodes).distinctBy(_.identity)
      .filter(n => n.desc.startsWith("Generate") && n.desc.contains("st_envelope_cells"))
      .map(_.metrics.getOrElse("numOutputRows", 0L)).sum
    val inputs = lat.n.toLong * lat.n + lat.m.toLong * lat.m
    Map("operators.spatial_join_fanout" -> exploded.toDouble / inputs)
  }
}
