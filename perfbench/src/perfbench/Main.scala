package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A workload: seeded inputs made in [[setup]], and a [[pass]] that runs
  * the program on them and returns the check of its outputs, which
  * throws on a mismatch. The check is the benchmark's own work, so it
  * runs after the pass's timer stops. */
trait Workload {
  /** Items one pass processes, the numerator of `items_per_s`. */
  def itemsPerPass: Long
  /** Make the inputs (may run several times, each in a fresh session);
    * returns the seconds spent in named program calls, such as
    * `io.hdf5_write_s`. */
  def setup(spark: SparkSession): Map[String, Double]
  def pass(spark: SparkSession, t: Tracer): () => Unit
  /** Layer metrics read from the executed plans of one untraced pass. */
  def planMetrics(queries: Seq[QueryRecord]): Map[String, Double] = Map.empty
}

/** Outcome of one pass. Timings of a failed pass are never used. */
final case class PassRec(no: Int, traced: Boolean, error: Option[String],
    wallS: Double, totals: Totals, maxTaskNs: Long, gcMs: Long,
    codegenCompiles: Long, codegenNs: Long, planMs: Double,
    queries: Seq[QueryRecord]) {
  def ok: Boolean = error.isEmpty
}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, size: String, injectFail: Int, setups: Int, warmups: Int, work: Path)

/** The benchmark's single entry point. See `perfbench/README.md`. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "items_per_s" -> "items/s",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics: name, unit and how one pass's record yields it. */
  private final case class Layer(name: String, unit: String,
      from: LayerSource)
  private sealed trait LayerSource
  /** A field of the named span in traced warm passes (summed over the
    * span's calls in the pass). */
  private final case class SpanField(span: String, field: Span => Double)
      extends LayerSource
  /** A value of the untraced warm passes. */
  private final case class PassField(field: PassRec => Double) extends LayerSource
  /** A value the workload reads from an untraced pass's executed plans. */
  private final case class PlanField(key: String) extends LayerSource
  /** A value of the cold pass. */
  private final case class ColdField(field: PassRec => Double) extends LayerSource
  /** A program call timed during set-up. */
  private final case class SetupField(key: String) extends LayerSource
  /** Traced minus untraced warm pass wall time. */
  private case object TraceOverhead extends LayerSource

  private val MB = 1048576.0
  private def self(s: Span) = s.selfS
  private def shuffleMb(s: Span) = s.totals.shuffleWriteBytes / MB

  private val Layers: Seq[Layer] = Seq(
    Layer("sources.scan_s", "s", SpanField("sources.scan", self)),
    Layer("sources.scan_tasks", "count", SpanField("sources.scan", _.totals.tasks.toDouble)),
    Layer("pipelines.daily_stats_s", "s", SpanField("pipelines.daily_stats", self)),
    Layer("pipelines.daily_stats_shuffle_mb", "MB", SpanField("pipelines.daily_stats", shuffleMb)),
    Layer("operators.voronoi_s", "s", SpanField("operators.voronoi", self)),
    Layer("operators.voronoi_max_task_s", "s",
      SpanField("operators.voronoi", _.totals.maxTaskNs / 1e9)),
    Layer("geom.boundary_filter_s", "s", SpanField("geom.boundary_filter", self)),
    Layer("io.geojson_write_s", "s", SpanField("io.geojson_write", self)),
    Layer("io.hdf5_write_s", "s", SetupField("io.hdf5_write_s")),
    Layer("wrf.scan_executions", "count", PlanField("wrf.scan_executions")),
    Layer("operators.spatial_join_s", "s", SpanField("operators.spatial_join", self)),
    Layer("operators.spatial_join_fanout", "ratio", PlanField("operators.spatial_join_fanout")),
    Layer("operators.spatial_join_shuffle_mb", "MB",
      SpanField("operators.spatial_join", shuffleMb)),
    Layer("pipelines.regrid_agg_s", "s", SpanField("pipelines.regrid", self)),
    Layer("runtime.jobs", "count", PassField(_.totals.jobs.toDouble)),
    Layer("runtime.tasks", "count", PassField(_.totals.tasks.toDouble)),
    Layer("runtime.plan_ms", "ms", PassField(_.planMs)),
    Layer("runtime.spill_mb", "MB", PassField(_.totals.spillBytes / MB)),
    Layer("runtime.shuffle_write_mb", "MB", PassField(_.totals.shuffleWriteBytes / MB)),
    Layer("runtime.gc_s", "s", PassField(_.gcMs / 1e3)),
    Layer("runtime.busy_ratio", "ratio", PassField(p => busy(p))),
    Layer("runtime.codegen_compiles", "count", ColdField(_.codegenCompiles.toDouble)),
    Layer("runtime.codegen_ms", "ms", ColdField(_.codegenNs / 1e6)),
    Layer("trace.overhead_s", "s", TraceOverhead))

  val PerLayer: Seq[(String, String)] = Layers.map(l => l.name -> l.unit)

  private val cores = Runtime.getRuntime.availableProcessors
  private def busy(p: PassRec): Double = p.totals.taskNs / 1e9 / (p.wallS * cores)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "size", "inject-fail", "work")
    val unknown = m.keySet -- known
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val size = m.getOrElse("size", "full")
    require(Set("full", "tiny").contains(size), s"--size must be full or tiny, got $size")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      size, m.getOrElse("inject-fail", "-1").toInt,
      setups = if (size == "tiny") 1 else 5, warmups = if (size == "tiny") 0 else 2,
      work = Paths.get(m.getOrElse("work", ".bench_work")).toAbsolutePath)
  }

  def workload(o: Opts, dir: Path): Workload = o.workload match {
    case "wrf_voronoi" => new WrfVoronoi(o.seed, o.size == "tiny", dir)
    case "regrid_overlay" => new RegridOverlay(o.seed, o.size == "tiny")
    case w => throw new IllegalArgumentException(
      s"unknown workload $w (wrf_voronoi, regrid_overlay)")
  }

  def session(dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def envRecord(spark: Option[SparkSession]): Map[String, Any] = {
    val conf = spark.map(_.conf.getAll.filter(_._1.startsWith("spark."))).getOrElse(Map.empty)
    Map(
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "java" -> System.getProperty("java.version"),
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "steal_ticks" -> Jvm.stealTicks(),
      "load_avg" -> Jvm.loadAvg(),
      "spark_conf" -> conf.toSeq.sortBy(_._1).toMap,
      "graft_conf" -> (conf.filter(_._1.startsWith("spark.graft.")) ++
        sys.props.filter(_._1.startsWith("graft."))).toSeq.sortBy(_._1).toMap)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val runId = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-" +
      s"${System.currentTimeMillis()}"
    val dir = o.work.resolve(runId)
    Files.createDirectories(dir)
    val envStart = envRecord(None)
    val wl = workload(o, dir.resolve("data"))

    // set-up: fresh session + input generation, several times; the
    // last session is the one the passes run in
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupCalls = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var start = t0
    for (_ <- 0 until o.setups) {
      if (spark != null) { spark.stop(); start = System.nanoTime() }
      spark = session(dir)
      setupCalls += wl.setup(spark)
      setupS += (System.nanoTime() - start) / 1e9
    }

    val obs = new Observer(spark)
    val tracer = new Tracer(obs, runId)
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def runPass(no: Int, traced: Boolean): PassRec = {
      tracer.enabled = traced
      tracer.pass = no
      obs.drain()
      val before = obs.totals()
      obs.takeWindowMaxTaskNs()
      val (gc0, cg0, cgNs0, q0) =
        (Jvm.gcMs(), Jvm.codegenCompiles(), Jvm.codegenNs(), obs.queryCount)
      def attempt(f: => Unit): Option[String] =
        try { f; None } catch {
          case e: Throwable =>
            System.err.println(s"perfbench: pass $no failed")
            e.printStackTrace()
            Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(2000))
        }
      val t = System.nanoTime()
      var check: () => Unit = () => ()
      val thrown = attempt { check = tracer.span("pass")(wl.pass(spark, tracer)) }
      val wall = (System.nanoTime() - t) / 1e9
      // the pass's counters are read before the check, so its jobs
      // and compiles stay out of them
      obs.drain()
      val totals = obs.totals().minus(before)
      val maxTaskNs = obs.takeWindowMaxTaskNs()
      val (gc1, cg1, cgNs1, q1) =
        (Jvm.gcMs(), Jvm.codegenCompiles(), Jvm.codegenNs(), obs.queryCount)
      val error = thrown.orElse(attempt {
        check()
        if (no == o.injectFail)
          throw new IllegalStateException(s"injected output-check failure in pass $no")
      })
      tracer.endPass()
      tracer.attachTotals(no)
      val qs = obs.queriesSince(q0).take(q1 - q0)
      val rec = PassRec(no, traced, error, wall, totals, maxTaskNs, gc1 - gc0, cg1 - cg0,
        cgNs1 - cgNs0, qs.map(_.planMs).sum, qs)
      println(f"perfbench pass $no%d ${if (traced) "traced" else "untraced"} " +
        f"${if (rec.ok) "ok" else "FAILED"} $wall%.3f s" +
        error.map(e => s" ($e)").getOrElse(""))
      rec
    }

    // the cold pass, then warm-up passes that are checked but not timed
    // (the JIT is still compiling the pass's hot paths), then the
    // measured window of --seconds
    for (i <- 0 to o.warmups) passes += runPass(i, traced = false)
    val warmStart = System.nanoTime()
    var no = o.warmups + 1
    while ((System.nanoTime() - warmStart) / 1e9 < o.seconds || no == o.warmups + 1) {
      // traced runs alternate untraced and traced passes, so the trace
      // overhead is measured within one run
      passes += runPass(no, traced = o.trace && no % 2 == 0)
      no += 1
    }
    if (o.trace) {
      // a traced run needs at least one pass of each kind
      if (!passes.exists(_.traced)) passes += runPass(no, traced = true)
    }

    val envEnd = envRecord(Some(spark))
    val peakRss = Jvm.peakRssMb()
    obs.detach()
    spark.stop()

    // ---- metrics
    val attempted = passes.length
    val failed = passes.count(!_.ok)
    val cold = passes.head
    val warm = passes.filter(p => p.no > o.warmups && p.ok)
    val warmU = warm.filter(!_.traced)
    val warmT = warm.filter(_.traced)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val e2e: Map[String, Double] = Map(
      "setup_s" -> med(setupS.toSeq),
      "cold_s" -> (if (cold.ok) cold.wallS else 0.0),
      "items_per_s" -> med(warmU.map(p => wl.itemsPerPass / p.wallS).toSeq),
      "peak_rss_mb" -> peakRss)
    val errorRate = failed.toDouble / attempted

    def spanValues(name: String, f: Span => Double): Seq[Double] =
      warmT.map(p => tracer.spans.filter(s => s.pass == p.no && s.name == name))
        .filter(_.nonEmpty).map(_.map(f).sum).toSeq
    val planVals = warmU.map(p => wl.planMetrics(p.queries))
    val layer: Map[String, Double] = Layers.map { l =>
      l.name -> (l.from match {
        case SpanField(span, f) => med(spanValues(span, f))
        case PassField(f) => med(warmU.map(f).toSeq)
        case PlanField(k) => med(planVals.flatMap(_.get(k)).toSeq)
        case ColdField(f) => if (cold.ok) f(cold) else 0.0
        case SetupField(k) => med(setupCalls.flatMap(_.get(k)).toSeq)
        case TraceOverhead =>
          if (warmT.isEmpty || warmU.isEmpty) 0.0
          else med(warmT.map(_.wallS).toSeq) - med(warmU.map(_.wallS).toSeq)
      })
    }.toMap

    // ---- records: every metric with its unit on stdout, the full run
    // (environment, passes, spans) as JSON beside the work directory
    val (shown, values) = if (o.trace) (PerLayer, layer) else (EndToEnd, e2e)
    for ((n, u) <- shown) {
      val note = if (n == "items_per_s") s" (median of ${warmU.length} warm passes)" else ""
      println(s"perfbench metric $n ${values(n)} $u$note")
    }
    println(s"perfbench metric error_rate $errorRate ratio ($failed of $attempted passes failed)")
    val passJson = passes.map { p =>
      Json.obj("pass" -> p.no, "traced" -> p.traced, "ok" -> p.ok,
        "error" -> p.error.orNull, "wall_s" -> p.wallS, "jobs" -> p.totals.jobs,
        "stages" -> p.totals.stages, "tasks" -> p.totals.tasks,
        "task_s" -> p.totals.taskNs / 1e9, "cpu_s" -> p.totals.cpuNs / 1e9,
        "max_task_s" -> p.maxTaskNs / 1e9, "busy_ratio" -> busy(p),
        "shuffle_write_mb" -> p.totals.shuffleWriteBytes / MB,
        "spill_mb" -> p.totals.spillBytes / MB, "gc_s" -> p.gcMs / 1e3,
        "codegen_compiles" -> p.codegenCompiles, "codegen_ms" -> p.codegenNs / 1e6,
        "plan_ms" -> p.planMs, "queries" -> p.queries.length,
        "plan_metrics" -> (if (p.traced || !p.ok) Map.empty[String, Double]
          else wl.planMetrics(p.queries)))
    }
    val record = Json.obj(
      "run" -> runId, "workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "size" -> o.size, "warmups" -> o.warmups,
      "items_per_pass" -> wl.itemsPerPass, "setup_s" -> setupS.toSeq,
      "setup_calls" -> setupCalls.toSeq, "env_start" -> envStart, "env_end" -> envEnd,
      "attempted" -> attempted, "failed" -> failed, "error_rate" -> errorRate,
      "end_to_end" -> e2e, "per_layer" -> (if (o.trace) layer else Map.empty),
      "passes" -> passJson.map(Json.Raw).toSeq)
    val recordPath = o.work.resolve(s"$runId.json")
    Files.writeString(recordPath, record + "\n")
    if (o.trace) {
      val spansPath = o.work.resolve(s"$runId.spans.jsonl")
      Files.writeString(spansPath, tracer.spans.map(_.json).mkString("", "\n", "\n"))
      println(s"perfbench spans $spansPath")
      println(f"perfbench trace overhead ${layer("trace.overhead_s")}%.4f s per warm pass " +
        s"(traced ${warmT.length} vs untraced ${warmU.length} passes)")
    }
    println(s"perfbench record $recordPath")
    deleteTree(dir)

    val correct = failed == 0
    val metricsJson = shown.map { case (n, u) =>
      Json.str(n) + ":" + Json.obj("value" -> values(n), "unit" -> u)
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$metricsJson}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
