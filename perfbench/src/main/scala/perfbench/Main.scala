package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload's measured phase hands back to the harness. */
final case class Measured(
    latencyNs: Seq[Long], // one sample per successful operation
    tracedNs: Seq[Long], // the traced share of those, in a traced run
    rowsPerS: Double,
    recall: Double,
    cachedMb: Double, // storage held by persisted layouts at the workload's steady state
    layers: Seq[Metric])

/** Durations of named set-up sections, one list per section over the set-up repetitions. */
final class SetupSections {
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(name, Stats.ms(System.nanoTime() - t0))
  }
  def record(name: String, value: Double): Unit =
    times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += value
  /** median over the repetitions, 0 for a section never entered */
  def median(name: String): Double = times.get(name).map(ts => Stats.median(ts.toSeq)).getOrElse(0.0)
  def all: Map[String, Seq[Double]] = times.map { case (k, v) => k -> v.toSeq }.toMap
}

trait Workload {
  type State
  def name: String
  /** seed-independent sizes, recorded in the output */
  def sizes: Map[String, Any]
  /** fingerprint of every generated input, for the determinism test */
  def inputsFingerprint(seed: Long): String
  def setup(spark: SparkSession, seed: Long, sections: SetupSections): State
  /** untimed operations that compile the plans and code the measured phase runs */
  def warm(st: State): Unit
  def measure(st: State, seconds: Int, ops: Ops, tracer: Tracer, sections: SetupSections): Measured
  def teardown(st: State): Unit
}

object Main {
  val workloads: Seq[Workload] = Seq(Serve, Ingest, Curate)

  /** Set-up runs this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  /** end-to-end metrics, printed by an untraced run, in this order */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "rows_per_s" -> "1/s", "recall" -> "ratio", "cached_mb" -> "MB", "heap_live_mb" -> "MB")

  /** per-layer metrics, printed by a traced run; a layer the workload
    * does not exercise reads 0 */
  val PerLayer: Seq[(String, String)] = {
    val index = Seq(
      "index.build_ms.ivf" -> "ms", "index.build_ms.hnsw" -> "ms", "index.build_ms.ivfpq" -> "ms",
      "index.train_ms" -> "ms", "index.add_call_ms_p50" -> "ms", "index.remove_ms" -> "ms",
      "index.save_ms" -> "ms", "index.load_ms" -> "ms", "index.cached_mb.ivf" -> "MB",
      "index.cached_mb.hnsw" -> "MB", "index.cached_mb.ivfpq" -> "MB")
    def requests(w: String) = Seq(
      s"$w.latency_samples" -> "count", s"$w.call_ms_p50" -> "ms", s"$w.plan_ms_p50" -> "ms",
      s"$w.execute_ms_p50" -> "ms", s"$w.jobs_per_request" -> "count",
      s"$w.tasks_per_request" -> "count", s"$w.driver_only_ms_p50" -> "ms",
      s"$w.executor_cpu_ms_per_request" -> "ms", s"$w.recall_at_10" -> "ratio")
    val serve = requests("serve") ++
      Seq("ivf", "hnsw", "ivfpq", "filter", "sql").map(k => s"serve.$k.latency_p50_ms" -> "ms") ++
      Seq("serve.sql.plan_ms_p50" -> "ms", "serve.queries_per_s" -> "1/s")
    val ingest = requests("ingest") ++ Seq(
      "ingest.search_ms_first" -> "ms", "ingest.search_ms_last" -> "ms",
      "ingest.search_growth_ms_per_add" -> "ms", "ingest.jobs_per_search_last" -> "count",
      "ingest.rows_added_per_s" -> "1/s", "ingest.save_load_s" -> "s")
    val curate = Seq(
      "text.quality_ms" -> "ms", "dedup.exact_ms" -> "ms", "dedup.minhash_ms" -> "ms",
      "dedup.components_ms" -> "ms", "search.ivfjoin_ms" -> "ms", "dedup.candidate_pairs" -> "count",
      "dedup.candidate_yield" -> "ratio", "curate.docs_per_s" -> "1/s", "curate.dup_recall" -> "ratio")
    val engine = Seq("serve", "ingest", "curate").flatMap(w => Seq(
      s"$w.shuffle_write_mb" -> "MB", s"$w.spill_mb" -> "MB", s"$w.gc_ms" -> "ms",
      s"$w.executor_cpu_s" -> "s", s"$w.worst_stage_skew" -> "ratio"))
    index ++ serve ++ ingest ++ curate ++ engine ++ Seq(
      "functions.l2_ns_per_pair" -> "ns", "error_rate" -> "ratio", "tracing_overhead_pct" -> "%")
  }

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean, outDir: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = workloads.find(_.name == need("workload")).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '${need("workload")}'; expected one of ${workloads.map(_.name).mkString(", ")}"))
    val seconds = need("seconds").toInt
    require(seconds >= 1, s"--seconds must be at least 1, got $seconds")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(w, need("seed").toLong, seconds, trace, need("out"))
  }

  def session(localDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    // the confs of the engine's own suite driver (graft.Bench)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2097152")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$localDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** storage held by persisted RDDs and cached DataFrames, in MB */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Waits until the JIT compiler has been idle for half a second (at most
    * 20 s): compiler threads still busy after warm-up would share the cores
    * with the first timed operations and slow them. */
  def awaitJitQuiet(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 20000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val t = jit.getTotalCompilationTime
      if (t == last) quiet += 1 else quiet = 0
      last = t
    }
  }

  /** driver heap still reachable after forced collections, in MB */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** ns per squared-L2 pair of 64-d vectors through the engine's kernel
    * entry point, on whichever SIMD or scalar path is active */
  def l2NsPerPair(): Double = {
    import graft.functions.VectorMath
    val r = Gen.rng(1L, 99L)
    val a = Array.fill(256)(Array.fill(64)(r.nextDouble().toFloat))
    val b = Array.fill(256)(Array.fill(64)(r.nextDouble().toFloat))
    var sink = 0.0
    val reps = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < a.length) {
        var j = 0
        while (j < b.length) { sink += VectorMath.distArr(VectorMath.L2SQ, a(i), b(j), 2.0); j += 1 }
        i += 1
      }
      (System.nanoTime() - t0).toDouble / (a.length * b.length)
    }
    if (sink.isNaN) throw new IllegalStateException("kernel produced NaN")
    Stats.median(reps.drop(2)) // the first repetitions warm the JIT
  }

  /** Spark leaves non-daemon threads behind, so the JVM exits explicitly:
    * 0 after a printed result, 1 when the run could not produce one. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = a.workload
    new java.io.File(a.outDir).mkdirs()
    val sections = new SetupSections
    var spark: SparkSession = null
    var st: w.State = null.asInstanceOf[w.State]
    // set-up repeats from a stopped session, so its median covers
    // session start, input generation, index builds and truth
    val setupS = (1 to SetupReps).map { rep =>
      if (spark != null) { w.teardown(st); spark.stop() }
      val t0 = System.nanoTime()
      spark = sections.time("session")(session(a.outDir))
      st = w.setup(spark, a.seed, sections)
      (System.nanoTime() - t0) / 1e9
    }
    w.warm(st)
    awaitJitQuiet()
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val ops = new Ops
    val m = w.measure(st, a.seconds, ops, tracer, sections)
    tracer.listener.foreach(_.awaitQuiet())
    val heap = heapLiveMb()
    w.teardown(st)
    ops.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
    if (m.latencyNs.isEmpty) throw new IllegalStateException("no operation succeeded")

    val latMs = m.latencyNs.map(Stats.ms)
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("latency_p50_ms", Stats.percentile(latMs, 50), "ms"),
      Metric("latency_p90_ms", Stats.percentile(latMs, 90), "ms"),
      Metric("rows_per_s", m.rowsPerS, "1/s"),
      Metric("recall", m.recall, "ratio"),
      Metric("cached_mb", m.cachedMb, "MB"),
      Metric("heap_live_mb", heap, "MB"))
    val info = ListMap[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "sizes" -> w.sizes, "attempted" -> ops.attempted, "failed" -> ops.failed,
      "latency_samples" -> m.latencyNs.length, "latencies_ms" -> m.latencyNs.map(Stats.ms),
      "setup_s_reps" -> setupS,
      "setup_sections_ms" -> sections.all,
      "end_to_end" -> ListMap(endToEnd.map(x => x.name -> x.value): _*))

    val printed = if (!a.trace) endToEnd else {
      val untraced = m.latencyNs.diff(m.tracedNs)
      val overhead =
        if (m.tracedNs.isEmpty || untraced.isEmpty) 0.0
        else (Stats.median(m.tracedNs.map(_.toDouble)) /
          Stats.median(untraced.map(_.toDouble)) - 1.0) * 100.0
      val produced = (m.layers ++ Seq(
        Metric("functions.l2_ns_per_pair", l2NsPerPair(), "ns"),
        Metric("error_rate", ops.failed.toDouble / math.max(1L, ops.attempted), "ratio"),
        Metric("tracing_overhead_pct", overhead, "%"))).map(x => x.name -> x).toMap
      val unknown = produced.keySet -- PerLayer.map(_._1)
      require(unknown.isEmpty, s"per-layer metrics missing from the declared list: $unknown")
      val layers = PerLayer.map { case (n, u) => produced.getOrElse(n, Metric(n, 0.0, u)) }
      val traceFile = new java.io.File(a.outDir, s"trace-${w.name}-seed${a.seed}.json")
      val doc = info ++ ListMap(
        "per_layer" -> ListMap(layers.map(x => x.name -> x.value): _*),
        "spans" -> tracer.toJson)
      java.nio.file.Files.write(traceFile.toPath, Json.render(doc).getBytes("UTF-8"))
      System.err.println(s"perfbench: trace written to $traceFile")
      layers
    }
    System.err.println("perfbench: " + Json.render(info))
    println(Json.render(info - "setup_sections_ms" - "latencies_ms"))
    spark.stop()
    val result = ListMap(
      "correct" -> (ops.failed == 0L),
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> ListMap(printed.map(x => x.name -> ListMap("value" -> x.value, "unit" -> x.unit)): _*))
    println(Json.render(result))
  }
}
