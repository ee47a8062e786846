package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** Metric names and units. BENCHMARK.json lists the same names; a test keeps
  * the two in step.
  */
object Metrics {
  /** Seen by a user of the engine; every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "build_docs_per_s" -> "docs/s",
    "index_bytes_per_text_byte" -> "ratio",
    "query_qps" -> "req/s",
    "query_p90_ms" -> "ms")

  /** One layer each, from the traced run (`--trace 1`). A metric that a
    * workload does not exercise reads 0 there.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "analysis.tokens_per_s" -> "tokens/s",
    "analysis.query_us" -> "us",
    "index.build.spark_jobs" -> "count",
    "index.build.stages" -> "count",
    "index.build.shuffle_write_mb" -> "MB",
    "index.build.shuffle_read_mb" -> "MB",
    "index.build.spill_mb" -> "MB",
    "index.build.task_cpu_s" -> "s",
    "index.build.core_busy_share" -> "ratio",
    "index.build.task_skew" -> "ratio",
    "index.codec.encode_postings_per_s" -> "postings/s",
    "index.codec.decode_postings_per_s" -> "postings/s",
    "index.bytes.postings_mb" -> "MB",
    "index.bytes.positions_mb" -> "MB",
    "index.bytes.docstore_mb" -> "MB",
    "index.bytes.facets_mb" -> "MB",
    "index.bytes.termdict_mb" -> "MB",
    "index.files" -> "count",
    "index.mutation.commit_s" -> "s",
    "index.mutation.spark_jobs" -> "count",
    "index.mutation.chunks_rewritten" -> "count",
    "index.mutation.bytes_written_per_text_byte" -> "ratio",
    "index.read.segment_ms" -> "ms",
    "index.read.termdict_ms" -> "ms",
    "index.read.payload_ms" -> "ms",
    "index.read.facet_ms" -> "ms",
    "query.kernel_us.and" -> "us",
    "query.kernel_us.any" -> "us",
    "query.kernel_us.phrase" -> "us",
    "query.kernel_us.filtered" -> "us",
    "query.kernel_ns_per_posting" -> "ns",
    "query.materialize_us" -> "us",
    "query.kernel_share" -> "ratio",
    "query.resident_mb" -> "MB",
    "query.p50_ms" -> "ms",
    "query.p99_ms" -> "ms",
    "query.disk.df_ms" -> "ms",
    "query.disk.df_cache_hit_ratio" -> "ratio",
    "query.disk.suggest_ms" -> "ms",
    "query.disk.spark_jobs_per_query" -> "count",
    "query.reload.version_ms" -> "ms",
    "query.reload.load_s" -> "s",
    "query.reload.visible_s" -> "s",
    "api.overhead_us" -> "us",
    "api.response_kb" -> "KB",
    "jvm.gc_ms_per_1k_queries" -> "ms",
    "jvm.build_gc_s" -> "s",
    "stream.zero_hit_share" -> "ratio",
    "stream.distinct_terms" -> "count",
    "stream.sum_df_per_query" -> "postings",
    "stream.term_blocks_p50" -> "blocks",
    "stream.term_blocks_p90" -> "blocks",
    "stream.term_blocks_max" -> "blocks",
    "stream.any_capped_share" -> "ratio") ++
    EndToEnd.map { case (n, _) => s"trace.overhead.$n" -> "ratio" }

  val Units: Map[String, String] = (EndToEnd ++ PerLayer).toMap
}

/** Sizes of one run. A run must fit its share of the measuring budget on a
  * 4-core host, Spark start and checks included.
  */
object Size {
  /** hi holds half the docs, so a head term's postings span up to 16
    * blocks of 128, and an ANY query over head terms passes the default
    * trackTotalHits (1000 matches), past which WAND pruning engages. Larger
    * corpora do not fit a run's share of the measuring budget.
    */
  val Docs = 4000L
  val Chunks = 1
  /** Set-up passes; setup_s is their median. Pass 0 also pays the JIT and
    * Spark's first-job costs, which the median leaves out; its state is the
    * one served. build_docs_per_s takes the median of the builds after
    * pass 0. The timed phase runs in as many slices, one after each pass.
    */
  val SetupPasses = 3
  /** Warm-up rounds of identical work run until the last three agree
    * within this share (JIT settled), or until [[WarmupMaxSeconds]] have
    * passed.
    */
  val SteadyTolerance = 0.05
  val WarmupMaxSeconds = 5
  /** Requests of one disk warm-up round. */
  val DiskWarmRequests = 5
  /** Closed-loop HTTP clients of `serve`. One: with more, requests queue
    * for the cores a shared host takes away, and latency measures the host.
    */
  val ServeClients = 1
  val ServeRequests = 300
  val StreamProps = 300
  val OracleSamples = 2
  val Batches = 1
  val BatchDocs = 20
  /** Requests each layer probe replays. */
  val LayerRequests = 100

  /** Spark's task threads (`local[n]`): half the cores, so the tasks leave
    * room for Spark's scheduling thread, the JIT and GC.
    */
  def sparkThreads: Int = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
}

/** State shared by one run: the session, its scratch dir, the seed, the
  * tracer and Spark meter, the metrics so far and the operation counts.
  */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val spansOut: String,
    val docs: Long = Size.Docs) {
  val sparkThreads: Int = Size.sparkThreads
  val tracer = new Tracer
  val meter = new SparkMeter(spark.sparkContext)
  val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  /** Request numbers for spans, unique over the run. */
  val requestIds = new AtomicLong
  private val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def put(name: String, v: Double): Unit = {
    require(Metrics.Units.contains(name), s"unknown metric $name")
    metrics(name) = v
  }

  /** A wrong or failed operation: counted, and the first few described. */
  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (problems.size < 20) problems.add(what)
  }

  def problemLines: Seq[String] = { val b = Seq.newBuilder[String]; problems.forEach(b += _); b.result() }

  def dir(name: String): String = s"$work/$name"
  def rm(name: String): Unit = graft.tools.CpuProbe.rmDir(dir(name))
}

/** Entry point: `--workload <serve|disk> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--spans <file>]`. Prints a host-context line, then as the last
  * line the result object; exits 1 when a correctness check failed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val w: Workload = workload match {
      case "serve"  => new Serve
      case "disk"   => new Disk
      case other    => sys.error(s"unknown workload $other")
    }
    val hostBefore = Host.snapshot()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[${Size.sparkThreads}]")
      .config("spark.sql.shuffle.partitions", Size.sparkThreads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.maxResultSize", "0")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, work, seed, seconds, traced,
      opts.getOrElse("spans", s"$work/spans.jsonl"))
    try Harness.run(run, w)
    catch {
      case e: Throwable =>
        run.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally w.close()
    val hostAfter = Host.snapshot()
    val correct = run.failed.get == 0
    run.problemLines.foreach(p => System.err.println(s"[graftbench] FAILED: $p"))
    val names = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val missing = names.map(_._1).filterNot(run.metrics.contains)
    if (correct && missing.nonEmpty) sys.error(s"metrics not measured: ${missing.mkString(", ")}")
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val ctx = Seq("nproc" -> nproc.toDouble,
      "cpu_efficiency_before" -> hostBefore("cpu_efficiency"),
      "cpu_efficiency_after" -> hostAfter("cpu_efficiency"),
      "steal_pct" -> Host.stealPct(hostBefore, hostAfter))
    println("{\"host\": {" + ctx.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") +
      s"""}, "workload": "$workload", "seed": $seed}""")
    val ms = names.filter(n => run.metrics.contains(n._1)).map { case (n, u) =>
      s""""$n": {"value": ${num(run.metrics(n))}, "unit": "$u"}"""
    }
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, run.attempted.get)}, """ +
      s""""failed": ${run.failed.get}, "metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}

/** A workload: set-up passes, a timed phase, checks, and layer probes. */
trait Workload {
  /** One set-up pass; only the pass with `keep` leaves its state in place. */
  def setup(run: Run, pass: Int, keep: Boolean): Unit
  /** Once, before the first timed slice: makes the inputs, checks each
    * distinct operation once, and warms up until steady.
    */
  def warm(run: Run): Unit
  /** One slice of a timed phase, `seconds` long (the `last` one runs on
    * until the percentiles have their samples). Samples add up until
    * [[result]].
    */
  def slice(run: Run, seconds: Int, last: Boolean): Unit
  /** Fills the end-to-end metrics other than `setup_s` from the slices
    * since the last call.
    */
  def result(run: Run, into: scala.collection.mutable.Map[String, Double]): Unit
  /** Correctness checks beyond the per-operation ones of the timed phase. */
  def check(run: Run): Unit
  /** Per-layer probes, in the traced run only. */
  def layers(run: Run): Unit
  def close(): Unit
}

object Harness {
  /** Runs `f`, logging its wall time to stderr; returns seconds. */
  def step(name: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] $name: $s%.2f s")
    s
  }

  /** Runs warm-up rounds of identical work until the last three take times
    * within [[Size.SteadyTolerance]] of each other, or the time cap passes.
    */
  def warm(name: String)(round: => Unit): Unit = {
    val end = System.nanoTime() + Size.WarmupMaxSeconds * 1000000000L
    val secs = scala.collection.mutable.ArrayBuffer[Double]()
    def steady = secs.size >= 3 && secs.takeRight(3).max <= secs.takeRight(3).min * (1 + Size.SteadyTolerance)
    while (!steady && System.nanoTime() < end) {
      val t0 = System.nanoTime()
      round
      secs += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[graftbench] $name warm-up: ${secs.size} rounds, ${secs.sum}%.2f s, steady=$steady " +
      secs.map(s => f"$s%.2f").mkString("(", " ", ")"))
  }

  /** `seconds` in `n` whole-second parts, the longer ones first. */
  def split(seconds: Int, n: Int): Seq[Int] = (0 until n).map(k => seconds / n + (if (k < seconds % n) 1 else 0))

  def run(r: Run, w: Workload): Unit = {
    // pass 0's state is the one served; the timed phase runs in slices
    // between the later passes, so set-up and queries both sample the
    // host over the whole run
    val passes = scala.collection.mutable.ArrayBuffer(step("setup pass 0") { w.setup(r, 0, keep = true) })
    step("warm-up") { w.warm(r) }
    val slices = split(r.seconds, Size.SetupPasses)
    slices.zipWithIndex.foreach { case (secs, k) =>
      if (k > 0) passes += step(s"setup pass $k") { w.setup(r, k, keep = false) }
      step(s"timed slice $k") { w.slice(r, secs, last = k == slices.size - 1) }
    }
    val e2e = scala.collection.mutable.LinkedHashMap[String, Double]("setup_s" -> Stats.median(passes.toSeq))
    w.result(r, e2e)
    step("check") { w.check(r) }
    e2e.foreach { case (k, v) => r.put(k, v) }
    if (r.traced) {
      // one more set-up pass and timed phase with spans on, then the timed
      // phase once more with spans off. The traced phase is compared with
      // the mean of the untraced phases on either side of it, so drift
      // during the run cancels out of the tracing overhead.
      r.tracer.on = true
      val t0 = System.nanoTime()
      r.tracer.span("setup") { w.setup(r, Size.SetupPasses, keep = false) }
      val tr = scala.collection.mutable.LinkedHashMap[String, Double](
        "setup_s" -> (System.nanoTime() - t0) / 1e9)
      w.slice(r, r.seconds, last = true)
      w.result(r, tr)
      r.tracer.on = false
      val after = scala.collection.mutable.LinkedHashMap[String, Double]()
      w.slice(r, r.seconds, last = true)
      w.result(r, after)
      r.tracer.on = true
      Metrics.EndToEnd.foreach { case (k, _) =>
        val base = if (after.contains(k)) (e2e(k) + after(k)) / 2 else e2e(k)
        r.put(s"trace.overhead.$k", if (base == 0) 0.0 else tr(k) / base - 1)
      }
      w.layers(r)
      r.tracer.on = false
      Metrics.PerLayer.foreach { case (k, _) => if (!r.metrics.contains(k)) r.put(k, 0.0) }
      r.tracer.write(r.spansOut)
    }
  }
}
