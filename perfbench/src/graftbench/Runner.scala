package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload gives the runner. A pass is the unit that is repeated
  * until the run's time is up; the first pass in the fresh session is the
  * cold pass. */
trait Workload {
  /** Input rows one pass processes (the numerator of `rows_per_s`). */
  def rowsPerPass: Long
  /** Warm pass time on the reference host (4-core VM, local[4]); sets how
    * many warm passes fill `--seconds`. */
  def nominalPassS: Double
  def pass(ctx: Ctx): Unit
  /** Runs after each pass, outside its timing: reads back what the pass
    * left on disk for the checks. */
  def afterPass(ctx: Ctx): Unit = ()
  /** Output checks not made inside the passes; may call graft again. */
  def check(ctx: Ctx): Unit
  /** Traced runs only: extra calls that split a layer into parts the
    * passes cannot show. Returns per-layer metrics. */
  def probe(ctx: Ctx): Map[String, Double] = Map.empty
  /** Facts about the generated inputs, recorded with the run. */
  def inputFacts: Seq[(String, String)] = Nil
}

/** One call into graft, as timed by the benchmark. */
final case class Call(op: String, ms: Double, pass: Int, traced: Boolean)

final class Ctx(val spark: SparkSession, val tracer: Tracer, val out: Outcomes,
    val corrupt: Option[String]) {
  val calls = mutable.ArrayBuffer.empty[Call]
  var passIdx = 0
  var peakCachedBytes = 0L

  /** Times `body` as one operation. Returns its result and operation id,
    * or None (counted as failed) when it throws. */
  def call[T](op: String)(body: => T): Option[(T, Int)] = {
    val id = out.next()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(op)(body)
      calls += Call(op, (System.nanoTime() - t0) / 1e6, passIdx, tracer.enabled)
      if (tracer.enabled) sampleStorage()
      Some((r, id))
    } catch {
      case e: Exception =>
        out.fail(id, s"$op threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Records a failed check against operation `id` unless `ok`. A check
    * named by `--corrupt` is handed a wrong expected value on purpose, so
    * the benchmark's own test can show that the check bites. */
  def expect[A](id: Int, name: String, actual: A, expected: A): Unit = {
    val exp = if (corrupt.exists(_.split(",").contains(name))) Ctx.corrupted(expected) else expected
    if (actual != exp)
      out.fail(id, s"check $name: got ${String.valueOf(actual).take(200)}, " +
        s"expected ${String.valueOf(exp).take(200)}")
  }

  def sampleStorage(): Unit = {
    val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakCachedBytes = math.max(peakCachedBytes, b)
  }
}

object Ctx {
  def corrupted(v: Any): Any = v match {
    case l: Long => l + 1
    case i: Int => i + 1
    case d: Double => d + 1
    case s: Set[_] => s.drop(1)
    case m: Map[_, _] => m.drop(1)
    case s: Seq[_] => s.drop(1)
    case t: Product => t.productIterator.toSeq.drop(1)
    case other => s"not $other"
  }
}

object Runner {
  def run(setup: Setup, workload: String, seed: Long, dir: Path, seconds: Double,
      trace: Boolean, corrupt: Option[String], genS: Double): String = {
    val spark = setup.spark
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val tracer = new Tracer(spark, s"$workload-$seed-${if (trace) "traced" else "plain"}")
    val out = new Outcomes
    val ctx = new Ctx(spark, tracer, out, corrupt)
    val w = Workloads(workload, spark, seed, dir)
    val listeners = new Listeners(spark)
    val sentinelBefore = sentinel()

    // cold pass: the first pass in the fresh session (listeners on when traced)
    val passWall = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    // Spark jobs each plain pass started (plain runs only), read from
    // Spark's own status store after the pass, not from a benchmark
    // listener: a pass doing more work on one seed than on another shows here
    val jobsPerPass = mutable.ArrayBuffer.empty[Int]
    def jobsSoFar(): Int = {
      org.apache.spark.sql.GraftBenchInternals.drain(spark.sparkContext)
      val st = spark.sparkContext.statusTracker
      (st.getJobIdsForGroup(null) ++ st.getActiveJobIds()).foldLeft(-1)(math.max) + 1
    }
    def onePass(traced: Boolean): Double = {
      val jobs0 = if (trace) 0 else jobsSoFar()
      tracer.enabled = traced
      if (traced) { listeners.c.reset(); listeners.register() }
      val t0 = System.nanoTime()
      try w.pass(ctx)
      catch { case e: Exception => out.fail(out.next(), s"pass threw $e") }
      val wall = (System.nanoTime() - t0) / 1e6
      w.afterPass(ctx)
      if (!trace) jobsPerPass += jobsSoFar() - jobs0
      if (traced) {
        listeners.unregister()
        if (ctx.passIdx > 0) perPass += counterMetrics(listeners.c, tracer, wall, setup.cpus)
      }
      tracer.enabled = false
      ctx.passIdx += 1
      wall
    }
    val start = System.nanoTime()
    val coldMs = onePass(trace)
    // warm passes: a fixed number per run, the run length divided by the
    // workload's nominal pass time (at least three, so the median is a
    // middle pass), so every run's medians sit over the same pass indexes
    // of the JIT warm-up curve instead of however many passes a slower or
    // faster run happened to fit. Traced runs follow the first warm pass
    // (still steep on the warm-up curve, left out of the overhead) with
    // plain-traced-traced-plain blocks, so a steady trend cancels out of
    // the tracing overhead.
    val warmPasses = math.max(if (trace) 5 else 3, math.ceil(seconds / w.nominalPassS).toInt)
    (0 until warmPasses).foreach { k =>
      val traced = trace && (k % 4 == 2 || k % 4 == 3)
      passWall += ((onePass(traced), traced))
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    ctx.passIdx = -1 // calls made by the probe and the checks are not timed passes
    val probeMetrics = if (trace) {
      tracer.enabled = true
      listeners.c.reset(); listeners.register()
      val t0 = System.nanoTime()
      val m = try w.probe(ctx) catch {
        case e: Exception => out.fail(out.next(), s"probe threw $e"); Map.empty[String, Double]
      }
      listeners.unregister()
      tracer.enabled = false
      // streaming runs only inside the probe: its micro-batch counters are the stream layer's
      val probeCounters = counterMetrics(listeners.c, tracer, (System.nanoTime() - t0) / 1e6, setup.cpus)
      probeCounters.filter(_._1.startsWith("stream.")) ++ m
    } else Map.empty[String, Double]
    val checkStart = System.nanoTime()
    try w.check(ctx) catch { case e: Exception => out.fail(out.next(), s"check threw $e") }
    val checkS = (System.nanoTime() - checkStart) / 1e9
    val sentinelAfter = sentinel()

    // ---- end-to-end metrics (meaningful from plain runs) ----
    val warm = passWall.filterNot(_._2).map(_._1).toSeq
    val warmTraced = passWall.filter(_._2).map(_._1).toSeq
    val warmCalls = ctx.calls.filter(c => c.pass > 0 && !c.traced).map(_.ms).toSeq
    val e2e = Seq(
      "setup_s" -> setup.setupS,
      "cold_s" -> coldMs / 1e3,
      "rows_per_s" -> w.rowsPerPass / (Stats.median(warm) / 1e3),
      "passed_frac" -> (1.0 - out.failed.toDouble / math.max(1, out.attempted)))

    // ---- per-layer metrics (meaningful from traced runs) ----
    def opP50(op: String): Double = {
      val xs = ctx.calls.filter(c => c.op == op && c.traced && c.pass > 0).map(_.ms).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val layer = mutable.LinkedHashMap.empty[String, Double]
    Layers.all.foreach(n => layer(n) = 0.0)
    // end-to-end candidates kept as per-layer metrics (README: End-to-end metrics)
    layer("call_ms_p50") = Stats.quantile(warmCalls, 0.5)
    layer("call_ms_p90") = Stats.quantile(warmCalls, 0.9)
    layer("peak_rss_mb") = vmHwmMb()
    layer("api.session_ms") = setup.sessionMs
    layer("api.install_ms") = setup.installMs
    Layers.opMetric.foreach { case (op, metric) => layer(metric) = opP50(op) }
    if (perPass.nonEmpty)
      perPass.head.keys.foreach(k => layer(k) = Stats.median(perPass.map(_(k)).toSeq))
    probeMetrics.foreach { case (k, v) => layer(k) = v }
    layer("storage.peak_cached_bytes") = ctx.peakCachedBytes.toDouble
    layer("storage.cached_rdds_after") = spark.sparkContext.getPersistentRDDs.size.toDouble
    layer("storage.cache_entries_after") =
      org.apache.spark.sql.GraftBenchInternals.cacheEntries(spark).toDouble
    layer("storage.tmp_dirs_after") = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("graft_")).toDouble
    if (trace) {
      val (t, p) = passWall.drop(1).partition(_._2)
      layer("trace.overhead_share") = Stats.median(t.map(_._1).toSeq) / Stats.median(p.map(_._1).toSeq) - 1.0
    }
    // a layer metric the workload could not produce stays 0: the layer was
    // not called on this workload

    val facts = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString,
      "input" -> Json.str("synthetic fixture generated from the seed; not the " +
        "Sentiment140 replay, so no ratio against the published PySpark times"),
      "cores" -> setup.cpus.toString, "master" -> Json.str(s"local[${setup.cpus}]"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "passes_warm" -> warm.size.toString, "passes_traced" -> warmTraced.size.toString,
      "calls_warm" -> warmCalls.size.toString,
      "calls" -> Json.arr(ctx.calls.map(c => Json.obj(Seq("op" -> Json.str(c.op),
        "ms" -> Json.num(c.ms), "pass" -> c.pass.toString, "traced" -> c.traced.toString))).toSeq),
      "pass_ms" -> Json.arr(passWall.map { case (ms, t) => Json.num(if (t) -ms else ms) }.toSeq),
      "jobs_per_plain_pass" -> Json.arr(jobsPerPass.map(_.toString).toSeq),
      "gen_s" -> Json.num(genS), "measured_s" -> Json.num(measuredS),
      "check_s" -> Json.num(checkS),
      "load_sentinel_ms_before" -> Json.num(sentinelBefore),
      "load_sentinel_ms_after" -> Json.num(sentinelAfter),
      "host_drift" -> Json.num(sentinelAfter / sentinelBefore - 1.0),
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "failures" -> Json.arr(out.notes.map(Json.str).toSeq)) ++ w.inputFacts
    val spansFile = dir.resolve("spans.json")
    if (trace) Main.write(spansFile, tracer.toJson)
    Json.obj(facts ++ Seq(
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> (if (trace) Json.str(spansFile.toString) else "null")))
  }

  private def counterMetrics(c: Counters, tracer: Tracer, wallMs: Double,
      cpus: Int): Map[String, Double] = {
    val ccSpans = tracer.spans.filter(_.name == "ops.cc").map(s => s"span:${s.id}").toSet
    val planMs = c.analysisMs + c.optimizationMs + c.physicalMs
    val b = c.batches.toSeq
    def bsum(k: String) = b.map(_.getOrElse(k, 0L)).sum.toDouble
    Map(
      "plan.analysis_ms" -> c.analysisMs, "plan.optimization_ms" -> c.optimizationMs,
      "plan.physical_ms" -> c.physicalMs, "plan.share" -> planMs / wallMs,
      "sched.jobs" -> c.jobs.toDouble, "sched.stages" -> c.stages.toDouble,
      "sched.tasks" -> c.tasks.toDouble, "sched.driver_gap_ms" -> c.driverGapMs,
      "exec.run_ms" -> c.runMs, "exec.cpu_ms" -> c.cpuMs,
      "exec.busy_share" -> c.runMs / (wallMs * cpus),
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.fetch_wait_ms" -> c.fetchWaitMs,
      "spill.disk_bytes" -> c.spillDisk.toDouble, "spill.memory_bytes" -> c.spillMem.toDouble,
      "gc.ms" -> c.gcMs,
      "ops.cc_jobs" -> c.jobsBySpan.filter(kv => ccSpans.contains(kv._1)).values.sum.toDouble,
      "stream.batches" -> b.size.toDouble,
      "stream.batch_ms_p50" ->
        (if (b.isEmpty) 0.0 else Stats.median(b.map(_.getOrElse("triggerExecution", 0L).toDouble))),
      "stream.add_batch_ms" -> bsum("addBatch"),
      "stream.query_planning_ms" -> bsum("queryPlanning"),
      "stream.wal_commit_ms" -> bsum("walCommit"),
      "stream.jobs_per_batch" -> (if (b.isEmpty) 0.0 else c.streamJobs.toDouble / b.size),
      "stream.state_rows" -> (if (c.batchState.isEmpty) 0.0 else c.batchState.map(_._1).max.toDouble),
      "stream.state_mem_bytes" ->
        (if (c.batchState.isEmpty) 0.0 else c.batchState.map(_._2).max.toDouble))
  }

  /** Fixed-work CPU probe (ms); its drift between runs is the host-load signal. */
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Peak resident set size of this process (Linux `VmHWM`), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
}

/** Per-layer metric names, in output order. */
object Layers {
  /** Operation names the workloads time → the per-layer metric of their p50. */
  val opMetric: Seq[(String, String)] = Seq(
    "ref.hand_nb" -> "ref.hand_nb_ms", "ops.exact_dup" -> "ops.exact_dup_ms",
    "ops.near_dup_pairs" -> "ops.near_dup_pairs_ms", "ops.cc" -> "ops.cc_ms",
    "ops.quality" -> "ops.quality_ms", "sources.sink_write" -> "sources.sink_write_ms")

  val all: Seq[String] = Seq(
    "call_ms_p50", "call_ms_p90", "peak_rss_mb", "api.session_ms", "api.install_ms",
    "sources.scan_ms", "sources.scan_rows", "sources.sink_write_ms", "sources.sink_bytes",
    "text.parse_ms", "text.clean_ms", "text.tokenize_ms",
    "ml.hashing_tf_ms", "ml.idf_fit_ms", "ml.nb_fit_ms", "ml.svc_fit_ms",
    "ml.transform_ms", "ml.metrics_ms",
    "ref.hand_nb_ms",
    "ops.exact_dup_ms", "ops.minhash_ms", "ops.near_dup_pairs_ms", "ops.cc_ms", "ops.cc_jobs",
    "ops.deduped_corpus_ms", "ops.quality_ms", "ops.curate_ms",
    "ops.candidate_pairs", "ops.verified_pairs", "ops.pair_yield",
    "ops.bm25_ms", "ops.cosine_topk_ms", "ops.int8_topk_ms", "ops.topk_per_group_ms",
    "ops.text_stats_ms", "ops.relational_ms",
    "storage.peak_cached_bytes", "storage.cached_rdds_after", "storage.cache_entries_after",
    "storage.tmp_dirs_after",
    "plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms", "plan.share",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_gap_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.busy_share",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.disk_bytes", "spill.memory_bytes", "gc.ms",
    "stream.batches", "stream.batch_ms_p50", "stream.add_batch_ms",
    "stream.query_planning_ms", "stream.wal_commit_ms", "stream.jobs_per_batch",
    "stream.state_rows", "stream.state_mem_bytes",
    "trace.overhead_share")
}
