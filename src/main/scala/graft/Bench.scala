package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main. Each registry query runs once cold, then 2-5 warm
  * samples (sampled until the two fastest agree within 20%; warm = the
  * min, `contaminated` flagged when agreement is never reached),
  * with `spark.catalog.clearCache()` between runs and between queries, so
  * (a) a query's own persists never pollute a later query's timing, (b) the
  * warm number isolates JIT/page-cache effects from real plan cost, and
  * (c) a single ambient-load spike on the host cannot set a query's warm
  * time (it contaminated the round-5 and round-6 sweeps). Queries execute
  * in sorted-name order (stable across rounds; the old Map-hash order
  * changed whenever a query was added, confounding round-over-round
  * comparison).
  *
  * Output: the FULL per-query JSON (cold + warm, all queries) goes to
  * BENCH_FULL.json next to the repo root (BENCH_SCOPED.json when a
  * SPARK_GRAFT_BENCH_ONLY prefix filter is active, so a partial sweep can
  * never masquerade as a full one) — a single stdout line was
  * truncated past 4 KB by capture tooling, silently dropping ~40% of the
  * timings in round 2. Stdout keeps one SHORT line: the total, a headline
  * subset of per-query warm times, and the path to the full file.
  *
  * A fixed-work load sentinel runs between entries; entries whose adjacent
  * sentinel ran >2x the session median are flagged `contaminated` — the
  * defense against sustained uniform host load, which per-query sample
  * agreement cannot see (see `sentinelOnce`). */
object Bench {
  /** Stable cross-round comparison set: the flagship pipelines plus every
    * query that regressed >2x in round 2 (sim3/t1/t2/set1/d1/s7), plus the
    * round-5 headliners (q21 window decorrelation, int8 ANN, dedup
    * endgame). Existing keys never change — only appended. */
  private val Headline = Seq(
    "q1_pricing_summary", "q5_local_supplier_revenue", "m1_ml_naive_bayes",
    "m3_ml_linear_svc", "s7_metrics_sink", "d1_exact_dedup",
    "d6_ngram_jaccard_blocked", "d7_embedding_neardup", "sim1_ann_bruteforce_topk",
    "sim3_lsh_ann_topk", "t1_explode_tokens", "t2_tokenize_ws_runs",
    "set1_intersect_except", "st4_stream_dedup", "x1_topk_custom_strategy",
    "q21_waiting_suppliers", "sim5_int8_quantized_topk", "d10_deduped_corpus",
    "ret1_bm25_topk", "pipe1_pretrain_report", "pr1_pagerank_suppliers",
    // round-11 headliners: the bucketed-MMR scale fix, the native-expression
    // Hilbert layout, and the QL retrieval probe
    "mmr2_diverse_topk_bucketed", "zo2_hilbert_layout", "ret4_query_likelihood_topk",
    // round-11 late-pass headliners: the asymmetric-containment dedup face
    // and the exact-integer power iteration
    "d20_containment", "emb5_power_iteration",
    // round-12 session headliners: the one-scan isotropy fold, the capped
    // FS blocking and the prefix-sum budget cut
    "emb7_isotropy", "d24_record_linkage", "sel2_budget_select",
    // round-13 headliners: the lazy-graph rework's poster children, the
    // checkpointed peel, and the new repetition family
    "ppr1_personalized_pagerank", "kcore1_supplier_core",
    "dq9_repetition_audit", "st28_stream_repetition",
    // round-13 second-session headliners: soft dedup (cluster loop +
    // corpus join), the shingle-df novelty scan, and the monoid OHLC twin
    "d25_soft_dedup_weights", "t23_ngram_novelty", "st29_stream_ohlc")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.api.GraftSession.envCpus
    val spark = graft.api.GraftSession.local(cpus).getOrCreate()
    // ERROR, not WARN: streaming micro-batches emit per-batch WARN lines
    // (ResolveWriteToStream / MicroBatchExecution) that flooded the driver's
    // bounded output capture in round 3 and pushed the bench JSON line out of
    // the window it keeps. log4j2.properties quiets pre-context logging too.
    spark.sparkContext.setLogLevel("ERROR")
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    // SPARK_GRAFT_BENCH_ONLY: comma-separated name prefixes for scoped
    // sweeps (e.g. the sf1 heavy-family scale smoke); default all.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))

    // Load sentinel (round-8 advice): a fixed ~100 ms pure-CPU probe run
    // before every entry and once after the last. Agreement-of-the-two-
    // fastest warm samples can only detect load that DISAGREES between
    // samples — a sustained uniform slowdown (r8's pr1: 14.2 s in the
    // sweep vs 4.0 s at sf1 on 10x the data) slows every sample equally
    // and sails through the 20% band. The sentinel's work is constant, so
    // its time IS the ambient-load signal: an entry whose before- or
    // after-sentinel exceeds 2x the session median is flagged
    // `contaminated` even when its own samples agree.
    def sentinelProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 192000000L, 1L, cpus)
        .selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // MIN of two probes (round 9): a single probe fired right after a
    // heavy query's teardown inherits its GC/JIT aftermath and false-
    // flags the neighbors — 10 of 49 entries in an exclusive-host sf1
    // sweep carried the flag with a 0.1 s session median. Sustained host
    // load slows BOTH probes (the signal we want); a one-off GC hiccup
    // slows only the first (noise the min discards).
    def sentinelOnce(): Double = math.min(sentinelProbe(), sentinelProbe())
    // Warm until the probe is JIT-STABLE, not just once: the first
    // entry (alphabetically chunk1) was false-flagged `contaminated` in
    // two exclusive-host sf1 sweeps because its before-sentinel still
    // carried codegen/JIT startup — both probes of the min-of-two are
    // uniformly slow while the JIT settles, which is exactly the
    // signature the flag looks for. Stop when two consecutive probes
    // agree within 20% (cap 10).
    locally {
      var prev = sentinelProbe()
      var tries = 0
      var stable = false
      while (!stable && tries < 10) {
        val cur = sentinelProbe()
        stable = math.abs(cur - prev) / math.max(cur, prev) < 0.2
        prev = cur
        tries += 1
      }
    }
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // between-run cleanup: clearCache() alone left localCheckpoint blocks
    // pinned (Spark never GC-frees them), and over a 336-query sweep the
    // accumulated blocks degraded late entries — the round-12 driver sweep
    // recorded physically-implausible warm ≫ cold numbers on d3/pr1/bfs1
    // (47.8 s warm vs 3.7 s cold) that the CPU-only sentinel could not see
    def sweepBlocks(): Unit = graft.ops.Pinned.releaseAll(spark)
    // Load-robust sampling (rounds 5-7 all showed driver sweeps with
    // ambient host load poisoning individual samples — e.g. r7's d6
    // charged 27.8 s warm with spread 121.9 s vs 2.4 s isolated). Cold
    // is inherently a one-shot (first execution carries codegen + JIT
    // and cannot be re-achieved in-JVM), so it stays a single sample.
    // Warm samples until the two FASTEST samples agree within 20%
    // (min 2, cap 5 samples): under purely additive load noise the
    // minimum is the defensible estimator — a spike can only slow a
    // run down, never speed it up — so warm = min(samples) always, and
    // agreement-of-the-two-fastest is the evidence the min itself is
    // clean. If the cap is hit without agreement the entry is flagged
    // `contaminated` so the artifact carries the verdict instead of a
    // silently-shaped number. `spread` (max-min) and `n_warm` make the
    // sampling visible per entry; the top-level `method` field names
    // the estimator so cross-round totals aren't compared blindly
    // (rounds ≤6 used a single warm sample, round 7 min-of-2/median-3).
    val MaxWarmSamples = 5
    // returns (warm, spread, nWarm, unsettled); warm = -1.0 on crash
    def sampleWarm(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Int, Boolean) = {
      val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
      var crashed = false
      var settled = false
      while (!crashed && !settled && samples.size < MaxWarmSamples) {
        val w = runOnce(fn); sweepBlocks()
        if (w < 0) crashed = true
        else {
          samples += w
          if (samples.size >= 2) {
            val s = samples.sorted
            settled = (s(1) - s(0)) <= 0.2 * s(0)
          }
        }
      }
      val warm = if (crashed) -1.0 else samples.min
      val unsettled = !crashed && !settled
      val spread = if (crashed) 0.0 else samples.max - samples.min
      (warm, spread, samples.size, unsettled)
    }
    case class Entry(cold: Double, warm: Double, spread: Double, nWarm: Int,
      unsettled: Boolean, sentinelBefore: Double, retried: Boolean = false)

    val timings = names.map { name =>
      val fn = SparkEntry.queries(name)
      val sentinelBefore = sentinelOnce()
      val cold = runOnce(fn)
      sweepBlocks()
      val (warm, spread, nWarm, unsettled) = sampleWarm(fn)
      name -> Entry(cold, warm, spread, nWarm, unsettled, sentinelBefore)
    }
    val sentinelAfterLast = sentinelOnce()
    // session median over every probe (robust to a minority of spikes)
    val allSentinels =
      (timings.map(_._2.sentinelBefore) :+ sentinelAfterLast).sorted
    val sentinelMedian = allSentinels(allSentinels.size / 2)
    // entry i is load-flagged if the probe before OR after it spiked
    val sentinelAfter = timings.indices.map(i =>
      if (i + 1 < timings.size) timings(i + 1)._2.sentinelBefore else sentinelAfterLast)
    def loadFlagged(i: Int): Boolean =
      sentinelMedian > 0 && (
        timings(i)._2.sentinelBefore > 2 * sentinelMedian ||
          sentinelAfter(i) > 2 * sentinelMedian)

    // Retry passes (round-9 verdict; second deferred round added in
    // round-14): ambient driver-host load is transient — the r9 driver
    // sweep flagged 30/196 entries it could likely have recovered minutes
    // later, and the r13 sweep's single retry round still left 5 flags a
    // later isolated run cleared easily. Up to TWO retry rounds per
    // flagged entry at sweep end; the second round only runs if the first
    // left flags, so by construction the re-attempt happens minutes after
    // the original spike. Each retry is bracketed by its own sentinel
    // probes judged against the ORIGINAL session median (the cleanest
    // load reference available): if it settles AND both brackets are
    // quiet, its warm/spread/n_warm replace the prior pass's and the flag
    // clears, with "retried": true recording the provenance. Otherwise
    // the original flagged numbers stand — same honesty guarantees, cold
    // is never retried (one-shot by nature).
    // warm ≫ cold is physically implausible for a clean measurement (warm
    // re-runs the identical plan with JIT + page cache already paid), so
    // it flags the entry for the same end-of-sweep retry — the round-12
    // driver sweep recorded d3 at 47.8 s warm vs 3.7 s cold with quiet
    // sentinels, a harness artifact no sample-agreement rule could see.
    // cold > 0.5 s guards sub-second noise ratios.
    def warmImplausible(cold: Double, warm: Double): Boolean =
      cold > 0.5 && warm > 2 * cold
    def retryPass(entries: Seq[(String, Entry, Boolean)]): Seq[(String, Entry, Boolean)] =
      entries.map { case (name, e, flagged) =>
        if (!flagged || e.warm < 0) (name, e, flagged)
        else {
          val sb = sentinelOnce()
          val (w2, sp2, n2, uns2) = sampleWarm(SparkEntry.queries(name))
          val sa = sentinelOnce()
          val quiet = sentinelMedian > 0 &&
            sb <= 2 * sentinelMedian && sa <= 2 * sentinelMedian
          if (w2 >= 0 && !uns2 && quiet && !warmImplausible(e.cold, w2))
            (name, e.copy(warm = w2, spread = sp2, nWarm = n2, unsettled = false,
              sentinelBefore = sb, retried = true), false)
          else (name, e, true)
        }
      }
    val firstFlags = timings.zipWithIndex.map { case ((name, e), i) =>
      (name, e, e.unsettled || loadFlagged(i) || warmImplausible(e.cold, e.warm))
    }
    val afterFirstRetry = retryPass(firstFlags)
    val finalEntries =
      if (afterFirstRetry.exists(_._3)) retryPass(afterFirstRetry)
      else afterFirstRetry

    val totalWarm = finalEntries.map { case (_, e, _) => math.max(e.warm, 0.0) }.sum
    val totalCold = finalEntries.map { case (_, e, _) => math.max(e.cold, 0.0) }.sum
    val method = "warm = min over 2-5 samples, sampled until the two fastest " +
      "agree within 20%; contaminated = agreement never reached (cap hit) OR " +
      "an adjacent fixed-work load sentinel (min of 2 probes, so one-off GC " +
      "aftermath is discarded) ran >2x the session median OR warm > 2x cold " +
      "with cold > 0.5s (physically implausible measurement); flagged " +
      "entries get up to TWO end-of-sweep retry rounds (retried=true; the " +
      "second round runs only if the first left flags, minutes after the " +
      "original spike) that clear the flag only if the retry settles " +
      "between quiet sentinel brackets and is not itself warm-implausible; " +
      "pinned storage blocks (incl. checkpoint blocks clearCache cannot " +
      "free) are swept between runs"
    val onlyJson = only.map(_.map(p => s""""$p"""").mkString("[", ",", "]"))
      .getOrElse("null")

    val fullJson = finalEntries
      .map { case (n, e, cont) =>
        s"""    "$n": {"cold": ${f(e.cold)}, "warm": ${f(e.warm)}, "spread": ${f(e.spread)}, "n_warm": ${e.nWarm}, "contaminated": $cont, "unsettled": ${e.unsettled}, "retried": ${e.retried}, "sentinel_before": ${f(e.sentinelBefore)}}""" }
      .mkString(
        s"""{\n  "sf": "$sfDir",\n  "unit": "sec",\n  "method": "$method",\n  "only": $onlyJson,\n  "sentinel_median": ${f(sentinelMedian)},\n  "total_cold": ${f(totalCold)},\n  "total_warm": ${f(totalWarm)},\n  "queries": {\n""",
        ",\n",
        "\n  }\n}\n")
    // Anchor next to build.sbt (walking up from the CWD), not at the bare
    // CWD: running Bench from a subdirectory used to drop the file there.
    // SPARK_GRAFT_BENCH_OUT overrides for harnesses that want it elsewhere.
    val repoRoot = Iterator
      .iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => Files.exists(p.resolve("build.sbt")))
      .getOrElse(Paths.get("").toAbsolutePath)
    // a prefix-scoped sweep writes to its own file — its 'total' covers
    // only the subset, and overwriting BENCH_FULL.json made a partial
    // sweep's artifact indistinguishable from a full one (round-8 advice)
    val defaultName = if (only.isDefined) "BENCH_SCOPED.json" else "BENCH_FULL.json"
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(Paths.get(_).toAbsolutePath)
      .getOrElse(repoRoot.resolve(defaultName))
    Files.writeString(fullPath, fullJson)

    val warmByName = finalEntries.map { case (n, e, _) => n -> e.warm }.toMap
    val qs = Headline.flatMap(n => warmByName.get(n).map(w => s"\"$n\":${f(w)}"))
      .mkString("{", ",", "}")
    // crashed queries are clamped OUT of the totals (a crash must not read
    // as a speedup), so they have to be loud on the stdout line instead
    val failed = finalEntries
      .collect { case (n, e, _) if e.cold < 0 || e.warm < 0 => s"\"$n\"" }
      .mkString("[", ",", "]")
    val contaminatedNames = finalEntries
      .collect { case (n, _, cont) if cont => s"\"$n\"" }
      .mkString("[", ",", "]")
    // Stop Spark BEFORE printing the metric line so no executor/streaming
    // thread can log after it — the JSON line must be the last output.
    spark.stop()
    println(s"""{"metric":"total","value":${f(totalWarm)},"unit":"sec","queries":$qs,"failed":$failed,"contaminated":$contaminatedNames,"queries_file":"$fullPath","sf":"$sfDir"}""")
    System.out.flush()
  }
}
