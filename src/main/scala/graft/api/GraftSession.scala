package graft.api

import org.apache.spark.sql.SparkSession

/** Deployment sizing contract, as code. The scale octaves measured this
  * repo's one genuinely deployment-owned knob: with the plans fixed, the
  * wall at a new octave is decided by partition volume vs executor heap
  * (sf10: the heavy dedup family was GC/spill-bound at 256 MB heap/core
  * and recovered its memory-sized wall at 1.5 GB/core — see
  * scale/BENCH_sf10_heavy.json), and by shuffle partition count tracking
  * input bytes (a fixed 32 is right at sf0.1 and starves a 100 TB run).
  * `sizedConfs` encodes those rules so a deployment states its inputs
  * (bytes, cores, heap) instead of guessing confs.
  *
  * Rules:
  *  - `spark.sql.files.maxPartitionBytes` stays 128 MiB (the scan-side
  *    granule; raising it trades task count for per-task heap).
  *  - `spark.sql.shuffle.partitions` = max(2·cores, inputBytes / 128 MiB)
  *    rounded UP to a multiple of cores — every wave full, partitions
  *    sized so one partition's working set fits the per-core heap rule
  *    below. AQE coalesces small exchanges back down at runtime, so
  *    over-provisioning here is cheap; under-provisioning spills.
  *  - per-core heap must be ≥ 4× the partition granule (≥ 512 MiB/core):
  *    hash aggregates and joins hold a few partitions' working sets at
  *    once; below this the sort/agg spill threshold dominates wall time.
  *  - AQE + skew-join splitting explicit (they are the runtime half of
  *    every static sizing decision above).
  *  - 64 MiB broadcast threshold: model/dimension tables broadcast, fact
  *    edges shuffle.
  *  - `spark.sql.extensions=graft.GraftExtensions` wires the engine's
  *    native functions, optimizer rules, and the TopK strategy.
  */
object GraftSession {

  val PartitionGranuleBytes: Long = 128L * 1024 * 1024
  val MinHeapPerCoreBytes: Long = 4L * PartitionGranuleBytes

  /** The conf set for a given deployment. Pure function — unit-tested. */
  def sizedConfs(inputBytes: Long, cores: Int, executorMemBytes: Long): Map[String, String] = {
    require(cores > 0, "cores must be positive")
    val byVolume = (inputBytes + PartitionGranuleBytes - 1) / PartitionGranuleBytes
    val floor = 2L * cores
    val raw = math.max(floor, byVolume)
    val shuffle = ((raw + cores - 1) / cores) * cores // next multiple of cores
    Map(
      "spark.sql.shuffle.partitions" -> shuffle.toString,
      "spark.sql.files.maxPartitionBytes" -> PartitionGranuleBytes.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
    )
  }

  /** Minimum executor memory for `cores` under the per-core heap rule. */
  def recommendedExecutorMemBytes(cores: Int): Long = cores * MinHeapPerCoreBytes

  /** True when the deployment satisfies the spill-avoidance heap rule
    * (the sf10 lesson — callers should treat false as a misconfiguration,
    * not a tuning preference). */
  def heapRuleSatisfied(cores: Int, executorMemBytes: Long): Boolean =
    executorMemBytes >= recommendedExecutorMemBytes(cores)

  /** A builder pre-loaded with the sized confs. The caller still picks
    * master/deploy specifics. */
  def builder(inputBytes: Long, cores: Int, executorMemBytes: Long): SparkSession.Builder =
    withConfs(sizedConfs(inputBytes, cores, executorMemBytes))

  /** Core count of the harness mains' local sessions: `SPARK_GRAFT_CPUS`,
    * default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The conf set of a single-JVM session on `cpus` cores. Pure function —
    * unit-tested.
    *  - one shuffle partition per core;
    *  - UTC: the events fixture's TIMESTAMP_NTZ ts normalizes through a
    *    session-timezone-dependent cast (`Tables.normalizeEventTs`), so
    *    every harness and test must run the same plan;
    *  - `canChangeCachedPlanOutputPartitioning` lets AQE re-optimize plan
    *    fragments UNDER cached frames, so a persisted intermediate
    *    (banded-candidate caches, iterative CC/epoch loops) materializes
    *    at data-sized partition counts instead of inheriting the static
    *    shuffle partitions. Spark leaves it off only for cross-query
    *    cached-layout stability, which no graft query relies on (every
    *    layout-sensitive golden pins its layout with an explicit
    *    repartition(n, key), which AQE never rewrites). Measured at sf0.1
    *    (round 16): d5 2.60→1.80 s, mm8 4.16→3.12 s, d22 4.37→3.09 s,
    *    m7c 3.90→3.32 s; oracle 367/367 under the flag;
    *  - the engine extensions, so the oracle, the tests and the bench
    *    certify and time the optimizer rules and TopK strategy a
    *    `builder` deployment runs. */
  def localConfs(cpus: Int): Map[String, String] = {
    require(cpus > 0, "cpus must be positive")
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
    )
  }

  /** The one builder of local sessions: Bench, Verify, RefBench, GenScale
    * and the test session. */
  def local(cpus: Int): SparkSession.Builder = withConfs(localConfs(cpus))

  private def withConfs(confs: Map[String, String]): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
}
