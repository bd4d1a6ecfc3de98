package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The DISTRIBUTED PREFIX-SUM / GLOBAL-RANK idiom, factored once.
  *
  * A global `row_number()` / cumulative sum over an unbounded frame is
  * the classic Spark scale-killer: `Window.orderBy(...)` with no
  * partition key funnels every row through ONE task. The scalable shape
  * (used by voc2's coverage curve, pack2's token offsets, cur1's
  * curriculum positions and eval2's AUC prefix — formerly four
  * hand-rolled copies) is:
  *
  *   1. `repartitionByRange(orderCols)` — partitions become contiguous
  *      runs of the global order (range exchange, fully parallel);
  *   2. `localCheckpoint` (lazy since round 17 — the offsets pass is the
  *      materializing action) — range partitioning SAMPLES its
  *      boundaries with an RDD-id-derived seed, so the offsets pass and
  *      the rank pass MUST see the same physical partitioning, which
  *      only a materialized snapshot guarantees (checkpoint blocks are
  *      freed by the ContextCleaner on GC — no session-lifetime cache
  *      leak for library callers); the input itself is pinned across the
  *      sampling + shuffle passes so the upstream pipeline computes once;
  *   3. collect the per-partition (row count, Σ sumCol) totals — ONE ROW
  *      PER SHUFFLE PARTITION crosses the driver, a justified small
  *      collect at any corpus size;
  *   4. turn them into exclusive offsets, broadcast back, and add to a
  *      pid-partitioned local window — every Window node stays
  *      partitioned (PlanShapeSpec pins `Window [...], [pid]` and
  *      rejects `SinglePartition` exchanges for voc2).
  */
object PrefixSum {

  /** `df` = the input columns plus `g_rank` (1-based global rank over
    * `orderCols`) and — when `sumCol` is set — `g_cum_excl` (exclusive
    * global prefix sum of it). `nRows` / `sumTotal` are the grand
    * totals, free from the offsets pass (so callers like voc2 never
    * re-scan for the divisor). */
  final case class Ranked(df: DataFrame, nRows: Long, sumTotal: Long)

  /** Rank `frame` globally by `orderCols`; optionally carry the
    * exclusive prefix sum of long column `sumCol`. Internal working
    * columns (`pid`, `lrank`, `lcum_excl`, `rank_off`, `cum_off`) are
    * dropped from the result — input columns must not collide with the
    * two OUTPUT names `g_rank` / `g_cum_excl`.
    *
    * `pinInput` (round-17, guide §2.4 / §5): `repartitionByRange`
    * evaluates its input TWICE — RangePartitioner first runs a sampling
    * pass over the full input to pick boundaries, then the shuffle pass
    * computes it again. Callers whose input embeds an expensive upstream
    * (the NB scoring chain behind eval2/13/14, pipe3's curated corpus)
    * set pinInput = true so the chain computes once into a cache both
    * passes read; the pin is dropped in-function, right after the
    * offsets action materializes the checkpoint. Callers with a cheap
    * map-side input (voc2's vocab aggregate, pack2's length projection,
    * cur1/sel2/e12/st22) keep the default false: the sf0.1 A/B
    * (plans/r17/scoped_after{1,2}.json) measured the columnar cache
    * write of those frames COSTING more than the second codegen'd
    * derivation (voc2 1.26×, cur1 1.17× with an unconditional pin),
    * while the pinned eval family dropped 15-30%.
    *
    * A `frame` the caller has already cached is read from that cache and
    * left alone: `unpersist` matches plans in the CacheManager, so
    * pinning and dropping an identical plan would silently drop the
    * caller's entry too. Only a pin this call made is released. */
  private[graft] def prefixRank(frame: DataFrame, orderCols: Seq[Column],
      sumCol: Option[String] = None, pinInput: Boolean = false): Ranked = {
    val pinHere = pinInput && frame.storageLevel == StorageLevel.NONE
    if (pinHere) frame.persist(StorageLevel.MEMORY_AND_DISK)
    // LAZY checkpoint (round-17): the offsets collect below is the first
    // action — its groupBy exchange computes every partition of `ranged`
    // map-side and stores the checkpoint blocks in the same job wave, so
    // the old eager materialization was a separate driver action spent
    // computing exactly what the offsets pass recomputes. The snapshot
    // guarantee is unchanged: the range exchange (and its boundary
    // sampling) executes once, inside the offsets action; the rank pass
    // reads the stored blocks and can never re-sample.
    val ranged = frame.repartitionByRange(orderCols: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(false)
    val aggCols = Seq(count(lit(1)).as("pn")) ++ sumCol.map(c => sum(col(c)).as("pc"))
    val totals = ranged.groupBy("pid").agg(aggCols.head, aggCols.drop(1): _*)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), if (sumCol.isDefined) r.getLong(2) else 0L))
      .sortBy(_._1)
    // the offsets action above materialized the checkpoint; the input pin
    // has served its one purpose (boundary sampling + shuffle read the
    // computed-once input) and is dropped before returning
    if (pinHere) frame.unpersist(blocking = false)
    var accN = 0L
    var accC = 0L
    val offs = totals.map { case (pid, pn, pc) =>
      val o = (pid, accN, accC); accN += pn; accC += pc; o
    }.toSeq
    val sp = frame.sparkSession
    import sp.implicits._
    val offDf = offs.toDF("pid", "rank_off", "cum_off")
    val localW = Window.partitionBy("pid").orderBy(orderCols: _*)
    val local = sumCol.foldLeft(
      ranged.withColumn("lrank", row_number().over(localW))) { (df, c) =>
      df.withColumn("lcum_excl", coalesce(
        sum(col(c)).over(localW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    }
    val joined = local.join(broadcast(offDf), Seq("pid"))
      .withColumn("g_rank", (col("rank_off") + col("lrank")).cast("long"))
    val out = sumCol.foldLeft(joined) { (df, _) =>
      df.withColumn("g_cum_excl", col("cum_off") + col("lcum_excl"))
    }.drop("pid", "lrank", "lcum_excl", "rank_off", "cum_off")
    Ranked(out, accN, accC)
  }
}
