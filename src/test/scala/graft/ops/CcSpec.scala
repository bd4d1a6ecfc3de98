package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** d18 (large-star/small-star CC): the oracle gate proves Spark≡DuckDB on
  * the fixture graph; these pin the ALGORITHMIC claims — logarithmic
  * convergence on a long path (the topology d8's diameter-bounded label
  * propagation cannot finish within its round cap) and exact agreement
  * with d8 where both apply. */
class CcSpec extends SparkSpec {

  import spark.implicits._

  test("d18 collapses a 64-node path in <= 16 rounds (diameter 63)") {
    // a chain 0-1-2-...-63: min-label propagation moves the label one hop
    // per round (63 rounds needed, d8 caps at 20); large-star/small-star
    // halves root-paths per round pair.
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.ccLargeStarSmallStar(path).collect()
    assert(out.length === 64)
    assert(out.forall(_.getLong(1) == 0L), "every node labels to the chain minimum")
    assert(out.forall(_.getLong(2) == 64L), "one component of 64 members")
  }

  test("d18 separates two components and matches exact membership") {
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val out = Dedup.ccLargeStarSmallStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L),
      (20L, 20L, 2L), (21L, 20L, 2L)))
  }

  test("d18 equals d8 row-for-row on the fixture near-dup graph") {
    val a = Dedup.d18(spark, sfDir).collect().map(_.toSeq).toSeq
    val b = Dedup.d8(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("d18 on an empty pair list returns an empty cluster frame") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.ccLargeStarSmallStar(empty).collect().isEmpty)
  }

  test("d8 label propagation on an empty pair list returns an empty cluster frame") {
    // dedupClustersOf keeps its count == 0 pre-probe on the checkpointed
    // edges (fusing it into round 1 measured slower); this pins that fast
    // path: the empty input returns at once, as the empty frame with the
    // full schema
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.dedupClustersOf(empty)
    assert(out.columns.toSeq === Seq("doc_id", "cluster_id", "n_members"))
    assert(out.collect().isEmpty)
  }
}
