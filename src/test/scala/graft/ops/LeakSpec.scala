package graft.ops

import graft.SparkSpec

/** Persist-hygiene gate (round-13): a library caller must never inherit
  * unbounded pinned storage from a graft call. Two leak classes exist:
  *
  *  - an EXPLICIT `.persist()` whose frame escapes the call — the
  *    CacheManager holds it strongly, so it survives GC and stays
  *    registered forever (the round-12 `pageRankOf` defect);
  *  - checkpoint blocks — Spark never GC-frees `localCheckpoint`
  *    storage in-process (the round-13 probe: even a dropped,
  *    fully-consumed checkpointed frame stays in `getPersistentRDDs`
  *    indefinitely, and `clearCache()` cannot see it), so loops must
  *    free superseded rounds via [[Pinned.checkpoint]] handles, and at
  *    most a BOUNDED number of pins may remain per call (the blocks
  *    backing the returned frame itself), released deterministically by
  *    [[Pinned.releaseAll]] / `GraftApi.releasePinned`.
  *
  * The test drives each entry exactly like a caller (build, count, drop
  * the reference) and asserts, deterministically and with no GC games:
  *  1. the CacheManager is EMPTY — no explicit persist escaped;
  *  2. remaining pinned RDDs are BOUNDED (≤ MaxResultPins — result-
  *     backing blocks, not per-round accumulation);
  *  3. `releasePinned` drains the session to zero.
  */
class LeakSpec extends SparkSpec {

  /** Entries whose implementations pin storage internally — the round-12
    * flag list, their cousins, and every iterative-loop family. */
  private val Covered = Seq(
    "pr1_pagerank_suppliers",     // pageRankOf (the round-12 leak; now lazy)
    "ppr1_personalized_pagerank", // personalizedPageRankOf (now lazy)
    "pr2_hits_authorities",       // hitsOf (now lazy, in-plan renorm)
    "bfs1_seed_distance",         // bfsLevelsOf (now lazy)
    "lp1_label_propagation",      // labelPropagationOf (now lazy)
    "tc1_triangle_count",         // triangleCountsOf (lazy)
    "lcc1_clustering_coefficient",
    "gr1_modularity",
    "gr2_assortativity",
    "gr3_transitivity",
    "kcore1_supplier_core",       // per-round Pinned, superseded rounds freed
    "d5_simhash_pairs",           // bandedCandidates (1 result pin)
    "d7_embedding_neardup",       // d7Population persist + 1 result pin
    "d8_dedup_clusters",          // dedupClustersOf loop (1 result pin)
    "d10_deduped_corpus",
    "d12_semantic_dedup_corpus",
    "d18_cc_largestar",           // large-star/small-star loop, rounds freed
    "mm8_phash_neardup",          // shared bandedCandidates path
    "m1_ml_naive_bayes",          // fitScore: collect-based, zero pins
    "m3_ml_linear_svc",
    "lsh1_ml_minhash_join",       // 1 result pin
    "lsh2_ml_brp_knn",            // collect-based, zero pins
    "bpe2_merge_induction",            // per-merge Pinned, all freed (driver result)
    "m7c_svm_corrected_epochs",   // per-epoch persist + unpersist-prev
    // remaining persist/checkpoint families: each may keep result-backing
    // pins but must stay bounded, CacheManager-clean and releasable
    "cl1_kmeans_clusters",        // centroid-loop persist + final checkpoint
    "cur1_curriculum_order",      // quartile histogram checkpoint
    "sim10_ivfpq_topk",           // PQ codebook collects + cell frames
    "mmr2_diverse_topk_bucketed", // candidate checkpoint
    "apx7_kmv_set_ops",           // sketch checkpoint (3 consumers)
    "d11_edit_distance_pairs",    // block-key checkpoint + pinned exchanges
    "d17_ppjoin_pairs",           // perDoc prefix checkpoint
    "d19_winnowing_decontamination", // fingerprint index checkpoint
    "sel2_budget_select",         // distributed prefix-sum partition offsets
    "w1_running_revenue",         // prefix-sum window path
    "mix3_unimax_alloc",          // water-filling (source-domain windows)
    "dq9_repetition_audit",       // new round-13 op — plain aggregates
    "t22_kneser_ney",             // four vocab-domain model aggregates
    "d25_soft_dedup_weights",     // dedupClustersOf loop (1 result pin)
    "d26_leakage_safe_split",     // same cluster loop under the split
    "pipe3_curated_corpus"        // cluster loop + PrefixSum checkpoint (round-14)
  )

  /** Result-backing pins allowed per call: a handful of ops legitimately
    * return a frame backed by materialized checkpoint blocks (iterative
    * results that cannot be re-derived lazily). What is NOT allowed is
    * per-round/per-batch accumulation — that shows up as counts well
    * above this bound. */
  private val MaxResultPins = 3

  for (name <- Covered)
    test(s"$name pins only bounded result-backing storage") {
      val sc = spark.sparkContext
      Pinned.releaseAll(spark) // clean slate (earlier suites share the session)
      locally {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        assert(df.count() >= 0)
      }
      assert(org.apache.spark.sql.GraftCacheProbe.cacheManagerEmpty(spark),
        s"$name left an explicit persist registered in the CacheManager")
      val pinned = sc.getPersistentRDDs
      assert(pinned.size <= MaxResultPins,
        s"$name left ${pinned.size} pinned RDDs (max $MaxResultPins): " +
          pinned.values.take(8).map(_.toString))
      Pinned.releaseAll(spark)
      assert(sc.getPersistentRDDs.isEmpty,
        s"releasePinned failed to drain after $name")
    }

  test("prefixRank(pinInput = true) leaves a caller's cache entry on its input in place") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    Pinned.releaseAll(spark)
    def input = spark.range(0, 500).selectExpr("id", "id % 7 AS v")
    def ranks(r: PrefixSum.Ranked) =
      r.df.select("id", "g_rank", "g_cum_excl").orderBy("id").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    val order = Seq(col("v"), col("id"))
    val want = ranks(PrefixSum.prefixRank(input, order, Some("v")))
    val cached = input.persist(StorageLevel.MEMORY_ONLY)
    try {
      cached.count()
      val got = ranks(PrefixSum.prefixRank(cached, order, Some("v"), pinInput = true))
      assert(cached.storageLevel === StorageLevel.MEMORY_ONLY,
        "prefixRank dropped the caller's cache entry on its input")
      assert(got === want, "pinning must not change the ranks")
      // an uncached input is still pinned for the call and released in it
      val other = spark.range(0, 300).selectExpr("id", "id % 3 AS v")
      PrefixSum.prefixRank(other, order, Some("v"), pinInput = true).df.count()
      assert(other.storageLevel === StorageLevel.NONE, "prefixRank left its own pin behind")
    } finally Pinned.releaseAll(spark)
  }
}
