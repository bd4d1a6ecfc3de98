package graft.ops

import graft.SparkSpec

/** Scale-guardrail assertions on PHYSICAL PLANS: filters/projections must
  * reach the parquet scan and small dimensions must broadcast — the plan
  * properties that decide whether a query survives a 100× scale-up.
  * A regression here is a performance bug even while results stay correct. */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("S1: predicate pushdown + column pruning reach the parquet scan") {
    val p = plan(Relational.s1(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)]"), p.take(800))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>"), p.take(800))
  }

  test("Q3: dimension side broadcast, no shuffle of the customer table") {
    val p = plan(Relational.q3(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "customer join must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      "mktsegment filter must be pushed to the customer scan")
  }

  test("Q5: all dimension joins broadcast; only the fact edge shuffles") {
    val p = plan(Relational.q5(spark, sfDir))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"expected >=3 broadcast joins, got $bhj")
  }

  test("Q1: aggregate is partial+final (map-side combine) on the fact scan") {
    val p = plan(Relational.q1(spark, sfDir))
    assert(p.contains("HashAggregate"), p.take(400))
    assert(p.contains("partial_"), "must have partial (map-side) aggregation")
  }

  test("J1/model joins broadcast the model side") {
    val p = plan(SentimentNb.j1(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "model probe must be a broadcast join")
  }

  test("W2 top-k per group avoids global sort until after rank filter") {
    val p = plan(Relational.w2(spark, sfDir))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(400))
  }

  test("Q4 EXISTS decorrelates to a semi join, Q22 NOT EXISTS to an anti join") {
    val p4 = plan(Relational.q4(spark, sfDir))
    assert(p4.contains("LeftSemi"), "EXISTS must run as a LEFT SEMI join\n" + p4.take(600))
    val p22 = plan(Relational.q22(spark, sfDir))
    assert(p22.contains("LeftAnti"), "NOT EXISTS must run as a LEFT ANTI join\n" + p22.take(600))
    assert(!p22.contains("CartesianProduct"),
      "the scalar-average must broadcast, never a cartesian shuffle")
  }

  test("Q13 keeps order-less customers through the outer join") {
    val rows = Relational.q13(spark, sfDir).collect()
    val nCust = graft.Tables.customer(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum === nCust,
      "custdist must partition ALL customers, including zero-order ones")
  }

  test("W4 ntile quartiles are balanced within each nation") {
    val rows = Relational.w4(spark, sfDir).collect()
    rows.groupBy(_.getInt(0)).foreach { case (_, qs) =>
      val sizes = qs.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"ntile must balance buckets: ${sizes.toSeq}")
    }
  }

  test("SK2 salted join actually shuffles (hint respected, not broadcast)") {
    val df = graft.ops.Relational.sk2(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("ShuffledHashJoin"),
      "salting is only exercised by a shuffle join — hint must hold\n" + p.take(600))
  }

  test("D7 embedding near-dup candidates come from banded equi-joins, never all-pairs") {
    val p = plan(Dedup.d7(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation must join on the (band, key) column, not enumerate pairs\n" + p.take(800))
  }

  test("SIM2 bucket assignment is a map-side projection (no joins, no explode)") {
    val p = plan(Similarity.queries("sim2_lsh_buckets")(spark, sfDir))
    assert(!p.contains("Join"), "plane dots must be literal-array expressions, not a join\n" + p.take(800))
    assert(!p.contains("Generate"), "no posexplode of vector components\n" + p.take(800))
  }

  test("BF1 bloom probe filters the fact scan BELOW the join") {
    val df = ScaleOps.bf1(spark, sfDir)
    df.collect()
    val p = plan(df)
    val iProbe = p.indexOf("might_contain")
    val iJoin = math.max(p.indexOf("SortMergeJoin"), math.max(
      p.indexOf("ShuffledHashJoin"), p.indexOf("BroadcastHashJoin")))
    assert(iProbe >= 0, "map-side bloom probe must be in the plan\n" + p.take(800))
    assert(iJoin >= 0 && iProbe > iJoin,
      "the probe must sit under the exact join (prune before the exchange)\n" + p.take(1200))
  }

  test("PROF1 profile aggregates partially on the map side (one scan)") {
    val p = plan(ScaleOps.prof1(spark, sfDir))
    assert(p.contains("partial_"), "profile stats must map-side combine\n" + p.take(600))
    assert("FileScan|Scan parquet".r.findAllIn(p).length <= 2,
      "the profile must come from a single pass over documents\n" + p.take(600))
  }

  test("VOC2 coverage curve has no single-partition global window") {
    // Rounds <=7 ranked the vocab with Window.orderBy(...) and no
    // partition key — one task for the whole curve once the vocab is
    // web-scale. The two-pass prefix sum must leave every Window
    // partitioned (by spark_partition_id), so no plan node may carry an
    // empty partition spec: `Window [...], [pid...]` yes,
    // `SinglePartition` window exchange no.
    assertPrefixSumShape(plan(TextAnalysis.voc2(spark, sfDir)))
  }

  test("every PrefixSum.prefixRank consumer keeps a pid-partitioned rank window (cur1, pack2, eval2)") {
    // the four former hand-rolled prefix-sum sites now share one
    // definition (PrefixSum.prefixRank) — this pins that the factoring
    // kept the corpus-sized rank window partitioned by spark_partition_id
    // for the other three consumers. (Unlike voc2's strict check, these
    // plans legitimately contain OTHER unpartitioned pieces: cur1's
    // quartile boundaries window a value-domain-bounded histogram, and
    // eval2's final scalar aggregate funnels 1 row — both by design.)
    Seq(Curation.cur1(spark, sfDir), TextAnalysis.pack2(spark, sfDir),
      SentimentNb.eval2(spark, sfDir)).foreach { df =>
      val p = plan(df)
      val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(winLines.exists(_.contains("pid")),
        "the prefix-sum rank window must be pid-partitioned\n" + winLines.mkString("\n"))
    }
  }

  test("round-11 ops keep their scale shapes (ret4 broadcasts, zo2 join-free index, diff1 one join)") {
    // ret4: the query set, cf, nq and |C| must all broadcast — the corpus
    // is scanned once and the probe never shuffles the small sides
    val p4 = plan(Retrieval.queries("ret4_query_likelihood_topk")(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(p4).length >= 2,
      "query-set/cf/nq sides must broadcast\n" + p4.take(800))
    assert(!p4.contains("CartesianProduct"), "no cartesian in the QL probe")
    // zo2: the Hilbert index is pure projection — the only join is the
    // broadcast 1-row bounds attach; nothing explodes
    val pz = plan(ScaleOps.zo2(spark, sfDir))
    assert(!pz.contains("SortMergeJoin") && !pz.contains("ShuffledHashJoin"),
      "hilbert bucketing must not shuffle-join\n" + pz.take(800))
    assert(!pz.contains("Generate"), "no explode in the index build")
    // diff1: exactly one full-outer join shape, on the key
    val pd = plan(ScaleOps.queries("diff1_snapshot_diff")(spark, sfDir))
    assert(pd.contains("FullOuter"), "snapshot diff is one full-outer key join\n" + pd.take(800))
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"),
      "diff must stay an equi-join\n" + pd.take(800))
  }

  private def assertPrefixSumShape(p: String): Unit = {
    assert(p.contains("Window"), p.take(600))
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty, p.take(600))
    winLines.foreach(l =>
      assert(l.contains("pid"), s"window must be partitioned by pid, got: $l"))
    assert(!p.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      "no exchange may funnel the frame into one partition")
  }

  test("whole-stage codegen covers the text-cleaning chain (no UDFs)") {
    val p = plan(Corpus.tokensNb(spark, sfDir))
    // '*(n)' prefixes mark operators fused into WholeStageCodegen stage n
    assert(p.contains("*(1)"), "clean/tokenize chain must be codegen-fused")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "clean/tokenize chain must stay pure-Catalyst")
  }

  test("T16/T17 quality filters never leave the scan: no joins, no explode, no pre-sort exchange") {
    // the rule batteries are one codegen projection over the corpus scan;
    // a join, generator, or aggregate appearing here means someone broke
    // the closed-form line arithmetic and the op stopped being free at
    // 100 TB (the presentation sort's range exchange is the only allowed
    // exchange)
    Seq(TextAnalysis.t16(spark, sfDir), TextAnalysis.t17(spark, sfDir)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Join"), "quality filter must not join\n" + p.take(600))
      assert(!p.contains("Generate"), "quality filter must not explode\n" + p.take(600))
      assert(!p.contains("HashAggregate"), "quality filter must not aggregate\n" + p.take(600))
      assert(!p.contains("ScalaUDF"), "must stay pure-Catalyst")
      assert("Exchange".r.findAllIn(p).length <= 1,
        "only the presentation sort may exchange\n" + p.take(800))
    }
  }

  test("CL1 Lloyd assignment is join-free; the report exchange carries cluster rows only") {
    val p = plan(Clustering.cl1(spark, sfDir))
    // centroids are plan literals: the only joins allowed are the final
    // k-row centroid_l1 BROADCAST attach — never a shuffled join, never a
    // cartesian against the corpus
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      "corpus-side join leaked into the assignment\n" + p.take(800))
    assert(p.contains("partial_"), "per-cluster report must combine map-side")
  }

  test("CL2 balanced sample routes through TopKPerGroup, not a k-partition window") {
    val p = plan(Clustering.cl2(spark, sfDir))
    assert(p.contains("TopKPartial") && p.contains("TopKFinal"),
      "quota cut must use the bounded-exchange custom operator\n" + p.take(800))
    assert(!p.linesIterator.exists(l => l.contains("Window [")),
      "no window funnel on 8 cluster partitions\n" + p.take(800))
  }

  test("round-11 third-pass shapes: zipf1 TopK cut, af2 one exchange, eval5 no string joins, src3 no aggregate") {
    // zipf1: the top-100 rank cut must ride the bounded-exchange TopK
    // operator, never a vocab-sized per-source window sort before the cut
    val pz = plan(TextAnalysis.zipf1(spark, sfDir))
    assert(pz.contains("TopKPartial") && pz.contains("TopKFinal"),
      "zipf rank cut must use TopKPerGroup\n" + pz.take(800))
    // af2: the interleaved-union nearest as-of is ONE shuffle on the key
    // (both window frames share the sort); no join operator at all
    val pa = plan(AsOf.af2(spark, sfDir))
    assert(!pa.contains("Join"), "af2 must not materialize candidate pairs\n" + pa.take(800))
    // exactly 2 hash exchanges: the (user_id, ts) click-dedup window +
    // the ONE (user_id) as-of sort both window frames share — a naive
    // nearest join would add a third exchange and a Join node
    val exchanges = "Exchange hashpartitioning".r.findAllIn(pa).length
    assert(exchanges == 2, s"af2 wants dedup + one shared as-of exchange, got $exchanges\n" + pa.take(800))
    // eval5: presence-bit folding means no string ever crosses a join
    val pe = plan(Evaluation.eval5(spark, sfDir))
    assert(!pe.contains("Join"), "eval5 is aggregate-only\n" + pe.take(800))
    assert(pe.contains("partial_"), "bigram fold must combine map-side")
    // src3: complete aggregate pushdown leaves NO aggregate node
    val ps = plan(ops_src3(spark))
    assert(ps.contains("aggPushed=lang:count+min+max") && !ps.contains("HashAggregate"),
      "src3 must push the whole aggregation into the source\n" + ps.take(800))
  }

  private def ops_src3(s: org.apache.spark.sql.SparkSession) =
    ScaleOps.queries("src3_agg_pushdown")(s, sfDir)

  test("ninth-pass shapes: t26 join-free, d20 no all-pairs, e11 single event scan") {
    // t26: pure scan -> map-side-combined per-doc aggregate; no joins
    val pt = plan(TextAnalysis.t26(spark, sfDir))
    assert(!pt.contains("Join"), "t26 is aggregate-only\n" + pt.take(800))
    assert(pt.contains("partial_"), "syllable fold must combine map-side")
    // d20: candidates come ONLY off the shingle-equality self-join under
    // the DF cap — any nested-loop/cartesian node means an all-pairs frame
    val pd = plan(Dedup.d20(spark, sfDir))
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"),
      "d20 must never enumerate doc pairs\n" + pd.take(800))
    // e11: both attribution models fold off ONE pass over the grouped
    // conversions — a first/last frame join would scan events twice
    val pe = plan(Events.e11(spark, sfDir))
    val scans = "Scan parquet".r.findAllIn(pe).length
    assert(scans == 1, s"e11 wants one event scan, got $scans\n" + pe.take(800))
    assert(!pe.contains("Join"), "e11 is window + aggregate, no joins\n" + pe.take(800))
  }

  test("tenth-pass shapes: e12 pid-partitioned ranks, t27 top-k without a global sort") {
    // e12: all three global quartile ranks ride PrefixSum — every rank
    // window stays pid-partitioned; no single-partition ntile exists
    val pe = plan(Events.e12(spark, sfDir))
    val winLines = pe.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("pid")),
      "every RFM rank window must be pid-partitioned\n" + winLines.mkString("\n"))
    // t27: per-term stats map-side combine and the top-20 cut is
    // TakeOrderedAndProject, never a full corpus sort
    val pt = plan(TextAnalysis.t27(spark, sfDir))
    assert(pt.contains("TakeOrderedAndProject"),
      "t27 top-k must plan as TakeOrderedAndProject\n" + pt.take(800))
    assert(pt.contains("partial_"), "term stats must map-side combine")
  }

  test("round-12 shapes: dq7 one aggregate, voc4 no cartesian, eval10 bucket-bounded, fs2 broadcast margins") {
    // dq7: the whole fit is ONE map-side-combinable sufficient-statistic
    // aggregate — no join, no window over the corpus
    val p7 = plan(Evaluation.dq7(spark, sfDir))
    assert(p7.contains("partial_"), "dq7 sufficient stats must map-side combine")
    assert(!p7.contains("Join"), "dq7 must not join\n" + p7.take(800))
    // voc4: the type-keyed self-join must be a hash join on the word,
    // never a cartesian/broadcast-nested-loop over documents
    val p4 = plan(TextAnalysis.voc4(spark, sfDir))
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"),
      "voc4 pair space must come from the type-equality join\n" + p4.take(800))
    // eval10: the concordance join runs over the bucket-bounded cell
    // frame — both sides must already be aggregated (partial_ before the
    // join input exchanges), and the corpus never self-joins
    val p10 = plan(Evaluation.eval10(spark, sfDir))
    assert(p10.contains("partial_count"), "eval10 cells must aggregate before the pair join")
    // fs2: the margin frame is 1 row — it must broadcast, not shuffle
    val pf = plan(Curation.fs2(spark, sfDir))
    assert(pf.contains("BroadcastNestedLoopJoin") || pf.contains("BroadcastHashJoin"),
      "fs2 margins must broadcast\n" + pf.take(800))
    assert(pf.contains("TakeOrderedAndProject"),
      "fs2 top-k cuts must plan as TakeOrderedAndProject")
  }

  test("round-12 session shapes: emb7/dq8 fold partials, voc5 domain-bounded, eval12 pid ranks, gr1 broadcasts m") {
    // emb7: the rollup row folds per-label PARTIALS — the corpus scan
    // (posexplode) must appear a bounded number of times, and every
    // aggregate map-side combines; no window anywhere
    val p7 = plan(Similarity.emb7(spark, sfDir))
    assert(p7.contains("partial_"), "emb7 stats must map-side combine")
    assert(!p7.contains("Window"), "emb7 must not window\n" + p7.take(800))
    // dq8: per-stratum stats are ONE map-side aggregate; the pooled row
    // folds those partials (broadcast back), never rescans documents
    val p8 = plan(Evaluation.dq8(spark, sfDir))
    assert(p8.contains("partial_"), "dq8 sufficient stats must map-side combine")
    assert(p8.contains("BroadcastNestedLoopJoin") || p8.contains("BroadcastHashJoin"),
      "dq8 pooled slope must broadcast\n" + p8.take(800))
    // voc5: the pair expansion joins counts against the SOURCE DOMAIN —
    // a broadcast join (tot is source-bounded), never a cartesian over
    // word-level frames
    val p5 = plan(TextAnalysis.voc5(spark, sfDir))
    assert(!p5.contains("CartesianProduct"),
      "voc5 must not cartesian over word frames\n" + p5.take(800))
    // eval12: both rank passes ride PrefixSum — every Window node must
    // stay pid-partitioned (no SinglePartition exchange feeding a window)
    val p12 = plan(Evaluation.eval12(spark, sfDir))
    assert(!p12.contains("Exchange SinglePartition\n+- Window") &&
      !p12.contains("Exchange SinglePartition\n   +- Window"),
      "eval12 ranks must never funnel through one partition\n" + p12.take(1200))
    // gr1/gr2: the 1-row m aggregate broadcasts; community/degree
    // lookups are equi-joins, never nested loops over edges
    val pg = plan(Graph.gr1(spark, sfDir))
    assert(pg.contains("BroadcastNestedLoopJoin") || pg.contains("BroadcastHashJoin"),
      "gr1's m must broadcast\n" + pg.take(800))
    assert(!pg.contains("CartesianProduct"), "gr1 must not cartesian")
  }

  /** Round-13 storage-lifecycle pins: the lazy graph family must reuse
    * its repeated edge-subtree exchanges at runtime (the property that
    * replaced the round-12 persist), and the checkpointed loops must
    * show the lineage barrier. Executed-final-plan checks: AQE only
    * materializes ReusedExchange/stage markers after the query runs. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // execute THIS QueryExecution so AQE finalizes it
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("pr1/pr2 lazy iteration reuses the edge-list exchanges, no cache scans") {
    for (name <- Seq("pr1_pagerank_suppliers", "pr2_hits_authorities")) {
      val p = finalPlan(graft.SparkEntry.queries(name)(spark, sfDir))
      val reused = "ReusedExchange".r.findAllIn(p).length
      assert(reused >= 1, s"$name: expected ReusedExchange in the final plan, got 0")
      assert(!p.contains("InMemoryTableScan"),
        s"$name must not read persisted blocks (lazy contract)")
    }
    Pinned.releaseAll(spark)
  }

  test("round-13 second-session shapes: t23 reuses the shingle exchange, gr4 never cartesians, e16/e15 are one-scan aggregates") {
    // t23: the shingle frame is shuffled on `shingle` once for the df
    // aggregate; the join back must reuse that exchange, not rescan
    val pt = finalPlan(TextAnalysis.t23(spark, sfDir))
    assert("ReusedExchange".r.findAllIn(pt).length >= 1,
      "t23's df join must reuse the shingle exchange\n" + pt.take(800))

    // gr4: candidates exist only through the shared-customer wedge join
    val pg = plan(Graph.gr4(spark, sfDir))
    assert(!pg.contains("CartesianProduct"), "gr4 must never cartesian")
    assert(pg.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort materialization")

    // e15/e16: single hash-aggregate families with map-side partials
    for (q <- Seq(Events.e15(spark, sfDir), Events.e16(spark, sfDir))) {
      val p = plan(q)
      assert(p.contains("partial_"), "bar/count aggregates must combine map-side")
      assert(!p.contains("Window"), "no window operator in the monoid formulation")
    }

    // samp8: the data-sized rank window must be bucket-partitioned (the
    // only unpartitioned window allowed is the 256-row offsets frame)
    val ps = plan(ScaleOps.samp8(spark, sfDir))
    assert(ps.contains("windowspecdefinition(bkt"),
      "samp8's row_number must partition by the hash bucket\n" + ps.take(800))
    Pinned.releaseAll(spark)
  }

  test("kcore1 peel rounds read the checkpoint barrier, not replayed lineage") {
    val p = finalPlan(graft.SparkEntry.queries("kcore1_supplier_core")(spark, sfDir))
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 1,
      "peel must read the per-round checkpointed edge frame")
    assert(!p.contains("Scan parquet"),
      "the final aggregate must never reach back to the parquet scans " +
        "(lineage is truncated at the last round's checkpoint)")
    Pinned.releaseAll(spark)
  }

  test("ret5 ranking metrics: query probes broadcast, never a cartesian") {
    val p = plan(Retrieval.ret5(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      "relevance probe must be an equi-join on term\n" + p.take(800))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "the query-term and n_terms probes must broadcast\n" + p.take(800))
    Pinned.releaseAll(spark)
  }

  test("nearDupPairs signatures are a per-row projection: no shingle-keyed exchange " +
      "or aggregate, no doc_id aggregate below the band exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val df = graft.api.GraftApi.nearDupPairs(Dedup.corpus(spark, sfDir))
    assert(df.collect().nonEmpty, "the planted copies must yield pairs")
    // every node of the executed (AQE-final) plan, through query stages
    // and reused exchanges
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case o => o +: o.children.flatMap(nodes)
    }
    def keys(p: SparkPlan): Seq[String] = (p match {
      case a: BaseAggregateExec => a.groupingExpressions
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions
        case _ => Nil
      }
      case _ => Nil
    }).flatMap(_.references.map(_.name))
    val all = nodes(df.queryExecution.executedPlan)
    val shingleKeyed = all.filter(keys(_).contains("shingle"))
    assert(shingleKeyed.isEmpty, "no exchange or aggregate may key on shingle\n" +
      shingleKeyed.map(_.simpleString(200)).mkString("\n"))
    val bandExchanges = all.collect { case e: ShuffleExchangeExec if keys(e).contains("band") => e }
    assert(bandExchanges.nonEmpty, "the band self-join must shuffle on the band key")
    val docAggs = bandExchanges.flatMap(e => e.children.flatMap(nodes)).collect {
      case a: BaseAggregateExec if keys(a).contains("doc_id") => a
    }
    assert(docAggs.isEmpty, "signatures must not aggregate per doc below the band exchange\n" +
      docAggs.map(_.simpleString(200)).mkString("\n"))
  }

  test("MinHash signatures run the native kernel: no higher-order functions, " +
      "one shingle hash per signature projection") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayFilter, ArrayTransform, Expression, LambdaFunction}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import graft.functions.{MinHashAffine, ShingleH60}
    val docs = Dedup.corpus(spark, sfDir)
    Seq("minhashSignatures" -> graft.api.GraftApi.minhashSignatures(docs),
        "nearDupPairs" -> graft.api.GraftApi.nearDupPairs(docs)).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val exprs: Seq[Expression] = plan.collectWithSubqueries { case n => n.expressions }
        .flatten.flatMap(_.collect { case e => e })
      val hof = exprs.filter(e => e.isInstanceOf[LambdaFunction] || e.isInstanceOf[ArrayTransform] ||
        e.isInstanceOf[ArrayFilter] || e.isInstanceOf[ArrayDistinct])
      assert(hof.isEmpty, s"$name: interpreted higher-order functions in the plan: " +
        hof.map(_.prettyName).distinct.mkString(", ") + "\n" + plan.toString.take(1500))
      val sigProjects = plan.collect {
        case p: Project if p.projectList.exists(_.exists(_.isInstanceOf[ShingleH60])) => p
      }
      assert(sigProjects.nonEmpty, s"$name: no graft_shingle_h60 projection\n$plan")
      sigProjects.foreach { p =>
        assert(p.projectList.map(_.collect { case h: ShingleH60 => h }.size).sum === 1,
          s"$name: graft_shingle_h60 must appear once per signature projection\n$p")
      }
      // CollapseProject must not have copied the hashing into the four mins
      val mins = exprs.collect { case m: MinHashAffine => m }
      assert(mins.nonEmpty && mins.forall(!_.hs.exists(_.isInstanceOf[ShingleH60])),
        s"$name: a minhash recomputes the shingle hashes\n$plan")
    }
  }

  test("pipe3 transform: no cartesian; drop-list anti-join and pack window " +
      "are shard-keyed (never a global single-partition sort)") {
    val sp = spark
    import sp.implicits._
    // the transform stages only (the registry query's sink + read-back
    // would hide the interesting plan behind the text scan); a planted
    // exact-copy pair guarantees a non-empty drop list so the anti-join
    // survives into the plan (an empty drop list legitimately folds it —
    // the sf0.001 fixture has no near-dups)
    // >= 20 tokens, stopword-rich, mean token length in band: the docs
    // must PASS the quality gate or PrefixSum's eager partition-count
    // collect lets Catalyst fold the whole (empty) plan to a
    // LocalTableScan and there is no join left to assert on
    val body = ("the data value row " * 5).trim
    val docs = ((1L to 30L).map(i => (i, s"$body kilo$i lima$i", "en")) :+
      ((101L, s"$body kilo1 lima1", "en"))).toDF("doc_id", "text", "lang")
    // the final plan starts at PrefixSum's checkpoint barrier (lineage
    // truncated — budget-cut join, pack window): shard-keyed, no cartesian
    val p = plan(graft.api.GraftApi.curateCorpus(docs))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("windowspecdefinition(lang"),
      "pack windows must partition by the language shard\n" + p.take(800))
    assert(p.contains("Scan ExistingRDD"),
      "the budget cut must read the PrefixSum checkpoint barrier\n" + p.take(800))
    // the keep-list stage (upstream of the barrier): a broadcast-able
    // ANTI join against the non-canonical member list, never a cartesian
    val kp = plan(Dedup.dedupedCorpusOf(docs.select($"doc_id", $"text")))
    assert(kp.contains("LeftAnti"), "keep-list must be an ANTI join\n" + kp.take(800))
    assert(!kp.contains("CartesianProduct"), kp.take(800))
    Pinned.releaseAll(spark)
  }
}
