package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Incremental Structured Streaming semantics that the bounded
  * AvailableNow verification queries can't exercise: multi-batch state
  * accumulation and watermark-based late-data dropping. */
class StreamsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("tumbling window aggregates accumulate across batches (update mode)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .select(col("window.start").as("ws"), col("n"), col("s"))
    val q = agg.writeStream.format("memory").queryName("tumb_test")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts(1), 1.0), (ts(2), 2.0))
      q.processAllAvailable()
      input.addData((ts(3), 4.0))
      q.processAllAvailable()
      val rows = sp.table("tumb_test").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      // update mode re-emits the window; the LAST emission has the full count
      val last = rows.maxBy(_._2)
      assert(last._2 === 3L && last._3 === 7.0)
    } finally q.stop()
  }

  test("watermark drops events later than the delay (append mode)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts(1), 1.0), (ts(2), 1.0)) // window [00:00,00:10)
      q.processAllAvailable()
      input.addData((ts(30), 1.0)) // advances watermark to 00:25 → closes first window
      q.processAllAvailable()
      input.addData((ts(3), 1.0)) // LATE: behind watermark, must be dropped
      q.processAllAvailable()
      input.addData((ts(50), 1.0)) // advance again so nothing else closes early
      q.processAllAvailable()
      val first = sp.table("wm_test").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)))
        .filter(_._1 == ts(0))
      assert(first.toSeq === Seq((ts(0), 2L)), "late event must not be counted")
    } finally q.stop()
  }

  test("stream-stream join equals the batch theta join on the bounded fixture") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.st5(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = graft.Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_eid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_eid"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .select("user_id", "c_eid", "p_eid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("sessionize splits on gaps > 10 minutes and aggregates within") {
    val evs = Iterator(
      Streams.Ev(1L, minuteUs(0), 100),
      Streams.Ev(1L, minuteUs(5), 200),
      Streams.Ev(1L, minuteUs(30), 300), // 25-min gap → new session
      Streams.Ev(1L, minuteUs(35), 400))
    val out = Streams.sessionize(1L, evs).toSeq
    assert(out.map(s => (s.session_id, s.n_events, s.sum_value_c)) ===
      Seq((1L, 2L, 300L), (2L, 2L, 700L)))
    assert(out.head.session_end_us === minuteUs(5))
    assert(out(1).session_start_us === minuteUs(30))
  }

  test("sessionize: exactly-10-minute gap does NOT split (strict >)") {
    val evs = Iterator(Streams.Ev(2L, 0L, 1), Streams.Ev(2L, 600000000L, 1))
    assert(Streams.sessionize(2L, evs).size === 1)
  }

  test("mergeIslands handles out-of-order events and bridges islands") {
    import Streams.{Ev, SessAgg}
    // two islands [0,8] and [25,25], then a bridge at 16 (within the
    // 10-minute gap of BOTH: 16-8=8 and 25-16=9) fuses them
    val isl1 = Streams.mergeIslands(Vector.empty,
      Seq(Ev(1L, minuteUs(0), 10), Ev(1L, minuteUs(8), 15), Ev(1L, minuteUs(25), 20)))
    assert(isl1.size === 2)
    val isl2 = Streams.mergeIslands(isl1, Seq(Ev(1L, minuteUs(16), 30)))
    assert(isl2 === Vector(SessAgg(minuteUs(0), minuteUs(25), 4L, 75L)),
      "an event within gap of both islands must fuse them")
    // out-of-order within a batch: same result as sorted arrival
    val sorted = Streams.mergeIslands(Vector.empty,
      Seq(Ev(1L, minuteUs(0), 1), Ev(1L, minuteUs(5), 2), Ev(1L, minuteUs(30), 3)))
    val shuffled = Streams.mergeIslands(Vector.empty,
      Seq(Ev(1L, minuteUs(30), 3), Ev(1L, minuteUs(0), 1), Ev(1L, minuteUs(5), 2)))
    assert(sorted === shuffled)
  }

  test("closeReady emits only watermark-final islands and keeps the rest") {
    import Streams.{SessAgg, SessState}
    val st = SessState(3L, Vector(
      SessAgg(minuteUs(0), minuteUs(5), 2L, 10L),
      SessAgg(minuteUs(30), minuteUs(40), 3L, 20L)))
    // watermark at minute 20: first island's end+gap (15) passed, second not
    val (out, st1) = Streams.closeReady(st, 7L, minuteUs(20))
    assert(out.map(o => (o.session_id, o.n_events)) === Vector((3L, 2L)))
    assert(st1 === SessState(4L, Vector(SessAgg(minuteUs(30), minuteUs(40), 3L, 20L))),
      "closed island must LEAVE the state; open island stays")
    // nothing closable → no emission, state unchanged
    val (out2, st2) = Streams.closeReady(st1, 7L, minuteUs(20))
    assert(out2.isEmpty && st2 === st1)
    // BOUNDARY: watermark exactly AT end+gap must NOT close — Spark still
    // admits an event with ts == watermark, and the batch oracle merges an
    // event landing exactly at end+gap (it splits only on gap > GapUs)
    val (outEq, stEq) = Streams.closeReady(st1, 7L, minuteUs(50))
    assert(outEq.isEmpty && stEq === st1,
      "island whose end+gap == watermark could still absorb a ts==watermark event")
    val (outGt, _) = Streams.closeReady(st1, 7L, minuteUs(50) + 1L)
    assert(outGt.map(_.n_events) === Vector(3L), "one microsecond past end+gap closes it")
  }

  test("st3 session state drops closed sessions across batches (EventTimeTimeout)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Streams.Ev]
    val evs = input.toDS()
      .select(timestamp_micros(col("ts_us")).as("ts"), col("user_id"), col("value_c"))
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"), col("value_c"))
      .as[Streams.EvW]
    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[Streams.SessState, Streams.SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
        Streams.sessionFunc)
    val q = sessions.toDF().writeStream.format("memory").queryName("st3_inc")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 session A (minutes 100..105; offset keeps the
      // first event above the initial epoch-0 watermark, which drops
      // ts <= watermark rows as late)
      input.addData(Streams.Ev(1L, minuteUs(100), 100), Streams.Ev(1L, minuteUs(105), 200))
      q.processAllAvailable()
      // batch 2: far-future event advances watermark past A's end+gap →
      // A emits via timeout and leaves state
      input.addData(Streams.Ev(99L, minuteUs(220), 1))
      q.processAllAvailable()
      val afterClose = sp.table("st3_inc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
      assert(afterClose.toSet === Set((1L, 1L, 2L, 300L)),
        s"session A must emit exactly once on watermark close: ${afterClose.toSeq}")
      // batch 3: user 1 session B (minute 125) + flush at minute 300 —
      // B must get session_id 2 (numbering survived A's eviction) and emit
      // exactly one NEW row (A is not re-emitted: it left the state)
      input.addData(Streams.Ev(1L, minuteUs(225), 500))
      q.processAllAvailable()
      input.addData(Streams.Ev(99L, minuteUs(400), 1))
      q.processAllAvailable()
      val all = sp.table("st3_inc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
        .filter(_._1 == 1L)
      assert(all.toSet === Set((1L, 1L, 2L, 300L), (1L, 2L, 1L, 500L)),
        s"closed session must not re-emit; numbering must persist: ${all.toSeq}")
    } finally q.stop()
  }

  test("st3 fuses two open islands when a bridging event arrives in a LATER batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Streams.Ev]
    val evs = input.toDS()
      .select(timestamp_micros(col("ts_us")).as("ts"), col("user_id"), col("value_c"))
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"), col("value_c"))
      .as[Streams.EvW]
    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[Streams.SessState, Streams.SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
        Streams.sessionFunc)
    val q = sessions.toDF().writeStream.format("memory").queryName("st3_bridge")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: islands [100,105] and [118,120] (13-min gap between them);
      // watermark after = 120 - 10 = minute 110 < 105+10, so neither closes
      input.addData(Streams.Ev(1L, minuteUs(100), 1), Streams.Ev(1L, minuteUs(105), 2),
        Streams.Ev(1L, minuteUs(118), 4), Streams.Ev(1L, minuteUs(120), 8))
      q.processAllAvailable()
      // batch 2: minute 111 (above the 110 watermark — NOT late) is within
      // the gap of both islands and must FUSE them into [100,120]
      input.addData(Streams.Ev(1L, minuteUs(111), 16))
      q.processAllAvailable()
      // batch 3: flush — the single fused session must emit exactly once
      input.addData(Streams.Ev(99L, minuteUs(400), 1))
      q.processAllAvailable()
      val got = sp.table("st3_bridge").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
        .filter(_._1 == 1L)
      assert(got.toSet === Set((1L, 1L, 5L, 31L)),
        s"cross-batch bridge must fuse the open islands into ONE session: ${got.toSeq}")
    } finally q.stop()
  }

  test("fixture arrival disorder stays inside st4's 1-hour watermark delay") {
    // st4's dropDuplicatesWithinWatermark equals batch DISTINCT only while
    // no event arrives more than the delay behind the running event-time
    // maximum (a more-late row would be dropped / re-emitted under a
    // multi-batch replay). Assert that data-layout assumption on the
    // fixture IN FILE ORDER (= streaming arrival order) so a future
    // fixture change fails here loudly instead of flaking the oracle.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsUs = graft.Tables.normalizeEventTs(
        spark.read.option("mergeSchema", "false")
          .parquet(s"$sfDir/events.parquet"))
      .select(org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts")))
      .collect().map(_.getLong(0)) // file order, micros
    assert(tsUs.nonEmpty)
    val delayUs = 3600L * 1000000L
    var runMax = Long.MinValue
    var worst = 0L
    tsUs.foreach { t =>
      if (runMax != Long.MinValue) worst = math.max(worst, runMax - t)
      runMax = math.max(runMax, t)
    }
    assert(worst <= delayUs,
      s"max arrival disorder ${worst / 1e6}s exceeds st4's 1-hour watermark delay")
  }

  test("file-sink checkpoint recovery is exactly-once across restarts") {
    // the durable path st9 ships: a parquet file SOURCE + parquet file SINK
    // with one checkpoint. Run 1 drains file A; run 2 (new query instance,
    // SAME checkpoint) must process only file B — A is neither lost nor
    // duplicated, which is the whole point of the sink's transaction log.
    val sp = spark
    import sp.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_rec_src")
    val out = java.nio.file.Files.createTempDirectory("graft_rec_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rec_ckpt").toString
    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_rec_tmp").toString
      rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    def drainOnce(): Unit = {
      val schema = sp.read.parquet(src.toString).schema
      val q = sp.readStream.schema(schema).parquet(src.toString)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeBatch("a.parquet", Seq((1L, 10L), (2L, 20L)))
    drainOnce()
    writeBatch("b.parquet", Seq((3L, 30L)))
    drainOnce() // restart from the same checkpoint
    val got = sp.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((1L, 10L), (2L, 20L), (3L, 30L)),
      s"restart must process exactly the new file — no loss, no duplicates: $got")
  }

  private def minuteUs(m: Int): Long = m * 60L * 1000000L

  test("st12 finds cross-batch near-dup candidates through bucket state") {
    val pairs = Streams.st12(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // injected exact copies live at id + 1_000_000: the copy arrives in a
    // LATER micro-batch than its original (range-partitioned staging), so
    // finding the pair requires bucket state to survive batch boundaries
    assert(pairs.exists { case (a, b) => b - a >= 1000000L },
      "cross-batch pairs prove state carried between micro-batches")
    assert(pairs.forall { case (a, b) => a < b }, "pairs are canonical (id_a < id_b)")
    assert(pairs.distinct.length === pairs.length, "no duplicate emissions survive")
  }

  test("st13 capped stream emits a subset of batch pairs; equals them when no bucket overflows") {
    import org.apache.spark.sql.functions._
    val capped = Streams.st13(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val keys = graft.ops.Dedup.minhashBandKeysOf(graft.ops.Dedup.corpus(spark, sfDir))
    val batch = keys.as("a").join(keys.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.nonEmpty)
    assert(capped.subsetOf(batch),
      "the cap may only DROP pairs relative to the uncapped batch join")
    val maxBucket = keys.groupBy("bucket").count()
      .agg(max("count")).head().getLong(0)
    if (maxBucket <= 50)
      assert(capped === batch,
        s"no bucket exceeds the cap (max $maxBucket), so capping must be a no-op")
  }

  test("st14 streaming trajectories equal the batch traj1 assembly bit-for-bit") {
    val streamed = Streams.st14(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getString(5)))
    val batch = graft.ops.Curation.traj1(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getString(5)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "append-mode drain must assemble exactly the batch trajectories")
  }

  test("st15 streaming PSI monitor equals the batch dq3 audit bit-for-bit") {
    val streamed = Streams.st15(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val batch = graft.ops.Evaluation.dq3(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "incrementally merged bin counts must yield exactly the batch PSI")
  }

  test("st11 streaming expectation counters equal the batch aggregate regardless of batch cuts") {
    val rows = Streams.st11(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val total = graft.Tables.events(spark, sfDir).count()
    assert(rows.keySet === Set("c1_user_not_null", "c2_type_domain", "c3_value_le_90"))
    rows.values.foreach { case (n, _) => assert(n === total, "every batch's rows counted once") }
    assert(rows("c1_user_not_null")._2 === 0L)
    assert(rows("c3_value_le_90")._2 > 0L, "the tight value expectation must find violations")
  }
  test("st20 streaming skip-gram counts equal the batch w2v1 table bit-for-bit") {
    val live = Streams.st20(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.ops.TextAnalysis.skipgramPairsOf(
        graft.Tables.documents(spark, sfDir), minSupport = 30L)
      .orderBy("center", "context").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(live === batch)
  }

  test("st21 streaming burstiness equals the batch t27 top-k bit-for-bit") {
    // the merged (df, S1, S2) statistics and the doc count are additive
    // across micro-batches, and the final cut runs through t27's own
    // burstinessFromStats — so the drained top-k must match batch exactly
    val live = Streams.st21(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.ops.TextAnalysis.burstinessOf(
        graft.Tables.documents(spark, sfDir)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(live === batch)
  }

  test("st25 streaming isotropy equals the batch emb7 audit bit-for-bit") {
    // both stat halves (per-(label,dim) sums; per-label count/norm sums)
    // are additive monoids and the final cut runs through emb7's own
    // isotropyFromStats — so the drained audit must match batch exactly
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (if (r.isNullAt(0)) Long.MinValue else r.getLong(0), r.getLong(1),
        r.getLong(2), if (r.isNullAt(3)) Long.MinValue else r.getLong(3))).toSeq
    val live = canon(Streams.st25(spark, sfDir).collect())
    val batch = canon(graft.ops.Similarity.isotropyOf(
      graft.Tables.embeddings(spark, sfDir)).collect())
    assert(live === batch)
  }

  test("st26 streaming simpson audit equals the batch dq8 table bit-for-bit") {
    // the per-stratum six-stat table is an additive monoid and the
    // slope/reversal cut runs through dq8's own simpsonFromStats
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (if (r.isNullAt(0)) "__pooled__" else r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2),
        if (r.isNullAt(3)) "null" else r.getBoolean(3).toString)).toSeq
    val live = canon(Streams.st26(spark, sfDir).collect())
    val batch = canon(graft.ops.Evaluation.dq8(spark, sfDir).collect())
    assert(live === batch)
  }

  test("st27 streaming ESS equals the batch samp7 audit bit-for-bit") {
    // quality is per-doc pure and the (n, sw, sww) stats are additive,
    // so the drained audit must match the batch registry query exactly
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (if (r.isNullAt(0)) "__all__" else r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue else r.getLong(3))).toSeq
    val live = canon(Streams.st27(spark, sfDir).collect())
    val batch = canon(graft.ops.ScaleOps.samp7(spark, sfDir).collect())
    assert(live === batch)
  }

  test("st29 streaming OHLC bars equal the batch e15 table bit-for-bit") {
    // every bar statistic is a monoid (struct-min/max, min, max, count,
    // sum), so the incremental drain must reproduce the batch bars
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    val live = canon(Streams.st29(spark, sfDir).collect())
    val batch = canon(graft.ops.Events.e15(spark, sfDir).collect())
    assert(live === batch)
  }

  test("st31 streaming vocab curve equals the batch voc6 sweep bit-for-bit") {
    // the tf table is an additive monoid; the shared curveFromTf sweep
    // must reproduce the batch curve exactly
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val live = canon(Streams.st31(spark, sfDir).collect())
    val batch = canon(graft.ops.TextAnalysis.voc6(spark, sfDir).collect())
    assert(live === batch)
  }

  test("st32 streaming admission monitor equals the batch pipe4 report bit-for-bit") {
    // per-doc verdicts depend only on (doc, static old corpus), so the
    // per-lang admission stats are an additive monoid; summed per-batch
    // deltas must land on exactly the batch composite's rollup
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val live = canon(Streams.st32(spark, sfDir).collect())
    val batch = canon(graft.ops.Pipeline.pipe4(spark, sfDir).collect())
    assert(live === batch)
  }

  test("st30 streaming burst flags equal the batch e16 set bit-for-bit") {
    // the (hour x type) count table is an additive monoid; the shared
    // burstsFromCounts cut must flag the identical window set
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3))).toSeq
    val live = canon(Streams.st30(spark, sfDir).collect())
    val batch = canon(graft.ops.Events.e16(spark, sfDir).collect())
    assert(live === batch)
  }

  test("st22 streaming RFM segments equal the batch e12 table bit-for-bit") {
    // the per-buyer (max, sum, sum) state is a mergeable monoid and the
    // quartile cut reuses e12's rfmSegmentsFromPerUser — batch-boundary
    // independence is exact, not approximate
    val live = Streams.st22(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val batch = graft.ops.Events.rfmSegmentsOf(graft.Tables.events(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(live === batch)
  }

  test("st23 streaming t-closeness equals the batch priv5 table bit-for-bit") {
    val live = Streams.st23(spark, sfDir).collect().map(_.toString).toSeq
    val batch = graft.ops.Curation.priv5(spark, sfDir).collect().map(_.toString).toSeq
    assert(live === batch)
  }

  test("st24 CUSUM closed form P_t - min prefix equals the iterated max(0, .) recurrence") {
    // the op's whole exactness claim: 2-long state reproduces the
    // non-associative recurrence; pin it on a sign-mixed sequence
    val devs = Seq(5L, -3L, -10L, 8L, 8L, -1L, -30L, 4L, 4L, 4L, -2L, 100L, -100L, 7L)
    var p = 0L; var minp = 0L; var sNaive = 0L
    devs.foreach { d =>
      p += d; minp = math.min(minp, p)
      sNaive = math.max(0L, sNaive + d)
      assert(p - minp === sNaive, s"closed form diverged at dev $d")
    }
  }

  test("st24 streaming CUSUM rollup is internally consistent on the fixture") {
    val rows = Streams.st24(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val maxC = r.getAs[Long]("max_cusum")
      val finC = r.getAs[Long]("final_cusum")
      assert(maxC >= 0L && finC >= 0L && maxC >= finC,
        "CUSUM is nonnegative and the high-water mark bounds the final value")
      if (!r.isNullAt(r.fieldIndex("alarm_ts_us")))
        assert(maxC >= Streams.St24AlarmCents)
    }
  }

  test("st10 streaming MV merge equals the batch event_type aggregate bit-for-bit") {
    // mv1's recompute contract on st10's own table: per-batch deltas
    // summed into the stored aggregate must equal one batch aggregate
    val live = Streams.st10(spark, sfDir).collect().map(_.toString).toSeq
    val batch = graft.Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(graft.ops.Money.cents(col("value"))).as("sum_c"))
      .orderBy("event_type").collect().map(_.toString).toSeq
    assert(live.nonEmpty)
    assert(live === batch)
  }

  test("st16 streaming KMV sketch equals the batch apx6 sketch bit-for-bit") {
    val live = Streams.st16(spark, sfDir).collect().map(_.toString).toSeq
    val batch = graft.ops.ScaleOps.apx6(spark, sfDir)
      .select("lang", "n_sk", "hk", "est").collect().map(_.toString).toSeq
    assert(live.nonEmpty)
    assert(live === batch)
  }

  test("st17 streaming decontamination gate equals the batch d19 probe bit-for-bit") {
    val live = Streams.st17(spark, sfDir).collect().map(_.toString).toSeq
    val batch = graft.ops.TextAnalysis.d19(spark, sfDir).collect().map(_.toString).toSeq
    assert(live.nonEmpty)
    assert(live === batch)
  }

  test("st18 streaming Benford counts equal the batch dq5 audit bit-for-bit") {
    val live = Streams.st18(spark, sfDir).collect().map(_.toString).toSeq
    val batch = graft.ops.Evaluation.dq5(spark, sfDir).collect().map(_.toString).toSeq
    assert(live.nonEmpty)
    assert(live === batch)
  }

  test("st28 streaming repetition audit equals the batch dq9 table bit-for-bit") {
    val live = Streams.st28(spark, sfDir).collect().map(_.toString).toSeq
    val batch = graft.ops.Evaluation.dq9(spark, sfDir).collect().map(_.toString).toSeq
    assert(live.nonEmpty)
    assert(live === batch)
  }

  test("bounded streams delete their checkpoint dir once the query has terminated") {
    def ckpts(): Set[String] =
      Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("graft_ckpt_")).toSet
    // a merging monitor, a stateless per-batch writer, a memory-sink drain
    Seq("st15" -> Streams.st15, "st17" -> Streams.st17, "st1" -> Streams.st1).foreach {
      case (name, q) =>
        val before = ckpts()
        val result = q(spark, sfDir)
        assert(ckpts() -- before === Set.empty[String], s"$name left a checkpoint dir behind")
        assert(result.collect().nonEmpty, s"$name's result must not read its checkpoint")
    }
  }
}
