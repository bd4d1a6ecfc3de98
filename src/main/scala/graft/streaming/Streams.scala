package graft.streaming

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** [EXT] Structured Streaming surface (SURVEY §2.11/§7.8): the same
  * windowed aggregations as graft.ops.Events, executed as REAL streaming
  * queries — `readStream` file source → watermarked windowed aggregation /
  * arbitrary stateful sessionization → memory sink — with
  * `Trigger.AvailableNow` so the bounded fixture drains deterministically.
  * Results therefore hash-match the identical DuckDB oracles as the batch
  * variants (e1/e2/e3), which is the strongest correctness statement a
  * bounded streaming run can make.
  *
  * Scale notes: state is keyed by (window, type) / user_id — Spark
  * partitions state by key across executors; watermarks bound state size.
  * On an unbounded 100 TB/day feed the same plans run with append mode +
  * checkpointing to durable storage; complete-mode memory sinks here are
  * only the bounded-drain test harness.
  */
object Streams {
  type Q = (SparkSession, String) => DataFrame

  private def cents(c: org.apache.spark.sql.Column) = graft.ops.Money.cents(c)

  /** Streaming scan of the events fixture with the same ns→µs conversion
    * as Tables.events (file source needs an explicit schema).
    *
    * `variant` isolates a query's staging directory (queries that add
    * extra source files must not leak them into the shared scan);
    * `flushSentinel` stages one far-future row for user_id = -1 so the
    * final watermark advances past every real event — the no-data batch
    * that follows fires all pending event-time timeouts, letting append-
    * mode stateful operators emit their last sessions under a bounded
    * AvailableNow drain. Callers filter the sentinel user out. */
  private def eventStream(s: SparkSession, d: String,
      variant: String = "", flushSentinel: Boolean = false): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // file streaming sources require a DIRECTORY: stage one containing a
    // symlink to the fixture file (read-only testdata must not move)
    val srcDir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      "graft_stream_src_" + variant + d.replaceAll("[^A-Za-z0-9]", "_"))
    Files.createDirectories(srcDir)
    val link = srcDir.resolve("events.parquet")
    // NOFOLLOW: a dangling link (fixture moved) must be detected and
    // replaced, not re-created into FileAlreadyExistsException
    if (Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.delete(link)
    Files.createSymbolicLink(link, java.nio.file.Paths.get(s"$d/events.parquet"))
    if (flushSentinel) {
      // the sentinel must outrun the CURRENT fixture's max event time, so
      // the cache key is the flush timestamp itself: a regenerated fixture
      // with later events gets a fresh sentinel (a stale one would leave
      // the final watermark short and silently drop tail sessions/windows)
      val raw = s.read.parquet(s"$d/events.parquet")
      val tsIsLong = raw.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
      // max event time in epoch micros, whatever the physical ts type
      val maxUs = graft.Tables.normalizeEventTs(raw)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      val farUs = maxUs + 2L * 86400L * 1000000L // +2 days
      val sf = srcDir.resolve(s"sentinel_$farUs.parquet")
      if (!Files.exists(sf)) {
        new java.io.File(srcDir.toString).listFiles()
          .filter(f => f.getName.startsWith("sentinel_") && f.getName.endsWith(".parquet"))
          .foreach(_.delete()) // stale sentinels from an older fixture
        // the sentinel row's ts must carry the fixture's PHYSICAL type or
        // the file source's fixed schema rejects the staged file
        val one = raw.limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts",
            if (tsIsLong) lit(farUs * 1000L)
            else expr(s"cast(timestamp_micros(${farUs}L) as ${raw.schema("ts").dataType.sql})"))
        val tmpOut = Files.createTempDirectory("graft_sentinel").toFile
        try {
          one.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
          val part = tmpOut.listFiles().find(_.getName.endsWith(".parquet")).get
          Files.copy(part.toPath, sf)
        } finally FileUtils.deleteQuietly(tmpOut)
      }
    }
    // file sources need an explicit schema for streaming reads; normalize
    // the physical ts (nanos-long or NTZ) to TimestampType after the scan
    val physical = s.read.parquet(s"$d/events.parquet").schema
    graft.Tables.normalizeEventTs(
      s.readStream.schema(physical).parquet(srcDir.toString))
  }

  private val StatePartitions = "8"

  /** Run a pre-configured writer to completion under
    * `Trigger.AvailableNow`, with its checkpoint in a fresh
    * `graft_ckpt_<name>*` temp dir that is deleted once the query has
    * terminated: no result here is read from a checkpoint (they come from
    * a memory table, a file sink's own metadata log, or generation dirs),
    * and a bounded replay is never resumed.
    *
    * The stream runs at [[StatePartitions]] (8) shuffle partitions,
    * which also fixes its state-store partition count: each state
    * partition costs a provider instance plus checkpoint delta files per
    * batch, so a bounded replay wants few; 8 keeps that cost small while
    * still spreading each batch's aggregates over a small host's cores.
    * A production deployment sizes this per job before first start (the
    * checkpoint then fixes it). SEQUENTIAL-EXECUTION ASSUMPTION: this
    * toggles a session-global conf around the stream's start and
    * restores it in finally. Verify/Bench run queries strictly one at a
    * time, so nothing else observes the temporary value; a host
    * embedding this library alongside concurrent batch queries should
    * instead run streams in a cloned session (spark.newSession()) whose
    * conf is free to differ. */
  private def runBounded(s: SparkSession, name: String,
      writer: org.apache.spark.sql.streaming.DataStreamWriter[Row]): Unit = {
    val ckpt = Files.createTempDirectory(s"graft_ckpt_$name").toFile
    val before = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions)
    try writer.option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally {
      s.conf.set("spark.sql.shuffle.partitions", before)
      FileUtils.deleteQuietly(ckpt)
    }
  }

  /** Run a bounded streaming query to a memory sink and return the table. */
  private def drain(s: SparkSession, out: DataFrame, name: String, mode: OutputMode): DataFrame = {
    runBounded(s, name, out.writeStream.format("memory").queryName(name).outputMode(mode))
    s.table(name)
  }

  /** Multi-batch replay of fixture table `table`: its staged 4-file
    * `key`-range split ([[stagedTableSplit]]) read one file per trigger,
    * so a bounded run is 4 real micro-batches in key order. */
  private def replayStream(s: SparkSession, d: String, tag: String,
      table: String, key: String): DataFrame = {
    val srcDir = stagedTableSplit(s, d, tag, table, key)
    s.readStream.schema(s.read.parquet(s"$d/$table.parquet").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
  }

  /** The generational-state loop every foreachBatch monitor runs: `src`
    * drains as a bounded stream, micro-batch `b` runs
    * `step(batch, prior, gen)`, and the generation dirs come back in
    * batch order. `gen` is `gen_<b>` under the stream's state root and
    * `prior` is the newest generation strictly OLDER than `b`. That is
    * the exactly-once contract without a transactional sink: a retried
    * batch reads the same prior state and overwrites its own generation,
    * so it can never count twice. A merging monitor's newest generation
    * is therefore its whole state, whatever the batch cuts. The state
    * root outlives the call, because the caller's result reads it.
    * Replay sources arrive as 4 files read one per trigger; fewer than 4
    * generations means the replay did not run as a multi-batch stream. */
  private def generations(src: DataFrame, tag: String)(
      step: (DataFrame, Option[String], String) => Unit): Seq[String] = {
    val root = Files.createTempDirectory(s"graft_${tag}_state").toFile
    def written(): Seq[(Long, String)] = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("gen_")).toSeq
      .map(f => (f.getName.stripPrefix("gen_").toLong, f.getAbsolutePath))
      .sortBy(_._1)
    runBounded(src.sparkSession, tag, src.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        step(batch.toDF(), written().filter(_._1 < batchId).lastOption.map(_._2),
          s"$root/gen_$batchId")
    })
    val all = written()
    require(all.size >= 4, s"expected >=4 micro-batches, saw ${all.size}")
    all.map(_._2)
  }

  /** The merge of a monitor whose state is an additive monoid keyed by
    * `keys`: the prior generation ∪ this batch's `delta`, regrouped by
    * `keys` with every other column summed, in the delta's column order
    * (generations union by position). With no prior, the delta is the
    * state. */
  private def keyedSum(delta: DataFrame, prior: Option[String], keys: String*): DataFrame =
    prior.fold(delta) { p =>
      val sums = delta.columns.filterNot(keys.contains).map(c => sum(c).as(c))
      delta.sparkSession.read.parquet(p).unionAll(delta)
        .groupBy(keys.map(col): _*).agg(sums.head, sums.tail.toIndexedSeq: _*)
        .select(delta.columns.map(col).toIndexedSeq: _*)
    }

  /** ST1: streaming tumbling 1-hour window × event_type with a 1-hour
    * watermark — same result contract as Events.e1. */
  val st1: Q = (s, d) => {
    val agg = eventStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
    drain(s, agg, "st1_out", OutputMode.Complete())
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value_c"))
      .orderBy("window_start", "event_type")
  }

  /** ST2: streaming sliding windows (1 h / 30 min) — contract of Events.e2. */
  val st2: Q = (s, d) => {
    val agg = eventStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
    drain(s, agg, "st2_out", OutputMode.Complete())
      .select(col("window.start").as("window_start"), col("n"), col("sum_value_c"))
      .orderBy("window_start")
  }

  // ---- ST3: arbitrary stateful sessionization (flatMapGroupsWithState) ----

  case class Ev(user_id: Long, ts_us: Long, value_c: Long)
  /** st3 input row: carries the watermark-tagged timestamp column itself —
    * event-time timeout requires the watermarked column to survive into
    * the stateful operator's input, so it cannot be projected away. */
  case class EvW(user_id: Long, ts: java.sql.Timestamp, ts_us: Long, value_c: Long)
  case class SessionOut(user_id: Long, session_id: Long,
    session_start_us: Long, session_end_us: Long, n_events: Long, sum_value_c: Long)
  case class UserStat(user_id: Long, n_events: Long, sum_value_c: Long, last_ts_us: Long)

  private val GapUs = 600000000L // 10 minutes

  /** Sessionize one user's events (sorted) into gap-separated sessions. */
  private[streaming] def sessionize(userId: Long, evs: Iterator[Ev]): Iterator[SessionOut] = {
    val sorted = evs.toVector.sortBy(e => (e.ts_us, e.value_c))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Vector.newBuilder[SessionOut]
      var sid = 1L
      var start = sorted.head.ts_us; var end = start
      var n = 0L; var sum = 0L
      for (e <- sorted) {
        if (e.ts_us - end > GapUs) {
          out += SessionOut(userId, sid, start, end, n, sum)
          sid += 1; start = e.ts_us; n = 0L; sum = 0L
        }
        end = e.ts_us; n += 1; sum += e.value_c
      }
      out += SessionOut(userId, sid, start, end, n, sum)
      out.result().iterator
    }
  }

  /** One open session "island": a gap-separated run of events, kept as an
    * AGGREGATE (start, end, n, sum) — never the events themselves. */
  case class SessAgg(start_us: Long, end_us: Long, n: Long, sum_c: Long)
  /** Per-user state: next session number to assign + open islands only.
    * Bounded: islands older than watermark − gap are emitted and dropped,
    * so state holds at most (watermark delay / gap) + 1 aggregates. */
  case class SessState(next_sid: Long, islands: Vector[SessAgg])

  /** Merge a batch of (possibly out-of-order) events into the open-island
    * set: an event within `gap` of an island extends it; an event bridging
    * two islands fuses them; anything else opens a new island. Pure. */
  private[streaming] def mergeIslands(islands: Vector[SessAgg], evs: Seq[Ev]): Vector[SessAgg] = {
    var isl = islands
    for (e <- evs.sortBy(x => (x.ts_us, x.value_c))) {
      val (touch, rest) = isl.partition(i =>
        e.ts_us >= i.start_us - GapUs && e.ts_us <= i.end_us + GapUs)
      val merged =
        if (touch.isEmpty) SessAgg(e.ts_us, e.ts_us, 1L, e.value_c)
        else SessAgg(
          math.min(touch.map(_.start_us).min, e.ts_us),
          math.max(touch.map(_.end_us).max, e.ts_us),
          touch.map(_.n).sum + 1L,
          touch.map(_.sum_c).sum + e.value_c)
      isl = rest :+ merged
    }
    isl.sortBy(_.start_us)
  }

  /** Split the island set at the watermark: islands whose `end + gap` the
    * watermark has passed can never grow again (later events would be
    * dropped as late) — they are final. Islands are disjoint and ordered,
    * so the closable set is always a PREFIX, which keeps session numbering
    * (assigned at close, in start order) identical to the batch oracle. */
  private[streaming] def closeReady(st: SessState, uid: Long, wmUs: Long): (Vector[SessionOut], SessState) = {
    // Strict <: Spark still admits an event at ts == watermark, and the
    // batch oracle splits only on gap > GapUs — so an event landing exactly
    // at end + gap must still merge. The re-armed timeout closes the island
    // on the next watermark advance.
    val (closed, open) = st.islands.partition(i => i.end_us + GapUs < wmUs)
    val out = closed.sortBy(_.start_us).zipWithIndex.map { case (c, k) =>
      SessionOut(uid, st.next_sid + k, c.start_us, c.end_us, c.n, c.sum_c)
    }
    (out, SessState(st.next_sid + closed.size, open))
  }

  /** ST3: sessions via flatMapGroupsWithState with BOUNDED state — the
    * contract of Events.e3. Data batches only merge events into the open
    * islands; sessions are emitted by EVENT-TIME TIMEOUT once the
    * watermark passes `end + gap` (the point after which the session is
    * provably final), and the emitted island leaves the state. The
    * flush-sentinel row (user −1, filtered below) pushes the final
    * watermark past every real event so the AvailableNow drain finalizes
    * every session; on an unbounded feed the same operator runs forever
    * with per-user state bounded by (delay/gap)+1 aggregates. */
  /** The st3 state-transition function (named so StreamsSpec can exercise
    * it through a MemoryStream batch-by-batch). */
  private[streaming] val sessionFunc
      : (Long, Iterator[EvW], GroupState[SessState]) => Iterator[SessionOut] = {
    (uid: Long, it: Iterator[EvW], state: GroupState[SessState]) =>
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val st0 = state.getOption.getOrElse(SessState(1L, Vector.empty))
      val merged =
        if (state.hasTimedOut) st0
        else SessState(st0.next_sid,
          mergeIslands(st0.islands, it.map(e => Ev(e.user_id, e.ts_us, e.value_c)).toSeq))
      val (out, st1) = closeReady(merged, uid, wmUs)
      // state persists even with no open island: the session ORDINAL the
      // oracle requires (per-user 1..k numbering) costs two longs per key
      // forever — the event data itself is never retained. A timeout is
      // only armed while an island is open (a fired timeout auto-clears).
      state.update(st1)
      if (st1.islands.nonEmpty)
        state.setTimeoutTimestamp(math.max(
          (st1.islands.map(_.end_us).min + GapUs) / 1000L,
          state.getCurrentWatermarkMs() + 1L))
      out.iterator
  }

  val st3: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val evs: Dataset[EvW] = eventStream(s, d, variant = "st3_", flushSentinel = true)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        cents(col("value")).as("value_c"))
      .as[EvW]
    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(sessionFunc)
    drain(s, sessions.toDF(), "st3_out", OutputMode.Append())
      .filter(col("user_id") >= 0) // drop the watermark-flush sentinel user
      .select(col("user_id"), col("session_id"),
        timestamp_micros(col("session_start_us")).as("session_start"),
        timestamp_micros(col("session_end_us")).as("session_end"),
        col("n_events"), col("sum_value_c"))
      .orderBy("user_id", "session_id")
  }

  /** ST4: streaming deduplication — `dropDuplicatesWithinWatermark` keyed
    * on a synthetic dup-prone key (user_id, minute bucket, event_type); the
    * watermark genuinely bounds the dedup state: per-key state carries the
    * event time and is evicted once the watermark passes it (plain
    * `dropDuplicates` on a non-event-time key would grow state forever on
    * unbounded input). Duplicates of a key share its minute bucket, so any
    * duplicate arrives well within the 1-hour delay and the semantics on
    * the bounded fixture equal batch DISTINCT, which is the oracle. */
  val st4: Q = (s, d) => {
    val keyed = eventStream(s, d)
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("user_id"),
        expr("unix_micros(ts) div 60000000").as("minute_bkt"), col("event_type"))
      .dropDuplicatesWithinWatermark("user_id", "minute_bkt", "event_type")
    val agg = keyed.groupBy("event_type").agg(count(lit(1)).as("n_unique"))
    drain(s, agg, "st4_out", OutputMode.Complete())
      .orderBy("event_type")
  }
  val st4Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique FROM (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 60000000 AS minute_bkt, event_type
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ST5: stream-stream inner join — click→purchase attribution within 30
    * minutes per user. Both sides are watermarked and the join condition
    * carries the time bound, so each side's state is evicted once the
    * watermark passes `ts + 30 min` (the canonical bounded-state
    * stream-stream join). Under AvailableNow over the bounded fixture the
    * matched-pair set is complete, so the batch theta-join is the oracle. */
  val st5: Q = (s, d) => {
    val clicks = eventStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_eid"))
      .withWatermark("c_ts", "1 hour")
    val purchases = eventStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_eid"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
    drain(s, joined, "st5_out", OutputMode.Append())
      .select(col("c_user").as("user_id"), col("c_eid"), col("p_eid"))
      .orderBy("user_id", "c_eid", "p_eid")
  }
  val st5Sql: String =
    """SELECT c.user_id AS user_id, c.event_id AS c_eid, p.event_id AS p_eid
      |FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.user_id = c.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |ORDER BY c.user_id, c_eid, p_eid""".stripMargin

  /** ST7: per-key running aggregate via `mapGroupsWithState` — ONE updated
    * row per key per batch (vs st3's flatMap multi-emission): the running
    * per-user counter shape. State is the (n, sum, max_ts) triple; under
    * multi-batch replay the memory sink holds one update per batch, so the
    * post-drain argmax-by-n keeps the latest — monotone state makes that
    * deterministic. */
  val st7: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val evs: Dataset[Ev] = eventStream(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        cents(col("value")).as("value_c"))
      .as[Ev]
    val stats = evs.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long), UserStat](GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[(Long, Long, Long)]) =>
          var (n, sum, mx) = state.getOption.getOrElse((0L, 0L, Long.MinValue))
          it.foreach { e => n += 1; sum += e.value_c; mx = math.max(mx, e.ts_us) }
          state.update((n, sum, mx))
          UserStat(uid, n, sum, mx)
      }
    drain(s, stats.toDF(), "st7_out", OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value_c"), col("last_ts_us"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.sum_value_c").as("sum_value_c"), col("m.last_ts_us").as("last_ts_us"))
      .orderBy("user_id")
  }
  val st7Sql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
      |       max(epoch_us(ts)) AS last_ts_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** ST6: stream-static join — the streaming scan joined to a BROADCAST
    * static dimension (here: per-type weights derived from the batch side),
    * the shape every production enrichment pipeline uses: no state store at
    * all, the dim rebroadcasts per micro-batch, and the stream side never
    * shuffles for the join. */
  val st6: Q = (s, d) => {
    val dim = graft.Tables.events(s, d)
      .groupBy("event_type").agg(count(lit(1)).as("type_n"))
    val joined = eventStream(s, d)
      .join(org.apache.spark.sql.functions.broadcast(dim), "event_type")
      .groupBy("event_type", "type_n")
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
    drain(s, joined, "st6_out", OutputMode.Complete())
      .select(col("event_type"), col("type_n"), col("n"), col("sum_value_c"))
      .orderBy("event_type")
  }
  val st6Sql: String =
    """SELECT e.event_type, t.type_n, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
      |FROM events e
      |JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS type_n
      |      FROM events GROUP BY event_type) t ON e.event_type = t.event_type
      |GROUP BY e.event_type, t.type_n ORDER BY e.event_type""".stripMargin

  /** ST8: the BUILT-IN `session_window` aggregation — the stock
    * counterpart to st3's arbitrary-stateful sessionization. State and
    * emission are fully managed by Spark (merging session state store,
    * append-on-watermark); the flush sentinel finalizes the tail sessions
    * under the bounded drain. Semantics differ from st3/e3 in ONE
    * documented way: the built-in closes a session when the next event is
    * `>= gap` after the last (st3 keeps an exactly-gap event), and the
    * emitted window end is `last_ts + gap` — so st8 carries its own
    * oracle rather than reusing e3's. */
  val st8: Q = (s, d) => {
    val agg = eventStream(s, d, variant = "st8_", flushSentinel = true)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("sum_value_c"))
    drain(s, agg, "st8_out", OutputMode.Append())
      .filter(col("user_id") >= 0) // drop the watermark-flush sentinel user
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value_c"))
      .orderBy("user_id", "session_start")
  }
  val st8Sql: String =
    """WITH m AS (
      |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS v,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM m)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 10 MINUTE AS session_end,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(v) AS BIGINT) AS sum_value_c
      |FROM g GROUP BY user_id, grp ORDER BY user_id, session_start""".stripMargin

  /** ST9: the DURABLE sink path — append-mode watermarked tumbling windows
    * written to a parquet FILE SINK with a checkpoint (exactly-once via
    * the sink's transaction log), then read back. The memory sinks in
    * st1–st8 are the bounded-drain test harness; this is the shape a
    * production job ships: `writeStream.format("parquet")` + checkpoint
    * recovery. Append emits a window only once the watermark closes it —
    * the flush sentinel closes every real window, and its own far-future
    * window is filtered on read-back. Result: identical rows to the e1
    * batch oracle. */
  val st9: Q = (s, d) => {
    val agg = eventStream(s, d, variant = "st9_", flushSentinel = true)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_c"))
    val outDir = Files.createTempDirectory("graft_st9_sink").toString
    runBounded(s, "st9", agg.writeStream.format("parquet")
      .option("path", outDir)
      .outputMode(OutputMode.Append()))
    val maxRealTs = graft.Tables.events(s, d).agg(max(col("ts"))).head().getTimestamp(0)
    s.read.parquet(outDir)
      .filter(col("window_start") <= lit(maxRealTs)) // drop the sentinel's window
      .orderBy("window_start", "event_type")
  }

  /** ST10: streaming incremental MV maintenance via foreachBatch — each
    * micro-batch aggregates ONLY its delta and sum-merges it into the
    * stored aggregate (the streaming mirror of batch `mv1`; a keyed sum
    * over a commutative monoid ⟹ the final MV equals the global
    * aggregate REGARDLESS of batch boundaries, which the batch oracle
    * proves). Exactly-once comes from [[generations]]. */
  val st10: Q = (s, d) => {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = replayStream(s, d, "st10", "events", "event_id")
      .select(col("event_type"), cents(col("value")).as("v_c"))
    val gens = generations(src, "st10") { (batch, prior, gen) =>
      keyedSum(batch.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("v_c").as("sum_c")), prior, "event_type")
        .write.mode("overwrite").parquet(gen)
    }
    s.read.parquet(gens.last).orderBy("event_type")
  }
  val st10Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** SRC2: the custom DSv2 source read as a STREAM — the same
    * `graft.sources.GraftDocsSource` interval drained through
    * micro-batches (admission control caps 500 rows/batch; AvailableNow
    * runs 4 bounded batches). Rows are pure index functions, so the
    * streamed table is bit-identical to the batch read and the batch SQL
    * oracle verifies it. */
  val src2: Q = (s, _) => {
    val out = s.readStream.format("graft.sources.GraftDocsSource")
      .option("rows", "2000").option("streamBatchRows", "500").load()
    drain(s, out, "src2_custom_source_stream", OutputMode.Append())
      .orderBy("doc_id")
  }
  val src2Sql: String =
    """SELECT i AS doc_id,
      |       CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS lang,
      |       concat('doc ', CAST(i AS VARCHAR), ' ', md5(CAST(i AS VARCHAR))) AS text
      |FROM range(0, 2000) t(i) ORDER BY 1""".stripMargin

  /** ST11: streaming data-quality counters — the streaming face of batch
    * `dq1`: each micro-batch computes its delta of expectation-violation
    * CASE-sums (one map-side aggregate over the batch), and foreachBatch
    * merges them additively into the stored counters ([[generations]]).
    * Counter merge is a commutative monoid, so the final report equals
    * the batch aggregate REGARDLESS of batch boundaries — which the batch
    * oracle proves. The value expectation (≤ 90.00) is deliberately tight so
    * violations are nonzero. */
  val st11: Q = (s, d) => {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = replayStream(s, d, "st11", "events", "event_id")
      .select(col("user_id"), col("event_type"), cents(col("value")).as("v_c"))
    val checks: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "c1_user_not_null" -> col("user_id").isNull,
      "c2_type_domain" -> (col("event_type").isNull ||
        !col("event_type").isin("click", "view", "error", "purchase", "signup")),
      "c3_value_le_90" -> (col("v_c").isNull || col("v_c") > 9000L))
    val gens = generations(src, "st11") { (batch, prior, gen) =>
      keyedSum(graft.ops.ScaleOps.expectationsOf(batch, checks), prior, "check_name")
        .write.mode("overwrite").parquet(gen)
    }
    s.read.parquet(gens.last).orderBy("check_name")
  }
  val st11Sql: String =
    s"""WITH agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN event_type IS NULL OR event_type NOT IN
       |           ('click', 'view', 'error', 'purchase', 'signup') THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |         CAST(sum(CASE WHEN value IS NULL OR ${graft.ops.Money.centsSql("value")} > 9000
       |           THEN 1 ELSE 0 END) AS BIGINT) AS c3
       |  FROM events)
       |SELECT 'c1_user_not_null' AS check_name, n_rows, c1 AS n_violations FROM agg
       |UNION ALL SELECT 'c2_type_domain', n_rows, c2 FROM agg
       |UNION ALL SELECT 'c3_value_le_90', n_rows, c3 FROM agg
       |ORDER BY check_name""".stripMargin

  /** Fingerprint of a parquet fixture (single file or directory): md5 over
    * every member file's (name, length, mtime). Staged replay copies are
    * reused only when their recorded stamp equals the CURRENT fixture's
    * fingerprint, so a regenerated fixture restages instead of silently
    * replaying stale data (round-8 advice: the old reuse gate was
    * any-parquet-exists, which a crashed or outdated stage also passes). */
  private def fixtureStamp(path: String): String = {
    val root = new java.io.File(path)
    val members = if (root.isDirectory) root.listFiles().sortBy(_.getName) else Array(root)
    val sig = members.map(m => s"${m.getName}:${m.length}:${m.lastModified}").mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Per-JVM suffix for staged replay dirs: two JVMs sharing
    * java.io.tmpdir (a bench sweep next to a verify run) must never
    * overwrite each other's staged files mid-replay (round-8 advice) —
    * per-process dirs make the race impossible by construction; the
    * staging cost is charged once per JVM, to the first (cold) use. */
  private val jvmTag: String = s"pid${ProcessHandle.current().pid()}"

  /** Stage fixture table `table` split into 4 `key`-range files — the
    * source of every [[replayStream]]. Reuse (within this JVM's staging
    * dir) is gated on the source fixture's content stamp. */
  private def stagedTableSplit(s: SparkSession, d: String, tag: String,
      table: String, key: String): String = {
    val srcDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_stream_src_${tag}_${jvmTag}_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val stampFile = srcDir.resolve("_stamp_" + fixtureStamp(s"$d/$table.parquet"))
    if (!Files.isDirectory(srcDir) || !Files.exists(stampFile)) {
      s.read.parquet(s"$d/$table.parquet")
        .repartitionByRange(4, col(key))
        .write.mode("overwrite").parquet(srcDir.toString) // wipes old stamps too
      // leading "_" keeps the stamp invisible to Spark's file listing
      Files.createFile(stampFile)
    }
    srcDir.toString
  }

  case class BandRow(doc_id: Long, bucket: String)
  case class PairOut(id_a: Long, id_b: Long)

  /** Staged parquet replay source shared by st12/st13, fixed per round-7
    * advice: the old per-query staging skipped the write whenever ANY
    * .parquet existed, so a stale or partially-written dir (crashed run,
    * older corpus definition) was silently replayed. Now (a) the dir name
    * carries a fixture VERSION — bump it whenever `Dedup.corpus` or this
    * layout changes and old dirs become unreachable by construction — and
    * (b) the first use in each JVM OVERWRITES unconditionally; only
    * later same-JVM calls reuse (st12 and st13 replay the identical
    * corpus, so one write serves both).
    *
    * The write also makes the replay order DETERMINISTIC, which upgrades
    * st13 from rows-only to exact-oracle: `repartitionByRange(4, doc_id)`
    * puts the k-th doc_id range in part-file k, and each part file gets a
    * strictly increasing mod-time in file-name order. FileStreamSource
    * consumes oldest-first (latestFirst=false), so with
    * maxFilesPerTrigger=1 the global arrival order is ascending doc_id —
    * "the first `cap` arrivals per bucket" is then exactly "the `cap`
    * smallest doc_ids per bucket", a batch-expressible property.
    *
    * ROUND-9 SCALING FIX: the replay keeps 4 micro-batches but each range
    * chunk is now [[NeardupFilesPerBatch]] files instead of 1, consumed
    * with maxFilesPerTrigger = [[NeardupFilesPerBatch]]. With 1 file per
    * trigger the expensive band-key projection (split + md5 per shingle)
    * ran on a SINGLE scan task per batch — profiled at sf1, ~85% of the
    * 90 s drain was that serial map side, while the 32 state-store tasks'
    * summed update+commit time amounted to <1 s of wall. Multi-file
    * chunks give the scan 32-way parallelism with zero semantic change:
    * batch k still holds a contiguous ascending doc_id range (files are
    * mod-time-ordered within and across chunks), and the state function
    * sorts each batch's per-bucket arrivals, so st13's "cap smallest
    * doc_ids win" oracle is untouched. */
  private[streaming] val NeardupFilesPerBatch = 32
  private val stagedOnce = scala.collection.mutable.Set.empty[String]
  private def stagedNeardupSrc(s: SparkSession, d: String): String = {
    // per-JVM dir (see jvmTag): a concurrent bench/verify JVM pair sharing
    // java.io.tmpdir can no longer overwrite + re-stamp these files while
    // the other JVM's FileStreamSource is mid-replay (round-8 advice) —
    // st13's exact arrival-order oracle depends on the stamps staying put
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_stream_src_neardup_v3_${jvmTag}_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    stagedOnce.synchronized {
      if (!stagedOnce.contains(dir.toString)) {
        graft.ops.Dedup.corpus(s, d)
          .repartitionByRange(4 * NeardupFilesPerBatch, col("doc_id"))
          .write.mode("overwrite").parquet(dir.toString)
        // part-file name order == doc_id range order (repartitionByRange),
        // so stamping ascending mod-times in name order makes the
        // FileStreamSource (oldest-first) arrival order ascending doc_id.
        // Empty range partitions write no file — harmless, order holds.
        val parts = new java.io.File(dir.toString).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val t0 = System.currentTimeMillis() - 1000L * (parts.length + 1)
        parts.zipWithIndex.foreach { case (p, i) =>
          require(p.setLastModified(t0 + 1000L * i),
            s"cannot stamp mod-time on $p — replay order would be undefined")
        }
        stagedOnce += dir.toString
      }
    }
    dir.toString
  }

  /** ST12: STREAMING near-dup candidate detection — the dedup family's
    * incremental face: as documents arrive, each row's MinHash band keys
    * are computed MAP-SIDE (the per-row native shingle-hash and MinHash
    * kernel of `Dedup.sigSetsOf` — no aggregation needed, so the stream stays
    * stateless until the bucket grouping), and `flatMapGroupsWithState`
    * keyed by (band, key) holds the doc_ids seen per bucket, emitting a
    * candidate pair the moment a new arrival lands in a non-empty
    * bucket. Emission is order-independent (every same-bucket pair
    * appears exactly once per bucket, whichever element arrives later),
    * so the drained output equals the BATCH band join — the oracle.
    * State per bucket is the doc_id list; banding keeps buckets small by
    * construction (the same property the batch join relies on) — a
    * production deployment adds d5's bucket cap + a watermark-based
    * state TTL, both omitted here to keep the batch equivalence exact. */
  val st12: Q = (s, d) => bucketPairs(s, d, Int.MaxValue, "st12_out")
  val st12Sql: String = graft.ops.Dedup.bandCandidatePairsSql

  /** st13's per-bucket state cap — same magnitude as d5's batch skew
    * guard (`Dedup.MaxBucket`). */
  private val St13MaxBucket = 50

  /** ST13: st12's PRODUCTION shape — the per-bucket doc list is capped:
    * once a band bucket holds [[St13MaxBucket]] ids, later arrivals in
    * that bucket neither emit pairs nor grow state, so a degenerate hot
    * key (the streaming face of d5's skew guard) has bounded state AND
    * bounded output forever. The cap makes the result arrival-order-
    * dependent (the first `cap` arrivals win) — but the staged replay's
    * arrival order is deterministic ascending doc_id (see
    * [[stagedNeardupSrc]]), so "first `cap` arrivals per bucket" IS
    * batch-expressible: `row_number() OVER (PARTITION BY bucket ORDER BY
    * doc_id) <= cap`, then pairs among the kept members — [[st13Sql]],
    * an exact hash-checked oracle (rows-only in rounds ≤7).
    * `StreamsSpec` additionally pins the order-free invariants (capped ⊆
    * uncapped; equality when no bucket overflows). A real deployment
    * would also set a watermark state TTL; the fixture documents carry
    * no event time, so that knob has nothing observable to do here and
    * is omitted. */
  val st13: Q = (s, d) => bucketPairs(s, d, St13MaxBucket, "st13_out")

  /** st12's and st13's one body: the staged near-dup replay's band keys,
    * grouped by bucket, with the bucket's doc_id list as state. A new
    * arrival pairs with every member, then joins the bucket while it
    * holds fewer than `cap` ids (st12 passes `Int.MaxValue`: no cap). */
  private def bucketPairs(s: SparkSession, d: String, cap: Int, name: String): DataFrame = {
    import s.implicits._
    val srcDir = stagedNeardupSrc(s, d)
    val schema = s.read.parquet(srcDir).schema
    val banded = graft.ops.Dedup.minhashBandKeysOf(
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", NeardupFilesPerBatch.toString)
        .parquet(srcDir))
      .as[BandRow]
    val pairs = banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[Seq[Long], PairOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[BandRow], state: GroupState[Seq[Long]]) =>
          val seen = state.getOption.getOrElse(Seq.empty)
          val incoming = it.map(_.doc_id).toSeq.distinct.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[PairOut]
          var acc = seen
          incoming.foreach { id =>
            // the cap: a full bucket ignores new members entirely
            if (!acc.contains(id) && acc.size < cap) {
              acc.foreach(o => out += PairOut(math.min(o, id), math.max(o, id)))
              acc = acc :+ id
            }
          }
          state.update(acc)
          out.iterator
      }
    drain(s, pairs.toDF(), name, OutputMode.Append())
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Batch oracle for the CAPPED stream: arrival order is ascending
    * doc_id ([[stagedNeardupSrc]]), so the bucket membership the stream
    * converges to is the `St13MaxBucket` smallest doc_ids per (band, bi)
    * bucket, and the emitted pairs are all pairs among those members. */
  val st13Sql: String = {
    val P = graft.ops.Dedup.MhP
    s"""WITH ${graft.ops.Dedup.minhashCte},
       |bands AS (
       |  SELECT doc_id, mh0 * $P + mh1 AS band, 0 AS bi FROM minhash
       |  UNION ALL
       |  SELECT doc_id, mh2 * $P + mh3 AS band, 1 AS bi FROM minhash),
       |kept AS (
       |  SELECT doc_id, band, bi FROM (
       |    SELECT doc_id, band, bi,
       |           row_number() OVER (PARTITION BY band, bi ORDER BY doc_id) AS rn
       |    FROM bands)
       |  WHERE rn <= $St13MaxBucket)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM kept a JOIN kept b
       |  ON a.band = b.band AND a.bi = b.bi AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- ST14: streaming trajectory assembly (traj1's contract) ----

  /** ST14: Curation.traj1's session-trajectory assembly as a watermarked
    * APPEND-mode streaming aggregation — 10-minute tumbling buckets per
    * user collect their turn structs in state; the path is assembled
    * AFTER emission by `array_sort` over (ts, event_id, type), so the
    * drained result is arrival-order-INDEPENDENT and hash-matches the
    * batch traj1 oracle bit-for-bit. The watermark bounds state (a
    * bucket's turn list lives only until the watermark passes its window
    * end; the flush sentinel closes the tail buckets) — the production
    * shape for turning a live event feed into training trajectories. */
  val st14: Q = (s, d) => {
    val agg = eventStream(s, d, variant = "st14_", flushSentinel = true)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
      .agg(collect_list(struct(col("ts"), col("event_id"), col("event_type"))).as("turns"))
    drain(s, agg, "st14_out", OutputMode.Append())
      .filter(col("user_id") >= 0) // drop the watermark-flush sentinel user
      .select(col("user_id"),
        expr("unix_micros(window.start) div 600000000").as("bkt"),
        expr("CAST(size(turns) AS BIGINT)").as("n_turns"),
        expr("array_join(transform(array_sort(turns), x -> x.event_type), '>')").as("path"))
      .select(col("user_id"), col("bkt"), col("n_turns"),
        expr("element_at(split(path, '>'), 1)").as("first_type"),
        expr("element_at(split(path, '>'), -1)").as("last_type"),
        md5(col("path")).as("path_md5"))
      .orderBy("user_id", "bkt")
  }

  /** ST15: streaming distribution-drift monitor — the streaming face of
    * batch `dq3`: each micro-batch aggregates ONLY its delta of
    * (source, length-bin) counts and foreachBatch merges them additively
    * into the stored bin histogram ([[generations]]; count merge is a
    * commutative monoid, so the final histogram equals the batch one
    * regardless of batch boundaries). The PSI itself is
    * then computed from the stored counts through the SAME code path as
    * dq3 ([[graft.ops.Evaluation.psiFromBinCounts]]) — the streaming
    * answer is bit-identical to batch, which the shared DuckDB oracle
    * proves. At 100 TB/day this is the shape of a live drift monitor:
    * per-batch state is |sources|·11 integers, reading it is O(1), and
    * the alert threshold (PSI > 0.2) is an exact integer comparison. */
  val st15: Q = (s, d) => {
    val src = replayStream(s, d, "st15", "documents", "doc_id")
      .select(col("source"), expr("least(n_chars div 50, 10L)").as("bin"))
    val gens = generations(src, "st15") { (batch, prior, gen) =>
      keyedSum(batch.groupBy("source", "bin").agg(count(lit(1)).as("c")),
          prior, "source", "bin")
        .write.mode("overwrite").parquet(gen)
    }
    graft.ops.Evaluation.psiFromBinCounts(s.read.parquet(gens.last), "src0")
      .orderBy("source")
  }

  /** ST16: live distinct-vocabulary monitor — the streaming face of
    * apx6's KMV sketch, and the payoff of its PROVEN mergeability: each
    * micro-batch contributes its own bottom-k sketch, the stored state is
    * re-cut to the k smallest of (prior ∪ delta), and because min-k of
    * unioned min-k sets equals min-k of the union (`ScaleOpsSpec`), the
    * final stored sketch — hence hk and the estimate — is BIT-IDENTICAL
    * to the batch apx6 sketch regardless of batch boundaries, which the
    * shared-construction DuckDB oracle proves. State is |langs|·256
    * longs no matter how much text streams past; this is the shape of a
    * live cardinality monitor at 100 TB/day (estimate reads are O(k),
    * no rescan ever). */
  val st16: Q = (s, d) => {
    val src = replayStream(s, d, "st16", "documents", "doc_id")
      .select(col("lang").as("grp"), explode(split(col("text"), " ")).as("v"))
      .filter(length(col("v")) > 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("h")
    val gens = generations(src, "st16") { (batch, prior, gen) =>
      val delta = graft.ops.ScaleOps.kmvSketchOf(batch, 256)
      prior.fold(delta)(p => batch.sparkSession.read.parquet(p).union(delta).distinct())
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 256)
        .select("grp", "h")
        .write.mode("overwrite").parquet(gen)
    }
    // n_sk < k means the sketch IS the exhaustive hash set, so the
    // estimate is exact — the same convention as apx6's est column
    s.read.parquet(gens.last)
      .groupBy("grp").agg(max("h").as("hk"), count(lit(1)).as("n_sk"))
      .withColumn("est", when(col("n_sk") < 256, col("n_sk"))
        .otherwise(expr(
          "CAST(CAST(255 AS DECIMAL(38,0)) * CAST(1152921504606846976 AS DECIMAL(38,0)) div hk AS BIGINT)")))
      .select(col("grp").as("lang"), col("n_sk"), col("hk"), col("est"))
      .orderBy("lang")
  }
  val st16Sql: String =
    """WITH toks AS (
      |  SELECT lang AS grp, unnest(str_split(text, ' ')) AS v FROM documents),
      |hs AS (
      |  SELECT DISTINCT grp, ('0x' || substr(md5('kmv:' || v), 1, 15))::BIGINT AS h
      |  FROM toks WHERE len(v) > 0),
      |rk AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk FROM hs),
      |sk AS (SELECT grp, max(h) AS hk, count(*) AS n_sk FROM rk WHERE rk <= 256 GROUP BY grp)
      |SELECT grp AS lang, CAST(n_sk AS BIGINT) AS n_sk, CAST(hk AS BIGINT) AS hk,
      |       CAST(CASE WHEN n_sk < 256 THEN n_sk::HUGEINT
      |            ELSE (255::HUGEINT * 1152921504606846976::HUGEINT) // hk
      |            END AS BIGINT) AS est
      |FROM sk ORDER BY lang""".stripMargin

  /** ST17: live decontamination gate — the streaming face of d19. The
    * eval set is OFFLINE (fixed benchmark suite), so its winnowing
    * fingerprint set is computed once from the static table and
    * localCheckpointed; each micro-batch of incoming documents probes it
    * with d19's exact construction (winnow → explode → broadcast join →
    * per-doc hit counts) and writes its flagged rows to its own
    * generation dir ([[generations]]). The probe is STATELESS — every
    * doc arrives in exactly one batch — so the union of batch outputs
    * is bit-identical to batch d19, which the shared oracle proves.
    * This is the admission-control shape at 100 TB/day: per-batch cost
    * is the batch's own winnowing projection plus one broadcast join;
    * nothing accumulates. */
  val st17: Q = (s, d) => {
    val src = replayStream(s, d, "st17", "documents", "doc_id")
    // pinned for the stream's lifetime (broadcast side of every batch),
    // freed once the bounded run completes
    val (evalFps, freeFps) = graft.ops.Pinned.checkpoint(
      graft.ops.TextAnalysis.fingerprintRowsOf(
          s.read.parquet(s"$d/documents.parquet").filter(col("doc_id") % 97 === 0))
        .select(col("fp")).distinct()
        .withColumn("hit", lit(1)))
    val gens = try generations(src, "st17") { (batch, _, gen) =>
      // fingerprintRowsOf checkpoints internally — scope the batch so
      // its pin is freed per micro-batch, not accumulated per batch
      graft.ops.Pinned.scoped(batch.sparkSession) {
        graft.ops.TextAnalysis
          .fingerprintRowsOf(batch.filter(col("doc_id") % 97 =!= 0))
          .join(broadcast(evalFps), Seq("fp"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fps"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
          .withColumn("flagged", when(col("n_hits") > 0, 1).otherwise(0))
          .select("doc_id", "n_fps", "n_hits", "flagged")
          .write.mode("overwrite").parquet(gen)
      }
    } finally freeFps() // every batch's broadcast probe is written out by now
    s.read.parquet(gens: _*).orderBy("doc_id")
  }

  // ---- ST18: streaming Benford first-digit monitor ----

  /** ST18: dq5's fabricated-numbers audit as a STREAMING monitor — the
    * shape a payments/ingest pipeline actually wants it in (flag the
    * feed the day it goes weird, not at month-end). Per micro-batch the
    * incoming money values reduce to a 9-row digit-count delta; deltas
    * merge into generation-dir state by plain addition (counts are the
    * trivially-mergeable sketch — the st16 KMV discipline, simpler), so
    * state is ≤ 9 rows FOREVER and the final generation equals the batch
    * computation bit-for-bit. Oracle: dq5's own SQL — the streaming
    * answer must be indistinguishable from batch. */
  val st18: Q = (s, d) => {
    val src = replayStream(s, d, "st18", "lineitem", "l_orderkey")
      .select(graft.ops.Money.cents(col("l_extendedprice")).as("v"))
      .filter(col("v") > 0)
      .select(graft.ops.Evaluation.firstDigit("v").as("digit"))
    val gens = generations(src, "st18") { (batch, prior, gen) =>
      // 9-row state: one file per generation is the right physical shape
      keyedSum(batch.groupBy("digit").agg(count(lit(1)).as("n_obs")), prior, "digit")
        .coalesce(1).write.mode("overwrite").parquet(gen)
    }
    graft.ops.Evaluation.benfordFromCounts(s.read.parquet(gens.last))
      .orderBy("digit")
  }

  // ---- ST19: streaming Markov transition counts (markov1's live face) ----

  case class EvT(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  case class LastEv(ts_us: Long, event_id: Long, event_type: String)
  case class Trans(cur_type: String, nxt_type: String)

  /** ST19: the per-user transition steps of markov1 extracted
    * incrementally — state per user is ONE (ts, id, type) triple (the
    * last event seen), each micro-batch sorts only ITS OWN per-user
    * slice (bounded by batch size, never the history) and emits the
    * adjacent steps, including the one that crosses the batch boundary
    * through the stored triple. Transition counting then rides a normal
    * streaming-side batch aggregate after the drain; the final matrix is
    * bit-identical to batch markov1 (its SQL is the oracle).
    *
    * Ordering contract: per-key event-time order ACROSS micro-batches
    * (the staged replay is mod-time ordered; a production deployment
    * with out-of-order arrival would buffer under a watermark first —
    * st3's EventTimeTimeout shape). State never grows with history:
    * one triple per user, forever. */
  val st19: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val evs: Dataset[EvT] = eventStream(s, d, variant = "st19_")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[EvT]
    val steps = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Trans](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[EvT], state: GroupState[LastEv]) =>
          val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_id))
          var prev = state.getOption
          val out = Vector.newBuilder[Trans]
          sorted.foreach { e =>
            prev.foreach(p => out += Trans(p.event_type, e.event_type))
            prev = Some(LastEv(e.ts_us, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
    drain(s, steps.toDF(), "st19_out", OutputMode.Append())
      .groupBy("cur_type", "nxt_type")
      .agg(count(lit(1)).as("c"))
      .withColumn("row_n",
        sum("c").over(org.apache.spark.sql.expressions.Window.partitionBy("cur_type")))
      .withColumn("p_bp", expr("c * 10000 div row_n"))
      .orderBy("cur_type", "nxt_type")
  }

  // ---- ST20: streaming skip-gram pair accumulation (w2v1's live face) ----

  /** ST20: w2v1's skip-gram co-occurrence table maintained INCREMENTALLY
    * — the embedding-training statistic a continuously-ingesting corpus
    * pipeline keeps warm instead of recomputing. Per micro-batch the
    * batch's documents emit their window-2 pairs ROW-LOCALLY (w2v1's
    * zip-of-slices projection — each doc lives in exactly one batch, so
    * pair deltas partition the corpus), and deltas merge into
    * generation-dir state by plain count addition (counts are the
    * trivially-mergeable sketch — the st18 discipline). State is
    * vocabulary²-bounded, never corpus-bounded; the final generation cut
    * at min-support is bit-identical to batch w2v1, which the shared
    * oracle proves. */
  val st20: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st20", "documents", "doc_id"), "st20") {
      (batch, prior, gen) =>
        keyedSum(graft.ops.TextAnalysis.skipgramPairsOf(batch, minSupport = 1L), prior,
            "center", "context")
          .write.mode("overwrite").parquet(gen)
    }
    s.read.parquet(gens.last)
      .filter(col("n_pairs") >= 30L)
      .orderBy("center", "context")
  }

  /** ST21: streaming term-burstiness monitor — the streaming face of
    * batch t27, and the payoff of its sufficient-statistics form: per
    * micro-batch the (w → df, S1, S2) triple is computed over ONLY the
    * batch's documents and merged ADDITIVELY into the stored table
    * (docs are whole within a batch, so per-doc counts — hence all
    * three statistics — are exact batch-local partials); the document
    * count rides a 1-row meta table. The final VMR cut runs through the
    * SAME code path as t27 ([[graft.ops.TextAnalysis.burstinessFromStats]]),
    * so the drained top-k is bit-identical to batch regardless of batch
    * boundaries — proven by the shared DuckDB oracle. State is
    * vocabulary-sized (3 longs per term) no matter how much text
    * streams past. The live-corpus boilerplate alarm at 100 TB/day: reading
    * the current top-k is a vocab-bounded scan, never a corpus rescan. */
  val st21: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st21", "documents", "doc_id"), "st21") {
      (batch, prior, gen) =>
        // one staging of the batch for stats + count; freed before the
        // step exits — an untracked per-batch checkpoint pins one
        // block set PER MICRO-BATCH for the session's lifetime.
        // LAZY (round-17): the count below is the first action and
        // materializes the blocks itself — the eager form paid a separate
        // driver action per micro-batch computing exactly what the count
        // recomputes; the stats write then reads the stored blocks.
        val (b, freeB) = graft.ops.Pinned.checkpoint(batch, eager = false)
        val nDocs = b.count() + prior.fold(0L)(p =>
          batch.sparkSession.read.parquet(s"$p/meta").head().getLong(0))
        keyedSum(graft.ops.TextAnalysis.burstinessStatsOf(b), prior.map(p => s"$p/stats"), "w")
          .write.mode("overwrite").parquet(s"$gen/stats")
        batch.sparkSession.range(1).select(lit(nDocs).as("n_docs"))
          .write.mode("overwrite").parquet(s"$gen/meta")
        freeB() // every consumer of the staged batch is materialized above
    }
    graft.ops.TextAnalysis.burstinessFromStats(
      s.read.parquet(s"${gens.last}/stats"), s.read.parquet(s"${gens.last}/meta"), 50L, 20)
  }

  /** ST22: streaming RFM maintenance — the live buyer-base monitor: per
    * micro-batch, the purchases' per-user (max last_us, count, Σcents)
    * partials merge into the stored buyer table by a full-outer
    * max/sum/sum (every column a mergeable monoid, so the stored table
    * is batch-boundary-independent — the same argument as st15/st21);
    * the quartile scoring + segment cut then run through e12's own
    * [[graft.ops.Events.rfmSegmentsFromPerUser]] (PrefixSum global
    * ranks), so the drained segment table is bit-identical to batch —
    * proven by the shared DuckDB oracle. State is buyer-bounded (3
    * longs per purchasing user), never event-volume-bounded. */
  val st22: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st22", "events", "event_id"), "st22") {
      (batch, prior, gen) =>
        // the staged file surfaces ts as its physical type — run it
        // through the same normalization every batch consumer uses
        val delta = graft.ops.Events.rfmPerUserOf(graft.Tables.normalizeEventTs(batch))
        prior.fold(delta)(p => batch.sparkSession.read.parquet(p).unionAll(delta)
            .groupBy("user_id")
            .agg(max("last_us").as("last_us"), sum("freq").as("freq"), sum("cents").as("cents")))
          .write.mode("overwrite").parquet(gen)
    }
    graft.ops.Events.rfmSegmentsFromPerUser(s.read.parquet(gens.last))
  }

  /** ST23: streaming t-closeness monitor — the live release-audit face
    * of batch priv5: the (QI, segment) count table is an additive
    * monoid, so each micro-batch's deltas merge full-outer into the
    * stored table and the t-closeness cut runs through priv5's own
    * [[graft.ops.Curation.tClosenessFromSegCounts]] — group sizes,
    * global histogram and corpus total are all sums over that one
    * table, so stream == batch bit-for-bit (shared DuckDB oracle).
    * State is QI-domain × segments integers regardless of row volume —
    * the continuous-compliance shape: a group drifting over t = 0.2
    * flips its flag as the data arrives, no rescan. */
  val st23: Q = (s, d) => {
    val src = replayStream(s, d, "st23", "customer", "c_custkey")
      .select(col("c_nationkey"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_k"),
        col("c_mktsegment").as("sens"))
    val gens = generations(src, "st23") { (batch, prior, gen) =>
      keyedSum(batch.groupBy("c_nationkey", "bal_k", "sens").agg(count(lit(1)).as("c")),
          prior, "c_nationkey", "bal_k", "sens")
        .write.mode("overwrite").parquet(gen)
    }
    graft.ops.Curation.tClosenessFromSegCounts(
      s.read.parquet(gens.last), Seq("c_nationkey", "bal_k"))
  }

  // ---- ST24: streaming CUSUM mean-shift monitor ----

  case class CuEv(event_type: String, ts_us: Long, event_id: Long, cents: Long)
  case class CuState(p: Long, minp: Long)
  case class CuPoint(event_type: String, ts_us: Long, event_id: Long,
      d: Long, cusum: Long)

  /** CUSUM reference value k (cents): the in-control mean the monitor
    * charges against — deviations above it accumulate. */
  private[graft] val St24RefCents = 5000L
  /** CUSUM alarm threshold h (cents of accumulated drift). */
  private[graft] val St24AlarmCents = 100000L

  /** ST24: a streaming CUSUM (Page 1954) mean-shift monitor per event
    * type — the sequential change-point detector a pipeline points at an
    * incoming feed's value stream to catch upward drift (price/latency/
    * score creep) long before a per-window mean test fires. The CUSUM
    * recurrence S_t = max(0, S_{t−1} + (x_t − k)) is non-associative,
    * but it has the exact closed form S_t = P_t − min_{0≤j≤t} P_j over
    * the deviation prefix sums P — so per-key state is just TWO longs
    * (running P, running min P), each micro-batch sorts only its own
    * per-key slice (st19's ordering contract), and the emitted per-event
    * CUSUM path is bit-identical to the batch window computation, which
    * is the oracle. Output per event type: event count, the CUSUM
    * maximum (the drift high-water mark), its final value, and the first
    * event time the alarm threshold h was crossed (NULL if never).
    *
    * Exactness: all cents-integer arithmetic (the Money convention);
    * sums/extrema of longs. Scale: state is 2 longs per key forever;
    * the per-batch sort is bounded by the batch's own slice, never
    * history; the post-drain rollup is one small aggregate. */
  val st24: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val evs: Dataset[CuEv] = eventStream(s, d, variant = "st24_")
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), cents(col("value")).as("cents"))
      .as[CuEv]
    val pts = evs.groupByKey(_.event_type)
      .flatMapGroupsWithState[CuState, CuPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, it: Iterator[CuEv], state: GroupState[CuState]) =>
          val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.getOrElse(CuState(0L, 0L))
          val out = Vector.newBuilder[CuPoint]
          sorted.foreach { e =>
            val dev = e.cents - St24RefCents
            val p = st.p + dev
            val minp = math.min(st.minp, p)
            st = CuState(p, minp)
            out += CuPoint(k, e.ts_us, e.event_id, dev, p - minp)
          }
          state.update(st)
          out.result().iterator
      }
    drain(s, pts.toDF(), "st24_out", OutputMode.Append())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max("cusum").as("max_cusum"),
        max(struct(col("ts_us"), col("event_id"), col("cusum")))
          .getField("cusum").as("final_cusum"),
        min(when(col("cusum") >= St24AlarmCents, col("ts_us"))).as("alarm_ts_us"))
      .orderBy("event_type")
  }
  val st24Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
       |         ${graft.ops.Money.centsSql("value")} - $St24RefCents AS d
       |  FROM events),
       |p AS (
       |  SELECT event_type, ts_us, event_id, d,
       |         sum(d) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
       |                      ROWS UNBOUNDED PRECEDING) AS pf
       |  FROM e),
       |c AS (
       |  SELECT event_type, ts_us, d, pf,
       |         pf - least(0, min(pf) OVER (PARTITION BY event_type
       |           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)) AS cusum
       |  FROM p)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |       CAST(max(cusum) AS BIGINT) AS max_cusum,
       |       CAST(sum(d) - least(0, min(pf)) AS BIGINT) AS final_cusum,
       |       CAST(min(CASE WHEN cusum >= $St24AlarmCents THEN ts_us END) AS BIGINT) AS alarm_ts_us
       |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- ST25: streaming isotropy monitor ----

  /** ST25: streaming embedding-isotropy maintenance — the live face of
    * batch emb7 for an embedding feed (e.g. a vectorization service
    * whose output drifts toward a collapsed, anisotropic cone as the
    * upstream encoder degrades). emb7's sufficient statistics are BOTH
    * additive monoids — the per-(label, dim) component sums and the
    * per-label (n, Σ|q|²) norm sums — so each micro-batch's deltas
    * merge by plain full-outer SUM into two stored tables (state:
    * labels×64 + labels rows of integers, never vector-volume-bounded),
    * and the final cut runs through emb7's own
    * [[graft.ops.Similarity.isotropyFromStats]] — stream == batch
    * bit-for-bit, proven by the shared DuckDB oracle (`emb7Sql`). */
  val st25: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st25", "embeddings", "vec_id"), "st25") {
      (batch, prior, gen) =>
        // one staging for both stat halves; freed before the step
        // exits. LAZY (round-17): the dims write below is the first
        // action — a plain aggregate over the staged batch, so it
        // materializes the blocks in its own job wave and the norms
        // write reads them; the eager form paid a separate driver action
        // per micro-batch for the same materialization.
        val (b, freeB) = graft.ops.Pinned.checkpoint(batch, eager = false)
        keyedSum(graft.ops.Similarity.isotropyDimStatsOf(b), prior.map(p => s"$p/dims"),
            "label", "j")
          .write.mode("overwrite").parquet(s"$gen/dims")
        keyedSum(graft.ops.Similarity.isotropyNormStatsOf(b), prior.map(p => s"$p/norms"),
            "label")
          .write.mode("overwrite").parquet(s"$gen/norms")
        freeB() // both stat halves are materialized above
    }
    graft.ops.Similarity.isotropyFromStats(
      s.read.parquet(s"${gens.last}/dims"), s.read.parquet(s"${gens.last}/norms"))
  }

  // ---- ST26: streaming structure monitor (Simpson audit, live) ----

  /** ST26: streaming maintenance of dq8's Simpson's-paradox audit — the
    * live "did the pooled trend detach from the within-source trends?"
    * monitor over a document feed. dq8's per-stratum six-stat table
    * (n, Σx, Σy, Σx², Σxy) is an additive monoid, so per-batch deltas
    * merge by full-outer SUM (state: strata × 5 integers) and the
    * slope/reversal cut runs through dq8's own
    * [[graft.ops.Evaluation.simpsonFromStats]] — stream == batch
    * bit-for-bit under the shared `dq8Sql` oracle. */
  val st26: Q = (s, d) => {
    def pts(df: DataFrame): DataFrame = df.select(col("source"),
      org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.filter(
        split(col("text"), " "), w => length(w) > 0)).as("x"),
      col("n_chars").as("y"))
    val gens = generations(replayStream(s, d, "st26", "documents", "doc_id"), "st26") {
      (batch, prior, gen) =>
        keyedSum(graft.ops.Evaluation.simpsonStatsOf(pts(batch), "source", "x", "y"),
            prior, "source")
          .write.mode("overwrite").parquet(gen)
    }
    graft.ops.Evaluation.simpsonFromStats(s.read.parquet(gens.last), "source")
  }

  // ---- ST27: streaming effective-sample-size monitor ----

  /** ST27: streaming maintenance of samp7's Kish ESS — the live "are
    * the importance weights collapsing onto a handful of documents?"
    * monitor for a weighted ingest feed. samp7's per-source
    * (n, Σw, Σw²) table is an additive monoid: per-batch deltas merge
    * by full-outer SUM (state: sources × 3 integers) and the cut runs
    * through samp7's own [[graft.ops.ScaleOps.essFromStats]] — stream
    * == batch bit-for-bit under the shared `samp7Sql` oracle. */
  val st27: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st27", "documents", "doc_id"), "st27") {
      (batch, prior, gen) =>
        val (b, freeB) = graft.ops.Pinned.checkpoint(batch)
        val q = graft.ops.TextAnalysis.qualityScoreOf(b)
          .select(col("doc_id"), col("quality").as("w"))
        keyedSum(graft.ops.ScaleOps.essStatsOf(
            b.select(col("doc_id"), col("source")).join(q, Seq("doc_id"))), prior, "source")
          .write.mode("overwrite").parquet(gen)
        freeB() // the merged stats read of the staged batch is done
    }
    graft.ops.ScaleOps.essFromStats(s.read.parquet(gens.last))
  }

  // ---- ST28: streaming repetition-quality monitor ----

  /** ST30: streaming burst monitor — the live face of e16 for an event
    * feed ("is any type spiking against its own history?"). The
    * (hour × type) count table is an additive monoid, so per-batch
    * deltas merge by summed full-outer union (state: present buckets ×
    * one long) and the 2σ cut runs through e16's own
    * [[graft.ops.Events.burstsFromCounts]] — stream == batch
    * bit-for-bit under the shared `e16Sql` oracle. */
  val st30: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st30", "events", "event_id"), "st30") {
      (batch, prior, gen) =>
        keyedSum(graft.ops.Events.hourlyCountsOf(graft.Tables.normalizeEventTs(batch)),
            prior, "window_start", "event_type")
          .write.mode("overwrite").parquet(gen)
    }
    graft.ops.Events.burstsFromCounts(s.read.parquet(gens.last))
  }

  /** ST31: streaming vocabulary-curve monitor — the live face of voc6
    * for a document ingest ("is the feed growing the vocabulary, or
    * just repeating it?"). The term-frequency table is an additive
    * monoid maintained by summed per-batch deltas (state: vocab-sized,
    * the st16-class incremental index — bounded by the TYPE domain, not
    * the corpus), and the cutoff sweep runs through voc6's own
    * [[graft.ops.TextAnalysis.curveFromTf]] — stream == batch
    * bit-for-bit under the shared `voc6Sql` oracle. */
  val st31: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st31", "documents", "doc_id"), "st31") {
      (batch, prior, gen) =>
        keyedSum(graft.ops.TextAnalysis.termFreqOf(batch), prior, "tok")
          .write.mode("overwrite").parquet(gen)
    }
    graft.ops.TextAnalysis.curveFromTf(s.read.parquet(gens.last))
  }

  /** ST32: streaming ingest-admission monitor — the live face of pipe4
    * for a document feed ("of what arrived this hour, how much was
    * duplicate, how much passed the gate, how many tokens did we
    * actually add?"). Each micro-batch's docs (plus their fixture dup
    * shells, derived batch-locally — a base row and its shells always
    * share a batch) are probed against the STATIC old-corpus band index
    * and quality-gated; per-doc verdicts depend only on (doc, old
    * corpus), so the per-lang admission stats are an additive monoid
    * merged by SUM into generation-dir state (langs × 4 longs), and the
    * stream finishes bit-identical to the batch composite under the
    * shared `pipe4Sql` oracle. The old band table is the STORED
    * append-only dedup index: built and checkpointed ONCE before the
    * stream starts ([[graft.ops.Dedup.incrementalIndexOf]]) and probed
    * by every batch — the deployment shape at 100 TB, and what keeps
    * per-batch DEDUP work proportional to the batch, not the corpus
    * (17.8 s rebuild-per-batch → 13.4 s indexed at sf0.1; the remaining
    * floor is the per-batch quality/minhash explodes of the batch's own
    * text plus micro-batch machinery, both batch-proportional). Doc
    * metadata (lang) is read from the batch's own rows, never the stored
    * corpus, so NOTHING in the loop scales with corpus size. */
  val st32: Q = (s, d) => {
    val src = replayStream(s, d, "st32", "documents", "doc_id")
    val (cappedBands, oldSets, freeIdx) = graft.ops.Dedup.incrementalIndexOf(
      graft.ops.Dedup.corpus(s, d).filter(col("doc_id") % 3 =!= 0))
    val gens = try generations(src, "st32") { (batch, prior, gen) =>
      graft.ops.Pinned.scoped(batch.sparkSession) {
        // metadata rides WITH the batch rows: shells inherit lang from
        // their base row structurally (injectShellsKeeping), so there
        // is no metadata join at all — no full-corpus read, no
        // doc_id-convention aliasing, per-batch work strictly
        // batch-proportional (round-15 verdict #5 + the sf1 finding
        // that a % 1e6 alias join drops rows whose alias row lives in
        // another micro-batch)
        val newBatch = graft.ops.Dedup.injectShellsKeeping(
            batch.select(col("doc_id"), col("text"), col("lang")), Seq("lang"))
          .filter(col("doc_id") % 3 === 0)
        keyedSum(graft.ops.Pipeline.admissionDeltaAgainst(
            cappedBands, oldSets, graft.ops.Pipeline.arrivedFrom(newBatch)), prior, "lang")
          .write.mode("overwrite").parquet(gen)
      }
    } finally freeIdx() // the state parquet carries the result; the index can go
    s.read.parquet(gens.last)
      .select(col("lang"), col("n_arrived"), col("n_nondup"),
        col("n_admitted"), col("toks_admitted"))
      .orderBy("lang")
  }

  /** ST29: streaming OHLC bars — result contract of Events.e15. The
    * batch op's struct-min/max formulation is what makes this a legal
    * (and cheap) streaming aggregate: open/close/high/low/count/sum are
    * all MONOIDS, so per-(window, type) state is two structs + four
    * longs updated incrementally — no per-event retention, no sort. */
  val st29: Q = (s, d) => {
    val agg = eventStream(s, d)
      .select(col("ts"), col("event_id"), col("event_type"),
        cents(col("value")).as("vc"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("vc"))).getField("vc").as("open_c"),
        max(struct(col("ts"), col("event_id"), col("vc"))).getField("vc").as("close_c"),
        max("vc").as("high_c"), min("vc").as("low_c"),
        count(lit(1)).as("n"), sum("vc").as("turnover_c"))
    drain(s, agg, "st29_out", OutputMode.Complete())
      .select(col("window.start").as("window_start"), col("event_type"),
        col("open_c"), col("close_c"), col("high_c"), col("low_c"),
        col("n"), col("turnover_c"))
      .orderBy("window_start", "event_type")
  }

  /** ST28: dq9's Gopher-style repetition audit as a STREAMING monitor —
    * the live "did a feed start shipping boilerplate?" cut. Per-document
    * scores are FINAL the batch the document arrives in (each doc lands
    * in exactly one micro-batch — the st17 discipline), so dq9's
    * per-source stats row (n_docs, Σrep2, Σdup3, flag counts) is an
    * additive monoid: per-batch deltas merge by SUM into generation-dir
    * state (sources × 5 integers), and the final generation finishes
    * through dq9's own [[graft.ops.Evaluation.repetitionFromStats]] —
    * stream == batch bit-for-bit under the shared `dq9Sql` oracle. */
  val st28: Q = (s, d) => {
    val gens = generations(replayStream(s, d, "st28", "documents", "doc_id"), "st28") {
      (batch, prior, gen) =>
        keyedSum(graft.ops.Evaluation.repetitionStatsOf(batch, "source"), prior, "source")
          .write.mode("overwrite").parquet(gen)
    }
    graft.ops.Evaluation.repetitionFromStats(s.read.parquet(gens.last))
  }

  val queries: Map[String, Q] = Map(
    "st28_stream_repetition" -> st28,
    "st29_stream_ohlc" -> st29,
    "st30_stream_bursts" -> st30,
    "st31_stream_vocab_curve" -> st31,
    "st32_stream_admission" -> st32,
    "st27_stream_ess" -> st27,
    "st26_stream_simpson" -> st26,
    "st25_stream_isotropy" -> st25,
    "st24_stream_cusum" -> st24,
    "st23_stream_tcloseness" -> st23,
    "st22_stream_rfm" -> st22,
    "st21_stream_burstiness" -> st21,
    "st20_stream_skipgram" -> st20,
    "st19_stream_markov" -> st19,
    "st18_stream_benford" -> st18,
    "st17_stream_decontamination" -> st17,
    "st16_stream_kmv_distinct" -> st16,
    "st15_stream_psi_drift" -> st15,
    "st14_stream_trajectories" -> st14,
    "st13_stream_neardup_capped" -> st13,
    "st12_stream_neardup_candidates" -> st12,
    "st11_stream_expectations" -> st11,
    "src2_custom_source_stream" -> src2,
    "st10_stream_mv_merge" -> st10,
    "st1_stream_tumbling" -> st1,
    "st2_stream_sliding" -> st2,
    "st3_stream_sessions" -> st3,
    "st4_stream_dedup" -> st4,
    "st5_stream_stream_join" -> st5,
    "st6_stream_static_join" -> st6,
    "st7_mapgroups_running_stats" -> st7,
    "st8_session_window_builtin" -> st8,
    "st9_stream_file_sink" -> st9,
  )

  /** Streaming results must equal the batch windowing oracles. */
  val oracle: Map[String, String] = Map(
    "st24_stream_cusum" -> st24Sql,
    "st25_stream_isotropy" -> graft.ops.Similarity.emb7Sql,
    "st26_stream_simpson" -> graft.ops.Evaluation.dq8Sql,
    "st28_stream_repetition" -> graft.ops.Evaluation.dq9Sql,
    "st29_stream_ohlc" -> graft.ops.Events.e15Sql,
    "st30_stream_bursts" -> graft.ops.Events.e16Sql,
    "st31_stream_vocab_curve" -> graft.ops.TextAnalysis.voc6Sql,
    "st32_stream_admission" -> graft.ops.Pipeline.pipe4Sql,
    "st27_stream_ess" -> graft.ops.ScaleOps.samp7Sql,
    "st18_stream_benford" -> graft.ops.Evaluation.dq5Sql,
    "st19_stream_markov" -> graft.ops.Curation.markov1Sql,
    "st20_stream_skipgram" -> graft.ops.TextAnalysis.w2v1Sql,
    "st21_stream_burstiness" -> graft.ops.TextAnalysis.t27Sql,
    "st22_stream_rfm" -> graft.ops.Events.e12Sql,
    "st23_stream_tcloseness" -> graft.ops.Curation.priv5Sql,
    "st17_stream_decontamination" -> graft.ops.TextAnalysis.oracle("d19_winnowing_decontamination"),
    "st16_stream_kmv_distinct" -> st16Sql,
    "st15_stream_psi_drift" -> graft.ops.Evaluation.dq3Sql,
    "st14_stream_trajectories" -> graft.ops.Curation.traj1Sql,
    "st13_stream_neardup_capped" -> st13Sql,
    "st12_stream_neardup_candidates" -> st12Sql,
    "st11_stream_expectations" -> st11Sql,
    "st1_stream_tumbling" -> graft.ops.Events.e1Sql,
    "st2_stream_sliding" -> {
      // e2 oracle without the event_type column: reuse its shape
      graft.ops.Events.e2Sql
    },
    "st3_stream_sessions" -> graft.ops.Events.e3Sql,
    "st4_stream_dedup" -> st4Sql,
    "st5_stream_stream_join" -> st5Sql,
    "st6_stream_static_join" -> st6Sql,
    "st7_mapgroups_running_stats" -> st7Sql,
    "st8_session_window_builtin" -> st8Sql,
    "st9_stream_file_sink" -> graft.ops.Events.e1Sql,
    "st10_stream_mv_merge" -> st10Sql,
    "src2_custom_source_stream" -> src2Sql,
  )
}
