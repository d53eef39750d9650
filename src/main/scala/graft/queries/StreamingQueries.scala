package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Oracle rows for the Structured Streaming surface: the streaming
  * plans must agree with batch SQL on real data, not just pass unit
  * tests on constructed rows.
  */
object StreamingQueries {

  /** Public: Catalyst's generated projections must instantiate it. */
  final case class StreamEvent(event_id: Long, ts: Long,
      event_type: String, value: Double)

  /** Event row carrying the real user_id (q64's join key). */
  final case class StreamEventU(event_id: Long, ts: Long, user_id: Long,
      event_type: String)

  /** Per-batch `queryPlanning` durations (ms) of each query's LAST
    * run, keyed by query id — the measurement seam for the "is
    * per-batch planning worth a PreparedTransform?" question
    * (round-13 ask #5): StreamingPlanningSpec reads it after driving
    * q83/q91 and fails if planning grows past the restructuring
    * threshold. Cost: one `recentProgress` scan per run. */
  private[graft] val lastPlanningMs =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Long]]()
  private def recordPlanning(id: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    lastPlanningMs.put(id, q.recentProgress.toVector
      .filter(_.numInputRows > 0) // idle/no-data ticks plan nothing real
      .flatMap(p => Option(p.durationMs.get("queryPlanning"))
        .map(_.longValue)))

  /** Stateful streaming plans pay per state-store partition per
    * micro-batch (open/commit/snapshot × partitions × batches), and
    * the replayed fixture streams are small — 32 partitions is pure
    * overhead there (the stream-stream join measured 23 s at 32 vs
    * the state itself being tiny). Scope the smaller setting to the
    * streaming plan build + run, restore after; a production job
    * sizes this to its state volume instead. */
  private[graft] def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    // checkpoint on tmpfs when available: every micro-batch commits an
    // offset log + state-store delta to the checkpoint dir, and these
    // REPLAY-parity queries re-derive everything from the fixture —
    // checkpoint durability buys nothing here, so its disk IO is pure
    // per-batch overhead. A production job checkpoints to durable
    // storage; that durability is load-bearing for ITS fault
    // tolerance, not for a deterministic replay.
    val shm = new java.io.File("/dev/shm")
    val ckptRoot = java.nio.file.Files.createTempDirectory(
      (if (shm.isDirectory && shm.canWrite) shm
       else new java.io.File(System.getProperty("java.io.tmpdir"))).toPath,
      "graft-stream-ckpt")
    try graft.core.Sessions.withConfs(s,
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.streaming.checkpointLocation" -> ckptRoot.toString,
      // The replayed fixtures end after the last addData chunk, so the
      // watermark-advancing EMPTY micro-batches (noDataMicroBatches)
      // only add state-store commit rounds here: the inner
      // stream-stream join emits on data arrival (the watermark bounds
      // STATE, not results), complete-mode windows re-emit everything
      // each batch, and the unbounded dedup never expires state. A
      // production job with event-time-bounded output re-enables them.
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)
    finally deleteRec(ckptRoot.toFile)
  }

  private def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete(); ()
  }

  // Replay-feed memos: the driver-side collect exists only to FEED the
  // in-process MemoryStream simulator (deterministic replay of the
  // fixture), and re-collecting 100k rows per bench rep measures the
  // feed, not the streaming plan. SINGLE-SLOT per feed (the
  // Sessions.PinnedCache pattern): a dir switch drops the superseded
  // replay rows, so a long-lived session holds ONE fixture's feed —
  // not every dir it ever benched. A production job reads a real
  // source and has no feed at all.
  @transient private var memoEvents: Option[(String, Seq[StreamEvent])] = None
  private[graft] def eventRows(s: SparkSession, dir: String): Seq[StreamEvent] =
    synchronized {
      memoEvents match {
        case Some((d, rows)) if d == dir => rows
        case _ =>
          val rows = Tables.load(s, dir, "events")
            .select(col("event_id"), col("ts"), col("event_type"), col("value"))
            .collect()
            .map(r => StreamEvent(r.getLong(0), r.getLong(1), r.getString(2),
              r.getDouble(3)))
            .toSeq
          memoEvents = Some(dir -> rows)
          rows
      }
    }

  @transient private var memoEventsU: Option[(String, Seq[StreamEventU])] = None
  private[graft] def eventRowsU(s: SparkSession, dir: String): Seq[StreamEventU] =
    synchronized {
      memoEventsU match {
        case Some((d, rows)) if d == dir => rows
        case _ =>
          val rows = Tables.load(s, dir, "events")
            .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
            .collect()
            .map(r => StreamEventU(r.getLong(0), r.getLong(1), r.getLong(2),
              r.getString(3)))
            .toSeq
          memoEventsU = Some(dir -> rows)
          rows
      }
    }

  /** Observability for the bounded-memo spec: which fixture dirs the
    * replay feeds currently hold (at most one per feed). */
  private[graft] def replayMemoDirs: Seq[String] = synchronized {
    (memoEvents.map(_._1).toSeq ++ memoEventsU.map(_._1).toSeq).distinct
  }

  // --------------------------------------- q57 stream window parity
  /** Event-time tumbling-window aggregation under Structured Streaming
    * equals the batch SQL twin: the `events` table is replayed through
    * a MemoryStream in three micro-batches into
    * [[graft.streaming.StreamingOps.windowedEventCounts]]
    * (1-hour windows, complete output mode so every window
    * finalizes deterministically), and the per-(window, type) counts
    * must match DuckDB's `date_trunc('hour')` GROUP BY over the same
    * parquet. Event time is ns in Spark (`nanosAsLong`) and µs in
    * DuckDB — both floor to the same epoch-aligned hour.
    *
    * The driver-side collect exists solely to FEED the in-process
    * stream simulator (MemoryStream is the only deterministic
    * in-process source); the windowed aggregation itself is the
    * distributed streaming plan. A production run replaces the replay
    * with a real source (Kafka/files) and drops the collect. */
  def q57StreamWindowParity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    val rows = eventRows(s, dir)
    // ceil-div: floor once shipped a FOURTH one-row micro-batch (100000/3
    // = 33333, 3×33333 = 99999) — a pure extra state-commit round per
    // stateful operator with no semantic content
    val chunkSize = math.max(1, (rows.size + 2) / 3)

    val qname = "graft_q57_windows"
    s.catalog.dropTempView(qname)
    val stream = MemoryStream[StreamEvent]
    val withTime = stream.toDF()
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
    val agg = graft.streaming.StreamingOps.windowedEventCounts(
      withTime, "event_time", watermarkDelay = "10 minutes",
      windowLength = "1 hour")
    withShufflePartitions(s, 2) {
      val query = agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete").start()
      try {
        rows.grouped(chunkSize).foreach { chunk =>
          stream.addData(chunk)
          query.processAllAvailable()
        }
      } finally query.stop()
    }

    s.table(qname)
      .select(unix_timestamp(col("w_start")).as("w_start_sec"),
        col("event_type"), col("n"))
      .orderBy("w_start_sec", "event_type")
  }

  val q57Sql: String =
    """SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS w_start_sec,
      |event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------ q61 stream dedup parity
  /** Stateful streaming deduplication equals batch DISTINCT: the
    * events table replayed in three micro-batches through
    * `dropDuplicates` on (user_id, event_type) must emit exactly the
    * batch-distinct key set — state carries across micro-batches, so a
    * pair seen in batch 0 must not re-emit in batch 2. Only the KEY
    * columns are emitted (which concrete row survives per key is
    * arrival-order-dependent; the key set is deterministic).
    *
    * Scale: streaming dedup state is one entry per distinct key — at
    * 100 TB bound it with `dropDuplicatesWithinWatermark` (the
    * event-time-bounded variant) or a key-expiry policy; the unbounded
    * form here matches the batch-DISTINCT oracle exactly. */
  def q61StreamDedupParity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    val rows = eventRows(s, dir)
    // ceil-div: floor once shipped a FOURTH one-row micro-batch (100000/3
    // = 33333, 3×33333 = 99999) — a pure extra state-commit round per
    // stateful operator with no semantic content
    val chunkSize = math.max(1, (rows.size + 2) / 3)

    val qname = "graft_q61_dedup"
    s.catalog.dropTempView(qname)
    val stream = MemoryStream[StreamEvent]
    val deduped = stream.toDF()
      .withColumn("user_id", pmod(col("event_id"), lit(100L)))
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    withShufflePartitions(s, 2) {
      val query = deduped.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        rows.grouped(chunkSize).foreach { chunk =>
          stream.addData(chunk)
          query.processAllAvailable()
        }
      } finally query.stop()
    }

    s.table(qname).orderBy("user_id", "event_type")
  }

  val q61Sql: String =
    """SELECT DISTINCT event_id % 100 AS user_id, event_type
      |FROM events ORDER BY user_id, event_type""".stripMargin

  // ------------------------------------- q64 stream-stream join parity
  /** Watermarked stream-stream interval join equals the batch
    * inequality join: clicks joined to errors by the same user within
    * the hour after the error (q54's range-join shape, now as TWO
    * live streams self-derived from one replay). Inner stream-stream
    * joins emit each match as soon as both sides have arrived — the
    * watermark bounds join STATE, not the result set — so the emitted
    * pair set is deterministic under any micro-batching and must
    * equal DuckDB's plain inequality join.
    *
    * Scale: state per side is bounded by the watermark horizon (2 h of
    * events), keyed by user_id — the standard Spark stream-stream
    * join; at 100 TB/day the horizon × event-rate product sizes state,
    * and the time-range condition lets Spark expire rows as the
    * watermark passes. */
  def q64StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    val rows = eventRowsU(s, dir)
    // ceil-div: floor once shipped a FOURTH one-row micro-batch (100000/3
    // = 33333, 3×33333 = 99999) — a pure extra state-commit round per
    // stateful operator with no semantic content
    val chunkSize = math.max(1, (rows.size + 2) / 3)

    val qname = "graft_q64_ssjoin"
    s.catalog.dropTempView(qname)
    val stream = MemoryStream[StreamEventU]
    val ev = stream.toDF()
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "2 hours")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("i_id"), col("user_id").as("e_user"),
        col("event_time").as("e_time"))
      .withWatermark("e_time", "2 hours")
    val joined = clicks.join(errors,
      col("user_id") === col("e_user") &&
        col("p_time") >= col("e_time") &&
        col("p_time") <= col("e_time") + expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("user_id"), col("i_id"))
    // 1 partition (round 21, measured): the stream-stream join pays
    // per-partition state-store commits on BOTH sides (measured 270 ms
    // of commit per batch at 2 partitions vs 115 ms at 1, batch wall
    // 860 -> 730 ms) while the 33k-row batches gain nothing from a
    // second core; production sizes this to state volume as the
    // withShufflePartitions doc says.
    withShufflePartitions(s, 1) {
      val query = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        rows.grouped(chunkSize).foreach { chunk =>
          stream.addData(chunk)
          query.processAllAvailable()
        }
      } finally query.stop()
    }

    s.table(qname).orderBy("p_id", "i_id")
  }

  val q64Sql: String =
    """SELECT p.event_id AS p_id, p.user_id AS user_id, i.event_id AS i_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') p
      |JOIN (SELECT * FROM events WHERE event_type = 'error') i
      |  ON p.user_id = i.user_id
      | AND p.ts >= i.ts AND p.ts <= i.ts + INTERVAL 1 HOUR
      |ORDER BY p_id, i_id""".stripMargin

  // ---------------------------------------- q83 stream sessionization
  /** Streaming sessionization via Spark's native `session_window`
    * equals the batch gap-split: per user, events merge into a session
    * while the gap to the previous event is < 3 h (session_window's
    * end is exclusive, so a gap of EXACTLY the cutoff starts a new
    * session — the batch twin therefore breaks on `>=`, unlike q67's
    * strict `>`; both conventions are valid sessionizations, this
    * query pins Spark's).
    *
    * Append-mode session aggregates only emit once the WATERMARK
    * passes the session end. The replay therefore pushes two
    * far-future sentinel rows (user_id −1, excluded from output)
    * through two extra micro-batches after the data: the first
    * advances the max event time, the second's batch carries the
    * advanced watermark, closing every real session deterministically.
    * A production stream doesn't need this — live data advances the
    * watermark continuously; the sentinel is purely the determinism
    * seam of a FINITE replay.
    *
    * Scale: session_window state is one open session per active user
    * key, expired as the watermark passes — the canonical Spark
    * sessionization; one shuffle on user_id.
    *
    * Per-batch planning, measured (StreamingPlanningSpec): warm
    * batches spend ~7-10 ms in `queryPlanning` on a hot JVM (22-36 ms
    * cold-JIT) — engine-internal incremental optimize + physical
    * planning that a [[graft.core.PreparedTransform]] could not skip
    * (this query pays DataFrame-API construction once at `start()`,
    * not per batch), so no prepared-plan restructuring is warranted. */
  val StreamSessionGap: String = "3 hours"

  def q83StreamSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    val rows = eventRowsU(s, dir)
    // ceil-div: floor once shipped a FOURTH one-row micro-batch (100000/3
    // = 33333, 3×33333 = 99999) — a pure extra state-commit round per
    // stateful operator with no semantic content
    val chunkSize = math.max(1, (rows.size + 2) / 3)
    val maxTs = rows.map(_.ts).max

    val qname = "graft_q83_sessions"
    s.catalog.dropTempView(qname)
    val stream = MemoryStream[StreamEventU]
    val ev = stream.toDF()
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("event_time", "1 minute")
    val sessions = ev
      .groupBy(session_window(col("event_time"), StreamSessionGap),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    withShufflePartitions(s, 4) {
      val query = sessions.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        // the first sentinel (advance max event time) rides the LAST
        // data chunk — the watermark is computed from a batch's max
        // event time either way, so a separate sentinel-only batch was
        // one state-commit round of pure overhead; the second round
        // carries the advanced watermark, closing every real session
        val chunks = rows.grouped(chunkSize).toSeq
        val feed = chunks.init :+ (chunks.last :+ StreamEventU(-1L,
          maxTs + 365L * 24 * 3600 * 1000000000L, -1L, "x"))
        feed.foreach { chunk =>
          stream.addData(chunk)
          query.processAllAvailable()
        }
        stream.addData(Seq(StreamEventU(-2L,
          maxTs + 2L * 365L * 24 * 3600 * 1000000000L, -1L, "x")))
        query.processAllAvailable()
        recordPlanning("q83", query)
      } finally query.stop()
    }

    s.table(qname)
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_sec"),
        col("n_events"))
      .orderBy("user_id", "start_sec")
  }

  val q83Sql: String =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events),
      |g AS (SELECT user_id, ts_us, event_id,
      |  CASE WHEN lag(ts_us) OVER w IS NULL
      |       OR ts_us - lag(ts_us) OVER w >= 10800000000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sx AS (SELECT user_id, ts_us,
      |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM g)
      |SELECT user_id, MIN(ts_us) // 1000000 AS start_sec,
      |  COUNT(*) AS n_events
      |FROM sx GROUP BY user_id, session_idx
      |ORDER BY user_id, start_sec""".stripMargin

  // --------------------------------------- q91 custom-state parity
  /** Arbitrary stateful streaming (`mapGroupsWithState`) equals batch
    * aggregation: the events table replays through
    * [[graft.streaming.StreamingOps.sessionize]] — per-user state
    * accumulating (event count, max event id) across micro-batches —
    * in UPDATE output mode, and the LATEST state per user must equal
    * the batch `GROUP BY user_id` counts and maxima. Update mode
    * appends one row per user per batch it appeared in; counts only
    * grow, so `max(events)` per user IS the final state — no
    * row-versioning bookkeeping needed. This promotes the custom-state
    * operator class (the `GroupState` API q57/q61/q64 don't touch)
    * onto the oracle gate. State is one small struct per user key,
    * the mapGroupsWithState contract at any scale.
    *
    * Per-batch planning, measured (StreamingPlanningSpec): warm
    * batches spend ~7 ms in `queryPlanning` on a hot JVM (12-15 ms
    * cold-JIT) — below the 20 ms/batch restructuring bar, and
    * engine-internal besides (see q83's note); no prepared-plan
    * adoption warranted. */
  def q91StreamStateCount(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    val rows = eventRowsU(s, dir)
    // ceil-div: floor once shipped a FOURTH one-row micro-batch (100000/3
    // = 33333, 3×33333 = 99999) — a pure extra state-commit round per
    // stateful operator with no semantic content
    val chunkSize = math.max(1, (rows.size + 2) / 3)

    val qname = "graft_q91_state"
    s.catalog.dropTempView(qname)
    val stream = MemoryStream[StreamEventU]
    val updates = graft.streaming.StreamingOps.sessionize(
      stream.toDS().map(e => graft.streaming.StreamingOps.UserEvent(
        e.user_id, e.event_id,
        new java.sql.Timestamp(e.ts / 1000000L))))
    withShufflePartitions(s, 2) {
      val query = updates.toDF().writeStream.format("memory")
        .queryName(qname).outputMode("update").start()
      try {
        rows.grouped(chunkSize).foreach { chunk =>
          stream.addData(chunk)
          query.processAllAvailable()
        }
        recordPlanning("q91", query)
      } finally query.stop()
    }

    s.table(qname)
      .groupBy(col("user_id"))
      .agg(max(col("events")).as("n_events"),
        max(col("max_event_id")).as("max_event_id"))
      .orderBy("user_id")
  }

  val q91Sql: String =
    """SELECT user_id, COUNT(*) AS n_events, MAX(event_id) AS max_event_id
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ wiring
  // ---------------------------------- q126 stream-static join parity
  /** Stream-STATIC join — the remaining streaming-join class beside
    * the stream-stream interval join (q64): each micro-batch of the
    * replayed event stream joins a bounded static dimension (the
    * per-type code table, derived once in batch). Stream-static joins
    * are STATELESS — no watermark, no join state, the static side is
    * simply (re)evaluated per micro-batch and broadcast — so this is
    * the cheap enrichment pattern for 100 TB/day streams: dimension
    * lookups stay broadcast-local, nothing accumulates. The streamed
    * join output lands append-mode in the sink; the batch aggregate
    * over the sink table must equal the all-batch SQL twin. */
  def q126StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    // derive the tiny code table ONCE, driver-side — a stream-static
    // join re-evaluates the static plan EVERY micro-batch, so leaving
    // the distinct+window derivation inline re-scanned the events
    // table per batch (3 scans for a table of a few code rows); a
    // LocalRelation keeps the per-batch static side a broadcast of
    // in-memory rows, the shape a production dimension table has
    val codes = Tables.load(s, dir, "events")
      .select(col("event_type")).distinct().as[String].collect()
      .sorted.zipWithIndex.map { case (t, i) => (t, i + 1) }.toSeq
    val static = codes.toDF("event_type", "type_code")

    val rows = eventRows(s, dir)
    // ceil-div: floor once shipped a FOURTH one-row micro-batch (100000/3
    // = 33333, 3×33333 = 99999) — a pure extra state-commit round per
    // stateful operator with no semantic content
    val chunkSize = math.max(1, (rows.size + 2) / 3)
    val qname = "graft_q126_enriched"
    s.catalog.dropTempView(qname)
    val stream = MemoryStream[StreamEvent]
    val joined = stream.toDF()
      .join(broadcast(static), Seq("event_type"))
      .select(col("event_id"), col("type_code"), col("value"))
    withShufflePartitions(s, 2) {
      val query = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        rows.grouped(chunkSize).foreach { chunk =>
          stream.addData(chunk)
          query.processAllAvailable()
        }
      } finally query.stop()
    }
    s.table(qname)
      .groupBy("type_code")
      .agg(count(lit(1)).as("n"), Relational.dsum(col("value")).as("sum_value"))
      .orderBy("type_code")
  }

  val q126Sql: String =
    """WITH static AS (
      |  SELECT event_type,
      |    CAST(row_number() OVER (ORDER BY event_type) AS INTEGER) AS type_code
      |  FROM (SELECT DISTINCT event_type FROM events))
      |SELECT type_code, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      |FROM events JOIN static USING (event_type)
      |GROUP BY type_code ORDER BY type_code""".stripMargin

  // ------------------------------------ q193 streaming near-dedup
  /** STREAMING near-duplicate suppression equals its batch twin: the
    * documents table replays in doc_id order through the simhash band
    * pipeline (per-row shingle → native 60-bit simhash → 3×20-bit
    * pigeonhole bands, exactly q43/q48's signature math) into the
    * stateful [[graft.streaming.StreamingOps.bandRegistry]] — per band
    * key the registry remembers only the minimum doc id ever seen and
    * flags any later arrival. A doc any of whose bands was already
    * claimed by an earlier doc is a near-dup candidate and is dropped;
    * survivors must equal the batch rule "keep docs with no smaller-id
    * band collision" computed by DuckDB over the same parquet.
    *
    * This is the candidate-level online filter (band collision ⇒
    * kill); a production pipeline wanting q52's exact Hamming≤2 rule
    * keeps (doc_id, simhash) per band in state and verifies before
    * killing — same registry shape, wider state. Docs too short to
    * shingle (simhash = −1) never enter the registry and always
    * survive, matching the batch twin's `len(sh) > 0` gate.
    *
    * Scale: per-band state is 8 bytes; the stream shuffles only
    * (band_key, doc_id) pairs — 3 narrow rows per doc regardless of
    * document size; the final anti-join is batch-side reporting.
    *
    * Source: a real EXECUTOR-SIDE file stream — the documents table is
    * staged once per (dir) as a two-file parquet replay directory
    * (id-ordered halves, mod-times 1 min apart) and read back with
    * `readStream.parquet + maxFilesPerTrigger=1`, so the query runs
    * two genuine micro-batches whose rows never pass through the
    * driver (MemoryStream remains only where a spec needs exact
    * batch-boundary control: q61/q64/q91). File order = id order, the
    * same arrival order every online dedup assumes. */
  @transient private var memoReplay: Map[String, String] = Map.empty

  /** Stages `documents(doc_id, text)` as an id-split two-file replay
    * dir (memoised per fixture dir; written once per JVM). */
  private def replayDir(s: SparkSession, dir: String): String =
    synchronized {
      memoReplay.getOrElse(dir, {
        import scala.jdk.CollectionConverters._
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val cut = docs.selectExpr(
          "cast(percentile(doc_id, 0.5) as bigint) as c").head().getLong(0)
        val d = java.nio.file.Files.createTempDirectory("graft-q193-replay")
        def stageHalf(half: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = java.nio.file.Files.createTempDirectory("graft-q193-half")
          half.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part written under $tmp"))
          val dest = d.resolve(name)
          java.nio.file.Files.move(part, dest)
          dest.toFile.setLastModified(mtime)
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
        // mod-times a minute apart: the file source replays in
        // modification-time order, pinning batch order = id order
        val t0 = System.currentTimeMillis() - 120000L
        stageHalf(docs.filter(col("doc_id") <= cut), "replay-0.parquet", t0)
        stageHalf(docs.filter(col("doc_id") > cut), "replay-1.parquet",
          t0 + 60000L)
        memoReplay += dir -> d.toString
        d.toString
      })
    }

  def q193StreamNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._

    val qname = "graft_q193_bands"
    s.catalog.dropTempView(qname)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val streamed = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(replayDir(s, dir))
    val bandKeys = (0 until Dedup.SimhashNumBands).map { b =>
      s"(s div ${1L << (b * Dedup.SimhashBandBits)}) % " +
        s"${1L << Dedup.SimhashBandBits} + ${b.toLong << 32}"
    }.mkString("array(", ", ", ")")
    // Two micro-batch performance traps, both measured at sf0.1:
    // (1) each replay half is ONE parquet file = one scan split, so
    // without a redistribution the signature math runs an entire
    // micro-batch on a single core — shuffle the narrow (doc_id,
    // text) rows first (the registry re-keys by band afterwards, so
    // row order is immaterial); (2) the md5-shingle chain contains
    // lambda HOFs, which whole-stage codegen EXCLUDES from
    // subexpression elimination — a plan with `filter(simhash >= 0)`
    // plus four band-key projections inlines and recomputes the
    // whole chain 5× per row (2.5 s/batch). Binding the signature to
    // a lambda variable via a one-element transform evaluates it
    // exactly once: the CASE emits the four band keys or an empty
    // array (the too-short-to-shingle gate), and explode drops the
    // empties.
    val banded = streamed
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", expr(Dedup.shinglesSpark))
      .select(col("doc_id"), explode(expr(
        s"flatten(transform(array(${Dedup.simhashSpark}), s -> " +
          s"CASE WHEN s >= 0 THEN $bandKeys " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END))")).as("band_key"))
      .select(col("band_key"), col("doc_id"))
    val verdicts = graft.streaming.StreamingOps.bandRegistry(
      banded.as[graft.streaming.StreamingOps.BandObs])
    withShufflePartitions(s, 2) {
      val query = verdicts.toDF().writeStream.format("memory")
        .queryName(qname).outputMode("append").start()
      // one file per trigger: processAllAvailable drains BOTH replay
      // files as two micro-batches with state carried across them
      try query.processAllAvailable() finally query.stop()
    }
    val killed = s.table(qname).filter(col("earlier"))
      .select(col("doc_id")).distinct()
    Tables.load(s, dir, "documents")
      .join(killed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q193Sql: String = {
    val bandCols = (0 until Dedup.SimhashNumBands).map { b =>
      s"(simhash // ${1L << (b * Dedup.SimhashBandBits)}) % " +
        s"${1L << Dedup.SimhashBandBits} AS sb$b"
    }.mkString(", ")
    val bandJoins = (0 until Dedup.SimhashNumBands).map { b =>
      s"""  SELECT b.doc_id FROM sb a JOIN sb b
         |    ON a.sb$b = b.sb$b AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n  UNION\n")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shed AS (SELECT doc_id, ${Dedup.shinglesDuck} AS sh FROM tok),
       |sims AS (SELECT doc_id, ${Dedup.simhashDuck} AS simhash FROM shed
       |  WHERE len(sh) > 0),
       |sb AS (SELECT doc_id, simhash, $bandCols FROM sims),
       |kills AS (
       |$bandJoins)
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM kills) ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------- q237 watermark late-data audit
  /** Watermark LATE-DATA DROP semantics, oracle-checked — the one
    * streaming behavior the other parity queries deliberately avoid
    * (q57 runs complete mode, q64's watermark bounds state, not
    * results): a windowed count with a 17-minute watermark replayed
    * as two deterministic micro-batches, where batch 1 (even
    * event_ids) advances the watermark over the full time range and
    * batch 2 (odd event_ids) therefore arrives almost entirely LATE —
    * every odd row whose hour-window end trails the watermark is
    * dropped, exactly as a production job would silently drop
    * stragglers. The oracle reproduces Spark's actual arithmetic:
    * watermark_ms = floor(max_event_micros(batch1)/1000) − delay_ms
    * (EventTimeStats collects milliseconds), and a batch-2 row
    * survives iff its window END in micros exceeds watermark_ms·1000
    * (`WatermarkSupport`'s ≤-drop predicate). The per-window counts
    * that remain — evens everywhere, odds only in the watermark's
    * grace tail — are the oracle rows, so the drop rule itself is
    * value-hash-pinned, not just unit-asserted.
    *
    * Update output mode: each batch emits the windows it touched;
    * counts only grow, so max-per-window over the sink equals the
    * final state. MemoryStream is the feed because the test IS the
    * batch boundary (the q57/q61/q64/q91 precedent); a production
    * job replaces the replay with a real source. */
  val WmDelayMs = 1020000L // 17 minutes

  def q237WatermarkAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    val rows = eventRows(s, dir)
    val (evens, odds) = rows.partition(_.event_id % 2 == 0)
    val qname = "graft_q237_wm"
    s.catalog.dropTempView(qname)
    val stream = MemoryStream[StreamEvent]
    val counts = stream.toDF()
      .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ets", "17 minutes")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .count()
      .select(expr("unix_micros(window.start)").as("w_start_us"),
        col("event_type"), col("count").as("cnt"))
    // NOT withShufflePartitions: that helper disables
    // noDataMicroBatches, and the no-data batch is precisely what
    // COMMITS a watermark advance for the next data batch — with it
    // disabled, batch 2 runs at watermark 0 and drops nothing
    // (measured; the other streaming parities don't depend on the
    // watermark's value, this query IS the watermark's value)
    graft.core.Sessions.withConfs(s,
      "spark.sql.shuffle.partitions" -> "4") {
      val query = counts.writeStream.format("memory").queryName(qname)
        .outputMode("update").start()
      try {
        stream.addData(evens)
        query.processAllAvailable()
        stream.addData(odds)
        query.processAllAvailable()
      } finally query.stop()
    }
    s.table(qname).groupBy("w_start_us", "event_type")
      .agg(max("cnt").as("n_events"))
      .orderBy("w_start_us", "event_type")
  }

  val q237Sql: String =
    s"""WITH ev AS (SELECT event_id, epoch_us(ts) AS tus, event_type
       |  FROM events),
       |b1 AS (SELECT * FROM ev WHERE event_id % 2 = 0),
       |b2 AS (SELECT * FROM ev WHERE event_id % 2 = 1),
       |wm AS (SELECT MAX(tus) // 1000 - $WmDelayMs AS wm_ms FROM b1),
       |kept2 AS (SELECT b2.tus, b2.event_type FROM b2 CROSS JOIN wm
       |  WHERE (tus // 3600000000) * 3600000000 + 3600000000
       |    > wm_ms * 1000),
       |u AS (SELECT tus, event_type FROM b1
       |  UNION ALL SELECT tus, event_type FROM kept2)
       |SELECT (tus // 3600000000) * 3600000000 AS w_start_us, event_type,
       |  COUNT(*) AS n_events
       |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_watermark_audit" -> (q237WatermarkAudit _),
    "q193_stream_neardup" -> (q193StreamNearDup _),
    "q126_stream_static" -> (q126StreamStaticJoin _),
    "q91_stream_state" -> (q91StreamStateCount _),
    "q57_stream_window" -> (q57StreamWindowParity _),
    "q61_stream_dedup" -> (q61StreamDedupParity _),
    "q64_stream_join" -> (q64StreamStreamJoin _),
    "q83_stream_sessions" -> (q83StreamSessions _))

  val oracles: Map[String, String] = Map(
    "q237_watermark_audit" -> q237Sql,
    "q193_stream_neardup" -> q193Sql,
    "q126_stream_static" -> q126Sql,
    "q91_stream_state" -> q91Sql,
    "q57_stream_window" -> q57Sql,
    "q61_stream_dedup" -> q61Sql,
    "q64_stream_join" -> q64Sql,
    "q83_stream_sessions" -> q83Sql)
}
