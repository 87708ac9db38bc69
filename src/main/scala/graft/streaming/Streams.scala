package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** One event row (events.parquet schema, TESTDATA.md / FIXTURES.md §1). */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** Per-user funnel state for X6 (highest stage reached so far). */
case class FunnelState(stage: Int)

/** Open-session state for the flatMapGroupsWithState sessionizer. */
case class SessionState(start: Long, last: Long, n: Int, total: Double)

/** A completed session emitted once its inactivity gap expires. */
case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
                      n_events: Int, total_value: Double)

/** A user's funnel advancement emitted by funnelStateful. */
case class FunnelAdvance(user_id: Long, from_stage: Int, to_stage: Int)

/** One document arriving on the curation ingest stream (X12). */
case class DocArrival(doc_id: Long, text: String, lang: String,
                      ingest_ts: java.sql.Timestamp)

/** Structured Streaming operators (SURVEY.md §2.10 X1–X12). Each takes an
  * input DataFrame/Dataset so the same code runs against a MemoryStream in
  * tests, a readStream in production, or a batch frame where legal.
  *
  * Scale notes: all stateful ops are keyed on user/event ids, so state is
  * hash-partitioned across executors; watermarks bound state size —
  * without them session/dedup state would grow forever at 100 TB/day.
  */
object Streams {

  /** X1+X4: watermarked tumbling-window counts. Late events (> 10 min
    * behind the max seen ts) are dropped once their window is finalized. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** X2+X4: watermarked sliding-window aggregate (1 h window / 15 min slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** X3+X4: watermarked session windows (30-minute inactivity gap). */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** X5: streaming dedup — duplicate event_ids arriving within the
    * watermark horizon are dropped exactly once. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  private val stageOf = Map("signup" -> 1, "view" -> 2, "purchase" -> 3)

  /** X6: custom stateful funnel via mapGroupsWithState — tracks the
    * highest stage (signup=1 → view=2 → purchase=3) per user and emits a
    * row each time a user advances. Two documented semantics choices:
    * (1) the row reports NET advancement per micro-batch — a user who
    * jumps 0→3 inside one batch emits (0, 3), not three single-step
    * rows; per-stage totals come from the oracle-anchored batch form
    * (`ops.Streaming.x6_funnel`), this stream reports transitions.
    * (2) state is one Int per user under NoTimeout — bounded by
    * |users|, the deliberate exception to the watermark-bounds-state
    * rule (a dormant user costs 4 bytes; production would add a
    * timeout to retire abandoned funnels, at the price of re-emitting
    * an advancement if the user returns). */
  def funnelStateful(events: Dataset[Event]): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelAdvance](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(0)).stage
          val best = batch.foldLeft(prev) { (acc, e) =>
            math.max(acc, stageOf.getOrElse(e.event_type, 0))
          }
          state.update(FunnelState(best))
          FunnelAdvance(userId, prev, best)
      }
      .filter(a => a.to_stage > a.from_stage)
  }

  private val SessionGapMs = 30L * 60 * 1000

  /** X6 (full form): arbitrary-state sessionization via
    * flatMapGroupsWithState + event-time timeout — the shape
    * session_window (X3) cannot express when per-session state is more
    * than an aggregate (here it is, minimally: first/last/count/sum kept
    * independently). A session closes and is EMITTED only when the
    * watermark passes last-event + 30 min; in-batch gaps close sessions
    * immediately. State per user is one 4-field record. */
  def sessionizeStateful(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
          if (state.hasTimedOut) {
            val s = state.get
            out += SessionOut(userId, s.start, s.last + SessionGapMs, s.n, s.total)
            state.remove()
          } else {
            var cur = state.getOption.orNull
            batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              if (cur == null) cur = SessionState(t, t, 1, e.value)
              else if (t - cur.last > SessionGapMs) {
                out += SessionOut(userId, cur.start, cur.last + SessionGapMs, cur.n, cur.total)
                cur = SessionState(t, t, 1, e.value)
              } else cur = SessionState(math.min(cur.start, t), math.max(cur.last, t),
                cur.n + 1, cur.total + e.value)
              // min(start, t): a late cross-batch event that is older
              // than the stored session start (but inside the watermark
              // horizon) must extend the session BACKWARDS — keeping
              // cur.start as-is would report start_ms wrong by up to
              // the full watermark delay
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.last + SessionGapMs)
            }
          }
          out.iterator
      }
  }

  /** X6b: the same per-user running state on Spark 4's transformWithState
    * API (the successor to mapGroupsWithState: typed ValueState handles,
    * RocksDB-backed, timer support). Emits cumulative spend per user on
    * every update. Requires the RocksDB state store provider — see
    * StreamingSpec for session wiring. */
  class SpendProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, (Long, Double)] {
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Double] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      total = getHandle.getValueState[Double]("total",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Double)] = {
      val prev = if (total.exists()) total.get() else 0.0
      val now = prev + rows.map(_.value).sum
      total.update(now)
      Iterator.single((user, now))
    }
  }

  /** X6b wiring: running spend per user via transformWithState. */
  def runningSpend(events: Dataset[Event]): Dataset[(Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** X7: stream-static join — enrich a stream with a static dimension.
    * NO broadcast hint (r21, same stance as the batch twin): the dim is
    * sf-proportional, so a pinned broadcast dies at the 100 TB design
    * point; the per-micro-batch planner picks broadcast itself while
    * the dim's size estimate fits and falls back to a shuffle join when
    * it no longer does. */
  def enrich(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(customers, col("user_id") === col("c_custkey"))

  /** X8: incremental exactly-once file ingestion — new JSON files landing
    * in `landingDir` are processed once per AvailableNow trigger tick;
    * the checkpoint WAL makes re-runs idempotent (the Spark-native answer
    * to the spec's orchestration/retry questions, TEST:158-161). */
  def fileIngest(spark: SparkSession, landingDir: String, checkpointDir: String,
                 outDir: String): Unit = {
    // derived from the Event case class so the read schema can never
    // silently drift from the type the rest of the file processes
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    val q = spark.readStream.schema(schema).json(landingDir)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append)
      .start()
    q.awaitTermination()
  }

  /** X10: stream-stream interval join — purchases matched to the same
    * user's clicks within the preceding 30 minutes, both sides
    * watermarked so the join STATE is bounded: a buffered click older
    * than (watermark − 30 min) can never match any future purchase and
    * is evicted. Without the time bound (or the watermarks) Spark
    * rejects/grows the join unbounded — the bound is what makes a
    * stream⋈stream join runnable at all. Batch-equivalent:
    * `ops.Streaming.x10_interval_join` (the DuckDB-anchored form). */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    p.join(c, col("c_user") === col("user_id") &&
      col("c_ts") <= col("p_ts") &&
      col("c_ts") >= col("p_ts") - expr("interval 30 minutes"))
      .select(col("purchase_id"), col("user_id"), col("click_id"))
  }

  /** X9 (merge half): apply one micro-batch to a keyed parquet table as
    * an UPSERT — the batch's latest version per event_id replaces any
    * standing row with that key; unseen keys append. The in-batch
    * dedup orders by EVERY non-key column so ties are deterministic:
    * re-applying an identical batch always keeps the same row
    * (at-least-once delivery becomes effectively-once at the sink).
    *
    * Merge cost is bounded by the BATCH, not the table: rows are
    * hash-bucketed by `event_id` into `nBuckets` buckets (a pure
    * murmur3 function of the key, so a key always lands in the same
    * bucket), the batch's touched-bucket set is computed first
    * (≤ min(batch keys, N) buckets), and the anti-join/union/rewrite
    * reads and rewrites ONLY those buckets — one Spark job writes
    * every touched bucket's replacement via `partitionBy("b")` into a
    * fresh immutable commit dir, untouched buckets are never opened.
    * At 100 TB with a daily micro-batch this turns an O(table) rewrite
    * into O(batch × table/N).
    *
    * Commit is a single manifest-pointer swap ([[graft.sources.ManifestTable]]):
    * the new manifest lists untouched buckets at their existing dirs
    * and touched buckets at the just-written commit dir, and one
    * atomic rename publishes it. A concurrent reader therefore sees
    * the WHOLE table pre-merge or the whole table post-merge — never
    * the mixed per-bucket view the previous retire-then-promote swap
    * could expose, and never a mid-rename missing bucket. A crash
    * anywhere before the manifest rename leaves only an unreferenced
    * commit dir (swept by the next commit's GC); the checkpoint then
    * re-delivers the batch and the merge re-runs — idempotent, so a
    * batch that DID commit before the crash absorbs the redelivery as
    * a no-op. A `_n_buckets` marker pins the bucket count at table
    * creation — written BEFORE any data movement — so no call (or
    * crash-interrupted call) can ever merge with a different modulus.
    * Long-lived tables accrete commit dirs that are only partially
    * live (a dir survives while ANY retained manifest references any
    * bucket in it); [[compactUpserted]] is the maintenance answer,
    * exactly as in the production table formats this mirrors. */
  def upsertBatch(batch: DataFrame, tableDir: String,
                  nBuckets: Int = 256,
                  deleteWhen: org.apache.spark.sql.Column = lit(false)): Unit = {
    // ts leads (latest version wins); every remaining column follows,
    // derived from the schema so the "ties are deterministic whatever
    // the duplicate set" invariant survives schema evolution. The merge
    // kernel itself — marker pinning, window dedup, touched-bucket
    // rewrite, manifest commit — is the shared batch MERGE INTO core
    // ([[graft.sources.MergeInto.applyBatch]]); X9 is that kernel with
    // an event-time tie order. `deleteWhen` (default never) lets a CDC
    // feed carry TOMBSTONES: a key whose latest row matches the
    // predicate is removed from the table instead of upserted — the
    // Kafka-compacted-topic / Debezium null-payload consumption shape.
    val tieCols = col("ts").desc +:
      batch.columns.filterNot(c => c == "event_id" || c == "ts")
        .sorted.map(col(_).desc).toSeq
    graft.sources.MergeInto.applyBatch(
      batch, tableDir, "event_id", tieCols, deleteWhen, nBuckets)
  }

  /** Read-back of an X9 table: the live manifest's snapshot. The manifest
    * names leaf `b=N` dirs directly, so no partition column is inferred —
    * consumers see the logical schema. */
  def readUpserted(spark: SparkSession, tableDir: String): DataFrame =
    graft.sources.ManifestTable.read(spark, tableDir)

  /** X9 maintenance (the OPTIMIZE pass upsertBatch's scaladoc promises):
    * long-lived tables accrete commit dirs that are only partially live
    * — a dir survives while ANY retained manifest references any bucket
    * in it. This rewrites the live snapshot into ONE fresh commit dir
    * (a single distributed job, re-bucketed by the pinned modulus) and
    * publishes it with one manifest swap, after which the next commit's
    * GC drops every old dir. Same reader guarantees as the merge: a
    * racing reader sees the old complete snapshot or the new one. */
  def compactUpserted(spark: SparkSession, tableDir: String): Unit =
    graft.sources.MergeInto.compact(spark, tableDir)

  /** X9 wiring: stream → foreachBatch upsert into `tableDir`, one
    * AvailableNow pass per call; the checkpoint makes re-runs skip
    * already-committed batches, and upsertBatch makes even a re-applied
    * batch harmless. */
  def upsertSink(stream: DataFrame, tableDir: String,
                 checkpointDir: String, nBuckets: Int = 256,
                 deleteWhen: org.apache.spark.sql.Column = lit(false)): Unit = {
    val q = stream.writeStream
      .foreachBatch((b: DataFrame, _: Long) =>
        upsertBatch(b, tableDir, nBuckets, deleteWhen))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming APPEND ingest into a manifest table with data-skipping
    * stats (X8 × S19): each micro-batch lands as one immutable commit
    * dir through [[graft.sources.ManifestTable.append]], its
    * `statsCols` min/max observed during the batch's own write job —
    * so a downstream `rangeScan` on event time prunes whole
    * micro-batches the query's window doesn't touch, which is exactly
    * the shape streaming ingest produces (each batch spans a narrow
    * slice of event time). `compactAppend` later folds the accreted
    * batch dirs into range-sorted ones without stopping the stream
    * (racing appends rebase). EXACTLY-ONCE across restarts (r11): each
    * batch commit records a `txn:<appId>` → batchId watermark in the
    * manifest's `#meta` header ([[graft.sources.ManifestTable.metaOf]]);
    * a batch re-delivered after a crash in the window between manifest
    * commit and checkpoint ack arrives with a batchId ≤ the recorded
    * watermark and is SKIPPED instead of double-appended — the
    * (txnAppId, txnVersion) idempotent-write contract Delta defines
    * for foreachBatch sinks. `appId` defaults to the checkpoint path
    * (the query identity the batchIds are scoped to); a NEW checkpoint
    * against the same table is a new writer — pass the old appId to
    * keep the watermark, and note the standard caveat: a fresh
    * checkpoint's batch 0 re-reads the whole source, so reusing the
    * appId deliberately drops that replay. */
  def appendSink(stream: DataFrame, tableDir: String,
                 checkpointDir: String,
                 statsCols: Seq[String] = Seq.empty,
                 txnAppId: Option[String] = None): Unit = {
    val app = txnAppId.getOrElse(checkpointDir)
    val q = stream.writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        appendBatch(b, tableDir, statsCols, app, id): Unit)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The foreachBatch body of [[appendSink]], directly callable so the
    * crash-replay window is testable without killing a JVM: commit the
    * batch with the writer's txn watermark unless the table already
    * recorded this (or a later) batchId for `appId`. Returns the
    * committed version, or None when the batch was recognized as a
    * replay (or was empty). Single writer per appId (the foreachBatch
    * contract — batches of one query never run concurrently), so the
    * read-check + append pair needs no extra atomicity: the only
    * re-entry is the crashed writer's own replay, which this check
    * absorbs. */
  private[graft] def appendBatch(b: DataFrame, tableDir: String,
                                 statsCols: Seq[String], appId: String,
                                 batchId: Long): Option[Long] = {
    val spark = b.sparkSession
    val key = s"txn:$appId"
    // ONE head resolution per micro-batch (r20 review find): the txn
    // replay check and the cluster-spec probe read the same snapshot
    // — re-listing for each doubled the driver-side metadata round
    // trips on a hot streaming path
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val headV = graft.sources.ManifestTable.headVersion(spark, tableDir)
    val committed = headV.flatMap(v =>
      graft.sources.ManifestTable.metaOf(fs, tableDir, v).get(key))
      .map(_.toLong)
    if (committed.exists(_ >= batchId)) None // replayed batch: already in
    else if (b.isEmpty) None
    else {
      // the table's declared contracts and cluster spec bind the
      // streaming writer like every other API (S27/S30 parity): a
      // violating micro-batch fails BEFORE its manifest commit — the
      // checkpoint doesn't advance, so the stream surfaces the error
      // instead of quietly thinning
      val guarded = graft.sources.ManifestSupport
        .withDeclaredChecks(b, tableDir)
      val spec = headV.flatMap(v =>
        graft.sources.ManifestTable.clusterSpecOf(fs, tableDir, v))
      Some(spec match {
        case Some(cols) => graft.sources.ManifestTable.appendClustered(
          guarded, tableDir, (statsCols ++ cols).distinct,
          meta = Map(key -> batchId.toString))
        case None => graft.sources.ManifestTable.append(guarded, tableDir,
          statsCols, meta = Map(key -> batchId.toString))
      })
    }
  }

  /** X12 (T40 × X5): streaming curation ingest — the funnel's stateless
    * gate block applied per micro-batch (the SAME code path batch t40
    * runs: [[graft.ops.Curation.statelessGates]], so the gates cannot
    * drift between the lambda halves), then cross-stream exact dedup on
    * the content hash within the watermark horizon
    * (dropDuplicatesWithinWatermark state is bounded by the horizon —
    * a doc's hash retires 10 minutes of event time after first seen).
    * Near-dedup and quota sampling deliberately stay BATCH jobs over
    * the curated store: min-over-survivors canonicalization needs the
    * full candidate set, which a stream never has — the batch/stream
    * split every production curation pipeline makes. Input needs
    * (text, lang, ingest_ts); extra columns pass through. The derived
    * gate intermediates are dropped; `h` (the dedup key) and `ntok`
    * are DELIBERATE carry-throughs — the downstream batch near-dedup
    * keys on content hashes and the quota/mixture planners consume
    * token counts, so landing them with the row saves a recompute. */
  def curationIngest(docs: DataFrame): DataFrame =
    graft.ops.Curation.statelessGates(docs)
      .filter(col("f3"))
      .drop("t", "cl", "ratio", "f1", "f2", "f3")
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("h")
}
