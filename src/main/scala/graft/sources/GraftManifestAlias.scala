package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** S20 — `graft-manifest`, the short-name alias of the V2 `graft`
  * provider ([[GraftTableProvider]]). Every batch read under either
  * name — `spark.read.format("graft-manifest").load(dir)`, `versionAsOf`
  * time travel, `CREATE TABLE t USING `graft-manifest``, batch
  * `readChangeFeed` — is the same V2 table and plans as the same
  * columnar `BatchScanExec`: stats dir pruning, aggregate pushdown and
  * post-pruning statistics come with it.
  *
  * The alias adds only the two entry points Spark reaches through V1
  * seams:
  *  - **DataFrameWriter saves.** Spark refuses ErrorIfExists/Ignore on a
  *    V2 table claiming `BATCH_WRITE` and otherwise falls back to
  *    [[CreatableRelationProvider]]. The alias's tables therefore drop
  *    `BATCH_WRITE` (keeping `V1_BATCH_WRITE`, which SQL INSERT plans
  *    through), so every `df.write.format("graft-manifest")` save, in
  *    every SaveMode, lands in the write-side `createRelation` below.
  *  - **The X14 CDC stream**, through [[StreamSourceProvider]].
  */
class GraftManifestAlias extends GraftTableProvider
    with CreatableRelationProvider with StreamSourceProvider {

  override def shortName(): String = "graft-manifest"

  override protected def batchWrite: Boolean = false

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest needs a path: .load(dir) or OPTIONS (path '...')"))

  /** X14 — `spark.readStream.format("graft-manifest")
    * .option("readChangeFeed", true).load(dir)`: the row-level CDC
    * feed as a STREAM. Served through Spark's V1 `Source` API
    * deliberately — each micro-batch is a signed-aggregation DIFF (a
    * plan with a shuffle), which the V2 `MicroBatchStream` partition
    * contract cannot express; Delta's streaming source rides the same
    * seam for the same reason. Append tailing (dirs only, columnar)
    * stays on the V2 X13 source (`format("graft")`). */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    require(parameters.get("readChangeFeed").exists(_.toBoolean),
      "graft-manifest streams the CHANGE FEED (option readChangeFeed=" +
        "true); to tail appends columnar use spark.readStream" +
        ".format(\"graft\") — the X13 source")
    (shortName(),
      GraftMetaTables.changesSchemaOf(ctx.sparkSession, pathOf(parameters)))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    require(parameters.get("readChangeFeed").exists(_.toBoolean),
      "graft-manifest streams the CHANGE FEED (option readChangeFeed=true)")
    val dir = pathOf(parameters)
    val spark = ctx.sparkSession
    // default floor = the head at stream START: only NEW commits
    // stream (Delta CDF streaming's default); startingVersion=v makes
    // the first batch INCLUDE v's changes
    val floor = parameters.get("startingVersion").map { s =>
      val v = s.toLong
      // validated HERE, not at the first batch: an invalid option
      // used to start the stream and then die with a misleading
      // "version -1 no longer retained ... size retention" error
      // pointing the user at the wrong knob (r20 review find)
      require(v >= 1,
        s"startingVersion must be >= 1 (versions number from 1), got $v")
      v - 1
    }
      .orElse(ManifestTable.headVersion(spark, dir))
      .getOrElse(throw new IllegalArgumentException(
        s"no committed manifest at $dir"))
    new GraftCdcSource(spark, dir, floor,
      parameters.get("maxVersionsPerTrigger").map(_.toLong))
  }

  /** Write side: append lands through [[ManifestTable.append]] (one
    * immutable commit dir + optional `statsCols` skipping stats observed
    * in the write job); Overwrite commits a manifest listing ONLY the
    * new dir — prior dirs stay on disk for time travel until GC'd, the
    * Delta overwrite semantic. ErrorIfExists/Ignore key off whether the
    * table has any committed version. */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data0: DataFrame): BaseRelation = {
    val dir = pathOf(parameters)
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    // a CDF consumer needs the versions it will diff to SURVIVE GC —
    // retention is a write-side option, like Delta's retention knobs
    val retain = parameters.get("retainGenerations").map(_.toInt).getOrElse(2)
    val exists = ManifestTable.headVersion(ctx.sparkSession, dir).isDefined
    // S47 — idempotent batch writes on the V1 alias too: same option
    // pair, same check-then-write replay gate as the V2 builder
    val txn = ManifestSupport.txnOf(parameters.get)
    val txnMeta = ManifestSupport.txnMetaOf(txn)
    if (ManifestSupport.txnApplied(ctx.sparkSession, dir, txn))
      return written(ctx, data0)
    // declared data contracts bind inside the routed write (S30) —
    // each route binds exactly once and guards its own commit
    val data = data0
    mode match {
      case SaveMode.Append =>
        ManifestSupport.appendRespectingSpec(data, dir, statsCols, retain,
          extraMeta = txnMeta)
      case SaveMode.Overwrite =>
        ManifestSupport.overwrite(data, dir, statsCols, retain,
          extraMeta = txnMeta)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-manifest table already committed at $dir (mode=ErrorIfExists)")
      case SaveMode.ErrorIfExists =>
        ManifestTable.append(data, dir, statsCols, retain, meta = txnMeta): Unit
      case SaveMode.Ignore =>
        if (!exists) ManifestTable.append(data, dir, statsCols, retain,
          meta = txnMeta): Unit
    }
    written(ctx, data0)
  }

  /** What `createRelation` hands back to Spark after a save, which only
    * uses it to re-cache plans over the written data. Reads go through
    * the V2 table, never through this relation. */
  private def written(ctx: SQLContext, data: DataFrame): BaseRelation =
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
}

/** X14 — the manifest table's CDC feed as a Structured Streaming
  * SOURCE. Offsets are manifest VERSIONS (the same log positions X13
  * uses); each micro-batch is the union of per-adjacent-version diff
  * feeds in `(start, end]`, tagged `_commit_version` — an update
  * arrives as delete(old image) + insert(new image), and a pure
  * compaction contributes an EMPTY diff (old and new dirs cancel in
  * the multiset), so maintenance never floods the consumer the way
  * X13's `ignoreChanges` re-emission does.
  *
  * Exactly-once: versions in the checkpoint; re-planned batches diff
  * the same immutable manifests. A restart whose checkpointed version
  * is no longer RETAINED fails loudly naming the retention knobs — the
  * diff needs the old manifest as its base (size `retainGenerations` /
  * `minRetainMs` to the longest restart gap, the X13 rule).
  *
  * Scale: each batch costs only the dirs that CHANGED in its version
  * steps; the steady-state tail is O(changes), never O(table). */
private[sources] class GraftCdcSource(spark: SparkSession, dir: String,
                                      floor: Long,
                                      maxVersions: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}

  private def fs = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  override val schema: StructType =
    GraftMetaTables.changesSchemaOf(spark, dir)

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset)
      : Long = o match {
    case LongOffset(v) => v
    case so: SerializedOffset => so.json.toLong
    case other => other.json.toLong // every offset here is a version
  }

  // ---- admission control (X14): `maxVersionsPerTrigger` caps each
  // micro-batch to n version-diff steps, so a long-stopped consumer
  // drains its backlog in bounded batches instead of one giant union
  // of every missed diff. Implemented on the engine's own
  // SupportsAdmissionControl seam (the FileStreamSource shape): the
  // engine hands this source its true position as `startOffset`, so
  // pacing needs no side state and survives restarts by construction.
  // ReadMaxRows carries the cap (the unit is version STEPS — the
  // feed's atomic batch unit — not rows; the engine treats the limit
  // as opaque and hands it back).

  override def getDefaultReadLimit: ReadLimit =
    maxVersions.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Trigger.AvailableNow (SupportsTriggerAvailableNow): pin the head
    * at query start; the engine then loops bounded batches up to it. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = ManifestTable.headVersion(spark, dir)

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset = {
    val s = Option(startOffset).map(versionOf).getOrElse(floor)
    val head0 = ManifestTable.headVersion(spark, dir).getOrElse(s)
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    val capped = limit match {
      case r: ReadMaxRows => math.min(head, s + r.maxRows())
      case _ => head
    }
    LongOffset(math.max(s, capped))
  }

  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    ManifestTable.headVersion(spark, dir).map(LongOffset(_)).orNull

  // legacy (non-admission) path — the head, unconditionally: `floor`
  // must only bound a FRESH stream's first batch (getBatch's
  // start=None case) — a source is RE-created on restart with a new
  // floor, and filtering here would suppress batches the checkpointed
  // offset is entitled to
  override def getOffset: Option[Offset] =
    ManifestTable.headVersion(spark, dir).map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = start.map(versionOf).getOrElse(floor)
    val hi = versionOf(end)
    // the diff for version lo+1 needs version lo's manifest as its
    // base. The only legitimate base OUTSIDE the retained set is the
    // EMPTY pre-table (lo=0) — and only while version 1 itself is
    // still retained (version numbers are dense, so a retained head
    // above 1 means real history was GC'd and its changes are
    // unrecoverable, not empty).
    val vs = ManifestTable.versions(fs, dir)
    require(lo >= hi || vs.contains(lo) || (lo == 0L && vs.headOption.contains(1L)),
      s"stream offset version $lo is no longer retained at $dir — size " +
        "retainGenerations/minRetainMs to cover the longest restart gap, " +
        "or restart from a fresh checkpoint")
    val feed = GraftMetaTables.changesFeedRange(spark, dir, lo, hi)
    // the engine asserts isStreaming on the returned plan; the diff
    // stays LAZY — toRdd builds the DAG, rows compute when the
    // micro-batch runs (see StreamingShim for the seam rationale)
    org.apache.spark.sql.graft.StreamingShim.streamingDataFrame(
      spark, feed.queryExecution.toRdd, feed.schema)
  }

  override def stop(): Unit = ()
}
