package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.functions.{coalesce, col, count, lit, when}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Native row-level operations (S24–S26 via Spark's OWN DML rewrites):
  * the three `RowLevelOperation` implementations behind
  * [[GraftTable.newRowLevelOperationBuilder]], replacing the extension
  * seam's plan-intercepting rules with the analyzer-blessed path —
  * `RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` now plan DELETE/UPDATE/MERGE themselves
  * (including subquery conditions, which the seam refused), and this
  * file supplies the three physical strategies those rewrites choose
  * between:
  *
  *  - [[GraftGroupOperation]] — group-based copy-on-write at COMMIT-DIR
  *    granularity for plain manifest tables. The group id is the
  *    `_graft_dir` metadata column; Spark's runtime group filtering
  *    narrows the rewrite to exactly the dirs holding matches (the
  *    same dir pruning the extension kernels did, now expressed
  *    through `SupportsRuntimeFiltering` on the scan). The write runs
  *    the streaming task-writer kernel — contracts bound and stats
  *    computed in the task writers, folded from the commit messages —
  *    and publishes through [[ManifestTable.publishRewrite]] with no
  *    read-back of the dir it wrote.
  *  - [[GraftDeltaOperation]] — `SupportsDelta` for S31 bucketed
  *    layouts: per-row DELETE/UPDATE/INSERT records land as an
  *    executor-written changeset keyed on the bucket key, applied at
  *    commit through [[MergeInto.applyBatch]] — O(changeset), never a
  *    group rewrite that would break the `b=N` layout invariant.
  *  - [[GraftPositionDeltaOperation]] — `SupportsDelta` keyed on (file,
  *    row position) for `dml.mode=merge-on-read` tables: deletes land
  *    as deletion vectors, new images as one fresh dir.
  *
  * Two DELETE shapes short-circuit: a truncate, and a V1-translatable
  * predicate on a plain copy-on-write table, which Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` routes to
  * [[GraftTable.deleteWhere]]'s stats-bounded copy-on-write. The direct
  * `updateWhere`/`deleteWhereMoR`/`updateWhereMoR` API builds the same
  * `UpdateTable`/`DeleteFromTable` plans and runs these writers too.
  */
object GraftRowLevel {

  /** The group-id metadata column: which commit dir a row resides in.
    * Constant per file, emitted through the `PartitionedFile`
    * partition-values channel — zero bytes read per row. */
  val DirCol = "_graft_dir"

  val dirField: StructField = StructField(DirCol, StringType, nullable = false)

  /** Row-identity metadata columns for MERGE-ON-READ delta DML (S41):
    * the data FILE a row lives in (canonical URI — [[DvStore.keyOf]]
    * rendering) and its row POSITION within that file (parquet
    * row-index semantics). Together they are exactly a deletion-vector
    * record, which is what makes (file, pos) the natural `SupportsDelta`
    * row id: a delete record IS a mask entry. */
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"

  val fileField: StructField = StructField(FileCol, StringType, nullable = false)
  val posField: StructField =
    StructField(PosCol, org.apache.spark.sql.types.LongType, nullable = false)

  /** Exposed via `SupportsMetadataColumns` (`SELECT _graft_dir, ...`
    * works as table observability too). Preservation is disabled for
    * CoW writes: the dir a row CAME from is meaningless in the dir
    * that replaces it, and a preserved metadata column would otherwise
    * ride into the write schema as a phantom data column. */
  object DirMetadataColumn extends MetadataColumn {
    override def name: String = DirCol
    override def dataType: DataType = StringType
    override def isNullable: Boolean = false
    override def comment: String =
      "commit dir holding this row (row-level operation group id)"
    override def metadataInJSON: String =
      s"""{"${MetadataColumn.PRESERVE_ON_DELETE}": false,
         | "${MetadataColumn.PRESERVE_ON_UPDATE}": false}""".stripMargin
  }

  /** Unlike [[DirMetadataColumn]], the row-id halves are PRESERVED
    * (default metadata): Spark's delta rewrites NULLIFY non-preserved
    * metadata attributes in delete records (`null AS _graft_file`) —
    * which would erase the row identity the write needs — and
    * `WriteDelta.outputResolved` then rejects the nullable projection
    * against the non-nullable row-id attrs. Preservation is what keeps
    * the (file, pos) values flowing into the delete records. */
  object FileMetadataColumn extends MetadataColumn {
    override def name: String = FileCol
    override def dataType: DataType = StringType
    override def isNullable: Boolean = false
    override def comment: String =
      "data file holding this row (merge-on-read row-id half)"
  }

  object PosMetadataColumn extends MetadataColumn {
    override def name: String = PosCol
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment: String =
      "row position within _graft_file (merge-on-read row-id half)"
  }

  /** The table's persisted retention, same default as every commit
    * surface. */
  private[sources] def retainOf(table: GraftTable): Int =
    table.tableProps.get("retainGenerations")
      .flatMap(_.toIntOption).getOrElse(2)
}

/** Group-based copy-on-write over commit dirs. ONE instance is shared
  * by the operation's scan and write (Spark's `RowLevelOperationTable`
  * contract): the scan records which dirs it actually planned (post
  * static-stats pruning AND runtime group filtering) and the write
  * replaces exactly those dirs with its output in one
  * [[ManifestTable.publishRewrite]] commit. */
class GraftGroupOperation(table: GraftTable, cmd: Command)
    extends RowLevelOperation {

  /** Dirs the operation's scan ended up reading — the groups the write
    * replaces. Written once on the driver at scan planning, read on
    * the driver when the write builds its writer factory and at commit
    * (planning happens-before both). */
  @volatile private var affectedDirs: Set[String] = Set.empty

  private[sources] def recordAffected(planned: Seq[String]): Unit =
    affectedDirs = planned.toSet

  override def command(): Command = cmd

  override def description(): String =
    s"GraftGroupCoW[${table.tableDir}]"

  /** The rewrite's scan: same pruned parquet scan as a read, with two
    * group-mode differences wired in [[GraftScanBuilder]]/[[GraftScan]]
    * — runtime filtering happens on `_graft_dir` (exact group sets, not
    * stats envelopes), and pushed filters prune whole dirs only (every
    * row of a surviving dir must be returned, because rows the
    * condition does NOT match are copied by the rewrite). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = table.pinnedV.getOrElse(throw new IllegalArgumentException(
      s"no committed graft table at ${table.tableDir}"))
    import scala.jdk.CollectionConverters._
    GraftScanBuilder(table.tableDir, v, table.schema(),
      options.asCaseSensitiveMap().asScala.toMap, rowLevel = Some(this))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftGroupWrite(table, GraftGroupOperation.this, info.schema())
    }

  /** Keep `_graft_dir` in the rewrite plan — the handle runtime group
    * filtering narrows. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.DirCol))

  private[sources] def affected: Set[String] = affectedDirs
}

/** The CoW write on the streaming task-writer kernel: task writers
  * stage the replacement rows, binding the contracts with the DML
  * write-back semantics and min/maxing the tracked columns inline;
  * commit folds the stats from the messages and publishes over the
  * affected dirs, starting no query of its own (a tracked column the
  * writers cannot min/max, e.g. binary, takes the shared read-back).
  * Straggler-safe like X15 — only commit-message-named files move into
  * the publish dir. */
class GraftGroupWrite(table: GraftTable, op: GraftGroupOperation,
                      writeSchema: StructType)
    extends Write with BatchWrite {

  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val stageRel = s"rl-$runId/stage"
  private val cid = s"c-rl-$runId"
  private val dir = table.tableDir

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(dir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** The version the operation's scan reads. */
  private val baseV: Long = table.pinnedV.getOrElse(
    throw new IllegalArgumentException(s"no committed graft table at $dir"))

  /** S42 — task writers stage parquet with PHYSICAL names. */
  private val cmap: Map[String, String] = ManifestTable.colMapOf(fs, dir, baseV)

  private val zone = spark.sessionState.conf.sessionLocalTimeZone

  /** Contracts bound at write construction, and the declared keys the
    * publish guard checks the head against. A DELETE carries its rows
    * byte-identical, so it recomputes no generated value. */
  private val (contracts, boundChecks) = {
    val (c, _, keys) = GraftRowContracts.forTable(spark, writeSchema,
      ManifestTable.metaOf(fs, dir, baseV), cmap, dml = true)
    (if (op.command() == Command.DELETE) c.copy(gens = Seq.empty) else c, keys)
  }

  /** The columns the touched dirs track, re-recorded for the
    * replacement dir; resolved once the scan has planned the dirs. */
  private lazy val statsCols: Seq[String] = {
    val baseStats = ManifestTable.statsOf(fs, dir, baseV)
    writeSchema.fieldNames.filter(c => op.affected.exists(p =>
      baseStats.get(p).exists(ManifestTable.statsFor(_, c).isDefined))).toSeq
  }

  private lazy val inlineSpec: Option[Seq[StatsColSpec]] =
    GraftTaskWriters.inlineStatsSpec(writeSchema, statsCols)

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    GraftBatchWriterFactory(s"$dir/$stageRel",
      GraftTaskWriters.writeConf(spark,
        ManifestTable.toPhysical(writeSchema, cmap)),
      inlineSpec.getOrElse(Seq.empty), zone,
      Some(contracts).filterNot(_.isEmpty))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftTaskCommit if m.rows > 0 => m }
    val touched = op.affected
    // the dv state the operation's scan READ THROUGH (the pinned
    // version's) — publishRewrite aborts if a racing merge-on-read
    // delete advanced a touched dir's mask since
    val dvExpected = ManifestTable.dvOf(fs, dir, baseV).view
      .filterKeys(touched).toMap
    try {
      if (files.isEmpty) {
        // every row of every affected dir was deleted — pure removal
        if (touched.nonEmpty)
          ManifestTable.publishRewrite(spark, dir, touched, None, None,
            writeSchema, Seq.empty, GraftRowLevel.retainOf(table),
            boundChecks = Set.empty, dvExpected = dvExpected): Unit
        return
      }
      GraftTaskWriters.publishNamed(fs, new Path(dir, stageRel),
        new Path(dir, cid), files.map(m => new Path(m.file).getName).toSeq)
      val payload = GraftTaskWriters.dirStats(spark, fs, dir, writeSchema, cmap,
        Seq(cid -> files.toSeq), statsCols, Seq.empty, zone)(cid)
      ManifestTable.publishRewrite(spark, dir, touched, Some(cid),
        Some(payload), writeSchema, statsCols,
        GraftRowLevel.retainOf(table), boundChecks,
        dvExpected = dvExpected): Unit
    } finally {
      fs.delete(new Path(dir, s"rl-$runId"), true): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    fs.delete(new Path(dir, s"rl-$runId"), true): Unit
    fs.delete(new Path(dir, cid), true): Unit
  }
}

/** Batch flavor of the X15 task-writer factory: one uniquely-named
  * parquet file per task, opened lazily, straggler-reconciled at
  * commit by the named-file move. The zero-padded partition number
  * keeps a dir's file listing in partition order. */
case class GraftBatchWriterFactory(stageDir: String,
                                   conf: SerializableConfiguration,
                                   statsSpec: Seq[StatsColSpec],
                                   zone: String,
                                   contracts: Option[GraftRowContracts],
                                   ndvSpec: Seq[StatsColSpec] = Seq.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftTaskWriter(
      f"$stageDir/part-$partitionId%05d-$taskId-" +
        java.util.UUID.randomUUID().toString.take(8) + ".snappy.parquet",
      conf.value, statsSpec, zone, partitionId, contracts, ndvSpec)
}

/** `SupportsDelta` for bucketed (S31) tables: Spark hands the write
  * per-row DELETE/UPDATE/INSERT records keyed on the bucket key; the
  * writers stage them as a changeset (table columns, null except the
  * key on deletes, plus a `_graft_change` marker) and commit applies
  * it through the O(changeset) merge kernel — placement, one-winner
  * dedup, CHECK binding and optimistic rebase all inherited from
  * [[MergeInto.applyBatch]]. */
class GraftDeltaOperation(table: GraftTable, cmd: Command, key: String)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = cmd

  override def description(): String =
    s"GraftDelta[${table.tableDir} key=$key]"

  /** Plain pruned scan — a delta write touches only rows the condition
    * matches, so filters push fully (dir pruning AND parquet row-group
    * pruning), unlike the group scan. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = table.pinnedV.getOrElse(throw new IllegalArgumentException(
      s"no committed graft table at ${table.tableDir}"))
    import scala.jdk.CollectionConverters._
    GraftScanBuilder(table.tableDir, v, table.schema(),
      options.asCaseSensitiveMap().asScala.toMap)
  }

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(key))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(table, key, info, cmd)
    }
}

private[sources] object GraftDeltaWrite {
  /** Changeset marker column: 0 = upsert (insert/updated row),
    * 1 = delete (row identified by key). The marker sorts upserts
    * ahead of deletes in the one-winner-per-key reduction, so an
    * in-place update (delete(k) + insert(k) in one batch) nets to a
    * replace — the same change_type-first tie order
    * [[MergeInto.replicate]] uses for CDC feeds. */
  val ChangeCol = "_graft_change"
}

class GraftDeltaWrite(table: GraftTable, key: String, info: LogicalWriteInfo,
                      cmd: Command)
    extends DeltaWrite with DeltaBatchWrite {

  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val stageRel = s"rl-$runId/stage"
  private val pubRel = s"rl-$runId/pub"

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(table.tableDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** All table columns nullable (delete records carry only the key)
    * plus the marker. */
  private val changesetSchema: StructType = StructType(
    table.schema().fields.map(_.copy(nullable = true)) :+
      StructField(GraftDeltaWrite.ChangeCol, IntegerType, nullable = false))

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val tableFields = table.schema()
    // data rows arrive in the WRITE schema's column order — map each
    // incoming ordinal to its changeset ordinal by name
    val rowMap = this.info.schema().fieldNames.map(tableFields.fieldIndex)
    val rowTypes = this.info.schema().fields.map(_.dataType)
    GraftDeltaWriterFactory(s"${table.tableDir}/$stageRel",
      GraftTaskWriters.writeConf(spark, changesetSchema),
      changesetSchema.length - 1, rowMap, rowTypes,
      tableFields.fieldIndex(key), tableFields(key).dataType)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = table.tableDir
    val files = messages.collect { case m: GraftTaskCommit if m.rows > 0 => m }
    try {
      if (files.isEmpty) return // no-op DML: nothing matched, nothing landed
      GraftTaskWriters.publishNamed(fs, new Path(dir, stageRel),
        new Path(dir, pubRel), files.map(m => new Path(m.file).getName).toSeq)
      val (_, n) = MergeInto.bucketedGeometry(spark, dir).getOrElse(
        throw new IllegalStateException(s"bucketed geometry vanished at $dir"))
      val cs0 = spark.read.schema(changesetSchema).parquet(s"$dir/$pubRel")
      val marker = col(GraftDeltaWrite.ChangeCol)
      // a DELETE's changeset holds delete records only: no insert can
      // duplicate a key, so it skips both insert probes below
      val inserts = cmd != Command.DELETE
      // a keyed table holds ONE row per key, so an INSERT record for a
      // key the target already holds — reachable via MERGE's NOT
      // MATCHED under a compound ON predicate, or an UPDATE that moves
      // the bucket key onto a standing one — is the duplicate-key
      // corruption this layout forbids: fail loudly, table unchanged.
      // (Inserts paired with their own delete record are updates in
      // changeset terms and replace legitimately. Two surfaces do NOT
      // come through here and keep the layout's documented
      // upsert-by-key contract instead: plain INSERT INTO, and
      // INSERT-ONLY merges — Spark plans those as an APPEND via a
      // left-anti join, which routes through the upsert kernel.)
      // ONE per-key aggregate of insert and delete records serves both
      // probes. Two insert records of one key would collapse to one
      // arbitrary winner in applyBatch (a lost source row), so they fail
      // as loudly — counted over ALL inserts, as an UPDATE plus an
      // unmatched INSERT of one key is the same ambiguity (r19 find).
      val perKey = cs0.groupBy(col(key)).agg(
        count(when(marker === 0, 1)).as("ins"),
        count(when(marker === 1, 1)).as("del"))
      val pureInserts = perKey.filter(col("ins") > 0 && col("del") === 0)
        .select(col(key))
      val dupIns =
        if (!inserts) Array.empty[org.apache.spark.sql.Row]
        else perKey.filter(col("ins") > 1).limit(5).collect()
      if (dupIns.nonEmpty)
        throw new IllegalStateException(
          s"MERGE carries duplicate insert records for source key(s) " +
            s"${dupIns.map(_.get(0)).mkString(", ")} in keyed table $dir " +
            "(one row per key by construction); deduplicate the source")
      // CHECK-then-act closed (r19 review find): the clash probe runs
      // HERE against the observed head AND re-runs inside the kernel's
      // per-attempt head validation — a racing insert of the same key
      // that lands between probe and commit forces a rebase, whose
      // retry re-probes and refuses instead of silently replacing the
      // winner's row. No standing bucket touched → no join to run.
      def standingClashGuard(): Unit = if (inserts) {
        MergeInto.standingForKeys(spark, dir, pureInserts).foreach { st =>
          val clash = pureInserts
            .join(st.select(col(key)), Seq(key), "left_semi")
            .limit(5).collect()
          if (clash.nonEmpty)
            throw new IllegalStateException(
              s"MERGE INSERT would duplicate standing key(s) " +
                s"${clash.map(_.get(0)).mkString(", ")} in keyed table $dir " +
                "(one row per key by construction); route replacements " +
                "through WHEN MATCHED or widen the ON condition")
        }
      }
      standingClashGuard()
      // declared CHECK constraints bind the changeset before it merges:
      // an UPDATE'd/INSERT'd row violating a constraint fails the merge
      // job pre-commit; DELETE records are exempt — their null-filled
      // data columns must not be judged ('v IS NOT NULL' would
      // otherwise fail every DELETE)
      val (cs, boundKeys) = ManifestSupport.bindDeclaredChecks(cs0, dir,
        exemptWhen = Some(s"${GraftDeltaWrite.ChangeCol} = 1"),
        recomputeGenerated = true)
      MergeInto.applyBatch(cs, dir, key,
        tieCols = marker +: MergeInto.defaultTies(
          cs.drop(GraftDeltaWrite.ChangeCol), key),
        deleteWhen = coalesce(marker === 1, lit(false)),
        nBuckets = n, dropCols = Seq(GraftDeltaWrite.ChangeCol),
        // per-attempt head validation: the ALTER-vs-write CHECK guard
        // (a constraint declared while this DML ran never judged its
        // changeset) AND the standing-key clash re-probe (both r19
        // review finds) — each re-runs after every lost commit race
        validateHead = m => {
          ManifestTable.checkConflictGuard(fs, dir, m, boundKeys, Seq.empty)
          standingClashGuard()
        }): Unit
    } finally {
      fs.delete(new Path(dir, s"rl-$runId"), true): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(new Path(table.tableDir, s"rl-$runId"), true): Unit
}

/** S41 — `SupportsDelta` for MERGE-ON-READ tables (`dml.mode=
  * merge-on-read`), keyed on POSITION: row id = (`_graft_file`,
  * `_graft_pos`), which is exactly a deletion-vector record. SQL
  * DELETE/UPDATE/MERGE therefore commit `mask + one fresh dir` with
  * write cost ∝ changed rows — zero standing dirs rewritten — instead
  * of the group copy-on-write rewrite, honoring the contract the
  * operator declared with `dml.mode` (the Iceberg position-delta
  * shape). Updates arrive AS updates ([[representUpdateAsDeleteAndInsert]]
  * = false) and decompose in the writer under their OWN markers: the
  * pre-image position retires into the mask, the post-image row lands
  * in its own dir — per-record provenance the CDC feed and the
  * identity gate consume exactly. */
class GraftPositionDeltaOperation(table: GraftTable, cmd: Command)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = cmd

  override def description(): String =
    s"GraftPositionDelta[${table.tableDir}]"

  /** Plain pruned scan — a delta write touches only rows the condition
    * matches, so filters push FULLY (dir pruning AND parquet row-group
    * pruning), and the scan reads through the pinned version's standing
    * masks (a masked row can never be re-deleted or re-updated). The
    * row-id metadata columns ride the scan's per-file partition values
    * (`_graft_file`) and the parquet row-index channel (`_graft_pos`). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = table.pinnedV.getOrElse(throw new IllegalArgumentException(
      s"no committed graft table at ${table.tableDir}"))
    import scala.jdk.CollectionConverters._
    GraftScanBuilder(table.tableDir, v, table.schema(),
      options.asCaseSensitiveMap().asScala.toMap)
  }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftRowLevel.FileCol),
    Expressions.column(GraftRowLevel.PosCol))

  /** NO metadata attributes: the dv channel's per-commit-dir key is
    * derived from the file path in the task writer (a file's parent IS
    * its commit dir). Requesting `_graft_dir` here would be wrong anyway —
    * it declares PRESERVE_ON_DELETE=false for the group-CoW path, so
    * Spark's delta rewrite would nullify it in every delete record. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  /** Updates arrive AS updates (Spark's default delta mode): the
    * writer decomposes each into a pre-image position record and a
    * post-image row record with DISTINCT markers — exact per-row
    * provenance, which is what makes MERGE's CDC pairing and the
    * GENERATED ALWAYS identity gate exact instead of heuristic. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftPositionDeltaWrite(table, info, cmd)
    }
}

/** The MoR delta write: executor task writers stage the changeset
  * (delete records = (file, pos); insert records = fresh row images)
  * AND the deletion vectors — one `(path, pos)` parquet file per
  * parent commit dir per task — and report per-marker record counts
  * and their dv files in the commit messages. Commit therefore never
  * re-reads the changeset to build masks: it moves exactly the
  * message-named dv files into `_dv/<name>/d=<i>`, lands insert
  * records into fresh data dirs, and publishes both through
  * [[ManifestTable.publishMorDelta]]. SQL DML on a merge-on-read
  * table and the direct `deleteWhereMoR`/`updateWhereMoR` API both
  * run here. */
class GraftPositionDeltaWrite(table: GraftTable, info: LogicalWriteInfo,
                              cmd: Command = Command.MERGE)
    extends DeltaWrite with DeltaBatchWrite {

  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val stageRel = s"rl-$runId/stage"
  private val dvStageRel = s"rl-$runId/dv"
  private val pubRel = s"rl-$runId/pub"

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(table.tableDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** Table columns nullable (delete records carry only identity), then
    * file/pos (null on inserts), then the marker. */
  private val changesetSchema: StructType = StructType(
    table.schema().fields.map(_.copy(nullable = true)) ++ Seq(
      StructField(GraftRowLevel.FileCol, StringType, nullable = true),
      StructField(GraftRowLevel.PosCol,
        org.apache.spark.sql.types.LongType, nullable = true),
      StructField(GraftDeltaWrite.ChangeCol, IntegerType, nullable = false)))

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val tableFields = table.schema()
    val rowMap = this.info.schema().fieldNames.map(tableFields.fieldIndex)
    val rowTypes = this.info.schema().fields.map(_.dataType)
    GraftPositionDeltaWriterFactory(s"${table.tableDir}/$stageRel",
      GraftTaskWriters.writeConf(spark, changesetSchema),
      s"${table.tableDir}/$dvStageRel",
      GraftTaskWriters.writeConf(spark, ManifestTable.DvSchema),
      rowMap, rowTypes, tableFields.length)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = table.tableDir
    val tasks = messages.collect { case m: GraftPositionDeltaCommit => m }
    val files = tasks.map(_.changeset).filter(_.rows > 0)
    // staged artifacts OUTSIDE the rl-<runId> shell (_dv payloads,
    // pd-* image dirs, the staged _cdc feed) — deleted when the
    // publish never lands. publishMorDelta cleans them on its own
    // guard refusals, but 'dv advanced'/'touched missing'/a CHECK
    // raise_error mid-landImages used to leak them permanently
    // (r20 review find); deletes are idempotent either way.
    val stagedRels = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      if (files.isEmpty) return // no-op DML: nothing matched, nothing landed
      GraftTaskWriters.publishNamed(fs, new Path(dir, stageRel),
        new Path(dir, pubRel), files.map(m => new Path(m.file).getName).toSeq)
      val baseV = table.pinnedV.getOrElse(
        throw new IllegalStateException(s"no committed graft table at $dir"))
      val tableSchema = table.schema()
      val marker = col(GraftDeltaWrite.ChangeCol)
      // the changeset is read only by what still needs row images: the
      // image landings and the staged CDC feed
      val cs = spark.read.schema(changesetSchema).parquet(s"$dir/$pubRel")
      // per-marker record counts, summed over the tasks' messages
      val kindCounts = (0 until 4).map(k => tasks.map(_.kinds(k)).sum)
      // plain deletes (1) and update pre-images (2) both became masks
      // in the task writers; the `upd` flag keeps the per-record
      // provenance for the feed
      val deletes = cs.filter(marker.isin(1, 2)).select(
        col(GraftRowLevel.FileCol).as("path"),
        col(GraftRowLevel.PosCol).as("pos"),
        (marker === 2).as("upd"))
      // touched dirs: the parent dirs the tasks' dv files name — a
      // file's PARENT is its commit dir (derived task-side rather than
      // carried as a metadata column, see requiredMetadataAttributes)
      val dvByParent = tasks.toSeq.flatMap(_.dvs).groupBy(_.parent)
      val parents = dvByParent.keys.toSeq.sorted
      // parent (qualified URI) → the manifest's own relPath entry
      val parentToRel = ManifestTable.pathsOf(fs, dir, baseV).map(p =>
        fs.makeQualified(new Path(ManifestTable.absPath(dir, p)))
          .toString -> p).toMap
      val touched = parents.map(par => parentToRel.getOrElse(par,
        throw new IllegalStateException(
          s"delta delete names $par, which is no commit dir of $dir@v$baseV")))
      val dvName = "dv-" + java.util.UUID.randomUUID().toString.take(8)
      val dvRel = s"${ManifestTable.DvDirName}/$dvName"
      if (touched.nonEmpty) stagedRels += dvRel
      // the dv dir: exactly the message-named files of each parent move
      // into d=<i> (ordinals in sorted parent order), so a straggler
      // attempt's file never becomes a mask; counts sum the messages
      val counts: Map[Int, Long] = parents.zipWithIndex.map { case (par, i) =>
        val named = dvByParent(par)
        GraftTaskWriters.publishNamed(fs, new Path(dir, dvStageRel),
          new Path(dir, s"$dvRel/d=$i"), named.map(_.file))
        i -> named.map(_.rows).sum
      }.toMap
      // insert records → ONE fresh images dir, with the same
      // stats/CHECK treatment as every rewrite output
      val baseStats = ManifestTable.statsOf(fs, dir, baseV)
      val statsBasis =
        if (touched.nonEmpty) touched
        else ManifestTable.pathsOf(fs, dir, baseV)
      val statsCols = tableSchema.fieldNames.filter(c => statsBasis.exists(p =>
        baseStats.get(p).exists(ManifestTable.statsFor(_, c).isDefined)))
        .toSeq
      // image records split by PROVENANCE: fresh inserts (0) MINT
      // their identity ids through the append kernel's gate — a
      // GENERATED ALWAYS column refuses an explicit value OUTRIGHT,
      // per record, no heuristic; update post-images (3) CARRY their
      // ids (a NULL there is an assignment of NULL to an identity
      // column, refused inside the contract binding). Two dirs land
      // (one per kind, empty ones skipped) so the CDC feed can tag
      // each image exactly.
      // the message counts decide which image kinds exist at all — a
      // pure DELETE must not pay two empty write jobs over the changeset
      val fresh = cs.filter(marker === 0)
        .select(tableSchema.fieldNames.toIndexedSeq.map(col): _*)
      val post = cs.filter(marker === 3)
        .select(tableSchema.fieldNames.toIndexedSeq.map(col): _*)
      // no fresh inserts → mint (and its identity.unique probe) runs
      // over a LOCAL empty frame, not a scan of the staged parquet —
      // the claims still thread (the watermark must advance past
      // explicit BY DEFAULT ids in update post-images)
      val freshSrc =
        if (kindCounts(0) == 0L)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(tableSchema.fields))
        else fresh
      val (freshMinted, idClaims) =
        ManifestTable.assignIdentity(freshSrc, dir, fs,
          headHint = Some(baseV))
      var boundChecks: Set[String] = Set.empty
      // identity columns join the tracked set: the per-dir max IS the
      // watermark-advance input publishMorDelta reads
      val statsCols2 = (statsCols ++ idClaims.map(_.logical)).distinct
      val cmap = ManifestTable.colMapOf(fs, dir, baseV)
      // one images dir through the task-writer kernel, its stats folded
      // from the task messages; no dir when no image row survives
      def landImages(df0: org.apache.spark.sql.DataFrame)
          : Option[(String, Option[String])] = {
        val (checked, bc) =
          ManifestSupport.bindDeclaredChecks(df0, dir,
            recomputeGenerated = true)
        boundChecks ++= bc
        val c = "pd-" + java.util.UUID.randomUUID().toString.take(8)
        stagedRels += c
        GraftTaskWriters.writeDirs(checked, dir, cmap, statsCols2)(_ => c)
          .get(c).map(payload => (c, Some(payload)))
      }
      val cidFresh =
        if (kindCounts(0) == 0L) None
        else landImages(freshMinted)
      val cidPost =
        if (kindCounts(3) == 0L) None
        else landImages(post)
      val cids = cidFresh.toSeq ++ cidPost.toSeq
      if (counts.valuesIterator.sum == 0L && cids.isEmpty) {
        fs.delete(new Path(dir, dvRel), true): Unit
        return // provable no-op: no masks, no images
      }
      // the feed's images are the POST-state rows — read back the
      // written dirs, never the pre-mint frames (whose identity ids
      // are still NULL; re-evaluating the minting plan could also
      // mint DIFFERENT ids than were written). Tags are exact per
      // record now, for MERGE as much as UPDATE.
      val stagedCdc = ManifestTable.stageMorDeltaCdc(spark, dir, baseV,
        touched, deletes,
        cidFresh.map { case (c, _) =>
          ManifestTable.readMasked(spark, dir, baseV, Seq(c), Map.empty) -> "insert"
        }.toSeq ++
        cidPost.map { case (c, _) =>
          ManifestTable.readMasked(spark, dir, baseV, Seq(c), Map.empty) ->
            "update_postimage"
        }.toSeq)
      stagedCdc.filterNot(_ == ManifestTable.CdcEmptyToken)
        .foreach(n => stagedRels += s"${ManifestTable.CdcDirName}/$n")
      ManifestTable.publishMorDelta(spark, dir, baseV, touched, dvRel,
        counts, cids, tableSchema, statsCols2, boundChecks,
        stagedCdc, GraftRowLevel.retainOf(table),
        // claims ALWAYS thread (the watermark must advance past
        // explicit BY DEFAULT ids in update post-images too); the
        // conflict check itself runs only when fresh images minted
        idClaims, mintedFresh = cidFresh.isDefined,
        freshCids = cidFresh.map(_._1).toSeq): Unit
    } catch { case t: Throwable =>
      stagedRels.foreach(r =>
        try fs.delete(new Path(dir, r), true): Unit
        catch { case _: java.io.IOException => () })
      throw t
    } finally {
      fs.delete(new Path(dir, s"rl-$runId"), true): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(new Path(table.tableDir, s"rl-$runId"), true): Unit
}

case class GraftPositionDeltaWriterFactory(stageDir: String,
    conf: SerializableConfiguration, dvStageDir: String,
    dvConf: SerializableConfiguration, rowMap: Array[Int],
    rowTypes: Array[DataType], nTable: Int)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new GraftPositionDeltaTaskWriter(
      s"$stageDir/part-$partitionId-$taskId-" +
        java.util.UUID.randomUUID().toString.take(8) + ".snappy.parquet",
      conf.value, s"$dvStageDir/part-$partitionId-$taskId-" +
        java.util.UUID.randomUUID().toString.take(8),
      dvConf.value, rowMap, rowTypes, nTable)
}

/** One deletion-vector file a task staged: the commit dir its
  * positions mask (`_graft_file`'s parent, as a canonical URI), the
  * file's name in the dv staging dir, and its position-record count. */
case class GraftDvFile(parent: String, file: String, rows: Long)

/** A MoR task's commit message: its changeset file, its record count
  * per changeset marker (0–3), and the dv files it wrote — everything
  * the driver commit needs, so it never re-reads the changeset. */
case class GraftPositionDeltaCommit(changeset: GraftTaskCommit,
                                    kinds: Seq[Long], dvs: Seq[GraftDvFile])
    extends WriterCommitMessage

/** One task's MoR changeset writer: delete records carry (file, pos)
  * from the operation's row-id projection; insert records carry the
  * fresh row image. Every delete/update pre-image also lands as a
  * `(path, pos)` deletion-vector record in one lazily opened
  * [[ManifestTable.DvSchema]] file per parent commit dir, so the
  * commit publishes the masks by moving files. Rows are consumed
  * synchronously by the parquet write support, so Spark's per-record
  * row reuse is safe. */
class GraftPositionDeltaTaskWriter(path: String,
    conf: org.apache.hadoop.conf.Configuration, dvPrefix: String,
    dvConf: org.apache.hadoop.conf.Configuration, rowMap: Array[Int],
    rowTypes: Array[DataType], nTable: Int)
    extends DeltaWriter[InternalRow] {

  private val inner = new GraftTaskWriter(path, conf)
  private val markerOrd = nTable + 2
  private val kinds = new Array[Long](4)
  // parent commit dir → its dv writer, in first-seen order
  private val dvWriters =
    scala.collection.mutable.LinkedHashMap.empty[String, GraftTaskWriter]
  // consecutive records mostly share a file: skip the parent lookup then
  private var lastFile: UTF8String = _
  private var lastDv: GraftTaskWriter = _
  private val dvRow = new GenericInternalRow(2)

  private def emit(marker: Int)(fill: GenericInternalRow => Unit): Unit = {
    val out = new GenericInternalRow(markerOrd + 1)
    fill(out)
    out.update(markerOrd, marker)
    inner.write(out)
    kinds(marker) += 1
  }

  /** A delete/update pre-image: the changeset record plus its mask
    * entry in the dv file of the row's commit dir (the file path minus
    * its last `/segment`). */
  private def retire(marker: Int, id: InternalRow): Unit = {
    val file = id.getUTF8String(0)
    val pos = id.getLong(1)
    emit(marker) { out =>
      out.update(nTable, file)     // _graft_file
      out.update(nTable + 1, pos)  // _graft_pos
    }
    if (lastFile == null || lastFile != file) {
      val f = file.toString
      val cut = f.lastIndexOf('/')
      val parent = if (cut < 0) f else f.substring(0, cut)
      lastDv = dvWriters.getOrElseUpdate(parent, new GraftTaskWriter(
        s"$dvPrefix-${dvWriters.size}.snappy.parquet", dvConf))
      lastFile = file.clone()
    }
    dvRow.update(0, file)
    dvRow.update(1, pos)
    lastDv.write(dvRow)
  }

  private def image(marker: Int, row: InternalRow): Unit =
    emit(marker) { out =>
      var i = 0
      while (i < rowMap.length) {
        out.update(rowMap(i), row.get(i, rowTypes(i)))
        i += 1
      }
    }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    retire(1, id)

  override def insert(row: InternalRow): Unit = image(0, row)

  /** An UPDATE decomposes into a pre-image position record and a
    * post-image row record under their OWN markers (2/3, vs delete's 1
    * and insert's 0) — the commit can tell an updated row from an
    * unrelated delete+insert pair, per record. */
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    retire(2, id)
    image(3, row)
  }

  override def commit(): WriterCommitMessage =
    GraftPositionDeltaCommit(inner.commit().asInstanceOf[GraftTaskCommit],
      kinds.toSeq, dvWriters.toSeq.map { case (parent, w) =>
        val m = w.commit().asInstanceOf[GraftTaskCommit]
        GraftDvFile(parent, new Path(m.file).getName, m.rows)
      })

  override def abort(): Unit = {
    inner.abort()
    dvWriters.valuesIterator.foreach(_.abort())
  }

  override def close(): Unit = inner.close()
}

case class GraftDeltaWriterFactory(stageDir: String,
    conf: SerializableConfiguration, markerOrd: Int, rowMap: Array[Int],
    rowTypes: Array[DataType], keyOrd: Int, keyType: DataType)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaTaskWriter(
      s"$stageDir/part-$partitionId-$taskId-" +
        java.util.UUID.randomUUID().toString.take(8) + ".snappy.parquet",
      conf.value, markerOrd, rowMap, rowTypes, keyOrd, keyType)
}

/** One task's changeset writer. Values are copied field-by-field into
  * a fresh row and consumed synchronously by the parquet write
  * support, so Spark's per-record row reuse is safe. */
class GraftDeltaTaskWriter(path: String,
    conf: org.apache.hadoop.conf.Configuration, markerOrd: Int,
    rowMap: Array[Int], rowTypes: Array[DataType], keyOrd: Int,
    keyType: DataType)
    extends DeltaWriter[InternalRow] {

  private val inner = new GraftTaskWriter(path, conf)

  private def emit(marker: Int)(fill: GenericInternalRow => Unit): Unit = {
    val out = new GenericInternalRow(markerOrd + 1)
    fill(out)
    out.update(markerOrd, marker)
    inner.write(out)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    emit(1)(out => out.update(keyOrd, id.get(0, keyType)))

  override def insert(row: InternalRow): Unit =
    emit(0) { out =>
      var i = 0
      while (i < rowMap.length) {
        out.update(rowMap(i), row.get(i, rowTypes(i)))
        i += 1
      }
    }

  /** An update is delete(old id) + upsert(new row) in changeset terms —
    * correct whether or not the update moved the key (the marker-first
    * tie order nets an in-place pair to a replace). */
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}
