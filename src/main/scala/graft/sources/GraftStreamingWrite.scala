package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** X15 — NATIVE streaming writes: `df.writeStream.toTable("cat.ns.t")`
  * (or `.format("graft").option("path", dir)`) lands each micro-batch
  * as one commit dir written by EXECUTOR task writers — real
  * `StreamingWrite` task commit, no driver-side foreachBatch loop —
  * and published with the exactly-once epoch contract:
  *
  *  - Each task writes one parquet file straight into the epoch's
  *    staging dir `ss-<run>/e<epoch>` (files are uniquely named, so
  *    there is no rename protocol to coordinate; a failed task's file
  *    is deleted by its own abort, and a HARD-killed attempt's orphan
  *    — abort never ran — is deleted by the commit-time reconcile:
  *    only files named by COMMIT MESSAGES publish).
  *  - `commit(epoch)` publishes the staged dir through the same
  *    optimistic append loop every other write uses — schema contract,
  *    meta carry, ALTER-vs-write constraint guard, rebase over racing
  *    writers — recording `txn:stream-<queryId> -> epoch` so a crash
  *    between manifest commit and checkpoint ack re-delivers the epoch
  *    into a SKIP (the staged duplicate dir is deleted), Delta's
  *    (txnAppId, txnVersion) contract.
  *  - Restarts get a fresh run id, so a replayed epoch never collides
  *    with the committed one's files.
  *
  * When the table declares `statsCols`, each TASK tracks min/max of
  * the tracked columns inline as it writes (atomic types — the normal
  * case) and ships them in its commit message, so the epoch commit
  * records skipping stats with ZERO extra jobs; non-atomic tracked
  * columns fall back to one footer-served aggregate over the
  * just-written files; the copy-on-write rewrite ([[GraftGroupWrite]])
  * shares this kernel. Nothing refuses the native path anymore (r19):
  * declared CHECK constraints, generated columns and identity minting
  * bind INTO the task writers as schema-bound expressions (r18), and
  * a BUCKETED layout publishes its epochs through the merge kernel at
  * commit time (below) instead of naming the foreachBatch route.
  *
  * A `clusterBy` table is NOT refused (r14): the write declares
  * `RequiresDistributionAndOrdering` (ordered distribution on the
  * cluster columns, `requiredNumPartitions = k`), so Spark itself
  * plans the per-epoch range shuffle + local sort — the native seam
  * Iceberg's write-distribution modes use. Each arriving task file is
  * then one contiguous key range, and the commit publishes it as its
  * OWN dir with its own stats line: the epoch lands clustered-on-
  * arrival (≤k dirs), pruning from the moment it commits, exactly the
  * S27 batch contract. */
class GraftStreamingWrite(tableDir: String, writeSchema: StructType,
                          queryId: String, statsCols: Seq[String],
                          retain: Int, clusterCols: Seq[String] = Seq.empty,
                          cmap: Map[String, String] = Map.empty,
                          contracts: Option[GraftRowContracts] = None,
                          identityClaims: Seq[ManifestTable.IdentityClaim] =
                            Seq.empty,
                          boundCheckKeys: Set[String] = Set.empty,
                          bucketed: Option[(String, Int)] = None,
                          upsertTies: Seq[String] = Seq.empty,
                          ndvWrite: Boolean = false)
    extends StreamingWrite {

  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val txnKey = s"txn:stream-$queryId"

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(tableDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def epochRel(epochId: Long): String = s"ss-$runId/e$epochId"

  /** The session zone pinned at write construction — timestamp stats
    * render in it on executors exactly as the driver aggregate would. */
  private val zone = spark.sessionState.conf.sessionLocalTimeZone

  /** Some(specs) when EVERY tracked column is an atomic type a task
    * writer can min/max inline; None = read-back aggregate fallback. */
  private val inlineSpec: Option[Seq[StatsColSpec]] =
    GraftTaskWriters.inlineStatsSpec(writeSchema, statsCols)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    GraftStreamingWriterFactory(s"$tableDir/ss-$runId",
      // parquet stores PHYSICAL names (S42 column mapping); inline
      // stats track ordinals, so their logical keys are unaffected
      GraftTaskWriters.writeConf(spark,
        ManifestTable.toPhysical(writeSchema, cmap)),
      inlineSpec.getOrElse(Seq.empty), zone, contracts,
      // r20 — opted-in NDV sketches ride the same task-side pass as
      // min/max/nulls (only on the inline path; the read-back fallback
      // already serves the lane in its one grouped pass)
      ndvSpec = if (ndvWrite) inlineSpec.getOrElse(Seq.empty) else Seq.empty)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val rel = epochRel(epochId)
    val files = messages.collect {
      case m: GraftTaskCommit if m.rows > 0 => m }
    // the engine constructs a fresh StreamingWrite (fresh run id) per
    // micro-batch, so dropping a skipped epoch must also remove the
    // now-empty run shell — otherwise every replayed epoch leaves one
    def dropDir(relDir: String): Unit = {
      fs.delete(new Path(tableDir, relDir), true)
      val shell = new Path(tableDir, s"ss-$runId")
      if (fs.exists(shell) && fs.listStatus(shell).isEmpty)
        fs.delete(shell, true): Unit
    }
    def dropStaged(): Unit = dropDir(rel)
    // idempotence: an epoch at-or-below the recorded watermark is a
    // crash re-delivery — drop its freshly staged duplicate and move on
    val headMetaNow = ManifestTable.headVersion(spark, tableDir)
      .map(v => ManifestTable.metaOf(fs, tableDir, v))
      .getOrElse(Map.empty[String, String])
    val committedUpTo = headMetaNow.get(txnKey).flatMap(_.toLongOption)
    if (committedUpTo.exists(_ >= epochId)) { dropStaged(); return }
    if (files.isEmpty) { dropStaged(); return } // empty epoch: nothing lands
    // S31 × X15 — BUCKETED table: the epoch's task files stage like any
    // other epoch, but publication is the MERGE KERNEL, not an append:
    // the epoch upserts by key into the touched buckets (one row per
    // key stays invariant, the b=N geometry — and with it S12's
    // zero-shuffle join plans — survives every epoch), and the epoch
    // watermark rides the merge's OWN commit meta, so a crash between
    // manifest commit and checkpoint ack re-delivers into the skip
    // above exactly like the append path. Cost shape per epoch = the
    // batch merge's: O(epoch ∩ touched buckets), one kernel shuffle of
    // the bounded replacement (reading the staged files back is the
    // price of task-side staging; the kernel's own bucket shuffle
    // follows regardless of arrival layout). Intra-epoch duplicate
    // keys resolve by the table's `upsertTies` columns (domain order —
    // event-time first — latest wins) when declared, else the kernel's
    // deterministic default; arrival order within one micro-batch is
    // NOT recoverable from unordered task files, so a stream whose
    // "latest" means arrival MUST declare a domain order.
    if (bucketed.isDefined) {
      import org.apache.spark.sql.functions.col
      val pubRel = s"ss-$runId/p$epochId"
      GraftTaskWriters.publishNamed(fs, new Path(tableDir, rel),
        new Path(tableDir, pubRel),
        files.toSeq.map(m => new Path(m.file).getName))
      fs.delete(new Path(tableDir, rel), true): Unit
      try {
        val staged = GraftTaskWriters.readStaged(spark, tableDir, writeSchema,
          cmap, Seq(pubRel))
        val ties =
          if (upsertTies.isEmpty) Nil
          else upsertTies.map(c => col(c).desc) ++
            MergeInto.defaultTies(staged, bucketed.get._1)
        MergeInto.merge(staged, tableDir, tieCols = ties,
          extraMeta = Map(txnKey -> epochId.toString),
          // the ALTER-vs-write CHECK guard the append path runs in its
          // commit loop: a constraint declared MID-STREAM was never
          // bound into this epoch's task writers — fail the epoch
          // loudly on the exact head the merge commits on (review
          // find, r19)
          validateHead = m => ManifestTable.checkConflictGuard(
            fs, tableDir, m, boundCheckKeys, Seq.empty)): Unit
      } finally dropDir(pubRel)
      return
    }
    // ---- non-bucketed: append-shaped epoch publication below
    // exactly-once under TASK death, not just epoch replay: a
    // hard-killed attempt (executor loss) never runs abort(), leaving
    // a partial/orphan parquet file in the staging dir. Deleting
    // orphans in place is not enough — a speculative attempt still
    // flushing can land its file AFTER the cleanup listing but before
    // the dir publishes, and readers list every *.parquet in a
    // published dir. So publication is by MOVE, not by dir: each
    // commit-message-named file is renamed into a fresh publish dir
    // (one NN rename per task, same order as a listing), and only
    // that dir enters the manifest — a late-landing orphan hits the
    // doomed staging dir, which is never reader-visible.
    // CLUSTERED epoch (RequiresDistributionAndOrdering upstream): each
    // task file is one contiguous range — publish it as its OWN dir so
    // its stats line prunes independently (S27's ≤k-dirs-per-batch
    // shape). Unclustered: one dir for the whole epoch.
    val fileDirs: Seq[(String, Seq[GraftTaskCommit])] =
      if (clusterCols.nonEmpty)
        // partitionId rides the commit message (stamped by the writer
        // factory that KNOWS it) — deriving it from the task file's
        // name would couple epoch commits to the naming scheme
        files.toSeq.sortBy(_.partitionId).zipWithIndex
          .map { case (m, i) => s"ss-$runId/p$epochId-$i" -> Seq(m) }
      else Seq(s"ss-$runId/p$epochId" -> files.toSeq)
    fileDirs.foreach { case (pubRel, ms) =>
      GraftTaskWriters.publishNamed(fs, new Path(tableDir, rel),
        new Path(tableDir, pubRel),
        ms.map(m => new Path(m.file).getName))
    }
    fs.delete(new Path(tableDir, rel), true): Unit
    // zero-job stats: min/max/nulls and the opted-in S53 sketches
    // (`stats.ndv=write`) ride the commit messages; a message missing
    // the sketch lane (the prop flipped mid-stream — this write was
    // built before it) or a non-atomic tracked column takes the one
    // grouped read-back
    val stats: Map[String, String] =
      if (statsCols.isEmpty) Map.empty
      else GraftTaskWriters.dirStats(spark, fs, tableDir, writeSchema, cmap,
        fileDirs, statsCols, ManifestTable.writeNdvCols(headMetaNow, statsCols),
        zone)
    ManifestTable.appendCommitLoopCore(spark, writeSchema, tableDir,
      fileDirs.map(_._1), stats, statsCols, retain,
      meta = Map(txnKey -> epochId.toString),
      recordingStats = stats.nonEmpty,
      // the guard set = the checks this epoch's task writers actually
      // enforced; a check key at publish time NOT in it was declared
      // MID-STREAM — the guard fails the epoch loudly. Identity claims
      // ride through: the loop advances `idwm:` from the landed dirs'
      // own stats lanes and refuses if a concurrent allocation moved
      // the watermark this epoch minted from.
      boundChecks = boundCheckKeys,
      identity = identityClaims): Unit
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    fs.delete(new Path(tableDir, epochRel(epochId)), true): Unit
    // unpublished publish dirs: p<epoch> (plain) or p<epoch>-<i> (clustered)
    val shell = new Path(tableDir, s"ss-$runId")
    if (fs.exists(shell))
      fs.listStatus(shell).map(_.getPath)
        .filter { p => val n = p.getName
          n == s"p$epochId" || n.startsWith(s"p$epochId-") }
        .foreach(fs.delete(_, true))
  }
}

/** X15 — the table's write contracts BOUND to the write schema, shipped
  * to the executor task writers and applied per row: a task-writer
  * write has no driver-side plan to fold guards into, so the bound
  * Catalyst expressions ARE the batch path's guards, minus the plan.
  * Application order mirrors the batch choke point: identity MINT
  * first (a generated expression or check may read the id), then
  * generated fill/validate, then CHECK predicates — a violating row
  * throws, the task aborts, and the write dies BEFORE its manifest
  * commit (nothing lands). Minting replicates the batch kernel's
  * arithmetic exactly — `wm + step * (1 + (partition << 33) + n)`,
  * `monotonically_increasing_id`'s layout — so ids stay unique and
  * gap-tolerant with zero cross-task coordination.
  *
  * `dml` = a copy-on-write DML write-back: a generated column is
  * RECOMPUTED, not validated, and a NULL identity is refused, not
  * minted. */
case class GraftRowContracts(
    fieldTypes: Seq[DataType],
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
    gens: Seq[(String, Int, org.apache.spark.sql.catalyst.expressions.Expression)],
    idents: Seq[(String, Int, Long, Long, Boolean)],
    dml: Boolean = false)
    extends Serializable {
  def isEmpty: Boolean = checks.isEmpty && gens.isEmpty && idents.isEmpty
}

object GraftRowContracts {

  /** The table's contracts at `meta` bound to `schema` — the one
    * builder of the streaming epoch and the copy-on-write rewrite.
    * Returns the contracts, the identity claims a minting write commits
    * against, and the declared check keys bound (the publish guard's
    * `boundChecks`: it refuses a constraint declared after this). */
  private[sources] def forTable(spark: SparkSession, schema: StructType,
                                meta: Map[String, String],
                                cmap: Map[String, String],
                                adHoc: Seq[(String, String)] = Seq.empty,
                                dml: Boolean = false)
      : (GraftRowContracts, Seq[ManifestTable.IdentityClaim], Set[String]) = {
    val physToLogical = cmap.map(_.swap)
    def ordinalOf(logical: String): Int =
      schema.fieldNames.indexWhere(_.equalsIgnoreCase(logical))
    val checkPrefix = GraftCatalog.PropPrefix + "check."
    val declaredChecks = meta.toSeq.collect {
      case (k, sql) if k.startsWith(checkPrefix) => k -> sql
    }.sortBy(_._1)
    val checkExprs = (declaredChecks.map { case (k, sql) =>
      k.stripPrefix(checkPrefix) -> sql } ++ adHoc).map { case (nm, sql) =>
      nm -> bind(spark, schema, sql) }
    val genExprs = meta.toSeq.collect {
      case (k, sql) if k.startsWith(ManifestTable.GenColPrefix) =>
        k.stripPrefix(ManifestTable.GenColPrefix) -> sql
    }.sortBy(_._1).flatMap { case (phys, sql) =>
      val logical = physToLogical.getOrElse(phys, phys)
      val ord = ordinalOf(logical)
      if (ord < 0) None
      else Some((logical, ord, bind(spark, schema, sql,
        Some(schema.fields(ord).dataType))))
    }
    val idClaims = ManifestTable.identitySpecs(meta).toSeq
      .sortBy(_._1).flatMap { case (phys, spec) =>
        val logical = physToLogical.getOrElse(phys, phys)
        val ord = ordinalOf(logical)
        if (ord < 0) None
        else {
          require(dml || schema.fields(ord).dataType == LongType,
            s"identity column '$logical' must be BIGINT on the " +
              "streaming write (per-partition mint offsets span 2^33)")
          val wm = meta.get(ManifestTable.IdentityWmPrefix + phys)
            .flatMap(_.toLongOption).getOrElse(spec.base)
          Some(ManifestTable.IdentityClaim(phys, logical, spec, wm))
        }
      }
    val idents = idClaims.map { cl =>
      (cl.logical, ordinalOf(cl.logical), cl.baseWm, cl.spec.step,
        cl.spec.allowExplicit) }
    (GraftRowContracts(schema.fields.map(_.dataType).toSeq, checkExprs,
      genExprs, idents, dml), idClaims, declaredChecks.map(_._1).toSet)
  }

  /** Parse `sql` against `schema`'s columns and bind it by ordinal —
    * analyzer-resolved (functions, implicit casts, time zones), then
    * `BindReferences` so the executors evaluate it straight off the
    * task rows. `castTo` wraps the declared type around a generation
    * expression (the batch path's `.cast(dt)`). */
  private def bind(spark: SparkSession, schema: StructType,
                   sql: String, castTo: Option[DataType] = None)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences, Cast}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val parsed0 = spark.sessionState.sqlParser.parseExpression(sql)
    val parsed = castTo.map(Cast(parsed0, _)).getOrElse(parsed0)
    val analyzed = spark.sessionState.analyzer.execute(
      Project(Seq(Alias(parsed, "__graft_contract")()), LocalRelation(attrs)))
    val resolved = analyzed.collectFirst {
      case p: Project => p.projectList.head
        .asInstanceOf[Alias].child
    }.getOrElse(throw new IllegalStateException(
      s"contract expression did not analyze to a projection: $sql"))
    require(resolved.resolved,
      s"cannot resolve contract expression '$sql' against the write " +
        s"schema ${schema.fieldNames.mkString("(", ", ", ")")}")
    BindReferences.bindReference(resolved, attrs)
  }
}

/** One tracked column's min/max (rendered to the stats-channel string
  * form — Spark cast-to-string in the session zone) and NULL count
  * within one task's file, computed task-side — the driver never
  * re-reads the file. */
case class StatCell(col: String, min: Option[String], max: Option[String],
                    nulls: Long = 0L)

/** What a task writer needs to min/max a column inline: its ordinal in
  * the write schema and its (atomic) type. */
case class StatsColSpec(name: String, ordinal: Int, dt: DataType)

case class GraftTaskCommit(file: String, rows: Long,
                           stats: Seq[StatCell] = Seq.empty,
                           partitionId: Int = -1,
                           // r20 — per-column HLL sketch state computed
                           // task-side (stats.ndv=write): the epoch
                           // commit unions these driver-side, so the
                           // zero-job inline-stats path stays zero-job
                           // with the NDV lane opted in
                           ndv: Seq[(String, Array[Byte])] = Seq.empty)
    extends WriterCommitMessage

/** Shared executor-task parquet-writer plumbing, the one writer and
  * stats kernel of every engine-owned dir write: X15 streaming epochs,
  * the native row-level-operation writes (GraftRowLevelOps) and, through
  * [[writeDirs]], appends, clustered appends, compactions,
  * `ManifestTable.deleteWhere` and merge-on-read image landing. Dir
  * stats are folded from the task commit messages ([[dirStats]]). */
private[graft] object GraftTaskWriters {

  /** JVM-wide count of [[groupedReadBack]] jobs — a spec asserts the
    * streaming inline path with NDV opted in runs ZERO per epoch. */
  private[graft] val epochReadBacks =
    new java.util.concurrent.atomic.AtomicLong

  /** Hadoop conf a [[GraftTaskWriter]] needs executor-side: exactly
    * the SQLConf keys ParquetWriteSupport.init and
    * SparkToParquetSchemaConverter(conf) read (they `.toBoolean` a
    * raw get — an unset key is an executor-side NPE, so every one
    * must be materialized from the session before shipping). */
  def writeConf(spark: SparkSession,
                writeSchema: StructType): SerializableConfiguration = {
    val conf = spark.sessionState.newHadoopConf()
    val sqlConf = spark.sessionState.conf
    ParquetWriteSupport.setSchema(writeSchema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    new SerializableConfiguration(conf)
  }

  /** Inline-stats plan for `statsCols` over `schema`: Some(specs) only
    * when EVERY tracked column resolves (case-insensitively) to an
    * atomic type whose in-task min/max matches Spark's own min/max
    * aggregate ordering — else the caller falls back to the read-back
    * aggregate. Binary is excluded (its cast-to-string is lossy). */
  def inlineStatsSpec(schema: StructType,
                      statsCols: Seq[String]): Option[Seq[StatsColSpec]] = {
    val specs = statsCols.flatMap { c =>
      val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(c))
      if (i < 0) None
      else schema.fields(i).dataType match {
        case dt @ (_: NumericType | StringType | DateType | TimestampType |
                   TimestampNTZType | BooleanType) =>
          Some(StatsColSpec(schema.fields(i).name, i, dt))
        case _ => None
      }
    }
    if (specs.length == statsCols.length) Some(specs) else None
  }

  /** Fold per-task extreme STRINGS into the epoch extreme by comparing
    * in the column's NATIVE type (string order would mis-rank
    * numerics): each candidate round-trips through Spark's own
    * string→type cast — exact for every inline-able atomic type. */
  private def mergeStat(dt: DataType, zone: String, vals: Seq[Option[String]],
                        least: Boolean): Option[String] = {
    val present = vals.flatten
    if (present.isEmpty) None
    else {
      val ord = TypeUtils.getInterpretedOrdering(dt)
      val parsed = present.map { s =>
        s -> Cast(Literal(UTF8String.fromString(s), StringType), dt,
          Option(zone)).eval(null) }
      Some((if (least) parsed.minBy(_._2)(ord) else parsed.maxBy(_._2)(ord))._1)
    }
  }

  /** One dir's stats payload folded from its tasks' commit messages:
    * native-order extremes of their min/max cells, summed NULL counts.
    * Pure metadata — no job. */
  def foldStats(specs: Seq[StatsColSpec], zone: String,
                ms: Seq[GraftTaskCommit]): String = {
    def cellsOf(sp: StatsColSpec) = ms.flatMap(_.stats.filter(_.col == sp.name))
    ManifestTable.statsPayloadCells(ms.map(_.rows).sum,
      specs.map { sp =>
        (sp.name, mergeStat(sp.dt, zone, cellsOf(sp).map(_.min), least = true),
          mergeStat(sp.dt, zone, cellsOf(sp).map(_.max), least = false))
      },
      specs.map(sp => sp.name -> cellsOf(sp).map(_.nulls).sum))
  }

  /** One dir's S53 sketches of `ndvCols` unioned from its tasks'
    * per-task `HllSketch` state — an HLL union loses nothing against
    * one sketch of the whole dir. None when a message lacks a lane
    * (its writer was built before the table opted in). */
  def unionNdv(ndvCols: Seq[String], ms: Seq[GraftTaskCommit])
      : Option[Seq[(String, Array[Byte])]] =
    if (!ms.forall(m => ndvCols.forall(c => m.ndv.exists(_._1.equalsIgnoreCase(c)))))
      None
    else Some(ndvCols.map { c =>
      val u = new org.apache.datasketches.hll.Union(graft.ScaleKnobs.NdvSketchLgK)
      ms.foreach(_.ndv.find(_._1.equalsIgnoreCase(c)).foreach { case (_, bytes) =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(bytes))
      })
      c -> u.getResult.toUpdatableByteArray
    })

  /** The `#stats` payloads of freshly published `dirs` (each with the
    * messages of the tasks whose files it holds): min/max/nulls by
    * [[foldStats]] and the opted-in sketches of `ndvCols` by
    * [[unionNdv]], with no job. A tracked column [[inlineStatsSpec]]
    * refuses (binary) takes [[readBackStats]]; a message missing a
    * sketch lane takes one [[groupedReadBack]] for the sketches. */
  def dirStats(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
               tableDir: String, schema: StructType,
               cmap: Map[String, String],
               dirs: Seq[(String, Seq[GraftTaskCommit])],
               statsCols: Seq[String], ndvCols: Seq[String],
               zone: String): Map[String, String] =
    inlineStatsSpec(schema, statsCols) match {
      case None =>
        readBackStats(spark, fs, tableDir, schema, cmap, dirs.map(_._1),
          statsCols, ndvCols)
      case Some(specs) =>
        val fromTasks = dirs.map { case (d, ms) => d -> unionNdv(ndvCols, ms) }.toMap
        val sketched =
          if (ndvCols.isEmpty || fromTasks.values.forall(_.isDefined))
            Map.empty[String, org.apache.spark.sql.Row]
          else groupedReadBack(spark, fs, tableDir, schema, cmap,
            dirs.map(_._1), ManifestTable.ndvSketchAggExprs(ndvCols))
        dirs.map { case (d, ms) =>
          val base = foldStats(specs, zone, ms)
          d -> (if (ndvCols.isEmpty) base
                else fromTasks(d)
                  .orElse(sketched.get(d).map(r =>
                    ManifestTable.ndvSketchCells(ndvCols, lane => r.getAs[Any](lane))))
                  .map(ManifestTable.withNdvSketches(base, _))
                  .getOrElse(base))
        }.toMap
    }

  /** Write `df` into fresh dirs of `tableDir` through the batch task
    * writers and return each dir's `#stats` payload ([[dirStats]]):
    * one SQL execution running one job over `df`'s partitions, one
    * [[GraftTaskWriter]] per partition staged under a `wr-` dir (a
    * failed task aborts, deleting its file), then exactly the
    * commit-message-named files move into `dirOf(partition)`. A
    * partition with no rows writes no file, so a zero-row `df` lands
    * no dir and returns an empty map. Parquet stores `cmap`'s physical
    * names; stats keys stay logical. */
  def writeDirs(df: org.apache.spark.sql.DataFrame, tableDir: String,
                cmap: Map[String, String], statsCols: Seq[String],
                ndvCols: Seq[String] = Seq.empty)(
                dirOf: Int => String): Map[String, String] = {
    val spark = df.sparkSession
    val fs = new Path(tableDir).getFileSystem(spark.sessionState.newHadoopConf())
    val schema = df.schema
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val specs = inlineStatsSpec(schema, statsCols).getOrElse(Seq.empty)
    val stage = new Path(tableDir, "wr-" + java.util.UUID.randomUUID().toString.take(8))
    val factory = GraftBatchWriterFactory(stage.toString,
      writeConf(spark, ManifestTable.toPhysical(schema, cmap)), specs, zone, None,
      ndvSpec = specs.filter(sp => ndvCols.exists(_.equalsIgnoreCase(sp.name))))
    try {
      val qe = df.queryExecution
      val messages = org.apache.spark.sql.execution.SQLExecution
        .withNewExecutionId(qe, Some("graft write")) {
          spark.sparkContext.runJob(qe.toRdd,
            (ctx: org.apache.spark.TaskContext, rows: Iterator[InternalRow]) => {
              val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
              try {
                rows.foreach(w.write)
                w.commit().asInstanceOf[GraftTaskCommit]
              } catch { case t: Throwable => w.abort(); throw t }
            })
        }
      val dirs = messages.toSeq.filter(_.rows > 0).groupBy(m => dirOf(m.partitionId))
        .toSeq.sortBy(_._1).map { case (d, ms) => d -> ms.sortBy(_.partitionId) }
      dirs.foreach { case (d, ms) =>
        publishNamed(fs, stage, new Path(tableDir, d), ms.map(m => new Path(m.file).getName))
      }
      dirStats(spark, fs, tableDir, schema, cmap, dirs, statsCols, ndvCols, zone)
    } finally fs.delete(stage, true): Unit
  }

  /** The just-published dirs `rels` of `tableDir` read back through
    * the physical names, aliased to logical (S42). */
  def readStaged(spark: SparkSession, tableDir: String, schema: StructType,
                 cmap: Map[String, String], rels: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val raw = spark.read.schema(ManifestTable.toPhysical(schema, cmap))
      .parquet(rels.map(r => s"$tableDir/$r"): _*)
    if (cmap.isEmpty) raw
    else raw.select(schema.fieldNames.toIndexedSeq.map(l =>
      org.apache.spark.sql.functions.col(cmap.getOrElse(l, l)).as(l)): _*)
  }

  /** One grouped read-back over `rels` (as [[readStaged]]), keyed by
    * dir: the fallback when the task messages cannot serve a lane.
    * `_metadata.file_path` can render URL-ENCODED where makeQualified
    * does not (paths with spaces), so the rel lookup tolerates both. */
  def groupedReadBack(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                      tableDir: String, schema: StructType,
                      cmap: Map[String, String], rels: Seq[String],
                      aggs: Seq[org.apache.spark.sql.Column])
      : Map[String, org.apache.spark.sql.Row] = {
    epochReadBacks.incrementAndGet(): Unit
    val dirKey = org.apache.spark.sql.functions.expr(
      "regexp_replace(_metadata.file_path, '/[^/]*$', '')")
    val qualToRel = rels.map(r =>
      fs.makeQualified(new Path(tableDir, r)).toString -> r).toMap
    def relOf(qual: String): Option[String] =
      qualToRel.get(new Path(qual).toString).orElse(
        scala.util.Try(qualToRel.get(new Path(
          new java.net.URI(qual)).toString)).toOption.flatten)
    readStaged(spark, tableDir, schema, cmap, rels)
      .withColumn("__graft_rb_dir", dirKey)
      .groupBy("__graft_rb_dir").agg(aggs.head, aggs.tail: _*)
      .collect()
      .flatMap(r => relOf(r.getString(0)).map(_ -> r)).toMap
  }

  /** Stats payloads of `rels` from ONE [[groupedReadBack]], for a
    * tracked column [[inlineStatsSpec]] refuses (e.g. binary); the
    * opted-in NDV sketches of `ndvCols` ride the same pass. */
  def readBackStats(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                    tableDir: String, schema: StructType,
                    cmap: Map[String, String], rels: Seq[String],
                    statsCols: Seq[String],
                    ndvCols: Seq[String] = Seq.empty): Map[String, String] =
    groupedReadBack(spark, fs, tableDir, schema, cmap, rels,
      ManifestTable.statsAggExprs(statsCols) ++
        ManifestTable.ndvSketchAggExprs(ndvCols)).map { case (rel, r) =>
      val base = ManifestTable.statsPayloadFrom(r.getAs[Long]("rows"),
        statsCols, lane => r.getAs[Any](lane))
      rel -> (if (ndvCols.isEmpty) base
              else ManifestTable.withNdvSketches(base,
                ManifestTable.ndvSketchCells(ndvCols, lane => r.getAs[Any](lane))))
    }

  /** Move exactly the commit-message-named files from `stageDir` into
    * a fresh `pubDir` — the hard-killed-attempt orphan defense: only
    * the publish dir enters the manifest, so a straggler attempt's
    * file that lands in the staging dir at ANY point (even after a
    * cleanup listing) is never reader-visible. A named file that
    * cannot be moved is a loud failure — its task committed it, so
    * absence means the staging dir was tampered with or lost. */
  def publishNamed(fs: org.apache.hadoop.fs.FileSystem, stageDir: Path,
                   pubDir: Path, named: Seq[String]): Unit = {
    fs.mkdirs(pubDir)
    named.foreach { n =>
      require(fs.rename(new Path(stageDir, n), new Path(pubDir, n)),
        s"cannot publish $n: rename from $stageDir failed")
    }
  }
}

case class GraftStreamingWriterFactory(stageDir: String,
                                       conf: SerializableConfiguration,
                                       statsSpec: Seq[StatsColSpec] = Seq.empty,
                                       zone: String = "UTC",
                                       contracts: Option[GraftRowContracts] =
                                         None,
                                       ndvSpec: Seq[StatsColSpec] = Seq.empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftTaskWriter(
      s"$stageDir/e$epochId/part-$partitionId-$taskId-" +
        java.util.UUID.randomUUID().toString.take(8) + ".snappy.parquet",
      conf.value, statsSpec, zone, partitionId,
      contracts.filterNot(_.isEmpty), ndvSpec)
}

/** One task's parquet writer — opened lazily so zero-row tasks leave
  * nothing behind; `abort` deletes the file it may have started. When
  * `statsSpec` is non-empty the writer min/maxes those columns inline
  * (Spark's own type orderings — NaN greatest, UTF8 binary strings)
  * and renders them with Spark's cast-to-string in `zone`, so the
  * commit message carries the dir's skipping stats and the driver
  * never re-reads the file. */
class GraftTaskWriter(path: String, conf: Configuration,
                      statsSpec: Seq[StatsColSpec] = Seq.empty,
                      zone: String = "UTC", partitionId: Int = -1,
                      contracts: Option[GraftRowContracts] = None,
                      ndvSpec: Seq[StatsColSpec] = Seq.empty)
    extends DataWriter[InternalRow] {

  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var rows = 0L

  // ---- write-contract state (only allocated for contract tables) ----
  // nondeterministic leaves must be seeded before interpreted eval
  contracts.foreach(c => (c.checks.map(_._2) ++ c.gens.map(_._3)).foreach(
    _.foreach {
      case n: org.apache.spark.sql.catalyst.expressions.Nondeterministic =>
        n.initialize(math.max(partitionId, 0))
      case _ => ()
    }))
  private val genOrds = contracts.map(_.gens.map { case (_, ord, _) =>
    TypeUtils.getInterpretedOrdering(
      contracts.get.fieldTypes(ord))
  }).getOrElse(Seq.empty)
  private val mintCounts =
    new Array[Long](contracts.map(_.idents.length).getOrElse(0))

  /** Identity mint → generated fill/validate → CHECK gates, per row.
    * Copies the row only when a fill actually happens. */
  private def applyContracts(record: InternalRow): InternalRow = {
    val c = contracts.get
    var row: InternalRow = record
    var mutable: org.apache.spark.sql.catalyst.expressions.GenericInternalRow = null
    def ensureMutable(): Unit = if (mutable == null) {
      val arr = new Array[Any](c.fieldTypes.length)
      var i = 0
      while (i < c.fieldTypes.length) {
        arr(i) = if (record.isNullAt(i)) null
                 else copied(record.get(i, c.fieldTypes(i)))
        i += 1
      }
      mutable = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(arr)
      row = mutable
    }
    var j = 0
    c.idents.foreach { case (logical, ord, baseWm, step, allowExplicit) =>
      if (record.isNullAt(ord)) {
        if (c.dml)
          throw new IllegalArgumentException(
            ManifestSupport.nullIdentityRefusal(logical))
        ensureMutable()
        mutable.update(ord, baseWm + step *
          (1L + (math.max(partitionId, 0).toLong << 33) + mintCounts(j)))
        mintCounts(j) += 1
      } else if (!allowExplicit && !c.dml)
        throw new IllegalArgumentException(
          s"identity column '$logical' is GENERATED ALWAYS — explicit " +
            "values are refused on the streaming write (declare BY " +
            s"DEFAULT to allow them); got ${record.get(ord, c.fieldTypes(ord))}")
      j += 1
    }
    c.gens.zip(genOrds).foreach { case ((logical, ord, e), ord2) =>
      val computed = e.eval(row)
      if (c.dml) {
        ensureMutable()
        mutable.update(ord, if (computed == null) null else copied(computed))
      } else if (row.isNullAt(ord)) {
        if (computed != null) { ensureMutable(); mutable.update(ord, copied(computed)) }
      } else {
        val cur = row.get(ord, c.fieldTypes(ord))
        if (computed == null || !ord2.equiv(cur, computed))
          throw new IllegalArgumentException(
            s"generated column '$logical' violated by a streamed row: " +
              s"provided $cur, expression computes $computed")
      }
    }
    c.checks.foreach { case (nm, p) =>
      val verdict = p.eval(row)
      if (verdict != null && !verdict.asInstanceOf[Boolean])
        throw new IllegalArgumentException(
          s"CHECK constraint '$nm' violated by a written row — the " +
            "write aborts before its manifest commit")
    }
    row
  }

  // per-column running extremes as CATALYST values (string stats would
  // mis-rank numerics); UTF8String candidates are cloned only when they
  // become the new extreme — InternalRow buffers are reused
  private val lo = new Array[Any](statsSpec.length)
  private val hi = new Array[Any](statsSpec.length)
  private val nn = new Array[Long](statsSpec.length) // per-column nulls
  private val ords = statsSpec.map(s => TypeUtils.getInterpretedOrdering(s.dt))

  // r20 — S53 task-side sketch lane (stats.ndv=write): one HLL update
  // per non-null value, the same digest family as `hll_sketch_agg`
  // over CAST(c AS STRING) — datasketches hashes the string's UTF-8
  // bytes either way, so write-time, epoch-merged, and ANALYZE-side
  // sketches all union. The cast is Spark's own (BoundReference +
  // Cast in the pinned session zone), never a hand-rolled rendering.
  private val ndvSketches = ndvSpec.map(_ =>
    new org.apache.datasketches.hll.HllSketch(
      graft.ScaleKnobs.NdvSketchLgK)).toArray
  private val ndvCasts = ndvSpec.map(sp =>
    Cast(org.apache.spark.sql.catalyst.expressions.BoundReference(
      sp.ordinal, sp.dt, nullable = true), StringType, Option(zone))).toArray

  private def copied(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case other => other
  }

  private def track(record: InternalRow): Unit = {
    var i = 0
    while (i < statsSpec.length) {
      val sp = statsSpec(i)
      if (record.isNullAt(sp.ordinal)) nn(i) += 1
      else {
        val v = record.get(sp.ordinal, sp.dt)
        if (lo(i) == null || ords(i).lt(v, lo(i))) lo(i) = copied(v)
        if (hi(i) == null || ords(i).gt(v, hi(i))) hi(i) = copied(v)
      }
      i += 1
    }
    var j = 0
    while (j < ndvSketches.length) {
      if (!record.isNullAt(ndvSpec(j).ordinal)) {
        val s = ndvCasts(j).eval(record)
        if (s != null) ndvSketches(j).update(s.toString)
      }
      j += 1
    }
  }

  private def render(v: Any, dt: DataType): Option[String] =
    Option(v).map(x =>
      Cast(Literal(x, dt), StringType, Option(zone)).eval(null).toString)

  private class Builder(p: org.apache.parquet.hadoop.util.HadoopOutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, Builder](p) {
    override def getWriteSupport(c: Configuration) = new ParquetWriteSupport
    override def self(): Builder = this
  }

  override def write(record: InternalRow): Unit = {
    if (writer == null)
      writer = new Builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(new Path(path), conf))
        .withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
    val out = if (contracts.isDefined) applyContracts(record) else record
    writer.write(out) // consumed synchronously by the write support
    track(out)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftTaskCommit(path, rows, statsSpec.zipWithIndex.map { case (sp, i) =>
      StatCell(sp.name, render(lo(i), sp.dt), render(hi(i), sp.dt), nn(i)) },
      partitionId,
      ndv = ndvSpec.zipWithIndex.map { case (sp, j) =>
        sp.name -> ndvSketches(j).toUpdatableByteArray })
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    new Path(path).getFileSystem(conf).delete(new Path(path), false): Unit
  }

  override def close(): Unit = ()
}
