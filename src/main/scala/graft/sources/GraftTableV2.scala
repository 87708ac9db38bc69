package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** S21 — the manifest table family on the DataSource V2 API
  * (`TableProvider`), short name `graft`. `graft-manifest`
  * ([[GraftManifestAlias]]) is the same provider under a second name,
  * adding only the V1 seams Spark reaches for SaveMode writes and the
  * CDC stream. Every batch read under either name is this table:
  *  - **Columnar batch reads.** The scan hands Spark `FilePartition`s
  *    read by Spark's own vectorized parquet reader factory — rows
  *    arrive as `ColumnarBatch`, with no per-row `Row` conversion.
  *  - **Aggregate pushdown from manifest stats.** A global
  *    `count(*)`/`min(c)`/`max(c)` over an append table is answered
  *    METADATA-ONLY from the `#stats` manifest headers — zero data
  *    files opened (proven in spec by physically deleting the data
  *    dirs) — when every live path carries parseable stats for the
  *    referenced columns; otherwise the pushdown declines and the scan
  *    runs normally. Complete pushdown (one final row), never partial.
  *  - **Runtime filtering (DPP-shaped).** The scan declares its
  *    stats-covered columns filterable; a runtime IN-set from a
  *    dimension join re-prunes commit dirs before execution.
  *  - **Statistics.** `estimateStatistics` reports the PRUNED byte
  *    size and (when stats cover every surviving dir) the row count,
  *    so broadcast planning sees post-pruning reality.
  *  - **Change feed.** `readChangeFeed` with `startingVersion` serves
  *    the row-level diff between two versions ([[GraftChangesTable]]).
  *
  * Filter pushdown is correctness-free: every filter is returned as
  * residual (Spark re-applies it above the scan); pushed copies only
  * drive manifest-level dir pruning and parquet row-group pruning.
  * The table pins its version at `getTable` (one query, one version;
  * `versionAsOf` / `timestampAsOf` = explicit time travel).
  *
  * Write side: `V1Write` bridge (the sanctioned V2→`InsertableRelation`
  * seam, same as Spark's JDBC source) onto [[ManifestTable.append]] /
  * [[ManifestSupport.overwrite]] — the write is a driver-orchestrated
  * parquet job + manifest commit; a custom `BatchWrite` would
  * re-implement parquet task commit for zero plan benefit. A first
  * write to an uncommitted path gets `ACCEPT_ANY_SCHEMA` (there is no
  * schema to resolve against yet); once committed, writes resolve
  * by-name against the declared schema with Spark's standard
  * cast/reorder semantics.
  */
class GraftTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  /** Whether this provider's tables take `DataFrameWriter` saves on the
    * V2 path (`BATCH_WRITE`); the `graft-manifest` alias routes them to
    * its V1 SaveMode writer instead. */
  protected def batchWrite: Boolean = true

  private def changeFeed(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("readChangeFeed", false)

  private def dirOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft needs a path: .load(dir) / .save(dir) or OPTIONS (path '...')"))

  /** Pin the version this table instance serves: `versionAsOf`, else
    * `timestampAsOf` (epoch millis or `yyyy-MM-dd[ HH:mm:ss]`, resolved
    * against manifest commit instants — the same clock the catalog's
    * `TIMESTAMP AS OF` and `history` use), else the current head, else
    * None (an uncommitted path a write is about to create).
    *
    * Memoized per (dir, pin options) on this provider instance (r20):
    * Spark calls inferSchema and getTable back to back on one load —
    * resolving twice cost a duplicate manifest-dir LIST per query
    * (plus a duplicate retention probe under versionAsOf), and a
    * commit landing between the two calls could pin the TABLE one
    * version past the schema it already inferred. */
  @volatile private var pinMemo: (String, Option[Long]) = (null, None)

  private def pinnedVersion(spark: SparkSession,
                            options: CaseInsensitiveStringMap): Option[Long] = {
    val key = dirOf(options) + "\u0000" +
      Option(options.get("versionAsOf")).getOrElse("") + "\u0000" +
      Option(options.get("timestampAsOf")).getOrElse("")
    val memo = pinMemo
    if (memo._1 == key) return memo._2
    val resolved = pinnedVersion0(spark, options)
    pinMemo = (key, resolved)
    resolved
  }

  private def pinnedVersion0(spark: SparkSession,
                             options: CaseInsensitiveStringMap): Option[Long] = {
    val dir = dirOf(options)
    def fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(!(options.containsKey("versionAsOf") &&
        options.containsKey("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    Option(options.get("versionAsOf"))
      .map(ManifestTable.resolveVersionArg(spark, dir, _)) match {
      case some @ Some(v) =>
        // validate retention HERE: a GC'd version would otherwise
        // surface as an unexplained missing-manifest read downstream
        require(ManifestTable.versions(fs, dir).contains(v),
          s"version $v is not retained at $dir")
        some
      case None => Option(options.get("timestampAsOf")) match {
        case Some(tsRaw) =>
          val millis = tsRaw.toLongOption.getOrElse {
            val zone = java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)
            val local =
              if (tsRaw.contains(" ") || tsRaw.contains("T"))
                java.time.LocalDateTime.parse(tsRaw.replace(' ', 'T'))
              else java.time.LocalDate.parse(tsRaw).atStartOfDay()
            local.atZone(zone).toInstant.toEpochMilli
          }
          val v = ManifestTable.versionTimes(fs, dir)
            .filter(_._2 <= millis).map(_._1).lastOption
            .getOrElse(throw new IllegalArgumentException(
              s"no retained version of $dir committed at or before " +
                s"${java.time.Instant.ofEpochMilli(millis)} — earlier " +
                "history was GC'd or the table is newer"))
          Some(v)
        case None => ManifestTable.headVersion(spark, dir)
      }
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // a change feed's table resolves its own schema (see getTable)
    if (changeFeed(options)) return new StructType()
    val spark = SparkSession.active
    val dir = dirOf(options)
    pinnedVersion(spark, options) match {
      // uncommitted path: a write will bring its own schema
      // (ACCEPT_ANY_SCHEMA); a read fails at newScanBuilder with a
      // clear message rather than here, so EXISTS-style probing works
      case None => new StructType()
      case Some(v) =>
        val fs = new Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        // S48: path-loaded reads serve the same default contract the
        // catalog route does (exists-defaults fill pre-ADD dirs)
        ManifestTable.withDefaults(
          ManifestTable.declaredSchemaOf(spark, dir, v)
            .getOrElse(ManifestTable.readVersion(spark, dir, v).schema),
          ManifestTable.metaOf(fs, dir, v),
          ManifestTable.colMapOf(fs, dir, v))
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    if (changeFeed(options)) return new GraftChangesTable(dirOf(options), options)
    val spark = SparkSession.active
    GraftTable(dirOf(options), pinnedVersion(spark, options), schema,
      properties.asScala.toMap, batchWrite)
  }
}

/** Batch `readChangeFeed`: the row-level change feed between two
  * retained versions — `option("readChangeFeed", true)
  * .option("startingVersion", v)[.option("endingVersion", w)]`, the
  * Delta CDF consumption shape; `endingVersion` defaults to the head at
  * load. The feed is [[ManifestTable.changes]], a diff with a shuffle
  * rather than a set of file partitions, so it reaches Spark through a
  * `V1Scan` as a plain `TableScan`. There is nothing for pushdown to
  * win: the diff already reads ONLY the commit dirs that differ
  * between the versions (inputFiles-asserted in MergeIntoSpec).
  *
  * Resolution is lazy: `readStream` with the same options loads this
  * table too, then falls back to the alias's X14 stream source without
  * reading its schema — so a stream needs no `startingVersion`. */
private[sources] class GraftChangesTable(dir: String,
                                         options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  import org.apache.spark.sql.{Row, SQLContext}
  import org.apache.spark.sql.sources.{BaseRelation, TableScan}

  private lazy val relation: BaseRelation with TableScan = {
    val spark = SparkSession.active
    val from = Option(options.get("startingVersion")).getOrElse(
      throw new IllegalArgumentException(
        "readChangeFeed needs startingVersion")).toLong
    val to = Option(options.get("endingVersion")).map(_.toLong)
      .orElse(ManifestTable.headVersion(spark, dir))
      .getOrElse(throw new IllegalArgumentException(
        s"no committed manifest at $dir"))
    val feed = ManifestTable.changes(spark, dir, from, to)
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = feed.schema
      override def buildScan(): org.apache.spark.rdd.RDD[Row] = feed.rdd
    }
  }

  override def name(): String = s"graft-changes:$dir"

  override def schema(): StructType = relation.schema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.V1Scan {
      override def readSchema(): StructType = relation.schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T = relation.asInstanceOf[T]
    }
}

/** One pinned version of a manifest table behind the V2 `Table` API.
  * `version` None = the path has never been committed (write-only
  * until the first commit lands). */
case class GraftTable(tableDir: String, pinnedV: Option[Long],
                      tableSchema: StructType, tableProps: Map[String, String],
                      batchWrite: Boolean = true)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String =
    s"graft:$tableDir" + pinnedV.map(v => s"@v$v").getOrElse("")

  /** The bucket key of an S31 table — the delta row id, which Spark's
    * row-level rewrites require NON-NULLABLE, so [[schema]] marks it.
    * Honest at the data level too: the merge kernel rejects null keys
    * loudly at write (a null key could never be replaced through the
    * key anti-join — NULL never equals NULL). Only the NO-ACTIVE-
    * SESSION case degrades to None (a serialized copy probing off the
    * driver — schema nullability there is cosmetic); a transient
    * marker-read IOException must PROPAGATE, not silently route DML
    * onto the copy-on-write path and break the b=N layout invariant
    * (r19 review find). */
  @transient private[sources] lazy val bucketedKey: Option[String] =
    try MergeInto.bucketedGeometry(SparkSession.active, tableDir).map(_._1)
    catch {
      case _: IllegalStateException | _: org.apache.spark.SparkException =>
        None // no active session on this (deserialized) copy
    }

  override def schema(): StructType = bucketedKey match {
    case Some(k) => StructType(tableSchema.fields.map(f =>
      if (f.name == k) f.copy(nullable = false) else f))
    case None => tableSchema
  }

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftRowLevel.DirMetadataColumn,
      GraftRowLevel.FileMetadataColumn, GraftRowLevel.PosMetadataColumn)

  /** S52 — the declared CHECK contracts as V2 constraints (ENFORCED —
    * every write API validates them — and VALID: the ADD-time scan
    * proved existing rows conform). DESCRIBE and Spark's own
    * constraint-aware analysis read this. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableProps.toSeq.collect {
      case (k, sql) if k.startsWith("check.") =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix("check."))
          .predicateSql(sql)
          .enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.sortBy(_.name).toArray

  /** Native row-level operations (Spark's own DELETE/UPDATE/MERGE
    * rewrites), routed by the table's declared contract:
    *  - S31 bucketed tables take the KEY-delta path (row-id = the
    *    bucket key, applied through the O(changeset) merge kernel);
    *  - `dml.mode=merge-on-read` tables take the POSITION-delta path
    *    (row-id = (file, row position)): DML commits masks + one fresh
    *    dir, zero standing dirs rewritten — SQL UPDATE/MERGE honor the
    *    declared MoR contract exactly like DELETE does (S41);
    *  - every other table takes group-based copy-on-write at
    *    commit-dir granularity, with runtime group filtering
    *    reproducing the stats-pruned dir carrying the extension
    *    kernels did. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => bucketedKey match {
      case Some(k) => new GraftDeltaOperation(this, info.command, k)
      case None if tableProps.get("dml.mode")
          .exists(_.equalsIgnoreCase("merge-on-read")) =>
        new GraftPositionDeltaOperation(this, info.command)
      case None => new GraftGroupOperation(this, info.command)
    }

  /** Persisted table properties (for catalog tables: the `prop:` meta
    * channel, surfaced by SHOW TBLPROPERTIES) — also the seam
    * [[newWriteBuilder]] reads statsCols/retainGenerations/clusterBy
    * through, so a catalog table's write options persist across
    * sessions instead of living in each writer's .option() calls. */
  override def properties(): java.util.Map[String, String] = tableProps.asJava

  override def version(): String = pinnedV.map(_.toString).orNull

  // columns() derives from schema() via Table's default implementation
  override def capabilities(): java.util.Set[TableCapability] = {
    // BATCH_WRITE admits the table to DataFrameWriter's V2 write path
    // (without it, saves fall back to the provider's V1 SaveMode
    // writer); V1_BATCH_WRITE tells the physical planner the Write is a
    // V1Write bridge (AppendDataExecV1), and alone admits SQL INSERT
    val base = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
    if (batchWrite) base.add(TableCapability.BATCH_WRITE)
    // first write to an uncommitted path: nothing to resolve against
    if (tableSchema.isEmpty) base.add(TableCapability.ACCEPT_ANY_SCHEMA)
    base
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftDeleteSupport.columnOf(_).isDefined)

  /** SQL `DELETE FROM` (and `TRUNCATE TABLE` via [[SupportsDelete]]'s
    * default, S24): no-WHERE deletes commit an empty path list —
    * metadata only; predicated deletes run
    * [[ManifestTable.deleteWhere]]'s dir-granular copy-on-write, with
    * the pushed filters folded to stats bounds (rendered in the PINNED
    * stats zone, like every other pruning surface) so untouched dirs
    * are carried, not rewritten. Always applies to the CURRENT head
    * under optimistic concurrency, regardless of this instance's read
    * pin — a delete is a write, and writes rebase. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val retain = tableProps.get("retainGenerations")
      .flatMap(_.toIntOption).getOrElse(2)
    if (filters.isEmpty ||
        filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue())) {
      ManifestTable.truncateLive(spark, tableDir, retain): Unit
      return
    }
    val cond = filters.map(f => GraftDeleteSupport.columnOf(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE cannot evaluate filter $f"))).reduce(_ && _)
    val fs = new Path(tableDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // an uncommitted table dir is an ERROR, consistent with the
    // UPDATE/MERGE paths — not a silent no-op (r11 ADVICE)
    val head = ManifestTable.headVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed graft table at $tableDir"))
    if (MergeInto.bucketedGeometry(spark, tableDir).isDefined) {
      // S31 bucketed layout: a CoW rewrite dir would break the b=N
      // layout invariant, so DELETE routes through the merge kernel —
      // matching rows become a delete-flagged source (one table scan
      // with the predicate pushed to parquet; the rewrite itself stays
      // O(touched buckets)). cond TRUE deletes; NULL/FALSE survive —
      // exactly the filter.
      MergeInto.merge(ManifestTable.read(spark, tableDir).filter(cond),
        tableDir, deleteWhen = org.apache.spark.sql.functions.lit(true)): Unit
    } else {
      val zone = ManifestTable.statsZoneOf(spark, fs, tableDir, head)
      val bounds = ManifestSupport.boundsOf(filters.toIndexedSeq, zone)
      // S41 — `dml.mode=merge-on-read` (TBLPROPERTIES): the delete
      // stages a deletion vector instead of rewriting touched dirs —
      // write cost ∝ deleted rows; compaction materializes later
      if (tableProps.get("dml.mode").exists(_.equalsIgnoreCase("merge-on-read")))
        ManifestTable.deleteWhereMoR(spark, tableDir, cond, bounds, retain): Unit
      else
        ManifestTable.deleteWhere(spark, tableDir, cond, bounds, retain): Unit
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = pinnedV.getOrElse(throw new IllegalArgumentException(
      s"no committed graft table at $tableDir"))
    GraftScanBuilder(tableDir, v, schema(),
      options.asCaseSensitiveMap().asScala.toMap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    def opt(k: String): Option[String] =
      Option(info.options.get(k)).orElse(tableProps.get(k))
    val statsCols = opt("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val retain = opt("retainGenerations").map(_.toInt).getOrElse(2)
    val clusterBy = opt("clusterBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    // ad-hoc CHECK constraints for THIS write (`check.<name>` write
    // options); the table's DECLARED constraints are read from the
    // persisted meta channel inside the write itself, so they bind
    // every API — catalog, V2 path, V1 alias — identically (S30)
    val checks = info.options.asCaseSensitiveMap().asScala
      .collect { case (k, v) if k.toLowerCase.startsWith("check.") =>
        k.drop("check.".length) -> v }.toSeq.sortBy(_._1)
    // catalog-loaded tables can declare FUNCTION-based distributions
    // (their relations carry a FunctionCatalog to resolve `morton`
    // through); path-loaded tables cannot and keep the lexical form
    val viaCatalog = tableProps.contains(TableCatalog.PROP_PROVIDER)
    // S47 — idempotent batch writes (Delta's txnAppId/txnVersion
    // contract on the DSv2 OPTIONS surface): per-WRITE options only,
    // never table properties (a persisted txnVersion would make every
    // write "the same" transaction).
    val txn = ManifestSupport.txnOf(
      k => Option(info.options.get(k)))
    new GraftWriteBuilder(tableDir, statsCols, retain, clusterBy, checks,
      info, viaCatalog, txn)
  }
}

/** Append / truncate-overwrite through the `V1Write` bridge: the V2
  * write plan hands the whole DataFrame to an [[InsertableRelation]],
  * which is exactly the shape a manifest commit wants (one parquet
  * write job + one atomic pointer publish). ErrorIfExists/Ignore are
  * V1-alias-only by Spark's own rule (path-based V2 writes define only
  * Append and Overwrite). */
class GraftWriteBuilder(tableDir: String, statsCols: Seq[String],
                        retain: Int, clusterBy: Option[Seq[String]] = None,
                        checks: Seq[(String, String)] = Seq.empty,
                        info: LogicalWriteInfo = null,
                        viaCatalog: Boolean = false,
                        txn: Option[(String, Long)] = None)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** The table's effective cluster spec at write-build time: the write
    * option / TBLPROPERTY when given, else the spec DECLARED in the
    * head manifest (`ALTER TABLE ... CLUSTER BY`). Probed once per
    * write construction — one manifest listing. */
  private def effectiveCluster: Seq[String] = {
    val spark = SparkSession.active
    clusterBy.orElse(ManifestTable.headVersion(spark, tableDir).flatMap { v =>
      val fs = new Path(tableDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      ManifestTable.clusterSpecOf(fs, tableDir, v)
    }).getOrElse(Seq.empty)
  }

  /** The per-write `upsertTies` OPTION parsed and validated — ONE
    * definition for the batch and streaming routes (their copies had
    * drifted in wording; r20 review). A tie spec on a non-bucketed
    * table refuses loudly: silently dropping it would let duplicate
    * keys land. */
  private def upsertTiesOpt(schemaFields: Array[String],
                            bucketed: Boolean): Seq[String] = {
    val ties = Option(info.options.get("upsertTies"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).getOrElse(Seq.empty)
    ties.foreach(c => require(
      schemaFields.exists(_.equalsIgnoreCase(c)),
      s"upsertTies column '$c' is not in the write schema " +
        schemaFields.mkString("(", ", ", ")")))
    require(ties.isEmpty || bucketed,
      "upsertTies only applies to bucketed (layout=bucketed) tables " +
        "— append-shaped writes never resolve key ties")
    ties
  }

  override def build(): Write = new GraftV1Write(effectiveCluster)

  /** The V2 `Write`: V1-bridged for batch, native task writers for
    * streaming. When the table is CLUSTERED the write declares
    * `RequiresDistributionAndOrdering` — ordered distribution on the
    * cluster columns into `k` partitions — and Spark plans the range
    * shuffle + local sort itself (the seam Iceberg's write-distribution
    * modes use). Spark applies it to the MICRO-BATCH pipeline (V2Writes
    * → DistributionAndOrderingUtils.prepareQuery), so each streaming
    * epoch arrives as ≤k contiguous sorted ranges and lands
    * clustered-on-arrival; the batch V1 bridge replays the pre-prepared
    * `analyzedQuery`, so batch inserts keep [[ManifestTable
    * .appendClustered]]'s own (Morton-capable) shuffle — one shuffle on
    * every path, never two. */
  private class GraftV1Write(cluster: Seq[String])
      extends V1Write with RequiresDistributionAndOrdering {

    /** X16 multi-dimension parity: for a MULTI-column spec on a
      * catalog-loaded table, declare the distribution as `ordered by
      * morton(c1, lo1, hi1, ...)` — the engine z-orders each streaming
      * epoch, so EVERY dimension's per-dir range narrows (the batch
      * kernel's layout), not just the leading one's. Bounds are the
      * table-domain min/max read from the head manifest's stats at
      * write build (the write rebuilds per micro-batch, so they track
      * domain drift); values outside clamp — layout quality at the
      * moving edge, never correctness. None (→ lexical ordering) when
      * the table is path-loaded, single-column, empty, missing stats,
      * or typed outside the ordinal-able set. The path-loaded gate is
      * a RESOLUTION constraint, not a literal-construction one
      * (GraftShims bridges LiteralValue): `prepareQuery` resolves an
      * ApplyTransform through the relation's `funCatalog`, and a
      * path-based write plans with `relationOpt = None` — lifting the
      * gate fails the stream with "morton(...) ASC NULLS FIRST is not
      * currently supported" (verified empirically on 4.1.2), so the
      * catalog route is the supported multi-dimension streaming path. */
    private def mortonTransform
        : Option[org.apache.spark.sql.connector.expressions.Transform] = {
      if (!viaCatalog || cluster.size < 2) return None
      val spark = SparkSession.active
      val fs = new Path(tableDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val head = ManifestTable.headVersion(spark, tableDir).getOrElse(return None)
      val schema = ManifestTable.declaredSchemaOf(spark, tableDir, head)
        .getOrElse(return None)
      val paths = ManifestTable.pathsOf(fs, tableDir, head)
      if (paths.isEmpty) return None
      val stats = ManifestTable.statsOf(fs, tableDir, head)
      // the zone TIMESTAMP stats strings render in — pinned by the
      // first ts-stats writer, not this session's (bounds parsed in
      // the wrong zone shift the domain; clamping keeps that a layout
      // nuance, but parse right anyway)
      lazy val statsZone =
        ManifestTable.statsZoneOf(spark, fs, tableDir, head)
      def ordinalOf(dt: org.apache.spark.sql.types.DataType,
                    s: String): Option[Long] = dt match {
        case org.apache.spark.sql.types.DateType =>
          try Some(java.time.LocalDate.parse(s).toEpochDay)
          catch { case _: java.time.format.DateTimeParseException => None }
        case org.apache.spark.sql.types.TimestampType =>
          try {
            val ins = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
              .atZone(statsZone).toInstant
            Some(ins.getEpochSecond * 1000000L + ins.getNano / 1000L)
          } catch { case _: java.time.format.DateTimeParseException => None }
        case org.apache.spark.sql.types.StringType =>
          Some(GraftMortonUnbound.stringOrdinal(
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        case _ => s.toLongOption
      }
      val args = cluster.map { c =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(c))
          .getOrElse(return None)
        if (!GraftMortonUnbound.ordinalable(f.dataType)) return None
        // domain = the union of every dir's recorded range; one
        // stats-less or unparseable dir → no domain → lexical fallback
        val ranges = paths.map(p => stats.get(p)
          .flatMap(ManifestTable.statsFor(_, f.name)).flatMap {
            case (_, Some(mn), Some(mx)) =>
              for (a <- ordinalOf(f.dataType, mn); b <- ordinalOf(f.dataType, mx))
                yield (a, b)
            case _ => None
          })
        if (ranges.exists(_.isEmpty)) return None
        val rs = ranges.flatten
        (c, rs.map(_._1).min, rs.map(_._2).max)
      }
      Some(Expressions.apply("morton", args.flatMap { case (c, lo, hi) =>
        Seq(Expressions.column(c):
          org.apache.spark.sql.connector.expressions.Expression,
          org.apache.spark.sql.GraftShims.v2LongLiteral(lo),
          org.apache.spark.sql.GraftShims.v2LongLiteral(hi))
      }: _*))
    }

    // computed ONCE per write build: distribution and ordering must
    // agree, and the manifest may advance between the two calls
    private lazy val sortOrders: Array[SortOrder] =
      mortonTransform match {
        case Some(t) => Array(Expressions.sort(t, SortDirection.ASCENDING))
        case None => cluster.map(c =>
          Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING)).toArray
      }

    override def requiredDistribution(): Distribution =
      if (cluster.isEmpty) Distributions.unspecified()
      else Distributions.ordered(sortOrders)

    override def requiredOrdering(): Array[SortOrder] =
      if (cluster.isEmpty) Array.empty else sortOrders

    /** ≤k dirs per epoch — the S27 batch bound, keeping manifest growth
      * per epoch constant. 0 = unconstrained for unclustered writes. */
    override def requiredNumPartitions(): Int =
      if (cluster.isEmpty) 0 else graft.ScaleKnobs.DefaultClusterDirs

    /** Remove the Sort+RepartitionByExpression that
      * `DistributionAndOrderingUtils.prepareQuery` added for THIS
      * write's declared distribution. Spark applies the preparation to
      * batch `AppendData` even on the V1 fallback, and
      * `AppendDataExecV1` executes the prepared plan — so without the
      * peel, a batch insert to a clustered table range-shuffles TWICE:
      * once from the declared distribution (which only the streaming
      * path needs) and once inside `appendClustered` (whose shuffle is
      * the one that matters — it is Morton-capable for multi-column
      * specs). Shape-conservative: peel only the exact
      * ordered-distribution preparation on the declared cluster
      * columns; anything else passes through untouched (worst case the
      * old double shuffle, never a lost shuffle). */
    private def peelPrepared(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{ApplyFunctionExpression, Attribute, Expression, SortOrder}
      import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression, Sort}
      def onCluster(exprs: Seq[Expression]): Boolean =
        (exprs.length == cluster.length && exprs.zip(cluster).forall {
          case (SortOrder(a: Attribute, _, _, _), c) =>
            a.name.equalsIgnoreCase(c)
          case _ => false
        }) || (exprs match {
          // the multi-column form: one SortOrder over the engine's own
          // morton function (batch peels it too — appendClustered
          // z-orders with the batch's exact bounds)
          case Seq(SortOrder(af: ApplyFunctionExpression, _, _, _)) =>
            af.function.isInstanceOf[GraftMortonFunction]
          case _ => false
        })
      def peel(plan: LogicalPlan): LogicalPlan = plan match {
        case s: Sort if !s.global && onCluster(s.order) =>
          s.child match {
            case r: RepartitionByExpression if onCluster(r.partitionExpressions) =>
              r.child
            case _ => plan
          }
        case r: RepartitionByExpression if onCluster(r.partitionExpressions) =>
          r.child
        case _ => plan
      }
      val logical = df.queryExecution.logical
      val peeled = peel(logical)
      if (peeled eq logical) df
      else org.apache.spark.sql.GraftShims.dataFrame(df.sparkSession, peeled)
    }

    /** X15/X16 — native streaming path (`writeStream.toTable` /
      * `.format("graft")`): executor task writers + exactly-once epoch
      * commits ([[GraftStreamingWrite]]). Write CONTRACTS bind INTO
      * the path (r18): declared + ad-hoc CHECK constraints, generated
      * columns and identity minting ship as schema-bound Catalyst
      * expressions the task writers evaluate per row — a violating
      * epoch dies before its manifest commit, minted ids ride the
      * batch kernel's exact arithmetic against a per-epoch watermark
      * claim the commit loop verifies. Only bucketed tables still
      * refuse (the merge kernel is genuinely a driver-side shuffle
      * plan). Clustered tables are SERVED (r14): the range shuffle
      * their layout needs is planned by Spark from this write's
      * declared distribution. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val spark = SparkSession.active
      require(!overwrite,
        "graft streaming writes are APPEND-mode (complete/truncate " +
          "modes would overwrite per epoch); use outputMode(\"append\")")
      // S31 — bucketed tables STREAM natively too (r19): task writers
      // stage the epoch, and the epoch commit drives the merge kernel
      // (upsert by key, b=N geometry preserved — S12's zero-shuffle
      // join plans survive every epoch) with the epoch watermark riding
      // the merge's own commit for exactly-once replay skips
      val bucketedGeom = MergeInto.bucketedGeometry(spark, tableDir)
      cluster.foreach(c => require(
        info.schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"cluster column '$c' is not in the streaming write schema " +
          s"${info.schema.fieldNames.mkString("(", ", ", ")")}"))
      // ONE head resolution per micro-batch: meta and colmap come off
      // the same snapshot (this method runs per epoch — a second
      // listing would double the object-store round-trips per trigger)
      val (headMeta, cmap) = ManifestTable.headVersion(spark, tableDir)
        .map { v =>
          val fs = new Path(tableDir)
            .getFileSystem(spark.sessionState.newHadoopConf())
          (ManifestTable.metaOf(fs, tableDir, v),
            ManifestTable.colMapOf(fs, tableDir, v))
        }.getOrElse((Map.empty[String, String], Map.empty[String, String]))
      val physToLogical = cmap.map(_.swap)
      def ordinalOf(logical: String): Int =
        info.schema.fieldNames.indexWhere(_.equalsIgnoreCase(logical))
      // S30 — CHECK constraints, declared (persisted meta channel) and
      // ad-hoc (`check.<name>` write options), bound to the write
      // schema; the bound-key set feeds the ALTER-mid-stream guard
      val checkPrefix = GraftCatalog.PropPrefix + "check."
      val declaredChecks = headMeta.toSeq.collect {
        case (k, sql) if k.startsWith(checkPrefix) => k -> sql
      }.sortBy(_._1)
      val checkExprs = (declaredChecks.map { case (k, sql) =>
        k.stripPrefix(checkPrefix) -> sql } ++ checks).map { case (nm, sql) =>
        nm -> GraftRowContracts.bind(spark, info.schema, sql) }
      // S50 — generated columns: fill-or-validate per row, the batch
      // choke point's semantics with the declared type cast
      val genExprs = headMeta.toSeq.collect {
        case (k, sql) if k.startsWith(ManifestTable.GenColPrefix) =>
          k.stripPrefix(ManifestTable.GenColPrefix) -> sql
      }.sortBy(_._1).flatMap { case (phys, sql) =>
        val logical = physToLogical.getOrElse(phys, phys)
        val ord = ordinalOf(logical)
        if (ord < 0) None
        else Some((logical, ord, GraftRowContracts.bind(spark, info.schema,
          sql, Some(info.schema.fields(ord).dataType))))
      }
      // S51 — identity: each epoch claims the head watermark at write
      // construction (one StreamingWrite per micro-batch); the commit
      // loop refuses if a concurrent allocation moved it
      val idClaims = ManifestTable.identitySpecs(headMeta).toSeq
        .sortBy(_._1).flatMap { case (phys, spec) =>
          val logical = physToLogical.getOrElse(phys, phys)
          val ord = ordinalOf(logical)
          if (ord < 0) None
          else {
            require(info.schema.fields(ord).dataType ==
              org.apache.spark.sql.types.LongType,
              s"identity column '$logical' must be BIGINT on the " +
                "streaming write (per-partition mint offsets span 2^33)")
            val wm = headMeta.get(ManifestTable.IdentityWmPrefix + phys)
              .flatMap(_.toLongOption).getOrElse(spec.base)
            Some(ManifestTable.IdentityClaim(phys, logical, spec, wm))
          }
        }
      val idents = idClaims.map { cl =>
        (cl.logical, ordinalOf(cl.logical), cl.baseWm, cl.spec.step,
          cl.spec.allowExplicit) }
      val contracts = GraftRowContracts(
        info.schema.fields.map(_.dataType).toSeq, checkExprs, genExprs,
        idents)
      // the merge kernel's commit path advances no identity watermark —
      // and the engine's bucketed batch routes (the same kernel) never
      // mint either, so this is a loud gate on an unsupported combo,
      // not a feature gap introduced by streaming
      require(bucketedGeom.isEmpty || idClaims.isEmpty,
        "identity columns are not supported on bucketed (layout=" +
          "bucketed) tables — the merge kernel's commit does not " +
          "advance identity watermarks")
      // S31 intra-epoch tie order: a per-write `upsertTies` OPTION
      // names the domain columns — event-time first — whose DESC order
      // decides "latest" among same-key rows of one epoch; validated
      // against the write schema so a typo fails the stream at build.
      // The table PROPERTY of the same name resolves INSIDE the merge
      // kernel (one contract for every write surface), so a stray
      // property on a non-bucketed table stays inert here exactly as
      // it does on the batch routes — only the explicit OPTION refuses
      // on a table that cannot honor it.
      val upsertTies = upsertTiesOpt(info.schema.fieldNames,
        bucketed = bucketedGeom.isDefined)
      // cluster AND identity columns are always stats-tracked — pruning
      // needs the ranges (S27, per epoch) and the identity watermark is
      // read from the landed dirs' own lanes
      val epochStatsCols =
        (statsCols ++ cluster ++ idClaims.map(_.logical)).distinct
      new GraftStreamingWrite(tableDir, info.schema, info.queryId,
        epochStatsCols, retain,
        cluster, cmap, Some(contracts).filterNot(_.isEmpty), idClaims,
        declaredChecks.map(_._1).toSet, bucketedGeom, upsertTies,
        // r20 — stats.ndv=write resolved off the same head snapshot:
        // the task writers sketch inline, the epoch commit unions
        ndvWrite =
          ManifestTable.writeNdvCols(headMeta, epochStatsCols).nonEmpty)
    }

    private def txnMeta: Map[String, String] =
      ManifestSupport.txnMetaOf(txn)

    override def toInsertableRelation: InsertableRelation =
      (data0, _) =>
      // S47 replay fast-path: a watermark at-or-past this write's
      // txnVersion means the batch already committed (crash between
      // commit and the caller's ack) — skip BEFORE the write job,
      // not just before the pointer publish. (No `return` here: a
      // non-local return from this lambda would fire after
      // toInsertableRelation already returned.)
      if (!ManifestSupport.txnApplied(data0.sparkSession, tableDir, txn)) {
        // the peel must see the PREPARED plan's top — before the check
        // guards wrap it (append path only: overwrite has no second
        // shuffle to save, and keeping Spark's sort there is free)
        // overwrite peels too (r20): since r19 routed clustered
        // overwrites through appendClusteredWithCids, the kernel runs
        // its own (Morton-capable) shuffle — keeping Spark's prepared
        // exchange would range-shuffle the full payload twice
        val unprepared =
          if (cluster.isEmpty) data0 else peelPrepared(data0)
        // S31 — a bucketed (layout=bucketed:<key>) table routes every
        // write through the O(changeset) upsert kernel: INSERT is an
        // upsert BY KEY (a re-inserted key replaces its row — the
        // table holds one row per key by construction), and INSERT
        // OVERWRITE replaces the table (truncate + merge). The marker
        // probe, not the prop, is the routing truth, so path-API
        // writers to a bucketed dir route identically.
        val bucketedGeom =
          MergeInto.bucketedGeometry(unprepared.sparkSession, tableDir)
        // CHECK constraints (S30) enforced IN the write job: the
        // table's PERSISTED contracts bind HERE only on the bucketed
        // kernel routes (which also need the bound key set for their
        // ALTER-vs-write guard) — the append routes bind + guard
        // internally, and binding twice would evaluate every declared
        // predicate and generated expression twice per row (r19 review
        // find). Ad-hoc per-write checks from OPTIONS apply on every
        // route.
        val (declChecked, boundCheckKeys) =
          if (bucketedGeom.isDefined)
            ManifestSupport.bindDeclaredChecks(unprepared, tableDir)
          else (unprepared, Set.empty[String])
        val data = ManifestSupport.applyChecks(declChecked, checks)
        // a per-write upsertTies OPTION overrides the declared table
        // property (which the kernel itself resolves when no explicit
        // order arrives); on a non-bucketed table it refuses loudly —
        // silently dropping a tie spec would let duplicates land
        val tieOpt = Some(upsertTiesOpt(data.columns,
          bucketed = bucketedGeom.isDefined)).filter(_.nonEmpty)
        if (bucketedGeom.isDefined) {
          // overwrite = ONE atomic swap commit (write new bucket dirs,
          // then publish drop-old+add-new together) — never a truncate
          // a reader could observe or a crash could strand
          require(txn.isEmpty,
            s"txnAppId/txnVersion are not supported on bucketed merge " +
              s"tables ($tableDir): a merge is key-idempotent by " +
              "construction — replaying the same source yields the same " +
              "table — so the watermark would only mask interleaved " +
              "foreign writes")
          val spark = data.sparkSession
          val fsx = new org.apache.hadoop.fs.Path(tableDir)
            .getFileSystem(spark.sessionState.newHadoopConf())
          // the same ALTER-vs-write CHECK guard the append commit
          // loops run: a constraint declared while this statement ran
          // was never bound into its plan — refuse at the exact head
          // the kernel commits on (r19 review find; streaming epochs
          // ride the identical hook)
          val guard: Map[String, String] => Unit = m =>
            ManifestTable.checkConflictGuard(fsx, tableDir, m,
              boundCheckKeys, Seq.empty)
          import org.apache.spark.sql.functions.col
          val ties = tieOpt.map { cols =>
            cols.map(c => col(c).desc) ++
              MergeInto.defaultTies(data, bucketedGeom.get._1)
          }.getOrElse(Nil)
          if (overwrite) MergeInto.overwriteBucketed(data, tableDir,
            tieCols = ties, validateHead = guard): Unit
          else MergeInto.merge(data, tableDir, tieCols = ties,
            validateHead = guard): Unit
        } else {
          if (overwrite) ManifestSupport.overwrite(data, tableDir,
            statsCols, retain, extraMeta = txnMeta,
            // an explicit clusterBy OPTION governs THIS overwrite's
            // layout, not only the spec it declares below (r20)
            specOverride = clusterBy
              .orElse(Some(cluster).filter(_.nonEmpty)))
          else clusterBy match {
            // a declared cluster spec makes every append CLUSTERED ON
            // ARRIVAL (S27): the batch lands as range/Morton-sorted dirs
            // with per-dir stats, so selective reads prune fresh data
            // without waiting for a compaction. Cluster columns are
            // always stats-tracked — pruning needs their ranges. The
            // entry peel removed Spark's prepared exchange — ONE
            // shuffle (appendClustered's own, Morton-capable), not two.
            case Some(cols) => ManifestTable.appendClustered(data, tableDir,
              (statsCols ++ cols).distinct, retainGenerations = retain,
              meta = txnMeta, specOverride = Some(cols)): Unit
            // no explicit option, but the table DECLARES a spec
            // (effectiveCluster read it from the head manifest): land
            // clustered like every other write surface — the V1
            // alias's appendRespectingSpec contract, not a silent
            // single-dir degrade (the peel removed the prepared sort
            // that used to paper over this path)
            case None if cluster.nonEmpty =>
              ManifestTable.appendClustered(data, tableDir,
                (statsCols ++ cluster).distinct,
                retainGenerations = retain, meta = txnMeta): Unit
            case None =>
              ManifestTable.append(data, tableDir, statsCols, retain,
                meta = txnMeta): Unit
          }
          // declared cluster spec from table/write OPTIONS: recorded once
          // (a metadata commit) when it differs from the current spec —
          // it governs later writers and the next compactAppend
          clusterBy.foreach { cols =>
            val spark = data.sparkSession
            val fs = new org.apache.hadoop.fs.Path(tableDir)
              .getFileSystem(spark.sessionState.newHadoopConf())
            val head = ManifestTable.headVersion(spark, tableDir).get
            if (!ManifestTable.clusterSpecOf(fs, tableDir, head).contains(cols))
              ManifestTable.alterClusterBy(spark, tableDir, cols, retain): Unit
          }
        }
      }
  }
}

/** Pushdown surface: column pruning, filter recording (always returned
  * as residual — pruning is I/O-only, never correctness), and complete
  * aggregate pushdown against manifest stats. */
case class GraftScanBuilder(tableDir: String, version: Long,
                            tableSchema: StructType,
                            scanOptions: Map[String, String] = Map.empty,
                            rowLevel: Option[GraftGroupOperation] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var readSchema: StructType = tableSchema
  private var filters: Array[Filter] = Array.empty
  private var agg: Option[(StructType, InternalRow)] = None
  private var limit: Option[Int] = None

  /** Manifest-aware LIMIT: with NO filters, every row counts toward
    * the limit, so the scan can open just enough commit dirs (by their
    * recorded rowcounts) to cover it — `LIMIT 100` over years of
    * appends plans one dir, not the table. PARTIAL push (Spark
    * re-applies the exact limit above); declined when any filter is
    * pushed — a dir prefix could then under-deliver MATCHING rows. */
  override def pushLimit(n: Int): Boolean = {
    if (filters.nonEmpty) false
    else { limit = Some(n); true }
  }

  override def isPartiallyPushed(): Boolean = true
  // supportCompletePushDown and pushAggregation both need the answer —
  // compute the manifest-backed result once per Aggregation instance
  private var answered: Option[(Aggregation, Option[(StructType, InternalRow)])] = None

  private def answerOf(aggregation: Aggregation): Option[(StructType, InternalRow)] =
    answered match {
      case Some((prev, r)) if prev eq aggregation => r
      case _ =>
        val r = GraftStatsAgg.answer(SparkSession.active, tableDir, version,
          tableSchema, aggregation, filters)
        answered = Some((aggregation, r))
        r
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    readSchema = requiredSchema

  /** Record every filter for dir + row-group pruning, and return every
    * filter as residual: Spark re-applies the exact predicates above
    * the scan, so stats pruning can never change results (strict `>`
    * widened to `>=`, IN folded to its envelope — all safe). */
  override def pushFilters(pushed: Array[Filter]): Array[Filter] = {
    filters = pushed
    pushed
  }

  override def pushedFilters(): Array[Filter] = filters

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    answerOf(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    agg = answerOf(aggregation)
    agg.isDefined
  }

  override def build(): Scan = {
    // `_graft_dir`/`_graft_file`/`_graft_pos` are metadata columns, not
    // parquet data: strip them from the read schema and let the scan
    // re-emit them — dir and file per file via the partition-values
    // channel, pos via the parquet row-index column
    val metaCols = Set(GraftRowLevel.DirCol, GraftRowLevel.FileCol,
      GraftRowLevel.PosCol)
    val requested = readSchema.fieldNames.filter(metaCols).toSet
    val dataSchema =
      if (requested.isEmpty) readSchema
      else StructType(readSchema.fields.filterNot(f => metaCols(f.name)))
    new GraftScan(tableDir, version, tableSchema, dataSchema, filters, agg,
      limit.filter(_ => filters.isEmpty), scanOptions,
      emitDir = requested(GraftRowLevel.DirCol),
      rowLevel = rowLevel,
      emitFile = requested(GraftRowLevel.FileCol),
      emitPos = requested(GraftRowLevel.PosCol))
  }
}

/** The scan: either a metadata-only aggregate answer (one local row)
  * or a pruned parquet file scan through Spark's own vectorized V2
  * parquet reader factory. Mutable `keptPaths` is the runtime-filter
  * seam: Spark may call [[filter]] with join-derived predicates (DPP
  * shape) before planning partitions. The reader factory is built once
  * per planned-dir set ([[createReaderFactory]] memoizes it, keyed on
  * [[plannedPaths]]; the aggregate answer keys on the empty set), so a
  * masked scan loads its masks and broadcasts its confs once per query,
  * and a runtime filter that narrows the dirs gets a fresh factory. */
class GraftScan(tableDir: String, version: Long, tableSchema: StructType,
                requiredSchema: StructType, filters: Array[Filter],
                agg: Option[(StructType, InternalRow)],
                limit: Option[Int] = None,
                streamOptions: Map[String, String] = Map.empty,
                emitDir: Boolean = false,
                rowLevel: Option[GraftGroupOperation] = None,
                emitFile: Boolean = false,
                emitPos: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private def spark: SparkSession = SparkSession.active
  private def fsOf(s: SparkSession) =
    new Path(tableDir).getFileSystem(s.sessionState.newHadoopConf())

  // ONE manifest PARSE serves every planning surface of this scan
  // (pruning, filterAttributes, statistics, runtime re-pruning, masks,
  // column mapping) — each per-channel accessor re-reads the file, a
  // GET per plan step on an object store. Driver-only state: the scan
  // object itself never ships to executors.
  @transient private lazy val snap: ManifestTable.Snapshot =
    ManifestTable.snapshotOf(fsOf(spark), tableDir, version)
  private def livePaths: Seq[String] = snap.paths
  private def liveStats: Map[String, String] = snap.stats
  /** S41 — the pinned version's deletion vectors: dv'd dirs plan as
    * per-file partitions whose readers drop masked row positions, so
    * the V2 scan serves the same LOGICAL table as every DataFrame
    * surface. */
  private def dvByPath: Map[String, String] = snap.dv
  /** S42 — logical→physical column mapping of the pinned version:
    * parquet files store PHYSICAL names, so the reader factories
    * request physical schemas (rows are positional — the scan's output
    * schema stays logical). */
  @transient private lazy val colMap: Map[String, String] = snap.cmap
  /** The zone timestamp stats are ENCODED in — the pinned writer zone
    * ([[ManifestTable.statsZoneOf]]), not this session's. */
  @transient private lazy val statsZone: java.time.ZoneId =
    ManifestTable.statsZoneOf(spark, fsOf(spark), tableDir, version)

  private def boundsFor(fs: Array[Filter]): Map[String, (String, String)] =
    ManifestSupport.boundsOf(fs.toIndexedSeq, statsZone)
      .filter { case (c, _) => tableSchema.fieldNames.contains(c) }

  /** S44 — per-scan bloom sidecar cache (driver-side, loaded on demand
    * only for candidate dirs under point predicates), plus the scan's
    * ONE load budget: the static prune and a later runtime-filter
    * (DPP) prune draw from the same allowance, so a scan can never pay
    * more than [[graft.ScaleKnobs.BloomProbeMaxSidecars]] GETs total. */
  @transient private lazy val bloomCache = scala.collection.mutable.Map
    .empty[String, Option[org.apache.spark.util.sketch.BloomFilter]]
  @transient private lazy val bloomBudget =
    new java.util.concurrent.atomic.AtomicInteger(
      graft.ScaleKnobs.BloomProbeMaxSidecars)

  /** Point predicates (EqualTo/In conjuncts) re-keyed to PHYSICAL
    * column names — the bloom channel's key space. */
  private def bloomPointsFor(fs: Array[Filter]): Seq[(String, Set[String])] =
    GraftFilterPoints.of(fs, tableSchema)
      .map { case (c, pts) => (colMap.getOrElse(c, c), pts) }

  /** Commit dirs surviving manifest-stats pruning under the pushed
    * filters (and, for point predicates on bloom-indexed columns, the
    * per-dir membership sketches); narrowed further by runtime
    * filters. */
  private var keptPathsCache: Seq[String] = null
  private def keptPaths: Seq[String] = {
    if (keptPathsCache == null)
      keptPathsCache = ManifestTable.pruneByBloom(fsOf(spark), tableDir,
        ManifestTable.pruneByNulls(
          ManifestTable.prunePathsIn(
            livePaths, liveStats, boundsFor(filters), tableSchema),
          liveStats, filters.toSeq),
        snap.bloom, bloomPointsFor(filters), bloomCache, bloomBudget)
    keptPathsCache
  }

  /** Requested metadata fields in the scan's CANONICAL emit order
    * (dir, file, pos) — [[readSchema]], the partition-values schema and
    * the reader projection all derive from this one list. */
  private def metaFields: Seq[StructField] =
    (if (emitDir) Seq(GraftRowLevel.dirField) else Seq.empty) ++
    (if (emitFile) Seq(GraftRowLevel.fileField) else Seq.empty) ++
    (if (emitPos) Seq(GraftRowLevel.posField) else Seq.empty)

  override def readSchema(): StructType = agg.map(_._1).getOrElse(
    StructType(requiredSchema.fields ++ metaFields))

  override def toBatch: Batch = this

  /** Stats-covered columns are runtime-filterable: an IN-set arriving
    * from a dimension join folds to its envelope and re-prunes dirs.
    * A ROW-LEVEL operation's scan instead filters on `_graft_dir` —
    * the group id Spark's runtime group filtering narrows, so a CoW
    * DELETE/UPDATE/MERGE rewrites only the dirs that hold matches. */
  override def filterAttributes(): Array[NamedReference] =
    // no runtime filtering over an agg answer, nor combined with a
    // limit-truncated dir plan (the prefix was chosen by TOTAL counts)
    if (agg.isDefined || limit.isDefined) Array.empty
    else if (rowLevel.isDefined) Array(Expressions.column(GraftRowLevel.DirCol))
    else {
      // stats-covered columns, plus bloom-indexed ones: a runtime
      // IN-set from a dimension join can point-prune via the sketches.
      // RESTRICTED to the scan's PRUNED output: Spark's PartitionPruning
      // resolves these refs against the scan output and THROWS on a
      // declared column the projection dropped (a stats-tracked column
      // the query never reads — e.g. an identity id in a merge's
      // join-key-only scan) rather than skipping it.
      val out = readSchema().fieldNames.toSet
      val bloomCols = snap.bloom.values
        .flatMap(ManifestTable.bloomEntries(_).keys).toSet
      tableSchema.fieldNames.filter { c =>
        out.contains(c) &&
          (liveStats.values.exists(ManifestTable.statsFor(_, c).isDefined) ||
            bloomCols.contains(colMap.getOrElse(c, c)))
      }.map(Expressions.column)
    }

  override def filter(runtime: Array[Filter]): Unit = {
    // group filtering: an IN/= on the dir metadata column names the
    // affected groups EXACTLY — intersect, no envelope folding
    val dirSets = runtime.collect {
      case org.apache.spark.sql.sources.In(c, vs)
          if c == GraftRowLevel.DirCol =>
        vs.collect { case s: String => s }.toSet
      case org.apache.spark.sql.sources.EqualTo(c, v: String)
          if c == GraftRowLevel.DirCol => Set(v)
    }
    dirSets.foreach(ds => keptPathsCache = keptPaths.filter(ds))
    val bounds = boundsFor(runtime)
    if (bounds.nonEmpty)
      keptPathsCache = keptPaths.intersect(ManifestTable.prunePathsIn(
        livePaths, liveStats, bounds, tableSchema))
    // a runtime IN-set (DPP shape) on a bloom-indexed column
    // point-prunes dirs the sketches prove key-free
    val pts = bloomPointsFor(runtime)
    if (pts.nonEmpty)
      keptPathsCache = ManifestTable.pruneByBloom(fsOf(spark), tableDir,
        keptPaths, snap.bloom, pts, bloomCache, bloomBudget)
  }

  /** With a pushed pure limit: the shortest dir PREFIX whose recorded
    * rowcounts cover it (no truncation when any dir lacks a rowcount —
    * conservative full plan). Recorded counts are PHYSICAL; under
    * deletion vectors each dir contributes its LOGICAL count —
    * physical rows minus the dir's mask-position count (exact: standing
    * masks are position-disjoint, see [[ManifestTable.dvDeletedRows]]). */
  private def plannedPaths: Seq[String] = limit match {
    case None => keptPaths
    case Some(n) =>
      val counts = keptPaths.map(p =>
        liveStats.get(p).flatMap(ManifestTable.rowsIn))
      if (counts.exists(_.isEmpty)) keptPaths
      else {
        val lowerBounds = keptPaths.zip(counts.flatten).map { case (p, c) =>
          val masked = dvByPath.get(p)
            .map(pl => ManifestTable.dvEntries(pl).map(_._2).sum).getOrElse(0L)
          math.max(0L, c - masked)
        }
        val cum = lowerBounds.scanLeft(0L)(_ + _).tail
        val need = cum.indexWhere(_ >= n.toLong)
        if (need < 0) keptPaths else keptPaths.take(need + 1)
      }
  }

  private def listFiles(s: SparkSession): Seq[FileStatus] =
    GraftParquetRead.listFiles(s, tableDir, plannedPaths)

  /** S38 — storage-partitioned-join geometry: Some((key, n)) when this
    * is a plain file scan of an S31 bucketed table whose every planned
    * dir parses as a `b=<bucket>` leaf. The scan then reports
    * `KeyGroupedPartitioning(bucket(n, key))` and plans ONE partition
    * per bucket dir carrying its bucket id as the partition key — an
    * equi-join of two co-bucketed tables plans with ZERO shuffle
    * (`spark.sql.sources.v2.bucketing.enabled=true`). */
  @transient private lazy val spjGeometry: Option[(String, Int)] =
    if (agg.isDefined || limit.isDefined || rowLevel.isDefined || emitDir ||
        emitFile || emitPos)
      None
    else MergeInto.bucketedGeometry(spark, tableDir)
      .filter(_ => plannedPaths.forall(bucketIdOf(_).isDefined))

  private def bucketIdOf(rel: String): Option[Int] = {
    val i = rel.lastIndexOf("b=")
    if (i < 0) None else rel.substring(i + 2).toIntOption
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGeometry match {
      case Some((key, n)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(Expressions.bucket(n, key)), plannedPaths.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Per-file partition-values row for the constant-per-file metadata
    * columns the scan emits (dir and/or file — pos is NOT constant and
    * rides the parquet row-index channel instead). File values render
    * via [[DvStore.keyOf]] so a mask a DML write stages from
    * `_graft_file` matches every read surface's probe key. */
  private def pvOf(rel: String, st: FileStatus): InternalRow = {
    import org.apache.spark.unsafe.types.UTF8String
    val vals =
      (if (emitDir) Seq(UTF8String.fromString(rel)) else Seq.empty) ++
      (if (emitFile) Seq(UTF8String.fromString(DvStore.keyOf(st.getPath)))
       else Seq.empty)
    if (vals.isEmpty) InternalRow.empty else InternalRow(vals: _*)
  }

  private def emitAnyPerFile: Boolean = emitDir || emitFile

  override def planInputPartitions(): Array[InputPartition] = agg match {
    case Some((_, row)) => Array(GraftAggPartition(row))
    case None =>
      val planned = plannedPaths
      // a row-level operation's write will replace EXACTLY the dirs
      // its scan ended up reading (post static-stats pruning AND
      // runtime group filtering) — record them on the shared operation
      rowLevel.foreach(_.recordAffected(planned))
      if (planned.exists(dvByPath.contains)) {
        // S41 — dv'd dirs plan ONE PARTITION PER FILE carrying the
        // file's canonical key, so the reader wrapper can look up its
        // mask (and walk positions monotonically within the one file);
        // clean dirs pack normally and keep zero-copy columnar reads
        val (dirty, clean) = GraftParquetRead
          .listFilesWithDir(spark, tableDir, planned)
          .partition { case (rel, _) => dvByPath.contains(rel) }
        val cleanParts = GraftParquetRead.packPartitionsWithValues(spark,
          clean.map { case (rel, st) => (pvOf(rel, st), st) })
        val dirtyParts = dirty.zipWithIndex.map { case ((rel, st), i) =>
          new GraftDvFilePartition(cleanParts.length + i,
            Array(PartitionedFile(pvOf(rel, st),
              org.apache.spark.paths.SparkPath.fromPath(st.getPath),
              0L, st.getLen, Array.empty,
              st.getModificationTime, st.getLen, Map.empty)),
            DvStore.keyOf(st.getPath),
            // the dv dirs covering THIS file's commit dir — the
            // executor-side mask source past the driver cap
            ManifestTable.dvEntries(dvByPath(rel)).map(e =>
              ManifestTable.absPath(tableDir, e._1))): InputPartition
        }
        cleanParts ++ dirtyParts
      }
      else if (emitAnyPerFile)
        GraftParquetRead.packPartitionsWithValues(spark,
          GraftParquetRead.listFilesWithDir(spark, tableDir, planned).map {
            case (rel, st) => (pvOf(rel, st), st)
          })
      else if (spjGeometry.isDefined) {
        // bucket-aligned planning: each bucket dir = one partition
        // keyed by its bucket id (the bucket(n, key) transform value),
        // so Spark can line partitions up across co-bucketed scans;
        // one listing pass over all planned dirs
        val byDir = GraftParquetRead
          .listFilesWithDir(spark, tableDir, planned).groupBy(_._1)
        planned.zipWithIndex.map { case (rel, i) =>
          new GraftBucketPartition(i,
            GraftParquetRead.toPartitionedFiles(
              byDir.getOrElse(rel, Seq.empty).map(_._2)),
            bucketIdOf(rel).get): InputPartition
        }.toArray
      }
      else GraftParquetRead.packPartitions(spark, listFiles(spark))
  }

  /** The factory last built, with the planned dirs it was built for. */
  @transient private var factoryMemo: (Seq[String], PartitionReaderFactory) =
    null

  /** Memoized (see the class doc): every `BatchScanExec` copy between
    * the physical and the executed plan asks for its own factory. */
  override def createReaderFactory(): PartitionReaderFactory = synchronized {
    val key = if (agg.isDefined) Seq.empty else plannedPaths
    if (factoryMemo == null || factoryMemo._1 != key)
      factoryMemo = (key, buildReaderFactory())
    factoryMemo._2
  }

  private def buildReaderFactory(): PartitionReaderFactory = agg match {
    case Some(_) => GraftAggReaderFactory
    case None =>
      // GROUP mode must return EVERY row of a surviving dir — rows the
      // condition does NOT match are COPIED into the replacement dir
      // by the CoW rewrite, and a row group skipped by predicate
      // pruning would silently lose its copied rows. So a group scan's
      // pushed filters prune whole dirs only, never parquet row
      // groups. (Delta-operation scans are plain scans and push
      // fully.) Under a column mapping the filters reference LOGICAL
      // names no file stores — TRANSLATE attribute names to physical
      // (S42: a renamed table keeps row-group pruning forever) instead
      // of dropping the filters.
      val effFilters =
        if (rowLevel.isDefined) Array.empty[Filter]
        else GraftFilterXlate.toPhysical(filters, colMap)
      val partSchema = StructType(
        (if (emitDir) Seq(GraftRowLevel.dirField) else Seq.empty) ++
        (if (emitFile) Seq(GraftRowLevel.fileField) else Seq.empty))
      val base = GraftParquetRead.readerFactory(spark,
        ManifestTable.toPhysical(tableSchema, colMap),
        ManifestTable.toPhysical(requiredSchema, colMap),
        effFilters, partSchema)
      val dirty = plannedPaths.filter(dvByPath.contains)
      if (dirty.isEmpty && !emitPos) base
      else {
        // positions load ONCE on the driver and ship with the factory
        // when they fit the cap; past it, each reader loads ITS file's
        // mask executor-side (unbounded scale, per-task I/O = the dv
        // dirs of one commit dir). Masked (and pos-emitting) partitions
        // read through a second factory whose schema appends the
        // parquet row-index temp column; readers drop masked positions
        // with a pointer walk (positions sorted, row indexes arrive
        // increasing within a file) and either project the temp column
        // away or surface it as `_graft_pos`.
        val conf = spark.sessionState.newHadoopConf()
        val dvDirs = dirty.flatMap(p =>
          ManifestTable.dvEntries(dvByPath(p)).map(_._1)).distinct
          .map(d => new Path(ManifestTable.absPath(tableDir, d)))
        val masksOpt =
          if (dirty.isEmpty) Some(Map.empty[String, Array[Long]])
          else DvStore.tryReadPositions(conf, dvDirs)
        // nullable, like Spark's own ROW_INDEX_FIELD: the reader's
        // missing-column check throws for required absent columns; the
        // row-index generator recognizes the name and fills positions
        val extSchema = StructType(
          ManifestTable.toPhysical(requiredSchema, colMap).fields :+
          StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
            LongType, nullable = true))
        val ext = GraftParquetRead.readerFactory(spark,
          ManifestTable.toPhysical(tableSchema, colMap),
          extSchema, effFilters, partSchema)
        // projection geometry: the ext reader's rows arrive as
        // [data(n), rowIdx, partCols...]; the scan's output order is
        // [data(n), partCols..., pos?]
        val nData = requiredSchema.length
        val outFields = requiredSchema.fields ++ partSchema.fields ++
          (if (emitPos) Seq(GraftRowLevel.posField) else Seq.empty)
        val bound = ((0 until nData) ++
          partSchema.fields.indices.map(nData + 1 + _) ++
          (if (emitPos) Seq(nData) else Seq.empty)).toArray
        // BROADCAST, not a per-task closure field: the Configuration
        // serializes to tens of KB — and only when the driver declined
        // the masks, the one case a reader reads it
        val fallbackConf =
          if (masksOpt.isDefined) None
          else Some(spark.sparkContext.broadcast(
            new SerializableConfiguration(conf)))
        GraftDvReaderFactory(base, ext, masksOpt.getOrElse(Map.empty),
          fallbackConf, nData, bound,
          outFields.map(_.dataType), outFields.map(_.nullable), emitPos)
      }
  }

  /** Streaming read of the SAME table (see [[GraftMicroBatchStream]]).
    * Aggregate/limit pushdown never reach the streaming path (Spark
    * plans them batch-only), so the plain file scan shape is the one
    * that streams. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!streamOptions.keys.exists(_.equalsIgnoreCase("versionAsOf")),
      "versionAsOf is batch time travel; a streaming read tails the " +
        "LIVE table — use startingVersion to choose where the tail begins")
    new GraftMicroBatchStream(tableDir, tableSchema, requiredSchema,
      filters, streamOptions, version)
  }

  /** Post-pruning size, and a row count when every surviving dir has
    * parseable stats — broadcast planning sees what will actually be
    * read, not the whole table. S36: persisted `colstat:` entries (from
    * `CALL system.analyze`) surface as V2 column statistics, the NDV
    * input Spark's CBO needs for join reordering — table-level like
    * every engine's ANALYZE output (not re-scaled for pruning). */
  override def estimateStatistics(): Statistics = agg match {
    case Some((schema, _)) => GraftStatistics(
      OptionalLong.of(schema.defaultSize.toLong), OptionalLong.of(1L))
    case None =>
      // a failed listing reports UNKNOWN, not 0 — a zero-byte estimate
      // would invite broadcasting an arbitrarily large table on a
      // transient object-store error
      val bytes =
        try OptionalLong.of(listFiles(spark).map(_.getLen).sum)
        catch { case _: java.io.IOException => OptionalLong.empty() }
      val rowCounts = plannedPaths.map(p =>
        liveStats.get(p).flatMap(ManifestTable.rowsIn))
      // recorded counts are PHYSICAL; subtract the planned dirs' dv
      // position counts so broadcast planning sees the logical size
      // (exact — standing masks are position-disjoint, see
      // ManifestTable.dvDeletedRows)
      val masked = plannedPaths.flatMap(dvByPath.get)
        .map(pl => ManifestTable.dvEntries(pl).map(_._2).sum).sum
      val rows =
        if (rowCounts.forall(_.isDefined))
          OptionalLong.of(math.max(0L, rowCounts.flatten.sum - masked))
        else OptionalLong.empty()
      val meta = snap.meta
      // flatMap + toLongOption, never a destructuring MatchError or
      // NumberFormatException: a malformed persisted stat (truncated
      // write, foreign writer) must DECLINE the column's stats, not
      // crash every query's planning (r20 review find — the histogram
      // header two lines down was already guarded this way)
      val colStats = meta.toSeq.flatMap {
        case (k, v) if k.startsWith(ManifestTable.ColStatPrefix) &&
            tableSchema.fieldNames.contains(
              k.stripPrefix(ManifestTable.ColStatPrefix)) =>
          val c = k.stripPrefix(ManifestTable.ColStatPrefix)
          val parsed = v.split(",", 2) match {
            case Array(n, nl) => n.toLongOption.zip(nl.toLongOption)
            case _ => None
          }
          parsed.map { case (ndv, nulls) =>
            // S37 — persisted equi-height bins rehydrate as a connector
            // histogram; Spark's transformV2Stats hands it to the CBO
            // (FilterEstimation range selectivity). The value is
            // SELF-CONTAINED ("nonNullRows;ndv;b1,…,b_{k+1}") — height
            // and per-bin NDV derive from the counts recorded AT
            // histogram time, never from later-refreshed stats.
            val hist = meta.get(ManifestTable.ColHistPrefix + c).flatMap { s =>
              s.split(";", 3) match {
                case Array(nn, hNdv, bs) =>
                  val rawBounds = bs.split(",")
                  val bounds = rawBounds.flatMap(_.toDoubleOption)
                  for {
                    nonNull <- nn.toLongOption
                    histNdv <- hNdv.toLongOption
                    // every bound numeric, ≥3 of them — else decline
                    if bounds.length == rawBounds.length &&
                      bounds.length >= 3
                  } yield {
                    val nBins = bounds.length - 1
                    val height = nonNull.toDouble / nBins
                    val binNdv = math.max(1L, math.min(histNdv / nBins,
                      math.ceil(height).toLong))
                    GraftHistogram(height, bounds.sliding(2).map(w =>
                      GraftHistogramBin(w(0), w(1), binNdv)).toArray)
                  }
                case _ => None
              }
            }
            (Expressions.column(c): NamedReference) ->
              (GraftColumnStatistics(ndv, nulls, hist)
                : org.apache.spark.sql.connector.read.colstats.ColumnStatistics)
          }
        case _ => None
      }.toMap
      GraftStatistics(bytes, rows, colStats)
  }

  override def description(): String = {
    val b = boundsFor(filters)
    s"GraftScan $tableDir@v$version prunedBounds=${b.keys.toSeq.sorted.mkString(",")}" +
      agg.map(a => s" PushedAggregates=[${a._1.fieldNames.mkString(", ")}]").getOrElse("") +
      limit.map(n => s" PushedLimit=$n").getOrElse("")
  }
}

case class GraftStatistics(
    sizeInBytes: OptionalLong, numRows: OptionalLong,
    colStats: Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      Map.empty)
    extends Statistics {
  override def columnStats()
      : java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
    scala.jdk.CollectionConverters.MapHasAsJava(colStats).asJava
}

/** S36/S37 — analyzed NDV + null count (+ optional equi-height
  * histogram) for one column. */
case class GraftColumnStatistics(ndv: Long, nulls: Long,
    hist: Option[org.apache.spark.sql.connector.read.colstats.Histogram] = None)
    extends org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
  override def distinctCount(): OptionalLong = OptionalLong.of(ndv)
  override def nullCount(): OptionalLong = OptionalLong.of(nulls)
  override def histogram()
      : java.util.Optional[org.apache.spark.sql.connector.read.colstats.Histogram] =
    hist.map(java.util.Optional.of[
      org.apache.spark.sql.connector.read.colstats.Histogram])
      .getOrElse(java.util.Optional.empty())
}

/** S37 — the rehydrated connector histogram. */
case class GraftHistogram(h: Double,
    binArr: Array[org.apache.spark.sql.connector.read.colstats.HistogramBin])
    extends org.apache.spark.sql.connector.read.colstats.Histogram {
  override def height(): Double = h
  override def bins()
      : Array[org.apache.spark.sql.connector.read.colstats.HistogramBin] = binArr
}

case class GraftHistogramBin(loV: Double, hiV: Double, ndvV: Long)
    extends org.apache.spark.sql.connector.read.colstats.HistogramBin {
  override def lo(): Double = loV
  override def hi(): Double = hiV
  override def ndv(): Long = ndvV
}

/** The one-row partition carrying a metadata-answered aggregate. */
case class GraftAggPartition(row: InternalRow) extends InputPartition

/** S38 — one bucket dir's files as one input partition, keyed by its
  * bucket id: the `HasPartitionKey` half of the storage-partitioned
  * join contract (the reported `bucket(n, key)` value for every row in
  * this partition). Extends [[FilePartition]] so the vectorized
  * parquet reader factory serves it unchanged. */
class GraftBucketPartition(idx: Int,
                           partFiles: Array[PartitionedFile],
                           bucket: Int)
    extends FilePartition(idx, partFiles)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** S41 — one dv'd data FILE as one partition, keyed for mask lookup
  * and carrying its commit dir's dv-dir paths (the executor-side mask
  * source). Whole-file (no byte-range splits): a masked file is the
  * exception, and per-file partitions keep the reader's position walk
  * trivially monotone. */
class GraftDvFilePartition(idx: Int, partFiles: Array[PartitionedFile],
                           val fileKey: String,
                           val dvDirs: Seq[String] = Seq.empty)
    extends FilePartition(idx, partFiles)

/** S41 — the dv-aware reader factory: dv'd partitions read through
  * `ext` (whose schema appends Spark's parquet row-index temp column —
  * the same channel `_metadata.row_index` rides), drop rows whose
  * position the file's mask lists, and project the temp column away
  * (or surface it as `_graft_pos` when the scan asked for positions —
  * the MoR delta-DML row id). Every other partition delegates to the
  * plain factory, except that pos-emitting scans route ALL partitions
  * through `ext`. Masks ship from the driver in `masks` when they fit
  * the cap (`conf` = None, one read for the whole scan); otherwise
  * `conf` carries the broadcast Hadoop conf and each reader loads its
  * own file's positions from its partition's dv dirs through it —
  * per-task I/O bounded by one commit dir's masks, scale bounded by
  * nothing. The conf is broadcast only in that fallback (and always
  * for the streaming read, which never loads masks on the driver).
  *
  * Columnar: supported whenever both parquet factories support it and
  * no positions are being emitted. Clean partitions serve Spark's own
  * `ColumnarBatch`es zero-copy; a masked partition's batches are
  * filtered IN PLACE by a selection-vector wrapper
  * ([[GraftSelectedColumnVector]]) — so one 1-row merge-on-read DELETE
  * no longer demotes a 100-TB table's whole scan to row-based reads
  * until the next compaction. */
case class GraftDvReaderFactory(clean: PartitionReaderFactory,
    ext: PartitionReaderFactory, masks: Map[String, Array[Long]],
    conf: Option[org.apache.spark.broadcast.Broadcast[
      SerializableConfiguration]],
    rowIdxOrd: Int, boundOrds: Array[Int],
    outTypes: Array[DataType], outNullable: Array[Boolean],
    emitPos: Boolean = false)
    extends PartitionReaderFactory {

  private def maskOf(d: GraftDvFilePartition): Array[Long] = conf match {
    case None => masks.getOrElse(d.fileKey, Array.emptyLongArray)
    case Some(c) => DvStore.positionsForFile(c.value.value,
      d.dvDirs.map(new Path(_)), d.fileKey)
  }

  private def filteredRows(inner: PartitionReader[InternalRow],
                           mask: Array[Long]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      // copying projection (UnsafeProjection): the filtered rows
      // leave this reader materialized, so an inner reader reusing
      // its row buffer stays safe
      private val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(
          outTypes.zipWithIndex.map { case (dt, i) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              boundOrds(i), dt, outNullable(i))
          }.toIndexedSeq)
      private var mi = 0
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (mask.isEmpty) { cur = r; return true }
          val idx = r.getLong(rowIdxOrd)
          while (mi < mask.length && mask(mi) < idx) mi += 1
          if (mi >= mask.length || mask(mi) != idx) { cur = r; return true }
        }
        false
      }
      override def get(): InternalRow = proj(cur)
      override def close(): Unit = inner.close()
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case d: GraftDvFilePartition =>
        filteredRows(ext.createReader(d), maskOf(d))
      // pos-emitting scans read every partition through the row-index
      // factory (clean packed partitions too — the walk is a no-op)
      case other if emitPos =>
        filteredRows(ext.createReader(other), Array.emptyLongArray)
      case other => clean.createReader(other)
    }

  /** Columnar whenever the underlying parquet factories are (their
    * answer is conf/schema-based, identical for every partition, so the
    * scan never mixes row and columnar partitions). Position-emitting
    * scans stay columnar too: the vectorized parquet reader fills the
    * row-index temp column natively, and the output projection just
    * reorders vectors — so the S43 delta-DML candidate read (the scan
    * feeding SQL UPDATE/MERGE on a MoR table) keeps vectorization. */
  override def supportColumnarReads(p: InputPartition): Boolean =
    clean.supportColumnarReads(p) && ext.supportColumnarReads(p)

  /** Reorder (and under a mask, selection-filter) one batch into the
    * scan's output geometry. `sel == null` = keep every row. */
  private def projectBatch(b: org.apache.spark.sql.vectorized.ColumnarBatch,
                           sel: Array[Int], n: Int)
      : org.apache.spark.sql.vectorized.ColumnarBatch = {
    import org.apache.spark.sql.vectorized.ColumnVector
    val outCols: Array[ColumnVector] = boundOrds.map { o =>
      val src = b.column(o)
      if (sel == null) src
      else new GraftSelectedColumnVector(src, sel): ColumnVector
    }
    new org.apache.spark.sql.vectorized.ColumnarBatch(outCols, n)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case d: GraftDvFilePartition =>
        import org.apache.spark.sql.vectorized.ColumnarBatch
        val inner = ext.createColumnarReader(d)
        val mask = maskOf(d)
        new PartitionReader[ColumnarBatch] {
          private var mi = 0
          private var cur: ColumnarBatch = _
          override def next(): Boolean = {
            while (inner.next()) {
              val b = inner.get()
              val n = b.numRows()
              val idxCol = b.column(rowIdxOrd)
              // selection vector: surviving ordinals of this batch
              // (one pointer walk — positions sorted, indexes increasing)
              val sel = new Array[Int](n)
              var k = 0
              var r = 0
              while (r < n) {
                val idx = idxCol.getLong(r)
                while (mi < mask.length && mask(mi) < idx) mi += 1
                if (mi >= mask.length || mask(mi) != idx) { sel(k) = r; k += 1 }
                r += 1
              }
              cur = projectBatch(b, if (k == n) null else sel, k)
              return true
            }
            false
          }
          override def get(): ColumnarBatch = cur
          override def close(): Unit = inner.close()
        }
      // pos-emitting scans read every partition through the row-index
      // factory columnar-side too (mirror of the row path above)
      case other if emitPos =>
        import org.apache.spark.sql.vectorized.ColumnarBatch
        val inner = ext.createColumnarReader(other)
        new PartitionReader[ColumnarBatch] {
          private var cur: ColumnarBatch = _
          override def next(): Boolean = inner.next() && {
            val b = inner.get()
            cur = projectBatch(b, null, b.numRows())
            true
          }
          override def get(): ColumnarBatch = cur
          override def close(): Unit = inner.close()
        }
      case other => clean.createColumnarReader(other)
    }
}

/** A read-only selection-vector view over a `ColumnVector`: row `i` of
  * this vector is row `sel(i)` of `base`. Filtering a masked file's
  * `ColumnarBatch` this way keeps the scan columnar (no per-row
  * materialization; downstream whole-stage codegen reads through the
  * indirection) — OSS Spark's `ColumnarBatch` carries no native
  * selection vector, so the remap lives in the vector view, the same
  * move engines with deletion-vector-aware vectorized readers make.
  * Struct children remap through [[getChild]]; array/map getters
  * delegate with the remapped ordinal and return base-coordinate
  * views, which are self-contained. Lifecycle belongs to the inner
  * reader's batch — [[close]] is a no-op so per-batch wrappers can
  * never double-free the reused backing vectors. */
private[sources] class GraftSelectedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls(): Int = base.numNulls() // upper bound: hint only
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getChild(ordinal: Int)
      : org.apache.spark.sql.vectorized.ColumnVector =
    new GraftSelectedColumnVector(base.getChild(ordinal), sel)
}

/** S44 — point-predicate extraction for bloom pruning: top-level
  * EqualTo/In conjuncts on columns whose cast-to-string rendering a
  * probe can reproduce EXACTLY from the pushed literal (string +
  * integral types). Conjunct semantics: each extracted (col, points)
  * pair must independently admit a dir, so no cross-conjunct merging.
  * Null points drop — a row can only match `=`/`IN` through a non-null
  * value, so "every non-null point absent" still proves the dir
  * matchless. Pruning-only: anything unextractable is simply
  * ignored. */
private[sources] object GraftFilterPoints {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}
  import org.apache.spark.sql.types._

  private def render(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case b: Byte => Some(b.toString)
    case s: Short => Some(s.toString)
    case i: Int => Some(i.toString)
    case l: Long => Some(l.toString)
    case _ => None
  }

  def of(filters: Array[Filter],
         schema: StructType): Seq[(String, Set[String])] = {
    def typed(c: String): Boolean = schema.fields.find(_.name == c)
      .exists(_.dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    filters.toSeq.flatMap {
      case EqualTo(c, v) if typed(c) =>
        render(v).map(r => c -> Set(r))
      case In(c, vs) if typed(c) && vs.nonEmpty =>
        val rs = vs.filter(_ != null).flatMap(render(_))
        // every non-null literal must render, or the point set would
        // UNDERSTATE the match surface and prune a matching dir
        if (rs.length == vs.count(_ != null) && rs.nonEmpty)
          Some(c -> rs.toSet)
        else None
      case _ => None
    }
  }
}

/** S42 — V1 `Filter` trees re-keyed logical→physical so parquet
  * row-group pruning keeps working after RENAME COLUMN (data files
  * store PHYSICAL names; the pushed filters reference logical ones).
  * Strictly safe by construction: translation is pruning-only (Spark
  * re-applies every predicate above the scan), and any subtree with an
  * untranslatable node drops its WHOLE top-level conjunct — never a
  * weakened child under a `Not`, whose negation would prune wrongly. */
private[sources] object GraftFilterXlate {
  import org.apache.spark.sql.sources._

  def toPhysical(filters: Array[Filter],
                 cmap: Map[String, String]): Array[Filter] =
    if (cmap.isEmpty) filters else filters.flatMap(xlate(_, cmap))

  /** One attribute reference: top-level rename applies to the leading
    * path segment of a nested reference too (struct fields keep their
    * inner names — only the column itself can be renamed). */
  private def ref(n: String, cmap: Map[String, String]): String =
    cmap.get(n).getOrElse {
      val i = n.indexOf('.')
      if (i > 0 && cmap.contains(n.take(i))) cmap(n.take(i)) + n.drop(i)
      else n
    }

  private def xlate(f: Filter, cmap: Map[String, String]): Option[Filter] =
    f match {
      case EqualTo(a, v) => Some(EqualTo(ref(a, cmap), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(ref(a, cmap), v))
      case GreaterThan(a, v) => Some(GreaterThan(ref(a, cmap), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(ref(a, cmap), v))
      case LessThan(a, v) => Some(LessThan(ref(a, cmap), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(ref(a, cmap), v))
      case In(a, vs) => Some(In(ref(a, cmap), vs))
      case IsNull(a) => Some(IsNull(ref(a, cmap)))
      case IsNotNull(a) => Some(IsNotNull(ref(a, cmap)))
      case StringStartsWith(a, v) => Some(StringStartsWith(ref(a, cmap), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(ref(a, cmap), v))
      case StringContains(a, v) => Some(StringContains(ref(a, cmap), v))
      case And(l, r) =>
        for { a <- xlate(l, cmap); b <- xlate(r, cmap) } yield And(a, b)
      case Or(l, r) =>
        for { a <- xlate(l, cmap); b <- xlate(r, cmap) } yield Or(a, b)
      case Not(c) => xlate(c, cmap).map(Not)
      case AlwaysTrue() | AlwaysFalse() => Some(f)
      case _ => None // unknown shape: drop the conjunct (pruning-only)
    }
}

/** The parquet read kernel shared by the batch scan and the streaming
  * source: dir listing → split → `FilePartition` packing, and the
  * vectorized reader factory (mirroring `ParquetScan.createReaderFactory`'s
  * hadoopConf contract — the factory reads these keys executor-side). */
private[sources] object GraftParquetRead {

  def listFiles(s: SparkSession, tableDir: String,
                relPaths: Seq[String]): Seq[FileStatus] =
    listFilesWithDir(s, tableDir, relPaths).map(_._2)

  /** Per-file listing that remembers which commit dir each file came
    * from — the `_graft_dir` metadata-column source (rides each
    * `PartitionedFile`'s partitionValues, the same constant-per-file
    * channel Spark's own file sources use for partition columns). */
  def listFilesWithDir(s: SparkSession, tableDir: String,
                       relPaths: Seq[String]): Seq[(String, FileStatus)] = {
    val fs = new Path(tableDir).getFileSystem(s.sessionState.newHadoopConf())
    relPaths.flatMap { p =>
      fs.listStatus(new Path(tableDir, p)).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(p -> _)
    }
  }

  def packPartitions(s: SparkSession,
                     files: Seq[FileStatus]): Array[InputPartition] =
    packPartitionsWithValues(s, files.map(f => (InternalRow.empty, f)))

  def packPartitionsWithValues(s: SparkSession,
      files: Seq[(InternalRow, FileStatus)]): Array[InputPartition] = {
    val conf = s.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPart = conf.filesMinPartitionNum
      .getOrElse(s.sparkContext.defaultParallelism)
    val bytesPerCore =
      (files.map(_._2.getLen + openCost).sum) / math.max(1, minPart)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val split = files.flatMap { case (pv, st) =>
      (0L until st.getLen by maxSplit).map { off =>
        PartitionedFile(pv,
          org.apache.spark.paths.SparkPath.fromPath(st.getPath),
          off, math.min(maxSplit, st.getLen - off), Array.empty,
          st.getModificationTime, st.getLen, Map.empty)
      }
    }
    FilePartition.getFilePartitions(s,
      split.sortBy(-_.length), maxSplit).toArray
  }

  /** Whole-file `PartitionedFile`s (no byte-range splitting) — the S38
    * bucket-aligned planning shape, where one partition must hold
    * exactly one bucket dir's files. */
  def toPartitionedFiles(files: Seq[FileStatus]): Array[PartitionedFile] =
    files.map { st =>
      PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty,
        st.getModificationTime, st.getLen, Map.empty)
    }.toArray

  def readerFactory(s: SparkSession, tableSchema: StructType,
                    requiredSchema: StructType,
                    filters: Array[Filter],
                    partitionSchema: StructType = new StructType())
      : PartitionReaderFactory = {
    val sqlConf = s.sessionState.conf
    val hadoopConf: Configuration = s.sessionState.newHadoopConf()
    val readJson = requiredSchema.json
    hadoopConf.set(
      org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readJson)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readJson)
    hadoopConf.set(org.apache.spark.sql.internal.SQLConf.SESSION_LOCAL_TIMEZONE.key,
      sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.CASE_SENSITIVE.key,
      sqlConf.caseSensitiveAnalysis)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    val broadcasted = s.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf))
    // filters ride along for parquet row-group pruning only — the
    // same predicates are re-applied above the scan (residual)
    ParquetPartitionReaderFactory(sqlConf, broadcasted, tableSchema,
      requiredSchema, partitionSchema, filters, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }
}

/** Offset = the last fully processed manifest VERSION. Version 0 means
  * "nothing yet" — the first batch then emits the entire table as of
  * the first observed head (snapshot + tail, the Delta streaming-source
  * default). */
case class GraftStreamOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** X13 — `spark.readStream.format("graft").load(dir)`: the manifest
  * table as a Structured Streaming SOURCE. Each micro-batch is the set
  * of commit dirs ADDED between two manifest versions — exactly the
  * unit [[ManifestTable.append]] and the X8 `appendSink` produce, so
  * the lakehouse table written by one stream is tailed by the next
  * (the Delta streaming-source shape). Exactly-once: offsets are
  * manifest versions in the query checkpoint; a re-planned batch
  * re-reads the same immutable dirs.
  *
  * Contract and failure modes, deliberately explicit:
  *  - append-only by default: a version step that REMOVED dirs
  *    (overwrite / compaction / merge rewrite) fails the stream with
  *    the offending paths unless `ignoreChanges=true` — mirroring
  *    Delta, which also re-emits rewritten rows under that flag (a
  *    compacted dir's rows ARE re-emitted: they are "added" dirs).
  *  - `ignoreDeletes=true` (the weaker flag, also mirroring Delta):
  *    tolerate MASK-ONLY version steps (merge-on-read DELETE/UPDATE
  *    advancing deletion vectors on ALREADY-STREAMED dirs, no dir
  *    removed) while still failing on removed dirs — for consumers
  *    that can miss logical deletes but must never absorb a
  *    compaction's re-emission. Masks standing on dirs a batch is
  *    about to read apply AT READ (r20): a fresh stream on a masked
  *    merge-on-read table starts cleanly and its initial snapshot
  *    serves the MASKED state, exactly like a batch read — the guard
  *    covers dirs standing when the stream's offset window opened
  *    (with `startingVersion` that includes the pre-start base set,
  *    whose rows this stream never emitted: a mask-only commit
  *    touching them still refuses without ignoreDeletes — the
  *    conservative reading, matching pre-r20 behavior).
  *  - `startingVersion` option: begin from that version's additions
  *    instead of the full current snapshot.
  *  - a restart whose checkpointed offset version is no longer
  *    RETAINED fails loudly naming the retention knobs — the diff
  *    needs the old manifest; size `retainGenerations`/`minRetainMs`
  *    to the longest restart gap (same sizing rule as readers).
  *
  * Scale: each batch lists only the ADDED dirs (no full-table listing),
  * so steady-state tailing is O(new data) regardless of table size. */
class GraftMicroBatchStream(tableDir: String, tableSchema: StructType,
                            requiredSchema: StructType,
                            filters: Array[Filter],
                            options: Map[String, String],
                            schemaVersion: Long = 0L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(tableDir)
    .getFileSystem(spark.sessionState.newHadoopConf())
  private def opt(k: String): Option[String] =
    options.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
  private val ignoreChanges = opt("ignoreChanges").exists(_.toBoolean)
  /** Delta's weaker sibling of `ignoreChanges`: tolerate version steps
    * that only DELETE (here: advance deletion vectors — mask-only
    * commits, no dir removed) without also accepting re-emitted
    * rewrites. The two have different blast radii — a consumer that
    * can live with missed deletes may still need to fail on a
    * compaction re-emitting a billion rows. Implied by ignoreChanges. */
  private val ignoreDeletes =
    ignoreChanges || opt("ignoreDeletes").exists(_.toBoolean)

  /** `startingVersion = V` serves changes from version V onward, which
    * the snapshot-diff model computes against V's PREDECESSOR manifest
    * — validated HERE, at query start, with the actual remedy named:
    * the late `pathsAt` failure used to blame retention sizing when
    * the user pointed at the retention edge itself (startingVersion =
    * oldest retained needs v(oldest-1), which is gone by definition —
    * r19 review find). */
  override def initialOffset(): Offset = {
    val v0 = opt("startingVersion").map(_.toLong - 1).getOrElse(0L)
    if (v0 > 0L) {
      val vs = ManifestTable.versions(fs, tableDir)
      require(vs.contains(v0),
        s"startingVersion ${v0 + 1} needs its predecessor manifest " +
          s"v$v0 to diff against, and v$v0 is not retained at $tableDir" +
          s" (oldest retained: ${vs.headOption.getOrElse(-1L)}). Use " +
          s"startingVersion >= ${vs.headOption.map(_ + 1).getOrElse(1L)}" +
          ", or omit the option to stream the full current snapshot " +
          "plus the tail")
    }
    GraftStreamOffset(v0)
  }

  override def latestOffset(): Offset =
    GraftStreamOffset(ManifestTable.headVersion(spark, tableDir).getOrElse(0L))

  // ---- admission control (X13, SupportsAdmissionControl): a
  // re-pointed or long-stopped consumer must NOT get the whole backlog
  // (worst case: the full table snapshot) as one micro-batch.
  // `maxFilesPerTrigger` / `maxBytesPerTrigger` bound each batch; the
  // batch endpoint is still a manifest VERSION (admission only chooses
  // a nearer one), so offsets, replay and exactly-once are unchanged.
  // Granularity is whole versions with at-least-one-version progress —
  // a single oversized commit still flows (the FileStreamSource/Delta
  // contract: limits are soft at the atomic-unit boundary).

  override def getDefaultReadLimit: ReadLimit = {
    val lims = Seq(
      opt("maxFilesPerTrigger").map(n => ReadLimit.maxFiles(n.toInt)),
      opt("maxBytesPerTrigger").map(n => ReadLimit.maxBytes(n.toLong))
    ).flatten
    lims match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  /** Trigger.AvailableNow (SupportsTriggerAvailableNow): pin the head
    * at query start; the engine loops bounded batches up to it instead
    * of falling back to one unbounded batch. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = ManifestTable.headVersion(spark, tableDir)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftStreamOffset].version
    val head0 = ManifestTable.headVersion(spark, tableDir).getOrElse(0L)
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    if (head <= s) return GraftStreamOffset(s)
    def bounds(l: ReadLimit): (Long, Long) = l match {
      case f: ReadMaxFiles => (f.maxFiles().toLong, Long.MaxValue)
      case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes())
      case c: CompositeReadLimit =>
        c.getReadLimits.map(bounds).reduce((a, b) =>
          (math.min(a._1, b._1), math.min(a._2, b._2)))
      case _: ReadAllAvailable => (Long.MaxValue, Long.MaxValue)
      case _ => (Long.MaxValue, Long.MaxValue) // rows-based: N/A here
    }
    val (maxFiles, maxBytes) = bounds(limit)
    if (maxFiles == Long.MaxValue && maxBytes == Long.MaxValue)
      return GraftStreamOffset(head)
    val base = pathsAt(s).toSet
    var admitted = base
    var files = 0L
    var bytes = 0L
    var chosen = s
    // walk the RETAINED versions above the start (and at or below the
    // AvailableNow cap); each step admits one whole version's
    // newly-added dirs (one listing per new dir)
    ManifestTable.versions(fs, tableDir)
      .filter(v => v > s && v <= head).foreach { v =>
      val newDirs = ManifestTable.pathsOf(fs, tableDir, v)
        .filterNot(admitted)
      val sts = GraftParquetRead.listFiles(spark, tableDir, newDirs)
      val (nf, nb) = (sts.size.toLong, sts.map(_.getLen).sum)
      // stop BEFORE exceeding, but always admit at least one version
      if (chosen != s && (files + nf > maxFiles || bytes + nb > maxBytes))
        return GraftStreamOffset(chosen)
      files += nf; bytes += nb
      admitted ++= newDirs
      chosen = v
      if (files >= maxFiles || bytes >= maxBytes)
        return GraftStreamOffset(chosen)
    }
    GraftStreamOffset(chosen)
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.toLong)

  private def pathsAt(v: Long): Seq[String] =
    if (v <= 0L) Seq.empty
    else {
      require(ManifestTable.versions(fs, tableDir).contains(v),
        s"stream offset version $v is no longer retained at $tableDir — " +
          "size retainGenerations/minRetainMs to cover the longest " +
          "restart gap, or restart the query from a fresh checkpoint")
      ManifestTable.pathsOf(fs, tableDir, v)
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].version
    val e = end.asInstanceOf[GraftStreamOffset].version
    if (e <= s) return Array.empty
    val startPaths = pathsAt(s).toSet
    val endPaths = pathsAt(e)
    val removed = startPaths -- endPaths
    if (removed.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"graft stream at $tableDir: versions $s -> $e removed data dirs " +
          s"${removed.toSeq.sorted.take(5).mkString(", ")} — the source " +
          "streams APPENDS; overwrite/compaction/merge require " +
          "option ignoreChanges=true (rewritten rows are re-emitted)")
    // a merge-on-read DELETE changes no path, only the deletion-vector
    // state. The guard applies ONLY to dirs this stream already
    // emitted (present at s and still present at e): a mask advancing
    // there is a logical delete of rows already delivered — refusable
    // (Delta fails DV commits the same way), ignoreDeletes tolerates
    // it without also accepting re-emitted rewrites. Masks on the
    // dirs this batch is ABOUT to read — the whole table on the
    // initial snapshot (s=0), an appended-then-masked dir later —
    // apply at read time below, so a fresh stream on a masked table
    // serves its masked state exactly like every batch read (r20
    // review find: the old whole-map comparison made such streams
    // unstartable, and the escape hatch resurrected deleted rows).
    def dvAt(v: Long): Map[String, String] =
      if (v <= 0L) Map.empty else ManifestTable.dvOf(fs, tableDir, v)
    val dvE = dvAt(e)
    if (s > 0L) {
      val dvS = dvAt(s)
      val emitted = startPaths.intersect(endPaths.toSet)
      if (emitted.exists(p => dvS.get(p) != dvE.get(p)) && !ignoreDeletes)
        throw new IllegalStateException(
          s"graft stream at $tableDir: versions $s -> $e changed " +
            "deletion vectors on already-streamed dirs (merge-on-read " +
            "DELETE/UPDATE) — the source streams APPENDS; use the " +
            "change feed (readChangeFeed) for row-level deletes, " +
            "option ignoreDeletes=true to skip mask-only commits, or " +
            "ignoreChanges=true to also accept rewrites")
    }
    val added = endPaths.filterNot(startPaths).sorted
    lastPlannedEnd = e
    // masked dirs plan one dv partition per FILE (executor-side mask
    // load from the partition's own dv dirs — no driver state to ship
    // per batch); clean dirs pack normally, zero overhead
    val (dirty, clean) = GraftParquetRead
      .listFilesWithDir(spark, tableDir, added)
      .partition { case (rel, _) => dvE.contains(rel) }
    val cleanParts = GraftParquetRead.packPartitions(spark, clean.map(_._2))
    val dirtyParts = dirty.zipWithIndex.map { case ((rel, st), i) =>
      new GraftDvFilePartition(cleanParts.length + i,
        Array(org.apache.spark.sql.execution.datasources.PartitionedFile(
          InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPath(st.getPath),
          0L, st.getLen, Array.empty,
          st.getModificationTime, st.getLen, Map.empty)),
        DvStore.keyOf(st.getPath),
        ManifestTable.dvEntries(dvE(rel)).map(en =>
          ManifestTable.absPath(tableDir, en._1))): InputPartition
    }
    cleanParts ++ dirtyParts
  }

  /** The end version of the most recently planned batch — set by
    * [[planInputPartitions]] before the engine asks for the factory
    * (both driver-side, in order), so schema evolution is validated
    * against the version whose files the batch actually reads. */
  @volatile private var lastPlannedEnd: Long = 0L

  /** Physical names under a column mapping: the map captured ONCE at
    * the stream's own pinned version, at construction — physical
    * parquet names are frozen at column creation, so that resolution
    * stays correct for every dir this stream will ever read, including
    * dirs committed after later renames. (Resolving through the LIVE
    * head instead would silently null a column renamed twice
    * mid-stream.) Captured eagerly because the pinned version's
    * manifest may be GC'd out of retention while the stream runs — a
    * per-batch read would then kill a long-running query whose table
    * was never even renamed. If the manifest is ALREADY gone at
    * construction (restart straight onto an aged checkpoint), fall
    * back to the head's map — head resolution is correct for every
    * field that is still a current logical name, and the per-batch
    * validation below still fails loudly on any field that is not. */
  private val cmap0: Map[String, String] =
    if (schemaVersion <= 0L) Map.empty
    else try ManifestTable.colMapOf(fs, tableDir, schemaVersion)
    catch {
      case _: java.io.IOException =>
        ManifestTable.headVersion(spark, tableDir)
          .map(ManifestTable.colMapOf(fs, tableDir, _)).getOrElse(Map.empty)
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val cmap = cmap0
    // fail LOUDLY when the batch-end version no longer serves a
    // stream-schema field's physical name (dropped, or the table was
    // replaced) — a silent all-null column is the one unacceptable
    // outcome
    val checkV = if (lastPlannedEnd > 0L) Some(lastPlannedEnd)
                 else ManifestTable.headVersion(spark, tableDir)
    for {
      v <- checkV
      decl <- ManifestTable.declaredSchemaOf(spark, tableDir, v)
    } {
      val valid = ManifestTable.toPhysical(decl,
        ManifestTable.colMapOf(fs, tableDir, v)).fieldNames.toSet
      // validate only what this query READS (projected fields plus
      // pushed-filter references) — a DROP COLUMN of a field the
      // stream never selects must not kill a long-running query whose
      // output is unaffected
      val read = requiredSchema.fieldNames.toSet ++
        filters.flatMap(_.references)
      val gone = tableSchema.fieldNames.filter(read)
        .filterNot(n => valid.contains(cmap.getOrElse(n, n)))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"graft stream at $tableDir: column(s) ${gone.mkString(", ")} " +
            s"read by the stream no longer resolve at version $v " +
            "(dropped or renamed since the stream started) — restart " +
            "the query to pick up the evolved schema")
    }
    val base = GraftParquetRead.readerFactory(spark,
      ManifestTable.toPhysical(tableSchema, cmap),
      ManifestTable.toPhysical(requiredSchema, cmap),
      GraftFilterXlate.toPhysical(filters, cmap))
    // dv-aware wrapper for the masked-file partitions the batch
    // planner may emit (initial snapshot of a merge-on-read table,
    // an appended-then-masked dir): same reader pair as the batch
    // scan, masks loaded executor-side per file from the partition's
    // own dv dirs. Clean packed partitions pass straight to `base`.
    val extSchema = StructType(
      ManifestTable.toPhysical(requiredSchema, cmap).fields :+
      StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType, nullable = true))
    val ext = GraftParquetRead.readerFactory(spark,
      ManifestTable.toPhysical(tableSchema, cmap), extSchema,
      GraftFilterXlate.toPhysical(filters, cmap))
    val nData = requiredSchema.length
    GraftDvReaderFactory(base, ext, Map.empty,
      Some(spark.sparkContext.broadcast(new SerializableConfiguration(
        spark.sessionState.newHadoopConf()))),
      rowIdxOrd = nData, boundOrds = (0 until nData).toArray,
      outTypes = requiredSchema.fields.map(_.dataType),
      outNullable = requiredSchema.fields.map(_.nullable))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var consumed = false
      override def next(): Boolean = !consumed && { consumed = true; true }
      override def get(): InternalRow = partition.asInstanceOf[GraftAggPartition].row
      override def close(): Unit = ()
    }
}

/** Answering a pushed `Aggregation` from `#stats` manifest headers.
  * Conditions for pushing (else decline and scan normally):
  * no GROUP BY, no pushed filters, every aggregate is COUNT(*) /
  * COUNT(col) / MIN(col) / MAX(col) on a top-level column of a
  * stats-supported type, and EVERY live path of the pinned version
  * carries parseable stats for the referenced columns (stats are
  * conservative metadata — one stats-less dir means the manifest
  * cannot answer). Under standing deletion vectors only COUNT(*)
  * remains answerable (recorded physical counts minus the per-dir
  * mask position counts — see the invariant note in [[answer]]);
  * per-column aggregates decline because a mask can hide an extreme
  * or a null. */
object GraftStatsAgg {

  /** None = cannot answer; Some((schema, row)) = the complete result. */
  def answer(spark: SparkSession, tableDir: String, version: Long,
             tableSchema: StructType, aggregation: Aggregation,
             pushedFilters: Array[Filter]): Option[(StructType, InternalRow)] = {
    if (aggregation.groupByExpressions.nonEmpty || pushedFilters.nonEmpty)
      return None
    val fs = new Path(tableDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val paths = ManifestTable.pathsOf(fs, tableDir, version)
    val stats = ManifestTable.statsOf(fs, tableDir, version)
    if (paths.isEmpty || !paths.forall(stats.contains)) return None
    // Deletion vectors make every recorded PER-COLUMN stat a PHYSICAL
    // value — a mask can hide any share of a column's nulls, so
    // COUNT(col) declines under masks and falls back to the scan.
    // COUNT(*) stays answerable: standing dv entries of one dir are
    // pairwise position-DISJOINT (writers compute masks against the
    // base version's logical rows and publishMorDelta aborts if the
    // dir's dv advanced since base — see [[ManifestTable.dvDeletedRows]]),
    // so logical rows = Σ recorded rowcounts − Σ mask position counts,
    // both manifest state. MIN/MAX stay answerable when PROVABLE: a
    // mask only removes rows, so a recorded extreme attained by an
    // UNMASKED dir is still the exact logical extreme; only when every
    // attaining dir is masked (the extreme row itself may be deleted)
    // does the pushdown decline. A MoR table keeps its cheapest queries.
    val dvMap = ManifestTable.dvOf(fs, tableDir, version)
    val masked = ManifestTable.dvDeletedRows(dvMap)
    val dirMasked = paths.map(dvMap.contains)
    val payloads = paths.map(stats)
    val rowCounts = payloads.map(ManifestTable.rowsIn)
    if (rowCounts.exists(_.isEmpty)) return None
    val total = rowCounts.flatten.sum - masked
    // the zone the stats strings were WRITTEN in (pinned by the first
    // ts-stats writer), not this session's — parsing in the wrong zone
    // returns extremes shifted by the zone difference
    val zone = ManifestTable.statsZoneOf(spark, fs, tableDir, version)

    def columnOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        tableSchema.fields.find(_.name == nr.fieldNames()(0))
      case _ => None
    }

    // (value, fieldType) per agg func, in order; None = can't answer
    val fields = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((java.lang.Long.valueOf(total): Any,
          StructField("COUNT(*)", LongType, nullable = false)))
      case m: Min => columnOf(m.column).flatMap { f =>
        extremeOf(payloads, dirMasked, f, zone, isMin = true)
          .map(v => (v, StructField(s"MIN(${f.name})", f.dataType)))
      }
      case m: Max => columnOf(m.column).flatMap { f =>
        extremeOf(payloads, dirMasked, f, zone, isMin = false)
          .map(v => (v, StructField(s"MAX(${f.name})", f.dataType)))
      }
      // COUNT(col) = Σ per-dir (rows − recorded nulls) — answerable
      // only when EVERY dir carries the `#nulls` lane for the column
      // (older payloads predate it) and no masks stand
      case c: Count if !c.isDistinct && masked == 0L =>
        columnOf(c.column).flatMap { f =>
          val perDir = payloads.map(p => for {
            rows <- ManifestTable.rowsIn(p)
            nulls <- ManifestTable.nullsFor(p, f.name)
          } yield rows - nulls)
          if (perDir.exists(_.isEmpty)) None
          else Some((java.lang.Long.valueOf(perDir.flatten.sum): Any,
            StructField(s"COUNT(${f.name})", LongType, nullable = false)))
        }
      case _ => None // SUM/AVG/COUNT(DISTINCT)/... : stats can't answer
    }
    if (fields.exists(_.isEmpty)) return None
    val resolved = fields.flatten
    Some((StructType(resolved.map(_._2)),
      new GenericInternalRow(resolved.map(_._1).toArray)))
  }

  /** The min/max across every dir's recorded extreme for `f`, as the
    * INTERNAL value Spark's row format wants. All-null dirs contribute
    * nothing; every dir all-null → Some(null) (the SQL answer — exact
    * even under masks: removing rows from all-null dirs leaves nulls).
    * A payload missing the column, or an unsupported/unparseable
    * value → None (decline the pushdown). Under deletion vectors the
    * recorded extremes are PHYSICAL: a masked dir's extreme row may be
    * deleted, so the answer is served only when an UNMASKED dir
    * attains the global extreme (masks only remove rows — a value an
    * unmasked dir holds is present, and nothing anywhere beats it);
    * otherwise None. */
  private def extremeOf(payloads: Seq[String], dirMasked: Seq[Boolean],
                        f: StructField, zone: java.time.ZoneId,
                        isMin: Boolean): Option[Any] = {
    if (!supported(f.dataType)) return None
    val perDir = payloads.map(ManifestTable.statsFor(_, f.name))
    if (perDir.exists(_.isEmpty)) return None // column untracked in a dir
    val entries = perDir.zip(dirMasked).flatMap { case (t, mk) =>
      t.flatMap(x => (if (isMin) x._2 else x._3).map(s => (s, mk)))
    }
    val parsed = entries.map { case (s, mk) =>
      (internalValue(f.dataType, s, zone), mk) }
    if (parsed.exists(_._1.isEmpty)) return None
    val vs = parsed.collect { case (Some(v), mk) => (v, mk) }
    if (vs.isEmpty) return Some(null) // no non-null values anywhere
    val m = vs.map(_._1).reduce((a, b) =>
      if ((compareInternal(f.dataType, a, b) <= 0) == isMin) a else b)
    if (vs.exists { case (v, mk) =>
        !mk && compareInternal(f.dataType, v, m) == 0 }) Some(m)
    else None
  }

  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType | DateType | TimestampType |
         TimestampNTZType | StringType => true
    case _ => false
  }

  /** Parse a stats string (Spark cast-to-string rendering) back to the
    * internal representation for `dt`. Timestamps parse in the session
    * zone — the zone the stats writer rendered in. */
  private[sources] def internalValue(dt: DataType, s: String,
                                     zone: java.time.ZoneId): Option[Any] = try {
    dt match {
      case ByteType => Some(java.lang.Byte.valueOf(s))
      case ShortType => Some(java.lang.Short.valueOf(s))
      case IntegerType => Some(java.lang.Integer.valueOf(s))
      case LongType => Some(java.lang.Long.valueOf(s))
      case FloatType => Some(java.lang.Float.valueOf(s))  // Infinity/NaN parse
      case DoubleType => Some(java.lang.Double.valueOf(s))
      case d: DecimalType =>
        Some(org.apache.spark.sql.types.Decimal(
          BigDecimal(new java.math.BigDecimal(s)), d.precision, d.scale))
      case DateType =>
        Some(java.lang.Integer.valueOf(
          java.time.LocalDate.parse(s).toEpochDay.toInt))
      case TimestampType =>
        // DST-ambiguous local times (fall-back overlaps) have no unique
        // instant — only fixed-offset zones reconstruct exactly; others
        // decline, and the query falls back to a correct ordinary scan
        if (!zone.getRules.isFixedOffset) None
        else {
          val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          val ins = ldt.atZone(zone).toInstant
          Some(java.lang.Long.valueOf(ins.getEpochSecond * 1000000L + ins.getNano / 1000L))
        }
      case TimestampNTZType =>
        val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        Some(java.lang.Long.valueOf(
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L))
      case StringType =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case _ => None
    }
  } catch { case _: RuntimeException => None }

  /** Compare two internal values in Spark's OWN ordering for the type
    * (Double/Float NaN greatest, strings in UTF8 binary order — NOT
    * java.lang.String order, which diverges beyond the BMP). */
  private def compareInternal(dt: DataType, a: Any, b: Any): Int = dt match {
    case FloatType => java.lang.Float.compare(
      a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType => java.lang.Double.compare(
      a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _: DecimalType => a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
    case StringType => a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    case _ => // Byte/Short/Int/Long/Date(Int days)/Timestamp(Long micros)
      java.lang.Long.compare(
        a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
  }
}

/** V1 `Filter` → `Column` translation for [[GraftTable.deleteWhere]] —
  * EXACT SQL semantics, unlike the pruning envelope
  * ([[ManifestSupport.boundsOf]] widens; this predicate decides
  * which rows live, so nothing may widen). None = a filter shape the
  * delete refuses, surfaced by `canDeleteWhere` before Spark commits
  * to the operation. */
private[sources] object GraftDeleteSupport {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def columnOf(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- columnOf(l); rc <- columnOf(r) } yield lc && rc
    case Or(l, r) => for { lc <- columnOf(l); rc <- columnOf(r) } yield lc || rc
    case Not(c) => columnOf(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
