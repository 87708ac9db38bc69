package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S23 — `TableCatalog` plugin for manifest tables: the catalog surface
  * of the V2 source, registered as
  *
  * {{{
  * spark.sql.catalog.<name>           = graft.sources.GraftCatalog
  * spark.sql.catalog.<name>.warehouse = <dir>
  * }}}
  *
  * after which the whole multi-part-identifier SQL surface works
  * against manifest tables with no `.format(...).load(path)` plumbing:
  * `CREATE/DROP/ALTER TABLE <name>.ns.t`, CTAS, `INSERT INTO/OVERWRITE`,
  * `SELECT ... VERSION AS OF n / TIMESTAMP AS OF ts`, `SHOW TABLES`,
  * `SHOW TBLPROPERTIES`, `df.writeTo(...)`, `spark.read.table(...)`,
  * and `spark.readStream.table(...)` (the X13 source). This is the
  * catalog-integration surface the V1 API structurally could not offer
  * (reference capability TEST:41's named-table access; cf. Delta's
  * `DeltaCatalog` / Iceberg's `SparkCatalog` — same plugin seam, public
  * `CatalogPlugin` API).
  *
  * Layout: an identifier maps to a directory —
  * `warehouse/ns.../name` — a namespace IS a directory, a table IS a
  * directory with at least one committed manifest. There is no separate
  * metastore database: the manifest (schema header + `#meta` channel)
  * is the table metadata, so the catalog stays consistent with path
  * access by construction (the same table read via
  * `spark.read.format("graft").load(dir)` and via `cat.ns.t` resolves
  * the same manifest — no dual-write to keep in sync, the failure mode
  * external-metastore lakehouses spend machinery on).
  *
  * Table properties (`TBLPROPERTIES`, `OPTIONS`) persist in the `#meta`
  * channel under a `prop:` prefix, so `statsCols` / `retainGenerations`
  * / `clusterBy` declared at CREATE govern every subsequent writer
  * without per-writer options. `clusterBy` is special-cased onto the
  * engine's declared-cluster-spec key so `ALTER TABLE ... SET
  * TBLPROPERTIES ('clusterBy'='a,b')` IS the liquid-clustering spec
  * change ([[ManifestTable.alterClusterBy]] — one metadata commit, the
  * next compaction realizes the layout).
  *
  * Scale: every catalog operation is metadata-only — one manifest
  * listing or one conditional pointer commit; nothing here reads a
  * data file, so catalog latency is independent of table size.
  * Concurrency: metadata changes go through [[ManifestTable.commitIf]]
  * (optimistic rebase), so a property change racing an append loses
  * and retries rather than clobbering the appended paths.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** S48/S50 — admits DEFAULT and GENERATED ALWAYS AS clauses through
    * Spark's own resolution (the capabilities gate the SQL surface and
    * make Spark VALIDATE generation expressions at CREATE; the values
    * land in the manifest's `default:`/`defaultx:`/`gencol:` channels). */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  // ------------------------------------------------------ functions (S38)

  /** The engine's transforms, loadable from this catalog — the seam
    * `V2ExpressionUtils` resolves through: `bucket` backs the
    * scan-reported `KeyGroupedPartitioning` (storage-partitioned
    * joins, S38); `morton` backs the clustered write's declared
    * z-order distribution (X16 multi-dimension streaming parity). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, "bucket"),
        Identifier.of(namespace, "morton"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "morton" && (ident.namespace.isEmpty ||
        ident.namespace.sameElements(Array("system"))))
      GraftMortonUnbound
    else GraftBucketUnbound.resolve(ident)
  import GraftCatalog._

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs a warehouse: " +
          s"spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())

  /** `warehouse/seg1/.../segN` with every segment validated — an
    * identifier must not be able to escape the warehouse or collide
    * with the engine's underscore-prefixed metadata dirs. */
  private def pathOf(segments: Seq[String]): Path = {
    segments.foreach { s =>
      require(s != null && s.nonEmpty && s != "." && s != ".." &&
        !s.contains("/") && !s.contains("\\") && !s.startsWith("_") &&
        !s.startsWith("."),
        s"invalid graft identifier segment '$s'")
    }
    segments.foldLeft(new Path(warehouse))((p, s) => new Path(p, s))
  }

  private def tableDir(ident: Identifier): String =
    pathOf(ident.namespace.toSeq :+ ident.name).toString

  /** A table is a dir with >=1 committed manifest version. */
  private def isTable(dir: Path): Boolean =
    ManifestTable.versions(fs, dir.toString).nonEmpty

  /** Child dirs of `p`, engine/metadata dirs excluded. */
  private def childDirs(p: Path): Seq[Path] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = pathOf(namespace.toSeq)
    if (namespace.nonEmpty && !fs.exists(dir))
      throw new NoSuchNamespaceException(namespace)
    childDirs(dir).filter(isTable)
      .map(c => Identifier.of(namespace, c.getName)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    try isTable(new Path(tableDir(ident)))
    catch { case _: IllegalArgumentException => false }

  override def loadTable(ident: Identifier): Table = {
    // `t$history` / `t$files` / `t$properties` — the S28 metadata
    // tables: driver-built from one manifest listing, served as a
    // local relation (no data file opened, no executor involved)
    val dollar = ident.name.indexOf('$')
    if (dollar > 0) {
      val base = Identifier.of(ident.namespace, ident.name.take(dollar))
      val dir = tableDir(base)
      if (!isTable(new Path(dir))) throw new NoSuchTableException(base)
      val suffix = ident.name.drop(dollar + 1)
      // S49 — `` t$branch$audit ``: read a WAP branch with plain SQL
      // (the branch is a full table at its own dir; same pinned-read
      // construction as the parent, defaults and props included);
      // address syntax parsed by the shared [[branchAddress]]
      branchAddress(ident).foreach { case (_, bname) =>
        val bdir = ManifestTable.branchDirOf(dir, bname)
        val bHead = ManifestTable.headVersion(spark, bdir)
          .getOrElse(throw new NoSuchTableException(ident))
        return tableAt(ident, bdir, bHead)
      }
      return GraftMetaTables.of(spark, fs, dir, ident.name, suffix)
        .getOrElse(throw new NoSuchTableException(ident))
    }
    val dir = tableDir(ident)
    val head = ManifestTable.headVersion(spark, dir)
      .getOrElse(throw new NoSuchTableException(ident))
    tableAt(ident, dir, head)
  }

  /** SQL `VERSION AS OF n` or `VERSION AS OF 'tagname'` (S34) — routed
    * here by Spark's time-travel resolution; validated against
    * retention like the `versionAsOf` read option (a tagged version is
    * retained by construction — GC pins it). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(new Path(dir))) throw new NoSuchTableException(ident)
    // S49 — `VERSION AS OF 'branch:<name>'` reads a WAP branch's head
    // through standard time-travel syntax (Iceberg accepts branch
    // names there; the prefix keeps ours from shadowing tag names)
    if (version.startsWith("branch:")) {
      val bdir = ManifestTable.branchDirOf(dir,
        version.stripPrefix("branch:"))
      val bHead = ManifestTable.headVersion(spark, bdir).getOrElse(
        throw new IllegalArgumentException(
          s"no branch '${version.stripPrefix("branch:")}' at $dir"))
      return tableAt(ident, bdir, bHead)
    }
    val v = ManifestTable.resolveVersionArg(spark, dir, version)
    require(ManifestTable.versions(fs, dir).contains(v),
      s"version $v is not retained at $dir")
    tableAt(ident, dir, v)
  }

  /** SQL `TIMESTAMP AS OF ts` (`timestampMicros` since epoch, per the
    * API contract): the newest retained version committed at-or-before
    * the instant — commit times are the manifest files' mtimes, the
    * same clock [[ManifestTable.history]] reports. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(new Path(dir))) throw new NoSuchTableException(ident)
    val millis = Math.floorDiv(timestampMicros, 1000L)
    val v = ManifestTable.versionTimes(fs, dir)
      .filter(_._2 <= millis).map(_._1).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no retained version of $dir committed at or before " +
          s"${java.time.Instant.ofEpochMilli(millis)} — earlier history " +
          "was GC'd (retainGenerations/minRetainMs) or the table is newer"))
    tableAt(ident, dir, v)
  }

  private def tableAt(ident: Identifier, dir: String, v: Long): GraftTable = {
    val snap = ManifestTable.snapshotOf(fs, dir, v)
    val vMeta = snap.meta
    // S48: default metadata rides the served schema — Spark's INSERT
    // resolution reads CURRENT_DEFAULT from here, and the scan's
    // required schema carries EXISTS_DEFAULT down to the parquet
    // readers (which fill missing columns with the frozen constant)
    val schema = ManifestTable.withDefaults(
      ManifestTable.schemaAt(spark, dir, snap), vMeta, snap.cmap)
    val props = vMeta.collect {
      case (k, value) if k.startsWith(PropPrefix) =>
        k.stripPrefix(PropPrefix) -> value
    }
    // Crash-window self-heal: CREATE pins geometry only AFTER winning
    // the version-1 commit (a racing loser must never mark the
    // winner's dir), so a creator dying between the two leaves a
    // bucketed-DECLARED table without its routing markers — which
    // every write would then silently treat as plain. Re-pin from the
    // immutable layout prop; pinMarker's put-if-absent + read-back
    // makes concurrent heals converge or fail loudly on mismatch.
    props.get("layout").filter(_.startsWith("bucketed"))
      .foreach { l =>
        // one probe per dir per JVM (the markers are write-once) —
        // the heal must not bill two metadata RPCs on every load
        if (!GraftCatalog.geometryVerified.contains(dir)) {
          if (MergeInto.bucketedGeometry(spark, dir).isEmpty) {
            val parts = l.split(":").map(_.trim)
            val n = if (parts.length == 3) parts(2).toInt
                    else graft.ScaleKnobs.DefaultMergeBuckets
            MergeInto.pinGeometry(spark, dir, parts(1), n)
          }
          GraftCatalog.geometryVerified.add(dir): Unit
        }
      }
    // reserved Spark props instead of a bare "path": SHOW CREATE TABLE
    // then renders `USING graft` + `LOCATION`, and neither leaks into
    // TBLPROPERTIES (the engine reads the dir from GraftTable.tableDir,
    // never from a prop)
    GraftTable(dir, Some(v), schema, props +
      (TableCatalog.PROP_PROVIDER -> "graft") +
      (TableCatalog.PROP_LOCATION -> dir))
  }

  /** S50 — the V2 `Column[]` create route: `v2ColumnsToStructType`
    * carries DEFAULT metadata but DROPS generation expressions, so
    * capture them here from the columns themselves and re-attach as
    * the field metadata the StructType route reads. */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val base = org.apache.spark.sql.GraftShims.v2ColumnsToStructType(columns)
    val genOf = columns.collect {
      case c if c.generationExpression() != null =>
        c.name() -> c.generationExpression()
    }.toMap
    // S51 — identity specs ride the same capture (the conversion drops
    // them like generation expressions)
    val idOf = columns.collect {
      case c if c.identityColumnSpec() != null =>
        c.name() -> c.identityColumnSpec()
    }.toMap
    val schema =
      if (genOf.isEmpty && idOf.isEmpty) base
      else StructType(base.fields.map { f =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        genOf.get(f.name).foreach(g =>
          b.putString(org.apache.spark.sql.catalyst.util.GeneratedColumn
            .GENERATION_EXPRESSION_METADATA_KEY, g))
        idOf.get(f.name).foreach { s =>
          val ic = org.apache.spark.sql.catalyst.util.IdentityColumn
          b.putLong(ic.IDENTITY_INFO_START, s.getStart)
          b.putLong(ic.IDENTITY_INFO_STEP, s.getStep)
          b.putBoolean(ic.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
            s.isAllowExplicitInsert)
        }
        if (genOf.contains(f.name) || idOf.contains(f.name))
          f.copy(metadata = b.build())
        else f
      })
    createTable(ident, schema, partitions, properties)
  }

  /** S52 — CREATE TABLE with inline constraints (the `TableInfo`
    * route): CHECKs fold into the prop channel BEFORE the create (the
    * table is empty — no validation scan needed); anything
    * informational refuses like the ALTER route. */
  override def createTable(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo)
      : Table = {
    val checkProps = info.constraints().map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        ("check." + c.name) -> Option(c.predicateSql()).getOrElse(
          throw new UnsupportedOperationException(
            s"CHECK constraint '${c.name}' carries no SQL predicate"))
      case other => throw new UnsupportedOperationException(
        s"graft enforces every constraint it declares — informational " +
          s"${other.getClass.getSimpleName} constraints are not supported; " +
          "declare a CHECK instead")
    }
    val props = new java.util.HashMap[String, String](info.properties())
    checkProps.foreach { case (k, v) => props.put(k, v) }
    createTable(ident, info.columns(), info.partitions(), props)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    // '$' is the metadata-table marker (`t$history`) — a real table
    // named with one would be shadowed by the interception forever
    require(!ident.name.contains('$'),
      s"graft table names cannot contain '$$' (reserved for metadata " +
        s"tables like `${ident.name.takeWhile(_ != '$')}$$history`)")
    val dirPath = new Path(tableDir(ident))
    if (isTable(dirPath)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new TableAlreadyExistsException(ident)
    if (ident.namespace.nonEmpty && !namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    require(schema.fields.nonEmpty,
      s"CREATE TABLE $ident needs columns (CTAS derives them from the query)")
    // PARTITIONED BY (col, ...) maps onto the declared cluster spec:
    // manifest tables prune by per-dir stats, and the spec tells
    // compaction to lay dirs out so those columns DO prune — the same
    // query-speedup contract hive-style partitioning sells, without
    // committing the layout at create time (partition EVOLUTION is a
    // metadata change here, not a table rewrite)
    val clusterCols = partitions.toSeq.map {
      // identity transforms only (the concrete case class is
      // private[sql] — match the public Transform surface)
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references()(0).fieldNames.mkString(".")
      case t => throw new UnsupportedOperationException(
        s"graft tables cluster by plain columns; transform '$t' is not supported")
    }
    clusterCols.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column '$c' is not in the table schema"))
    val props = persistedProps(properties) ++
      (if (clusterCols.nonEmpty) Map("clusterBy" -> clusterCols.mkString(","))
       else Map.empty)
    // S31 — `layout=bucketed:<key>[:<nBuckets>]` declares the
    // hash-bucketed MERGE layout at CREATE: every INSERT/MERGE routes
    // through the O(changeset) upsert kernel (MergeInto.applyBatch),
    // the table holds ONE row per key, and point lookups open one
    // bucket. The geometry pins in the table's write-once markers
    // AFTER the version-1 commit wins (a racing loser must not mark
    // the winner's dir); the prop is the catalog echo, and loadTable
    // re-pins from it if a creator crashed inside the tiny window.
    val layoutSpec = props.get("layout").map { l =>
      val parts = l.split(":").map(_.trim)
      require(parts.length >= 2 && parts.length <= 3 &&
          parts(0) == "bucketed" && parts(1).nonEmpty,
        s"layout must be 'bucketed:<keyColumn>[:<nBuckets>]', got '$l'")
      require(schema.fieldNames.contains(parts(1)),
        s"bucket key '${parts(1)}' is not in the table schema")
      val n =
        if (parts.length == 3) parts(2).toInt
        else graft.ScaleKnobs.DefaultMergeBuckets
      require(n > 0, s"layout '$l': nBuckets must be positive")
      (parts(1), n)
    }
    require(layoutSpec.isEmpty || (clusterCols.isEmpty && !props.contains("clusterBy")),
      "layout=bucketed and clusterBy are mutually exclusive — a bucketed " +
        "table's dirs are hash buckets, not range/Morton slices")
    // S48 — `CREATE TABLE (... c INT DEFAULT 5)`: Spark lands the
    // clause in field metadata (capability-gated); record the CURRENT
    // default per column. No existence default at CREATE: every dir
    // this table will ever hold physically stores the column.
    val defaultMeta = {
      val key = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .CURRENT_DEFAULT_COLUMN_METADATA_KEY
      schema.fields.collect {
        case f if f.metadata.contains(key) =>
          (ManifestTable.DefaultPrefix + f.name) -> f.metadata.getString(key)
      }.toMap
    }
    // S50 — GENERATED ALWAYS AS (expr): Spark validated the expression
    // (deterministic, reads only non-generated columns — the
    // capability turns that analysis on); the write choke point
    // computes and enforces it from this channel
    val genMeta = {
      val key = org.apache.spark.sql.catalyst.util.GeneratedColumn
        .GENERATION_EXPRESSION_METADATA_KEY
      schema.fields.collect {
        case f if f.metadata.contains(key) =>
          (ManifestTable.GenColPrefix + f.name) -> f.metadata.getString(key)
      }.toMap
    }
    require(genMeta.isEmpty || layoutSpec.isEmpty,
      "generated columns on bucketed (layout=bucketed) tables are not " +
        "supported — the merge kernel's upsert path does not run the " +
        "generation step")
    // S51 — GENERATED ... AS IDENTITY: spec frozen in the identity:
    // channel; the watermark channel starts absent (first assignment
    // creates it). Bucketed layouts refuse like generated columns.
    val idMeta = {
      val ic = org.apache.spark.sql.catalyst.util.IdentityColumn
      schema.fields.collect {
        case f if f.metadata.contains(ic.IDENTITY_INFO_START) =>
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"identity column '${f.name}' must be BIGINT: the minting " +
              "kernel's per-partition offsets span past 2^33 on " +
              s"multi-partition batches, overflowing ${f.dataType.sql}")
          (ManifestTable.IdentityPrefix + f.name) ->
            (f.metadata.getLong(ic.IDENTITY_INFO_START).toString + "," +
              f.metadata.getLong(ic.IDENTITY_INFO_STEP).toString + "," +
              f.metadata.getBoolean(ic.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT))
      }.toMap
    }
    require(idMeta.isEmpty || layoutSpec.isEmpty,
      "identity columns on bucketed (layout=bucketed) tables are not " +
        "supported — the merge kernel's upsert path does not mint ids")
    // a clusterBy TBLPROPERTY validates like the ALTER route — a bogus
    // spec would otherwise commit and fail only at the first clustered
    // write (r19 review find)
    props.get("clusterBy").foreach(_.split(",").map(_.trim)
      .filter(_.nonEmpty).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"cluster column '$c' (TBLPROPERTIES clusterBy) is not in " +
            "the table schema")))
    val meta = props.map { case (k, v) => (PropPrefix + k) -> v } ++
      props.get("clusterBy").map(ClusterByKey -> _) ++
      defaultMeta ++ genMeta ++ idMeta
    val retain = props.get("retainGenerations").map(_.toInt).getOrElse(2)
    // ATOMIC create (r19 review find): put-if-absent of version 1 —
    // two racing CREATEs of one table resolve to one winner and one
    // TableAlreadyExists, never a silent clobber (the view route has
    // always used putFileIfAbsent for the same race)
    if (ManifestTable.commitIf(spark, dirPath.toString, Seq.empty,
        expectedBase = 0L, retainGenerations = retain,
        schemaDdl = Some(ManifestTable.cleanDdl(schema)),
        meta = meta).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toIndexedSeq)
    // Geometry pins only AFTER winning the commit race: a loser that
    // pinned first would leave KeyMarker/BucketsMarker on the winner's
    // directory, silently flipping a plain table to merge-kernel
    // routing — and rolling back "markers I created" is unsafe when
    // two same-geometry creators each created one of the two markers.
    // The winner owns version 1, so its pin cannot be contested by
    // another CREATE; writers route through the catalog's loadTable,
    // which runs below, after the pin.
    layoutSpec.foreach { case (key, n) =>
      MergeInto.pinGeometry(spark, dirPath.toString, key, n) }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dirPath = new Path(tableDir(ident))
    // drop the dir's cached snapshots: a same-path CREATE restarts
    // version numbering, and the cache's file-identity key (mtime,
    // length) alone cannot distinguish a same-millisecond recreation
    ManifestTable.invalidateSnapshots(dirPath.toString)
    isTable(dirPath) && fs.delete(dirPath, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(!newIdent.name.contains('$'),
      s"graft table names cannot contain '$$' (reserved for metadata tables)")
    val from = new Path(tableDir(oldIdent))
    val to = new Path(tableDir(newIdent))
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    // S49 — a branch references the parent's dirs by ABSOLUTE path
    // (the zero-copy clone); renaming the table moves the data out
    // from under those refs, and a later publish would commit the
    // dangling paths INTO the parent manifest. Refuse while branches
    // stand — publish or drop them first.
    val standing = ManifestTable.branches(spark, from.toString).map(_._1)
    require(standing.isEmpty,
      s"cannot rename $oldIdent: WAP branch(es) " +
        s"${standing.mkString(", ")} reference its dirs by absolute " +
        "path — publish or drop them first")
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    if (newIdent.namespace.nonEmpty && !namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    // both endpoints' cached snapshots drop: the source path's entries
    // are dead, and the target path may have hosted a dropped table
    ManifestTable.invalidateSnapshots(from.toString)
    ManifestTable.invalidateSnapshots(to.toString)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  /** Parse a `t$branch$<name>` address into (base identifier, branch
    * name) — the ONE place the branch-address syntax lives; loadTable
    * and ALTER resolution both consume it. */
  private def branchAddress(ident: Identifier): Option[(Identifier, String)] = {
    val dollar = ident.name.indexOf('$')
    if (dollar > 0 && ident.name.drop(dollar + 1).startsWith("branch$"))
      Some((Identifier.of(ident.namespace, ident.name.take(dollar)),
        ident.name.drop(dollar + 1).stripPrefix("branch$")))
    else None
  }

  /** `ident` resolved to its table dir, following a `t$branch$<name>`
    * suffix to the branch's OWN dir (S49): ALTER targets a branch
    * exactly like reads and writes do — an audit can stage a contract
    * or schema change and publish it with the data (the rebase's
    * contract-conflict rule keeps it honest vs parent appends). */
  private def resolvedDir(ident: Identifier): String =
    branchAddress(ident) match {
      case Some((base, bname)) =>
        ManifestTable.branchDirOf(tableDir(base), bname)
      case None => tableDir(ident)
    }

  /** SET/UNSET TBLPROPERTIES and ADD COLUMN(S). Each change is one
    * optimistic metadata commit (paths/stats re-published unchanged) —
    * racing an append, the loser retries against the new head, so a
    * property change can never drop concurrently appended dirs. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = resolvedDir(ident)
    if (!isTable(new Path(dir))) throw new NoSuchTableException(ident)
    changes.foreach {
      case s: TableChange.SetProperty if s.property == "layout" =>
        throw new UnsupportedOperationException(
          "layout is declared at CREATE TABLE (the bucket geometry pins " +
            "in write-once markers) — re-layout via CALL system.clone " +
            "into a new bucketed table")
      case s: TableChange.SetProperty if s.property == "clusterBy" =>
        // the liquid-clustering move: validate against the declared
        // schema and commit the ENGINE spec key, plus the prop echo
        // (one commit — alterMeta writes both keys; alterClusterBy's
        // schema validation is replicated here)
        require(!MergeInto.bucketedGeometry(spark, dir).isDefined,
          "a bucketed (layout=bucketed) table's dirs are hash buckets — " +
            "clusterBy does not apply")
        val cols = s.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "clusterBy needs at least one column")
        // validated PER ATTEMPT against the head being committed on: a
        // racing DROP COLUMN would otherwise let a spec referencing a
        // vanished column land on the retry (r19 review find — the
        // same per-attempt contract ADD CONSTRAINT rides)
        alterMeta(dir, _ +
          (ClusterByKey -> cols.mkString(",")) +
          ((PropPrefix + "clusterBy") -> cols.mkString(",")),
          validate = h =>
            ManifestTable.declaredSchemaOf(spark, dir, h).foreach(sch =>
              cols.foreach(c => require(sch.fieldNames.contains(c),
                s"cluster column '$c' is not in the declared schema " +
                  s"at $dir"))))
      case s: TableChange.SetProperty if s.property.startsWith("check.") =>
        addCheck(ident, dir, s.property.stripPrefix("check."), s.value)
      // S52 — standard SQL constraint syntax (`ALTER TABLE t ADD
      // CONSTRAINT c CHECK (...)`, capability-gated): a CHECK maps
      // onto the SAME prop channel the TBLPROPERTIES route uses — one
      // enforcement machine, two syntaxes. Informational PK/UNIQUE/FK
      // refuse loudly: this engine only declares contracts it
      // ENFORCES (the Delta stance).
      case a: TableChange.AddConstraint =>
        a.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(c.name != null && c.name.nonEmpty, "constraint needs a name")
            addCheck(ident, dir, c.name,
              Option(c.predicateSql()).getOrElse(
                throw new UnsupportedOperationException(
                  s"CHECK constraint '${c.name}' carries no SQL predicate")))
          case other => throw new UnsupportedOperationException(
            s"graft enforces every constraint it declares — informational " +
              s"${other.getClass.getSimpleName} constraints are not " +
              "supported; declare a CHECK instead")
        }
      case d: TableChange.DropConstraint =>
        val key = PropPrefix + "check." + d.name
        // IF EXISTS on a missing constraint is a true no-op — don't
        // publish a pointless metadata version (version churn, CDC
        // noise, spurious conflicts with concurrent writers)
        val standing = ManifestTable.headVersion(spark, dir)
          .exists(v => ManifestTable.metaOf(fs, dir, v).contains(key))
        require(d.ifExists || standing,
          s"no CHECK constraint '${d.name}' on $ident to drop")
        if (standing) alterMeta(dir, m => {
          require(d.ifExists || m.contains(key),
            s"no CHECK constraint '${d.name}' on $ident to drop")
          m - key
        })
      case s: TableChange.SetProperty =>
        alterMeta(dir, _ + ((PropPrefix + s.property) -> s.value))
      case r: TableChange.RemoveProperty if r.property == "clusterBy" =>
        alterMeta(dir, m => m - ClusterByKey - (PropPrefix + "clusterBy"))
      case r: TableChange.RemoveProperty =>
        alterMeta(dir, _ - (PropPrefix + r.property))
      case a: TableChange.AddColumn => addColumn(ident, dir, a)
      // S48 — ALTER COLUMN c SET DEFAULT / DROP DEFAULT: the CURRENT
      // default only (it governs future INSERTs); the existence
      // default stays frozen at its ADD-time constant — pre-ADD rows
      // must not change value under a later SET DEFAULT (the
      // SQL-standard split Iceberg v3 calls initial-default)
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          s"graft SET DEFAULT is top-level only, got ${u.fieldNames.mkString(".")}")
        val logical = u.fieldNames.head
        val newSql = Option(u.newDefaultValue()).map(_.trim).filter(_.nonEmpty)
        // validate: the clause must analyze to a constant castable to
        // the column's type — refuse at ALTER time, not first INSERT
        alterMeta(dir, m => {
          val phys = m.getOrElse(ManifestTable.ColMapPrefix + logical, logical)
          require(!m.contains(ManifestTable.GenColPrefix + phys),
            s"'$logical' is GENERATED ALWAYS AS — it cannot also carry " +
              "a DEFAULT (the generation expression owns its value)")
          require(!m.contains(ManifestTable.IdentityPrefix + phys),
            s"'$logical' is an IDENTITY column — it cannot also carry " +
              "a DEFAULT (the identity minting owns its value)")
          newSql match {
            case Some(sql) => m + ((ManifestTable.DefaultPrefix + phys) -> sql)
            case None => m - (ManifestTable.DefaultPrefix + phys)
          }
        }, validate = head => {
          val sch = ManifestTable.declaredSchemaOf(spark, dir, head).getOrElse(
            throw new UnsupportedOperationException(
              s"$dir has no declared schema"))
          val f = sch.fields.find(_.name == logical).getOrElse(
            throw new IllegalArgumentException(
              s"no column '$logical' in $ident to default"))
          newSql.foreach { sql =>
            org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .analyze(f.name, f.dataType, sql,
                "ALTER TABLE ALTER COLUMN"): Unit
          }
        })
      case u: TableChange.UpdateColumnType => updateColumnType(ident, dir, u)
      case r: TableChange.RenameColumn => renameColumn(ident, dir, r)
      case d: TableChange.DeleteColumn => dropColumn(ident, dir, d)
      case c => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports SET/UNSET TBLPROPERTIES, ADD/" +
          s"RENAME/DROP COLUMN and ALTER COLUMN TYPE (widening); " +
          s"${c.getClass.getSimpleName} is not supported " +
          "(width-changing rewrites go through MERGE's schema evolution)")
    }
    loadTable(ident)
  }

  /** Metadata-only ADD COLUMN — the declared-schema read path fills
    * dirs written before the column existed (null, or the S48
    * existence default when a DEFAULT clause is given), so no data
    * file is touched (the Delta/Iceberg schema-evolution contract).
    * Nullable top-level columns only, appended at the end: anything
    * else would need a rewrite. A DEFAULT records two channels: the
    * CURRENT default (its SQL, for future INSERT resolution) and the
    * EXISTENCE default (the constant it evaluates to NOW, frozen —
    * pre-ADD rows serve it forever, the SQL-standard semantics). */
  private def addColumn(ident: Identifier, dir: String,
                        a: TableChange.AddColumn): Unit = {
    require(a.fieldNames.length == 1,
      s"graft ADD COLUMN is top-level only, got ${a.fieldNames.mkString(".")}")
    require(a.isNullable,
      s"new column '${a.fieldNames.head}' must be nullable — " +
        "existing dirs fill it (with null or the DEFAULT)")
    require(a.position() == null,
      "graft ADD COLUMN appends at the end (FIRST/AFTER would reorder " +
        "parquet field resolution for existing dirs)")
    val name = a.fieldNames.head
    // S48: the evaluated constant renders back to a SQL literal via
    // catalyst (Spark analyzed + folded the clause already — the V2
    // ColumnDefaultValue carries both the original SQL and the value)
    val defaultMeta: Map[String, String] = Option(a.defaultValue()).map { d =>
      val lit = d.getValue()
      require(lit != null,
        s"ADD COLUMN '$name' DEFAULT did not fold to a constant")
      val frozen = org.apache.spark.sql.catalyst.expressions
        .Literal(lit.value, lit.dataType).sql
      Map((ManifestTable.DefaultPrefix + name) ->
            Option(d.getSql()).getOrElse(frozen),
          (ManifestTable.ExistsDefaultPrefix + name) -> frozen)
    }.getOrElse(Map.empty)
    alterFull(dir) { head =>
      val old = ManifestTable.declaredSchemaOf(spark, dir, head).getOrElse(
        throw new UnsupportedOperationException(
          s"$dir has no declared schema to evolve — written by a " +
            "pre-schema writer; one append through the catalog declares it"))
      require(!old.fieldNames.contains(name),
        s"column '$name' already exists in $ident")
      // parquet resolves by PHYSICAL name: adding a name that old dirs
      // still store — a DROPPED column's, or a renamed column's frozen
      // physical — would silently RESURRECT foreign values (S42 guard)
      val meta = ManifestTable.metaOf(fs, dir, head)
      require(!meta.contains(ManifestTable.DroppedPrefix + name),
        s"column '$name' was previously dropped from $ident; old dirs " +
          "still store its values and re-adding the name would " +
          "resurrect them — pick a different name (or compact first)")
      require(!meta.exists { case (k, v) =>
          k.startsWith(ManifestTable.ColMapPrefix) && v == name },
        s"'$name' is the stored physical name of a renamed column of " +
          s"$ident; adding it would read that column's old values — " +
          "pick a different name")
      (Some(ManifestTable.cleanDdl(StructType(old.fields :+
        StructField(name, a.dataType, nullable = true)))),
        meta ++ defaultMeta, identity)
    }
  }

  /** S40 — metadata-only TYPE WIDENING (`ALTER TABLE t ALTER COLUMN c
    * TYPE bigint`): the declared schema changes, no data file is
    * touched. Old dirs keep their narrow parquet encoding and the read
    * path serves them WIDENED — Spark's vectorized parquet reader has
    * native widening updaters for exactly the lossless pairs this
    * whitelist admits (int→bigint, int→double, float→double), the
    * Iceberg/Delta type-promotion contract. New appends must bring the
    * widened type (the fixed-schema append contract, unchanged).
    * Recorded stats stay valid: min/max strings compare numerically,
    * and a value's decimal rendering is type-independent. */
  private def updateColumnType(ident: Identifier, dir: String,
                               u: TableChange.UpdateColumnType): Unit = {
    import org.apache.spark.sql.types._
    require(u.fieldNames.length == 1,
      s"graft ALTER COLUMN TYPE is top-level only, got " +
        u.fieldNames.mkString("."))
    val name = u.fieldNames.head
    // the bucket key's murmur3 hash is TYPE-SENSITIVE (INT 2 and
    // BIGINT 2 hash differently): widening it would silently re-route
    // every standing key to the wrong bucket — refuse
    MergeInto.bucketedGeometry(spark, dir).foreach { case (key, _) =>
      require(!name.equalsIgnoreCase(key),
        s"cannot widen bucket key '$key' of $ident: murmur3 bucket " +
          "routing is type-sensitive; clone into a new layout instead")
    }
    alterSchema(dir, old => {
      require(old.fieldNames.contains(name),
        s"no column '$name' in $ident to widen")
      val i = old.fieldIndex(name)
      val from = old.fields(i).dataType
      val ok = (from, u.newDataType) match {
        case (IntegerType, LongType | DoubleType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      require(ok,
        s"unsupported widen $from -> ${u.newDataType} on '$name': " +
          "metadata-only widening covers int->bigint, int->double, " +
          "float->double (lossless, reader-supported); anything else " +
          "needs a rewrite")
      StructType(old.fields.updated(i, old.fields(i).copy(dataType = u.newDataType)))
    })
  }

  /** Delta's ADD CONSTRAINT contract: existing data must already
    * conform — the validation scan buys the invariant every later
    * write and rewrite relies on ("live rows always conform"). It runs
    * INSIDE the optimistic commit loop against the exact head being
    * committed on: a violating append racing the scan makes this
    * commit lose (commitIf is an atomic put of head+1), and the retry
    * REVALIDATES against the new head — closing the r11 TOCTOU where
    * rows appended between scan and commit slipped under the new
    * constraint unvalidated. The other direction (append's job built
    * pre-ALTER, committed post-ALTER) is refused by the write side's
    * own metadata-conflict guard at publish time. Shared by the
    * TBLPROPERTIES route and S52's ADD CONSTRAINT syntax. */
  private def addCheck(ident: Identifier, dir: String,
                       name: String, sql: String): Unit =
    alterMeta(dir, _ + ((PropPrefix + "check." + name) -> sql),
      validate = head => {
        if (ManifestTable.pathsOf(fs, dir, head).nonEmpty) {
          import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
          val bad = ManifestTable.readVersion(spark, dir, head)
            .filter(not(coalesce(expr(sql), lit(true)))).limit(1)
          require(bad.isEmpty,
            s"cannot add CHECK constraint '$name' (check.$name: $sql): " +
              s"existing rows of $ident violate it")
        }
      })

  private def alterMeta(dir: String,
                        f: Map[String, String] => Map[String, String],
                        validate: Long => Unit = _ => ()): Unit =
    alterHead(dir, validate)(head => (ManifestTable.schemaOf(fs, dir, head),
      f(ManifestTable.metaOf(fs, dir, head))))

  private def alterSchema(dir: String, f: StructType => StructType): Unit =
    alterFull(dir) { head =>
      val old = ManifestTable.declaredSchemaOf(spark, dir, head).getOrElse(
        throw new UnsupportedOperationException(
          s"$dir has no declared schema to evolve — written by a " +
            "pre-schema writer; one append through the catalog declares it"))
      (Some(ManifestTable.cleanDdl(f(old))), ManifestTable.metaOf(fs, dir, head), identity)
    }

  private def alterHead(dir: String, validate: Long => Unit)(
      f: Long => (Option[String], Map[String, String])): Unit =
    alterFull(dir, validate) { head =>
      val (ddl, meta) = f(head)
      (ddl, meta, identity)
    }

  /** Optimistic metadata rebase loop shared by every ALTER: re-publish
    * the head's paths with a transformed (schemaDdl, meta) and a
    * per-payload stats transform (identity except RENAME/DROP COLUMN,
    * which re-key/strip the per-dir stats so pruning follows the
    * schema). `validate` runs per attempt against the head being
    * committed on — losing the commit race re-runs it against the new
    * head, so a validation can never be satisfied by a snapshot the
    * commit didn't actually extend (ADD CONSTRAINT's data scan rides
    * this). */
  private def alterFull(dir: String, validate: Long => Unit = _ => ())(
      f: Long => (Option[String], Map[String, String], String => String))
      : Unit = {
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val head = ManifestTable.headVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"no committed manifest at $dir"))
      validate(head)
      val (ddl, meta, statsXform) = f(head)
      // honor the table's own retention — an ALTER with the default
      // would otherwise GC a deep-history table down to 2 generations
      val retain = meta.get(PropPrefix + "retainGenerations")
        .flatMap(_.toIntOption).getOrElse(2)
      if (ManifestTable.commitIf(spark, dir,
          ManifestTable.pathsOf(fs, dir, head), head,
          retainGenerations = retain,
          schemaDdl = ddl,
          stats = ManifestTable.statsOf(fs, dir, head)
            .view.mapValues(statsXform).toMap,
          // pointer-only commit: the change feed skips it by tag
          meta = meta + ManifestTable.cdcTag("meta", head + 1),
          // deletion vectors carry like stats — dropping them here
          // would resurrect merge-on-read-deleted rows on any ALTER
          dv = ManifestTable.dvOf(fs, dir, head)).isDefined)
        return
    }
    throw new IllegalStateException(s"ALTER contention at $dir")
  }

  /** True when any declared CHECK constraint's SQL references `col` as
    * a word — conservative textual test; renaming/dropping a column a
    * constraint judges must fail rather than silently break (or
    * re-bind) the contract. */
  private def checkReferences(meta: Map[String, String],
                              col: String): Option[String] = {
    // boundary classes are SYMMETRIC on purpose: backtick must count as
    // a boundary on both sides, or a backtick-quoted `col` reference
    // escapes the RENAME/DROP guard and every later write fails at
    // constraint binding instead
    val re = ("(?i)(^|[^A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(col) + "([^A-Za-z0-9_]|$)").r
    meta.collectFirst {
      case (k, sql) if k.startsWith(PropPrefix + "check.") &&
        re.findFirstIn(sql).isDefined =>
        k.stripPrefix(PropPrefix + "check.")
    }
  }

  /** S50 — the generated column (by physical key) whose expression
    * references `col` as a word, if any — renaming or dropping a column
    * a generation expression reads must refuse (the expression would
    * silently stop binding), same contract as [[checkReferences]]. */
  private def genReferences(meta: Map[String, String],
                            col: String): Option[String] = {
    val re = ("(?i)(^|[^A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(col) + "([^A-Za-z0-9_]|$)").r
    meta.collectFirst {
      case (k, sql) if k.startsWith(ManifestTable.GenColPrefix) &&
        re.findFirstIn(sql).isDefined =>
        k.stripPrefix(ManifestTable.GenColPrefix)
    }
  }

  /** Replace `from` with `to` in a comma-joined column list. */
  private def rekeyList(list: String, from: String, to: String): String =
    list.split(",").map(_.trim).filter(_.nonEmpty)
      .map(c => if (c == from) to else c).mkString(",")

  /** S42 — metadata-only RENAME COLUMN via column mapping: the
    * declared (logical) schema changes in one pointer commit; the
    * column's PHYSICAL parquet name stays frozen forever (recorded in
    * the `colmap:` channel — Delta's column-mapping design), so no
    * data file is rewritten and old dirs keep reading exactly. Stats
    * payloads, the cluster spec, statsCols and CBO stats re-key in the
    * same commit; a CHECK constraint referencing the column refuses
    * (its SQL would silently stop binding). */
  private def renameColumn(ident: Identifier, dir: String,
                           r: TableChange.RenameColumn): Unit = {
    require(r.fieldNames.length == 1,
      s"graft RENAME COLUMN is top-level only, got ${r.fieldNames.mkString(".")}")
    val from = r.fieldNames.head
    val to = r.newName
    require(to.nonEmpty && !to.contains('\t') && !to.contains('\n') &&
      !to.contains(','), s"invalid column name '$to'")
    MergeInto.bucketedGeometry(spark, dir).foreach { _ =>
      throw new UnsupportedOperationException(
        s"cannot rename columns of bucketed table $ident: the merge " +
          "kernel and its pinned geometry resolve columns by name; " +
          "clone into a new layout instead")
    }
    alterFull(dir) { head =>
      val old = ManifestTable.declaredSchemaOf(spark, dir, head).getOrElse(
        throw new UnsupportedOperationException(
          s"$dir has no declared schema to evolve"))
      require(old.fieldNames.contains(from),
        s"no column '$from' in $ident to rename")
      require(!old.fieldNames.contains(to),
        s"column '$to' already exists in $ident")
      val meta = ManifestTable.metaOf(fs, dir, head)
      checkReferences(meta, from).foreach(name =>
        throw new UnsupportedOperationException(
          s"cannot rename '$from': CHECK constraint '$name' references " +
            "it — drop the constraint, rename, re-add against the new name"))
      genReferences(meta, from).foreach(g =>
        throw new UnsupportedOperationException(
          s"cannot rename '$from': generated column '$g' computes from " +
            "it — generation expressions bind by name"))
      val physical = meta.getOrElse(ManifestTable.ColMapPrefix + from, from)
      val ddl = StructType(old.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)).toDDL
      val newMeta = (meta - (ManifestTable.ColMapPrefix + from)) +
        ((ManifestTable.ColMapPrefix + to) -> physical) ++
        meta.get(ClusterByKey).map(l => ClusterByKey -> rekeyList(l, from, to)) ++
        meta.get(PropPrefix + "clusterBy")
          .map(l => (PropPrefix + "clusterBy") -> rekeyList(l, from, to)) ++
        meta.get(PropPrefix + "statsCols")
          .map(l => (PropPrefix + "statsCols") -> rekeyList(l, from, to)) ++
        // bloomCols re-keys with the rest — a stale name would make
        // every later write silently skip the sidecar (r19 review find)
        meta.get(PropPrefix + "bloomCols")
          .map(l => (PropPrefix + "bloomCols") -> rekeyList(l, from, to)) ++
        meta.get(ManifestTable.ColStatPrefix + from)
          .map(v => (ManifestTable.ColStatPrefix + to) -> v) ++
        meta.get(ManifestTable.ColHistPrefix + from)
          .map(v => (ManifestTable.ColHistPrefix + to) -> v) --
        Seq(ManifestTable.ColStatPrefix + from,
          ManifestTable.ColHistPrefix + from)
      (Some(ddl), newMeta, ManifestTable.renameStatsCol(_, from, to))
    }
  }

  /** S42 — metadata-only DROP COLUMN: the field leaves the declared
    * schema in one pointer commit; old dirs' stored values simply stop
    * being read (parquet resolves by the declared schema). The
    * column's PHYSICAL name is TOMBSTONED (`dropped:` channel): a
    * later ADD COLUMN of that name would silently resurrect the old
    * values from pre-drop dirs, so it refuses. Cluster columns and
    * CHECK-referenced columns refuse; statsCols and CBO stats scrub. */
  private def dropColumn(ident: Identifier, dir: String,
                         d: TableChange.DeleteColumn): Unit = {
    require(d.fieldNames.length == 1,
      s"graft DROP COLUMN is top-level only, got ${d.fieldNames.mkString(".")}")
    val col = d.fieldNames.head
    MergeInto.bucketedGeometry(spark, dir).foreach { _ =>
      throw new UnsupportedOperationException(
        s"cannot drop columns of bucketed table $ident: the merge " +
          "kernel resolves columns by name; clone into a new layout instead")
    }
    alterFull(dir) { head =>
      val old = ManifestTable.declaredSchemaOf(spark, dir, head).getOrElse(
        throw new UnsupportedOperationException(
          s"$dir has no declared schema to evolve"))
      require(old.fieldNames.contains(col),
        s"no column '$col' in $ident to drop")
      require(old.fields.length > 1,
        s"cannot drop the last column of $ident")
      val meta = ManifestTable.metaOf(fs, dir, head)
      ManifestTable.clusterSpecOf(fs, dir, head).foreach(spec =>
        require(!spec.contains(col),
          s"cannot drop cluster column '$col' of $ident — ALTER the " +
            "clusterBy spec first"))
      checkReferences(meta, col).foreach(name =>
        throw new UnsupportedOperationException(
          s"cannot drop '$col': CHECK constraint '$name' references it — " +
            "drop the constraint first"))
      val physical = meta.getOrElse(ManifestTable.ColMapPrefix + col, col)
      genReferences(meta, col).foreach(g =>
        // dropping the generated column ITSELF is fine (its channel
        // dies below); dropping a column its expression READS is not
        if (g != physical) throw new UnsupportedOperationException(
          s"cannot drop '$col': generated column '$g' computes from it"))
      val ddl = StructType(old.fields.filterNot(_.name == col)).toDDL
      val newMeta = (meta
        - (ManifestTable.ColMapPrefix + col)
        - (ManifestTable.ColStatPrefix + col)
        - (ManifestTable.ColHistPrefix + col)
        - (ManifestTable.DefaultPrefix + physical)
        - (ManifestTable.ExistsDefaultPrefix + physical)
        - (ManifestTable.GenColPrefix + physical)
        - (ManifestTable.IdentityPrefix + physical)
        - (ManifestTable.IdentityWmPrefix + physical)) +
        ((ManifestTable.DroppedPrefix + physical) -> "true") ++
        meta.get(PropPrefix + "statsCols").map { l =>
          (PropPrefix + "statsCols") ->
            l.split(",").map(_.trim).filter(c => c.nonEmpty && c != col)
              .mkString(",")
        } ++
        // bloomCols scrubs with statsCols — a dropped name left behind
        // would silently disable sidecar builds (r19 review find)
        meta.get(PropPrefix + "bloomCols").map { l =>
          (PropPrefix + "bloomCols") ->
            l.split(",").map(_.trim).filter(c => c.nonEmpty && c != col)
              .mkString(",")
        }
      (Some(ddl), newMeta.filterNot { case (k, v) =>
        (k == PropPrefix + "statsCols" || k == PropPrefix + "bloomCols") &&
          v.isEmpty },
        ManifestTable.dropStatsCol(_, col))
    }
  }

  // ------------------------------------------------------------ procedures

  /** S29 — SQL `CALL` maintenance procedures (`ProcedureCatalog`, the
    * Iceberg-procedures seam, now a public Spark 4 API):
    *
    * {{{
    * CALL cat.system.compact(table => 'lake.t', k => 8)
    * CALL cat.system.restore(table => 'lake.t', version => 3)
    * }}}
    *
    * Maintenance becomes a SQL statement an operator (or a scheduler)
    * can run with no engine API in scope. Each returns a one-row
    * result through a local scan. */
  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      Array("compact", "restore", "vacuum", "lookup", "clone", "tag",
        "untag", "analyze", "maintain", "create_branch", "publish_branch",
        "drop_branch").map(n => Identifier.of(namespace, n))
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace.toSeq != Seq("system"))
      throw new IllegalArgumentException(
        s"graft procedures live in the 'system' namespace, got $ident")
    ident.name match {
      case "compact" => new GraftProcedures.Compact(this)
      case "restore" => new GraftProcedures.Restore(this)
      case "vacuum" => new GraftProcedures.Vacuum(this)
      case "lookup" => new GraftProcedures.Lookup(this)
      case "clone" => new GraftProcedures.Clone(this)
      case "tag" => new GraftProcedures.Tag(this)
      case "untag" => new GraftProcedures.Untag(this)
      case "analyze" => new GraftProcedures.Analyze(this)
      case "maintain" => new GraftProcedures.Maintain(this)
      case "create_branch" => new GraftProcedures.CreateBranch(this)
      case "publish_branch" => new GraftProcedures.PublishBranch(this)
      case "drop_branch" => new GraftProcedures.DropBranch(this)
      case other => throw new IllegalArgumentException(
        s"unknown graft procedure '$other' — available: system.compact, " +
          "system.restore, system.vacuum, system.lookup, system.clone, " +
          "system.tag, system.untag, system.analyze, system.maintain, " +
          "system.create_branch, system.publish_branch, system.drop_branch")
    }
  }

  /** Resolve a procedure's `table` argument (`'ns.t'`) to its dir. */
  private[sources] def dirOfTableArg(table: String): String = {
    val segs = table.split('.').toSeq.map(_.trim)
    val dir = pathOf(segs)
    require(isTable(dir), s"'$table' is not a graft table in catalog $name")
    dir.toString
  }

  /** The dir a NEW table named `table` would occupy — for procedures
    * that create (`system.clone`'s target): the namespace must exist,
    * the table must not. */
  private[sources] def dirOfNewTableArg(table: String): String = {
    val segs = table.split('.').toSeq.map(_.trim)
    require(segs.nonEmpty && !segs.last.contains('$'),
      s"invalid new-table name '$table'")
    val dir = pathOf(segs)
    require(!isTable(dir), s"'$table' already exists in catalog $name")
    if (segs.length > 1)
      require(namespaceExists(segs.init.toArray),
        s"namespace ${segs.init.mkString(".")} does not exist in catalog $name")
    dir.toString
  }
  private[sources] def activeSpark: SparkSession = spark
  private[sources] def activeFs: FileSystem = fs

  // ----------------------------------------------------------------- views

  /** S35 — persistent SQL views: one metadata file per view under the
    * namespace's `_views/` dir (see [[GraftViews]]). Creation settles
    * racing writers through the store seam's put-if-absent; every
    * operation is a single metadata-file touch. */
  private def viewFile(ident: Identifier): Path =
    new Path(new Path(pathOf(ident.namespace.toSeq), "_views"),
      ident.name + ".view")

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (ns.nonEmpty && !namespaceExists(ns))
      throw new NoSuchNamespaceException(ns)
    val dir = new Path(pathOf(ns.toSeq), "_views")
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".view"))
      .map(n => Identifier.of(ns, n.stripSuffix(".view"))).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    try fs.exists(viewFile(ident))
    catch { case _: IllegalArgumentException => false }

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View =
    GraftViews.read(fs, viewFile(ident))
      .map(GraftViews.deserialize(ident.toString, _))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident
    require(!ident.name.contains('$'),
      "graft view names cannot contain '$'")
    if (ident.namespace.nonEmpty && !namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val file = viewFile(ident)
    // put-if-absent through the store seam: two racing CREATE VIEWs
    // resolve to one winner and one loud failure
    val won = ManifestTable.putFileIfAbsent(spark,
      file.getParent.toString, file.getName,
      new String(GraftViews.serialize(info),
        java.nio.charset.StandardCharsets.ISO_8859_1))
    if (!won)
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    loadView(ident)
  }

  override def alterView(ident: Identifier,
                         changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val v = loadView(ident)
    val props = changes.foldLeft(
        scala.jdk.CollectionConverters.MapHasAsScala(v.properties).asScala.toMap) {
      case (m, s: ViewChange.SetProperty) => m + (s.property -> s.value)
      case (m, r: ViewChange.RemoveProperty) => m - r.property
      case (m, _) => m
    }
    val info = new org.apache.spark.sql.connector.catalog.ViewInfo(
      ident, v.query, v.currentCatalog, v.currentNamespace, v.schema,
      v.queryColumnNames, v.columnAliases, v.columnComments,
      scala.jdk.CollectionConverters.MapHasAsJava(props).asJava)
    // views are single metadata files; an alter is read-modify-replace
    // (last-writer-wins, like every catalog's view properties). The
    // replace is write-then-RENAME-OVERWRITE, never delete-then-create:
    // the view file is never absent mid-alter, so a crash (or a racing
    // reader) sees either the old or the new definition — at worst a
    // stranded .alter- temp file no lookup ever resolves.
    val file = viewFile(ident)
    val tmpName = file.getName + ".alter-" +
      java.util.UUID.randomUUID().toString.take(8)
    require(ManifestTable.putFileIfAbsent(spark, file.getParent.toString,
        tmpName, new String(GraftViews.serialize(info),
          java.nio.charset.StandardCharsets.ISO_8859_1)),
      s"alter view temp write failed for $ident")
    org.apache.hadoop.fs.FileContext
      .getFileContext(file.toUri, spark.sessionState.newHadoopConf())
      .rename(new Path(file.getParent, tmpName), file,
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    try fs.delete(viewFile(ident), false)
    catch { case _: IllegalArgumentException => false }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(!newIdent.name.contains('$'),
      "graft view names cannot contain '$'")
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    val to = viewFile(newIdent)
    if (!fs.exists(to.getParent)) fs.mkdirs(to.getParent)
    require(fs.rename(viewFile(oldIdent), to),
      s"rename view $oldIdent -> $newIdent failed")
  }

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    childDirs(new Path(warehouse)).filterNot(isTable)
      .map(c => Array(c.getName)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = pathOf(namespace.toSeq)
    if (!fs.exists(dir) || isTable(dir))
      throw new NoSuchNamespaceException(namespace)
    childDirs(dir).filterNot(isTable)
      .map(c => namespace :+ c.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      try {
        val dir = pathOf(namespace.toSeq)
        fs.exists(dir) && !isTable(dir)
      } catch { case _: IllegalArgumentException => false }
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      pathOf(namespace.toSeq).toString).asJava
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(pathOf(namespace.toSeq)): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories and carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val dir = pathOf(namespace.toSeq)
    // VIEWS live under the underscore-protected _views dir, which
    // childDirs deliberately hides — without this check a view-only
    // namespace read as 'empty' and a CASCADE-less drop destroyed the
    // views silently (r19 review find)
    if (!cascade && (childDirs(dir).nonEmpty ||
        listViews(namespace.toIndexedSeq: _*).nonEmpty))
      throw new NonEmptyNamespaceException(namespace)
    fs.delete(dir, true)
  }
}

object GraftCatalog {
  /** Dirs whose bucketed geometry markers this JVM has already
    * verified (or healed) — the markers are write-once, so one probe
    * per dir suffices and the self-heal in `tableAt` costs the read
    * hot path nothing after the first load. A same-path DROP+CREATE
    * is safe either way: the new CREATE pins its own markers before
    * `loadTable` runs. */
  private[graft] val geometryVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** `#meta` prefix under which table properties persist — disjoint
    * from engine keys (statsZone, clusterBy, txn:*) by construction. */
  private[sources] val PropPrefix = "prop:"

  /** Companion access to the instance's optimistic metadata rebase —
    * the procedures (which hold the catalog) persist engine keys like
    * the S36 column stats through the same loop every ALTER uses. */
  private[sources] def alterMetaAt(cat: GraftCatalog, dir: String,
      f: Map[String, String] => Map[String, String],
      validate: Long => Unit = _ => ()): Unit =
    cat.alterMeta(dir, f, validate)
  private[sources] val ClusterByKey = "clusterBy"

  /** Spark-managed bookkeeping props that must not persist as user
    * properties; `option.`-prefixed entries persist with the prefix
    * stripped (they ARE the table's write options). */
  private val Reserved = Set(TableCatalog.PROP_PROVIDER,
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_COLLATION)

  private def persistedProps(
      properties: java.util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap.view
      .filterKeys(k => !Reserved.contains(k)).toMap
      .map { case (k, v) =>
        (if (k.startsWith(TableCatalog.OPTION_PREFIX))
           k.stripPrefix(TableCatalog.OPTION_PREFIX)
         else k) -> v
      }
}
