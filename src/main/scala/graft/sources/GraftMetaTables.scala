package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S28 — SQL-queryable metadata tables for manifest tables, addressed
  * with the `$`-suffix convention:
  *
  * {{{
  * SELECT * FROM cat.lake.`t$history`     -- (version, committed_at, n_paths)
  * SELECT * FROM cat.lake.`t$files`      -- (path, rows, stats)
  * SELECT * FROM cat.lake.`t$properties` -- (key, value) — ALL meta, engine keys included
  * }}}
  *
  * Each is built DRIVER-SIDE from one manifest listing (metadata only —
  * no data file is opened, so `t$files` over a 100 TB table costs the
  * same as over an empty one) and served through a [[LocalScan]]: the
  * rows never ship to an executor, Spark folds them as a local
  * relation. This is the observability surface every serious table
  * format exposes (Iceberg's metadata tables, Delta's DESCRIBE
  * HISTORY) — operators debug skipped-dir counts, retention, and
  * clustering state with plain SQL instead of engine APIs. */
object GraftMetaTables {

  /** The metadata table for `dir` named by `suffix`, or None for an
    * unknown suffix (the catalog then reports NoSuchTable). */
  def of(spark: SparkSession, fs: FileSystem, dir: String,
         fullName: String, suffix: String): Option[Table] =
    suffix match {
      case "history" => Some(history(spark, fs, dir, fullName))
      case "files" => Some(files(spark, fs, dir, fullName))
      case "properties" => Some(properties(spark, fs, dir, fullName))
      case "changes" => Some(GraftChangesStub(dir, fullName,
        changesSchema(spark, fs, dir)))
      case "branches" => Some(branches(spark, fs, dir, fullName))
      case _ => None
    }

  /** S49 — `t$branches`: one row per live WAP branch (name, the parent
    * version it was cut at, its own head version, whether a publish
    * can still merge — the base version must remain retained on the
    * parent; conflicts vs parent commits are decided at publish). */
  private def branches(spark: SparkSession, fs: FileSystem, dir: String,
                       name: String): GraftLocalTable = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false),
      StructField("publishable", BooleanType, nullable = false)))
    ManifestTable.headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $dir")): Unit
    val retained = ManifestTable.versions(fs, dir).toSet
    val rows = ManifestTable.branches(spark, dir).map {
      case (bname, base, head) =>
        new GenericInternalRow(Array[Any](utf8(bname), base, head,
          retained.contains(base))): InternalRow
    }
    GraftLocalTable(name, schema, rows.toArray)
  }

  /** `t$changes` schema: the table's declared shape plus the feed
    * columns. */
  private def changesSchema(spark: SparkSession, fs: FileSystem,
                            dir: String): StructType = {
    val head = ManifestTable.headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $dir"))
    ManifestTable.schemaAt(spark, dir, ManifestTable.snapshotOf(fs, dir, head))
      .add("change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)
  }

  /** S32 — the table's full RETAINED change history as one frame: for
    * each adjacent retained version pair, the S17 row-level diff feed
    * ([[ManifestTable.changes]]) tagged `_commit_version` = the newer
    * version. Consumers filter `WHERE _commit_version > x` to tail.
    * Cost ∝ CHANGED dirs per step (immutable dirs listed by both
    * manifests cancel without being read), and the pair count is
    * bounded by the retention window — history older than retention is
    * not diffable, same contract as Delta's CDF after VACUUM. A feed
    * across a schema evolution null-fills the added columns on
    * pre-evolution rows (union-by-name to the head shape). */
  private[graft] def changesFeed(spark: SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    changesFeedRange(spark, dir, Long.MinValue, Long.MaxValue)

  /** [[changesFeed]] bounded to commit versions in `(loV, hiV]` — the
    * X14 streaming source's per-micro-batch slice. Adjacent RETAINED
    * pairs only; the caller validates that its lower bound is still
    * retained (a GC'd diff base means silently lost changes). */
  private[graft] def changesFeedRange(spark: SparkSession, dir: String,
                                      loV: Long, hiV: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val vs = ManifestTable.versions(fs, dir)
    require(vs.nonEmpty, s"no committed manifest at $dir")
    val outSchema = changesSchema(spark, fs, dir)
    val outCols = outSchema.fieldNames.toIndexedSeq.map(col)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // RENAME alignment (S42): a pair predating a rename emits the OLD
    // logical name; the union-by-name would silently null-fill the
    // head's new name for those rows. A renamed column keeps its
    // PHYSICAL identity, so align each pair's names to the head's
    // logical names through it (a column dropped by head simply falls
    // out in the final select — the feed's shape is the head's).
    val headCmap = ManifestTable.colMapOf(fs, dir, vs.last)
    val physToHead = headCmap.map(_.swap)
    def aligned(df: org.apache.spark.sql.DataFrame, v: Long)
        : org.apache.spark.sql.DataFrame = {
      if (physToHead.isEmpty) return df
      val cmapV = ManifestTable.colMapOf(fs, dir, v)
      val renames = df.columns.flatMap { c =>
        if (c == "change_type" || c == "_commit_version") None
        else {
          val headName = physToHead.getOrElse(cmapV.getOrElse(c, c), c)
          if (headName != c) Some(c -> headName) else None
        }
      }.toMap
      if (renames.isEmpty) df else df.withColumnsRenamed(renames)
    }
    // version 1's base is the EMPTY pre-table: its changes are its
    // full content as inserts (only constructible while v1 is itself
    // retained — a retained head above 1 means real history was GC'd)
    val v1Feed =
      if (vs.headOption.contains(1L) && 1L > loV && 1L <= hiV &&
          ManifestTable.pathsOf(fs, dir, 1L).nonEmpty)
        Seq(aligned(ManifestTable.readVersion(spark, dir, 1L), 1L)
          .withColumn("change_type", lit("insert"))
          .withColumn("_commit_version", lit(1L)))
      else Seq.empty
    (v1Feed ++ vs.zip(vs.drop(1))
      .filter { case (_, b) => b > loV && b <= hiV }
      .map { case (a, b) =>
        // the pair feed's names are the newer endpoint's (changes
        // anchors its schema there)
        aligned(ManifestTable.changes(spark, dir, a, b), b)
          .withColumn("_commit_version", lit(b))
      })
      .foldLeft(empty)((acc, f) =>
        acc.unionByName(f, allowMissingColumns = true))
      .select(outCols: _*)
  }

  /** The `t$changes` / streaming-CDC output shape for `dir`. */
  private[graft] def changesSchemaOf(spark: SparkSession,
                                     dir: String): StructType = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    changesSchema(spark, fs, dir)
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def history(spark: SparkSession, fs: FileSystem, dir: String,
                      name: String): GraftLocalTable = {
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("n_paths", IntegerType, nullable = false),
      // r20 — CDC observability: how this version's feed step serves.
      // "staged" = write-time change files; "empty" = provably empty;
      // "degraded" = staging FAILED and the step reads as the manifest
      // diff (paired update images degrade to delete+insert — the
      // consumer-visible flag the r19 silent Try fallback lacked);
      // null = no materialized-feed record (table not opted in, or a
      // pre-materialize version)
      StructField("feed_mode", StringType, nullable = true)))
    val rows = ManifestTable.versionTimes(fs, dir).flatMap { case (v, millis) =>
      // the GC race window extends to the body read (same rule as
      // ManifestTable.history) — a vanished version is not history
      try {
        val mode = ManifestTable.metaOf(fs, dir, v)
          .get(ManifestTable.CdcDataPrefix + v) match {
          case Some(ManifestTable.CdcEmptyToken) => utf8("empty")
          case Some(ManifestTable.CdcDegradedToken) => utf8("degraded")
          case Some(_) => utf8("staged")
          case None => null
        }
        Some(new GenericInternalRow(Array[Any](v, millis * 1000L,
          ManifestTable.pathsOf(fs, dir, v).length, mode)): InternalRow)
      } catch { case _: java.io.IOException => None }
    }
    GraftLocalTable(name, schema, rows.toArray)
  }

  private def files(spark: SparkSession, fs: FileSystem, dir: String,
                    name: String): GraftLocalTable = {
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("stats", StringType, nullable = true),
      // S41 — position records masking this dir's rows (null = no dv);
      // `rows` stays the PHYSICAL count, so an operator reads the
      // outstanding merge-on-read debt (and the next compaction's
      // cleanup scope) straight off the listing
      StructField("masked_positions", LongType, nullable = true),
      // S44 — PHYSICAL column names this dir's bloom point index
      // covers (comma-joined; null = unindexed — e.g. a CoW dir
      // written before bloomCols was declared, or one past the
      // size cap): point-lookup coverage straight off the listing
      StructField("bloom_cols", StringType, nullable = true)))
    val head = ManifestTable.headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $dir"))
    val snap = ManifestTable.snapshotOf(fs, dir, head)
    val rows = snap.paths.map { p =>
      val payload = snap.stats.get(p)
      val nRows = payload.flatMap(ManifestTable.rowsIn)
      val json = payload.map(statsJson)
      val masked = snap.dv.get(p)
        .map(pl => ManifestTable.dvEntries(pl).map(_._2).sum)
      val bloomCols = snap.bloom.get(p)
        .map(pl => ManifestTable.bloomEntries(pl).keys.toSeq.sorted
          .mkString(","))
      new GenericInternalRow(Array[Any](utf8(p),
        nRows.map(Long.box).orNull,
        json.map(utf8).orNull,
        masked.map(Long.box).orNull,
        bloomCols.map(utf8).orNull)): InternalRow
    }
    GraftLocalTable(name, schema, rows.toArray)
  }

  /** The per-path stats payload as JSON:
    * `{"col":{"min":"...","max":"..."}}` — `null` min/max = the dir
    * has no non-null values for the column. */
  private[sources] def statsJson(payload: String): String = {
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val cols = ManifestTable.statColsIn(payload)
    cols.map { c =>
      val (_, mn, mx) = ManifestTable.statsFor(payload, c).get
      def j(o: Option[String]) = o.map(v => "\"" + esc(v) + "\"").getOrElse("null")
      "\"" + esc(c) + "\":{\"min\":" + j(mn) + ",\"max\":" + j(mx) + "}"
    }.mkString("{", ",", "}")
  }

  /** The computed `advice:*` keys `$properties` surfaces (and `CALL
    * system.maintain` acts on) — never stored, so each clears the
    * moment the maintenance it recommends lands.
    *  - `advice:analyze` (S37): the analyzed rowcount drifted ≥2× from
    *    the live rowcount (both free from the manifest).
    *  - `advice:compact` (S41): standing deletion-vector positions
    *    exceed 10% of the physical rows — reads pay the mask tax until
    *    OPTIMIZE materializes them away. */
  /** The ONE ≥2× staleness rule `advice:analyze` fires on and the
    * compaction auto-refresh keys off — shared so the advisory loop
    * and `GraftProcedures.refreshStaleStats` can never drift apart
    * (r20 review find: the refresh hand-negated this predicate). */
  private[sources] def statsDrifted(analyzed: Long, live: Long): Boolean = {
    val (a, l) = (analyzed.toDouble max 1.0, live.toDouble max 1.0)
    l >= 2.0 * a || a >= 2.0 * l
  }

  /** Physical rowcount summed from the per-dir stats lanes — None when
    * any dir is unstatted (no free answer). Shared by the advisory
    * loop and the compaction auto-refresh. */
  private[sources] def liveRowCount(fs: FileSystem, dir: String,
                                    head: Long): Option[Long] = {
    val liveStats = ManifestTable.statsOf(fs, dir, head)
    val counts = ManifestTable.pathsOf(fs, dir, head)
      .map(p => liveStats.get(p).flatMap(ManifestTable.rowsIn))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  private[sources] def advisories(spark: SparkSession, fs: FileSystem,
                                  dir: String, head: Long)
      : Seq[(String, String)] = {
    val meta = ManifestTable.metaOf(fs, dir, head)
    val physical = liveRowCount(fs, dir, head)
    val analyzeAdvice: Option[(String, String)] = for {
      analyzed <- meta.get(ManifestTable.TableStatKey).flatMap(_.toLongOption)
      live <- physical
      if statsDrifted(analyzed, live)
    } yield "advice:analyze" ->
      (s"column stats analyzed at $analyzed rows but table now " +
        s"holds $live — re-run CALL system.analyze")
    val dv = ManifestTable.dvOf(fs, dir, head)
    val compactAdvice: Option[(String, String)] = for {
      p <- physical
      if dv.nonEmpty
      masked = ManifestTable.dvDeletedRows(dv)
      if masked.toDouble >= 0.1 * math.max(1L, p)
    } yield "advice:compact" ->
      (s"$masked deletion-vector positions stand against $p " +
        "physical rows — reads pay the mask tax until " +
        "CALL system.compact materializes them away")
    // advice:bloom — an ANALYZED scatter column (NDV ≈ rows: ids,
    // urls, hashes) over several dirs without a bloom index: min/max
    // stats provably cannot prune its point lookups (every dir's range
    // covers the keyspace). Advisory ONLY — maintain never auto-acts:
    // an index is a write-amplification policy call the operator owns.
    val bloomAdvice: Seq[(String, String)] = {
      val indexed = meta.get(GraftCatalog.PropPrefix + "bloomCols")
        .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
      val nDirs = ManifestTable.pathsOf(fs, dir, head).length
      val eligible = ManifestTable.declaredSchemaOf(spark, dir, head)
        .map(_.fields.filter(f => f.dataType match {
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType => true
          case _ => false
        }).map(_.name).toSet).getOrElse(Set.empty)
      for {
        live <- physical.toSeq
        if nDirs >= 4
        (k, v) <- meta.toSeq.sortBy(_._1)
        c = k.stripPrefix(ManifestTable.ColStatPrefix)
        if k.startsWith(ManifestTable.ColStatPrefix) &&
          !indexed.contains(c) && eligible.contains(c)
        ndv <- v.split(",").headOption.flatMap(_.toLongOption)
        if ndv.toDouble >= 0.5 * math.max(1L, live)
      } yield "advice:bloom" ->
        (s"column $c: analyzed NDV $ndv of $live rows scatters across " +
          s"$nDirs dirs — min/max stats cannot prune its point " +
          "lookups; consider TBLPROPERTIES ('bloomCols'='" + c + "')")
    }
    analyzeAdvice.toSeq ++ compactAdvice.toSeq ++ bloomAdvice.take(1)
  }

  private def properties(spark: SparkSession, fs: FileSystem, dir: String,
                         name: String): GraftLocalTable = {
    val schema = StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false)))
    val head = ManifestTable.headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $dir"))
    val meta = ManifestTable.metaOf(fs, dir, head)
    // engine: keys are JVM-wide runtime telemetry, not stored table
    // state — here the snapshot-cache counters, so a session can see
    // whether the per-operation manifest parse is amortizing
    // (ScaleKnobs.SnapshotCacheEntries sizes the cache)
    val (cacheHits, cacheMisses) = ManifestTable.snapshotCacheStats
    val engine = Seq(
      "engine:snapshotCacheHits" -> cacheHits.toString,
      "engine:snapshotCacheMisses" -> cacheMisses.toString)
    val rows = (meta ++ advisories(spark, fs, dir, head) ++ engine)
      .toSeq.sortBy(_._1).map {
        case (k, v) =>
          new GenericInternalRow(Array[Any](utf8(k), utf8(v))): InternalRow
      }
    GraftLocalTable(name, schema, rows.toArray)
  }
}

/** The `t$changes` placeholder the catalog returns: the CDC feed needs
  * a real query plan (a signed-aggregation diff — shuffles the V2 Table
  * API cannot serve from a scan), so the injected
  * [[graft.plans.GraftChangesRule]] swaps this relation for the
  * computed plan during analysis — the same relation-substitution seam
  * Delta's CDF rides. Reading it without the extension installed fails
  * with the conf to set, never silently. */
case class GraftChangesStub(dir: String, tableName: String,
                            tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new UnsupportedOperationException(
      "t$changes is served by the graft session extension — set " +
        "spark.sql.extensions=graft.GraftExtensions")
}

/** A read-only table serving driver-built rows through [[LocalScan]] —
  * Spark plans it as a local relation, no executor involved. Used for
  * the `$`-suffixed metadata tables and procedure results. */
case class GraftLocalTable(tableName: String, tableSchema: StructType,
                           localRows: Array[InternalRow])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => GraftLocalScanImpl(tableSchema, localRows)
}

case class GraftLocalScanImpl(tableSchema: StructType,
                              localRows: Array[InternalRow]) extends LocalScan {
  override def rows(): Array[InternalRow] = localRows
  override def readSchema(): StructType = tableSchema
}
