package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-pointer table commit — the atomic-swap primitive behind the
  * S14 compaction job and the X9 upsert sink (SURVEY.md §2.1 S14, §2.10
  * X9; the swap-point both scaladocs previously documented as a known
  * non-atomic window).
  *
  * Layout under a table directory:
  * {{{
  *   tableDir/_manifests/m-000000000042   // one file per committed version
  *   tableDir/c-<uuid>/...                // immutable data dirs, never renamed
  * }}}
  * A manifest is a text file listing the RELATIVE data paths that make up
  * that version of the table, one per line. The live version is simply the
  * highest-numbered manifest. Committing version N+1 is: write the full
  * manifest to a temp name, then one `FileSystem.rename` to the final
  * `m-<N+1>` name — rename-to-a-fresh-name is atomic on HDFS and on local
  * POSIX filesystems, so a reader listing `_manifests` sees either N or
  * N+1, each describing a COMPLETE table. Data files are written before
  * the manifest that references them and are never moved or rewritten
  * afterwards, so every path a resolved manifest names exists in full.
  * This is the same pointer-file protocol the transactional table formats
  * (Iceberg metadata versions, Delta's _delta_log) use, reduced to the
  * minimum these two operators need.
  *
  * Readers racing a commit therefore always see a complete snapshot —
  * including across X9's many buckets, which previously swapped
  * per-bucket and could expose a mixed pre/post-merge view. GC keeps the
  * newest `retainGenerations` manifests AND their data (default 2: the
  * new version plus its predecessor), so a reader that resolved the
  * previous manifest just before a commit can still finish its scan. A
  * production multi-reader deployment layers the TIME-based policy on
  * top ([[minRetainMs]]): any version younger than the window survives
  * GC regardless of generation count, so a reader bounded by a max scan
  * duration is safe by construction.
  *
  * Writer concurrency: [[commit]] retries with the next version number if
  * the slot-claim finds it taken (two racing writers serialize; last
  * committed pointer wins — enough for S14's private temp table and X9's
  * sequential micro-batch loop). Multi-writer MERGE goes through
  * [[commitIf]] instead: publish version base+1 as an atomic put-if-absent
  * and report a conflict rather than taking the next slot, so
  * [[MergeInto.applyBatch]] can REBASE (re-read the new head, rewrite,
  * retry) — the Delta/Iceberg optimistic protocol; no update is lost and
  * single-writer tables pay nothing. A writer that crashes before its
  * commit leaves only an unreferenced `c-` dir; GC deletes it once it
  * ages past [[orphanGraceMs]] (never instantly — "unreferenced" is also
  * what another writer's IN-FLIGHT commit looks like).
  */
object ManifestTable {

  private val ManifestDirName = "_manifests"
  private val ManifestRe = "^m-([0-9]{12})$".r

  private def fsOf(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(tableDir: String) = new Path(tableDir, ManifestDirName)

  private def versionOf(name: String): Option[Long] = name match {
    case ManifestRe(v) => Some(v.toLong)
    case _             => None
  }

  private def manifestName(v: Long): String = f"m-$v%012d"

  // JVM-wide count of head LISTINGS (the per-operation metadata RPC an
  // object store bills — the manifest BODY parse is snapshot-cached,
  // the listing is not): a spec can assert a write's planning path
  // resolves the head once instead of once per sub-step (r20).
  private val versionListings = new java.util.concurrent.atomic.AtomicLong
  private[graft] def versionListingCount: Long = versionListings.get()

  /** All committed versions at `tableDir`, ascending (empty if none). */
  def versions(fs: FileSystem, tableDir: String): Seq[Long] = {
    versionListings.incrementAndGet(): Unit
    val dir = manifestDir(tableDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(st => versionOf(st.getPath.getName)).sorted
  }

  private val SchemaHeader = "#schema "

  private def manifestLines(fs: FileSystem, tableDir: String,
                            v: Long): Seq[String] = {
    val in = fs.open(new Path(manifestDir(tableDir), manifestName(v)))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** ONE parse of a version's manifest, every channel split out — the
    * read path's metadata unit. The per-channel accessors ([[pathsOf]],
    * [[schemaOf]], [[statsOf]], [[metaOf]], [[dvOf]], [[colMapOf]]) all
    * route through [[snapshotOf]], which reads the immutable file once
    * and serves it from a small file-identity-keyed cache across
    * operations — at 100 TB the manifest parse is the table-agnostic
    * fixed cost of every query, paid once per (file, version) instead
    * of once per channel per operation. */
  private[graft] final case class Snapshot(version: Long,
      paths: Seq[String], schemaDdl: Option[String],
      stats: Map[String, String], meta: Map[String, String],
      dv: Map[String, String],
      bloom: Map[String, String] = Map.empty) {
    def cmap: Map[String, String] = meta.collect {
      case (k, phys) if k.startsWith(ColMapPrefix) =>
        k.stripPrefix(ColMapPrefix) -> phys
    }
    def declared: Option[org.apache.spark.sql.types.StructType] =
      schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
  }

  /** Cross-operation snapshot cache, keyed on the manifest FILE's
    * identity — (dir, version, mtime, length) — not on (dir, version)
    * alone: committed manifests are immutable, but DROP TABLE +
    * CREATE at the same path RESTARTS version numbering, and a
    * recreated version is a different file (different mtime/length).
    * Same-JVM drops also invalidate explicitly ([[invalidateSnapshots]])
    * so even a same-millisecond, same-length recreation cannot serve
    * stale; cross-JVM, the manifest's random-length [[NonceHeader]]
    * padding de-correlates byte lengths so a recreation colliding on
    * (version, mtime granule, length) is a <1/128 accident even on
    * 1s-granularity stores. A GC'd version behaves exactly like the
    * uncached read: the identity probe's getFileStatus throws
    * FileNotFound. */
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), Snapshot](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), Snapshot])
          : Boolean = size() > graft.ScaleKnobs.SnapshotCacheEntries
    }

  /** Drop every cached snapshot of `tableDir` — called by the catalog's
    * DROP TABLE so a same-path CREATE can never race the file-identity
    * key's mtime granularity. */
  private[graft] def invalidateSnapshots(tableDir: String): Unit =
    snapCache.synchronized {
      val it = snapCache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == tableDir) it.remove()
    }

  // JVM-wide hit/miss telemetry for the snapshot cache, surfaced by
  // `$properties` (engine: keys) — a session can VERIFY the fixed
  // per-operation metadata cost is actually amortizing instead of
  // guessing from timings. Monotonic since JVM start, all tables.
  private val snapCacheHits = new java.util.concurrent.atomic.AtomicLong
  private val snapCacheMisses = new java.util.concurrent.atomic.AtomicLong
  private[graft] def snapshotCacheStats: (Long, Long) =
    (snapCacheHits.get(), snapCacheMisses.get())

  private[graft] def snapshotOf(fs: FileSystem, tableDir: String,
                                v: Long): Snapshot = {
    val st = fs.getFileStatus(new Path(manifestDir(tableDir), manifestName(v)))
    val key = (tableDir, v, st.getModificationTime, st.getLen)
    val hit = snapCache.synchronized(Option(snapCache.get(key)))
    hit.foreach(_ => snapCacheHits.incrementAndGet(): Unit)
    hit.getOrElse {
      snapCacheMisses.incrementAndGet(): Unit
      val snap = parseSnapshot(fs, tableDir, v)
      snapCache.synchronized(snapCache.put(key, snap)): Unit
      snap
    }
  }

  private def parseSnapshot(fs: FileSystem, tableDir: String,
                            v: Long): Snapshot = {
    val allLines = manifestLines(fs, tableDir, v)
    // integrity gate: refuse a bit-rotted root pointer loudly (the
    // alternative is silently-wrong prunes or a missing-dir read error
    // blamed on the data); crc-less manifests (older commits) pass
    val lines = allLines.filterNot(_.startsWith(CrcHeader))
    allLines.find(_.startsWith(CrcHeader)).foreach { cl =>
      val want = cl.stripPrefix(CrcHeader).trim
      val got = crcOfLines(lines).toString
      if (want != got) throw new GraftManifestRefusedException(
        s"manifest ${manifestName(v)} at $tableDir is corrupt: " +
          s"recorded crc $want, computed $got — refusing to serve; " +
          "restore the file from a replica or time-travel below it")
    }
    val meta = lines.filter(_.startsWith(MetaHeader)).flatMap { l =>
      val rest = l.stripPrefix(MetaHeader)
      val i = rest.indexOf('\t')
      if (i <= 0) None
      else Some(java.net.URLDecoder.decode(rest.take(i), "UTF-8") ->
        java.net.URLDecoder.decode(rest.drop(i + 1), "UTF-8"))
    }.toMap
    // protocol gate — a version demanding reader features this engine
    // lacks must fail HERE, the one choke point every surface (scan,
    // time travel, streaming, maintenance, even a writer reading its
    // base) passes through, not deep in some lane parser
    val unknown = unknownOf(meta, RequireReaderKey, SupportedReaderFeatures)
    if (unknown.nonEmpty) throw new GraftManifestRefusedException(
      s"table at $tableDir (version $v) requires reader feature(s) " +
        s"${unknown.mkString(", ")} this engine does not support — " +
        "reading could return wrong results; upgrade the engine")
    def channel(header: String): Map[String, String] =
      lines.filter(_.startsWith(header)).map { l =>
        val rest = l.stripPrefix(header)
        val i = rest.indexOf('\t')
        rest.take(i) -> rest.drop(i + 1)
      }.toMap
    Snapshot(v,
      paths = lines.filterNot(_.startsWith("#")),
      schemaDdl = lines.find(_.startsWith(SchemaHeader))
        .map(_.stripPrefix(SchemaHeader)),
      stats = channel(StatsHeader), meta = meta, dv = channel(DvHeader),
      bloom = channel(BloomHeader))
  }

  /** Relative data paths of manifest version `v` (header lines skipped).
    * A SHALLOW-CLONED table ([[shallowClone]]) lists ABSOLUTE entries
    * (they live under the source table's dir) — resolve through
    * [[absPath]], never bare string concatenation. */
  def pathsOf(fs: FileSystem, tableDir: String, v: Long): Seq[String] =
    snapshotOf(fs, tableDir, v).paths

  /** True iff a manifest entry addresses a dir OUTSIDE this table's own
    * directory (an absolute path or a schemed URI like `file:/...` —
    * the shallow-clone case; engine-written relative entries are
    * `<cid>[/<sub>]` and never contain ':'). */
  private[graft] def isForeign(p: String): Boolean =
    p.startsWith("/") || p.contains(":/")

  /** A manifest entry as a readable location: relative entries resolve
    * under the table dir; foreign (clone) entries stand alone. */
  private[graft] def absPath(tableDir: String, p: String): String =
    if (isForeign(p)) p else s"$tableDir/$p"

  /** The schema DDL a version was committed with, if the writer declared
    * one (a `#schema <ddl>` header line). Tracking the schema in table
    * METADATA — not in data-file footers — is what the transactional
    * formats do, and it is the scale answer to both problems a
    * footer-derived schema has at 100 TB: reading one sampled footer
    * silently DROPS columns added after that file was written, and
    * `mergeSchema` reads every footer in the table. A declared schema
    * costs one metadata line and null-fills older dirs per ordinary
    * parquet missing-column semantics. */
  def schemaOf(fs: FileSystem, tableDir: String, v: Long): Option[String] =
    snapshotOf(fs, tableDir, v).schemaDdl

  private val StatsHeader = "#stats\t"

  /** Per-path column statistics of version `v`: relPath → encoded
    * payload (`<rows>` then `\t<col>\t<min>\t<max>` per stats column;
    * values URL-encoded, `%N` = null = no non-null values). Stats are
    * `#`-prefixed header lines, so [[pathsOf]] and every pre-stats
    * reader skip them — a manifest without stats is simply never
    * pruned (conservative), same forward/backward story as `#schema`. */
  def statsOf(fs: FileSystem, tableDir: String, v: Long): Map[String, String] =
    snapshotOf(fs, tableDir, v).stats

  private val MetaHeader = "#meta\t"

  /** Small key→value metadata carried in a version's manifest header
    * (`#meta\t<key>\t<value>`, both URL-encoded). The transactional-
    * writer channel: [[graft.streaming.Streams.appendSink]] records its
    * `txn:<appId>` → batchId watermark here so a micro-batch replayed
    * after a crash (committed manifest, unacked checkpoint) is
    * recognized and skipped — Delta's (txnAppId, txnVersion)
    * idempotent-write contract. Pre-meta readers skip the `#` lines;
    * [[append]] carries the prior version's meta forward the same way
    * it carries stats. */
  def metaOf(fs: FileSystem, tableDir: String, v: Long): Map[String, String] =
    snapshotOf(fs, tableDir, v).meta

  private[graft] val StatsZoneKey = "statsZone"

  /** The timezone TIMESTAMP stats strings are encoded in: the zone
    * pinned by the first timestamp-stats writer ([[StatsZoneKey]]
    * meta), else the current session's. Readers must render pushed
    * literals in THIS zone — rendering in their own session zone
    * mis-prunes dirs the moment the two differ (cross-session-TZ
    * wrong-rows class). */
  private[graft] def statsZoneOf(spark: SparkSession, fs: FileSystem,
                                 tableDir: String, v: Long): java.time.ZoneId =
    metaOf(fs, tableDir, v).get(StatsZoneKey).map(java.time.ZoneId.of)
      .getOrElse(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone))

  private val NullTok = "%N" // URLEncoder never emits '%' + non-hex

  private[sources] def encTok(o: Any): String =
    if (o == null) NullTok
    else java.net.URLEncoder.encode(o.toString, "UTF-8")

  private def decTok(t: String): Option[String] =
    if (t == NullTok) None
    else Some(java.net.URLDecoder.decode(t, "UTF-8"))

  /** The recorded row count of one path's stats payload, if parseable. */
  private[graft] def rowsIn(payload: String): Option[Long] = {
    val tok = payload.takeWhile(_ != '\t')
    try Some(tok.toLong) catch { case _: NumberFormatException => None }
  }

  /** Marker token opening the payload's NULL-COUNT section:
    * `...triples\t#nulls\t<col>\t<n>[...]`. A raw `#` token can never
    * collide with [[encTok]] output (URLEncoder renders '#' as `%23`),
    * so the triples parser stops at it unambiguously. Payloads written
    * before the lane simply have no section — every reader treats the
    * absent lane as "nulls untracked" (conservative, like all stats). */
  private val NullsMarker = "#nulls"

  /** Marker token opening the payload's NDV-SKETCH section (S53):
    * `...\t#ndv\t<col>\t<sketchB64>[...]` — per-column HLL sketch
    * bytes (url-safe base64, the DataSketches HLL family Spark's own
    * `hll_sketch_agg` emits). Written by `CALL system.analyze` in
    * approx mode, which is what makes re-ANALYZE incremental: dirs
    * already carrying a sketch merge without being read. Same
    * forward/backward story as `#nulls` — absent section = "not
    * sketched yet". */
  private[sources] val NdvMarker = "#ndv"

  /** A payload's token list split at the section markers:
    * (triple tokens, null-pair tokens, ndv-pair tokens). Every section
    * parser stops at the NEXT `#`-led token, so sections added later
    * never leak into earlier parsers. */
  private def splitStatsToks(toks: Array[String])
      : (Seq[String], Seq[String], Seq[String]) = {
    def section(marker: String): Seq[String] = {
      val i = toks.indexOf(marker)
      if (i < 0) Seq.empty
      else toks.drop(i + 1).takeWhile(!_.startsWith("#")).toSeq
    }
    val firstMarker = toks.indexWhere(_.startsWith("#"))
    val triples = (if (firstMarker < 0) toks else toks.take(firstMarker)).toSeq
    (triples, section(NullsMarker), section(NdvMarker))
  }

  /** `column`'s recorded HLL sketch bytes in a payload, when ANALYZE
    * sketched it (absent → the dir must be read to contribute NDV). */
  private[graft] def ndvSketchFor(payload: String,
                                  column: String): Option[Array[Byte]] =
    splitStatsToks(payload.split('\t'))._3.grouped(2).collectFirst {
      case Seq(c, b) if decTok(c).contains(column) =>
        try Some(java.util.Base64.getUrlDecoder.decode(b))
        catch { case _: IllegalArgumentException => None }
    }.flatten

  /** `payload` with the given (column, sketch bytes) pairs merged into
    * its `#ndv` section (replacing those columns' previous sketches,
    * keeping the others). */
  private[sources] def withNdvSketches(payload: String,
      add: Seq[(String, Array[Byte])]): String = {
    val toks = payload.split('\t')
    val (triples, nulls, ndv) = splitStatsToks(toks)
    val addKeys = add.map(_._1).toSet
    val kept = ndv.grouped(2).collect {
      case Seq(c, b) if !decTok(c).exists(addKeys.contains) => Seq(c, b)
    }.flatten.toSeq
    val fresh = add.flatMap { case (c, bytes) =>
      Seq(encTok(c),
        java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bytes)) }
    val n = (triples ++
      (if (nulls.isEmpty) Seq.empty else NullsMarker +: nulls) ++
      (if (kept.isEmpty && fresh.isEmpty) Seq.empty
       else NdvMarker +: (kept ++ fresh)))
    n.mkString("\t")
  }

  /** Publish extended stats payloads (the ANALYZE sketch pass) as one
    * pointer commit: same paths, same meta/dv, per-dir payloads merged
    * with the fresh `#ndv` sections. Optimistic: racing appends rebase
    * this update (their new dirs simply have no sketch yet). */
  private[sources] def recordNdvSketches(spark: SparkSession,
      tableDir: String,
      sketches: Map[String, Seq[(String, Array[Byte])]]): Long = {
    val fs = fsOf(spark, tableDir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 100, s"analyze sketch contention at $tableDir")
      val head = versions(fs, tableDir).last
      val snap = snapshotOf(fs, tableDir, head)
      val stats2 = snap.stats.map { case (p, payload) =>
        sketches.get(p) match {
          case Some(sk) => p -> withNdvSketches(payload, sk)
          case None => p -> payload
        }
      }
      val retain = snap.meta.get(GraftCatalog.PropPrefix + "retainGenerations")
        .flatMap(_.toIntOption).getOrElse(2)
      val committed = commitIf(spark, tableDir, snap.paths, head,
        retainGenerations = retain, schemaDdl = snap.schemaDdl,
        stats = stats2, meta = snap.meta + cdcTag("meta", head + 1),
        dv = snap.dv)
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** S53 WRITE-SIDE lane (opt-in `TBLPROPERTIES ('stats.ndv'='write')`):
    * the columns to HLL-sketch inside the write pass itself, riding
    * the same one-pass stats observation as min/max/nulls — so a later
    * approx ANALYZE is pure metadata even over freshly appended dirs
    * (zero data reads; the incremental path finds every dir already
    * sketched). Deliberately the same expression family as the
    * ANALYZE-side sketcher — `hll_sketch_agg` over `CAST(c AS STRING)`
    * at [[graft.ScaleKnobs.NdvSketchLgK]] — so write-time and
    * analyze-time sketches union. Opt-in (NOTES_r18's argument): the
    * sketch costs a hash per row per tracked column on EVERY ingest,
    * the right trade only for hot tables analyzed often. */
  private[sources] def writeNdvCols(meta: Map[String, String],
                                    statsCols: Seq[String]): Seq[String] =
    if (statsCols.nonEmpty && meta.get(GraftCatalog.PropPrefix + "stats.ndv")
        .exists(_.equalsIgnoreCase("write"))) statsCols
    else Seq.empty

  private[sources] def ndvSketchAggExprs(cols: Seq[String])
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg}
    cols.map(c => hll_sketch_agg(col(c).cast("string"),
      graft.ScaleKnobs.NdvSketchLgK).as(s"ndvsk:$c"))
  }

  /** An all-null (or zero-row) slice persists an EMPTY sketch — same
    * never-re-read guarantee the ANALYZE-side sketcher gives. */
  private[sources] def emptyNdvSketch: Array[Byte] =
    new org.apache.datasketches.hll.HllSketch(
      graft.ScaleKnobs.NdvSketchLgK).toUpdatableByteArray

  private[sources] def ndvSketchCells(cols: Seq[String],
      lane: String => Any): Seq[(String, Array[Byte])] =
    cols.map(c => c -> Option(lane(s"ndvsk:$c"))
      .map(_.asInstanceOf[Array[Byte]]).getOrElse(emptyNdvSketch))

  /** Parse one path's stats payload for `column`: Some((rows, min,
    * max)) when that column was tracked; min/max None = all-null. */
  private[graft] def statsFor(payload: String, column: String)
      : Option[(Long, Option[String], Option[String])] = {
    val toks = payload.split('\t')
    if (toks.isEmpty) return None
    val rows = try toks(0).toLong catch { case _: NumberFormatException => return None }
    splitStatsToks(toks)._1.drop(1).grouped(3).collectFirst {
      case Seq(c, mn, mx) if decTok(c).contains(column) =>
        (rows, decTok(mn), decTok(mx))
    }
  }

  /** `column`'s recorded NULL count in a payload, when the writer
    * tracked the lane (payloads predating it → None). */
  private[graft] def nullsFor(payload: String, column: String): Option[Long] =
    splitStatsToks(payload.split('\t'))._2.grouped(2).collectFirst {
      case Seq(c, n) if decTok(c).contains(column) => n.toLongOption
    }.flatten

  /** Every column a stats payload tracks, in payload order. */
  private[graft] def statColsIn(payload: String): Seq[String] =
    splitStatsToks(payload.split('\t'))._1.drop(1).grouped(3).collect {
      case Seq(c, _, _) => decTok(c)
    }.flatten.toSeq

  /** Stats payload with `from`'s lanes re-keyed to `to` — the RENAME
    * COLUMN commit re-keys every per-dir payload so pruning keeps
    * working against the new logical name (metadata-only: the payloads
    * live in the manifest header). */
  private[sources] def renameStatsCol(payload: String, from: String,
                                      to: String): String = {
    val (triples, nulls, ndv) = splitStatsToks(payload.split('\t'))
    def rekey(c: String) = if (decTok(c).contains(from)) encTok(to) else c
    val t = triples.take(1) ++ triples.drop(1).grouped(3).flatMap {
      case Seq(c, mn, mx) => Seq(rekey(c), mn, mx)
      case other => other
    }
    val n = nulls.grouped(2).flatMap {
      case Seq(c, v) => Seq(rekey(c), v)
      case other => other
    }.toSeq
    val d = ndv.grouped(2).flatMap {
      case Seq(c, v) => Seq(rekey(c), v)
      case other => other
    }.toSeq
    (t ++ (if (n.isEmpty) Seq.empty else NullsMarker +: n) ++
      (if (d.isEmpty) Seq.empty else NdvMarker +: d)).mkString("\t")
  }

  /** Stats payload with `col`'s lanes removed (DROP COLUMN). */
  private[sources] def dropStatsCol(payload: String, col: String): String = {
    val (triples, nulls, ndv) = splitStatsToks(payload.split('\t'))
    val t = triples.take(1) ++ triples.drop(1).grouped(3).flatMap {
      case Seq(c, _, _) if decTok(c).contains(col) => Seq.empty[String]
      case other => other
    }
    val n = nulls.grouped(2).flatMap {
      case Seq(c, _) if decTok(c).contains(col) => Seq.empty[String]
      case other => other
    }.toSeq
    val d = ndv.grouped(2).flatMap {
      case Seq(c, _) if decTok(c).contains(col) => Seq.empty[String]
      case other => other
    }.toSeq
    (t ++ (if (n.isEmpty) Seq.empty else NullsMarker +: n) ++
      (if (d.isEmpty) Seq.empty else NdvMarker +: d)).mkString("\t")
  }

  /** The stats observation lanes for `statsCols` over one output dir:
    * total rows, then per column min / max (cast-to-string) and the
    * NON-NULL count (`cnt:` — the `#nulls` lane's input). One pass,
    * map-side combined, shared by every stats-writing commit path. */
  private[sources] def statsAggExprs(statsCols: Seq[String])
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    count(lit(1)).as("rows") +: statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"min:$c"),
      max(col(c)).cast("string").as(s"max:$c"),
      count(col(c)).as(s"cnt:$c")))
  }

  /** Encode one dir's stats payload from per-column cells:
    * `<rows>\t(<col>\t<min>\t<max>)*\t#nulls\t(<col>\t<nulls>)*` —
    * the single format every stats producer emits (None min/max =
    * `%N` = no non-null values). */
  private[sources] def statsPayloadCells(rows: Long,
      cells: Seq[(String, Option[String], Option[String])],
      nulls: Seq[(String, Long)]): String = {
    val triples = cells.flatMap { case (c, mn, mx) =>
      Seq(encTok(c), mn.map(encTok).getOrElse(NullTok),
        mx.map(encTok).getOrElse(NullTok)) }
    val nn = nulls.flatMap { case (c, n) => Seq(encTok(c), n.toString) }
    (Seq(rows.toString) ++ triples ++
      (if (nn.isEmpty) Seq.empty else NullsMarker +: nn)).mkString("\t")
  }

  /** Encode one dir's stats payload from the observed [[statsAggExprs]]
    * lane values. */
  private[sources] def statsPayloadFrom(rows: Long, statsCols: Seq[String],
                                        lane: String => Any): String =
    statsPayloadCells(rows,
      statsCols.map(c => (c, Option(lane(s"min:$c")).map(_.toString),
        Option(lane(s"max:$c")).map(_.toString))),
      statsCols.map { c =>
        val nonNull = lane(s"cnt:$c").asInstanceOf[Number].longValue
        (c, rows - nonNull)
      })

  // ------------------------------------------------- deletion vectors (S41)

  private val DvHeader = "#dvec\t"
  /** Staging root for deletion-vector parquet (protected `_` prefix —
    * the data sweep never touches it; GC reaps unreferenced names). */
  private[graft] val DvDirName = "_dv"
  /** A deletion-vector file's schema: the masked row's FULLY-QUALIFIED
    * data file URI (exactly as `_metadata.file_path` renders it — files
    * never move, so the URI is stable table metadata) and its row
    * position within that file (`_metadata.row_index` semantics). */
  private[graft] val DvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** Per-path DELETION VECTORS of version `v` (S41, merge-on-read DML):
    * relPath → payload `"<dvDir>@<rows>[,<dvDir>@<rows>...]"` where each
    * dvDir is a parquet dataset of (path, pos) records masking rows of
    * that dir OUT of the logical table, and rows counts that dv's
    * position records. Stacked entries of one dir are pairwise
    * position-DISJOINT — see [[dvDeletedRows]]. `#`-prefixed like stats:
    * a reader that ignores the channel sees the PHYSICAL table, which is
    * why every read surface in this engine resolves it explicitly. */
  def dvOf(fs: FileSystem, tableDir: String, v: Long): Map[String, String] =
    snapshotOf(fs, tableDir, v).dv

  /** Parse one dv payload into (dvDir, positionRows) entries. */
  private[graft] def dvEntries(payload: String): Seq[(String, Long)] =
    payload.split(',').toSeq.flatMap { e =>
      val i = e.lastIndexOf('@')
      if (i <= 0) None
      else e.drop(i + 1).toLongOption.map(n => (e.take(i), n))
    }

  /** Total position records across a version's dvs = the EXACT
    * masked-row count. Exactness rests on two protocol invariants
    * every dv writer upholds. First, each entry's `@<rows>` is the
    * exact record count of its `d=<i>` dataset: [[morRewrite]]
    * observes it on the dv write itself, and the S43 SQL delta write
    * (GraftPositionDeltaWrite) sums the per-file counts its task
    * writers report for exactly the files it moves into `d=<i>`.
    * Second, stacked entries of one dir are pairwise position-disjoint,
    * because (a) both mask producers ([[deleteWhereMoR]]/
    * [[morRewrite]]'s anti-join and the S43 delta task writers, fed by
    * the delta scan) compute new positions against the BASE version's
    * LOGICAL rows — already-masked positions can never re-enter a
    * changeset — and (b) [[publishMorDelta]] aborts (no retry) when a
    * touched dir's dv advanced past the base, so no concurrent writer
    * can stack a mask computed against other masks. S21's
    * metadata-only COUNT(*) under masks and the V2 scan's reported
    * statistics both lean on this arithmetic. */
  private[graft] def dvDeletedRows(dv: Map[String, String]): Long =
    dv.valuesIterator.flatMap(dvEntries(_).map(_._2)).sum

  /** The top-level `_dv/<name>` dirs a dv map references — GC's
    * reference set (values may be foreign/absolute on clones). */
  private def dvTopDirs(dv: Map[String, String]): Set[String] =
    dv.values.flatMap(dvEntries(_).map(_._1)).toSet

  // ------------------------------------------------ bloom point index (S44)

  private val BloomHeader = "#bloomidx\t"

  /** Per-commit random nonce line (see [[manifestBody]]) — carries no
    * state; its random-length padding de-correlates manifest byte
    * lengths so the snapshot cache's (mtime, length) file identity
    * cannot collide across an external DROP+CREATE at the same path. */
  private val NonceHeader = "#nonce\t"

  /** Manifest integrity line: CRC32 over the manifest's NORMALIZED
    * line sequence (trimmed, empties dropped, the crc line itself
    * excluded — exactly [[manifestLines]]' normalization, so writer
    * and reader compute the same value byte-for-byte). The manifest is
    * the table's root pointer: a flipped bit in a path or stats line
    * would otherwise serve silently-wrong prunes or a missing-dir read
    * error blamed on the data. With the line present, [[parseSnapshot]]
    * refuses a corrupt manifest LOUDLY at the choke point; manifests
    * without it (older commits) read unchanged. */
  private val CrcHeader = "#crc\t"
  private def crcOfLines(lines: Seq[String]): Long = {
    val crc = new java.util.zip.CRC32
    crc.update(lines.mkString("\n").getBytes("UTF-8"))
    crc.getValue
  }

  /** A manifest this engine REFUSES to serve — corrupt (crc mismatch)
    * or demanding unknown reader features. Its own exception type so
    * the maintenance paths' conservative guards (gc, orphanReport,
    * taggedVersions: "an unreadable kept manifest means SKIP the
    * sweep, never 'references nothing'") can treat a refusal exactly
    * like a transient read failure WITHOUT swallowing unrelated
    * IllegalArgumentExceptions — while every user-facing read still
    * fails loudly. Otherwise one bit-rotted retained manifest would
    * brick gc forever (and make a commit look failed AFTER its publish
    * landed, the worst kind of lie to a writer). */
  final class GraftManifestRefusedException(msg: String)
      extends IllegalArgumentException(msg)

  /** The exception classes maintenance guards treat as "this manifest
    * cannot be read RIGHT NOW — skip conservatively": transient I/O
    * and this engine's own refusal gates. */
  private def unreadable(t: Throwable): Boolean = t match {
    case _: java.io.IOException | _: GraftManifestRefusedException => true
    case _ => false
  }

  /** Table protocol features (the Delta minReaderVersion/table-features
    * idea): `require:reader` / `require:writer` meta keys carry the
    * comma-joined feature tokens an engine MUST understand to read /
    * write this version without corrupting it. [[manifestBody]] derives
    * both sets from the manifest's own content at commit time (a
    * version using column mapping requires `colmap`, standing masks
    * require `dv`, a `#nulls` stats lane requires `stats-nulls` of
    * writers only — an ignorant reader parses around it, but an
    * ignorant stats re-keyer would mangle it), so the keys can never
    * drift from the state: full compaction clears the masks AND the
    * `dv` token in one commit. Enforcement: [[parseSnapshot]] refuses
    * to serve a snapshot whose reader set this engine doesn't cover
    * (every read AND every write reads its base first), and the commit
    * surfaces refuse to publish over a base demanding unknown writer
    * tokens. The payoff is FORWARD safety: when a future engine adds a
    * format lane, today's binary fails loudly at the choke point
    * instead of silently corrupting the lane it cannot see. */
  private[graft] val RequireReaderKey = "require:reader"
  private[graft] val RequireWriterKey = "require:writer"
  private[graft] val SupportedReaderFeatures: Set[String] =
    Set("colmap", "dv", "col-defaults")
  private[graft] val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures + "stats-nulls"

  private def unknownOf(meta: Map[String, String], key: String,
                        supported: Set[String]): Seq[String] =
    meta.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      .filterNot(supported).sorted

  /** Refuse to publish over a base whose `require:writer` names a
    * feature this engine doesn't implement — a commit would rewrite
    * state (stats payloads, channels) around content it cannot see. */
  private def checkWriterFeatures(tableDir: String,
                                  baseMeta: Map[String, String]): Unit = {
    val unknown = unknownOf(baseMeta, RequireWriterKey, SupportedWriterFeatures)
    require(unknown.isEmpty,
      s"table at $tableDir requires writer feature(s) " +
        s"${unknown.mkString(", ")} this engine does not support — " +
        "committing would corrupt state a newer engine wrote; " +
        "upgrade the engine or stop writers")
  }
  /** Sidecar root for bloom filters (protected `_` prefix — the data
    * sweep never touches it; GC reaps unreferenced names like `_dv`). */
  private[graft] val IdxDirName = "_idx"

  /** Per-path BLOOM POINT INDEXES of version `v` (S44): relPath →
    * payload of `<physColEnc>\t<idxRel>` pairs, where idxRel is an
    * `_idx/<name>/...bloom` sidecar holding a serialized
    * `org.apache.spark.util.sketch.BloomFilter` over the column's
    * CAST-TO-STRING rendering. Keys are PHYSICAL column names, so the
    * index survives RENAME COLUMN by construction. Pruning-only like
    * stats: a reader that ignores the channel just prunes less. */
  def bloomsOf(fs: FileSystem, tableDir: String, v: Long): Map[String, String] =
    snapshotOf(fs, tableDir, v).bloom

  /** Parse one bloom payload into physCol → sidecar relPath. */
  private[graft] def bloomEntries(payload: String): Map[String, String] =
    payload.split('\t').grouped(2).collect {
      case Array(c, rel) => decTok(c).map(_ -> rel)
    }.flatten.toMap

  /** Build bloom sidecars for freshly-written dirs when the table
    * declares `bloomCols` (persisted property) — the point-lookup
    * complement to min/max stats: on a high-cardinality column (id,
    * url, hash) whose values scatter across every dir, range stats
    * prune nothing while a per-dir membership sketch prunes everything
    * that provably lacks the key. One small aggregate job per new dir
    * (cost ∝ the batch, like the stats pass); dirs above
    * [[graft.ScaleKnobs.BloomMaxItems]] recorded rows skip (sidecar
    * size is the constraint; such dirs are no longer point-lookup
    * shaped). Supported column types: string + integral — the types
    * whose cast-to-string rendering the probe side can reproduce
    * exactly from a pushed literal. Returns relPath → payload. */
  private[sources] def buildBloomSidecars(spark: SparkSession,
      tableDir: String, newPaths: Seq[String],
      newStats: Map[String, String],
      headHint: Option[Long] = None): Map[String, String] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val fs = fsOf(spark, tableDir)
    val head = headHint.orElse(versions(fs, tableDir).lastOption)
      .getOrElse(return Map.empty)
    // the hinted planning-path head may be GC-retired by now (same
    // hazard as the commit loop's attempt-1 reads, r20 ADVICE medium):
    // fall to a fresh listing instead of failing the whole write
    def headReads(h: Long) = (metaOf(fs, tableDir, h),
      declaredSchemaOf(spark, tableDir, h), colMapOf(fs, tableDir, h))
    val (meta, declaredOpt, cmap) =
      try headReads(head)
      catch {
        case _: java.io.FileNotFoundException if headHint.contains(head) =>
          versions(fs, tableDir).lastOption match {
            case Some(fresh) => headReads(fresh)
            case None => return Map.empty
          }
      }
    val cols = meta.get(GraftCatalog.PropPrefix + "bloomCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).getOrElse(return Map.empty)
    val fpp = meta.get(GraftCatalog.PropPrefix + "bloomFpp")
      .flatMap(_.toDoubleOption).getOrElse(graft.ScaleKnobs.BloomFpp)
    val declared = declaredOpt.getOrElse(return Map.empty)
    val usable = cols.filter(c => declared.fields.find(_.name == c)
      .exists(_.dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }))
    if (usable.isEmpty) return Map.empty
    def rowsOf(p: String): Long = newStats.get(p).flatMap(rowsIn)
      .getOrElse(graft.ScaleKnobs.BloomDefaultItems)
    val eligible = newPaths.filter(p =>
      rowsOf(p) > 0L && rowsOf(p) <= graft.ScaleKnobs.BloomMaxItems)
    if (eligible.isEmpty) return Map.empty
    // ONE grouped job over every eligible new dir (not one job per
    // dir): a k-dir clustered write pays one pass, same shape as the
    // stats read-back. Filters size to the LARGEST dir of the batch —
    // same-batch dirs are balanced by the range shuffle, so the
    // over-allocation is bounded and buys the single-size single pass.
    val expected = math.max(64L, eligible.map(rowsOf).max)
    val relOf = eligible.map(p =>
      fs.makeQualified(new Path(absPath(tableDir, p))).toString -> p).toMap
    val df = spark.read.schema(toPhysical(declared, cmap))
      .parquet(eligible.map(p => absPath(tableDir, p)): _*)
      .withColumn("__graft_bdir", org.apache.spark.sql.functions
        .regexp_replace(org.apache.spark.sql.functions.input_file_name(),
          "/[^/]*$", ""))
    val aggs = usable.map(c => graft.functions.BloomFilterAgg(
      col(cmap.getOrElse(c, c)).cast("string"), expected, fpp).as(c))
    val grouped = df.groupBy(col("__graft_bdir"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val idxName = "bl-" + java.util.UUID.randomUUID().toString.take(8)
    grouped.zipWithIndex.flatMap { case (r, i) =>
      relOf.get(fs.makeQualified(new Path(r.getString(0))).toString)
        .flatMap { p =>
          val pairs = usable.zipWithIndex.flatMap { case (c, j) =>
            Option(r.get(j + 1)).map(_.asInstanceOf[Array[Byte]]).map { bytes =>
              val phys = cmap.getOrElse(c, c)
              val rel = s"$IdxDirName/$idxName/d$i-${encTok(phys)}.bloom"
              val out = fs.create(new Path(tableDir, rel), true)
              try out.write(bytes) finally out.close()
              Seq(encTok(phys), rel)
            }
          }.flatten
          if (pairs.isEmpty) None else Some(p -> pairs.mkString("\t"))
        }
    }.toMap
  }

  /** Drop every candidate dir whose bloom payload PROVES none of the
    * probe points can be present, per conjunct: a dir survives unless
    * some conjunct has a loaded bloom for its (physical) column and
    * every point is absent. `points` carry PHYSICAL column names and
    * cast-to-string renderings; a missing/corrupt sidecar counts as
    * "no bloom" (conservative — pruning-only, never correctness).
    *
    * Driver-budgeted (this runs during PLANNING): a probe-point set
    * past [[graft.ScaleKnobs.BloomProbeMaxPoints]] skips bloom pruning
    * outright (a huge runtime IN-set is a join, not a point lookup);
    * sidecar loads stop when the caller-owned `budget` drains —
    * candidate dirs past the cutoff pass unpruned. The budget lives
    * WITH the scan (next to its sidecar cache), so the static prune
    * and a later runtime-filter (DPP) prune share ONE
    * [[graft.ScaleKnobs.BloomProbeMaxSidecars]] allowance per scan —
    * not a fresh one per invocation. Loads within budget run on a
    * shared bounded daemon pool instead of one serial `fs.open` per
    * dir (object-store GET latency × dirs is the planning stall that
    * bites first at 100 TB). */
  private[graft] def pruneByBloom(fs: FileSystem, tableDir: String,
      paths: Seq[String], blooms: Map[String, String],
      points: Seq[(String, Set[String])],
      cache: scala.collection.mutable.Map[String,
        Option[org.apache.spark.util.sketch.BloomFilter]],
      budget: java.util.concurrent.atomic.AtomicInteger)
      : Seq[String] = {
    if (blooms.isEmpty || points.isEmpty) return paths
    if (points.map(_._2.size).sum > graft.ScaleKnobs.BloomProbeMaxPoints)
      return paths
    val cols = points.map(_._1).toSet
    // ONE payload parse per candidate dir, reused by both the
    // admission walk and the probe phase below
    val entriesOf: Map[String, Map[String, String]] = paths.map { p =>
      p -> blooms.get(p).map(bloomEntries).getOrElse(Map.empty)
    }.toMap
    // walk dirs in plan order, admitting each while its uncached
    // sidecars fit the scan's remaining budget; everything past the
    // cutoff passes unpruned (prune less, never wrong)
    val toLoad = scala.collection.mutable.LinkedHashSet.empty[String]
    val remaining = budget.get()
    var probeable = paths.length
    var i = 0
    while (i < paths.length && probeable == paths.length) {
      val fresh = entriesOf(paths(i)).view.filterKeys(cols).values
        .toSeq.distinct.filterNot(r =>
          cache.contains(r) || toLoad.contains(r))
      if (toLoad.size + fresh.size > remaining) probeable = i
      else { toLoad ++= fresh; i += 1 }
    }
    if (toLoad.nonEmpty) {
      budget.addAndGet(-toLoad.size): Unit
      val fetched = toLoad.toSeq.map(rel => rel -> metaIoPool.submit(
        new java.util.concurrent.Callable[
            Option[org.apache.spark.util.sketch.BloomFilter]] {
          override def call() = try {
            val in = fs.open(new Path(absPath(tableDir, rel)))
            try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
            finally in.close()
          } catch { case _: Exception => None }
        }))
      fetched.foreach { case (rel, f) => cache.update(rel, f.get()) }
    }
    val (probed, rest) = paths.splitAt(probeable)
    probed.filter { p =>
      val entries = entriesOf(p)
      entries.isEmpty || points.forall { case (c, pts) =>
        entries.get(c).flatMap(cache.getOrElse(_, None)) match {
          case Some(bf) => pts.exists(bf.mightContainString)
          case None => true
        }
      }
    } ++ rest
  }

  /** Shared bounded daemon pool for driver-side metadata I/O — bloom
    * sidecar loads (planning path) and branch-publish move sweeps; a
    * per-invocation pool would churn 8 OS threads per scan. */
  private lazy val metaIoPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      graft.ScaleKnobs.BloomProbeThreads,
      (r: Runnable) => {
        val t = new Thread(r, "graft-meta-io")
        t.setDaemon(true)
        t
      })

  /** Mask `df` (rows of `paths`, read WITH parquet `_metadata`
    * available) by the dv entries covering those paths: anti-join on
    * (file URI, row position). The dv side is small by construction
    * (selective deletes — large deletes take the copy-on-write path),
    * so AQE broadcasts it from its file-size stats. */
  private def maskFrame(spark: SparkSession, tableDir: String,
                        df: DataFrame, dvDirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dvDf = spark.read.schema(DvSchema)
      .parquet(dvDirs.map(absPath(tableDir, _)): _*)
      .select(col("path").as("__graft_dv_path"), col("pos").as("__graft_dv_pos"))
    df.withColumn("__graft_file", col("_metadata.file_path"))
      .withColumn("__graft_pos", col("_metadata.row_index"))
      .join(dvDf, col("__graft_file") === col("__graft_dv_path") &&
        col("__graft_pos") === col("__graft_dv_pos"), "left_anti")
      .drop("__graft_file", "__graft_pos")
  }

  /** Read `paths` of version `v` through the version's deletion
    * vectors — THE logical-read kernel every DataFrame surface uses
    * (plain read, time travel, range scan, compaction input, CoW
    * rewrite input, change-feed sides). Splits the scan: dirs without
    * dvs read plain (no join tax); dv'd dirs anti-join their masks. */
  private[graft] def readMasked(spark: SparkSession, tableDir: String,
                                v: Long, paths: Seq[String],
                                dv: Map[String, String]): DataFrame =
    readMaskedWith(spark, tableDir,
      snapshotOf(fsOf(spark, tableDir), tableDir, v), paths, dv)

  /** [[readMasked]] over an already-parsed snapshot (schema/colmap come
    * from `snap`; `dv` stays a parameter because the change feed reads
    * one version's paths through ANOTHER version's schema anchor). */
  private def readMaskedWith(spark: SparkSession, tableDir: String,
                             snap: Snapshot, paths: Seq[String],
                             dv: Map[String, String]): DataFrame = {
    val dirty = paths.filter(dv.contains)
    if (dirty.isEmpty)
      return readSnap(spark, snap, paths.map(p => absPath(tableDir, p)))
    val clean = paths.filterNot(dv.contains)
    val dvDirs = dirty.flatMap(p => dvEntries(dv(p)).map(_._1)).distinct
    val masked = maskFrame(spark, tableDir,
      readSnap(spark, snap, dirty.map(p => absPath(tableDir, p))),
      dvDirs)
    if (clean.isEmpty) masked
    else readSnap(spark, snap,
      clean.map(p => absPath(tableDir, p))).unionByName(masked)
  }

  /** S42 — column-mapping channel (`colmap:<logical>\t<physical>` meta
    * entries): after a RENAME COLUMN, the column's LOGICAL name (what
    * SQL and the declared schema say) diverges from its PHYSICAL name
    * (what every parquet file stores — frozen at column creation, the
    * Delta column-mapping design). Readers request physical names and
    * alias back; writers rename logical→physical before any parquet
    * write. Empty for tables never renamed — the common case pays
    * nothing. */
  private[graft] val ColMapPrefix = "colmap:"
  /** Tombstones of DROPPED physical names (`dropped:<physical>`): a
    * later ADD COLUMN of the same name would silently RESURRECT the
    * dropped column's values from pre-drop dirs (parquet resolves by
    * name) — the guard refuses it. */
  private[graft] val DroppedPrefix = "dropped:"

  /** S48 — column DEFAULT channels, keyed by PHYSICAL name (so both
    * survive RENAME COLUMN for free, like stats and blooms):
    *  - `default:<phys>` — the CURRENT default's SQL text, applied by
    *    Spark's own INSERT resolution to statements that omit the
    *    column (or write the DEFAULT keyword). Never read-side.
    *  - `defaultx:<phys>` — the EXISTENCE default: the constant the
    *    column's ADD-time default evaluated to, frozen forever (the
    *    Iceberg v3 initial-default / SQL-standard semantics). Dirs
    *    written BEFORE the column existed serve this constant instead
    *    of null — filled by Spark's parquet readers from the
    *    EXISTS_DEFAULT field metadata, zero rewrite.
    * An engine that ignored `defaultx:` would serve nulls where the
    * table contract says the constant — and a compaction through it
    * would MATERIALIZE those nulls — so its presence derives the
    * `col-defaults` READER feature token. */
  private[graft] val DefaultPrefix = "default:"
  private[graft] val ExistsDefaultPrefix = "defaultx:"

  /** S50 — GENERATED ALWAYS AS channel (`gencol:<phys>` → the
    * generation expression's SQL, logical column names inside).
    * Declared at CREATE (Spark validates the expression shape when the
    * catalog announces the capability); enforced and computed at the
    * same write choke point as CHECK constraints: a provided non-null
    * value must null-safe-equal the expression, a null fills with it.
    * Keyed by PHYSICAL name so renaming the generated column itself is
    * free; renaming/dropping a column the expression READS refuses
    * (same contract as CHECK references). */
  private[graft] val GenColPrefix = "gencol:"

  /** S51 — IDENTITY channels (Delta identity columns):
    *  - `identity:<phys>` → `start,step,allowExplicit` (the spec,
    *    immutable after CREATE);
    *  - `idwm:<phys>` → the watermark: the furthest value handed out
    *    (absent until the first assignment). Advanced ATOMICALLY with
    *    each append's commit; a concurrent allocation is detected at
    *    publish (the staged ids were minted from a stale watermark and
    *    could collide) and refused with the staged dirs cleaned — the
    *    caller retries the whole write, Delta's conflict shape.
    * Assignment is the gap-tolerant one-pass kernel: NULLs fill with
    * `wm + step * (1 + monotonically_increasing_id())` — per-partition
    * offsets, no shuffle, no count barrier; ids are unique and
    * monotone-per-partition but NOT consecutive (Delta documents the
    * same gaps contract — consecutive ids would cost an extra
    * count-and-prefix pass per ingest, the wrong trade at 100 TB). */
  private[graft] val IdentityPrefix = "identity:"
  private[graft] val IdentityWmPrefix = "idwm:"

  private[graft] final case class IdentitySpec(start: Long, step: Long,
                                               allowExplicit: Boolean) {
    def base: Long = start - step
  }

  private[graft] def identitySpecs(meta: Map[String, String])
      : Map[String, IdentitySpec] = meta.collect {
    case (k, v) if k.startsWith(IdentityPrefix) =>
      val parts = v.split(",")
      k.stripPrefix(IdentityPrefix) ->
        IdentitySpec(parts(0).toLong, parts(1).toLong, parts(2).toBoolean)
  }

  /** `schema` rendered as the one-line DDL every manifest persists —
    * with Spark's default-value field metadata STRIPPED first: Spark
    * 4's `toDDL` emits a `DEFAULT <sql>` clause from that metadata,
    * which `StructType.fromDDL` cannot parse back (the asymmetry would
    * brick every later read). Defaults persist in the `default:` /
    * `defaultx:` meta channels, never in the DDL; decoration re-attaches
    * them at read ([[withDefaults]]). Every schemaDdl a commit persists
    * MUST come through here — INSERT batch schemas arrive decorated
    * (Spark copies the table's field metadata onto the data columns). */
  private[graft] def cleanDdl(schema: org.apache.spark.sql.types.StructType)
      : String = {
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    val keys = Seq(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
      ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .GENERATION_EXPRESSION_METADATA_KEY,
      org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_START,
      org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_STEP,
      org.apache.spark.sql.catalyst.util.IdentityColumn
        .IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (!keys.exists(f.metadata.contains)) f
      else f.copy(metadata = keys.foldLeft(
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata))(_.remove(_)).build())
    }).toDDL
  }

  /** `logical` with Spark's default-value and generation-expression
    * field metadata attached from the version's channels — the
    * decoration every read-schema surface applies (catalog loads, path
    * loads, internal readSnap), so INSERT resolution, missing-column
    * fill and DESCRIBE all see one contract. */
  private[graft] def withDefaults(logical: org.apache.spark.sql.types.StructType,
                                  meta: Map[String, String],
                                  cmap: Map[String, String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    if (!meta.keys.exists(k => k.startsWith(DefaultPrefix) ||
        k.startsWith(ExistsDefaultPrefix) || k.startsWith(GenColPrefix) ||
        k.startsWith(IdentityPrefix)))
      return logical
    val specs = identitySpecs(meta) // once, not per field
    org.apache.spark.sql.types.StructType(logical.fields.map { f =>
      val phys = cmap.getOrElse(f.name, f.name)
      val cur = meta.get(DefaultPrefix + phys)
      val ex = meta.get(ExistsDefaultPrefix + phys)
      val gen = meta.get(GenColPrefix + phys)
      val ident = specs.get(phys)
      if (cur.isEmpty && ex.isEmpty && gen.isEmpty && ident.isEmpty) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        cur.foreach(b.putString(
          ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, _))
        ex.foreach(b.putString(
          ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, _))
        gen.foreach(b.putString(org.apache.spark.sql.catalyst.util
          .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, _))
        ident.foreach { s =>
          val ic = org.apache.spark.sql.catalyst.util.IdentityColumn
          b.putLong(ic.IDENTITY_INFO_START, s.start)
          b.putLong(ic.IDENTITY_INFO_STEP, s.step)
          b.putBoolean(ic.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
            s.allowExplicit)
        }
        f.copy(metadata = b.build())
      }
    })
  }

  /** logical → physical name map of version `v` (empty = identity). */
  private[graft] def colMapOf(fs: FileSystem, tableDir: String,
                              v: Long): Map[String, String] =
    snapshotOf(fs, tableDir, v).cmap

  /** `schema` with logical field names replaced by their physical ones. */
  private[graft] def toPhysical(schema: org.apache.spark.sql.types.StructType,
                                cmap: Map[String, String])
      : org.apache.spark.sql.types.StructType =
    if (cmap.isEmpty) schema
    else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  /** `df`'s columns renamed logical→physical — the write-side half of
    * column mapping (parquet files ALWAYS store physical names). */
  private[graft] def writePhysical(df: DataFrame,
                                   cmap: Map[String, String]): DataFrame =
    if (cmap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.toIndexedSeq.map(c =>
        col(c).as(cmap.getOrElse(c, c))): _*)
    }

  /** Read a SUBSET of version `v`'s dirs through the declared schema —
    * the ANALYZE sketch pass's input (only dirs without a persisted
    * `#ndv` sketch are read). */
  private[sources] def readDirs(spark: SparkSession, tableDir: String,
                                v: Long, rel: Seq[String]): DataFrame =
    readWithDeclared(spark, tableDir, v, rel.map(absPath(tableDir, _)))

  private def readWithDeclared(spark: SparkSession, tableDir: String,
                               v: Long, paths: Seq[String]): DataFrame =
    readSnap(spark,
      snapshotOf(fsOf(spark, tableDir), tableDir, v), paths)

  /** The parquet read through an already-parsed [[Snapshot]]'s schema
    * and column mapping (`paths` are ABSOLUTE) — zero further manifest
    * I/O. */
  private def readSnap(spark: SparkSession, snap: Snapshot,
                       paths: Seq[String]): DataFrame = {
    snap.declared match {
      case Some(logical0) =>
        // S48: existence defaults fill columns absent from pre-ADD
        // dirs (Spark's parquet readers honor the EXISTS_DEFAULT
        // field metadata) — decorated here so EVERY internal read
        // (time travel, CDC images, compaction/DML sources) serves
        // the same constant the live scan does
        val logical = withDefaults(logical0, snap.meta, snap.cmap)
        val cmap = snap.cmap
        if (cmap.isEmpty) spark.read.schema(logical).parquet(paths: _*)
        else {
          // request PHYSICAL names from parquet, alias back to logical
          // (one Project — `_metadata` still resolves through it for
          // the dv-masking and MoR surfaces, spec-pinned)
          import org.apache.spark.sql.functions.col
          spark.read.schema(toPhysical(logical, cmap)).parquet(paths: _*)
            .select(logical.fieldNames.toIndexedSeq.map(l =>
              col(cmap.getOrElse(l, l)).as(l)): _*)
        }
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Current head version, or None for an uncommitted/absent table —
    * the snapshot-pinning entry point for external access layers (the
    * V2 [[GraftTableProvider]] resolves this once per table load, so
    * one SQL query sees one version throughout). */
  def headVersion(spark: SparkSession, tableDir: String): Option[Long] =
    versions(fsOf(spark, tableDir), tableDir).lastOption

  /** The version's declared schema WITHOUT touching any data file —
    * metadata-only schema resolution, what every serious table format
    * provides (a reader must not need the data dirs to plan; a pruned
    * or GC'd dir it will never scan must not be able to fail it). */
  def declaredSchemaOf(spark: SparkSession, tableDir: String,
                       v: Long): Option[org.apache.spark.sql.types.StructType] =
    schemaOf(fsOf(spark, tableDir), tableDir, v)
      .map(org.apache.spark.sql.types.StructType.fromDDL)

  /** Relative data paths of the LIVE (highest-committed) version; empty if
    * the table has never been committed. */
  def livePaths(fs: FileSystem, tableDir: String): Seq[String] =
    versions(fs, tableDir).lastOption
      .map(v => pathsOf(fs, tableDir, v)).getOrElse(Seq.empty)

  /** Absolute data paths of the live version. */
  def resolve(spark: SparkSession, tableDir: String): Seq[String] =
    livePaths(fsOf(spark, tableDir), tableDir).map(p => absPath(tableDir, p))

  /** The live table as a DataFrame (parquet over the resolved paths). The
    * listed paths are leaf data dirs, so no partition column is inferred
    * from them even when their names are `b=N`-shaped. Reads through the
    * version's declared schema when one was committed ([[schemaOf]]) —
    * dirs written before a column was added null-fill it, and no footer
    * is opened for schema discovery. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val fs = fsOf(spark, tableDir)
    val v = versions(fs, tableDir).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no committed manifest at $tableDir"))
    // one manifest parse serves paths, schema, column map and masks
    val snap = snapshotOf(fs, tableDir, v)
    require(snap.paths.nonEmpty, s"no committed manifest at $tableDir")
    readMaskedWith(spark, tableDir, snap, snap.paths, snap.dv)
  }

  /** Time travel: snapshot read of a RETAINED committed version (S17).
    * Any version the GC still holds — the newest `retainGenerations`,
    * default 2 — resolves exactly as it was committed, because data
    * dirs are immutable and survive while any retained manifest
    * references them. Asking for a GC'd version fails loudly rather
    * than silently reading a partial table. */
  def readVersion(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    val fs = fsOf(spark, tableDir)
    require(versions(fs, tableDir).contains(v),
      s"version $v is not retained at $tableDir")
    val snap = snapshotOf(fs, tableDir, v)
    require(snap.paths.nonEmpty, s"version $v at $tableDir lists no data")
    readMaskedWith(spark, tableDir, snap, snap.paths, snap.dv)
  }

  /** APPEND-table ingest (S19): commit `df` as one new immutable data
    * dir added to the live path list — the daily-ingest fact-table
    * shape (Delta append / Iceberg fast-append). Column statistics for
    * `statsCols` are observed DURING the write job (`Dataset.observe`
    * — no second pass over the data) and recorded as `#stats` manifest
    * header lines, so a later [[rangeScan]] prunes whole commit dirs
    * against min/max before a single parquet footer is opened. Because
    * ingest batches are naturally correlated with time-like columns
    * (each day's append spans one day), the per-dir ranges are narrow
    * and the pruning is real — the same reason Delta's file stats work.
    * Concurrency: optimistic — two racing appends both want
    * `prior + self`, so the commit goes through [[commitIf]] and the
    * loser re-reads the new head and retries; no append is ever lost.
    * Append tables are FIXED-schema (the declared DDL must match the
    * prior version's); evolution belongs to [[MergeInto]]. */
  def append(df: DataFrame, tableDir: String,
             statsCols: Seq[String] = Seq.empty,
             retainGenerations: Int = 2,
             meta: Map[String, String] = Map.empty): Long =
    appendWithCid(df, tableDir, statsCols, retainGenerations, meta)._1

  /** [[append]], also exposing the commit-dir name it created — the
    * overwrite path commits exactly `[cid]` as the new table, so it
    * must know WHICH dir the append landed (deriving it by diffing
    * against "the largest retained version below v" breaks when
    * retainGenerations=1 GC'd that version: the diff then returns ALL
    * head paths and overwrite silently degrades to append). */
  private[graft] def appendWithCid(df: DataFrame, tableDir: String,
                                   statsCols: Seq[String] = Seq.empty,
                                   retainGenerations: Int = 2,
                                   meta: Map[String, String] = Map.empty)
      : (Long, String) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val spark = df.sparkSession
    val fs = fsOf(spark, tableDir)
    val root = new Path(tableDir)
    if (!fs.exists(root)) fs.mkdirs(root)
    // a bucketed (merge) table's layout invariant — every manifest path
    // is a `b=N` bucket dir — would be silently broken by a plain
    // append dir; route through MergeInto instead (one exists() probe)
    require(!fs.exists(new Path(tableDir, MergeInto.KeyMarker)),
      s"$tableDir is a bucketed merge table — writes go through " +
        "MergeInto.merge (or the catalog's INSERT/MERGE, which route there)")
    // S30 enforcement at the ENGINE primitive: the table's declared
    // CHECK constraints bind the batch here, so no write API can
    // sidestep a contract the catalog declared; the bound keyset is
    // remembered and the commit loop refuses to publish if NEW
    // constraints appeared while the job ran (ALTER-vs-append race —
    // Delta's MetadataChangedException shape).
    // S51 — identity assignment FIRST: NULLs in declared identity
    // columns mint values from the head watermark (gap-tolerant
    // one-pass kernel); the claims thread into the commit loop, which
    // verifies the watermark is STILL the one these ids were minted
    // from and advances it in the same commit. Minting precedes the
    // CHECK binding below so a constraint referencing the identity
    // column judges the MINTED value — bound over the pre-mint frame
    // it would see NULL and pass vacuously.
    // ONE head resolution for the whole planning path (r20): identity
    // minting, CHECK binding, NDV opt-in, column mapping, and the
    // commit loop's first attempt all read the same observed head —
    // each sub-step used to list the manifest dir again (the one
    // metadata RPC an object store bills per call). The commit loop
    // still re-lists on RETRY; commitIf still validates the base.
    val headV0 = versions(fs, tableDir).lastOption
    val (minted, idClaims) = assignIdentity(df, tableDir, fs,
      headHint = headV0)
    val (checked, boundChecks) =
      ManifestSupport.bindDeclaredChecks(minted, tableDir,
        headHint = headV0)
    // identity columns are always stats-tracked: the per-dir max IS
    // the watermark-advance input (and point lookups on ids prune)
    val statsCols2 = (statsCols ++ idClaims.map(_.logical)).distinct
    val ddl = cleanDdl(df.schema)
    val cid = "a-" + java.util.UUID.randomUUID().toString.take(8)
    val obs = org.apache.spark.sql.Observation()
    // S53 write-side lane: an opted-in table sketches its stats columns
    // IN the same observation pass — later approx ANALYZEs go zero-read
    val ndvCols = headV0.map(v =>
      writeNdvCols(metaOf(fs, tableDir, v), statsCols2))
      .getOrElse(Seq.empty)
    val aggs = statsAggExprs(statsCols2) ++ ndvSketchAggExprs(ndvCols)
    val observed =
      if (statsCols2.isEmpty) checked
      else checked.observe(obs, aggs.head, aggs.tail: _*)
    // parquet stores PHYSICAL names (column mapping, S42); stats above
    // observe the logical frame, so payload keys stay logical
    val cmap = headV0
      .map(colMapOf(fs, tableDir, _)).getOrElse(Map.empty)
    writePhysical(observed, cmap).write.parquet(s"$tableDir/$cid")
    val payload =
      if (statsCols2.isEmpty) None
      else {
        val m = obs.get
        val base = statsPayloadFrom(m("rows").asInstanceOf[Number].longValue,
          statsCols2, m)
        Some(
          if (ndvCols.isEmpty) base
          else withNdvSketches(base, ndvSketchCells(ndvCols, m)))
      }
    (appendCommitLoop(df, tableDir, Seq(cid), payload.map(cid -> _).toMap,
      statsCols2, retainGenerations, meta,
      recordingStats = payload.isDefined, boundChecks = boundChecks,
      identity = idClaims, knownHead = headV0), cid)
  }

  /** S51 — one identity column's minting claim: which watermark the
    * batch's ids were computed FROM (the commit loop refuses to publish
    * if the head's watermark moved — a concurrent allocation could
    * collide) and where to read the batch's furthest value (the
    * column's own per-dir stats lane).
    *
    * `probedHead`/`explicitRange`/`mintedInBatch` carry the
    * `identity.unique=probe` context to the COMMIT loop (r20): the
    * probe validated explicit ids against `probedHead`, so each commit
    * attempt re-probes them against only the dirs that landed SINCE —
    * closing the race two writers inserting the same
    * below-watermark explicit id used to win together (above-watermark
    * duplicates already refuse via the watermark-move guard).
    * explicitRange = None means no explicit ids or probe not opted in
    * — no re-probe. */
  private[graft] final case class IdentityClaim(phys: String, logical: String,
                                                spec: IdentitySpec,
                                                baseWm: Long,
                                                probedHead: Long = 0L,
                                                explicitRange:
                                                  Option[(Long, Long)] = None,
                                                mintedInBatch:
                                                  Boolean = false)

  /** Assign identity values over `df` from the head's declared specs:
    * explicit non-null values REFUSE unless the spec allows them
    * (GENERATED ALWAYS vs BY DEFAULT); NULLs fill with
    * `wm + step * (1 + monotonically_increasing_id())` — unique,
    * gap-tolerant, one pass, no shuffle (Delta's gaps contract; dense
    * ids would cost a count + prefix pass per ingest). Every caller
    * gates: update post-images never come through here (they carry
    * their ids verbatim, and assignment to a GENERATED ALWAYS column
    * is refused at analysis — [[graft.plans.GraftIdentityUpdateGuard]]). */
  private[sources] def assignIdentity(df: DataFrame, tableDir: String,
                             fs: FileSystem,
                             headHint: Option[Long] = None)
      : (DataFrame, Seq[IdentityClaim]) = {
    import org.apache.spark.sql.functions.{col, concat, lit, monotonically_increasing_id, raise_error, when}
    // headHint threads the caller's one planning-path head resolution
    // (r20) — absent, resolve here (one extra listing, fresh tables)
    val head = headHint.orElse(versions(fs, tableDir).lastOption)
      .getOrElse(return (df, Seq.empty))
    val hMeta = metaOf(fs, tableDir, head)
    val specs = identitySpecs(hMeta)
    if (specs.isEmpty) return (df, Seq.empty)
    val cmap = colMapOf(fs, tableDir, head)
    val physToLogical = cmap.map(_.swap)
    val dtOf = df.schema.fields.map(f => f.name -> f.dataType).toMap
    specs.foreach { case (phys, _) =>
      val logical = physToLogical.getOrElse(phys, phys)
      dtOf.get(logical).foreach(dt => require(
        dt == org.apache.spark.sql.types.LongType,
        s"identity column '$logical' must be BIGINT: the minting " +
          "kernel's per-partition offsets span past 2^33 on " +
          s"multi-partition batches, overflowing $dt"))
    }
    // S51 opt-in uniqueness probe (`identity.unique=probe`): a BY
    // DEFAULT column admits explicit ids, and nothing in the watermark
    // protocol stops an explicit value from duplicating an existing id
    // — the probe closes that hole for tables that ask, at the cost of
    // one changeset-bounded existence check per write (dir-pruned on
    // the identity column's own stats lanes, so it reads only dirs
    // whose recorded range overlaps the batch's). Best-effort against
    // the observed head, like Delta: a racing writer inserting the
    // same explicit id between probe and commit still lands (serial
    // uniqueness would need commit-time re-validation per retry).
    val probeUnique = hMeta.get(GraftCatalog.PropPrefix + "identity.unique")
      .exists(_.equalsIgnoreCase("probe"))
    specs.toSeq.sortBy(_._1).foldLeft((df, Seq.empty[IdentityClaim])) {
      case ((d, claims), (phys, spec)) =>
        val logical = physToLogical.getOrElse(phys, phys)
        if (!d.columns.contains(logical)) (d, claims)
        else {
          val wm = hMeta.get(IdentityWmPrefix + phys)
            .flatMap(_.toLongOption).getOrElse(spec.base)
          val (explicitRange, mintedInBatch) =
            if (spec.allowExplicit && probeUnique)
              identityUniqueProbe(d, tableDir, fs, head, logical, spec, wm)
            else (None, false)
          val gated =
            if (spec.allowExplicit) d
            else d.filter(when(col(logical).isNotNull,
              raise_error(concat(
                lit(s"identity column '$logical' is GENERATED ALWAYS — " +
                  "explicit values are refused (declare BY DEFAULT to " +
                  "allow them); got "), col(logical).cast("string"))))
              .otherwise(lit(true)))
          val minted = (lit(wm) + lit(spec.step) *
            (lit(1L) + monotonically_increasing_id()))
            .cast(dtOf.getOrElse(logical,
              org.apache.spark.sql.types.LongType))
          (gated.withColumn(logical,
            when(col(logical).isNull, minted).otherwise(col(logical))),
            claims :+ IdentityClaim(phys, logical, spec, wm,
              probedHead = head, explicitRange = explicitRange,
              mintedInBatch = mintedInBatch))
        }
    }
  }

  /** The dirs of version `v` that could possibly hold an id in
    * [lo, hi], pruned on the identity column's own stats lanes — the
    * ONE pruning rule the write-time probe and the commit-time
    * re-probe share (a fix applied to one copy must never diverge the
    * pair whose agreement the duplicate-id race closure depends on).
    * All-null dirs prune (no ids there); unstatted dirs survive
    * (conservative). */
  private def idRangeCandidates(fs: FileSystem, tableDir: String, v: Long,
      logical: String, lo: Long, hi: Long): Seq[String] = {
    val stats = statsOf(fs, tableDir, v)
    pathsOf(fs, tableDir, v).filter { p =>
      stats.get(p).flatMap(statsFor(_, logical)) match {
        case Some((_, Some(mn), Some(mx))) =>
          mn.toLongOption.forall(_ <= hi) && mx.toLongOption.forall(_ >= lo)
        case Some((_, None, None)) => false // all-null dir: no ids there
        case _ => true // unstatted dir — probe it (conservative)
      }
    }
  }

  /** S51 `identity.unique=probe` — refuse an EXPLICIT id that would
    * duplicate. Three gates, one grouped pass over the batch's id
    * column (persisted so the probe's actions don't recompute an
    * expensive source; the real write still evaluates the source once
    * more — the probe's documented opt-in cost, and a
    * NON-DETERMINISTIC source can legitimately differ between the
    * probed and written ids, so deterministic sources are the
    * supported shape):
    *  1. intra-batch duplicates: two explicit rows sharing an id in
    *     ONE statement refuse outright (no standing dir needed);
    *  2. explicit-vs-mint collision: when the batch ALSO mints (null
    *     ids present), an explicit id sitting AHEAD of the watermark
    *     ON the minting arithmetic refuses conservatively — the
    *     batch's own mints land exactly on `wm + step·k`;
    *  3. standing duplicates: dirs pruned on the identity column's own
    *     stats lanes (identity columns are always stats-tracked), then
    *     a semi-join `limit(1)` — masked rows excluded (a
    *     merge-on-read-deleted id is reusable). Monotone minted ids
    *     cluster per dir, so an explicit id probes O(1) dirs at 100 TB.
    * Best-effort against the observed head (Delta's shape): two RACING
    * writers inserting the same explicit id can still both land. */
  private def identityUniqueProbe(df: DataFrame, tableDir: String,
      fs: FileSystem, head: Long, logical: String,
      spec: IdentitySpec, wm: Long): (Option[(Long, Long)], Boolean) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val spark = df.sparkSession
    val g = df.select(col(logical).as("__graft_idp"))
      .groupBy(col("__graft_idp"))
      .agg(count(lit(1)).as("__graft_idp_n"))
      .persist()
    try {
      def refuse(id: Any, why: String): Nothing =
        throw new IllegalArgumentException(
          s"identity column '$logical': explicit id $id $why at " +
            s"$tableDir (identity.unique=probe) — duplicate ids " +
            "refused; omit the column to mint a fresh one")
      val dup = g.filter(col("__graft_idp").isNotNull &&
        col("__graft_idp_n") > 1).limit(1).collect()
      if (dup.nonEmpty)
        refuse(dup.head.get(0), "appears more than once IN this batch")
      val minting = g.filter(col("__graft_idp").isNull).limit(1)
        .collect().nonEmpty
      if (minting) {
        val onArith =
          if (spec.step > 0)
            col("__graft_idp") > wm &&
              (col("__graft_idp") - wm) % spec.step === 0
          else
            col("__graft_idp") < wm &&
              (col("__graft_idp") - wm) % spec.step === 0
        val clash = g.filter(col("__graft_idp").isNotNull && onArith)
          .limit(1).collect()
        if (clash.nonEmpty)
          refuse(clash.head.get(0), "sits on the minting arithmetic " +
            s"ahead of watermark $wm while this batch also mints — it " +
            "could collide with an id minted in this very statement")
      }
      val rng = g.filter(col("__graft_idp").isNotNull)
        .agg(min(col("__graft_idp")), max(col("__graft_idp"))).head()
      if (rng.isNullAt(0)) return (None, minting) // no explicit values
      val (lo, hi) = (rng.getLong(0), rng.getLong(1))
      val candidates = idRangeCandidates(fs, tableDir, head, logical, lo, hi)
      if (candidates.isEmpty) return (Some((lo, hi)), minting)
      val hit = readMasked(spark, tableDir, head, candidates,
        dvOf(fs, tableDir, head))
        .select(col(logical).as("__graft_idp"))
        .join(g.filter(col("__graft_idp").isNotNull)
          .select(col("__graft_idp")), Seq("__graft_idp"), "left_semi")
        .limit(1).collect()
      if (hit.nonEmpty) refuse(hit.head.get(0), "already exists")
      (Some((lo, hi)), minting)
    } finally { g.unpersist(): Unit }
  }

  /** The identity-allocation conflict check every identity-minting
    * commit runs at its publish point: the batch's ids were minted
    * from each claim's baseWm; a moved head watermark means a
    * concurrent writer allocated the same range and publishing would
    * admit colliding ids. Cleans `cleanupDirs` and refuses — the
    * caller re-runs its write, re-minting from the new watermark (the
    * Delta identity-conflict shape). */
  private[sources] def identityConflictGuard(fs: FileSystem,
      tableDir: String, headMeta: Map[String, String],
      identity: Seq[IdentityClaim], cleanupDirs: => Seq[String],
      what: String): Unit =
    identity.foreach { cl =>
      val cur = headMeta.get(IdentityWmPrefix + cl.phys)
        .flatMap(_.toLongOption).getOrElse(cl.spec.base)
      if (cur != cl.baseWm) {
        cleanupDirs.foreach(d => fs.delete(new Path(tableDir, d), true))
        throw new IllegalStateException(
          s"concurrent identity allocation on '${cl.logical}' at " +
            s"$tableDir: this $what minted ids from watermark " +
            s"${cl.baseWm} but the head now records $cur — retry " +
            "(the re-run re-mints from the new watermark)")
      }
    }

  /** The commit-time HALF of `identity.unique=probe` (r20): the write
    * probe validated explicit ids against `claim.probedHead`; if the
    * head moved before this commit attempt, a concurrent writer may
    * have landed the SAME explicit id in between — re-check the
    * batch's explicit ids against only the dirs that appeared since.
    * Zero cost on the single-writer path (base == probedHead) and for
    * batches with no explicit ids (explicitRange = None); compaction-
    * rewritten dirs re-check harmlessly (the probe proved the standing
    * set clean, and rewrites preserve content). Closes the race the
    * watermark-move guard cannot see: an explicit id BELOW the
    * watermark never advances it, so two racing writers inserting the
    * same one both passed their head-observed probes. */
  private[graft] def identityExplicitReprobe(spark: SparkSession,
      fs: FileSystem, tableDir: String, base: Long, newPaths: Seq[String],
      identity: Seq[IdentityClaim], cleanupDirs: => Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    identity.foreach { cl =>
      cl.explicitRange.foreach { case (lo, hi) =>
        if (base > cl.probedHead && base > 0) {
          val probedPaths: Set[String] =
            if (cl.probedHead == 0L) Set.empty
            else scala.util.Try(pathsOf(fs, tableDir, cl.probedHead).toSet)
              .getOrElse(Set.empty) // GC'd manifest → re-check everything
          val candidates =
            idRangeCandidates(fs, tableDir, base, cl.logical, lo, hi)
              .filterNot(probedPaths)
          if (candidates.nonEmpty) {
            // the batch's EXPLICIT ids, read back from its own landed
            // dirs (physical names); when the batch also minted, its
            // minted ids sit on the arithmetic ahead of baseWm and are
            // excluded — the probe's clash gate guaranteed no explicit
            // id shares that shape
            val batchIds0 = spark.read
              .parquet(newPaths.map(p => absPath(tableDir, p)): _*)
              .select(col(cl.phys).as("__graft_idp"))
              .filter(col("__graft_idp").isNotNull)
            val batchIds =
              if (!cl.mintedInBatch) batchIds0
              else if (cl.spec.step > 0)
                batchIds0.filter(!(col("__graft_idp") > cl.baseWm &&
                  (col("__graft_idp") - cl.baseWm) % cl.spec.step === 0))
              else
                batchIds0.filter(!(col("__graft_idp") < cl.baseWm &&
                  (col("__graft_idp") - cl.baseWm) % cl.spec.step === 0))
            val hit = readMasked(spark, tableDir, base, candidates,
              dvOf(fs, tableDir, base))
              .select(col(cl.logical).as("__graft_idp"))
              .join(batchIds, Seq("__graft_idp"), "left_semi")
              .limit(1).collect()
            if (hit.nonEmpty) {
              cleanupDirs.foreach(d => fs.delete(new Path(tableDir, d), true))
              throw new IllegalArgumentException(
                s"identity column '${cl.logical}': explicit id " +
                  s"${hit.head.get(0)} was inserted by a concurrent " +
                  s"writer after this batch's probe at $tableDir " +
                  "(identity.unique=probe) — duplicate ids refused; " +
                  "omit the column to mint a fresh one")
            }
          }
        }
      }
    }
  }

  /** The `idwm:` advance a commit publishes for its identity claims:
    * the furthest minted (or explicitly inserted) value per column,
    * read from the freshly-landed dirs' own stats lanes — never below
    * the base the batch minted from. Shared by the append loops and
    * the merge-on-read delta publish. */
  private[sources] def identityWmMeta(identity: Seq[IdentityClaim],
                                      newPaths: Seq[String],
                                      newStats: Map[String, String],
                                      floorMeta: Map[String, String] =
                                        Map.empty)
      : Map[String, String] = identity.flatMap { cl =>
    val vals = newPaths.flatMap(p => newStats.get(p)
      .flatMap(statsFor(_, cl.logical)).flatMap { case (_, mn, mx) =>
        (if (cl.spec.step > 0) mx else mn).flatMap(_.toLongOption) })
    val ext =
      if (vals.isEmpty) None
      else Some(if (cl.spec.step > 0) vals.max else vals.min)
    ext.map { e =>
      // floor against the HEAD's live watermark too: a commit that did
      // not mint (update-only, guard skipped) may publish concurrently
      // with a minting writer — overwriting the key from a stale
      // baseWm would REGRESS the watermark and re-issue taken ids
      val floor = floorMeta.get(IdentityWmPrefix + cl.phys)
        .flatMap(_.toLongOption).getOrElse(cl.baseWm)
      val wmNew =
        if (cl.spec.step > 0) math.max(math.max(cl.baseWm, floor), e)
        else math.min(math.min(cl.baseWm, floor), e)
      (IdentityWmPrefix + cl.phys) -> wmNew.toString
    }
  }.toMap

  /** The optimistic append-publish loop [[appendWithCid]] and
    * [[appendClustered]] share: validate the fixed-schema contract
    * against the head, pin the stats zone, and commit
    * `prior ++ newPaths` with `priorStats ++ newStats`. */
  private def appendCommitLoop(df: DataFrame, tableDir: String,
                               newPaths: Seq[String],
                               newStats: Map[String, String],
                               statsCols: Seq[String],
                               retainGenerations: Int,
                               meta: Map[String, String],
                               recordingStats: Boolean,
                               boundChecks: Set[String] = Set.empty,
                               identity: Seq[IdentityClaim] = Seq.empty,
                               knownHead: Option[Long] = None): Long =
    appendCommitLoopCore(df.sparkSession, df.schema, tableDir, newPaths,
      newStats, statsCols, retainGenerations, meta, recordingStats,
      boundChecks, identity, knownHead)

  /** [[appendCommitLoop]] from (spark, schema) — the X15 streaming
    * write's commit path, whose rows were written by executor task
    * writers rather than a driver-visible DataFrame. */
  private[sources] def appendCommitLoopCore(
      spark: SparkSession,
      batchSchema: org.apache.spark.sql.types.StructType,
      tableDir: String,
      newPaths: Seq[String],
      newStats: Map[String, String],
      statsCols: Seq[String],
      retainGenerations: Int,
      meta: Map[String, String],
      recordingStats: Boolean,
      boundChecks: Set[String],
      identity: Seq[IdentityClaim] = Seq.empty,
      knownHead: Option[Long] = None): Long = {
    val fs = fsOf(spark, tableDir)
    val ddl = cleanDdl(batchSchema)
    // S51 — the watermark this commit publishes: the furthest minted
    // (or explicitly inserted) value per identity column, read from the
    // freshly-landed dirs' OWN stats lanes (identity columns are always
    // tracked), never below the base the batch minted from
    val idMeta = identityWmMeta(identity, newPaths, newStats)
    // S44 — point-index sidecars for the freshly-landed dirs when the
    // table declares bloomCols (one small agg job per new dir, before
    // the commit loop — the sidecars are content, the loop only rebases
    // the pointer)
    val newBlooms = buildBloomSidecars(spark, tableDir, newPaths, newStats,
      headHint = knownHead)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000, s"append contention at $tableDir")
      // attempt 1 reuses the caller's planning-path head (r20 — no
      // re-listing on the uncontended path; commitIf still validates
      // the base and a stale one just falls to the retry, which lists).
      // All four head-derived reads happen TOGETHER so the GC-staleness
      // guard below covers every one of them.
      val headFirst = (if (attempts == 1) knownHead else None)
        .orElse(versions(fs, tableDir).lastOption).getOrElse(0L)
      def headReads(b: Long): (Long, Seq[String], Map[String, String],
          Option[String], Map[String, String]) =
        if (b > 0) (b, pathsOf(fs, tableDir, b), statsOf(fs, tableDir, b),
          schemaOf(fs, tableDir, b), metaOf(fs, tableDir, b))
        else (b, Seq.empty, Map.empty, None, Map.empty)
      val (base, prior, priorStats, priorDdl, priorMeta) =
        try headReads(headFirst)
        catch {
          // the caller's planning head can be GC-RETIRED by the time
          // the batch's parquet job finishes (>= retainGenerations
          // concurrent commits landed meanwhile): commitIf catches its
          // own FileNotFoundException and rebases, but these reads used
          // to propagate it straight out of the commit loop, failing a
          // perfectly committable write (r20 ADVICE medium). Fall to a
          // FRESH listing instead — exactly what attempt 2 would do.
          case _: java.io.FileNotFoundException
              if attempts == 1 && knownHead.contains(headFirst) =>
            headReads(versions(fs, tableDir).lastOption.getOrElse(0L))
        }
      // fixed-schema = same field names and types, in order. Nullability
      // is NOT part of the contract: a batch whose column merely became
      // nullable (a when/otherwise, an outer join) is data-compatible —
      // the declared schema ORs nullability per field so reads never
      // claim a non-null guarantee some dir can't honor.
      val declaredDdl = priorDdl match {
        case None => ddl
        case Some(pd) =>
          val priorSchema = org.apache.spark.sql.types.StructType.fromDDL(pd)
          // compare modulo NESTED nullability: a literal map/array/
          // struct arrives with tighter containment flags
          // (valueContainsNull=false etc.) than any SQL-declarable
          // container carries — the same subtype relation the
          // field-level nullable || below already admits (r19 review
          // find: INSERT VALUES (map(...)) failed on every declared
          // MAP column)
          def normNull(dt: org.apache.spark.sql.types.DataType)
              : org.apache.spark.sql.types.DataType = {
            import org.apache.spark.sql.types._
            dt match {
              case st: StructType => StructType(st.fields.map(f =>
                f.copy(dataType = normNull(f.dataType), nullable = true)))
              case a: ArrayType => ArrayType(normNull(a.elementType), true)
              case m: MapType =>
                MapType(normNull(m.keyType), normNull(m.valueType), true)
              case other => other
            }
          }
          def shape(s: org.apache.spark.sql.types.StructType) =
            s.fields.map(f => (f.name, normNull(f.dataType))).toSeq
          require(shape(priorSchema) == shape(batchSchema),
            s"append-table schema mismatch at $tableDir: table declares " +
              s"'$pd', append brings '$ddl' — append tables are " +
              "fixed-schema (use ALTER TABLE / MergeInto for evolution); " +
              "if a concurrent schema change landed after this write was " +
              "planned, re-plan at fresh metadata and retry")
          org.apache.spark.sql.types.StructType(
            priorSchema.fields.zip(batchSchema.fields).map { case (p, i) =>
              p.copy(nullable = p.nullable || i.nullable)
            }).toDDL
      }
      // meta carries forward like stats (read above with the other
      // head-derived reads so the staleness guard covers it);
      // this append's keys override
      checkWriterFeatures(tableDir, priorMeta)
      identityConflictGuard(fs, tableDir, priorMeta, identity,
        newPaths.map(_.split("/", 2).head).distinct, "batch")
      identityExplicitReprobe(spark, fs, tableDir, base, newPaths,
        identity, newPaths.map(_.split("/", 2).head).distinct)
      // metadata-conflict guard (ALTER-vs-write race): the batch was
      // validated against the constraints declared when its job was
      // built; if a concurrent ALTER declared NEW ones since, this
      // write's rows were never validated against them — publishing
      // would admit a possibly-violating batch under a constraint
      // whose ADD-time scan couldn't see it. Fail loudly (the caller
      // retries the whole write, which re-binds) and drop the
      // unpublished dirs rather than orphan them.
      checkConflictGuard(fs, tableDir, priorMeta, boundChecks, newPaths)
      // TIMESTAMP stats render via cast-to-string in the SESSION zone —
      // the encoding every later reader must reproduce. The first
      // ts-stats writer PINS its zone in meta; a writer in a different
      // session zone would interleave incomparable encodings into the
      // same table, so it fails loudly instead.
      val zoneMeta = statsZonePin(batchSchema, statsCols, recordingStats,
        priorMeta, spark, tableDir)
      val committed = commitIf(spark, tableDir, (prior ++ newPaths).sorted,
        base, retainGenerations, schemaDdl = Some(declaredDdl),
        stats = priorStats ++ newStats,
        meta = priorMeta ++ zoneMeta ++ meta ++ idMeta +
          cdcTag("append", base + 1),
        // deletion vectors carry like stats: prior dirs keep theirs,
        // the appended dirs have none
        dv = if (base > 0) dvOf(fs, tableDir, base) else Map.empty,
        blooms = newBlooms)
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** Clustered-on-arrival ingest (S27): [[append]]'s semantics with
    * [[compactAppend]]'s layout applied to THIS batch — the batch
    * lands as ≤`k` range-sorted (single-column spec) or
    * Morton-interleaved (multi-column) dirs, each with its own
    * `#stats` line, so a range/point scan prunes WITHIN the batch from
    * the moment it commits, not only after the next compaction
    * (Delta's optimized-write / clustered-ingest move). The spec is
    * the table's DECLARED `clusterBy` when one is set, else
    * `statsCols.head`. Costs one extra shuffle of the batch (the range
    * partition) and a footer-served stats aggregate — at 100 TB that
    * is the cheap end of the trade: every later selective read prunes
    * against day-one layout instead of waiting for maintenance.
    * Schema contract and optimistic concurrency identical to
    * [[append]]. */
  def appendClustered(df: DataFrame, tableDir: String,
                      statsCols: Seq[String], k: Int = graft.ScaleKnobs.DefaultClusterDirs,
                      retainGenerations: Int = 2,
                      meta: Map[String, String] = Map.empty,
                      specOverride: Option[Seq[String]] = None): Long =
    appendClusteredWithCids(df, tableDir, statsCols, k, retainGenerations,
      meta, specOverride)._1

  /** [[appendClustered]], also exposing the committed dirs — the
    * clustered OVERWRITE path re-commits exactly those dirs as the new
    * table (same rationale as [[appendWithCid]]). */
  private[graft] def appendClusteredWithCids(df: DataFrame, tableDir: String,
                      statsCols: Seq[String], k: Int = graft.ScaleKnobs.DefaultClusterDirs,
                      retainGenerations: Int = 2,
                      meta: Map[String, String] = Map.empty,
                      specOverride: Option[Seq[String]] = None)
      : (Long, Seq[String]) = {
    require(statsCols.nonEmpty,
      "appendClustered needs statsCols (they seed the default spec and " +
        "the per-dir skipping stats)")
    val spark = df.sparkSession
    val fs = fsOf(spark, tableDir)
    val root = new Path(tableDir)
    if (!fs.exists(root)) fs.mkdirs(root)
    // empty batch → plain append path (which handles zero rows): the
    // partitionBy("rb") write of zero rows would yield a dir with no
    // parquet files, and the stats re-read then cannot infer a schema —
    // `INSERT INTO clustered_t SELECT ... WHERE false` must no-op like
    // any other insert, not crash (r11 ADVICE)
    if (df.isEmpty) {
      val (v, cid) = appendWithCid(df, tableDir, statsCols,
        retainGenerations, meta)
      return (v, Seq(cid))
    }
    require(!fs.exists(new Path(tableDir, MergeInto.KeyMarker)),
      s"$tableDir is a bucketed merge table — writes go through " +
        "MergeInto.merge (or the catalog's INSERT/MERGE, which route there)")
    // ONE head resolution for the whole planning path (r20), same as
    // the plain append: spec/mint/bind/colmap all read this head
    val headV0 = versions(fs, tableDir).lastOption
    val spec = specOverride.orElse(headV0
      .flatMap(v => clusterSpecOf(fs, tableDir, v)))
      .getOrElse(Seq(statsCols.head))
    // S51 — identity minting FIRST (same claims, same commit-time
    // watermark verification; checks must judge minted values, not
    // pre-mint NULLs); identity columns join statsCols so the per-dir
    // lanes carry the watermark input
    val (minted, idClaims) = assignIdentity(df, tableDir, fs,
      headHint = headV0)
    // declared CHECK constraints bind here like on the plain append
    // path, with the same publish-time metadata-conflict guard
    val (checked, boundChecks) =
      ManifestSupport.bindDeclaredChecks(minted, tableDir,
        headHint = headV0)
    val statsCols2 = (statsCols ++ idClaims.map(_.logical)).distinct
    val cid = "ci-" + java.util.UUID.randomUUID().toString.take(8)
    val outStats = writeClusteredDirs(checked, tableDir, cid, spec, k, statsCols2,
      headV0.map(colMapOf(fs, tableDir, _)).getOrElse(Map.empty),
      headHint = headV0)
    val dirs = outStats.keys.toSeq.sorted
    (appendCommitLoop(df, tableDir, dirs, outStats,
      statsCols2, retainGenerations, meta, recordingStats = true,
      boundChecks = boundChecks, identity = idClaims,
      knownHead = headV0), dirs)
  }

  /** The `statsZone` meta contribution for a stats-recording write over
    * `df`'s schema: nothing unless a TIMESTAMP column is tracked; the
    * session zone when pinning for the first time; a loud failure when
    * the session disagrees with the pinned zone (mixed encodings in one
    * table = silent wrong-rows pruning later). */
  private def statsZonePin(batchSchema: org.apache.spark.sql.types.StructType,
                           statsCols: Seq[String],
                           recordingStats: Boolean,
                           priorMeta: Map[String, String],
                           spark: SparkSession, tableDir: String)
      : Map[String, String] = {
    import org.apache.spark.sql.types.TimestampType
    val tsTracked = recordingStats && statsCols.exists(c =>
      batchSchema.fields.exists(f => f.name == c && f.dataType == TimestampType))
    if (!tsTracked) Map.empty
    else {
      val zoneNow = spark.sessionState.conf.sessionLocalTimeZone
      priorMeta.get(StatsZoneKey) match {
        case Some(pz) =>
          require(pz == zoneNow,
            s"table at $tableDir renders timestamp stats in session " +
              s"timeZone '$pz'; this session uses '$zoneNow' — set " +
              "spark.sql.session.timeZone to match, or stats encodings mix")
          Map.empty
        case None => Map(StatsZoneKey -> zoneNow)
      }
    }
  }

  /** The `prop:check.*` keys of `headMeta` must all have been bound to
    * the write whose commit is being attempted ([[appendCommitLoop]] /
    * [[rewriteWhere]]): a constraint declared AFTER the write job was
    * built never validated this write's rows, so the publish is
    * refused and the already-written (unpublished) dirs are cleaned
    * up. Constraint REMOVAL mid-write is fine — the batch was
    * validated against a superset. */
  private[sources] def checkConflictGuard(fs: FileSystem, tableDir: String,
                                 headMeta: Map[String, String],
                                 boundChecks: Set[String],
                                 newPaths: Seq[String]): Unit = {
    val prefix = GraftCatalog.PropPrefix + "check."
    val unseen = headMeta.keySet.filter(_.startsWith(prefix)) -- boundChecks
    if (unseen.nonEmpty) {
      newPaths.map(_.split("/", 2).head).distinct.foreach(d =>
        fs.delete(new Path(tableDir, d), true))
      throw new IllegalStateException(
        s"CHECK constraint(s) ${unseen.toSeq.sorted.mkString(", ")} were " +
          s"declared at $tableDir while this write ran — its rows were " +
          "never validated against them; retry the write")
    }
  }

  private val ClusterByKey = "clusterBy"

  /** Commit-kind channel for the change feed: `<kind>@<version>` where
    * kind ∈ append (dirs only added — logical inserts), layout
    * (content-preserving rewrite: compaction), meta (pointer-only:
    * ALTER). Meta CARRIES across commits, so the `@version` suffix is
    * what makes the tag trustworthy — a commit that doesn't re-tag
    * leaves a stale tag whose version mismatches, and [[changes]]
    * falls back to the manifest diff for that step. DML commits never
    * tag (their feed IS the diff). */
  private val CdcKindKey = "cdc"

  private[sources] def cdcTag(kind: String, v: Long): (String, String) =
    CdcKindKey -> s"$kind@$v"

  /** Write-side CDC materialization (opt-in, Delta's
    * `enableChangeDataFeed` shape): when the table property
    * `cdc.materialize=true` is set, every DML commit that rides
    * [[publishRewrite]] ALSO stages its row-level change feed as
    * parquet under `_cdc/<name>` and records `cdcdata:<v> -> <name>`
    * in the commit's meta. [[changes]] then serves that step as a
    * PLAIN SCAN of the staged files — O(change rows) I/O — instead of
    * re-reading both sides of the touched dirs and shuffling the
    * bounded diff on every feed read. At 100 TB with N downstream CDC
    * consumers, the diff runs once at write time instead of N times at
    * read time. The `_` prefix hides the staging area from the data
    * sweep; [[gc]] reaps staged dirs no retained manifest references. */
  private[sources] val CdcDataPrefix = "cdcdata:"
  private[sources] val CdcDirName = "_cdc"
  /** Meta value meaning "materialized, and the feed is provably empty"
    * (a rewrite that changed nothing) — served as an empty frame with
    * zero file reads. */
  private[sources] val CdcEmptyToken = "-"
  /** Meta value meaning "this step WANTED a materialized feed but
    * staging failed" (r20 — an anchor-unabsorbable evolution, a
    * staging-area IO error): the step serves through the read-time
    * manifest diff like an unmaterialized one, but the degradation is
    * OBSERVABLE — `t$history.feed_mode` reads "degraded", so a
    * consumer expecting paired update images can tell a degraded span
    * from a genuinely-paired one instead of silently receiving
    * unpaired delete+insert rows. */
  private[sources] val CdcDegradedToken = "!degraded"
  /** The persisted TBLPROPERTIES key ([[GraftCatalog.PropPrefix]] +
    * user key `cdc.materialize`). */
  private val CdcMaterializeKey = "prop:cdc.materialize"

  /** The table's DECLARED cluster spec (meta key `clusterBy`), if one
    * was set — the partition-evolution surface: the spec says how
    * [[compactAppend]] should lay the table out, independently of how
    * past batches happened to arrive. */
  def clusterSpecOf(fs: FileSystem, tableDir: String, v: Long): Option[Seq[String]] =
    metaOf(fs, tableDir, v).get(ClusterByKey)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  /** Declare (or change) the cluster spec — a METADATA-ONLY commit: the
    * same paths/schema/stats re-published with the new `clusterBy` meta
    * ("liquid clustering"'s ALTER TABLE CLUSTER BY move: changing the
    * spec costs one pointer write; the next [[compactAppend]] realizes
    * the new layout and pruning sharpens on the new dimensions without
    * any eager rewrite). Multi-column specs compact into Morton/Z-order
    * on the named columns, so EACH dimension prunes. */
  def alterClusterBy(spark: SparkSession, tableDir: String,
                     cols: Seq[String],
                     retainGenerations: Int = 2): Long = {
    require(cols.nonEmpty, "alterClusterBy needs at least one column")
    val fs = fsOf(spark, tableDir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"alterClusterBy contention at $tableDir")
      val head = versions(fs, tableDir).lastOption.getOrElse(
        throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
      declaredSchemaOf(spark, tableDir, head).foreach(sch =>
        cols.foreach(c => require(sch.fieldNames.contains(c),
          s"cluster column '$c' is not in the declared schema at $tableDir")))
      val committed = commitIf(spark, tableDir, pathsOf(fs, tableDir, head),
        head, retainGenerations, schemaDdl = schemaOf(fs, tableDir, head),
        stats = statsOf(fs, tableDir, head),
        meta = metaOf(fs, tableDir, head) + (ClusterByKey -> cols.mkString(","))
          + cdcTag("meta", head + 1),
        dv = dvOf(fs, tableDir, head))
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** A clusterable column as a LONG ordinal (for Morton interleaving):
    * dates as epoch days, timestamps as micros, numerics truncated —
    * ordering is all the z-curve needs. */
  private def ordinalOf(c: String,
                        dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, conv, encode, hex, rpad, unix_date, unix_micros}
    import org.apache.spark.sql.types._
    dt match {
      case DateType => unix_date(col(c)).cast("long")
      case TimestampType => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast("timestamp"))
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType => col(c).cast("long")
      // strings: big-endian value of the UTF-8 prefix, zero-padded to a
      // FIXED 7 bytes (left-aligned, so "az" < "b" ordinal-sorts
      // correctly; 7 bytes keeps the unsigned value inside a signed
      // Long). UTF-8 byte order = code-point order, so the ordinal is
      // monotone in the string's binary collation — all the z-curve
      // needs. Common 100-TB cluster keys (host, URL) differentiate in
      // their first bytes; ties beyond 7 bytes cost layout sharpness
      // only, never pruning correctness (per-dir stats stay exact).
      case StringType =>
        conv(hex(rpad(encode(col(c), "UTF-8"), 7, Array[Byte](0))), 16, 10)
          .cast("long")
      case other => throw new IllegalArgumentException(
        s"cluster column '$c' has unclusterable type ${other.sql}")
    }
  }

  /** Generalized Morton code over `cols`: each column min-max-scaled to
    * an 8-bit ordinal in one broadcast agg (the S13 recipe), then bit
    * j of ordinal i lands at position j*n+i — plain shift/and/or
    * Columns, whole-stage-codegen friendly. */
  private def mortonOf(df: DataFrame, cols: Seq[String])
      : (DataFrame, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    // same 64-bit budget as the scalar function: >8 dims would wrap
    // the shift mod 64 and silently collide dimensions' bits
    require(cols.size <= 8,
      s"Morton layout interleaves at most 8 cluster columns (8 bits " +
        s"each in one 64-bit code); got ${cols.size} — trim the spec " +
        "to the dimensions queries actually prune on")
    val dts = cols.map(c => c -> df.schema(c).dataType).toMap
    val aggs = cols.flatMap(c => Seq(
      min(ordinalOf(c, dts(c))).as(s"__graft_mn_$c"),
      max(ordinalOf(c, dts(c))).as(s"__graft_mx_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.join(broadcast(bounds))
    val n = cols.size
    // `delta * 255` overflows a Long (ANSI: the whole write job dies)
    // once the dimension's span exceeds Long.MaxValue/255 — reachable
    // since string ordinals run to 2^56. Wide spans switch to the
    // bucket-divide form (delta / (span/255), clamped): same monotone
    // 8-bit scaling, no multiply, off by at most one bucket at the
    // seam — layout nuance, never correctness (stats stay exact).
    val parts = for {
      (c, i) <- cols.zipWithIndex
      span = greatest(col(s"__graft_mx_$c") - col(s"__graft_mn_$c"), lit(1L))
      delta = coalesce(ordinalOf(c, dts(c)), col(s"__graft_mn_$c")) -
        col(s"__graft_mn_$c")
      scaled = when(span <= lit(Long.MaxValue / 255L), delta * 255L / span)
        .otherwise(least(lit(255L), delta / greatest(span / 255L, lit(1L))))
      j <- 0 until 8
    } yield shiftleft(shiftright(scaled.cast("long"), j)
      .bitwiseAND(lit(1L)), j * n + i)
    (joined, parts.reduce(_.bitwiseOR(_)))
  }

  /** Append-table compaction (S19 maintenance): rewrite the live
    * table's accreted small commit dirs as `k` RANGE-SORTED dirs on
    * `statsCols.head`, each dir a narrow disjoint slice with fresh
    * `#stats` — compaction doesn't just cap the dir count (years of
    * daily appends = thousands of manifest paths), it IMPROVES
    * skipping: overlapping ingest batches become disjoint sorted
    * ranges, so a [[rangeScan]] after compaction opens ~1 of `k` dirs
    * where before it opened every batch that straddled the range
    * (S11's range-clustering, applied at the manifest layer). Stats
    * for the output dirs come from one grouped aggregate over the
    * freshly-written files (the rewrite already paid a full pass; the
    * stats read is footer-friendly and one job). Publishes through
    * [[commitIf]] against racing APPENDS: on conflict the new head's
    * extra dirs are carried through untouched — (head − inputs) +
    * outputs — so no append is lost; an input dir VANISHING from the
    * head (racing compaction/restore) aborts loudly instead of
    * resurrecting rewritten rows. */
  /** The clustered multi-dir write both [[compactAppend]] and
    * [[appendClustered]] share: lay `data` out as ≤`k` range-sorted
    * (single-column spec) or Morton-interleaved (multi-column) dirs
    * under `tableDir/cid/rb=N`, and return the per-dir `#stats`
    * payloads (one grouped, footer-served aggregate over the files
    * just written). */
  private def writeClusteredDirs(data: DataFrame, tableDir: String,
                                 cid: String, spec: Seq[String], k: Int,
                                 statsCols: Seq[String],
                                 cmap: Map[String, String] = Map.empty,
                                 headHint: Option[Long] = None)
      : Map[String, String] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, spark_partition_id}
    // "rb" becomes the partitionBy dir key and "__graft_*" carries the
    // Morton helpers — a user column with either name would be silently
    // consumed (withColumn replaces, leaf-dir reads null-fill), so
    // reject loudly (the reserved-name rule the merge kernel applies
    // to "b"/"rn"); reachable from EVERY write to a clusterBy table
    require(!data.columns.contains("rb") &&
        !data.columns.exists(_.startsWith("__graft_")),
      "clustered writes reserve the column name 'rb' and the " +
        "'__graft_' prefix")
    val clustered = spec match {
      case Seq(single) =>
        data.repartitionByRange(k, col(single)).sortWithinPartitions(col(single))
      case multi =>
        val (joined, zv) = mortonOf(data, multi)
        joined.withColumn("__graft_zv", zv)
          .repartitionByRange(k, col("__graft_zv"))
          .sortWithinPartitions(col("__graft_zv"))
          .select(data.columns.toIndexedSeq.map(col): _*) // shed z helpers
    }
    writePhysical(clustered, cmap)
      .withColumn("rb", spark_partition_id()) // narrow — no second shuffle
      .write.partitionBy("rb").parquet(s"$tableDir/$cid")
    // fresh stats per output dir: one grouped aggregate over the files
    // just written (rb is a directory-encoded partition column, so the
    // group-by is scan-cheap and min/max are footer-served); the files
    // store physical names — alias back so payload keys stay logical.
    // EXPLICIT read schema: a fully-masked input (every row deleted
    // merge-on-read) writes ZERO files, and schema inference over the
    // empty cid dir would throw — with the schema given, the read-back
    // is an empty frame, the stats map is empty, and the compaction
    // commits a dir-less (empty-table) manifest, which is the correct
    // materialization of an all-masked table (concurrency-fuzz find).
    // S53 write-side lane on the clustered routes too — the read-back
    // aggregate is already per-dir, so the sketch is one more lane
    val ndvCols = headHint
      .orElse(versions(fsOf(data.sparkSession, tableDir), tableDir)
        .lastOption)
      .map(v => writeNdvCols(
        metaOf(fsOf(data.sparkSession, tableDir), tableDir, v), statsCols))
      .getOrElse(Seq.empty)
    val aggs = statsAggExprs(statsCols) ++ ndvSketchAggExprs(ndvCols)
    val readBackSchema = org.apache.spark.sql.types.StructType(
      toPhysical(data.schema, cmap).fields :+
        org.apache.spark.sql.types.StructField("rb",
          org.apache.spark.sql.types.IntegerType))
    val readBack0 = data.sparkSession.read.schema(readBackSchema)
      .parquet(s"$tableDir/$cid")
    val readBack =
      if (cmap.isEmpty) readBack0
      else readBack0.select((data.columns.toIndexedSeq.map(l =>
        col(cmap.getOrElse(l, l)).as(l)) :+ col("rb")): _*)
    readBack
      .groupBy(col("rb")).agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val base = statsPayloadFrom(r.getAs[Long]("rows"), statsCols,
          lane => r.getAs[Any](lane))
        val payload =
          if (ndvCols.isEmpty) base
          else withNdvSketches(base,
            ndvSketchCells(ndvCols, lane => r.getAs[Any](lane)))
        s"$cid/rb=${r.getAs[Number]("rb").intValue}" -> payload
      }.toMap
  }

  def compactAppend(spark: SparkSession, tableDir: String,
                    statsCols: Seq[String], k: Int = graft.ScaleKnobs.DefaultClusterDirs,
                    retainGenerations: Int = 2): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, spark_partition_id}
    require(statsCols.nonEmpty, "compactAppend needs at least the sort column")
    // a bucketed table's dirs are HASH buckets; a range/Morton rewrite
    // would break the b=N invariant every merge relies on (worse: its
    // rb= dirs PARSE as wrong bucket numbers) — its compaction is
    // MergeInto.compact, which re-buckets under the pinned geometry
    require(!fsOf(spark, tableDir).exists(
        new Path(tableDir, MergeInto.KeyMarker)),
      s"$tableDir is a bucketed merge table — compact it with " +
        "MergeInto.compact (or CALL system.compact, which routes there)")
    val sortCol = statsCols.head
    val fs = fsOf(spark, tableDir)
    val baseV = versions(fs, tableDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
    val inputs = pathsOf(fs, tableDir, baseV)
    val ddl = schemaOf(fs, tableDir, baseV)
    val cid = "a-" + java.util.UUID.randomUUID().toString.take(8)
    // inputs read through the base version's deletion vectors — the
    // rewrite MATERIALIZES them away: masked rows are not copied and
    // the output dirs carry no dv (the contract that keeps dv chains
    // short: OPTIMIZE is the dv cleanup)
    val baseDv = dvOf(fs, tableDir, baseV)
    val data = readMasked(spark, tableDir, baseV, inputs, baseDv)
    // the DECLARED cluster spec governs the layout when one is set
    // ([[alterClusterBy]] — partition evolution: compaction REALIZES
    // the current spec, so a spec change + compact re-clusters without
    // any separate rewrite job); single column = range sort (sharpest
    // on that dimension), multi column = Morton interleave so each
    // dimension prunes. No spec = the legacy statsCols.head range sort.
    val spec = clusterSpecOf(fs, tableDir, baseV).getOrElse(Seq(sortCol))
    val outStats = writeClusteredDirs(data, tableDir, cid, spec, k, statsCols,
      colMapOf(fs, tableDir, baseV))
    // S44 — the rewrite replaced every input dir, so their bloom
    // entries drop with the paths; rebuild indexes over the output dirs
    val outBlooms = buildBloomSidecars(spark, tableDir,
      outStats.keys.toSeq.sorted, outStats)
    val inputSet = inputs.toSet
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000, s"compaction contention at $tableDir")
      val head = versions(fs, tableDir).last
      val headPaths = pathsOf(fs, tableDir, head)
      if (!inputSet.subsetOf(headPaths.toSet))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during compaction: " +
            s"missing ${inputSet -- headPaths.toSet}")
      val carried = headPaths.filterNot(inputSet)
      val headStats = statsOf(fs, tableDir, head) -- inputSet
      val headMeta = metaOf(fs, tableDir, head)
      // a racing merge-on-read DELETE does not change the path list,
      // so the subset check above cannot see it — but publishing this
      // rewrite would RESURRECT the rows it masked (the rewrite read
      // the base's masks). Abort loudly like a vanished dir.
      val headDv = dvOf(fs, tableDir, head)
      if (inputs.exists(p => headDv.get(p) != baseDv.get(p)))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during compaction: " +
            "deletion vectors advanced on a rewritten dir")
      // compaction re-renders stats in the CURRENT session zone — same
      // pin/validate rule as append (mixed encodings = mis-pruning)
      val zoneMeta = statsZonePin(data.schema, statsCols, recordingStats = true,
        headMeta, spark, tableDir)
      // a FULL rewrite retires every dir that could still store a
      // dropped column's physical name, so its `dropped:` tombstones
      // can clear and the name becomes re-addable (the addColumn
      // refusal's "compact first" route). Two guards: nothing carried
      // (a racing append's dir rides through unexamined), and only
      // tombstones ALREADY PRESENT at the base version (a DROP racing
      // this rewrite tombstones a column the rewrite's output dirs DO
      // store — it was in the base schema the rewrite read with — so
      // post-base tombstones must survive the compaction).
      val clearable =
        if (carried.isEmpty)
          metaOf(fs, tableDir, baseV).keySet.filter(_.startsWith(DroppedPrefix))
        else Set.empty[String]
      val clearedMeta = headMeta -- clearable
      val committed = commitIf(spark, tableDir,
        (carried ++ outStats.keys).sorted, head, retainGenerations,
        schemaDdl = schemaOf(fs, tableDir, head).orElse(ddl),
        stats = headStats ++ outStats,
        meta = clearedMeta ++ zoneMeta + cdcTag("layout", head + 1),
        dv = headDv -- inputSet,
        blooms = outBlooms)
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** S39 — INCREMENTAL compaction, the LSM-flavored maintenance move:
    * keep the largest mutually-disjoint set of dirs (greedy by
    * recorded rowcount, disjointness on the LEADING cluster
    * dimension's stats range) untouched — those are the fruits of the
    * last full compaction — and fold only the OVERLAPPING remainder
    * (the arrivals since) into ≤`k` fresh clustered dirs. Cost ∝
    * stragglers, not table size: a 100 TB table that accreted 100 GB
    * since its last OPTIMIZE rewrites 100 GB, where [[compactAppend]]
    * rewrites everything. Kept dirs carry BY PATH (spec-asserted
    * identity), so their page-cache/object-store state is undisturbed.
    * The layout converges level-wise like an LSM: repeated incremental
    * calls keep straggler count bounded; a full [[compactAppend]]
    * remains the perfect-layout move. No-op (base version returned)
    * when fewer than two dirs would fold. */
  def compactIncremental(spark: SparkSession, tableDir: String,
                         statsCols0: Seq[String],
                         k: Int = graft.ScaleKnobs.DefaultClusterDirs,
                         retainGenerations: Int = 2): Long = {
    require(statsCols0.nonEmpty, "compactIncremental needs stats columns")
    require(!fsOf(spark, tableDir).exists(
        new Path(tableDir, MergeInto.KeyMarker)),
      s"$tableDir is a bucketed merge table — compact it with " +
        "MergeInto.compact (or CALL system.compact, which routes there)")
    val fs = fsOf(spark, tableDir)
    val baseV = versions(fs, tableDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
    val inputs = pathsOf(fs, tableDir, baseV)
    val baseStats = statsOf(fs, tableDir, baseV)
    val spec = clusterSpecOf(fs, tableDir, baseV).getOrElse(Seq(statsCols0.head))
    // the folded dirs MUST track the cluster columns, or they can never
    // prove themselves disjoint and every later call refolds them —
    // the appendClustered rule, applied here for convergence
    val statsCols = (statsCols0 ++ spec).distinct
    val lead = spec.head
    val dt = declaredSchemaOf(spark, tableDir, baseV)
      .flatMap(sch => sch.fields.find(_.name == lead)).map(_.dataType)
    def cmp(a: String, b: String): Option[Int] = dt.flatMap {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType |
           (_: org.apache.spark.sql.types.DecimalType) =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.StringType => Some(a.compareTo(b))
      case _ => None
    }
    // per-dir (rows, lead range); a dir without parseable rowcount or
    // bounds can never be proven disjoint — always a straggler
    val parsed: Seq[(String, Option[Long], Option[(String, String)])] =
      inputs.map { p =>
        val payload = baseStats.get(p)
        val rows = payload.flatMap(rowsIn)
        val range = payload.flatMap(statsFor(_, lead)).flatMap {
          case (_, Some(mn), Some(mx)) => Some((mn, mx))
          case _ => None
        }
        (p, rows, range)
      }
    // a dv'd dir can never be KEPT: keeping it carries the masks
    // forever, and the whole point of folding is materializing them —
    // dv'd dirs are always stragglers (and force a fold)
    val baseDv = dvOf(fs, tableDir, baseV)
    val kept = scala.collection.mutable.ListBuffer.empty[(String, (String, String))]
    parsed.collect {
      case (p, Some(r), Some(rg)) if !baseDv.contains(p) => (p, r, rg) }
      .sortBy { case (p, r, _) => (-r, p) }
      .foreach { case (p, _, rg @ (lo, hi)) =>
        val disjoint = kept.forall { case (_, (klo, khi)) =>
          (cmp(hi, klo), cmp(lo, khi)) match {
            case (Some(a), Some(b)) => a < 0 || b > 0
            case _ => false // incomparable → assume overlap
          }
        }
        if (disjoint) kept += ((p, rg))
      }
    val keptSet = kept.map(_._1).toSet
    val stragglers = inputs.filterNot(keptSet)
    val anyDv = stragglers.exists(baseDv.contains)
    if (stragglers.isEmpty || (stragglers.size <= 1 && !anyDv)) return baseV
    // convergence: folding helps only when the stragglers overlap EACH
    // OTHER (merging sharpens their ranges) or outnumber k (folding
    // shrinks the dir count). Stragglers that are mutually disjoint
    // and ≤k are simply the next level of the layout — refolding them
    // would churn the same bytes on every call, so no-op instead.
    val ranges = parsed.collect {
      case (p, _, Some(rg)) if !keptSet(p) => rg }
    val anyMutualOverlap = ranges.size < stragglers.size || // unparseable dir
      ranges.combinations(2).exists { case Seq((lo1, hi1), (lo2, hi2)) =>
        (cmp(hi1, lo2), cmp(lo1, hi2)) match {
          case (Some(a), Some(b)) => a >= 0 && b <= 0
          case _ => true
        }
      case _ => false
      }
    if (!anyMutualOverlap && !anyDv && stragglers.size <= k) return baseV
    val cid = "ic-" + java.util.UUID.randomUUID().toString.take(8)
    // stragglers read through the base masks; the fold materializes
    // their dvs away (same contract as the full compaction)
    val data = readMasked(spark, tableDir, baseV, stragglers, baseDv)
    val outStats = writeClusteredDirs(data, tableDir, cid, spec, k, statsCols,
      colMapOf(fs, tableDir, baseV))
    // S44 — fold dirs' bloom entries drop with their paths (kept dirs
    // auto-carry); rebuild indexes over the fold output
    val outBlooms = buildBloomSidecars(spark, tableDir,
      outStats.keys.toSeq.sorted, outStats)
    val inputSet = stragglers.toSet
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000, s"incremental-compaction contention at $tableDir")
      val head = versions(fs, tableDir).last
      val headPaths = pathsOf(fs, tableDir, head)
      if (!inputSet.subsetOf(headPaths.toSet))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during incremental " +
            s"compaction: missing ${inputSet -- headPaths.toSet}")
      val carried = headPaths.filterNot(inputSet)
      val headStats = statsOf(fs, tableDir, head) -- inputSet
      val headMeta = metaOf(fs, tableDir, head)
      // racing MoR delete on a folded dir: same resurrect hazard and
      // loud abort as the full compaction
      val headDv = dvOf(fs, tableDir, head)
      if (stragglers.exists(p => headDv.get(p) != baseDv.get(p)))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during incremental " +
            "compaction: deletion vectors advanced on a folded dir")
      val zoneMeta = statsZonePin(data.schema, statsCols, recordingStats = true,
        headMeta, spark, tableDir)
      val committed = commitIf(spark, tableDir,
        (carried ++ outStats.keys).sorted, head, retainGenerations,
        schemaDdl = schemaOf(fs, tableDir, head),
        stats = headStats ++ outStats,
        meta = headMeta ++ zoneMeta + cdcTag("layout", head + 1),
        dv = headDv -- inputSet,
        blooms = outBlooms)
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** Predicate-SCOPED compaction (the `OPTIMIZE ... WHERE` move): fold
    * only the live dirs whose recorded stats OVERLAP `bounds` — the
    * operator-directed variant of [[compactIncremental]] for hot
    * partitions (today's ingest range, one tenant's key band) on a
    * table whose cold bulk must stay byte-untouched. Selected dirs
    * rewrite as ≤`k` clustered dirs (masks materialize away — a dv'd
    * dir inside the range always folds); every dir outside the
    * envelope carries BY PATH. Selection is conservative like every
    * pruning surface: a stats-less dir can never prove itself outside
    * the range, so it folds. No-op (base version returned) when fewer
    * than two dirs match and none is masked. */
  def compactWhere(spark: SparkSession, tableDir: String,
                   statsCols0: Seq[String],
                   bounds: Map[String, (String, String)],
                   k: Int = graft.ScaleKnobs.DefaultClusterDirs,
                   retainGenerations: Int = 2): Long = {
    require(statsCols0.nonEmpty, "compactWhere needs stats columns")
    require(bounds.nonEmpty, "compactWhere needs a bounds predicate — " +
      "for the unscoped rewrite use compactAppend/compactIncremental")
    require(!fsOf(spark, tableDir).exists(
        new Path(tableDir, MergeInto.KeyMarker)),
      s"$tableDir is a bucketed merge table — compact it with " +
        "MergeInto.compact (or CALL system.compact, which routes there)")
    val fs = fsOf(spark, tableDir)
    val baseV = versions(fs, tableDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
    val all = pathsOf(fs, tableDir, baseV)
    val baseStats = statsOf(fs, tableDir, baseV)
    val tableSchema = declaredSchemaOf(spark, tableDir, baseV).getOrElse(
      readWithDeclared(spark, tableDir, baseV,
        all.map(p => absPath(tableDir, p))).schema)
    // an unknown column is operator error, not a conservative case:
    // silently dropping it would leave NO bounds and turn the "scoped"
    // call into a full-table rewrite
    bounds.keys.foreach(c => require(tableSchema.fieldNames.contains(c),
      s"scoped compaction references unknown column '$c' at $tableDir " +
        s"(declared: ${tableSchema.fieldNames.mkString(", ")})"))
    val inputs = prunePathsIn(all, baseStats, bounds, tableSchema)
    val baseDv = dvOf(fs, tableDir, baseV)
    val anyDv = inputs.exists(baseDv.contains)
    if (inputs.size <= 1 && !anyDv) return baseV
    val spec = clusterSpecOf(fs, tableDir, baseV).getOrElse(Seq(statsCols0.head))
    val statsCols = (statsCols0 ++ spec).distinct
    val cid = "cw-" + java.util.UUID.randomUUID().toString.take(8)
    val data = readMasked(spark, tableDir, baseV, inputs, baseDv)
    val outStats = writeClusteredDirs(data, tableDir, cid, spec, k, statsCols,
      colMapOf(fs, tableDir, baseV))
    val outBlooms = buildBloomSidecars(spark, tableDir,
      outStats.keys.toSeq.sorted, outStats)
    val inputSet = inputs.toSet
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000, s"scoped-compaction contention at $tableDir")
      val head = versions(fs, tableDir).last
      val headPaths = pathsOf(fs, tableDir, head)
      if (!inputSet.subsetOf(headPaths.toSet))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during scoped " +
            s"compaction: missing ${inputSet -- headPaths.toSet}")
      val carried = headPaths.filterNot(inputSet)
      val headMeta = metaOf(fs, tableDir, head)
      val headDv = dvOf(fs, tableDir, head)
      if (inputs.exists(p => headDv.get(p) != baseDv.get(p)))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during scoped " +
            "compaction: deletion vectors advanced on a folded dir")
      val zoneMeta = statsZonePin(data.schema, statsCols, recordingStats = true,
        headMeta, spark, tableDir)
      val committed = commitIf(spark, tableDir,
        (carried ++ outStats.keys).sorted, head, retainGenerations,
        schemaDdl = schemaOf(fs, tableDir, head),
        stats = (statsOf(fs, tableDir, head) -- inputSet) ++ outStats,
        meta = headMeta ++ zoneMeta + cdcTag("layout", head + 1),
        dv = headDv -- inputSet,
        blooms = outBlooms)
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** Row-level DELETE (S24): remove the live rows where `cond` is TRUE,
    * with dir-granular copy-on-write. The manifest stats classify every
    * live dir against `bounds` (a conservative envelope of `cond`, the
    * same closed intervals [[rangeScan]] prunes by): a dir that
    * provably holds no matching row is carried into the new version
    * UNTOUCHED — zero I/O — and only the possibly-matching dirs are
    * read, filtered to the survivors (`cond` not TRUE: SQL DELETE keeps
    * FALSE and NULL rows), and rewritten as one fresh dir with fresh
    * stats. At 100 TB that is the difference between rewriting the
    * table and rewriting the week the predicate touches — the Delta/
    * Iceberg copy-on-write shape. A touched dir whose rows all match
    * simply contributes nothing to the rewrite and drops out of the
    * manifest; its data dir dies by GC once no retained version lists
    * it, so time travel to pre-delete versions keeps working.
    *
    * Concurrency mirrors [[compactAppend]]: the rewrite happens once
    * against the base snapshot, then publishes through [[commitIf]] —
    * racing APPENDS are carried through untouched (their rows were not
    * visible to this delete's snapshot, so they are not its to judge);
    * a touched dir VANISHING from the head (racing compaction/restore/
    * delete) aborts loudly instead of resurrecting rewritten rows.
    *
    * Returns the committed version (the base version when no dir can
    * hold a matching row — a provable no-op commits nothing). */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  cond: org.apache.spark.sql.Column,
                  bounds: Map[String, (String, String)] = Map.empty,
                  retainGenerations: Int = 2): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    rewriteWhere(spark, tableDir, bounds, retainGenerations, "d-")(
      _.filter(not(coalesce(cond, lit(false))))) // keep FALSE and NULL rows
  }

  /** Row-level UPDATE (S25): rewrite the rows where `cond` is TRUE with
    * `assignments` applied (each value cast to its column's declared
    * type — SQL UPDATE's store-assignment cast), leaving FALSE/NULL
    * rows byte-identical. Same dir-granular copy-on-write and
    * concurrency story as [[deleteWhere]]: dirs outside the `bounds`
    * envelope are carried untouched, only possibly-matching dirs are
    * read and rewritten, racing appends rebase through [[commitIf]].
    * O(touched dirs), not O(table) — at 100 TB an update predicated on
    * a clustered column rewrites the slice, not the fact table. */
  def updateWhere(spark: SparkSession, tableDir: String,
                  cond: org.apache.spark.sql.Column,
                  assignments: Seq[(String, org.apache.spark.sql.Column)],
                  bounds: Map[String, (String, String)] = Map.empty,
                  retainGenerations: Int = 2): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val byCol = assignments.toMap
    rewriteWhere(spark, tableDir, bounds, retainGenerations, "u-") { df =>
      byCol.keys.foreach(c => require(df.schema.fieldNames.contains(c),
        s"UPDATE assigns unknown column '$c' at $tableDir"))
      val hit = coalesce(cond, lit(false))
      // declared CHECK constraints bind the rewritten values through
      // rewriteWhere's own seam (S30; untouched rows conform by the
      // write/ALTER-time invariant)
      df.select(df.schema.fields.toIndexedSeq.map { f =>
        byCol.get(f.name) match {
          case Some(v) =>
            when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    }
  }

  /** S41 — MERGE-ON-READ row-level DELETE: instead of rewriting every
    * touched dir (copy-on-write's write amplification: a 1-row DELETE
    * rewrites its whole commit dir), record the matching rows' (file,
    * position) pairs as a DELETION VECTOR under `_dv/` and commit a
    * manifest whose `#dvec` channel masks them out of every logical
    * read — data dirs untouched, I/O ∝ deleted rows. The scan applies
    * the mask as a runtime anti-join (DataFrame surfaces) or a
    * row-position filter (the V2 scan); `CALL system.compact` /
    * [[compactAppend]] materializes masks away. This is the
    * position-delete / deletion-vector design every production format
    * converged on (Iceberg v2 position deletes, Delta deletion
    * vectors): at 100 TB, the difference between a DELETE costing the
    * week it touches and costing the rows it touches.
    *
    * Time travel is exact (masks are per-version header state), the
    * change feed is exact (a mask change marks the dir changed; the
    * diff reads each side through its own masks), and concurrency is
    * the engine's optimistic protocol — with one addition everywhere:
    * a dv advancing on a dir some rewrite is replacing aborts that
    * rewrite loudly (paths alone can't see mask-only changes).
    *
    * Stats stay PHYSICAL (upper bounds): pruning remains conservative-
    * correct, metadata-only aggregates and LIMIT dir planning decline
    * while masks exist. Returns the committed version (base when no
    * row matches). */
  def deleteWhereMoR(spark: SparkSession, tableDir: String,
                     cond: org.apache.spark.sql.Column,
                     bounds: Map[String, (String, String)] = Map.empty,
                     retainGenerations: Int = 2): Long =
    morRewrite(spark, tableDir, cond, Seq.empty, bounds, retainGenerations)

  /** S41 — merge-on-read UPDATE: matching rows are masked out of their
    * dirs (a deletion vector, as [[deleteWhereMoR]]) and their UPDATED
    * images land as ONE fresh appended dir — write cost ∝ changed
    * rows, not touched dirs (Iceberg's MoR update shape). Declared
    * CHECK constraints bind the new images; non-matching rows are
    * byte-untouched. */
  def updateWhereMoR(spark: SparkSession, tableDir: String,
                     cond: org.apache.spark.sql.Column,
                     assignments: Seq[(String, org.apache.spark.sql.Column)],
                     bounds: Map[String, (String, String)] = Map.empty,
                     retainGenerations: Int = 2): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    morRewrite(spark, tableDir, cond, assignments, bounds, retainGenerations)
  }

  /** The shared merge-on-read kernel: positions of the LIVE (already-
    * masked rows excluded — an update must not resurrect) matching
    * rows staged as `_dv/<name>/d=<i>` parquet, plus (UPDATE only) the
    * updated images as a fresh data dir; one optimistic commit extends
    * the touched dirs' dv payloads. */
  private def morRewrite(spark: SparkSession, tableDir: String,
                         cond: org.apache.spark.sql.Column,
                         assignments: Seq[(String, org.apache.spark.sql.Column)],
                         bounds: Map[String, (String, String)],
                         retainGenerations: Int): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, when}
    val fs = fsOf(spark, tableDir)
    require(!fs.exists(new Path(tableDir, MergeInto.KeyMarker)),
      s"$tableDir is a bucketed merge table — its DML is the O(changeset) " +
        "merge kernel; deletion vectors apply to manifest append tables")
    val baseV = versions(fs, tableDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
    val basePaths = pathsOf(fs, tableDir, baseV)
    if (basePaths.isEmpty) return baseV
    val baseStats = statsOf(fs, tableDir, baseV)
    val tableSchema = declaredSchemaOf(spark, tableDir, baseV).getOrElse(
      readWithDeclared(spark, tableDir, baseV,
        basePaths.map(p => absPath(tableDir, p))).schema)
    val byCol = assignments.toMap
    byCol.keys.foreach(c => require(tableSchema.fieldNames.contains(c),
      s"UPDATE assigns unknown column '$c' at $tableDir"))
    // the kernel synthesizes __graft_-prefixed helper columns; a user
    // column with the prefix would be silently consumed (withColumn
    // replaces) — the clustered writes' reserved-name rule applies
    require(!tableSchema.fieldNames.exists(_.startsWith("__graft_")),
      "merge-on-read DML reserves the '__graft_' column-name prefix")
    val touched = prunePathsIn(basePaths, baseStats,
      bounds.filter { case (c, _) => tableSchema.fieldNames.contains(c) },
      tableSchema)
    if (touched.isEmpty) return baseV // provable no-op
    val baseDv = dvOf(fs, tableDir, baseV)
    // one scan leg per touched dir, each tagged with its dir ordinal —
    // exact dir attribution without path-string surgery (works for
    // foreign/clone entries too); MoR targets selective predicates, so
    // the touched list is short by construction
    val perDir = touched.zipWithIndex.map { case (p, i) =>
      readWithDeclared(spark, tableDir, baseV, Seq(absPath(tableDir, p)))
        .withColumn("__graft_dv_d", lit(i))
        .withColumn("__graft_file", col("_metadata.file_path"))
        .withColumn("__graft_pos", col("_metadata.row_index"))
    }.reduce(_.unionByName(_))
    val dvDirs = touched.flatMap(p =>
      baseDv.get(p).toSeq.flatMap(dvEntries(_).map(_._1))).distinct
    val live =
      if (dvDirs.isEmpty) perDir
      else {
        val dvDf = spark.read.schema(DvSchema)
          .parquet(dvDirs.map(absPath(tableDir, _)): _*)
          .select(col("path").as("__graft_dv_path"),
            col("pos").as("__graft_dv_pos"))
        perDir.join(dvDf,
          col("__graft_file") === col("__graft_dv_path") &&
            col("__graft_pos") === col("__graft_dv_pos"), "left_anti")
      }
    val matches = live.filter(coalesce(cond, lit(false)))
    val dvName = "dv-" + java.util.UUID.randomUUID().toString.take(8)
    val dvRel = s"$DvDirName/$dvName"
    // per-dir position counts observed on the dv write itself — one
    // count per touched ordinal, so nothing re-reads the files just
    // written
    val dvObs = org.apache.spark.sql.Observation()
    val dvRows = matches.select(col("__graft_file").as("path"),
        col("__graft_pos").as("pos"), col("__graft_dv_d").as("d"))
    val dvCounts = touched.indices.map(i =>
      count(when(col("d") === i, 1)).as(s"d$i"))
    dvRows.observe(dvObs, dvCounts.head, dvCounts.tail: _*)
      .write.partitionBy("d").parquet(s"$tableDir/$dvRel")
    val observed = dvObs.get
    val counts: Map[Int, Long] = touched.indices.map(i =>
      i -> observed(s"d$i").asInstanceOf[Long]).toMap
    if (counts.valuesIterator.sum == 0L) {
      fs.delete(new Path(tableDir, dvRel), true)
      return baseV // nothing matched
    }
    // UPDATE: the matching rows' updated images as one fresh dir, with
    // the same stats/CHECK treatment as the CoW rewrite's output
    val statsCols = tableSchema.fieldNames.filter(c =>
      touched.exists(p => baseStats.get(p).exists(statsFor(_, c).isDefined)))
      .toSeq
    val dataCols = tableSchema.fields.toIndexedSeq.map { f =>
      byCol.get(f.name) match {
        case Some(v) => v.cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }
    var boundChecks: Set[String] = Set.empty
    val cidAndPayload: Option[(String, Option[String])] =
      if (assignments.isEmpty) None
      else {
        val cid = "mu-" + java.util.UUID.randomUUID().toString.take(8)
        val (checked, bc) = ManifestSupport.bindDeclaredChecks(
          matches.select(dataCols: _*), tableDir)
        boundChecks = bc
        val obs = org.apache.spark.sql.Observation()
        val aggs = statsAggExprs(statsCols)
        writePhysical(checked.observe(obs, aggs.head, aggs.tail: _*),
          colMapOf(fs, tableDir, baseV))
          .write.parquet(s"$tableDir/$cid")
        val m = obs.get
        val payload =
          if (m("rows").asInstanceOf[Long] == 0L) None
          else Some(statsPayloadFrom(m("rows").asInstanceOf[Long],
            statsCols, m))
        Some((cid, payload))
      }
    // write-side CDC materialization (opt-in, same property as CoW):
    // the feed IS the matched rows — staged now, served as a plain
    // scan later. An UPDATE's halves are PAIRED (Delta CDF's
    // `update_preimage`/`update_postimage` tags): the write holds both
    // images of each row, so a consumer can rebuild the update without
    // re-keying the feed; a DELETE stays `delete`.
    val stagedCdc: Option[String] =
      if (!metaOf(fs, tableDir, baseV).get(CdcMaterializeKey)
          .exists(_.equalsIgnoreCase("true"))) None
      else {
        val name = "c-" + java.util.UUID.randomUUID().toString.take(8)
        val plainCols = tableSchema.fieldNames.toIndexedSeq.map(col)
        val oldImages = matches.select(plainCols: _*)
          .withColumn("change_type",
            lit(if (assignments.isEmpty) "delete" else "update_preimage"))
        val feed =
          if (assignments.isEmpty) oldImages
          else oldImages.unionByName(matches.select(dataCols: _*)
            .withColumn("change_type", lit("update_postimage")))
        feed.write.parquet(s"$tableDir/$CdcDirName/$name")
        Some(name)
      }
    publishMorDelta(spark, tableDir, baseV, touched, dvRel, counts,
      cidAndPayload.toSeq, tableSchema, statsCols, boundChecks, stagedCdc,
      retainGenerations)
  }

  /** Write-side CDC staging for the SQL MoR delta write (opt-in via
    * `cdc.materialize`, same property as every other DML surface): old
    * images are reconstructed by semi-joining the touched dirs (read
    * through the BASE masks — already-deleted rows can never re-enter
    * the feed) against the delete records' (file, pos) keys; insert
    * records are the new images. Cost ∝ touched dirs + changed rows,
    * paid only when the property is set. None = property unset or the
    * feed is provably empty.
    *
    * Tags are PER RECORD (the writer keeps each update's provenance
    * through its changeset markers): a delete key flagged `upd` is a
    * row's pre-image (`update_preimage`), the post-image frame tags
    * `update_postimage` — the Delta CDF contract, exact for MERGE as
    * much as for UPDATE — while genuine deletes/inserts keep their
    * plain tags. `images` = (post-state frame, tag) pairs. */
  private[sources] def stageMorDeltaCdc(spark: SparkSession,
      tableDir: String, baseV: Long, touched: Seq[String],
      delKeys: DataFrame,
      images: Seq[(DataFrame, String)]): Option[String] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val fs = fsOf(spark, tableDir)
    if (!metaOf(fs, tableDir, baseV).get(CdcMaterializeKey)
        .exists(_.equalsIgnoreCase("true"))) return None
    val tableSchema = declaredSchemaOf(spark, tableDir, baseV).getOrElse(
      return None) // pre-schema table: no anchor to render a feed with
    val plainCols = tableSchema.fieldNames.toIndexedSeq.map(col)
    val oldImages =
      if (touched.isEmpty) None
      else {
        // per-dir reads so `_metadata` resolves (it would not above a
        // union); NO base-mask filtering needed — the delete keys came
        // from a scan that already read through the standing masks, so
        // the join can only ever match live rows (keys are unique per
        // row, so the inner join preserves multiplicity)
        val rows = touched.map(p =>
          readWithDeclared(spark, tableDir, baseV, Seq(absPath(tableDir, p)))
            .withColumn("__graft_file", col("_metadata.file_path"))
            .withColumn("__graft_pos", col("_metadata.row_index")))
          .reduce(_.unionByName(_))
        Some(rows.join(delKeys.select(col("path").as("__graft_dv_path"),
            col("pos").as("__graft_dv_pos"), col("upd").as("__graft_dv_upd")),
          col("__graft_file") === col("__graft_dv_path") &&
            col("__graft_pos") === col("__graft_dv_pos"), "inner")
          .select(plainCols :+ when(col("__graft_dv_upd"),
            lit("update_preimage")).otherwise(lit("delete"))
            .as("change_type"): _*))
      }
    val insImages = images.map { case (df, tag) =>
      df.select(plainCols: _*).withColumn("change_type", lit(tag)) }
    (oldImages.toSeq ++ insImages).reduceOption(_.unionByName(_))
      .map { feed =>
        val name = "c-" + java.util.UUID.randomUUID().toString.take(8)
        feed.write.parquet(s"$tableDir/$CdcDirName/$name")
        name
      }
  }

  /** The merge-on-read PUBLISH half, shared by [[morRewrite]] (the
    * direct `deleteWhereMoR`/`updateWhereMoR` API) and the SQL delta
    * write (GraftPositionDeltaWrite): extend the touched dirs' dv
    * payloads with the freshly-staged `dvRel` position dirs
    * (ordinal-aligned with `touched`), add the fresh-images dir when
    * one exists, and commit under optimistic concurrency with the
    * rewrite family's conflict guards — touched dirs still present,
    * masks not advanced since `baseV` (the version the positions were
    * computed against), no CHECK constraint declared mid-write. */
  private[sources] def publishMorDelta(spark: SparkSession, tableDir: String,
      baseV: Long, touched: Seq[String], dvRel: String,
      counts: Map[Int, Long],
      cids: Seq[(String, Option[String])],
      payloadSchema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String], boundChecks: Set[String],
      stagedCdc: Option[String], retainGenerations: Int,
      identity: Seq[IdentityClaim] = Seq.empty,
      mintedFresh: Boolean = false,
      freshCids: Seq[String] = Seq.empty): Long = {
    val fs = fsOf(spark, tableDir)
    val baseDv = dvOf(fs, tableDir, baseV)
    // S44 — index the fresh images dirs (standing dirs keep theirs via
    // the auto-carry; their masks never touch the sketches — supersets)
    val newBlooms = cids.collect { case (c, Some(p)) =>
      buildBloomSidecars(spark, tableDir, Seq(c), Map(c -> p))
    }.foldLeft(Map.empty[String, String])(_ ++ _)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000, s"merge-on-read contention at $tableDir")
      val vs = versions(fs, tableDir)
      val head = vs.last
      val headPaths = pathsOf(fs, tableDir, head)
      if (!touched.toSet.subsetOf(headPaths.toSet))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during the " +
            s"merge-on-read rewrite: missing ${touched.toSet -- headPaths.toSet}")
      val headDv = dvOf(fs, tableDir, head)
      if (touched.exists(p => headDv.get(p) != baseDv.get(p)))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during the " +
            "merge-on-read rewrite: deletion vectors advanced on a touched dir")
      val headMeta = metaOf(fs, tableDir, head)
      if (cids.nonEmpty)
        checkConflictGuard(fs, tableDir, headMeta, boundChecks,
          cids.map(_._1))
      // S51 — the conflict check runs only when fresh images MINTED
      // (an update/delete-only statement must not refuse under a
      // racing insert the loop otherwise rebases over cleanly), but
      // the watermark ADVANCE runs for every landed image: a BY
      // DEFAULT update can push explicit ids past the watermark, and
      // the head floor keeps a non-minting publish from regressing a
      // concurrently-advanced one
      if (mintedFresh) {
        def statementCleanup: Seq[String] =
          cids.map(_._1) ++ Seq(dvRel) ++
            stagedCdc.filterNot(_ == CdcEmptyToken)
              .map(n => s"$CdcDirName/$n")
        identityConflictGuard(fs, tableDir, headMeta, identity,
          statementCleanup, "statement")
        // r20 — commit-time re-probe of the FRESH images' explicit
        // ids against dirs landed since the write probe (post-image
        // dirs carry standing ids and are exempt by construction)
        identityExplicitReprobe(spark, fs, tableDir, head, freshCids,
          identity, statementCleanup)
      }
      val idMeta = identityWmMeta(identity, cids.map(_._1),
        cids.collect { case (c, Some(p)) => c -> p }.toMap, headMeta)
      val zoneMeta = statsZonePin(payloadSchema, statsCols,
        cids.exists(_._2.isDefined), headMeta, spark, tableDir)
      val newDv = headDv ++ touched.zipWithIndex.flatMap { case (p, i) =>
        counts.get(i).filter(_ > 0L).map { n =>
          val entry = s"$dvRel/d=$i@$n"
          // stacked deletes EXTEND the dir's payload; readers union
          p -> (headDv.get(p).map(_ + ",").getOrElse("") + entry)
        }
      }
      val committed = commitIf(spark, tableDir,
        (headPaths ++ cids.map(_._1)).sorted, head,
        retainGenerations, schemaDdl = schemaOf(fs, tableDir, head),
        stats = statsOf(fs, tableDir, head) ++
          cids.collect { case (c, Some(p)) => c -> p },
        meta = pruneCdcMeta(headMeta, vs.toSet) ++ zoneMeta ++ idMeta ++
          stagedCdc.map(n => CdcDataPrefix + (head + 1) -> n),
        dv = newDv,
        blooms = newBlooms)
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** The shared copy-on-write kernel of [[deleteWhere]]/[[updateWhere]]
    * (the direct API surface; SQL DML rides Spark's native row-level
    * rewrites onto GraftRowLevelOps): carry every live dir the
    * stats prove `bounds`-free, run `rewrite` over the rest, publish
    * the result as one fresh dir with fresh stats under optimistic
    * concurrency. `rewrite` must preserve the declared schema.
    * `alwaysRewrite` = run `rewrite` even when no dir is touched
    * (over an empty, declared-schema frame) — a rewrite that can ADD
    * rows (MERGE's inserts) must still publish them. */
  private[graft] def rewriteWhere(spark: SparkSession, tableDir: String,
                                  bounds: Map[String, (String, String)],
                                  retainGenerations: Int, cidPrefix: String,
                                  alwaysRewrite: Boolean = false)(
      rewrite: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val fs = fsOf(spark, tableDir)
    val baseV = versions(fs, tableDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
    val basePaths = pathsOf(fs, tableDir, baseV)
    if (basePaths.isEmpty && !alwaysRewrite) return baseV
    val baseStats = statsOf(fs, tableDir, baseV)
    val tableSchema = declaredSchemaOf(spark, tableDir, baseV).getOrElse {
      require(basePaths.nonEmpty,
        s"$tableDir is empty and declares no schema — nothing to rewrite")
      readWithDeclared(spark, tableDir, baseV,
        basePaths.map(p => absPath(tableDir, p))).schema
    }
    val touched = prunePathsIn(basePaths, baseStats,
      bounds.filter { case (c, _) => tableSchema.fieldNames.contains(c) },
      tableSchema)
    if (touched.isEmpty && !alwaysRewrite) return baseV // provable no-op
    // the rewritten dir re-records whichever columns the touched dirs
    // tracked, so data skipping survives the rewrite
    val statsCols = tableSchema.fieldNames.filter(c =>
      touched.exists(p => baseStats.get(p).exists(statsFor(_, c).isDefined)))
      .toSeq
    val cid = cidPrefix + java.util.UUID.randomUUID().toString.take(8)
    val obs = org.apache.spark.sql.Observation()
    val aggs = statsAggExprs(statsCols)
    // touched dirs read through the base masks: a CoW rewrite over a
    // dv'd dir must not resurrect rows a merge-on-read delete masked
    val baseDv = dvOf(fs, tableDir, baseV)
    val touchedDf =
      if (touched.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
      else readMasked(spark, tableDir, baseV, touched, baseDv)
    // declared CHECK constraints bind the rewrite output here (S30) —
    // one seam for DELETE/UPDATE/MERGE instead of per-caller wrapping —
    // and the bound keyset arms the publish-time conflict guard below
    val (rewritten, boundChecks) =
      ManifestSupport.bindDeclaredChecks(rewrite(touchedDf), tableDir,
        recomputeGenerated = true)
    val kept = rewritten.observe(obs, aggs.head, aggs.tail: _*)
    writePhysical(kept, colMapOf(fs, tableDir, baseV))
      .write.parquet(s"$tableDir/$cid")
    val m = obs.get
    val keptRows = m("rows").asInstanceOf[Long]
    val payload =
      if (keptRows == 0L) None
      else Some(statsPayloadFrom(keptRows, statsCols, m))
    if (keptRows == 0L) // the rewrite kept nothing — no dir to publish
      fs.delete(new Path(s"$tableDir/$cid"), true): Unit
    if (touched.isEmpty && keptRows == 0L)
      return baseV // nothing removed, nothing added — don't bump a version
    publishRewrite(spark, tableDir, touched.toSet,
      payload.map(_ => cid), payload, kept.schema, statsCols,
      retainGenerations, boundChecks,
      dvExpected = baseDv.view.filterKeys(touched.toSet).toMap)
  }

  /** The publish half of a dir-granular copy-on-write rewrite: carry
    * every head dir outside `touchedSet`, add `cid` (when a payload
    * exists), validate that no racing writer rewrote a touched dir
    * (loud abort — the standing rows this rewrite anti-joined are
    * stale), re-check the ALTER-vs-write constraint guard, and commit
    * under optimistic concurrency. Shared by [[rewriteWhere]] and the
    * native row-level-operation write (GraftRowLevelOps), so both DML
    * surfaces carry identical conflict semantics. */
  private[sources] def publishRewrite(spark: SparkSession, tableDir: String,
      touchedSet: Set[String], cid: Option[String], payload: Option[String],
      payloadSchema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String], retainGenerations: Int,
      boundChecks: Set[String],
      dvExpected: Map[String, String] = Map.empty): Long = {
    val fs = fsOf(spark, tableDir)
    // defense in depth (r19 review find): a bucketed table's DML must
    // never reach the copy-on-write publish — its non-b= replacement
    // dir would corrupt the layout invariant every merge's bucket
    // parse relies on. The routing already sends bucketed DML to the
    // key-delta kernel; this guard makes a mis-route (e.g. a probe
    // that failed soft) loud instead of corrupting.
    require(!fs.exists(new Path(tableDir, MergeInto.KeyMarker)),
      s"$tableDir is a bucketed merge table — its DML routes through " +
        "the key-delta kernel, never the copy-on-write rewrite")
    // write-side CDC materialization (opt-in): the staged feed diffs
    // exactly the dirs this rewrite removes against the dir it adds.
    // Racing appends rebase through commitIf with BOTH sides of that
    // diff unchanged (touched dirs are immutable and validated still
    // present; the cid dir is ours alone), so the staged frame equals
    // the endpoint diff changes(v-1, v) at whatever version the commit
    // finally lands.
    val stagedCdc = stageCdc(spark, tableDir, touchedSet, cid, payloadSchema)
    // S44 — the rewritten dirs' bloom entries drop with their paths;
    // index the replacement dir so point pruning survives CoW DML
    val newBlooms = (for { c <- cid; p <- payload } yield
      buildBloomSidecars(spark, tableDir, Seq(c), Map(c -> p)))
      .getOrElse(Map.empty)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000, s"row-level rewrite contention at $tableDir")
      val vs = versions(fs, tableDir)
      val head = vs.last
      val headPaths = pathsOf(fs, tableDir, head)
      if (!touchedSet.subsetOf(headPaths.toSet))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during the rewrite: " +
            s"missing ${touchedSet -- headPaths.toSet}")
      val carried = headPaths.filterNot(touchedSet)
      val headMeta = metaOf(fs, tableDir, head)
      // same ALTER-vs-write race guard as the append loop: constraints
      // declared since the rewrite job ran never saw its output rows.
      // Gated on rows actually LANDING (cid) like publishMorDelta's
      // cids.nonEmpty: a pure removal (every affected row deleted,
      // cid = None) writes nothing a constraint could judge — the
      // unconditional guard spuriously failed full-group DELETEs on
      // any table with a standing declared CHECK (r20 review find)
      if (cid.nonEmpty)
        checkConflictGuard(fs, tableDir, headMeta, boundChecks, cid.toSeq)
      // a merge-on-read DELETE racing this rewrite masks rows in a
      // touched dir WITHOUT changing the path list — publishing would
      // resurrect them (the rewrite read the base's masks); loud abort
      val headDv = dvOf(fs, tableDir, head)
      if (touchedSet.exists(p => headDv.get(p) != dvExpected.get(p)))
        throw new IllegalStateException(
          s"table at $tableDir changed incompatibly during the rewrite: " +
            "deletion vectors advanced on a touched dir")
      val zoneMeta = statsZonePin(payloadSchema, statsCols, payload.isDefined,
        headMeta, spark, tableDir)
      val committed = commitIf(spark, tableDir,
        (carried ++ cid).sorted, head, retainGenerations,
        schemaDdl = schemaOf(fs, tableDir, head),
        stats = (statsOf(fs, tableDir, head) -- touchedSet) ++
          (for { c <- cid; p <- payload } yield c -> p),
        meta = pruneCdcMeta(headMeta, vs.toSet) ++ zoneMeta ++
          stagedCdc.map(n => CdcDataPrefix + (head + 1) -> n),
        dv = headDv -- touchedSet,
        blooms = newBlooms)
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** The write half of CDC materialization: when the base head carries
    * `cdc.materialize=true`, run the bounded diff ONCE now (old =
    * touched dirs at the base snapshot, new = the freshly-written cid
    * dir) and stage it under [[CdcDirName]]. Some(name) → record in
    * the commit meta; Some([[CdcEmptyToken]]) → the rewrite provably
    * changed nothing; None → property unset, feed stays read-time. */
  private def stageCdc(spark: SparkSession, tableDir: String,
      touchedSet: Set[String], cid: Option[String],
      payloadSchema: org.apache.spark.sql.types.StructType): Option[String] = {
    val fs = fsOf(spark, tableDir)
    val baseV = versions(fs, tableDir).last
    if (!metaOf(fs, tableDir, baseV).get(CdcMaterializeKey)
        .exists(_.equalsIgnoreCase("true"))) return None
    import org.apache.spark.sql.functions.{count, lit}
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], payloadSchema)
    val older =
      if (touchedSet.isEmpty) empty
      // the old image is the LOGICAL rows — through the base masks, or
      // a CoW rewrite over a dv'd dir would stage masked rows as deletes
      else readMasked(spark, tableDir, baseV, touchedSet.toSeq.sorted,
        dvOf(fs, tableDir, baseV))
    val newer = cid match {
      case Some(c) => spark.read.schema(payloadSchema).parquet(s"$tableDir/$c")
      case None => empty
    }
    val name = "c-" + java.util.UUID.randomUUID().toString.take(8)
    val obs = org.apache.spark.sql.Observation()
    diffFeed(older, newer).observe(obs, count(lit(1)).as("rows"))
      .write.parquet(s"$tableDir/$CdcDirName/$name")
    if (obs.get("rows").asInstanceOf[Long] == 0L) {
      fs.delete(new Path(s"$tableDir/$CdcDirName/$name"), true)
      Some(CdcEmptyToken)
    } else Some(name)
  }

  /** Drop `cdcdata:` entries for versions no longer retained — meta
    * carries forward, so without pruning every DML commit would grow
    * the header forever. Conservative: entries for any version still
    * listed in the manifest dir survive; their staged dirs are [[gc]]'s
    * to reap once the version itself ages out. */
  private def pruneCdcMeta(meta: Map[String, String],
                           retained: Set[Long]): Map[String, String] =
    meta.filterNot { case (k, _) =>
      k.startsWith(CdcDataPrefix) &&
        k.stripPrefix(CdcDataPrefix).toLongOption.exists(!retained.contains(_))
    }

  /** Serve one adjacent feed step from its write-time staged change
    * files — a plain scan, O(change rows), zero shuffle, no re-read of
    * the rewrite's two sides. None (→ bounded diff) when the commit
    * didn't materialize or the staged dir lost a race with GC. */
  private def materializedFeed(spark: SparkSession, tableDir: String,
                               v: Long): Option[DataFrame] = {
    val fs = fsOf(spark, tableDir)
    def feedSchema: Option[org.apache.spark.sql.types.StructType] =
      schemaOf(fs, tableDir, v).map(ddl =>
        org.apache.spark.sql.types.StructType.fromDDL(ddl)
          .add("change_type", org.apache.spark.sql.types.StringType))
    metaOf(fs, tableDir, v).get(CdcDataPrefix + v).flatMap {
      case CdcEmptyToken =>
        // a provably-empty feed is a LOCAL empty frame — zero files
        // opened (needs the declared schema; a schema-less table falls
        // back to the diff, which is empty but footer-shaped)
        feedSchema.map(sch => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch))
      case CdcDegradedToken => None // staging failed → honest diff
      case name =>
        val p = new Path(s"$tableDir/$CdcDirName/$name")
        val ok = try fs.exists(p) catch { case _: java.io.IOException => false }
        if (!ok) None
        else Some(feedSchema match {
          case Some(sch) => spark.read.schema(sch).parquet(p.toString)
          case None => spark.read.parquet(p.toString)
        })
    }
  }

  /** TRUNCATE (the `DELETE FROM t` fast path): commit an EMPTY path
    * list — pure metadata, no data file read or written. Schema and
    * meta carry forward so the table stays declared; the old dirs die
    * by GC under the table's retention, and retained pre-truncate
    * versions still time-travel. */
  def truncateLive(spark: SparkSession, tableDir: String,
                   retainGenerations: Int = 2): Long = {
    val fs = fsOf(spark, tableDir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000, s"truncate contention at $tableDir")
      val head = versions(fs, tableDir).lastOption.getOrElse(
        throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
      val committed = commitIf(spark, tableDir, Seq.empty, head,
        retainGenerations, schemaDdl = schemaOf(fs, tableDir, head),
        stats = Map.empty, meta = metaOf(fs, tableDir, head))
      committed.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** Data-skipping scan (S19): the live table filtered to `column`
    * BETWEEN `lo` AND `hi`, opening ONLY the commit dirs whose
    * recorded [min,max] intersects the range — manifest-level pruning,
    * zero I/O for pruned dirs (at 100 TB with daily appends, a
    * one-week date scan touches 7 dirs out of years of them, before
    * parquet's own footer/row-group pruning takes over inside the
    * survivors). Paths with no recorded stats for `column` are always
    * read (conservative); a dir whose stats say "no non-null values"
    * is pruned, since BETWEEN never matches null. `lo`/`hi` are
    * strings in Spark's cast-to-string form for the column's type
    * (numbers as rendered, dates `yyyy-MM-dd`, timestamps
    * `yyyy-MM-dd HH:mm:ss[.SSSSSS]` — all of which compare correctly
    * in their domain); the residual filter is applied to the surviving
    * rows and pushed into the parquet scan, so pruning is purely an
    * I/O optimization, never a correctness dependency. */
  def rangeScan(spark: SparkSession, tableDir: String, column: String,
                lo: String, hi: String): DataFrame =
    rangeScan(spark, tableDir, Map(column -> (lo, hi)))

  /** Conjunctive multi-column form: a path survives only if EVERY
    * bounded column's recorded interval overlaps its bound — the
    * pruning sets intersect, so a (date, amount) query skips a dir
    * that either dimension alone rules out (the same conjunctive
    * semantics Delta applies across its per-file column stats). */
  def rangeScan(spark: SparkSession, tableDir: String,
                bounds: Map[String, (String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(bounds.nonEmpty, "rangeScan needs at least one bounded column")
    val fs = fsOf(spark, tableDir)
    val v = versions(fs, tableDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
    // one manifest parse serves paths, stats, schema, colmap and masks
    val snap = snapshotOf(fs, tableDir, v)
    // type resolution is metadata-only when the manifest declares a
    // schema (every append-committed table does): pruning must never
    // OPEN a dir it is about to skip — a pruned dir may already be
    // GC'd or lost, and the scan still has to plan and run.
    val tableSchema = snap.declared.getOrElse(
      readSnap(spark, snap,
        snap.paths.map(p => absPath(tableDir, p))).schema)
    val keep = prunePathsIn(snap.paths, snap.stats, bounds, tableSchema)
    val dts = bounds.map { case (c, _) => c -> tableSchema(c).dataType }
    val pred = bounds.map { case (c, (lo, hi)) =>
      col(c) >= lit(lo).cast(dts(c)) && col(c) <= lit(hi).cast(dts(c))
    }.reduce(_ && _)
    if (keep.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
        .filter(pred)
    else readMaskedWith(spark, tableDir, snap, keep, snap.dv)
      .filter(pred)
  }

  /** The paths of version `v` surviving conjunctive bounds pruning —
    * the dir-selection kernel [[rangeScan]] and the V2 scan share
    * (pure metadata: manifest lines only, no data I/O). A path with no
    * stats for a bounded column always survives (conservative). */
  private[graft] def prunePaths(fs: FileSystem, tableDir: String, v: Long,
                                bounds: Map[String, (String, String)],
                                tableSchema: org.apache.spark.sql.types.StructType)
      : Seq[String] =
    prunePathsIn(pathsOf(fs, tableDir, v),
      if (bounds.isEmpty) Map.empty else statsOf(fs, tableDir, v),
      bounds, tableSchema)

  /** Pure form of [[prunePaths]] over an already-read manifest — the
    * V2 scan and [[rangeScan]] hold (paths, stats) already; re-listing
    * the manifest per pruning pass is a GET per plan step on an object
    * store. */
  private[graft] def prunePathsIn(paths: Seq[String],
                                  stats: Map[String, String],
                                  bounds: Map[String, (String, String)],
                                  tableSchema: org.apache.spark.sql.types.StructType)
      : Seq[String] = {
    if (bounds.isEmpty) return paths
    val dts = bounds.map { case (c, _) => c -> tableSchema(c).dataType }
    paths.filter { p =>
      bounds.forall { case (c, (lo, hi)) =>
        stats.get(p).flatMap(statsFor(_, c)) match {
          case Some((_, mn, mx)) => statRangeOverlaps(dts(c), mn, mx, lo, hi)
          case None => true // no stats for this path/column → must read
        }
      }
    }
  }

  /** Null-lane dir pruning: drop dirs a top-level IS NULL / IS NOT
    * NULL conjunct provably rules out — `IS NULL` skips a dir whose
    * recorded null count is 0; `IS NOT NULL` skips a dir that is
    * all-null (recorded nulls = rows, or min and max both `%N`, which
    * pre-nulls-lane payloads already record). Spark pushes IsNotNull
    * for nearly every referenced column, so all-null dirs — common
    * after ADD COLUMN backfills land sparsely — prune everywhere for
    * free. Conjuncts only (a top-level Or can satisfy a row another
    * way); untracked columns/lanes keep the dir (conservative). */
  private[graft] def pruneByNulls(paths: Seq[String],
                                  stats: Map[String, String],
                                  filters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[String] = {
    import org.apache.spark.sql.sources.{And, EqualNullSafe, Filter, IsNotNull, IsNull}
    val isNull = Set.newBuilder[String]
    val isNotNull = Set.newBuilder[String]
    def walk(f: Filter): Unit = f match {
      case IsNull(c) => isNull += c
      case IsNotNull(c) => isNotNull += c
      // `c <=> NULL` pushes as EqualNullSafe(c, null) — same prune as
      // IS NULL; with a non-null literal it implies IS NOT NULL
      case EqualNullSafe(c, v) => if (v == null) isNull += c
                                  else isNotNull += c
      case And(a, b) => walk(a); walk(b)
      case _ => ()
    }
    filters.foreach(walk)
    val (nulls, notNulls) = (isNull.result(), isNotNull.result())
    if (nulls.isEmpty && notNulls.isEmpty) return paths
    paths.filter { p =>
      stats.get(p) match {
        case None => true
        case Some(payload) =>
          nulls.forall(c => !nullsFor(payload, c).contains(0L)) &&
          notNulls.forall { c =>
            val allNull =
              statsFor(payload, c).exists(t => t._2.isEmpty && t._3.isEmpty) ||
                nullsFor(payload, c).exists(n => rowsIn(payload).contains(n))
            !allNull
          }
      }
    }
  }

  /** Conservative interval test for [[rangeScan]]: true unless the
    * recorded [mn,mx] provably misses [lo,hi] in the column's domain.
    * Numeric types compare as decimals (cast-to-string renders
    * scientific notation for wide doubles — BigDecimal parses it);
    * date/timestamp/string compare lexicographically, which matches
    * their domain order in Spark's cast format. Unparseable values or
    * unsupported types keep the path. min/max both null = the dir has
    * no non-null values for the column = prune (BETWEEN is null-free). */
  private def statRangeOverlaps(dt: org.apache.spark.sql.types.DataType,
                                mn: Option[String], mx: Option[String],
                                lo: String, hi: String): Boolean = {
    import org.apache.spark.sql.types._
    if (mn.isEmpty || mx.isEmpty) return false
    def cmp(a: String, b: String): Option[Int] = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
      case DateType | TimestampType | TimestampNTZType | StringType =>
        Some(a.compareTo(b))
      case _ => None
    }
    (cmp(mx.get, lo), cmp(mn.get, hi)) match {
      case (Some(a), Some(b)) => a >= 0 && b <= 0
      case _ => true // can't compare → conservative keep
    }
  }

  /** RESTORE: make a retained older version the live table again by
    * committing its path list (and schema) as a NEW version — history
    * moves forward, nothing is rewritten or deleted, and a reader mid-
    * scan on the abandoned head finishes cleanly. The data dirs are
    * immutable and referenced by the new manifest, so GC keeps them.
    *
    * Race-hardened: publishes with [[commitIf]] on the observed head
    * (a racing merge's commit forces a clean retry instead of being
    * silently clobbered by a last-writer-wins pointer), and after
    * publishing re-checks that the restored dirs survived any GC that
    * raced the read — if one was swept, the bad manifest is WITHDRAWN
    * and the retry's retained-check fails loudly, rather than leaving
    * a live table that references deleted dirs. The residual window
    * (a racing GC that computed its reference set before this publish
    * and sweeps after the re-check) is covered the same way readers
    * are: [[minRetainMs]]. */
  def restore(spark: SparkSession, tableDir: String, v: Long,
              retainGenerations: Int = 2): Long = {
    val fs = fsOf(spark, tableDir)
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 50, s"restore contention at $tableDir")
      require(versions(fs, tableDir).contains(v),
        s"version $v is not retained at $tableDir")
      val head = versions(fs, tableDir).last
      val paths = pathsOf(fs, tableDir, v)
      commitIf(spark, tableDir, paths, expectedBase = head,
        retainGenerations, schemaDdl = schemaOf(fs, tableDir, v),
        stats = statsOf(fs, tableDir, v),
        // the HEAD's meta, not the restored version's: txn watermarks
        // are monotone per writer — rolling the data back must not
        // roll back idempotence markers, or a replayed batch that
        // committed after v double-applies
        meta = metaOf(fs, tableDir, head),
        // the restored version's MASKS restore with its paths — a
        // post-v delete's dv must not keep masking the rolled-back data
        dv = dvOf(fs, tableDir, v)) match {
        case Some(nv) =>
          // relative entries check their top-level commit dir; foreign
          // (clone) entries check the referenced location itself
          val missing = paths
            .map(p => if (isForeign(p)) p else p.split("/", 2).head).distinct
            .filterNot(d => fs.exists(new Path(tableDir, d)))
          if (missing.isEmpty) return nv
          fs.delete(new Path(manifestDir(tableDir), manifestName(nv)), false)
        case None => () // lost to a racing commit — re-observe and retry
      }
    }
    -1L // unreachable
  }

  private[sources] val TagPrefix = "tag:"
  /** S36 — `colstat:<col>` → "ndv,nulls" + `tablestat` → rows, written
    * by `CALL system.analyze`, surfaced by the V2 scan as CBO column
    * statistics. */
  private[graft] val ColStatPrefix = "colstat:"
  private[graft] val TableStatKey = "tablestat"
  /** S37 — `colhist:<col>` → comma-joined equi-height bin BOUNDS
    * (bins+1 ascending doubles), persisted by `CALL system.analyze(...,
    * histogram => true)`; the V2 scan rehydrates them as connector
    * histograms for the CBO's range-selectivity estimates. */
  private[sources] val ColHistPrefix = "colhist:"

  /** S34 — TAG a retained version with a name (Iceberg tags): one
    * optimistic metadata commit adds `tag:<name> -> version` to the
    * `#meta` channel, after which (a) `VERSION AS OF '<name>'` /
    * `versionAsOf=<name>` resolve it, and (b) GC RETAINS the tagged
    * version — manifest and data — past any generation or age policy,
    * until [[untag]] drops the pointer. Meta carries forward through
    * every commit, so tags survive appends, DML, compaction and
    * restore. `version` None = tag the current head. Tagging a
    * non-retained version fails loudly (there is nothing left to
    * pin). */
  def tag(spark: SparkSession, tableDir: String, name: String,
          version: Option[Long] = None, retainGenerations: Int = 2): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\n' || c == '\t'),
      s"invalid tag name '$name'")
    require(name.toLongOption.isEmpty,
      s"tag name '$name' would shadow a literal version number")
    val fs = fsOf(spark, tableDir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"tag contention at $tableDir")
      val vs = versions(fs, tableDir)
      val head = vs.lastOption.getOrElse(throw new IllegalArgumentException(
        s"no committed manifest at $tableDir"))
      val v = version.getOrElse(head)
      require(vs.contains(v), s"version $v is not retained at $tableDir")
      val committed = commitIf(spark, tableDir, pathsOf(fs, tableDir, head),
        head, retainGenerations, schemaDdl = schemaOf(fs, tableDir, head),
        stats = statsOf(fs, tableDir, head),
        meta = metaOf(fs, tableDir, head) + ((TagPrefix + name) -> v.toString),
        dv = dvOf(fs, tableDir, head))
      committed.foreach(_ => return v)
    }
    -1L // unreachable
  }

  /** Drop a tag — the version it pinned becomes ordinary history and
    * dies by the normal retention policy at a later GC. */
  def untag(spark: SparkSession, tableDir: String, name: String,
            retainGenerations: Int = 2): Unit = {
    val fs = fsOf(spark, tableDir)
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val head = versions(fs, tableDir).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest at $tableDir"))
      val meta = metaOf(fs, tableDir, head)
      require(meta.contains(TagPrefix + name),
        s"no tag '$name' at $tableDir")
      if (commitIf(spark, tableDir, pathsOf(fs, tableDir, head), head,
          retainGenerations, schemaDdl = schemaOf(fs, tableDir, head),
          stats = statsOf(fs, tableDir, head),
          meta = meta - (TagPrefix + name),
          dv = dvOf(fs, tableDir, head)).isDefined) return
    }
    throw new IllegalStateException(s"untag contention at $tableDir")
  }

  /** Resolve a `VERSION AS OF` argument that may be a tag name: a
    * literal number passes through; anything else looks up
    * `tag:<name>` in the head's meta. */
  private[graft] def resolveVersionArg(spark: SparkSession, tableDir: String,
                                       arg: String): Long =
    arg.toLongOption.getOrElse {
      val fs = fsOf(spark, tableDir)
      val head = versions(fs, tableDir).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest at $tableDir"))
      metaOf(fs, tableDir, head).get(TagPrefix + arg)
        .flatMap(_.toLongOption).getOrElse(
          throw new IllegalArgumentException(
            s"'$arg' is neither a version number nor a tag at $tableDir"))
    }

  /** S33 — zero-copy SHALLOW CLONE: commit, at `targetDir`, a manifest
    * whose entries are the SOURCE head's data dirs as fully-qualified
    * foreign paths — no data file is read or copied, the clone costs
    * one metadata write whatever the table size (Delta SHALLOW CLONE).
    * The clone is then an independent table: its writes/DML/compaction
    * land LOCAL dirs and never touch the source; the source's later
    * commits never appear in the clone. Schema and `#stats` carry
    * (re-keyed to the foreign entries, so data skipping works on the
    * clone from commit one); table properties (checks, clusterBy,
    * statsZone) carry; `txn:` idempotence watermarks do NOT — the
    * clone is a new table and a stream re-pointed at it must apply its
    * batches. A bucketed source's geometry markers are re-pinned at
    * the target, so the clone merges with the same key and modulus.
    *
    * The documented caveat (same as Delta's): the clone references the
    * source's files WITHOUT protecting them — the SOURCE's retention/
    * vacuum can delete a dir the clone still lists. Mitigations, in
    * order of strength: size the source's `minRetainMs`, or run
    * `compactAppend`/`CALL system.compact` on the CLONE — compaction
    * rewrites every row into local dirs, making the clone
    * self-contained (the "deep-clone finisher", spec-proven by
    * deleting the source). */
  def shallowClone(spark: SparkSession, sourceDir: String,
                   targetDir: String, retainGenerations: Int = 2,
                   extraMeta: Map[String, String] = Map.empty): Long = {
    val sfs = fsOf(spark, sourceDir)
    val v = versions(sfs, sourceDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $sourceDir"))
    require(versions(fsOf(spark, targetDir), targetDir).isEmpty,
      s"clone target already has commits: $targetDir")
    // fully-qualify so entries stay resolvable from the target whatever
    // the working scheme (a clone-of-a-clone's foreign entries pass
    // through untouched)
    val srcQualified = sfs.makeQualified(new Path(sourceDir)).toString
    val paths = pathsOf(sfs, sourceDir, v)
    val abs = paths.map(p =>
      if (isForeign(p)) p else s"$srcQualified/$p")
    val stats = statsOf(sfs, sourceDir, v)
    val absStats = paths.zip(abs)
      .flatMap { case (p, a) => stats.get(p).map(a -> _) }.toMap
    // deletion vectors clone like stats: re-keyed to the foreign data
    // entries, their dv dirs fully qualified under the SOURCE (same
    // retention caveat as the data itself — compaction of the clone
    // materializes them local)
    val srcDv = dvOf(sfs, sourceDir, v)
    val absDv = paths.zip(abs).flatMap { case (p, a) =>
      srcDv.get(p).map { payload =>
        a -> dvEntries(payload).map { case (d, n) =>
          (if (isForeign(d)) d else s"$srcQualified/$d") + "@" + n
        }.mkString(",")
      }
    }.toMap
    // txn watermarks are per-writer idempotence state and tag pointers
    // name versions of the SOURCE's history — neither means anything
    // on the clone's fresh history (its first commit is version 1)
    val meta = metaOf(sfs, sourceDir, v)
      .filterNot { case (k, _) =>
        k.startsWith("txn:") || k.startsWith(TagPrefix) }
    MergeInto.bucketedGeometry(spark, sourceDir).foreach { case (k, n) =>
      MergeInto.pinGeometry(spark, targetDir, k, n) }
    commit(spark, targetDir, abs, retainGenerations,
      schemaDdl = schemaOf(sfs, sourceDir, v), stats = absStats,
      meta = meta ++ extraMeta, dv = absDv)
  }

  // ------------------------------------------------------ S49 WAP branches

  /** Branch root under the parent table (protected `_` prefix — the
    * data sweep never touches it). A BRANCH is a full manifest table
    * at `_branches/<name>`: created as a shallow clone of the parent
    * head (zero copy — foreign entries reference the parent's dirs),
    * so EVERY existing surface works on it unchanged — reads, appends,
    * DML, compaction, time travel — while the parent never sees its
    * commits. The write-audit-publish flow (Iceberg branches / the
    * `spark.wap.branch` pattern): stage writes on the branch, audit
    * them with real queries, then [[publishBranch]] lands the
    * branch on the parent in ONE atomic parent commit — fast-forward
    * when the parent never moved, a dir-granular rebase (cherry-pick)
    * when disjoint parent commits landed during the audit. */
  private[graft] val BranchesDirName = "_branches"
  private[graft] val BranchBaseKey = "branchBase"

  private[graft] def branchDirOf(tableDir: String, name: String): String = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
        c == '-' || c == '_') && !name.startsWith("_"),
      s"branch names are [A-Za-z0-9_-] and not underscore-led: '$name'")
    s"$tableDir/$BranchesDirName/$name"
  }

  /** Create branch `name` at the parent's current head. One metadata
    * commit (the clone); the branch records its base version — the
    * three-way anchor [[publishBranch]] merges and conflict-checks
    * against. A BUCKETED (layout=bucketed) parent branches too (r19):
    * the geometry markers pin onto the branch so its DML routes
    * through the merge kernel under the parent's exact (key, modulus)
    * — a branch merge rewrites touched `c-<uuid>/b=N` dirs whose
    * commit-dir prefix the publish re-keys like any other local dir,
    * so the bucket-leaf names (and S12's zero-shuffle join geometry)
    * survive the round trip; both lineages merging the SAME bucket is
    * the dir conflict the publish already refuses. */
  def createBranch(spark: SparkSession, tableDir: String,
                   name: String): Long = {
    val bdir = branchDirOf(tableDir, name)
    require(!tableDir.contains(s"/$BranchesDirName/"),
      s"cannot branch a branch ($tableDir) — publish or drop it first")
    val head = headVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed graft table at $tableDir"))
    require(versions(fsOf(spark, tableDir), bdir).isEmpty,
      s"branch '$name' already exists at $tableDir")
    // deep histories are the audit workload's point — keep the branch's
    // own history generously (it dies at publish/drop anyway). A
    // bucketed parent's geometry markers pin onto the branch inside
    // [[shallowClone]], BEFORE its commit — a crash can never leave a
    // live branch whose DML would append plain dirs instead of merging.
    shallowClone(spark, tableDir, bdir, retainGenerations = 10,
      extraMeta = Map(BranchBaseKey -> head.toString))
  }

  /** (name, baseVersion, headVersion) of every live branch. */
  def branches(spark: SparkSession, tableDir: String)
      : Seq[(String, Long, Long)] = {
    val fs = fsOf(spark, tableDir)
    val root = new Path(tableDir, BranchesDirName)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val bdir = st.getPath.toString
      versions(fs, bdir).lastOption.map { h =>
        val base = metaOf(fs, bdir, h).get(BranchBaseKey)
          .flatMap(_.toLongOption).getOrElse(-1L)
        (st.getPath.getName, base, h)
      }
    }.sortBy(_._1)
  }

  /** Drop branch `name` — its manifests and local dirs die with it;
    * parent state is untouched (the branch only ever referenced the
    * parent's dirs foreign, never owned them). */
  def dropBranch(spark: SparkSession, tableDir: String, name: String): Unit = {
    val bdir = branchDirOf(tableDir, name)
    val fs = fsOf(spark, tableDir)
    require(versions(fs, bdir).nonEmpty,
      s"no branch '$name' at $tableDir")
    invalidateSnapshots(bdir)
    fs.delete(new Path(bdir), true): Unit
  }

  /** Publish branch `name`: land the branch's staged work on the parent
    * in ONE atomic parent commit, then consume the branch. Two modes,
    * decided by whether the parent moved since the cut:
    *
    *  - **Fast-forward** (parent head == branch base): the parent's
    *    next version is exactly the branch head state — the classic
    *    WAP contract.
    *  - **Rebase** (parent advanced): the branch's commits-since-base
    *    are re-keyed onto the CURRENT parent head — Iceberg's
    *    cherry-pick, the shape a continuously-ingested table needs
    *    (any strict-FF publish there would be permanently stuck). The
    *    merge is dir-granular three-way against the recorded base:
    *    dirs the branch added land; dirs the branch removed
    *    (compaction/CoW rewrites) drop from the head; per-dir dv /
    *    stats / bloom channels the branch changed override. Only DATA
    *    channels conflict: stats and bloom payloads are DERIVED state
    *    over immutable files, so a parent-side ANALYZE (`#ndv` sweep)
    *    or bloom rebuild during the audit merges instead of blocking —
    *    the branch's value carries where the branch changed that
    *    channel, the parent's refresh otherwise. It is
    *    REFUSED loudly — naming the conflicts — when both lineages
    *    touched the same dir (removed or re-masked it), changed the
    *    same meta key (including `idwm:` — identity allocations on
    *    both sides could collide), or both evolved the schema. A
    *    refused publish leaves parent and branch intact.
    *
    * Mechanics: entries the branch carried foreign from the parent
    * re-key back to parent-relative; dirs the branch wrote LOCALLY
    * (appends, DML rewrites, compactions) MOVE into the parent tree
    * under deterministic `br-<name>-v<head>-…` names — `fs.rename`,
    * instant on posix/HDFS, a server-side copy on object stores — with
    * stats/dv/bloom channels re-keyed in step. Moves run on the shared
    * bounded metadata-I/O pool (a many-dir branch pays one pool sweep,
    * not one serial RPC per dir), are idempotent (a crashed publish
    * resumes: target-present+source-missing = already moved), and the
    * parent commit is the only visibility point — a crash before it
    * leaves the parent byte-identical and the moved dirs as aged-out
    * orphans at worst. Branch-local deletion-vector and bloom-sidecar
    * dirs move the same way. On a `cdc.materialize` table the publish
    * commit STAMPS its own staged feed — the branch's net base→head
    * diff with update pre/post pairing re-attached where it survives
    * the net (r19) — so downstream CDC consumers read the audited
    * UPDATEs paired instead of falling back to an unpaired manifest
    * diff; per-step branch-local `cdcdata:` references still drop (the
    * branch's own history dies with it), while cdc references
    * the parent head holds carry. The parent head's `tag:` pointers
    * survive (they name parent history; branch-created tags name branch
    * versions and drop); `txn:` watermarks merge per key by MAX (a
    * publish must never reset a writer's idempotence watermark).
    *
    * The commit is optimistic: a writer landing mid-publish just
    * re-merges against the new head and retries (bounded), refusing
    * only when the newcomer actually conflicts — then the moves are
    * REVERSED so the branch survives intact. */
  def publishBranch(spark: SparkSession, tableDir: String,
                    name: String): Long = {
    val bdir = branchDirOf(tableDir, name)
    val fs = fsOf(spark, tableDir)
    val bHead = versions(fs, bdir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $tableDir"))
    val bsnap = snapshotOf(fs, bdir, bHead)
    val base = bsnap.meta.get(BranchBaseKey).flatMap(_.toLongOption)
      .getOrElse(throw new IllegalStateException(
        s"branch '$name' carries no $BranchBaseKey — not a branch?"))
    val qualParent = fs.makeQualified(new Path(tableDir)).toString
    val nameEnc = name // validated charset is path-safe
    // idempotent move of a branch-local top-level entry into the parent
    def moveLocal(topRel: String, targetTop: String): Unit = {
      val src = new Path(bdir, topRel)
      val dst = new Path(tableDir, targetTop)
      val srcThere = try fs.exists(src) catch { case _: java.io.IOException => false }
      val dstThere = try fs.exists(dst) catch { case _: java.io.IOException => false }
      if (srcThere && dstThere)
        throw new IllegalStateException(
          s"publish of branch '$name': target $dst already exists while " +
            s"the source does too — an orphaned earlier publish? Remove " +
            "the target (or vacuum) and retry")
      if (srcThere) {
        fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"publish move $src -> $dst failed")
      } else require(dstThere,
        s"publish of branch '$name': $src is gone and $dst absent — " +
          "the branch tree is damaged")
    }
    // data entries: foreign-from-parent → relative; local → move
    val dataTargetOf = scala.collection.mutable.Map.empty[String, String]
    def rekeyData(p: String): String =
      if (isForeign(p)) {
        if (p.startsWith(qualParent + "/")) {
          val rel = p.stripPrefix(qualParent + "/")
          // only plain data entries re-key; anything under a protected
          // root stays foreign (it is not listed as a data dir anyway)
          rel
        } else p // foreign beyond the parent (clone chains) — carry
      } else {
        val top = p.split("/", 2)
        val target = dataTargetOf.getOrElseUpdate(top.head,
          s"br-$nameEnc-v$bHead-${top.head}")
        if (top.length == 1) target else s"$target/${top(1)}"
      }
    val rekeyedPaths = bsnap.paths.map(rekeyData)
    val pathKey = bsnap.paths.zip(rekeyedPaths).toMap
    // deletion vectors: payload entries are `<dvDir>@<count>` where a
    // LOCAL dvDir lives under the branch's _dv — move + re-key
    val dvTargetOf = scala.collection.mutable.Map.empty[String, String]
    def rekeyDvPayload(payload: String): String =
      dvEntries(payload).map { case (d, n) =>
        val moved =
          // a parent-MoR mask the clone absolutized MUST re-key back to
          // relative: the parent's _dv sweep counts only its OWN
          // (relative) names as referenced — an absolute self-reference
          // would age out and be swept, resurrecting deleted rows
          if (isForeign(d) && d.startsWith(qualParent + "/"))
            d.stripPrefix(qualParent + "/")
          else if (isForeign(d)) d
          else if (d.startsWith(DvDirName + "/")) {
            val sub = d.stripPrefix(DvDirName + "/").split("/", 2)
            val target = dvTargetOf.getOrElseUpdate(sub.head,
              s"br-$nameEnc-v$bHead-${sub.head}")
            DvDirName + "/" + (if (sub.length == 1) target
                               else s"$target/${sub(1)}")
          } else d
        s"$moved@$n"
      }.mkString(",")
    val rekeyedDv = bsnap.dv.collect {
      case (p, payload) if pathKey.contains(p) =>
        pathKey(p) -> rekeyDvPayload(payload)
    }
    // bloom sidecars: payload pairs (physEnc, idxRel) with idxRel under
    // _idx/<idxName>/... — move per idxName + re-key
    val idxTargetOf = scala.collection.mutable.Map.empty[String, String]
    def rekeyBloomPayload(payload: String): String =
      payload.split('\t').grouped(2).collect { case Array(c, rel) =>
        val moved =
          if (rel.startsWith(IdxDirName + "/")) {
            val sub = rel.stripPrefix(IdxDirName + "/").split("/", 2)
            val target = idxTargetOf.getOrElseUpdate(sub.head,
              s"br-$nameEnc-v$bHead-${sub.head}")
            IdxDirName + "/" + (if (sub.length == 1) target
                                else s"$target/${sub(1)}")
          } else rel
        Seq(c, moved)
      }.flatten.mkString("\t")
    val rekeyedBlooms = bsnap.bloom.collect {
      case (p, payload) if pathKey.contains(p) =>
        pathKey(p) -> rekeyBloomPayload(payload)
    }
    val rekeyedStats = bsnap.stats.collect {
      case (p, payload) if pathKey.contains(p) => pathKey(p) -> payload
    }
    // ---- three-way anchor: the parent state the branch was cut from.
    // Needed even when the parent never moved (it is the head then);
    // gone = retention outran the branch, nothing to merge against.
    val baseSnap =
      try snapshotOf(fs, tableDir, base)
      catch { case _: java.io.IOException =>
        throw new IllegalStateException(
          s"cannot publish branch '$name': its base v$base is no longer " +
            s"retained on the parent — retention outran the audit " +
            "window (raise retainGenerations) — re-cut the branch and " +
            "replay, or drop it if superseded")
      }
    val baseSet = baseSnap.paths.toSet
    val rekeyedSet = rekeyedPaths.toSet
    // the branch's delta vs its base, dir-granular per channel
    val branchRemoved = baseSet -- rekeyedSet
    val branchNew = rekeyedPaths.filterNot(baseSet)
    val branchNewSet = branchNew.toSet
    val branchKept = baseSet & rekeyedSet
    val bDvChanged = branchKept.filter(d =>
      rekeyedDv.get(d) != baseSnap.dv.get(d))
    val bStatsChanged = branchKept.filter(d =>
      rekeyedStats.get(d) != baseSnap.stats.get(d))
    // a shallow clone does not carry bloom sidecars (commitIf's
    // auto-carry restores them at publish) — an ABSENT branch entry is
    // "unchanged", only a differing PRESENT one is a branch change
    val bBloomChanged = branchKept.filter(d =>
      rekeyedBlooms.get(d).exists(v => !baseSnap.bloom.get(d).contains(v)))
    // Only DATA channels (the dir itself and its deletion-vector mask)
    // can conflict. Stats and bloom payloads are DERIVED state over an
    // IMMUTABLE file — a refresh on either lineage (ANALYZE's `#ndv`
    // sweep, a bloom rebuild) describes the same physical bytes, so any
    // combination merges: the branch's value carries where the branch
    // changed the channel, the parent's refreshed value otherwise. A
    // nightly parent ANALYZE must never make an audit branch
    // unpublishable.
    val branchTouched = branchRemoved ++ bDvChanged
    val branchSchemaChanged = bsnap.schemaDdl != baseSnap.schemaDdl
    // ---- paired CDC through the publish (r19). A cdc.materialize
    // table's downstream consumers read the publish step as one feed
    // version; without a staged feed they get the manifest-diff
    // fallback, which serves the branch's audited UPDATEs as unpaired
    // delete+insert. Stage the publish step's feed NOW, while the
    // branch is intact: the NET endpoint diff base→head computed by the
    // branch's own feed machinery (O(changed dirs), full images — no
    // path dependence, so the move needs no rewrite), then re-tag net
    // rows that match the branch's staged update pre/post images —
    // multiset-exact via intersectAll/exceptAll — so a pairing that
    // SURVIVES the net reaches consumers as update_preimage/postimage.
    // When pairing can't be proven balanced (an updated row later
    // deleted, an appended row updated), the tags honestly stay
    // delete/insert — never wrong, the diff shape consumers already
    // handle. The staged dir lands under the PARENT's _cdc (a refused
    // publish deletes it; a crashed one ages out as an unreferenced
    // orphan for gc).
    val publishCdc: Option[String] =
      if (!bsnap.meta.get(CdcMaterializeKey).exists(_.equalsIgnoreCase("true")))
        None
      else scala.util.Try {
        import org.apache.spark.sql.functions.{col, lit}
        // dir-granular NET diff of the two snapshots in the REKEYED
        // (parent-relative) namespace — branch versions number from the
        // clone, so the base is NOT a branch version; the snapshots in
        // hand are the exact endpoints. Each side reads through ITS
        // masks (the branch side from the still-intact branch tree), so
        // unchanged rows never leave the scan — same O(changed dirs)
        // shape as [[changes]].
        val rekeyedToOrig = rekeyedPaths.zip(bsnap.paths).toMap
        def dirKeys(paths: Seq[String], dv: Map[String, String]) =
          paths.map(p => p -> dv.getOrElse(p, "")).toSet
        val fromK = dirKeys(baseSnap.paths, baseSnap.dv)
        val toK = dirKeys(rekeyedPaths, rekeyedDv)
        val onlyFrom = (fromK diff toK).toSeq.map(_._1).sorted
        val onlyTo = (toK diff fromK).toSeq.map(_._1)
          .sorted.map(rekeyedToOrig)
        if (onlyFrom.isEmpty && onlyTo.isEmpty) None
        else {
          // BOTH sides read through the BRANCH-HEAD schema anchor
          // (bsnap supplies schema + colmap; physical file names are
          // shared, so parent-base dirs resolve under it) — a feed
          // across a branch-side ADD COLUMN compares rows on the union
          // shape exactly as [[changes]] anchors on the newer version
          def olderDf = readMaskedWith(spark, tableDir, bsnap, onlyFrom,
            baseSnap.dv)
          def newerDf = readMasked(spark, bdir, bHead, onlyTo, bsnap.dv)
          val older = if (onlyFrom.isEmpty) newerDf.limit(0) else olderDf
          val newer = if (onlyTo.isEmpty) olderDf.limit(0) else newerDf
          val net = diffFeed(older, newer).cache()
          try {
            if (net.isEmpty) None
            else {
              val dataCols = net.columns.filterNot(_ == "change_type")
                .toIndexedSeq.map(col)
              def side(df: DataFrame, tags: String*): DataFrame =
                df.filter(col("change_type").isin(tags: _*))
                  .select(dataCols: _*)
              // the branch's own staged step feeds (post-cut DMLs stage
              // under the BRANCH's _cdc; cloned parent references name
              // dirs that don't exist there and drop out)
              val feedSchema = schemaOf(fs, bdir, bHead).map(ddl =>
                org.apache.spark.sql.types.StructType.fromDDL(ddl)
                  .add("change_type", org.apache.spark.sql.types.StringType))
              val stagedSteps = bsnap.meta.toSeq.collect {
                case (k, n) if k.startsWith(CdcDataPrefix) &&
                    n != CdcEmptyToken &&
                    (try fs.exists(new Path(s"$bdir/$CdcDirName/$n"))
                     catch { case _: java.io.IOException => false }) =>
                  val p = s"$bdir/$CdcDirName/$n"
                  feedSchema.map(spark.read.schema(_).parquet(p))
                    .getOrElse(spark.read.parquet(p))
              }
              // A staged step's pairing re-tags ONLY when the step
              // survives the net WHOLESALE: every one of its update
              // pre-images is still a net delete AND every post-image
              // still a net insert (multiset ⊆ via exceptAll). Count
              // equality alone is NOT pairing evidence — one row
              // updated-then-deleted plus another inserted-then-
              // updated leaves EQUAL counts of unrelated surviving
              // images, and a count check would publish them as a
              // false pre/post pair. Wholesale survival means the
              // step's rows were never disturbed after the update, so
              // re-tagging its exact image multisets restates what the
              // step did. Per-STEP granularity keeps a clean update's
              // pairing even when a sibling step churned; the combined
              // guard below rejects two steps claiming one net delete
              // (a row recreated and re-updated between them).
              val netDel = side(net, "delete").cache()
              val netIns = side(net, "insert").cache()
              val images = stagedSteps.map { sf =>
                (side(sf, "update_preimage").cache(),
                 side(sf, "update_postimage").cache())
              }
              try {
                val surviving = images.filter { case (pre, post) =>
                  pre.count() > 0 && pre.count() == post.count() &&
                    pre.exceptAll(netDel).isEmpty &&
                    post.exceptAll(netIns).isEmpty
                }
                val preAll = surviving.map(_._1).reduceOption(_.union(_))
                val postAll = surviving.map(_._2).reduceOption(_.union(_))
                val feed = (preAll, postAll) match {
                  case (Some(preM), Some(postM))
                      if preM.exceptAll(netDel).isEmpty &&
                        postM.exceptAll(netIns).isEmpty =>
                    netDel.exceptAll(preM)
                      .withColumn("change_type", lit("delete"))
                      .unionByName(preM
                        .withColumn("change_type", lit("update_preimage")))
                      .unionByName(netIns.exceptAll(postM)
                        .withColumn("change_type", lit("insert")))
                      .unionByName(postM
                        .withColumn("change_type", lit("update_postimage")))
                  case _ => net
                }
                val cname = "c-" + java.util.UUID.randomUUID().toString.take(8)
                feed.write.parquet(s"$tableDir/$CdcDirName/$cname")
                Some(cname)
              } finally {
                netDel.unpersist(): Unit; netIns.unpersist(): Unit
                images.foreach { case (a, b) =>
                  a.unpersist(): Unit; b.unpersist(): Unit
                }
              }
            }
          } finally { net.unpersist(): Unit }
        }
      } match {
        case scala.util.Success(staged) => staged
        case scala.util.Failure(_) =>
          // staging failed (anchor-unabsorbable evolution, staging-
          // area IO): the publish itself proceeds — the feed falls
          // back to the read-time manifest diff — but the step is
          // STAMPED degraded so consumers can branch on
          // t$history.feed_mode instead of silently reading the
          // branch's paired updates as unpaired delete+insert
          Some(CdcDegradedToken)
      }
    // meta keys with publish-specific handling, excluded from the
    // generic three-way merge below. The commit-kind tag (`cdc` =
    // `<kind>@<version>`) drops entirely: it describes ONE commit, and
    // the publish commit is neither side's — a stale carried tag would
    // mismatch by version anyway and the feed falls back to the
    // manifest diff for this step.
    def specialMeta(k: String): Boolean =
      k == BranchBaseKey || k == CdcKindKey || k.startsWith(TagPrefix) ||
        k.startsWith("txn:") || k.startsWith("cdcdata:")
    // attempt a merge against ONE observed parent head; Left = the
    // conflicts that make this branch unpublishable (for good — a
    // conflict vs an already-committed parent version never clears)
    final case class Merged(paths: Seq[String], schemaDdl: Option[String],
        stats: Map[String, String], meta: Map[String, String],
        dv: Map[String, String], blooms: Map[String, String])
    def mergeAgainst(psnap: Snapshot): Either[String, Merged] = {
      val pSet = psnap.paths.toSet
      val pRemoved = baseSet -- pSet
      val pKept = baseSet & pSet
      val pChanged = pKept.filter(d =>
        psnap.dv.get(d) != baseSnap.dv.get(d))
      val parentTouched = pRemoved ++ pChanged
      // did either lineage change DATA since the cut? (the write-
      // contract conflict test below needs the cross answer)
      val parentDataChanged = parentTouched.nonEmpty || pSet != baseSet
      val branchDataChanged = branchTouched.nonEmpty ||
        branchNew.nonEmpty || branchSchemaChanged
      // MASK-UNION rescue: a dir BOTH lineages merely EXTENDED with
      // merge-on-read masks (stacked dv entries; dir kept, stats and
      // blooms untouched on both sides) is mergeable when the two
      // mask sets are POSITION-DISJOINT — the concurrent-delete shape
      // a live table hits constantly during an audit. The merged
      // payload stacks parent additions then branch additions (each
      // side's own protocol already guarantees disjointness vs the
      // base, so only the cross pair needs the check — one tiny read
      // over selective-delete parquet). A crashed merge's retry shows
      // the branch's additions already ON the head (entry names are
      // unique) and resumes by carrying the head payload.
      def dvEntryList(payload: Option[String]): Seq[String] =
        payload.toSeq.flatMap(_.split(',').toSeq)
      def extendsDv(base: Option[String], cur: Option[String]): Boolean =
        cur.isDefined && dvEntryList(cur).startsWith(dvEntryList(base))
      def dvAdditions(base: Option[String], cur: Option[String]): Seq[String] =
        dvEntryList(cur).drop(dvEntryList(base).length)
      // positions of one side's ADDED mask entries; branch-local dirs
      // read from wherever they currently live (pre- or post-move)
      def maskPositions(entries: Seq[String]): DataFrame = {
        val dirs = entries.flatMap(e => dvEntries(e).map(_._1)).map { rel =>
          val parent = new Path(absPath(tableDir, rel))
          if (try fs.exists(parent) catch { case _: java.io.IOException => false })
            parent.toString
          else {
            // a branch-local dv dir not yet moved: map the rekeyed name
            // back to its branch location
            val sub = rel.stripPrefix(DvDirName + "/")
            val orig = dvTargetOf.collectFirst {
              case (s0, tgt) if sub == tgt || sub.startsWith(tgt + "/") =>
                DvDirName + "/" + s0 + sub.stripPrefix(tgt)
            }.getOrElse(sub)
            s"$bdir/$orig"
          }
        }
        spark.read.schema(DvSchema).parquet(dirs: _*)
      }
      // S31 × S49 — on a BUCKETED parent the conflict unit is the
      // BUCKET, not the dir: both lineages inserting into a bucket
      // NEITHER had a standing dir for (an empty bucket) touch no
      // common dir, yet committing both would land TWO b=N dirs for
      // one bucket — breaking the one-dir-per-bucket invariant the
      // merge kernel's liveByBucket map silently relies on (one of the
      // two dirs' rows would vanish from the next merge), and
      // potentially landing the same fresh key twice. (Review find,
      // r19.)
      if (MergeInto.bucketedGeometry(spark, tableDir).isDefined) {
        def bucketOf(rel: String): Option[Int] = {
          val i = rel.lastIndexOf("b=")
          if (i < 0) None else rel.substring(i + 2).toIntOption
        }
        def bucketsOf(dirs: Iterable[String]): Set[Int] =
          dirs.flatMap(bucketOf(_)).toSet
        val bBuckets = bucketsOf(branchNew ++ branchRemoved ++ bDvChanged)
        val pBuckets = bucketsOf((pSet -- baseSet) ++ pRemoved ++ pChanged)
        val clash = (bBuckets & pBuckets).toSeq.sorted
        if (clash.nonEmpty)
          return Left("both the branch and the parent merged into " +
            s"bucket(s) ${clash.take(8).mkString(", ")} — a bucketed " +
            "table's conflict unit is the bucket (one dir per bucket " +
            "by construction)")
      }
      val dirConflicts0 = (branchTouched & parentTouched).toSeq.sorted
      val mergedDvOverrides = scala.collection.mutable.Map.empty[String, String]
      val dirConflicts = dirConflicts0.filterNot { d =>
        // derived channels (stats/bloom) never veto the rescue — a
        // concurrent ANALYZE or bloom rebuild on the same dir merges
        // independently of the mask union
        val bothOnlyMasked =
          pSet.contains(d) && rekeyedSet.contains(d) &&
          extendsDv(baseSnap.dv.get(d), psnap.dv.get(d)) &&
          extendsDv(baseSnap.dv.get(d), rekeyedDv.get(d))
        bothOnlyMasked && {
          val addP = dvAdditions(baseSnap.dv.get(d), psnap.dv.get(d))
          val addB = dvAdditions(baseSnap.dv.get(d), rekeyedDv.get(d))
          if (addB.toSet.subsetOf(addP.toSet)) {
            // crash-resumed merge: the branch's masks already landed
            mergedDvOverrides(d) = psnap.dv(d)
            true
          } else if (addB.exists(addP.contains)) false // partial overlap
          else {
            val clash = maskPositions(addP)
              .join(maskPositions(addB), Seq("path", "pos"), "inner")
              .limit(1).collect()
            if (clash.nonEmpty) false // both masked the SAME row
            else {
              mergedDvOverrides(d) = (dvEntryList(psnap.dv.get(d)) ++ addB)
                .mkString(",")
              true
            }
          }
        }
      }
      if (dirConflicts.nonEmpty)
        return Left("both the branch and the parent touched " +
          s"(rewrote, removed or re-masked) ${dirConflicts.size} dir(s): " +
          dirConflicts.take(8).mkString(", "))
      // schema: three-way — both evolved (to different shapes) refuses
      val schemaDdl =
        if (!branchSchemaChanged) psnap.schemaDdl
        else if (psnap.schemaDdl == baseSnap.schemaDdl ||
          psnap.schemaDdl == bsnap.schemaDdl) bsnap.schemaDdl
        else return Left("both the branch and the parent evolved the " +
          "table schema since the cut")
      // meta: generic three-way per key; a key both sides changed (to
      // different values) refuses — `idwm:` lands here by design: both
      // lineages minting identity ids from the same base watermark can
      // collide, the Delta conflict shape
      val keys = (bsnap.meta.keySet ++ psnap.meta.keySet ++
        baseSnap.meta.keySet).filterNot(specialMeta)
      val metaConflicts = scala.collection.mutable.ArrayBuffer.empty[String]
      // a write CONTRACT declared on one lineage never judged the
      // OTHER lineage's rows: its add-time validation scan saw only
      // its own snapshot, so carrying it over foreign data silently
      // admits exactly the ALTER-vs-write race every write path
      // refuses (checkConflictGuard). Declaration keys conflict
      // whenever the opposite side changed data.
      def contractKey(k: String): Boolean =
        k.startsWith(GraftCatalog.PropPrefix + "check.") ||
          k.startsWith(GenColPrefix) || k.startsWith(IdentityPrefix)
      val merged3 = keys.toSeq.flatMap { k =>
        val a = baseSnap.meta.get(k)
        val b = bsnap.meta.get(k)
        val p = psnap.meta.get(k)
        // an identity watermark BOTH sides advanced conflicts even when
        // they landed on the same value — equal watermarks mean both
        // lineages minted the SAME ids from the shared base
        val bothMinted = k.startsWith(IdentityWmPrefix) && b != a && p != a
        // only an ADDED/CHANGED declaration conflicts — dropping one
        // admits no unvalidated rows, and both sides declaring the
        // IDENTICAL value each validated their own rows
        val contractOverForeignRows = contractKey(k) && b != p &&
          ((b.isDefined && b != a && parentDataChanged) ||
            (p.isDefined && p != a && branchDataChanged))
        val v = if (bothMinted || contractOverForeignRows) {
          metaConflicts += k; None }
        else if (b == a) p
        else if (p == a || p == b) b
        else { metaConflicts += k; None }
        v.map(k -> _)
      }.toMap
      if (metaConflicts.nonEmpty) {
        val ks = metaConflicts.sorted
        val hint =
          if (ks.exists(_.startsWith(IdentityWmPrefix)))
            " (identity ids were allocated on BOTH lineages from the " +
              "same watermark — the staged ids could collide)"
          else if (ks.exists(contractKey))
            " (a write contract declared on one lineage never validated " +
              "the other lineage's rows)"
          else ""
        return Left(
          s"conflicting meta key(s)$hint: ${ks.take(8).mkString(", ")}")
      }
      // TXN watermarks are monotone per appId and must never move
      // backwards: merge branch and parent per key by MAX. TAGS name
      // versions of the PARENT history — the head's survive, branch-
      // created ones drop. Staged-CDC refs: the head's carry (the
      // branch's own feed dies with it).
      val txnKeys = (bsnap.meta.keySet ++ psnap.meta.keySet)
        .filter(_.startsWith("txn:"))
      val mergedTxn = txnKeys.flatMap { k =>
        val vs = Seq(bsnap.meta.get(k), psnap.meta.get(k))
          .flatten.flatMap(_.toLongOption)
        if (vs.isEmpty) psnap.meta.get(k).orElse(bsnap.meta.get(k)).map(k -> _)
        else Some(k -> vs.max.toString)
      }.toMap
      val meta = merged3 ++
        psnap.meta.filter { case (k, _) =>
          k.startsWith(TagPrefix) || k.startsWith("cdcdata:") } ++
        mergedTxn
      // channels: per dir — branch's where the branch changed/added it,
      // the head's otherwise (conflict-free by the checks above)
      val paths = (psnap.paths.filterNot(branchRemoved) ++ branchNew).distinct
      def channel(pch: Map[String, String], bch: Map[String, String],
                  bWins: Set[String]): Map[String, String] =
        paths.flatMap { d =>
          (if (branchNewSet(d) || bWins(d)) bch.get(d) else pch.get(d))
            .map(d -> _)
        }.toMap
      Right(Merged(paths, schemaDdl,
        channel(psnap.stats, rekeyedStats, bStatsChanged),
        meta,
        channel(psnap.dv, rekeyedDv,
          bDvChanged -- mergedDvOverrides.keySet) ++ mergedDvOverrides,
        channel(psnap.bloom, rekeyedBlooms, bBloomChanged)))
    }
    // Deletion vectors store the masked file's URI VERBATIM ("files
    // never move") — but the publish MOVES branch-local data dirs, so a
    // dv that masks one of them must have its parquet REWRITTEN, not
    // renamed: the path infix `/_branches/<name>/<top>/` becomes the
    // moved dir's name. String surgery on the stored value keeps the
    // original scheme rendering byte-identical, so the rewritten paths
    // still raw-match `_metadata.file_path` at read time. Only dv dirs
    // attached to a branch-LOCAL data entry pay the (tiny — masks are
    // selective by protocol) rewrite job; masks of parent dirs rename.
    val dvSubsNeedingRewrite: Set[String] = bsnap.dv.toSeq.collect {
      case (p, payload) if !isForeign(p) =>
        dvEntries(payload).collect {
          case (d, _) if d.startsWith(DvDirName + "/") =>
            d.stripPrefix(DvDirName + "/").split("/", 2).head
        }
    }.flatten.toSet
    // every referenced dv dir under a top-level sub, as (sub, rest) —
    // the rewrite must land each referenced dir at its exact re-keyed
    // location (`_dv/<target>/<rest>`), preserving the subtree shape
    val dvRefsBySub: Map[String, Set[String]] = bsnap.dv.values.toSeq
      .flatMap(dvEntries(_).map(_._1))
      .collect { case d if d.startsWith(DvDirName + "/") =>
        val parts = d.stripPrefix(DvDirName + "/").split("/", 2)
        parts.head -> (if (parts.length == 1) "" else parts(1))
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def rewriteDv(sub: String, target: String, forward: Boolean): Unit = {
      import org.apache.spark.sql.functions.{col, lit, replace}
      val srcTop = if (forward) new Path(bdir, s"$DvDirName/$sub")
                   else new Path(tableDir, s"$DvDirName/$target")
      val dstTop = if (forward) new Path(tableDir, s"$DvDirName/$target")
                   else new Path(bdir, s"$DvDirName/$sub")
      dvRefsBySub.getOrElse(sub, Set("")).foreach { rest =>
        val src = if (rest.isEmpty) srcTop else new Path(srcTop, rest)
        val dst = if (rest.isEmpty) dstTop else new Path(dstTop, rest)
        val srcThere = try fs.exists(src) catch { case _: java.io.IOException => false }
        if (!srcThere) {
          require(try fs.exists(dst) catch { case _: java.io.IOException => false },
            s"publish of branch '$name': $src is gone and $dst absent — " +
              "the branch tree is damaged")
        } else {
          val mapped = dataTargetOf.toSeq.foldLeft(col("path")) {
            case (acc, (top, tgt)) =>
              val o = s"/$BranchesDirName/$nameEnc/$top/"
              val n = s"/$tgt/"
              if (forward) replace(acc, lit(o), lit(n))
              else replace(acc, lit(n), lit(o))
          }
          spark.read.schema(DvSchema).parquet(src.toString)
            .withColumn("path", mapped)
            .coalesce(1).write.mode("overwrite").parquet(dst.toString)
        }
      }
      fs.delete(srcTop, true): Unit
    }
    // MOVE phase (idempotent, before the visibility point) — one sweep
    // of the shared bounded pool, not one serial RPC per dir. Forward
    // and reverse share the sweep.
    def moveAll(): Unit = sidecarIoSweep {
      dataTargetOf.toSeq.map { case (top, target) =>
        () => moveLocal(top, target) } ++
      dvTargetOf.toSeq.map { case (sub, target) =>
        if (dvSubsNeedingRewrite(sub)) () => rewriteDv(sub, target, forward = true)
        else () => moveLocal(s"$DvDirName/$sub", s"$DvDirName/$target") } ++
      idxTargetOf.toSeq.map { case (sub, target) =>
        () => moveLocal(s"$IdxDirName/$sub", s"$IdxDirName/$target") }
    }
    def moveBack(topRel: String, targetTop: String): Unit = {
      val src = new Path(bdir, topRel)
      val dst = new Path(tableDir, targetTop)
      if ((try fs.exists(dst) catch { case _: java.io.IOException => false })
          && !(try fs.exists(src) catch { case _: java.io.IOException => false })) {
        fs.mkdirs(src.getParent)
        fs.rename(dst, src): Unit
      }
    }
    // REVERSE the moves so the branch survives intact — its manifest
    // references the branch-local names, which must exist again for the
    // branch to stay readable/droppable/re-cuttable. The reverse renames
    // are the forward moves' mirror; a crash mid-reverse leaves a mix a
    // retried publish cannot mend, but every dir is still in exactly one
    // of its two known places and dropBranch + the orphan sweep clean both.
    def moveAllBack(): Unit = sidecarIoSweep {
      dataTargetOf.toSeq.map { case (top, target) =>
        () => moveBack(top, target) } ++
      dvTargetOf.toSeq.map { case (sub, target) =>
        if (dvSubsNeedingRewrite(sub))
          () => rewriteDv(sub, target, forward = false)
        else () => moveBack(s"$DvDirName/$sub", s"$DvDirName/$target") } ++
      idxTargetOf.toSeq.map { case (sub, target) =>
        () => moveBack(s"$IdxDirName/$sub", s"$IdxDirName/$target") }
    }
    def refuse(why: String, movedAlready: Boolean): Nothing = {
      if (movedAlready) moveAllBack()
      publishCdc.foreach(n => // staged feed never referenced — clean it
        try fs.delete(new Path(tableDir, s"$CdcDirName/$n"), true): Unit
        catch { case _: java.io.IOException => () })
      // A retry of a publish that CRASHED AFTER its parent commit can
      // reach here when a racing writer defeated the alreadyPublished
      // probe (e.g. advanced an identity watermark past the branch's,
      // tripping the both-minted conflict): the branch-local dirs were
      // already moved and committed by the crashed run, so promising an
      // intact, replayable branch would be a lie — detect the
      // half-landed state and direct the operator honestly.
      def there(p: Path): Boolean =
        try fs.exists(p) catch { case _: java.io.IOException => false }
      val landedAlready = !movedAlready && dataTargetOf.exists {
        case (top, target) =>
          !there(new Path(bdir, top)) && there(new Path(tableDir, target))
      }
      throw new IllegalStateException(
        s"cannot publish branch '$name' (cut at v$base): $why. " +
          (if (landedAlready)
            "The branch's local dirs already LIVE ON THE PARENT (an " +
              "earlier publish committed and crashed before consuming " +
              "the branch) — the branch is NOT intact: verify the " +
              "parent head carries the audited work, then dropBranch"
           else
            "The branch remains intact and readable — re-cut it and " +
              "replay, or drop it if superseded" +
            (if (movedAlready)
               " (the moved dirs were returned to the branch)" else "")))
    }
    // optimistic-commit loop: re-merge against whatever head a racing
    // writer left, refuse only on a REAL conflict (which never clears)
    var moved = false
    var committed: Option[Long] = None
    var attempts = 0
    // A publish that CRASHED between its parent commit and the branch
    // delete leaves the branch's whole delta already on the parent —
    // the retry must recognize that and just consume the branch, not
    // re-merge (the idwm both-sides check would otherwise misread the
    // landed watermark as a second allocation and refuse the
    // operator's own published data).
    def alreadyPublished(psnap: Snapshot): Boolean = {
      val pSet = psnap.paths.toSet
      (branchNew.nonEmpty || branchTouched.nonEmpty ||
        branchSchemaChanged ||
        (bsnap.meta.keySet ++ baseSnap.meta.keySet).filterNot(specialMeta)
          .exists(k => bsnap.meta.get(k) != baseSnap.meta.get(k))) &&
      branchNew.forall(pSet.contains) &&
      branchRemoved.forall(!pSet.contains(_)) &&
      bDvChanged.forall(d => psnap.dv.get(d) == rekeyedDv.get(d)) &&
      bStatsChanged.forall(d => psnap.stats.get(d) == rekeyedStats.get(d)) &&
      bBloomChanged.forall(d => psnap.bloom.get(d) == rekeyedBlooms.get(d)) &&
      (!branchSchemaChanged || psnap.schemaDdl == bsnap.schemaDdl) &&
      (bsnap.meta.keySet ++ baseSnap.meta.keySet)
        .filterNot(specialMeta).forall { k =>
          bsnap.meta.get(k) == baseSnap.meta.get(k) ||
            psnap.meta.get(k) == bsnap.meta.get(k)
        }
    }
    while (committed.isEmpty) {
      attempts += 1
      val parentHead = headVersion(spark, tableDir).getOrElse(
        refuse("no committed graft table at the parent", moved))
      val psnap = snapshotOf(fs, tableDir, parentHead)
      if (alreadyPublished(psnap)) {
        // this invocation's staged feed never got referenced (the
        // crashed run committed its own) — clean it with the branch
        publishCdc.foreach(n =>
          fs.delete(new Path(tableDir, s"$CdcDirName/$n"), true): Unit)
        invalidateSnapshots(bdir)
        fs.delete(new Path(bdir), true)
        return parentHead
      }
      val m = mergeAgainst(psnap) match {
        case Left(why) => refuse(why, moved)
        case Right(m) => m
      }
      if (attempts > 10)
        refuse(s"parent commit contention — $attempts merge attempts " +
          "each lost the head race", moved)
      if (!moved) { moveAll(); moved = true }
      val retain = m.meta.get(GraftCatalog.PropPrefix + "retainGenerations")
        .flatMap(_.toIntOption).getOrElse(2)
      committed = commitIf(spark, tableDir, m.paths, parentHead,
        retainGenerations = retain, schemaDdl = m.schemaDdl,
        stats = m.stats,
        meta = m.meta ++
          publishCdc.map(n => CdcDataPrefix + (parentHead + 1) -> n),
        dv = m.dv, blooms = m.blooms)
    }
    // consume the branch (a crash HERE is healed by alreadyPublished on
    // the retried publish, which consumes without re-merging;
    // dropBranch also cleans)
    invalidateSnapshots(bdir)
    fs.delete(new Path(bdir), true)
    committed.get
  }

  /** Run `tasks` concurrently on the shared metadata-I/O pool, await
    * all, rethrow the first failure (unwrapped). Used for the publish
    * move sweeps — driver-side renames whose latency on an object
    * store is per-RPC, not per-byte. */
  private def sidecarIoSweep(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    val futures = tasks.map(t => metaIoPool.submit(
      new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      }))
    var first: Throwable = null
    futures.foreach { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          if (first == null) first = e.getCause
      }
    }
    if (first != null) throw first
  }

  /** (version, commit epoch millis from the manifest file's mtime) for
    * every retained version, ascending — the `TIMESTAMP AS OF`
    * resolution input. A racing commit's GC can delete a listed
    * manifest before the stat — skip it (it is no longer history)
    * instead of throwing. */
  private[sources] def versionTimes(fs: FileSystem,
                                    tableDir: String): Seq[(Long, Long)] =
    versions(fs, tableDir).flatMap { v =>
      try Some((v, fs.getFileStatus(
        new Path(manifestDir(tableDir), manifestName(v))).getModificationTime))
      catch { case _: java.io.IOException => None }
    }

  /** Version log of the retained history: (version, committed_at epoch
    * millis from the manifest file's mtime, n_paths). One driver-side
    * listing — metadata only. */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    val fs = fsOf(spark, tableDir)
    val rows = versionTimes(fs, tableDir).flatMap { case (v, t) =>
      // the GC race window extends to the body read as well
      try Some((v, t, pathsOf(fs, tableDir, v).length))
      catch { case _: java.io.IOException => None }
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "n_paths")
  }

  /** Row-level change feed (CDC) between two retained versions: each
    * output row is a row of `toV` absent from `fromV` (`change_type =
    * 'insert'`) or a row of `fromV` absent from `toV` (`'delete'`); an
    * update surfaces as one delete (old image) plus one insert (new
    * image). Multiset semantics (`exceptAll`), so duplicate rows diff
    * by count.
    *
    * Cost ∝ CHANGED dirs, not table size: data dirs are immutable, so
    * a path both manifests list contributes identical rows to both
    * sides — those cancel in the multiset difference and are never
    * read. Only dirs one manifest lists and the other doesn't are
    * scanned, which for a bucket-bounded merge ([[MergeInto]]) means
    * the touched buckets' old and new dirs. At 100 TB a small merge
    * diffs in O(touched buckets); a full-table diff only happens when
    * every bucket actually changed.
    *
    * Better still (r14): spans whose every commit is tagged additive —
    * appends, compactions, ALTERs — skip the diff entirely
    * ([[additiveFeed]]): the feed is a plain scan of the appended
    * dirs, zero shuffle, and a feed ACROSS a compaction (the old worst
    * case: nothing cancels, everything read twice) costs nothing. */
  def changes(spark: SparkSession, tableDir: String,
              fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val fs = fsOf(spark, tableDir)
    Seq(fromV, toV).foreach(v =>
      require(versions(fs, tableDir).contains(v),
        s"version $v is not retained at $tableDir"))
    additiveFeed(spark, tableDir, fromV, toV).foreach(return _)
    // an adjacent DML step that materialized its feed at write time
    // (cdc.materialize) serves as a plain scan of the staged files
    if (toV == fromV + 1)
      materializedFeed(spark, tableDir, toV).foreach(return _)
    // a dir counts as CHANGED when the versions disagree on its path
    // OR its deletion-vector state — a merge-on-read delete changes no
    // path, only the mask, and the feed must still surface its rows;
    // each side then reads with ITS version's masks, so unchanged rows
    // cancel and newly-masked rows surface as 'delete'
    val fromDv = dvOf(fs, tableDir, fromV)
    val toDv = dvOf(fs, tableDir, toV)
    def keys(paths: Seq[String], dv: Map[String, String]) =
      paths.map(p => p -> dv.getOrElse(p, "")).toSet
    val fromK = keys(pathsOf(fs, tableDir, fromV), fromDv)
    val toK = keys(pathsOf(fs, tableDir, toV), toDv)
    val onlyFrom = (fromK diff toK).toSeq.map(_._1).sorted
    val onlyTo = (toK diff fromK).toSeq.map(_._1).sorted
    if (onlyFrom.isEmpty && onlyTo.isEmpty)
      // identical manifests — empty feed, but with the table's schema
      return readVersion(spark, tableDir, toV).limit(0)
        .withColumn("change_type", lit(""))
    // both sides read through ONE schema — the newer version's declared
    // one when present — so a feed across a schema evolution compares
    // rows on the union shape (a pre-evolution row null-fills the new
    // column, exactly as readVersion would show it)
    val anchorV =
      if (schemaOf(fs, tableDir, toV).isDefined) toV else fromV
    def readOr(paths: Seq[String], dv: Map[String, String],
               schemaAnchor: Seq[String]): DataFrame =
      if (paths.nonEmpty) readMasked(spark, tableDir, anchorV, paths, dv)
      else readWithDeclared(spark, tableDir, anchorV,
        schemaAnchor.map(p => absPath(tableDir, p))).limit(0)
    diffFeed(readOr(onlyFrom, fromDv, onlyTo), readOr(onlyTo, toDv, onlyFrom))
  }

  /** The change feed's ZERO-SHUFFLE fast path: when every step of
    * `fromV..toV` is retained and carries a trustworthy commit-kind tag
    * ([[cdcTag]]) of `append` (dirs only added), `layout`
    * (content-preserving compaction) or `meta` (pointer-only ALTER),
    * the endpoint multiset diff is — provably — exactly the rows of
    * the dirs the append steps ADDED, all `'insert'`: layout/meta
    * steps change no logical content and an append step's dirs are
    * immutable, so nothing can net out. The feed is then a plain SCAN
    * of those dirs (no join, no aggregation — O(changed rows) I/O and
    * zero shuffle), which is what a 100 TB table's telemetry stream
    * looks like: endless appends, periodic compactions, occasional
    * ALTERs. Any untagged / stale-tagged / DML step → None, and
    * [[changes]] runs the bounded manifest diff instead. */
  private def additiveFeed(spark: SparkSession, tableDir: String,
                           fromV: Long, toV: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    if (toV <= fromV) return None
    val fs = fsOf(spark, tableDir)
    val retained = versions(fs, tableDir).toSet
    if (!(fromV to toV).forall(retained)) return None
    // deletion-vector state must be IDENTICAL at the endpoints: a mask
    // change means logical deletes the added-dirs scan cannot express
    // (constant-dv spans are fine — appended dirs never carry masks).
    // Mid-span-only changes are impossible under all-additive tags
    // (only untagged DML commits write dvs), so endpoint equality is
    // sufficient.
    if (dvOf(fs, tableDir, fromV) != dvOf(fs, tableDir, toV)) return None
    val additive = Set("append", "layout", "meta")
    val steps = ((fromV + 1) to toV).map { v =>
      val kind = metaOf(fs, tableDir, v).get(CdcKindKey).collect {
        // the tag is only believable when stamped FOR this version —
        // meta carries, so an untagging commit leaves a stale suffix
        case t if t.endsWith(s"@$v") => t.takeWhile(_ != '@')
      }
      v -> kind
    }
    if (!steps.forall(_._2.exists(additive))) return None
    val added = steps.collect { case (v, Some("append")) =>
      val prev = pathsOf(fs, tableDir, v - 1).toSet
      val cur = pathsOf(fs, tableDir, v)
      // defensive: an append step must be purely additive — a dir
      // vanishing under an 'append' tag means the tag lied; diff it
      if (!prev.subsetOf(cur.toSet)) return None
      cur.filterNot(prev)
    }.flatten.distinct.sorted
    val anchorV = if (schemaOf(fs, tableDir, toV).isDefined) toV else fromV
    Some(
      if (added.isEmpty)
        readVersion(spark, tableDir, toV).limit(0)
          .withColumn("change_type", lit(""))
      else readWithDeclared(spark, tableDir, anchorV,
        added.map(p => absPath(tableDir, p)))
        .withColumn("change_type", lit("insert")))
  }

  /** Multiset diff of two same-schema frames, shaped as a change feed:
    * rows of `newer` absent from `older` → `change_type = 'insert'`,
    * rows of `older` absent from `newer` → `'delete'` (`exceptAll`
    * semantics — duplicates diff by count, nulls compare equal). Both
    * directions in ONE signed aggregation — the equivalent
    * `newer.exceptAll(older) ∪ older.exceptAll(newer)` runs two
    * full-width aggregations over the same rows; tagging sides ±1 and
    * summing computes the difference with a single shuffle, and
    * `sequence` re-expands surviving multiplicities. Backs [[changes]]
    * and [[MergeInto.sync]]'s fall-behind re-sync. */
  private[graft] def diffFeed(older: DataFrame, newer: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.
      {abs, col, explode, lit, sequence, sum, when}
    val cols = older.columns.map(col(_)).toIndexedSeq
    val sign = "__graft_diff_sign"
    older.withColumn(sign, lit(-1L))
      .unionByName(newer.withColumn(sign, lit(1L)))
      .groupBy(cols: _*).agg(sum(sign).as(sign))
      .filter(col(sign) =!= 0)
      .withColumn("change_type",
        when(col(sign) > 0, "insert").otherwise("delete"))
      .withColumn(sign, explode(sequence(lit(1L), abs(col(sign)))))
      .drop(sign)
  }

  /** Test hook: force every publish through a specific [[ManifestStore]]
    * (the suites run the contention + fuzz protocols against
    * [[ConditionalPutStore]]'s S3-semantics model). None = pick by
    * scheme. JVM-global, like the retention knobs. */
  @volatile private[graft] var storeOverride: Option[ManifestStore] = None

  private def storeFor(fs: FileSystem): ManifestStore =
    storeOverride.getOrElse(
      if (fs.getUri.getScheme == "file") PosixLinkStore else HdfsClaimStore)

  /** Atomic put-if-absent of a COMPLETE manifest at version `v` — true
    * iff this caller published it. The atomicity primitive lives behind
    * the [[ManifestStore]] seam: hard-link on `file://`, namenode-atomic
    * claim + rename on HDFS, a conditional PUT on object stores (see
    * ManifestStore.scala for the per-backend mapping — this is the one
    * operation the protocol needs beyond list/read/delete). */
  private def publishAt(fs: FileSystem, mdir: Path, v: Long,
                        body: Array[Byte]): Boolean =
    storeFor(fs).putIfAbsent(fs, new Path(mdir, manifestName(v)), body)

  /** Atomic put-if-absent of a small metadata file through the same
    * [[ManifestStore]] seam as manifest publishes — used by
    * [[MergeInto]] to pin table geometry markers so two racing initial
    * writers can never both install different geometries. */
  private[graft] def putFileIfAbsent(spark: SparkSession, dir: String,
                                     name: String, value: String): Boolean = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) fs.mkdirs(root)
    storeFor(fs).putIfAbsent(fs, new Path(dir, name), value.getBytes("UTF-8"))
  }

  /** True iff `claim` was a DEAD slot (no published manifest, older
    * than [[orphanGraceMs]] — a live racer's claim is always younger)
    * and this caller deleted it. Scheme-agnostic; exercised directly
    * by spec since `file://` publishes via hard link and never takes
    * the claim path. */
  private[graft] def breakStaleClaim(fs: FileSystem, claim: Path,
                                     target: Path): Boolean = {
    val stale =
      try !fs.exists(target) &&
        System.currentTimeMillis() -
          fs.getFileStatus(claim).getModificationTime > orphanGraceMs
      catch { case _: java.io.IOException => false }
    stale && fs.delete(claim, false)
  }

  private def manifestBody(relPaths: Seq[String],
                           schemaDdl: Option[String],
                           stats: Map[String, String] = Map.empty,
                           meta: Map[String, String] = Map.empty,
                           dv: Map[String, String] = Map.empty,
                           blooms: Map[String, String] = Map.empty)
      : Array[Byte] = {
    schemaDdl.foreach(d => require(!d.contains("\n"),
      s"schema DDL must be one line, got: $d"))
    val header = schemaDdl.map(SchemaHeader + _ + "\n").getOrElse("")
    // protocol requirements DERIVED from this very body's content (see
    // [[RequireReaderKey]]) — recomputed every commit, so they track
    // the state exactly: carried stale keys are stripped first. A
    // legal commit can never drop a FUTURE engine's token unknowingly:
    // reading the base (where such a token would live) already refused.
    val readerReq =
      (if (meta.keys.exists(_.startsWith(ColMapPrefix))) Seq("colmap")
       else Seq.empty) ++
      (if (relPaths.exists(dv.contains)) Seq("dv") else Seq.empty) ++
      // existence defaults change what a READ returns (and an ignorant
      // compaction would materialize nulls over the constant); the
      // current-default channel alone does not — an engine without it
      // refuses the under-specified INSERT loudly rather than
      // mis-writing, so `default:` stays ungated
      (if (meta.keys.exists(_.startsWith(ExistsDefaultPrefix)))
        Seq("col-defaults") else Seq.empty)
    val writerReq = readerReq ++
      (if (relPaths.exists(p => stats.get(p).exists(_.contains(NullsMarker))))
        Seq("stats-nulls") else Seq.empty)
    val metaReq = meta - RequireReaderKey - RequireWriterKey ++
      (if (readerReq.nonEmpty)
        Map(RequireReaderKey -> readerReq.sorted.mkString(","))
       else Map.empty) ++
      (if (writerReq.nonEmpty)
        Map(RequireWriterKey -> writerReq.sorted.mkString(","))
       else Map.empty)
    val metaLines = metaReq.toSeq.sorted.map { case (k, v) =>
      MetaHeader + java.net.URLEncoder.encode(k, "UTF-8") + "\t" +
        java.net.URLEncoder.encode(v, "UTF-8") + "\n"
    }.mkString
    // stats (and dv, and blooms) only for paths this manifest actually
    // lists — a dropped (compacted/GC'd) path must not leave a
    // dangling line
    val statLines = relPaths.filter(stats.contains).sorted
      .map(p => StatsHeader + p + "\t" + stats(p) + "\n").mkString
    val dvLines = relPaths.filter(dv.contains).sorted
      .map(p => DvHeader + p + "\t" + dv(p) + "\n").mkString
    val bloomLines = relPaths.filter(blooms.contains).sorted
      .map(p => BloomHeader + p + "\t" + blooms(p) + "\n").mkString
    // per-commit nonce with RANDOM-LENGTH padding: the snapshot cache
    // keys on (dir, version, mtime, length), and mtime granularity can
    // be as coarse as 1s (object stores) — an external-process DROP
    // TABLE + CREATE that recommits the same version number inside one
    // granule could otherwise collide on length and serve a stale
    // cached snapshot to OTHER JVMs (same-JVM drops invalidate
    // explicitly). The varying line length makes a byte-length
    // collision a <1/128 accident instead of the common case (two
    // fixture-shaped tables easily produce identical manifests).
    // Readers ignore it: parseSnapshot drops unknown '#' headers.
    val nonce = NonceHeader + java.util.UUID.randomUUID().toString +
      "=" * scala.util.Random.nextInt(128) + "\n"
    val rest = header + nonce + metaLines + statLines + dvLines +
      bloomLines + relPaths.mkString("", "\n", "\n")
    // integrity line over the normalized line sequence (see CrcHeader)
    val crcLine = CrcHeader + crcOfLines(
      rest.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)) + "\n"
    (crcLine + rest).getBytes("UTF-8")
  }

  /** Commit a new version whose table is exactly `relPaths`, then GC
    * manifests/data outside the newest `retainGenerations` versions.
    * Returns the committed version number. Data at `relPaths` must already
    * be fully written. Racing writers serialize on [[publishAt]]'s
    * put-if-absent — each bumps past taken versions until its publish
    * lands; LAST POINTER WINS, so concurrent commits to the same table
    * need conflict detection on top ([[commitIf]]) unless their
    * manifests are independently complete. */
  def commit(spark: SparkSession, tableDir: String, relPaths: Seq[String],
             retainGenerations: Int = 2,
             schemaDdl: Option[String] = None,
             stats: Map[String, String] = Map.empty,
             meta: Map[String, String] = Map.empty,
             dv: Map[String, String] = Map.empty,
             blooms: Map[String, String] = Map.empty): Long = {
    val fs = fsOf(spark, tableDir)
    val mdir = manifestDir(tableDir)
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    // writer-feature gate against the listed head (ONE listing, reused
    // as the version seed). A racing gc can delete that head between
    // the listing and the read — nothing to validate against then, and
    // the publish loop below bumps past whatever replaced it. commit()
    // is last-pointer-wins by contract; the gap where a NEWER head
    // could raise requirements mid-flight is inherent to that contract
    // — conflict-safe writers route through commitIf, which re-checks
    // at its expectedBase.
    val seen = versions(fs, tableDir).lastOption
    seen.foreach { h =>
      try checkWriterFeatures(tableDir, metaOf(fs, tableDir, h))
      catch { case _: java.io.FileNotFoundException => () }
    }
    val body = manifestBody(relPaths, schemaDdl, stats, meta, dv, blooms)
    var v = seen.getOrElse(0L) + 1
    var attempts = 0
    while (!publishAt(fs, mdir, v, body)) {
      attempts += 1
      require(attempts <= 10000, s"manifest commit contention at $tableDir")
      v += 1 // version taken by a racing writer
    }
    gc(fs, tableDir, retainGenerations)
    v
  }

  /** CONDITIONAL commit — the optimistic-concurrency primitive: publish
    * `relPaths` as version `expectedBase + 1` iff no other writer
    * committed past `expectedBase` in the meantime. Returns the new
    * version, or None on conflict (the caller re-reads the live state,
    * rebases its work and retries — the Delta/Iceberg protocol). The
    * conflict check IS the atomic publish: version expectedBase+1 can
    * be created exactly once, so two writers with the same base can
    * never both win. A publish that lands but is no longer the head
    * (both the next slot AND newer ones appeared, and the next slot was
    * then GC'd — needs two full GC generations inside the race window)
    * is detected afterwards and withdrawn as a conflict. */
  def commitIf(spark: SparkSession, tableDir: String, relPaths: Seq[String],
               expectedBase: Long,
               retainGenerations: Int = 2,
               schemaDdl: Option[String] = None,
               stats: Map[String, String] = Map.empty,
               meta: Map[String, String] = Map.empty,
               dv: Map[String, String] = Map.empty,
               blooms: Map[String, String] = Map.empty): Option[Long] = {
    val fs = fsOf(spark, tableDir)
    val mdir = manifestDir(tableDir)
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    val vs = versions(fs, tableDir)
    if (vs.lastOption.getOrElse(0L) != expectedBase) return None // fast path
    if (expectedBase > 0) {
      // a racing gc can retire expectedBase between the listing and
      // this read — that IS a conflict (the caller rebases), not a
      // crash; unknown writer features still refuse loudly
      try checkWriterFeatures(tableDir, metaOf(fs, tableDir, expectedBase))
      catch { case _: java.io.FileNotFoundException => return None }
    }
    val v = expectedBase + 1
    // bloom entries AUTO-CARRY across every commit surface: keyed by
    // relPath (never reused — uuid cids), so carrying the expected
    // head's map and letting manifestBody filter to the listed paths
    // is correct by construction — a rewritten/removed dir's entry
    // drops with its path, and a stale entry for a LIVE path cannot
    // exist. Explicit `blooms` (fresh indexes) override/extend.
    val carriedBlooms =
      (if (expectedBase > 0) bloomsOf(fs, tableDir, expectedBase)
       else Map.empty[String, String]) ++ blooms
    if (!publishAt(fs, mdir, v,
        manifestBody(relPaths, schemaDdl, stats, meta, dv, carriedBlooms))) None
    else if (versions(fs, tableDir).last != v) {
      // lost to writers that got ahead through a GC'd slot; withdraw —
      // readers resolve the (higher) head, never this manifest
      fs.delete(new Path(mdir, manifestName(v)), false)
      None
    } else {
      gc(fs, tableDir, retainGenerations)
      Some(v)
    }
  }

  /** Time-based retention floor: a committed version younger than this
    * window is retained by GC regardless of `retainGenerations` — the
    * production multi-reader policy (readers bounded by a max scan
    * duration resolve a manifest and are guaranteed its data outlives
    * the scan), layered on top of the generation count rather than
    * replacing it. Default 0 = generation-only (the single-reader
    * harness default); a deployment sets it to its reader SLA. Same
    * class of knob as Delta's `deletedFileRetentionDuration` /
    * Iceberg's `max-snapshot-age-ms`. NOTE: JVM-global — applies to
    * every table this process commits (a per-table policy would thread
    * it through commit/commitIf like `retainGenerations`). */
  @volatile var minRetainMs: Long = 0L

  /** How long an orphan dir (referenced by NO manifest) must sit before
    * the sweep may delete it. A dir in that state is either a crashed
    * writer's leavings (safe to delete, eventually) or a RACING
    * writer's in-flight commit dir that no manifest references YET —
    * deleting that mid-write corrupts the racing merge, so orphans age
    * out instead of dying instantly (Iceberg's orphan-file age check,
    * Delta's VACUUM retention — same reasoning). Age is measured from
    * the NEWEST mtime found in a shallow walk of the dir (the dir, its
    * children, their children): a top-level dir's own mtime goes stale
    * while tasks write under `_temporary/`, so the walk keeps an
    * in-flight write looking young as task output lands. A single
    * write that goes longer than the window with no visible activity
    * can still be swept — size the window to the deployment's slowest
    * commit (JVM-global knob, like [[minRetainMs]]). Test hook:
    * settable so crash-healing specs can age an orphan artificially. */
  @volatile private[sources] var orphanGraceMs: Long = 60 * 60 * 1000L

  /** Newest mtime among `p`, its children and grandchildren — the
    * orphan-age clock. Driver-side, runs only on unreferenced dirs. */
  private def newestMtime(fs: FileSystem, p: Path): Long = {
    def ls(q: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(q).toSeq catch { case _: java.io.IOException => Seq.empty }
    val l1 = ls(p)
    val l2 = l1.filter(_.isDirectory).flatMap(st => ls(st.getPath))
    val l3 = l2.filter(_.isDirectory).flatMap(st => ls(st.getPath))
    ((try Seq(fs.getFileStatus(p)) catch {
      case _: java.io.IOException => Seq.empty
    }) ++ l1 ++ l2 ++ l3).map(_.getModificationTime).maxOption.getOrElse(0L)
  }

  /** Delete manifests older than the newest `retain` versions and any
    * top-level data dir none of the retained manifests references.
    * Safe under racing committers: a concurrent GC may delete a kept
    * manifest between our listing and our read — then the reference
    * set is unknowable this round, so the data-dir sweep is SKIPPED
    * (conservative: a later commit's GC sweeps instead; deleting with
    * an incomplete reference set could drop live dirs). Concurrent
    * deletes of the same file are no-ops (`delete` returns false). */
  /** VACUUM (maintenance): run the retention + orphan sweep NOW,
    * without waiting for the next commit's implicit GC — the recovery
    * path for crashed-writer leavings (orphan dirs still age past
    * [[orphanGraceMs]] before dying; retention-retired dirs go
    * immediately). Returns how many top-level entries were swept. */
  /** Read-only dry run of [[gc]]'s candidate computation — the `CALL
    * system.vacuum(..., dry_run => true)` surface: every entry the next
    * sweep would consider, with its age and whether the sweep would
    * take it NOW. An operator sizing the grace window or retention sees
    * the blast radius BEFORE deleting anything. Driver-side from the
    * same listings gc itself pays (one shallow walk per candidate);
    * rows are (path, kind, age_seconds, would_sweep, reason). Families
    * whose kept-manifest reads fail are omitted, exactly as gc skips
    * their sweep (the conservative mirror). */
  def orphanReport(spark: SparkSession, tableDir: String,
      retainGenerations: Int): Seq[(String, String, Long, Boolean, String)] = {
    val fs = fsOf(spark, tableDir)
    val (old, kept) = retirementSplit(fs, tableDir, retainGenerations)
    val keptPaths = keptPathsOf(fs, tableDir, kept)
    val referenced: Set[String] = keptPaths.flatten.flatten
      .map(_.split("/", 2).head).toSet
    val retired: Set[String] = retiredDirsOf(fs, tableDir, old, referenced)
    val now = System.currentTimeMillis()
    def ageMs(p: Path): Long = math.max(0L, now - newestMtime(fs, p))
    val manifests = old.map { v =>
      val rel = s"$ManifestDirName/${manifestName(v)}"
      (rel, "manifest", ageMs(new Path(tableDir, rel)) / 1000L, true,
        s"version $v leaves retention")
    }
    // dead claim slots below the retained floor (writer crashed between
    // claim and rename) — gc sweeps these too; mirror its floor rule
    val claimRows = kept.headOption.toSeq.flatMap { floor =>
      (try fs.listStatus(manifestDir(tableDir)).toSeq
       catch { case _: java.io.IOException => Seq.empty }).flatMap { st =>
        val n = st.getPath.getName
        if (!n.endsWith(".claim")) None
        else versionOf(n.stripSuffix(".claim")).filter(_ < floor).map { v =>
          // gc deletes a RETIRING version's claim unconditionally
          // (alongside its manifest, before the kept-readable guard);
          // other below-floor claims only behind that guard — mirrored
          (s"$ManifestDirName/$n", "claim", ageMs(st.getPath) / 1000L,
            old.contains(v) || keptPaths.forall(_.isDefined),
            s"dead claim slot for version $v below the retained floor")
        }
      }
    }
    // gc refuses its ENTIRE data sweep when any kept manifest is
    // unreadable (the racing-GC / transient-IO guard) — mirror that:
    // no data row may claim would_sweep under the same condition
    val allKeptReadable = keptPaths.forall(_.isDefined)
    val dataRows = (try fs.listStatus(new Path(tableDir)).toSeq
      catch { case _: java.io.IOException => Seq.empty }).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) None
      else if (retired.contains(n))
        Some((n, "data", ageMs(st.getPath) / 1000L, allKeptReadable,
          "retired by this retention policy"))
      else if (!referenced.contains(n)) {
        val ms = ageMs(st.getPath)
        Some((n, "data", ms / 1000L,
          allKeptReadable && ms > orphanGraceMs,
          "orphan: no retained manifest references it"))
      } else None
    }
    // sidecar families mirror gc's reference computation; a family with
    // any unreadable kept manifest reports nothing (gc skips it too)
    def family(rootName: String, kind: String,
               refs: Seq[Option[Set[String]]]): Seq[(String, String, Long, Boolean, String)] = {
      val root = new Path(tableDir, rootName)
      if (!(try fs.exists(root) catch { case _: java.io.IOException => false })
          || !refs.forall(_.isDefined)) Seq.empty
      else {
        val referencedNames: Set[String] = refs.flatten.flatten.toSet
        (try fs.listStatus(root).toSeq
         catch { case _: java.io.IOException => Seq.empty }).flatMap { st =>
          val n = st.getPath.getName
          if (referencedNames.contains(n)) None
          else {
            val ms = ageMs(st.getPath)
            Some((s"$rootName/$n", kind, ms / 1000L, ms > orphanGraceMs,
              s"$kind staging no retained manifest references"))
          }
        }
      }
    }
    val cdcRows = family(CdcDirName, "cdc", cdcRefsOf(fs, tableDir, kept))
    val dvRows = family(DvDirName, "dv", dvRefsOf(fs, tableDir, kept))
    val idxRows = family(IdxDirName, "index", idxRefsOf(fs, tableDir, kept))
    (manifests ++ claimRows ++ dataRows ++ cdcRows ++ dvRows ++ idxRows)
      .sortBy(r => (r._2, r._1))
  }

  def vacuum(spark: SparkSession, tableDir: String,
             retainGenerations: Int = 2): Long = {
    val fs = fsOf(spark, tableDir)
    def entries = fs.listStatus(new Path(tableDir)).count { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val before = entries
    gc(fs, tableDir, retainGenerations)
    (before - entries).toLong.max(0L)
  }

  /** The versions `tag:<name>` meta entries of the HEAD pin — S34:
    * a tagged version is retained by GC regardless of generation count
    * or age (Iceberg tags), until `untag` drops the pointer. */
  private def taggedVersions(fs: FileSystem, tableDir: String,
                             vs: Seq[Long]): Set[Long] =
    vs.lastOption.map { head =>
      (try metaOf(fs, tableDir, head)
       catch { case t if unreadable(t) => Map.empty[String, String] })
        .collect { case (k, v) if k.startsWith(TagPrefix) =>
          v.toLongOption }.flatten.toSet
    }.getOrElse(Set.empty)

  /** GC's retirement split: (versions leaving retention, versions
    * kept) — generation count, then [[minRetainMs]]-window and tag
    * (S34) promotion back into the kept set (commit-time from the
    * manifest file's mtime — metadata only, no data read). Shared by
    * [[gc]] and the read-only [[orphanReport]] so the dry run can
    * never disagree with the sweep. */
  private def retirementSplit(fs: FileSystem, tableDir: String,
                              retain: Int): (Seq[Long], Seq[Long]) = {
    val vs = versions(fs, tableDir)
    val (old0, kept0) = vs.splitAt(math.max(0, vs.length - math.max(1, retain)))
    val tagged = taggedVersions(fs, tableDir, vs)
    val cutoff = System.currentTimeMillis() - minRetainMs
    def keepAnyway(v: Long): Boolean =
      tagged.contains(v) || (minRetainMs > 0L && {
        try fs.getFileStatus(
          new Path(manifestDir(tableDir), manifestName(v)))
          .getModificationTime > cutoff
        catch { case _: java.io.IOException => false }
      })
    val promoted = old0.filter(keepAnyway)
    (old0.filterNot(promoted.contains), promoted ++ kept0)
  }

  /** Shared reference-set derivations for [[gc]] and [[orphanReport]]
    * — like [[retirementSplit]], extracted so the dry run and the
    * sweep can never drift apart by a copy-paste edit. Per KEPT
    * version: None = that manifest cannot be read right now
    * ([[unreadable]] — transient I/O or this engine's own refusal
    * gate); both surfaces then skip the affected family entirely
    * (never "it references nothing" — that deletes live state). */
  private def keptPathsOf(fs: FileSystem, tableDir: String,
                          kept: Seq[Long]): Seq[Option[Seq[String]]] =
    kept.map { v =>
      try Some(pathsOf(fs, tableDir, v))
      catch { case t if unreadable(t) => None }
    }
  /** Dirs only RETIRING manifests reference — swept immediately. */
  private def retiredDirsOf(fs: FileSystem, tableDir: String,
                            old: Seq[Long],
                            referenced: Set[String]): Set[String] =
    old.flatMap { v =>
      try pathsOf(fs, tableDir, v)
      catch { case t if unreadable(t) => Seq.empty }
    }.map(_.split("/", 2).head).toSet -- referenced
  private def cdcRefsOf(fs: FileSystem, tableDir: String,
                        kept: Seq[Long]): Seq[Option[Set[String]]] =
    kept.map { v =>
      try Some(metaOf(fs, tableDir, v).collect {
        case (k, n) if k.startsWith(CdcDataPrefix) && n != CdcEmptyToken &&
          n != CdcDegradedToken => n
      }.toSet) catch { case t if unreadable(t) => None }
    }
  private def dvRefsOf(fs: FileSystem, tableDir: String,
                       kept: Seq[Long]): Seq[Option[Set[String]]] =
    kept.map { v =>
      try Some(dvTopDirs(dvOf(fs, tableDir, v)).collect {
        case rel if rel.startsWith(DvDirName + "/") =>
          rel.stripPrefix(DvDirName + "/").takeWhile(_ != '/')
      }.toSet) catch { case t if unreadable(t) => None }
    }
  private def idxRefsOf(fs: FileSystem, tableDir: String,
                        kept: Seq[Long]): Seq[Option[Set[String]]] =
    kept.map { v =>
      try Some(bloomsOf(fs, tableDir, v).values
        .flatMap(bloomEntries(_).values).collect {
          case rel if rel.startsWith(IdxDirName + "/") =>
            rel.stripPrefix(IdxDirName + "/").takeWhile(_ != '/')
        }.toSet) catch { case t if unreadable(t) => None }
    }

  private def gc(fs: FileSystem, tableDir: String, retain: Int): Unit = {
    val (old, kept) = retirementSplit(fs, tableDir, retain)
    val keptPaths = keptPathsOf(fs, tableDir, kept)
    val referenced: Set[String] = keptPaths.flatten.flatten
      .map(_.split("/", 2).head).toSet
    // dirs the retiring manifests referenced: aged out of retention,
    // swept immediately (unless a kept manifest still references them)
    val retired: Set[String] = retiredDirsOf(fs, tableDir, old, referenced)
    old.foreach { v =>
      fs.delete(new Path(manifestDir(tableDir), manifestName(v)), false)
      fs.delete(new Path(manifestDir(tableDir), manifestName(v) + ".claim"), false)
    }
    if (keptPaths.exists(_.isEmpty)) return // racing GC won; sweep later
    // claims below the retained window whose slot died unclaimed (writer
    // crashed before its rename) are dead weight too
    kept.headOption.foreach { floor =>
      fs.listStatus(manifestDir(tableDir)).foreach { st =>
        val n = st.getPath.getName
        if (n.endsWith(".claim"))
          versionOf(n.stripSuffix(".claim"))
            .filter(_ < floor).foreach(_ => fs.delete(st.getPath, false))
      }
    }
    val now = System.currentTimeMillis()
    fs.listStatus(new Path(tableDir)).foreach { st =>
      val n = st.getPath.getName
      val protectedEntry = n.startsWith("_") || n.startsWith(".")
      // retention sweep (retired by this GC) is immediate; a dir NO
      // manifest references is an orphan — crashed writer's leavings
      // or a racing writer's still-unpublished commit dir — and must
      // age past the grace window before deletion (see orphanGraceMs)
      val sweepable = retired.contains(n) ||
        (!referenced.contains(n) && !protectedEntry &&
          now - newestMtime(fs, st.getPath) > orphanGraceMs)
      if (!protectedEntry && !referenced.contains(n) && sweepable)
        fs.delete(st.getPath, true)
    }
    // staged CDC dirs (`_cdc/` is under the protected prefix, so the
    // sweep above never touches it): referenced = the union of
    // `cdcdata:` values across KEPT manifests; anything else ages out
    // past the same grace window — covering both retired versions'
    // leavings and a crashed writer's never-committed staging
    // BOTH header sweeps below must be at least as conservative as the
    // data sweep's kept-manifest rule (keptPaths.exists(_.isEmpty) =>
    // return): a transient read failure on a KEPT manifest must mean
    // "skip this sweep", never "that version references nothing" — the
    // latter deletes LIVE staged feeds / deletion vectors and silently
    // resurrects merge-on-read-deleted rows on later reads.
    // (dv: foreign clone entries point into the SOURCE table's _dv and
    // are not ours to sweep — dvRefsOf keys on this table's own names)
    def sweepFamily(rootName: String, refs: Seq[Option[Set[String]]]): Unit = {
      val root = new Path(tableDir, rootName)
      if ((try fs.exists(root) catch { case _: java.io.IOException => false })
          && refs.forall(_.isDefined)) {
        val referencedNames: Set[String] = refs.flatten.flatten.toSet
        fs.listStatus(root).foreach { st =>
          if (!referencedNames.contains(st.getPath.getName) &&
              now - newestMtime(fs, st.getPath) > orphanGraceMs)
            fs.delete(st.getPath, true)
        }
      }
    }
    sweepFamily(CdcDirName, cdcRefsOf(fs, tableDir, kept))
    sweepFamily(DvDirName, dvRefsOf(fs, tableDir, kept))
    sweepFamily(IdxDirName, idxRefsOf(fs, tableDir, kept))
  }

  /** Count data files (by suffix) under the live version's paths — used by
    * S14 to report its before/after file counts through the same snapshot
    * a reader would see. */
  def liveFileCount(spark: SparkSession, tableDir: String,
                    suffix: String = ".parquet"): Int = {
    val fs = fsOf(spark, tableDir)
    resolve(spark, tableDir).map { p =>
      fs.listStatus(new Path(p)).count(_.getPath.getName.endsWith(suffix))
    }.sum
  }
}
