package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch MERGE INTO over a manifest-committed, hash-bucketed table —
  * the generalized core of the X9 upsert sink (SURVEY.md §2.10 X9),
  * promoted to a first-class batch operator (S16) with DELETE support:
  * one call applies a source frame's updates (matched key → replace),
  * inserts (unmatched key → append) and deletes (rows matching
  * `deleteWhen` → remove if present) to the target, publishing the
  * result as one atomic [[ManifestTable]] commit.
  *
  * Semantics per source KEY (not per clause, so at-least-once
  * re-delivery stays idempotent): the source is first reduced to one
  * deterministic winner row per key (`row_number` over `tieCols`);
  * `deleteWhen` is then evaluated on that winner. Winner says delete →
  * the key's standing row is removed (a no-op if absent); otherwise the
  * winner row replaces any standing row or appends. Re-applying the
  * same source therefore reproduces the same table — the property the
  * X9 crash-recovery story depends on, kept for the batch form.
  *
  * Cost is bounded by the SOURCE, not the table: rows hash-bucket by
  * key (`pmod(hash(key), nBuckets)` — a pure function, so a key always
  * lands in the same bucket), only the source's touched buckets are
  * read/anti-joined/rewritten into a fresh immutable commit dir, and
  * the new manifest carries every untouched bucket at its existing dir.
  * At 100 TB a daily changeset touches O(changeset) buckets, not the
  * whole table. A bucket whose replacement comes out EMPTY (every
  * standing row deleted, nothing inserted) is dropped from the new
  * manifest — `partitionBy` writes no dir for it, and listing the
  * commit dir rather than trusting the touched set is what keeps the
  * manifest exact.
  *
  * Table markers (written BEFORE any data movement, same
  * crash-ordering argument as X9): `_n_buckets` pins the modulus and
  * `_merge_key` pins the key column, so no later call — or
  * crash-interrupted call — can merge with a different geometry and
  * strand standing keys in unprobed buckets.
  *
  * Writer concurrency: OPTIMISTIC, no lost updates. Each merge
  * observes the live base version, builds its replacement against it,
  * and publishes with [[ManifestTable.commitIf]] — an atomic
  * put-if-absent of version base+1, so two writers with the same base
  * can never both win; the loser REBASES (re-reads standing rows at
  * the new head, rewrites, retries) exactly like the Delta/Iceberg
  * commit protocol. A single-writer table never conflicts and pays
  * nothing extra. Note the rebase re-applies the same key-level
  * semantics against the new base — concurrent merges serialize in
  * commit order, each seeing the previous one's result.
  */
object MergeInto {

  private val BucketsMarker = "_n_buckets"
  private[sources] val KeyMarker = "_merge_key"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (key, nBuckets) when `dir` is a pinned merge table — the catalog's
    * `layout=bucketed:<key>` routing test ([[graft.sources.GraftTable]]
    * and the V1 alias check it so a plain append can never silently
    * degrade a bucketed layout). One marker read; None = not bucketed. */
  private[graft] def bucketedGeometry(spark: SparkSession,
                                      dir: String): Option[(String, Int)] =
    for {
      key <- readMarker(spark, dir, KeyMarker)
      n <- readMarker(spark, dir, BucketsMarker)
    } yield (key, n.toInt)

  /** [[bucketedGeometry]] with the shared refusal semantics every
    * kernel entry point needs: name the first missing marker and the
    * dir. ONE definition — the former five per-call-site stanzas had
    * already drifted ("merge" vs "upsert" table) and were flagged for
    * consolidation in the r19 review. */
  private[graft] def requireGeometry(spark: SparkSession,
                                     tableDir: String): (String, Int) = {
    val key = readMarker(spark, tableDir, KeyMarker).getOrElse(
      throw new IllegalArgumentException(
        s"not a merge table (no $KeyMarker): $tableDir"))
    val n = readMarker(spark, tableDir, BucketsMarker).getOrElse(
      throw new IllegalArgumentException(
        s"not a merge table (no $BucketsMarker): $tableDir")).toInt
    (key, n)
  }

  /** Pin a fresh table's geometry WITHOUT data — the catalog's CREATE
    * TABLE with `layout=bucketed:<key>:<n>` declares the layout before
    * any row exists, so the first INSERT already routes through
    * [[applyBatch]] under the declared modulus. Same put-if-absent +
    * read-back protocol as a data-bearing create. */
  private[graft] def pinGeometry(spark: SparkSession, dir: String,
                                 key: String, nBuckets: Int): Unit = {
    pinMarker(spark, dir, BucketsMarker, nBuckets.toString)
    pinMarker(spark, dir, KeyMarker, key)
  }

  /** Standing rows of the buckets `keys`' values hash into, read
    * through the live declared schema — the bounded target slice a
    * key-equality MERGE needs to evaluate matched clauses against:
    * O(touched buckets), never O(table). None when no live bucket is
    * touched: a join against an empty side lets AQE finish before the
    * other side's stage is submitted, which then runs after the caller
    * moved on. A table with pinned geometry but ZERO commits throws
    * (there is no declared schema) — callers run
    * after the first commit by construction. */
  private[graft] def standingForKeys(spark: SparkSession, tableDir: String,
                                     keys: DataFrame): Option[DataFrame] = {
    val (key, n) = bucketedGeometry(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"not a merge table: $tableDir"))
    val fs = fsOf(spark, tableDir)
    val liveV = ManifestTable.versions(fs, tableDir).lastOption
    val liveByBucket: Map[Int, String] =
      liveV.map(v => ManifestTable.pathsOf(fs, tableDir, v)).getOrElse(Seq.empty)
        .map(rel => bucketOrdinalOf(rel, tableDir) -> rel).toMap
    val declared = liveV.flatMap(v => ManifestTable.schemaOf(fs, tableDir, v))
    val schema = declared.map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(throw new IllegalArgumentException(
        s"no declared schema at $tableDir"))
    // touched buckets: tiny driver list, bounded by min(#keys, n).
    // The probe key MUST be cast to the TABLE's key type before
    // hashing — murmur3 of INT 2 and BIGINT 2 differ, so an uncast
    // narrower source key would probe the wrong buckets and silently
    // miss standing matches (duplicate-key corruption).
    val keyType = schema(key).dataType
    val touched = keys
      .select(pmod(hash(col(key).cast(keyType)), lit(n)).as("b"))
      .distinct().collect().map(_.getInt(0)).filter(liveByBucket.contains)
    if (touched.isEmpty) None
    else Some(spark.read.schema(schema)
      .parquet(touched.toIndexedSeq
        .map(b => ManifestTable.absPath(tableDir, liveByBucket(b))): _*))
  }

  private def readMarker(spark: SparkSession, dir: String,
                         name: String): Option[String] = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** Pin a write-once geometry marker: atomic put-if-absent through the
    * [[ManifestTable]] store seam (hard link / HDFS exclusive create /
    * conditional PUT), then READ BACK the installed value — which may be
    * a racing initial writer's — and require it matches. Two racing
    * creators with different geometries therefore resolve to exactly one
    * pinned geometry and one loud failure, never two writers proceeding
    * under different moduli (the standing-keys-in-unprobed-buckets
    * corruption). The previous write-then-rename silently overwrote on
    * local filesystems, so both racers could pass a pre-check. */
  private def pinMarker(spark: SparkSession, dir: String, name: String,
                        value: String): Unit = {
    val created = ManifestTable.putFileIfAbsent(spark, dir, name, value)
    // Losing the put does NOT imply the winner's body is readable yet:
    // the HDFS binding claims a slot first and renames the body in
    // after, so a loser can observe the claimed-but-bodyless window.
    // A bounded re-read bridges it (the winner is one rename away); a
    // writer dead inside that window still fails loudly here and its
    // claim is aged out by breakStaleClaim on the next pin attempt.
    var installed = readMarker(spark, dir, name)
    var waitedMs = 0L
    while (!created && installed.isEmpty && waitedMs < 10000L) {
      Thread.sleep(50); waitedMs += 50
      installed = readMarker(spark, dir, name)
    }
    val got = installed.getOrElse(
      throw new IllegalStateException(s"marker vanished after pin: $dir/$name"))
    require(got == value,
      s"table at $dir already pinned $name=$got, asked for $value")
  }

  /** Deterministic tie order when the caller has no domain-specific one:
    * every non-key column, sorted by name, descending. Whatever the
    * duplicate set, the same winner emerges on every application. */
  def defaultTies(source: DataFrame, key: String): Seq[Column] =
    source.columns.filterNot(_ == key).sorted.map(col(_).desc).toSeq

  /** The table's DECLARED tie order (`upsertTies` property): domain
    * columns — event-time first — whose DESC order decides "latest"
    * among same-key rows of one batch, followed by [[defaultTies]] as
    * the deterministic tail. Resolved INSIDE the kernel so every write
    * surface (SQL INSERT, the V1 alias, streamed epochs, direct API
    * calls that pass no explicit order) honors one contract; an
    * explicit `tieCols` argument still overrides. Empty when the table
    * declares nothing. */
  private def declaredTies(source: DataFrame, dir: String,
                           key: String): Seq[Column] = {
    val spark = source.sparkSession
    ManifestTable.headVersion(spark, dir).flatMap { v =>
      ManifestTable.metaOf(fsOf(spark, dir), dir, v)
        .get(GraftCatalog.PropPrefix + "upsertTies")
    }.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map { cols =>
        cols.foreach(c => require(
          source.columns.exists(_.equalsIgnoreCase(c)),
          s"upsertTies column '$c' (declared on $dir) is not in the " +
            s"write batch ${source.columns.mkString("(", ", ", ")")}"))
        cols.map(c => col(c).desc) ++ defaultTies(source, key)
      }.getOrElse(Nil)
  }

  /** The declared KEY TYPE at the live head, when one is tracked — the
    * type every bucket hash must compute over: murmur3 of INT 2 and
    * BIGINT 2 differ, so hashing an UNCAST source key routes rows to
    * buckets no declared-type probe will ever hash to (standing rows
    * never anti-joined = duplicate keys; lookups silently empty).
    * [[standingForKeys]] has always guarded this on the read side; the
    * write kernel and lookup guard it through here (r19 review find). */
  private def declaredKeyType(spark: SparkSession, tableDir: String,
      key: String): Option[org.apache.spark.sql.types.DataType] = {
    val fs = fsOf(spark, tableDir)
    ManifestTable.versions(fs, tableDir).lastOption
      .flatMap(v => ManifestTable.schemaOf(fs, tableDir, v))
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .flatMap(_.fields.find(_.name == key)).map(_.dataType)
  }

  /** The key column cast to the declared type (no-op when the table has
    * no declared schema yet — the first write's own type then DEFINES
    * the placement AND becomes the declared type, consistent). */
  private def keyHashExpr(spark: SparkSession, tableDir: String,
      key: String): Column =
    declaredKeyType(spark, tableDir, key)
      .map(col(key).cast(_)).getOrElse(col(key))

  /** Parse a manifest entry's bucket ordinal, refusing LOUDLY on a
    * non-bucket-leaf entry: silently skipping (or parsing a bogus
    * ordinal out of a uuid) would exclude that dir's rows from
    * standing reads and anti-joins — missed matches and duplicate
    * keys, not an error. The copy-on-write publish refuses bucketed
    * tables outright, so a non-leaf entry here means foreign damage. */
  private def bucketOrdinalOf(rel: String, tableDir: String): Int = {
    val i = rel.lastIndexOf("b=")
    (if (i < 0) None else rel.substring(i + 2).toIntOption).getOrElse(
      throw new IllegalStateException(
        s"manifest entry '$rel' of bucketed table $tableDir is not a " +
          "b=<bucket> leaf — foreign or corrupt layout; restore the " +
          "bucketed layout before merging"))
  }

  /** Create a merge table from an initial load: markers + first commit.
    * Returns the committed version (1 on a fresh dir). The initial load
    * goes through the same one-winner-per-key reduction as a merge, so
    * a duplicated extract can't seed a table that violates the
    * key-uniqueness invariant every later anti-join relies on. */
  def create(df: DataFrame, tableDir: String, key: String,
             nBuckets: Int = graft.ScaleKnobs.DefaultMergeBuckets): Long =
    applyBatch(df, tableDir, key, defaultTies(df, key), lit(false), nBuckets)

  /** MERGE a source frame into an existing table, reading the key and
    * modulus from the table's markers. `tieCols` defaults to
    * [[defaultTies]]; pass a domain order (e.g. event-time first) when
    * "latest" means something specific. */
  def merge(source: DataFrame, tableDir: String,
            deleteWhen: Column = lit(false),
            tieCols: Seq[Column] = Nil,
            extraMeta: Map[String, String] = Map.empty,
            validateHead: Map[String, String] => Unit = _ => ()): Long = {
    val spark = source.sparkSession
    val (key, n) = requireGeometry(spark, tableDir)
    val ties =
      if (tieCols.nonEmpty) tieCols
      else {
        val declared = declaredTies(source, tableDir, key)
        if (declared.nonEmpty) declared else defaultTies(source, key)
      }
    applyBatch(source, tableDir, key, ties, deleteWhen, n,
      extraMeta = extraMeta, validateHead = validateHead)
  }

  /** INSERT OVERWRITE for a bucketed table in ONE atomic commit:
    * write the replacement bucket dirs FIRST, then publish the swap
    * (drop every old path, add the new b= dirs) via a single
    * `commitIf` — matching the atomicity of the non-bucketed
    * overwrite. The previous truncate-then-merge route was two
    * commits: a reader between them observed an EMPTY table, and a
    * crash after the truncate lost all data with no replacement.
    * Concurrency is last-writer-wins like every overwrite: the
    * written dirs depend on no standing rows, so a lost publish just
    * re-points against the new head (no re-read, no rewrite); the
    * superseded head's dirs die by GC under the table's retention.
    * The batch goes through the same one-winner-per-key reduction as
    * [[merge]], so an overwrite can never seed duplicate keys. */
  def overwriteBucketed(source: DataFrame, tableDir: String,
                        tieCols: Seq[Column] = Nil,
                        validateHead: Map[String, String] => Unit =
                          _ => ()): Long = {
    val spark = source.sparkSession
    val fs = fsOf(spark, tableDir)
    val (key, n) = requireGeometry(spark, tableDir)
    Seq("b", "rn").foreach(r => require(!source.columns.contains(r),
      s"column name '$r' is reserved by the merge kernel"))
    val ties =
      if (tieCols.nonEmpty) tieCols
      else {
        val declared = declaredTies(source, tableDir, key)
        if (declared.nonEmpty) declared else defaultTies(source, key)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(ties: _*)
    val inserts = source
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn").withColumn("b",
        pmod(hash(keyHashExpr(spark, tableDir, key)), lit(n)))
    // schema resolution against the head's declared schema — the same
    // union-and-validate contract every merge commit honors, so an
    // overwrite can evolve but never narrow the declared shape
    val liveV = ManifestTable.versions(fs, tableDir).lastOption
    val declared = liveV.flatMap(v => ManifestTable.schemaOf(fs, tableDir, v))
    val tableSchema = resolveSchema(tableDir, declared, inserts.drop("b").schema)
    val have = inserts.columns.toSet
    val aligned = tableSchema.fields.foldLeft(inserts) { (df, f) =>
      if (!have(f.name) || df.schema(f.name).dataType == f.dataType) df
      else df.withColumn(f.name, col(f.name).cast(f.dataType))
    }
    val cid = "c-" + java.util.UUID.randomUUID().toString.take(8)
    aligned.repartition(col("b"))
      .sortWithinPartitions(col("b"), col(key))
      .write.partitionBy("b").parquet(s"$tableDir/$cid")
    val written = fs.listStatus(new Path(s"$tableDir/$cid"))
      .map(_.getPath.getName).filter(_.startsWith("b=")).sorted
      .toIndexedSeq.map(b => s"$cid/$b")
    publishOverwrite(spark, tableDir, written, tableSchema, validateHead)
  }

  /** The publish half of [[overwriteBucketed]] — the swap commit under
    * optimistic concurrency, separated so the ALTER-vs-overwrite race
    * is testable. `dataSchema` is the schema the replacement dirs were
    * written under; the DECLARED schema is re-resolved against the
    * CURRENT head on every attempt, so a concurrent ALTER TABLE ADD
    * COLUMN that wins the race survives the overwrite's commit
    * (committing the pre-write resolution would silently revert it)
    * and a concurrent incompatible type change aborts loudly instead
    * of being overwritten. */
  private[graft] def publishOverwrite(spark: SparkSession,
      tableDir: String, written: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      validateHead: Map[String, String] => Unit = _ => ()): Long = {
    val fs = fsOf(spark, tableDir)
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 50, s"overwrite contention at $tableDir")
      val headV = ManifestTable.versions(fs, tableDir).lastOption.getOrElse(0L)
      val headMeta =
        if (headV > 0) ManifestTable.metaOf(fs, tableDir, headV)
        else Map.empty[String, String]
      val headDeclared =
        if (headV > 0) ManifestTable.schemaOf(fs, tableDir, headV) else None
      val commitSchema = resolveSchema(tableDir, headDeclared, dataSchema)
      validateHead(headMeta)
      val published = ManifestTable.commitIf(spark, tableDir, written,
        expectedBase = headV, retainGenerations = retainOf(headMeta),
        schemaDdl = Some(ManifestTable.cleanDdl(commitSchema)), meta = headMeta)
      published.foreach(v => return v)
    }
    -1L // unreachable
  }

  /** The live table (highest committed manifest). */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    ManifestTable.read(spark, tableDir)

  /** Apply an S17-shaped change feed ([[ManifestTable.changes]]) to a
    * replica table — the CONSUMER half of the snapshot + CDC-tail
    * replication pattern: initial sync = [[create]] from
    * `readVersion(source, v)`, tail = `replicate(changes(source, v,
    * v'), replicaDir)`, after which the replica equals
    * `readVersion(source, v')`. An update arrives either as delete
    * (old image) + insert (new image) under the SAME key (the
    * read-time diff) or PAIRED as `update_preimage`/`update_postimage`
    * (a write-materialized feed, the Delta CDF tags); either way a
    * new-image-first tie order makes the post state the key's winner,
    * so the pair nets to a replace. The routing column is dropped
    * before storage — the replica carries the table schema, not the
    * feed schema. Idempotent like every merge: re-applying a delivered
    * feed reproduces the same replica. */
  def replicate(feed: DataFrame, tableDir: String): Long = {
    require(feed.columns.contains("change_type"),
      "not a change feed: missing change_type column")
    val spark = feed.sparkSession
    val (key, n) = requireGeometry(spark, tableDir)
    // rank, not the raw tag, orders the tie: lexical order would put
    // update_pREimage above update_pOstimage and delete the row
    val oldImage = col("change_type").isin("delete", "update_preimage")
    applyBatch(feed, tableDir, key,
      org.apache.spark.sql.functions.when(oldImage, 0).otherwise(1).desc
        +: defaultTies(feed, key),
      oldImage, n,
      dropCols = Seq("change_type"))
  }

  private val SyncMarker = "_synced_to"

  /** Replace-variant of [[pinMarker]] for markers that ADVANCE (the
    * geometry markers are write-once put-if-absent through the store
    * seam; this one moves forward). Delete-then-rename leaves a
    * brief no-marker window on a crash; [[sync]] treats a marker-less
    * replica that already has commits as "unknown position" and
    * re-syncs by full diff, so the window degrades cost, not
    * correctness. */
  private def writeMarkerReplace(spark: SparkSession, dir: String,
                                 name: String, value: String): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(dir, name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
    fs.delete(new Path(dir, name), false)
    require(fs.rename(tmp, new Path(dir, name)),
      s"marker rename failed: $dir/$name")
  }

  /** Restartable replication driver — the loop a production consumer
    * would schedule: catch `replicaDir` up to the live head of
    * `sourceDir`, whatever state the replica is in. First call =
    * initial snapshot sync ([[create]] from the head version); later
    * calls apply the CDC tail ([[ManifestTable.changes]] from the
    * replica's recorded `_synced_to` version). Returns the source
    * version the replica now reflects.
    *
    * Crash-safe by ordering, not by locks: the feed is applied BEFORE
    * the `_synced_to` marker advances, and applying a feed is
    * idempotent ([[replicate]]), so a consumer that crashes between
    * the two just re-applies the same feed on restart. A replica that
    * fell BEHIND RETENTION (its synced version GC'd at the source —
    * the consumer equivalent of falling off the end of a log's
    * retention window) re-syncs by logical diff: replica-vs-head
    * `exceptAll` both ways, applied as a feed. That path scans both
    * tables — the price of falling behind — but converges in one call
    * and the tail path resumes after. The same full-diff path adopts a
    * replica that has commits but no marker (built manually via
    * create+replicate, or crashed inside the marker replace). One
    * source per replica.
    *
    * Retention races: the retained-check on the synced version (and
    * the head read itself) is check-then-act against a source that
    * other writers keep committing to — a version can be GC'd between
    * the check and the read that uses it. Those throws re-observe and
    * retry here (the fall-behind path then converges by full diff),
    * instead of failing a call whose whole contract is "catch up from
    * whatever state". */
  def sync(spark: SparkSession, sourceDir: String, replicaDir: String,
           nBuckets: Int = graft.ScaleKnobs.DefaultMergeBuckets): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 10, s"sync contention at $sourceDir")
      try return syncOnce(spark, sourceDir, replicaDir, nBuckets)
      catch {
        case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("not retained") => ()
        case e: Exception if snapshotGone(e) => ()
      }
    }
    -1L // unreachable
  }

  private def syncOnce(spark: SparkSession, sourceDir: String,
                       replicaDir: String, nBuckets: Int): Long = {
    val fs = fsOf(spark, sourceDir)
    val headV = ManifestTable.versions(fs, sourceDir).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no committed manifest at $sourceDir"))
    val repExists =
      ManifestTable.versions(fsOf(spark, replicaDir), replicaDir).nonEmpty
    // a replica with commits but NO marker is at an unknown position
    // (adopted manually, or a crash inside the marker replace) —
    // converge by full logical diff rather than attempting a create
    def fullDiffSync(): Unit = {
      val src = ManifestTable.readVersion(spark, sourceDir, headV)
      val rep = read(spark, replicaDir)
        .select(src.columns.map(col(_)).toIndexedSeq: _*)
      // one signed-aggregation diff, same kernel as the CDC feed
      replicate(ManifestTable.diffFeed(rep, src), replicaDir)
    }
    readMarker(spark, replicaDir, SyncMarker) match {
      case None if !repExists =>
        val srcKey = readMarker(spark, sourceDir, KeyMarker).getOrElse(
          throw new IllegalArgumentException(
            s"not a merge table (no $KeyMarker): $sourceDir"))
        create(ManifestTable.readVersion(spark, sourceDir, headV),
          replicaDir, srcKey, nBuckets)
      case None => fullDiffSync()
      case Some(s) if s.toLong == headV => return headV // already at head
      case Some(s) =>
        val synced = s.toLong
        if (ManifestTable.versions(fs, sourceDir).contains(synced))
          replicate(ManifestTable.changes(spark, sourceDir, synced, headV),
            replicaDir)
        else fullDiffSync()
    }
    writeMarkerReplace(spark, replicaDir, SyncMarker, headV.toString)
    headV
  }

  /** The shared merge kernel (X9's `upsertBatch` delegates here with
    * its ts-first tie order and a never-true `deleteWhen`). `dropCols`
    * names routing-only source columns evaluated for dedup/deletes but
    * excluded from storage. Returns the committed manifest version. */
  def applyBatch(source: DataFrame, tableDir: String, key: String,
                 tieCols: Seq[Column], deleteWhen: Column,
                 nBuckets: Int, dropCols: Seq[String] = Nil,
                 extraMeta: Map[String, String] = Map.empty,
                 validateHead: Map[String, String] => Unit = _ => ()): Long = {
    val spark = source.sparkSession
    val fs = fsOf(spark, tableDir)
    // "b" (bucket routing, becomes the partitionBy dir) and "rn" (the
    // window dedup rank) are the kernel's working columns — a source
    // carrying either name would be silently overwritten, so reject it
    // loudly instead (the reserved-name rule every table format has)
    Seq("b", "rn").foreach(r => require(!source.columns.contains(r),
      s"column name '$r' is reserved by the merge kernel"))
    // pin the geometry: a table written (key, N)-way must always be
    // merged (key, N)-way — marker-first, so a crash between markers and
    // data leaves only harmless markers, never data probed with the
    // wrong modulus or key. Markers are write-once via put-if-absent +
    // read-back ([[pinMarker]]): racing initial writers with different
    // geometries resolve to one winner and one loud loser, and since a
    // pinned marker can never change afterwards, the rebase loop below
    // needs no per-attempt re-validation.
    readMarker(spark, tableDir, BucketsMarker) match {
      case Some(stored) => require(stored.toInt == nBuckets,
        s"table at $tableDir was bucketed $stored-way, asked to merge $nBuckets-way")
      case None => pinMarker(spark, tableDir, BucketsMarker, nBuckets.toString)
    }
    readMarker(spark, tableDir, KeyMarker) match {
      case Some(stored) => require(stored == key,
        s"table at $tableDir is keyed on $stored, asked to merge on $key")
      case None => pinMarker(spark, tableDir, KeyMarker, key)
    }
    // hash over the DECLARED key type — see declaredKeyType
    val bucketOf = pmod(hash(keyHashExpr(spark, tableDir, key)),
      lit(nBuckets))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(tieCols: _*)
    val winner = source
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .withColumn("b", bucketOf)
    // the winner frame feeds two jobs (touched-bucket collect + commit
    // write); persist so the source shuffles once, not twice
    winner.persist()
    try {
      // touched buckets: tiny driver list, bounded by min(source keys, N)
      val touched = winner.select("b").distinct()
        .collect().map(_.getInt(0)).sorted
      // attempt-invariant: the non-delete winners (and the validated
      // bucket router above) don't change across rebases — build once,
      // not per retry
      val inserts = winner.filter(!coalesce(deleteWhen, lit(false)))
        .drop(dropCols: _*)
      // OPTIMISTIC CONCURRENCY: observe the base version, build the
      // replacement against it, and publish with commitIf(base) — the
      // atomic put-if-absent of version base+1 means two writers with
      // the same base can never both win. On conflict (or a read that
      // crashed because a racing commit's GC swept the observed base's
      // dirs) the merge REBASES: re-observe, re-read standing, rewrite,
      // retry. A single-writer table never conflicts and pays nothing;
      // racing writers serialize with no lost updates (spec races
      // disjoint-key merges to prove both land). The abandoned
      // attempt's commit dir is swept by a later commit's GC.
      var attempt = 0
      var result = -1L
      while (result < 0) {
        attempt += 1
        require(attempt <= 50, s"merge contention at $tableDir")
        try {
          result = attemptMerge(spark, fs, tableDir, key, bucketOf,
            winner, inserts, touched, extraMeta, validateHead)
            .getOrElse(-1L)
        } catch {
          // the observed snapshot's dirs vanished mid-read: a racing
          // writer committed ≥2 generations and GC swept them — rebase
          case e: Exception if snapshotGone(e) => ()
        }
      }
      result
    } finally winner.unpersist()
  }

  /** The retention a merge-table commit must honor: the table's
    * PERSISTED `retainGenerations` property (the catalog's `prop:`
    * meta channel) when declared, else the engine default — so a
    * bucketed catalog table created with `retainGenerations=10` keeps
    * its history through every merge/compaction route, not just the
    * append paths that thread the knob explicitly. */
  private def retainOf(meta: Map[String, String]): Int =
    meta.get(GraftCatalog.PropPrefix + "retainGenerations")
      .flatMap(_.toIntOption).getOrElse(2)

  /** True iff `t` means "the snapshot I observed no longer exists on
    * disk" — the signature of a racing commit's GC sweeping dirs
    * between a reader's manifest resolve and its scan. Two shapes:
    * a task-time `FileNotFoundException` anywhere in the cause chain
    * (file vanished mid-scan), and Spark's PLANNING-time
    * `AnalysisException [PATH_NOT_FOUND]` (DataFrameReader eagerly
    * lists paths at resolution, before any job runs — no FNF cause).
    * Exercised against a real missing-path read in MergeIntoSpec so a
    * Spark upgrade changing the failure shape fails the spec, not the
    * rebase loop. */
  private[graft] def snapshotGone(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      if (c.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
          c.getMessage != null &&
          c.getMessage.contains("PATH_NOT_FOUND")) return true
      c = c.getCause
    }
    false
  }

  /** The committed schema for an attempt: the union of the previous
    * declared schema and this batch's shape — NOT just the batch's (a
    * source missing an evolved column, merged into a bucket with no
    * standing rows, would otherwise narrow the declared schema and hide
    * that column in every untouched dir). A shared column's type must
    * be identical or a SANCTIONED WIDENING in one direction: a wider
    * incoming type evolves the column (int → long), a narrower incoming
    * type keeps the declared one if it up-casts losslessly
    * (`Cast.canUpCast` — the attempt casts its rows up before writing),
    * and anything else — double → string, long → int — fails the merge
    * loudly. The EVOLUTION direction is deliberately stricter than
    * `Cast.canUpCast` (which blesses any atomic → string): an evolved
    * declared type must still read every UNTOUCHED dir's existing
    * footers, so only widenings the parquet reader applies at scan time
    * qualify ([[sanctionedWidening]] — the same reader-compatibility
    * boundary Delta's type-widening feature draws). The previous
    * take-the-incoming-definition rule let one bad source commit a
    * declared schema under which every untouched dir's footers no
    * longer convert, breaking all subsequent reads of the table. */
  private[graft] def resolveSchema(tableDir: String, prevDdl: Option[String],
      newFields: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    prevDdl match {
      case None => newFields
      case Some(ddl) =>
        val prev = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        val extra = newFields.filterNot(f => prev.fieldNames.contains(f.name))
        // the bucket KEY's type is FROZEN: murmur3 routing is
        // type-sensitive, so widening it would strand every standing
        // row in buckets the new declared-type hash never probes — the
        // same refusal ALTER TABLE makes (r19 review find). A NARROWER
        // source key is fine: the declared type wins and rows cast up.
        val frozenKey = readMarker(
          org.apache.spark.sql.SparkSession.active, tableDir, KeyMarker)
        org.apache.spark.sql.types.StructType(prev.map { f =>
          newFields.find(_.name == f.name) match {
            case None => f
            case Some(inc) if inc.dataType == f.dataType => inc
            case Some(inc) if sanctionedWidening(f.dataType, inc.dataType) =>
              if (frozenKey.contains(f.name))
                throw new IllegalArgumentException(
                  s"cannot widen bucket key '${f.name}' at $tableDir " +
                    s"from ${f.dataType.sql} to ${inc.dataType.sql}: " +
                    "murmur3 bucket routing is type-sensitive — cast " +
                    "the source key down instead")
              else inc
            case Some(inc) if Cast.canUpCast(inc.dataType, f.dataType) => f
            case Some(inc) => throw new IllegalArgumentException(
              s"incompatible type change for column '${f.name}' at $tableDir: " +
                s"table declares ${f.dataType.sql}, source brings " +
                s"${inc.dataType.sql}; only identical types or a sanctioned " +
                "widening (Cast.canUpCast) may evolve a merge table's schema")
          }
        } ++ extra)
    }
  }

  /** Widenings that may EVOLVE a declared column type: the declared
    * type governs how every retained dir's existing footers are read,
    * so an evolution is legal only if the parquet scan converts the old
    * physical type to the new declared one. Parquet stores byte/short/
    * int as one physical INT32, so ascents within that family are
    * footer no-ops; INT32 → long/double and float → double are the
    * reader-side widening conversions Spark 4's vectorized reader
    * performs (exercised by spec across a genuinely untouched dir).
    * Deliberately NOT `Cast.canUpCast`, which blesses atomic → string —
    * a "widening" no parquet reader can apply to a double footer. */
  private def sanctionedWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val int32Family = Seq[DataType](ByteType, ShortType, IntegerType)
    (from, to) match {
      case (f, t) if int32Family.contains(f) && int32Family.contains(t) =>
        int32Family.indexOf(f) < int32Family.indexOf(t)
      case (f, LongType) if int32Family.contains(f) => true
      case (f, DoubleType) if int32Family.contains(f) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** One optimistic attempt: read standing rows at the CURRENT live
    * version, write the replacement commit dir, publish conditionally.
    * None = lost the race; the caller rebases and retries. */
  private def attemptMerge(spark: SparkSession,
                           fs: org.apache.hadoop.fs.FileSystem,
                           tableDir: String, key: String,
                           bucketOf: Column,
                           winner: DataFrame, inserts: DataFrame,
                           touched: Array[Int],
                           extraMeta: Map[String, String],
                           validateHead: Map[String, String] => Unit)
      : Option[Long] = {
      // live bucket → data dir, from ONE manifest read — no per-bucket
      // exists() RPCs (256 HEAD round-trips per call on an object store)
      val liveV = ManifestTable.versions(fs, tableDir).lastOption
      val liveByBucket: Map[Int, String] =
        liveV.map(v => ManifestTable.pathsOf(fs, tableDir, v)).getOrElse(Seq.empty)
          .map(rel => bucketOrdinalOf(rel, tableDir) -> rel).toMap
      val existing = touched.filter(liveByBucket.contains)
      // one manifest open serves both the standing read and the schema
      // resolution below — on an object store each schemaOf is a GET,
      // multiplied by the rebase retry loop under contention
      val declared = liveV.flatMap(v => ManifestTable.schemaOf(fs, tableDir, v))
      // ONE job rewrites every touched bucket: standing rows from touched
      // buckets minus ALL source keys (update replaces, delete removes —
      // the anti-join is the same either way), plus the non-delete
      // winners, routed to bucket subdirs of a fresh commit dir.
      // Untouched buckets are never read or written. Standing rows read
      // through the live version's DECLARED schema when one is tracked,
      // so dirs written before a prior evolution resolve to the full
      // table shape (null-filled) instead of whatever one sampled
      // footer happens to carry.
      val standing =
        if (existing.nonEmpty) {
          val paths = existing.toIndexedSeq
            .map(b => ManifestTable.absPath(tableDir, liveByBucket(b)))
          val rows = declared match {
            case Some(ddl) => spark.read
              .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
              .parquet(paths: _*)
            case None => spark.read.parquet(paths: _*)
          }
          rows.join(winner.select(key), Seq(key), "left_anti")
            .withColumn("b", bucketOf)
        } else inserts.limit(0) // post-drop shape: dropCols must not leak in
      // allowMissingColumns both ways = schema evolution: a source with
      // a NEW column null-fills it on standing rows; a source missing a
      // table column null-fills its inserts. The union shape becomes the
      // committed schema below.
      val combined = standing.unionByName(inserts, allowMissingColumns = true)
      val cid = "c-" + java.util.UUID.randomUUID().toString.take(8)
      // the committed schema (validated against the previous declared
      // one — see below) is resolved BEFORE the write so the replacement
      // rows can be aligned to it: a narrower source column (int into a
      // declared double) is cast up-front, guaranteeing every committed
      // file converts under the declared schema instead of leaning on
      // reader-side type widening
      val newFields = combined.drop("b").schema
      val tableSchema = resolveSchema(tableDir, declared, newFields)
      val have = combined.columns.toSet
      val aligned = tableSchema.fields.foldLeft(combined) { (df, f) =>
        if (!have(f.name) || df.schema(f.name).dataType == f.dataType) df
        else df.withColumn(f.name, col(f.name).cast(f.dataType))
      }
      // cluster the replacement by bucket and sort by key before the
      // partitioned write: without this, EVERY upstream task writes its
      // own file into every touched bucket dir (shuffle.partitions
      // files per bucket per merge — small-file accretion the next
      // read pays for), and rows land unordered. One shuffle of the
      // bounded replacement buys one file per touched bucket per merge
      // with key-ordered rows, so parquet footer min/max prunes row
      // groups inside a bucket on the serving path ([[lookup]]).
      aligned.repartition(col("b"))
        .sortWithinPartitions(col("b"), col(key))
        .write.partitionBy("b").parquet(s"$tableDir/$cid")
      // list what the write ACTUALLY produced: a touched bucket whose
      // replacement is empty has no b= dir and must leave the manifest
      val written = fs.listStatus(new Path(s"$tableDir/$cid"))
        .map(_.getPath.getName).filter(_.startsWith("b=")).sorted
      val untouchedPaths = (liveByBucket -- touched).values.toSeq
      // #meta (txn watermarks, persisted props) survives a merge, and
      // the table's declared retention governs this commit's GC
      val headMeta = liveV.map(v => ManifestTable.metaOf(fs, tableDir, v))
        .getOrElse(Map.empty[String, String])
      // caller-supplied head validation (e.g. the streaming epoch's
      // ALTER-vs-write CHECK guard) runs against the exact head this
      // attempt commits on — a lost race re-runs it on the new head
      validateHead(headMeta)
      val published = ManifestTable.commitIf(spark, tableDir,
        (untouchedPaths ++ written.map(b => s"$cid/$b")).sorted,
        expectedBase = liveV.getOrElse(0L),
        retainGenerations = retainOf(headMeta),
        schemaDdl = Some(ManifestTable.cleanDdl(tableSchema)),
        meta = headMeta ++ extraMeta)
      published match {
        case some @ Some(_) => some
        // lost the publish — but if the interleaved commits left OUR
        // buckets untouched, the replacement we already wrote is still
        // valid: re-commit it against the new head instead of paying a
        // full re-read + rewrite (bucket-granular conflict validation)
        case None => retryDisjointCommit(spark, fs, tableDir, liveByBucket,
          touched, written.toIndexedSeq.map(b => s"$cid/$b"), tableSchema,
          extraMeta, validateHead)
      }
      // on a TRUE conflict the freshly-written commit dir is abandoned —
      // a later successful commit's GC sweeps it, same as a crashed writer
  }

  /** Iceberg-style validation after a lost publish: disjoint writers
    * don't serialize through a data rewrite. The attempt's replacement
    * dir was built from the OBSERVED state of its touched buckets; it
    * stays valid exactly while every interleaved commit left those
    * buckets' dirs as observed (racing merges on OTHER buckets, by the
    * one-dir-per-bucket layout). Then the only work left is the
    * pointer: carry the new head's untouched dirs, drop our buckets'
    * old dirs, add our written ones, merge the (possibly concurrently
    * evolved) declared schema through the same [[resolveSchema]]
    * validation, and `commitIf` on the new head. None = a touched
    * bucket DID change (true conflict — standing rows we anti-joined
    * are stale), or the head carries a non-bucket layout (foreign
    * writer): the caller falls back to the full rebase, which is
    * always correct. Overlapping merges therefore still linearize;
    * disjoint merges commit without re-reading a row — the contention
    * cost Iceberg's partition-granular validation buys at 100 TB,
    * here at bucket granularity. */
  private def retryDisjointCommit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
      observedByBucket: Map[Int, String], touched: Array[Int],
      writtenPaths: Seq[String],
      ourSchema: org.apache.spark.sql.types.StructType,
      extraMeta: Map[String, String],
      validateHead: Map[String, String] => Unit): Option[Long] = {
    var attempt = 0
    while (attempt < 50) {
      attempt += 1
      val headV = ManifestTable.versions(fs, tableDir).lastOption.getOrElse(0L)
      if (headV == 0L) return None
      val parsed = ManifestTable.pathsOf(fs, tableDir, headV).map { rel =>
        val i = rel.lastIndexOf("b=")
        if (i < 0) None
        else rel.substring(i + 2).toIntOption.map(_ -> rel)
      }
      if (parsed.exists(_.isEmpty)) return None // foreign layout → rebase
      val headByBucket = parsed.flatten.toMap
      if (touched.exists(b => headByBucket.get(b) != observedByBucket.get(b)))
        return None // true conflict: our standing read is stale
      val declared = ManifestTable.schemaOf(fs, tableDir, headV)
      val merged = resolveSchema(tableDir, declared, ourSchema)
      val headMeta = ManifestTable.metaOf(fs, tableDir, headV)
      validateHead(headMeta)
      val r = ManifestTable.commitIf(spark, tableDir,
        ((headByBucket -- touched).values.toSeq ++ writtenPaths).sorted,
        expectedBase = headV, retainGenerations = retainOf(headMeta),
        schemaDdl = Some(ManifestTable.cleanDdl(merged)),
        meta = headMeta ++ extraMeta)
      if (r.isDefined) return r
    }
    None
  }

  /** Point lookup — the serving-path read: each key's bucket is
    * resolved with the SAME hash expression the writer used (computed
    * by a tiny Spark job over the keys frame, so the driver never
    * re-implements murmur3), and ONLY those buckets' dirs are opened.
    * One key = one bucket = O(table/N) bytes scanned instead of
    * O(table) — at 100 TB with 256 buckets, a single-key fetch reads
    * ~0.4% of the table, and parquet footer min/max on the key column
    * prunes row groups within the bucket on top. `keys` must be a
    * 1-column frame named as the table's key; intended for SMALL key
    * sets — the distinct keys are collected to the driver and become an
    * `isin` literal list, so `maxKeys` (default 10k) bounds the collect
    * and a misuse (a million-key "lookup" that should be a join against
    * [[read]]) fails loudly instead of building a million-literal
    * predicate or flooding driver memory: the limit+1 is applied BEFORE
    * the collect, so the driver never materializes more than
    * `maxKeys + 1` rows no matter how large the keys frame is. */
  def lookup(spark: SparkSession, tableDir: String, keys: DataFrame,
             maxKeys: Int = graft.ScaleKnobs.LookupMaxKeys): DataFrame = {
    val (key, n) = requireGeometry(spark, tableDir)
    val fs = fsOf(spark, tableDir)
    val liveV = ManifestTable.versions(fs, tableDir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $tableDir"))
    val liveByBucket: Map[Int, String] =
      ManifestTable.pathsOf(fs, tableDir, liveV).map { rel =>
        bucketOrdinalOf(rel, tableDir) -> rel
      }.toMap
    // one tiny job yields both the bucket set AND the key values: the
    // values become an `isin` predicate the parquet scan can PUSH —
    // merge writes sort each bucket file by key, so footer min/max then
    // skips every row group outside the probed keys. A semi join alone
    // would hash-probe AFTER scanning the whole bucket. The probe key
    // hashes over the DECLARED type (a caller-typed INT probe on a
    // BIGINT-keyed table would silently open the wrong buckets).
    val probed = keys.select(col(key),
        pmod(hash(keyHashExpr(spark, tableDir, key)), lit(n)).as("b"))
      .distinct().limit(maxKeys + 1).collect()
    require(probed.length <= maxKeys,
      s"lookup probed more than $maxKeys distinct keys at $tableDir — " +
        "point lookup collects keys into a pushed isin predicate; for " +
        "large key sets join against MergeInto.read instead (or raise maxKeys)")
    val dirs = probed.map(_.getInt(1)).distinct.sorted.toIndexedSeq
      .flatMap(liveByBucket.get).map(p => ManifestTable.absPath(tableDir, p))
    if (dirs.isEmpty)
      return ManifestTable.read(spark, tableDir).limit(0)
    val rows = ManifestTable.schemaOf(fs, tableDir, liveV) match {
      case Some(ddl) => spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }
    rows.filter(col(key).isin(probed.map(_.get(0)).toIndexedSeq: _*))
  }

  /** Maintenance (OPTIMIZE): fold the live snapshot — however many
    * commit dirs it spans — into ONE fresh dir, re-bucketed by the
    * pinned geometry, published with one manifest swap. A racing reader
    * sees the old complete snapshot or the new one.
    *
    * Commits CONDITIONALLY on the version it compacted
    * ([[ManifestTable.commitIf]]): a merge that lands while the rewrite
    * runs wins, and the compaction rebases — re-reads the new head and
    * rewrites — rather than publishing a manifest built from the stale
    * snapshot. The previous unconditional commit would silently ROLL
    * BACK such a merge (the one lost-update window the optimistic
    * merge protocol left open); this is Iceberg's rewrite-validation
    * rule applied to the same race. Compaction changes no logical
    * rows, so conflict handling is pure retry; an abandoned rewrite
    * dir is swept by a later commit's GC like any crashed writer's. */
  def compact(spark: SparkSession, tableDir: String): Unit = {
    val (key, n) = requireGeometry(spark, tableDir)
    val fs = fsOf(spark, tableDir)
    require(ManifestTable.versions(fs, tableDir).nonEmpty,
      s"no committed manifest at $tableDir")
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      require(attempt <= 50, s"compaction contention at $tableDir")
      try {
        val baseV = ManifestTable.versions(fs, tableDir).last
        val live = ManifestTable.readVersion(spark, tableDir, baseV)
        val cid = "c-" + java.util.UUID.randomUUID().toString.take(8)
        live.withColumn("b", pmod(hash(col(key)), lit(n)))
          .repartition(col("b"))
          .sortWithinPartitions(col("b"), col(key))
          .write.partitionBy("b").parquet(s"$tableDir/$cid")
        val buckets = fs.listStatus(new Path(s"$tableDir/$cid"))
          .map(_.getPath.getName).filter(_.startsWith("b=")).sorted
        val headMeta = ManifestTable.metaOf(fs, tableDir, baseV)
        done = ManifestTable.commitIf(spark, tableDir,
          buckets.map(b => s"$cid/$b").toSeq,
          expectedBase = baseV, retainGenerations = retainOf(headMeta),
          schemaDdl = Some(ManifestTable.cleanDdl(live.schema)),
          meta = headMeta).isDefined
      } catch {
        // the observed base's dirs (or its manifest) were GC'd by a
        // racing writer's commit mid-read — same rebase as a conflict
        case e: Exception if snapshotGone(e) => ()
        case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("not retained") => ()
      }
    }
  }
}
