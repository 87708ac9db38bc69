package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.sources._

/** Helpers every write and pruning surface of the manifest table family
  * shares — the `graft`/`graft-manifest` providers, [[ManifestTable]],
  * [[GraftRowLevelOps]] and the streaming sinks: pushed-filter → stats
  * bounds folding, S47 txn idempotence, and the S30/S50/S51 declared
  * contracts bound inside each write job, plus the overwrite and
  * spec-respecting append routes. */
object ManifestSupport {

  /** CHECK constraints (S30, SQL semantics: NULL passes, only a FALSE
    * evaluation violates) enforced IN the write job — a per-row
    * `raise_error` guard inside a filter, so the batch fails before
    * any manifest commit with the constraint's name and the offending
    * row, and no second validation pass over the data is ever run
    * (Delta's invariant-check shape). */
  private[graft] def applyChecks(data0: DataFrame,
                                   checks: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, expr, lit, not, raise_error, struct, to_json, when}
    checks.foldLeft(data0) { case (df, (name, sql)) =>
      df.filter(
        when(not(coalesce(expr(sql), lit(true))),
          raise_error(concat(
            lit(s"CHECK constraint '$name' violated ($sql) by row: "),
            to_json(struct(df.columns.toIndexedSeq.map(col): _*)))))
          .otherwise(lit(true)))
    }
  }

  /** S47 — parse the per-write idempotence options (Delta's
    * txnAppId/txnVersion pair): both-or-neither, numeric version,
    * appId manifest-line-safe. Shared by the V2 write builder and the
    * `graft-manifest` SaveMode writer so both validate identically. */
  private[graft] def txnOf(opt: String => Option[String])
      : Option[(String, Long)] = {
    val app = opt("txnAppId").map(_.trim).filter(_.nonEmpty)
    val ver = opt("txnVersion")
    require(app.isDefined == ver.isDefined,
      "txnAppId and txnVersion come as a pair: both identify one " +
        "idempotent write (Delta's foreachBatch contract) — got " +
        s"txnAppId=${app.orNull}, txnVersion=${ver.orNull}")
    for (a <- app; v <- ver) yield {
      require(!a.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"txnAppId must not contain tab/newline characters: '$a'")
      (a, v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"txnVersion must be an integer watermark, got '$v'")))
    }
  }

  /** The recorded `txn:<appId>` watermark at the current head is
    * at-or-past this write's version — the batch already committed
    * (crash between commit and the caller's ack). Check-then-write,
    * same single-writer-per-appId contract [[graft.streaming.Streams
    * .appendBatch]] documents: batches of one appId never run
    * concurrently, so the only re-entry is the crashed writer's own
    * replay, which this check absorbs without extra atomicity. */
  private[graft] def txnApplied(spark: org.apache.spark.sql.SparkSession,
                                dir: String,
                                txn: Option[(String, Long)]): Boolean =
    txn.exists { case (appId, ver) =>
      ManifestTable.headVersion(spark, dir).exists { h =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        ManifestTable.metaOf(fs, dir, h).get(s"txn:$appId")
          .flatMap(_.toLongOption).exists(_ >= ver)
      }
    }

  private[graft] def txnMetaOf(txn: Option[(String, Long)])
      : Map[String, String] =
    txn.map { case (a, v) => s"txn:$a" -> v.toString }.toMap

  /** Append honoring the table's DECLARED cluster spec (S27): when one
    * is set, the batch lands clustered on arrival whatever API carried
    * it — a `graft-manifest` writer must not quietly degrade the layout a
    * catalog table declared. No spec = the plain single-dir append. */
  private[graft] def appendRespectingSpec(data0: DataFrame, dir: String,
                                            statsCols: Seq[String],
                                            retain: Int,
                                            extraMeta: Map[String, String] =
                                              Map.empty): Unit = {
    val spark = data0.sparkSession
    // a bucketed (S31) table's append IS an upsert by key — the V1
    // alias must not degrade the layout any more than it may degrade a
    // declared cluster spec. Declared CHECKs bind HERE only on the
    // kernel route (append/appendClustered bind internally — binding
    // twice would judge every row twice); the bound keys feed the
    // kernel's per-attempt ALTER-vs-write guard.
    if (MergeInto.bucketedGeometry(spark, dir).isDefined) {
      require(extraMeta.isEmpty,
        s"txnAppId/txnVersion are not supported on bucketed merge tables ($dir)")
      val (data, boundChecks) = bindDeclaredChecks(data0, dir)
      val fsg = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      MergeInto.merge(data, dir, validateHead = m =>
        ManifestTable.checkConflictGuard(fsg, dir, m, boundChecks,
          Seq.empty)): Unit
      return
    }
    val data = data0
    val spec = ManifestTable.headVersion(spark, dir).flatMap { v =>
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      ManifestTable.clusterSpecOf(fs, dir, v)
    }
    spec match {
      case Some(cols) => ManifestTable.appendClustered(data, dir,
        (statsCols ++ cols).distinct, retainGenerations = retain,
        meta = extraMeta): Unit
      case None =>
        ManifestTable.append(data, dir, statsCols, retain,
          meta = extraMeta): Unit
    }
  }

  /** The table's PERSISTED constraints (`prop:check.<name>` in `#meta`,
    * the catalog's declared data contracts) applied to `data` — the
    * streaming sinks run this so an older-API writer cannot sidestep a
    * contract the catalog declared. */
  private[graft] def withDeclaredChecks(data: DataFrame,
                                          dir: String): DataFrame =
    bindDeclaredChecks(data, dir)._1

  /** [[withDeclaredChecks]] plus the full PROP KEYS it bound, read at
    * THIS moment — [[ManifestTable]]'s commit loops compare the head's
    * declared keys against this set at publish time and refuse when a
    * constraint appeared after the write job was built (the
    * ALTER-vs-write metadata race; Delta fails the same interleave
    * with MetadataChangedException).
    *
    * `exemptWhen`: rows matching this predicate are NOT judged by the
    * declared constraints — the delta-changeset path uses it for
    * delete records, whose null-filled data columns would otherwise
    * spuriously fail a non-null-propagating check (`v IS NOT NULL`)
    * on every DELETE. */
  private[graft] def bindDeclaredChecks(data: DataFrame, dir: String,
                                        exemptWhen: Option[String] = None,
                                        recomputeGenerated: Boolean = false,
                                        headHint: Option[Long] = None)
      : (DataFrame, Set[String]) = {
    val spark = data.sparkSession
    // headHint threads the caller's one planning-path head resolution
    // (r20) — absent, resolve here
    headHint.orElse(ManifestTable.headVersion(spark, dir)) match {
      case None => (data, Set.empty)
      case Some(v) =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val prefix = GraftCatalog.PropPrefix + "check."
        val meta = ManifestTable.metaOf(fs, dir, v)
        val bound = meta.collect {
          case (k, sql) if k.startsWith(prefix) => k -> sql
        }
        val checks = bound.toSeq.sortBy(_._1)
          .map { case (k, sql) => k.stripPrefix(prefix) ->
            exemptWhen.map(e => s"($e) OR ($sql)").getOrElse(sql) }
        (applyChecks(refuseNullIdentity(
          applyGenerated(data, dir, v, meta, exemptWhen, recomputeGenerated),
          dir, v, meta, exemptWhen, dmlPath = recomputeGenerated),
          checks), bound.keySet)
    }
  }

  /** S51 — DML write-backs do not MINT identity values (only the
    * append surfaces hold a watermark claim the commit can verify), so
    * a NULL arriving in an identity column there is a MERGE-inserted
    * row that would land id-less: refuse loudly with the route named.
    * Non-DML callers pass through — the append path mints before this
    * point never fires. Delete records (exemptWhen) are not data. */
  private[graft] def refuseNullIdentity(data: DataFrame, dir: String, v: Long,
                                        meta: Map[String, String],
                                        exemptWhen: Option[String],
                                        dmlPath: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, raise_error, when}
    if (!dmlPath) return data
    val specs = ManifestTable.identitySpecs(meta)
    if (specs.isEmpty) return data
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(data.sparkSession.sessionState.newHadoopConf())
    val physToLogical = ManifestTable.colMapOf(fs, dir, v).map(_.swap)
    specs.keys.toSeq.sorted.foldLeft(data) { (df, phys) =>
      val logical = physToLogical.getOrElse(phys, phys)
      if (!df.columns.contains(logical)) df
      else {
        val exempt = exemptWhen.map(expr).getOrElse(lit(false))
        df.filter(when(!exempt && col(logical).isNull,
          raise_error(lit(
            s"identity column '$logical' arrived NULL on a DML " +
              "write-back — MERGE-inserted rows into identity tables " +
              "get no minted ids on this path; route inserts through " +
              "INSERT/append (which mints against the watermark)")))
          .otherwise(lit(true)))
      }
    }
  }

  /** S50 — GENERATED ALWAYS AS enforcement at the same choke point the
    * CHECK constraints bind (every write API passes here): a NULL in a
    * generated column FILLS with the expression (the by-name INSERT
    * that omitted it arrives null-filled from Spark's resolution — the
    * fill is the feature), a provided non-null value must null-safe-
    * equal it (a mismatch raises with the row, Delta's contract).
    * `exemptWhen` rows (delta delete records) pass through untouched —
    * their null-filled data columns are not data. */
  private[graft] def applyGenerated(data: DataFrame, dir: String, v: Long,
                                    meta: Map[String, String],
                                    exemptWhen: Option[String],
                                    recompute: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, expr, lit, not, raise_error, struct, to_json, when}
    val gens = meta.collect {
      case (k, sql) if k.startsWith(ManifestTable.GenColPrefix) =>
        k.stripPrefix(ManifestTable.GenColPrefix) -> sql
    }
    if (gens.isEmpty) return data
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(data.sparkSession.sessionState.newHadoopConf())
    val cmap = ManifestTable.colMapOf(fs, dir, v)
    val physToLogical = cmap.map(_.swap)
    val declared = ManifestTable.declaredSchemaOf(data.sparkSession, dir, v)
    gens.toSeq.sortBy(_._1).foldLeft(data) { case (df, (phys, sql)) =>
      val logical = physToLogical.getOrElse(phys, phys)
      if (!df.columns.contains(logical)) df // delta changesets carry ids only
      else {
        val dt = declared.flatMap(_.fields.find(_.name == logical))
          .map(_.dataType)
        val computed = dt.map(expr(sql).cast(_)).getOrElse(expr(sql))
        val exempt = exemptWhen.map(expr).getOrElse(lit(false))
        if (recompute)
          // DML write-backs: an UPDATE of a SOURCE column refreshes
          // the generated value (Delta's semantics); an assignment to
          // the generated column itself is overridden by the
          // recomputation — the invariant wins, never the assignment
          df.withColumn(logical,
            when(exempt, col(logical)).otherwise(computed))
        else {
          val gated = df.filter(
            when(not(exempt) && col(logical).isNotNull &&
                not(col(logical) <=> computed),
              raise_error(concat(
                lit(s"generated column '$logical' = ($sql) violated by row: "),
                to_json(struct(df.columns.toIndexedSeq.map(col): _*)))))
              .otherwise(lit(true)))
          gated.withColumn(logical,
            when(exempt || col(logical).isNotNull, col(logical))
              .otherwise(computed))
        }
      }
    }
  }

  /** Overwrite = append the batch as a fresh commit dir, then commit a
    * manifest listing ONLY that dir (its stats carried over). Built
    * from the same primitives as restore: history moves forward, old
    * dirs remain referenced by retained versions for time travel.
    * Concurrency is LAST-WRITER-WINS by design: an append racing the
    * second commit is superseded (its rows are not in the overwritten
    * table) — the semantics of replacing the whole table; Delta makes
    * the same call by failing the concurrent writer instead. */
  private[graft] def overwrite(data0: DataFrame, dir: String,
                               statsCols: Seq[String],
                               retainGenerations: Int = 2,
                               extraMeta: Map[String, String] = Map.empty,
                               specOverride: Option[Seq[String]] = None)
      : Unit = {
    val spark = data0.sparkSession
    // bucketed (S31) table: overwrite = ONE atomic swap commit keeping
    // the b=N layout invariant every later merge's bucket parse relies
    // on — never a truncate a reader could observe mid-overwrite.
    // Declared CHECKs bind here only on this kernel route (the
    // append-shaped path below binds internally).
    if (MergeInto.bucketedGeometry(spark, dir).isDefined) {
      require(extraMeta.isEmpty,
        s"txnAppId/txnVersion are not supported on bucketed merge tables ($dir)")
      val (data, boundChecks) = bindDeclaredChecks(data0, dir)
      val fsg = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      MergeInto.overwriteBucketed(data, dir, validateHead = m =>
        ManifestTable.checkConflictGuard(fsg, dir, m, boundChecks,
          Seq.empty)): Unit
      return
    }
    val data = data0
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // append tells us exactly which commit dirs it created — the second
    // commit lists precisely those. (Deriving "fresh" by diffing head
    // against the largest retained version below v is wrong under
    // retainGenerations=1: the append's GC deletes that version first,
    // the diff returns ALL head paths, and overwrite silently degrades
    // to append — keeping rows it must replace.) A table with a
    // DECLARED cluster spec overwrites CLUSTERED (≤k range/Morton dirs
    // with per-dir stats, the append paths' contract) — a single-dir
    // overwrite would silently discard the clustered-on-arrival layout
    // until the next compaction (r19 review find).
    // an explicit clusterBy write OPTION governs THIS overwrite's
    // layout too, not just the spec it declares afterwards — data
    // landing by the old (or no) spec under a freshly-declared one
    // left the table claiming a layout its own overwrite did not
    // apply (r20 review find)
    val spec = specOverride.orElse(ManifestTable.headVersion(spark, dir)
      .flatMap(v => ManifestTable.clusterSpecOf(fs, dir, v)))
    val (v, cids) = spec match {
      case Some(cols) => // clusterSpecOf never yields an empty spec
        ManifestTable.appendClusteredWithCids(data, dir,
          (statsCols ++ cols).distinct, retainGenerations = retainGenerations,
          specOverride = Some(cols))
      case _ =>
        val (v0, cid) = ManifestTable.appendWithCid(data, dir, statsCols,
          retainGenerations)
        (v0, Seq(cid))
    }
    val stats = ManifestTable.statsOf(fs, dir, v)
    val cidSet = cids.toSet
    ManifestTable.commit(spark, dir, cids, retainGenerations,
      schemaDdl = Some(ManifestTable.cleanDdl(data.schema)),
      stats = stats.view.filterKeys(cidSet).toMap,
      // replacing the data does not reset writer txn watermarks; an
      // S47 idempotent overwrite records ITS watermark here — on the
      // FINAL commit only, so a crash between the two commits replays
      // the whole overwrite (same end state) instead of being skipped
      // with only the intermediate append visible
      meta = ManifestTable.metaOf(fs, dir, v) ++ extraMeta): Unit
  }

  /** Fold Spark's pushed filters into per-column [lo, hi] bounds in
    * [[ManifestTable.rangeScan]]'s string encoding (Spark cast-to-string
    * rendering: dates `yyyy-MM-dd`, timestamps with the fractional part
    * trimmed — NOT java.sql.Timestamp.toString, whose mandatory ".0"
    * sorts AFTER the stats' trimmed rendering and would mis-prune an
    * exact-boundary match). Conservative by construction: strict
    * bounds widen to inclusive, IN folds to its envelope, OR and
    * unsupported filters contribute nothing.
    *
    * `zone` must be the zone the stats were WRITTEN in
    * ([[ManifestTable.statsZoneOf]]): the manifest stats were rendered
    * by cast-to-string in the writing session's zone, so pushed
    * timestamp literals must render in the same zone or an
    * exact-boundary dir mis-prunes. (Pinning UTC here would only agree
    * with the stats because build.sbt pins the session to UTC — a
    * user overriding the session TZ would silently drop rows.) */
  private[graft] def boundsOf(filters: Seq[Filter],
                              zone: java.time.ZoneId): Map[String, (String, String)] = {
    val lo = scala.collection.mutable.Map.empty[String, String]
    val hi = scala.collection.mutable.Map.empty[String, String]
    def tighten(m: scala.collection.mutable.Map[String, String], c: String,
                v: String, keepGreater: Boolean): Unit = {
      val cur = m.get(c)
      val next = cur match {
        case Some(x) => if ((v > x) == keepGreater) v else x
        case None => v
      }
      m(c) = next
    }
    def num(v: Any): Boolean = v.isInstanceOf[java.lang.Number]
    def safeBD(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    // numeric bound-tightening must compare numerically; everything else
    // in the supported set (string/date/timestamp renderings) orders
    // lexicographically in its domain. NaN/Infinity render but don't
    // parse as BigDecimal → contribute no bound (conservative).
    def tightenTyped(m: scala.collection.mutable.Map[String, String], c: String,
                     v: Any, keepGreater: Boolean): Unit = render(v, zone).foreach { r =>
      if (num(v)) {
        (safeBD(r), m.get(c).flatMap(safeBD)) match {
          case (Some(rb), Some(xb)) =>
            if ((rb.compare(xb) > 0) == keepGreater) m(c) = r
          case (Some(_), None) => m(c) = r
          case (None, _) => ()
        }
      } else tighten(m, c, r, keepGreater)
    }
    def walk(f: Filter): Unit = f match {
      case EqualTo(c, v) => tightenTyped(lo, c, v, keepGreater = true)
        tightenTyped(hi, c, v, keepGreater = false)
      case EqualNullSafe(c, v) if v != null =>
        tightenTyped(lo, c, v, keepGreater = true)
        tightenTyped(hi, c, v, keepGreater = false)
      case GreaterThan(c, v) => tightenTyped(lo, c, v, keepGreater = true)
      case GreaterThanOrEqual(c, v) => tightenTyped(lo, c, v, keepGreater = true)
      case LessThan(c, v) => tightenTyped(hi, c, v, keepGreater = false)
      case LessThanOrEqual(c, v) => tightenTyped(hi, c, v, keepGreater = false)
      case In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        // envelope: the dir must overlap [min(vs), max(vs)]. Numeric
        // members must ALL parse (NaN/Infinity render but don't) —
        // a lexicographic fallback there would sort '-Infinity' below
        // digits and pick a too-small max, mis-pruning dirs; skip the
        // envelope instead (conservative: no bound, no pruning).
        val rendered = vs.toSeq.map(v => (v, render(v, zone)))
        if (rendered.forall(_._2.isDefined)) {
          val rs = rendered.map { case (v, r) => (v, r.get) }
          val allNum = vs.forall(num)
          val parseable = rs.forall(p => safeBD(p._2).isDefined)
          if (allNum && parseable) {
            val ordered = rs.sortBy(p => BigDecimal(p._2))
            tightenTyped(lo, c, ordered.head._1, keepGreater = true)
            tightenTyped(hi, c, ordered.last._1, keepGreater = false)
          } else if (!allNum) {
            val ordered = rs.sortBy(_._2)
            tightenTyped(lo, c, ordered.head._1, keepGreater = true)
            tightenTyped(hi, c, ordered.last._1, keepGreater = false)
          }
        }
      case And(a, b) => walk(a); walk(b)
      case _ => () // Or / IsNull / StringContains / ... : no bound
    }
    filters.foreach(walk)
    // a column contributes only when BOTH ends are bounded: rangeScan's
    // residual predicate is a closed interval
    lo.keySet.intersect(hi.keySet).map(c => c -> (lo(c), hi(c))).toMap
  }

  /** Render a pushed literal in the manifest-stats string encoding.
    * None = unsupported type → the filter contributes no bound.
    * Timestamp instants render at `zone` — the zone the stats writer's
    * cast-to-string used ([[ManifestTable.statsZoneOf]]: the pinned
    * writer zone, falling back to the session's — NOT the JVM default,
    * and not hardcoded UTC: either mismatch silently mis-prunes dirs).
    * Instants render ONLY under a fixed-offset zone: in a DST zone the
    * local-string order diverges from instant order inside fall-back
    * overlaps, so lexicographic pruning against the stats strings would
    * be unsound — those bounds are declined (conservative: no pruning
    * on that column, full correctness via the re-applied filter). */
  private[graft] def render(v: Any, zone: java.time.ZoneId): Option[String] = {
    def fixed = zone.getRules.isFixedOffset
    v match {
      case null => None
      case d: java.sql.Date => Some(d.toString)
      case d: java.time.LocalDate => Some(d.toString)
      case t: java.sql.Timestamp if fixed => Some(renderTs(
        java.time.LocalDateTime.ofInstant(t.toInstant, zone)))
      case i: java.time.Instant if fixed => Some(renderTs(
        java.time.LocalDateTime.ofInstant(i, zone)))
      case l: java.time.LocalDateTime => Some(renderTs(l)) // TIMESTAMP_NTZ literal
      case n: java.lang.Number => Some(n.toString)
      case s: String => Some(s)
      case _ => None
    }
  }

  /** Spark cast-style timestamp rendering: seconds, then the micro
    * fraction with trailing zeros trimmed, absent when zero. */
  private def renderTs(ldt: java.time.LocalDateTime): String = {
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    val micros = ldt.getNano / 1000
    if (micros == 0) base
    else base + "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
  }
}
