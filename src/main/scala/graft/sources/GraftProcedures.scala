package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._

/** S29 — the `CALL` procedure implementations behind
  * [[GraftCatalog.loadProcedure]]. Each binds a fixed parameter list,
  * runs the corresponding engine maintenance op, and returns a one-row
  * local scan so the caller sees what happened (`CALL` surfaces the
  * result as a query result). Side-effecting → `isDeterministic=false`,
  * which keeps Spark from caching or re-ordering the call. */
object GraftProcedures {

  private def oneRow(schema: StructType, values: Array[Any])
      : java.util.Iterator[Scan] =
    java.util.List.of[Scan](GraftLocalScanImpl(schema,
      Array(new GenericInternalRow(values): InternalRow))).iterator()

  /** The S36/S37 analyze kernel (shared by `CALL system.analyze` and
    * the compaction auto-refresh): one grouped pass over the table
    * computing per-column NDV + null counts — and, for `histCols`,
    * equi-height bin BOUNDS as the (0, 1/b, ..., 1) percentiles, extra
    * agg expressions in the SAME pass, never extra jobs — persisted in
    * the `#meta` channel where the V2 scan serves them to the CBO.
    * Exact `countDistinct`/`percentile` by default (oracle-verifiable);
    * `approx` switches to HLL + approx_percentile — the 100 TB mode. */
  private[sources] def analyzePersist(catalog: GraftCatalog, dir: String,
      cols: Seq[String], approx: Boolean, histCols: Seq[String],
      bins: Int): Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, countDistinct, expr, lit}
    val spark = catalog.activeSpark
    // S53 — the incremental sketch path (approx mode, no histograms):
    // per-dir HLL sketches persist in the `#ndv` stats lane, so a
    // re-ANALYZE reads ONLY dirs without one and merges the rest as
    // pure metadata. Falls back to the full pass whenever its
    // preconditions don't hold.
    if (approx && histCols.isEmpty) {
      // the incremental result is only publishable while the table
      // stays mask-free: a MoR delete landing between the sketch pin
      // and the stats publish would bake its masked rows into the
      // published counts. The publish loop re-validates against the
      // exact head it commits on; masks appearing mid-analyze abort to
      // the full pass (which reads THROUGH the masks).
      object MaskedMidAnalyze extends scala.util.control.ControlThrowable
      try incrementalNdv(catalog, dir, cols).foreach { case (rows, entries) =>
        GraftCatalog.alterMetaAt(catalog, dir, m =>
          (m -- cols.map(ManifestTable.ColHistPrefix + _)) ++
            entries.map { case (c, ndv, nulls) =>
              (ManifestTable.ColStatPrefix + c) -> s"$ndv,$nulls" } +
            (ManifestTable.TableStatKey -> rows.toString),
          validate = h =>
            if (ManifestTable.dvOf(catalog.activeFs, dir, h).nonEmpty)
              throw MaskedMidAnalyze)
        return entries
      } catch { case MaskedMidAnalyze => () }
    }
    val df = ManifestTable.read(spark, dir)
    val pcts = (0 to bins).map(i => i.toDouble / bins)
      .mkString("array(", ",", ")")
    val histAggs = histCols.map { c =>
      val fn = if (approx) "approx_percentile" else "percentile"
      expr(s"$fn(CAST(`$c` AS DOUBLE), $pcts)").as(s"hist:$c")
    }
    val aggs = (count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(
      (if (approx) approx_count_distinct(col(c))
       else countDistinct(col(c))).as(s"ndv:$c"),
      count(lit(1)).minus(count(col(c))).as(s"nulls:$c")))) ++ histAggs
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getAs[Long]("__rows")
    val entries = cols.map { c =>
      (c, r.getAs[Long](s"ndv:$c"), r.getAs[Long](s"nulls:$c"))
    }
    // the persisted histogram is SELF-CONTAINED — its own non-null
    // rowcount and NDV ride the value ("nn;ndv;b1,…"), so a later
    // plain re-analyze can never pair fresh counts with stale bounds
    // into a histogram nobody computed
    val byCol = entries.map(e => e._1 -> e).toMap
    val histEntries = histCols.flatMap { c =>
      Option(r.getAs[scala.collection.Seq[Double]](s"hist:$c"))
        .map { bounds =>
          val (_, ndv, nulls) = byCol(c)
          (ManifestTable.ColHistPrefix + c) ->
            s"${rows - nulls};$ndv;${bounds.mkString(",")}"
        }
    }
    GraftCatalog.alterMetaAt(catalog, dir, m =>
      // a fresh analyze of a column REPLACES all its stats: its
      // histogram is recomputed when requested, dropped otherwise
      // (Spark's own ANALYZE ... FOR COLUMNS contract)
      (m -- cols.map(ManifestTable.ColHistPrefix + _)) ++
        entries.map { case (c, ndv, nulls) =>
          (ManifestTable.ColStatPrefix + c) -> s"$ndv,$nulls" } ++
        histEntries +
        (ManifestTable.TableStatKey -> rows.toString))
    entries
  }

  /** S53 — incremental NDV via per-dir HLL sketches. Sketches the dirs
    * that lack a persisted `#ndv` lane (ONE grouped pass over exactly
    * those dirs — `hll_sketch_agg`, Spark's own DataSketches family),
    * publishes the extended payloads as a pointer commit, then derives
    * the table stats as pure metadata: rows = Σ per-dir rowcounts,
    * nulls = Σ per-dir `#nulls` lanes, NDV = the union estimate over
    * every dir's sketch (driver-side — sketch bytes are KBs, dirs are
    * manifest-scale). At 100 TB a post-append re-ANALYZE costs one
    * scan of the appended dirs and nothing else — the
    * Iceberg-puffin shape, carried in the manifest instead of a
    * sidecar file.
    *
    * None (→ full pass) when: standing deletion vectors (a sketch
    * cannot subtract masked rows), a dir without stats, or a dir whose
    * payload predates the `#nulls` lane (rows/nulls would be wrong). */
  private def incrementalNdv(catalog: GraftCatalog, dir: String,
      cols: Seq[String]): Option[(Long, Seq[(String, Long, Long)])] = {
    import org.apache.spark.sql.functions.expr
    val spark = catalog.activeSpark
    val fs = catalog.activeFs
    val head = ManifestTable.headVersion(spark, dir).getOrElse(return None)
    if (ManifestTable.dvOf(fs, dir, head).nonEmpty) return None
    val schema = ManifestTable.declaredSchemaOf(spark, dir, head)
      .getOrElse(return None)
    if (!cols.forall(schema.fieldNames.contains)) return None
    val paths = ManifestTable.pathsOf(fs, dir, head)
    val stats = ManifestTable.statsOf(fs, dir, head)
    val payloads: Seq[(String, String)] = paths.map { p =>
      stats.get(p) match {
        case Some(pl) => p -> pl
        case None => return None // an unstatted dir: nothing to merge
      }
    }
    val rowsPer = payloads.map { case (_, pl) =>
      ManifestTable.rowsIn(pl).getOrElse(return None) }
    val nullsPer: Map[String, Seq[Long]] = cols.map { c =>
      c -> payloads.map { case (_, pl) =>
        ManifestTable.nullsFor(pl, c).getOrElse(return None) }
    }.toMap
    val lgK = graft.ScaleKnobs.NdvSketchLgK
    // ONE pass over exactly the unsketched dirs (none on a pure
    // re-ANALYZE of an unchanged table)
    val need = payloads.collect {
      case (p, pl) if cols.exists(c =>
        ManifestTable.ndvSketchFor(pl, c).isEmpty) => p
    }
    val fresh: Map[String, Seq[(String, Array[Byte])]] =
      if (need.isEmpty) Map.empty
      else {
        val aggs = cols.map(c =>
          expr(s"hll_sketch_agg(CAST(`$c` AS STRING), $lgK)").as(s"ndv:$c"))
        // grouped by the scan's dir column: the manifest's own entry
        val scan = ManifestTable.readMasked(spark, dir, head, need,
          Map.empty)
        val perDir = scan
          .groupBy(scan.metadataColumn(GraftRowLevel.DirCol))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        def emptySketch: Array[Byte] = ManifestTable.emptyNdvSketch
        val sketched = perDir.map { r =>
          val rel = r.getString(0)
          // an all-null column yields no sketch — persist an EMPTY one
          // so the dir never re-reads on later ANALYZEs
          rel -> cols.map(c => c ->
            Option(r.getAs[Array[Byte]](s"ndv:$c")).getOrElse(emptySketch))
        }.toMap
        // a zero-row dir produces no group at all — same empty-sketch
        // treatment, same never-re-read guarantee
        sketched ++ need.filterNot(sketched.contains)
          .map(p => p -> cols.map(c => c -> emptySketch)).toMap
      }
    if (fresh.nonEmpty)
      ManifestTable.recordNdvSketches(spark, dir, fresh): Unit
    // table NDV = union estimate over every dir's sketch (persisted or
    // fresh); a column all-null in a dir may have no sketch there
    val entries = cols.map { c =>
      val union = new org.apache.datasketches.hll.Union(lgK)
      payloads.foreach { case (p, pl) =>
        val bytes = fresh.get(p).flatMap(_.find(_._1 == c).map(_._2))
          .orElse(ManifestTable.ndvSketchFor(pl, c))
        bytes.foreach(b => union.update(
          org.apache.datasketches.hll.HllSketch.heapify(b)))
      }
      (c, math.round(union.getEstimate), nullsPer(c).sum)
    }
    Some((rowsPer.sum, entries))
  }

  /** S37 auto-hook: after a compaction paid its full pass over the
    * table, refresh the persisted CBO stats IF they have drifted ≥2×
    * from the live rowcount — exactly the staleness the `$properties`
    * advisory (`advice:analyze`) computes — for the columns a previous
    * `CALL system.analyze` covered (histograms re-binned at their
    * recorded width). The scheduled OPTIMIZE then keeps stats fresh
    * with no separate CALL. Runs the HLL/approx pass: unattended
    * maintenance takes the 100 TB mode; an operator wanting exact
    * NDVs re-runs analyze explicitly. No-op when nothing was ever
    * analyzed or drift is within bounds. */
  private[sources] def refreshStaleStats(catalog: GraftCatalog,
                                         dir: String): Unit = {
    val spark = catalog.activeSpark
    val fs = catalog.activeFs
    val head = ManifestTable.headVersion(spark, dir).getOrElse(return)
    val meta = ManifestTable.metaOf(fs, dir, head)
    val analyzed = meta.get(ManifestTable.TableStatKey)
      .flatMap(_.toLongOption).getOrElse(return)
    // the advisory's OWN predicate and rowcount — one rule, shared, so
    // the refresh can never desynchronize from `advice:analyze`
    val live = GraftMetaTables.liveRowCount(fs, dir, head).getOrElse(return)
    if (!GraftMetaTables.statsDrifted(analyzed, live)) return
    val cols = meta.keySet
      .filter(_.startsWith(ManifestTable.ColStatPrefix))
      .map(_.stripPrefix(ManifestTable.ColStatPrefix)).toSeq.sorted
    if (cols.isEmpty) return
    // a committed ZERO-DIR head (every row deleted, the compaction
    // materialized the masks) refreshes to zeros as pure metadata —
    // the read-based pass would throw a misleading 'no committed
    // manifest' AFTER the compaction already committed (the same
    // guard Analyze.call grew in r19; r20 review find)
    if (ManifestTable.pathsOf(fs, dir, head).isEmpty) {
      GraftCatalog.alterMetaAt(catalog, dir, m =>
        (m -- cols.map(ManifestTable.ColHistPrefix + _)) ++
          cols.map(c => (ManifestTable.ColStatPrefix + c) -> "0,0") +
          (ManifestTable.TableStatKey -> "0"))
      return
    }
    val histCols = meta.keySet
      .filter(_.startsWith(ManifestTable.ColHistPrefix))
      .map(_.stripPrefix(ManifestTable.ColHistPrefix)).toSeq.sorted
      .filter(cols.contains)
    val bins = histCols.headOption
      .flatMap(c => meta.get(ManifestTable.ColHistPrefix + c))
      .flatMap(_.split(";", 3) match {
        case Array(_, _, bs) => Some(math.max(2, bs.split(",").length - 1))
        case _ => None
      }).getOrElse(16)
    analyzePersist(catalog, dir, cols, approx = true, histCols, bins): Unit
  }

  /** The compaction family's shared stats-column derivation: the
    * persisted `statsCols` property, else every column the live stats
    * already track — PATH-SORTED iteration keeps the fallback
    * deterministic, because `compactAppend` range-sorts on
    * `statsCols.head` when no cluster spec is declared. One helper so
    * `CALL compact` and `CALL maintain` can never drift apart. */
  private[sources] def compactionStatsCols(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, head: Long, meta: Map[String, String]): Seq[String] =
    meta.get(GraftCatalog.PropPrefix + "statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .orElse {
        val tracked = ManifestTable.statsOf(fs, dir, head).toSeq
          .sortBy(_._1).flatMap(kv => ManifestTable.statColsIn(kv._2))
          .distinct
        Some(tracked).filter(_.nonEmpty)
      }
      .getOrElse(throw new IllegalArgumentException(
        s"compaction needs stats columns: set the statsCols table " +
          s"property on $dir or ingest with stats"))

  /** Stat-supportable column types for the DEFAULT analyze set —
    * countDistinct over MAP (and other non-orderable) types throws, so
    * the all-columns default filters like Spark's own FOR ALL COLUMNS;
    * explicitly-requested columns still fail loudly. */
  private def statable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _: org.apache.spark.sql.types.StringType => true
      case _: org.apache.spark.sql.types.BooleanType => true
      case _: org.apache.spark.sql.types.DateType => true
      case _: org.apache.spark.sql.types.TimestampType => true
      case _: org.apache.spark.sql.types.TimestampNTZType => true
      case _: org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }

  /** The table's committed head, or a loud dir-naming refusal — the
    * CALL surface must never surface a bare `None.get` for "you
    * called a procedure on a table with no committed manifest"
    * (r20 review find; Maintain/Lookup/Analyze already refused this
    * way, the other six procedures crashed with NoSuchElementException). */
  private[graft] def headOrRefuse(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Long =
    ManifestTable.headVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $dir"))

  private[sources] def retainOf(meta: Map[String, String]): Int =
    meta.get(GraftCatalog.PropPrefix + "retainGenerations")
      .flatMap(_.toIntOption).getOrElse(2)

  /** `CALL cat.system.compact(table => 'ns.t', k => 4)` — rewrite the
    * live table as ≤k clustered dirs ([[ManifestTable.compactAppend]],
    * honoring the declared `clusterBy` spec). `statsCols` resolve from
    * the table's persisted property, else from the columns its live
    * stats already track. Returns (version, n_dirs). */
  class Compact(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "rewrite a graft table's accreted commit dirs as k clustered dirs"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "compact"
        override def description(): String = Compact.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("k", IntegerType).defaultValue("4").build(),
          ProcedureParameter.in("incremental", BooleanType)
            .defaultValue("false").build(),
          // predicate-SCOPED compaction (OPTIMIZE ... WHERE): fold only
          // the dirs whose stats overlap [where_lo, where_hi] on
          // where_col; everything else carries by path
          ProcedureParameter.in("where_col", StringType)
            .defaultValue("NULL").build(),
          ProcedureParameter.in("where_lo", StringType)
            .defaultValue("NULL").build(),
          ProcedureParameter.in("where_hi", StringType)
            .defaultValue("NULL").build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val k = if (input.isNullAt(1)) 4 else input.getInt(1)
          require(k > 0, s"k must be positive, got $k — it is the " +
            "target dir count of the compaction rewrite")
          val incremental = !input.isNullAt(2) && input.getBoolean(2)
          def strArg(i: Int): Option[String] =
            if (input.isNullAt(i)) None else Some(input.getUTF8String(i).toString)
          val whereBounds = (strArg(3), strArg(4), strArg(5)) match {
            case (None, None, None) => None
            case (Some(c), Some(lo), Some(hi)) => Some(Map(c -> (lo, hi)))
            case _ => throw new IllegalArgumentException(
              "scoped compaction needs all three of where_col/where_lo/" +
                "where_hi (or none)")
          }
          require(whereBounds.isEmpty || !incremental,
            "incremental and where_* are mutually exclusive: a scoped " +
              "compaction already folds only the overlapping dirs")
          val fs = catalog.activeFs
          // a bucketed (S31) table compacts under its PINNED geometry —
          // fold the accreted per-merge bucket files into one dir per
          // bucket (k does not apply: the modulus is the layout)
          if (MergeInto.bucketedGeometry(spark, dir).isDefined) {
            require(whereBounds.isEmpty,
              s"scoped compaction does not apply to bucketed table $dir: " +
                "its dirs are HASH buckets, not ranges — a stats envelope " +
                "selects nothing meaningful")
            // no silent flag-drop: the merge kernel already folds each
            // touched bucket at write time (one dir per bucket by
            // construction), so there are no stragglers for an
            // incremental pass to pick up — refuse loudly rather than
            // run a full rewrite under an 'incremental' request
            require(!incremental,
              s"incremental compaction does not apply to bucketed table " +
                s"$dir: its layout is maintained incrementally by " +
                "construction (each merge folds its touched buckets); " +
                "use CALL system.compact without incremental for a full " +
                "re-fold")
            MergeInto.compact(spark, dir)
            // the same S37 auto-hook the non-bucketed route (and CALL
            // maintain) runs — the rewrite paid the full pass either
            // way, and the two compact entry points must not differ
            // on the stats-refresh contract (r20 review find)
            refreshStaleStats(catalog, dir)
            val v = headOrRefuse(spark, dir)
            return oneRow(StructType(Seq(
              StructField("version", LongType, nullable = false),
              StructField("n_dirs", IntegerType, nullable = false))),
              Array[Any](v, ManifestTable.pathsOf(fs, dir, v).size))
          }
          val head = headOrRefuse(spark, dir)
          val meta = ManifestTable.metaOf(fs, dir, head)
          val statsCols = compactionStatsCols(fs, dir, head, meta)
          val retain = retainOf(meta)
          // incremental => true (S39): fold only the dirs that OVERLAP
          // on the leading cluster dimension — cost ∝ arrivals since
          // the last full compact, kept dirs carried by path;
          // where_* => the operator-directed scoped fold
          val v = whereBounds match {
            case Some(b) =>
              ManifestTable.compactWhere(spark, dir, statsCols, b, k, retain)
            case None if incremental =>
              ManifestTable.compactIncremental(spark, dir, statsCols, k, retain)
            case None =>
              ManifestTable.compactAppend(spark, dir, statsCols, k, retain)
          }
          // S37 auto-hook: the rewrite just paid a full pass — refresh
          // drifted CBO stats now instead of waiting for a manual CALL
          // (its metadata commit, when it fires, is the version
          // reported — the caller sees the table it actually left)
          refreshStaleStats(catalog, dir)
          val headV = ManifestTable.headVersion(spark, dir).getOrElse(v)
          oneRow(StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("n_dirs", IntegerType, nullable = false))),
            Array[Any](headV, ManifestTable.pathsOf(fs, dir, headV).size))
        }
      }
  }

  /** `CALL cat.system.maintain(table => 'ns.t')` — execute whatever the
    * table's computed `advice:*` keys recommend, in one call: standing
    * mask debt past the threshold (`advice:compact`) runs a full
    * compaction (which materializes every deletion vector, and whose
    * auto-hook refreshes drifted CBO stats in the same pass); a
    * remaining stats drift (`advice:analyze`) re-runs the approx
    * analyze over the previously-analyzed columns. The advisories are
    * COMPUTED, so acting on them clears them — a scheduler can loop
    * `maintain` unconditionally and it no-ops at a steady state ("none").
    * Returns (version, actions). Bucketed tables route their compaction
    * through the merge kernel's re-fold, same as `CALL compact`. */
  class Maintain(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "maintain"
    override def description(): String =
      "run the maintenance a graft table's advice:* keys recommend"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "maintain"
        override def description(): String = Maintain.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("k", IntegerType).defaultValue("4").build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val k = if (input.isNullAt(1)) 4 else input.getInt(1)
          require(k > 0, s"k must be positive, got $k — it is the " +
            "target dir count of the compaction rewrite")
          val fs = catalog.activeFs
          val head = ManifestTable.headVersion(spark, dir).getOrElse(
            throw new IllegalArgumentException(
              s"no committed manifest at $dir"))
          val advice = GraftMetaTables.advisories(spark, fs, dir, head)
            .map(_._1).toSet
          val actions = scala.collection.mutable.ArrayBuffer.empty[String]
          val didCompact = advice("advice:compact")
          if (didCompact) {
            if (MergeInto.bucketedGeometry(spark, dir).isDefined)
              MergeInto.compact(spark, dir): Unit
            else {
              val meta = ManifestTable.metaOf(fs, dir, head)
              ManifestTable.compactAppend(spark, dir,
                compactionStatsCols(fs, dir, head, meta), k,
                retainOf(meta)): Unit
            }
            actions += "compact"
          }
          // ONE refreshStaleStats at most per maintain call — the
          // compact auto-hook and the analyze advisory share the same
          // pass (running both paid a redundant analyze, r16 ADVICE) —
          // and the advisories recompute ONLY when compaction moved
          // the head (unchanged head = the set computed above)
          val advisedAnalyze =
            if (!didCompact) advice("advice:analyze")
            else GraftMetaTables.advisories(spark, fs, dir,
              headOrRefuse(spark, dir))
              .exists(_._1 == "advice:analyze")
          if (didCompact || advisedAnalyze) refreshStaleStats(catalog, dir)
          if (advisedAnalyze) actions += "analyze"
          val v = headOrRefuse(spark, dir)
          oneRow(StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("actions", StringType, nullable = false))),
            Array[Any](v, org.apache.spark.unsafe.types.UTF8String.fromString(
              if (actions.isEmpty) "none" else actions.mkString(","))))
        }
      }
  }

  /** `CALL cat.system.vacuum(table => 'ns.t'[, dry_run => true])` —
    * run the retention + orphan sweep now ([[ManifestTable.vacuum]]):
    * crashed-writer leavings age out past the grace window,
    * retention-retired dirs go immediately. Returns how many entries
    * were swept. With `dry_run => true` NOTHING is deleted: instead
    * every entry the sweep would consider comes back as a row
    * (path, kind, age_seconds, would_sweep, reason) — the operator
    * sees the blast radius and whether the grace window would hold a
    * candidate back BEFORE committing to the deletes
    * ([[ManifestTable.orphanReport]], the same retirement split the
    * sweep itself uses, so the report can never disagree with it). */
  class Vacuum(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "sweep retention-retired dirs and aged orphans of a graft table"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "vacuum"
        override def description(): String = Vacuum.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("dry_run", BooleanType)
            .defaultValue("false").build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val fs = catalog.activeFs
          val head = headOrRefuse(spark, dir)
          val retain = retainOf(ManifestTable.metaOf(fs, dir, head))
          val dryRun = !input.isNullAt(1) && input.getBoolean(1)
          if (dryRun) {
            val report = ManifestTable.orphanReport(spark, dir, retain)
            val schema = StructType(Seq(
              StructField("path", StringType, nullable = false),
              StructField("kind", StringType, nullable = false),
              StructField("age_seconds", LongType, nullable = false),
              StructField("would_sweep", BooleanType, nullable = false),
              StructField("reason", StringType, nullable = false)))
            val rows = report.map { case (p, kind, age, sweep, why) =>
              new GenericInternalRow(Array[Any](
                org.apache.spark.unsafe.types.UTF8String.fromString(p),
                org.apache.spark.unsafe.types.UTF8String.fromString(kind),
                age, sweep,
                org.apache.spark.unsafe.types.UTF8String.fromString(why)))
                : InternalRow
            }
            java.util.List.of[Scan](
              GraftLocalScanImpl(schema, rows.toArray)).iterator()
          } else {
            val swept = ManifestTable.vacuum(spark, dir, retain)
            oneRow(StructType(Seq(
              StructField("swept", LongType, nullable = false))),
              Array[Any](swept))
          }
        }
      }
  }

  /** `CALL cat.system.lookup(table => 'ns.t', keys => 'k1,k2,...')` —
    * S18 point lookup BY NAME on a bucketed (`layout=bucketed:<key>`)
    * table: each key's bucket resolves with the writer's own hash
    * expression and only those buckets' dirs are opened
    * ([[MergeInto.lookup]] — O(table/N) bytes per key, with footer
    * min/max pruning inside the bucket). Keys arrive as a
    * comma-separated string cast to the key column's type; the result
    * rows return through a local scan (bounded: ≤ one row per probed
    * key, and the kernel's maxKeys guard bounds the probe itself). */
  class Lookup(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "lookup"
    override def description(): String =
      "point-lookup rows of a bucketed graft table by key"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "lookup"
        override def description(): String = Lookup.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keys", StringType).build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val (key, _) = MergeInto.bucketedGeometry(spark, dir).getOrElse(
            throw new IllegalArgumentException(
              s"lookup needs a bucketed table (layout=bucketed:<key>); " +
                s"$dir has no pinned merge geometry"))
          val head = ManifestTable.headVersion(spark, dir).getOrElse(
            throw new IllegalArgumentException(
              s"no committed manifest at $dir"))
          val schema = ManifestTable.declaredSchemaOf(spark, dir, head)
            .getOrElse(throw new IllegalArgumentException(
              s"no declared schema at $dir"))
          val keyType = schema(key).dataType
          import org.apache.spark.sql.functions.col
          val keyVals = input.getUTF8String(1).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
          val keysDf = spark.createDataFrame(
            spark.sparkContext.parallelize(keyVals.map(org.apache.spark.sql.Row(_)), 1),
            StructType(Seq(StructField(key, StringType))))
            .select(col(key).cast(keyType).as(key))
          val result = MergeInto.lookup(spark, dir, keysDf)
          val rows = result.queryExecution.executedPlan.executeCollect()
          java.util.List.of[Scan](
            GraftLocalScanImpl(result.schema, rows.map(_.copy()))).iterator()
        }
      }
  }

  /** `CALL cat.system.analyze(table => 'ns.t'[, columns => 'a,b'])` —
    * S36: compute per-column NDV + null counts in ONE grouped pass
    * over the table and persist them in the `#meta` channel
    * (`colstat:<col>` → "ndv,nulls"; `tablestat` → rows), where the
    * V2 scan surfaces them as `columnStats` — the input Spark's
    * cost-based optimizer needs for join reordering and build-side
    * choice. NDV is EXACT by default (count distinct — also what the
    * oracle can verify); pass `approx => true` at 100 TB for the
    * HLL-sketched pass Spark's own ANALYZE runs (one pass, no
    * per-column shuffle). Returns one row per analyzed column. The
    * stats are snapshot-of-analysis-time, like every engine's ANALYZE:
    * they carry forward through commits until the next CALL. */
  class Analyze(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "analyze"
    override def description(): String =
      "compute + persist per-column NDV/null stats for the CBO"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "analyze"
        override def description(): String = Analyze.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("columns", StringType).defaultValue("NULL").build(),
          ProcedureParameter.in("approx", BooleanType).defaultValue("false").build(),
          ProcedureParameter.in("histogram", BooleanType).defaultValue("false").build(),
          ProcedureParameter.in("bins", IntegerType).defaultValue("16").build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val head = ManifestTable.headVersion(spark, dir).getOrElse(
            throw new IllegalArgumentException(
              s"no committed graft table at $dir"))
          val tblSchema = ManifestTable.schemaAt(spark, dir,
            ManifestTable.snapshotOf(catalog.activeFs, dir, head))
          // the DEFAULT column set filters to stat-supportable atomic
          // types — countDistinct over a MAP column throws, so an
          // unfiltered default crashed every analyze of such tables
          // (Spark's own FOR ALL COLUMNS filters the same way);
          // explicitly-requested columns keep failing loudly
          // explicit names resolve CASE-INSENSITIVELY to the declared
          // spelling (Spark's own ANALYZE ... FOR COLUMNS accepts `ID`
          // for a declared `id`; the persisted colstat: key must carry
          // the declared name either way) — unknown columns still
          // refuse loudly
          val cols =
            if (input.isNullAt(1)) tblSchema.fields.collect {
              case f if statable(f.dataType) => f.name
            }.toSeq
            else input.getUTF8String(1).toString.split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
              .map(c => tblSchema.fieldNames
                .find(_.equalsIgnoreCase(c)).getOrElse(
                  throw new IllegalArgumentException(
                    s"analyze: unknown column '$c'")))
          val approx = !input.isNullAt(2) && input.getBoolean(2)
          val histOn = !input.isNullAt(3) && input.getBoolean(3)
          val bins = if (input.isNullAt(4)) 16 else math.max(2, input.getInt(4))
          val histCols =
            if (!histOn) Seq.empty
            else cols.filter(c => tblSchema(c).dataType
              .isInstanceOf[org.apache.spark.sql.types.NumericType])
          // an EMPTY table (committed, zero dirs) analyzes to zeros as
          // pure metadata — the read-based pass would throw a
          // misleading 'no committed manifest' (r19 review find)
          val fsx = catalog.activeFs
          val entries =
            if (ManifestTable.pathsOf(fsx, dir, head).isEmpty) {
              GraftCatalog.alterMetaAt(catalog, dir, m =>
                (m -- cols.map(ManifestTable.ColHistPrefix + _)) ++
                  cols.map(c =>
                    (ManifestTable.ColStatPrefix + c) -> "0,0") +
                  (ManifestTable.TableStatKey -> "0"))
              cols.map(c => (c, 0L, 0L))
            } else analyzePersist(catalog, dir, cols, approx, histCols, bins)
          val schema = StructType(Seq(
            StructField("column", StringType, nullable = false),
            StructField("ndv", LongType, nullable = false),
            StructField("null_count", LongType, nullable = false)))
          val out = entries.map { case (c, ndv, nulls) =>
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(c),
              ndv, nulls)): InternalRow
          }
          java.util.List.of[Scan](
            GraftLocalScanImpl(schema, out.toArray)).iterator()
        }
      }
  }

  /** `CALL cat.system.tag(table => 'ns.t', name => 'v1.0'[, version
    * => n])` — S34 version tags: a named pointer GC RETAINS (manifest
    * + data) past any generation/age policy until untagged, resolvable
    * as `VERSION AS OF 'v1.0'` and `versionAsOf=v1.0` on every read
    * surface. The release-pinning move (Iceberg tags). */
  class Tag(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "tag"
    override def description(): String =
      "pin a retained version under a name, protected from GC"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "tag"
        override def description(): String = Tag.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType).defaultValue("NULL").build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val head = headOrRefuse(spark, dir)
          val retain = retainOf(ManifestTable.metaOf(catalog.activeFs, dir, head))
          val v = ManifestTable.tag(spark, dir,
            input.getUTF8String(1).toString,
            if (input.isNullAt(2)) None else Some(input.getLong(2)), retain)
          oneRow(StructType(Seq(
            StructField("tagged_version", LongType, nullable = false))),
            Array[Any](v))
        }
      }
  }

  /** S49 — `CALL cat.system.create_branch(table => 'ns.t', name =>
    * 'audit')`: cut a WAP branch at the parent head. The branch is a
    * full table at `<table>/_branches/<name>` — write and audit it
    * with every normal surface, then publish or drop. */
  class CreateBranch(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "create_branch"
    override def description(): String =
      "cut a write-audit-publish branch at the parent table's head"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "create_branch"
        override def description(): String = CreateBranch.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val bname = input.getUTF8String(1).toString
          ManifestTable.createBranch(spark, dir, bname): Unit
          oneRow(StructType(Seq(
            StructField("branch_path", StringType, nullable = false))),
            Array[Any](org.apache.spark.unsafe.types.UTF8String
              .fromString(ManifestTable.branchDirOf(dir, bname))))
        }
      }
  }

  /** S49 — `CALL cat.system.publish_branch(table => 'ns.t', name =>
    * 'audit')`: fast-forward the parent to the branch head in one
    * atomic commit; the branch is consumed. Refused if the parent
    * moved since the cut. */
  class PublishBranch(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "publish_branch"
    override def description(): String =
      "fast-forward the parent to the branch head; the branch is consumed"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "publish_branch"
        override def description(): String = PublishBranch.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val v = ManifestTable.publishBranch(spark, dir,
            input.getUTF8String(1).toString)
          oneRow(StructType(Seq(
            StructField("published_version", LongType, nullable = false))),
            Array[Any](v))
        }
      }
  }

  /** S49 — `CALL cat.system.drop_branch(table => 'ns.t', name =>
    * 'audit')`: discard a branch; parent state is untouched. */
  class DropBranch(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "discard a branch; the parent table is untouched"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "drop_branch"
        override def description(): String = DropBranch.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val bname = input.getUTF8String(1).toString
          ManifestTable.dropBranch(spark, dir, bname)
          oneRow(StructType(Seq(
            StructField("dropped", StringType, nullable = false))),
            Array[Any](org.apache.spark.unsafe.types.UTF8String
              .fromString(bname)))
        }
      }
  }

  /** `CALL cat.system.untag(table => 'ns.t', name => 'v1.0')` — drop
    * the pointer; the version rejoins ordinary retention. */
  class Untag(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "untag"
    override def description(): String =
      "drop a version tag; the version rejoins ordinary retention"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "untag"
        override def description(): String = Untag.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val head = headOrRefuse(spark, dir)
          val retain = retainOf(ManifestTable.metaOf(catalog.activeFs, dir, head))
          ManifestTable.untag(spark, dir,
            input.getUTF8String(1).toString, retain)
          oneRow(StructType(Seq(
            StructField("dropped", StringType, nullable = false))),
            Array[Any](org.apache.spark.unsafe.types.UTF8String
              .fromString(input.getUTF8String(1).toString)))
        }
      }
  }

  /** `CALL cat.system.clone(source => 'ns.t', target => 'ns.t2')` —
    * S33 zero-copy SHALLOW CLONE as one SQL statement
    * ([[ManifestTable.shallowClone]]): the target becomes an
    * independent table over the source's current data dirs, no file
    * copied, metadata-only whatever the table size. Compact the CLONE
    * to make it self-contained (the deep-clone finisher). Returns
    * (version, n_paths) of the clone's first commit. */
  class Clone(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "clone"
    override def description(): String =
      "zero-copy shallow clone of a graft table (metadata-only)"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "clone"
        override def description(): String = Clone.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("target", StringType).build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val src = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val dst = catalog.dirOfNewTableArg(input.getUTF8String(1).toString)
          val head = ManifestTable.headVersion(spark, src).get
          val retain = retainOf(
            ManifestTable.metaOf(catalog.activeFs, src, head))
          val v = ManifestTable.shallowClone(spark, src, dst, retain)
          val nPaths = ManifestTable.pathsOf(catalog.activeFs, dst, v).size
          oneRow(StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("n_paths", IntegerType, nullable = false))),
            Array[Any](v, nPaths))
        }
      }
  }

  /** `CALL cat.system.restore(table => 'ns.t', version => n)` — make a
    * retained older version the live table again (history moves
    * FORWARD: one new manifest, nothing rewritten,
    * [[ManifestTable.restore]]). Returns the new head version. */
  class Restore(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "restore"
    override def description(): String =
      "re-publish a retained older version as the live table"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "restore"
        override def description(): String = Restore.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] = Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType).build())
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = catalog.activeSpark
          val dir = catalog.dirOfTableArg(input.getUTF8String(0).toString)
          val fs = catalog.activeFs
          val head = headOrRefuse(spark, dir)
          val retain = retainOf(ManifestTable.metaOf(fs, dir, head))
          val v = ManifestTable.restore(spark, dir, input.getLong(1), retain)
          oneRow(StructType(Seq(
            StructField("version", LongType, nullable = false))),
            Array[Any](v))
        }
      }
  }
}
