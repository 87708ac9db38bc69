package graft

import org.apache.spark.sql.functions._

/** Scale-design mechanics the sf0.01 differential can't see: bucketed
  * co-located joins (zero-exchange), skew salting equivalence, and the
  * typed nested-report assembly (SURVEY §1.2). */
class ScaleDesignSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    // default warehouse (spark-warehouse/ in cwd, gitignored) — the
    // warehouse dir is a static conf and can't move per-test; a fresh
    // in-memory catalog doesn't know about dirs left by a previous JVM,
    // so remove the physical locations too
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Seq("b_orders", "b_lineitem").foreach { t =>
      val p = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // disable broadcast so the join must pick SMJ over the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      val plan = j.queryExecution.executedPlan.toString
      // the join itself must not need an Exchange on either side
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, plan.take(2000))
      assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning(l_orderkey"),
        "probe side was re-shuffled despite bucketing")
      // same result as the unbucketed join
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("salted aggregation equals direct aggregation (skew mitigation)") {
    // two-phase: salt the key 8 ways, partial agg, de-salt, final agg
    val li = Tables.lineitem(spark, sf)
    val salted = li
      .withColumn("salt", (col("l_orderkey") % 8).cast("int"))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_quantity")).as("partial"))
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("partial")), 2).as("total"))
    val direct = li.groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("total"))
    val a = salted.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = direct.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key (90% of rows) + low thresholds so sf0.001-scale data
    // trips the same OptimizeSkewedJoin path that handles real skew
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = prev.keys.map(k => k -> spark.conf.getOption(k)).toMap
    prev.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val skewed = spark.range(200000)
        .select(when($"id" % 10 < 9, 1L).otherwise($"id").as("k"), $"id".as("v"))
      val dim = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = skewed.join(dim, "k").groupBy().agg(sum($"v" + $"w"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew="),
        "skew handling did not engage:\n" + plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning reads only the selected partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp_")
    try {
      // at KB-scale DPP's stats heuristic declines (benefit < broadcast
      // cost); force the fallback ratio so the tiny corpus exercises the
      // same pruning path that pays off at TB partitions
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "50000")
      Tables.lineitem(spark, sf).write.mode("overwrite")
        .partitionBy("l_returnflag").parquet(dir.toString)
      val fact = spark.read.parquet(dir.toString)
      // the dim filter must hit a NON-join column: a filter on the join key
      // itself gets propagated statically by InferFiltersFromConstraints
      // (also correct, but then there is nothing dynamic left to prune)
      val dim = Tables.lineitem(spark, sf)
        .select(col("l_returnflag").as("flag")).distinct()
        .withColumn("category", concat(lit("cat_"), col("flag")))
      val j = fact.join(dim, fact("l_returnflag") === dim("flag"))
        .filter(col("category") === "cat_A")
        .groupBy().count()
      // inspect the pre-execution plan: DPP shows as a dynamicpruning
      // subquery expression on the scan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(3000))
      // and the answer matches the static-filter equivalent
      val expected = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "A").count()
      assert(j.head.getLong(0) == expected)
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("observe() attaches monitoring metrics to a batch query") {
    // TEST:162's monitoring ask, Spark-native: metrics ride the action
    val df = Tables.lineitem(spark, sf)
      .observe("dq", count(lit(1)).as("rows"),
        sum(col("l_quantity")).as("qty"))
      .filter(col("l_quantity") > 0)
    df.collect()
    val m = df.queryExecution.observedMetrics("dq")
    assert(m.getAs[Long]("rows") == Tables.lineitem(spark, sf).count())
    assert(m.getAs[Double]("qty") > 0)
  }

  test("typed MiningReport assembly: 1 doc, 4 resources, 3 reserves, null economics") {
    val reports = ops.Extraction.assembleReports(spark, sf).collect()
    assert(reports.length == 1)
    val r = reports.head
    assert(r.doc_hash == "878C2FBC" && r.source_system == "sedar")
    assert(r.resources.map(_.category).toSet ==
      Set("Measured", "Indicated", "Measured + Indicated", "Inferred"))
    assert(r.reserves.map(_.category).toSet ==
      Set("Proven", "Probable", "Proven + Probable"))
    assert(r.economics.npv_usd.isEmpty && r.economics.irr_pct.isEmpty)
    assert(r.resources.forall(x => x.grade_unit == "g/t" && x.metal == "Au"))
    // the five stated OPEX actuals ride in the nested model (PDF p.11-12
    // §1.11 / Tables 21-1..21-3); the single-figure opex_usd stays null
    assert(r.economics.opex.map(o => (o.basis, o.usd, o.unit)).toSet == Set(
      ("mining_owner", 143.0, "USD/t"),
      ("mining_contractor", 823.0, "USD/oz"),
      ("mining_artisanal", 1291.0, "USD/oz"),
      ("processing", 35.0, "USD/t"),
      ("ga", 26.0, "USD/t")))
    assert(r.economics.opex_usd.isEmpty)
  }

  test("t4 band join carries ids only — shingle arrays stay out of the exploded shuffle") {
    // a FRESH candidate plan (bypasses the memo cache, which is also
    // where the persist() now lives — the builder itself is cache-free);
    // sparkPlan is the pre-AQE physical plan: nothing executes, we only
    // pin the join inputs' columns. Reset first: CacheManager would
    // substitute a pair memo an earlier suite persisted for this
    // plan-identical frame, leaving no band join to inspect
    ops.TextVector.resetT4PairCache(spark, sf)
    val df = ops.TextVector.computeMinhashCandidatePairs(spark, sf)
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val physical = df.queryExecution.sparkPlan
    val bandJoins = physical.collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band")) => j
    }
    assert(bandJoins.nonEmpty, physical.toString.take(2000))
    bandJoins.foreach { j =>
      val names = (j.left.output ++ j.right.output).map(_.name)
      // the exploded ×4-bands join must move (band, key, id) only;
      // shingle sets rejoin AFTER the distinct pair stage
      assert(!names.exists(_.contains("sh")),
        s"shingle column crossed the band join: ${names.mkString(",")}")
    }
  }

  test("t23 packing window is per-shard — no single-partition global sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val plan = ops.TextVector.t23_seq_pack(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LogicalWindow => w }
    assert(windows.nonEmpty, plan.toString.take(2000))
    // an empty partitionBy would funnel the whole corpus through ONE
    // task at 100 TB; the cumsum must partition on the shard key
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "global (unpartitioned) window in t23")
      assert(w.partitionSpec.exists(_.references.exists(_.name == "shard")),
        w.partitionSpec.map(_.sql).mkString(","))
    }
  }

  test("t25 centroid sides are broadcast — assignment never shuffles the corpus") {
    val plan = ops.TextVector.t25_kmeans_curate(spark, sf)
      .queryExecution.executedPlan.toString
    // BOTH Lloyd assignments cross-join k centroid rows against the
    // corpus; each must arrive as a broadcast — one match could mask the
    // other assignment degrading to a shuffled CartesianProduct
    val nBroadcast = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 2, s"expected 2 broadcast assignments, got $nBroadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("t27 index bucketed by (band, key): corpus side joins with zero exchange") {
    // SCALE.md's claim made mechanical: store the standing minhash index
    // bucketed on the join keys and the daily batch→index join re-shuffles
    // ONLY the batch — the corpus side reads straight from its buckets
    spark.sql("DROP TABLE IF EXISTS b_mh_index")
    val p = java.nio.file.Paths.get("spark-warehouse", "b_mh_index")
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
    ops.TextVector.minhashIndex(spark, sf)
      .write.bucketBy(8, "band", "key").sortBy("band", "key")
      .mode("overwrite").saveAsTable("b_mh_index")
    val savedThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a stand-in ingest batch with distinct column names so the plan
      // text identifies which side an Exchange belongs to
      val batch = ops.TextVector.minhashIndex(spark, sf)
        .select($"i_id".as("b_id"), $"band".as("b_band"), $"key".as("b_key"))
      val j = spark.table("b_mh_index")
        .join(batch, $"band" === $"b_band" && $"key" === $"b_key")
        .select($"b_id", $"i_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      // the batch side shuffles to meet the buckets; the index side must not
      assert(plan.contains("Exchange hashpartitioning(b_band"),
        "expected the batch side to shuffle into the bucketed layout")
      assert(!plan.contains("Exchange hashpartitioning(band"),
        "corpus-side index was re-shuffled despite (band, key) bucketing")
      assert(j.count() > 0)
    } finally savedThreshold match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("ORC roundtrip pushes the read-back filter into the ORC scan") {
    val df = sources.Sources.s10_orc_roundtrip(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the selective predicate must reach the OrcScan as a pushed filter —
    // at 100 TB that's the difference between touching matching stripes
    // and re-reading the whole sink
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,1000.0)]"),
      s"o_totalprice filter not pushed to the ORC scan: ${plan.take(2000)}")
    assert(df.count() > 0)
  }

  test("round-5 ops keep their small sides broadcast (vocab join, blocklist anti join)") {
    // t30: the vocabulary side of the scoring join must broadcast — at
    // 100 TB the corpus side streaming past a broadcast hash table is
    // the whole design; a shuffled-hash or SMJ scoring join would
    // re-shuffle the corpus by token
    val t30 = ops.TextVector.t30_lm_quality(spark, sf)
      .queryExecution.executedPlan.toString
    assert(t30.contains("BroadcastHashJoin"), s"t30 vocab join not broadcast: ${t30.take(1500)}")
    // t32: domain filtering is a broadcast LEFT ANTI join
    val t32 = ops.TextVector.t32_url_filter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(t32.contains("BroadcastHashJoin") && t32.contains("LeftAnti"),
      s"t32 blocklist join not a broadcast anti join: ${t32.take(1500)}")
  }

  test("t37/t38 query sides stay broadcast even with auto-broadcast off") {
    // both ops non-equi-join a ~10-50 row query frame against the whole
    // embedding corpus; the explicit broadcast(q) pin must hold when
    // autoBroadcastJoinThreshold=-1 (j2's documented harness setting) —
    // without the pin JoinSelection degrades to CartesianProduct with
    // the CORPUS on one side, the exact shape that dies at 100 TB
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(
        "t37" -> ops.TextVector.t37_hard_negatives(spark, sf),
        "t38" -> ops.TextVector.t38_knn_classify(spark, sf)
      ).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastNestedLoopJoin"),
          s"$name query side not broadcast: ${plan.take(1500)}")
        assert(!plan.contains("CartesianProduct"),
          s"$name degraded to CartesianProduct: ${plan.take(1500)}")
      }
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("projection prunes the parquet scan to the selected columns only") {
    val plan = ops.Relational.p1_projection(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in plan: ${plan.take(1500)}"))
    // p1 projects 4 of part's columns; the scan must read exactly those —
    // at 100 TB the difference between scanning 4 columns and all of
    // them is the whole I/O budget
    Seq("p_partkey", "p_name", "p_brand", "p_retailprice").foreach(c =>
      assert(readSchema.contains(c), s"$c missing from $readSchema"))
    Seq("p_type", "p_size").foreach(c =>
      assert(!readSchema.contains(c), s"unreferenced $c read: $readSchema"))
  }

  test("runtime bloom filter prunes the probe side of a selective SMJ") {
    // AQE runtime filters: a selective build side injects a bloom filter
    // into the probe-side scan, cutting the 100 TB fact scan before the
    // shuffle. Thresholds are sized for real clusters — lower them so
    // the sf0.001 fixture exercises the same mechanism.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val selective = Tables.orders(spark, sf)
        .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
      val j = Tables.lineitem(spark, sf)
        .join(selective, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("t8 corpus count is in-plan (broadcast 1-row agg, no eager job)") {
    val plan = ops.TextVector.t8_tfidf(spark, sf)
      .queryExecution.executedPlan.toString
    // the N side arrives as a broadcast cross join of a 1-row aggregate;
    // a driver-side count() would leave no join and run a separate job
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("t4 pair stage is shared: second t4 query reuses the persisted cache") {
    // reset first: an earlier test's unpersist() of a plan-identical DF
    // (CacheManager dedups by logical plan) may have deregistered a
    // previously-memoized entry's blocks — start from a clean rebuild
    ops.TextVector.resetT4PairCache(spark, sf)
    // first call builds + persists; the other t4 entry must read the
    // in-memory relation instead of re-running the minhash pipeline
    ops.TextVector.t4_minhash_lsh(spark, sf).count()
    val plan = ops.TextVector.t4_dedup_canonical(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"), plan.take(2000))
  }

  test("s11: range-clustered files cover disjoint date ranges; the filter is pushed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_s11spec_").toString
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length >= 6, s"expected ~8 range files, got ${files.length}")
    // the clustering contract: each file holds a tight date interval and
    // the intervals are pairwise non-overlapping (ties at the boundary
    // date allowed — repartitionByRange splits on key values), so any
    // stats-aware reader (parquet row-group pruning here; file-level
    // pruning in footer-indexing table formats) skips non-matching data
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_orderdate")), max(col("o_orderdate"))).head
      (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
    }.sortBy(_._1.toString)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(!b._1.isBefore(a._2),
        s"file ranges overlap: ${a._2} > ${b._1}")
      case _ => ()
    }
    // only a minority of files can overlap any one year of the ~6.6y span
    val y1998 = ranges.count { case (lo, hi) =>
      !hi.isBefore(java.time.LocalDateTime.parse("1998-01-01T00:00:00")) &&
        lo.isBefore(java.time.LocalDateTime.parse("1999-01-01T00:00:00"))
    }
    assert(y1998 <= 3, s"clustering too loose: $y1998 files cover 1998")
    // and the date predicate reaches the scan as a pushed filter, so the
    // reader's row-group stats pruning can actually use it
    val filtered = spark.read.parquet(dir)
      .filter(col("o_orderdate") >= "1998-01-01" && col("o_orderdate") < "1999-01-01")
    val explained = filtered.queryExecution.executedPlan.toString
    assert(explained.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      explained.take(2000))
  }

  test("s19: corpus range scan opens exactly one yearly append dir; residual filter pushed") {
    val q = sources.Sources.s19_stats_skipping(spark, sf)
    // the query must be substantive on this corpus — a domain drift
    // that empties the scanned year would pass the oracle vacuously
    assert(q.head.getLong(0) > 0L, "1997 scan returned no rows — fixture drift?")
    // manifest-level skipping: of the seven yearly append dirs, the
    // 1997 scan's plan references ONE — six dirs contribute zero I/O
    val dirs = scannedFiles(q).map(f => f.split("/").dropRight(1).last).toSet
    assert(dirs.size == 1, s"1997 scan must touch one append dir, got $dirs")
    // and the residual predicate still reaches the surviving scan, so
    // row groups inside the kept dir prune on footer stats too
    val explained = q.queryExecution.executedPlan.toString
    assert(explained.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      explained.take(2000))
  }

  test("s12: bucketed join reads bucket-for-bucket — zero join-side shuffles") {
    val df = sources.Sources.s12_bucketed_join(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(3000))
    // both scans must report the bucket layout...
    assert("SelectedBucketsCount: 8 out of 8".r.findAllIn(p).size == 2, p.take(3000))
    // ...and the ONLY shuffle in the whole plan is the final 5-group
    // aggregate — the join itself moves no rows. At 100 TB this is the
    // difference between a full-fact exchange and none.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"), p.take(3000))
  }

  test("s13: z-order tiles give file skipping on BOTH dimensions") {
    // rebuild the layout exactly as s13 does, then inspect per-file stats
    val dir = java.nio.file.Files.createTempDirectory("graft_s13spec_").toString
    val days = datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("x_raw", days.cast("long"))
      .withColumn("y_raw", col("o_custkey").cast("long"))
    val stats = o.agg(
      min(col("x_raw")).as("x_min"), max(col("x_raw")).as("x_max"),
      min(col("y_raw")).as("y_min"), max(col("y_raw")).as("y_max"))
    val scaled = o.join(broadcast(stats))
      .withColumn("xb", ((col("x_raw") - col("x_min")) * 255L /
        greatest(col("x_max") - col("x_min"), lit(1L))).cast("int"))
      .withColumn("yb", ((col("y_raw") - col("y_min")) * 255L /
        greatest(col("y_max") - col("y_min"), lit(1L))).cast("int"))
      .withColumn("zv", sources.Sources.zValue(col("xb"), col("yb"), 8))
    scaled.repartitionByRange(8, col("zv")).sortWithinPartitions("zv")
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length >= 6, s"expected ~8 z-range files, got ${files.length}")
    val boxes = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("x_raw")), max(col("x_raw")),
          min(col("y_raw")), max(col("y_raw"))).head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // the z-order contract: a predicate on EITHER single dimension
    // overlaps a strict subset of the files. A date-sorted layout (s11)
    // gives 8/8 on the custkey dim; a custkey-sorted one gives 8/8 on
    // the date dim. Z-order must beat both on their blind side.
    val (dLo, dHi) = (boxes.map(_._1).min, boxes.map(_._2).max)
    val (cLo, cHi) = (boxes.map(_._3).min, boxes.map(_._4).max)
    val dateBox = (dLo, dLo + (dHi - dLo) / 4) // first quarter of the date span
    val custBox = (cLo, cLo + (cHi - cLo) / 4) // first quarter of the custkeys
    val byDate = boxes.count(b => b._1 <= dateBox._2 && b._2 >= dateBox._1)
    val byCust = boxes.count(b => b._3 <= custBox._2 && b._4 >= custBox._1)
    assert(byDate < files.length, s"date filter prunes nothing: $byDate/${files.length}")
    assert(byCust < files.length, s"custkey filter prunes nothing: $byCust/${files.length}")
  }

  test("s15: avro sync-marker splits — one container fans out to >1 task, no dup/loss") {
    val dir = java.nio.file.Files.createTempDirectory("graft_avrosplit_").toString
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"OrderRow","fields":[
         {"name":"o_orderkey","type":"long"},
         {"name":"o_orderstatus","type":"string"},
         {"name":"o_totalprice","type":"double"}]}""")
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    w.setSyncInterval(512) // tiny blocks → many sync markers in one file
    w.create(schema, new java.io.File(s"$dir/one.avro"))
    (1L to 3000L).foreach { k =>
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("o_orderkey", k)
      rec.put("o_orderstatus", if (k % 2 == 0) "O" else "F")
      rec.put("o_totalprice", k * 1.5)
      w.append(rec)
    }
    w.close()
    // the single file must enumerate to many splits at a small target...
    val splits = sources.Sources.avroSplits(spark, dir, splitBytes = 4096)
    assert(splits.length > 4, s"expected >4 splits, got ${splits.length}")
    // ...and the split read must see every row exactly once whatever the
    // cut geometry — the sync/pastSync ownership contract is exercised
    // at several target sizes (block-aligned-ish, tiny, prime, huge)
    Seq(1000L, 4096L, 7919L, 65536L).foreach { sb =>
      val viaSplits = sources.Sources.readAvroOrders(spark, dir, splitBytes = sb)
        .select("o_orderkey").as[Long].collect().sorted
      assert(viaSplits.length == 3000,
        s"splitBytes=$sb returned ${viaSplits.length} rows (dup or loss)")
      assert(viaSplits.toSeq == (1L to 3000L),
        s"splitBytes=$sb changed the row set")
    }
    // whole-file read (one split) agrees
    val whole = sources.Sources.readAvroOrders(spark, dir)
      .agg(count(lit(1)), sum(col("o_orderkey")), round(sum(col("o_totalprice")), 2)).head
    assert(whole.getLong(0) == 3000 && whole.getLong(1) == 3000L * 3001 / 2)
  }

  test("manifest commit: racing writers serialize through the version-slot retry") {
    import graft.sources.ManifestTable
    val dir = java.nio.file.Files.createTempDirectory("graft_mwriters_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // both writers reference the same pre-staged dir so GC never races
    // the data (single-writer is the documented model; this asserts the
    // SAFETY NET: two writers colliding on a version slot must both
    // commit, at distinct versions, with the loser retrying — never a
    // lost or corrupt manifest)
    spark.range(10).toDF("k").write.parquet(s"$dir/c-shared")
    val perThread = 20
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        try (1 to perThread).foreach { _ =>
          versions.add(ManifestTable.commit(spark, dir, Seq("c-shared"),
            retainGenerations = 1000))
        } catch { case t: Throwable => errs.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.get() == null, s"writer failed: ${errs.get()}")
    assert(versions.size == 2 * perThread,
      s"expected ${2 * perThread} distinct versions, got ${versions.size}")
    import scala.jdk.CollectionConverters._
    assert(ManifestTable.versions(fs, dir).toSet == versions.asScala.toSet,
      "manifest list diverges from the versions commit() returned")
    assert(ManifestTable.read(spark, dir).count() == 10)
  }

  test("manifest-pointer commit: a reader racing live swaps always sees a complete snapshot") {
    import graft.sources.ManifestTable
    val dir = java.nio.file.Files.createTempDirectory("graft_mrace_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every committed version is a complete 500-row table distinguished
    // by the constant column v: a clean snapshot has count=500 and
    // sum(v) = 500*tag; a torn one (files from two versions, or a
    // half-visible version) breaks one of those. Each version is staged
    // to a FRESH dir before its commit, exactly as the S14/X9 call
    // sites do — GC treats any pre-staged-but-unreferenced dir as a
    // crashed writer's leftovers.
    val nTags = 4
    def stage(rel: String, tag: Int): Unit =
      spark.range(500).select(col("id").as("k"), lit(tag.toLong).as("v"))
        .repartition(3).write.parquet(s"$dir/$rel")
    stage("c-init", 1)
    ManifestTable.commit(spark, dir, Seq("c-init"), retainGenerations = 1000)
    // staged-but-uncommitted data (a crashed writer) is invisible to readers
    spark.range(99).toDF("k").write.parquet(s"$dir/c-staged-only")
    assert(ManifestTable.read(spark, dir).count() == 500,
      "uncommitted staged dir leaked into a read")
    // race: the writer stages + swaps the pointer continuously while the
    // reader scans; retention is effectively infinite here so the race
    // isolates ATOMICITY (GC-vs-reader lifetime is a retention-policy
    // knob, asserted separately below)
    @volatile var stop = false
    @volatile var writerErr: Throwable = null
    val writer = new Thread(() => {
      try {
        var i = 1
        while (!stop) {
          val rel = s"c-it$i"
          stage(rel, (i % nTags) + 1)
          ManifestTable.commit(spark, dir, Seq(rel), retainGenerations = 1000)
          i += 1
        }
      } catch { case t: Throwable => writerErr = t }
    })
    writer.start()
    try {
      (1 to 8).foreach { _ =>
        val r = ManifestTable.read(spark, dir)
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")).head
        val (n, sv) = (r.getLong(0), r.getLong(1))
        assert(n == 500, s"reader saw a partial snapshot: $n rows")
        assert(sv % 500 == 0 && sv / 500 >= 1 && sv / 500 <= nTags,
          s"reader saw a mixed snapshot: sum(v)=$sv")
      }
    } finally { stop = true; writer.join() }
    assert(writerErr == null, s"racing writer failed: $writerErr")
    // GC: two commits at retain=2 — live + previous generations survive,
    // everything else (older versions, the AGED crashed-writer dir, old
    // manifests) is swept, and the live table is still complete. A
    // YOUNG unreferenced dir is indistinguishable from a racing
    // writer's in-flight commit and must survive the sweep (orphan
    // grace); an aged one is a crashed writer's leavings and must go.
    spark.range(9).toDF("k").write.parquet(s"$dir/c-young-inflight")
    ageTree(fs, new org.apache.hadoop.fs.Path(s"$dir/c-staged-only"),
      24L * 3600 * 1000)
    stage("c-finA", 1)
    ManifestTable.commit(spark, dir, Seq("c-finA"), retainGenerations = 2)
    stage("c-finB", 2)
    ManifestTable.commit(spark, dir, Seq("c-finB"), retainGenerations = 2)
    val top = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filterNot(_.startsWith("_")).toSet
    assert(top == Set("c-finA", "c-finB", "c-young-inflight"),
      s"GC left/removed the wrong dirs: $top")
    assert(ManifestTable.versions(fs, dir).length == 2, "old manifests not swept")
    val fin = ManifestTable.read(spark, dir)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")).head
    assert(fin.getLong(0) == 500 && fin.getLong(1) == 1000L)
  }

  test("a batch write's planning path resolves the head ONCE (r20)") {
    import graft.sources.ManifestTable
    // The manifest BODY parse is snapshot-cached; the head LISTING is
    // the per-operation metadata RPC an object store bills. A warm
    // append now lists exactly 4 times: 1 planning resolution shared
    // by identity minting / CHECK binding / NDV opt-in / bloom opt-in /
    // colmap / commit attempt 1, plus commitIf's 2 protocol listings
    // (base validation + post-publish head check) and the GC's
    // retirement split. Before r20 each planning sub-step listed again
    // (7+ per write).
    val dir = java.nio.file.Files
      .createTempDirectory("graft-headcount").toString + "/t"
    ManifestTable.append(Seq((1, "a")).toDF("k", "v"), dir, Seq("k"), 5)
    ManifestTable.append(Seq((2, "b")).toDF("k", "v"), dir, Seq("k"), 5)
    val before = ManifestTable.versionListingCount
    ManifestTable.append(Seq((3, "c")).toDF("k", "v"), dir, Seq("k"), 5)
    val listings = ManifestTable.versionListingCount - before
    assert(listings == 4,
      s"a warm append must list the manifest dir exactly 4× " +
        s"(1 planning + 2 commitIf protocol + 1 gc), got $listings")
  }

  test("no forced-broadcast hint on sf-growing join sides; planner still broadcasts them at harness scale (r21)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, BROADCAST}
    // r20 verdict finding #1-3: a broadcast() pin on a table that GROWS
    // with the corpus (supplier/customer/part — sf-proportional, ~10⁹
    // rows at the 100 TB north star) forces a driver-side build that
    // cannot scale; only O(1)-cardinality dims (nation: 25, region: 5 —
    // fixed at ANY sf) and 1-row global aggregates may stay pinned.
    // Leg 1: audit every Join hint in the optimized plans.
    def hintedSides(p: LogicalPlan): Seq[LogicalPlan] = p.collect {
      case j: Join => Seq(
        j.hint.leftHint.filter(_.strategy.contains(BROADCAST)).map(_ => j.left),
        j.hint.rightHint.filter(_.strategy.contains(BROADCAST)).map(_ => j.right)
      ).flatten
    }.flatten
    def isScaleBounded(side: LogicalPlan): Boolean = {
      val leaves = side.collectLeaves()
      // O(1) dim: every leaf column is nation's/region's
      val o1Dim = leaves.nonEmpty && leaves.forall(_.output.forall(a =>
        a.name.startsWith("n_") || a.name.startsWith("r_")))
      // 1-row frame: a global (no grouping key) aggregate upstream
      val globalAgg = side.collectFirst {
        case a: Aggregate if a.groupingExpressions.isEmpty => a
      }.isDefined
      o1Dim || globalAgg
    }
    val audited = Seq("q2_min_cost_supplier", "q3_shipping_priority",
      "q5_local_supplier", "q7_volume_shipping", "q8_market_share",
      "q9_product_profit", "q10_returned_items", "q11_value_share",
      "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
      "q16_supplier_variety", "q17_small_qty_revenue", "q18_large_volume",
      "q19_bracket_revenue", "q20_volume_suppliers", "q22_dormant_customers",
      "x7_stream_static_join")
    audited.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      hintedSides(df.queryExecution.optimizedPlan).foreach { side =>
        assert(isScaleBounded(side),
          s"$n: forced-broadcast hint on an sf-growing side:\n$side")
      }
    }
    // Leg 2: the removal costs nothing at harness scale — the planner
    // still picks broadcast for the de-hinted scan sides on its own
    // size estimates (q5 supplier, x7 customer)...
    Seq("q5_local_supplier", "x7_stream_static_join").foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$n lost its broadcast joins after de-hinting: ${plan.take(1500)}")
      assert(!plan.contains("SortMergeJoin"),
        s"$n degraded to a sort-merge join at harness scale: ${plan.take(1500)}")
    }
    // ...and q2's aggregate-sided joins (eurSupp, min-cost join-back),
    // which the static planner cannot size, are converted by AQE at
    // runtime once the real sizes are known
    val q2 = SparkEntry.queries("q2_min_cost_supplier")(spark, sf)
    q2.collect(): Unit
    // the adaptive plan string carries BOTH the final and the initial
    // plan; judge only the "== Final Plan ==" section (the initial one
    // legitimately holds the SMJs AQE then converted)
    val fin = q2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(fin.contains("isFinalPlan=true"),
      s"q2 did not produce a final adaptive plan: ${fin.take(300)}")
    assert(fin.contains("BroadcastHashJoin"),
      s"q2 final adaptive plan lost its broadcasts: ${fin.take(1500)}")
    assert(!fin.contains("SortMergeJoin"),
      s"q2: AQE left a sort-merge join standing at harness scale: ${fin.take(1500)}")
  }
}
