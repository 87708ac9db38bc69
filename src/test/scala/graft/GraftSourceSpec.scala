package graft

import graft.sources.{ManifestSupport, ManifestTable}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** S20 — the graft-manifest Spark data source: short-name registration,
  * filter→bounds translation, DIR pruning proven the hard way (a dir
  * physically deleted from disk stays unread when the pushed filter
  * prunes it — an unpruned scan throws), snapshot pinning / time
  * travel, SQL `CREATE TABLE USING`, and the write-side SaveModes. */
class GraftSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_src_").toString

  private def batch(year: Int, n: Int = 10) = {
    val rows = (0 until n).map(i =>
      (year * 1000L + i, s"$year-06-${10 + (i % 10)}", i * 1.5))
    rows.toDF("k", "ds", "v").withColumn("d", col("ds").cast("date")).drop("ds")
  }

  private val utc = java.time.ZoneOffset.UTC

  test("filter -> bounds translation is conservative and typed") {
    val b = ManifestSupport.boundsOf(Seq(
      GreaterThanOrEqual("d", java.sql.Date.valueOf("1997-01-01")),
      LessThan("d", java.sql.Date.valueOf("1997-12-31")),
      EqualTo("k", 42L),
      In("v", Array[Any](3.5, 1.5, 2.5)),
      StringContains("name", "x"), // unsupported → no bound
      Or(EqualTo("k", 1L), EqualTo("k", 2L)) // OR → no bound
    ), utc)
    assert(b("d") == ("1997-01-01", "1997-12-31"))
    assert(b("k") == ("42", "42"))
    assert(b("v") == ("1.5", "3.5"))
    assert(!b.contains("name"))
    // numeric compare is numeric, not lexicographic: 9 < 10
    val n = ManifestSupport.boundsOf(Seq(
      GreaterThanOrEqual("k", 9L), LessThanOrEqual("k", 10L)), utc)
    assert(n("k") == ("9", "10"))
    // half-bounded columns contribute nothing (closed-interval contract)
    assert(!ManifestSupport.boundsOf(Seq(GreaterThan("k", 1L)), utc).contains("k"))
    // timestamp rendering matches the stats encoding (no trailing ".0")
    val ts = ManifestSupport.render(
      java.time.Instant.parse("2024-01-01T10:00:00Z"), utc).get
    assert(ts == "2024-01-01 10:00:00", ts)
    assert(ManifestSupport.render(
      java.time.Instant.parse("2024-01-01T10:00:00.5Z"), utc).get
      == "2024-01-01 10:00:00.5")
    // the zone is honored, not silently pinned to UTC: one instant, two
    // FIXED-OFFSET zones, two renderings — each matching what
    // cast-to-string in a session pinned to that zone wrote into stats
    val instant = java.time.Instant.parse("2024-01-01T15:00:00Z")
    assert(ManifestSupport.render(instant, utc).get == "2024-01-01 15:00:00")
    assert(ManifestSupport.render(
      instant, java.time.ZoneOffset.ofHours(-5)).get == "2024-01-01 10:00:00")
    // DST zones DECLINE instant rendering: local-string order diverges
    // from instant order inside fall-back overlaps, so lexicographic
    // pruning there would be unsound — no bound, no pruning, correct
    assert(ManifestSupport.render(
      instant, java.time.ZoneId.of("America/New_York")).isEmpty)
  }

  test("timestamp stats pin the writer's zone; cross-session-TZ reads prune in the PINNED zone") {
    import org.apache.spark.sql.functions.timestamp_micros
    val dir = freshDir()
    // one dir whose ts stats max is 1998-12-31 22:00 UTC
    val us = java.time.Instant.parse("1998-12-31T22:00:00Z").toEpochMilli * 1000L
    val df = spark.range(3).select(col("id").as("k"),
      timestamp_micros(lit(us) - col("id") * lit(3600000000L)).as("ts"))
    ManifestTable.append(df, dir, statsCols = Seq("ts"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val head = ManifestTable.headVersion(spark, dir).get
    // the writer session (UTC) pinned its rendering zone in #meta
    assert(ManifestTable.metaOf(fs, dir, head).get("statsZone").contains("UTC"))
    // a reader session in Tokyo must render pushed literals in the
    // PINNED zone: ts >= 1998-12-31T15:00Z is 1999-01-01 00:00 Tokyo —
    // rendered in Tokyo it would sort above the UTC stats max and
    // silently prune the dir that holds all 3 matching rows
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      val cut = java.sql.Timestamp.from(
        java.time.Instant.parse("1998-12-31T15:00:00Z"))
      assert(spark.read.format("graft-manifest").load(dir)
        .filter(col("ts") >= lit(cut)).count() == 3L, "V1 mis-pruned")
      assert(spark.read.format("graft").load(dir)
        .filter(col("ts") >= lit(cut)).count() == 3L, "V2 mis-pruned")
      // and a Tokyo-session APPEND with ts stats fails loudly instead
      // of mixing encodings into the same table
      intercept[IllegalArgumentException] {
        ManifestTable.append(df, dir, statsCols = Seq("ts"))
      }
      // ...while a stats-less append (nothing rendered) still lands
      ManifestTable.append(df, dir)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("read path: values match native read; pruning proven by a deleted dir") {
    val dir = freshDir()
    Seq(1995, 1996, 1997).foreach(y =>
      ManifestTable.append(batch(y), dir, statsCols = Seq("d")))
    val viaSource = spark.read.format("graft-manifest").load(dir)
    assert(viaSource.count() == 30)
    assert(viaSource.schema.fieldNames.toSeq == Seq("k", "v", "d"))
    // physically delete the 1995 commit dir: any scan that fails to
    // prune it now THROWS — surviving is proof the dir went unread
    val head = ManifestTable.headVersion(spark, dir).get
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val paths = ManifestTable.pathsOf(fs, dir, head)
    val stats = ManifestTable.statsOf(fs, dir, head)
    val p1995 = paths.find(p =>
      ManifestTable.statsFor(stats(p), "d").exists(_._2.exists(_.startsWith("1995")))).get
    fs.delete(new org.apache.hadoop.fs.Path(dir, p1995), true)
    val pruned = spark.read.format("graft-manifest").load(dir)
      .filter(col("d") >= lit("1997-01-01") && col("d") <= lit("1997-12-31"))
    assert(pruned.count() == 10)
    assert(pruned.agg(sum(col("k"))).head.getLong(0) == (0 until 10).map(1997000L + _).sum)
    // the unpruned full scan must now fail — proves the dir mattered.
    // (NOT .count(): the aggregate pushdown answers that from manifest
    // stats without touching the deleted dir — by design.)
    intercept[Exception] {
      spark.read.format("graft-manifest").load(dir).agg(sum(col("k"))).head
    }
  }

  test("graft-manifest reads plan as the columnar V2 BatchScanExec, never a Row scan") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.RowDataSourceScanExec
    val helper = new AdaptiveSparkPlanHelper {}
    def assertColumnar(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(helper.collect(plan) { case b: BatchScanExec => b }.nonEmpty, plan)
      assert(helper.collect(plan) { case r: RowDataSourceScanExec => r }.isEmpty,
        plan)
    }
    val dir = freshDir()
    Seq(1995, 1996).foreach(y =>
      batch(y).write.format("graft-manifest").option("statsCols", "d")
        .mode(SaveMode.Append).save(dir))
    val pruned = spark.read.format("graft-manifest").load(dir)
      .filter(col("d") >= lit("1996-01-01") && col("d") <= lit("1996-12-31"))
    assertColumnar(pruned)
    assert(pruned.count() == 10)
    val s20 = graft.sources.Sources.s20_source_pushdown(spark, sf)
    assertColumnar(s20)
    assert(s20.collect().length == 1)
  }

  test("snapshot pinning + versionAsOf time travel") {
    val dir = freshDir()
    ManifestTable.append(batch(2000), dir, statsCols = Seq("d"))
    val v1 = ManifestTable.headVersion(spark, dir).get
    val pinned = spark.read.format("graft-manifest").load(dir)
    ManifestTable.append(batch(2001), dir, statsCols = Seq("d"))
    // relation resolved at creation → still sees only v1's rows
    assert(pinned.count() == 10)
    assert(spark.read.format("graft-manifest").load(dir).count() == 20)
    assert(spark.read.format("graft-manifest")
      .option("versionAsOf", v1).load(dir).count() == 10)
  }

  test("SQL surface: CREATE TABLE USING + pushed-down WHERE") {
    val dir = freshDir()
    Seq(1995, 1996).foreach(y =>
      ManifestTable.append(batch(y), dir, statsCols = Seq("d")))
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.sql(s"CREATE TABLE graft_sql_t USING `graft-manifest` OPTIONS (path '$dir')")
    try {
      val got = spark.sql(
        """SELECT count(*) AS n, sum(k) AS ks FROM graft_sql_t
           WHERE d BETWEEN '1996-01-01' AND '1996-12-31'""").head
      assert(got.getLong(0) == 10)
      assert(got.getLong(1) == (0 until 10).map(1996000L + _).sum)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_t")
  }

  test("sizeInBytes reports real bytes so a small manifest dim auto-broadcasts") {
    val dir = freshDir()
    ManifestTable.append(batch(1995), dir, statsCols = Seq("d"))
    val dim = spark.read.format("graft-manifest").load(dir)
    val rel = dim.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
    }.get
    val sz = rel.stats.sizeInBytes
    assert(sz > 0 && sz < (1L << 20), s"expected real small size, got $sz")
    // a fact × manifest-dim join must pick BroadcastHashJoin without hints
    val fact = spark.range(100000).selectExpr("id % 10000 AS k", "id AS payload")
    val plan = fact.join(dim, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("SQL INSERT INTO / INSERT OVERWRITE honor the table's declared stats options") {
    val dir = freshDir()
    ManifestTable.append(batch(1995), dir, statsCols = Seq("d"))
    spark.sql("DROP TABLE IF EXISTS graft_ins_t")
    spark.sql(s"""CREATE TABLE graft_ins_t USING `graft-manifest`
                  OPTIONS (path '$dir', statsCols 'd', retainGenerations '10')""")
    try {
      spark.sql("INSERT INTO graft_ins_t VALUES (1996000, 1.5, DATE'1996-06-10')")
      assert(spark.sql("SELECT count(*) FROM graft_ins_t").head.getLong(0) == 11)
      // the INSERT recorded stats per the TABLE's statsCols option:
      // the new head's fresh dir must carry a d-range
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val head = ManifestTable.headVersion(spark, dir).get
      val stats = ManifestTable.statsOf(fs, dir, head)
      val with1996 = stats.values.flatMap(p => ManifestTable.statsFor(p, "d"))
        .exists(_._2.exists(_.startsWith("1996")))
      assert(with1996, s"INSERT INTO did not record d stats: $stats")
      spark.sql("INSERT OVERWRITE graft_ins_t SELECT * FROM graft_ins_t WHERE k >= 1996000")
      assert(spark.sql("SELECT count(*) FROM graft_ins_t").head.getLong(0) == 1)
      assert(spark.sql("SELECT k FROM graft_ins_t").head.getLong(0) == 1996000L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_ins_t")
  }

  test("fuzz: source-filtered reads equal an in-memory model over random tables + predicates") {
    // The pruning path (filter -> bounds -> stats overlap -> dir skip)
    // is exactly where this round's self-review found two silent
    // wrong-rows bugs (default-timezone rendering, IN-envelope
    // mis-sort). This fuzz pins the whole surface: random batches with
    // stats (including ±Infinity values, whose stats don't parse as
    // BigDecimal and must be kept conservatively), random pushed
    // predicate shapes, results compared row-for-row against a plain
    // in-memory filter of the same rows.
    import org.apache.spark.sql.Column
    val rnd = new scala.util.Random(20260813L)
    def date(y: Int, m: Int, dd: Int) = java.sql.Date.valueOf(f"$y%04d-$m%02d-$dd%02d")
    for (iter <- 1 to 3) {
      val dir = freshDir()
      val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, java.sql.Date, String)]
      val nBatches = 3 + rnd.nextInt(3)
      (1 to nBatches).foreach { b =>
        val rows = (1 to 20 + rnd.nextInt(30)).map { _ =>
          val v = rnd.nextInt(20) match {
            case 0 => Double.PositiveInfinity
            case 1 => Double.NegativeInfinity
            case _ => math.floor(rnd.nextDouble() * 10000) / 100.0
          }
          (rnd.nextInt(1000).toLong, v,
            date(1995 + rnd.nextInt(5), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28)),
            "w" + rnd.nextInt(50))
        }
        all ++= rows
        val stats = if (b % 3 == 0) "" else "k,d,v" // some batches stats-less
        rows.toDF("k", "v", "d", "s").write.format("graft-manifest")
          .option("statsCols", stats).mode(SaveMode.Append).save(dir)
      }
      val src = spark.read.format("graft-manifest").load(dir)
      val preds: Seq[(Column, ((Long, Double, java.sql.Date, String)) => Boolean)] = Seq.fill(8) {
        val conjuncts = Seq.fill(1 + rnd.nextInt(2)) {
          rnd.nextInt(5) match {
            case 0 =>
              val a = rnd.nextInt(900); val b = a + rnd.nextInt(300)
              (col("k") >= a && col("k") <= b,
                (r: (Long, Double, java.sql.Date, String)) => r._1 >= a && r._1 <= b)
            case 1 =>
              val y = 1995 + rnd.nextInt(5)
              val loD = date(y, 1, 1); val hiD = date(y, 12, 28)
              (col("d") >= lit(loD) && col("d") <= lit(hiD),
                (r: (Long, Double, java.sql.Date, String)) =>
                  !r._3.before(loD) && !r._3.after(hiD))
            case 2 =>
              val ks = Seq.fill(3)(rnd.nextInt(1000).toLong)
              (col("k").isin(ks: _*),
                (r: (Long, Double, java.sql.Date, String)) => ks.contains(r._1))
            case 3 =>
              val x = rnd.nextInt(8000) / 100.0
              (col("v") >= x,
                (r: (Long, Double, java.sql.Date, String)) => r._2 >= x)
            case _ =>
              val w = "w" + rnd.nextInt(50)
              (col("s") >= w && col("s") <= "w9999",
                (r: (Long, Double, java.sql.Date, String)) =>
                  r._4 >= w && r._4 <= "w9999")
          }
        }
        (conjuncts.map(_._1).reduce(_ && _),
          (r: (Long, Double, java.sql.Date, String)) => conjuncts.forall(_._2(r)))
      }
      preds.zipWithIndex.foreach { case ((cPred, mPred), pi) =>
        // v stringified for the tuple sort: 2.13 has no default implicit
        // Double ordering, and "Infinity" compares fine as text
        val got = src.filter(cPred)
          .select(col("k"), col("v"), col("d").cast("string"), col("s"))
          .collect().map(r => (r.getLong(0), r.getDouble(1).toString, r.getString(2), r.getString(3)))
          .sorted.toSeq
        val want = all.filter(mPred)
          .map(r => (r._1, r._2.toString, r._3.toString, r._4)).sorted.toSeq
        assert(got == want,
          s"iter=$iter pred=$pi: source returned ${got.size} rows, model ${want.size}")
      }
    }
  }

  test("overwrite with retainGenerations=1 still replaces, never degrades to append") {
    // regression: the fresh-dir set used to be derived by diffing head
    // against the largest retained version below it — with retain=1 the
    // append's GC had already deleted that version, the diff returned
    // ALL head paths, and overwrite silently kept the rows it had to
    // replace. appendWithCid closes the class: overwrite commits
    // exactly the dir the append created.
    val dir = freshDir()
    Seq(1995, 1996).foreach(y =>
      batch(y).write.format("graft-manifest").option("retainGenerations", 1)
        .option("statsCols", "d").mode(SaveMode.Append).save(dir))
    assert(spark.read.format("graft-manifest").load(dir).count() == 20)
    batch(1998, n = 4).write.format("graft-manifest")
      .option("retainGenerations", 1).option("statsCols", "d")
      .mode(SaveMode.Overwrite).save(dir)
    val after = spark.read.format("graft-manifest").load(dir)
    assert(after.count() == 4, "overwrite degraded to append")
    assert(after.agg(min(col("d")).cast("string")).head.getString(0)
      .startsWith("1998"))
  }

  test("readChangeFeed: append yields inserts, overwrite yields deletes + inserts") {
    val dir = freshDir()
    // retention raised so the CDF's from-versions survive later commits
    batch(1995).write.format("graft-manifest").option("retainGenerations", 10)
      .option("statsCols", "d").mode(SaveMode.Append).save(dir)
    val v1 = ManifestTable.headVersion(spark, dir).get
    batch(1996).write.format("graft-manifest").option("retainGenerations", 10)
      .option("statsCols", "d").mode(SaveMode.Append).save(dir)
    val v2 = ManifestTable.headVersion(spark, dir).get
    // both short names serve the same feed, row for row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def sameUnderGraft(feed: org.apache.spark.sql.DataFrame,
                       opts: (String, Any)*): Unit = {
      val viaGraft = opts.foldLeft(spark.read.format("graft")
        .option("readChangeFeed", true)) { case (r, (k, v)) =>
          r.option(k, v.toString) }.load(dir)
      assert(rows(viaGraft) == rows(feed))
    }
    val feed = spark.read.format("graft-manifest")
      .option("readChangeFeed", true).option("startingVersion", v1)
      .option("endingVersion", v2).load(dir)
    sameUnderGraft(feed, "startingVersion" -> v1, "endingVersion" -> v2)
    val byType = feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 10L), byType)
    // overwrite: everything prior deleted, the new batch inserted
    batch(1999, n = 4).write.format("graft-manifest")
      .option("retainGenerations", 10).mode(SaveMode.Overwrite).save(dir)
    val v3 = ManifestTable.headVersion(spark, dir).get
    val feed2 = spark.read.format("graft-manifest")
      .option("readChangeFeed", true).option("startingVersion", v2).load(dir)
    val byType2 = feed2.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType2 == Map("delete" -> 20L, "insert" -> 4L), byType2)
    assert(v3 > v2)
    sameUnderGraft(feed2, "startingVersion" -> v2)
    // consuming through SQL works too (TableScan relation)
    feed2.createOrReplaceTempView("cdf")
    assert(spark.sql("SELECT count(*) FROM cdf WHERE change_type = 'insert'")
      .head.getLong(0) == 4L)
  }

  test("X14: the CDC feed STREAMS — exactly-once, deletes flow, compaction silent") {
    val dir = freshDir()
    val s = spark; import s.implicits._
    def app(rows: (Int, String)*): Long =
      ManifestTable.append(rows.toDF("k", "v"), dir,
        statsCols = Seq("k"), retainGenerations = 10)
    app(1 -> "a", 2 -> "b")
    val ckpt = java.nio.file.Files.createTempDirectory("x14ck").toString
    val out = java.nio.file.Files.createTempDirectory("x14out").toString
    // a DURABLE sink (memory does not recover from a checkpoint):
    // parquet sink + checkpoint = the real exactly-once consumer shape
    def startQ() = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    val sinkSchema = graft.sources.GraftMetaTables.changesSchemaOf(spark, dir)
    def sink = spark.read.schema(sinkSchema).parquet(out)
      .select($"_commit_version", $"change_type", $"k", $"v")
      .as[(Long, String, Int, String)].collect().sortBy(t => (t._1, t._2, t._3))
    val q = startQ()
    try {
      q.processAllAvailable()
      assert(sink.isEmpty, "default floor = head at start: only NEW commits")
      val v2 = app(3 -> "c", 4 -> "d")
      q.processAllAvailable()
      assert(sink.toSeq == Seq((v2, "insert", 3, "c"), (v2, "insert", 4, "d")))
      // a row-level delete streams as a delete row
      val v3 = ManifestTable.deleteWhere(spark, dir, $"k" === 3,
        Map("k" -> ("3", "3")), retainGenerations = 10)
      q.processAllAvailable()
      assert(sink.count(_._2 == "delete") == 1 &&
        sink.contains((v3, "delete", 3, "c")))
      // a pure compaction contributes an EMPTY diff — maintenance never
      // floods the consumer (unlike X13's ignoreChanges re-emission)
      val n = sink.length
      ManifestTable.compactAppend(spark, dir, Seq("k"), k = 2,
        retainGenerations = 10)
      q.processAllAvailable()
      assert(sink.length == n, "compaction leaked into the CDC stream")
    } finally q.stop()
    // restart from the checkpoint: exactly-once across the gap — only
    // the commit that landed while the stream was down arrives
    val before = {
      val qq = startQ(); qq.processAllAvailable(); qq.stop()
      sink.length
    }
    val v5 = app(9 -> "z")
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      assert(sink.length == before + 1 && sink.contains((v5, "insert", 9, "z")))
    } finally q2.stop()
  }

  test("X14 admission control: maxVersionsPerTrigger paces a backlog across restarts") {
    val dir = freshDir()
    val s = spark; import s.implicits._
    def app(k: Int): Long = ManifestTable.append(
      Seq(k -> s"v$k").toDF("k", "v"), dir,
      statsCols = Seq("k"), retainGenerations = 30)
    app(1)
    // a 10-commit BACKLOG accumulates before any consumer exists
    val backlog = (2 to 11).map(app)
    val ckpt = java.nio.file.Files.createTempDirectory("x14ac").toString
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true")
        .option("startingVersion", backlog.head.toString)
        .option("maxVersionsPerTrigger", "3").load(dir)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          sizes.synchronized { sizes += b.count() }: Unit)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val real = sizes.filter(_ > 0)
    assert(real.sum == 10L, s"exactly the backlog's rows: $sizes")
    assert(real.forall(_ <= 3L) && real.length >= 4,
      s"each batch spans at most 3 version-diffs: $sizes")
    // restart: pacing resumes from the persisted anchor — new commits
    // drain bounded too, nothing re-delivered
    sizes.clear()
    (12 to 16).foreach(app)
    runOnce()
    val real2 = sizes.filter(_ > 0)
    assert(real2.sum == 5L && real2.forall(_ <= 3L) && real2.length >= 2,
      s"restarted stream paces the new commits: $sizes")
  }

  test("X14 over a bucketed upsert table: updates stream as delete+insert pairs") {
    // the Debezium-shaped feed: a keyed table's merges surface as
    // old-image deletes + new-image inserts, and only the TOUCHED
    // buckets' rows diff (untouched bucket dirs cancel by path)
    val dir = freshDir()
    val s = spark; import s.implicits._
    graft.sources.MergeInto.create(
      (1L to 8L).map(k => (k, s"v$k")).toDF("k", "v"), dir, "k", nBuckets = 4)
    val out = java.nio.file.Files.createTempDirectory("x14bk").toString
    val ck = java.nio.file.Files.createTempDirectory("x14bkck").toString
    val sinkSchema = graft.sources.GraftMetaTables.changesSchemaOf(spark, dir)
    val q = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      graft.sources.MergeInto.merge(
        Seq((3L, "UPD"), (99L, "NEW")).toDF("k", "v"), dir)
      q.processAllAvailable()
      val got = spark.read.schema(sinkSchema).parquet(out)
        .select($"change_type", $"k", $"v").as[(String, Long, String)]
        .collect().sortBy(t => (t._2, t._1))
      assert(got.toSeq == Seq(
        ("delete", 3L, "v3"), ("insert", 3L, "UPD"), ("insert", 99L, "NEW")),
        got.toSeq)
    } finally q.stop()
  }

  test("X14: startingVersion streams the retained history; falling behind retention is loud") {
    val dir = freshDir()
    val s = spark; import s.implicits._
    ManifestTable.append(Seq(1 -> "a").toDF("k", "v"), dir,
      statsCols = Seq("k"), retainGenerations = 10)
    ManifestTable.append(Seq(2 -> "b").toDF("k", "v"), dir,
      statsCols = Seq("k"), retainGenerations = 10)
    val ckpt = java.nio.file.Files.createTempDirectory("x14sv").toString
    val out = java.nio.file.Files.createTempDirectory("x14svout").toString
    val sinkSchema = graft.sources.GraftMetaTables.changesSchemaOf(spark, dir)
    val q = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").option("startingVersion", "2").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // from version 2 inclusive: exactly the second append's row
      assert(spark.read.schema(sinkSchema).parquet(out)
        .select($"k").as[Int].collect().toSeq == Seq(2))
    } finally q.stop()
    // age the table past the checkpointed offset with retain=2 commits
    (1 to 8).foreach(i => ManifestTable.append(
      Seq((10 + i) -> "x").toDF("k", "v"), dir, retainGenerations = 2))
    val q2 = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination(10000): Unit
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no longer retained")), msgs(e))
    // startingVersion <= 0 refuses AT source creation with the option
    // named — not at the first batch with a misleading retention error
    // (r20 review find)
    val q3 = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(dir)
      .writeStream.format("parquet")
      .option("path", java.nio.file.Files
        .createTempDirectory("x14bad").toString)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("x14badck").toString).start()
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable(); q3.awaitTermination(10000): Unit
    }
    assert(msgs(e3).exists(_.contains("startingVersion must be >= 1")),
      msgs(e3))
  }

  test("write side: append / errorIfExists / ignore / overwrite SaveModes") {
    val dir = freshDir()
    batch(1995).write.format("graft-manifest")
      .option("statsCols", "d").mode(SaveMode.Append).save(dir)
    batch(1996).write.format("graft-manifest")
      .option("statsCols", "d").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft-manifest").load(dir).count() == 20)
    intercept[IllegalStateException] {
      batch(1997).write.format("graft-manifest")
        .mode(SaveMode.ErrorIfExists).save(dir)
    }
    batch(1997).write.format("graft-manifest").mode(SaveMode.Ignore).save(dir)
    assert(spark.read.format("graft-manifest").load(dir).count() == 20) // ignored
    batch(1998).write.format("graft-manifest")
      .option("statsCols", "d").mode(SaveMode.Overwrite).save(dir)
    val after = spark.read.format("graft-manifest").load(dir)
    assert(after.count() == 10)
    assert(after.agg(min(col("d")).cast("string")).head.getString(0)
      .startsWith("1998"))
    // overwrite carried its stats: a disjoint range prunes to zero dirs
    // without touching the data (empty-relation fast path)
    val none = spark.read.format("graft-manifest").load(dir)
      .filter(col("d") >= lit("1995-01-01") && col("d") <= lit("1995-12-31"))
    assert(none.count() == 0)
  }
}
