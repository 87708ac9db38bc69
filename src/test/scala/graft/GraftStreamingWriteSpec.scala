package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.ManifestTable

/** X15 — native streaming writes (`writeStream.toTable` /
  * `.format("graft")`): executor task-writer commits, exactly-once
  * epochs across a real crash-replay, stats parity, contract
  * refusals. */
class GraftStreamingWriteSpec extends SparkTestBase {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-sw").toString
    spark.conf.set("spark.sql.catalog.gsw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsw.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsw.lake")
    dir
  }
  private def fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())

  test("writeStream.toTable lands epochs as commit dirs with stats; exactly-once across a replayed epoch") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.st")
    spark.sql("CREATE TABLE gsw.lake.st (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='20')")
    val dir = s"$wh/lake/st"
    // a 3-file source streamed one file per trigger = 3 epochs
    val src = Files.createTempDirectory("gsw-src").toString
    Seq(1 -> "a", 2 -> "b").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/f1")
    Seq(10 -> "p").toDF("k", "v").coalesce(1).write.parquet(s"$src/f2")
    Seq(20 -> "q", 21 -> "r").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/f3")
    val ck = Files.createTempDirectory("gsw-ck").toString
    def run(): Unit = {
      val q = spark.readStream
        .schema("k INT, v STRING").option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*")
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .toTable("gsw.lake.st")
      q.awaitTermination()
    }
    run()
    val rows = spark.table("gsw.lake.st").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows == Map(1 -> "a", 2 -> "b", 10 -> "p", 20 -> "q", 21 -> "r"))
    // each epoch is one ss- staging dir in the manifest
    val paths = ManifestTable.livePaths(fs, dir)
    assert(paths.count(_.startsWith("ss-")) == 3, paths)
    // stats parity: a point scan prunes to the one epoch dir
    val pruned = ManifestTable.rangeScan(spark, dir, "k", "10", "10")
    assert(pruned.count() == 1L)
    assert(scannedFiles(pruned).map(_.split("/").dropRight(1).last)
      .distinct.length == 1, "streamed dirs must skip like appended ones")

    // CRASH-REPLAY: torch the last checkpoint commit ack, so the
    // restart RE-DELIVERS the final epoch — the txn watermark must
    // recognize it and skip, leaving counts exact and no orphan dir
    val commits = fs.listStatus(new Path(ck, "commits"))
      .map(_.getPath).filter(!_.getName.startsWith("."))
      .sortBy(_.getName.toInt)
    fs.delete(commits.last, false)
    run()
    assert(spark.table("gsw.lake.st").count() == 5L,
      "replayed epoch must be skipped, not double-applied")
    val onDisk = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("ss-")).toSet
    val live = ManifestTable.livePaths(fs, dir)
      .map(_.split("/", 2).head).toSet
    assert(onDisk == live, s"replay left staged orphans: ${onDisk -- live}")
  }

  test("a batch append racing the stream rebases cleanly") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.mix")
    spark.sql("CREATE TABLE gsw.lake.mix (k INT, v STRING) " +
      "TBLPROPERTIES ('retainGenerations'='20')")
    val src = Files.createTempDirectory("gsw-mix").toString
    Seq(1 -> "s").toDF("k", "v").write.parquet(s"$src/f1")
    val ck = Files.createTempDirectory("gsw-mixck").toString
    val q = spark.readStream.schema("k INT, v STRING").parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.mix")
    q.awaitTermination()
    spark.sql("INSERT INTO gsw.lake.mix VALUES (2, 'batch')")
    assert(spark.table("gsw.lake.mix").count() == 2L)
  }

  test("commit publishes ONLY commit-message files: a hard-killed attempt's orphan is deleted, not published") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.orph")
    spark.sql("CREATE TABLE gsw.lake.orph (k INT, v STRING)")
    spark.sql("INSERT INTO gsw.lake.orph VALUES (0, 'seed')")
    val dir = s"$wh/lake/orph"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k INT, v STRING")
    val w = new graft.sources.GraftStreamingWrite(
      dir, schema, "orph-q", Seq.empty, 20)
    val factory = w.createStreamingWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions: Int = 1 })
    def runTask(pid: Int, taskId: Long, rows: Seq[(Int, String)]) = {
      val tw = factory.createWriter(pid, taskId, 7L)
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(schema)
      val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(enc)
        .createSerializer()
      rows.foreach(r => tw.write(ser(
        org.apache.spark.sql.Row(r._1, r._2)).copy()))
      tw.commit()
    }
    // attempt A: the winner — its message is delivered to commit()
    val winner = runTask(0, 1L, Seq(1 -> "a", 2 -> "b"))
    // attempt B: same partition, hard-killed AFTER flushing its file —
    // abort() never runs and its message is never delivered (the
    // speculative-duplicate / executor-death shape)
    runTask(0, 2L, Seq(1 -> "DUP", 2 -> "DUP"))
    val stageRel = "ss-" + winner.asInstanceOf[graft.sources.GraftTaskCommit]
      .file.split("/ss-")(1).split("/")(0) + "/e7"
    val staged = fs.listStatus(new Path(dir, stageRel))
    assert(staged.length == 2, "both attempts' files must be staged pre-commit")
    w.commit(7L, Array(winner))
    val got = spark.table("gsw.lake.orph").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(got == Set(0 -> "seed", 1 -> "a", 2 -> "b"),
      s"orphan rows leaked into the table: $got")
    // and the orphan file is gone from the published dir
    val live = ManifestTable.livePaths(fs, dir).filter(_.startsWith("ss-"))
    assert(live.size == 1)
    val pubFiles = fs.listStatus(new Path(dir, live.head))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(pubFiles.length == 1 && winner
      .asInstanceOf[graft.sources.GraftTaskCommit].file.endsWith(pubFiles.head),
      s"published dir must hold exactly the winner's file: ${pubFiles.toSeq}")
    // the race a delete-in-place cleanup can NOT close: a straggler
    // attempt whose flush lands AFTER commit's cleanup listing. Here
    // it lands after commit entirely (recreating the staging dir) —
    // because publication is by move into a fresh dir, the straggler
    // is never reader-visible
    runTask(0, 3L, Seq(9 -> "LATE"))
    val after = spark.table("gsw.lake.orph").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(after == Set(0 -> "seed", 1 -> "a", 2 -> "b"),
      s"straggler attempt's rows leaked into the table: $after")
  }

  test("streaming into a clusterBy table: Spark plans the range shuffle (RequiresDistributionAndOrdering); the epoch lands as ≤k disjoint sorted range dirs with per-dir stats") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.sclu")
    spark.sql("CREATE TABLE gsw.lake.sclu (k INT, v STRING) " +
      "TBLPROPERTIES ('clusterBy'='k', 'retainGenerations'='20')")
    val dir = s"$wh/lake/sclu"
    val src = Files.createTempDirectory("gsw-sclu").toString
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 400).toList).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(2).write.parquet(s"$src/f1")
    val ck = Files.createTempDirectory("gsw-scluck").toString
    val q = spark.readStream.schema("k INT, v STRING").parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.sclu")
    q.awaitTermination()
    assert(spark.table("gsw.lake.sclu").count() == 400L)
    assert(spark.table("gsw.lake.sclu").agg(sum($"k")).head.getLong(0)
      == (0 until 400).sum.toLong)
    // the epoch landed as >1 but ≤k dirs, each with its own stats line
    val live = ManifestTable.livePaths(fs, dir)
    assert(live.size > 1 && live.size <= graft.ScaleKnobs.DefaultClusterDirs,
      live)
    val v = ManifestTable.headVersion(spark, dir).get
    val stats = ManifestTable.statsOf(fs, dir, v)
    assert(live.forall(stats.contains),
      s"every clustered dir needs stats: $live vs ${stats.keySet}")
    // dirs are DISJOINT ranges covering the keyspace — the shuffle was
    // a real range partition, not hash
    val ranges = live.map { p =>
      val parts = stats(p).split("\t")
      val i = parts.indexWhere(x =>
        java.net.URLDecoder.decode(x, "UTF-8") == "k")
      (java.net.URLDecoder.decode(parts(i + 1), "UTF-8").toInt,
        java.net.URLDecoder.decode(parts(i + 2), "UTF-8").toInt)
    }.sortBy(_._1)
    assert(ranges.head._1 == 0 && ranges.last._2 == 399, ranges)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: $ranges")
      case _ =>
    }
    // a point scan prunes to exactly ONE of the streamed dirs
    val pruned = ManifestTable.rangeScan(spark, dir, "k", "250", "250")
    assert(pruned.count() == 1L)
    assert(scannedFiles(pruned).map(_.split("/").dropRight(1).last)
      .distinct.length == 1, "point scan must open one range dir")
    // rows are SORTED within a dir (requiredOrdering honored)
    val raw = spark.read.parquet(s"$dir/${live.head}")
      .select("k").collect().map(_.getInt(0))
    assert(raw.sameElements(raw.sorted),
      "rows within a clustered dir must arrive sorted")
  }

  test("streamed MULTI-column clusterBy lands Morton: both dims prune on a never-compacted table") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.zs")
    spark.sql("CREATE TABLE gsw.lake.zs (a INT, b INT, v STRING) " +
      "TBLPROPERTIES ('clusterBy'='a,b', 'retainGenerations'='20')")
    val dir = s"$wh/lake/zs"
    // seed the DOMAIN (the write bakes morton bounds from head stats;
    // a table with no stats falls back to lexical for its first epoch)
    spark.sql("INSERT INTO gsw.lake.zs VALUES (1,1,'lo'),(20,20,'hi')")
    // stream the 20x20 grid as ONE epoch through writeStream.toTable —
    // the declared distribution is `ordered by morton(a, lo, hi, b,
    // lo, hi)` resolved through the catalog's FunctionCatalog, so
    // SPARK plans the z-curve range shuffle per epoch
    val src = Files.createTempDirectory("gsw-zs").toString
    val rnd = new scala.util.Random(11)
    rnd.shuffle((for (a <- 1 to 20; b <- 1 to 20) yield (a, b)).toList)
      .map { case (a, b) => (a, b, s"$a-$b") }.toDF("a", "b", "v")
      .coalesce(2).write.parquet(s"$src/f1")
    val ck = Files.createTempDirectory("gsw-zsck").toString
    val q = spark.readStream.schema("a INT, b INT, v STRING")
      .parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.zs")
    q.awaitTermination()
    assert(spark.table("gsw.lake.zs").count() == 402L)
    val v = ManifestTable.headVersion(spark, dir).get
    val schema = ManifestTable.declaredSchemaOf(spark, dir, v).get
    val streamed = ManifestTable.pathsOf(fs, dir, v).filter(_.startsWith("ss-"))
    assert(streamed.size > 1 &&
      streamed.size <= graft.ScaleKnobs.DefaultClusterDirs, streamed)
    // the batch leg's trial (ClusteredIngestSpec): each dimension ALONE
    // prunes streamed dirs — lexical ordering would leave the trailing
    // dim's per-dir range full-width (no dir prunable on b)
    def keptFor(col: String, value: String): Int = ManifestTable.prunePaths(
      fs, dir, v, Map(col -> (value, value)), schema)
      .count(_.startsWith("ss-"))
    assert(keptFor("a", "2") < streamed.size,
      "a-dim must prune z-ordered streamed dirs")
    assert(keptFor("b", "2") < streamed.size,
      "b-dim must prune z-ordered streamed dirs — lexical epoch layout " +
        "leaves the trailing dimension unprunable")
    // exactness through the masked/mapped read stack
    assert(spark.sql(
      "SELECT v FROM gsw.lake.zs WHERE a = 7 AND b = 13").head.getString(0)
      == "7-13")
  }

  test("streamed (TIMESTAMP, STRING) clusterBy z-orders: both dims prune") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.zts")
    spark.sql("CREATE TABLE gsw.lake.zts (ts TIMESTAMP, host STRING, v STRING) " +
      "TBLPROPERTIES ('clusterBy'='ts,host', 'retainGenerations'='20')")
    val dir = s"$wh/lake/zts"
    // seed the DOMAIN corners (bounds bake from head stats: timestamps
    // parse in the pinned stats zone, strings map to 7-byte ordinals)
    spark.sql("INSERT INTO gsw.lake.zts VALUES " +
      "(TIMESTAMP'2026-01-01 00:00:00','h01','lo')," +
      "(TIMESTAMP'2026-01-01 19:00:00','h20','hi')")
    def tsOf(i: Int) = f"2026-01-01 $i%02d:00:00"
    val src = Files.createTempDirectory("gsw-zts").toString
    val rnd = new scala.util.Random(13)
    rnd.shuffle((for (i <- 0 until 20; j <- 1 to 20) yield (i, j)).toList)
      .map { case (i, j) => (java.sql.Timestamp.valueOf(tsOf(i)),
        f"h$j%02d", s"$i-$j") }
      .toDF("ts", "host", "v").coalesce(2).write.parquet(s"$src/f1")
    val ck = Files.createTempDirectory("gsw-ztsck").toString
    val q = spark.readStream.schema("ts TIMESTAMP, host STRING, v STRING")
      .parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.zts")
    q.awaitTermination()
    assert(spark.table("gsw.lake.zts").count() == 402L)
    val v = ManifestTable.headVersion(spark, dir).get
    val schema = ManifestTable.declaredSchemaOf(spark, dir, v).get
    val streamed = ManifestTable.pathsOf(fs, dir, v).filter(_.startsWith("ss-"))
    assert(streamed.size > 1, streamed)
    def keptFor(col: String, value: String): Int = ManifestTable.prunePaths(
      fs, dir, v, Map(col -> (value, value)), schema)
      .count(_.startsWith("ss-"))
    assert(keptFor("ts", tsOf(2)) < streamed.size,
      "timestamp dim must prune z-ordered streamed dirs")
    assert(keptFor("host", "h02") < streamed.size,
      "string dim must prune z-ordered streamed dirs — lexical layout " +
        "leaves the trailing dimension unprunable")
    assert(spark.sql("SELECT v FROM gsw.lake.zts WHERE host = 'h13' AND " +
      s"ts = TIMESTAMP'${tsOf(7)}'").head.getString(0) == "7-13")
  }

  test("inline task-side stats render exactly what the driver read-back cast would (timestamps included)") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.tst")
    spark.sql("CREATE TABLE gsw.lake.tst (ts TIMESTAMP, k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='ts,k,v', 'retainGenerations'='20')")
    val dir = s"$wh/lake/tst"
    val src = Files.createTempDirectory("gsw-tst").toString
    Seq(
      ("2024-03-01 10:15:30.123456", 7, "mid"),
      ("2023-12-31 23:59:59.999999", -3, "alpha"),
      ("2024-07-04 00:00:00", 42, "zed"))
      .toDF("tss", "k", "v")
      .select($"tss".cast("timestamp").as("ts"), $"k", $"v")
      .coalesce(1).write.parquet(s"$src/f1")
    val ck = Files.createTempDirectory("gsw-tstck").toString
    val q = spark.readStream.schema("ts TIMESTAMP, k INT, v STRING")
      .parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.tst")
    q.awaitTermination()
    val v = ManifestTable.headVersion(spark, dir).get
    val stats = ManifestTable.statsOf(fs, dir, v)
    val rel = ManifestTable.livePaths(fs, dir).head
    // recompute what the OLD read-back aggregate would have recorded
    val exp = spark.read.parquet(s"$dir/$rel").agg(
      count(lit(1)).as("rows"),
      min($"ts").cast("string"), max($"ts").cast("string"),
      min($"k").cast("string"), max($"k").cast("string"),
      min($"v").cast("string"), max($"v").cast("string")).head()
    val expected = (Seq(exp.getLong(0).toString) ++ Seq(
      "ts", exp.getString(1), exp.getString(2),
      "k", exp.getString(3), exp.getString(4),
      "v", exp.getString(5), exp.getString(6))
      .map(java.net.URLEncoder.encode(_, "UTF-8")) ++
      // the #nulls lane the task writers count inline (no nulls here)
      Seq("#nulls", "ts", "0", "k", "0", "v", "0")).mkString("\t")
    assert(stats(rel) == expected,
      s"inline stats drifted from the read-back form:\n ${stats(rel)}\n $expected")
  }

  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  test("CHECK constraints bind INTO the native stream: a violating epoch dies before its manifest commit") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.chk")
    spark.sql("CREATE TABLE gsw.lake.chk (k INT, v STRING) " +
      "TBLPROPERTIES ('check.pos'='k > 0', 'retainGenerations'='20')")
    val src = Files.createTempDirectory("gsw-chk").toString
    val ck = Files.createTempDirectory("gsw-chkck").toString
    def run(): Unit = {
      val q = spark.readStream.schema("k INT, v STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).toTable("gsw.lake.chk")
      q.awaitTermination()
    }
    Seq(1 -> "a", 2 -> "b").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/f1")
    run()
    assert(spark.table("gsw.lake.chk").count() === 2L)
    // served by the NATIVE path (epoch commit dirs), not foreachBatch
    val dir = s"$wh/lake/chk"
    assert(ManifestTable.livePaths(fs, dir).exists(_.startsWith("ss-")),
      "a CHECK table must stream through the native task-writer path")
    // a violating row kills its epoch BEFORE the manifest commit
    Seq(-5 -> "bad").toDF("k", "v").coalesce(1).write.parquet(s"$src/f2")
    val e = intercept[Exception] { run() }
    assert(msgs(e).exists(_.contains("CHECK constraint 'pos'")),
      s"got: ${msgs(e).take(3)}")
    assert(spark.table("gsw.lake.chk").count() === 2L,
      "the violating epoch must land NOTHING")
  }

  test("generated columns fill and validate inside the native stream's task writers") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.gen")
    spark.sql("CREATE TABLE gsw.lake.gen (k INT, v STRING, " +
      "vlen INT GENERATED ALWAYS AS (length(v))) " +
      "TBLPROPERTIES ('retainGenerations'='20')")
    val src = Files.createTempDirectory("gsw-gen").toString
    val ck = Files.createTempDirectory("gsw-genck").toString
    def run(): Unit = {
      val q = spark.readStream.schema("k INT, v STRING, vlen INT")
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).toTable("gsw.lake.gen")
      q.awaitTermination()
    }
    // NULL generated values fill from the expression, task-side
    Seq((1, "abc", null.asInstanceOf[java.lang.Integer]),
        (2, "zzzzz", null.asInstanceOf[java.lang.Integer]))
      .toDF("k", "v", "vlen").coalesce(1).write.parquet(s"$src/f1")
    run()
    val got = spark.table("gsw.lake.gen").collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(got === Map(1 -> 3, 2 -> 5),
      s"generated values must compute in the task writers: $got")
    // a provided WRONG value dies before the manifest commit
    Seq((3, "xy", java.lang.Integer.valueOf(999)))
      .toDF("k", "v", "vlen").coalesce(1).write.parquet(s"$src/f2")
    val e = intercept[Exception] { run() }
    assert(msgs(e).exists(_.contains("generated column 'vlen'")),
      s"got: ${msgs(e).take(3)}")
    assert(spark.table("gsw.lake.gen").count() === 2L)
  }

  test("identity minting rides the native stream: unique across epochs, a crash-replay epoch skips without re-minting") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.sid")
    spark.sql("CREATE TABLE gsw.lake.sid (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) " +
      "TBLPROPERTIES ('retainGenerations'='20')")
    val src = Files.createTempDirectory("gsw-sid").toString
    val ck = Files.createTempDirectory("gsw-sidck").toString
    def run(): Unit = {
      val q = spark.readStream.schema("id BIGINT, v STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).toTable("gsw.lake.sid")
      q.awaitTermination()
    }
    val nullId = null.asInstanceOf[java.lang.Long]
    Seq((nullId, "a"), (nullId, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$src/f1")
    Seq((nullId, "c")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$src/f2")
    run()
    val ids = spark.table("gsw.lake.sid").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.length === 3 && ids.distinct.length === 3,
      s"streamed ids must be unique across epochs: $ids")
    assert(ids.forall(_ >= 1L), s"ids respect the declared start: $ids")
    // CRASH-REPLAY: torch the last checkpoint ack — the re-delivered
    // epoch must SKIP (txn watermark), leaving the minted ids untouched
    fs.listStatus(new Path(ck, "commits")).map(_.getPath)
      .filter(!_.getName.startsWith("."))
      .sortBy(_.getName.toInt).lastOption.foreach(fs.delete(_, false))
    run()
    val after = spark.table("gsw.lake.sid").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(after === ids.sorted,
      s"a replayed epoch must not re-mint: before=${ids.sorted} after=$after")
    // a GENERATED ALWAYS column refuses explicit streamed values
    Seq((java.lang.Long.valueOf(77L), "boom")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$src/f3")
    val e = intercept[Exception] { run() }
    assert(msgs(e).exists(_.contains("GENERATED ALWAYS")),
      s"got: ${msgs(e).take(3)}")
    assert(spark.table("gsw.lake.sid").count() === 3L,
      "the refused epoch must land nothing")
  }

  test("X16 + contracts: a CLUSTERED identity stream mints unique ids across the range-shuffled tasks") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.cid")
    spark.sql("CREATE TABLE gsw.lake.cid (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, k INT, v STRING) " +
      "TBLPROPERTIES ('clusterBy'='k', 'retainGenerations'='20')")
    val dir = s"$wh/lake/cid"
    val src = Files.createTempDirectory("gsw-cid").toString
    val rnd = new scala.util.Random(11)
    val nullId = null.asInstanceOf[java.lang.Long]
    rnd.shuffle((0 until 300).toList).map(i => (nullId, i, s"v$i"))
      .toDF("id", "k", "v").coalesce(2).write.parquet(s"$src/f1")
    val ck = Files.createTempDirectory("gsw-cidck").toString
    val q = spark.readStream.schema("id BIGINT, k INT, v STRING")
      .parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.cid")
    q.awaitTermination()
    // the epoch range-shuffled into ≤k dirs AND each task minted from
    // its own partition offset — ids unique across the whole epoch
    val ids = spark.table("gsw.lake.cid").select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.length === 300 && ids.distinct.length === 300,
      s"clustered tasks must mint disjoint ranges: dup count = " +
        s"${ids.length - ids.distinct.length}")
    val live = ManifestTable.livePaths(fs, dir)
    assert(live.count(_.startsWith("ss-")) > 1,
      "the epoch must still land clustered (>1 range dir)")
    // the cluster column still prunes (stats landed per range dir)
    val pruned = ManifestTable.rangeScan(spark, dir, "k", "5", "5")
    assert(pruned.count() === 1L)
    assert(scannedFiles(pruned).map(_.split("/").dropRight(1).last)
      .distinct.length === 1, "range dirs must prune independently")
  }

  test("bucketed tables stream natively (r19): epochs upsert by key, zero-shuffle joins survive, exactly-once across a replayed epoch") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.bkt")
    spark.sql("DROP TABLE IF EXISTS gsw.lake.bkt2")
    spark.sql("CREATE TABLE gsw.lake.bkt (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('layout'='bucketed:k:4')")
    val dir = s"$wh/lake/bkt"
    // 3 epochs; epoch 2 UPDATES key 1 (upsert semantics, not append)
    val src = Files.createTempDirectory("gsw-bkt").toString
    Seq(1L -> "a", 2L -> "b").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/f1")
    Seq(1L -> "A", 3L -> "c").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/f2")
    Seq(4L -> "d").toDF("k", "v").coalesce(1).write.parquet(s"$src/f3")
    val ck = Files.createTempDirectory("gsw-bktck").toString
    def run(): Unit = {
      val q = spark.readStream
        .schema("k BIGINT, v STRING").option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*")
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .toTable("gsw.lake.bkt")
      q.awaitTermination()
    }
    run()
    val rows = spark.table("gsw.lake.bkt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "A", 2L -> "b", 3L -> "c", 4L -> "d"),
      s"epochs must UPSERT by key (one row per key): $rows")
    // the b=N geometry survived: every live dir is a bucket leaf and a
    // co-bucketed equi-join still plans with ZERO shuffle (S12/S38)
    val paths = ManifestTable.livePaths(fs, dir)
    assert(paths.forall(_.matches(".*b=\\d+$")),
      s"streamed epochs must preserve bucket-leaf dirs: $paths")
    spark.sql("CREATE TABLE gsw.lake.bkt2 (k BIGINT, w STRING) " +
      "TBLPROPERTIES ('layout'='bucketed:k:4')")
    spark.sql("INSERT INTO gsw.lake.bkt2 VALUES (1, 'x'), (3, 'y')")
    val confPairs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confPairs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confPairs.foreach { case (k, v) => spark.conf.set(k, v) }
      val joined = spark.table("gsw.lake.bkt")
        .join(spark.table("gsw.lake.bkt2"), "k")
      assert(joined.count() === 2L)
      assert(!joined.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "co-bucketed join after streaming must stay zero-shuffle:\n" +
          joined.queryExecution.executedPlan)
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
    // CRASH-REPLAY: torch the last checkpoint ack; the re-delivered
    // epoch must SKIP on the merge-commit's txn watermark (re-merging
    // would be key-idempotent here, but the skip must not even run the
    // kernel — the head version must not advance)
    val headBefore = ManifestTable.headVersion(spark, dir).get
    val commits = fs.listStatus(new Path(ck, "commits"))
      .map(_.getPath).filter(!_.getName.startsWith("."))
      .sortBy(_.getName.toInt)
    fs.delete(commits.last, false)
    run()
    assert(ManifestTable.headVersion(spark, dir).get === headBefore,
      "replayed epoch must skip without a new commit")
    val rows2 = spark.table("gsw.lake.bkt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows2 == rows, s"replay must not change the table: $rows2")
    // no staged leftovers outside the live manifest
    val onDisk = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("ss-")).toSet
    assert(onDisk.isEmpty, s"replay left staged dirs: $onDisk")
  }

  test("stats.ndv=write sketches streamed epochs: the first ANALYZE after a stream reads zero data files (r19)") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.ndvs")
    spark.sql("CREATE TABLE gsw.lake.ndvs (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k,v', 'retainGenerations'='20', " +
      "'stats.ndv'='write')")
    val dir = s"$wh/lake/ndvs"
    val src = Files.createTempDirectory("gsw-ndv").toString
    Seq(1 -> "a", 2 -> "b").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/f1")
    Seq(2 -> "b2", 3 -> "c").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/f2")
    val ck = Files.createTempDirectory("gsw-ndvck").toString
    val readBacks0 = graft.sources.GraftTaskWriters.epochReadBacks.get()
    val q = spark.readStream.schema("k INT, v STRING")
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.ndvs")
    q.awaitTermination()
    // r20 — the sketch lane rides the task writers' own pass: with
    // every tracked column inline-able, NDV opted in costs ZERO extra
    // jobs per epoch (the sketches union driver-side, pure metadata)
    assert(graft.sources.GraftTaskWriters.epochReadBacks.get()
      == readBacks0,
      "an inline-stats epoch with stats.ndv=write must run zero " +
        "read-back jobs")
    val head = ManifestTable.headVersion(spark, dir).get
    val stats = ManifestTable.statsOf(fs, dir, head)
    assert(stats.nonEmpty && stats.values.forall(pl =>
      ManifestTable.ndvSketchFor(pl, "k").isDefined &&
        ManifestTable.ndvSketchFor(pl, "v").isDefined),
      "every streamed epoch dir must carry write-time sketches")
    // zero-read proof: corrupt every data file; ANALYZE still answers
    ManifestTable.pathsOf(fs, dir, head).foreach { p =>
      fs.listStatus(new Path(dir, p)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val o = fs.create(f, true)
          o.write("gone".getBytes("UTF-8")); o.close()
        }
    }
    val out = spark.sql("CALL gsw.system.analyze(" +
      "table => 'lake.ndvs', columns => 'k,v', approx => true)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("k", 3L, 0L), ("v", 4L, 0L)),
      s"streamed sketches must serve the first ANALYZE zero-read: " +
        out.toSeq)
  }

  test("bucketed streaming upsertTies: a domain order decides intra-epoch key ties (r19 review find)") {
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gsw.lake.bkt3")
    spark.sql("CREATE TABLE gsw.lake.bkt3 (k BIGINT, v STRING, w INT) " +
      "TBLPROPERTIES ('layout'='bucketed:k:4', 'upsertTies'='w')")
    // one epoch carrying TWO rows for key 1: the default tie order
    // (non-key columns sorted, desc) would pick v='z'; the declared
    // domain order (w desc — event-time semantics) must pick w=20
    val src = Files.createTempDirectory("gsw-ties").toString
    Seq((1L, "a", 20), (1L, "z", 10), (2L, "b", 5))
      .toDF("k", "v", "w").coalesce(1).write.parquet(s"$src/f1")
    val ck = Files.createTempDirectory("gsw-tiesck").toString
    val q = spark.readStream.schema("k BIGINT, v STRING, w INT")
      .parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gsw.lake.bkt3")
    q.awaitTermination()
    val rows = spark.table("gsw.lake.bkt3").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows(1L) === (("a", 20)),
      s"the upsertTies domain order must decide the tie: $rows")
    assert(rows.size === 2)
    // batch INSERTs honor the SAME declared domain order for
    // same-batch duplicates (ties order WITHIN a batch; a merge still
    // replaces the standing row by key — upserts are not conditional)
    spark.sql(
      "INSERT INTO gsw.lake.bkt3 VALUES (7, 'x', 40), (7, 'y', 30)")
    assert(spark.table("gsw.lake.bkt3").filter(col("k") === 7L)
      .head().getInt(2) === 40,
      "same-batch duplicates must resolve by the domain order " +
        "(default ties would pick v='y')")
    // a typo'd tie column fails the stream at build, loudly
    spark.sql("DROP TABLE IF EXISTS gsw.lake.bkt4")
    spark.sql("CREATE TABLE gsw.lake.bkt4 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('layout'='bucketed:k:4', 'upsertTies'='nope')")
    val e = intercept[Exception] {
      val q2 = spark.readStream.schema("k BIGINT, v STRING")
        .parquet(s"$src/*")
        .writeStream.option("checkpointLocation",
          Files.createTempDirectory("gsw-ties2").toString)
        .trigger(Trigger.AvailableNow()).toTable("gsw.lake.bkt4")
      q2.awaitTermination()
    }
    assert(msgs(e).exists(_.contains("upsertTies")), msgs(e))
  }
}
