package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** S42 — metadata-only RENAME/DROP COLUMN via column mapping: the
  * declared (logical) schema evolves in pointer commits while every
  * parquet file keeps its frozen PHYSICAL column names (`colmap:`
  * channel), so no data dir is ever rewritten; dropped physical names
  * tombstone so ADD COLUMN can never resurrect old values. */
class GraftColumnMappingSpec extends SparkTestBase {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-cmap").toString
    spark.conf.set("spark.sql.catalog.gcm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcm.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcm.lake")
    dir
  }
  private def fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())

  private def freshTable(name: String): String = {
    wh: Unit
    spark.sql(s"DROP TABLE IF EXISTS gcm.lake.$name")
    spark.sql(s"CREATE TABLE gcm.lake.$name (k INT, v STRING, amt DOUBLE) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10')")
    spark.sql(s"INSERT INTO gcm.lake.$name VALUES " +
      (0 until 5).map(i => s"($i,'v$i',${i * 1.5})").mkString(","))
    s"$wh/lake/$name"
  }

  test("RENAME COLUMN is metadata-only; old and new dirs read consistently") {
    val dir = freshTable("r1")
    val before = ManifestTable.livePaths(fs, dir)
    spark.sql("ALTER TABLE gcm.lake.r1 RENAME COLUMN k TO id")
    assert(ManifestTable.livePaths(fs, dir) == before,
      "rename must not touch any data dir")
    val head = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.colMapOf(fs, dir, head) == Map("id" -> "k"))
    // catalog SQL (V2 scan) serves the new name over the OLD dir
    assert(spark.sql("SELECT sum(id) FROM gcm.lake.r1").head.getLong(0) == 10L)
    assert(spark.table("gcm.lake.r1").columns.toSeq == Seq("id", "v", "amt"))
    // a NEW insert writes the frozen PHYSICAL name — the file stores
    // `k`, not `id` — and both vintages read through one logical name
    spark.sql("INSERT INTO gcm.lake.r1 VALUES (100,'new',9.0)")
    val newDir = ManifestTable.livePaths(fs, dir).filterNot(before.contains).head
    val raw = spark.read.parquet(s"$dir/$newDir")
    assert(raw.columns.contains("k") && !raw.columns.contains("id"),
      s"new files must store the physical name: ${raw.columns.toSeq}")
    assert(spark.sql("SELECT sum(id) FROM gcm.lake.r1").head.getLong(0) == 110L)
    // engine + V1 relation read the same logical table
    assert(ManifestTable.read(spark, dir).select(sum("id")).head.getLong(0) == 110L)
    assert(spark.read.format("graft-manifest").load(dir)
      .select(sum("id")).head.getLong(0) == 110L)
    // stats re-keyed: pruning on the NEW name still skips dirs
    val pruned = ManifestTable.rangeScan(spark, dir, "id", "100", "100")
    assert(scannedFiles(pruned).length <
        scannedFiles(ManifestTable.read(spark, dir)).length,
      "re-keyed stats must keep pruning on the renamed column")
    assert(pruned.collect().map(_.getInt(0)).toSeq == Seq(100))
    // time travel to the pre-rename version shows the OLD name
    assert(spark.sql("SELECT * FROM gcm.lake.r1 VERSION AS OF 2")
      .columns.toSeq == Seq("k", "v", "amt"))
  }

  test("DML, masks and compaction keep working across a rename") {
    val dir = freshTable("r2")
    spark.sql("ALTER TABLE gcm.lake.r2 SET TBLPROPERTIES " +
      "('dml.mode'='merge-on-read')")
    spark.sql("ALTER TABLE gcm.lake.r2 RENAME COLUMN k TO id")
    // merge-on-read DELETE on the renamed column: positions resolve
    // through the rename projection (_metadata must survive it)
    spark.sql("DELETE FROM gcm.lake.r2 WHERE id = 2")
    assert(spark.table("gcm.lake.r2").collect().map(_.getInt(0)).sorted
      .toSeq == Seq(0, 1, 3, 4))
    // SQL UPDATE over the masked, renamed dir rides the POSITION delta
    // (dml.mode=merge-on-read): no resurrect, values land, the fresh
    // images dir stores PHYSICAL names
    spark.sql("UPDATE gcm.lake.r2 SET v = 'X' WHERE id = 3")
    val got = spark.table("gcm.lake.r2").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((0, "v0"), (1, "v1"), (3, "X"), (4, "v4")), got)
    val head = ManifestTable.headVersion(spark, dir).get
    val rl = ManifestTable.pathsOf(fs, dir, head).find(_.startsWith("pd-")).get
    assert(spark.read.parquet(s"$dir/$rl").columns.contains("k"))
    // compaction reads logical, writes physical, keeps the mapping
    ManifestTable.compactAppend(spark, dir, Seq("id"), k = 2,
      retainGenerations = 10)
    assert(spark.sql("SELECT sum(id) FROM gcm.lake.r2").head.getLong(0) == 8L)
    assert(ManifestTable.colMapOf(fs, dir,
      ManifestTable.headVersion(spark, dir).get) == Map("id" -> "k"))
  }

  test("DROP COLUMN is metadata-only; re-ADD of the name refuses (tombstone)") {
    val dir = freshTable("d1")
    val before = ManifestTable.livePaths(fs, dir)
    spark.sql("ALTER TABLE gcm.lake.d1 DROP COLUMN amt")
    assert(ManifestTable.livePaths(fs, dir) == before,
      "drop must not touch any data dir")
    assert(spark.table("gcm.lake.d1").columns.toSeq == Seq("k", "v"))
    assert(spark.sql("SELECT sum(k) FROM gcm.lake.d1").head.getLong(0) == 10L)
    // appends now bring the narrower schema
    spark.sql("INSERT INTO gcm.lake.d1 VALUES (50,'n')")
    assert(spark.table("gcm.lake.d1").count() == 6L)
    // re-adding the dropped name would resurrect pre-drop values
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.d1 ADD COLUMN amt DOUBLE")
    }
    assert(e.getMessage.contains("resurrect") ||
      Option(e.getCause).exists(_.getMessage.contains("resurrect")),
      e.getMessage)
    // ...while a fresh name adds fine
    spark.sql("ALTER TABLE gcm.lake.d1 ADD COLUMN amt2 DOUBLE")
    assert(spark.table("gcm.lake.d1").columns.toSeq == Seq("k", "v", "amt2"))
    // time travel pre-drop still shows the column
    assert(spark.sql("SELECT sum(amt) FROM gcm.lake.d1 VERSION AS OF 2")
      .head.getDouble(0) == 15.0)
  }

  test("a FULL compaction clears tombstones: the dropped name re-adds clean") {
    val dir = freshTable("d2")
    spark.sql("ALTER TABLE gcm.lake.d2 DROP COLUMN amt")
    // still refused pre-compaction (old dirs store amt values)
    intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.d2 ADD COLUMN amt DOUBLE") }
    // the full rewrite retires every pre-drop dir, so the tombstone
    // clears and the name becomes addable — the addColumn refusal's
    // "compact first" route
    ManifestTable.compactAppend(spark, dir, Seq("k"), k = 2,
      retainGenerations = 10)
    val head = ManifestTable.headVersion(spark, dir).get
    assert(!ManifestTable.metaOf(fs, dir, head).keys
      .exists(_.startsWith("dropped:")), "full compaction clears tombstones")
    spark.sql("ALTER TABLE gcm.lake.d2 ADD COLUMN amt DOUBLE")
    // the re-added column is NULL everywhere — never the pre-drop values
    assert(spark.sql("SELECT count(amt) FROM gcm.lake.d2").head.getLong(0) == 0L,
      "re-added column must not resurrect pre-drop values")
    spark.sql("INSERT INTO gcm.lake.d2 VALUES (60,'z',4.5)")
    assert(spark.sql("SELECT sum(amt) FROM gcm.lake.d2").head.getDouble(0) == 4.5)
  }

  test("rename-then-add guards: a new column cannot take a live physical name") {
    val dir = freshTable("g1")
    spark.sql("ALTER TABLE gcm.lake.g1 RENAME COLUMN k TO id")
    // adding 'k' would read the renamed column's stored values
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.g1 ADD COLUMN k INT")
    }
    assert(e.getMessage.contains("physical") ||
      Option(e.getCause).exists(_.getMessage.contains("physical")),
      e.getMessage)
    // renaming BACK to the physical name is fine (mapping collapses)
    spark.sql("ALTER TABLE gcm.lake.g1 RENAME COLUMN id TO k")
    assert(spark.sql("SELECT sum(k) FROM gcm.lake.g1").head.getLong(0) == 10L)
    dir: Unit
  }

  test("refusals: CHECK-referenced, cluster column, bucketed tables") {
    val dir = freshTable("g2")
    spark.sql("ALTER TABLE gcm.lake.g2 SET TBLPROPERTIES " +
      "('check.amt_pos'='amt >= 0')")
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.g2 RENAME COLUMN amt TO amount") }
    assert(e1.getMessage.contains("CHECK"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.g2 DROP COLUMN amt") }
    assert(e2.getMessage.contains("CHECK"), e2.getMessage)
    // unrelated columns still rename under a constraint on another col
    spark.sql("ALTER TABLE gcm.lake.g2 RENAME COLUMN v TO label")
    assert(spark.table("gcm.lake.g2").columns.contains("label"))
    // cluster column drop refuses
    spark.sql("ALTER TABLE gcm.lake.g2 SET TBLPROPERTIES ('clusterBy'='k')")
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.g2 DROP COLUMN k") }
    assert(e3.getMessage.contains("cluster"), e3.getMessage)
    // ...but a cluster column RENAME re-keys the spec and ingest works
    spark.sql("ALTER TABLE gcm.lake.g2 RENAME COLUMN k TO id")
    val head = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.clusterSpecOf(fs, dir, head).contains(Seq("id")))
    spark.sql("INSERT INTO gcm.lake.g2 VALUES (7,'x',1.0)")
    assert(spark.sql("SELECT sum(id) FROM gcm.lake.g2").head.getLong(0) == 17L)
    // bucketed tables refuse both
    spark.sql("DROP TABLE IF EXISTS gcm.lake.g2b")
    spark.sql("CREATE TABLE gcm.lake.g2b (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('layout'='bucketed:k:4')")
    spark.sql("INSERT INTO gcm.lake.g2b VALUES (1,'a')")
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.g2b RENAME COLUMN v TO w") }
    assert(e4.getMessage.contains("bucketed"), e4.getMessage)
    val e5 = intercept[Exception] {
      spark.sql("ALTER TABLE gcm.lake.g2b DROP COLUMN v") }
    assert(e5.getMessage.contains("bucketed"), e5.getMessage)
  }

  test("pushed filters survive a rename: parquet row groups still prune") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gcm.lake.rg")
    spark.sql("CREATE TABLE gcm.lake.rg (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10')")
    // ONE commit dir, FOUR files with disjoint k ranges (the append
    // preserves the incoming partitioning) — dir-level stats cover the
    // whole range, so only parquet ROW-GROUP pruning can skip I/O here
    val df = spark.range(0, 40000)
      .select(col("id").cast("int").as("k"),
        concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    df.writeTo("gcm.lake.rg").append()
    spark.sql("ALTER TABLE gcm.lake.rg RENAME COLUMN k TO id")
    val q = spark.table("gcm.lake.rg").where(col("id") === 7)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = q.queryExecution
    val rows = qe.executedPlan.executeCollect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(7))
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collect { case b: BatchScanExec => b }.head
    val scanned = scan.metrics("numOutputRows").value
    // without the logical→physical filter translation the renamed
    // table's scan reads ALL 40k rows forever (the S42 perf cliff);
    // with it, three of the four files' row groups skip
    assert(scanned <= 10000L,
      s"renamed scan emitted $scanned rows — pushed filters were dropped")
  }

  test("a running stream survives DROP COLUMN of a field it never reads") {
    val dir = freshTable("sg1")
    val v1 = ManifestTable.headVersion(spark, dir).get
    val full = spark.table("gcm.lake.sg1").schema
    val narrow = org.apache.spark.sql.types.StructType(
      full.fields.filter(_.name != "amt"))
    // the long-running query projects (k, v) only — `amt` is dead to it
    val stream = new graft.sources.GraftMicroBatchStream(dir, full, narrow,
      Array.empty, Map.empty, schemaVersion = v1)
    spark.sql("ALTER TABLE gcm.lake.sg1 DROP COLUMN amt")
    spark.sql("INSERT INTO gcm.lake.sg1 VALUES (100,'new')")
    val head = ManifestTable.headVersion(spark, dir).get
    stream.planInputPartitions(graft.sources.GraftStreamOffset(head - 1),
      graft.sources.GraftStreamOffset(head)): Unit
    stream.createReaderFactory(): Unit // must not throw — output unaffected
    // a query that DOES read the dropped field still fails loudly
    val reads = new graft.sources.GraftMicroBatchStream(dir, full, full,
      Array.empty, Map.empty, schemaVersion = v1)
    reads.planInputPartitions(graft.sources.GraftStreamOffset(head - 1),
      graft.sources.GraftStreamOffset(head)): Unit
    val e = intercept[IllegalStateException](reads.createReaderFactory())
    assert(e.getMessage.contains("amt"), e.getMessage)
    // ...as does one that only FILTERS on it (pushed-filter reference)
    val filtersOn = new graft.sources.GraftMicroBatchStream(dir, full, narrow,
      Array(org.apache.spark.sql.sources.GreaterThan("amt", 0.0)),
      Map.empty, schemaVersion = v1)
    filtersOn.planInputPartitions(graft.sources.GraftStreamOffset(head - 1),
      graft.sources.GraftStreamOffset(head)): Unit
    val e2 = intercept[IllegalStateException](filtersOn.createReaderFactory())
    assert(e2.getMessage.contains("amt"), e2.getMessage)
  }

  test("change feed and streaming ingest stay exact across a rename") {
    val dir = freshTable("r3")
    val v0 = ManifestTable.headVersion(spark, dir).get
    spark.sql("ALTER TABLE gcm.lake.r3 RENAME COLUMN k TO id")
    spark.sql("INSERT INTO gcm.lake.r3 VALUES (9,'z',0.5)")
    val v2 = ManifestTable.headVersion(spark, dir).get
    // feed across the rename: union shape anchors on the NEWER schema
    val feed = ManifestTable.changes(spark, dir, v0, v2)
    assert(feed.columns.contains("id"))
    assert(feed.collect().map(r =>
      (r.getAs[Int]("id"), r.getAs[String]("change_type"))).toSeq ==
      Seq((9, "insert")))
    // $changes unions per-pair feeds across the WHOLE retained history:
    // the pre-rename insert's rows must surface their values under the
    // head's logical name (aligned through the physical identity), not
    // null-filled by the union
    val hist = spark.sql("SELECT id, _commit_version FROM gcm.lake.`r3$changes`")
      .collect().map(r => (r.isNullAt(0), r.getLong(1)))
    assert(hist.nonEmpty && hist.forall(!_._1),
      s"pre-rename feed rows must carry the renamed column's values: " +
        hist.filter(_._1).take(3).mkString(","))
    assert(spark.sql("SELECT sum(id) FROM gcm.lake.`r3$changes` " +
      s"WHERE _commit_version = $v0").head.getLong(0) == 10L,
      "the pre-rename insert's values must align to the new name")
    // clustered streaming write (X15/X16 path) lands physical names
    val clusterDir = freshTable("r4")
    spark.sql("ALTER TABLE gcm.lake.r4 RENAME COLUMN k TO id")
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    mem.addData(21, 22)
    val q = mem.toDF().select(col("value").as("id"),
        concat(lit("s"), col("value")).as("v"),
        (col("value") * 1.0).as("amt"))
      .writeStream.format("graft")
      .option("path", clusterDir)
      .option("checkpointLocation",
        Files.createTempDirectory("cmapck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.sql("SELECT sum(id) FROM gcm.lake.r4").head.getLong(0) ==
      10L + 43L)
    val newDirs = ManifestTable.livePaths(fs, clusterDir)
      .filter(_.startsWith("ss-"))
    assert(newDirs.nonEmpty)
    assert(spark.read.parquet(s"$clusterDir/${newDirs.head}")
      .columns.contains("k"), "streamed files must store physical names")
  }
}
