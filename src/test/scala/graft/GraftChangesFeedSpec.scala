package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** S17/S32/X14 cost shape — the change feed's additive fast path:
  * spans made of appends / compactions / ALTERs produce the feed as a
  * plain scan of the appended dirs (zero shuffle, nothing read across
  * a compaction), while any DML step falls back to the bounded
  * manifest diff with identical semantics. */
class GraftChangesFeedSpec extends SparkTestBase {

  private def fs(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  private def freshDir(): String =
    Files.createTempDirectory("graft-cdcfast").toString + "/t"

  test("append-only span: the feed is a pure scan of the appended dirs — no shuffle") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    ManifestTable.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir,
      Seq("k"), retainGenerations = 20)
    val v1 = ManifestTable.headVersion(spark, dir).get
    ManifestTable.append(Seq((3, "c")).toDF("k", "v"), dir, Seq("k"), 20)
    ManifestTable.append(Seq((4, "d"), (4, "d")).toDF("k", "v"), dir, Seq("k"), 20)
    val v3 = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, v1, v3)
    val got = feed.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq((3, "c", "insert"), (4, "d", "insert"),
      (4, "d", "insert")), got)
    assert(!hasExchange(feed),
      "append-only feed must be a plain scan:\n" +
        feed.queryExecution.executedPlan)
  }

  test("a feed ACROSS a compaction is empty and reads nothing") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    ManifestTable.append((1 to 50).map(i => (i, s"v$i")).toDF("k", "v"),
      dir, Seq("k"), retainGenerations = 20)
    ManifestTable.append((51 to 90).map(i => (i, s"v$i")).toDF("k", "v"),
      dir, Seq("k"), 20)
    val before = ManifestTable.headVersion(spark, dir).get
    ManifestTable.compactAppend(spark, dir, Seq("k"), k = 2,
      retainGenerations = 20)
    val after = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, before, after)
    assert(feed.count() == 0L)
    assert(scannedFiles(feed).isEmpty,
      "a layout-only span must not open any data file")
    assert(!hasExchange(feed))
  }

  test("append + compact + ALTER + append span: feed = the appended batches only, still shuffle-free") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    ManifestTable.append((1 to 30).map(i => (i, s"v$i")).toDF("k", "v"),
      dir, Seq("k"), retainGenerations = 30)
    val v1 = ManifestTable.headVersion(spark, dir).get
    ManifestTable.append(Seq((100, "x")).toDF("k", "v"), dir, Seq("k"), 30)
    ManifestTable.compactAppend(spark, dir, Seq("k"), k = 2,
      retainGenerations = 30)
    ManifestTable.alterClusterBy(spark, dir, Seq("k"),
      retainGenerations = 30)
    ManifestTable.append(Seq((200, "y")).toDF("k", "v"), dir, Seq("k"), 30)
    val vN = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, v1, vN)
    val got = feed.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq((100, "x", "insert"), (200, "y", "insert")), got)
    assert(!hasExchange(feed))
    // the compaction's output dirs are NOT in the feed's inputs — only
    // the two appended dirs are read
    assert(scannedFiles(feed)
      .map(_.split("/").dropRight(1).last).distinct.length == 2,
      scannedFiles(feed))
  }

  // ---- write-side CDC materialization (TBLPROPERTIES cdc.materialize) ----

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-cdcmat").toString
    spark.conf.set("spark.sql.catalog.gcdc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdc.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcdc.lake")
    dir
  }

  private def freshTable(name: String, props: String): String = {
    wh: Unit
    spark.sql(s"DROP TABLE IF EXISTS gcdc.lake.$name")
    spark.sql(s"CREATE TABLE gcdc.lake.$name (k INT, v STRING) " +
      s"TBLPROPERTIES ('retainGenerations'='10','statsCols'='k'$props)")
    s"$wh/lake/$name"
  }

  test("cdc.materialize: an update step serves from staged change files — not both versions, no diff shuffle") {
    val dir = freshTable("m1", ",'cdc.materialize'='true'")
    spark.sql("INSERT INTO gcdc.lake.m1 VALUES (1,'a'),(2,'b'),(3,'c')")
    spark.sql("UPDATE gcdc.lake.m1 SET v = 'B' WHERE k = 2")
    val vN = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, vN - 1, vN)
    val got = feed.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq((2, "B", "insert"), (2, "b", "delete")), got)
    // the point of materialization: the feed reads the write-time
    // staged files, not the touched dirs of both versions
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/_cdc/")), feed.inputFiles.toSeq)
    assert(!hasExchange(feed),
      "a materialized step must be a plain scan:\n" +
        feed.queryExecution.executedPlan)
    // the t$changes surface inherits the staged route
    val tail = spark.sql("SELECT k, v, change_type FROM " +
      s"gcdc.lake.`m1$$changes` WHERE _commit_version = $vN")
    val got2 = tail.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got2 == got, got2)
  }

  test("a merge-on-read UPDATE pairs its halves: update_preimage/update_postimage (Delta CDF tags)") {
    val s = spark; import s.implicits._
    val dir = freshTable("m6",
      ",'cdc.materialize'='true','dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m6 VALUES (1,'a'),(2,'b'),(3,'c')")
    spark.sql("UPDATE gcdc.lake.m6 SET v = 'B' WHERE k = 2")
    val vU = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, vU - 1, vU)
    val got = feed.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq((2, "B", "update_postimage"),
                      (2, "b", "update_preimage")),
      s"the UPDATE's halves must arrive PAIRED: $got")
    assert(scannedFiles(feed).nonEmpty &&
      scannedFiles(feed).forall(_.contains("/_cdc/")),
      "pairing must ride the write-materialized route")
    // a MoR DELETE keeps the plain tag — only updates pair
    spark.sql("DELETE FROM gcdc.lake.m6 WHERE k = 3")
    val vD = ManifestTable.headVersion(spark, dir).get
    val del = ManifestTable.changes(spark, dir, vD - 1, vD).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(del == Seq((3, "c", "delete")), del)
    // the direct API pairs identically
    ManifestTable.updateWhereMoR(spark, dir, col("k") === 1,
      Seq("v" -> lit("A")), retainGenerations = 10): Unit
    val vA = ManifestTable.headVersion(spark, dir).get
    val api = ManifestTable.changes(spark, dir, vA - 1, vA).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(api == Seq((1, "A", "update_postimage"),
                      (1, "a", "update_preimage")), api)
    // MERGE pairing is EXACT too (per-record provenance through the
    // delta markers): one statement mixing an update, a delete and an
    // insert tags each image by its own clause
    spark.sql("""SELECT * FROM VALUES (2, 'BB', 'u'), (4, 'd', 'i'),
      (1, NULL, 'd') AS t(k, v, op)""").createOrReplaceTempView("m6src")
    spark.sql("""MERGE INTO gcdc.lake.m6 t USING m6src s ON t.k = s.k
                 WHEN MATCHED AND s.op = 'd' THEN DELETE
                 WHEN MATCHED THEN UPDATE SET v = s.v
                 WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val vM = ManifestTable.headVersion(spark, dir).get
    val mg = ManifestTable.changes(spark, dir, vM - 1, vM).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(mg == Seq((1, "A", "delete"),
                     (2, "B", "update_preimage"),
                     (2, "BB", "update_postimage"),
                     (4, "d", "insert")),
      s"MERGE images must tag by their own clause: $mg")
    // a replica consumer nets each pair to a replace (rank order, not
    // the raw tag — lexical order would delete the row)
    val repDir = Files.createTempDirectory("graft-cdcrep").toString + "/r"
    graft.sources.MergeInto.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), repDir, "k",
      nBuckets = 2)
    (vU to vA).foreach { v =>
      graft.sources.MergeInto.replicate(
        ManifestTable.changes(spark, dir, v - 1, v)
          .withColumn("k", col("k").cast("bigint")), repDir): Unit
    }
    val replica = graft.sources.MergeInto.read(spark, repDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(replica == Seq((1L, "A"), (2L, "B")),
      s"paired feed must replicate to the post-DML state: $replica")
  }

  test("paired CDC survives a branch publish: audited UPDATEs reach consumers as pre/post images (r19)") {
    val s = spark; import s.implicits._
    val dir = freshTable("m7",
      ",'cdc.materialize'='true','dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m7 VALUES (1,'a'),(2,'b'),(3,'c')")
    ManifestTable.createBranch(spark, dir, "audit"): Unit
    val bdir = ManifestTable.branchDirOf(dir, "audit")
    // the audit stages an UPDATE, a DELETE and an append on the branch
    ManifestTable.updateWhereMoR(spark, bdir, col("k") === 2,
      Seq("v" -> lit("B")), retainGenerations = 10): Unit
    ManifestTable.deleteWhereMoR(spark, bdir, col("k") === 3, Map.empty): Unit
    ManifestTable.append(Seq((9, "z")).toDF("k", "v"), bdir,
      statsCols = Seq("k")): Unit
    // the parent moves on (rebase publish, not fast-forward)
    spark.sql("INSERT INTO gcdc.lake.m7 VALUES (4,'d')")
    val vP = ManifestTable.publishBranch(spark, dir, "audit")
    // the publish step's feed serves the audited changes with EXACT
    // tags: the UPDATE stays paired, the delete and the append keep
    // their plain tags — no unpaired manifest-diff fallback
    val feed = ManifestTable.changes(spark, dir, vP - 1, vP)
    val got = feed.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq((2, "B", "update_postimage"),
                      (2, "b", "update_preimage"),
                      (3, "c", "delete"),
                      (9, "z", "insert")),
      s"the publish feed must carry the audited changes paired: $got")
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/_cdc/")),
      s"the publish step must serve STAGED, not re-diff: " +
        feed.inputFiles.toSeq)
    // a replica consumer crossing the publish nets the pair to a
    // replace (the whole point of carrying the pairing through)
    val repDir = Files.createTempDirectory("graft-cdcbr").toString + "/r"
    graft.sources.MergeInto.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), repDir, "k",
      nBuckets = 2)
    ((vP - 1) to vP).foreach { v =>
      graft.sources.MergeInto.replicate(
        ManifestTable.changes(spark, dir, v - 1, v)
          .withColumn("k", col("k").cast("bigint")), repDir): Unit
    }
    val replica = graft.sources.MergeInto.read(spark, repDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(replica == Seq((1L, "a"), (2L, "B"), (4L, "d"), (9L, "z")),
      s"replica must reach the post-publish state: $replica")
    // churn that breaks pairing falls back HONESTLY: update then delete
    // of the same row nets to a plain delete
    ManifestTable.createBranch(spark, dir, "churn"): Unit
    val bdir2 = ManifestTable.branchDirOf(dir, "churn")
    ManifestTable.updateWhereMoR(spark, bdir2, col("k") === 1,
      Seq("v" -> lit("A")), retainGenerations = 10): Unit
    ManifestTable.deleteWhereMoR(spark, bdir2, col("k") === 1, Map.empty): Unit
    val vC = ManifestTable.publishBranch(spark, dir, "churn")
    val churn = ManifestTable.changes(spark, dir, vC - 1, vC).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(churn == Seq((1, "a", "delete")),
      s"update-then-delete must NET to the delete: $churn")
  }

  test("publish pairing refuses UNRELATED surviving images: update-then-delete plus insert-then-update never publish as a pair (r20 advice)") {
    val s = spark; import s.implicits._
    val dir = freshTable("m9",
      ",'cdc.materialize'='true','dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m9 VALUES (1,'a'),(2,'b')")
    ManifestTable.createBranch(spark, dir, "adv"): Unit
    val bdir = ManifestTable.branchDirOf(dir, "adv")
    // row 1: updated then DELETED — its pre-image survives the net
    ManifestTable.updateWhereMoR(spark, bdir, col("k") === 1,
      Seq("v" -> lit("A")), retainGenerations = 10): Unit
    ManifestTable.deleteWhereMoR(spark, bdir, col("k") === 1, Map.empty): Unit
    // row 9: appended then UPDATED — its post-image survives the net
    ManifestTable.append(Seq((9, "z")).toDF("k", "v"), bdir,
      statsCols = Seq("k")): Unit
    ManifestTable.updateWhereMoR(spark, bdir, col("k") === 9,
      Seq("v" -> lit("Z")), retainGenerations = 10): Unit
    val vP = ManifestTable.publishBranch(spark, dir, "adv")
    val got = ManifestTable.changes(spark, dir, vP - 1, vP).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    // EQUAL COUNTS of surviving pre/post images (1 == 1 here) are NOT
    // pairing evidence — the images belong to different rows. The feed
    // must say delete + insert, never a fabricated update pair.
    assert(got == Seq((1, "a", "delete"), (9, "Z", "insert")),
      s"unrelated surviving images must publish as plain delete/insert: $got")
  }

  test("publish pairing is per-step: a clean update stays PAIRED even when a sibling step churned (r20)") {
    val dir = freshTable("m10",
      ",'cdc.materialize'='true','dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m10 VALUES (1,'a'),(2,'b'),(3,'c')")
    ManifestTable.createBranch(spark, dir, "mix"): Unit
    val bdir = ManifestTable.branchDirOf(dir, "mix")
    // step 1: clean update of row 2 — survives the net wholesale
    ManifestTable.updateWhereMoR(spark, bdir, col("k") === 2,
      Seq("v" -> lit("B")), retainGenerations = 10): Unit
    // steps 2+3: row 1 updated then deleted — its step must fall back
    ManifestTable.updateWhereMoR(spark, bdir, col("k") === 1,
      Seq("v" -> lit("A")), retainGenerations = 10): Unit
    ManifestTable.deleteWhereMoR(spark, bdir, col("k") === 1, Map.empty): Unit
    val vP = ManifestTable.publishBranch(spark, dir, "mix")
    val got = ManifestTable.changes(spark, dir, vP - 1, vP).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq((1, "a", "delete"),
                      (2, "B", "update_postimage"),
                      (2, "b", "update_preimage")),
      s"the untouched step's pairing must survive a sibling churn: $got")
  }

  test("a failed feed staging degrades OBSERVABLY: the publish lands, the span serves the diff, t$history flags it (r20)") {
    val dir = freshTable("m11",
      ",'cdc.materialize'='true','dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m11 VALUES (1,'a'),(2,'b')")
    // a healthy DML step for the feed_mode contrast below (appends
    // never stage — additive spans serve as a plain scan)
    spark.sql("UPDATE gcdc.lake.m11 SET v = 'A' WHERE k = 1")
    val stagedV = ManifestTable.headVersion(spark, dir).get
    ManifestTable.createBranch(spark, dir, "deg"): Unit
    val bdir = ManifestTable.branchDirOf(dir, "deg")
    ManifestTable.updateWhereMoR(spark, bdir, col("k") === 2,
      Seq("v" -> lit("B")), retainGenerations = 10): Unit
    // brick the PARENT's staging area: a plain FILE where the _cdc dir
    // goes makes the feed's parquet write throw — the staging-failure
    // shape (anchor-unabsorbable evolution / staging-area IO error)
    val f = fs(dir)
    val cdcRoot = new org.apache.hadoop.fs.Path(dir, "_cdc")
    f.delete(cdcRoot, true)
    f.create(cdcRoot, true).close()
    try {
      // the publish itself must SUCCEED — feed staging is best-effort
      val vP = ManifestTable.publishBranch(spark, dir, "deg")
      // the span serves the honest manifest diff (unpaired)...
      val got = ManifestTable.changes(spark, dir, vP - 1, vP).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
      assert(got == Seq((2, "B", "insert"), (2, "b", "delete")),
        s"a degraded span serves the diff shape: $got")
      // ...and the degradation is OBSERVABLE, not silent: consumers
      // expecting paired images branch on t$history.feed_mode
      val modes = spark.sql(
        "SELECT version, feed_mode FROM gcdc.lake.`m11$history`")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(modes.get(vP).contains("degraded"),
        s"the publish step must be flagged degraded: $modes")
      assert(modes.get(stagedV).contains("staged"),
        s"the healthy UPDATE step stays 'staged': $modes")
    } finally { f.delete(cdcRoot, false): Unit }
  }

  test("paired CDC through a publish survives a branch-side ADD COLUMN (r19)") {
    val dir = freshTable("m8",
      ",'cdc.materialize'='true','dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m8 VALUES (1,'a'),(2,'b')")
    ManifestTable.createBranch(spark, dir, "ev"): Unit
    // the branch EVOLVES the schema mid-audit, then updates through it
    spark.sql("ALTER TABLE gcdc.lake.`m8$branch$ev` ADD COLUMN n INT")
    spark.sql(
      "UPDATE gcdc.lake.`m8$branch$ev` SET v = 'B', n = 7 WHERE k = 2")
    val vP = ManifestTable.publishBranch(spark, dir, "ev")
    val feed = ManifestTable.changes(spark, dir, vP - 1, vP)
    val got = feed.collect().map(r => (r.getInt(0), r.getString(1),
      if (r.isNullAt(2)) -1 else r.getInt(2), r.getString(3))).sorted.toSeq
    assert(got == Seq((2, "B", 7, "update_postimage"),
                      (2, "b", -1, "update_preimage")),
      s"the evolved-schema publish feed must stay PAIRED on the union " +
        s"shape (pre null-fills the new column): $got")
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/_cdc/")),
      "the evolved publish step must still serve STAGED")
  }

  test("a diff feed across ADD COLUMN reads the masked older side through the newer anchor") {
    val dir = freshTable("m12", ",'dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m12 VALUES (1,'a'),(2,'b'),(3,'c')")
    spark.sql("DELETE FROM gcdc.lake.m12 WHERE k = 2")
    val masked = ManifestTable.headVersion(spark, dir).get
    spark.sql("ALTER TABLE gcdc.lake.m12 ADD COLUMN n INT")
    spark.sql("UPDATE gcdc.lake.m12 SET n = 7 WHERE k = 3")
    val vN = ManifestTable.headVersion(spark, dir).get
    // the older side's rows are the masked version's (k=2 stays
    // deleted), shaped by the newer version's schema (n null-fills)
    val got = ManifestTable.changes(spark, dir, masked, vN).collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2), r.getString(3))).sorted.toSeq
    assert(got == Seq((3, "c", -1, "delete"), (3, "c", 7, "insert")), got)
  }

  test("a publish's staged feed reads a MASKED parent base dir through the base masks") {
    val dir = freshTable("m13",
      ",'cdc.materialize'='true','dml.mode'='merge-on-read'")
    spark.sql("INSERT INTO gcdc.lake.m13 VALUES (1,'a'),(2,'b'),(3,'c')")
    spark.sql("DELETE FROM gcdc.lake.m13 WHERE k = 2")
    ManifestTable.createBranch(spark, dir, "mb"): Unit
    spark.sql("DELETE FROM gcdc.lake.`m13$branch$mb` WHERE k = 3")
    val vP = ManifestTable.publishBranch(spark, dir, "mb")
    val feed = ManifestTable.changes(spark, dir, vP - 1, vP)
    val got = feed.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    // k=2 was masked at the base: the older side must not serve it
    assert(got == Seq((3, "c", "delete")), got)
    assert(scannedFiles(feed).nonEmpty &&
      scannedFiles(feed).forall(_.contains("/_cdc/")),
      "the publish step must serve its staged feed")
    assert(ManifestTable.read(spark, dir).collect().map(_.getInt(0)).toSeq ==
      Seq(1))
  }

  test("materialized feed equals the read-time diff fallback exactly") {
    val dirOn = freshTable("m2", ",'cdc.materialize'='true'")
    val dirOff = freshTable("m3", "")
    Seq("m2", "m3").foreach { t =>
      spark.sql(s"INSERT INTO gcdc.lake.$t VALUES (1,'a'),(2,'b'),(3,'c')")
      spark.sql(s"INSERT INTO gcdc.lake.$t VALUES (4,'d')")
      spark.sql(s"DELETE FROM gcdc.lake.$t WHERE k IN (2, 4)")
    }
    def tail(d: String) = {
      val v = ManifestTable.headVersion(spark, d).get
      ManifestTable.changes(spark, d, v - 1, v)
    }
    val (on, off) = (tail(dirOn), tail(dirOff))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(rows(on) == rows(off), (rows(on), rows(off)))
    assert(rows(on) == Seq((2, "b", "delete"), (4, "d", "delete")))
    assert(scannedFiles(on).nonEmpty &&
      scannedFiles(on).forall(_.contains("/_cdc/")), scannedFiles(on))
    assert(scannedFiles(off).exists(!_.contains("/_cdc/")),
      "the property-less table must take the diff route")
  }

  test("a DML that changes nothing records the empty token — the feed step opens zero files") {
    val dir = freshTable("m4", ",'cdc.materialize'='true'")
    spark.sql("INSERT INTO gcdc.lake.m4 VALUES (1,'a'),(2,'b')")
    spark.sql("UPDATE gcdc.lake.m4 SET v = v WHERE k = 1") // identity write
    val vN = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, vN - 1, vN)
    assert(feed.count() == 0L)
    assert(scannedFiles(feed).isEmpty,
      "an empty materialized step must not open any file: " +
        scannedFiles(feed))
  }

  test("vacuum reaps unreferenced staged CDC dirs, keeps referenced ones") {
    val dir = freshTable("m5", ",'cdc.materialize'='true'")
    spark.sql("INSERT INTO gcdc.lake.m5 VALUES (1,'a'),(2,'b')")
    spark.sql("UPDATE gcdc.lake.m5 SET v = 'B' WHERE k = 2")
    val f = fs(dir)
    val cdcRoot = new org.apache.hadoop.fs.Path(dir, "_cdc")
    assert(f.exists(cdcRoot) && f.listStatus(cdcRoot).length == 1)
    // plant an orphan staging dir (a crashed writer's leavings), age
    // everything under _cdc, and sweep: the orphan dies, the staged
    // dir a retained manifest references survives
    val orphan = new org.apache.hadoop.fs.Path(cdcRoot, "c-orphan00")
    f.mkdirs(orphan)
    ageTree(f, cdcRoot, 48L * 3600 * 1000)
    ManifestTable.vacuum(spark, dir, retainGenerations = 10)
    val left = f.listStatus(cdcRoot).map(_.getPath.getName).toSeq
    assert(left.length == 1 && left.head != "c-orphan00", left)
    // and the feed still serves from the surviving staged dir
    val vN = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, vN - 1, vN)
    assert(feed.count() == 2L)
    assert(scannedFiles(feed).nonEmpty &&
      scannedFiles(feed).forall(_.contains("/_cdc/")), scannedFiles(feed))
  }

  test("a DML step in the span falls back to the exact manifest diff") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    ManifestTable.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"),
      dir, Seq("k"), retainGenerations = 20)
    val v1 = ManifestTable.headVersion(spark, dir).get
    ManifestTable.append(Seq((4, "d")).toDF("k", "v"), dir, Seq("k"), 20)
    ManifestTable.deleteWhere(spark, dir, col("k") === 2,
      retainGenerations = 20)
    val vN = ManifestTable.headVersion(spark, dir).get
    val feed = ManifestTable.changes(spark, dir, v1, vN)
    val got = feed.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    // endpoint semantics: +4 inserted, 2 deleted; 1/3 untouched.
    // (1,a)/(3,c) live in a REWRITTEN dir now, so the diff nets them out
    assert(got == Seq((2, "b", "delete"), (4, "d", "insert")), got)
  }
}
