package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{GraftStreamOffset, ManifestTable}

/** S41 — merge-on-read deletion vectors: a DELETE on a
  * `dml.mode=merge-on-read` table stages (file, position) masks under
  * `_dv/` and commits METADATA ONLY — zero data dirs rewritten — and
  * every read surface (catalog SQL via the V2 scan, the engine
  * DataFrame reads, the V1 relation, range scans, time travel, the
  * change feed) serves the masked logical table exactly. Compaction
  * materializes masks away; every metadata commit carries them. */
class GraftDvSpec extends SparkTestBase {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-dv").toString
    spark.conf.set("spark.sql.catalog.gdv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdv.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdv.lake")
    dir
  }
  private def fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())

  /** Four disjoint-range inserts → four commit dirs, MoR mode. */
  private def fourDirTable(name: String): String = {
    wh: Unit
    spark.sql(s"DROP TABLE IF EXISTS gdv.lake.$name")
    spark.sql(s"CREATE TABLE gdv.lake.$name (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10', " +
      "'dml.mode'='merge-on-read')")
    (0 until 4).foreach { b =>
      val lo = b * 10
      spark.sql(s"INSERT INTO gdv.lake.$name VALUES " +
        (lo until lo + 5).map(k => s"($k,'v$k')").mkString(","))
    }
    s"$wh/lake/$name"
  }

  private def ks(table: String): Seq[Int] =
    spark.table(table).collect().map(_.getInt(0)).sorted.toSeq

  test("1-row DELETE on a 4-dir MoR table rewrites ZERO data dirs") {
    val dir = fourDirTable("m1")
    val v0 = ManifestTable.headVersion(spark, dir).get
    val before = ManifestTable.livePaths(fs, dir)
    assert(before.size == 4)
    spark.sql("DELETE FROM gdv.lake.m1 WHERE k = 12")
    val v1 = ManifestTable.headVersion(spark, dir).get
    assert(v1 == v0 + 1)
    // the manifest's PATH LIST is byte-identical — no dir was written,
    // none dropped; only the dv channel changed
    assert(ManifestTable.livePaths(fs, dir) == before,
      "a merge-on-read delete must not rewrite or drop any data dir")
    val dv = ManifestTable.dvOf(fs, dir, v1)
    assert(dv.size == 1, s"exactly the touched dir carries a mask: $dv")
    assert(ManifestTable.dvEntries(dv.values.head).map(_._2).sum == 1L)
    assert(fs.exists(new Path(dir, "_dv")), "positions staged under _dv")
    // V2 scan (catalog SQL), engine read, V1 relation — all masked
    val expect = (0 until 20).map(b => b / 5 * 10 + b % 5).filter(_ != 12)
    assert(ks("gdv.lake.m1") == expect)
    assert(ManifestTable.read(spark, dir).collect().map(_.getInt(0)).sorted
      .toSeq == expect)
    assert(spark.read.format("graft-manifest").load(dir)
      .collect().map(_.getInt(0)).sorted.toSeq == expect)
    // count(*) must be the LOGICAL count (the metadata-only aggregate
    // pushdown declines under masks — physical stats would say 20)
    assert(spark.sql("SELECT count(*) FROM gdv.lake.m1").head.getLong(0) == 19L)
    // range scan over the masked dir prunes the others AND masks
    val rs = ManifestTable.rangeScan(spark, dir, "k", "10", "14")
    assert(rs.collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 11, 13, 14))
    // $files surfaces the outstanding mask debt per dir
    val mf = spark.sql("SELECT masked_positions FROM gdv.lake.`m1$files` " +
      "WHERE masked_positions IS NOT NULL").collect()
    assert(mf.length == 1 && mf.head.getLong(0) == 1L, mf.toSeq)
  }

  test("stacked deletes extend the mask; time travel stays exact") {
    val dir = fourDirTable("m2")
    val v0 = ManifestTable.headVersion(spark, dir).get
    spark.sql("DELETE FROM gdv.lake.m2 WHERE k = 12")
    val v1 = ManifestTable.headVersion(spark, dir).get
    spark.sql("DELETE FROM gdv.lake.m2 WHERE k IN (13, 30)")
    val v2 = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.livePaths(fs, dir).size == 4)
    val dv2 = ManifestTable.dvOf(fs, dir, v2)
    assert(dv2.size == 2, s"two dirs masked after the second delete: $dv2")
    // the 10..14 dir carries TWO stacked entries (k=12 then k=13)
    assert(dv2.values.exists(p => ManifestTable.dvEntries(p).size == 2))
    assert(!ks("gdv.lake.m2").exists(Set(12, 13, 30)))
    assert(ks("gdv.lake.m2").size == 17)
    // time travel: each version reads through ITS OWN masks
    assert(ManifestTable.readVersion(spark, dir, v0).count() == 20L)
    assert(ManifestTable.readVersion(spark, dir, v1).count() == 19L)
    assert(spark.sql(s"SELECT count(*) FROM gdv.lake.m2 VERSION AS OF $v1")
      .head.getLong(0) == 19L)
    // the change feed across the DV commits is exact: one delete row
    // per step, old images surfaced
    val f1 = ManifestTable.changes(spark, dir, v0, v1).collect()
    assert(f1.length == 1 && f1.head.getAs[String]("change_type") == "delete"
      && f1.head.getInt(0) == 12, f1.mkString(","))
    val f2 = ManifestTable.changes(spark, dir, v1, v2).collect()
    assert(f2.map(r => (r.getInt(0), r.getAs[String]("change_type"))).sorted
      .toSeq == Seq((13, "delete"), (30, "delete")))
    // endpoint-spanning feed nets the same three deletes
    val f = ManifestTable.changes(spark, dir, v0, v2).collect()
    assert(f.map(_.getInt(0)).sorted.toSeq == Seq(12, 13, 30) &&
      f.forall(_.getAs[String]("change_type") == "delete"))
  }

  test("merge-on-read UPDATE: mask + one fresh dir, untouched dirs intact") {
    val dir = fourDirTable("m3")
    val before = ManifestTable.livePaths(fs, dir)
    ManifestTable.updateWhereMoR(spark, dir, col("k") === 21,
      Seq("v" -> lit("UPDATED")),
      bounds = Map("k" -> ("21", "21")), retainGenerations = 10)
    val after = ManifestTable.livePaths(fs, dir)
    assert(before.toSet.subsetOf(after.toSet),
      "MoR update keeps every existing dir")
    val fresh = after.filterNot(before.toSet)
    assert(after.size == 5 && fresh.size == 1,
      s"updated images land as one fresh dir: $after")
    val got = spark.table("gdv.lake.m3").where(col("k") === 21)
      .select("v").collect().map(_.getString(0)).toSeq
    assert(got == Seq("UPDATED"), got)
    assert(ks("gdv.lake.m3").size == 20, "update preserves the row count")
    // the fresh dir records stats, so range pruning keeps working
    val head = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.statsOf(fs, dir, head).contains(fresh.head))
  }

  test("CoW DML over a masked dir must not resurrect masked rows") {
    val dir = fourDirTable("m4")
    spark.sql("DELETE FROM gdv.lake.m4 WHERE k = 11")
    // the DIRECT CoW API ignores dml.mode by design — it must read the
    // dv'd dir through its masks, so k=11 stays gone and the rewritten
    // dir sheds its mask entry with the dir
    ManifestTable.updateWhere(spark, dir, col("k") === 10,
      Seq("v" -> lit("X")), bounds = Map("k" -> ("10", "10")),
      retainGenerations = 10)
    val after = ks("gdv.lake.m4")
    assert(!after.contains(11), "CoW update resurrected a masked row")
    assert(after.size == 19)
    val head = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.dvOf(fs, dir, head).isEmpty,
      "the rewritten dir's mask entry must drop with the dir")
    // direct-API CoW delete over a fresh mask: same contract
    spark.sql("DELETE FROM gdv.lake.m4 WHERE k = 22")
    ManifestTable.deleteWhere(spark, dir, col("k") === 20,
      bounds = Map("k" -> ("20", "20")), retainGenerations = 10)
    assert(!ks("gdv.lake.m4").exists(Set(20, 22)))
  }

  test("SQL UPDATE on a MoR table commits mask + ONE fresh dir") {
    val dir = fourDirTable("m11")
    val before = ManifestTable.livePaths(fs, dir)
    spark.sql("UPDATE gdv.lake.m11 SET v = 'UP' WHERE k IN (3, 21)")
    val after = ManifestTable.livePaths(fs, dir)
    // zero standing dirs rewritten: every pre-update dir still listed,
    // plus exactly one fresh dir of updated images
    assert(before.toSet.subsetOf(after.toSet),
      s"SQL UPDATE on a merge-on-read table rewrote standing dirs: " +
        s"$before -> $after")
    assert(after.size == before.size + 1 && after.exists(_.startsWith("pd-")),
      s"expected one fresh pd- images dir: $after")
    val head = ManifestTable.headVersion(spark, dir).get
    val dv = ManifestTable.dvOf(fs, dir, head)
    assert(dv.size == 2 &&
      dv.valuesIterator.flatMap(ManifestTable.dvEntries(_).map(_._2)).sum == 2L,
      s"each touched dir masks its old image: $dv")
    // logical table exact: count preserved, both rows updated, via the
    // V2 scan AND the DataFrame kernel
    assert(ks("gdv.lake.m11").size == 20)
    val got = spark.table("gdv.lake.m11").where(col("v") === "UP")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(3, 21), got.mkString(","))
    assert(ManifestTable.read(spark, dir).where(col("v") === "UP").count() == 2L)
    // the fresh dir records stats (skipping keeps working)
    val pd = after.find(_.startsWith("pd-")).get
    assert(ManifestTable.statsOf(fs, dir, head).contains(pd))
  }

  test("SQL MERGE into a MoR table: masks + fresh dir, zero rewrites") {
    val dir = fourDirTable("m12")
    val before = ManifestTable.livePaths(fs, dir)
    spark.sql(
      """MERGE INTO gdv.lake.m12 t
        |USING (SELECT * FROM VALUES (2, 'merged'), (13, 'merged'),
        |       (99, 'new') AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = ManifestTable.livePaths(fs, dir)
    assert(before.toSet.subsetOf(after.toSet),
      "MERGE on a merge-on-read table must not rewrite standing dirs")
    // one dir per IMAGE KIND (fresh inserts / update post-images) —
    // the split is what keeps the CDC feed's per-record tags exact
    assert(after.size == before.size + 2,
      s"two fresh images dirs (inserts + post-images): $after")
    assert(ks("gdv.lake.m12").size == 21) // 20 + 1 inserted
    val byK = spark.table("gdv.lake.m12").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byK(2) == "merged" && byK(13) == "merged" && byK(99) == "new")
    assert(byK(3) == "v3", "untouched rows byte-identical")
    // SQL DELETE with a NON-translatable condition (subquery) also
    // rides the position delta: mask only, no fresh dir
    val mid = ManifestTable.livePaths(fs, dir)
    spark.sql("DELETE FROM gdv.lake.m12 WHERE k IN " +
      "(SELECT k FROM gdv.lake.m12 WHERE v = 'new')")
    assert(ManifestTable.livePaths(fs, dir).toSet == mid.toSet,
      "subquery DELETE on MoR must be mask-only")
    assert(ks("gdv.lake.m12").size == 20 && !ks("gdv.lake.m12").contains(99))
    // WHEN NOT MATCHED BY SOURCE: target-only rows delete as masks too
    val mid2 = ManifestTable.livePaths(fs, dir)
    spark.sql(
      """MERGE INTO gdv.lake.m12 t
        |USING (SELECT * FROM VALUES (0, 'keep') AS s(k, v)) s
        |ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE AND t.k >= 30 THEN DELETE""".stripMargin)
    assert(ManifestTable.livePaths(fs, dir).toSet == mid2.toSet,
      "NOT MATCHED BY SOURCE delete on MoR must be mask-only")
    assert(ks("gdv.lake.m12") == (0 until 20)
      .map(b => b / 5 * 10 + b % 5).filter(_ < 30),
      "rows >= 30 unmatched by source must be masked out")
  }

  test("SQL MoR DELETE runs no job past its write; UPDATE only lands its images") {
    val dir = fourDirTable("m13")
    // non-translatable conditions (k % 5): both ride the position delta
    val del = jobsOf(spark.sql("DELETE FROM gdv.lake.m13 WHERE k % 5 = 0"))
    val upd = jobsOf(spark.sql("UPDATE gdv.lake.m13 SET v = 'UP' WHERE k % 5 = 1"))
    // the task writers emit the masks and the commit messages carry
    // every count: past the statement's own write job, the DELETE
    // commit needs no job at all, the UPDATE commit one (landing its
    // post-images)
    assert(del <= 1, s"SQL MoR DELETE ran $del jobs")
    assert(upd <= 2, s"SQL MoR UPDATE ran $upd jobs")
    val all = (0 until 20).map(b => b / 5 * 10 + b % 5)
    assert(ks("gdv.lake.m13") == all.filter(_ % 5 != 0))
    assert(spark.table("gdv.lake.m13").where(col("v") === "UP")
      .collect().map(_.getInt(0)).sorted.toSeq == all.filter(_ % 5 == 1))
    val head = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.dvDeletedRows(ManifestTable.dvOf(fs, dir, head)) == 8L)
  }

  test("every dv entry's row count is its exact position-record count") {
    // the lemma dvDeletedRows and S21's metadata-only COUNT(*) rest on,
    // with one commit dir's files split across several scan tasks — so
    // one dir's masks come from several task writers
    val maxPart = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val openCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      wh: Unit
      val t = "gdv.lake.m14"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k INT, v STRING) " +
        "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10', " +
        "'dml.mode'='merge-on-read')")
      (0 until 4).foreach { b =>
        spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(3) */ " +
          s"CAST(id AS INT) AS k, concat('v', id) AS v " +
          s"FROM range(${b * 1000}, ${b * 1000 + 300})")
      }
      val dir = s"$wh/lake/m14"
      def checkEntries(stmt: String): Unit = {
        val head = ManifestTable.headVersion(spark, dir).get
        val dv = ManifestTable.dvOf(fs, dir, head)
        assert(dv.nonEmpty, s"$stmt left no masks")
        dv.valuesIterator.flatMap(ManifestTable.dvEntries).foreach {
          case (dvDir, n) =>
            val recs = spark.read.schema(ManifestTable.DvSchema)
              .parquet(ManifestTable.absPath(dir, dvDir)).count()
            assert(recs == n, s"after $stmt: $dvDir@$n holds $recs records")
        }
        val full = spark.table(t).collect().length.toLong
        assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == full,
          s"after $stmt: metadata count disagrees with the full scan")
      }
      spark.sql(s"DELETE FROM $t WHERE k % 5 = 0")
      // the scenario under test: some dir's masks came from >= 2 tasks
      val head = ManifestTable.headVersion(spark, dir).get
      val dvFiles = ManifestTable.dvOf(fs, dir, head).valuesIterator
        .flatMap(ManifestTable.dvEntries).map { case (d, _) =>
          fs.listStatus(new Path(ManifestTable.absPath(dir, d)))
            .count(_.getPath.getName.endsWith(".parquet")) }.toSeq
      assert(dvFiles.exists(_ >= 2),
        s"no commit dir was split across scan tasks: $dvFiles")
      checkEntries("DELETE")
      spark.sql(s"UPDATE $t SET v = 'UP' WHERE k % 5 = 1")
      checkEntries("UPDATE")
      spark.sql(
        s"""MERGE INTO $t t
           |USING (SELECT CAST(id AS INT) AS k, 'M' AS v FROM range(0, 4000)
           |       WHERE id % 5 = 2) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      checkEntries("MERGE")
      // 1200 rows, 240 deleted; of the merge's 800 keys with k % 5 = 2,
      // 240 match standing rows and 560 insert
      assert(spark.table(t).count() == 1200L - 240L + 560L)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", maxPart)
      spark.conf.set("spark.sql.files.openCostInBytes", openCost)
    }
  }

  test("SQL position-delta UPDATE on a shallow CLONE: masks land in the clone, source untouched") {
    val dir = fourDirTable("m14")
    val target = s"$wh/lake/m14c"
    ManifestTable.shallowClone(spark, dir, target)
    // the clone's manifest lists FOREIGN (absolute) dirs; dml.mode rode
    // the cloned meta, so SQL UPDATE routes through the position delta
    // and must derive each foreign file's commit-dir key correctly
    spark.sql("UPDATE gdv.lake.m14c SET v = 'CLONED' WHERE k = 12")
    val got = spark.table("gdv.lake.m14c").where(col("k") === 12)
      .select("v").collect().map(_.getString(0)).toSeq
    assert(got == Seq("CLONED"), got)
    assert(spark.table("gdv.lake.m14c").count() == 20L)
    // masks + fresh images belong to the CLONE...
    val cfs = new Path(target).getFileSystem(spark.sessionState.newHadoopConf())
    val head = ManifestTable.headVersion(spark, target).get
    assert(ManifestTable.dvOf(cfs, target, head).size == 1)
    assert(fs.exists(new Path(target, "_dv")))
    // ...and the SOURCE still serves the original row
    assert(spark.table("gdv.lake.m14").where(col("k") === 12)
      .select("v").head.getString(0) == "v12")
    assert(!fs.exists(new Path(dir, "_dv")),
      "a clone's masks must never land under the source table")
  }

  test("a masked table's scan stays COLUMNAR (clean dirs zero-copy)") {
    val dir = fourDirTable("m13")
    spark.sql("DELETE FROM gdv.lake.m13 WHERE k = 12")
    val df = spark.table("gdv.lake.m13")
    assert(df.collect().map(_.getInt(0)).sorted.toSeq ==
      (0 until 20).map(b => b / 5 * 10 + b % 5).filter(_ != 12))
    // the executed plan's scan over the masked table must report
    // columnar: one 1-row MoR DELETE no longer demotes the whole scan
    // to row-based reads until compaction
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = df.queryExecution
    qe.executedPlan.executeCollect(): Unit
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, s"no BatchScanExec in:\n$plan")
    assert(scans.forall(_.supportsColumnar),
      "masked scan demoted to row-based reads")
    dir: Unit
  }

  test("a position-emitting scan stays COLUMNAR (the S43 delta-DML candidate read)") {
    val dir = fourDirTable("m15")
    def pairs(): Map[Int, (String, Long)] =
      spark.table("gdv.lake.m15")
        .select(col("k"), col("_graft_file"), col("_graft_pos"))
        .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2)))
        .toMap
    // positions are per-FILE row indexes: the logical (file, pos) ids
    // after a MoR delete are exactly the pre-delete ids minus the
    // masked row's — whatever file layout the insert produced
    val before = pairs()
    assert(before.size == 20)
    spark.sql("DELETE FROM gdv.lake.m15 WHERE k = 12")
    assert(pairs() == before - 12)
    val df = spark.table("gdv.lake.m15")
      .select(col("k"), col("_graft_file"), col("_graft_pos"))
    assert(df.count() == 19)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val qe = df.queryExecution
    qe.executedPlan.executeCollect(): Unit
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "pos-emitting scan demoted to row-based reads")
    // the consumer of that read path end-to-end: SQL position-delta
    // UPDATE over the still-masked table
    spark.sql("UPDATE gdv.lake.m15 SET v = concat(v, '!') WHERE k = 13")
    assert(spark.table("gdv.lake.m15").where(col("k") === 13)
      .select("v").head.getString(0) == "v13!")
    assert(ks("gdv.lake.m15").size == 19)
    dir: Unit
  }

  test("a masked scan builds its reader factory once per query") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // the scan node of the physical plan and the one that executes are
    // distinct copies; each asks the scan for its factory, and building
    // one loads the masks and broadcasts the Hadoop confs
    def scans(t: String): (BatchScanExec, BatchScanExec) = {
      val qe = spark.table(t).queryExecution
      val planned = qe.sparkPlan.collect { case b: BatchScanExec => b }
      qe.executedPlan.executeCollect(): Unit
      val executed = (qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case b: BatchScanExec => b }
      assert(planned.size == 1 && executed.size == 1,
        s"one scan expected in:\n${qe.executedPlan}")
      (planned.head, executed.head)
    }
    fourDirTable("m16")
    spark.sql("DELETE FROM gdv.lake.m16 WHERE k = 12")
    fourDirTable("m17")
    Seq("gdv.lake.m16" -> true, "gdv.lake.m17" -> false).foreach {
      case (t, masked) =>
        val (planned, executed) = scans(t)
        assert(planned.readerFactory.isInstanceOf[
          graft.sources.GraftDvReaderFactory] == masked, t)
        assert(planned.readerFactory eq executed.readerFactory,
          s"$t: the scan built its reader factory twice")
    }
    assert(ks("gdv.lake.m16") ==
      (0 until 20).map(b => b / 5 * 10 + b % 5).filter(_ != 12))
  }

  test("runtime group filtering that narrows away every masked dir keeps the masks") {
    wh: Unit
    val t = "gdv.lake.m18"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10', " +
      "'dml.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $t VALUES " +
      (0 until 5).map(k => s"($k,'v$k')").mkString(","))
    spark.sql(s"INSERT INTO $t VALUES " +
      (10 until 15).map(k => s"($k,'v$k')").mkString(","))
    val dir = s"$wh/lake/m18"
    spark.sql(s"DELETE FROM $t WHERE k = 2")
    // from here on DML rewrites whole dirs (copy-on-write); the masked
    // dir holds no match, so runtime group filtering must narrow it
    // away and leave it — and its mask — standing
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('dml.mode'='copy-on-write')")
    val dv0 = ManifestTable.dvOf(fs, dir,
      ManifestTable.headVersion(spark, dir).get)
    assert(dv0.size == 1, s"one masked dir: $dv0")
    def checkMasks(stmt: String, clean: String): Unit = {
      val head = ManifestTable.headVersion(spark, dir).get
      assert(ManifestTable.dvOf(fs, dir, head) == dv0,
        s"after $stmt the pre-existing masks changed")
      val live = ManifestTable.livePaths(fs, dir)
      assert(live.contains(dv0.keys.head),
        s"after $stmt the masked dir was rewritten")
      assert(!live.contains(clean), s"$stmt did not rewrite the clean dir")
    }
    def cleanDir(): String =
      ManifestTable.livePaths(fs, dir).filterNot(dv0.contains).head
    // join condition and k * 2 = 26 are not stats-translatable: only
    // the runtime group filter can prune the masked dir
    val clean0 = cleanDir()
    spark.sql(
      s"""MERGE INTO $t t
         |USING (SELECT * FROM VALUES (11, 'M') AS s(k, v)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    checkMasks("MERGE", clean0)
    val clean1 = cleanDir()
    spark.sql(s"UPDATE $t SET v = 'U' WHERE k * 2 = 26")
    checkMasks("UPDATE", clean1)
    val expect = ((0 until 5) ++ (10 until 15)).filter(_ != 2)
      .map(k => k -> (if (k == 11) "M" else if (k == 13) "U" else s"v$k"))
      .toMap
    assert(spark.table(t).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap == expect)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 9L)
  }

  test("compaction materializes masks away; GC sweeps the dv dirs") {
    val dir = fourDirTable("m5")
    spark.sql("DELETE FROM gdv.lake.m5 WHERE k IN (2, 12)")
    assert(ManifestTable.dvOf(fs, dir,
      ManifestTable.headVersion(spark, dir).get).size == 2)
    ManifestTable.compactAppend(spark, dir, Seq("k"), k = 2,
      retainGenerations = 1)
    val head = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.dvOf(fs, dir, head).isEmpty,
      "compaction output carries no masks")
    assert(ks("gdv.lake.m5").size == 18 &&
      !ks("gdv.lake.m5").exists(Set(2, 12)))
    // with retention 1 nothing references the dv dirs; age them past
    // the orphan grace window and vacuum sweeps them
    val dvRoot = new Path(dir, "_dv")
    assert(fs.exists(dvRoot) && fs.listStatus(dvRoot).nonEmpty)
    ageTree(fs, dvRoot, 3L * 60 * 60 * 1000)
    ManifestTable.vacuum(spark, dir, retainGenerations = 1)
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty,
      "unreferenced dv dirs must die by GC")
  }

  test("incremental compaction folds masked dirs even when disjoint") {
    val dir = fourDirTable("m6")
    spark.sql("DELETE FROM gdv.lake.m6 WHERE k = 31")
    // the four dirs are disjoint and <= k, which would normally no-op —
    // but a masked dir must fold so its mask materializes
    val v = ManifestTable.compactIncremental(spark, dir, Seq("k"), k = 8,
      retainGenerations = 10)
    assert(v > 0 && ManifestTable.dvOf(fs, dir, v).isEmpty)
    assert(ks("gdv.lake.m6").size == 19 && !ks("gdv.lake.m6").contains(31))
  }

  test("metadata commits carry masks: ALTER, tag, restore, clone") {
    val dir = fourDirTable("m7")
    val v0 = ManifestTable.headVersion(spark, dir).get
    spark.sql("DELETE FROM gdv.lake.m7 WHERE k = 3")
    val v1 = ManifestTable.headVersion(spark, dir).get
    // ALTER TABLE rides alterHead — masks must survive the re-publish
    spark.sql("ALTER TABLE gdv.lake.m7 SET TBLPROPERTIES ('note'='x')")
    assert(ks("gdv.lake.m7").size == 19, "ALTER dropped deletion vectors")
    // tag: pointer commit, masks carried
    ManifestTable.tag(spark, dir, "with-mask", retainGenerations = 10)
    assert(ManifestTable.dvOf(fs, dir,
      ManifestTable.headVersion(spark, dir).get).size == 1)
    // restore to the pre-delete version brings the row BACK (the
    // restored version had no mask)...
    ManifestTable.restore(spark, dir, v0, retainGenerations = 10)
    assert(ks("gdv.lake.m7").size == 20)
    // ...and restoring the post-delete version re-applies its mask
    ManifestTable.restore(spark, dir, v1, retainGenerations = 10)
    assert(ks("gdv.lake.m7").size == 19 && !ks("gdv.lake.m7").contains(3))
    // shallow clone: masks clone with the data (fully-qualified), the
    // clone reads the same logical table
    val target = s"$wh/lake/m7clone"
    ManifestTable.shallowClone(spark, dir, target)
    assert(ManifestTable.read(spark, target).count() == 19L)
    assert(spark.table("gdv.lake.m7clone").collect()
      .map(_.getInt(0)).sorted.toSeq == ks("gdv.lake.m7"))
  }

  test("the append stream refuses a dv step without ignoreChanges") {
    val dir = fourDirTable("m8")
    val v0 = ManifestTable.headVersion(spark, dir).get
    spark.sql("DELETE FROM gdv.lake.m8 WHERE k = 1")
    val v1 = ManifestTable.headVersion(spark, dir).get
    val stream = new graft.sources.GraftMicroBatchStream(dir,
      spark.table("gdv.lake.m8").schema, spark.table("gdv.lake.m8").schema,
      Array.empty, Map.empty)
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(GraftStreamOffset(v0), GraftStreamOffset(v1))
    }
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    val skipping = new graft.sources.GraftMicroBatchStream(dir,
      spark.table("gdv.lake.m8").schema, spark.table("gdv.lake.m8").schema,
      Array.empty, Map("ignoreChanges" -> "true"))
    assert(skipping.planInputPartitions(
      GraftStreamOffset(v0), GraftStreamOffset(v1)).isEmpty)
    // ignoreDeletes (the weaker flag): the mask-only step passes...
    val deletesOk = new graft.sources.GraftMicroBatchStream(dir,
      spark.table("gdv.lake.m8").schema, spark.table("gdv.lake.m8").schema,
      Array.empty, Map("ignoreDeletes" -> "true"))
    assert(deletesOk.planInputPartitions(
      GraftStreamOffset(v0), GraftStreamOffset(v1)).isEmpty)
    // ...but a REMOVED dir still fails it (different blast radius:
    // a rewrite would re-emit rows, which only ignoreChanges accepts)
    ManifestTable.compactAppend(spark, dir, Seq("k"), k = 2,
      retainGenerations = 10)
    val v2 = ManifestTable.headVersion(spark, dir).get
    val e2 = intercept[IllegalStateException] {
      deletesOk.planInputPartitions(
        GraftStreamOffset(v1), GraftStreamOffset(v2))
    }
    assert(e2.getMessage.contains("removed data dirs"), e2.getMessage)
  }

  test("a FRESH stream on a masked MoR table starts and snapshots the MASKED state (r20 review find)") {
    val dir = fourDirTable("m11")
    spark.sql("DELETE FROM gdv.lake.m11 WHERE k IN (3, 12)") // masks land
    // no flags: the initial snapshot must start cleanly and serve the
    // masked state — the old whole-map dv guard made this throw, and
    // ignoreDeletes then RESURRECTED the deleted rows
    val out = java.nio.file.Files.createTempDirectory("gdv-snap").toString
    val ck = java.nio.file.Files.createTempDirectory("gdv-snapck").toString
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val got = spark.read.schema("k INT, v STRING").parquet(out)
      .collect().map(_.getInt(0)).sorted.toSeq
    val expect = (0 until 4).flatMap(b => b * 10 until b * 10 + 5)
      .filterNot(Set(3, 12)).sorted
    assert(got == expect,
      s"the snapshot must serve the masked state exactly: $got")
    // an appended-then-masked dir mid-stream also reads THROUGH its
    // mask; a mask advancing on an ALREADY-streamed dir still refuses
    spark.sql("INSERT INTO gdv.lake.m11 VALUES (100,'x'),(101,'y')")
    spark.sql("DELETE FROM gdv.lake.m11 WHERE k = 100")
    val q2 = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q2.awaitTermination() finally q2.stop()
    val got2 = spark.read.schema("k INT, v STRING").parquet(out)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got2 == (expect :+ 101).sorted,
      s"the tail batch must read through the appended dir's mask: $got2")
    spark.sql("DELETE FROM gdv.lake.m11 WHERE k = 0") // already-streamed dir
    val q3 = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable(); q3.awaitTermination(10000): Unit
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("already-streamed")), msgs(e))
  }

  test("past the driver cap, readers load their masks executor-side") {
    val dir = fourDirTable("m10")
    spark.sql("DELETE FROM gdv.lake.m10 WHERE k IN (1, 22, 23)")
    val expect = (0 until 20).map(b => b / 5 * 10 + b % 5)
      .filterNot(Set(1, 22, 23))
    // sanity on the driver-loaded path first
    assert(ks("gdv.lake.m10") == expect)
    val cap = graft.ScaleKnobs.DvDriverPositionCap
    try {
      // cap 0 → tryReadPositions declines → every dv'd reader loads
      // its own file's positions from its partition's dv dirs
      graft.ScaleKnobs.DvDriverPositionCap = 0L
      assert(ks("gdv.lake.m10") == expect,
        "executor-side mask loading must serve the same logical table")
      assert(spark.sql("SELECT count(*) FROM gdv.lake.m10")
        .head.getLong(0) == 17L)
    } finally graft.ScaleKnobs.DvDriverPositionCap = cap
    dir: Unit
  }

  test("internal masked reads plan the V2 scan: no anti-join, no dv file scanned") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = fourDirTable("m19")
    val v0 = ManifestTable.headVersion(spark, dir).get
    spark.sql("DELETE FROM gdv.lake.m19 WHERE k IN (12, 31)")
    val v1 = ManifestTable.headVersion(spark, dir).get
    val expect = (0 until 20).map(b => b / 5 * 10 + b % 5)
      .filterNot(Set(12, 31))
    def frames: Seq[(String, DataFrame)] = Seq(
      "read" -> ManifestTable.read(spark, dir),
      "readVersion" -> ManifestTable.readVersion(spark, dir, v1),
      "rangeScan" -> ManifestTable.rangeScan(spark, dir, "k", "10", "34"),
      "changes" -> ManifestTable.changes(spark, dir, v0, v1))
    val plans = new AdaptiveSparkPlanHelper {}
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      assert(plans.collectWithSubqueries(plan) {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftScan] => b
      }.nonEmpty, s"$name must plan the graft V2 scan:\n$plan")
      assert(plans.collectWithSubqueries(plan) {
        case j: BaseJoinExec if j.joinType == LeftAnti => j
      }.isEmpty, s"$name must not mask through an anti-join:\n$plan")
      val files = scannedFiles(df)
      assert(files.nonEmpty && files.forall(!_.contains("/_dv/")),
        s"$name must scan data files only: $files")
    }
    def rows(df: DataFrame) = df.collect().map(_.getInt(0)).sorted.toSeq
    // the same rows with the masks loaded on the driver and, past the
    // cap, by each reader from its partition's dv dirs
    val cap = graft.ScaleKnobs.DvDriverPositionCap
    Seq(cap, 0L).foreach { c =>
      graft.ScaleKnobs.DvDriverPositionCap = c
      try {
        val Seq(read, readV, range, feed) = frames.map(_._2)
        assert(rows(read) == expect && rows(readV) == expect, s"cap $c")
        assert(rows(range) == expect.filter(k => k >= 10 && k <= 34),
          s"cap $c")
        assert(feed.collect().map(r => (r.getInt(0), r.getString(1),
          r.getString(2))).sorted.toSeq ==
          Seq((12, "v12", "delete"), (31, "v31", "delete")), s"cap $c")
      } finally graft.ScaleKnobs.DvDriverPositionCap = cap
    }
  }

  test("direct-API MoR delete with SQL-null semantics and no-op paths") {
    val dir = fourDirTable("m9")
    // provable no-op: bounds outside every dir's range — version unchanged
    val v0 = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.deleteWhereMoR(spark, dir, col("k") === 999,
      bounds = Map("k" -> ("999", "999")), retainGenerations = 10) == v0)
    // matched-nothing (dirs touched, no row hits): version unchanged,
    // no dv staged as referenced state
    assert(ManifestTable.deleteWhereMoR(spark, dir, col("k") === 7,
      retainGenerations = 10) == v0)
    assert(ManifestTable.dvOf(fs, dir, v0).isEmpty)
    // NULL-condition rows survive (SQL DELETE semantics)
    val v = ManifestTable.deleteWhereMoR(spark, dir,
      when(col("k") < 2, lit(null).cast("boolean")).otherwise(col("k") === 2),
      retainGenerations = 10)
    assert(v == v0 + 1)
    assert(ks("gdv.lake.m9").size == 19 && !ks("gdv.lake.m9").contains(2))
  }
}
