package graft

import java.nio.file.Files

import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DeleteFromTableExec, ReplaceDataExec, WriteDeltaExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.ManifestTable

/** Which writer a DELETE runs. Only a V1-translatable DELETE on a plain
  * copy-on-write table takes the metadata delete
  * (`GraftTable.deleteWhere`); on a merge-on-read or bucketed table the
  * same statement plans Spark's row-level rewrite onto the position- or
  * key-delta write. The direct DML API runs those writers too, and
  * keeps its retention override and store cast. The copy-on-write
  * row-level write computes its stats and binds its contracts in the
  * task writers, so its commit reads nothing back; so do appends,
  * clustered appends, compactions and merge-on-read image landing,
  * whose dirs record the stats an aggregate over them computes. A
  * bucketed commit leaves no stage running after it. */
class GraftDmlRoutingSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-dml").toString
    spark.conf.set("spark.sql.catalog.gdml", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdml.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdml.lake")
    dir
  }
  private def fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())

  /** Two inserts of k in 0..9 → two commit dirs. */
  private def table(name: String, props: String): String = {
    wh: Unit
    spark.sql(s"DROP TABLE IF EXISTS gdml.lake.$name")
    spark.sql(s"CREATE TABLE gdml.lake.$name (k BIGINT, v STRING) " +
      s"TBLPROPERTIES ($props)")
    spark.sql(s"INSERT INTO gdml.lake.$name VALUES " +
      (0 until 5).map(k => s"($k,'v$k')").mkString(","))
    spark.sql(s"INSERT INTO gdml.lake.$name VALUES " +
      (5 until 10).map(k => s"($k,'v$k')").mkString(","))
    s"$wh/lake/$name"
  }

  private def ks(name: String): Seq[Long] =
    spark.table(s"gdml.lake.$name").collect().map(_.getLong(0)).sorted.toSeq

  private def has[T <: SparkPlan](plan: SparkPlan)(implicit t: ClassTag[T]): Boolean =
    collectWithSubqueries(plan) { case n if t.runtimeClass.isInstance(n) => n }.nonEmpty

  private def deleteK7(name: String): (SparkPlan, Int) = {
    var plan: SparkPlan = null
    val jobs = jobsOf {
      plan = executedPlanOf(spark.sql(s"DELETE FROM gdml.lake.$name WHERE k = 7"))
    }
    (plan, jobs)
  }

  test("a translatable DELETE on a merge-on-read table runs the position-delta write") {
    val dir = table("mor", "'statsCols'='k', 'dml.mode'='merge-on-read'")
    val v0 = ManifestTable.headVersion(spark, dir).get
    val before = ManifestTable.livePaths(fs, dir)
    val (plan, jobs) = deleteK7("mor")
    assert(has[WriteDeltaExec](plan), s"plan:\n$plan")
    assert(!has[DeleteFromTableExec](plan), s"plan:\n$plan")
    assert(jobs <= 1, s"MoR DELETE ran $jobs jobs")
    // a mask-only commit: the path list is unchanged, one row is masked
    val v1 = ManifestTable.headVersion(spark, dir).get
    assert(v1 == v0 + 1)
    assert(ManifestTable.livePaths(fs, dir) == before)
    assert(ManifestTable.dvDeletedRows(ManifestTable.dvOf(fs, dir, v1)) == 1L)
    assert(ks("mor") == (0L until 10L).filter(_ != 7L))
  }

  test("a translatable DELETE on a bucketed table runs the key-delta write") {
    val dir = table("bkt", "'layout'='bucketed:k:4'")
    val (plan, jobs) = deleteK7("bkt")
    assert(has[WriteDeltaExec](plan), s"plan:\n$plan")
    assert(!has[DeleteFromTableExec](plan), s"plan:\n$plan")
    // a DELETE's changeset holds no insert records, so its commit skips
    // the duplicate-insert and standing-key probes (16 jobs with them)
    assert(jobs <= 7, s"bucketed DELETE ran $jobs jobs")
    assert(ks("bkt") == (0L until 10L).filter(_ != 7L))
    assert(ManifestTable.livePaths(fs, dir).forall(_.contains("b=")),
      "the b=N layout invariant holds after the delete")
  }

  test("a translatable DELETE on a plain copy-on-write table stays the metadata delete") {
    table("cow", "'statsCols'='k'")
    val (plan, jobs) = deleteK7("cow")
    assert(has[DeleteFromTableExec](plan), s"plan:\n$plan")
    assert(jobs == 1, s"CoW DELETE ran $jobs jobs")
    assert(ks("cow") == (0L until 10L).filter(_ != 7L))
  }

  test("the direct DML API keeps its retention override and the store cast") {
    val dir = table("api", "'statsCols'='k', 'retainGenerations'='2'")
    def retained = ManifestTable.versions(fs, dir).size
    assert(retained == 2)
    ManifestTable.deleteWhereMoR(spark, dir, col("k") === 1,
      retainGenerations = 10): Unit
    assert(retained == 3, "deleteWhereMoR kept the table's retention")
    ManifestTable.updateWhereMoR(spark, dir, col("k") === 2,
      Seq("v" -> lit(22)), retainGenerations = 10): Unit
    assert(retained == 4, "updateWhereMoR kept the table's retention")
    ManifestTable.updateWhere(spark, dir, col("k") === 3,
      Seq("v" -> lit(33)), retainGenerations = 10): Unit
    assert(retained == 5, "updateWhere kept the table's retention")
    val got = ManifestTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(1L))
    assert(got(2L) == "22" && got(3L) == "33", got)
    assert(got(4L) == "v4")
    intercept[IllegalArgumentException](
      ManifestTable.deleteWhereMoR(spark, s"$wh/never", col("k") === 1))
  }

  /** Jobs, executed plan, and the root paths of every file relation
    * the statement's queries (its commit's included) read. */
  private def counted(sql: String): (Int, SparkPlan, Seq[String]) = {
    val read = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.analyzed.foreach {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => read.add(p.toString))
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    var plan: SparkPlan = null
    val jobs =
      try jobsOf { plan = executedPlanOf(spark.sql(sql)) }
      finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (jobs, plan, read.asScala.toSeq)
  }

  test("copy-on-write UPDATE, row-level DELETE and MERGE commit without reading their dir back") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gdml.lake.floor")
    spark.sql("CREATE TABLE gdml.lake.floor (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k')")
    (0 until 4).foreach(i => spark.sql("INSERT INTO gdml.lake.floor " +
      s"SELECT id, concat('v', id) FROM range(${i * 500}, ${(i + 1) * 500})"))
    val dir = s"$wh/lake/floor"
    // a read-back aggregate at commit cost 2 more jobs each (5, 5, 8).
    // The DELETE's 3: its runtime group filter (a shuffle stage and a
    // result job) and the write
    Seq(
      "UPDATE gdml.lake.floor SET v = 'u' WHERE k >= 100 AND k < 200" -> 3,
      "DELETE FROM gdml.lake.floor WHERE k >= 600 AND k < 700 AND k % 5 = 0" -> 3,
      """MERGE INTO gdml.lake.floor t
         USING (SELECT id AS k, 'm' AS v FROM range(1990, 2010)) s
         ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT *""" -> 6
    ).foreach { case (sql, expected) =>
      val (jobs, plan, read) = counted(sql)
      assert(has[ReplaceDataExec](plan), s"plan:\n$plan")
      assert(jobs == expected, s"$jobs jobs for: $sql")
      assert(!read.exists(p => p.contains("/c-rl-") || p.contains("/rl-")),
        s"the commit read its staged dir back: $read")
    }
    val got = spark.table("gdml.lake.floor").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 2000 - 20 + 10)
    assert(got(150L) == "u" && got(1995L) == "m" && got(2005L) == "m")
    assert(!got.contains(605L) && got(606L) == "v606")
    // the replacement dirs carry stats folded from the task messages
    val head = ManifestTable.headVersion(spark, dir).get
    val stats = ManifestTable.statsOf(fs, dir, head)
    assert(ManifestTable.pathsOf(fs, dir, head).forall(p =>
      stats.get(p).exists(ManifestTable.statsFor(_, "k").isDefined)), stats)
  }

  /** The dirs `dir`'s head lists beyond `before`, each asserted to
    * record exactly the payload `statsAggExprs` computes over its
    * files. */
  private def lemmaHolds(dir: String, before: Set[String], cols: Seq[String],
                         route: String): Seq[String] = {
    val head = ManifestTable.headVersion(spark, dir).get
    val fresh = ManifestTable.pathsOf(fs, dir, head).filterNot(before)
    assert(fresh.nonEmpty, route)
    val stats = ManifestTable.statsOf(fs, dir, head)
    val aggs = ManifestTable.statsAggExprs(cols)
    fresh.foreach { p =>
      val m = spark.read.parquet(ManifestTable.absPath(dir, p))
        .agg(aggs.head, aggs.tail: _*).head()
      val expected = ManifestTable.statsPayloadFrom(m.getAs[Long]("rows"),
        cols, lane => m.getAs[Any](lane))
      assert(stats(p) == expected, s"$route: $p")
    }
    fresh
  }

  test("a copy-on-write UPDATE records the stats the read-back aggregate computes, under a non-UTC zone") {
    wh: Unit
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try Seq(false, true).foreach { binary =>
      val sfx = if (binary) "_bin" else ""
      val name = s"lemma$sfx"
      val cols = Seq("i", "b", "d", "f", "dt", "s", "x", "ts", "tn", "n") ++
        (if (binary) Seq("bin") else Nil)
      def create(t: String, props: String = ""): String = {
        spark.sql(s"DROP TABLE IF EXISTS gdml.lake.$t")
        spark.sql(s"""CREATE TABLE gdml.lake.$t (i INT, b BIGINT,
          d DECIMAL(10,2), f BOOLEAN, dt DATE, s STRING, x DOUBLE,
          ts TIMESTAMP, tn TIMESTAMP_NTZ, n INT
          ${if (binary) ", bin BINARY" else ""})
          TBLPROPERTIES ('statsCols'='${cols.mkString(",")}'$props)""")
        s"$wh/lake/$t"
      }
      val dir = create(name)
      val bin = (h: String) => if (binary) s", X'$h'" else ""
      spark.sql(s"""INSERT INTO gdml.lake.$name VALUES
        (1, 10, 1.50, true, DATE'2024-03-10', 'b', CAST('NaN' AS DOUBLE),
         TIMESTAMP'2024-03-10 01:30:00', TIMESTAMP_NTZ'2024-03-10 02:30:00',
         NULL${bin("0A")}),
        (2, -5, -2.25, false, DATE'1999-12-31', 'é', -0.0,
         TIMESTAMP'2024-11-03 01:30:00', TIMESTAMP_NTZ'1970-01-01 00:00:00',
         NULL${bin("FF00")}),
        (3, 7, 0.00, NULL, NULL, NULL, 0.0, NULL, NULL, NULL${bin("00")}),
        (4, 3000000000, 99.99, true, DATE'2000-02-29', 'a', 1.5,
         TIMESTAMP'1969-12-31 23:59:59.5', TIMESTAMP_NTZ'2100-01-01 00:00:00',
         NULL${bin("7F")})""")
      // a path-API append whose dir folds two tasks. -0.0 and 0.0 tie in
      // Spark's ordering and each side keeps the first it sees, so the
      // two stay in one task (rows 2 and 3) and the fold meets no tie
      val pathDir = s"$wh/lemma_path$sfx"
      ManifestTable.append(spark.table(s"gdml.lake.$name").repartitionByRange(2,
        when(col("i").isin(2, 3), 0).otherwise(1)), pathDir, statsCols = cols): Unit
      val appended = lemmaHolds(pathDir, Set.empty, cols, s"append binary=$binary")
      assert(appended.size == 1 && fs.listStatus(new Path(pathDir, appended.head))
        .count(_.getPath.getName.endsWith(".parquet")) == 2, appended)
      // a clustered INSERT: one range bucket per task, one dir per bucket
      val clDir = create(s"lemma_cl$sfx", ", 'clusterBy'='i'")
      spark.sql(s"INSERT INTO gdml.lake.lemma_cl$sfx SELECT * FROM gdml.lake.$name")
      assert(lemmaHolds(clDir, Set.empty, cols, s"clustered binary=$binary")
        .forall(_.contains("/rb=")))
      // a merge-on-read UPDATE's image dir
      val morDir = create(s"lemma_mor$sfx", ", 'dml.mode'='merge-on-read'")
      spark.sql(s"INSERT INTO gdml.lake.lemma_mor$sfx SELECT * FROM gdml.lake.$name")
      val morBefore = ManifestTable.livePaths(fs, morDir).toSet
      spark.sql(s"UPDATE gdml.lake.lemma_mor$sfx SET s = 'y' WHERE i = 2")
      assert(lemmaHolds(morDir, morBefore, cols, s"mor binary=$binary").size == 1)
      // the copy-on-write UPDATE: one dir rewritten by one task, -0.0
      // kept where it was first seen on both sides; timestamps render
      // in the session zone on both paths
      val before = ManifestTable.livePaths(fs, dir).toSet
      spark.sql(s"UPDATE gdml.lake.$name SET s = 'z', x = -0.0 WHERE i = 4")
      val fresh = lemmaHolds(dir, before, cols, s"update binary=$binary")
      assert(fresh.size == 1, fresh)
      val head = ManifestTable.headVersion(spark, dir).get
      val recorded = ManifestTable.statsOf(fs, dir, head)(fresh.head)
      assert(ManifestTable.statsFor(recorded, "n").contains((4L, None, None)))
      // CALL compact: each rb= dir is one range bucket
      val compacted = ManifestTable.livePaths(fs, dir).toSet
      spark.sql(s"CALL gdml.system.compact(table => 'lake.$name', k => 4)")
      assert(lemmaHolds(dir, compacted, cols, s"compact binary=$binary")
        .forall(_.contains("/rb=")))
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("appends and compaction write through the task writers and read no dir back") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gdml.lake.kern")
    spark.sql("CREATE TABLE gdml.lake.kern (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k')")
    spark.sql("DROP TABLE IF EXISTS gdml.lake.kern_cl")
    spark.sql("CREATE TABLE gdml.lake.kern_cl (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'clusterBy'='k')")
    val dir = s"$wh/lake/kern"
    def freshCids(d: String, before: Set[String]): Set[String] =
      ManifestTable.livePaths(fs, d).filterNot(before)
        .map(_.split("/", 2).head).toSet
    def readsNone(read: Seq[String], cids: Set[String], what: String): Unit =
      assert(!read.exists(p => cids.exists(c => p.contains(s"/$c"))),
        s"$what read its fresh dirs back: $read")
    (0 until 4).foreach { i =>
      val before = ManifestTable.livePaths(fs, dir).toSet
      val (jobs, _, read) = counted("INSERT INTO gdml.lake.kern " +
        s"SELECT id, concat('v', id) FROM range(${i * 500}, ${(i + 1) * 500})")
      assert(jobs == 1, s"plain INSERT ran $jobs jobs")
      readsNone(read, freshCids(dir, before), "INSERT")
    }
    // a clustered INSERT: the range-bounds sample, the shuffle and the
    // write (before, also an emptiness probe and a 2-job read-back)
    val clDir = s"$wh/lake/kern_cl"
    val (clJobs, _, clRead) = counted("INSERT INTO gdml.lake.kern_cl " +
      "SELECT id, concat('v', id) FROM range(0, 2000)")
    assert(clJobs == 3, s"clustered INSERT ran $clJobs jobs")
    readsNone(clRead, freshCids(clDir, Set.empty), "clustered INSERT")
    assert(ManifestTable.livePaths(fs, clDir).size == 4)
    // CALL compact over the 4 dirs: sample, shuffle and write (2 more
    // before: the grouped read-back of the rb= dirs)
    val before = ManifestTable.livePaths(fs, dir).toSet
    val (jobs, _, read) = counted("CALL gdml.system.compact(table => 'lake.kern', k => 4)")
    val cids = freshCids(dir, before)
    assert(cids.size == 1 && ManifestTable.livePaths(fs, dir).size == 4,
      ManifestTable.livePaths(fs, dir))
    readsNone(read, cids, "compact")
    assert(jobs == 3, s"compact ran $jobs jobs")
    assert(spark.table("gdml.lake.kern").count() == 2000L)
  }

  test("a zero-row INSERT into a clustered table commits its version and lands no dir") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gdml.lake.cl0")
    spark.sql("CREATE TABLE gdml.lake.cl0 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'clusterBy'='k')")
    spark.sql("INSERT INTO gdml.lake.cl0 VALUES (1, 'a'), (2, 'b')")
    val dir = s"$wh/lake/cl0"
    val v0 = ManifestTable.headVersion(spark, dir).get
    val paths0 = ManifestTable.livePaths(fs, dir)
    def entries = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    val entries0 = entries
    spark.sql("INSERT INTO gdml.lake.cl0 SELECT k + 10, v FROM gdml.lake.cl0 WHERE false")
    val v1 = ManifestTable.headVersion(spark, dir).get
    assert(v1 == v0 + 1)
    assert(ManifestTable.livePaths(fs, dir) == paths0)
    assert(entries == entries0, "the empty batch left a dir behind")
    assert(ManifestTable.schemaOf(fs, dir, v1) == ManifestTable.schemaOf(fs, dir, v0))
    assert(spark.table("gdml.lake.cl0").count() == 2L)
    // path API: the txn watermark lands with the dir-less commit, and a
    // table whose first append had no rows reads as an empty table
    val empty = spark.table("gdml.lake.cl0").filter(lit(false))
    ManifestTable.appendClustered(empty, dir, Seq("k"),
      meta = Map("txn:app" -> "7")): Unit
    assert(ManifestTable.metaOf(fs, dir,
      ManifestTable.headVersion(spark, dir).get).get("txn:app").contains("7"))
    val fresh = s"$wh/zero_first"
    ManifestTable.append(empty, fresh, statsCols = Seq("k")): Unit
    assert(ManifestTable.livePaths(fs, fresh).isEmpty)
    val back = ManifestTable.read(spark, fresh)
    assert(back.count() == 0L && back.columns.toSeq == Seq("k", "v"))
  }

  test("a copy-on-write UPDATE violating a CHECK on a generated-column table lands nothing") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gdml.lake.gen")
    spark.sql("""CREATE TABLE gdml.lake.gen (k INT, v STRING,
      vlen INT GENERATED ALWAYS AS (length(v)))
      TBLPROPERTIES ('check.short'='vlen < 6')""")
    spark.sql("INSERT INTO gdml.lake.gen (k, v) VALUES (1, 'ab'), (2, 'cd')")
    val dir = s"$wh/lake/gen"
    val head = ManifestTable.headVersion(spark, dir).get
    val e = intercept[Exception](
      spark.sql("UPDATE gdml.lake.gen SET v = 'too-long' WHERE k = 1"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("CHECK constraint 'short'")), msgs(e))
    assert(ManifestTable.headVersion(spark, dir).contains(head))
    val left = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(n => n.startsWith("rl-") || n.startsWith("c-rl-"))
    assert(left.isEmpty, left.toSeq)
    // the recomputed value is what the check judged: a passing UPDATE
    // refreshes vlen
    spark.sql("UPDATE gdml.lake.gen SET v = 'abcde' WHERE k = 1")
    assert(spark.sql("SELECT vlen FROM gdml.lake.gen WHERE k = 1")
      .head.getInt(0) == 5)
  }

  test("a bucketed UPDATE and MERGE leave no stage running after their commit") {
    table("bk2", "'layout'='bucketed:k:4'")
    val sc = spark.sparkContext
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        names.put(e.stageInfo.stageId,
          e.stageInfo.name + " " + e.stageInfo.details.take(600)): Unit
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success)
          failed.add(s"stage ${e.stageId} ${e.reason}"): Unit
    }
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      spark.sql("UPDATE gdml.lake.bk2 SET v = 'u' WHERE k < 3")
      spark.sql("""MERGE INTO gdml.lake.bk2 t
        USING (SELECT id AS k, 'm' AS v FROM range(5, 15)) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
      // a stage submitted asynchronously after the commit would read
      // the deleted staging dir a moment later
      Thread.sleep(2000)
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(failed.isEmpty, failed.asScala.map(f =>
      f + " :: " + names.get(f.split(' ')(1).toInt)).mkString("\n"))
    assert(ks("bk2") == (0L until 15L))
    assert(spark.sql("SELECT v FROM gdml.lake.bk2 WHERE k IN (1, 9)")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("m", "u"))
  }
}
