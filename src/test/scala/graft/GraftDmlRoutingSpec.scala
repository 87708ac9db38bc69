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
  * task writers, so its commit reads nothing back; a bucketed commit
  * leaves no stage running after it. */
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

  test("a copy-on-write UPDATE records the stats the read-back aggregate computes, under a non-UTC zone") {
    wh: Unit
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try Seq(false, true).foreach { binary =>
      val name = if (binary) "lemma_bin" else "lemma"
      val cols = Seq("i", "b", "d", "f", "dt", "s", "x", "ts", "tn", "n") ++
        (if (binary) Seq("bin") else Nil)
      spark.sql(s"DROP TABLE IF EXISTS gdml.lake.$name")
      spark.sql(s"""CREATE TABLE gdml.lake.$name (i INT, b BIGINT,
        d DECIMAL(10,2), f BOOLEAN, dt DATE, s STRING, x DOUBLE,
        ts TIMESTAMP, tn TIMESTAMP_NTZ, n INT
        ${if (binary) ", bin BINARY" else ""})
        TBLPROPERTIES ('statsCols'='${cols.mkString(",")}')""")
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
      val dir = s"$wh/lake/$name"
      val before = ManifestTable.livePaths(fs, dir).toSet
      // one dir rewritten by one task: -0.0 and 0.0 tie in Spark's
      // ordering, and the task writer and min/max both keep the first
      // seen; timestamps render in the session zone on both paths
      spark.sql(s"UPDATE gdml.lake.$name SET s = 'z', x = -0.0 WHERE i = 4")
      val head = ManifestTable.headVersion(spark, dir).get
      val fresh = ManifestTable.pathsOf(fs, dir, head).filterNot(before)
      assert(fresh.size == 1, fresh)
      val recorded = ManifestTable.statsOf(fs, dir, head)(fresh.head)
      val aggs = ManifestTable.statsAggExprs(cols)
      val m = spark.read.parquet(ManifestTable.absPath(dir, fresh.head))
        .agg(aggs.head, aggs.tail: _*).head()
      val expected = ManifestTable.statsPayloadFrom(m.getAs[Long]("rows"),
        cols, lane => m.getAs[Any](lane))
      assert(recorded == expected, s"binary=$binary")
      assert(ManifestTable.statsFor(recorded, "n").contains((4L, None, None)))
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
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
