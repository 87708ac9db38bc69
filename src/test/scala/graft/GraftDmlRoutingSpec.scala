package graft

import java.nio.file.Files

import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{DeleteFromTableExec, WriteDeltaExec}
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** Which writer a DELETE runs. Only a V1-translatable DELETE on a plain
  * copy-on-write table takes the metadata delete
  * (`GraftTable.deleteWhere`); on a merge-on-read or bucketed table the
  * same statement plans Spark's row-level rewrite onto the position- or
  * key-delta write. The direct DML API runs those writers too, and
  * keeps its retention override and store cast. */
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
}
