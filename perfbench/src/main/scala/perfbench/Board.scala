package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.Random
import scala.util.control.NonFatal

/** The `olap` and `curation` workloads: board queries, each built
  * through `SparkEntry.queries` and run to complete output through the
  * no-op sink. The cold pass runs the ops in name order, so the same op
  * pays the first touch of a shared memo in every run; the seed
  * permutes the op order of every warm pass. */
final class Board(data: String, seed: Long, names: Seq[String], tables: Seq[String])
    extends Workload {
  private val fns = names.map(n => n -> SparkEntry.queries(n))

  /** Table warm-up: every corpus table the workload reads, read once,
    * plus one shuffle. */
  def setup(spark: SparkSession): Unit = {
    tables.foreach(t => graft.Tables.load(spark, data, t).count())
    spark.range(100000).selectExpr("id % 7 AS k").groupBy("k").count().collect(): Unit
  }

  override def minWarm: Int = 3

  def pass(i: Int): Seq[Op] =
    (if (i == 0) fns else new Random(seed * 1000003L + i).shuffle(fns)).map { case (name, fn) =>
      Op(name, name.takeWhile(_.isLetter), (s, t) => {
        val df = t.frame(fn(s, data))
        t.exec(df.write.format("noop").mode("overwrite").save())
      })
    }

  /** One untimed pass that writes each op's output as parquet for the
    * DuckDB oracle compare in run.py; ops without an oracle are written
    * twice, and run.py compares the two fingerprints. */
  def finalCheck(spark: SparkSession, out: String): Seq[Map[String, Any]] = {
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json(
      fns.map(_._1).flatMap(n => oracle.get(n).map(n -> _)).toMap)
      .getBytes(StandardCharsets.UTF_8))
    fns.flatMap { case (name, fn) =>
      val copies = if (oracle.contains(name)) Seq("check") else Seq("check", "check2")
      try {
        copies.foreach(c => fn(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$c/$name"))
        None
      } catch { case NonFatal(e) => Some(Map("name" -> name, "err" -> Harness.firstLine(e))) }
    }
  }

  override def extras(spark: SparkSession): Map[String, Any] = Map(
    "cached_mb" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6,
    "persisted_frames" -> spark.sparkContext.getPersistentRDDs.size)
}

object Board {
  /** Every board op of a family, by name pattern. */
  def family(pattern: String): Seq[String] =
    SparkEntry.queries.keys.toSeq.filter(_.matches(pattern)).sortBy(identity)
  val olapAll: Seq[String] = family("^[qajw][0-9]+_.*")
  val curationAll: Seq[String] = family("^t[0-9]+_.*")

  /** The timed `olap` pass: a fixed slice of the 55 star-schema ops, as
    * many as fit a run. Five whose materialized cost is well above their
    * `count()` cost (two windows, percentiles, the as-of join, the
    * sort-merge join) and a scan/exchange-heavy TPC-H query. None of
    * them touches a memo. */
  val olap: Seq[String] = Seq(
    "a10_percentiles", "j2_sortmerge_join", "j8_asof_join",
    "q5_local_supplier", "w2_lag_lead", "w3_running_total")

  /** The timed `curation` pass: a fixed slice of the 52 LLM-data ops, as
    * many as fit a run. Ops that read derived frames shared through
    * `FrameMemo`: the tokenized corpus (t24, t27, whose materialized
    * cost is also well above their `count()` cost), the t4 candidate
    * pairs and the t20 labels. */
  val curation: Seq[String] = Seq(
    "t4_minhash_lsh", "t20_dedup_clusters", "t24_repetition_filter",
    "t27_incremental_dedup")

  /** Materialized vs `count()` for each op: one untimed touch, then
    * `reps` alternating rounds of `count()` and a no-op write; the
    * medians go to `out/table.json`. */
  def table(spark: SparkSession, data: String, names: Seq[String], reps: Int,
      out: String): Unit = {
    def time(f: => Any): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val rows = names.map { n =>
      val fn = SparkEntry.queries(n)
      try {
        val cold = time(fn(spark, data).write.format("noop").mode("overwrite").save())
        val runs = (1 to reps).map { _ =>
          (time(fn(spark, data).count()),
            time(fn(spark, data).write.format("noop").mode("overwrite").save()))
        }
        System.err.println(s"table: $n ${runs.map(_._2).sum}")
        Map("name" -> n, "cold_s" -> cold, "count_s" -> median(runs.map(_._1)),
          "materialized_s" -> median(runs.map(_._2)))
      } catch { case NonFatal(e) => Map("name" -> n, "err" -> Harness.firstLine(e)) }
    }
    Files.write(Paths.get(s"$out/table.json"), Json(rows).getBytes(StandardCharsets.UTF_8))
  }
}
