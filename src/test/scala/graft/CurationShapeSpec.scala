package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The per-row shape of t24's bigram statistics, the driver-side
  * finish of t20's union-find branch and t33's Catalyst Bloom probe:
  * what each computes, and the jobs, exchanges and joins each may cost. */
class CurationShapeSpec extends SparkTestBase with AdaptiveSparkPlanHelper
    with BeforeAndAfterAll {
  import spark.implicits._

  // drop the sf0.001 memos these tests persisted: the session is shared
  // by every suite, and a later suite that plans a fresh t4 pair stage
  // or token frame would otherwise read the cached relation instead
  override def afterAll(): Unit = {
    ops.TextVector.resetT4PairCache(spark, sf)
    ops.TextVector.resetTokCache(spark, sf)
    super.afterAll()
  }

  /** A documents table whose texts hit every edge of bigram counting:
    * an empty text (one empty token), 1 and 2 tokens, double spaces
    * (empty tokens), "a a a a", "a b a b a b", "ab c a bc" (whose
    * bigrams collide if the key drops its separator) and a null text.
    * Ids that are multiples of 13 also get t24's planted copies. */
  private lazy val edgeDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_t24_edges_").toString
    Seq[(Long, String)](
      (1L, ""), (2L, "one"), (3L, "one two"), (4L, "a  b"), (5L, "a b  "),
      (6L, "a a a a"), (7L, "a b a b a b"), (8L, null), (9L, "x y x y z x y"),
      (10L, "ab c a bc"),
      (13L, "p q r"), (26L, "  "), (39L, "solo"), (52L, null))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"), lit("src_1").as("source"),
        coalesce(length($"text"), lit(0)).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** t24's former bigram statistics, restated: adjacent-token bigrams
    * exploded, grouped by (doc_id, bigram), the max and the sum per doc,
    * left-joined back onto every doc of real ∪ planted. */
  private def groupByOracle(d: String): Set[(Long, Long, Double)] = {
    val real = Tables.documents(spark, d).select($"doc_id", $"text", split($"text", " ").as("t"))
    val planted = real
      .filter($"doc_id" % 13 === 0 && size($"t") >= 2)
      .select(($"doc_id" + 2000000L).as("doc_id"), concat_ws(" ", expr(
        "array_repeat(concat_ws(' ', element_at(split(text, ' '), 1), element_at(split(text, ' '), 2)), 20)"))
        .as("text"))
      .select($"doc_id", split($"text", " ").as("t"))
    val docs = real.select($"doc_id", $"t").unionByName(planted)
    val stats = docs.filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(t)-1), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1)))"))
        .as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max($"n").as("top"), sum($"n").as("nb"))
    docs.join(stats, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"top", lit(0L)),
        round(coalesce($"top" / $"nb", lit(0.0)), 6))
      .as[(Long, Long, Double)].collect().toSet
  }

  private def t24Stats(df: DataFrame): Set[(Long, Long, Double)] =
    df.select($"doc_id", $"top_bigram_n", $"top_bigram_frac")
      .as[(Long, Long, Double)].collect().toSet

  test("t24: per-row bigram stats equal the (doc_id, bigram) group-by on every edge") {
    val got = t24Stats(ops.TextVector.t24_repetition_filter(spark, edgeDir))
    assert(got == groupByOracle(edgeDir))
    val byId = got.map(r => r._1 -> (r._2, r._3)).toMap
    // 14 docs plus the planted copies of 13 and 26 (39 and 52 have < 2 tokens)
    assert(byId.size == 16)
    assert(byId(1L) == ((0L, 0.0)) && byId(2L) == ((0L, 0.0)) && byId(8L) == ((0L, 0.0)))
    assert(byId(3L) == ((1L, 1.0)))
    assert(byId(5L) == ((1L, 0.333333)), "'a b  ' is a, b, '', '': three distinct bigrams")
    assert(byId(6L) == ((3L, 1.0)))
    assert(byId(7L) == ((3L, 0.6)))
    assert(byId(10L) == ((1L, 0.333333)), "'ab c' and 'a bc' are different bigrams")
    assert(byId(26L) == ((2L, 1.0)), "'  ' is three empty tokens: bigram ' ' twice")
    assert(byId(2000013L) == ((20L, 0.512821)))
  }

  test("t24: the same on sf0.001, planted degenerate docs included") {
    assert(t24Stats(ops.TextVector.t24_repetition_filter(spark, sf)) == groupByOracle(sf))
  }

  test("t24: the executed plan has no hash exchange and no broadcast") {
    val df = ops.TextVector.t24_repetition_filter(spark, sf)
    val plan = executedPlanOf(df.write.format("noop").mode("overwrite").save())
    val hashed = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    val broadcasts = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    assert(hashed.isEmpty && broadcasts.isEmpty, s"t24 plan:\n$plan")
  }

  test("t20: with the pair memo warm, building starts one job and writing runs one") {
    ops.TextVector.t20_dedup_clusters(spark, sf).collect()
    var df: DataFrame = null
    val build = jobsOf { df = ops.TextVector.t20_dedup_clusters(spark, sf) }
    val exec = jobsOf(df.write.format("noop").mode("overwrite").save())
    assert(build <= 1 && exec <= 1, s"build $build jobs, write $exec jobs")
  }

  test("t20: driverLimit = Long.MaxValue still takes the local branch") {
    val dflt = ops.TextVector.dedupClusters(spark, sf, driverLimit = 500000L)
    val max = ops.TextVector.dedupClusters(spark, sf, driverLimit = Long.MaxValue)
    for (df <- Seq(dflt, max)) {
      val plan = df.queryExecution.analyzed
      assert(plan.collectFirst { case l: LocalRelation => l }.nonEmpty &&
        plan.collectFirst { case a: Aggregate => a }.isEmpty, s"not the local branch:\n$plan")
    }
    val rows = max.as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.toSeq == dflt.as[(Long, Long, Long)].collect().toSeq)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq, "not sorted by canonical_id")
  }

  test("t33: Spark's Bloom probe over a scalar subquery; no UDF, no cross join, no build job") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalaUDF}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    ops.TextVector.t33_bloom_decontaminate(spark, sf).collect()
    var df: DataFrame = null
    val build = jobsOf { df = ops.TextVector.t33_bloom_decontaminate(spark, sf) }
    val plan = executedPlanOf(df.write.format("noop").mode("overwrite").save())
    val exprs = collectWithSubqueries(plan) { case p => p.expressions }
      .flatten.flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[BloomFilterMightContain]), s"t33 plan:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), s"t33 plan:\n$plan")
    val crossJoins = collectWithSubqueries(plan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(crossJoins.isEmpty, s"t33 plan:\n$plan")
    assert(build == 0, s"building t33 started $build jobs")
  }
}
