package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** The custom Catalyst DotProduct expression: interpreted vs codegen
  * parity, HOF-fold equivalence (bit-exact), null propagation. */
class VectorExpressionSpec extends SparkTestBase {
  import spark.implicits._

  private val hofDot = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => x * y), lit(0.0), (s0, x) => s0 + x)

  test("DotProduct equals the HOF fold bit-exactly on random vectors") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextDouble() - 0.5),
      Seq.fill(64)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot_product(col("a"), col("b")).as("cg"),
      hofDot("a", "b").as("hof")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"${r.getDouble(0)} != ${r.getDouble(1)}"))
  }

  test("DotProduct runs inside whole-stage codegen") {
    // range base (a codegen'd leaf — a local Seq relation is not)
    val df = spark.range(4)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .select(VectorFunctions.dot_product(col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(8.0, 11.0, 14.0, 17.0))
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot"), plan)
  }

  test("DotProduct yields null on length mismatch (zip_with parity)") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot_product(col("a"), col("b")).as("cg"),
      hofDot("a", "b").as("hof")).head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("DotProduct rejects non-double-array inputs at analysis time") {
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.dot_product(col("a"), col("b"))).head
    }
  }

  test("DotProduct propagates nulls") {
    val df = Seq((Some(Seq(1.0)), None: Option[Seq[Double]])).toDF("a", "b")
    assert(df.select(VectorFunctions.dot_product(col("a"), col("b"))).head.isNullAt(0))
  }

  test("null array ELEMENTS yield null, matching the HOF fold (both expressions)") {
    // a corrupt lane must never contribute 0.0 to a plausible finite sum
    val df = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(4.0), Some(5.0), Some(6.0))))
      .toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot_product(col("a"), col("b")).as("dp"),
      VectorFunctions.l2_squared(col("a"), col("b")).as("l2"),
      hofDot("a", "b").as("hof_dp"),
      hofL2("a", "b").as("hof_l2")).head
    (0 to 3).foreach(i => assert(r.isNullAt(i), s"col $i not null"))
  }

  private val hofL2 = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => (x - y) * (x - y)), lit(0.0), (s0, x) => s0 + x)

  test("SquaredL2 equals the HOF fold bit-exactly on random vectors") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextDouble() - 0.5),
      Seq.fill(64)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorFunctions.l2_squared(col("a"), col("b")).as("cg"),
      hofL2("a", "b").as("hof")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"${r.getDouble(0)} != ${r.getDouble(1)}"))
  }

  test("SquaredL2 runs inside whole-stage codegen; null on mismatch/null") {
    val df = spark.range(4)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .select(VectorFunctions.l2_squared(col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(13.0, 8.0, 5.0, 4.0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_l2sq"), plan)
    val mm = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(mm.select(VectorFunctions.l2_squared(col("a"), col("b"))).head.isNullAt(0))
    val nn = Seq((Some(Seq(1.0)), None: Option[Seq[Double]])).toDF("a", "b")
    assert(nn.select(VectorFunctions.l2_squared(col("a"), col("b"))).head.isNullAt(0))
  }

  test("CosineSim equals the unfused dot/sqrt form bit-exactly on random vectors") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextDouble() - 0.5),
      Seq.fill(64)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorFunctions.cosine_sim(col("a"), col("b")).as("fused"),
      (VectorFunctions.dot_product(col("a"), col("b")) /
        (sqrt(VectorFunctions.dot_product(col("a"), col("a"))) *
          sqrt(VectorFunctions.dot_product(col("b"), col("b"))))).as("unfused")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"${r.getDouble(0)} != ${r.getDouble(1)}"))
  }

  test("CosineSim: codegen fusion, self-similarity 1, null contract") {
    val df = spark.range(4)
      .select(array((col("id") + 1).cast("double"), lit(2.0)).as("a"))
      .select(VectorFunctions.cosine_sim(col("a"), col("a")).as("c"))
    df.collect().map(_.getDouble(0)).foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_cosine"), plan)
    val mm = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(mm.select(VectorFunctions.cosine_sim(col("a"), col("b"))).head.isNullAt(0))
    val nl = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0)))).toDF("a", "b")
    assert(nl.select(VectorFunctions.cosine_sim(col("a"), col("b"))).head.isNullAt(0))
  }

  test("graft_l2sq is callable from SQL text after registration") {
    VectorFunctions.register(spark)
    val d = spark.sql("SELECT graft_l2sq(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0)
    assert(d == 8.0)
  }

  test("GraftExtensions registers graft_dot into a SessionExtensions instance") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts) // must not throw; builder wiring is
    // exercised for real only in a fresh session (extensions don't apply
    // retroactively), which the SQL-registry test below stands in for
  }

  test("graft_dot is callable from SQL text after registration") {
    VectorFunctions.register(spark)
    val d = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0)
    assert(d == 11.0)
  }
}
