package graft

/** Board-wide invariants at sf0.001. Building a query's DataFrame must
  * start no Spark job: every job belongs to executing the query. */
class BoardInvariantsSpec extends SparkTestBase {

  /** perfbench's timed olap slice plus three multi-join TPC-H queries. */
  private val buildJobFree = Seq(
    "a10_percentiles", "j2_sortmerge_join", "j8_asof_join",
    "q5_local_supplier", "w2_lag_lead", "w3_running_total",
    "q3_shipping_priority", "q10_returned_items", "q18_large_volume")

  test("building the olap slice and q3/q10/q18 starts no Spark job") {
    val started = buildJobFree.map(n => n -> jobsOf(SparkEntry.queries(n)(spark, sf)))
    assert(started.forall(_._2 == 0),
      s"jobs started at build time: ${started.filter(_._2 > 0)}")
  }

  test("s11 and s13 read back the dir they wrote with no schema-inference job") {
    // the layout write's own jobs: s11 3, s13 5; a read-back that
    // inferred the written dir's schema would add one job to each
    val s11 = jobsOf(SparkEntry.queries("s11_clustered_layout")(spark, sf))
    val s13 = jobsOf(SparkEntry.queries("s13_zorder_layout")(spark, sf))
    assert(s11 <= 3 && s13 <= 5, s"build jobs: s11 $s11, s13 $s13")
  }
}
