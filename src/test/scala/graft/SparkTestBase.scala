package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazy SparkSession per suite; mirrors the Verify/Bench session
  * config (UTC, small shuffle partitions, AQE default-on). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
      // S38 engine default: bucketed scans report KeyGroupedPartitioning,
      // so co-bucketed joins plan storage-partitioned (order-independent
      // of which query runs first — this is a session-wide stance)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Every data file the executed plan of `df` scans: the files of each
    * `FileSourceScanExec` and of each `BatchScanExec` input partition,
    * subqueries and adaptive stages included. `Dataset.inputFiles` sees
    * only file-source relations, so it is empty for a graft V2 read. */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
        case b: BatchScanExec => b.inputPartitions.flatMap {
          case fp: FilePartition => fp.files.toSeq.map(_.toPath.toString)
          case _ => Seq.empty
        }
      }.flatten.distinct
  }

  /** Spark jobs `body` starts, counted by a listener over a drained
    * bus (nothing before `body` leaks in, nothing of it is missed). */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** The executed physical plan of the statement `body` runs (a write,
    * a DML statement), captured by a `QueryExecutionListener` over a
    * drained bus. A DataFrame write runs its own QueryExecution, so the
    * frame's `queryExecution.executedPlan` is an initial adaptive plan
    * that never ran. Executions nested in the statement (a commit's
    * internal reads and writes) end before it, so the last one to end
    * is the statement's own. */
  def executedPlanOf(body: => Any): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    val last = new java.util.concurrent.atomic.AtomicReference[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = last.set(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
    } finally spark.listenerManager.unregister(listener)
    assert(last.get != null, "no query execution ended")
    last.get
  }

  /** Backdate a directory tree's mtimes (dir + every descendant) so a
    * planted orphan ages past the manifest GC's grace window — the GC
    * clocks orphan age from the NEWEST mtime in the tree, so aging only
    * the top dir leaves it looking in-flight. */
  def ageTree(fs: org.apache.hadoop.fs.FileSystem,
              path: org.apache.hadoop.fs.Path, ageMs: Long): Unit = {
    val old = System.currentTimeMillis() - ageMs
    def walk(p: org.apache.hadoop.fs.Path): Unit = {
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        fs.setTimes(st.getPath, old, -1)
      }
      fs.setTimes(p, old, -1)
    }
    walk(path)
  }
}
