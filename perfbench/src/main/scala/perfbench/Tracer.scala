package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Layer counters and spans for the traced passes.
  *
  * One listener on the Spark listener bus (jobs, stages, tasks) and one
  * on the session's query-execution bus (planning phases from each
  * action's `QueryPlanningTracker`). Events are only kept between
  * `begin` and `close`, and both drain the bus, so everything collected
  * belongs to the op in between. Spans (op -> build/exec -> phase/job)
  * stay in memory and are written out at run end. */
final class Tracer(spark: SparkSession, t0Nano: Long, t0Ms: Long)
    extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  // the query executions whose phases the listener added, by identity
  private val reported = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])
  private val n = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Milliseconds since the run started, from a `System.nanoTime`. */
  def msOfNano(t: Long): Double = (t - t0Nano) / 1e6
  private def msOfEpoch(t: Long): Double = (t - t0Ms).toDouble

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (on) n("stages") += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (on && m != null) {
      n("tasks") += 1
      n("task_run_s") += m.executorRunTime / 1e3
      n("task_cpu_s") += m.executorCpuTime / 1e9
      n("gc_s") += m.jvmGCTime / 1e3
      n("input_bytes") += m.inputMetrics.bytesRead
      n("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      n("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      n("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      n("output_bytes") += m.outputMetrics.bytesWritten
      n("output_records") += m.outputMetrics.recordsWritten
    }
  }

  private def planPhases(qe: QueryExecution): Unit = synchronized {
    if (on && reported.add(qe)) qe.tracker.phases.foreach { case (p, s) =>
      phases += ((p, s.startTimeMs, s.endTimeMs))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    planPhases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planPhases(qe)

  /** Opens one traced op: events still queued from earlier ops are
    * drained first, so they are not counted here. */
  def begin(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized { jobs.clear(); jobStart.clear(); phases.clear(); n.clear(); reported.clear() }
    on = true
  }

  /** Closes one traced op: drains the bus, folds what the listeners saw
    * into the op's layer record and its spans, and resets the counters.
    * `built` is the op's DataFrame: its phases are added here unless the
    * listener reported it already (an action on the DataFrame itself);
    * no listener sees the build-time analysis of a frame that is written
    * through a new command. `op`, `build` and `exec` are the
    * [start, end) `System.nanoTime` intervals of the op and its calls. */
  def close(id: String, name: String, built: Option[QueryExecution],
      op: (Long, Long), build: (Long, Long), exec: (Long, Long))
      : Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      built.filterNot(reported.contains).foreach(_.tracker.phases.foreach {
        case (p, s) => phases += ((p, s.startTimeMs, s.endTimeMs))
      })
      val (b0, b1) = (msOfNano(build._1), msOfNano(build._2))
      val (e0, e1) = (msOfNano(exec._1), msOfNano(exec._2))
      spans += Map("id" -> id, "parent" -> null, "name" -> name,
        "layer" -> "op", "start_ms" -> msOfNano(op._1), "end_ms" -> msOfNano(op._2))
      spans += Map("id" -> s"$id.build", "parent" -> id, "name" -> name,
        "layer" -> "build", "start_ms" -> b0, "end_ms" -> b1)
      spans += Map("id" -> s"$id.exec", "parent" -> id, "name" -> name,
        "layer" -> "exec", "start_ms" -> e0, "end_ms" -> e1)
      phases.zipWithIndex.foreach { case ((p, s, e), i) =>
        val (ps, pe) = (msOfEpoch(s), msOfEpoch(e))
        spans += Map("id" -> s"$id.plan$i", "parent" -> id, "name" -> p,
          "layer" -> "plan", "start_ms" -> ps, "end_ms" -> pe)
      }
      val jobIv = jobs.map { case (j, s, e) => (j, msOfEpoch(s), msOfEpoch(e)) }
      jobIv.foreach { case (j, s, e) =>
        val parent = if (s < b1 && b1 > b0 && s >= b0) s"$id.build" else s"$id.exec"
        spans += Map("id" -> s"$id.job$j", "parent" -> parent, "name" -> s"job $j",
          "layer" -> "job", "start_ms" -> s, "end_ms" -> e)
      }
      val buildJobs = jobIv.count { case (_, s, _) => s >= b0 && s < b1 }
      val union = unionWithin(jobIv.map(j => (j._2, j._3)).toSeq, e0, e1)
      val execS = (e1 - e0) / 1e3
      def phase(p: String) =
        phases.filter(_._1 == p).map(x => (x._3 - x._2) / 1e3).sum
      val rec = n.toMap ++ Map(
        "build_s" -> (b1 - b0) / 1e3,
        "build_jobs" -> buildJobs.toDouble,
        "jobs" -> jobIv.size.toDouble,
        "analysis_s" -> phase("analysis"),
        "optimization_s" -> phase("optimization"),
        "planning_s" -> phase("planning"),
        "exec_s" -> execS,
        "job_union_s" -> union / 1e3,
        "driver_gap_s" -> math.max(0.0, execS - union / 1e3))
      on = false
      jobs.clear(); jobStart.clear(); phases.clear(); n.clear(); reported.clear()
      rec
    }
  }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  private def unionWithin(iv: Seq[(Double, Double)], lo: Double, hi: Double)
      : Double = {
    var covered = 0.0
    var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    covered
  }
}
