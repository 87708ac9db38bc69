package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Marks the build and exec calls inside one op, for its layer split. */
final class Timer {
  var build0, build1, exec0, exec1 = 0L
  var built: Option[QueryExecution] = None
  def build[T](f: => T): T = { build0 = System.nanoTime(); try f finally build1 = System.nanoTime() }
  def exec[T](f: => T): T = { exec0 = System.nanoTime(); try f finally exec1 = System.nanoTime() }
  /** Builds a DataFrame and keeps its QueryExecution for the trace. */
  def frame(f: => DataFrame): DataFrame = { val df = build(f); built = Some(df.queryExecution); df }
}

/** One timed operation. `check` runs untimed right after a successful
  * op and returns a mismatch message when the op's output is wrong. */
final case class Op(name: String, kind: String, body: (SparkSession, Timer) => Unit,
    check: () => Option[String] = () => None)

/** A workload: its set-up and the ops of each pass. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def pass(i: Int): Seq[Op]
  /** Warm passes a run makes at the least, whatever `seconds` says. */
  def minWarm: Int = 2
  /** Passes after which the workload's state repeats (1: every pass
    * starts from the same state). */
  def cycle: Int = 1
  /** Untimed output check after the timed passes; returns error rows. */
  def finalCheck(spark: SparkSession, out: String): Seq[Map[String, Any]]
  /** Workload-specific end-of-run figures. */
  def extras(spark: SparkSession): Map[String, Any] = Map.empty
}

/** The benchmark driver: one closed-loop client in one JVM.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir>
  *
  * Sets up `setups` times (a new session each), runs a cold pass, then
  * warm passes until `seconds` have elapsed, then the workload's output
  * check; writes `result.json` (and `spans.jsonl` when traced) to
  * `outDir`. Statistics are computed by run.py. */
object Harness {
  val setups = 6

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "table") {
      // table <olap|curation> <reps> <dataDir> <outDir>
      val Array(_, family, reps, data, out) = args
      Files.createDirectories(Paths.get(s"$out/work"))
      val spark = session(s"$out/work")
      Board.table(spark, data, if (family == "olap") Board.olapAll else Board.curationAll,
        reps.toInt, out)
      spark.stop()
      return
    }
    val Array(wname, seedS, secS, traceS, data, out) = args
    val (seed, seconds, trace) = (seedS.toLong, secS.toDouble, traceS == "1")
    val work = s"$out/work"
    Files.createDirectories(Paths.get(work))
    val wl: Workload = wname match {
      case "olap" => new Board(data, seed, Board.olap,
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
      case "curation" => new Board(data, seed, Board.curation, Seq("documents", "embeddings"))
      // every op of a family: for offline analysis (ROLLUP.md), too long for a timed run
      case "olap-all" => new Board(data, seed, Board.olapAll, graft.Tables.all)
      case "curation-all" => new Board(data, seed, Board.curationAll, graft.Tables.all)
      case "lakehouse" => new Lakehouse(work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, several times, the last one is kept: the first builds the
    // SparkContext and its session in the fresh JVM, each later one a new
    // session on that context (run.py reports the median of the later ones)
    var spark: SparkSession = null
    val setupS = (0 until setups).map { _ =>
      val t = System.nanoTime()
      spark = if (spark == null) session(work) else spark.newSession()
      wl.setup(spark)
      (System.nanoTime() - t) / 1e9
    }

    val t0Nano = System.nanoTime()
    val tracer = new Tracer(spark, t0Nano, System.currentTimeMillis())
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(i: Int, traced: Boolean): Unit = {
      val recs = wl.pass(i).zipWithIndex.map { case (op, j) =>
        runOp(spark, tracer, op, s"p$i.o$j", traced) + ("pass" -> i)
      }
      passes += Map("pass" -> i, "traced" -> traced, "ops" -> recs)
    }
    runPass(0, traced = false)
    // warm passes. In a traced run the first one is untraced and left out,
    // as the JVM still warms up. Blocks of `cycle` passes follow, untraced
    // and traced in turn, first and last untraced: run.py sets each traced
    // pass against the untraced ones a cycle before and after it, at the
    // same point of the workload's cycle, so a steady warm-up trend cancels
    // out of the tracing overhead
    def tracedPass(i: Int) = trace && i > 1 && (i - 2) / wl.cycle % 2 == 1
    val minWarm =
      if (trace) math.max(wl.minWarm, 1 + math.max(5, 3 * wl.cycle)) else wl.minWarm
    val warm0 = System.nanoTime()
    var i = 1
    while (i <= minWarm || (System.nanoTime() - warm0) / 1e9 < seconds) {
      runPass(i, tracedPass(i))
      i += 1
    }
    val measuredS = (System.nanoTime() - warm0) / 1e9
    tracer.detach()

    val extras = wl.extras(spark)
    val check0 = System.nanoTime()
    val checks = wl.finalCheck(spark, out)
    val result = Map(
      "workload" -> wname, "seed" -> seed, "trace" -> trace,
      "cpus" -> Runtime.getRuntime.availableProcessors(), "cycle" -> wl.cycle,
      "setup_s" -> setupS, "cold_wall_s" -> (warm0 - t0Nano) / 1e9,
      "measured_s" -> measuredS, "check_s" -> (System.nanoTime() - check0) / 1e9,
      "passes" -> passes, "check" -> checks, "extras" -> extras)
    Files.write(Paths.get(s"$out/result.json"),
      Json(result).getBytes(StandardCharsets.UTF_8))
    if (trace)
      Files.write(Paths.get(s"$out/spans.jsonl"),
        tracer.spans.map(Json(_)).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Runs one op; returns its record (times in seconds, and the layer
    * split when traced). A failed op records its error; its time is left
    * out of the op percentiles. A traced op's `wall_s` runs on a drained
    * listener bus; its `outer_s` adds the draining and folding. */
  def runOp(spark: SparkSession, tracer: Tracer, op: Op, id: String,
      traced: Boolean): Map[String, Any] = {
    val t = new Timer
    val outer = System.nanoTime()
    if (traced) tracer.begin()
    val start = System.nanoTime()
    val err = try { op.body(spark, t); None }
      catch { case NonFatal(e) => Some(firstLine(e)) }
    val end = System.nanoTime()
    if (t.build1 == 0L) { t.build0 = start; t.build1 = start }
    if (t.exec1 == 0L) { t.exec0 = t.build1; t.exec1 = t.build1 }
    val layer =
      if (traced) Some(tracer.close(id, op.name, t.built, (start, end),
        (t.build0, t.build1), (t.exec0, t.exec1)))
      else None
    val outerEnd = System.nanoTime()
    val wrong = if (err.isEmpty)
      try op.check() catch { case NonFatal(e) => Some("check: " + firstLine(e)) }
      else None
    Map("name" -> op.name, "kind" -> op.kind,
      "wall_s" -> (end - start) / 1e9,
      // with the tracer's own work: draining the listener bus and folding
      "outer_s" -> (outerEnd - outer) / 1e9,
      "build_s" -> (t.build1 - t.build0) / 1e9,
      "exec_s" -> (t.exec1 - t.exec0) / 1e9,
      "err" -> err, "wrong" -> wrong, "layer" -> layer)
  }

  def firstLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.nextOption().getOrElse("").take(300)
}
