package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import scala.collection.mutable
import scala.util.Random

/** The `lakehouse` workload: one manifest table in a `GraftCatalog`,
  * written and read in rounds, every statement checked against the
  * same DML replayed on the driver.
  *
  * Each round: INSERT, MERGE and DELETE in copy-on-write mode; DELETE
  * and UPDATE in merge-on-read mode (deletion vectors); an
  * available-now stream append through `writeStream.format("graft")`;
  * then a full aggregate, a range read that stats can prune, a read
  * over the merge-on-read slice and a time-travel read to the round's
  * first version. Every `compactEvery` rounds a `CALL ... compact`
  * follows. The seed picks the key slices and the value offset. The
  * mode switch between the two halves of a round is an untimed
  * `ALTER TABLE ... SET TBLPROPERTIES`, and the stream's source file is
  * staged untimed before the round. */
final class Lakehouse(work: String, seed: Long) extends Workload {
  import Lakehouse._

  private val table = "lh.lake.t"
  private val baseRows = 12000
  private val baseDirs = 2
  private val compactEvery = 3
  private val retain = 10
  private val streamRows = 300
  private val offset = math.abs(seed % 1000)

  private var spark: SparkSession = _
  private var wh: String = _
  private var setups = 0
  private def tableDir = s"$wh/lake/t"
  private def src = s"$work/stream-src"
  private def ckpt = s"$work/stream-ckpt"

  // the replay: the expected table by key, the expected table at each
  // retained version, and the next fresh key
  private var expected = Map.empty[Long, R]
  private val snapshots = mutable.LinkedHashMap.empty[Long, Map[Long, R]]
  private var nextKey = 0L
  // the table's head version after the last commit: reads look it up
  // here, so their timed part holds no metadata query of the harness
  private var currentHead = 0L
  // the table's files after the last commit, to find what a write added
  private var lastFiles = Set.empty[String]
  // per-op figures the traced run folds into the sources layer
  private val figures = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def rows(lo: Long, hi: Long, tag: String): Seq[R] =
    (lo until hi).map(k => R(k, (k % 16).toInt, (k * 7 + offset) % 1000, s"$tag$k"))

  /** The same rows as a SQL source. */
  private def rowsSql(lo: Long, hi: Long, tag: String): String =
    s"SELECT id AS k, CAST(id % 16 AS INT) AS grp, (id * 7 + $offset) % 1000 AS v, " +
      s"concat('$tag', CAST(id AS STRING)) AS s FROM range($lo, $hi)"

  // the file and deletion-vector counts repeat with the compaction
  override def cycle: Int = compactEvery

  def setup(s: SparkSession): Unit = {
    spark = s
    setups += 1
    wh = s"$work/lake-$setups"
    delete(new File(src)); delete(new File(ckpt))
    s.conf.set("spark.sql.catalog.lh", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.lh.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS lh.lake")
    s.sql(s"CREATE TABLE $table (k BIGINT, grp INT, v BIGINT, s STRING) " +
      s"TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='$retain', " +
      "'dml.mode'='copy-on-write')")
    val step = baseRows / baseDirs
    (0 until baseDirs).foreach { d =>
      s.sql(s"INSERT INTO $table " + rowsSql(d * step, (d + 1) * step, "b"))
    }
    nextKey = baseRows
    snapshots.clear()
    expected = Map.empty
    commit(byKey(rows(0, baseRows, "b")))
    s.sql(s"SELECT count(*), sum(v) FROM $table").collect(): Unit
  }

  private def head(): Long =
    spark.sql(s"SELECT max(version) FROM lh.lake.`t$$history`").head().getLong(0)

  /** Records `next` as the expected content of every version the last
    * statement committed; returns the number of rows it changed. */
  private def commit(next: Map[Long, R]): Long = {
    val changed = math.max(next.count { case (k, r) => !expected.get(k).contains(r) },
      expected.keysIterator.count(k => !next.contains(k)))
    expected = next
    val h = head()
    currentHead = h
    (snapshots.keys.maxOption.map(_ + 1).getOrElse(h) to h).foreach(snapshots(_) = next)
    while (snapshots.size > retain + 4) snapshots.remove(snapshots.head._1)
    lastFiles = files()
    changed.toLong
  }

  private def sameRows(what: String, got: Array[Row], want: Seq[String]): Option[String] = {
    val g = got.map(_.toSeq.mkString("|")).sorted.toSeq
    val w = want.sorted
    if (g == w) None
    else Some(s"$what: ${g.length} rows, expected ${w.length}; first diff " +
      g.zipAll(w, "<none>", "<none>").find(p => p._1 != p._2).map(p => s"${p._1} vs ${p._2}")
        .getOrElse(""))
  }

  /** A write statement; `replay` gives the expected table after it. */
  private def write(name: String, kind: String, sql: String,
      replay: Map[Long, R] => Map[Long, R]): Op =
    Op(name, kind, (s, t) => t.exec(s.sql(sql)), () => {
      val written = files() -- lastFiles
      val changed = commit(replay(expected))
      figures += Map("kind" -> kind, "files_written" -> written.size,
        "bytes_written" -> written.toSeq.map(f => new File(f).length).sum,
        "rows_changed" -> changed)
      None
    })

  /** A read: its rows are compared with `want` over the replay of the
    * version it read. */
  private def read(name: String, kind: String, sql: String, version: () => Long)(
      want: Map[Long, R] => Seq[String]): Op = {
    var got: Array[Row] = Array.empty
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    var v = 0L
    Op(name, kind, (s, t) => {
      v = version()
      val df = t.frame(s.sql(sql))
      got = t.exec(df.collect())
      plan = df.queryExecution.executedPlan
    }, () => {
      if (kind == "read_range") {
        val planned = plan.collect { case b: BatchScanExec => b.inputPartitions }
          .flatten.map {
            case f: FilePartition => f.files.length
            case _ => 0
          }.sum
        figures += Map("kind" -> kind, "files_scanned" -> planned,
          "live_files" -> liveFiles().size)
      }
      snapshots.get(v) match {
        case None => Some(s"$name: no replay of version $v")
        case Some(snap) => sameRows(s"$name@v$v", got, want(snap))
      }
    })
  }

  def pass(i: Int): Seq[Op] = {
    val rng = new Random(seed * 7919L + i)
    def slice(width: Int): Long = rng.nextInt((nextKey - width).toInt).toLong
    val startHead = currentHead
    val ins = nextKey
    val mergeLo = slice(500)
    val mergeNew = ins + 1000
    val delLo = slice(300)
    val morLo = slice(600)
    val streamLo = mergeNew + 200
    val rangeLo = slice(500)
    nextKey = streamLo + streamRows
    // the stream's new source file arrives before the round
    spark.sql(rowsSql(streamLo, nextKey, s"s$i")).coalesce(1).write.parquet(s"$src/r$i")

    val merged = rows(mergeLo, mergeLo + 500, s"m$i") ++ rows(mergeNew, mergeNew + 200, s"m$i")
    def inMor(k: Long) = k >= morLo && k < morLo + 600
    val ops = Seq(
      write(s"insert.$i", "insert", s"INSERT INTO $table " + rowsSql(ins, ins + 1000, s"i$i"),
        _ ++ byKey(rows(ins, ins + 1000, s"i$i"))),
      write(s"merge_cow.$i", "merge_cow",
        s"MERGE INTO $table t USING (${rowsSql(mergeLo, mergeLo + 500, s"m$i")} UNION ALL " +
          s"${rowsSql(mergeNew, mergeNew + 200, s"m$i")}) u ON t.k = u.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        _ ++ byKey(merged)),
      write(s"delete_cow.$i", "delete_cow",
        s"DELETE FROM $table WHERE k >= $delLo AND k < ${delLo + 300}",
        _.filter { case (k, _) => k < delLo || k >= delLo + 300 }),
      housekeeping(s"ALTER TABLE $table SET TBLPROPERTIES ('dml.mode'='merge-on-read')"),
      write(s"delete_mor.$i", "delete_mor",
        s"DELETE FROM $table WHERE k >= $morLo AND k < ${morLo + 600} AND k % 5 = 0",
        _.filter { case (k, _) => !(inMor(k) && k % 5 == 0) }),
      write(s"update_mor.$i", "update_mor",
        s"UPDATE $table SET v = v + 1 WHERE k >= $morLo AND k < ${morLo + 600} AND k % 5 = 1",
        _.map { case (k, r) => k -> (if (inMor(k) && k % 5 == 1) r.copy(v = r.v + 1) else r) }),
      housekeeping(s"ALTER TABLE $table SET TBLPROPERTIES ('dml.mode'='copy-on-write')"),
      streamAppend(i, streamLo),
      read(s"read_agg.$i", "read_agg",
        s"SELECT grp, count(*), sum(v), sum(k) FROM $table GROUP BY grp", () => currentHead)(
        _.values.groupBy(_.grp).toSeq.map { case (g, rs) =>
          s"$g|${rs.size}|${rs.map(_.v).sum}|${rs.map(_.k).sum}" }),
      read(s"read_range.$i", "read_range",
        s"SELECT k, v, s FROM $table WHERE k >= $rangeLo AND k < ${rangeLo + 500}", () => currentHead)(
        _.values.filter(r => r.k >= rangeLo && r.k < rangeLo + 500).toSeq.map(r => s"${r.k}|${r.v}|${r.s}")),
      read(s"read_mor.$i", "read_mor",
        s"SELECT k, v, s FROM $table WHERE k >= $morLo AND k < ${morLo + 600}", () => currentHead)(
        _.values.filter(r => inMor(r.k)).toSeq.map(r => s"${r.k}|${r.v}|${r.s}")),
      read(s"read_tt.$i", "read_tt",
        s"SELECT grp, count(*), sum(v) FROM $table VERSION AS OF $startHead GROUP BY grp",
        () => startHead)(
        _.values.groupBy(_.grp).toSeq.map { case (g, rs) => s"$g|${rs.size}|${rs.map(_.v).sum}" }))
    if ((i + 1) % compactEvery == 0)
      ops :+ write(s"compact.$i", "compact",
        s"CALL lh.system.compact(table => 'lake.t', k => 4)", identity)
    else ops
  }

  /** An untimed statement that is not part of the measured mix. */
  private def housekeeping(sql: String): Op =
    Op("housekeeping", "housekeeping", (s, _) => s.sql(sql), () => {
      commit(expected); None
    })

  private def streamAppend(i: Int, lo: Long): Op =
    Op(s"stream_append.$i", "stream_append", (s, t) => {
      t.exec {
        s.readStream.schema("k BIGINT, grp INT, v BIGINT, s STRING").parquet(s"$src/*")
          .writeStream.format("graft").option("path", tableDir)
          .option("statsCols", "k").option("retainGenerations", retain.toString)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
    }, () => {
      commit(expected ++ byKey(rows(lo, lo + streamRows, s"s$i")))
      None
    })

  private def liveFiles(): Seq[String] =
    spark.sql(s"SELECT path FROM lh.lake.`t$$files`").collect().toSeq
      .flatMap(r => listFiles(new File(tableDir, r.getString(0))))
      .filter(_.endsWith(".parquet"))

  private def files(): Set[String] = listFiles(new File(tableDir)).toSet

  /** Every retained version must equal the replay of that version. */
  def finalCheck(s: SparkSession, out: String): Seq[Map[String, Any]] = {
    val versions = s.sql(s"SELECT version FROM lh.lake.`t$$history`").collect()
      .map(_.getLong(0)).sorted.takeRight(retain)
    // one query over every retained version
    val got = s.sql(versions.map(v => s"SELECT ${v}L AS version, k, grp, v, s FROM $table " +
      s"VERSION AS OF $v").mkString(" UNION ALL ")).collect().groupBy(_.getLong(0))
    versions.toSeq.flatMap { v =>
      val err = snapshots.get(v) match {
        case None => Some("no replay of this version")
        case Some(want) =>
          sameRows(s"version $v", got.getOrElse(v, Array.empty[Row]).map(r => Row(r.toSeq.tail: _*)),
            want.values.toSeq.map(r => s"${r.k}|${r.grp}|${r.v}|${r.s}"))
      }
      err.map(m => Map("name" -> s"version $v", "err" -> m))
    }
  }

  override def extras(s: SparkSession): Map[String, Any] = {
    val all = listFiles(new File(tableDir))
    val live = liveFiles()
    Map(
      "warehouse_bytes" -> all.map(f => new File(f).length).sum,
      "live_bytes" -> live.map(f => new File(f).length).sum,
      "live_files" -> live.size,
      "dv_dirs" -> s.sql(s"SELECT count(*) FROM lh.lake.`t$$files` " +
        "WHERE masked_positions IS NOT NULL").head().getLong(0),
      "cached_mb" -> s.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6,
      "stream_rows" -> streamRows,
      "figures" -> figures)
  }
}

object Lakehouse {
  /** One table row. */
  final case class R(k: Long, grp: Int, v: Long, s: String)

  def byKey(rs: Seq[R]): Map[Long, R] = rs.map(r => r.k -> r).toMap

  def listFiles(f: File): Seq[String] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else if (f.isFile) Seq(f.getPath) else Seq.empty

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}
