package graft.sources

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Sources & sinks (SURVEY.md §2.1 S2–S9). Roundtrip queries prove both
  * directions of each format: write a deterministic projection to a temp
  * dir, read it back, aggregate order-insensitively, and the oracle
  * computes the same aggregate straight from the parquet corpus — if the
  * sink or source mangled anything, the hashes diverge.
  */
object Sources {

  /** Temp dirs for the roundtrip sinks, deleted on JVM exit: Bench runs
    * every roundtrip twice per session and the harness runs many
    * sessions, so untracked dirs would grow /tmp by corpus-sized copies
    * per round until unrelated queries start failing on a full disk. */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root.toPath).iterator().asScala.toSeq
            .reverseIterator.foreach(p => p.toFile.delete())
        } catch { case _: Throwable => () }
      }))
  private def tmp(prefix: String): String = {
    cleanupHook
    val p = Files.createTempDirectory(prefix)
    tmpDirs.add(p.toFile)
    p.toString
  }

  /** S1: vectorized parquet scan — the base access path every query uses,
    * exposed explicitly: full-fidelity passthrough of a dimension table. */
  def s1_parquet_scan(s: SparkSession, d: String): DataFrame =
    nation(s, d).orderBy("n_nationkey")

  /** S2: binary-file scan — ingest the reference's PDF corpus directory
    * as (filename, length) rows; the oracle (DuckDB read_blob over the
    * same glob) checks names and byte sizes. Content-level verification
    * lives in the pdf_* golden tests, which parse these same bytes.
    * Deliberately pinned to /root/reference/data rather than the sfDir:
    * the PDF corpus lives outside the scale-factor tree. */
  def s2_binary_scan(s: SparkSession, d: String): DataFrame =
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.pdf")
      .load("/root/reference/data")
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("filename"),
        col("length"))
      .orderBy("filename")

  /** S3: text source/sink roundtrip — document texts → line files → back;
    * order-insensitive aggregate must survive the trip. Texts are
    * newline-normalized (and nulls dropped) BEFORE the line-oriented
    * sink: `.text()` splits an embedded \n into two physical lines
    * (and throws on null), which would silently break the
    * one-row-per-document invariant the oracle counts on if the corpus
    * ever regenerates with multiline texts. The oracle applies the
    * same normalization, so both sides count the same thing by
    * construction, not by corpus accident. */
  def s3_text_roundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s3_")
    documents(s, d).filter(col("text").isNotNull)
      .select(translate(col("text"), "\n\r", "  ").as("text"))
      .write.mode("overwrite").text(dir)
    s.read.text(dir)
      .agg(count(lit(1)).as("n_lines"),
        sum(length(col("value"))).as("total_chars"))
  }

  /** S4: JSON sink + schema-ful JSON source roundtrip (TEST:59 output
    * format; re-ingestion path). */
  def s4_json_roundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s4_")
    events(s, d).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    s.read.schema(schema).json(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"),
        sum(col("event_id")).as("id_checksum"))
      .orderBy("event_type")
  }

  /** S5: CSV sink + source roundtrip with header (TEST:59/135 delivery
    * format), explicit read schema so types survive. */
  def s5_csv_roundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s5_")
    customer(s, d).select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))
    s.read.option("header", "true").schema(schema).csv(dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("total_bal"),
        sum(col("c_custkey")).as("key_checksum"))
      .orderBy("c_mktsegment")
  }

  /** S8: partitioned sink — production layout partitioned by a dimension
    * column (TEST:65/158 10k+ docs layout); partition pruning on read-back
    * (the `lang=es` filter reads exactly one directory). */
  def s8_partitioned_sink(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s8_")
    // cluster rows by the partition column first: one file per partition
    // directory instead of (shuffle.partitions × partitions) small files
    documents(s, d).repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val back = s.read.parquet(dir)
    back.filter(col("lang") === "es")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy("lang", "source")
  }

  /** S10: ORC sink + source roundtrip — the third columnar format a
    * warehouse migration meets (Hive's native layout). Spark's ORC
    * support is built in (vectorized reader, predicate pushdown, column
    * pruning — same scan contract as parquet); the roundtrip proves both
    * directions preserve types and values. The read-back filter is
    * pushable: `.explain` shows it reaching the OrcScan as a pushed
    * predicate, so at 100 TB a selective read touches only matching
    * stripes. */
  def s10_orc_roundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s10_")
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("o_totalprice") > 1000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
      .orderBy("o_orderstatus")
  }

  /** S11: range-clustered layout — the data-layout optimization that
    * makes selective reads cheap at 100 TB: orders are range-partitioned
    * on o_orderdate and sorted within each file, so every parquet file
    * covers a disjoint (or near-disjoint) date interval and its footer
    * min/max statistics let a date-filtered read skip whole row groups
    * (and whole files, in table formats that index footer stats — the
    * contract Z-order/liquid clustering generalizes to multiple
    * dimensions). The read-back filters to one year and aggregates per
    * month; ScaleDesignSpec proves the layout — per-file date ranges
    * are pairwise disjoint, ≤3 of 8 files overlap any one year, and the
    * date predicate reaches the scan as a pushed filter. The query
    * result is layout-independent (same rows pass the filter however
    * they are arranged), so the oracle reads the corpus directly. */
  def s11_clustered_layout(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s11_")
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(dir)
    GraftParquetSchema.read(s, Seq(dir))
      .filter(col("o_orderdate") >= "1998-01-01" && col("o_orderdate") < "1999-01-01")
      .groupBy(month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
      .orderBy("m")
  }

  /** S9: corrupt-record quarantine — malformed payloads split into an
    * error channel instead of failing the job (TEST:151-152, TEST:161).
    * Corruption is planted deterministically (every 10th event's JSON is
    * truncated); from_json → null routes rows to the bad channel. The
    * truncation length (8) and the oracle's `length(props) > 8` guard
    * are a coupled pair: both sides assume the corpus's `{"k": N}`
    * props shape, where an 8-char prefix is never valid JSON. */
  def s9_quarantine(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    val raw = events(s, d)
      .withColumn("payload",
        when(col("event_id") % 10 === 0, substring(col("props"), 1, 8))
          .otherwise(col("props")))
    raw.withColumn("parsed", from_json(col("payload"), schema))
      .withColumn("ok", col("parsed").isNotNull && col("parsed.k").isNotNull)
      .agg(
        sum(when(col("ok"), 1).otherwise(0)).cast("long").as("n_good"),
        sum(when(!col("ok"), 1).otherwise(0)).cast("long").as("n_quarantined"),
        sum(when(col("ok"), col("parsed.k")).otherwise(0L)).as("k_checksum"))
  }

  /** S15: Avro source + sink roundtrip — built directly on avro-core
    * (which Spark ships for its own shuffle/IPC use; the spark-avro
    * CONNECTOR is absent in this zero-egress container, so this closes
    * the third-row-format gap the hard way). Both directions are
    * distributed:
    *
    *   - sink: `foreachPartition` opens one `DataFileWriter` per
    *     partition and streams its rows into `part-<pid>.avro` — the
    *     same one-file-per-task layout every Spark sink produces. Files
    *     land on the local tmp FS here; a cluster deployment would open
    *     `FileSystem.create` instead of `java.io.File` (the only
    *     non-portable line).
    *   - source: [[readAvroOrders]] — byte-range splits at Avro sync
    *     markers, one task per split, so even a single huge container
    *     fans out across executors (the connector's block-split
    *     behavior rebuilt on avro-core seek/sync/pastSync; the old
    *     file-granular ceiling is gone).
    *
    * The roundtrip aggregate is order-insensitive and the oracle reads
    * the corpus directly, so a value or type mangled by either
    * direction flips the hash. */
  def s15_avro_roundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s15_")
    val schemaJson =
      """{"type":"record","name":"OrderRow","fields":[
         {"name":"o_orderkey","type":"long"},
         {"name":"o_orderstatus","type":"string"},
         {"name":"o_totalprice","type":"double"}]}""".stripMargin
    orders(s, d).select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartition(4)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          val pid = org.apache.spark.TaskContext.getPartitionId()
          w.create(schema, new java.io.File(s"$dir/part-$pid.avro"))
          try it.foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("o_orderkey", r.getLong(0))
            rec.put("o_orderstatus", r.getString(1))
            rec.put("o_totalprice", r.getDouble(2))
            w.append(rec)
          } finally w.close()
        }
      }
    val back = readAvroOrders(s, dir)
    back.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
      .orderBy("o_orderstatus")
  }

  /** One Avro container split: a Hadoop-style (path, start, end) byte
    * range. Ownership contract is avro-mapred's: a reader syncs to the
    * first block boundary at/after `start` and reads while not past the
    * sync point after `end`, so every block belongs to exactly one
    * split — no duplication, no loss, whatever the range cuts. */
  private[graft] case class AvroSplit(path: String, start: Long, end: Long)

  /** Enumerate byte-range splits over the `.avro` files under `dir` —
    * the driver-side metadata pass every FileInputFormat performs
    * (file list + lengths only; no data is read on the driver). */
  private[graft] def avroSplits(s: SparkSession, dir: String,
                                splitBytes: Long): Seq[AvroSplit] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".avro")).toSeq
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val len = st.getLen
        val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
        (0L until n).map(i => AvroSplit(st.getPath.toString,
          i * splitBytes, math.min(len, (i + 1) * splitBytes)))
      }
  }

  /** Distributed Avro read with BLOCK-level parallelism: one task per
    * byte-range split rather than per file, so a single large container
    * fans out across the cluster — the spark-avro connector's split
    * behavior rebuilt on avro-core's own seek/sync/pastSync (the same
    * triple avro-mapred's AvroRecordReader uses, so the block-ownership
    * contract is the battle-tested one). Each task opens the file via
    * FsInput, syncs to its range, and decodes only its blocks; nothing
    * funnels through the driver. `splitBytes` defaults to the usual
    * 128 MB HDFS-block target; tests shrink it to prove one file spans
    * many tasks. */
  private[graft] def readAvroOrders(s: SparkSession, dir: String,
                                    splitBytes: Long = 128L << 20): DataFrame = {
    import s.implicits._
    val splits = avroSplits(s, dir, splitBytes)
    // executor tasks must open files under the SESSION's Hadoop config,
    // not a fresh Configuration(): a bare new Configuration() drops any
    // non-default filesystem settings (object-store credentials,
    // endpoints), which works on local fs and silently breaks on a real
    // cluster — broadcast a SerializableConfiguration exactly as the
    // built-in file sources do (ADVICE r8)
    val confBc = s.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        s.sparkContext.hadoopConfiguration))
    s.createDataset(splits)
      .repartition(math.max(1, math.min(splits.length, 32)))
      .flatMap { sp =>
        val in = new org.apache.avro.mapred.FsInput(
          new org.apache.hadoop.fs.Path(sp.path), confBc.value.value)
        val rdr = org.apache.avro.file.DataFileReader.openReader(in,
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        try {
          rdr.sync(sp.start)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
          while (rdr.hasNext && !rdr.pastSync(sp.end)) {
            val rec = rdr.next()
            out += ((rec.get("o_orderkey").asInstanceOf[Long],
              rec.get("o_orderstatus").toString,
              rec.get("o_totalprice").asInstanceOf[Double]))
          }
          out
        } finally rdr.close()
      }
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
  }

  /** Morton/Z-value of two bucket ordinals: interleave the low `bits`
    * bits of x (even positions) and y (odd positions). Built from pure
    * bit-arithmetic Column functions (shiftright/bitwiseAND/shiftleft/
    * bitwiseOR) so the whole computation stays inside whole-stage
    * codegen — no UDF, no serialization boundary. */
  private[graft] def zValue(x: org.apache.spark.sql.Column,
                              y: org.apache.spark.sql.Column,
                              bits: Int): org.apache.spark.sql.Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i + 1))
    }

  /** S13: Z-order (multi-dimensional) clustered layout — S11
    * generalized to two filter columns. Each dimension is normalized to
    * an 8-bit ordinal against the table's own min/max (computed in-plan
    * and broadcast as a 1-row frame, the standard Z-order recipe: fixed-
    * width ordinals make the interleave balanced at EVERY corpus size),
    * the ordinals' bits are interleaved into a Morton code, and files
    * are range-partitioned + sorted on that code. Result: every file's
    * (date, custkey) min/max box is a small tile of the 2-D space, so a
    * filter on EITHER dimension — or both — skips whole files on footer
    * stats, where a single-dimension sort gives file skipping on one
    * dimension and nothing on the other. ScaleDesignSpec asserts the
    * tiles: a one-dimension-only predicate overlaps a strict subset of
    * files on BOTH dimensions. The read-back filters on both dimensions
    * and aggregates per month; the result is layout-independent, so the
    * oracle reads the corpus directly. */
  def s13_zorder_layout(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s13_")
    val days = datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
    val o = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      .withColumn("x_raw", days.cast("long"))
      .withColumn("y_raw", col("o_custkey").cast("long"))
    val stats = o.agg(
      min(col("x_raw")).as("x_min"), max(col("x_raw")).as("x_max"),
      min(col("y_raw")).as("y_min"), max(col("y_raw")).as("y_max"))
    val scaled = o.join(broadcast(stats))
      .withColumn("xb", ((col("x_raw") - col("x_min")) * 255L /
        greatest(col("x_max") - col("x_min"), lit(1L))).cast("int"))
      .withColumn("yb", ((col("y_raw") - col("y_min")) * 255L /
        greatest(col("y_max") - col("y_min"), lit(1L))).cast("int"))
      .withColumn("zv", zValue(col("xb"), col("yb"), 8))
    scaled.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "zv")
      .repartitionByRange(8, col("zv"))
      .sortWithinPartitions("zv")
      .write.mode("overwrite").parquet(dir)
    GraftParquetSchema.read(s, Seq(dir))
      .filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1998-01-01" &&
        col("o_custkey") % 4 === 0)
      .groupBy(month(col("o_orderdate")).cast("int").as("m"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
      .orderBy("m")
  }

  /** S14: small-file compaction (the OPTIMIZE maintenance job) — a
    * streaming sink committing every few minutes fragments a table into
    * thousands of tiny files, and at 100 TB the resulting
    * footer-read/task-schedule overhead dominates scans long before
    * data volume does. This operator simulates that state (64 tiny
    * files via `repartition(64)`), then compacts: ONE distributed pass
    * reads the fragmented table, range-partitions + sorts it on
    * o_orderdate (so compaction also restores S11's stats-clustering,
    * exactly like production OPTIMIZE ... ZORDER), writes the
    * replacement to a NEW immutable data dir, and commits it by
    * atomically swapping the table's manifest pointer
    * ([[ManifestTable.commit]]): a reader racing the swap resolves
    * either the fragmented or the compacted manifest, each naming a
    * complete table — no rename window where the path has no data
    * (ScaleDesignSpec races a reader against live commits to prove
    * it). The previous generation's data survives until the NEXT
    * commit, so a reader mid-scan on the old snapshot finishes
    * cleanly. The counts are pinned (64 → 4) so the result is
    * corpus-independent and oracle-able; in production the target
    * would be ceil(bytes / 128 MB) — the sizing policy is the only
    * thing pinned here, not the mechanism. ScaleDesignSpec asserts the
    * swap really shrinks the file count and preserves every row.
    *
    * Bench cost note: ~3.3s steady state at sf0.1 is inherent to what
    * the query measures — it performs the 64-file fragmentation write
    * AND the full compaction rewrite of orders, i.e. two complete
    * passes over the table by construction, not an inefficiency. */
  def s14_compaction(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft_s14_")
    val frag = "c-" + java.util.UUID.randomUUID().toString.take(8)
    orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .repartition(64)
      .write.parquet(s"$dir/$frag")
    ManifestTable.commit(s, dir, Seq(frag))
    val filesBefore = ManifestTable.liveFileCount(s, dir)
    val comp = "c-" + java.util.UUID.randomUUID().toString.take(8)
    ManifestTable.read(s, dir)
      .repartitionByRange(4, col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions("o_orderdate")
      .write.parquet(s"$dir/$comp")
    ManifestTable.commit(s, dir, Seq(comp))
    val filesAfter = ManifestTable.liveFileCount(s, dir)
    ManifestTable.read(s, dir)
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
      .withColumn("files_before", lit(filesBefore).cast("long"))
      .withColumn("files_after", lit(filesAfter).cast("long"))
  }

  /** S12: bucketed-table co-located join — the layout that removes the
    * big-fact shuffle entirely at 100 TB. Both join sides are written
    * `bucketBy(8, <orderkey>)` + `sortBy` as external bucketed tables
    * (metadata in the session catalog, files in a temp dir), so rows
    * with the same key land in the same bucket file on both sides and
    * the sort-merge join reads bucket-for-bucket with ZERO shuffle
    * exchanges — the only exchange left in the plan is the final
    * 5-group aggregate (ScaleDesignSpec asserts exactly that). The
    * `merge` hint pins SMJ so the assert is not at the mercy of the
    * broadcast threshold at tiny SF. Tables are keyed by an md5-derived
    * tag of the corpus path and reused across reps (bench runs each
    * query twice; the second rep must not re-bucket 100 TB); each table
    * is created under its OWN existence check, so a transient failure
    * between the two writes heals on the retry instead of leaving the
    * session with a registered orders table and a missing lineitem one. */
  def s12_bucketed_join(s: SparkSession, d: String): DataFrame = {
    val tag = java.util.UUID.nameUUIDFromBytes(d.getBytes("UTF-8"))
      .toString.replace("-", "").take(12)
    val (ot, lt) = (s"graft_orders_bkt_$tag", s"graft_lineitem_bkt_$tag")
    if (!s.catalog.tableExists(ot))
      orders(s, d).select("o_orderkey", "o_orderpriority")
        .write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", tmp("graft_s12_o_")).saveAsTable(ot)
    if (!s.catalog.tableExists(lt))
      lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
        .write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", tmp("graft_s12_l_")).saveAsTable(lt)
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Shared fixture for S16/S17: one merge-table lifecycle per
    * (session, corpus) — create from orders (v1), then one MERGE that
    * updates keys ≡3 (mod 10) (+1000.00 on the price — an exact double
    * increment, so both engines see bit-identical updated values),
    * deletes keys ≡7, and inserts the ≡5 rows under fresh negated keys
    * (v2). Both queries read this table, so the lifecycle runs once per
    * session, not once per query per rep (the pdfPages-memo pattern).
    * The +1000/negate/mod-10 choices are all integer-exact and
    * disjoint, so the merged table is a pure SQL expression over orders
    * for the DuckDB oracle. */
  private val mergeDemoCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, Long, Long)]
  private def mergeDemo(s: SparkSession, d: String): (String, Long, Long) = {
    mergeDemoCache.keySet.removeIf(_._1.sparkContext.isStopped)
    mergeDemoCache.computeIfAbsent((s, d), { case (s, d) =>
      val dir = tmp("graft_s16_")
      val base = orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val v1 = MergeInto.create(base, dir, "o_orderkey", nBuckets = 16)
      val k = col("o_orderkey")
      val upd = base.filter(k % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ins = base.filter(k % 10 === 5).withColumn("o_orderkey", -k)
      val del = base.filter(k % 10 === 7)
      val v2 = MergeInto.merge(upd.unionByName(ins).unionByName(del), dir,
        deleteWhen = k % 10 === 7 && k > 0)
      (dir, v1, v2)
    })
  }

  /** S16: batch MERGE INTO — the [[MergeInto]] operator end to end on
    * the shared lifecycle above, verified through the live snapshot's
    * aggregate. The oracle reconstructs the merged table in pure SQL
    * (base minus updated/deleted keys, plus new-image updates, plus
    * inserts), so a wrong clause — a delete that didn't remove, an
    * update that appended instead of replacing, an insert lost to an
    * emptied bucket — shifts the count/sum/checksum and breaks the
    * hash. */
  def s16_merge_upsert(s: SparkSession, d: String): DataFrame = {
    val (dir, _, _) = mergeDemo(s, d)
    MergeInto.read(s, dir)
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
  }

  /** S17: time travel + row-level CDC — diff the pre-merge snapshot
    * (v1, still retained) against the post-merge live version (v2)
    * through [[ManifestTable.changes]] and aggregate by change type.
    * The expected feed is exact: every updated key yields one delete
    * (old image) + one insert (new image), every deleted key one
    * delete, every insert one insert — so the per-type counts and key
    * checksums pin both the time-travel read and the diff. The diff
    * itself reads only dirs the two manifests don't share (immutable
    * dirs cancel), which the spec asserts on the scanned files. */
  def s17_snapshot_diff(s: SparkSession, d: String): DataFrame = {
    val (dir, v1, v2) = mergeDemo(s, d)
    ManifestTable.changes(s, dir, v1, v2)
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_checksum"))
      .orderBy("change_type")
  }

  /** S18: point lookup on the merged table — exercises every clause's
    * outcome through the serving path: key 1 untouched, key 3 updated
    * (+1000.00), key 7 deleted (absent from the result), key -5
    * inserted. The lookup opens only the buckets those keys hash to
    * (inputFiles-asserted in MergeIntoSpec); the oracle reconstructs
    * the merged table in SQL and filters the same keys. */
  def s18_point_lookup(s: SparkSession, d: String): DataFrame = {
    val (dir, _, _) = mergeDemo(s, d)
    import s.implicits._
    val keys = Seq(1L, 3L, 7L, -5L).toDF("o_orderkey")
    MergeInto.lookup(s, dir, keys)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderkey")
  }

  /** Shared fixture for S19: an APPEND table ingested in yearly batches
    * (1995–2001 — the corpus orders date domain), o_orderdate stats
    * observed at each append, so every commit dir's recorded [min,max]
    * spans one year. Built once per (session, corpus), like
    * [[mergeDemo]]. */
  private val appendDemoCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]
  private def appendDemo(s: SparkSession, d: String): String = {
    appendDemoCache.keySet.removeIf(_._1.sparkContext.isStopped)
    appendDemoCache.computeIfAbsent((s, d), { case (s, d) =>
      val dir = tmp("graft_s19_")
      val base = orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      (1995 to 2001).foreach { y =>
        ManifestTable.append(
          base.filter(year(col("o_orderdate")) === y), dir,
          statsCols = Seq("o_orderdate"))
      }
      dir
    })
  }

  /** S19: manifest-level data skipping — a date-range scan over the
    * append table opens ONLY the commit dirs whose recorded
    * [min,max] intersects the range (one of seven here; the spec
    * asserts the scanned files), then parquet pushes the residual filter
    * inside the survivor. The oracle is a plain filter over orders:
    * pruning is an I/O optimization, never a correctness dependency,
    * so a wrong prune (a dir dropped that held matching rows) breaks
    * the count/sum/checksum hash. */
  def s19_stats_skipping(s: SparkSession, d: String): DataFrame = {
    val dir = appendDemo(s, d)
    ManifestTable.rangeScan(s, dir, "o_orderdate", "1997-01-01", "1997-12-31")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
  }

  private val sourceDemoCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]
  /** S20 fixture: the S19 yearly-append shape, built THROUGH the
    * graft-manifest DataSource write path (df.write.format(...).mode
    * (append) with statsCols), so the board query exercises writer and
    * reader of the interop surface end to end. */
  private def sourceDemo(s: SparkSession, d: String): String = {
    sourceDemoCache.keySet.removeIf(_._1.sparkContext.isStopped)
    sourceDemoCache.computeIfAbsent((s, d), { case (s, d) =>
      val dir = tmp("graft_s20_")
      val base = orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      (1995 to 2001).foreach { y =>
        base.filter(year(col("o_orderdate")) === y)
          .write.format("graft-manifest").mode("append")
          .option("statsCols", "o_orderdate").save(dir)
      }
      dir
    })
  }

  /** S20: the manifest table behind Spark's standard source API
    * ([[GraftManifestAlias]], the `graft-manifest` name of the V2
    * provider) — a filtered read via `spark.read.format("graft-manifest")`
    * whose pushed date predicate prunes to one commit dir of seven in
    * the V2 scan's filter→bounds→stats path (deleted-dir-proven in
    * GraftSourceSpec; planned as a columnar `BatchScanExec`), with the
    * price band left as residual work the re-applied exact filters
    * handle. Oracle = the same predicates as
    * plain SQL over orders: the interop surface must change WHERE the
    * rows are read, never WHICH rows come back. */
  def s20_source_pushdown(s: SparkSession, d: String): DataFrame = {
    val dir = sourceDemo(s, d)
    val t = s.read.format("graft-manifest").load(dir)
    // literals cast to the column's own timestamp flavor (the corpus
    // has shipped o_orderdate as DATE, TIMESTAMP and TIMESTAMP_NTZ
    // across generations — see Tables.events)
    val dt = t.schema("o_orderdate").dataType
    t.filter(col("o_orderdate") >= lit("1998-01-01 00:00:00").cast(dt) &&
        col("o_orderdate") <= lit("1998-12-31 23:59:59").cast(dt) &&
        col("o_totalprice") >= 1000.0 && col("o_totalprice") <= 250000.0)
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
  }

  /** S21: metadata-only aggregate pushdown on the V2 `graft` source
    * ([[GraftTableProvider]]) — the global count + date extremes over
    * the S20 demo table are answered from `#stats` manifest headers
    * without opening ONE data file (complete pushdown; proven the hard
    * way in GraftV2Spec by deleting every data dir). Every commit dir
    * was written with `statsCols=o_orderdate`, including the empty
    * 1999–2001 appends (rows=0, all-null extremes — skipped, not
    * mis-counted). Falls back to a normal scan, same answer, if any
    * dir's stats were missing — the oracle can't tell, by design. */
  def s21_agg_pushdown(s: SparkSession, d: String): DataFrame = {
    val dir = sourceDemo(s, d)
    s.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"),
        min(col("o_orderdate")).as("first_day"),
        max(col("o_orderdate")).as("last_day"))
  }

  /** S22: the S20 pruned-read shape through the V2 path — same pushed
    * date envelope, same residual price band, now planned as a
    * columnar BatchScan (no V1 Row bridge) with manifest-dir pruning
    * in [[GraftScan]]. Same oracle as s20: the API surface must change
    * WHERE rows are read, never WHICH rows come back. */
  def s22_v2_pushdown(s: SparkSession, d: String): DataFrame = {
    val dir = sourceDemo(s, d)
    val t = s.read.format("graft").load(dir)
    val dt = t.schema("o_orderdate").dataType
    t.filter(col("o_orderdate") >= lit("1998-01-01 00:00:00").cast(dt) &&
        col("o_orderdate") <= lit("1998-12-31 23:59:59").cast(dt) &&
        col("o_totalprice") >= 1000.0 && col("o_totalprice") <= 250000.0)
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).as("key_checksum"))
  }


  /** S23 fixture: a catalog (warehouse = fresh tmp dir, name keyed by
    * the sf dir so re-registration is idempotent within a session)
    * holding `lake.ocat`, built entirely through the SQL/writeTo
    * surface: CTAS with the pre-1997 slice of orders (→ v2), then an
    * INSERT of the rest (→ v3). `retainGenerations=10` keeps the CTAS
    * snapshot retained for the time-travel leg. */
  private val catalogDemo = new graft.FixtureMemo((s, d) => {
      val cat = "gb" + (d.hashCode & 0x7fffffff).toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp("graft_s23_"))
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
      val base = orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      base.filter(year(col("o_orderdate")) < 1997)
        .writeTo(s"$cat.lake.ocat")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .create()
      base.filter(year(col("o_orderdate")) >= 1997)
        .writeTo(s"$cat.lake.ocat").append()
      cat
  })

  /** S23: the `TableCatalog` plugin ([[GraftCatalog]]) — multi-part-
    * identifier SQL against a manifest table with zero path plumbing:
    * one leg aggregates the live table, the other time-travels to the
    * CTAS snapshot (`VERSION AS OF 2` — v1 is the schema-only CREATE).
    * The oracle rebuilds both from plain orders: catalog resolution
    * and snapshot isolation must change HOW the table is addressed,
    * never WHICH rows come back. Every catalog op here is
    * metadata-only (one manifest read per leg). */
  def s23_catalog_sql(s: SparkSession, d: String): DataFrame = {
    val cat = catalogDemo(s, d)
    s.sql(
      s"""SELECT h.n_total, h.total_price, h.key_checksum, v.n_snapshot
          FROM (SELECT count(*) AS n_total,
                       round(sum(o_totalprice), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.ocat) h
          CROSS JOIN (SELECT count(*) AS n_snapshot
                      FROM $cat.lake.ocat VERSION AS OF 2) v""")
  }

  /** S24 fixture: `lake.odel` in the S23 catalog — CREATE + one INSERT
    * of orders (→ v2), then one SQL `DELETE FROM` removing the urgent
    * post-1996 slice (→ v3). `retainGenerations=10` keeps the
    * pre-delete snapshot for the time-travel leg. */
  private val deleteDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .writeTo(s"$cat.lake.odel")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .create()
      s.sql(s"""DELETE FROM $cat.lake.odel
                WHERE o_orderdate >= DATE'1997-01-01'
                  AND o_orderpriority = '1-URGENT'""")
      cat
  })

  /** S24: SQL `DELETE FROM` on a manifest table (dir-granular
    * copy-on-write through [[ManifestTable.deleteWhere]]) — one leg
    * aggregates the table AFTER the delete, the other time-travels to
    * the pre-delete snapshot (`VERSION AS OF 2`), so the oracle checks
    * both that exactly the predicated rows died AND that history
    * survived the rewrite. SQL delete semantics are on trial here: a
    * row where the predicate is NULL must survive (orders has no
    * nulls, so the slice is exact either way; the null lane is
    * spec-tested on a crafted table). */
  def s24_delete_where(s: SparkSession, d: String): DataFrame = {
    val cat = deleteDemo(s, d)
    s.sql(
      s"""SELECT h.n_kept, h.total_price, h.key_checksum, v.n_before
          FROM (SELECT count(*) AS n_kept,
                       round(sum(o_totalprice), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.odel) h
          CROSS JOIN (SELECT count(*) AS n_before
                      FROM $cat.lake.odel VERSION AS OF 2) v""")
  }

  /** S41 fixture: `lake.odv` — the S24 statement on a
    * `dml.mode=merge-on-read` table: CREATE + INSERT of orders (→ v2),
    * then one SQL `DELETE FROM` of the high-priority 1997+ slice
    * (→ v3) that commits a DELETION VECTOR — a metadata-only commit
    * masking the rows out; zero data dirs rewritten (the
    * position-delta write, `GraftPositionDeltaWrite`). */
  private val dvDeleteDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .writeTo(s"$cat.lake.odv")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .tableProperty("dml.mode", "merge-on-read")
        .create()
      s.sql(s"""DELETE FROM $cat.lake.odv
                WHERE o_orderdate >= DATE'1997-01-01'
                  AND o_orderpriority = '2-HIGH'""")
      cat
  })

  /** S41: merge-on-read DELETE via deletion vectors. Three trials in
    * one row: the post-delete aggregate (the V2 scan must apply the
    * mask exactly — its row-position filter, not a rewrite), the
    * pre-delete snapshot (time travel across a DV commit), and
    * `mask_only` — computed from the two manifests driver-side — TRUE
    * iff the delete's commit changed NO path (the write-amplification
    * claim, witnessed in the oracle-checked row itself). */
  def s41_dv_delete(s: SparkSession, d: String): DataFrame = {
    val cat = dvDeleteDemo(s, d)
    val dir = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/odv"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val maskOnly =
      ManifestTable.pathsOf(fs, dir, 3L) == ManifestTable.pathsOf(fs, dir, 2L) &&
        ManifestTable.dvOf(fs, dir, 3L).nonEmpty
    s.sql(
      s"""SELECT h.n_kept, h.total_price, h.key_checksum, v.n_before
          FROM (SELECT count(*) AS n_kept,
                       round(sum(o_totalprice), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.odv) h
          CROSS JOIN (SELECT count(*) AS n_before
                      FROM $cat.lake.odv VERSION AS OF 2) v""")
      .withColumn("mask_only", lit(maskOnly))
  }

  /** S42 fixture: `lake.ocmap` — CREATE + INSERT of orders (→ v2),
    * then two METADATA-ONLY schema changes: `RENAME COLUMN
    * o_totalprice TO price` (column mapping: the physical parquet name
    * freezes, `colmap:` channel) and `DROP COLUMN o_orderpriority`
    * (tombstoned), then one more INSERT — whose files store the
    * PHYSICAL name — so the live table mixes pre- and post-rename
    * vintages under one logical schema. */
  private val cmapDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .writeTo(s"$cat.lake.ocmap")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .create()
      s.sql(s"ALTER TABLE $cat.lake.ocmap RENAME COLUMN o_totalprice TO price")
      s.sql(s"ALTER TABLE $cat.lake.ocmap DROP COLUMN o_orderpriority")
      orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("price"), col("o_orderdate"))
        .writeTo(s"$cat.lake.ocmap").append()
      cat
  })

  /** S42: RENAME/DROP COLUMN as pointer commits. One leg aggregates
    * the mixed-vintage live table through the NEW names (the V2 scan
    * requests physical names per the mapping), one time-travels to the
    * pre-evolution snapshot (old names, old shape), and `meta_only` —
    * computed from the manifests — witnesses that neither schema
    * change touched a single data path. */
  def s42_column_mapping(s: SparkSession, d: String): DataFrame = {
    val cat = cmapDemo(s, d)
    val dir = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/ocmap"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val metaOnly =
      ManifestTable.pathsOf(fs, dir, 3L) == ManifestTable.pathsOf(fs, dir, 2L) &&
        ManifestTable.pathsOf(fs, dir, 4L) == ManifestTable.pathsOf(fs, dir, 2L)
    s.sql(
      s"""SELECT h.n_rows, h.total_price, h.key_checksum, v.n_before
          FROM (SELECT count(*) AS n_rows,
                       round(sum(price), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.ocmap) h
          CROSS JOIN (SELECT count(*) AS n_before
                      FROM $cat.lake.ocmap VERSION AS OF 2) v""")
      .withColumn("meta_only", lit(metaOnly))
  }

  /** S41b fixture: `lake.opdu` — a `dml.mode=merge-on-read` orders
    * table, then one SQL `UPDATE` (+500.0 on the low-priority pre-1996H2
    * slice, exact in IEEE doubles). The update rides the POSITION-delta
    * row-level operation (row id = (file, row position)): old images
    * mask out via the dv channel, new images land as ONE fresh dir —
    * zero standing dirs rewritten. */
  private val dvUpdateDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .writeTo(s"$cat.lake.opdu")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .tableProperty("dml.mode", "merge-on-read")
        .create()
      s.sql(s"""UPDATE $cat.lake.opdu
                SET o_totalprice = o_totalprice + 500.0
                WHERE o_orderpriority = '5-LOW'
                  AND o_orderdate < DATE'1996-06-01'""")
      cat
  })

  /** S41b: SQL `UPDATE` on a merge-on-read table honors the declared
    * contract — same visible semantics as S25's copy-on-write update
    * (the oracle checks exactly that), but the commit is `masks + one
    * fresh images dir`, witnessed by `mask_plus_images`: every
    * pre-update dir still listed, EXACTLY one new `pd-` dir, and a
    * non-empty dv channel. */
  def s41_dv_update_sql(s: SparkSession, d: String): DataFrame = {
    val cat = dvUpdateDemo(s, d)
    val dir = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/opdu"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val p2 = ManifestTable.pathsOf(fs, dir, 2L)
    val p3 = ManifestTable.pathsOf(fs, dir, 3L)
    val fresh = p3.filterNot(p2.toSet)
    val maskPlusImages = p2.toSet.subsetOf(p3.toSet) &&
      fresh.length == 1 && fresh.head.startsWith("pd-") &&
      ManifestTable.dvOf(fs, dir, 3L).nonEmpty
    s.sql(
      s"""SELECT h.n_rows, h.total_price, h.key_checksum, v.price_before
          FROM (SELECT count(*) AS n_rows,
                       round(sum(o_totalprice), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.opdu) h
          CROSS JOIN (SELECT round(sum(o_totalprice), 2) AS price_before
                      FROM $cat.lake.opdu VERSION AS OF 2) v""")
      .withColumn("mask_plus_images", lit(maskPlusImages))
  }

  /** S44 fixture: `lake.oblm` — orders as four YEARLY appends with a
    * bloom point index on `o_orderkey` (`bloomCols` property). Order
    * keys scatter uniformly across dates, so every dir's key RANGE
    * spans the keyspace — min/max stats prune nothing for a key
    * lookup; the per-dir membership sketches prune every dir that
    * provably lacks the key. */
  private val bloomDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      val o = orders(s, d).select("o_orderkey", "o_totalprice", "o_orderdate")
      o.filter(year(col("o_orderdate")) <= 1995)
        .writeTo(s"$cat.lake.oblm")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .tableProperty("bloomCols", "o_orderkey")
        .tableProperty("bloomFpp", "0.001")
        .create()
      Seq(1996, 1997).foreach(y =>
        o.filter(year(col("o_orderdate")) === y)
          .writeTo(s"$cat.lake.oblm").append())
      // open-ended tail slice: the table must hold EVERY order (the
      // oracle replays the probe over the whole corpus), whatever year
      // range a given SF's generator produced
      o.filter(year(col("o_orderdate")) >= 1998)
        .writeTo(s"$cat.lake.oblm").append()
      cat
  })

  /** S44: bloom-indexed point lookup. The probe keys are the table's
    * three smallest order keys (deterministic at any SF); the result
    * aggregates their rows, and `bloom_pruned` — computed driver-side
    * from the manifest's `#bloomidx` channel — witnesses that every
    * dir is indexed AND the sketches pruned dirs the range stats could
    * not (the keys' dates scatter, so every dir's key range covers
    * them). */
  def s44_bloom_lookup(s: SparkSession, d: String): DataFrame = {
    val cat = bloomDemo(s, d)
    val dir = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/oblm"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val head = ManifestTable.headVersion(s, dir).get
    val keys = s.table(s"$cat.lake.oblm").select("o_orderkey")
      .orderBy("o_orderkey").limit(3).collect().map(_.getLong(0)).toSeq
    val paths = ManifestTable.pathsOf(fs, dir, head)
    val blooms = ManifestTable.bloomsOf(fs, dir, head)
    val kept = ManifestTable.pruneByBloom(fs, dir, paths, blooms,
      Seq("o_orderkey" -> keys.map(_.toString).toSet),
      scala.collection.mutable.Map.empty,
      new java.util.concurrent.atomic.AtomicInteger(
        graft.ScaleKnobs.BloomProbeMaxSidecars))
    val bloomPruned =
      blooms.size == paths.size && kept.size < paths.size
    s.table(s"$cat.lake.oblm")
      .where(col("o_orderkey").isin(keys: _*))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).cast("long").as("key_checksum"))
      .withColumn("bloom_pruned", lit(bloomPruned))
  }

  /** S21 under masks: COUNT(*) on the S41 merge-on-read table (standing
    * deletion vectors) answered as pure manifest arithmetic — Σ recorded
    * physical rowcounts − Σ mask position counts (exact: standing masks
    * of one dir are position-disjoint by the dv protocol's publish
    * guard). `count_pushed` witnesses the pushed-aggregate plan — a MoR
    * table keeps its cheapest query without materializing a single mask. */
  def s21_masked_count(s: SparkSession, d: String): DataFrame = {
    val cat = dvDeleteDemo(s, d)
    val counted = s.table(s"$cat.lake.odv").groupBy()
      .agg(count(lit(1)).as("n_kept"))
    val pushed = counted.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description().contains("PushedAggregates")
    }.getOrElse(false)
    counted.withColumn("count_pushed", lit(pushed))
  }

  /** S45 fixture: a 3-dir manifest table whose nullable column splits
    * the dirs into all-null / mixed / all-non-null — the geometry the
    * `#nulls` stats lane prunes on. Derived from orders so the oracle
    * can replay the null rule (`o_orderkey % 7 = 0 → NULL`) in SQL. */
  private val nullStatsDemo = new graft.FixtureMemo((s, d) => {
    val dir = tmp("graft_s45_")
    val base = orders(s, d).select(col("o_orderkey"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("o_orderpriority")).as("prio"))
    // dir 1: the all-null slice; dirs 2-3: non-null rows split by key
    ManifestTable.append(base.filter(col("prio").isNull), dir,
      statsCols = Seq("o_orderkey", "prio"))
    ManifestTable.append(
      base.filter(col("prio").isNotNull && col("o_orderkey") % 2 === 0),
      dir, statsCols = Seq("o_orderkey", "prio"))
    ManifestTable.append(
      base.filter(col("prio").isNotNull && col("o_orderkey") % 2 === 1),
      dir, statsCols = Seq("o_orderkey", "prio"))
    dir
  })

  /** S47 fixture: an orders table built by an idempotent batch writer —
    * each half of orders lands under its own (txnAppId, txnVersion),
    * and BOTH writes are then replayed verbatim (the crash-between-
    * commit-and-ack shape). The replays must be recognized by the
    * recorded watermarks and skipped, or the table double-counts. */
  private val txnDemo = new graft.FixtureMemo((s, d) => {
    val dir = tmp("graft_s47_")
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    def write(slice: org.apache.spark.sql.DataFrame, ver: Long): Unit =
      slice.write.format("graft").mode("append")
        .option("txnAppId", "s47-ingest").option("txnVersion", ver.toString)
        .save(dir)
    val even = base.filter(col("o_orderkey") % 2 === 0)
    val odd = base.filter(col("o_orderkey") % 2 === 1)
    write(even, 1L); write(odd, 2L)
    write(even, 1L); write(odd, 2L) // verbatim replays: must no-op
    dir
  })

  /** S47: idempotent batch writes (txnAppId/txnVersion write options —
    * Delta's foreachBatch contract on the DSv2 surface). The fixture
    * replayed both ingest batches; the aggregate matches a SINGLE
    * application of each, and `replay_skipped` witnesses that the
    * replays committed nothing (head version is exactly 2). */
  def s47_idempotent_write(s: SparkSession, d: String): DataFrame = {
    val dir = txnDemo(s, d)
    val skipped = ManifestTable.headVersion(s, dir).contains(2L)
    s.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        sum(col("o_orderkey")).cast("long").as("key_checksum"))
      .withColumn("replay_skipped", lit(skipped))
  }

  /** S48 fixture: `lake.defs` exercises the full default-value
    * lifecycle — rows inserted BEFORE the column existed (they serve
    * the ADD-time existence constant 'legacy' forever), an ALTER SET
    * DEFAULT to 'fresh' (governs later short inserts only), and an
    * explicit-value insert. Key ranges are disjoint by `mod 3` so the
    * oracle re-derives every band from raw orders. */
  private val defaultsDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority")).createOrReplaceTempView("graft_s48_orders")
    s.sql(s"""CREATE TABLE $cat.lake.defs (
                k BIGINT, price DOUBLE) TBLPROPERTIES
                ('retainGenerations'='10')""")
    s.sql(s"""INSERT INTO $cat.lake.defs
              SELECT o_orderkey, o_totalprice FROM graft_s48_orders
              WHERE o_orderkey % 3 = 0""")
    s.sql(s"ALTER TABLE $cat.lake.defs ADD COLUMN band STRING DEFAULT 'legacy'")
    s.sql(s"ALTER TABLE $cat.lake.defs ALTER COLUMN band SET DEFAULT 'fresh'")
    s.sql(s"""INSERT INTO $cat.lake.defs (k, price)
              SELECT o_orderkey, o_totalprice FROM graft_s48_orders
              WHERE o_orderkey % 3 = 1""")
    s.sql(s"""INSERT INTO $cat.lake.defs
              SELECT o_orderkey, o_totalprice, upper(o_orderpriority)
              FROM graft_s48_orders WHERE o_orderkey % 3 = 2""")
    cat
  })

  /** S48: column DEFAULT values — CREATE/ADD COLUMN DEFAULT, the
    * existence-vs-current split (SQL-standard / Iceberg v3
    * initial-default semantics), metadata-only (the ADD rewrites no
    * data file; Spark's parquet readers fill pre-ADD rows from
    * EXISTS_DEFAULT field metadata). The aggregate groups by the
    * defaulted column across all three populations. */
  def s48_default_values(s: SparkSession, d: String): DataFrame = {
    val cat = defaultsDemo(s, d)
    s.sql(s"""SELECT band, count(*) AS n_rows,
                     CAST(sum(k) AS BIGINT) AS key_checksum,
                     round(sum(price), 2) AS total_price
              FROM $cat.lake.defs
              GROUP BY band ORDER BY band""")
  }

  /** S49 fixture: the write-audit-publish cycle on `lake.wap` — half
    * of orders lands on main, the other half is staged on branch
    * 'load' (written through the SQL branch address), audited while
    * the parent still serves only its half, then fast-forward
    * published. A failed isolation or a double-publish breaks the
    * oracle aggregate. */
  private val wapDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("graft_s49_orders")
    s.sql(s"""CREATE TABLE $cat.lake.wap (k BIGINT, price DOUBLE)
              TBLPROPERTIES ('retainGenerations'='10', 'statsCols'='k')""")
    s.sql(s"""INSERT INTO $cat.lake.wap
              SELECT o_orderkey, o_totalprice FROM graft_s49_orders
              WHERE o_orderkey % 2 = 0""")
    s.sql(s"CALL $cat.system.create_branch(table => 'lake.wap', name => 'load')")
    s.sql(s"""INSERT INTO $cat.lake.`wap$$branch$$load`
              SELECT o_orderkey, o_totalprice FROM graft_s49_orders
              WHERE o_orderkey % 2 = 1""")
    // the audit step: the branch must hold everything, the parent
    // only its half — a leak either way fails here, not in the oracle
    val staged = s.sql(s"SELECT count(*) FROM $cat.lake.`wap$$branch$$load`")
      .head.getLong(0)
    val visible = s.sql(s"SELECT count(*) FROM $cat.lake.wap").head.getLong(0)
    require(staged > visible && visible > 0,
      s"WAP isolation broken: staged=$staged visible=$visible")
    s.sql(s"CALL $cat.system.publish_branch(table => 'lake.wap', name => 'load')")
    cat
  })

  /** S49: write-audit-publish branches (Iceberg-branch / WAP shaped).
    * The aggregate runs on the PARENT after the publish: exactly one
    * application of both halves, with `branches_clear` witnessing the
    * branch was consumed by its fast-forward. */
  def s49_wap_branch(s: SparkSession, d: String): DataFrame = {
    val cat = wapDemo(s, d)
    val clear = s.sql(s"SELECT * FROM $cat.lake.`wap$$branches`").count() == 0L
    s.sql(s"""SELECT count(*) AS n_rows,
                     CAST(sum(k) AS BIGINT) AS key_checksum,
                     round(sum(price), 2) AS total_price
              FROM $cat.lake.wap""")
      .withColumn("branches_clear", lit(clear))
  }

  /** S50 fixture: `lake.gen` — orders with two GENERATED ALWAYS AS
    * columns (the order year and a price band), populated by an INSERT
    * that OMITS both (the engine computes them), plus one UPDATE that
    * moves a slice's price — the generated band must RECOMPUTE for
    * exactly the updated rows. */
  private val generatedDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate")).createOrReplaceTempView("graft_s50_orders")
    s.sql(s"""CREATE TABLE $cat.lake.gen (
                k BIGINT, price DOUBLE, d DATE,
                yr INT GENERATED ALWAYS AS (year(d)),
                band STRING GENERATED ALWAYS AS (
                  CASE WHEN price >= 200000 THEN 'high' ELSE 'low' END))
              TBLPROPERTIES ('retainGenerations'='10')""")
    s.sql(s"""INSERT INTO $cat.lake.gen (k, price, d)
              SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE)
              FROM graft_s50_orders""")
    s.sql(s"""UPDATE $cat.lake.gen SET price = price + 150000
              WHERE k % 100 = 7""")
    cat
  })

  /** S50: GENERATED ALWAYS AS columns — computed at INSERT when
    * omitted, RECOMPUTED by DML write-backs (the UPDATE moved prices
    * across the band threshold; the band followed). The oracle
    * re-derives both generated columns from raw orders through the
    * same arithmetic. */
  def s50_generated_columns(s: SparkSession, d: String): DataFrame = {
    val cat = generatedDemo(s, d)
    s.sql(s"""SELECT yr, band, count(*) AS n_rows,
                     CAST(sum(k) AS BIGINT) AS key_checksum,
                     round(sum(price), 2) AS total_price
              FROM $cat.lake.gen
              GROUP BY yr, band ORDER BY yr, band""")
  }

  /** S51 fixture: `lake.ids` — an IDENTITY-keyed event table loaded in
    * three batches (two appends + a MERGE whose NOT-MATCHED half
    * inserts). Ids are engine-minted (gap-tolerant), so the oracle
    * checks the INVARIANTS rather than the values: row count, id
    * uniqueness, arithmetic conformance, per-batch monotonicity. */
  private val identityDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("graft_s51_orders")
    s.sql(s"""CREATE TABLE $cat.lake.ids (
                id BIGINT GENERATED ALWAYS AS IDENTITY
                  (START WITH 1000 INCREMENT BY 2),
                k BIGINT, price DOUBLE)
              TBLPROPERTIES ('retainGenerations'='10')""")
    s.sql(s"""INSERT INTO $cat.lake.ids (k, price)
              SELECT o_orderkey, o_totalprice FROM graft_s51_orders
              WHERE o_orderkey % 3 = 0""")
    s.sql(s"""INSERT INTO $cat.lake.ids (k, price)
              SELECT o_orderkey, o_totalprice FROM graft_s51_orders
              WHERE o_orderkey % 3 = 1""")
    s.sql(s"""MERGE INTO $cat.lake.ids t
              USING (SELECT o_orderkey AS k, o_totalprice AS price
                     FROM graft_s51_orders WHERE o_orderkey % 3 = 2) s
              ON t.k = s.k
              WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.price)""")
    cat
  })

  /** S51: IDENTITY columns — minted on the append surfaces from the
    * manifest watermark (unique, gap-tolerant, one pass), verified at
    * publish against concurrent allocation. Ids are engine-chosen, so
    * the query aggregates INVARIANTS the oracle can re-state: every
    * order landed exactly once, every id unique, every id on the
    * declared arithmetic (start 1000, step 2). */
  def s51_identity_columns(s: SparkSession, d: String): DataFrame = {
    val cat = identityDemo(s, d)
    s.sql(s"""SELECT count(*) AS n_rows,
                     count(DISTINCT id) AS n_ids,
                     CAST(sum(k) AS BIGINT) AS key_checksum,
                     CAST(sum(CASE WHEN id >= 1000 AND (id - 1000) % 2 = 0
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS on_arithmetic
              FROM $cat.lake.ids""")
  }

  /** S52 fixture: `lake.con` with an INLINE CHECK (standard SQL
    * constraint syntax) plus an ALTER-added one; a violating batch is
    * attempted and must refuse wholesale (nothing lands). */
  private val constraintSqlDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("graft_s52_orders")
    s.sql(s"""CREATE TABLE $cat.lake.con (
                k BIGINT, price DOUBLE,
                CONSTRAINT price_pos CHECK (price > 0))
              TBLPROPERTIES ('retainGenerations'='10')""")
    s.sql(s"""INSERT INTO $cat.lake.con
              SELECT o_orderkey, o_totalprice FROM graft_s52_orders""")
    s.sql(s"ALTER TABLE $cat.lake.con " +
      "ADD CONSTRAINT k_nonneg CHECK (k >= 0)")
    val refused =
      try { s.sql(s"INSERT INTO $cat.lake.con VALUES (-1, 10.0)"); false }
      catch { case _: Exception => true }
    require(refused, "the violating batch must refuse")
    cat
  })

  /** S52: standard SQL constraint syntax (ADD/DROP CONSTRAINT, inline
    * CREATE) on the S30 enforcement machine. The aggregate proves the
    * violating batch left no trace; `n_constraints` witnesses both
    * declared contracts surfacing through the V2 constraints() API. */
  def s52_constraint_sql(s: SparkSession, d: String): DataFrame = {
    val cat = constraintSqlDemo(s, d)
    val t = s.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog].loadTable(
        org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("lake"), "con"))
    val n = t.constraints().length
    s.sql(s"""SELECT count(*) AS n_rows,
                     CAST(sum(k) AS BIGINT) AS key_checksum,
                     round(sum(price), 2) AS total_price
              FROM $cat.lake.con""")
      .withColumn("n_constraints", lit(n))
  }

  /** S45: the `#nulls` stats lane. COUNT(*) and COUNT(col) answer
    * metadata-only (Σ rows, Σ rows − recorded nulls — `count_pushed`
    * witnesses the plan); the IS NULL leg scans, with its all-non-null
    * dirs dir-pruned via the lane (`null_pruned` witnesses the
    * driver-side arithmetic: 2 of 3 dirs carry zero nulls). */
  def s45_null_stats(s: SparkSession, d: String): DataFrame = {
    val dir = nullStatsDemo(s, d)
    val t = s.read.format("graft").load(dir)
    val counted = t.groupBy().agg(count(lit(1)).as("n_rows"),
      count(col("prio")).as("n_vals"))
    val pushed = counted.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description().contains("PushedAggregates")
    }.getOrElse(false)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val head = ManifestTable.headVersion(s, dir).get
    val paths = ManifestTable.pathsOf(fs, dir, head)
    val stats = ManifestTable.statsOf(fs, dir, head)
    val keptForIsNull = ManifestTable.pruneByNulls(paths, stats,
      Seq(org.apache.spark.sql.sources.IsNull("prio")))
    val nullPruned = paths.size == 3 && keptForIsNull.size == 1
    val nNull = t.filter(col("prio").isNull)
      .agg(count(lit(1)).as("n_null"))
    counted.crossJoin(nNull)
      .withColumn("count_pushed", lit(pushed))
      .withColumn("null_pruned", lit(nullPruned))
  }

  /** S25 fixture: `lake.oupd` in the S23 catalog — CREATE + INSERT of
    * orders (→ v2), then one SQL `UPDATE` adding a flat 500.0 surcharge
    * to the low-priority pre-1996H2 slice (→ v3). The +500.0 delta is
    * EXACT in IEEE doubles, so the oracle comparison carries no
    * float-rounding risk. Requires the session to carry
    * `spark.sql.extensions=graft.GraftExtensions`. */
  private val updateDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .writeTo(s"$cat.lake.oupd")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .create()
      s.sql(s"""UPDATE $cat.lake.oupd
                SET o_totalprice = o_totalprice + 500.0
                WHERE o_orderpriority = '5-LOW'
                  AND o_orderdate < DATE'1996-06-01'""")
      cat
  })

  /** S25: SQL `UPDATE` on a manifest table, served by Spark's native
    * row-level rewrite onto [[GraftGroupOperation]]'s dir-granular
    * copy-on-write (GraftRowLevelOps) — one
    * leg aggregates the table AFTER the update, the other time-travels
    * to the pre-update snapshot, so the oracle checks that exactly the
    * predicated rows changed by exactly the assigned delta AND that
    * history survived the rewrite. */
  def s25_update_where(s: SparkSession, d: String): DataFrame = {
    val cat = updateDemo(s, d)
    s.sql(
      s"""SELECT h.n_rows, h.total_price, h.key_checksum, v.price_before
          FROM (SELECT count(*) AS n_rows,
                       round(sum(o_totalprice), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.oupd) h
          CROSS JOIN (SELECT round(sum(o_totalprice), 2) AS price_before
                      FROM $cat.lake.oupd VERSION AS OF 2) v""")
  }

  /** S26 fixture: `lake.omrg` = all orders as (k, price, pri); one SQL
    * `MERGE` whose source is the urgent slice (matched: DELETE the
    * >200k rows, +1000.0 the rest — exact-in-IEEE delta) unioned with
    * a shifted-key medium slice (inserted as 'NEW' rows). Exercises
    * conditional DELETE, first-match-wins UPDATE, INSERT, and a
    * subquery source in one statement. */
  private val mergeSqlDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      orders(s, d).select(col("o_orderkey").as("k"),
          col("o_totalprice").as("price"), col("o_orderpriority").as("pri"))
        .writeTo(s"$cat.lake.omrg")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "k")
        .create()
      orders(s, d).createOrReplaceTempView("graft_s26_orders")
      s.sql(
        s"""MERGE INTO $cat.lake.omrg AS t
            USING (SELECT o_orderkey AS k, o_totalprice AS price
                   FROM graft_s26_orders WHERE o_orderpriority = '1-URGENT'
                   UNION ALL
                   SELECT o_orderkey + 100000000, 42.0
                   FROM graft_s26_orders WHERE o_orderpriority = '3-MEDIUM') AS s
            ON t.k = s.k
            WHEN MATCHED AND s.price > 200000 THEN DELETE
            WHEN MATCHED THEN UPDATE SET price = t.price + 1000.0
            WHEN NOT MATCHED THEN INSERT (k, price, pri)
                 VALUES (s.k, s.price, 'NEW')""")
      cat
  })

  /** S26: SQL `MERGE INTO` on a manifest table, served by Spark's
    * native merge rewrite onto the group copy-on-write operation
    * (GraftRowLevelOps) — the oracle replays the merge as
    * relational algebra (filter + CASE + UNION ALL) over plain orders,
    * so every clause's row-level outcome is checked exactly. */
  def s26_merge_sql(s: SparkSession, d: String): DataFrame = {
    val cat = mergeSqlDemo(s, d)
    s.sql(
      s"""SELECT count(*) AS n_rows,
                 round(sum(price), 2) AS total_price,
                 CAST(sum(k) AS BIGINT) AS key_checksum,
                 count(CASE WHEN pri = 'NEW' THEN 1 END) AS n_inserted
          FROM $cat.lake.omrg""")
  }

  /** S27 fixture: `lake.oclu` declared `clusterBy o_orderdate` at
    * CREATE, then filled by one SQL INSERT — the batch lands as
    * range-sorted commit dirs with per-dir date stats (clustered on
    * arrival, no compaction ever run). */
  private val cluDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      s.sql(s"""CREATE TABLE $cat.lake.oclu
                (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate DATE)
                TBLPROPERTIES ('clusterBy'='o_orderdate',
                               'statsCols'='o_orderdate',
                               'retainGenerations'='10')""")
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        .writeTo(s"$cat.lake.oclu").append()
      cat
  })

  /** S27: clustered-on-arrival ingest — a one-year slice of the
    * date-clustered table, read back through the catalog: the pushed
    * date interval prunes whole commit dirs of the INSERT batch
    * (fresh data prunes without any compaction; the dir-count proof
    * lives in ClusteredIngestSpec). The oracle recomputes the slice
    * from plain orders — layout must never change WHICH rows return. */
  def s27_clustered_ingest(s: SparkSession, d: String): DataFrame = {
    val cat = cluDemo(s, d)
    s.sql(
      s"""SELECT count(*) AS n_rows,
                 round(sum(o_totalprice), 2) AS total_price,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
          FROM $cat.lake.oclu
          WHERE o_orderdate >= DATE'1997-01-01'
            AND o_orderdate <= DATE'1997-12-31'""")
  }

  /** S28: the `$`-suffixed metadata tables over the S23 fixture
    * (`ocat`: v1 CREATE, v2 CTAS, v3 append — a deterministic
    * history). `$history` counts retained versions, `$files` sums the
    * recorded rowcounts (which must equal the table's real rows) and
    * counts live dirs, `$properties` surfaces the persisted retention —
    * all metadata-only, no data file opened. */
  def s28_meta_tables(s: SparkSession, d: String): DataFrame = {
    val cat = catalogDemo(s, d)
    s.sql(
      s"""SELECT h.n_versions, f.total_rows, f.n_files, p.retain
          FROM (SELECT count(*) AS n_versions
                FROM $cat.lake.`ocat$$history`) h
          CROSS JOIN (SELECT CAST(sum(rows) AS BIGINT) AS total_rows,
                             count(*) AS n_files
                      FROM $cat.lake.`ocat$$files`) f
          CROSS JOIN (SELECT value AS retain
                      FROM $cat.lake.`ocat$$properties`
                      WHERE key = 'prop:retainGenerations') p""")
  }

  /** S29 fixture: `lake.ocall` = orders split into two year-sliced
    * inserts (two commit dirs), then `CALL system.compact(k => 3)` —
    * maintenance as a SQL statement. */
  private val callDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      base.filter(year(col("o_orderdate")) < 1997)
        .writeTo(s"$cat.lake.ocall")
        .tableProperty("retainGenerations", "10")
        .tableProperty("statsCols", "o_orderdate")
        .create()
      base.filter(year(col("o_orderdate")) >= 1997)
        .writeTo(s"$cat.lake.ocall").append()
      s.sql(s"CALL $cat.system.compact(table => 'lake.ocall', k => 3)")
      cat
  })

  /** S29: a range-filtered aggregate over the freshly-compacted table —
    * `CALL` must never change WHICH rows come back, and the re-clustered
    * layout serves the pruned slice. */
  def s29_call_compact(s: SparkSession, d: String): DataFrame = {
    val cat = callDemo(s, d)
    s.sql(
      s"""SELECT count(*) AS n_rows,
                 round(sum(o_totalprice), 2) AS total_price,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
          FROM $cat.lake.ocall
          WHERE o_orderdate >= DATE'1996-01-01'
            AND o_orderdate <= DATE'1996-12-31'""")
  }

  /** S30 fixture: `lake.ochk` declares CHECK constraints at CREATE
    * (positive price, bounded date domain), then one SQL INSERT of
    * orders — every row must satisfy them, so the write passes and the
    * constraints cost one in-job guard, not a second pass. */
  private val chkDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
      s.sql(s"""CREATE TABLE $cat.lake.ochk
                (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate DATE)
                TBLPROPERTIES ('check.price_pos'='o_totalprice > 0',
                               'check.date_domain'=
                                 'o_orderdate >= DATE\\'1990-01-01\\'',
                               'retainGenerations'='10')""")
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        .writeTo(s"$cat.lake.ochk").append()
      cat
  })

  /** S30: CHECK constraints on the ingest path — the aggregate over the
    * constrained table must equal plain orders (the guard may reject,
    * never mutate), proving the enforcement is a pass-through for
    * conforming data; the rejection lane is spec-tested (a violating
    * batch fails with the constraint name, nothing committed). */
  def s30_constrained_ingest(s: SparkSession, d: String): DataFrame = {
    val cat = chkDemo(s, d)
    s.sql(
      s"""SELECT count(*) AS n_rows,
                 round(sum(o_totalprice), 2) AS total_price,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
          FROM $cat.lake.ochk""")
  }

  /** S31 fixture: `lake.obkt` declared `layout=bucketed:k:8` at CREATE
    * — the hash-bucketed MERGE layout as a table property. One INSERT
    * seeds it through the upsert kernel (8 bucket dirs), then the SAME
    * MERGE statement as the s26 fixture runs against it, landing
    * through [[MergeInto.applyBatch]] (O(touched buckets), bucket-dir
    * manifest) instead of the CoW rewrite. */
  private val bucketedDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    s.sql(s"""CREATE TABLE $cat.lake.obkt (k BIGINT, price DOUBLE, pri STRING)
              TBLPROPERTIES ('layout'='bucketed:k:8',
                             'retainGenerations'='10')""")
    orders(s, d).select(col("o_orderkey").cast("long").as("k"),
        col("o_totalprice").as("price"), col("o_orderpriority").as("pri"))
      .writeTo(s"$cat.lake.obkt").append()
    orders(s, d).createOrReplaceTempView("graft_s31_orders")
    s.sql(
      s"""MERGE INTO $cat.lake.obkt AS t
          USING (SELECT CAST(o_orderkey AS BIGINT) AS k,
                        o_totalprice AS price
                 FROM graft_s31_orders WHERE o_orderpriority = '1-URGENT'
                 UNION ALL
                 SELECT CAST(o_orderkey + 100000000 AS BIGINT), 42.0
                 FROM graft_s31_orders WHERE o_orderpriority = '3-MEDIUM') AS s
          ON t.k = s.k
          WHEN MATCHED AND s.price > 200000 THEN DELETE
          WHEN MATCHED THEN UPDATE SET price = t.price + 1000.0
          WHEN NOT MATCHED THEN INSERT (k, price, pri)
               VALUES (s.k, s.price, 'NEW')""")
    cat
  })

  /** S39 fixture: full compact → two out-of-order arrival slices →
    * INCREMENTAL compact. The fold rewrites only the two straggler
    * dirs (the compacted level carries by path — spec-asserted in
    * GraftMetaSpec); this row pins that the folded table still holds
    * exactly the corpus. */
  private val icDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    val base = orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    base.filter(col("o_orderkey") % 10 < 8)
      .writeTo(s"$cat.lake.oinc")
      .tableProperty("retainGenerations", "10")
      .tableProperty("statsCols", "o_orderkey")
      .create()
    s.sql(s"CALL $cat.system.compact(table => 'lake.oinc', k => 3)")
    base.filter(col("o_orderkey") % 10 === 8)
      .writeTo(s"$cat.lake.oinc").append()
    base.filter(col("o_orderkey") % 10 === 9)
      .writeTo(s"$cat.lake.oinc").append()
    s.sql(s"CALL $cat.system.compact(table => 'lake.oinc', k => 3, " +
      "incremental => true)")
    cat
  })

  /** S39: incremental compaction under the oracle gate — after the
    * straggler fold, the table must still equal the corpus exactly. */
  def s39_incremental_compact(s: SparkSession, d: String): DataFrame = {
    val cat = icDemo(s, d)
    s.sql(
      s"""SELECT count(*) AS n_rows,
                 round(sum(o_totalprice), 2) AS total_price,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
          FROM $cat.lake.oinc""")
  }

  /** S40 fixture: half the orders land while `k` is INT; the column is
    * then WIDENED to BIGINT in one metadata commit (no dir rewritten)
    * and the other half lands with keys beyond Int range — the final
    * read serves the narrow parquet dirs widened through Spark's own
    * type-widening updaters. */
  private val widenDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    s.sql(s"""CREATE TABLE $cat.lake.owide (k INT, price DOUBLE)
              TBLPROPERTIES ('retainGenerations'='10', 'statsCols'='k')""")
    orders(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").cast("int").as("k"),
        col("o_totalprice").as("price"))
      .writeTo(s"$cat.lake.owide").append()
    s.sql(s"ALTER TABLE $cat.lake.owide ALTER COLUMN k TYPE BIGINT")
    orders(s, d).filter(col("o_orderkey") % 2 === 1)
      .select((col("o_orderkey").cast("long") + 3000000000L).as("k"),
        col("o_totalprice").as("price"))
      .writeTo(s"$cat.lake.owide").append()
    cat
  })

  /** S40: metadata-only type widening under the oracle gate — the
    * mixed-encoding table (INT32 dirs + INT64 dirs, one declared
    * BIGINT schema) must aggregate exactly like the reconstructed
    * algebra; the >Int.MaxValue checksum proves the widened half
    * really landed wide. */
  def s40_type_widening(s: SparkSession, d: String): DataFrame = {
    val cat = widenDemo(s, d)
    s.sql(
      s"""SELECT count(*) AS n_rows,
                 CAST(sum(k) AS BIGINT) AS key_checksum,
                 round(sum(price), 2) AS total_price
          FROM $cat.lake.owide""")
  }

  /** S38 fixture: TWO co-bucketed tables (same key type, same bucket
    * count) — customers by key, and a per-customer order rollup by the
    * same key — so their equi-join is storage-partitioned: both scans
    * report `KeyGroupedPartitioning(bucket(8, k))` through the
    * catalog's V2 `bucket` function and the join plans with ZERO
    * shuffle on either side (spec-asserted in GraftSpjSpec). */
  private val spjDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    s.sql(s"""CREATE TABLE $cat.lake.spjc (k BIGINT, seg STRING)
              TBLPROPERTIES ('layout'='bucketed:k:8',
                             'retainGenerations'='10')""")
    customer(s, d).select(col("c_custkey").cast("long").as("k"),
        col("c_mktsegment").as("seg"))
      .writeTo(s"$cat.lake.spjc").append()
    s.sql(s"""CREATE TABLE $cat.lake.spjo (k BIGINT, n_orders BIGINT,
                                           total DOUBLE)
              TBLPROPERTIES ('layout'='bucketed:k:8',
                             'retainGenerations'='10')""")
    orders(s, d).groupBy(col("o_custkey").cast("long").as("k"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total"))
      .writeTo(s"$cat.lake.spjo").append()
    cat
  })

  /** S38: storage-partitioned join — the co-bucketed customer/rollup
    * join aggregated per segment must equal DuckDB's plain join
    * algebra (the zero-shuffle plan is asserted in spec; this row
    * pins the ANSWER is also right). */
  def s38_spj_join(s: SparkSession, d: String): DataFrame = {
    val cat = spjDemo(s, d)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.sql(
      s"""SELECT c.seg, count(*) AS n_cust,
                 CAST(sum(o.n_orders) AS BIGINT) AS n_orders,
                 round(sum(o.total), 2) AS total_price
          FROM $cat.lake.spjc c JOIN $cat.lake.spjo o ON c.k = o.k
          GROUP BY c.seg ORDER BY c.seg""")
  }

  /** S31: the bucketed-MERGE layout reachable from the catalog — the
    * s26 merge statement re-run against a `layout=bucketed:k` table,
    * where it routes through the O(changeset) upsert kernel (per-key
    * outcome frame → bucket rewrite; untouched buckets carried by
    * path, plan-asserted in GraftBucketedCatalogSpec). Same oracle
    * algebra as s26: the LAYOUT must never change WHICH rows a merge
    * produces. */
  def s31_bucketed_catalog(s: SparkSession, d: String): DataFrame = {
    val cat = bucketedDemo(s, d)
    s.sql(
      s"""SELECT count(*) AS n_rows,
                 round(sum(price), 2) AS total_price,
                 CAST(sum(k) AS BIGINT) AS key_checksum,
                 count(CASE WHEN pri = 'NEW' THEN 1 END) AS n_inserted
          FROM $cat.lake.obkt""")
  }

  /** S32: the `t$changes` CDC metadata table over the S24 fixture
    * (`odel`: v1 CREATE, v2 INSERT of all orders, v3 DELETE of the
    * urgent post-1996 slice) — per-(version, change_type) counts and
    * key checksums of the full retained feed, served through plain SQL
    * with no engine API or read option in sight. The oracle rebuilds
    * both steps from orders: v2 inserted everything, v3's dir-granular
    * delete diffs to EXACTLY the predicated rows (rewritten survivors
    * cancel in the multiset diff — that cancellation is what's on
    * trial). */
  def s32_changes_feed(s: SparkSession, d: String): DataFrame = {
    val cat = deleteDemo(s, d)
    s.sql(
      s"""SELECT _commit_version, change_type, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
          FROM $cat.lake.`odel$$changes`
          GROUP BY _commit_version, change_type
          ORDER BY _commit_version, change_type""")
  }

  /** S33 fixture: `lake.oclone` = a `CALL system.clone` of the S23
    * table (all orders, 2 dirs, zero data copied), then one SQL DELETE
    * ON THE CLONE removing the urgent post-1996 slice — the write
    * lands local dirs; the source's foreign dirs are untouched. */
  private val cloneDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    s.sql(s"CALL $cat.system.clone(source => 'lake.ocat', " +
      "target => 'lake.oclone')")
    s.sql(s"""DELETE FROM $cat.lake.oclone
              WHERE o_orderdate >= DATE'1997-01-01'""")
    cat
  })

  /** S33: zero-copy shallow clone — the clone diverges by exactly the
    * deleted slice while the SOURCE still answers for all of orders
    * (the independence leg), proving the clone is a real table over
    * borrowed dirs, not a view. Oracle: both legs from plain orders. */
  def s33_shallow_clone(s: SparkSession, d: String): DataFrame = {
    val cat = cloneDemo(s, d)
    s.sql(
      s"""SELECT c.n_clone, c.total_price, c.key_checksum, v.n_source
          FROM (SELECT count(*) AS n_clone,
                       round(sum(o_totalprice), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.oclone) c
          CROSS JOIN (SELECT count(*) AS n_source
                      FROM $cat.lake.ocat) v""")
  }

  /** S34 fixture: `lake.otag` with deliberately TIGHT retention
    * (retainGenerations=2): the pre-1997 slice lands (v2), `CALL
    * system.tag(name => 'cut')` pins it, then five more yearly INSERTs
    * churn the history — without the tag, v2's manifest AND data would
    * be GC'd several commits ago. The board query reading `VERSION AS
    * OF 'cut'` therefore proves tag-pinned retention inside the oracle
    * row itself, not just in a spec. */
  private val tagDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    s.sql(s"""CREATE TABLE $cat.lake.otag
              (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate DATE)
              TBLPROPERTIES ('retainGenerations'='2')""")
    val base = orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"))
    base.filter(year(col("o_orderdate")) < 1997)
      .writeTo(s"$cat.lake.otag").append()
    s.sql(s"CALL $cat.system.tag(table => 'lake.otag', name => 'cut')")
    (1997 to 2001).foreach { y =>
      base.filter(year(col("o_orderdate")) === y)
        .writeTo(s"$cat.lake.otag").append()
    }
    cat
  })

  /** S34: version tags — the live table vs the `VERSION AS OF 'cut'`
    * snapshot that ONLY the tag kept alive through a
    * retainGenerations=2 history churn. The oracle rebuilds both legs
    * from plain orders. */
  def s34_version_tags(s: SparkSession, d: String): DataFrame = {
    val cat = tagDemo(s, d)
    s.sql(
      s"""SELECT h.n_total, h.total_price, h.key_checksum, v.n_cut
          FROM (SELECT count(*) AS n_total,
                       round(sum(o_totalprice), 2) AS total_price,
                       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
                FROM $cat.lake.otag) h
          CROSS JOIN (SELECT count(*) AS n_cut
                      FROM $cat.lake.otag VERSION AS OF 'cut') v""")
  }

  /** S35 fixture: a persistent catalog VIEW (`lake.ovw`) over the S23
    * table — a filtered projection with a computed column, stored as
    * SQL text in the namespace's `_views/` metadata (no metastore)
    * and re-resolved at read time. */
  private val viewDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    s.sql(s"DROP VIEW IF EXISTS $cat.lake.ovw")
    s.sql(s"""CREATE VIEW $cat.lake.ovw AS
              SELECT o_orderkey, o_totalprice,
                     year(o_orderdate) AS order_year
              FROM $cat.lake.ocat
              WHERE o_totalprice > 50000""")
    cat
  })

  /** S35: SQL through a PERSISTENT catalog view — per-year aggregates
    * of the view's filtered projection must equal the same algebra
    * inlined over plain orders (a view changes HOW the query is
    * addressed, never WHICH rows come back). */
  def s35_catalog_view(s: SparkSession, d: String): DataFrame = {
    val cat = viewDemo(s, d)
    s.sql(
      s"""SELECT order_year, count(*) AS n,
                 round(sum(o_totalprice), 2) AS total_price,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
          FROM $cat.lake.ovw
          GROUP BY order_year ORDER BY order_year""")
  }

  /** S36 fixture: `lake.oan` (a dedicated copy of orders — analyze
    * COMMITS stats metadata, and mutating a shared fixture would shift
    * other rows' `$history` counts), analyzed over three columns. */
  private val analyzeDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .writeTo(s"$cat.lake.oan")
      .tableProperty("retainGenerations", "10")
      .create()
    s.sql(s"CALL $cat.system.analyze(table => 'lake.oan', " +
      "columns => 'o_orderkey,o_orderpriority')")
    // S37 — equi-height histogram over the key (exact percentile
    // bounds; .25 quantile steps over integers interpolate to exact
    // binary fractions, so the oracle comparison is float-fuzz-free)
    s.sql(s"CALL $cat.system.analyze(table => 'lake.oan', " +
      "columns => 'o_orderkey', histogram => true, bins => 4)")
    cat
  })

  /** S36: `CALL system.analyze` — the persisted per-column NDV/null
    * stats (the CBO's join-reordering input, surfaced as V2
    * columnStats) must equal DuckDB's exact count(DISTINCT)/null
    * algebra; read back through `$properties`, the same observability
    * surface every other engine key uses. */
  def s36_analyze_stats(s: SparkSession, d: String): DataFrame = {
    val cat = analyzeDemo(s, d)
    s.sql(
      s"""SELECT key, value FROM $cat.lake.`oan$$properties`
          WHERE key LIKE 'colstat:%' OR key = 'tablestat'
          ORDER BY key""")
  }

  /** S37: the persisted equi-height histogram (the CBO's
    * range-selectivity input, surfaced as V2 columnStats → catalyst
    * attribute histograms) must equal DuckDB's exact quantile algebra
    * bin-for-bin — bounds are the (0, .25, .5, .75, 1) percentiles of
    * the key, computed in the SAME single analyze pass as the NDVs. */
  def s37_histogram_stats(s: SparkSession, d: String): DataFrame = {
    val cat = analyzeDemo(s, d)
    s.sql(
      s"""SELECT pos AS bin, round(CAST(bound AS DOUBLE), 2) AS bound
          FROM (SELECT posexplode(split(element_at(split(value, ';'), 3),
                                        ',')) AS (pos, bound)
                FROM $cat.lake.`oan$$properties`
                WHERE key = 'colhist:o_orderkey')
          ORDER BY bin""")
  }

  /** S53 fixture: half of orders lands, an approx ANALYZE sketches its
    * dirs (`#ndv` lane), the other half appends, a SECOND approx
    * ANALYZE merges the persisted sketches with fresh ones over ONLY
    * the appended dirs — the table-level stats it publishes must equal
    * the full-table truth. The tracked columns are low-cardinality, so
    * the HLL sketches are still in exact (coupon) range and the DuckDB
    * oracle can be exact. */
  private val ndvDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .filter(col("o_orderkey") % 2 === 0)
      .writeTo(s"$cat.lake.ondv")
      .tableProperty("retainGenerations", "10")
      .create()
    s.sql(s"CALL $cat.system.analyze(table => 'lake.ondv', " +
      "columns => 'o_orderstatus,o_orderpriority', approx => true)")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .filter(col("o_orderkey") % 2 === 1)
      .writeTo(s"$cat.lake.ondv").append()
    s.sql(s"CALL $cat.system.analyze(table => 'lake.ondv', " +
      "columns => 'o_orderstatus,o_orderpriority', approx => true)")
    cat
  })

  /** S53: incremental NDV — the re-ANALYZE after the append read only
    * the appended dirs (the first half's dirs answered from their
    * persisted `#ndv` sketches), yet the published stats must equal
    * the full-table truth DuckDB derives exactly. */
  def s53_ndv_incremental(s: SparkSession, d: String): DataFrame = {
    val cat = ndvDemo(s, d)
    s.sql(
      s"""SELECT key, value FROM $cat.lake.`ondv$$properties`
          WHERE key LIKE 'colstat:%' OR key = 'tablestat'
          ORDER BY key""")
  }

  /** S54 fixture: a merge-on-read table with write-side CDC
    * materialization takes one SQL UPDATE — the staged feed must pair
    * the halves as `update_preimage`/`update_postimage` (Delta CDF). */
  private val cdcPairDemo = new graft.FixtureMemo((s, d) => {
    val cat = catalogDemo(s, d)
    orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .writeTo(s"$cat.lake.ocdc")
      .tableProperty("retainGenerations", "10")
      .tableProperty("dml.mode", "merge-on-read")
      .tableProperty("cdc.materialize", "true")
      .create()
    s.sql(s"UPDATE $cat.lake.ocdc SET o_totalprice = o_totalprice + 1 " +
      "WHERE o_orderpriority = '1-URGENT'")
    cat
  })

  /** S54: paired CDC updates — each updated row's old and new images
    * arrive tagged `update_preimage`/`update_postimage` through
    * `t$changes`, so a consumer rebuilds the UPDATE without re-keying
    * the feed; the oracle re-derives both sides from orders. */
  def s54_cdc_update_pairs(s: SparkSession, d: String): DataFrame = {
    val cat = cdcPairDemo(s, d)
    s.sql(
      s"""SELECT change_type, count(*) AS n,
                 round(sum(o_totalprice), 2) AS total
          FROM $cat.lake.`ocdc$$changes`
          WHERE change_type IN ('update_preimage', 'update_postimage')
          GROUP BY change_type ORDER BY change_type""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_parquet_scan" -> (s1_parquet_scan _),
    "s2_binary_scan" -> (s2_binary_scan _),
    "s3_text_roundtrip" -> (s3_text_roundtrip _),
    "s4_json_roundtrip" -> (s4_json_roundtrip _),
    "s5_csv_roundtrip" -> (s5_csv_roundtrip _),
    "s8_partitioned_sink" -> (s8_partitioned_sink _),
    "s9_quarantine" -> (s9_quarantine _),
    "s10_orc_roundtrip" -> (s10_orc_roundtrip _),
    "s11_clustered_layout" -> (s11_clustered_layout _),
    "s12_bucketed_join" -> (s12_bucketed_join _),
    "s13_zorder_layout" -> (s13_zorder_layout _),
    "s14_compaction" -> (s14_compaction _),
    "s15_avro_roundtrip" -> (s15_avro_roundtrip _),
    "s16_merge_upsert" -> (s16_merge_upsert _),
    "s17_snapshot_diff" -> (s17_snapshot_diff _),
    "s18_point_lookup" -> (s18_point_lookup _),
    "s19_stats_skipping" -> (s19_stats_skipping _),
    "s20_source_pushdown" -> (s20_source_pushdown _),
    "s21_agg_pushdown" -> (s21_agg_pushdown _),
    "s22_v2_pushdown" -> (s22_v2_pushdown _),
    "s23_catalog_sql" -> (s23_catalog_sql _),
    "s24_delete_where" -> (s24_delete_where _),
    "s25_update_where" -> (s25_update_where _),
    "s26_merge_sql" -> (s26_merge_sql _),
    "s27_clustered_ingest" -> (s27_clustered_ingest _),
    "s28_meta_tables" -> (s28_meta_tables _),
    "s29_call_compact" -> (s29_call_compact _),
    "s30_constrained_ingest" -> (s30_constrained_ingest _),
    "s31_bucketed_catalog" -> (s31_bucketed_catalog _),
    "s32_changes_feed" -> (s32_changes_feed _),
    "s33_shallow_clone" -> (s33_shallow_clone _),
    "s34_version_tags" -> (s34_version_tags _),
    "s35_catalog_view" -> (s35_catalog_view _),
    "s36_analyze_stats" -> (s36_analyze_stats _),
    "s53_ndv_incremental" -> (s53_ndv_incremental _),
    "s54_cdc_update_pairs" -> (s54_cdc_update_pairs _),
    "s37_histogram_stats" -> (s37_histogram_stats _),
    "s38_spj_join" -> (s38_spj_join _),
    "s39_incremental_compact" -> (s39_incremental_compact _),
    "s40_type_widening" -> (s40_type_widening _),
    "s41_dv_delete" -> (s41_dv_delete _),
    "s41_dv_update_sql" -> (s41_dv_update_sql _),
    "s42_column_mapping" -> (s42_column_mapping _),
    "s44_bloom_lookup" -> (s44_bloom_lookup _),
    "s21_masked_count" -> (s21_masked_count _),
    "s45_null_stats" -> (s45_null_stats _),
    "s47_idempotent_write" -> (s47_idempotent_write _),
    "s48_default_values" -> (s48_default_values _),
    "s49_wap_branch" -> (s49_wap_branch _),
    "s50_generated_columns" -> (s50_generated_columns _),
    "s51_identity_columns" -> (s51_identity_columns _),
    "s52_constraint_sql" -> (s52_constraint_sql _),
  )

  val oracle: Map[String, String] = Map(
    "s1_parquet_scan" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",
    "s2_binary_scan" ->
      """SELECT regexp_extract(filename, '([^/]+)$', 1) AS filename,
         size AS length
         FROM read_blob('/root/reference/data/*.pdf') ORDER BY filename""",
    "s3_text_roundtrip" ->
      """SELECT count(*) AS n_lines,
         CAST(sum(length(replace(replace(text, chr(10), ' '), chr(13), ' '))) AS BIGINT) AS total_chars
         FROM documents WHERE text IS NOT NULL""",
    "s4_json_roundtrip" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
         CAST(sum(event_id) AS BIGINT) AS id_checksum
         FROM events GROUP BY event_type ORDER BY event_type""",
    "s5_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total_bal,
         CAST(sum(c_custkey) AS BIGINT) AS key_checksum
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "s8_partitioned_sink" ->
      """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents WHERE lang = 'es'
         GROUP BY lang, source ORDER BY lang, source""",
    "s9_quarantine" ->
      """WITH c AS (SELECT props,
           (event_id % 10 = 0 AND length(props) > 8) AS corrupt FROM events)
         SELECT CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
         CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
         CAST(sum(CASE WHEN corrupt THEN 0
                  ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT) AS k_checksum
         FROM c""",
    "s10_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders WHERE o_totalprice > 1000.0
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s11_clustered_layout" ->
      """SELECT CAST(month(o_orderdate) AS INT) AS m, count(*) AS n,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders
         WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1999-01-01'
         GROUP BY 1 ORDER BY m""",
    "s12_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "s13_zorder_layout" ->
      """SELECT CAST(month(o_orderdate) AS INT) AS m, count(*) AS n,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders
         WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
           AND o_custkey % 4 = 0
         GROUP BY 1 ORDER BY m""",
    "s14_compaction" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         CAST(64 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after
         FROM orders""",
    "s15_avro_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s16_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders),
         merged AS (
           SELECT * FROM base WHERE o_orderkey % 10 NOT IN (3, 7)
           UNION ALL
           SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderdate
           FROM base WHERE o_orderkey % 10 = 3
           UNION ALL
           SELECT -o_orderkey, o_custkey, o_totalprice, o_orderdate
           FROM base WHERE o_orderkey % 10 = 5)
         SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum FROM merged""",
    "s17_snapshot_diff" ->
      """WITH ch AS (
           SELECT 'delete' AS change_type, o_orderkey FROM orders
           WHERE o_orderkey % 10 IN (3, 7)
           UNION ALL
           SELECT 'insert', o_orderkey FROM orders WHERE o_orderkey % 10 = 3
           UNION ALL
           SELECT 'insert', -o_orderkey FROM orders WHERE o_orderkey % 10 = 5)
         SELECT change_type, count(*) AS n,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM ch GROUP BY change_type ORDER BY change_type""",
    "s18_point_lookup" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         merged AS (
           SELECT * FROM base WHERE o_orderkey % 10 NOT IN (3, 7)
           UNION ALL
           SELECT o_orderkey, o_custkey, o_totalprice + 1000.0
           FROM base WHERE o_orderkey % 10 = 3
           UNION ALL
           SELECT -o_orderkey, o_custkey, o_totalprice
           FROM base WHERE o_orderkey % 10 = 5)
         SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
         FROM merged WHERE o_orderkey IN (1, 3, 7, -5)
         ORDER BY o_orderkey""",
    "s19_stats_skipping" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders
         WHERE o_orderdate >= '1997-01-01' AND o_orderdate <= '1997-12-31'""",
    "s20_source_pushdown" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1998-12-31 23:59:59'
           AND o_totalprice >= 1000.0 AND o_totalprice <= 250000.0""",
    // the demo table holds the 1995+ slice of orders (seven yearly
    // appends; 1999-2001 are empty); extremes over that slice
    "s21_agg_pushdown" ->
      """SELECT count(*) AS n, min(o_orderdate) AS first_day,
         max(o_orderdate) AS last_day
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'""",
    "s22_v2_pushdown" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1998-12-31 23:59:59'
           AND o_totalprice >= 1000.0 AND o_totalprice <= 250000.0""",
    // live table = all of orders; the CTAS snapshot = the pre-1997 slice
    "s23_catalog_sql" ->
      """SELECT (SELECT count(*) FROM orders) AS n_total,
         (SELECT round(sum(o_totalprice), 2) FROM orders) AS total_price,
         (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders) AS key_checksum,
         (SELECT count(*) FROM orders
          WHERE year(o_orderdate) < 1997) AS n_snapshot""",
    // kept = rows where the DELETE predicate is not true; the
    // time-travel leg sees the whole pre-delete table
    "s24_delete_where" ->
      """SELECT count(*) AS n_kept,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         (SELECT count(*) FROM orders) AS n_before
         FROM orders
         WHERE NOT (o_orderdate >= DATE '1997-01-01'
                    AND o_orderpriority = '1-URGENT')""",
    // merge-on-read delete: same kept-rows semantics as S24, plus the
    // mask-only invariant the engine computed from its two manifests
    "s41_dv_delete" ->
      """SELECT count(*) AS n_kept,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         (SELECT count(*) FROM orders) AS n_before,
         true AS mask_only
         FROM orders
         WHERE NOT (o_orderdate >= DATE '1997-01-01'
                    AND o_orderpriority = '2-HIGH')""",
    // metadata-only COUNT(*) under standing deletion vectors: kept-rows
    // semantics of the S41 delete, plus the pushed-aggregate witness
    "s21_masked_count" ->
      """SELECT count(*) AS n_kept, true AS count_pushed
         FROM orders
         WHERE NOT (o_orderdate >= DATE '1997-01-01'
                    AND o_orderpriority = '2-HIGH')""",
    // the #nulls stats lane: metadata-only COUNT(*)/COUNT(col) plus an
    // IS NULL scan whose zero-null dirs prune (both witnessed)
    "s45_null_stats" ->
      """SELECT count(*) AS n_rows,
         count(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END) AS n_vals,
         (SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0) AS n_null,
         true AS count_pushed, true AS null_pruned
         FROM orders""",
    // SQL constraint syntax: the violating batch refused wholesale, so
    // the table is exactly one application of orders; two declared
    // contracts surface through constraints()
    "s52_constraint_sql" ->
      """SELECT count(*) AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         round(sum(o_totalprice), 2) AS total_price,
         2 AS n_constraints
         FROM orders""",
    // identity columns: ids are engine-minted (gaps allowed), so the
    // oracle re-states the invariants — one row per order, all ids
    // unique and on the declared arithmetic
    "s51_identity_columns" ->
      """SELECT count(*) AS n_rows,
                count(*) AS n_ids,
                CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
                count(*) AS on_arithmetic
         FROM orders""",
    // generated columns: both re-derived from raw orders — the update
    // moved k%100=7 prices up 150000 and the band must have followed
    "s50_generated_columns" ->
      """WITH t AS (SELECT o_orderkey AS k,
                           o_totalprice +
                             (CASE WHEN o_orderkey % 100 = 7
                                   THEN 150000 ELSE 0 END) AS price,
                           CAST(o_orderdate AS DATE) AS d
                    FROM orders)
         SELECT CAST(year(d) AS INT) AS yr,
                CASE WHEN price >= 200000 THEN 'high' ELSE 'low' END AS band,
                count(*) AS n_rows,
                CAST(sum(k) AS BIGINT) AS key_checksum,
                round(sum(price), 2) AS total_price
         FROM t GROUP BY 1, 2 ORDER BY yr, band""",
    // write-audit-publish: after the publish the parent holds exactly
    // one application of both halves of orders
    "s49_wap_branch" ->
      """SELECT count(*) AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         round(sum(o_totalprice), 2) AS total_price,
         true AS branches_clear
         FROM orders""",
    // column defaults: pre-ADD rows froze at 'legacy', post-SET short
    // inserts read 'fresh', the third population wrote explicit bands
    "s48_default_values" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'legacy'
                     WHEN o_orderkey % 3 = 1 THEN 'fresh'
                     ELSE upper(o_orderpriority) END AS band,
                count(*) AS n_rows,
                CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
                round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY 1 ORDER BY band""",
    // idempotent batch writes: both replayed batches were skipped, so
    // the table is exactly ONE application of each half of orders
    "s47_idempotent_write" ->
      """SELECT count(*) AS n_rows,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         true AS replay_skipped
         FROM orders""",
    // bloom-indexed point lookup: the 3 smallest order keys' rows, plus
    // the driver-computed pruning witness
    "s44_bloom_lookup" ->
      """WITH probe AS (SELECT o_orderkey FROM orders
                        ORDER BY o_orderkey LIMIT 3)
         SELECT count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_price,
                CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
                true AS bloom_pruned
         FROM orders
         WHERE o_orderkey IN (SELECT o_orderkey FROM probe)""",
    // SQL UPDATE on a merge-on-read table: identical visible semantics
    // to S25's CoW update, plus the masks+one-fresh-dir invariant the
    // engine computed from its two manifests
    "s41_dv_update_sql" ->
      """SELECT count(*) AS n_rows,
         round(sum(CASE WHEN o_orderpriority = '5-LOW'
                         AND o_orderdate < DATE '1996-06-01'
                        THEN o_totalprice + 500.0
                        ELSE o_totalprice END), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         (SELECT round(sum(o_totalprice), 2) FROM orders) AS price_before,
         true AS mask_plus_images
         FROM orders""",
    // mixed-vintage logical table: all orders plus the shifted-key
    // urgent slice (+1000.0 exact in doubles), read through the
    // renamed/narrowed schema; the snapshot leg is the whole original
    "s42_column_mapping" ->
      """WITH live AS (
           SELECT o_orderkey, o_totalprice AS price FROM orders
           UNION ALL
           SELECT o_orderkey + 50000000, o_totalprice + 1000.0
           FROM orders WHERE o_orderpriority = '1-URGENT')
         SELECT count(*) AS n_rows,
                round(sum(price), 2) AS total_price,
                CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
                (SELECT count(*) FROM orders) AS n_before,
                true AS meta_only
         FROM live""",
    // updated = +500.0 on the predicated slice (exact in doubles);
    // the time-travel leg sees the original prices
    "s25_update_where" ->
      """SELECT count(*) AS n_rows,
         round(sum(CASE WHEN o_orderpriority = '5-LOW'
                         AND o_orderdate < DATE '1996-06-01'
                        THEN o_totalprice + 500.0
                        ELSE o_totalprice END), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         (SELECT round(sum(o_totalprice), 2) FROM orders) AS price_before
         FROM orders""",
    // replay the merge clauses as relational algebra: urgent rows are
    // the matched set (DELETE >200k, else +1000.0), shifted-key medium
    // rows are the inserts
    "s26_merge_sql" ->
      """WITH merged AS (
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderpriority = '1-URGENT'
                       THEN o_totalprice + 1000.0
                       ELSE o_totalprice END AS price,
                  o_orderpriority AS pri
           FROM orders
           WHERE NOT (o_orderpriority = '1-URGENT' AND o_totalprice > 200000)
           UNION ALL
           SELECT o_orderkey + 100000000, 42.0, 'NEW'
           FROM orders WHERE o_orderpriority = '3-MEDIUM')
         SELECT count(*) AS n_rows,
                round(sum(price), 2) AS total_price,
                CAST(sum(k) AS BIGINT) AS key_checksum,
                count(CASE WHEN pri = 'NEW' THEN 1 END) AS n_inserted
         FROM merged""",
    // clustered layout must never change WHICH rows a slice returns
    "s27_clustered_ingest" ->
      """SELECT count(*) AS n_rows,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) <= DATE '1997-12-31'""",
    // ocat's history is 3 deterministic versions (CREATE, CTAS slice,
    // append); its live table is 2 dirs whose recorded rowcounts sum to
    // all of orders; retention persisted as '10'
    "s28_meta_tables" ->
      """SELECT CAST(3 AS BIGINT) AS n_versions,
         (SELECT count(*) FROM orders) AS total_rows,
         CAST(2 AS BIGINT) AS n_files,
         '10' AS retain""",
    // compaction must never change which rows a slice returns
    "s29_call_compact" ->
      """SELECT count(*) AS n_rows,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders
         WHERE o_orderdate >= DATE '1996-01-01'
           AND o_orderdate <= DATE '1996-12-31'""",
    // constraint enforcement must be a pass-through for conforming data
    "s30_constrained_ingest" ->
      """SELECT count(*) AS n_rows,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders""",
    // the s26 merge algebra against the bucketed layout: the layout
    // must never change WHICH rows a merge produces
    "s31_bucketed_catalog" ->
      """WITH merged AS (
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderpriority = '1-URGENT'
                       THEN o_totalprice + 1000.0
                       ELSE o_totalprice END AS price,
                  o_orderpriority AS pri
           FROM orders
           WHERE NOT (o_orderpriority = '1-URGENT' AND o_totalprice > 200000)
           UNION ALL
           SELECT o_orderkey + 100000000, 42.0, 'NEW'
           FROM orders WHERE o_orderpriority = '3-MEDIUM')
         SELECT count(*) AS n_rows,
                round(sum(price), 2) AS total_price,
                CAST(sum(k) AS BIGINT) AS key_checksum,
                count(CASE WHEN pri = 'NEW' THEN 1 END) AS n_inserted
         FROM merged""",
    // odel's feed: v2 inserted all of orders, v3 deleted exactly the
    // urgent post-1996 slice (rewritten survivors cancel in the diff)
    "s32_changes_feed" ->
      """SELECT * FROM (
           SELECT CAST(2 AS BIGINT) AS _commit_version,
                  'insert' AS change_type, count(*) AS n,
                  CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
           FROM orders
           UNION ALL
           SELECT CAST(3 AS BIGINT), 'delete', count(*),
                  CAST(sum(o_orderkey) AS BIGINT)
           FROM orders
           WHERE o_orderdate >= DATE '1997-01-01'
             AND o_orderpriority = '1-URGENT')
         ORDER BY _commit_version, change_type""",
    // the clone diverges by the deleted slice; the source answers whole
    "s33_shallow_clone" ->
      """SELECT count(*) AS n_clone,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         (SELECT count(*) FROM orders) AS n_source
         FROM orders
         WHERE NOT (o_orderdate >= DATE '1997-01-01')""",
    // live = everything; the tagged snapshot = the pre-1997 slice the
    // tag alone kept retained through the retention churn
    "s34_version_tags" ->
      """SELECT count(*) AS n_total,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum,
         (SELECT count(*) FROM orders
          WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01') AS n_cut
         FROM orders""",
    // the view's algebra inlined over plain orders
    "s35_catalog_view" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
         count(*) AS n,
         round(sum(o_totalprice), 2) AS total_price,
         CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders WHERE o_totalprice > 50000
         GROUP BY 1 ORDER BY order_year""",
    // exact NDV/null algebra per analyzed column, same "ndv,nulls"
    // rendering the meta channel stores
    "s53_ndv_incremental" ->
      """SELECT * FROM (
           SELECT 'colstat:o_orderpriority' AS key,
                  CAST(count(DISTINCT o_orderpriority) AS VARCHAR) || ',' ||
                  CAST(count(*) - count(o_orderpriority) AS VARCHAR) AS value
           FROM orders
           UNION ALL
           SELECT 'colstat:o_orderstatus',
                  CAST(count(DISTINCT o_orderstatus) AS VARCHAR) || ',' ||
                  CAST(count(*) - count(o_orderstatus) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'tablestat', CAST(count(*) AS VARCHAR) FROM orders)
         ORDER BY key""",
    "s54_cdc_update_pairs" ->
      """SELECT * FROM (
           SELECT 'update_postimage' AS change_type,
                  count(*) AS n,
                  round(sum(o_totalprice + 1), 2) AS total
           FROM orders WHERE o_orderpriority = '1-URGENT'
           UNION ALL
           SELECT 'update_preimage', count(*),
                  round(sum(o_totalprice), 2)
           FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY change_type""",
    "s36_analyze_stats" ->
      """SELECT * FROM (
           SELECT 'colstat:o_orderkey' AS key,
                  CAST(count(DISTINCT o_orderkey) AS VARCHAR) || ',' ||
                  CAST(count(*) - count(o_orderkey) AS VARCHAR) AS value
           FROM orders
           UNION ALL
           SELECT 'colstat:o_orderpriority',
                  CAST(count(DISTINCT o_orderpriority) AS VARCHAR) || ',' ||
                  CAST(count(*) - count(o_orderpriority) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'tablestat', CAST(count(*) AS VARCHAR) FROM orders)
         ORDER BY key""",
    "s37_histogram_stats" ->
      """WITH q AS (SELECT quantile_cont(o_orderkey,
                      [0.0, 0.25, 0.5, 0.75, 1.0]) AS qs FROM orders)
         SELECT CAST(t.i - 1 AS INT) AS bin,
                round(qs[CAST(t.i AS INT)], 2) AS bound
         FROM q, range(1, 6) t(i) ORDER BY bin""",
    "s38_spj_join" ->
      """WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders,
                    sum(o_totalprice) AS total
                    FROM orders GROUP BY o_custkey)
         SELECT c_mktsegment AS seg, count(*) AS n_cust,
                CAST(sum(o.n_orders) AS BIGINT) AS n_orders,
                round(sum(o.total), 2) AS total_price
         FROM customer c JOIN o ON c.c_custkey = o.k
         GROUP BY c_mktsegment ORDER BY seg""",
    "s39_incremental_compact" ->
      """SELECT count(*) AS n_rows,
                round(sum(o_totalprice), 2) AS total_price,
                CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM orders""",
    "s40_type_widening" ->
      """WITH w AS (
           SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT CAST(o_orderkey AS BIGINT) + 3000000000, o_totalprice
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT count(*) AS n_rows,
                CAST(sum(k) AS BIGINT) AS key_checksum,
                round(sum(price), 2) AS total_price
         FROM w""",
  )
}
