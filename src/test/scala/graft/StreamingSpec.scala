package graft

import graft.streaming.{DocArrival, Event, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{max, round, sum, when}
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Streaming-only semantics under MemoryStream (SURVEY.md §2.10 X4/X5/X6/
  * X8): watermark late-drop, within-watermark dedup, stateful funnel,
  * exactly-once incremental file ingestion. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
  private def ev(id: Long, t: String, user: Long, typ: String) =
    Event(id, ts(t), user, typ, 1.0)

  test("X4: watermark finalizes windows and drops too-late events") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("x4").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, "10:05", 1, "click"), ev(2, "10:20", 1, "click"))
      q.processAllAvailable()
      // advance event time far past 10:00-11:00 + 10min watermark
      in.addData(ev(3, "13:00", 1, "click"))
      q.processAllAvailable()
      // this event is > 10 min behind the watermark → dropped
      in.addData(ev(4, "10:30", 1, "click"))
      q.processAllAvailable()
      in.addData(ev(5, "15:00", 1, "click"))
      q.processAllAvailable()
      val rows = spark.table("x4")
        .selectExpr("cast(window.start as string) s", "n").as[(String, Long)].collect().toMap
      assert(rows("2024-01-01 10:00:00") == 2, s"late event not dropped: $rows")
    } finally q.stop()
  }

  test("X2: sliding windows emit one row per overlapping window") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.slidingCounts(in.toDF())
      .writeStream.format("memory").queryName("x2").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, "10:20", 1, "click"))
      q.processAllAvailable()
      in.addData(ev(2, "14:00", 1, "click")) // advance watermark, finalize
      q.processAllAvailable()
      in.addData(ev(3, "18:00", 1, "click"))
      q.processAllAvailable()
      val starts = spark.table("x2")
        .selectExpr("cast(window.start as string) s", "n").as[(String, Long)]
        .collect().filter(_._1.startsWith("2024-01-01 09")) ++
        spark.table("x2").selectExpr("cast(window.start as string) s", "n")
          .as[(String, Long)].collect().filter(_._1.startsWith("2024-01-01 10"))
      // event at 10:20 belongs to windows starting 09:30, 09:45, 10:00, 10:15
      assert(starts.map(_._1).sorted.toSeq == Seq(
        "2024-01-01 09:30:00", "2024-01-01 09:45:00",
        "2024-01-01 10:00:00", "2024-01-01 10:15:00"), starts.mkString(","))
      assert(starts.forall(_._2 == 1))
    } finally q.stop()
  }

  test("X5: duplicate event_ids within the watermark are dropped") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.dedupEvents(in.toDF())
      .writeStream.format("memory").queryName("x5").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, "10:00", 1, "click"), ev(1, "10:00", 1, "click"),
        ev(2, "10:01", 1, "view"))
      q.processAllAvailable()
      in.addData(ev(1, "10:02", 1, "click"), ev(3, "10:03", 1, "click"))
      q.processAllAvailable()
      val ids = spark.table("x5").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("X6: stateful funnel emits one row per stage advancement") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.funnelStateful(in.toDS())
      .writeStream.format("memory").queryName("x6").outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(1, "10:00", 7, "signup"))
      q.processAllAvailable()
      in.addData(ev(2, "10:05", 7, "view"), ev(3, "10:06", 8, "view"))
      q.processAllAvailable()
      in.addData(ev(4, "10:10", 7, "purchase"), ev(5, "10:11", 8, "click"))
      q.processAllAvailable()
      val rows = spark.table("x6")
        .select("user_id", "from_stage", "to_stage").as[(Long, Int, Int)].collect().toSet
      assert(rows == Set((7L, 0, 1), (7L, 1, 2), (7L, 2, 3), (8L, 0, 2)), s"got $rows")
    } finally q.stop()
  }

  test("X6 stateful parity: funnelStateful and runningSpend match the batch fold over a jittered feed") {
    // The x4/x5 technique applied to the LAST test-only stateful
    // semantics (VERDICT r8 item 7): a deterministic pseudo-random
    // event set arrives in jittered order across 5 micro-batches; the
    // stateful operators' emissions must match, row for row, a plain
    // batch fold of the same batches — and the final per-user states
    // must equal a Spark BATCH aggregation over all events, tying the
    // streaming operators to the oracle-anchored batch world.
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(20260813L)
    val types = Vector("signup", "view", "purchase", "click")
    val all = (1 to 200).map { i =>
      Event(i.toLong, ts(f"${9 + rnd.nextInt(3)}%02d:${rnd.nextInt(60)}%02d"),
        1L + rnd.nextInt(40), types(rnd.nextInt(4)), (rnd.nextInt(500) + 1) / 100.0)
    }
    // jittered arrival: Knuth-multiplier spread of event_id, 5 batches
    val arrival = all.sortBy(e => (e.event_id * 2654435761L) % 997)
    val batches = arrival.grouped(40).toSeq
    val stageOf = Map("signup" -> 1, "view" -> 2, "purchase" -> 3)

    // reference model: per-batch fold of both operators' semantics
    var stage = Map.empty[Long, Int].withDefaultValue(0)
    var spend = Map.empty[Long, Double].withDefaultValue(0.0)
    val expAdvance = scala.collection.mutable.ListBuffer.empty[(Long, Int, Int)]
    val expSpend = scala.collection.mutable.ListBuffer.empty[(Long, Double)]
    batches.foreach { b =>
      b.groupBy(_.user_id).foreach { case (u, evs) =>
        val best = math.max(stage(u), evs.map(e => stageOf.getOrElse(e.event_type, 0)).max)
        if (best > stage(u)) expAdvance += ((u, stage(u), best))
        stage += u -> best
        val now = spend(u) + evs.map(_.value).sum
        expSpend += ((u, now))
        spend += u -> now
      }
    }

    val in1 = MemoryStream[Event]
    val q1 = Streams.funnelStateful(in1.toDS())
      .writeStream.format("memory").queryName("x6par").outputMode(OutputMode.Update).start()
    val in2 = MemoryStream[Event]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q2 = Streams.runningSpend(in2.toDS())
      .writeStream.format("memory").queryName("x6bpar").outputMode(OutputMode.Update).start()
    try {
      batches.foreach { b =>
        in1.addData(b); q1.processAllAvailable()
        in2.addData(b); q2.processAllAvailable()
      }
      val gotAdvance = spark.table("x6par")
        .select("user_id", "from_stage", "to_stage").as[(Long, Int, Int)]
        .collect().toSeq
      // row-for-row parity (multisets — emission order across users is
      // not defined, per-user NET advancement per batch is)
      assert(gotAdvance.groupBy(identity).view.mapValues(_.size).toMap ==
        expAdvance.groupBy(identity).view.mapValues(_.size).toMap,
        "funnelStateful diverged from the batch fold")
      val gotSpend = spark.table("x6bpar").as[(Long, Double)].collect().toSeq
      def roundBag(xs: Seq[(Long, Double)]) =
        xs.map { case (u, v) => (u, math.round(v * 100)) }
          .groupBy(identity).view.mapValues(_.size).toMap
      assert(roundBag(gotSpend) == roundBag(expSpend.toSeq),
        "runningSpend diverged from the batch fold")
      // final states vs a Spark BATCH aggregation over all events
      val batchFinal = all.toDF()
        .groupBy($"user_id")
        .agg(max(
          when($"event_type" === "signup", 1)
            .when($"event_type" === "view", 2)
            .when($"event_type" === "purchase", 3).otherwise(0)).as("stage"),
          round(sum($"value"), 2).as("total"))
        .as[(Long, Int, Double)].collect()
      val streamFinalStage = gotAdvance.groupBy(_._1).view
        .mapValues(_.map(_._3).max).toMap.withDefaultValue(0)
      val streamFinalSpend = gotSpend.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toMap
      batchFinal.foreach { case (u, st, tot) =>
        assert(streamFinalStage(u) == st,
          s"user $u: streaming final stage ${streamFinalStage(u)} != batch $st")
        assert(math.abs(streamFinalSpend(u) - tot) < 1e-6,
          s"user $u: streaming final spend != batch total")
      }
    } finally {
      q1.stop(); q2.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("X6 full form: flatMapGroupsWithState sessionizer emits on gap and timeout") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionizeStateful(in.toDS())
      .writeStream.format("memory").queryName("x6s").outputMode(OutputMode.Append).start()
    try {
      // session 1: two events 5 min apart; then an in-batch 40-min gap
      // opens session 2 immediately
      in.addData(
        Event(1, ts("10:00"), 7, "click", 1.0),
        Event(2, ts("10:05"), 7, "view", 2.0),
        Event(3, ts("10:45"), 7, "click", 4.0))
      q.processAllAvailable()
      // advance the watermark far past session 2's 30-min gap → timeout fires
      in.addData(Event(4, ts("23:00"), 99, "click", 0.5))
      q.processAllAvailable()
      in.addData(Event(5, ts("23:30"), 99, "click", 0.5)) // push watermark again
      q.processAllAvailable()
      val rows = spark.table("x6s")
        .selectExpr("user_id", "n_events", "total_value")
        .as[(Long, Int, Double)].collect().toSet
      assert(rows.contains((7L, 2, 3.0)), s"gap-closed session missing: $rows")
      assert(rows.contains((7L, 1, 4.0)), s"timeout-closed session missing: $rows")
    } finally q.stop()
  }

  test("X6 full form: a late event inside the watermark extends the session START backwards") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionizeStateful(in.toDS())
      .writeStream.format("memory").queryName("x6late").outputMode(OutputMode.Append).start()
    try {
      // open the session at 10:00; watermark (10-min delay) stays at 09:50
      in.addData(Event(1, ts("10:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // a LATE event at 09:55 — older than the stored start, but inside
      // the watermark horizon, and within the 30-min gap of the session
      in.addData(Event(2, ts("09:55"), 7, "view", 2.0))
      q.processAllAvailable()
      // push the watermark far past last + 30 min so the session emits
      in.addData(Event(3, ts("23:00"), 99, "click", 0.5))
      q.processAllAvailable()
      in.addData(Event(4, ts("23:30"), 99, "click", 0.5))
      q.processAllAvailable()
      val sess7 = spark.table("x6late").filter("user_id = 7")
        .selectExpr("start_ms", "n_events", "total_value")
        .as[(Long, Int, Double)].collect().toSet
      assert(sess7 == Set((ts("09:55").getTime, 2, 3.0)),
        s"late event must pull the session start back to 09:55: $sess7")
    } finally q.stop()
  }

  test("X6b: transformWithState running spend (RocksDB state store)") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Event]
    val q = Streams.runningSpend(in.toDS())
      .writeStream.format("memory").queryName("x6b").outputMode(OutputMode.Update).start()
    try {
      in.addData(Event(1, ts("10:00"), 7, "purchase", 10.0),
        Event(2, ts("10:01"), 7, "purchase", 5.0))
      q.processAllAvailable()
      in.addData(Event(3, ts("10:02"), 7, "purchase", 2.5),
        Event(4, ts("10:03"), 8, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("x6b").as[(Long, Double)].collect().toSet
      assert(rows.contains((7L, 15.0)) && rows.contains((7L, 17.5))
        && rows.contains((8L, 1.0)), s"got $rows")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("X8b: incremental PDF ingestion via streaming binaryFile source") {
    // the production loop for the reference's core task: PDFs landing in
    // a directory are picked up exactly once and page counts extracted
    val base = java.nio.file.Files.createTempDirectory("graft_x8b_")
    val landing = base.resolve("landing"); val chk = base.resolve("chk")
    java.nio.file.Files.createDirectories(landing)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/data/sedar__000003116_Aris_Mining_Corporation__technical-report__878C2FBC.pdf"),
      landing.resolve("doc1.pdf"))
    val pagesUdf = org.apache.spark.sql.functions.udf(
      (b: Array[Byte]) => graft.pdf.PdfText.pages(b).length)
    // streaming sources need an explicit schema; binaryFile's is fixed
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val q = spark.readStream.format("binaryFile").schema(binarySchema)
      .option("pathGlobFilter", "*.pdf").load(landing.toString)
      .select(
        org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.col("path"), "([^/]+)$", 1).as("f"),
        pagesUdf(org.apache.spark.sql.functions.col("content")).as("n_pages"))
      .writeStream.format("memory").queryName("x8b")
      .option("checkpointLocation", chk.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("x8b").as[(String, Int)].collect()
    assert(rows.length == 1 && rows.head._1 == "doc1.pdf" && rows.head._2 >= 60,
      rows.mkString(","))
  }

  test("X8: AvailableNow file ingestion is exactly-once across restarts") {
    val base = java.nio.file.Files.createTempDirectory("graft_x8_")
    val landing = base.resolve("landing"); val chk = base.resolve("chk")
    val out = base.resolve("out")
    java.nio.file.Files.createDirectories(landing)
    def drop(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(landing.resolve(name),
        String.join("\n", lines: _*).getBytes)
    drop("a.json", Seq(
      """{"event_id":1,"ts":"2024-01-01T10:00:00.000Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T10:01:00.000Z","user_id":1,"event_type":"view","value":2.0}"""))
    Streams.fileIngest(spark, landing.toString, chk.toString, out.toString)
    assert(spark.read.parquet(out.toString).count() == 2)
    // second tick: only the new file is processed (checkpoint WAL)
    drop("b.json", Seq(
      """{"event_id":3,"ts":"2024-01-01T10:02:00.000Z","user_id":2,"event_type":"click","value":3.0}"""))
    Streams.fileIngest(spark, landing.toString, chk.toString, out.toString)
    val ids = spark.read.parquet(out.toString)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("streaming incremental dedup candidates + exact verify equal the batch t27 verdicts") {
    implicit val ctx = spark.sqlContext
    // rebuild t27's exact ingest batch (near-dup copies + reversed novels)
    // and feed it through a MemoryStream instead of a batch frame
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val batch = docs.filter(_._1 % 3 == 0).map { case (id, t) =>
      (id + 1000000L, t.replaceAll("\\s+\\S+$", "")) } ++
      docs.filter(_._1 % 3 == 1).map { case (id, t) =>
        (id + 2000000L, t.split(" ").reverse.mkString(" ")) }
    val in = MemoryStream[(Long, String)]
    val stream = ops.TextVector.streamingIncrementalDedup(
      in.toDF().toDF("doc_id", "text"), spark, sf)
    val q = stream.writeStream.format("memory").queryName("inc_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches — the index join must behave identically per batch
      val (first, second) = batch.splitAt(batch.length / 2)
      in.addData(first.toSeq); q.processAllAvailable()
      in.addData(second.toSeq); q.processAllAvailable()
      // the stream emits band-collision CANDIDATES with an 8-lane
      // jaccard estimate; the exact verify is the batch path's job
      val streamed = spark.table("inc_dedup")
        .select($"b_id", $"i_id", $"est_jaccard").as[(Long, Long, Double)]
        .collect()
      assert(streamed.nonEmpty)
      assert(streamed.forall(r => r._3 >= 0.0 && r._3 <= 1.0),
        "lane-agreement estimate out of [0,1]")
      // exact-verify the streamed candidates (3-gram Jaccard >= 0.5,
      // driver-side — the candidate set is tiny, that is the point)
      def shingles(t: String): Set[String] = {
        val ts = t.split(" ")
        (0 until ts.length - 2).map(i => s"${ts(i)} ${ts(i + 1)} ${ts(i + 2)}").toSet
      }
      val idxText = docs.toMap
      val batchText = batch.toMap
      val verifiedDups = streamed.map(r => (r._1, r._2)).distinct.collect {
        case (b, i) if {
          val bs = shingles(batchText(b)); val is = shingles(idxText(i))
          bs.nonEmpty && is.nonEmpty &&
            bs.intersect(is).size.toDouble / bs.union(is).size >= 0.5
        } => b
      }.toSet
      val batchDups = ops.TextVector.t27_incremental_dedup(spark, sf)
        .filter($"is_dup").select($"b_id").as[Long].collect().toSet
      assert(verifiedDups == batchDups,
        s"stream/batch divergence: only-stream=${verifiedDups -- batchDups} " +
          s"only-batch=${batchDups -- verifiedDups}")
      // the estimator itself must separate the planted near-dups from
      // band-collision noise in aggregate: mean estimate over true dups
      // strictly above mean over non-dups
      val (dupEst, nonEst) = streamed.partition(r => batchDups.contains(r._1))
      if (dupEst.nonEmpty && nonEst.nonEmpty)
        assert(dupEst.map(_._3).sum / dupEst.length >
          nonEst.map(_._3).sum / nonEst.length)
    } finally q.stop()
  }

  test("X8 × S19: streaming append sink records stats; rangeScan prunes whole micro-batches") {
    val base = java.nio.file.Files.createTempDirectory("graft_x8s19_").toString
    val table = s"$base/table"
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    // two sink runs = two micro-batches = two commit dirs, each
    // spanning a narrow slice of event time (the ingest shape)
    in.addData(ev(1, "10:00", 7, "click"), ev(2, "10:05", 7, "view"))
    Streams.appendSink(in.toDF(), table, s"$base/ckpt", statsCols = Seq("ts"))
    in.addData(ev(3, "11:00", 8, "click"), ev(4, "11:10", 8, "buy"))
    Streams.appendSink(in.toDF(), table, s"$base/ckpt", statsCols = Seq("ts"))
    assert(graft.sources.ManifestTable.read(spark, table).count() == 4L)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = graft.sources.ManifestTable.versions(fs, table).last
    assert(graft.sources.ManifestTable.statsOf(fs, table, head).size == 2,
      "each micro-batch dir must carry ts stats")
    // a query window inside batch 1's hour opens batch 1's dir ONLY
    val hit = graft.sources.ManifestTable.rangeScan(spark, table, "ts",
      "2024-01-01 10:00:00", "2024-01-01 10:30:00")
    assert(hit.as[Event].collect().map(_.event_id).sorted.toSeq == Seq(1L, 2L))
    assert(scannedFiles(hit).map(_.split("/").dropRight(1).last).toSet.size == 1,
      "the 11:00 micro-batch must be pruned at the manifest")
  }

  test("X8 crash recovery: a batch replayed after commit-before-ack does NOT double-append") {
    // The crash window: foreachBatch committed the manifest, the JVM
    // died before the checkpoint acked, restart re-delivers the SAME
    // batchId. appendBatch is the foreachBatch body — drive the window
    // directly instead of killing a JVM.
    val base = java.nio.file.Files.createTempDirectory("graft_x8r_").toString
    val table = s"$base/table"
    val b0 = Seq(ev(1, "10:00", 7, "click"), ev(2, "10:05", 7, "view")).toDF()
    assert(Streams.appendBatch(b0, table, Seq("ts"), "app", 0L).isDefined)
    assert(graft.sources.ManifestTable.read(spark, table).count() == 2L)
    // the replay: same appId, same batchId → recognized, skipped
    assert(Streams.appendBatch(b0, table, Seq("ts"), "app", 0L).isEmpty)
    assert(graft.sources.ManifestTable.read(spark, table).count() == 2L,
      "replayed batch double-appended")
    // progress resumes: the NEXT batchId commits and advances the watermark
    val b1 = Seq(ev(3, "11:00", 8, "buy")).toDF()
    assert(Streams.appendBatch(b1, table, Seq("ts"), "app", 1L).isDefined)
    assert(graft.sources.ManifestTable.read(spark, table).count() == 3L)
    assert(Streams.appendBatch(b1, table, Seq("ts"), "app", 1L).isEmpty)
    // a DIFFERENT writer's batch 0 is not confused with ours
    val other = Seq(ev(9, "12:00", 9, "view")).toDF()
    assert(Streams.appendBatch(other, table, Seq("ts"), "app2", 0L).isDefined)
    assert(graft.sources.ManifestTable.read(spark, table).count() == 4L)
    // the watermark survives table maintenance: compaction carries #meta
    graft.sources.ManifestTable.compactAppend(spark, table, Seq("ts"), k = 2)
    assert(Streams.appendBatch(b1, table, Seq("ts"), "app", 1L).isEmpty,
      "compaction dropped the txn watermark")
    assert(graft.sources.ManifestTable.read(spark, table).count() == 4L)
  }

  test("X8 crash recovery e2e: a torched checkpoint with a kept appId drops the full re-delivery") {
    val base = java.nio.file.Files.createTempDirectory("graft_x8e_").toString
    val table = s"$base/table"
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(ev(1, "10:00", 7, "click"), ev(2, "10:05", 7, "view"))
    Streams.appendSink(in.toDF(), table, s"$base/ckpt", statsCols = Seq("ts"),
      txnAppId = Some("pipelineA"))
    assert(graft.sources.ManifestTable.read(spark, table).count() == 2L)
    // lose the checkpoint (the worst restart): the source re-delivers
    // everything as batch 0 — with the SAME appId the recorded
    // watermark (0) recognizes it and nothing double-lands
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true)
    val in2 = MemoryStream[Event]
    in2.addData(ev(1, "10:00", 7, "click"), ev(2, "10:05", 7, "view"))
    Streams.appendSink(in2.toDF(), table, s"$base/ckpt2", statsCols = Seq("ts"),
      txnAppId = Some("pipelineA"))
    assert(graft.sources.ManifestTable.read(spark, table).count() == 2L,
      "re-delivered batch 0 double-appended")
  }

  test("X9: foreachBatch upsert — latest version wins, re-applied batch is a no-op") {
    val base = java.nio.file.Files.createTempDirectory("graft_x9_").toString
    val table = s"$base/table"
    val nB = 8
    def snapshot(): Map[Long, (String, Double)] =
      Streams.readUpserted(spark, table).as[Event].collect()
        .map(e => e.event_id -> (e.event_type, e.value)).toMap
    def tableFs() = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // live bucket name -> the data dir the manifest points it at
    def bucketMap(): Map[String, String] =
      graft.sources.ManifestTable.livePaths(tableFs(), table)
        .map(rel => rel.substring(rel.lastIndexOf("b=")) -> rel).toMap
    // batch 1: two fresh keys
    val b1 = Seq(ev(1, "10:00", 7, "click"), ev(2, "10:01", 7, "view")).toDF()
    Streams.upsertBatch(b1, table, nB)
    assert(snapshot() == Map(1L -> ("click", 1.0), 2L -> ("view", 1.0)))
    // batch 2: key 2 updated (newer ts), key 3 new, key 2 also carries an
    // in-batch duplicate — the latest version must win inside the batch too
    val b2 = Seq(
      Event(2L, ts("10:05"), 7L, "purchase", 5.0),
      Event(2L, ts("10:03"), 7L, "view", 2.0),
      Event(3L, ts("10:06"), 8L, "click", 1.0)).toDF()
    Streams.upsertBatch(b2, table, nB)
    val after = snapshot()
    assert(after == Map(1L -> ("click", 1.0), 2L -> ("purchase", 5.0),
      3L -> ("click", 1.0)), s"merge wrong: $after")
    // re-apply batch 2 (at-least-once redelivery): table unchanged
    Streams.upsertBatch(b2, table, nB)
    assert(snapshot() == after, "re-applied batch must be a no-op")
    // and the streaming wiring drives the same merge through foreachBatch
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(Event(4L, ts("10:07"), 9L, "signup", 0.0))
    Streams.upsertSink(in.toDF(), table, s"$base/ckpt", nB)
    assert(snapshot().keySet == Set(1L, 2L, 3L, 4L))
    // the merge must be bucket-scoped: a 1-key batch re-points exactly the
    // one bucket its key hashes to at a fresh commit dir — every other
    // bucket's manifest entry (and therefore its immutable data dir on
    // disk) is carried over unchanged. This is the O(batch) vs O(table)
    // distinction at 100 TB.
    val mapBefore = bucketMap()
    assert(mapBefore.size >= 2, s"fixture spans ${mapBefore.size} bucket(s); need ≥2")
    Streams.upsertBatch(Seq(Event(5L, ts("10:10"), 9L, "view", 2.0)).toDF(), table, nB)
    val mapAfter = bucketMap()
    val rewritten = mapAfter.filter { case (b, p) =>
      mapBefore.get(b).forall(_ != p) }.keySet
    assert(rewritten.size == 1,
      s"1-key batch rewrote ${rewritten.size} buckets: $rewritten")
    // carried-over entries must still point at dirs that exist (GC must
    // never sweep a dir the live manifest references)
    mapAfter.values.foreach { rel =>
      assert(tableFs().exists(new org.apache.hadoop.fs.Path(s"$table/$rel")),
        s"live manifest references missing dir: $rel")
    }
    // ties on (ts, value) must resolve deterministically: the same tied
    // batch applied twice keeps the same winner both times
    val tied = Seq(
      Event(6L, ts("10:08"), 9L, "click", 1.0),
      Event(6L, ts("10:08"), 9L, "view", 1.0)).toDF()
    Streams.upsertBatch(tied, table, nB)
    val winner = snapshot()(6L)
    assert(winner._1 == "view", "tiebreak must pick the max event_type")
    Streams.upsertBatch(tied, table, nB)
    assert(snapshot()(6L) == winner, "tied batch re-apply changed the row")
    // a mismatched bucket count must be rejected, not silently mis-merged
    intercept[IllegalArgumentException] {
      Streams.upsertBatch(tied, table, nB * 2)
    }
    // crash healing: a writer that died AFTER staging its commit dir but
    // BEFORE the manifest rename leaves an orphan c- dir. It must be
    // invisible to readers immediately (they resolve through the
    // manifest), the table must merge correctly past it, and the next
    // successful commit's GC must sweep it.
    val fs = tableFs()
    val before = snapshot()
    val orphan = new org.apache.hadoop.fs.Path(s"$table/c-orphan/b=0")
    fs.mkdirs(orphan)
    val junk = fs.create(new org.apache.hadoop.fs.Path(orphan, "junk.parquet"))
    try junk.write(Array[Byte](1, 2, 3)) finally junk.close()
    // age the orphan past the GC grace window: a YOUNG unreferenced dir
    // is indistinguishable from a racing writer's in-flight commit dir
    // and is deliberately protected; only aged orphans are swept
    ageTree(fs, new org.apache.hadoop.fs.Path(s"$table/c-orphan"),
      24L * 3600 * 1000)
    assert(snapshot() == before, "orphan staged dir leaked into reads")
    Streams.upsertBatch(Seq(Event(7L, ts("10:09"), 9L, "click", 1.0)).toDF(), table, nB)
    val healed = snapshot()
    assert(healed.keySet == before.keySet + 7L,
      s"merge past orphan lost keys: ${before.keySet -- healed.keySet}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/c-orphan")),
      "commit GC left the crashed writer's orphan dir behind")
    // maintenance: the batches above accreted multiple commit dirs; the
    // compaction pass must fold the live snapshot into ONE dir with the
    // content unchanged, and the following upsert's GC drops the rest
    assert(bucketMap().values.map(_.split("/").head).toSet.size > 1,
      "fixture degenerate: only one commit dir before compaction")
    val preCompact = snapshot()
    Streams.compactUpserted(spark, table)
    assert(snapshot() == preCompact, "compaction changed the table")
    assert(bucketMap().values.map(_.split("/").head).toSet.size == 1,
      s"live manifest spans multiple dirs after compaction: ${bucketMap()}")
    // a 1-key post-compaction merge still works and sweeps old generations
    Streams.upsertBatch(Seq(Event(8L, ts("10:12"), 9L, "view", 3.0)).toDF(), table, nB)
    assert(snapshot().keySet == preCompact.keySet + 8L)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName).filter(_.startsWith("c-")).toSet
    assert(dirs.size <= 3, s"old generations not swept: $dirs")
  }

  test("X4 parity: the batch drop rule matches streaming row-for-row (row-at-a-time feed)") {
    implicit val ctx = spark.sqlContext
    // jittered arrivals with UNIQUE keys: dropDuplicatesWithinWatermark
    // never drops a fresh key for dedup reasons, so what it drops is
    // exactly the rows older than the watermark — the row-level rule
    // x4_late_data computes. One micro-batch per row makes the streaming
    // watermark equal the batch form's strictly-previous-arrivals max.
    val arrivals: Seq[(Long, Int)] = Seq( // (event_id, event-time minute)
      1L -> 0, 2L -> 2, 3L -> 4, 4L -> 30, 5L -> 6, 6L -> 25, 7L -> 12,
      8L -> 40, 9L -> 28, 10L -> 45, 11L -> 36, 12L -> 44, 13L -> 33,
      14L -> 50, 15L -> 39)
    def minuteTs(m: Int) = new Timestamp(ts("10:00").getTime + m * 60000L)
    // the batch rule, computed independently: late iff ts < runningMax(prev) - 10
    var mx = Int.MinValue
    val expectDropped = arrivals.flatMap { case (id, m) =>
      val late = mx != Int.MinValue && m < mx - 10
      mx = math.max(mx, m)
      if (late) Some(id) else None
    }.toSet
    assert(expectDropped.nonEmpty && expectDropped.size < arrivals.size,
      s"fixture degenerate: $expectDropped")
    val in = MemoryStream[Event]
    val q = Streams.dedupEvents(in.toDF())
      .writeStream.format("memory").queryName("x4par")
      .outputMode(OutputMode.Append).start()
    try {
      arrivals.foreach { case (id, m) =>
        in.addData(Event(id, minuteTs(m), 1L, "click", 1.0))
        q.processAllAvailable()
      }
      val kept = spark.table("x4par").select($"event_id").as[Long].collect().toSet
      assert(kept == arrivals.map(_._1).toSet -- expectDropped,
        s"streaming kept $kept, batch rule expected dropped $expectDropped")
    } finally q.stop()
  }

  test("X5 parity: the 2×delay closed form matches dropDuplicatesWithinWatermark on a dense feed") {
    implicit val ctx = spark.sqlContext
    // 30 originals one minute apart, plus two redeliveries mirroring the
    // x5_stream_dedup feed: +5 min (state alive → dropped) and +30 min
    // (state evicted → kept). Event-time-sorted, one row per micro-batch
    // — the continuous-arrival limit the closed form models.
    def minuteTs(m: Int) = new Timestamp(ts("10:00").getTime + m * 60000L)
    val originals = (0 until 30).map(i => Event(100L + i, minuteTs(i), 1L, "view", 1.0))
    val dupEarly = Event(100L, minuteTs(5), 1L, "view", 1.0)   // 5 < 0+20 → drop
    val dupLate = Event(105L, minuteTs(35), 1L, "view", 1.0)   // 35 > 5+20 → keep
    val feed = (originals :+ dupEarly :+ dupLate).sortBy(_.ts.getTime)
    val in = MemoryStream[Event]
    val q = Streams.dedupEvents(in.toDF())
      .writeStream.format("memory").queryName("x5par")
      .outputMode(OutputMode.Append).start()
    try {
      feed.foreach { e => in.addData(e); q.processAllAvailable() }
      val counts = spark.table("x5par").groupBy($"event_id").count()
        .as[(Long, Long)].collect().toMap
      assert(counts(100L) == 1, s"+5min redelivery survived: $counts")
      assert(counts(105L) == 2, s"+30min redelivery was dropped: $counts")
      assert(counts.values.sum == 31, s"unexpected total: $counts")
    } finally q.stop()
  }

  test("X10: stream-stream interval join matches clicks within the 30-min window") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Streams.intervalJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("x10")
      .outputMode(OutputMode.Append).start()
    try {
      // click 1 at 10:00 and click 2 at 09:20 for user 7; purchase 10 at
      // 10:15 → only click 1 is within [09:45, 10:15]; user 8's click 3
      // must not match user 7's purchase
      clicks.addData(ev(1, "10:00", 7, "click"), ev(2, "09:20", 7, "click"),
        ev(3, "10:10", 8, "click"))
      purchases.addData(ev(10, "10:15", 7, "purchase"))
      q.processAllAvailable()
      val got = spark.table("x10")
        .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 1L)), s"wrong matches: $got")
      // a purchase BEFORE its user's click matches nothing
      purchases.addData(ev(11, "10:05", 8, "purchase"))
      q.processAllAvailable()
      val got2 = spark.table("x10")
        .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(got2 == Set((10L, 1L)), s"wrong matches after batch 2: $got2")
    } finally q.stop()
  }

  test("X12: streaming curation ingest gates + dedups exactly like the batch gate block") {
    implicit val ctx = spark.sqlContext
    // texts sized for the real gates: length 100-520 chars, distinct-token
    // ratio >= 0.35; vocab-indexed words keep every doc deterministic
    def longText(seed: Int): String =
      (0 until 30).map(i => s"word${(seed * 7 + i * 3) % 40}").mkString(" ")
    def doc(id: Long, text: String, lang: String, t: String) =
      DocArrival(id, text, lang, Timestamp.valueOf(s"2024-01-01 $t:00"))
    val good1 = doc(1, longText(1), "en", "10:00")
    val good2 = doc(2, longText(2), "fr", "10:01")
    val zh = doc(3, longText(3), "zh", "10:02")             // lang gate
    val short = doc(4, "tiny doc", "en", "10:03")           // length gate
    val degenerate = doc(5, ("spam " * 40).trim, "en", "10:04") // repetition gate
    val dupIn = doc(6, longText(1), "en", "10:05")          // dup of good1, in horizon
    val in = MemoryStream[DocArrival]
    val q = Streams.curationIngest(in.toDF())
      .writeStream.format("memory").queryName("x12")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(good1, good2, zh, short, degenerate)
      q.processAllAvailable()
      in.addData(dupIn)
      q.processAllAvailable()
      // far-future doc advances the watermark past every hash's horizon,
      // then the SAME content arrives again → state retired, passes
      val lateDup = doc(7, longText(1), "en", "15:00")
      in.addData(doc(8, longText(9), "en", "14:00"))
      q.processAllAvailable()
      in.addData(lateDup)
      q.processAllAvailable()
      val got = spark.table("x12").select($"doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 7L, 8L), s"stream kept: $got")
      // parity: the batch gate block over the same rows keeps the same
      // docs (before dedup state semantics, which are stream-only)
      val all = Seq(good1, good2, zh, short, degenerate, dupIn, lateDup,
        doc(8, longText(9), "en", "14:00"))
      val batchKept = graft.ops.Curation.statelessGates(all.toDF())
        .filter($"f3").select($"doc_id").as[Long].collect().toSet
      assert(batchKept == Set(1L, 2L, 6L, 7L, 8L),
        s"batch gates kept: $batchKept")
      // stream == batch gates minus the in-horizon duplicate (id 6)
      assert(got == batchKept - 6L)
    } finally q.stop()
  }

  test("lakehouse loop: a table written by appendSink is TAILED by the graft streaming source into the next table") {
    // bronze→silver medallion hop, every layer this repo's own: a doc
    // stream gated by X12 lands in BRONZE via appendSink (X8×S19);
    // a SECOND stream tails bronze through the X13 graft source and
    // lands the rows in SILVER via another appendSink — snapshot first,
    // then exactly-once tail across restarts of the downstream query.
    implicit val ctx = spark.sqlContext
    def longText(seed: Int): String =
      (0 until 30).map(i => s"word${(seed * 11 + i * 3) % 40}").mkString(" ")
    def doc(id: Long, text: String, t: String) =
      DocArrival(id, text, "en", Timestamp.valueOf(s"2024-01-01 $t:00"))
    val bronze = java.nio.file.Files.createTempDirectory("graft_loop_b").toString
    val silver = java.nio.file.Files.createTempDirectory("graft_loop_s").toString
    val ck1 = java.nio.file.Files.createTempDirectory("graft_loop_c1").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft_loop_c2").toString
    def runSilver(): Unit =
      Streams.appendSink(spark.readStream.format("graft").load(bronze),
        silver, ck2, statsCols = Seq("ingest_ts"))
    def silverIds(): Seq[Long] =
      graft.sources.ManifestTable.read(spark, silver)
        .select("doc_id").as[Long].collect().toSeq
    val in = MemoryStream[DocArrival]
    in.addData(doc(1, longText(1), "09:00"), doc(2, longText(2), "09:01"),
      doc(3, "tiny", "09:02")) // gated out by X12
    Streams.appendSink(Streams.curationIngest(in.toDF()), bronze, ck1,
      statsCols = Seq("ingest_ts"))
    runSilver() // snapshot: bronze's current content
    assert(silverIds().sorted == Seq(1L, 2L))
    in.addData(doc(6, longText(6), "13:00"), doc(7, longText(7), "13:05"))
    Streams.appendSink(Streams.curationIngest(in.toDF()), bronze, ck1,
      statsCols = Seq("ingest_ts"))
    runSilver() // tail: ONLY the new bronze commit dir, exactly once
    assert(silverIds().sorted == Seq(1L, 2L, 6L, 7L), silverIds().sorted)
    runSilver() // no new bronze data: silver unchanged
    assert(silverIds().sorted == Seq(1L, 2L, 6L, 7L))
  }

  test("lambda pipeline end-to-end: stream gates -> manifest append with stats -> pruned source read -> batch near-dedup") {
    // The full curation lambda in one test: X12 gates a document
    // stream, each micro-batch lands as a manifest commit with
    // ingest-time stats (X8 × S19), the curated store is read back
    // through the graft-manifest source with a time filter (S20 —
    // pruning by micro-batch), and the batch half (near-dedup's
    // canonical pick over the full store, T40's technique) finishes
    // the split. Every layer is one the suite already proves alone;
    // this pins that they COMPOSE.
    implicit val ctx = spark.sqlContext
    def longText(seed: Int): String =
      (0 until 30).map(i => s"word${(seed * 11 + i * 3) % 40}").mkString(" ")
    def doc(id: Long, text: String, t: String) =
      DocArrival(id, text, "en", Timestamp.valueOf(s"2024-01-01 $t:00"))
    val tableDir = java.nio.file.Files.createTempDirectory("graft_lambda_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lambda_c").toString
    val in = MemoryStream[DocArrival]
    // three waves: two early (distinct + a near-dup pair), one late
    in.addData(doc(1, longText(1), "09:00"), doc(2, longText(2), "09:01"),
      doc(3, "tiny", "09:02")) // gated out
    Streams.appendSink(Streams.curationIngest(in.toDF()), tableDir, ckpt,
      statsCols = Seq("ingest_ts"))
    // near-dup of 1 via the canonical drop-last-token recipe (verified
    // offline: this exact text's 4 lane minima all survive the drop, so
    // the merge is deterministic — appending a token instead shifted a
    // lane minimum and did NOT merge, the expected ~6%-per-lane miss)
    in.addData(doc(4, longText(1).split(" ").dropRight(1).mkString(" "), "13:00"),
      doc(5, longText(9), "13:01"))
    Streams.appendSink(Streams.curationIngest(in.toDF()), tableDir, ckpt,
      statsCols = Seq("ingest_ts"))
    // the curated store holds exactly the gate survivors
    val store = spark.read.format("graft-manifest").load(tableDir)
    assert(store.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L, 5L))
    // S20 pruned read: only the afternoon micro-batch's commit dir
    val afternoon = store
      .filter($"ingest_ts" >= Timestamp.valueOf("2024-01-01 12:00:00") &&
        $"ingest_ts" <= Timestamp.valueOf("2024-01-01 23:59:59"))
    assert(afternoon.select("doc_id").as[Long].collect().toSet == Set(4L, 5L))
    // batch half: near-dedup canonical pick over the whole store
    // (t40's min-over-survivors on the 4-lane signature) — doc 4 is
    // doc 1 + a trailing token, same leading shingles, so it merges
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{array, col, concat, expr, min => fmin, when => fwhen}
    val sig = store
      .withColumn("t", org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.trim(col("text")), " "))
      .withColumn("mds", fwhen(org.apache.spark.sql.functions.size(col("t")) >= 3,
          expr("transform(sequence(0, size(t)-3), i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2])))"))
        .otherwise(array(org.apache.spark.sql.functions.md5(col("text")))))
      .withColumn("sig", concat(
        expr("array_min(transform(mds, m -> substring(m, 1, 8)))"),
        expr("array_min(transform(mds, m -> substring(m, 9, 8)))"),
        expr("array_min(transform(mds, m -> substring(m, 17, 8)))"),
        expr("array_min(transform(mds, m -> substring(m, 25, 8)))")))
    val canon = sig.withColumn("keep",
      col("doc_id") === fmin(col("doc_id")).over(Window.partitionBy("sig")))
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(canon == Set(1L, 2L, 5L), s"near-dedup kept $canon")
  }
}
