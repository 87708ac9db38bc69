package graft

import graft.sources.{ManifestTable, MergeInto}
import org.apache.spark.sql.functions._

/** Top-level (Spark encoders can't serialize inner case classes). */
case class MergeRow(k: Long, v: String, amt: Double)

/** Batch MERGE INTO + time travel + CDC diff (SURVEY §2 S16/S17): the
  * clause semantics on a pinned fixture, the one-winner-per-key
  * reduction, idempotent re-application, emptied-bucket manifest
  * hygiene, retained-version snapshot reads, and the changed-dirs-only
  * cost bound of the change feed. */
class MergeIntoSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_merge_").toString

  private def table(dir: String): Map[Long, (String, Double)] =
    MergeInto.read(spark, dir).as[MergeRow].collect()
      .map(r => r.k -> (r.v, r.amt)).toMap

  test("merge applies update, delete and insert clauses per key") {
    val dir = freshDir()
    val base = (1L to 10L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    val v1 = MergeInto.create(base, dir, "k", nBuckets = 8)
    assert(v1 == 1L)
    assert(table(dir) == (1L to 10L).map(k => k -> (s"v$k", k * 1.0)).toMap)
    // update k=2, delete k=3 (present) and k=99 (absent → no-op),
    // insert k=11
    val src = Seq(
      MergeRow(2L, "updated", 20.0),
      MergeRow(3L, "doomed", 0.0),
      MergeRow(99L, "ghost", 0.0),
      MergeRow(11L, "fresh", 11.0)).toDF()
    val v2 = MergeInto.merge(src, dir, deleteWhen = $"v" === "doomed" || $"v" === "ghost")
    assert(v2 == 2L)
    val expected = (1L to 10L).filterNot(_ == 3L)
      .map(k => k -> (s"v$k", k * 1.0)).toMap +
      (2L -> ("updated", 20.0)) + (11L -> ("fresh", 11.0))
    assert(table(dir) == expected)
    // re-applying the same source is a no-op (at-least-once safe):
    // the delete keys are already gone, the update rewrites the same
    // image, the insert replaces itself
    MergeInto.merge(src, dir, deleteWhen = $"v" === "doomed" || $"v" === "ghost")
    assert(table(dir) == expected, "re-applied merge changed the table")
  }

  test("duplicate source keys reduce to one deterministic winner before clauses") {
    val dir = freshDir()
    MergeInto.create(Seq(MergeRow(1L, "a", 1.0)).toDF(), dir, "k", nBuckets = 4)
    // two rows for k=1: default ties order non-key columns (amt, v)
    // descending, so the amt=9.0 row wins both times
    val dup = Seq(MergeRow(1L, "x", 2.0), MergeRow(1L, "y", 9.0)).toDF()
    MergeInto.merge(dup, dir)
    assert(table(dir) == Map(1L -> ("y", 9.0)))
    MergeInto.merge(dup, dir)
    assert(table(dir) == Map(1L -> ("y", 9.0)), "tied re-apply flipped the winner")
  }

  test("a bucket emptied by deletes leaves the manifest; geometry markers are pinned") {
    val dir = freshDir()
    val nB = 4
    val base = (1L to 40L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    MergeInto.create(base, dir, "k", nBuckets = nB)
    // delete EVERY key of one bucket: the replacement dir for that
    // bucket is never written, and the committed manifest must not
    // reference it (a manifest naming a missing dir would fail every
    // subsequent read)
    val bucketOfKey = base.withColumn("b", pmod(hash($"k"), lit(nB)))
      .select("k", "b").as[(Long, Int)].collect().toMap
    val victim = bucketOfKey(1L)
    val doomedKeys = bucketOfKey.collect { case (k, b) if b == victim => k }.toSet
    assert(doomedKeys.size > 1, "fixture degenerate: bucket has one key")
    val src = base.filter($"k".isin(doomedKeys.toSeq: _*))
    MergeInto.merge(src, dir, deleteWhen = lit(true))
    val left = table(dir)
    assert(left.keySet == (1L to 40L).toSet -- doomedKeys)
    // every manifest path must exist on disk
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestTable.livePaths(fs, dir).foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")),
        s"live manifest references missing dir: $rel")
    }
    // the kernel's working column names are reserved, not silently
    // overwritten
    intercept[IllegalArgumentException] {
      MergeInto.merge(src.withColumnRenamed("v", "b"), dir)
    }
    // geometry is pinned by the markers create() wrote
    intercept[IllegalArgumentException] {
      MergeInto.applyBatch(src, dir, "k", MergeInto.defaultTies(src, "k"),
        lit(false), nB * 2)
    }
    intercept[IllegalArgumentException] {
      MergeInto.applyBatch(src, dir, "v", MergeInto.defaultTies(src, "v"),
        lit(false), nB)
    }
  }

  test("time travel: a retained pre-merge version reads exactly as committed") {
    val dir = freshDir()
    val base = (1L to 20L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    val v1 = MergeInto.create(base, dir, "k", nBuckets = 4)
    val v2 = MergeInto.merge(
      Seq(MergeRow(2L, "new", 0.0), MergeRow(21L, "ins", 21.0)).toDF(), dir)
    def snap(v: Long): Map[Long, (String, Double)] =
      ManifestTable.readVersion(spark, dir, v).as[MergeRow].collect()
        .map(r => r.k -> (r.v, r.amt)).toMap
    assert(snap(v1) == (1L to 20L).map(k => k -> (s"v$k", k * 1.0)).toMap,
      "pre-merge snapshot drifted")
    assert(snap(v2) == table(dir), "live version ≠ readVersion(live)")
    // a GC'd version must fail loudly, not read partially: force v1 out
    val v3 = MergeInto.merge(Seq(MergeRow(22L, "x", 0.0)).toDF(), dir)
    assert(v3 == 3L)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, dir, v1)
    }
  }

  test("changes(): exact row-level feed, reading only re-pointed dirs") {
    val dir = freshDir()
    val nB = 8
    val base = (1L to 64L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    val v1 = MergeInto.create(base, dir, "k", nBuckets = nB)
    // touch exactly ONE key: update k=5's amt
    val v2 = MergeInto.merge(Seq(MergeRow(5L, "v5", 500.0)).toDF(), dir)
    val feed = ManifestTable.changes(spark, dir, v1, v2)
    val rows = feed.select($"change_type", $"k", $"amt")
      .as[(String, Long, Double)].collect().toSet
    assert(rows == Set(("delete", 5L, 5.0), ("insert", 5L, 500.0)),
      s"unexpected feed: $rows")
    // cost bound: the diff must scan only the two dirs the manifests
    // don't share (old and new images of k=5's bucket) — an untouched
    // bucket's dir among the scanned files would mean the diff is
    // O(table), not O(changed)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shared = ManifestTable.pathsOf(fs, dir, v1).toSet
      .intersect(ManifestTable.pathsOf(fs, dir, v2).toSet)
    val scanned = scannedFiles(feed).toSet
    assert(scanned.nonEmpty, "the diff must scan the re-pointed dirs")
    shared.foreach { rel =>
      assert(!scanned.exists(_.contains(rel)),
        s"diff scanned unchanged dir $rel")
    }
    // identical versions diff to an empty feed with the table's schema
    val empty = ManifestTable.changes(spark, dir, v2, v2)
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("k", "v", "amt", "change_type"))
  }

  test("schema evolution: a new source column null-fills standing rows; old snapshots keep their shape") {
    val dir = freshDir()
    val base = (1L to 12L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    val v1 = MergeInto.create(base, dir, "k", nBuckets = 4)
    // merge a source carrying a NEW column `tag` (touches a subset of
    // buckets — untouched dirs never learn the column physically)
    val src = Seq((1L, "v1", 1.0, "hot"), (13L, "v13", 13.0, "new"))
      .toDF("k", "v", "amt", "tag")
    val v2 = MergeInto.merge(src, dir)
    val live = MergeInto.read(spark, dir)
    // the declared schema carries the evolved shape even though only
    // re-pointed dirs contain the column on disk
    assert(live.columns.toSet == Set("k", "v", "amt", "tag"))
    val tags = live.select($"k", $"tag").as[(Long, Option[String])]
      .collect().toMap
    assert(tags(1L).contains("hot") && tags(13L).contains("new"))
    assert(tags(2L).isEmpty, "standing row in an untouched dir must null-fill")
    assert(live.count() == 13)
    // time travel is shape-faithful: the pre-evolution snapshot has no tag
    assert(ManifestTable.readVersion(spark, dir, v1).columns.toSet ==
      Set("k", "v", "amt"))
    // the change feed across the evolution compares on the NEW shape:
    // k=1's update is delete(old image, tag null) + insert(new image)
    val feed = ManifestTable.changes(spark, dir, v1, v2)
      .select($"change_type", $"k", $"tag").as[(String, Long, Option[String])]
      .collect().toSet
    assert(feed == Set(("delete", 1L, None), ("insert", 1L, Some("hot")),
      ("insert", 13L, Some("new"))), s"unexpected feed: $feed")
    // a later source MISSING the evolved column still merges (its
    // inserts null-fill) and the schema stays evolved
    MergeInto.merge(Seq(MergeRow(14L, "v14", 14.0)).toDF(), dir)
    val after = MergeInto.read(spark, dir)
    assert(after.columns.toSet == Set("k", "v", "amt", "tag"))
    assert(after.count() == 14)
    // compaction folds everything into one dir, preserving the shape
    MergeInto.compact(spark, dir)
    assert(MergeInto.read(spark, dir).columns.toSet == Set("k", "v", "amt", "tag"))
    assert(MergeInto.read(spark, dir).count() == 14)
  }

  test("streaming tombstones: a CDC feed's delete rows remove keys through the sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = freshDir()
    val table = s"$base/table"
    val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // seed two keys, then stream one update + one tombstone
    streaming.Streams.upsertBatch(Seq(
      streaming.Event(1L, t, 7L, "click", 1.0),
      streaming.Event(2L, t, 7L, "view", 2.0)).toDF(), table, nBuckets = 4)
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[streaming.Event]
    in.addData(
      streaming.Event(1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"),
        7L, "purchase", 5.0),
      streaming.Event(2L, java.sql.Timestamp.valueOf("2024-01-01 10:06:00"),
        7L, "tombstone", 0.0))
    streaming.Streams.upsertSink(in.toDF(), table, s"$base/ckpt",
      nBuckets = 4, deleteWhen = $"event_type" === "tombstone")
    val rows = streaming.Streams.readUpserted(spark, table)
      .select($"event_id", $"event_type").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "purchase"),
      s"tombstone did not delete / update lost: $rows")
  }

  test("point lookup opens only the buckets its keys hash to") {
    val dir = freshDir()
    val nB = 8
    val base = (1L to 64L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    MergeInto.create(base, dir, "k", nBuckets = nB)
    // the clustered write leaves ONE data file per bucket dir — without
    // it every upstream task writes a file into every bucket dir and
    // the serving path pays the accretion
    val fsRoot = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestTable.livePaths(fsRoot, dir).foreach { rel =>
      val files = fsRoot.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$rel"))
        .count(_.getPath.getName.endsWith(".parquet"))
      assert(files == 1, s"bucket $rel has $files files after one commit")
    }
    val hit = MergeInto.lookup(spark, dir, Seq(5L).toDF("k"))
    assert(hit.as[MergeRow].collect().toSeq == Seq(MergeRow(5L, "v5", 5.0)))
    // exactly one bucket dir scanned for a single key
    val scannedDirs = hit.inputFiles.map(f =>
      f.substring(0, f.lastIndexOf('/'))).toSet
    assert(scannedDirs.size == 1,
      s"1-key lookup scanned ${scannedDirs.size} dirs: $scannedDirs")
    // and the key predicate reaches the scan (row-group pruning inside
    // the key-sorted bucket file), rather than filtering post-scan
    val plan = hit.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*(EqualTo|In)\\(k".r
      .findFirstIn(plan).isDefined, plan.take(2000))
    // an absent key that hashes to an occupied bucket → empty, still
    // bucket-scoped; a multi-key lookup unions its buckets
    assert(MergeInto.lookup(spark, dir, Seq(999L).toDF("k")).count() == 0)
    val multi = MergeInto.lookup(spark, dir, Seq(5L, 17L, 40L).toDF("k"))
    assert(multi.select($"k").as[Long].collect().toSet == Set(5L, 17L, 40L))
  }

  test("fuzz: random merge sequences track an in-memory model, including the change feed") {
    fuzzMergeModel(seed = 20260813L)
  }

  test("fuzz on conditional-PUT semantics: the full model-based sequence holds on the object-store seam") {
    // the same randomized merge/compact/restore/sync/time-travel model
    // fuzz, with every manifest publish going through the S3-semantics
    // store — a different seed so the two runs cover different op mixes
    graft.sources.ManifestTable.storeOverride =
      Some(graft.sources.ConditionalPutStore)
    try fuzzMergeModel(seed = 77421L)
    finally graft.sources.ManifestTable.storeOverride = None
  }

  private def fuzzMergeModel(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = freshDir()
    val repDir = freshDir()
    val nB = 8
    var model: Map[Long, (String, Double)] =
      (1L to 20L).map(k => k -> (s"v$k", k * 1.0)).toMap
    var prevV = MergeInto.create(
      model.toSeq.map { case (k, (v, a)) => MergeRow(k, v, a) }.toDF(), dir,
      "k", nBuckets = nB)
    assert(table(dir) == model)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // version → model snapshot at that commit; every version on `dir` is
    // committed by this test, so every RETAINED version must time-travel
    // back to exactly its snapshot
    var snaps: Map[Long, Map[Long, (String, Double)]] = Map(prevV -> model)
    def readSnap(v: Long): Map[Long, (String, Double)] =
      ManifestTable.readVersion(spark, dir, v).as[MergeRow].collect()
        .map(r => r.k -> (r.v, r.amt)).toMap
    for (step <- 1 to 8) {
      // one random op per key over a keyspace wider than the table, so
      // steps mix updates, value-identical rewrites, inserts, deletes of
      // present keys and deletes of absent keys
      val ops: Map[Long, Either[Unit, (String, Double)]] =
        rnd.shuffle((1L to 40L).toList).take(1 + rnd.nextInt(12)).map { k =>
          if (rnd.nextBoolean()) k -> Left(())                       // delete
          else if (rnd.nextInt(4) == 0 && model.contains(k))
            k -> Right(model(k))                                     // identical rewrite
          else k -> Right((s"s$step-$k", rnd.nextInt(1000) * 1.0))   // upsert
        }.toMap
      val src = ops.toSeq.map {
        case (k, Left(()))        => MergeRow(k, "__DEL__", 0.0)
        case (k, Right((v, amt))) => MergeRow(k, v, amt)
      }.toDF()
      val newV = MergeInto.merge(src, dir, deleteWhen = $"v" === "__DEL__")
      val expected = ops.foldLeft(model) {
        case (m, (k, Left(())))   => m - k
        case (m, (k, Right(row))) => m + (k -> row)
      }
      assert(table(dir) == expected, s"step $step: table diverged from model")
      // the change feed between the two versions must be exactly the
      // model delta: old image out + new image in, value-identical
      // rewrites net to NOTHING (multiset cancellation)
      val feed = ManifestTable.changes(spark, dir, prevV, newV)
        .select($"change_type", $"k", $"v", $"amt")
        .as[(String, Long, String, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).toSet)
        .toMap.withDefaultValue(Set.empty)
      val expDeletes = model.toSeq.collect {
        case (k, (v, a)) if !expected.get(k).contains((v, a)) => (k, v, a) }.toSet
      val expInserts = expected.toSeq.collect {
        case (k, (v, a)) if !model.get(k).contains((v, a)) => (k, v, a) }.toSet
      assert(feed("delete") == expDeletes, s"step $step: delete feed wrong")
      assert(feed("insert") == expInserts, s"step $step: insert feed wrong")
      model = expected
      prevV = newV
      snaps += prevV -> model
      if (step % 3 == 0) {
        MergeInto.compact(spark, dir)
        assert(table(dir) == model, s"step $step: compaction changed the table")
        // compaction commits a new version only when it rewrote something;
        // re-anchor the feed base either way
        prevV = ManifestTable.versions(fs, dir).last
        snaps += prevV -> model
      }
      // restore occasionally: pick any retained version, make it live
      // again, and keep merging on top — history moves FORWARD (new head
      // > old head) and the table is exactly that version's snapshot
      if (step % 4 == 2) {
        val retained = ManifestTable.versions(fs, dir)
        val target = retained(rnd.nextInt(retained.size))
        val head = retained.last
        val rv = ManifestTable.restore(spark, dir, target)
        assert(rv > head, s"step $step: restore must commit forward")
        model = snaps(target)
        assert(table(dir) == model,
          s"step $step: restore of v$target diverged from its snapshot")
        prevV = rv
        snaps += rv -> model
      }
      // time-travel audit: EVERY retained version still reads as the
      // exact snapshot it committed (immutable dirs + manifest pinning),
      // and the history log lists exactly the retained versions
      val retainedNow = ManifestTable.versions(fs, dir)
      retainedNow.foreach { v =>
        assert(snaps.contains(v), s"step $step: untracked retained v$v")
        assert(readSnap(v) == snaps(v),
          s"step $step: time travel to v$v diverged from its snapshot")
      }
      assert(ManifestTable.history(spark, dir)
        .select($"version").as[Long].collect().toSeq.sorted == retainedNow,
        s"step $step: history log out of sync with retained versions")
      // sync a replica every other step: with retention 2 and merges +
      // compactions committing between syncs, the replica's recorded
      // version is sometimes retained (CDC-tail path) and sometimes
      // GC'd (full-diff fall-behind path) — both must converge on the
      // model exactly
      if (step % 2 == 0) {
        MergeInto.sync(spark, dir, repDir, nBuckets = 4)
        assert(table(repDir) == model, s"step $step: replica diverged from model")
      }
    }
  }

  /** 4 writers × 3 rounds, each updating ITS OWN key range concurrently.
    * Without conflict detection the last pointer would silently drop the
    * other writers' buckets; with commitIf every update must land.
    * Shared by the default-store race test and the conditional-PUT
    * (S3-semantics) store test. */
  private def raceDisjointWriters(): Unit = {
    val dir = freshDir()
    val base = (1L to 32L).map(k => MergeRow(k, "init", 0.0)).toDF()
    MergeInto.create(base, dir, "k", nBuckets = 8)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writers = (0 until 4).map { w =>
        Future {
          for (round <- 1 to 3) {
            val src = (1L to 8L).map(i => MergeRow(w * 8L + i, s"w$w-r$round",
              w * 100.0 + round)).toDF()
            MergeInto.merge(src, dir)
          }
        }
      }
      Await.result(Future.sequence(writers), 120.seconds)
    } finally pool.shutdown()
    val fin = table(dir)
    for (w <- 0 until 4; i <- 1L to 8L)
      assert(fin(w * 8L + i) == (s"w$w-r3", w * 100.0 + 3),
        s"writer $w key ${w * 8 + i} lost: ${fin(w * 8L + i)}")
  }

  test("racing merges on disjoint keys both land — optimistic commit, no lost updates") {
    raceDisjointWriters()
  }

  test("the commit protocol holds on conditional-PUT semantics — the object-store seam") {
    // Same races, but every publish goes through ConditionalPutStore:
    // the in-process model of S3's If-None-Match / GCS generation-0 /
    // Azure If-None-Match conditional PUT — no hard links, no O_EXCL,
    // no atomic-rename assumptions. Proves the protocol (commitIf,
    // rebase, GC, geometry pinning) needs only the put-if-absent
    // primitive object stores actually provide.
    graft.sources.ManifestTable.storeOverride =
      Some(graft.sources.ConditionalPutStore)
    try {
      raceDisjointWriters()
      // and the sequential life-cycle: create / merge / delete / time
      // travel / restore all through the conditional-PUT publish path
      val dir = freshDir()
      val v1 = MergeInto.create(
        (1L to 10L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF(),
        dir, "k", nBuckets = 4)
      MergeInto.merge(Seq(MergeRow(2L, "upd", 20.0), MergeRow(3L, "del", 0.0),
        MergeRow(11L, "ins", 11.0)).toDF(), dir, deleteWhen = $"v" === "del")
      val expected = (1L to 10L).filterNot(_ == 3L)
        .map(k => k -> (s"v$k", k * 1.0)).toMap +
        (2L -> ("upd", 20.0)) + (11L -> ("ins", 11.0))
      assert(table(dir) == expected)
      assert(ManifestTable.readVersion(spark, dir, v1).count() == 10L)
      val rv = ManifestTable.restore(spark, dir, v1)
      assert(rv > v1 && table(dir).size == 10)
    } finally graft.sources.ManifestTable.storeOverride = None
  }

  /** Deterministic interleave harness for the bucket-granular conflict
    * validation: writer A observes the table and writes its replacement
    * dir; exactly at A's first manifest publish attempt, a FULL second
    * merge (B) runs to completion through the same store, stealing the
    * version slot. A's publish fails; what happens next is the point:
    *  - B touched OTHER buckets → A re-commits the dir it already wrote
    *    (no re-read, no rewrite — 3 commit dirs on disk, not 4);
    *  - B touched A's bucket → true conflict, A falls back to the full
    *    rebase (re-read + rewrite — 4 dirs) and still linearizes after B.
    */
  private def runInterleaved(inner: graft.sources.ManifestStore,
                             overlap: Boolean): Unit = {
    val dir = freshDir()
    val n = 8
    MergeInto.create((1L to 32L).map(k => MergeRow(k, "init", 0.0)).toDF(),
      dir, "k", nBuckets = n)
    // key → bucket under the kernel's own router (never re-implemented)
    val b = (1L to 32L).toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(n)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bucketA = b(1L)
    val keysA = (1L to 32L).filter(k => b(k) == bucketA)
    val keysB =
      if (overlap) keysA
      else {
        val bucketB = b((1L to 32L).find(k => b(k) != bucketA).get)
        (1L to 32L).filter(k => b(k) == bucketB)
      }
    @volatile var fired = false
    val store: graft.sources.ManifestStore = new graft.sources.ManifestStore {
      def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                      target: org.apache.hadoop.fs.Path,
                      body: Array[Byte]): Boolean = {
        if (!fired && target.getName.startsWith("m-")) {
          fired = true
          MergeInto.merge(keysB.map(k => MergeRow(k, "B", 2.0)).toDF(), dir): Unit
        }
        inner.putIfAbsent(fs, target, body)
      }
    }
    graft.sources.ManifestTable.storeOverride = Some(store)
    val vA =
      try MergeInto.merge(keysA.map(k => MergeRow(k, "A", 1.0)).toDF(), dir)
      finally graft.sources.ManifestTable.storeOverride = None
    assert(fired, "interleave never fired")
    assert(vA == 3L, s"create=1, B=2, A must land at 3; got $vA")
    val fin = table(dir)
    keysA.foreach(k => assert(fin(k) == ("A", 1.0), s"key $k: ${fin(k)}"))
    if (!overlap) keysB.foreach(k => assert(fin(k) == ("B", 2.0), s"key $k: ${fin(k)}"))
    ((1L to 32L).toSet -- keysA -- keysB).foreach(k =>
      assert(fin(k) == ("init", 0.0), s"untouched key $k changed: ${fin(k)}"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).count(_.startsWith("c-"))
    assert(cDirs == (if (overlap) 4 else 3),
      s"expected ${if (overlap) "a rewrite (4 dirs)" else "NO rewrite (3 dirs)"}, got $cDirs")
  }

  test("disjoint-bucket merges commit without rebase-rewrite — on all three manifest stores") {
    Seq(graft.sources.PosixLinkStore, graft.sources.HdfsClaimStore,
      graft.sources.ConditionalPutStore)
      .foreach(s => runInterleaved(s, overlap = false))
  }

  test("overlapping-bucket merges still linearize: loser pays the full rebase after the winner") {
    runInterleaved(graft.sources.PosixLinkStore, overlap = true)
  }

  test("#meta survives merge, disjoint re-commit, and merge-compaction") {
    val dir = freshDir()
    MergeInto.create((1L to 8L).map(k => MergeRow(k, "a", 1.0)).toDF(),
      dir, "k", nBuckets = 4)
    ManifestTable.alterClusterBy(spark, dir, Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def meta = ManifestTable.metaOf(fs, dir,
      ManifestTable.versions(fs, dir).last)
    assert(meta.get("clusterBy").contains("k"))
    MergeInto.merge(Seq(MergeRow(1L, "b", 2.0)).toDF(), dir)
    assert(meta.get("clusterBy").contains("k"), "merge dropped #meta")
    MergeInto.compact(spark, dir)
    assert(meta.get("clusterBy").contains("k"), "compact dropped #meta")
  }

  test("racing initial creators with different geometries resolve to one pinned winner") {
    // Geometry markers are put-if-absent + read-back: two concurrent
    // create() calls with different nBuckets can never BOTH proceed —
    // the loser must fail loudly (previously both could pass a
    // check-then-act and the table's modulus disagreed with its layout,
    // stranding standing keys in unprobed buckets). Run under both the
    // default store and the conditional-PUT model.
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    for (store <- Seq(None, Some(graft.sources.ConditionalPutStore))) {
      graft.sources.ManifestTable.storeOverride = store
      try {
        val dir = freshDir()
        val pool = Executors.newFixedThreadPool(2)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val attempts =
          try {
            val fs = Seq(4, 8).map { n =>
              Future {
                try Right(MergeInto.create(
                  (1L to 12L).map(k => MergeRow(k, s"n$n-$k", k * 1.0)).toDF(),
                  dir, "k", nBuckets = n) -> n)
                catch { case e: IllegalArgumentException => Left(e) }
              }
            }
            Await.result(Future.sequence(fs), 120.seconds)
          } finally pool.shutdown()
        val wins = attempts.collect { case Right((_, n)) => n }
        assert(wins.size == 1, s"store=$store: expected exactly one winner, got $attempts")
        val pinned = ManifestTable.read(spark, dir) // readable under winner's geometry
        assert(pinned.count() == 12L)
        val winnerRows = table(dir)
        assert(winnerRows(1L)._1 == s"n${wins.head}-1",
          s"store=$store: table content is not the winner's")
      } finally graft.sources.ManifestTable.storeOverride = None
    }
  }

  test("restore re-points the live table at an old snapshot without rewriting data") {
    val dir = freshDir()
    val base = (1L to 10L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    val v1 = MergeInto.create(base, dir, "k", nBuckets = 4)
    val preMerge = table(dir)
    MergeInto.merge(Seq(MergeRow(2L, "bad", -1.0)).toDF(), dir)
    assert(table(dir) != preMerge)
    // restore: the bad merge is abandoned by a forward commit
    val v3 = ManifestTable.restore(spark, dir, v1)
    assert(v3 == 3L)
    assert(table(dir) == preMerge, "restore did not reproduce the snapshot")
    // history is append-only: three versions... minus GC (retain 2)
    val hist = ManifestTable.history(spark, dir)
      .select($"version", $"n_paths").as[(Long, Int)].collect().toMap
    assert(hist.keySet.max == v3 && hist.contains(v3))
    // the restored table keeps merging normally
    MergeInto.merge(Seq(MergeRow(11L, "after", 11.0)).toDF(), dir)
    assert(table(dir) == preMerge + (11L -> ("after", 11.0)))
  }

  test("replication loop: snapshot create + CDC tail reproduces the source table") {
    val srcDir = freshDir()
    val repDir = freshDir()
    val base = (1L to 24L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF()
    val v1 = MergeInto.create(base, srcDir, "k", nBuckets = 4)
    // replica initial sync from the v1 snapshot (different bucket count
    // on purpose — replication is logical, not physical)
    MergeInto.create(ManifestTable.readVersion(spark, srcDir, v1),
      repDir, "k", nBuckets = 8)
    // source evolves: update k=2, delete k=3, insert k=25
    val src = Seq(MergeRow(2L, "upd", 200.0), MergeRow(3L, "del", 0.0),
      MergeRow(25L, "ins", 25.0)).toDF()
    val v2 = MergeInto.merge(src, srcDir, deleteWhen = $"v" === "del")
    // tail: apply the change feed to the replica
    val feed = ManifestTable.changes(spark, srcDir, v1, v2)
    MergeInto.replicate(feed, repDir)
    def snap(dir: String) = table(dir)
    assert(snap(repDir) == snap(srcDir), "replica diverged from source")
    // the routing column must not leak into the replica's schema
    assert(MergeInto.read(spark, repDir).columns.toSet == Set("k", "v", "amt"))
    // at-least-once delivery: re-applying the feed is a no-op
    MergeInto.replicate(feed, repDir)
    assert(snap(repDir) == snap(srcDir), "re-applied feed changed the replica")
  }

  test("compaction racing merges never rolls one back — conditional rewrite commit") {
    val dir = freshDir()
    val base = (1L to 32L).map(k => MergeRow(k, "init", 0.0)).toDF()
    MergeInto.create(base, dir, "k", nBuckets = 8)
    // One writer lands 6 sequential merges while the main thread
    // compacts continuously. Each compaction that loses the race must
    // REBASE (re-read the new head and rewrite) — the old unconditional
    // commit would publish the pre-merge snapshot and silently roll the
    // racing merge back, which this asserts can no longer happen.
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val merger = Future {
        for (round <- 1 to 6) {
          val src = (1L to 4L).map(i =>
            MergeRow(i, s"r$round", round.toDouble)).toDF()
          MergeInto.merge(src, dir)
        }
      }
      var spins = 0
      while (!merger.isCompleted && spins < 40) {
        MergeInto.compact(spark, dir)
        spins += 1
      }
      Await.result(merger, 180.seconds)
    } finally pool.shutdown()
    val fin = table(dir)
    for (i <- 1L to 4L)
      assert(fin(i) == ("r6", 6.0), s"merge of key $i rolled back: ${fin(i)}")
    for (i <- 5L to 32L)
      assert(fin(i) == ("init", 0.0), s"untouched key $i corrupted: ${fin(i)}")
  }

  test("sync drives a replica to the source head: snapshot, tail, and fall-behind re-sync") {
    val srcDir = freshDir()
    val repDir = freshDir()
    MergeInto.create((1L to 16L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF(),
      srcDir, "k", nBuckets = 4)
    // first call = initial snapshot sync (different geometry on purpose)
    val v1 = MergeInto.sync(spark, srcDir, repDir, nBuckets = 8)
    assert(v1 == 1L && table(repDir) == table(srcDir))
    // at head = no-op
    assert(MergeInto.sync(spark, srcDir, repDir) == v1)
    // one merge, then sync: the CDC-tail path (synced version retained)
    MergeInto.merge(Seq(MergeRow(2L, "upd", 200.0), MergeRow(17L, "ins", 17.0)).toDF(),
      srcDir)
    assert(MergeInto.sync(spark, srcDir, repDir) == 2L)
    assert(table(repDir) == table(srcDir), "CDC tail diverged")
    // crash between apply and marker advance = re-applying the same
    // feed; modelled by replaying sync at an unchanged head
    assert(MergeInto.sync(spark, srcDir, repDir) == 2L)
    assert(table(repDir) == table(srcDir))
    // fall off retention: three merges land without a sync, GC'ing the
    // replica's synced version at the source → full logical re-sync
    MergeInto.merge(Seq(MergeRow(3L, "del", 0.0)).toDF(), srcDir,
      deleteWhen = $"v" === "del")
    for (r <- 1 to 2)
      MergeInto.merge(Seq(MergeRow(1L, s"r$r", r.toDouble)).toDF(), srcDir)
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!ManifestTable.versions(fs, srcDir).contains(2L),
      "fixture: the synced version must have been GC'd to exercise the fallback")
    MergeInto.sync(spark, srcDir, repDir)
    assert(table(repDir) == table(srcDir), "fall-behind re-sync diverged")
    assert(!table(repDir).contains(3L), "delete did not replicate")
  }

  test("time-based retention keeps young versions past the generation count") {
    val dir = freshDir()
    MergeInto.create(Seq(MergeRow(1L, "a", 1.0)).toDF(), dir, "k", nBuckets = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestTable.minRetainMs = 60 * 60 * 1000L // reader SLA: 1h
    try {
      for (r <- 2 to 4)
        MergeInto.merge(Seq(MergeRow(1L, s"r$r", r.toDouble)).toDF(), dir)
      // generation retention alone would keep 2; the 1h window keeps all
      assert(ManifestTable.versions(fs, dir) == (1L to 4L),
        "a version inside the time window was GC'd")
      // every retained version still time-travels exactly
      assert(ManifestTable.readVersion(spark, dir, 1L)
        .as[MergeRow].collect().head.v == "a")
    } finally ManifestTable.minRetainMs = 0L
    // window off: the next commit's GC prunes back to the generation count
    MergeInto.merge(Seq(MergeRow(1L, "r5", 5.0)).toDF(), dir)
    assert(ManifestTable.versions(fs, dir) == Seq(4L, 5L),
      "generation-only retention did not resume")
  }

  test("X9 upsert is the merge kernel: event-time tie order preserved through delegation") {
    // the kernel change must not alter X9 semantics — latest ts wins
    // even when the default (sorted-columns) order would pick otherwise
    val dir = freshDir()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    val b = Seq(
      (1L, t1, 7L, "aaa", 1.0), // newer ts, alphabetically-smaller type
      (1L, t0, 7L, "zzz", 9.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    streaming.Streams.upsertBatch(b, dir, nBuckets = 4)
    val kept = streaming.Streams.readUpserted(spark, dir)
      .select($"event_type").as[String].collect().toSeq
    assert(kept == Seq("aaa"), "ts-first tie order lost in delegation")
  }

  test("snapshot-gone classifier matches Spark's real missing-path failures") {
    // the rebase loops catch "my observed snapshot was GC'd mid-read";
    // on Spark 4 a missing path fails at PLANNING time with
    // AnalysisException [PATH_NOT_FOUND] (no FileNotFoundException
    // cause), so pin the classifier against the real throw — a Spark
    // upgrade changing the shape must fail here, not wedge the loop
    val missing = freshDir() + "/definitely/not/there"
    val e = intercept[Exception] { spark.read.parquet(missing).collect() }
    assert(MergeInto.snapshotGone(e),
      s"classifier missed Spark's missing-path failure: ${e.getClass} ${e.getMessage}")
    // task-time file loss surfaces as an FNF cause chain
    val wrapped = new org.apache.spark.SparkException("stage failed",
      new RuntimeException(new java.io.FileNotFoundException("gone")))
    assert(MergeInto.snapshotGone(wrapped))
    // arbitrary failures must NOT be swallowed as rebases
    assert(!MergeInto.snapshotGone(new IllegalStateException("boom")))
  }

  test("a dead claim slot is broken after the grace window; live and published slots are not") {
    // HDFS-path protocol: a writer crashing between claim and rename
    // leaves m-(head+1).claim forever; commitIf never bumps past its
    // base+1 slot, so without stale-claim breaking every optimistic
    // merge at that base would wedge permanently
    val dir = freshDir()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(dir, "m-000000000002.claim")
    val target = new org.apache.hadoop.fs.Path(dir, "m-000000000002")
    fs.create(claim, true).close()
    // young claim = a live racer mid-publish: must NOT be broken
    assert(!ManifestTable.breakStaleClaim(fs, claim, target))
    assert(fs.exists(claim), "live claim was broken")
    // aged past grace with no published manifest = dead slot: broken
    ageTree(fs, claim, 24L * 3600 * 1000)
    assert(ManifestTable.breakStaleClaim(fs, claim, target))
    assert(!fs.exists(claim), "dead claim not removed")
    // aged but its manifest DID publish: the slot is simply taken
    fs.create(claim, true).close()
    fs.create(target, true).close()
    ageTree(fs, claim, 24L * 3600 * 1000)
    assert(!ManifestTable.breakStaleClaim(fs, claim, target))
  }

  test("an orphan with fresh task output survives GC even when its top dir mtime is stale") {
    // a long parquet write updates mtimes under _temporary/ but never
    // the commit dir itself — orphan age must clock from the NEWEST
    // mtime in the tree or an in-flight write gets swept mid-job
    val dir = freshDir()
    MergeInto.create(Seq(MergeRow(1L, "a", 1.0)).toDF(), dir, "k", nBuckets = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inflight = new org.apache.hadoop.fs.Path(s"$dir/c-inflight/_temporary/0")
    fs.mkdirs(inflight)
    val part = fs.create(new org.apache.hadoop.fs.Path(inflight, "task_0"), true)
    try part.write(Array[Byte](1)) finally part.close()
    // stale TOP dir (job started long ago), fresh task file (still writing)
    val old = System.currentTimeMillis() - 24L * 3600 * 1000
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$dir/c-inflight"), old, -1)
    MergeInto.merge(Seq(MergeRow(2L, "b", 2.0)).toDF(), dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/c-inflight")),
      "GC swept an in-flight write whose task output was fresh")
    // once the WHOLE tree is aged it is a crashed writer's leavings
    ageTree(fs, new org.apache.hadoop.fs.Path(s"$dir/c-inflight"),
      24L * 3600 * 1000)
    MergeInto.merge(Seq(MergeRow(3L, "c", 3.0)).toDF(), dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/c-inflight")),
      "aged crashed-writer dir not swept")
  }

  test("diffFeed matches the exceptAll reference on random multisets with nulls") {
    // diffFeed backs BOTH the CDC feed and the replica re-sync; its
    // contract is exceptAll equivalence — duplicates diff by COUNT,
    // nulls compare EQUAL. Randomized frames with heavy duplication and
    // null keys/values pin that against Spark's own exceptAll.
    val rnd = new scala.util.Random(424242L)
    def randFrame() = {
      val rows = Seq.fill(30 + rnd.nextInt(40)) {
        // tiny domains force duplicates; ~1 in 5 values null
        (if (rnd.nextInt(5) == 0) null.asInstanceOf[java.lang.Long]
         else java.lang.Long.valueOf(rnd.nextInt(4).toLong),
         if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(3)}")
      }
      rows.toDF("k", "v")
    }
    def bag(df: org.apache.spark.sql.DataFrame): Map[(Any, Any), Int] =
      df.collect().toSeq.groupBy(r => (r.get(0), r.get(1)))
        .view.mapValues(_.size).toMap
    for (trial <- 1 to 10) {
      val older = randFrame()
      val newer = randFrame()
      val feed = ManifestTable.diffFeed(older, newer).cache()
      try {
        val ins = feed.filter($"change_type" === "insert").select($"k", $"v")
        val del = feed.filter($"change_type" === "delete").select($"k", $"v")
        assert(bag(ins) == bag(newer.exceptAll(older)),
          s"trial $trial: insert side diverged from exceptAll")
        assert(bag(del) == bag(older.exceptAll(newer)),
          s"trial $trial: delete side diverged from exceptAll")
      } finally feed.unpersist()
    }
  }

  /** The bucket a key routes to under the kernel's own hash expression —
    * used to steer fixture keys into occupied vs empty buckets. */
  private def bucketOf(k: Long, n: Int): Int =
    Seq(k).toDF("k").select(pmod(hash($"k"), lit(n)).as("b")).as[Int].head()

  test("schema evolution guards: widening evolves, narrower casts up, incompatible fails loudly") {
    // (a) WIDENING: int column merged with long → declared type evolves.
    // The long key is steered into a DIFFERENT bucket than the int row,
    // so the old dir keeps its int32 footers and the post-evolution read
    // exercises Spark's reader-side type widening across untouched dirs
    // — the exact situation a widening commit creates at scale.
    val dirW = freshDir()
    val wKey = (2L to 100L).find(k => bucketOf(k, 8) != bucketOf(1L, 8)).get
    MergeInto.create(Seq((1L, 5)).toDF("k", "n"), dirW, "k", nBuckets = 8)
    MergeInto.merge(Seq((wKey, 7L)).toDF("k", "n"), dirW)
    val fsW = new org.apache.hadoop.fs.Path(dirW)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ddlW = ManifestTable.schemaOf(fsW, dirW,
      ManifestTable.versions(fsW, dirW).last).get
    assert(org.apache.spark.sql.types.StructType.fromDDL(ddlW)("n").dataType ==
      org.apache.spark.sql.types.LongType, s"widening did not evolve: $ddlW")
    assert(MergeInto.read(spark, dirW).as[(Long, Long)].collect().toSet ==
      Set((1L, 5L), (wKey, 7L)),
      "reader-side widening failed across the untouched int32 dir")

    // (b) NARROWER source via the empty-standing-bucket path (the path
    // with no union coercion to save it): declared type must stay
    // double and the committed files must carry doubles, not the
    // source's ints — otherwise untouched dirs' readers break
    val dir = freshDir()
    val nB = 64 // sparse: most buckets empty, so a fresh key lands alone
    MergeInto.create(Seq(MergeRow(1L, "v1", 1.0)).toDF(), dir, "k", nBuckets = nB)
    val freshKey = (2L to 200L).find(k => bucketOf(k, nB) != bucketOf(1L, nB)).get
    MergeInto.merge(Seq((freshKey, "narrow", 42)).toDF("k", "v", "amt"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ddl = ManifestTable.schemaOf(fs, dir,
      ManifestTable.versions(fs, dir).last).get
    assert(org.apache.spark.sql.types.StructType.fromDDL(ddl)("amt").dataType ==
      org.apache.spark.sql.types.DoubleType,
      s"narrower source narrowed the declared schema: $ddl")
    assert(table(dir) == Map(1L -> ("v1", 1.0), freshKey -> ("narrow", 42.0)))

    // (c) INCOMPATIBLE: a source that turns amt into a string must fail
    // the merge loudly and leave the table untouched — committing that
    // DDL would break every subsequent read of the untouched dirs.
    // Through the same empty-bucket path (no union to reject it first).
    val before = table(dir)
    val badKey = (freshKey + 1 to 400L).find(k =>
      bucketOf(k, nB) != bucketOf(1L, nB) && bucketOf(k, nB) != bucketOf(freshKey, nB)).get
    val e = intercept[IllegalArgumentException] {
      MergeInto.merge(Seq((badKey, "bad", "not-a-number")).toDF("k", "v", "amt"), dir)
    }
    assert(e.getMessage.contains("incompatible type change"),
      s"wrong failure: ${e.getMessage}")
    assert(table(dir) == before, "failed merge mutated the table")

    // (d) int → double evolution also reads back across the untouched
    // int32 dir — the other reader-side widening the policy sanctions
    val dirD = freshDir()
    MergeInto.create(Seq((1L, 5)).toDF("k", "n"), dirD, "k", nBuckets = 8)
    MergeInto.merge(Seq((wKey, 7.5)).toDF("k", "n"), dirD)
    assert(MergeInto.read(spark, dirD).as[(Long, Double)].collect().toSet ==
      Set((1L, 5.0), (wKey, 7.5)),
      "reader-side int32->double widening failed across the untouched dir")
  }

  test("slow-reader fuzz: a stalled snapshot scan completes exactly or fails with the snapshot-gone signature") {
    // The GC contract for readers (VERDICT r8 item 5): a reader that
    // resolves version v, stalls past `retain` commits, then scans,
    // must EITHER complete with exactly v's rows (its dirs were still
    // retained/referenced) OR fail with the snapshot-gone signature —
    // never silently return wrong or partial rows. Dirs are immutable,
    // so the only failure mode is absence, which surfaces as
    // FNF/PATH_NOT_FOUND; randomized merge/compact mixes probe both
    // branches (compaction re-points every bucket, so it is what
    // actually unreferences the old dirs).
    val rnd = new scala.util.Random(99173L)
    var completed, failed = 0
    for (round <- 1 to 5) {
      val dir = freshDir()
      val frozen = (1L to 12L).map(k => k -> (s"v$k", k * 1.0)).toMap
      val v1 = MergeInto.create(
        frozen.toSeq.map { case (k, (v, a)) => MergeRow(k, v, a) }.toDF(),
        dir, "k", nBuckets = 4)
      val snap = ManifestTable.readVersion(spark, dir, v1) // resolve, then stall
      val nOps = 1 + rnd.nextInt(4)
      for (i <- 1 to nOps) {
        val k = 1L + rnd.nextInt(14)
        MergeInto.merge(Seq(MergeRow(k, s"r$round-$i", i.toDouble)).toDF(), dir)
        if (rnd.nextBoolean()) MergeInto.compact(spark, dir)
      }
      try {
        val got = snap.as[MergeRow].collect().map(r => r.k -> (r.v, r.amt)).toMap
        assert(got == frozen,
          s"round $round: stalled reader saw WRONG rows — must be exact or loud")
        completed += 1
      } catch {
        case e: Exception =>
          assert(MergeInto.snapshotGone(e),
            s"round $round: stalled reader failed without the snapshot-gone signature: $e")
          failed += 1
      }
    }
    // the seed is chosen so the fuzz exercises BOTH branches
    assert(completed > 0 && failed > 0,
      s"fuzz did not cover both branches: completed=$completed failed=$failed")
  }

  test("sync races a continuously-committing source: every pass converges on a real version") {
    // The replication consumer's contract is "catch up from whatever
    // state" — here the source lands 8 merges (GC'ing versions under
    // the replica's feet, retention 2) while the main thread sync()s
    // continuously. Each sync must return a version the source REALLY
    // committed, with the replica exactly equal to that version's
    // snapshot-by-model; the final sync (after the writer stops) must
    // converge on the final model. Exercises the retained-tail path,
    // the fall-behind full-diff path and the retention-race retry loop
    // under true concurrency, not just the staged sequence.
    val srcDir = freshDir()
    val repDir = freshDir()
    var model: Map[Long, (String, Double)] =
      (1L to 16L).map(k => k -> (s"v$k", k * 1.0)).toMap
    MergeInto.create(
      model.toSeq.map { case (k, (v, a)) => MergeRow(k, v, a) }.toDF(),
      srcDir, "k", nBuckets = 4)
    // version → model snapshot, grown by the writer thread; volatile
    // via synchronization on the map itself
    val snaps = new java.util.concurrent.ConcurrentHashMap[Long, Map[Long, (String, Double)]]()
    snaps.put(1L, model)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writer = Future {
      for (step <- 1 to 8) {
        val k = (step % 20 + 1).toLong
        val src = Seq(MergeRow(k, s"w$step", step.toDouble)).toDF()
        val v = MergeInto.merge(src, srcDir)
        model = model + (k -> (s"w$step", step.toDouble))
        snaps.put(v, model)
      }
    }
    try {
      var spins = 0
      while (!writer.isCompleted && spins < 30) {
        val v = MergeInto.sync(spark, srcDir, repDir, nBuckets = 8)
        // the writer records a version's model AFTER its commit lands,
        // so a freshly-committed head may not be in `snaps` yet — skip
        // that spin (the final convergence assert still gates the test)
        val snap = snaps.get(v)
        if (snap != null)
          assert(table(repDir) == snap,
            s"replica at synced version $v diverged from that version's model")
        spins += 1
      }
      Await.result(writer, 180.seconds)
    } finally pool.shutdown()
    val vFinal = MergeInto.sync(spark, srcDir, repDir)
    assert(table(repDir) == model, "final sync did not converge on the model")
    assert(snaps.get(vFinal) == model)
  }

  test("lookup bounds its key-set collect and fails loudly past maxKeys") {
    val dir = freshDir()
    MergeInto.create((1L to 50L).map(k => MergeRow(k, s"v$k", k * 1.0)).toDF(),
      dir, "k", nBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      MergeInto.lookup(spark, dir, (1L to 20L).toDF("k"), maxKeys = 10)
    }
    assert(e.getMessage.contains("more than 10"), s"wrong failure: ${e.getMessage}")
    // within the bound the lookup stays exact
    assert(MergeInto.lookup(spark, dir, (1L to 10L).toDF("k"), maxKeys = 10)
      .count() == 10L)
  }

  test("append table: stats recorded per commit dir, rangeScan prunes to the matching dirs only") {
    val dir = freshDir()
    // three "daily" batches with disjoint amt ranges, one without stats
    val b1 = (1L to 10L).map(k => MergeRow(k, "d1", k * 1.0)).toDF()
    val b2 = (11L to 20L).map(k => MergeRow(k, "d2", k * 1.0)).toDF()
    val b3 = (21L to 30L).map(k => MergeRow(k, "d3", k * 1.0)).toDF()
    val v1 = ManifestTable.append(b1, dir, statsCols = Seq("amt"))
    val v2 = ManifestTable.append(b2, dir, statsCols = Seq("amt"))
    assert(v1 == 1L && v2 == 2L)
    val v3 = ManifestTable.append(b3, dir) // NO stats → never pruned
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // full read sees every batch; stats cover exactly the two stats'd dirs
    assert(ManifestTable.read(spark, dir).count() == 30L)
    val stats = ManifestTable.statsOf(fs, dir, v3)
    assert(stats.size == 2, s"expected stats on 2 of 3 dirs, got $stats")
    // a scan inside b2's range opens b2's dir and the stats-less b3 dir
    // (conservative), but NEVER b1's — manifest-level pruning, no I/O
    val hit = ManifestTable.rangeScan(spark, dir, "amt", "12", "15.5")
    assert(hit.as[MergeRow].collect().map(_.k).sorted.toSeq == (12L to 15L))
    val scannedDirs = scannedFiles(hit).map(f =>
      f.split("/").dropRight(1).last).toSet
    val prunedDir = ManifestTable.pathsOf(fs, dir, v3)
      .filter(stats.contains).filter(p =>
        ManifestTable.statsFor(stats(p), "amt").exists(_._3.contains("10.0")))
    assert(prunedDir.nonEmpty && prunedDir.forall(p => !scannedDirs.contains(p)),
      s"b1's dir $prunedDir must be pruned, scanned=$scannedDirs")
    assert(scannedDirs.size == 2, s"expected b2 + stats-less b3, got $scannedDirs")
    // pruning is an optimization, not a correctness dependency: the
    // result equals the unpruned filter
    assert(hit.count() ==
      ManifestTable.read(spark, dir).filter($"amt" >= 12 && $"amt" <= 15.5).count())
    // a range matching nothing returns empty with the table schema
    assert(ManifestTable.rangeScan(spark, dir, "amt", "999", "1000").count() == 0L)
    // string column stats: URL-encoding round-trips awkward values
    val dirS = freshDir()
    ManifestTable.append(Seq(MergeRow(1L, "a\tb%x", 1.0)).toDF(), dirS,
      statsCols = Seq("v"))
    val sS = ManifestTable.statsOf(fs, dirS, 1L)
    assert(ManifestTable.statsFor(sS.values.head, "v")
      .exists(s => s._2.contains("a\tb%x") && s._3.contains("a\tb%x")))
  }

  test("append table: all-null stats prune, racing appends both land, schema drift fails loudly") {
    val dir = freshDir()
    ManifestTable.append((1L to 5L).map(k => MergeRow(k, "x", k * 1.0)).toDF(),
      dir, statsCols = Seq("v"))
    // a batch whose stats column is ALL null: BETWEEN can never match
    // it, so its dir is pruned outright
    val nulls = Seq((6L, null.asInstanceOf[String], 6.0)).toDF("k", "v", "amt")
    ManifestTable.append(nulls, dir, statsCols = Seq("v"))
    val scan = ManifestTable.rangeScan(spark, dir, "v", "a", "z")
    assert(scan.count() == 5L)
    assert(scannedFiles(scan).map(_.split("/").dropRight(1).last).toSet.size == 1,
      "the all-null dir must be pruned at the manifest, not just filtered")
    // two concurrent appends: optimistic rebase means BOTH batches land
    val dir2 = freshDir()
    val t1 = new Thread(() => ManifestTable.append(
      (1L to 10L).map(k => MergeRow(k, "t1", 1.0)).toDF(), dir2, Seq("amt")))
    val t2 = new Thread(() => ManifestTable.append(
      (11L to 20L).map(k => MergeRow(k, "t2", 2.0)).toDF(), dir2, Seq("amt")))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(ManifestTable.read(spark, dir2).count() == 20L,
      "a racing append was lost — commitIf rebase must retry, not clobber")
    // append tables are fixed-schema: a drifted frame fails loudly
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(Seq((1L, 2L)).toDF("k", "other"), dir2, Seq.empty)
    }
    assert(e.getMessage.contains("fixed-schema"), s"wrong failure: ${e.getMessage}")
    // ...but nullability is NOT schema drift: a batch whose column went
    // nullable appends fine, and the declared schema relaxes to match
    val relaxedBatch = (21L to 25L).map(k => MergeRow(k, "n", k * 1.0)).toDF()
      .withColumn("amt", when($"k" =!= 23L, $"amt")) // nullable amt, null at 23
    ManifestTable.append(relaxedBatch, dir2, Seq("amt"))
    assert(ManifestTable.read(spark, dir2).count() == 25L)
    val fs2 = new org.apache.hadoop.fs.Path(dir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head2 = ManifestTable.versions(fs2, dir2).last
    val declared = org.apache.spark.sql.types.StructType.fromDDL(
      ManifestTable.schemaOf(fs2, dir2, head2).get)
    assert(declared("amt").nullable, "declared schema must relax to nullable")
    assert(ManifestTable.read(spark, dir2)
      .filter($"amt".isNull).count() == 1L)
  }

  test("fuzz: random append/compact/restore sequences track a multiset model, rangeScan always exact") {
    fuzzAppendModel(seed = 20260813L)
  }

  test("append fuzz on conditional-PUT semantics: the sequence holds on the object-store seam") {
    // different seed → different op mix through the S3-semantics store
    graft.sources.ManifestTable.storeOverride =
      Some(graft.sources.ConditionalPutStore)
    try fuzzAppendModel(seed = 99173L)
    finally graft.sources.ManifestTable.storeOverride = None
  }

  private def fuzzAppendModel(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = freshDir()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var model = Vector.empty[MergeRow]
    var snaps = Map.empty[Long, Vector[MergeRow]]
    var clones = Vector.empty[(String, Vector[MergeRow])]
    def sortedM(v: Seq[MergeRow]) = v.sortBy(r => (r.k, r.v, r.amt))
    def tableRows: Seq[MergeRow] =
      ManifestTable.read(spark, dir).as[MergeRow].collect().toSeq
    for (step <- 1 to 10) {
      // batches overlap in amt, occasionally empty, occasionally
      // stats-less — the conservative path must coexist with pruning
      val batch =
        if (rnd.nextInt(8) == 0) Seq.empty[MergeRow]
        else (1 to 1 + rnd.nextInt(10)).map(i =>
          MergeRow(rnd.nextInt(50).toLong, s"s$step-$i",
            rnd.nextInt(1000) / 10.0))
      val prevV = ManifestTable.versions(fs, dir).lastOption
      val v = ManifestTable.append(batch.toDF(), dir,
        if (rnd.nextInt(4) == 0) Seq.empty else Seq("amt"))
      model = model ++ batch
      snaps += v -> model
      assert(sortedM(tableRows) == sortedM(model), s"step $step: table diverged")
      // the change feed across an append is exactly the batch — all
      // inserts, no deletes (works on append tables unmodified because
      // the diff is path-set + multiset based)
      prevV.filter(p => ManifestTable.versions(fs, dir).contains(p)).foreach { p =>
        val feed = ManifestTable.changes(spark, dir, p, v)
          .select($"change_type", $"k", $"v", $"amt")
          .as[(String, Long, String, Double)].collect()
        assert(feed.forall(_._1 == "insert"), s"step $step: append feed had deletes")
        assert(sortedM(feed.map(r => MergeRow(r._2, r._3, r._4))) == sortedM(batch),
          s"step $step: append feed != batch")
      }
      // random range scans must equal the model filter exactly —
      // pruning that drops a matching row shows up here
      for (_ <- 1 to 2) {
        val a = rnd.nextInt(1000) / 10.0
        val b = a + rnd.nextInt(400) / 10.0
        val got = ManifestTable
          .rangeScan(spark, dir, "amt", a.toString, b.toString)
          .as[MergeRow].collect().toSeq
        val want = model.filter(r => r.amt >= a && r.amt <= b)
        assert(sortedM(got) == sortedM(want), s"step $step: rangeScan [$a,$b] wrong")
      }
      // row-level DELETE with a genuine bounds envelope: pruning may
      // only change WHICH dirs are rewritten, never which rows die
      if (step % 3 == 2 && model.nonEmpty) {
        val a = rnd.nextInt(1000) / 10.0
        val b = a + rnd.nextInt(300) / 10.0
        val dv = ManifestTable.deleteWhere(spark, dir,
          $"amt" >= a && $"amt" <= b,
          bounds = Map("amt" -> (a.toString, b.toString)))
        model = model.filterNot(r => r.amt >= a && r.amt <= b)
        snaps += dv -> model
        assert(sortedM(tableRows) == sortedM(model),
          s"step $step: deleteWhere [$a,$b] diverged")
      }
      // row-level UPDATE on a column the stats do NOT cover (k): no
      // pruning, full rewrite — values must transform exactly and the
      // recomputed amt stats must keep later rangeScans exact
      if (step % 5 == 1 && model.nonEmpty) {
        val lo = rnd.nextInt(40).toLong
        val hi = lo + rnd.nextInt(10).toLong
        val uv = ManifestTable.updateWhere(spark, dir,
          $"k" >= lo && $"k" <= hi,
          Seq("v" -> concat($"v", lit("+"))))
        model = model.map(r =>
          if (r.k >= lo && r.k <= hi) r.copy(v = r.v + "+") else r)
        snaps += uv -> model
        assert(sortedM(tableRows) == sortedM(model),
          s"step $step: updateWhere k∈[$lo,$hi] diverged")
      }
      if (step % 4 == 0) {
        val pre = ManifestTable.versions(fs, dir).last
        ManifestTable.compactAppend(spark, dir, Seq("amt"), k = 1 + rnd.nextInt(4))
        assert(sortedM(tableRows) == sortedM(model),
          s"step $step: compaction changed the table")
        val post = ManifestTable.versions(fs, dir).last
        snaps += post -> model
        // a pure compaction is row-invisible: every old-dir row cancels
        // against a new-dir row in the multiset diff → EMPTY change feed
        if (ManifestTable.versions(fs, dir).contains(pre))
          assert(ManifestTable.changes(spark, dir, pre, post).isEmpty,
            s"step $step: compaction leaked into the change feed")
      }
      if (step % 5 == 3) {
        val retained = ManifestTable.versions(fs, dir).filter(snaps.contains)
        val target = retained(rnd.nextInt(retained.size))
        val rv = ManifestTable.restore(spark, dir, target)
        model = snaps(target)
        snaps += rv -> model
        assert(sortedM(tableRows) == sortedM(model),
          s"step $step: restore of v$target diverged (stats must carry through)")
      }
      // shallow clone mid-sequence: the clone tracks its OWN model from
      // the cut point — compacted immediately into self-containment
      // (this fuzz's retain-2 source GC would otherwise sweep referenced
      // dirs, the documented caveat), then independently mutated; no
      // leak in either direction, re-checked again at fuzz end
      if (step % 7 == 6 && model.nonEmpty) {
        val cdir = freshDir()
        ManifestTable.shallowClone(spark, dir, cdir, retainGenerations = 10)
        ManifestTable.compactAppend(spark, cdir, Seq("amt"), k = 2)
        def cloneRows = ManifestTable.read(spark, cdir)
          .as[MergeRow].collect().toSeq
        assert(sortedM(cloneRows) == sortedM(model),
          s"step $step: clone != source at the cut")
        val cut = rnd.nextInt(1000) / 10.0
        ManifestTable.deleteWhere(spark, cdir, $"amt" < cut,
          Map("amt" -> ("-1.0", cut.toString)))
        val cmodel = model.filterNot(_.amt < cut)
        assert(sortedM(cloneRows) == sortedM(cmodel),
          s"step $step: clone delete diverged")
        clones = clones :+ (cdir -> cmodel)
        assert(sortedM(tableRows) == sortedM(model),
          s"step $step: clone ops leaked into the source")
      }
    }
    clones.foreach { case (cdir, cm) =>
      assert(sortedM(ManifestTable.read(spark, cdir).as[MergeRow].collect().toSeq)
        == sortedM(cm), s"source ops leaked into clone $cdir")
    }
  }

  test("multi-column rangeScan prunes on the conjunction — either dimension alone rules a dir out") {
    val dir = freshDir()
    def batch(ks: Range, amts: Range, tag: String) =
      ks.zip(amts).map { case (k, a) => MergeRow(k.toLong, tag, a.toDouble) }.toDF()
    ManifestTable.append(batch(1 to 10, 1 to 10, "A"), dir, Seq("k", "amt"))
    ManifestTable.append(batch(1 to 10, 11 to 20, "B"), dir, Seq("k", "amt"))
    ManifestTable.append(batch(11 to 20, 1 to 10, "C"), dir, Seq("k", "amt"))
    // k∈[1,10] ∧ amt∈[1,10]: B fails the amt interval, C fails the k
    // interval — only A's dir survives the conjunctive prune
    val hit = ManifestTable.rangeScan(spark, dir,
      Map("k" -> ("1", "10"), "amt" -> ("1", "10")))
    assert(hit.as[MergeRow].collect().forall(_.v == "A"))
    assert(hit.count() == 10L)
    assert(scannedFiles(hit).map(_.split("/").dropRight(1).last).toSet.size == 1,
      "conjunctive pruning must open exactly one dir")
    // single-column form unchanged: amt alone keeps A and C
    val one = ManifestTable.rangeScan(spark, dir, "amt", "1", "10")
    assert(scannedFiles(one).map(_.split("/").dropRight(1).last).toSet.size == 2)
    assert(one.count() == 20L)
  }

  test("partition evolution: alterClusterBy + compactAppend re-cluster; pruning sharpens on the new dimension") {
    val dir = freshDir()
    // 4 ingest batches, each spanning ALL k but a narrow amt slice —
    // the ARRIVAL layout prunes on amt and is useless for k
    for (b <- 0 until 4) {
      val rows = (0L to 15L).map(k => (k, b * 100.0 + k))
      ManifestTable.append(rows.toDF("k", "amt"), dir,
        statsCols = Seq("amt", "k"), retainGenerations = 3)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def prunedCount(bounds: Map[String, (String, String)]): Int = {
      val v = ManifestTable.versions(fs, dir).last
      ManifestTable.prunePaths(fs, dir, v, bounds,
        ManifestTable.declaredSchemaOf(spark, dir, v).get).size
    }
    def model(): Seq[(Long, Double)] = ManifestTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val rows0 = model()
    assert(rows0.size == 64)
    assert(prunedCount(Map("amt" -> ("100", "115"))) == 1, "arrival layout prunes amt")
    assert(prunedCount(Map("k" -> ("9", "9"))) == 4, "arrival layout cannot prune k")
    // evolve the spec to k and REALIZE it via compaction: one metadata
    // commit + the ordinary maintenance job, no dedicated rewrite path
    ManifestTable.alterClusterBy(spark, dir, Seq("k"))
    ManifestTable.compactAppend(spark, dir, statsCols = Seq("k", "amt"), k = 4)
    assert(model() == rows0, "re-clustering changed the rows")
    assert(prunedCount(Map("k" -> ("9", "9"))) == 1,
      "k-clustered layout must answer a point-k scan from one dir")
    // evolve again to a 2-dim Z-ORDER spec: each dimension alone prunes
    ManifestTable.alterClusterBy(spark, dir, Seq("amt", "k"))
    ManifestTable.compactAppend(spark, dir, statsCols = Seq("amt", "k"), k = 4)
    assert(model() == rows0, "z-ordering changed the rows")
    val kPrune = prunedCount(Map("k" -> ("0", "3")))
    val amtPrune = prunedCount(Map("amt" -> ("0", "40")))
    assert(kPrune < 4, s"z-order must prune on k alone (opened $kPrune/4)")
    assert(amtPrune < 4, s"z-order must prune on amt alone (opened $amtPrune/4)")
    // the spec survives in meta and an ordinary rangeScan stays exact
    assert(ManifestTable.clusterSpecOf(fs, dir,
      ManifestTable.versions(fs, dir).last).contains(Seq("amt", "k")))
    val scanned = ManifestTable.rangeScan(spark, dir, "k", "3", "5")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(scanned == rows0.filter(t => t._1 >= 3 && t._1 <= 5))
  }

  test("compactAppend: overlapping appends become disjoint sorted dirs and skipping sharpens") {
    val dir = freshDir()
    def dirOf(f: String) = f.split("/").dropRight(1).last
    // three batches that EACH span most of the amt domain (interleaved
    // keys) — the worst case for batch-correlation skipping
    ManifestTable.append((1L to 28L by 3).map(k => MergeRow(k, "b1", k * 1.0)).toDF(),
      dir, statsCols = Seq("amt"))
    ManifestTable.append((2L to 29L by 3).map(k => MergeRow(k, "b2", k * 1.0)).toDF(),
      dir, statsCols = Seq("amt"))
    ManifestTable.append((3L to 30L by 3).map(k => MergeRow(k, "b3", k * 1.0)).toDF(),
      dir, statsCols = Seq("amt"))
    // pre-compaction, a narrow scan must open ALL THREE overlapping dirs
    val before = ManifestTable.rangeScan(spark, dir, "amt", "5", "7")
    assert(scannedFiles(before).map(dirOf).toSet.size == 3)
    ManifestTable.compactAppend(spark, dir, statsCols = Seq("amt"), k = 3)
    assert(ManifestTable.read(spark, dir).count() == 30L, "compaction must not change rows")
    // post-compaction the same scan opens ONE range-sorted dir
    val after = ManifestTable.rangeScan(spark, dir, "amt", "5", "7")
    assert(after.as[MergeRow].collect().map(_.k).sorted.toSeq == Seq(5L, 6L, 7L))
    assert(scannedFiles(after).map(dirOf).toSet.size == 1,
      s"disjoint sorted dirs must prune to one, got ${scannedFiles(after).map(dirOf).toSet}")
    // the table stays appendable and newly appended stats participate
    ManifestTable.append(Seq(MergeRow(100L, "late", 100.0)).toDF(), dir,
      statsCols = Seq("amt"))
    assert(ManifestTable.read(spark, dir).count() == 31L)
    assert(ManifestTable.rangeScan(spark, dir, "amt", "99", "101").count() == 1L)
    // an append racing the compaction is never lost: either it commits
    // first (carried through as a non-input dir) or it rebases after
    val dir2 = freshDir()
    ManifestTable.append((1L to 10L).map(k => MergeRow(k, "a", k * 1.0)).toDF(),
      dir2, statsCols = Seq("amt"))
    val racer = new Thread(() => ManifestTable.append(
      (11L to 20L).map(k => MergeRow(k, "r", k * 1.0)).toDF(), dir2, Seq("amt")))
    racer.start()
    ManifestTable.compactAppend(spark, dir2, statsCols = Seq("amt"), k = 2)
    racer.join()
    assert(ManifestTable.read(spark, dir2).count() == 20L,
      "a batch was lost to the compaction race")
  }
  test("merge validateHead runs per attempt against the exact commit head (r19 streaming-epoch guard seam)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vh").toString + "/t"
    MergeInto.create(Seq((1L, "a")).toDF("k", "v"), dir, "k", nBuckets = 2): Unit
    val headBefore = ManifestTable.headVersion(spark, dir).get
    // a validator that refuses (the streaming epoch's ALTER-vs-write
    // CHECK guard rides this seam) must abort BEFORE the commit — the
    // head must not advance and the standing rows must be untouched
    val e = intercept[IllegalStateException] {
      MergeInto.merge(Seq((2L, "b")).toDF("k", "v"), dir,
        validateHead = m => throw new IllegalStateException(
          s"guard fired over ${m.size} meta keys"))
    }
    assert(e.getMessage.contains("guard fired"))
    assert(ManifestTable.headVersion(spark, dir).get === headBefore,
      "a refused validation must not commit")
    assert(MergeInto.read(spark, dir).count() === 1L)
    // a passing validator commits normally, with extraMeta riding
    MergeInto.merge(Seq((2L, "b")).toDF("k", "v"), dir,
      extraMeta = Map("txn:vh" -> "7"),
      validateHead = _ => ()): Unit
    val head = ManifestTable.headVersion(spark, dir).get
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(ManifestTable.metaOf(fs, dir, head).get("txn:vh").contains("7"))
    assert(MergeInto.read(spark, dir).count() === 2L)
  }

  test("bucket routing hashes the DECLARED key type: narrower sources upsert, wider key types refuse (r19 review find)") {
    // BIGINT-keyed table, INT-keyed source: murmur3 of INT 2 and
    // BIGINT 2 differ, so an uncast hash would route the upsert to a
    // bucket the standing row does not live in — duplicate keys
    val dir = java.nio.file.Files.createTempDirectory("graft-kt").toString + "/t"
    MergeInto.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "k",
      nBuckets = 4)
    MergeInto.merge(Seq((2, "B2"), (3, "c")).toDF("k", "v"), dir): Unit
    val got = MergeInto.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c"),
      s"an INT-keyed source must UPSERT the standing BIGINT key: $got")
    // lookup with a caller-typed INT probe opens the right bucket
    val hit = MergeInto.lookup(spark, dir, Seq(2).toDF("k")).collect()
    assert(hit.length == 1 && hit.head.getString(1) == "B2",
      s"an INT probe on a BIGINT key must find the row: ${hit.toSeq}")
    // INSERT OVERWRITE with a narrower source routes correctly too
    MergeInto.overwriteBucketed(Seq((7, "x"), (8, "y")).toDF("k", "v"),
      dir): Unit
    val hit2 = MergeInto.lookup(spark, dir, Seq(8L).toDF("k")).collect()
    assert(hit2.length == 1 && hit2.head.getString(1) == "y",
      s"overwritten rows must sit where declared-type probes hash: ${hit2.toSeq}")
    // the KEY type is frozen: a WIDER source key refuses like ALTER does
    val d2 = java.nio.file.Files.createTempDirectory("graft-kt2").toString + "/t"
    MergeInto.create(Seq((1, "a")).toDF("k", "v"), d2, "k", nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      MergeInto.merge(Seq((2L, "b")).toDF("k", "v"), d2)
    }
    assert(e.getMessage.contains("cannot widen bucket key"), e.getMessage)
  }

  test("concurrent MERGE INSERTs of the same fresh key: exactly one lands, the loser refuses loudly (r19 review find)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-race").toString
    spark.conf.set("spark.sql.catalog.gmir", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmir.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmir.lake")
    spark.sql("DROP TABLE IF EXISTS gmir.lake.r")
    spark.sql("CREATE TABLE gmir.lake.r (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('layout'='bucketed:k:4')")
    spark.sql("INSERT INTO gmir.lake.r VALUES (1, 'seed')")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 2).map { t =>
      new Thread(() =>
        try {
          spark.sql(s"""MERGE INTO gmir.lake.r x USING
            (SELECT CAST(99 AS BIGINT) AS k, 'w$t' AS v) s ON x.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
          wins.incrementAndGet(): Unit
        } catch { case e: Throwable => errors.add(e): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive))
    val rows = spark.table("gmir.lake.r").filter(col("k") === 99L).collect()
    assert(rows.length == 1,
      s"exactly ONE insert of key 99 may land: ${rows.toSeq}")
    // both succeeding would be a silent lost update: the loser must
    // have refused with the standing-key clash (check-then-act closed
    // by the per-attempt re-probe), unless it serialized late enough
    // to see the winner at its FIRST probe — same refusal either way
    assert(wins.get() == 1 && errors.size() == 1,
      s"one winner + one loud refusal expected: wins=${wins.get()} " +
        s"errors=${errors.size()}")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the loser's refusal shape depends on the interleaving: the
    // kernel's standing-key clash (first probe or the per-attempt
    // re-probe after losing the commit race) or Spark's own
    // analyzed-plan-out-of-sync guard when the winner's commit lands
    // mid-analysis — both are LOUD; silence (both succeeding) was the
    // bug
    assert(msgs(errors.peek()).exists(m =>
      m.contains("duplicate standing key") ||
        m.contains("INCOMPATIBLE_TABLE_CHANGE")),
      msgs(errors.peek()))
  }

  test("a MERGE mixing an UPDATE and an unmatched INSERT of ONE key refuses as duplicate inserts (r19 review find)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-dupm").toString
    spark.conf.set("spark.sql.catalog.gmid", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmid.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmid.lake")
    spark.sql("CREATE TABLE gmid.lake.d (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('layout'='bucketed:k:4')")
    spark.sql("INSERT INTO gmid.lake.d VALUES (1, 'a')")
    // compound ON: source row (1,'m') matches -> UPDATE (delete+insert
    // records); source row (1,'i') misses the ON -> unmatched INSERT of
    // the SAME key — two insert records for key 1, an ambiguity the
    // one-winner reduction would silently collapse
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO gmid.lake.d t USING
        (SELECT * FROM VALUES (CAST(1 AS BIGINT), 'm'), (CAST(1 AS BIGINT), 'i') AS s(k, tag)) s
        ON t.k = s.k AND s.tag = 'm'
        WHEN MATCHED THEN UPDATE SET v = s.tag
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.tag)""")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate insert records")), msgs(e))
    assert(spark.table("gmid.lake.d").count() == 1L,
      "the refused MERGE must not have changed the table")
  }

}
