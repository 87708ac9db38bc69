package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** S28/S29 — metadata tables (`t$history`/`t$files`/`t$properties`) and
  * `CALL` maintenance procedures on the graft catalog. */
class GraftMetaSpec extends SparkTestBase {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-meta").toString
    spark.conf.set("spark.sql.catalog.gmeta", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmeta.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmeta.lake")
    dir
  }
  private def fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())

  private def seeded(name: String): String = {
    wh: Unit
    spark.sql(s"DROP TABLE IF EXISTS gmeta.lake.$name")
    spark.sql(s"CREATE TABLE gmeta.lake.$name (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10')")
    spark.sql(s"INSERT INTO gmeta.lake.$name VALUES (1,'a'),(2,'b')")
    spark.sql(s"INSERT INTO gmeta.lake.$name VALUES (10,'p'),(11,'q')")
    s"$wh/lake/$name"
  }

  test("$history lists every retained version with commit instants") {
    seeded("h1")
    val h = spark.sql("SELECT * FROM gmeta.lake.`h1$history` ORDER BY version")
      .collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(h.map(_.getInt(2)).toSeq == Seq(0, 1, 2), "n_paths per version")
    // commit instants ascend and are recent
    val ts = h.map(_.getTimestamp(1).getTime)
    assert(ts.sorted.toSeq == ts.toSeq)
    assert(ts.last > System.currentTimeMillis() - 3600L * 1000)
  }

  test("$files lists live dirs with rowcounts and stats JSON") {
    seeded("f1")
    val f = spark.sql(
      "SELECT path, rows, get_json_object(stats, '$.k.min') AS kmin " +
        "FROM gmeta.lake.`f1$files` ORDER BY kmin").collect()
    assert(f.length == 2)
    assert(f.map(_.getLong(1)).toSeq == Seq(2L, 2L))
    assert(f.map(_.getString(2)).toSeq == Seq("1", "10"))
    // metadata-only: $files works even with every data dir deleted
    val dir = s"$wh/lake/f1"
    ManifestTable.livePaths(fs, dir).foreach(p =>
      fs.delete(new Path(dir, p), true))
    assert(spark.sql("SELECT count(*) FROM gmeta.lake.`f1$files`")
      .head().getLong(0) == 2L)
  }

  test("$properties exposes the full #meta channel") {
    seeded("p1")
    val props = spark.sql("SELECT * FROM gmeta.lake.`p1$properties`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("prop:statsCols").contains("k"))
    assert(props.get("prop:retainGenerations").contains("10"))
  }

  test("$properties surfaces snapshot-cache telemetry that moves with reuse") {
    seeded("pc1")
    def counters(): (Long, Long) = {
      val m = spark.sql("SELECT * FROM gmeta.lake.`pc1$properties`")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      (m("engine:snapshotCacheHits").toLong,
        m("engine:snapshotCacheMisses").toLong)
    }
    val (h0, m0) = counters()
    assert(h0 >= 0 && m0 > 0, "parses already happened this JVM")
    // re-reading the same committed version must be served from cache:
    // hits strictly rise, misses stay put (no new version committed)
    spark.table("gmeta.lake.pc1").count(): Unit
    spark.table("gmeta.lake.pc1").count(): Unit
    val (h1, m1) = counters()
    assert(h1 > h0, s"repeat reads must hit the snapshot cache ($h0 -> $h1)")
    assert(m1 == m0, s"no new manifest appeared, misses must not move ($m0 -> $m1)")
  }

  test("unknown $suffix and $meta on a missing table fail loudly") {
    seeded("x1")
    intercept[Exception] {
      spark.sql("SELECT * FROM gmeta.lake.`x1$nope`").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM gmeta.lake.`ghost$history`").collect()
    }
  }

  test("CALL system.compact rewrites the dirs and reports the new state") {
    val dir = seeded("c1")
    assert(ManifestTable.livePaths(fs, dir).size == 2)
    val r = spark.sql(
      "CALL gmeta.system.compact(table => 'lake.c1', k => 2)").collect()
    assert(r.length == 1 && r.head.getInt(1) <= 2)
    assert(ManifestTable.livePaths(fs, dir).forall(_.startsWith("a-")))
    assert(spark.table("gmeta.lake.c1").count() == 4L)
    // positional args work too
    spark.sql("INSERT INTO gmeta.lake.c1 VALUES (20,'z')")
    val r2 = spark.sql("CALL gmeta.system.compact('lake.c1')").collect()
    assert(r2.head.getInt(1) <= 4)
    assert(spark.table("gmeta.lake.c1").count() == 5L)
  }

  test("CALL system.restore re-publishes an older version as a NEW head") {
    val dir = seeded("r1") // v1 schema, v2 first insert, v3 second
    val r = spark.sql(
      "CALL gmeta.system.restore(table => 'lake.r1', version => 2)").collect()
    assert(r.head.getLong(0) == 4L, "restore moves history forward")
    assert(spark.table("gmeta.lake.r1").collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2))
    assert(ManifestTable.headVersion(spark, dir).contains(4L))
  }

  test("advice:bloom flags analyzed scatter columns; indexing or ineligibility clears it") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.ab")
    spark.sql("CREATE TABLE gmeta.lake.ab (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10')")
    (0 until 4).foreach(b => spark.sql(
      s"INSERT INTO gmeta.lake.ab VALUES " +
        (b * 10 until b * 10 + 10).map(k => s"($k,'v$k')").mkString(",")))
    def advice(): Map[String, String] =
      spark.sql("SELECT * FROM gmeta.lake.`ab$properties`").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
        .filter(_._1.startsWith("advice:"))
    // no column stats yet — nothing to reason from
    assert(!advice().contains("advice:bloom"), advice())
    spark.sql("CALL gmeta.system.analyze(table => 'lake.ab', columns => 'k')")
    val a = advice()
    assert(a.get("advice:bloom").exists(m =>
      m.contains("column k") && m.contains("bloomCols")), a)
    // declaring the index clears the advisory (the operator's call —
    // maintain never auto-acts on it)
    spark.sql("ALTER TABLE gmeta.lake.ab SET TBLPROPERTIES ('bloomCols'='k')")
    assert(!advice().contains("advice:bloom"), advice())
  }

  test("a bloom sidecar is the util.sketch filter of the rendered values, all-null columns included") {
    import org.apache.spark.util.sketch.BloomFilter
    wh: Unit
    val s = spark; import s.implicits._
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.bfmt")
    spark.sql("CREATE TABLE gmeta.lake.bfmt (s STRING, i INT, n STRING) " +
      "TBLPROPERTIES ('statsCols'='i', 'bloomCols'='s,i,n', " +
      "'bloomFpp'='0.01', 'retainGenerations'='10')")
    // two appends, each one dir of three files: 150 rows (sized to its
    // count) and 30 rows (sized to the 64-item floor); non-ASCII, empty
    // and null strings, negative ints
    val batches = Seq(0 until 150, 150 until 180).map(_.map(k =>
      (if (k % 11 == 0) null else if (k % 7 == 0) "" else s"naïve-日本-$k",
        if (k % 13 == 0) null else Integer.valueOf(k * 37 - 2000),
        null: String)))
    batches.foreach(rows => rows.toDF("s", "i", "n").repartition(3)
      .writeTo("gmeta.lake.bfmt").append())
    val dir = s"$wh/lake/bfmt"
    val head = ManifestTable.headVersion(spark, dir).get
    val blooms = ManifestTable.bloomsOf(fs, dir, head)
    assert(blooms.size == 2, blooms)
    // the old aggregator's semantics, restated: a filter sized by the
    // dir's row count (floor 64) at the table's fpp, then putString of
    // each non-null value's cast-to-string rendering
    def reference(n: Int, values: Seq[String]): Seq[Byte] = {
      val bf = BloomFilter.create(math.max(64L, n.toLong), 0.01)
      values.filter(_ != null).foreach(bf.putString)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray.toSeq
    }
    val byRows = batches.map(rows => rows.length -> rows).toMap
    blooms.foreach { case (p, payload) =>
      assert(fs.listStatus(new Path(dir, p)).count(_.getPath.getName.endsWith(".parquet")) > 1)
      val rows = byRows(ManifestTable.rowsIn(ManifestTable.statsOf(fs, dir, head)(p)).get.toInt)
      val want = Map(
        "s" -> reference(rows.length, rows.map(_._1)),
        "i" -> reference(rows.length, rows.map(r => Option(r._2).map(_.toString).orNull)),
        "n" -> reference(rows.length, rows.map(_._3)))
      val entries = ManifestTable.bloomEntries(payload)
      assert(entries.keySet == want.keySet, entries)
      entries.foreach { case (c, rel) =>
        val in = fs.open(new Path(dir, rel))
        val got = try in.readAllBytes().toSeq finally in.close()
        assert(got == want(c), s"sidecar $rel of column $c in $p")
      }
    }
    // an fpp outside (0, 1) is refused, not written as a broken filter
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.bfmt0")
    spark.sql("CREATE TABLE gmeta.lake.bfmt0 (k INT) " +
      "TBLPROPERTIES ('bloomCols'='k', 'bloomFpp'='0', 'retainGenerations'='10')")
    val e = intercept[Exception](spark.sql("INSERT INTO gmeta.lake.bfmt0 VALUES (1),(2)"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("False positive probability")), e)
  }

  test("CALL system.vacuum sweeps aged orphans, spares fresh ones") {
    val dir = seeded("v1")
    // a crashed writer's leavings: a data dir no manifest references
    val orphan = new Path(dir, "zz-orphan")
    fs.mkdirs(new Path(orphan, "part"))
    // fresh orphan survives (could be a racer's in-flight commit dir)
    val r0 = spark.sql("CALL gmeta.system.vacuum('lake.v1')").collect()
    assert(r0.head.getLong(0) == 0L && fs.exists(orphan))
    // aged past the grace window it is swept
    ageTree(fs, orphan, 2L * 60 * 60 * 1000)
    val r1 = spark.sql("CALL gmeta.system.vacuum('lake.v1')").collect()
    assert(r1.head.getLong(0) == 1L && !fs.exists(orphan))
    assert(spark.table("gmeta.lake.v1").count() == 4L,
      "vacuum must never touch referenced data")
  }

  test("CALL system.vacuum(dry_run) reports the blast radius without deleting") {
    val dir = seeded("vd1")
    val orphan = new Path(dir, "zz-orphan")
    fs.mkdirs(new Path(orphan, "part"))
    def report() = spark.sql(
      "CALL gmeta.system.vacuum(table => 'lake.vd1', dry_run => true)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getString(4)))
    // fresh orphan: listed, but the grace window holds it back
    val r0 = report()
    val fresh = r0.filter(_._1 == "zz-orphan")
    assert(fresh.length == 1 && fresh.head._2 == "data" && !fresh.head._4,
      s"fresh orphan must report would_sweep=false: ${r0.toSeq}")
    assert(fresh.head._5.startsWith("orphan"))
    assert(fs.exists(orphan), "dry run must not delete")
    // aged past grace: would_sweep flips true — and STILL nothing dies
    ageTree(fs, orphan, 2L * 60 * 60 * 1000)
    val r1 = report().filter(_._1 == "zz-orphan")
    assert(r1.length == 1 && r1.head._4 && r1.head._3 >= 2L * 60 * 60,
      s"aged orphan must report would_sweep=true with its age: ${r1.toSeq}")
    assert(fs.exists(orphan), "dry run must never delete, even sweepables")
    // the real sweep takes exactly what the report promised
    val swept = spark.sql("CALL gmeta.system.vacuum('lake.vd1')")
      .collect().head.getLong(0)
    assert(swept == 1L && !fs.exists(orphan))
    assert(report().isEmpty, "post-sweep report must be clean")
    // retention-retired dirs report would_sweep=true regardless of age:
    // compact (new a-* dirs) + one more commit so the append-era dirs
    // fall out of every RETAINED manifest's reference set
    val tdir = Files.createTempDirectory("graft-dry").toString + "/t"
    val s = spark; import s.implicits._
    // commit with a wide retention (the per-commit gc keeps everything),
    // then ask the dry run what a TIGHTER policy would take
    ManifestTable.append(Seq((1, "a")).toDF("k", "v"), tdir,
      retainGenerations = 10)
    ManifestTable.append(Seq((2, "b")).toDF("k", "v"), tdir,
      retainGenerations = 10)
    ManifestTable.append(Seq((3, "c")).toDF("k", "v"), tdir,
      retainGenerations = 10)
    ManifestTable.compactAppend(spark, tdir, statsCols = Seq("k"), k = 1,
      retainGenerations = 10)
    ManifestTable.append(Seq((4, "d")).toDF("k", "v"), tdir,
      retainGenerations = 10)
    val rep = ManifestTable.orphanReport(spark, tdir, retainGenerations = 2)
    val retiredData = rep.filter(r => r._2 == "data" && r._4)
    assert(retiredData.length == 3 &&
      retiredData.forall(_._5.startsWith("retired")),
      s"the 3 pre-compaction dirs must report as retired+sweepable: $rep")
    assert(rep.exists(r => r._2 == "manifest" && r._4),
      s"the retiring manifests must be listed: $rep")
    // and the sweep agrees with the report, data row for data row
    // (vacuum's return counts top-level entries; manifests live under
    // the protected _manifests prefix)
    val promised = rep.count(r => r._2 == "data" && r._4)
    assert(ManifestTable.vacuum(spark, tdir, retainGenerations = 2) ==
      promised.toLong, "sweep must take exactly what the dry run promised")
  }

  test("vacuum never sweeps dirs a retained version references — pinned readers stay safe") {
    // On all three manifest stores: a reader that pinned a RETAINED
    // version at relation-resolve time (the S20/S22 snapshot pin)
    // survives any number of vacuums — the sweep's reference set is
    // the union of ALL retained manifests, so only aged orphans and
    // retention-retired dirs die. The protection boundary is explicit:
    // it lasts exactly as long as the pinned version stays retained
    // (generations or minRetainMs), nothing longer.
    for (store <- Seq(graft.sources.PosixLinkStore, graft.sources.HdfsClaimStore,
        graft.sources.ConditionalPutStore)) {
      graft.sources.ManifestTable.storeOverride = Some(store)
      try {
        val dir = Files.createTempDirectory("graft-vac").toString + "/t"
        val s = spark; import s.implicits._
        ManifestTable.append(Seq((1, "a")).toDF("k", "v"), dir,
          retainGenerations = 10)
        ManifestTable.append(Seq((2, "b")).toDF("k", "v"), dir,
          retainGenerations = 10)
        val pinned = spark.read.format("graft").load(dir) // pins v2
        ManifestTable.append(Seq((3, "c")).toDF("k", "v"), dir,
          retainGenerations = 10)
        val vfs = new Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val orphan = new Path(dir, "zz-orphan")
        vfs.mkdirs(new Path(orphan, "part"))
        ageTree(vfs, orphan, 2L * 60 * 60 * 1000)
        assert(ManifestTable.vacuum(spark, dir, retainGenerations = 10) == 1L,
          s"store=$store: exactly the aged orphan must be swept")
        assert(!vfs.exists(orphan))
        ManifestTable.versions(vfs, dir).foreach { v =>
          ManifestTable.pathsOf(vfs, dir, v).map(_.split("/", 2).head)
            .foreach(d => assert(vfs.exists(new Path(dir, d)),
              s"store=$store: retained v$v's dir $d was swept"))
        }
        assert(pinned.count() == 2L, s"store=$store: pinned snapshot broken")
        // and the boundary: once retention collapses past the pinned
        // version, its exclusive dirs legitimately die
        (1 to 9).foreach(i => ManifestTable.append(
          Seq((10 + i, "x")).toDF("k", "v"), dir, retainGenerations = 2))
        assert(!ManifestTable.versions(vfs, dir).contains(2L),
          s"store=$store: retention must eventually retire the pinned version")
      } finally graft.sources.ManifestTable.storeOverride = None
    }
  }

  test("S34 tags: GC retains a tagged version through retention churn; untag releases it") {
    val dir = Files.createTempDirectory("graft-tag").toString + "/t"
    val s = spark; import s.implicits._
    ManifestTable.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir,
      statsCols = Seq("k")) // v1, retain default 2
    val v1 = ManifestTable.headVersion(spark, dir).get
    ManifestTable.tag(spark, dir, "rel-1", Some(v1)) // v2 carries the tag
    // churn far past retainGenerations=2
    (1 to 6).foreach(i => ManifestTable.append(
      Seq((10 + i, "x")).toDF("k", "v"), dir))
    // the tagged version's manifest AND data survived
    assert(ManifestTable.versions(fs, dir).contains(v1))
    assert(ManifestTable.readVersion(spark, dir, v1)
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // resolvable by name on both path surfaces
    assert(spark.read.format("graft").option("versionAsOf", "rel-1")
      .load(dir).count() == 2L)
    assert(spark.read.format("graft-manifest").option("versionAsOf", "rel-1")
      .load(dir).count() == 2L)
    // tags survive compaction (meta carries forward)
    ManifestTable.compactAppend(spark, dir, Seq("k"), k = 2)
    assert(ManifestTable.readVersion(spark, dir, v1).count() == 2L)
    // untag → the version rejoins ordinary retention and dies
    ManifestTable.untag(spark, dir, "rel-1")
    (1 to 3).foreach(i => ManifestTable.append(
      Seq((20 + i, "y")).toDF("k", "v"), dir))
    assert(!ManifestTable.versions(fs, dir).contains(v1),
      "untagged version must rejoin retention")
    // guard rails
    intercept[IllegalArgumentException] {
      ManifestTable.tag(spark, dir, "7") // shadows a literal version
    }
    intercept[IllegalArgumentException] {
      ManifestTable.tag(spark, dir, "gone", Some(v1)) // not retained
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "nope").load(dir)
    }
  }

  test("S34 tags through SQL: CALL tag/untag + VERSION AS OF 'name'") {
    val dir = seeded("tg1") // v1 create, v2 insert, v3 insert; retain 10
    spark.sql("CALL gmeta.system.tag(table => 'lake.tg1', name => 'after-first', version => 2)")
    assert(spark.sql(
      "SELECT count(*) FROM gmeta.lake.tg1 VERSION AS OF 'after-first'")
      .head().getLong(0) == 2L)
    // head tag defaults to the current version
    spark.sql("CALL gmeta.system.tag(table => 'lake.tg1', name => 'now')")
    spark.sql("INSERT INTO gmeta.lake.tg1 VALUES (99,'z')")
    assert(spark.sql(
      "SELECT count(*) FROM gmeta.lake.tg1 VERSION AS OF 'now'")
      .head().getLong(0) == 4L)
    spark.sql("CALL gmeta.system.untag(table => 'lake.tg1', name => 'now')")
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gmeta.lake.tg1 VERSION AS OF 'now'")
        .collect()
    }
    // $properties surfaces the standing tag for observability
    assert(spark.sql("SELECT value FROM gmeta.lake.`tg1$properties` " +
      "WHERE key = 'tag:after-first'").head().getString(0) == "2")
  }

  test("S36 analyze: exact NDV/null stats persist and surface as V2 column statistics") {
    val dir = seeded("an1") // k: 1,2,10,11; v: 4 distinct, no nulls
    spark.sql("INSERT INTO gmeta.lake.an1 VALUES (1, NULL)") // dup k, null v
    val out = spark.sql(
      "CALL gmeta.system.analyze(table => 'lake.an1', columns => 'k,v')")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("k", 4L, 0L), ("v", 4L, 1L)), out.toSeq)
    // persisted in the meta channel → visible via $properties
    assert(spark.sql("SELECT value FROM gmeta.lake.`an1$properties` " +
      "WHERE key = 'colstat:k'").head().getString(0) == "4,0")
    // ...and surfaced to the optimizer as attribute stats on the scan
    val stats = spark.read.format("graft").load(dir)
      .queryExecution.optimizedPlan.stats
    assert(stats.attributeStats.exists { case (a, st) =>
      a.name == "k" && st.distinctCount.contains(BigInt(4)) },
      s"CBO must see the analyzed NDV: ${stats.attributeStats}")
    // approx mode runs the one-pass HLL variant (value near-exact here)
    val approx = spark.sql("CALL gmeta.system.analyze(table => 'lake.an1', " +
      "columns => 'k', approx => true)").head()
    assert(math.abs(approx.getLong(1) - 4L) <= 1)
    intercept[Exception] {
      spark.sql("CALL gmeta.system.analyze(table => 'lake.an1', " +
        "columns => 'nope')").collect()
    }
  }

  test("S53 incremental NDV: re-ANALYZE after an append reads ONLY the appended dirs") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.ndv1")
    spark.sql("CREATE TABLE gmeta.lake.ndv1 (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k,v', 'retainGenerations'='10')")
    spark.sql("INSERT INTO gmeta.lake.ndv1 VALUES (1,'a'),(2,'b'),(3,'c')")
    val dir = s"$wh/lake/ndv1"
    val out1 = spark.sql("CALL gmeta.system.analyze(" +
      "table => 'lake.ndv1', columns => 'k,v', approx => true)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out1.toSeq == Seq(("k", 3L, 0L), ("v", 3L, 0L)), out1.toSeq)
    // the approx pass persisted per-dir HLL sketches in the #ndv lane
    val v1 = ManifestTable.headVersion(spark, dir).get
    val firstDataDir = ManifestTable.pathsOf(fs, dir, v1).head
    assert(ManifestTable.statsOf(fs, dir, v1).values.forall(pl =>
      ManifestTable.ndvSketchFor(pl, "k").isDefined),
      "every dir must carry a persisted sketch after the approx analyze")
    // the parent moves on: a second batch lands as a NEW dir
    spark.sql("INSERT INTO gmeta.lake.ndv1 VALUES (3,'c2'),(4,'d')")
    // PROOF of incrementality: corrupt the first dir's parquet bytes —
    // a re-ANALYZE that reads it dies; the sketch path must not
    fs.listStatus(new Path(dir, firstDataDir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val o = fs.create(f, true)
        o.write("not parquet anymore".getBytes("UTF-8")); o.close()
      }
    val out2 = spark.sql("CALL gmeta.system.analyze(" +
      "table => 'lake.ndv1', columns => 'k,v', approx => true)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out2.toSeq == Seq(("k", 4L, 0L), ("v", 5L, 0L)),
      s"union of old sketches + the appended dir's fresh one: ${out2.toSeq}")
    assert(spark.sql("SELECT value FROM gmeta.lake.`ndv1$properties` " +
      "WHERE key = 'tablestat'").head().getString(0) == "5",
      "rows derive from the per-dir stats lanes, zero data I/O")
    // a third ANALYZE with no new dirs is pure metadata (the corrupt
    // dir would fail any read — nothing reads)
    val out3 = spark.sql("CALL gmeta.system.analyze(" +
      "table => 'lake.ndv1', columns => 'k', approx => true)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out3.toSeq == Seq(("k", 4L)), out3.toSeq)
  }

  test("S53 write-side NDV (stats.ndv=write): appends sketch inline, ANALYZE opens ZERO data files (r19)") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.ndv2")
    spark.sql("CREATE TABLE gmeta.lake.ndv2 (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k,v', 'retainGenerations'='10', " +
      "'stats.ndv'='write')")
    spark.sql("INSERT INTO gmeta.lake.ndv2 VALUES (1,'a'),(2,'b'),(3,'c')")
    spark.sql("INSERT INTO gmeta.lake.ndv2 VALUES (3,'c2'),(4,'d')")
    val dir = s"$wh/lake/ndv2"
    val v1 = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.statsOf(fs, dir, v1).values.forall(pl =>
      ManifestTable.ndvSketchFor(pl, "k").isDefined &&
        ManifestTable.ndvSketchFor(pl, "v").isDefined),
      "every appended dir must carry a WRITE-TIME sketch")
    // PROOF of zero-read: corrupt EVERY data file — the very first
    // approx ANALYZE must still answer exactly, from the lanes alone
    ManifestTable.pathsOf(fs, dir, v1).foreach { p =>
      fs.listStatus(new Path(dir, p)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val o = fs.create(f, true)
          o.write("not parquet anymore".getBytes("UTF-8")); o.close()
        }
    }
    val out = spark.sql("CALL gmeta.system.analyze(" +
      "table => 'lake.ndv2', columns => 'k,v', approx => true)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("k", 4L, 0L), ("v", 5L, 0L)),
      s"NDV must derive from write-time sketches with zero data I/O: " +
        out.toSeq)
    // the clustered append route sketches too
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.ndv3")
    spark.sql("CREATE TABLE gmeta.lake.ndv3 (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10', " +
      "'stats.ndv'='write', 'clusterBy'='k')")
    spark.sql("INSERT INTO gmeta.lake.ndv3 VALUES (1,'a'),(2,'b'),(9,'z')")
    val dir3 = s"$wh/lake/ndv3"
    val v3 = ManifestTable.headVersion(spark, dir3).get
    assert(ManifestTable.statsOf(fs, dir3, v3).values.forall(pl =>
      ManifestTable.ndvSketchFor(pl, "k").isDefined),
      "clustered appends must sketch per range dir")
  }

  test("S37 analyze histogram: equi-height bounds persist, surface to the CBO, and staleness advises re-analysis") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.hist1")
    spark.sql("CREATE TABLE gmeta.lake.hist1 (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10')")
    // skewed: 1..80 once, plus 20 copies of 1000
    val s = spark; import s.implicits._
    ((1 to 80).map(i => (i, s"v$i")) ++ (1 to 20).map(_ => (1000, "hot")))
      .toDF("k", "v").createOrReplaceTempView("hist1_src")
    spark.sql("INSERT INTO gmeta.lake.hist1 SELECT * FROM hist1_src")
    spark.sql("CALL gmeta.system.analyze(table => 'lake.hist1', " +
      "columns => 'k', histogram => true, bins => 4)")
    // persisted: 5 ascending double bounds, 1 .. 1000
    val raw = spark.sql("SELECT value FROM gmeta.lake.`hist1$properties` " +
      "WHERE key = 'colhist:k'").head().getString(0)
    // self-contained: "<nonNullRows>;<ndv>;<bounds,...>"
    val Array(nn, hNdv, bs) = raw.split(";", 3)
    assert(nn.toLong == 100L && hNdv.toLong == 81L, raw)
    val bounds = bs.split(",").map(_.toDouble).toSeq
    assert(bounds.length == 5 && bounds == bounds.sorted, bounds)
    assert(bounds.head == 1.0 && bounds.last == 1000.0, bounds)
    // equi-HEIGHT, not equi-width: the hot value pulls the last bound
    // to 1000 while the first three bins stay inside 1..80
    assert(bounds(3) <= 80.0, s"equi-height bounds expected: $bounds")
    // the CBO sees the histogram through V2 columnStats
    val stats = spark.read.format("graft").load(s"$wh/lake/hist1")
      .queryExecution.optimizedPlan.stats
    val kStat = stats.attributeStats.collectFirst {
      case (a, st) if a.name == "k" => st }.get
    val h = kStat.histogram.getOrElse(
      fail(s"CBO must see the histogram: ${stats.attributeStats}"))
    assert(h.bins.length == 4)
    assert(math.abs(h.height - 25.0) < 0.01, h.height) // 100 rows / 4 bins
    // staleness: triple the table → $properties advises a re-analyze
    spark.sql("INSERT INTO gmeta.lake.hist1 SELECT * FROM hist1_src")
    spark.sql("INSERT INTO gmeta.lake.hist1 SELECT * FROM hist1_src")
    val advice = spark.sql("SELECT value FROM gmeta.lake.`hist1$properties` " +
      "WHERE key = 'advice:analyze'").collect()
    assert(advice.length == 1 && advice.head.getString(0).contains("300"),
      advice.toSeq)
    // a fresh analyze clears the advisory
    spark.sql("CALL gmeta.system.analyze(table => 'lake.hist1', " +
      "columns => 'k')")
    assert(spark.sql("SELECT value FROM gmeta.lake.`hist1$properties` " +
      "WHERE key = 'advice:analyze'").isEmpty)
    // ...and REPLACES k's stats wholesale: the histogram was not
    // recomputed, so it must be dropped, not left to pair stale
    // bounds with fresh counts
    assert(spark.sql("SELECT value FROM gmeta.lake.`hist1$properties` " +
      "WHERE key = 'colhist:k'").isEmpty,
      "plain re-analyze must drop the stale histogram")
  }

  test("CALL system.compact with where_*: folds ONLY the overlapping dirs") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.cw")
    spark.sql("CREATE TABLE gmeta.lake.cw (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10', " +
      "'dml.mode'='merge-on-read')")
    // two fragmented dirs in the HOT range, two cold dirs far away
    spark.sql("INSERT INTO gmeta.lake.cw VALUES " +
      (0 until 10).map(k => s"($k,'v$k')").mkString(","))
    spark.sql("INSERT INTO gmeta.lake.cw VALUES " +
      (5 until 15).map(k => s"($k,'w$k')").mkString(","))
    spark.sql("INSERT INTO gmeta.lake.cw VALUES (100,'cold1')")
    spark.sql("INSERT INTO gmeta.lake.cw VALUES (200,'cold2')")
    // a mask inside the range must materialize with the fold
    spark.sql("DELETE FROM gmeta.lake.cw WHERE k = 7 AND v = 'v7'")
    val dir = s"$wh/lake/cw"
    val before = ManifestTable.livePaths(fs, dir)
    val cold = before.filter { p =>
      ManifestTable.statsFor(ManifestTable.statsOf(fs, dir,
        ManifestTable.headVersion(spark, dir).get)(p), "k")
        .exists(_._2.exists(_.toInt >= 100))
    }
    assert(cold.size == 2)
    val r = spark.sql("CALL gmeta.system.compact(table => 'lake.cw', " +
      "k => 1, where_col => 'k', where_lo => '0', where_hi => '20')").head()
    val after = ManifestTable.livePaths(fs, dir)
    // cold dirs carried BY PATH (byte-untouched); hot fragments folded
    // into one cw- dir with the mask materialized away
    assert(cold.forall(after.contains),
      s"cold dirs must carry by path: $cold vs $after")
    assert(after.size == 3 && after.exists(_.startsWith("cw-")), after)
    assert(ManifestTable.dvOf(fs, dir,
      ManifestTable.headVersion(spark, dir).get).isEmpty,
      "in-range masks must materialize with the fold")
    val got = spark.table("gmeta.lake.cw").collect()
      .map(x => (x.getInt(0), x.getString(1))).sorted.toSeq
    assert(got.size == 21 && !got.contains((7, "v7")) && got.contains((7, "w7")))
    assert(got.contains((100, "cold1")) && got.contains((200, "cold2")))
    r: Unit
    // a second scoped call over the now-compact range no-ops
    val v0 = ManifestTable.headVersion(spark, dir).get
    spark.sql("CALL gmeta.system.compact(table => 'lake.cw', " +
      "k => 1, where_col => 'k', where_lo => '0', where_hi => '20')")
    assert(ManifestTable.headVersion(spark, dir).get == v0,
      "re-scoping an already-folded range must no-op")
    // incompatible flags refuse loudly
    val e = intercept[Exception] {
      spark.sql("CALL gmeta.system.compact(table => 'lake.cw', " +
        "incremental => true, where_col => 'k', where_lo => '0', " +
        "where_hi => '1')") }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("S41 advisory: standing mask debt surfaces advice:compact, compaction clears it") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.dvadv")
    spark.sql("CREATE TABLE gmeta.lake.dvadv (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10', " +
      "'dml.mode'='merge-on-read')")
    spark.sql("INSERT INTO gmeta.lake.dvadv SELECT id, CAST(id AS STRING) " +
      "FROM range(0, 40)")
    // one masked row = 2.5% of 40 physical rows: under the 10% line
    spark.sql("DELETE FROM gmeta.lake.dvadv WHERE k = 1")
    assert(spark.sql("SELECT value FROM gmeta.lake.`dvadv$properties` " +
      "WHERE key = 'advice:compact'").isEmpty,
      "a light mask must not trip the advisory")
    // mask 6 more (17.5% total): past the line, the advisory fires and
    // names both numbers
    spark.sql("DELETE FROM gmeta.lake.dvadv WHERE k IN (2,3,4,5,6,7)")
    val adv = spark.sql("SELECT value FROM gmeta.lake.`dvadv$properties` " +
      "WHERE key = 'advice:compact'").collect()
    assert(adv.length == 1 && adv.head.getString(0).contains("7") &&
      adv.head.getString(0).contains("40"), adv.toSeq)
    // CALL system.maintain ACTS on the advisories: here it compacts
    // (materializing the masks), reports the action, and a second call
    // is a steady-state no-op — the scheduler loop contract
    val m = spark.sql("CALL gmeta.system.maintain(table => 'lake.dvadv', " +
      "k => 2)").head()
    assert(m.getString(1) == "compact", m.toString)
    assert(spark.sql("SELECT value FROM gmeta.lake.`dvadv$properties` " +
      "WHERE key = 'advice:compact'").isEmpty,
      "maintain must clear the mask-debt advisory")
    assert(spark.table("gmeta.lake.dvadv").count() == 33L)
    val m2 = spark.sql("CALL gmeta.system.maintain(table => 'lake.dvadv')")
      .head()
    assert(m2.getString(1) == "none", m2.toString)
  }

  test("S37 auto-hook: CALL system.compact refreshes drifted stats, advisory clears without a manual analyze") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.hist2")
    spark.sql("CREATE TABLE gmeta.lake.hist2 (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10')")
    val s = spark; import s.implicits._
    (1 to 50).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("hist2_src")
    spark.sql("INSERT INTO gmeta.lake.hist2 SELECT * FROM hist2_src")
    spark.sql("CALL gmeta.system.analyze(table => 'lake.hist2', " +
      "columns => 'k', histogram => true, bins => 4)")
    // churn the table past the 2x drift the advisory fires on
    spark.sql("INSERT INTO gmeta.lake.hist2 SELECT * FROM hist2_src")
    spark.sql("INSERT INTO gmeta.lake.hist2 SELECT k + 100, v FROM hist2_src")
    assert(spark.sql("SELECT value FROM gmeta.lake.`hist2$properties` " +
      "WHERE key = 'advice:analyze'").count() == 1)
    // compaction pays a full pass anyway — the hook refreshes the
    // drifted stats in the same CALL, clearing the advisory
    spark.sql("CALL gmeta.system.compact(table => 'lake.hist2', k => 2)")
    assert(spark.sql("SELECT value FROM gmeta.lake.`hist2$properties` " +
      "WHERE key = 'advice:analyze'").isEmpty,
      "compaction must refresh drifted CBO stats")
    val ts = spark.sql("SELECT value FROM gmeta.lake.`hist2$properties` " +
      "WHERE key = 'tablestat'").head().getString(0)
    assert(ts == "150", s"refreshed tablestat expected 150 rows, got $ts")
    // the histogram refreshed at its recorded bin width (4 bins = 5
    // bounds) covering the churned domain
    val raw = spark.sql("SELECT value FROM gmeta.lake.`hist2$properties` " +
      "WHERE key = 'colhist:k'").head().getString(0)
    val Array(nn, _, bs) = raw.split(";", 3)
    assert(nn.toLong == 150L, raw)
    val bounds = bs.split(",").map(_.toDouble).toSeq
    assert(bounds.length == 5 && bounds.last == 150.0, bounds)
    // a fresh (un-drifted) table's compact leaves stats untouched —
    // the hook fires on the advisory's own condition only
    spark.sql("CALL gmeta.system.compact(table => 'lake.hist2', k => 2)")
    assert(spark.sql("SELECT value FROM gmeta.lake.`hist2$properties` " +
      "WHERE key = 'tablestat'").head().getString(0) == "150")
  }

  test("S39 incremental compact folds only stragglers; kept dirs carry by path; repeated calls converge") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gmeta.lake.ic1")
    spark.sql("CREATE TABLE gmeta.lake.ic1 (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10')")
    val dir = s"$wh/lake/ic1"
    val s = spark; import s.implicits._
    (1 to 400).map(i => (i, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("ic1_src")
    spark.sql("INSERT INTO gmeta.lake.ic1 SELECT * FROM ic1_src")
    spark.sql("CALL gmeta.system.compact(table => 'lake.ic1', k => 2)")
    val compacted = ManifestTable.livePaths(fs, dir).toSet
    assert(compacted.size == 2, compacted)
    // two small out-of-order arrivals — each overlaps a compacted dir
    spark.sql("INSERT INTO gmeta.lake.ic1 VALUES (10, 'late-a'), (390, 'late-a2')")
    spark.sql("INSERT INTO gmeta.lake.ic1 VALUES (15, 'late-b')")
    val out = spark.sql("CALL gmeta.system.compact(table => 'lake.ic1', " +
      "k => 2, incremental => true)").head()
    val after = ManifestTable.livePaths(fs, dir).toSet
    // the full-compact dirs are untouched — carried BY PATH
    assert(compacted.subsetOf(after),
      s"incremental compact must not rewrite the disjoint dirs: " +
        s"$compacted vs $after")
    // the stragglers folded into ic- dirs
    val folded = after -- compacted
    assert(folded.nonEmpty && folded.forall(_.startsWith("ic-")), folded)
    // content is intact
    assert(spark.table("gmeta.lake.ic1").count() == 403L)
    assert(spark.table("gmeta.lake.ic1")
      .agg(sum($"k")).head.getLong(0) == (1 to 400).sum.toLong + 10 + 390 + 15)
    // convergence: a second incremental call with nothing new is a
    // no-op (same head version — the folded level is already disjoint)
    val v1 = ManifestTable.headVersion(spark, dir).get
    spark.sql("CALL gmeta.system.compact(table => 'lake.ic1', " +
      "k => 2, incremental => true)")
    assert(ManifestTable.headVersion(spark, dir).get == v1,
      "refolding already-disjoint stragglers must no-op")
    out: Unit
  }

  test("procedure-surface hardening (r20 review finds): zero-dir refresh, k validation, case-insensitive analyze, no-manifest refusals") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // (1) CALL compact after EVERY row was deleted (committed zero-dir
    // head) with persisted HISTOGRAM stats: the auto-refresh must
    // zero the stats as metadata, never throw 'no committed manifest'
    val dir = seeded("hz")
    spark.sql("ALTER TABLE gmeta.lake.hz SET TBLPROPERTIES " +
      "('dml.mode'='merge-on-read')")
    spark.sql("CALL gmeta.system.analyze(table => 'lake.hz', " +
      "histogram => true)")
    spark.sql("DELETE FROM gmeta.lake.hz WHERE true")
    spark.sql("CALL gmeta.system.compact(table => 'lake.hz')")
    val head = ManifestTable.headVersion(spark, dir).get
    assert(ManifestTable.pathsOf(fs, dir, head).isEmpty)
    val meta = ManifestTable.metaOf(fs, dir, head)
    assert(meta.get(ManifestTable.TableStatKey).contains("0"),
      s"zero-dir refresh must zero the table stat: " +
        meta.get(ManifestTable.TableStatKey))
    // (2) k <= 0 refuses AT the procedure, naming k
    val e1 = intercept[Exception](spark.sql(
      "CALL gmeta.system.compact(table => 'lake.hz', k => 0)"))
    assert(messages(e1).exists(_.contains("k must be positive")),
      messages(e1))
    // (3) explicit analyze columns resolve case-insensitively to the
    // declared spelling (Spark's own FOR COLUMNS contract)
    val dir2 = seeded("hcase")
    spark.sql("CALL gmeta.system.analyze(table => 'lake.hcase', " +
      "columns => 'K')")
    val head2 = ManifestTable.headVersion(spark, dir2).get
    assert(ManifestTable.metaOf(fs, dir2, head2)
      .contains(ManifestTable.ColStatPrefix + "k"),
      "the persisted colstat key must carry the DECLARED spelling")
    val e2 = intercept[Exception](spark.sql(
      "CALL gmeta.system.analyze(table => 'lake.hcase', " +
        "columns => 'nope')"))
    assert(messages(e2).exists(_.contains("unknown column 'nope'")),
      messages(e2))
    // (4) a CALL against a dir with no committed manifest refuses
    // descriptively at the catalog's arg check (isTable = committed
    // versions exist), and the procedures' own head resolution —
    // defense in depth for direct-API callers — names the dir too,
    // never a bare None.get
    wh: Unit
    val ghost = new Path(s"$wh/lake/ghostt")
    fs.mkdirs(new Path(ghost, "_manifests"))
    val e3 = intercept[Exception](spark.sql(
      "CALL gmeta.system.compact(table => 'lake.ghostt')"))
    assert(messages(e3).exists(_.contains("is not a graft table")) &&
      !messages(e3).exists(_.contains("None.get")), messages(e3))
    val e4 = intercept[IllegalArgumentException](
      graft.sources.GraftProcedures.headOrRefuse(spark, ghost.toString))
    assert(e4.getMessage.contains("no committed manifest"), e4.getMessage)
    fs.delete(ghost, true): Unit
  }

  test("unknown procedure fails with the available list") {
    wh: Unit
    val e = intercept[Exception] {
      spark.sql("CALL gmeta.system.rewrite_manifests('lake.t')").collect()
    }
    assert(e.getMessage.contains("compact") ||
      e.getMessage.contains("rewrite_manifests"))
  }

  test("$changes serves the full retained CDC feed through plain SQL") {
    seeded("c1")
    // v2 inserted (1,2); v3 inserted (10,11); an UPDATE then surfaces
    // as one delete (old image) + one insert (new image) at v4
    spark.sql("UPDATE gmeta.lake.c1 SET v = 'B!' WHERE k = 2")
    val feed = spark.sql(
      "SELECT _commit_version, change_type, k, v FROM gmeta.lake.`c1$changes` " +
        "ORDER BY _commit_version, change_type, k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    assert(feed.toSeq == Seq(
      (2L, "insert", 1, "a"), (2L, "insert", 2, "b"),
      (3L, "insert", 10, "p"), (3L, "insert", 11, "q"),
      (4L, "delete", 2, "b"), (4L, "insert", 2, "B!")))
    // tailing: a consumer filters by the versions it has not seen
    assert(spark.sql(
      "SELECT count(*) FROM gmeta.lake.`c1$changes` WHERE _commit_version > 3")
      .head().getLong(0) == 2L)
  }

  test("$changes across a schema evolution null-fills the added column") {
    seeded("c2")
    spark.sql("ALTER TABLE gmeta.lake.c2 ADD COLUMN extra STRING")
    spark.sql("INSERT INTO gmeta.lake.c2 VALUES (20,'z','ex')")
    val feed = spark.sql(
      "SELECT _commit_version, k, extra FROM gmeta.lake.`c2$changes` " +
        "ORDER BY _commit_version, k").collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.getString(2))))
    // pre-evolution inserts carry NULL for the added column (the
    // union-by-name head-shape contract); the post-evolution insert
    // carries its value. The ALTER itself (v4: metadata-only, and v5's
    // schema header) changes no rows.
    assert(feed.toSeq == Seq(
      (2L, 1, None), (2L, 2, None), (3L, 10, None), (3L, 11, None),
      (5L, 20, Some("ex"))))
  }

  test("s28 board query matches the recomputed oracle on sf0.001") {
    val r = graft.sources.Sources.s28_meta_tables(spark, sf).head()
    assert(r.getLong(0) == 3L, "ocat history: create + CTAS-append + append")
    assert(graft.sources.Sources.s28_meta_tables(spark, sf).head() == r)
  }

  test("s29 board query matches the recomputed oracle on sf0.001") {
    val r = graft.sources.Sources.s29_call_compact(spark, sf).head()
    assert(r.getLong(0) > 0)
    assert(graft.sources.Sources.s29_call_compact(spark, sf).head() == r)
  }
}
