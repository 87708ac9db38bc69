package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{ManifestTable, MergeInto}

/** S33 — zero-copy shallow clone: metadata-only table copy whose
  * entries reference the source's immutable dirs; independent history
  * from commit one; compaction makes it self-contained. */
class GraftCloneSpec extends SparkTestBase {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-clone").toString
    spark.conf.set("spark.sql.catalog.gcln", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcln.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcln.lake")
    dir
  }
  private def fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())

  private def dataFileCount(dir: String): Int = {
    def walk(p: Path): Int =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
    if (fs.exists(new Path(dir))) walk(new Path(dir)) else 0
  }

  test("clone is metadata-only, equal to the source, and independent both ways") {
    wh: Unit
    val s = spark; import s.implicits._
    val src = Files.createTempDirectory("graft-cs").toString + "/t"
    ManifestTable.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), src,
      statsCols = Seq("k"), retainGenerations = 10)
    ManifestTable.append(Seq((10, "p"), (11, "q")).toDF("k", "v"), src,
      statsCols = Seq("k"), retainGenerations = 10)
    val dst = Files.createTempDirectory("graft-cd").toString + "/t"
    ManifestTable.shallowClone(spark, src, dst, retainGenerations = 10)
    // no data file was copied — the clone dir holds only the manifest
    assert(dataFileCount(dst) == 0, "shallow clone must copy no data")
    assert(ManifestTable.read(spark, dst).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2, 10, 11))
    // stats carried: a pruned scan of the CLONE opens only one foreign dir
    val pruned = ManifestTable.rangeScan(spark, dst, "k", "10", "11")
    assert(pruned.count() == 2L)
    assert(scannedFiles(pruned).map(_.split("/").dropRight(1).last)
      .distinct.length == 1, "clone must prune by carried stats")
    // independence: a write to the clone never touches the source ...
    ManifestTable.append(Seq((20, "z")).toDF("k", "v"), dst,
      statsCols = Seq("k"), retainGenerations = 10)
    assert(ManifestTable.read(spark, src).count() == 4L)
    // ... and a source write never appears in the clone
    ManifestTable.append(Seq((30, "s")).toDF("k", "v"), src,
      statsCols = Seq("k"), retainGenerations = 10)
    assert(ManifestTable.read(spark, dst).count() == 5L)
    // row-level DML on the clone rewrites LOCALLY; source files intact
    val srcFiles = dataFileCount(src)
    ManifestTable.deleteWhere(spark, dst, col("k") === 1,
      Map("k" -> ("1", "1")), retainGenerations = 10)
    assert(ManifestTable.read(spark, dst).count() == 4L)
    assert(dataFileCount(src) == srcFiles, "clone DML must not touch source files")
    assert(ManifestTable.read(spark, src).count() == 5L)
  }

  test("compacting the clone makes it self-contained (deep-clone finisher)") {
    val s = spark; import s.implicits._
    val src = Files.createTempDirectory("graft-cs2").toString + "/t"
    ManifestTable.append((1 to 50).map(i => (i, s"v$i")).toDF("k", "v"), src,
      statsCols = Seq("k"), retainGenerations = 10)
    val dst = Files.createTempDirectory("graft-cd2").toString + "/t"
    ManifestTable.shallowClone(spark, src, dst, retainGenerations = 10)
    ManifestTable.compactAppend(spark, dst, Seq("k"), k = 2,
      retainGenerations = 2)
    // torch the ENTIRE source table — the compacted clone must not care
    fs.delete(new Path(src).getParent, true)
    assert(ManifestTable.read(spark, dst).count() == 50L)
    assert(ManifestTable.livePaths(fs, dst).forall(p => !p.contains(":/")),
      "post-compaction entries must all be local")
  }

  test("a bucketed source clones with its geometry; merges stay local to the clone") {
    val s = spark; import s.implicits._
    val src = Files.createTempDirectory("graft-cs3").toString + "/t"
    MergeInto.create((1L to 12L).map(k => (k, s"v$k")).toDF("k", "v"),
      src, "k", nBuckets = 4)
    val dst = Files.createTempDirectory("graft-cd3").toString + "/t"
    ManifestTable.shallowClone(spark, src, dst, retainGenerations = 10)
    assert(MergeInto.bucketedGeometry(spark, dst).contains(("k", 4)))
    MergeInto.merge(Seq((2L, "upd"), (99L, "ins")).toDF("k", "v"), dst)
    val cloneRows = MergeInto.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cloneRows(2L) == "upd" && cloneRows(99L) == "ins" &&
      cloneRows.size == 13)
    // the source never saw the merge
    val srcRows = MergeInto.read(spark, src).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(srcRows(2L) == "v2" && !srcRows.contains(99L))
    // point lookup works on the clone (foreign + local buckets mixed)
    assert(MergeInto.lookup(spark, dst, Seq(99L).toDF("k"))
      .head().getString(1) == "ins")
  }

  test("CALL system.clone creates the target through the catalog") {
    wh: Unit
    spark.sql("DROP TABLE IF EXISTS gcln.lake.csrc")
    spark.sql("CREATE TABLE gcln.lake.csrc (k INT, v STRING) " +
      "TBLPROPERTIES ('statsCols'='k', 'retainGenerations'='10', " +
      "'check.pos'='k > 0')")
    spark.sql("INSERT INTO gcln.lake.csrc VALUES (1,'a'),(2,'b')")
    val r = spark.sql(
      "CALL gcln.system.clone(source => 'lake.csrc', target => 'lake.cdst')")
      .head()
    assert(r.getInt(1) >= 1)
    assert(spark.table("gcln.lake.cdst").count() == 2L)
    // declared properties (incl. CHECK contracts) carried to the clone
    intercept[Exception] {
      spark.sql("INSERT INTO gcln.lake.cdst VALUES (-5,'bad')")
    }
    spark.sql("INSERT INTO gcln.lake.cdst VALUES (3,'c')")
    assert(spark.table("gcln.lake.cdst").count() == 3L)
    assert(spark.table("gcln.lake.csrc").count() == 2L)
    // target collisions and missing namespaces fail loudly
    intercept[Exception] {
      spark.sql("CALL gcln.system.clone(source => 'lake.csrc', target => 'lake.cdst')")
    }
    intercept[Exception] {
      spark.sql("CALL gcln.system.clone(source => 'lake.csrc', target => 'nope.x')")
    }
  }

  test("clone drops txn watermarks AND tag pointers (both name the source's history)") {
    val s = spark; import s.implicits._
    val src = Files.createTempDirectory("graft-ct").toString + "/t"
    ManifestTable.append(Seq((1, "a")).toDF("k", "v"), src,
      retainGenerations = 10)
    ManifestTable.append(Seq((2, "b")).toDF("k", "v"), src,
      retainGenerations = 10)
    ManifestTable.tag(spark, src, "rel", Some(1L), retainGenerations = 10)
    val dst = Files.createTempDirectory("graft-ct").toString + "/c"
    ManifestTable.shallowClone(spark, src, dst, retainGenerations = 10)
    val head = ManifestTable.headVersion(spark, dst).get
    val meta = ManifestTable.metaOf(fs, dst, head)
    assert(!meta.keys.exists(_.startsWith("tag:")),
      "a clone's fresh history cannot carry source-version tag pointers")
    // the clone can tag its OWN history immediately
    ManifestTable.tag(spark, dst, "mine", retainGenerations = 10)
    assert(spark.read.format("graft").option("versionAsOf", "mine")
      .load(dst).count() == 2L)
  }

  test("clone-of-a-clone passes foreign entries through") {
    val s = spark; import s.implicits._
    val a = Files.createTempDirectory("graft-cc").toString + "/a"
    ManifestTable.append(Seq((1, "x")).toDF("k", "v"), a,
      retainGenerations = 10)
    val b = Files.createTempDirectory("graft-cc").toString + "/b"
    val c = Files.createTempDirectory("graft-cc").toString + "/c"
    ManifestTable.shallowClone(spark, a, b, retainGenerations = 10)
    ManifestTable.shallowClone(spark, b, c, retainGenerations = 10)
    assert(ManifestTable.read(spark, c).count() == 1L)
    // all three reference the SAME physical dir — one entry, no copies
    assert(ManifestTable.livePaths(fs, c) == ManifestTable.livePaths(fs, b))
  }

  test("s33 board query matches the recomputed oracle on sf0.001") {
    val r = graft.sources.Sources.s33_shallow_clone(spark, sf).head()
    assert(r.getLong(0) > 0)
    assert(graft.sources.Sources.s33_shallow_clone(spark, sf).head() == r)
  }
}
