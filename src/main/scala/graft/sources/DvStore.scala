package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile

/** S41 — deletion-vector position loading for the V2 scan.
  *
  * Every read surface — SQL, the DataFrame API, and the engine's own
  * internal reads (ManifestTable.readMasked) — is the V2 scan, which
  * filters row positions INSIDE its partition readers
  * ([[GraftDvReaderFactory]], the one masking implementation). That
  * needs the positions on the driver at plan time — the same move
  * Delta makes (DV descriptors load driver-side and ship with the
  * scan). The dv files
  * are small by the feature's contract (deletion vectors serve
  * SELECTIVE deletes; bulk deletes take the copy-on-write path and
  * compaction materializes accumulated masks away), and the loader
  * enforces that contract with a hard cap rather than silently letting
  * a driver OOM happen at 100 TB.
  *
  * Read with parquet-hadoop's Group reader directly — plan-time code
  * must not launch a Spark job (nested execution inside planning).
  * Every reader is built on the CALLER's conf (the session's Hadoop
  * conf, already loaded), never through `ParquetReader.builder(rs,
  * path)`: that builder starts from a bare `new Configuration()` whose
  * first lookup re-parses `core-default.xml`/`core-site.xml` by a
  * classpath search — 12–14 ms per dv file on the ~290-jar Spark
  * classpath (warm JVM, 4-core host), against 1.2–2 ms for a reader on
  * the session conf, paid by every masked scan's planning. */
private[sources] object DvStore {

  /** Positions per data-file key, loaded from `dvDirs` (each a
    * `_dv/<name>/d=<i>` parquet dataset of (path, pos)). Keys and the
    * probe side are both normalized through `Path.toString`, so the
    * `file:///x` vs `file:/x` rendering difference between dv files
    * staged from `_metadata.file_path` (older writers) and a listed
    * `FileStatus` path can never miss. Arrays come back SORTED for the readers' pointer walk.
    * None = the scan's masks exceed `cap` positions — the caller falls
    * back to per-reader EXECUTOR-side loading instead of inching the
    * driver toward an OOM. */
  def tryReadPositions(conf: Configuration, dvDirs: Seq[Path],
                       cap: Long = graft.ScaleKnobs.DvDriverPositionCap)
      : Option[Map[String, Array[Long]]] = {
    val acc = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    var total = 0L
    dvDirs.foreach { dir =>
      val hit = scanDir(conf, dir) { (key, pos) =>
        total += 1
        if (total > cap) false
        else {
          acc.getOrElseUpdate(key,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += pos
          true
        }
      }
      if (!hit) return None
    }
    Some(acc.view.mapValues(_.toArray.sorted).toMap)
  }

  /** ONE file's mask, read where the reader runs (the executor
    * fallback past the driver cap): scans the dv dirs keeping only
    * `fileKey`'s positions — per-task I/O is the dv dirs covering that
    * file's commit dir, which the masks' per-dir layout keeps small. */
  def positionsForFile(conf: Configuration, dvDirs: Seq[Path],
                       fileKey: String): Array[Long] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[Long]
    dvDirs.foreach(dir => scanDir(conf, dir) { (key, pos) =>
      if (key == fileKey) acc += pos
      true
    })
    acc.toArray.sorted
  }

  /** Stream (path, pos) records of one dv dir into `f`; `f` returning
    * false aborts the scan (the cap check). Returns whether the scan
    * ran to completion. */
  private def scanDir(conf: Configuration, dir: Path)(
      f: (String, Long) => Boolean): Boolean = {
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    files.foreach { st =>
      val reader = new ParquetReader.Builder[Group](
          HadoopInputFile.fromStatus(st, conf),
          new HadoopParquetConfiguration(conf)) {
        override protected def getReadSupport(): ReadSupport[Group] =
          new GroupReadSupport()
      }.build()
      try {
        var g = reader.read()
        while (g != null) {
          if (!f(new Path(g.getString("path", 0)).toString,
              g.getLong("pos", 0)))
            return false
          g = reader.read()
        }
      } finally reader.close()
    }
    true
  }

  /** Canonical match key for a planned file. */
  def keyOf(p: Path): String = p.toString
}
