package kvbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{FileEntry, FsSnapshotStore, KeySpec, SnapshotManifest}

/** The filesystem store with every hook timed as a [[Trace]] span. Used
  * only by traced runs; untraced runs use the plain [[FsSnapshotStore]].
  */
final class TimedStore(root: String, spark: SparkSession) extends FsSnapshotStore(root, spark) {
  import TimedStore._

  override protected def readText(rel: String): Option[String] =
    Trace.span(ControlRead)(super.readText(rel))

  override protected def writeTextCreateNew(rel: String, s: String): Unit =
    Trace.span(if (rel.endsWith(".manifest.json")) ManifestCas else ControlWrite)(
      super.writeTextCreateNew(rel, s))

  override protected def writeTextAtomic(rel: String, s: String): Unit =
    Trace.span(if (rel.endsWith("/LATEST")) LatestSwap else ControlWrite)(
      super.writeTextAtomic(rel, s))

  override protected def appendText(rel: String, s: String): Unit =
    Trace.span(if (rel.endsWith("history.jsonl")) HistoryAppend else ControlWrite)(
      super.appendText(rel, s))

  override def writeData(id: String, df: DataFrame, keySpec: KeySpec,
                         targetPartitions: Int = 0): (String, Seq[FileEntry]) = {
    val t0 = Trace.now()
    val r = Trace.span(WriteData)(super.writeData(id, df, keySpec, targetPartitions))
    Trace.mark(WriteBytes, t0, files = r._2.size, bytes = r._2.map(f => fileBytes(f.path)).sum)
    r
  }

  override def readFiles(paths: Seq[String], m: SnapshotManifest): DataFrame = {
    val t0 = Trace.now()
    val df = super.readFiles(paths, m)
    Trace.mark(ReadFiles, t0, files = paths.size,
      manifestFiles = if (m.filesRef.isEmpty) m.files.size else 0)
    df
  }
}

object TimedStore {
  val ControlRead = "store.control_read"
  val ControlWrite = "store.control_write"
  val ManifestCas = "store.manifest_cas"
  val LatestSwap = "store.latest_swap"
  val HistoryAppend = "store.history_append"
  val WriteData = "store.write_data"
  val WriteBytes = "store.write_bytes"
  val ReadFiles = "store.read_files"

  def fileBytes(path: String): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(path)))
}
