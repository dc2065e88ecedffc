package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.sources.{DeltaLog, IcebergLog}

/** `sources` layer probe: what an operation wrote under the staging
  * directory, found by walking it before and after the operation.
  */
object Sources {

  /** path -> (bytes, modified) of every file under `dir`. */
  def walk(dir: File): Map[String, (Long, Long)] = {
    def files(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(files)
      else Iterator(f)
    if (!dir.exists) Map.empty
    else files(dir).map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  /** Bytes and files written since `before`, and the live data bytes of
    * the tables they landed in (a `_delta_log/` makes a Delta table, a
    * `metadata/` an Iceberg one).
    */
  def written(spark: SparkSession, dir: File, before: Map[String, (Long, Long)]): Map[String, Double] = {
    val after = walk(dir)
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    val root = dir.getPath + File.separator
    val tables = changed.keys.flatMap { p =>
      p.stripPrefix(root).split(File.separatorChar).headOption.map(new File(dir, _))
    }.toSet.filter(_.isDirectory)
    val live = tables.toSeq.map { t =>
      val paths =
        if (new File(t, "_delta_log").isDirectory) DeltaLog.liveFiles(spark, t.getPath)
        else if (new File(t, "metadata").isDirectory) IcebergLog.liveFiles(t.getPath)
        else Nil
      paths.map { p =>
        val f = new File(p.stripPrefix("file:"))
        (if (f.isAbsolute) f else new File(t, p)).length
      }.sum
    }.sum
    Map("bytes_written" -> changed.values.map(_._1).sum.toDouble,
      "files_written" -> changed.size.toDouble,
      "live_bytes" -> live.toDouble)
  }
}
