package graftbench

import java.io.File

/** Files under a lake table's directory, read from outside graft. */
object LakeFiles {
  def files(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles).map(_.toSeq).getOrElse(Nil).flatMap(files)

  def bytesUnder(dir: File): Long = files(dir).filterNot(hidden).map(_.length).sum

  /** Hadoop's checksum side files are not table data. */
  def hidden(f: File): Boolean = f.getName.startsWith(".") && f.getName.endsWith(".crc")
}

/** Bytes of files that appear under a table directory between polls,
  * split into data (data/) and metadata (metadata/) files. */
final class DirWatch(root: File) {
  private val seen = scala.collection.mutable.Map.empty[String, Long]
  var dataBytes = 0L
  var metaBytes = 0L

  /** New (data, metadata) bytes since the last poll. */
  def poll(): (Long, Long) = {
    var d = 0L; var m = 0L
    LakeFiles.files(root).foreach { f =>
      val p = f.getPath
      if (!seen.contains(p) && !LakeFiles.hidden(f)) {
        val n = f.length
        seen(p) = n
        if (p.contains(File.separator + "metadata" + File.separator)) m += n else d += n
      }
    }
    dataBytes += d; metaBytes += m
    (d, m)
  }
}
