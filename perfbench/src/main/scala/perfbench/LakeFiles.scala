package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bytes and files written under table locations, found by walking them:
  * a file is new when its path, size or modification time was not seen
  * on the previous walk. Parquet files are data (and delete) files;
  * everything else is table metadata.
  */
final class LakeFiles {
  private val seen = mutable.HashMap.empty[String, (Long, Long)]
  var dataBytes = 0L
  var metaBytes = 0L
  var filesCreated = 0L

  /** Records what changed under `roots` since the last walk. */
  def walk(roots: Seq[String]): Unit = roots.foreach { root =>
    list(root).foreach { case (p, size, mtime) =>
      if (!seen.get(p).contains((size, mtime))) {
        seen(p) = (size, mtime)
        filesCreated += 1
        if (p.endsWith(".parquet")) dataBytes += size else metaBytes += size
      }
    }
  }

  /** Starts counting from the current state of `roots`. */
  def reset(roots: Seq[String]): Unit = {
    walk(roots)
    dataBytes = 0; metaBytes = 0; filesCreated = 0
  }

  def metadataFiles(roots: Seq[String]): Long =
    roots.flatMap(list).count(!_._1.endsWith(".parquet")).toLong

  private def list(root: String): Seq[(String, Long, Long)] = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(isHidden).map { p =>
          (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toVector
      finally s.close()
    }
  }

  // Hadoop's local file system writes a .crc beside each file
  private def isHidden(p: Path): Boolean = p.getFileName.toString.startsWith(".")
}
