package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers. Hadoop's `.crc` checksum side files are
  * skipped everywhere: they mirror the data files and would double every
  * file count.
  */
object Fs {
  /** Identity of one file version: size, modification time, inode. */
  final case class Version(size: Long, mtime: Long, key: AnyRef)

  private def files(root: String): Seq[(Path, BasicFileAttributes)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Nil
    val s = Files.walk(p)
    try s.iterator().asScala
      .filter(f => !f.getFileName.toString.endsWith(".crc"))
      .flatMap { f =>
        // a file can vanish between listing and stat while Spark commits
        try {
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          if (a.isRegularFile) Some(f -> a) else None
        } catch { case _: java.io.IOException => None }
      }.toList
    finally s.close()
  }

  def bytes(root: String): Long = files(root).map(_._2.size).sum

  def snapshot(root: String): Map[String, Version] =
    files(root).map { case (f, a) =>
      f.toString -> Version(a.size, a.lastModifiedTime.toMillis, a.fileKey)
    }.toMap

  /** Files present in `after` that are new or changed since `before`:
    * (count, bytes).
    */
  def written(before: Map[String, Version], after: Map[String, Version]): (Long, Long) = {
    val fresh = after.filter { case (f, v) => !before.get(f).contains(v) }
    (fresh.size.toLong, fresh.values.map(_.size).sum)
  }

  def delete(root: String): Unit = {
    val f = new File(root)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => delete(c.getPath)))
    f.delete()
  }
}
