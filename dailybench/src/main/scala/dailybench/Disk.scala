package dailybench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** File-system measurements and the small readers the output checks need.
  * Everything here runs outside the timed region. */
object Disk {

  /** (relative path -> size) of every regular file under `root`. */
  def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def bytes(root: Path): Long = listing(root).values.sum

  /** Bytes of the files under `root` that are new, or changed in size,
    * since `before` was listed. Spark names every part file it writes
    * uniquely, so a rewrite shows up as a new path. */
  def bytesCreated(before: Map[String, Long], root: Path, skip: String => Boolean): Long =
    listing(root).iterator.collect {
      case (rel, size) if !skip(rel) && !before.get(rel).contains(size) => size
    }.sum

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Regular files directly under `dir` whose name passes `keep`, sorted. */
  def files(dir: Path, keep: String => Boolean): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString))
        .toSeq.sortBy(_.toString)
      finally s.close()
    }

  /** `epochs` of a store's `_manifest.properties` (the key every graft
    * store uses for its committed epoch list). */
  def manifestEpochs(store: Path): Int = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(store.resolve("_manifest.properties"))
    try p.load(in) finally in.close()
    p.getProperty("epochs", "").split(',').count(_.nonEmpty)
  }

  /** Heap plus non-heap memory in use right after a full collection, in
    * MB: what the program keeps alive at this point. */
  def liveMbAfterGc(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  def sha(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
