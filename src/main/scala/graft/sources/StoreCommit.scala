package graft.sources

import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** The one commit protocol of graft's five persisted stores
  * ([[SnapshotStore]], [[graft.operators.DedupIndex]],
  * [[graft.operators.ClusterStore]], [[graft.operators.Bm25Index]] and the
  * IVF generations of [[graft.operators.Similarity]]).
  *
  * A store keeps its data in versioned directories — `epoch=<e>`
  * partitions under its epoch tables, `<prefix><g>` generation dirs at its
  * root — and ONE file names the live versions: `<dir>/_manifest.properties`,
  * a `java.util.Properties` file whose keys each store maps to its typed
  * manifest. Every mutation follows the same three steps:
  *
  *   1. [[sweep]] against the current manifest: delete every version it
  *      does not reference — residue of a crashed earlier attempt at the
  *      frozen next-epoch/next-generation names (so a re-run can never
  *      double-append) and retired versions whose post-commit delete
  *      crashed;
  *   2. stage the new versions beside the live ones, invisible to readers,
  *      who always resolve the manifest first;
  *   3. [[commit]]: [[publish]] the new manifest — written to a staged
  *      sibling, fsynced, moved over the live file in ONE atomic rename,
  *      the directory fsynced — then sweep against the new manifest, which
  *      deletes exactly the versions the mutation retired.
  *
  * A reader therefore sees the pre-op store until the rename and the
  * complete post-op store after it; recovery from a crash anywhere is
  * re-running the op. Rename atomicity is the filesystem's contract
  * (POSIX/HDFS; an object store needs its usual committer). One writer
  * per store is assumed.
  */
object StoreCommit {

  val ManifestName = "_manifest.properties"

  /** Where a store versions its data: `epochTables` hold `epoch=<e>`
    * partitions, the store root holds `<prefix><g>` dirs for each of
    * `genPrefixes`. `comment` heads the manifest file. */
  final case class Layout(comment: String, epochTables: Seq[String] = Nil,
                          genPrefixes: Seq[String] = Nil)

  /** A store's typed manifest. `fields` are its keys and values; a
    * `Seq` value is written as a comma-separated list (read it back with
    * [[Fields.epochs]]), anything else by `toString`. */
  trait Manifest {
    def layout: Layout
    def fields: Seq[(String, Any)]
    /** The committed `epoch=<e>` dirs of every epoch table. */
    def epochs: Seq[Long]
    /** The live generation of every generation prefix. */
    def generation: Option[Long] = None
  }

  /** The keys of a read manifest. */
  final class Fields private[StoreCommit] (path: Path, p: java.util.Properties) {
    def apply(key: String): String =
      Option(p.getProperty(key)).getOrElse(
        throw new IllegalStateException(s"$path has no key '$key'"))
    def epochs(key: String): Seq[Long] =
      apply(key).split(',').filter(_.nonEmpty).map(_.toLong).toSeq
  }

  private def manifestPath(dir: String): Path = Paths.get(dir, ManifestName)

  def exists(dir: String): Boolean = Files.exists(manifestPath(dir))

  def read[M](dir: String)(decode: Fields => M): M = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(manifestPath(dir))
    try p.load(in) finally in.close()
    decode(new Fields(manifestPath(dir), p))
  }

  /** Make `m` the store's live state: one atomic rename of a durable
    * staged file. A staged file a crash left behind is overwritten. */
  def publish(dir: String, m: Manifest): Unit = {
    val p = new java.util.Properties()
    for ((k, v) <- m.fields) p.setProperty(k, v match {
      case s: Seq[_] => s.mkString(",")
      case other => other.toString
    })
    val staged = Paths.get(dir, ManifestName + ".staged")
    val ch = FileChannel.open(staged, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      p.store(Channels.newOutputStream(ch), m.layout.comment)
      ch.force(true)
    } finally ch.close()
    Files.move(staged, manifestPath(dir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val d = FileChannel.open(Paths.get(dir), StandardOpenOption.READ)
    try d.force(true) finally d.close()
  }

  /** [[publish]] `m`, then delete the versions it retired. */
  def commit(dir: String, m: Manifest): Unit = {
    publish(dir, m)
    sweep(dir, m)
  }

  /** Delete every version under `dir` that `m` does not name. A failed
    * delete throws: residue left at a frozen staging name would let a
    * re-run append land on top of it and double its rows. */
  def sweep(dir: String, m: Manifest): Unit = {
    for (t <- m.layout.epochTables)
      sweepOrphans(Paths.get(dir, t), Seq("epoch="), m.epochs.contains)
    sweepOrphans(Paths.get(dir), m.layout.genPrefixes, m.generation.contains)
  }

  private def sweepOrphans(parent: Path, prefixes: Seq[String],
                           keep: Long => Boolean): Unit =
    if (prefixes.nonEmpty && Files.isDirectory(parent)) {
      val s = Files.list(parent)
      try s.forEach { p =>
        val name = p.getFileName.toString
        prefixes.find(name.startsWith)
          .flatMap(pre => name.stripPrefix(pre).toLongOption)
          .filterNot(keep).foreach(_ => deleteRecursively(p))
      } finally s.close()
    }

  /** Delete `root` and everything under it, deepest first; a missing
    * `root` is a no-op. Throws on the first failure. */
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
}
