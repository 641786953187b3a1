package graft

import graft.operators.{Bm25Index, ClusterStore, DedupIndex, Similarity}
import graft.sources.{SnapshotStore, StoreCommit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The manifest format of all five stores, through [[StoreCommit]]. Each
  * case pins a store's manifest file as written before the stores shared
  * one commit protocol (comment line, then keys in `Properties` order; the
  * timestamp line is skipped), so stores written by either version read
  * back the same. */
class StoreCommitSpec extends AnyFunSuite {

  private case class Case(store: String, manifest: StoreCommit.Manifest,
                          read: String => StoreCommit.Manifest, file: Seq[String])

  private val cases = Seq(
    Case("snapshot store, empty", SnapshotStore.Manifest(Seq.empty, 0L),
      SnapshotStore.readManifest,
      Seq("#graft snapshot store manifest", "nextEpoch=0", "epochs=")),
    Case("snapshot store", SnapshotStore.Manifest(Seq(3L, 4L), 5L),
      SnapshotStore.readManifest,
      Seq("#graft snapshot store manifest", "nextEpoch=5", "epochs=3,4")),
    Case("dedup index, empty",
      DedupIndex.Manifest(DedupIndex.Config(), Seq.empty, 0L), DedupIndex.readManifest,
      Seq("#graft MinHash signature index manifest", "numHashes=64", "seed=42",
        "nextEpoch=0", "bands=16", "epochs=", "n=5")),
    Case("dedup index",
      DedupIndex.Manifest(DedupIndex.Config(3, 32, 8, 7L), Seq(0L, 1L), 2L),
      DedupIndex.readManifest,
      Seq("#graft MinHash signature index manifest", "numHashes=32", "seed=7",
        "nextEpoch=2", "bands=8", "epochs=0,1", "n=3")),
    Case("cluster store, empty",
      ClusterStore.Manifest(ClusterStore.Config(), 0L, -1L, Seq.empty, 0L, 0L),
      ClusterStore.readManifest,
      Seq("#graft near-dup cluster store manifest", "n_docs=0", "max_doc_id=-1",
        "clustersGen=0", "threshold=0.5", "nextEpoch=0", "epochs=", "n=5")),
    Case("cluster store",
      ClusterStore.Manifest(ClusterStore.Config(4, 0.75), 100L, 99L, Seq(2L), 3L, 1L),
      ClusterStore.readManifest,
      Seq("#graft near-dup cluster store manifest", "n_docs=100", "max_doc_id=99",
        "clustersGen=1", "threshold=0.75", "nextEpoch=3", "epochs=2", "n=4")),
    Case("bm25 index, empty", Bm25Index.Manifest(0L, 0L, 64, Seq.empty, 0L, 0L),
      Bm25Index.readManifest,
      Seq("#graft bm25 index manifest", "mass=0", "nextEpoch=0", "epochs=", "n=0",
        "dictGen=0", "numBuckets=64")),
    Case("bm25 index", Bm25Index.Manifest(10L, 200L, 16, Seq(0L, 1L), 2L, 1L),
      Bm25Index.readManifest,
      Seq("#graft bm25 index manifest", "mass=200", "nextEpoch=2", "epochs=0,1",
        "n=10", "dictGen=1", "numBuckets=16")),
    Case("ivf index", Similarity.IvfManifest(3L),
      d => Similarity.IvfManifest(Similarity.ivfGen(d)),
      Seq("#graft ivf index manifest", "gen=3")))

  private def manifestLines(dir: Path): Seq[String] = {
    val lines = Files.readAllLines(dir.resolve(StoreCommit.ManifestName)).asScala.toSeq
    lines.head +: lines.drop(2) // line 2 is the write timestamp
  }

  private def withFile(lines: Seq[String]): Path = {
    val dir = Files.createTempDirectory("store_commit")
    Files.write(dir.resolve(StoreCommit.ManifestName),
      (lines.head +: "#Thu Jan 01 00:00:00 UTC 2026" +: lines.tail).asJava)
    dir
  }

  for (c <- cases) {
    test(s"${c.store}: the manifest writes and reads the pinned format") {
      val dir = Files.createTempDirectory("store_commit")
      StoreCommit.publish(dir.toString, c.manifest)
      assert(manifestLines(dir) === c.file)
      assert(c.read(withFile(c.file).toString) === c.manifest)
    }

    test(s"${c.store}: a staged manifest left by a crash neither blocks nor alters the next commit") {
      val dir = withFile(c.file)
      val staged = dir.resolve(StoreCommit.ManifestName + ".staged")
      Files.writeString(staged, "epochs=99\ngen=99\ntruncated garbage that is not a manifest\n" * 50)
      assert(c.read(dir.toString) === c.manifest, "an uncommitted staged file is invisible")
      StoreCommit.publish(dir.toString, c.manifest)
      assert(manifestLines(dir) === c.file)
      assert(c.read(dir.toString) === c.manifest)
      assert(!Files.exists(staged), "publish moves the staged file into place")
    }
  }
}
