package graft.operators

/** JVM-exit cleanup of harness temp directories: ONE shutdown hook
  * draining a queue, however many dirs get registered (r17 ADVICE:
  * `SketchIngest.replayDocs` registered a fresh hook — and parked a
  * thread — per invocation, and bench/scale passes invoke the replay
  * gates dozens of times per JVM; ClusterStore/DedupIndex each carried
  * their own copy of the same per-dir pattern). Registration order is
  * preserved; deletion is best-effort and deepest-first — a file
  * vanishing in the shutdown race with Spark's own hooks must never kill
  * the drain mid-queue. */
object TempDirs {

  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Queue `p` for deletion at JVM exit (the one hook registers itself on
    * first use). Returns `p` for inline wrapping of createTempDirectory. */
  def registerForCleanup(p: java.nio.file.Path): java.nio.file.Path = {
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        var d = dirs.poll()
        while (d != null) {
          try graft.sources.StoreCommit.deleteRecursively(d)
          catch { case scala.util.control.NonFatal(_) => () }
          d = dirs.poll()
        }
      }, "graft-tempdirs-cleanup"))
    dirs.add(p)
    p
  }
}
