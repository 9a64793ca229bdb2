package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

/** The per-root WRITER LEASE: one file, `<root>/_WRITER`, whose content
  * is the holder's random owner token. It serializes every writer of a
  * [[ManifestStore]] root (commits and vacuum); readers never take it.
  *
  *  - ACQUIRE is a genuinely atomic exclusive create per scheme: on
  *    `file:` Hadoop's `create(overwrite=false)` is check-then-act (a
  *    GC pause between one racer's existence check and its write once
  *    produced TWO owners under test-suite heap pressure), so the local
  *    path goes through `java.nio.Files.createFile` (O_EXCL); on other
  *    schemes the store arbitrates `create(overwrite=false)` and its
  *    result is trusted. The token is written after the claim; a
  *    concurrent owner read in that window sees an empty owner, which
  *    only the holder's own release consults (strictly after the
  *    write).
  *  - A lease older than [[WriterLeaseMs]] is presumed crashed and
  *    STOLEN via atomic rename (one stealer wins; the winner deletes the
  *    renamed-aside husk), then claimed afresh.
  *  - A lease that stays busy and fresh past [[WriterWaitMs]] fails the
  *    waiter loudly — a writer that can neither acquire nor steal must
  *    not proceed.
  *  - RELEASE deletes the file only while it still carries the caller's
  *    token: a stolen lease belongs to the thief.
  *
  * This module is the only code that reads or writes the lease file. */
object Lease {

  /** Lease file name at the store root. */
  val WriterLockName = "_WRITER"

  /** A holder silent for this long is presumed crashed and its lease is
    * stolen. Must out-live the longest commit (the lease is not
    * refreshed while held). `var` as a test seam — never set outside
    * specs. */
  private[graft] var WriterLeaseMs: Long = 15 * 60 * 1000L

  /** Bound on waiting for a live holder before failing loudly.
    * Schedulers that legitimately queue long writers behind one another
    * should serialize upstream; this bound turns an unexpected overlap
    * into a visible error instead of a hang. Test seam as above. */
  private[graft] var WriterWaitMs: Long = 60 * 1000L

  private def lockOf(root: Path): Path = new Path(root, WriterLockName)

  /** Take the lease on `root` (created if missing — a fresh store's
    * first act is taking the lease). Returns the owner token to pass to
    * [[release]]; throws after [[WriterWaitMs]] of a busy, unexpired
    * lease. */
  def acquire(fs: FileSystem, root: Path): String = {
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = lockOf(root)
    val me = java.util.UUID.randomUUID().toString
    val scheme = Option(lock.toUri.getScheme).getOrElse(fs.getScheme)
    val deadline = System.currentTimeMillis() + WriterWaitMs
    def claim(): Boolean =
      if (scheme == "file") {
        // OS-level O_EXCL create, then write the token through the
        // claimed handle's path
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(lock.toUri.getPath))
          val out = fs.create(lock, true)
          try out.write(me.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false // parent gone: busy/retry
        }
      } else {
        try {
          val out = fs.create(lock, false)
          try out.write(me.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      }
    while (!claim()) {
      // busy: steal only a lease-expired lock (atomic rename — one
      // stealer wins), then loop back to a fresh claim
      val stale =
        try {
          val st = fs.getFileStatus(lock)
          System.currentTimeMillis() - st.getModificationTime > WriterLeaseMs
        } catch { case _: java.io.IOException => false }
      if (stale) {
        val aside = new Path(lock.getParent,
          lock.getName + ".stale-" + me.take(8))
        try { if (fs.rename(lock, aside)) fs.delete(aside, false) }
        catch { case _: java.io.IOException => () }
      }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"lock ${lock.getName} busy past ${WriterWaitMs}ms at " +
            s"${lock.getParent} — the holder is alive (wait) or its " +
            "lease has not expired")
      Thread.sleep(50)
    }
    me
  }

  /** Current owner token of `root`'s lease; None when absent or
    * unreadable. */
  def owner(fs: FileSystem, root: Path): Option[String] =
    try {
      val in = fs.open(lockOf(root))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Best-effort ownership-checked release: delete the lease only while
    * it still carries `token`. */
  def release(fs: FileSystem, root: Path, token: String): Unit =
    if (owner(fs, root).contains(token))
      try fs.delete(lockOf(root), false)
      catch { case _: java.io.IOException => () }
}
