package graft.operators

/** Overlap INDEPENDENT Spark actions inside one operator (guide §2.6:
  * "Overlap independent jobs — Spark's scheduler happily runs several
  * jobs at once inside one application; actions are only sequential
  * because your driver code calls them sequentially").
  *
  * The lifecycle gates run pairs of independent actions back to back —
  * a stored-index probe and its in-memory reference lane, or two
  * staged writes of disjoint outputs. Each such action is a short fan
  * of small tasks that leaves most cores idle on its tail; running the
  * pair concurrently lets the second job's tasks back-fill the first
  * job's stragglers. Results are identical by construction (the two
  * sides share no mutable state — that independence is the caller's
  * contract), and at a LOW core count the scheduler simply interleaves
  * the two jobs FIFO, so scaling measurements stay honest.
  *
  * One extra thread per call (daemon, named, unpooled): these run a
  * handful of times per query, never per row. Exceptions from either
  * side propagate to the caller — the helper unwraps the
  * ExecutionException so failure behavior matches sequential code.
  *
  * If the caller-thread side `a` throws, the helper cancels `b`
  * (thread interrupt — Spark's result-wait responds to it) and waits a
  * bounded moment for the side thread to stop BEFORE rethrowing:
  * callers run cleanup in their failure handlers (staging-dir deletes,
  * lease release), and that cleanup must not race a still-running `b`
  * writing into the directories being removed. The join is bounded so
  * a side stuck in non-interruptible I/O cannot convert one failure
  * into a hang; what such a side leaves behind is an unreferenced
  * segment, which vacuum reaps as it does for a crashed writer's. */
private[graft] object Par {

  def two[A, B](a: => A, b: => B): (A, B) = {
    val fb = new java.util.concurrent.FutureTask[B](() => b)
    val t = new Thread(fb, "graft-par")
    t.setDaemon(true)
    t.start()
    val ra =
      try a // caller's thread does the first side
      catch {
        case e: Throwable =>
          fb.cancel(true) // interrupt b; Spark action waits are interruptible
          t.join(30000L) // bounded: don't trade a failure for a hang
          throw e
      }
    val rb =
      try fb.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    (ra, rb)
  }
}
