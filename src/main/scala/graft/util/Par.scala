package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Concurrent Spark-job submission for INDEPENDENT per-batch index
  * appends.
  *
  * The standing evolve/serve pipelines append each batch's survivors
  * to up to five persisted indexes (digest, minhash, embed bands,
  * postings, IVF — `EvolveServe.cleanServe`). Each append is 1–4 tiny
  * delta-sized jobs whose wall-clock at scale is DOMINATED by per-job
  * scheduling + commit latency (~0.2–0.3 s each at local[32];
  * `CLEAN_SERVE_BUDGET.json` prices the serialized append stage at
  * ~5.6 s/batch against ~1.4 s of actual work). The five appends write
  * DISJOINT tables of DISTINCT indexes, so submitting them from
  * concurrent threads is semantics-preserving — Spark schedules jobs
  * from multiple threads against one SparkContext by design (the
  * classic "job concurrency within an application" pattern;
  * local-mode FIFO interleaves tiny jobs without starvation), the
  * session catalog's table operations are synchronized, and every
  * shared mutable structure on the append path is already concurrent
  * (BuildLog's queue, IndexMaintenance's per-key atomics, Scratch's
  * synchronized registries).
  *
  * Contract: the thunks MUST be mutually independent — none may read
  * state another writes. Writes to DISJOINT tables may be submitted
  * concurrently even within one index where commit order is proven
  * non-load-bearing for crash recovery: PostingsIndex (either stranded
  * table requires rebuild-or-compact — `appendDerived`'s note) and,
  * since r16, MinhashIndex/EmbedIndex (their append guards probe the
  * UNION of both tables' id sets, so a retry after a crash between
  * concurrent commits trips loudly whichever table landed first; the
  * former arrays-first/vectors-first serialized order is retired with
  * that guard change — see each `appendDerived`). The evolve loops
  * stay structurally independent ACROSS indexes: one append per index
  * per batch, probes strictly before or after the join barrier.
  * [[join]] always awaits EVERY thunk before returning or rethrowing —
  * a failure never leaves a sibling's bucketed write racing the
  * caller's cleanup (`drop()` in a finally).
  */
object Par {

  /** Fully materialize lazily-checkpointed frames concurrently: each
    * traversal computes every partition, persisting the frame's
    * localCheckpoint blocks, so K batches' index-state-independent
    * derivations cost max-of-K instead of sum-of-K on the standing
    * pipelines' walls. */
  def materialize(dfs: org.apache.spark.sql.DataFrame*): Unit =
    join(dfs.map(df => () => { df.queryExecution.toRdd.count(); () }): _*)

  /** One asynchronously-running thunk with join-and-rethrow semantics —
    * the one-sided [[join]], for overlapping a Spark-job-submitting
    * stage (a serve-answer materialization) with the caller's next
    * stage (the following batch's cleaning ledger).
    * [[Handle.await]] rethrows the thunk's failure — on EVERY await
    * (the failure is kept, not consumed: a caller that catches the
    * first throw and awaits again, or two independent awaiters, must
    * never observe a spurious success — r15 ADVICE);
    * [[Handle.awaitQuietly]] only joins (for cleanup paths that must
    * not mask the primary failure). Both are idempotent joins. */
  def async(thunk: () => Unit): Handle = {
    val h = new Handle(thunk)
    h.thread.start()
    h
  }

  final class Handle private[Par] (thunk: () => Unit) {
    @volatile private var failure: Throwable = null
    private[Par] val thread: Thread = if (thunk == null) null else
      new Thread(() => {
        try thunk() catch { case t: Throwable => failure = t }
      }, "graft-par-async")
    def awaitQuietly(): Unit = if (thread != null) {
      // Uninterruptible join — the [[join]] barrier argument: the
      // caller must never race ahead of an in-flight job into cleanup.
      var interrupted = false
      var done = false
      while (!done) {
        try { thread.join(); done = true }
        catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
    def await(): Unit = {
      awaitQuietly()
      // failure stays set: every await() of a failed thunk throws (a
      // consumed-on-first-await failure would let a catch-and-re-await
      // caller, or a second awaiter, observe a spurious success).
      if (failure != null) throw failure
    }
  }
  object Handle { val done = new Handle(null) }

  /** Run `thunks` to completion concurrently on a fresh
    * one-thread-per-thunk pool (the pool threads are created by the
    * calling thread, so Spark's inheritable thread-locals — job group,
    * local properties — carry over); a single thunk runs inline.
    * Awaits ALL thunks; if any failed, rethrows the FIRST failure (by
    * thunk order) after the last thunk has finished. */
  def join(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) { thunks.foreach(_()); return }
    val pool = Executors.newFixedThreadPool(thunks.size)
    try {
      val futures = thunks.map(t => pool.submit(new Callable[Unit] {
        def call(): Unit = t()
      }))
      var firstFailure: Throwable = null
      var interrupted = false
      futures.foreach { f =>
        // Await UNINTERRUPTIBLY: an interrupt of the calling thread
        // must not let it race ahead of in-flight bucketed writes
        // into its cleanup (the awaits-every-thunk contract) — the
        // interrupt is remembered and re-asserted after the barrier.
        var done = false
        while (!done) {
          try { f.get(); done = true }
          catch {
            case e: ExecutionException =>
              done = true
              if (firstFailure == null) firstFailure = e.getCause
            case _: InterruptedException => interrupted = true
          }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }
}
