package graft.util

import org.apache.spark.sql.SparkSession

/** Checkpoint-block hygiene for long-lived sessions.
  *
  * Several query bodies materialize intermediate frames via
  * `localCheckpoint` so a stage shared by two consumers runs once
  * (`d_exact_dedup`'s digest frame, `pipe_corpus_clean`'s hash stage,
  * the incremental ledger's probe output, `DigestIndex.probe`). Those
  * frames feed the RETURNED lazy DataFrame, so the library cannot free
  * them before the caller materializes the result — and Spark's async
  * ContextCleaner only reaps them after a driver GC notices, so a
  * long-lived session (a serve loop, a notebook) accumulates dead
  * blocks per invocation until LIVE working sets get evicted to disk
  * (the measured round-7/9 block-manager-pressure failure mode).
  *
  * The caller contract, packaged: wrap each fully-materializing
  * invocation in [[scoped]] —
  *
  * {{{
  * val rows = CheckpointHygiene.scoped(spark) {
  *   Dedup.queries("d_exact_dedup")(spark, dir).collect()
  * }
  * }}}
  *
  * `scoped` snapshots the persisted-RDD id set, runs the body, and
  * unpersists every RDD persisted DURING the body that the snapshot
  * did not contain — exactly the per-round orphan discipline
  * `graft.Bench` runs. The body must CONSUME its
  * result (collect/write/count): frames that escape the scope lose
  * their checkpoint blocks and cannot be recomputed. Long-lived frames
  * built inside the scope on purpose (a first `Dedup.incrIndex` call
  * caching the session index) are persisted TABLES, not RDD blocks,
  * and are unaffected.
  *
  * CONCURRENT scopes on one session MERGE rather than race (r10
  * ADVICE): a scope that opens while another is in flight joins it —
  * the sweep runs only when the LAST overlapping scope exits, against
  * the OUTERMOST baseline, so a serve request racing a stream (or a
  * nested scope on the same thread) can never have its in-flight local
  * checkpoints unpersisted mid-computation (local checkpoints cannot
  * be recomputed — a mid-flight sweep is unrecoverable, whereas the
  * deferred sweep merely delays reclamation until the overlap ends).
  * A blocking lock would be the alternative, but a stream holding the
  * session lock through `awaitTermination` while its own foreachBatch
  * thread needs a scope would deadlock — merging is the shape that
  * composes with Structured Streaming.
  *
  * Two corollaries of the merge (r11 VERDICT/ADVICE):
  *
  *  1. '''The sweep protects scope MEMBERS only.''' A concurrent
  *     NON-scoped query on the same session is an unprotected
  *     bystander: any localCheckpoint it takes while a scope is open
  *     lands in that scope's doomed set and is unpersisted at scope
  *     exit — mid-computation if the bystander is still running
  *     (unrecoverable; local checkpoints cannot be recomputed). Every
  *     session-sharing entry point must therefore either wrap in
  *     [[scoped]] (the serve tier does: `JsonLineServer.dispatch` is a
  *     scope per call, so serve requests merge with racing bench/stream
  *     scopes — CheckpointHygieneSpec pins the race) or hold the
  *     single-flight-per-session contract: don't run un-scoped
  *     checkpoint-taking work concurrently with a scope.
  *  2. '''Merging defers reclamation to the OUTERMOST exit.''' Per-unit
  *     scopes inside a long-lived outer scope (e.g. the per-micro-batch
  *     scopes in `DocStreams.incrEvolveStream`) stop reclaiming
  *     per-unit and accumulate blocks until the outer scope ends — so
  *     do not wrap a long-running stream in an outer scope; let its
  *     per-batch scopes be outermost (documented on incrEvolveStream).
  */
object CheckpointHygiene {

  /** Per-session overlap state: open-scope depth + the outermost
    * scope's baseline. Weakly keyed so dead sessions drop their
    * entry. */
  private final class State {
    var depth: Int = 0
    var baseline: Set[Int] = null
    var blocking: Boolean = false
  }

  private val states = new java.util.WeakHashMap[SparkSession, State]()

  private def stateFor(spark: SparkSession): State = states.synchronized {
    var s = states.get(spark)
    if (s == null) { s = new State; states.put(spark, s) }
    s
  }

  /** Open-scope depth for `spark` — test seam (CheckpointHygieneSpec
    * observes a serve dispatch entering its scope). */
  private[graft] def activeDepth(spark: SparkSession): Int = {
    val st = stateFor(spark)
    st.synchronized(st.depth)
  }

  /** Run `body`, then unpersist every RDD persisted during it (see the
    * object doc for the caller contract and the overlapping-scope
    * merge). `blocking` = wait for block removal before returning —
    * pass true when the next statement is latency-sensitive (the Bench
    * lesson: async removal races the next round's execution and spikes
    * its tail); when scopes merge, any member requesting blocking
    * makes the final sweep blocking. */
  def scoped[A](spark: SparkSession, blocking: Boolean = false)(body: => A): A = {
    val st = stateFor(spark)
    st.synchronized {
      if (st.depth == 0) {
        st.baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
        st.blocking = false
      }
      st.depth += 1
      if (blocking) st.blocking = true
    }
    try body
    finally {
      // The doomed set is SNAPSHOTTED inside the lock at the depth-0
      // transition: a scope that opens after the lock releases takes a
      // baseline that still CONTAINS these ids (they are unpersisted
      // below, outside the lock), and its own new checkpoints get ids
      // not in this snapshot — so a racing opener's in-flight blocks
      // can never be swept, which enumerating getPersistentRDDs after
      // releasing the lock would not guarantee.
      val sweep = st.synchronized {
        st.depth -= 1
        if (st.depth == 0) {
          val doomed = spark.sparkContext.getPersistentRDDs.toList
            .filter { case (id, _) => !st.baseline.contains(id) }
          st.baseline = null
          Some((doomed, st.blocking))
        } else None
      }
      sweep.foreach { case (doomed, block) =>
        doomed.foreach { case (_, rdd) => rdd.unpersist(block) }
      }
    }
  }
}
