package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.search.PostingsIndex
import graft.util.Par

/** Contract of the standing pipelines' stage overlap (upfront
  * concurrent batch derivation + serve-answer/next-ledger overlap):
  * the pre-derived postings append path equals the classic text
  * append, and the [[Par.async]] one-sided barrier keeps
  * join-and-rethrow semantics. The overlapped answers themselves are
  * pinned against fresh rebuilds by EvolveServeSpec and the
  * `pipe_incr_clean_serve` oracle.
  */
class PipelineOverlapSpec extends SparkSuite {

  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("postings appendDerived(pre-derived semi-join) == append(filtered docs)") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "beta delta"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha alpha epsilon"), (20L, "zeta beta"),
      (30L, "rejected doc body")).toDF("doc_id", "text")
    val accepted = Seq(10L, 20L).toDF("doc")
    val run = java.util.UUID.randomUUID().toString.take(8)

    def scores(po: PostingsIndex): Seq[(Long, Double)] =
      po.score(Seq("alpha", "beta")).orderBy(col("doc"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val classic = PostingsIndex.of(corpus, "doc_id", "text", s"ovl-classic-$run")
      .append(batch.filter(col("doc_id") =!= 30L), "doc_id", "text")
    // The pre-derived path: full-batch postings rows derived first
    // (index-state-independent), accepted ids semi-joined after — the
    // per-doc rows make the filter commute with the derivation.
    val derivedIdx = PostingsIndex.of(corpus, "doc_id", "text", s"ovl-derived-$run")
    val preDerived = derivedIdx.deriveRows(batch, "doc_id", "text")
    Par.materialize(preDerived)
    val derived = derivedIdx.appendDerived(
      preDerived.join(accepted, Seq("doc"), "left_semi"))
    try {
      val c = scores(classic)
      assert(c.map(_._1) == Seq(1L, 2L, 10L, 20L))
      assert(scores(derived) == c, "pre-derived append drifted from classic append")
    } finally { classic.drop(); derived.drop() }
  }

  test("async: sync mode runs inline; parallel mode joins and rethrows") {
    // The synchronous path of the barrier: a single thunk runs inline
    // on the calling thread, before join returns.
    val caller = Thread.currentThread()
    var ranOn: Thread = null
    Par.join(() => { ranOn = Thread.currentThread(); () })
    assert(ranOn eq caller, "a single thunk must run inline")
    Par.Handle.done.await() // the nothing-in-flight handle is a no-op join

    val n = new AtomicInteger(0)
    val h = Par.async(() => { Thread.sleep(30); n.incrementAndGet(); () })
    h.await()
    assert(n.get() == 1)
    h.await() // idempotent

    val h2 = Par.async(() => throw new IllegalStateException("boom"))
    assert(intercept[IllegalStateException](h2.await()).getMessage == "boom")
    assert(intercept[IllegalStateException](h2.await()).getMessage == "boom",
      "a failure is kept, not consumed by the first await")
    h2.awaitQuietly() // quiet join never throws
  }
}
