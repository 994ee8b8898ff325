package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.queries.{DigestIndex, MinhashIndex}
import graft.util.Par

/** Contract of the concurrent append barrier ([[graft.util.Par.join]]):
  * parallel submission of distinct indexes' appends is
  * semantics-preserving (probes equal the appends run one after the
  * other), the join awaits EVERY thunk before returning or rethrowing,
  * and the first failure propagates. */
class ParAppendSpec extends SparkSuite {

  import spark.implicits._

  private def docs(ids: Long*) =
    ids.map(i => (i, s"doc number $i body word$i tail")).toDF("doc_id", "text")

  test("parallel appends to distinct indexes == sequential appends (probe-equal)") {
    val corpus = docs(1L, 2L, 3L)
    val delta = docs(10L, 20L)
    val probe = docs(10L, 20L, 30L)

    def buildAppendProbe(tag: String, parallel: Boolean) = {
      val dg = DigestIndex.fresh(spark, s"parspec-dg-$tag", corpus)
      val mh = MinhashIndex.fresh(spark, s"parspec-mh-$tag", corpus)
      try {
        val appends = Seq(
          () => { dg.append(delta); () },
          () => { mh.append(delta); () })
        if (parallel) Par.join(appends: _*) else appends.foreach(_())
        val dgRows = dg.probe(probe).orderBy(col("doc_id")).collect()
          .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
        val mhRows = mh.probe(probe).orderBy(col("doc_id")).collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1),
            r.getBoolean(3))).toSeq
        (dgRows, mhRows)
      } finally { dg.drop(); mh.drop() }
    }

    val seq = buildAppendProbe("seq", parallel = false)
    val par = buildAppendProbe("par", parallel = true)
    assert(par == seq)
    assert(seq._1.nonEmpty)
  }

  test("join runs every thunk exactly once, parallel and sequential") {
    // 5 thunks run on the pool; 1 thunk (and none) take the inline path
    for (k <- Seq(5, 1, 0)) {
      val n = new AtomicInteger(0)
      Par.join((1 to k).map(_ => () => { n.incrementAndGet(); () }): _*)
      assert(n.get() == k)
    }
  }

  test("a failing thunk propagates AFTER every sibling completed") {
    val done = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Par.join(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(50); done.incrementAndGet(); () },
        () => { Thread.sleep(50); done.incrementAndGet(); () })
    }
    assert(e.getMessage == "boom")
    // the join barrier awaited the slow siblings before rethrowing —
    // no append job is still in flight when the caller's finally runs
    assert(done.get() == 2)
  }
}
