package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{MinhashSig, TextHash}
import graft.functions.TextHash.{shingles, tokens}

/** Pins the contract of the scan-local `graft_minhash` kernel: its
  * `[m0..m31, n]` output must be BIT-IDENTICAL to the retired
  * explode → xxhash64 → groupBy(32 × min) aggregation formulation —
  * the two are the same arithmetic in different physical shapes, and
  * the DuckDB oracles for the minhash-family gates were authored
  * against the aggregation's semantics. */
class MinhashSigSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  /** The retired aggregation formulation over hashed shingle rows
    * (doc_id, hm = h mod P): 32 × min of the affine permutations plus
    * the distinct-shingle count — the reference the kernel must equal. */
  private def minhashSignaturesAgg(sh: DataFrame): DataFrame = {
    val sigCols = (0 until MinhashSig.NumPerms)
      .map(i => min(TextHash.minhashPerm(col("hm"), i)).as(s"m$i")) :+ count(lit(1)).as("n")
    sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  test("graft_minhash equals the aggregation formulation bit for bit") {
    MinhashSig.register(spark)
    val docs = Tables.documents(spark, d)
    val sh = docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .withColumn("hm", pmod(col("h"), lit(TextHash.P)))
    val agg = minhashSignaturesAgg(sh).collect()
      .map(r => r.getLong(0) -> (1 to 33).map(r.getLong).toVector).toMap
    val kernel = docs
      .select(col("doc_id"), expr("graft_minhash(text)").as("sig"))
      .filter(col("sig").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(agg.nonEmpty && agg.keySet == kernel.keySet)
    agg.foreach { case (id, v) =>
      assert(kernel(id) == v, s"doc $id: kernel=${kernel(id)} agg=$v")
    }
  }

  test("documents without a 3-token shingle return null (absent, as in the agg)") {
    MinhashSig.register(spark)
    import spark.implicits._
    val out = Seq((1L, "two tokens"), (2L, "now three tokens"), (3L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("graft_minhash(text)").as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(out(1L) == null && out(3L) == null)
    assert(out(2L) != null && out(2L).last == 1L, "one distinct shingle")
  }
}
