package graft

import org.apache.spark.sql.functions._

import graft.queries.{EmbedIndex, MinhashIndex}

/** Crash-recovery contract of the CONCURRENT two-table appends (r16):
  * MinhashIndex/EmbedIndex submit their two disjoint table writes as
  * concurrent jobs, so a failure between/among commits can strand
  * EITHER table ahead. The contract is (a) a stranded state never adds
  * a match: below the hot-band cap the probe answers exactly what an
  * index without the stranded rows answers, and at the cap boundary
  * stranded band rows can only suppress matches (they still count
  * toward the cap); and (b) a RETRY of the failed append trips the
  * disjointness guard loudly whichever table landed first (the
  * union-of-both-id-sets guard; the former arrays-first serialized
  * order only ever guarded one direction). */
class MinhashAppendRecoverySpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  private def corpusDocs = Tables.documents(spark, d)
    .filter(pmod(col("doc_id"), lit(10)) =!= 0).select(col("doc_id"), col("text"))
  private def deltaDocs = Tables.documents(spark, d)
    .filter(pmod(col("doc_id"), lit(10)) === 0).select(col("doc_id"), col("text"))
  private def half1 = corpusDocs.filter(col("doc_id") % 2 === 1)
  private def half2 = corpusDocs.filter(col("doc_id") % 2 === 0)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("minhash: retry after a stranded ARRAYS commit trips the guard; probe benign") {
    val idx = MinhashIndex.fresh(spark, s"rec-arr|$d", half1)
    val ref = MinhashIndex.fresh(spark, s"rec-arr-ref|$d", half1)
    try {
      val before = rows(idx.probe(deltaDocs))
      // Simulate a crash that committed ONLY the arrays table.
      idx.writeBucketed(
        idx.deriveRows(half2).filter(col("sig").isNotNull)
          .select(col("doc_id"), col("hs")),
        idx.arraysTable, "doc_id", idx.buckets, "append")
      assert(rows(idx.probe(deltaDocs)) == before,
        "arrays-ahead must be probe-benign (no bands → never a candidate)")
      val e = intercept[IllegalArgumentException] { idx.append(half2) }
      assert(e.getMessage.contains("disjointness"))
      assert(rows(ref.probe(deltaDocs)) == before)
    } finally { idx.drop(); ref.drop() }
  }

  test("minhash: retry after a stranded BANDS commit trips the guard; probe benign") {
    val idx = MinhashIndex.fresh(spark, s"rec-band|$d", half1)
    val full = MinhashIndex.fresh(spark, s"rec-band-full|$d", corpusDocs)
    try {
      val before = rows(idx.probe(deltaDocs))
      // Simulate a crash that committed ONLY the bands table: splice
      // half2's band rows (taken from a full index) into idx's bands.
      idx.writeBucketed(
        full.bands.join(half2.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        idx.tableName, "band_key", idx.buckets, "append")
      assert(rows(idx.probe(deltaDocs)) == before,
        "bands-ahead must be probe-benign (candidates with no verify-side array drop)")
      val e = intercept[IllegalArgumentException] { idx.append(half2) }
      assert(e.getMessage.contains("disjointness"))
    } finally { idx.drop(); full.drop() }
  }

  test("minhash: compact() keeps stranded rows; the retry still trips a guard that says rebuild") {
    val idx = MinhashIndex.fresh(spark, s"rec-gen|$d", half1)
    var compacted = idx
    try {
      idx.writeBucketed(
        idx.deriveRows(half2).filter(col("sig").isNotNull)
          .select(col("doc_id"), col("hs")),
        idx.arraysTable, "doc_id", idx.buckets, "append")
      // compact() rewrites the tables with their content unchanged, so
      // the stranded arrays rows survive it.
      compacted = idx.compact()
      val msg = intercept[IllegalArgumentException] { compacted.append(half2) }.getMessage
      assert(msg.contains("disjointness"))
      assert(msg.contains("rebuild") && !msg.contains("compact"),
        s"the guard must name the repair that works: $msg")
    } finally { idx.drop(); compacted.drop() }
  }

  test("minhash: stranded BANDS at the hot-band cap only suppress matches; retry trips the guard") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog by the river bank"
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    val stranded = Seq((2L, text)).toDF("doc_id", "text")
    val delta = Seq((100L, text)).toDF("doc_id", "text")
    // Identical texts share all 16 band keys. Before the crash: per key
    // one corpus row + one delta row, exactly at cap = 2, so doc 100
    // matches doc 1.
    val cap = 2
    val idx = MinhashIndex.fresh(spark, "rec-cap", corpus)
    val full = MinhashIndex.fresh(spark, "rec-cap-full", corpus.union(stranded))
    def matches(): Set[(Long, Long)] =
      idx.probe(delta, cap = cap).filter(!col("is_new")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      val cleanMatches = matches()
      assert(cleanMatches == Set((100L, 1L)))
      // Simulate a crash that committed ONLY doc 2's band rows.
      idx.writeBucketed(
        full.bands.join(stranded.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        idx.tableName, "band_key", idx.buckets, "append")
      val strandedMatches = matches()
      assert(strandedMatches.subsetOf(cleanMatches),
        "a stranded state must never add a match")
      // The documented caveat: doc 2's orphan band rows push every key
      // over the cap, so the match on doc 1 is suppressed.
      assert(strandedMatches.isEmpty)
      val e = intercept[IllegalArgumentException] { idx.append(stranded) }
      assert(e.getMessage.contains("disjointness"))
    } finally { idx.drop(); full.drop() }
  }

  test("embed: retry after either stranded commit trips the guard") {
    val corpusVecs = Tables.embeddings(spark, d)
      .filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .select(col("vec_id"), col("embedding"))
    val h1 = corpusVecs.filter(col("vec_id") % 2 === 1)
    val h2 = corpusVecs.filter(col("vec_id") % 2 === 0)
    // vectors-ahead
    val a = EmbedIndex.fresh(spark, s"rec-vec|$d", h1)
    try {
      a.writeBucketed(a.deriveRows(h2).select(col("vec_id"), col("v")),
        a.vecsTable, "vec_id", a.buckets, "append")
      assert(intercept[IllegalArgumentException] { a.append(h2) }
        .getMessage.contains("disjointness"))
    } finally a.drop()
    // bands-ahead (band rows spliced from a full index)
    val b = EmbedIndex.fresh(spark, s"rec-band|$d", h1)
    val full = EmbedIndex.fresh(spark, s"rec-band-full|$d", corpusVecs)
    try {
      b.writeBucketed(
        full.bands.join(h2.select(col("vec_id")), Seq("vec_id"), "left_semi"),
        b.tableName, "pk", b.buckets, "append")
      assert(intercept[IllegalArgumentException] { b.append(h2) }
        .getMessage.contains("disjointness"))
    } finally { b.drop(); full.drop() }
  }
}
