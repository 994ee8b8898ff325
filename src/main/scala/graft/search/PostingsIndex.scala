package graft.search

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.PersistedIndex

/** Persisted BM25 postings index — the distributed counterpart of the
  * serving tier's collected posting cache (`serve/Snapshot.scala`), and
  * the re-expression of the reference's persistent FTS5 index
  * (`/root/reference/src/ariadne_dbt/schema.sql:201-210`): the index is
  * BUILT ONCE and queried many times, so no per-query work may depend
  * on corpus size beyond the probe itself.
  *
  * Build: [[Bm25.postings]] (explode + one groupBy shuffle) is written
  * as a bucketed-by-term, sorted-by-term table. Bucketing is the 100 TB
  * lever: a term-keyed probe (or a join against a term-keyed workload)
  * reads only matching buckets and never re-shuffles the postings —
  * the big side of every search touches disk pre-partitioned. The
  * collection stats BM25 needs (N, avgdl, per-term df) are computed
  * once at build time: N/avgdl collapse to two scalars (broadcast as
  * literals into the scoring expression), df is a vocabulary-sized
  * table checkpointed for reuse. A `_docs` side table ((doc, doclen),
  * one row per document) carries the doc inventory so append can
  * enforce its disjointness contract at O(n_docs), not O(postings).
  *
  * Score: identical arithmetic to [[Bm25.score]] — same deterministic
  * term-ordered fold, so scores are bit-identical to the unindexed path
  * and to the DuckDB oracle — but the plan is
  * `bucketed scan → broadcast semi-join(query terms) → broadcast
  * join(df) → per-doc agg`: the only hash exchange left is the final
  * per-doc aggregation over matched rows (output-sized, not
  * corpus-sized).
  *
  * Lifecycle (drop/branch/snapshot/compact, stale-handle fail-fast,
  * auto-compact cadence) is the shared
  * [[graft.queries.PersistedIndex]] contract; the BM25 collection
  * stats (termDf/nDocs/totalDoclen) are the PostingsIndex-specific
  * state — [[append]] merges them additively so append ≡ rebuild
  * bit-for-bit, and a [[branch]]'s stats start at the base's and
  * merge per overlay append. */
final class PostingsIndex private (
    private[graft] val spark: SparkSession,
    private[graft] val baseName: String,
    private[graft] val generation: Int,
    termDf: DataFrame,
    val nDocs: Long,
    val totalDoclen: Long,
    private[graft] val cacheKey: String,
    private[graft] val parentIndex: Option[PostingsIndex] = None,
    private[graft] val buckets: Int = PostingsIndex.NumBuckets)
  extends PersistedIndex[PostingsIndex] {

  private def docsTable: String = tableName + "_docs"

  private[graft] def kindName = "PostingsIndex"
  private[graft] def logTag = "postings"
  private[graft] def scratchPrefix = "graft_po"
  private[graft] def tableSpecs = Seq(
    PersistedIndex.TableSpec("", "term", buckets),
    PersistedIndex.TableSpec("_docs", "doc", buckets))
  private[graft] def cacheGet(key: String): PostingsIndex =
    PostingsIndex.cache.get(key)
  private[graft] def cachePut(key: String, v: PostingsIndex): Unit =
    PostingsIndex.cache.put(key, v)
  private[graft] def cacheRemoveEntry(key: String, v: PostingsIndex): Unit =
    PostingsIndex.cache.remove(key, v)
  private[graft] def freshSeqNext(): Int = PostingsIndex.freshSeq.incrementAndGet()
  private[graft] def make(baseName: String, generation: Int, cacheKey: String,
      parent: Option[PostingsIndex]): PostingsIndex =
    new PostingsIndex(spark, baseName, generation, termDf, nDocs, totalDoclen,
      cacheKey, parent, buckets)

  /** Average doc length, derived from exact integer totals: doclen is
    * integral, so `totalDoclen` is exact no matter the aggregation
    * order and the division reproduces a full rebuild's avg(doclen)
    * bit-for-bit — the invariant the append path relies on. For a
    * [[branch]], nDocs/totalDoclen already carry the overlay's appends
    * (append returns a stats-merged handle), so scores keep the
    * bit-identical-to-rebuild contract. */
  val avgdl: Double = totalDoclen.toDouble / nDocs

  /** The bucketed postings table: (term, doc, doclen, tf); for a
    * [[branch]], the base's table UNIONed with the branch's delta
    * rows (the base scans in place, never copied). */
  def postings: DataFrame = { assertCurrent(); withParentView(tableName, _.postings) }

  /** The (doc, doclen) inventory — the append guard's membership set;
    * branch view as with [[postings]]. */
  private def docsInventory: DataFrame = withParentView(docsTable, _.docsInventory)

  /** Incrementally index `newDocs` (disjoint NEW doc ids — ENFORCED:
    * a delta carrying an already-indexed doc id would silently
    * double-count it, so the append guard semi-joins the delta's ids
    * against the `_docs` side table and throws on overlap; the check
    * costs O(existing docs), never O(postings)). The delta's postings
    * are appended to the SAME bucketed table (one new file per bucket
    * per append — [[compact]] periodically coalesces), df merges
    * additively, and N/totalDoclen are two scalar adds — nothing
    * corpus-sized is recomputed, which is the point at 100 TB: cost
    * scales with the delta, not the corpus. Scores from the returned
    * index are bit-identical to a full rebuild over old∪new
    * (PostingsAppendSpec). The shared of() cache is refreshed with the
    * returned instance, so later of() calls for the same corpus see
    * the merged stats (ADVICE r5 — prior handles keep stale stats;
    * use the returned instance). */
  def append(newDocs: DataFrame, idCol: String, textCol: String,
      assumeDisjoint: Boolean = false): PostingsIndex =
    appendDerived(deriveRows(newDocs, idCol, textCol), assumeDisjoint)

  /** The delta's postings rows — (doc, doclen, term, tf), lazily
    * checkpointed (the pre-derived-delta contract, r15 optimization
    * round): tokenization + tf aggregation are per-document work,
    * INDEPENDENT of index state, so a standing pipeline can derive
    * batches ahead of time — even concurrently with earlier batches'
    * serve answers — and hand this frame (or an accepted-ids semi-join
    * of it; per-doc rows make the filter commute with the derivation)
    * to [[appendDerived]]. */
  private[graft] def deriveRows(newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Bm25.postings(newDocs, idCol, textCol).localCheckpoint(false)

  /** [[append]] over pre-derived postings rows (the [[deriveRows]]
    * shape; extra columns ignored). */
  private[graft] def appendDerived(derived: DataFrame,
      assumeDisjoint: Boolean = false): PostingsIndex = {
    assertCurrent()
    // Lazy: the delta materializes inside its FIRST consumer (the
    // postings table write below) instead of paying an eager
    // checkpoint job of its own; later consumers (deltaDocs, the df
    // merge) read the materialized blocks. One job less per append on
    // the standing pipelines' per-batch floor (r15).
    val delta = derived.select(col("doc"), col("doclen"), col("term"), col("tf"))
      .localCheckpoint(false)
    // Lazy: deltaDocs materializes inside its first consumer (the
    // guard, or the docs write when assumeDisjoint) instead of paying
    // its own checkpoint job — the standing-pipeline job-floor shave
    // (r14 VERDICT #3).
    val deltaDocs = delta.select(col("doc"), col("doclen")).distinct()
      .localCheckpoint(false)
    // assumeDisjoint: caller-proven id disjointness (the evolve loops'
    // mod-10 cohort split) skips the guard — a per-batch corpus
    // doc-inventory scan (the DigestIndex.appendDerived note).
    if (!assumeDisjoint) {
      val clashes = docsInventory
        .join(broadcast(deltaDocs.select(col("doc"))), "doc")
        .limit(1).count()
      require(clashes == 0,
        s"append violates the disjointness contract: delta contains doc ids already in $tableName")
    }
    // Stats ∥ writes (r16; was stats-then-writes): the scalar agg and
    // the two DISJOINT table writes are three independent jobs over the
    // same two lazily-checkpointed delta frames, so all three submit
    // concurrently and the append wall collapses from
    // stats + max(write) to max(stats, writes).
    // Concurrent first materialization of a lazy localCheckpoint is
    // block-level-locked (getOrElseUpdate: one job computes a
    // partition, the others read the cached block), so each partition
    // still computes once. Neither commit order is load-bearing for
    // recovery: a crash strands one table either way and the handle's
    // merged stats die with the session — rebuild-or-compact is the
    // recovery in all orders.
    var stats: org.apache.spark.sql.Row = null
    graft.util.Par.join(
      () => { stats = deltaDocs
        .agg(count(lit(1)).as("n"), sum(col("doclen")).as("len")).collect().head },
      // The delta rides Bm25.postings' groupBy partitioning — no extra
      // repartition before the bucketed append (unlike writeBucketed's
      // one-file-per-bucket rewrite idiom, which compact() applies).
      () => delta.write.mode("append")
        .bucketBy(buckets, "term").sortBy("term")
        .option("path", graft.util.Scratch.dir(tableName))
        .saveAsTable(tableName),
      () => writeBucketed(deltaDocs, docsTable, "doc", buckets, "append"))
    val deltaDf = delta.groupBy("term")
      .agg(countDistinct(col("doc")).as("df"))
    // Lazy: the merged df-statistics frame materializes inside the
    // first score() that reads it (every serve batch scores), not as
    // its own per-append job; once materialized it is a checkpoint
    // boundary, so per-batch lineage still can't chain.
    val mergedDf = termDf.unionByName(deltaDf)
      .groupBy("term").agg(sum(col("df")).as("df"))
      .localCheckpoint(false)
    val merged = new PostingsIndex(spark, baseName, generation, mergedDf,
      nDocs + stats.getLong(0), totalDoclen + stats.getLong(1), cacheKey, parentIndex)
    // Branch handles never touch the shared cache — their appends are
    // caller-owned overlay state, invisible to of() callers.
    if (parentIndex.isEmpty) PostingsIndex.refresh(cacheKey, merged)
    // [scale] compact_every_appends cadence — base tables only
    if (parentIndex.isEmpty && graft.queries.IndexMaintenance.appendTick(baseName))
      merged.compact()
    else merged
  }

  /** BM25 scores for an OR-semantics term set; same contract and same
    * bit-exact values as [[Bm25.score]], minus the per-query index and
    * stats rebuild. */
  def score(queryTerms: Seq[String]): DataFrame = {
    import spark.implicits._
    val q = queryTerms.distinct.toDF("term")
    // Broadcast the query-term slice of the df statistics, not the
    // whole vocabulary (r15): termDf ⋈ q is ≤ |queryTerms| rows, so
    // one tiny broadcast replaces a vocabulary-sized one AND the
    // separate q-join (postings ⋈ (termDf ⋈ q) ≡ postings ⋈ q ⋈
    // termDf — termDf covers every postings term by construction).
    // Identical scores; every serve-answer batch pays this per call.
    val perTerm = postings
      .join(broadcast(termDf.join(q, "term")), "term")
      .select(col("doc"), col("term"),
        (log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") / (col("tf") +
            lit(Bm25.K1) * (lit(1.0) - Bm25.B + lit(Bm25.B) * col("doclen") / lit(avgdl))))).as("s"))
    perTerm.groupBy("doc")
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("score"),
        count(lit(1)).as("n_terms"))
  }
}

object PostingsIndex {

  /** Default bucket count for the persisted table. 32 matches the
    * local core count; a 1000-executor deployment raises
    * `[scale] index_buckets` (buckets are the unit of term-join
    * parallelism and file sizing; the count rides the handle from
    * build time — [[graft.queries.IndexMaintenance.indexBuckets]]). */
  val NumBuckets = 32

  // One index per (session, corpus key): queries against the same
  // corpus — repeated bench rounds, o2 + o5 in one Verify run — reuse
  // the built table instead of re-shuffling the corpus per query.
  // append()/compact() replace the entry so a later of() never
  // re-issues a stale-stats handle (ADVICE r5).
  private val cache = new ConcurrentHashMap[String, PostingsIndex]()

  private val freshSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private[search] def refresh(key: String, idx: PostingsIndex): Unit =
    cache.put(key, idx)

  /** Index over the `documents` table of `sfDir` (the gate corpus). */
  def forDocuments(spark: SparkSession, sfDir: String): PostingsIndex =
    of(graft.Tables.documents(spark, sfDir), "doc_id", "text", sfDir)

  /** Build-or-reuse an index over `docs` (needs idCol + textCol).
    * `corpusKey` names the corpus (e.g. its directory) for caching and
    * table naming. Cache key uses sessionUUID (guaranteed unique,
    * unlike identityHashCode — ADVICE r4). */
  def of(docs: DataFrame, idCol: String, textCol: String, corpusKey: String): PostingsIndex = {
    val spark = docs.sparkSession
    val key = graft.util.Scratch.sessionId(spark) + "|" + corpusKey
    cache.computeIfAbsent(key, _ => graft.util.BuildLog.timed(s"postings:$corpusKey") {
      build(spark, docs, idCol, textCol, corpusKey, key)
    })
  }

  private def build(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, corpusKey: String, cacheKey: String): PostingsIndex = {
    // Session-scoped table name + scratch path (two sessions building
    // the same corpus never clobber each other — ADVICE r5); scratch
    // lives under target/ and is reclaimed at JVM exit.
    val tableName = graft.util.Scratch.tableName(spark, "graft_postings", corpusKey)
    val docsTable = tableName + "_docs"
    val buckets = graft.queries.IndexMaintenance.indexBuckets
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    spark.sql(s"DROP TABLE IF EXISTS $docsTable")
    Bm25.postings(docs, idCol, textCol)
      .write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .option("path", graft.util.Scratch.dir(tableName))
      .saveAsTable(tableName)
    val post = spark.table(tableName)
    // Doc inventory side table ((doc, doclen), one row per doc): the
    // append guard's membership set, and the exact-integer source of
    // the collection stats (N docs + total doclen — avgdl derives from
    // them so append-merged stats reproduce a rebuild bit-for-bit).
    // Bucketed by doc like every other corpus-row-count-sized relation
    // (one row per document — billions at the 100 TB target): the
    // build, append and compact paths all write the same bucket
    // layout, so the guard's membership probe scans pre-partitioned
    // files and no path ever funnels the inventory through one task.
    post.select(col("doc"), col("doclen")).distinct()
      .repartition(buckets, col("doc"))
      .write.mode("overwrite")
      .bucketBy(buckets, "doc").sortBy("doc")
      .option("path", graft.util.Scratch.dir(docsTable))
      .saveAsTable(docsTable)
    val stats = spark.table(docsTable)
      .agg(count(lit(1)).as("n"), sum(col("doclen")).as("len"))
      .collect().head
    val termDf = post.groupBy("term")
      .agg(countDistinct(col("doc")).as("df"))
      .localCheckpoint()
    new PostingsIndex(spark, tableName, 0, termDf,
      stats.getLong(0), stats.getLong(1), cacheKey, buckets = buckets)
  }
}
