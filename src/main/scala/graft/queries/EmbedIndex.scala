package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.util.Scratch

/** Persisted embedding sign-band index — the FIFTH persisted index,
  * closing the one asymmetry the round-10 audit left: the embedding
  * family had no ∝-delta probe path ([[Dedup.embedLshPairs]] and
  * [[Dedup.embedLshPairsMulti]] recompute bands from the vector table
  * on every call, so incremental embedding dedup re-paid the corpus).
  * This is [[MinhashIndex]] mirrored onto sign-LSH: the corpus side of
  * incremental embedding near-dup is BUILT ONCE and probed by every
  * ingest batch, so probe cost scales with the delta, never the
  * corpus.
  *
  * Two bucketed tables per corpus, both derived in one pass over the
  * normalized vectors (zero shuffle except the bucket-write
  * repartitions):
  *
  *   - `<name>`     : (vec_id, pk) — `rotations × 64/bandBits` packed
  *                    sign-band keys per vector (pk injectively packs
  *                    (rotation, band, key) into one long), bucketed
  *                    by pk so the probe's collision join reads
  *                    matching buckets without shuffling the corpus
  *                    band table;
  *   - `<name>_vec` : (vec_id, v) — the L2-normalized vector, bucketed
  *                    by vec_id, so the verifier's corpus-side vector
  *                    attach join skips its exchange.
  *
  * Band structure is IDENTICAL to [[Dedup.embedLshPairsMulti]] (same
  * [[Dedup.EmbedRotations]] affine re-tilings, same sign-bit packing),
  * so probe(delta) finds exactly the delta×corpus pairs the
  * self-contained multiprobe run finds — EmbedIndexSpec pins the
  * equivalence, and the `d_embed_incr_indexed` gate replays the bands
  * in DuckDB. Probe plan (per delta batch): delta bands + normalized
  * vectors computed scan-locally; the delta's distinct packed keys
  * BROADCAST against the corpus band table (count-gated, shuffle_hash
  * fallback — the corpus never reshuffles); hot-band cap on the
  * COMBINED per-key count; exact `graft_dot` cosine verify; best match
  * + is_new per delta vector.
  *
  * Lifecycle (drop/branch/snapshot/compact, stale-handle fail-fast,
  * auto-compact cadence) is the shared [[PersistedIndex]] contract.
  */
object EmbedIndex {

  /** Default bucket count for both tables — bounds probe parallelism
    * and file sizing, not correctness (the [[MinhashIndex.NumBuckets]]
    * sizing note; builds read `[scale] index_buckets`). */
  val NumBuckets = 32

  /** Delta key sets above this stop broadcasting into the corpus-band
    * collision join and fall back to a shuffle_hash equi-join (keys
    * move to the corpus's buckets; the corpus still never re-shuffles)
    * — the [[MinhashIndex.ProbeBroadcastMaxKeys]] envelope. */
  val ProbeBroadcastMaxKeys: Long = 4L * 1000 * 1000

  final class Index private[EmbedIndex] (
      private[graft] val spark: SparkSession,
      private[graft] val baseName: String,
      private[graft] val generation: Int,
      private[graft] val cacheKey: String,
      val bandBits: Int, val rotations: Int,
      private[graft] val parentIndex: Option[Index] = None,
      private[graft] val buckets: Int = EmbedIndex.NumBuckets)
    extends PersistedIndex[Index] {

    def vecsTable: String = tableName + "_vec"

    private[graft] def kindName = "EmbedIndex"
    private[graft] def logTag = "embed"
    private[graft] def scratchPrefix = "graft_em"
    private[graft] def tableSpecs = Seq(
      PersistedIndex.TableSpec("", "pk", buckets),
      PersistedIndex.TableSpec("_vec", "vec_id", buckets))
    private[graft] def cacheGet(key: String): Index = EmbedIndex.cache.get(key)
    private[graft] def cachePut(key: String, v: Index): Unit =
      EmbedIndex.cache.put(key, v)
    private[graft] def cacheRemoveEntry(key: String, v: Index): Unit =
      EmbedIndex.cache.remove(key, v)
    private[graft] def freshSeqNext(): Int = EmbedIndex.freshSeq.incrementAndGet()
    private[graft] def make(baseName: String, generation: Int, cacheKey: String,
        parent: Option[Index]): Index =
      new Index(spark, baseName, generation, cacheKey, bandBits, rotations,
        parent, buckets)

    /** (vec_id, pk), bucketed by pk; for a [[branch]], the base's
      * table UNIONed with the branch's delta rows. */
    def bands: DataFrame = withParentView(tableName, _.bands)
    /** (vec_id, v L2-normalized array<double>), bucketed by vec_id;
      * branch as with [[bands]]. */
    def vectors: DataFrame = withParentView(vecsTable, _.vectors)

    /** Flag each delta vector (vec_id, embedding) that is a near-dup
      * (cosine ≥ [[Dedup.EmbedCosineThreshold]] on a shared sign band)
      * of an INDEXED vector: best match (max cosine, ties to smallest
      * corpus vec_id) + `is_new` verdict per delta vector — the
      * [[MinhashIndex.Index.probe]] contract for the embedding family. */
    def probe(delta: DataFrame, cap: Int = Dedup.MaxBandSize,
        broadcastMaxKeys: Long = EmbedIndex.ProbeBroadcastMaxKeys): DataFrame =
      probeRows(delta, cap, broadcastMaxKeys).orderBy(col("vec_id"))

    /** [[probe]] without the final global vec_id sort — for COMPOSING
      * callers (the incremental ledger's embed stage) where the
      * verdicts feed a join and the orderBy's range exchange is pure
      * waste. */
    private[graft] def probeRows(delta: DataFrame, cap: Int = Dedup.MaxBandSize,
        broadcastMaxKeys: Long = EmbedIndex.ProbeBroadcastMaxKeys): DataFrame =
      probeDerived(deriveRows(delta), cap, broadcastMaxKeys)

    /** The delta's derived rows — (vec_id, v L2-normalized), lazily
      * checkpointed so the cast+norm+transform runs ONCE per batch.
      * The pre-derived-delta contract (r14 VERDICT #3): a standing
      * pipeline hands the SAME frame to [[probeDerived]], (filtered to
      * accepted ids) to [[appendDerived]], AND — because the shape is
      * exactly [[IvfIndex.Index.append]]'s input — to a serving IVF
      * branch, so one normalization feeds all three. */
    private[graft] def deriveRows(delta: DataFrame): DataFrame =
      EmbedIndex.normalized(delta).localCheckpoint(false)

    /** [[probeRows]] over pre-derived rows — any frame carrying
      * (vec_id, v); extra columns are ignored. */
    private[graft] def probeDerived(derived: DataFrame, cap: Int = Dedup.MaxBandSize,
        broadcastMaxKeys: Long = EmbedIndex.ProbeBroadcastMaxKeys,
        smallDeltaHint: Option[Boolean] = None): DataFrame = {
      assertCurrent()
      graft.functions.DotProduct.register(spark)
      val normed = derived.select(col("vec_id"), col("v"))
      val deltaBands = normed
        .select(col("vec_id"),
          explode(EmbedIndex.packedKeys(spark, bandBits, rotations)).as("pk"))
        .localCheckpoint(false)

      // Corpus rows of colliding keys only — count-gated broadcast of
      // the delta's key set (the corpus band table scans in place,
      // bucketed, no exchange); bulk re-probes past the gate equi-join
      // with the shuffle_hash hint pinned (see MinhashIndex.probeRows).
      // Small-delta path: LEFT SEMI against the delta's RAW key column
      // (r16 probe fusion — the MinhashIndex.probeDerived shape: a semi
      // join deduplicates by definition, so the distinct stage leaves
      // the hot path; collidingKeys stays for the gate/prune/bulk uses).
      val collidingKeys = deltaBands.select(col("pk")).distinct()
        .localCheckpoint(false)
      // smallDeltaHint: caller-asserted delta ≪ corpus skips the
      // count-gate job (the [[DigestIndex.Index.probeDerived]] note).
      val smallDelta =
        smallDeltaHint.getOrElse(collidingKeys.count() <= broadcastMaxKeys)
      def keyProbe(keys: DataFrame): DataFrame =
        if (smallDelta) broadcast(keys) else keys.hint("shuffle_hash")
      val prunedBands = pruneScanToKeys(bands, "pk", collidingKeys)
      val corpusHits = (if (smallDelta)
          prunedBands.join(broadcast(deltaBands.select(col("pk"))),
            Seq("pk"), "left_semi")
        else prunedBands.join(collidingKeys.hint("shuffle_hash"), "pk"))
        .localCheckpoint(false)

      // Combined hot-band cap as ONE union-aggregate (r16, the
      // MinhashIndex.probeDerived shape): corpus hits + delta rows per
      // key == capHotBands' count over the union; cn>0 ∧ dn>0
      // reproduces the former inner join of the two count frames.
      val keptKeys = deltaBands
        .select(col("pk"), lit(1L).as("dn0"), lit(0L).as("cn0"))
        .unionAll(corpusHits.select(col("pk"), lit(0L).as("dn0"), lit(1L).as("cn0")))
        .groupBy(col("pk"))
        .agg(sum(col("dn0")).as("dn"), sum(col("cn0")).as("cn"))
        .filter(col("cn") > 0 && col("dn") > 0 && col("cn") + col("dn") <= cap)
        .select(col("pk"))

      val candPairs0 = deltaBands.join(keyProbe(keptKeys), "pk").as("x")
        .join(corpusHits.as("y"), Seq("pk"))
        .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("dup_of"))
        .distinct()
      // Verify-side scan pruning under [scale] probe_bucket_prune_keys
      // (r16 — the MinhashIndex.probeDerived note: the vectors attach
      // otherwise scans the whole corpus-sized vectors table per
      // probe; knob off leaves the plan byte-identical).
      val candPairs =
        if (IndexMaintenance.probeBucketPruneKeys > 0) candPairs0.localCheckpoint(false)
        else candPairs0
      val corpusVectors = pruneScanToKeys(vectors, "vec_id",
        candPairs.select(col("dup_of").as("vec_id")).distinct())

      // Exact cosine verify: delta vectors ride the checkpointed
      // normalized frame; corpus vectors attach from the bucketed
      // table (no exchange on that side).
      val verified = candPairs
        .join(normed.select(col("vec_id"), col("v").as("va")), "vec_id")
        .join(corpusVectors.select(col("vec_id").as("dup_of"), col("v").as("vb")), "dup_of")
        .select(col("vec_id"), col("dup_of"), expr("graft_dot(va, vb)").as("cosine"))
        .filter(col("cosine") >= Dedup.EmbedCosineThreshold)

      // max_by under groupBy, not a row_number window (r16 — the
      // MinhashIndex.probeDerived note): map-side partial agg, no
      // sort; (cosine, -dup_of) key ≡ (cosine DESC, dup_of ASC).
      val best = verified
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("dup_of"), col("cosine")),
          struct(col("cosine"), -col("dup_of"))).as("b"))
        .select(col("vec_id"), col("b.dup_of").as("dup_of"),
          col("b.cosine").as("cosine"))
      normed.select(col("vec_id"))
        .join(best, Seq("vec_id"), "left")
        .select(col("vec_id"), col("dup_of"), col("cosine"),
          col("dup_of").isNull.as("is_new"))
    }

    /** Incrementally index `newVecs` ((vec_id, embedding) rows with
      * NEW vec_ids — ENFORCED by the disjointness guard below).
      * Bands and vectors derive scan-locally from the delta; nothing
      * corpus-sized recomputes. The two table commits submit
      * CONCURRENTLY (r16 — the [[MinhashIndex.Index.append]] recovery
      * contract): a partial failure can strand either table, and
      * neither stranded state can ADD a match (vectors without bands
      * never become candidates; bands without vectors become
      * candidates the verify-side vector attach drops). Bands-ahead
      * can SUPPRESS candidates at the cap boundary: the stranded band
      * rows still count toward the hot-band cap (`cn + dn <= cap`), so
      * a key that sat exactly at the cap goes over it and its
      * candidates drop until the index is rebuilt. The retry guard
      * probes the UNION of both tables' id sets, so either stranded
      * state trips it loudly. Rebuild to reconcile. */
    def append(newVecs: DataFrame): Index =
      appendDerived(deriveRows(newVecs))

    /** [[append]] over pre-derived rows (the [[deriveRows]] /
      * [[probeDerived]] contract) — skips the re-normalization when
      * the caller already derived the batch for its probe. Extra
      * columns are ignored. */
    private[graft] def appendDerived(derived: DataFrame,
        assumeDisjoint: Boolean = false): Index = {
      assertCurrent()
      val normed = derived.select(col("vec_id"), col("v"))
      // Disjointness guard on the UNION of both tables' id sets (r16,
      // the price of the concurrent two-table commit below — see
      // [[append]]'s recovery note): a partial failure can strand
      // either table, so a retry must trip whichever side landed. The
      // bands side re-adds a single-column corpus-band scan (rotations
      // × groups × corpus rows) on the GUARDED path only; the standing
      // pipelines assert disjointness and skip it (the
      // [[DigestIndex.Index.appendDerived]] note).
      if (!assumeDisjoint) {
        val clashes = vectors.select(col("vec_id"))
          .unionAll(bands.select(col("vec_id")))
          .join(broadcast(normed.select(col("vec_id"))), "vec_id").limit(1).count()
        require(clashes == 0,
          s"append violates the disjointness contract: delta contains vec_ids already in " +
            s"$vecsTable or $tableName (an id present in one table but absent from the " +
            "other means a previous append failed between its two commits — rebuild to " +
            "reconcile)")
      }
      // Disjoint tables off one checkpointed frame — concurrent jobs
      // (the MinhashIndex/PostingsIndex two-table idiom; the union
      // guard above makes the commit order non-load-bearing).
      graft.util.Par.join(
        () => writeBucketed(normed.select(col("vec_id"), col("v")),
          vecsTable, "vec_id", buckets, "append"),
        () => writeBucketed(
          normed.select(col("vec_id"),
            explode(EmbedIndex.packedKeys(spark, bandBits, rotations)).as("pk")),
          tableName, "pk", buckets, "append"))
      // [scale] compact_every_appends cadence — base tables only
      if (parentIndex.isEmpty && IndexMaintenance.appendTick(baseName)) compact()
      else this
    }
  }

  /** L2 normalization of raw (vec_id, embedding) rows — identical fp
    * order to [[Dedup]]'s normalization (cast → norm2 → transform
    * divide), so index vectors and the oracle's `e` CTE agree
    * bit-for-bit. */
  private[queries] def normalized(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .withColumn("nrm", sqrt(VectorOps.norm2(col("v0"))))
      .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))

  /** The `rotations × 64/bandBits` PACKED sign-band keys of normalized
    * vector column `v` as ONE codegen kernel call (`graft_bands`,
    * [[graft.functions.BandKeys]]): pk = (rotation·groups + band)
    * << bandBits | key, where key is [[Dedup.embedLshPairsMulti]]'s
    * affine-rotated sign packing exactly — the packing is injective in
    * (rotation, band, key), so pk collisions ⟺ multiprobe band
    * collisions. Registers the function on `spark` (idempotent) so the
    * returned `expr` resolves. */
  private[queries] def packedKeys(spark: SparkSession, bandBits: Int,
      rotations: Int): Column = {
    graft.functions.BandKeys.register(spark)
    expr(s"graft_bands(v, $bandBits, $rotations)")
  }

  /** The packed-key COLUMN FORMULA `graft_bands` replaced — kept as
    * the parity reference BandKeysSpec pins the kernel against (and
    * the shape the r13 Verify log showed blowing Janino's 64 KB
    * method limit at production geometry, disabling codegen on every
    * embed-band stage). Not used on any production path. */
  private[graft] def packedKeyCols(bandBits: Int, rotations: Int): Seq[Column] = {
    require(bandBits >= 1 && bandBits <= 48 && 64 % bandBits == 0,
      s"bandBits must divide 64 and leave header room in a long key (got $bandBits)")
    require(rotations >= 1 && rotations <= Dedup.EmbedRotations.size,
      s"rotations in [1, ${Dedup.EmbedRotations.size}] (got $rotations)")
    val groups = 64 / bandBits
    for { r <- 0 until rotations; g <- 0 until groups } yield {
      val (a, b) = Dedup.EmbedRotations(r)
      val key = (0 until bandBits).map { bb =>
        val src = (a * (g * bandBits + bb) + b) % 64
        when(element_at(col("v"), src + 1) > 0, lit(1L << bb)).otherwise(lit(0L))
      }.reduce(_ + _)
      (lit((r.toLong * groups + g) << bandBits) + key).as(s"pk_${r}_$g")
    }
  }

  private val cache = new ConcurrentHashMap[String, Index]()

  /** Build-or-reuse the index for `corpusKey` at the given band
    * geometry; `corpus` is by-name — on a cache hit it never
    * evaluates. Distinct geometries index into distinct tables. */
  def of(spark: SparkSession, corpusKey: String, corpus: => DataFrame,
      bandBits: Int = Dedup.EmbedBandBits, rotations: Int = 4): Index = {
    val key = Scratch.sessionId(spark) + s"|$corpusKey|b$bandBits|r$rotations"
    cache.computeIfAbsent(key, _ => graft.util.BuildLog.timed(s"embed:$corpusKey") {
      build(spark, s"$corpusKey|b$bandBits|r$rotations", corpus, key,
        bandBits, rotations)
    })
  }

  private val freshSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Build an UNcached, caller-owned index (the [[MinhashIndex.fresh]]
    * contract: per-invocation mutation must never leak into the shared
    * of() instances; call [[Index.drop]] when done). */
  def fresh(spark: SparkSession, corpusKey: String, corpus: DataFrame,
      bandBits: Int = Dedup.EmbedBandBits, rotations: Int = 4): Index =
    graft.util.BuildLog.timed(s"embed-fresh:$corpusKey") {
      val k = s"$corpusKey#${freshSeq.incrementAndGet()}"
      build(spark, k, corpus, Scratch.sessionId(spark) + "|" + k,
        bandBits, rotations)
    }

  private def build(spark: SparkSession, corpusKey: String, corpus: DataFrame,
      cacheKey: String, bandBits: Int, rotations: Int): Index = {
    graft.functions.DotProduct.register(spark)
    val tableName = Scratch.tableName(spark, "graft_em", corpusKey)
    val vecsTable = tableName + "_vec"
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    spark.sql(s"DROP TABLE IF EXISTS $vecsTable")
    val normed = normalized(corpus).localCheckpoint()
    val idx = new Index(spark, tableName, 0, cacheKey, bandBits, rotations,
      buckets = IndexMaintenance.indexBuckets)
    idx.writeBucketed(
      normed.select(col("vec_id"),
        explode(packedKeys(spark, bandBits, rotations)).as("pk")),
      tableName, "pk", idx.buckets, "overwrite")
    idx.writeBucketed(normed.select(col("vec_id"), col("v")),
      vecsTable, "vec_id", idx.buckets, "overwrite")
    idx
  }
}
