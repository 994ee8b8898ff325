package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.EngineConfig

/** Config-wired entry points for the production scale knobs
  * (`graft.toml [scale]` → [[graft.config.ScaleConfig]]).
  *
  * The oracle-gated queries pin spec-stable literal widths (8-bit
  * embedding bands, 10-bit shards, 8 pack shards) so their DuckDB
  * oracles replay byte-identically; a deployment that needs the
  * production widths calls THESE instead — the width comes from the
  * loaded configuration, never a code edit (r9 VERDICT #8; the r10
  * review caught that the parsed knobs previously had no runtime
  * consumer). ScaleOpsSpec pins each delegation against the directly
  * parameterized call.
  */
object ScaleOps {

  /** Banded embedding near-dup pairs at the configured sign-band width
    * (`[scale] embed_band_bits`). */
  def embedLshPairs(s: SparkSession, d: String, cfg: EngineConfig,
      cap: Int = Dedup.MaxBandSize): DataFrame =
    Dedup.embedLshPairs(s, d, cap, cfg.scale.embedBandBits)

  /** Multi-probe variant at the configured width AND rotation count —
    * the recall knob on top of the width knob (wide bands + rotations
    * is the 100k+ corpus recipe; frontier in `BENCH_embed_bands.json`,
    * SURVEY §9.12). `[scale] embed_rotations`. */
  def embedLshPairsMulti(s: SparkSession, d: String, cfg: EngineConfig,
      cap: Int = Dedup.MaxBandSize): DataFrame =
    Dedup.embedLshPairsMulti(s, d, cap, cfg.scale.embedBandBits,
      cfg.scale.embedRotations)

  /** The embed-stage incremental cleaning ledger at the configured
    * ACTING tier (`[scale] embed_act_cos`, default 0.9 =
    * [[Dedup.EmbedActThreshold]]): the cosine a probe match must reach
    * before the ledger flags `embed_dup`. The gate-pinned ledgers act
    * at the 0.9 default — the tier sign-LSH measurably recalls; a
    * deployment that adds a recall route for a looser tier (e.g. the
    * IVF-assisted `d_embed_neardup_ivf` candidates) can lower it HERE,
    * not by editing the verifier floor. */
  def incrCleanEmbed(s: SparkSession, d: String, cfg: EngineConfig): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val delta = graft.Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val deltaVecs = graft.Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), col("embedding"))
    CorpusClean.incrLedger(s, delta, Dedup.digestIndex(s, d), Dedup.incrIndex(s, d),
      Some((Dedup.embedIndex(s, d), deltaVecs)), cfg.scale.embedActCos)
      .orderBy(col("doc_id"))
  }

  /** Deterministic global training-order shuffle at the configured
    * shard width (`[scale] shard_bits`). */
  def globalShuffle(s: SparkSession, d: String, cfg: EngineConfig): DataFrame =
    TrainPrep.globalShuffle(s, d, cfg.scale.shardBits)

  /** Composed mix → shuffle → pack at the configured shard width. */
  def trainPrep(s: SparkSession, d: String, cfg: EngineConfig): DataFrame =
    TrainPrep.trainPrep(s, d, cfg.scale.shardBits)

  /** Sequence packing at the configured shard count
    * (`[scale] seq_pack_shards`). */
  def seqPack(s: SparkSession, d: String, cfg: EngineConfig): DataFrame =
    TrainPrep.seqPack(s, d, cfg.scale.seqPackShards)

  /** SQ8 two-stage ANN at the configured rerank pool width
    * (`[scale] sq8_cands`, default 50 = the gate-pinned `ann_sq8`
    * pool): stage 1 ranks the persisted int8 codes and keeps `pool`
    * candidates per query, stage 2 reranks them with the exact float
    * cosine — the pool is the memory/recall trade a serving preset
    * sizes (recall@10-vs-pool curve measured in `BENCH_sq8.json`). `prune` composes the IVF bucket prune in
    * front (the `ann_ivf_sq8` stack). */
  def annSq8(s: SparkSession, d: String, cfg: EngineConfig,
      prune: Boolean = false): DataFrame =
    Ann.sq8TopKFor(s, d, cfg.scale.sq8Cands, prune)

  /** PQ two-stage ANN at the configured rerank pool width
    * (`[scale] pq_cands`, default 50 = the gate-pinned `ann_pq` pool):
    * stage 1 ranks the persisted packed code words (8 bytes/vector —
    * the rung below SQ8 on the memory ladder) and keeps `pool`
    * candidates per query, stage 2 reranks exact-float; `prune`
    * composes the IVF bucket prune in front (the `ann_ivf_pq` stack).
    * `[scale] pq_wide` (default true) serves off the G8 wide-codebook
    * words — the measured recall rung at the same 8 bytes (0.43 vs
    * 0.36 @ 128k pool 50, BENCH_sq8.json) — on BOTH the unpruned and
    * the IVF-pruned stack (r14 VERDICT #4: the production serving
    * shape gets the measured-best geometry; gate `ann_ivf_pq_w8`).
    * Recall-vs-pool priced next to SQ8 in `BENCH_sq8.json`. */
  def annPq(s: SparkSession, d: String, cfg: EngineConfig,
      prune: Boolean = false): DataFrame =
    AnnPq.pqTopKFor(s, d, cfg.scale.pqCands, prune,
      wide = cfg.scale.pqWide)

  /** The embed-stage cleaning ledger WITH the mid-tier discovery feed
    * (r12 VERDICT optional #8): the IVF pair route's 0.45–0.7 matches
    * — the tier sign-LSH physically cannot band, which the ledger
    * therefore never ACTS on — surfaced as REPORT-ONLY columns
    * (`mid_dup_of`, `mid_cosine` = the best below-acting-tier
    * geometric match for each delta doc). Verdicts and `keep` are
    * bit-identical to [[incrCleanEmbed]] (ScaleOpsSpec pins it): the
    * feed gives a data-governance review the candidates a human (or a
    * stronger verifier) might act on, without moving the measured
    * acting contract. */
  def incrCleanEmbedDiscover(s: SparkSession, d: String,
      cfg: EngineConfig): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val pairs = embedNearDupIvf(s, d, cfg)
    val sym = pairs
      .select(col("vec_a").as("doc_id"), col("vec_b").as("mid_dup_of"), col("cosine"))
      .unionByName(pairs
        .select(col("vec_b").as("doc_id"), col("vec_a").as("mid_dup_of"), col("cosine")))
      .filter(pmod(col("doc_id"), lit(10)) === 0 &&
        col("cosine") < lit(cfg.scale.embedActCos))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cosine").desc, col("mid_dup_of"))
    val best = sym.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("mid_dup_of"), col("cosine").as("mid_cosine"))
    incrCleanEmbed(s, d, cfg)
      .join(best, Seq("doc_id"), "left")
      .orderBy(col("doc_id"))
  }

  /** IVF-assisted mid-tier embedding pair DISCOVERY at the configured
    * centroid sizing (`[scale] ivf_pair_bucket`): centroids =
    * max(16, n / bucket) — the FLAT-BUCKET rule the
    * `BENCH_embed_ivf.json` sweep committed (bucket size stays flat as n grows ⇒ candidate
    * volume stays LINEAR in n, where the r12 √n rule grew it ~n^1.5
    * with falling recall — SURVEY §9.12). bucket = 0 (the default)
    * keeps √n for parity with the r12 artifact rows. The route's
    * contract is bounded-recall DISCOVERY of the 0.45–0.7 tier —
    * ledgers ACT only at ≥ `embed_act_cos` where sign-LSH recalls
    * 1.0 measured. */
  def embedNearDupIvf(s: SparkSession, d: String, cfg: EngineConfig,
      probe: Int = 2): DataFrame = {
    val n = graft.Tables.embeddings(s, d).count()
    val centroids =
      if (cfg.scale.ivfPairBucket > 0)
        math.max(16L, n / cfg.scale.ivfPairBucket).toInt
      else math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    Ann.embedPairsIvfAt(s, d, centroids, probe)
  }
}
