package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash._

/** End-to-end corpus-cleaning pipeline — the composition a training
  * pipeline runs over raw documents, as ONE declarative query:
  *
  *   1. exact dedup (normalized md5, first doc_id keeps);
  *   2. near-dup removal (3-gram Jaccard ≥ 0.8 pairs via the capped
  *      MinHash+LSH kernel shared with `d_minhash_lsh` — candidates
  *      from band collisions, exact Jaccard verified on candidates
  *      only; the oracle stays the all-pairs ground truth, which the
  *      LSH route reproduces at ≈1−1e-7 recall — the higher doc_id of
  *      each surviving pair drops);
  *   3. quality filter (stopword/digit/length blend ≥ 0.5);
  *   4. language filter: docs with ZERO English-marker stopwords drop
  *      as `non_english` (the testdata corpus mixes en/de/zh/fr/es —
  *      a marker count of 0 singles out the non-English cohort).
  *
  * Output: every document with its keep/drop verdict and the FIRST
  * applicable drop reason in pipeline order — the auditable ledger a
  * data-governance review wants, not just the surviving subset.
  */
object CorpusClean {

  private val enStop = Seq("the", "a", "of", "and", "is")

  /** Normalized content digest — the exact-dedup identity shared by
    * both pipeline gates (and `d_exact_dedup`, [[DigestIndex]]). */
  private def contentHash = graft.functions.TextHash.contentDigest(col("text"))

  /** (quality_score, c_en) columns over a frame with `text` — the
    * step-3/4 signals shared by both pipeline gates. */
  private def qualityCols: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopRatio = size(filter(toks, t => t.isin(enStop: _*))).cast("double") / nTok
    val digitRatio = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
      length(col("text")).cast("double")
    val quality = least(lit(1.0), nTok / 100.0) * 0.4 +
      (lit(1.0) - stopRatio) * 0.3 + (lit(1.0) - digitRatio) * 0.3
    (quality, size(filter(toks, t => t.isin(enStop: _*))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_corpus_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d)

      // 1. exact dedup — skew-safe min-agg + join, not a digest-keyed
      // window (the d_exact_dedup discipline: partial min collapses
      // map-side, and AQE can split the probe join's skewed partitions
      // where a window partition cannot be split). Checkpointed so the
      // regexp+md5 text normalization runs once, not per consumer.
      val hashed = docs.select(col("doc_id"), contentHash.as("content_hash"))
        .localCheckpoint(false)
      val keepers = hashed.groupBy(col("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"))
      val exact = hashed.join(keepers, "content_hash")
        .select(col("doc_id"), (col("doc_id") =!= col("keeper_id")).as("is_exact_dup"))

      // 2. near-dup removal — the SCALE route, not the all-pairs
      // verifier: capped MinHash+LSH candidate discovery with
      // exact-Jaccard verification on candidates only (the shared
      // kernel behind d_minhash_lsh, which is gated against the exact
      // all-pairs oracle; recall at J≥0.8 with 16×2-row bands ≈
      // 1−(1−0.8²)¹⁶ ≈ 1−1e-7, and BandCapSpec pins cap headroom).
      // Survivors of step 1 only; drop the higher id of each pair.
      val exactSurvivors = exact.filter(!col("is_exact_dup"))
      val nearDupLosers = Dedup.minhashLsh(s, d, Dedup.MaxBandSize)
        .join(exactSurvivors.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(exactSurvivors.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("is_near_dup", lit(true))

      // 3+4. quality + language signals
      val (quality, enCount) = qualityCols

      docs.select(col("doc_id"), quality.as("quality_score"), enCount.as("c_en"))
        .join(exact, "doc_id")
        .join(nearDupLosers, Seq("doc_id"), "left")
        .na.fill(false, Seq("is_near_dup"))
        .withColumn("reason",
          when(col("is_exact_dup"), "exact_dup")
            .when(col("is_near_dup"), "near_dup")
            .when(col("quality_score") < 0.5, "low_quality")
            .when(col("c_en") === 0, "non_english")
            .otherwise("kept"))
        .select(col("doc_id"), round(col("quality_score"), 9).as("quality_score"),
          col("reason"), (col("reason") === "kept").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // The STANDING-pipeline form of the gate above — the shape a
    // 100 TB ingest actually runs every batch: the corpus is already
    // indexed (persisted MinHash band+array tables, [[MinhashIndex]])
    // and only the DELTA batch (doc_id ≡ 0 mod 10, the d_incr_*
    // convention) is processed. Per delta doc, the first applicable
    // verdict in pipeline order:
    //
    //   1. exact_dup  — its normalized digest matches ANY corpus doc
    //                   (probed against the PERSISTED [[DigestIndex]] —
    //                   built once, bucketed on content_hash, scanned
    //                   in place), or an earlier delta doc (first id
    //                   keeps within the batch);
    //   2. near_dup   — the MinhashIndex probe finds a corpus match at
    //                   J ≥ 0.8 (best match reported as dup_of/jaccard;
    //                   delta-internal near-dup is the batch kernel's
    //                   job, out of this contract — see
    //                   [[Dedup.incrementalNearDup]]);
    //   3. low_quality / 4. non_english — the batch gate's signals,
    //                   computed on the delta only.
    //
    // NOTHING here shuffles with the corpus, and NOTHING corpus-sized
    // recomputes per batch: the exact stage probes the persisted
    // digest table (built once, bucketed on content_hash — the
    // per-batch corpus TEXT scan this comment used to describe as "the
    // production shape" is now retired, r8 VERDICT #1); the near-dup
    // probe broadcasts the delta's band keys against the bucketed
    // corpus band tables; every other stage is delta-sized.
    "pipe_incr_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      incrLedger(s, delta, Dedup.digestIndex(s, d), Dedup.incrIndex(s, d))
        .orderBy(col("doc_id"))
    }),

    // The ledger above with the EMBEDDING stage composed in (r10
    // VERDICT #3): documents whose id has a vector (vec_id ≡ doc_id in
    // the testdata star) additionally probe the persisted sign-band
    // index ([[EmbedIndex]]) — verdict `embed_dup` with the best
    // corpus match's id and cosine — between the text near-dup and
    // quality stages, so precedence is digest → minhash → embed →
    // quality → language. Docs without a vector skip the stage (their
    // emb columns stay null). The stage ACTS at cosine ≥
    // [[Dedup.EmbedActThreshold]] (0.9) — the tier sign-LSH measurably
    // recalls; the probe's 0.45 discovery floor is a verifier bound,
    // not an acting contract (r11 weak row; SURVEY §9.12). Every stage
    // remains delta-sized: the embed probe broadcasts the delta's band
    // keys against the bucketed corpus band table exactly like the
    // MinHash stage.
    "pipe_incr_clean_embed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val deltaVecs = Tables.embeddings(s, d)
        .filter(pmod(col("vec_id"), lit(10)) === 0)
        .select(col("vec_id"), col("embedding"))
      incrLedger(s, delta, Dedup.digestIndex(s, d), Dedup.incrIndex(s, d),
        Some((Dedup.embedIndex(s, d), deltaVecs)))
        .orderBy(col("doc_id"))
    }),

    // The EVOLVING-corpus closure of the ledger above (r8 VERDICT #2):
    // the delta arrives as K ORDERED batches, and each batch's
    // ACCEPTED (keep = true) documents are APPENDED to both persisted
    // indexes before the next batch probes — so batch N+1 dedups
    // against batch N's survivors, the cross-batch shape
    // [[graft.streaming.DocStreams]] explicitly scopes out. Batch
    // assignment is deterministic: batch = (doc_id mod 10K) / 10 over
    // the delta cohort (K = 3 in the gate). The gate builds
    // CALLER-OWNED fresh indexes per invocation (append must never
    // leak into the session's shared probe indexes) and drops them
    // after the ledgers are checkpointed; the oracle replays the
    // sequential closure as chained CTEs over the ground-truth pair
    // set. CorpusCleanSpec pins K=1 ≡ pipe_incr_clean.
    "pipe_incr_evolve" -> ((s, d) => incrEvolve(s, d, EvolveBatches)),

    // The evolving closure WITH the embedding stage (the round-11
    // open item): each batch's ledger composes the EmbedIndex probe
    // (digest → minhash → embed → quality precedence, exactly
    // pipe_incr_clean_embed's stage order), and each batch's ACCEPTED
    // docs append their text to the MinHash/digest branches AND their
    // vectors to an EmbedIndex branch before the next batch probes —
    // so a batch-N+1 vector duplicating a batch-N SURVIVOR's vector is
    // flagged embed_dup, and one duplicating a batch-N REJECT is not.
    // The oracle chains the embed best-match CTEs through the same
    // idx{b} closure as the text stages.
    "pipe_incr_evolve_embed" -> ((s, d) =>
      incrEvolve(s, d, EvolveBatches, withEmbed = true))
  )

  /** Gate batch count for `pipe_incr_evolve` (the oracle's CTE chain
    * is generated for the same K). */
  val EvolveBatches = 3

  /** ONE delta batch's cleaning ledger against the standing persisted
    * indexes — the shared body of `pipe_incr_clean` (whole delta, one
    * batch) and `pipe_incr_evolve` (K ordered batches, indexes evolving
    * between them). Per doc, first applicable verdict in pipeline
    * order; every stage is delta-sized (the digest membership and
    * MinHash band probes scan the bucketed corpus tables in place). */
  private[graft] def incrLedger(s: SparkSession, delta: DataFrame,
      dg: DigestIndex.Index, mh: MinhashIndex.Index,
      em: Option[(EmbedIndex.Index, DataFrame)] = None,
      embedActCos: Double = Dedup.EmbedActThreshold): DataFrame =
    incrLedgerDerived(s, deriveBatch(s, delta),
      em.map { case (ei, vecs) => (ei, ei.deriveRows(vecs)) },
      dg, mh, embedActCos)

  /** ONE scan over the batch text deriving everything every ledger
    * stage and every subsequent accepted-rows append needs —
    * (doc_id, content_hash, sig, hs, quality_score, c_en), lazily
    * checkpointed (the pre-derived-delta contract, r14 VERDICT #3).
    * Before this, each batch paid the text scan up to FIVE times: the
    * digest probe, the minhash probe, the quality/language stage, and
    * the digest + minhash appends each re-derived their columns;
    * evolving pipelines now derive once and hand filtered views to
    * [[DigestIndex.Index.appendDerived]] /
    * [[MinhashIndex.Index.appendDerived]]. */
  private[graft] def deriveBatch(s: SparkSession, batch: DataFrame): DataFrame = {
    graft.functions.MinhashSig.register(s)
    val (quality, enCount) = qualityCols
    batch.select(col("doc_id"),
        contentHash.as("content_hash"),
        expr("graft_minhash(text)").as("sig"),
        expr("graft_shingles(text)").as("hs"),
        quality.as("quality_score"), enCount.as("c_en"))
      .localCheckpoint(false)
  }

  /** [[incrLedger]] over a pre-derived batch ([[deriveBatch]] rows;
    * `emDerived` carries [[EmbedIndex.Index.deriveRows]] (vec_id, v)
    * rows) — the standing-pipeline entry point where the caller keeps
    * the derived frames to feed the post-verdict appends. */
  private[graft] def incrLedgerDerived(s: SparkSession, derived: DataFrame,
      emDerived: Option[(EmbedIndex.Index, DataFrame)],
      dg: DigestIndex.Index, mh: MinhashIndex.Index,
      embedActCos: Double = Dedup.EmbedActThreshold,
      assumeSmallDelta: Boolean = false): DataFrame = {
    // assumeSmallDelta: the standing-pipeline loops assert their
    // per-batch delta ≪ corpus, skipping all three probes' count-gate
    // jobs (a wrong assertion risks an oversized broadcast, never
    // wrong rows — the probes' key sets stay what they were).
    val hint = if (assumeSmallDelta) Some(true) else None
    // 1. exact dedup: digest-index membership probe + within-batch
    // first-id-keeps (delta-sized min-agg + join — the d_exact_dedup
    // skew discipline; DigestIndexSpec pins probe ≡ recompute). The
    // within-batch keepers aggregate reads (doc_id, content_hash)
    // straight off the CHECKPOINTED derived frame — identical rows to
    // the probe output minus in_corpus — so the probe has exactly ONE
    // consumer (the verdict join) and its corpus-bucket membership
    // join runs once without needing a checkpoint of its own (the
    // round-9 double-probe cost this block used to guard against with
    // an extra materialization).
    val probedDigests0 = dg.probeDerived(derived, smallDeltaHint = hint)
    // 2. near-dup probe against the persisted corpus index (unsorted:
    // the verdicts feed the ledger join below, so the gate-facing
    // probe's global doc_id sort would plan a wasted range exchange)
    val probed0 = mh.probeDerived(derived, smallDeltaHint = hint)
      .select(col("doc_id"), col("dup_of"), col("jaccard"))
    // 2b. embedding near-dup probe against the persisted sign-band
    // index — same unsorted composing shape as the MinHash stage;
    // docs without a vector simply never match the left join.
    // The ledger ACTS (and reports) only at the ≥0.9 tier
    // ([[Dedup.EmbedActThreshold]]): the probe's best match is the
    // max-cosine candidate, so filtering the best ≥ 0.9 ≡ taking
    // the best among ≥0.9 matches — and the tier below it is one
    // sign-LSH cannot recall at production width (the r11 weak
    // row; see the constant's doc and SURVEY §9.12).
    val emb0 = emDerived.map { case (ei, deltaVecRows) =>
      ei.probeDerived(deltaVecRows, smallDeltaHint = hint)
        .filter(col("cosine") >= embedActCos)
        .select(col("vec_id").as("doc_id"), col("dup_of").as("emb_dup_of"),
          col("cosine").as("emb_cosine"))
    }
    // NOTE (r15 optimization round, measured and REJECTED): forcing
    // the three probes to materialize as concurrent checkpoint jobs
    // does NOT beat this lazy single-job composition — LedgerProbe at
    // sf0.1 (167-doc batch) read composed-lazy 1.9–2.3 s vs
    // concurrent-probes 2.1–2.6 s, against isolated probe costs of
    // dg 0.4 + mh 1.2 + em 0.75. The fused job already overlaps the
    // probe subtrees (independent stages of one DAG schedule
    // concurrently); splitting them adds three checkpoint jobs and
    // driver-side AQE/broadcast planning contention. Kept lazy.
    val (probedDigests, probed, emb) = (probedDigests0, probed0, emb0)
    // 1b. within-batch first-id-keeps (delta-sized min-agg + join —
    // the d_exact_dedup skew discipline).
    val batchKeepers = derived.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"))
    val exact = probedDigests.join(batchKeepers, "content_hash")
      .select(col("doc_id"),
        (col("in_corpus") || col("doc_id") =!= col("keeper_id")).as("is_exact_dup"))

    // 3+4. quality + language signals ride the derived scan
    val base = derived
      .select(col("doc_id"), col("quality_score"), col("c_en"))
      .join(exact, "doc_id")
      .join(probed, Seq("doc_id"), "left")

    emb match {
      case None =>
        base
          .withColumn("reason",
            when(col("is_exact_dup"), "exact_dup")
              .when(col("dup_of").isNotNull, "near_dup")
              .when(col("quality_score") < 0.5, "low_quality")
              .when(col("c_en") === 0, "non_english")
              .otherwise("kept"))
          .select(col("doc_id"), round(col("quality_score"), 9).as("quality_score"),
            col("dup_of"), col("jaccard"),
            col("reason"), (col("reason") === "kept").as("keep"))
      case Some(embFrame) =>
        base
          .join(embFrame, Seq("doc_id"), "left")
          .withColumn("reason",
            when(col("is_exact_dup"), "exact_dup")
              .when(col("dup_of").isNotNull, "near_dup")
              .when(col("emb_dup_of").isNotNull, "embed_dup")
              .when(col("quality_score") < 0.5, "low_quality")
              .when(col("c_en") === 0, "non_english")
              .otherwise("kept"))
          .select(col("doc_id"), round(col("quality_score"), 9).as("quality_score"),
            col("dup_of"), col("jaccard"), col("emb_dup_of"), col("emb_cosine"),
            col("reason"), (col("reason") === "kept").as("keep"))
    }
  }

  /** K-batch evolving-corpus replay (see the `pipe_incr_evolve` entry).
    * Each ledger is EAGERLY checkpointed before the appends it gates —
    * a lazy frame would otherwise probe the post-append index.
    *
    * The per-invocation indexes are ZERO-COPY BRANCHES of the session's
    * shared probe indexes (r9 VERDICT #4), not `fresh()` rebuilds or
    * even snapshot byte-copies: the corpus is the same 90% cohort
    * [[Dedup.incrIndex]] / [[Dedup.digestIndex]] stand over, and a
    * branch is an empty overlay whose probe view unions the base
    * tables (scanned in place) with the branch's delta tables — so the
    * invocation pays probes + delta-sized appends ONLY; nothing
    * corpus-sized runs, not even an index byte copy, and appends land
    * on the caller-owned overlay, never the shared tables (branch
    * isolation is spec-pinned). The branches
    * are dropped once every ledger is materialized, so repeated
    * invocations (bench rounds) leave no standing tables behind; the
    * invocation's intermediate localCheckpoint frames (probe digests,
    * delta signatures) are explicitly unpersisted too — only the K
    * ledger checkpoints the returned union reads survive (the r9
    * ADVICE checkpoint-hygiene contract; long-lived sessions otherwise
    * accumulate dead blocks per run). */
  private[graft] def incrEvolve(s: SparkSession, d: String, k: Int,
      withEmbed: Boolean = false): DataFrame = {
    require(k >= 1, s"need at least one batch (got $k)")
    val docs = Tables.documents(s, d)
    val isDelta = pmod(col("doc_id"), lit(10)) === 0
    // Shared bases resolved BEFORE the sweep baseline (the
    // EvolveServe.evolveServe ordering): a first-call build's live
    // blocks must never land in the sweep window.
    val mhBase = Dedup.incrIndex(s, d)
    val dgBase = Dedup.digestIndex(s, d)
    val emBase = if (withEmbed) Some(Dedup.embedIndex(s, d)) else None
    val checkpointBaseline = s.sparkContext.getPersistentRDDs.keySet
    val mh = mhBase.branch()
    val dg = dgBase.branch()
    // With the embed stage, a third branch evolves alongside: accepted
    // docs' VECTORS append to it between batches (vec_id ≡ doc_id in
    // the testdata star), so the embed verdict sees earlier batches'
    // survivors exactly like the text stages do.
    val em = emBase.map(_.branch())
    try {
      // Derive EVERY batch up front — the derivations (digest, minhash
      // sig/shingles, quality/langid, vector normalization) are
      // INDEX-STATE-INDEPENDENT, so the K batches' derive jobs
      // materialize concurrently (max-of-K, not sum-of-K serialized
      // inside each batch's ledger job). The ledgers themselves stay
      // strictly ordered — each probes branch state exactly as batches
      // < b appended it. One derivation per batch still feeds probes
      // AND appends (r14 VERDICT #3).
      val deriveds = (0 until k).map { b =>
        deriveBatch(s, docs.filter(
          isDelta && pmod(col("doc_id"), lit(10L * k)) === lit(10L * b)))
      }
      val emPairs = (0 until k).map { b =>
        em.map { ei =>
          (ei, ei.deriveRows(Tables.embeddings(s, d)
            .filter(pmod(col("vec_id"), lit(10)) === 0 &&
              pmod(col("vec_id"), lit(10L * k)) === lit(10L * b))
            .select(col("vec_id"), col("embedding"))))
        }
      }
      graft.util.Par.materialize((deriveds ++ emPairs.flatMap(_.map(_._2))): _*)
      val parts = (0 until k).map { b =>
        val derived = deriveds(b)
        val emPair = emPairs(b)
        // assumeSmallDelta/assumeDisjoint: each batch is delta/k-sized
        // (≪ corpus by construction) and its ids are PROVABLY disjoint
        // from the indexed cohort — the corpus indexes stand over
        // doc_id ≢ 0 (mod 10), every batch is ≡ 0 (mod 10k·b+10), and
        // batches are mutually distinct residues — so the count gates
        // and the per-batch corpus-id guard scans are skipped (r14
        // VERDICT #3, the job-floor cut).
        val ledger = incrLedgerDerived(s, derived, emPair, dg, mh,
            assumeSmallDelta = true)
          .withColumn("batch", lit(b.toLong))
          .localCheckpoint() // eager: materialize BEFORE the appends
        val acceptedIds = ledger.filter(col("keep")).select(col("doc_id"))
        val acceptedDerived = derived.join(acceptedIds, Seq("doc_id"), "left_semi")
        // Append EVERY batch (the standing pipeline keeps the index
        // current for the next day's delta too, not just intra-run).
        // Distinct indexes, disjoint tables — submitted concurrently
        // (the EvolveServe.cleanServe note).
        graft.util.Par.join(
          (Seq(
            () => { mh.appendDerived(acceptedDerived, assumeDisjoint = true); () },
            () => { dg.appendDerived(acceptedDerived, assumeDisjoint = true); () }) ++
          emPair.map { case (ei, rows) =>
            () => { ei.appendDerived(rows.join(
              acceptedIds.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), assumeDisjoint = true); () }
          }): _*)
        // Batch b's derived frames have no later consumers once its
        // appends committed (r15 ADVICE #3: the upfront derivation
        // otherwise pins all K batches' blocks until the end sweep;
        // the RETURNED ledger checkpoints stay).
        Dedup.freeCheckpoint(derived)
        emPair.foreach { case (_, rows) => Dedup.freeCheckpoint(rows) }
        ledger
      }
      // Every checkpoint block created during the loop is dead now
      // EXCEPT the K ledger frames the returned union consumes — an
      // unpersisted local checkpoint cannot be recomputed, so the keep
      // set is collected off the ledgers' own plans. Manual sweep, not
      // CheckpointHygiene.scoped (a scope's exit sweep would destroy
      // the kept ledgers), so it does NOT merge with concurrent scopes:
      // it runs under the single-flight-per-session contract
      // (CheckpointHygiene corollary 1) — don't race it against scoped
      // work on the same session.
      val keep = parts.flatMap(_.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }).toSet
      s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!checkpointBaseline.contains(id) && !keep.contains(id))
          rdd.unpersist(blocking = false)
      }
      val cols =
        if (withEmbed)
          Seq(col("doc_id"), col("batch"), col("quality_score"),
            col("dup_of"), col("jaccard"), col("emb_dup_of"), col("emb_cosine"),
            col("reason"), col("keep"))
        else
          Seq(col("doc_id"), col("batch"), col("quality_score"),
            col("dup_of"), col("jaccard"), col("reason"), col("keep"))
      parts.reduce(_ union _)
        .select(cols: _*)
        .orderBy(col("doc_id"))
    } finally { mh.drop(); dg.drop(); em.foreach(_.drop()) }
  }

  def oracles: Map[String, String] = Map(
    "pipe_corpus_clean" ->
      """WITH exact AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |                       ORDER BY doc_id) > 1 AS is_exact_dup
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-2),
        |                                       i -> array_to_string(ts[i:i+2],' '))) AS s
        |  FROM tok)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM ov
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE CAST(overlap AS DOUBLE) / CAST(ca.n + cb.n - overlap AS DOUBLE) >= 0.8
        |    AND NOT (SELECT is_exact_dup FROM exact e WHERE e.doc_id = doc_a)
        |    AND NOT (SELECT is_exact_dup FROM exact e WHERE e.doc_id = doc_b)),
        |q AS (SELECT doc_id,
        |        least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0) * 0.4
        |        + (1.0 - CAST(len(list_filter(string_split(text,' '),
        |            t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |            / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
        |        + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |            / CAST(length(text) AS DOUBLE)) * 0.3 AS quality_score
        |      FROM documents),
        |lg AS (SELECT doc_id, len(list_filter(string_split(text,' '),
        |         t -> t IN ('the','a','of','and','is'))) AS c_en FROM documents)
        |SELECT d.doc_id, round(q.quality_score, 9) AS quality_score,
        |  CASE WHEN e.is_exact_dup THEN 'exact_dup'
        |       WHEN l.doc_id IS NOT NULL THEN 'near_dup'
        |       WHEN q.quality_score < 0.5 THEN 'low_quality'
        |       WHEN lg.c_en = 0 THEN 'non_english'
        |       ELSE 'kept' END AS reason,
        |  CASE WHEN e.is_exact_dup THEN FALSE
        |       WHEN l.doc_id IS NOT NULL THEN FALSE
        |       WHEN q.quality_score < 0.5 THEN FALSE
        |       WHEN lg.c_en = 0 THEN FALSE
        |       ELSE TRUE END AS keep
        |FROM documents d
        |JOIN exact e USING (doc_id)
        |JOIN q USING (doc_id)
        |LEFT JOIN losers l USING (doc_id)
        |JOIN lg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Delta-batch ledger: ground-truth all-pairs best corpus match
    // (Dedup.incrBestCtes — the d_incr_* oracle) + corpus digest
    // membership + the batch pipeline's quality/language CTEs
    // restricted to the delta.
    "pipe_incr_clean" ->
      s"""WITH ${Dedup.incrBestCtes},
        |cd AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
        |       FROM documents WHERE doc_id % 10 <> 0),
        |dd AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
        |       FROM documents WHERE doc_id % 10 = 0),
        |ex AS (SELECT doc_id,
        |         (content_hash IN (SELECT content_hash FROM cd))
        |         OR (ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) > 1) AS is_exact_dup
        |       FROM dd),
        |q AS (SELECT doc_id,
        |        least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0) * 0.4
        |        + (1.0 - CAST(len(list_filter(string_split(text,' '),
        |            t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |            / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
        |        + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |            / CAST(length(text) AS DOUBLE)) * 0.3 AS quality_score
        |      FROM documents WHERE doc_id % 10 = 0),
        |lg AS (SELECT doc_id, len(list_filter(string_split(text,' '),
        |         t -> t IN ('the','a','of','and','is'))) AS c_en
        |       FROM documents WHERE doc_id % 10 = 0)
        |SELECT d.doc_id, round(q.quality_score, 9) AS quality_score,
        |  b.dup_of, b.jaccard,
        |  CASE WHEN e.is_exact_dup THEN 'exact_dup'
        |       WHEN b.dup_of IS NOT NULL THEN 'near_dup'
        |       WHEN q.quality_score < 0.5 THEN 'low_quality'
        |       WHEN lg.c_en = 0 THEN 'non_english'
        |       ELSE 'kept' END AS reason,
        |  CASE WHEN e.is_exact_dup THEN FALSE
        |       WHEN b.dup_of IS NOT NULL THEN FALSE
        |       WHEN q.quality_score < 0.5 THEN FALSE
        |       WHEN lg.c_en = 0 THEN FALSE
        |       ELSE TRUE END AS keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |JOIN ex e USING (doc_id)
        |JOIN q USING (doc_id)
        |LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
        |JOIN lg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // The embed-stage ledger: the pipe_incr_clean oracle composed with
    // the embedding best-match CTE chain (Dedup.embedIncrBestCtes —
    // the exact band replay the d_embed_incr_indexed gate uses),
    // joined on vec_id ≡ doc_id, with the embed_dup verdict slotted
    // between near_dup and low_quality.
    "pipe_incr_clean_embed" ->
      s"""WITH ${Dedup.incrBestCtes},
        |${Dedup.embedIncrBestCtes},
        |cd AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
        |       FROM documents WHERE doc_id % 10 <> 0),
        |dd AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
        |       FROM documents WHERE doc_id % 10 = 0),
        |ex AS (SELECT doc_id,
        |         (content_hash IN (SELECT content_hash FROM cd))
        |         OR (ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) > 1) AS is_exact_dup
        |       FROM dd),
        |q AS (SELECT doc_id,
        |        least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0) * 0.4
        |        + (1.0 - CAST(len(list_filter(string_split(text,' '),
        |            t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |            / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
        |        + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |            / CAST(length(text) AS DOUBLE)) * 0.3 AS quality_score
        |      FROM documents WHERE doc_id % 10 = 0),
        |lg AS (SELECT doc_id, len(list_filter(string_split(text,' '),
        |         t -> t IN ('the','a','of','and','is'))) AS c_en
        |       FROM documents WHERE doc_id % 10 = 0)
        |SELECT d.doc_id, round(q.quality_score, 9) AS quality_score,
        |  b.dup_of, b.jaccard, eb.dup_of AS emb_dup_of, eb.cosine AS emb_cosine,
        |  CASE WHEN exx.is_exact_dup THEN 'exact_dup'
        |       WHEN b.dup_of IS NOT NULL THEN 'near_dup'
        |       WHEN eb.dup_of IS NOT NULL THEN 'embed_dup'
        |       WHEN q.quality_score < 0.5 THEN 'low_quality'
        |       WHEN lg.c_en = 0 THEN 'non_english'
        |       ELSE 'kept' END AS reason,
        |  CASE WHEN exx.is_exact_dup THEN FALSE
        |       WHEN b.dup_of IS NOT NULL THEN FALSE
        |       WHEN eb.dup_of IS NOT NULL THEN FALSE
        |       WHEN q.quality_score < 0.5 THEN FALSE
        |       WHEN lg.c_en = 0 THEN FALSE
        |       ELSE TRUE END AS keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |JOIN ex exx USING (doc_id)
        |JOIN q USING (doc_id)
        |LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
        |LEFT JOIN ebest eb ON eb.vec_id = d.doc_id AND eb.rn = 1
        |  AND eb.cosine >= ${Dedup.EmbedActThreshold}
        |JOIN lg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "pipe_incr_evolve" -> evolveOracle(EvolveBatches),
    "pipe_incr_evolve_embed" -> evolveOracle(EvolveBatches, withEmbed = true)
  )

  /** Sequential replay of the K-batch evolving closure as chained
    * CTEs: idx0 = the corpus ids; for each batch b, the exact/near
    * verdicts are computed against idx{b} (digest membership +
    * ground-truth best pair at J ≥ threshold) and idx{b+1} = idx{b} ∪
    * the batch's kept docs — exactly the append-between-batches
    * contract the Spark side runs through its per-invocation indexes.
    * With `withEmbed` the embed verdict chains through the SAME idx{b}
    * closure: batch b's best embed match ranges over the band-replay
    * pair set ([[Dedup.embedEvolvePairCtes]]) restricted to candidates
    * in idx{b} — so a kept earlier-batch doc's vector is matchable and
    * a rejected one's is not, mirroring the accepted-only appends. */
  private def evolveOracle(k: Int, withEmbed: Boolean = false): String = {
    val unioned = (0 until k).map(b => s"SELECT * FROM led$b").mkString("\n  UNION ALL ")
    val embOutCols = if (!withEmbed) "" else "emb_dup_of, emb_cosine, "
    s"""WITH ${evolveChainCtes(k, withEmbed)}
       |SELECT doc_id, batch, round(quality_score, 9) AS quality_score,
       |  dup_of, jaccard, ${embOutCols}reason, reason = 'kept' AS keep
       |FROM ($unioned)
       |ORDER BY doc_id""".stripMargin
  }

  /** The K-batch evolving closure's CTE BODY alone (everything through
    * `led{b}` / `idx{b+1}`, no final SELECT) — shared by
    * [[evolveOracle]] and [[EvolveServe]]'s clean+serve oracle, which
    * composes per-batch BM25/ANN rebuild answers over the SAME idx{b}
    * kept-set closure (so acceptance gating is value-checked end to
    * end, not re-derived). CTE names in here: tok/sh/cnt/ov/j/jp,
    * e0/e/eu/ejc/ejp0/ejpairs (withEmbed), dig/delta/q/lg, idx{0..k},
    * ex{b}/best{b}/ebest{b}/led{b} — composers must avoid them (`e` =
    * ALL normalized vectors is there to be REUSED). */
  private[queries] def evolveChainCtes(k: Int, withEmbed: Boolean = false): String = {
    val qualityCte =
      """q AS MATERIALIZED (SELECT doc_id,
        |        least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0) * 0.4
        |        + (1.0 - CAST(len(list_filter(string_split(text,' '),
        |            t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |            / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.3
        |        + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |            / CAST(length(text) AS DOUBLE)) * 0.3 AS quality_score
        |      FROM documents WHERE doc_id % 10 = 0),
        |lg AS MATERIALIZED (SELECT doc_id, len(list_filter(string_split(text,' '),
        |         t -> t IN ('the','a','of','and','is'))) AS c_en
        |       FROM documents WHERE doc_id % 10 = 0)""".stripMargin
    val blocks = (0 until k).map { b =>
      val embCtes = if (!withEmbed) "" else
        s"""|ebest$b AS (SELECT vec_id, dup_of, cosine,
            |    ROW_NUMBER() OVER (PARTITION BY vec_id
            |                       ORDER BY cosine DESC, dup_of) AS rn
            |  FROM ejpairs
            |  JOIN delta ON ejpairs.vec_id = delta.doc_id AND delta.batch = $b
            |  JOIN idx$b ix ON ejpairs.dup_of = ix.doc_id),
            |""".stripMargin
      val embLedCols = if (!withEmbed) ""
        else s"eb.dup_of AS emb_dup_of, eb.cosine AS emb_cosine,\n         |    "
      val embVerdict = if (!withEmbed) ""
        else s"WHEN eb.dup_of IS NOT NULL THEN 'embed_dup'\n         |         "
      val embJoin = if (!withEmbed) ""
        else s"LEFT JOIN (SELECT * FROM ebest$b WHERE rn = 1 " +
          s"AND cosine >= ${Dedup.EmbedActThreshold}) eb ON eb.vec_id = d.doc_id\n         |  "
      s"""ex$b AS (SELECT dd.doc_id,
         |    dd.content_hash IN (SELECT content_hash FROM dig JOIN idx$b USING (doc_id))
         |    OR (ROW_NUMBER() OVER (PARTITION BY dd.content_hash ORDER BY dd.doc_id) > 1)
         |      AS is_exact_dup
         |  FROM dig dd JOIN delta USING (doc_id) WHERE batch = $b),
         |best$b AS (SELECT doc_id, dup_of, jaccard FROM (
         |    SELECT jp.x AS doc_id, jp.y AS dup_of, jp.jaccard,
         |      ROW_NUMBER() OVER (PARTITION BY jp.x ORDER BY jp.jaccard DESC, jp.y) AS rn
         |    FROM jp
         |    JOIN delta ON jp.x = delta.doc_id AND delta.batch = $b
         |    JOIN idx$b ix ON jp.y = ix.doc_id
         |    WHERE jp.jaccard >= ${Dedup.JaccardThreshold}) WHERE rn = 1),
         |${embCtes}led$b AS MATERIALIZED (SELECT d.doc_id, CAST($b AS BIGINT) AS batch, q.quality_score,
         |    bb.dup_of, bb.jaccard, ${embLedCols}
         |    CASE WHEN e.is_exact_dup THEN 'exact_dup'
         |         WHEN bb.dup_of IS NOT NULL THEN 'near_dup'
         |         ${embVerdict}WHEN q.quality_score < 0.5 THEN 'low_quality'
         |         WHEN lg.c_en = 0 THEN 'non_english'
         |         ELSE 'kept' END AS reason
         |  FROM (SELECT doc_id FROM delta WHERE batch = $b) d
         |  JOIN ex$b e USING (doc_id)
         |  JOIN q USING (doc_id)
         |  LEFT JOIN best$b bb USING (doc_id)
         |  ${embJoin}JOIN lg USING (doc_id)),
         |idx${b + 1} AS MATERIALIZED (SELECT doc_id FROM idx$b UNION ALL
         |  SELECT doc_id FROM led$b WHERE reason = 'kept')""".stripMargin
    }
    val embPairCtes = if (!withEmbed) "" else s"${Dedup.embedEvolvePairCtes},\n"
    s"""${Dedup.jaccardCtes},
       |jp AS MATERIALIZED (SELECT doc_a AS x, doc_b AS y, jaccard FROM j
       |       UNION ALL SELECT doc_b, doc_a, jaccard FROM j),
       |${embPairCtes}dig AS MATERIALIZED (SELECT doc_id,
       |          md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
       |        FROM documents),
       |delta AS MATERIALIZED (SELECT doc_id, (doc_id % ${10 * k}) // 10 AS batch
       |          FROM documents WHERE doc_id % 10 = 0),
       |$qualityCte,
       |idx0 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),
       |${blocks.mkString(",\n")}""".stripMargin
  }
}
