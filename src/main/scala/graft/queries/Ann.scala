package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DotProduct, VectorOps}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two tiers:
  *   - brute-force cosine top-k — the correctness baseline. The query
  *     set is broadcast, so the corpus is scanned exactly once with no
  *     shuffle of the big side; per-query top-k via ranking window;
  *   - IVF (inverted-file) — the scale path: corpus is bucketed by
  *     nearest centroid (one shuffle at build time, amortized across
  *     queries), a query probes only the closest `nprobe` centroid
  *     buckets, cutting scanned vectors by ~centroids/nprobe.
  *     Centroids are trained with spherical k-means (Lloyd) from a
  *     deterministic seed set (vec_id < 16) for a fixed iteration
  *     count, with integer-quantized component sums so the training
  *     loop is order-independent and oracle-checkable.
  *
  * Vectors are L2-normalized once up front, so every similarity is a
  * single dot product — computed by the native codegen expression
  * [[graft.functions.DotProduct]] (`graft_dot`), which keeps the
  * n·queries·dim inner loop inside WholeStageCodegen instead of the
  * interpreted higher-order fold. Same left-to-right fp order as the
  * declarative form, mirrored by the DuckDB oracle.
  */
object Ann {

  private val K = 10
  private val NumQueries = 5 // query set: vec_id < 5
  private[queries] val NumCentroids = 16 // centroid seed set: vec_id < 16
  private[queries] val NProbe = 4
  private val SignBits = 8 // sign-LSH bucket bits (ann_lsh)
  // SQ8 (ann_sq8): int8 code scale (the persisted-code constant, see
  // IvfIndex.Sq8Scale) and the gate-pinned candidate pool width — 50
  // candidates per query feed the exact rerank. Production sizes the
  // pool via `[scale] sq8_cands` ([[ScaleOps.annSq8]]); the
  // recall-vs-pool trade is measured in `BENCH_sq8.json`.
  private val Sq8Scale = IvfIndex.Sq8Scale
  private[queries] val Sq8Cands = 50
  private[queries] val KMeansIters = 2 // Lloyd iterations from the seed centroids
  private val QuantScale = 1000000.0 // integer-quantization scale for means
  // Top-P centroid multi-assignment width for the IVF-assisted pair
  // route (d_embed_neardup_ivf): candidates are pairs sharing ANY of
  // their top-P buckets. P=2 doubles each vector's catchment for ~4×
  // the per-bucket pair volume — the measured recall/cost point the
  // gate pins; production corpora scale numCentroids (~√n) instead.
  private val IvfPairProbe = 2

  /** L2-normalized vectors, materialized via localCheckpoint: the
    * normalization is an interpreted higher-order lambda (per-element —
    * the known Spark 4.1 pitfall), and every ANN query derives corpus,
    * centroid, AND query sets from this frame. Checkpointing makes it
    * run once instead of once per consumer per stage. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    DotProduct.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .withColumn("nrm", sqrt(VectorOps.norm2(col("v0"))))
      .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))
      .localCheckpoint()
  }

  /** Force the one-per-corpus IVF index build (same key + params as
    * the `ann_ivf` entry) — the bench's explicit untimed setup step, so
    * a measured round can never pay the train+assign cost. */
  def prebuildIndex(s: SparkSession, d: String): Unit = {
    DotProduct.register(s)
    corpusIdx(s, d)
    ()
  }


  /** The ONE corpus-shared IVF index every fixed ANN gate rides —
    * built with `pq = true`, so the table also persists the PQ code
    * column `pc` and the handle carries the codebooks ([[PqCodec]];
    * `ann_pq` serves off the stored codes). Per-invocation `fresh()`
    * pipelines stay pq-free — their closures never read PQ codes. */
  private[graft] def corpusIdx(s: SparkSession, d: String): IvfIndex.Index =
    IvfIndex.of(s, d, vecs(s, d), NumCentroids, KMeansIters, QuantScale,
      pq = true)

  /** Normalized vectors read back from the PERSISTED IVF index table —
    * the shared corpus frame for ALL three ANN paths (r8 VERDICT #4):
    * ann_bruteforce/ann_lsh used to re-run [[vecs]] (a corpus-sized
    * float materialization through a fresh localCheckpoint) on every
    * call, which showed ~2× cross-strike swings at ×64 saturation while
    * ann_ivf — reading the same vectors from its persisted table —
    * stayed flat. Doubles round-trip parquet exactly, so the values are
    * bit-identical to a fresh normalization pass; the first call per
    * corpus builds the index (the bench pre-builds it untimed). */
  private def persistedVecs(s: SparkSession, d: String): DataFrame = {
    DotProduct.register(s)
    corpusIdx(s, d)
      .assigned.select(col("vec_id"), col("v"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Int8 scalar quantization of embeddings: per-vector max-abs scale,
    // q_i = floor(v_i·scale + 0.5) (explicit half-up — engines disagree
    // on round()'s tie rule), reconstruction MSE in the shared fold
    // order. The compression step a 100 TB vector store runs before
    // indexing; qsum is the exact integer checksum of the code vector.
    // The code array is materialized ONCE per row (a non-cheap HOF
    // referenced twice survives CollapseProject), then folded twice —
    // floor() is exact so the cached codes are bit-identical to the
    // oracle's recomputed ones.
    "v_quantize" -> ((s, d) => {
      val v = col("embedding").cast("array<double>")
      val mx = aggregate(transform(v, x => abs(x)), lit(0.0),
        (acc, x) => greatest(acc, x))
      Tables.embeddings(s, d)
        .select(col("vec_id"), v.as("v"), mx.as("mx"))
        .withColumn("scale", lit(127.0) / col("mx"))
        .withColumn("code", transform(col("v"), x => floor(x * col("scale") + 0.5)))
        .select(col("vec_id"),
          aggregate(col("code"), lit(0.0), (acc, x) => acc + x)
            .cast("long").as("qsum"),
          aggregate(zip_with(col("v"), col("code"),
              (x, c) => (x - c / col("scale")) * (x - c / col("scale"))),
            lit(0.0), (acc, x) => acc + x).as("sq_err"))
        .select(col("vec_id"), col("qsum"), round(col("sq_err") / 64.0, 12).as("mse"))
        .orderBy(col("vec_id"))
    }),

    // Brute-force exact top-k per query vector. Corpus and query
    // vectors come off the persisted index table ([[persistedVecs]]).
    "ann_bruteforce" -> ((s, d) => {
      val e = persistedVecs(s, d)
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), expr("graft_dot(qv, v)").as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Sign-bit LSH (SURVEY §9.10): bucket = the 8 sign bits of the
    // first 8 normalized dimensions — the deterministic, oracle-
    // mirrorable instance of random-hyperplane LSH (production would
    // draw seeded hyperplanes; identical plan shape). A query probes
    // ONLY its own bucket (expected corpus/2^8 of the vectors), so the
    // scan is a bucket equi-join instead of the brute-force full pass;
    // recall is partial by construction, which is the LSH contract —
    // both engines compute the same bucket, so the gate is exact.
    "ann_lsh" -> ((s, d) => {
      val e = persistedVecs(s, d)
      val bucketExpr = (0 until SignBits)
        .map(b => when(element_at(col("v"), b + 1) > 0, lit(1 << b)).otherwise(lit(0)))
        .reduce(_ + _)
      val bucketed = e.withColumn("bucket", bucketExpr)
      val q = bucketed.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      bucketed.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), expr("graft_dot(qv, v)").as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .orderBy(col("query_id"), col("rank"))
    }),

    // SQ8 two-stage ANN — the MEMORY-BOUNDED serving shape a 100 TB
    // vector store actually runs: stage 1 ranks the corpus by the
    // integer dot over the PERSISTED int8 code column (8× smaller than
    // float64 — the store a serving fleet keeps hot; derived once at
    // index build/append, never at query time — r12 VERDICT #2) and
    // keeps Sq8Cands per query; stage 2 reranks only those candidates
    // with the exact float cosine and keeps top-K. The stage-1 scan
    // column-prunes to (vec_id, c) — it NEVER reads the float column
    // (plan-pinned by Sq8Spec) — and the float attach reads `v` only
    // for the collected candidate-id IN list (≤ pool×queries ids, the
    // bucket-prune collect idiom), so float bytes move for ~50 rows
    // per query, not the corpus.
    //
    // Exactness across engines: code_i = floor(v_i·127 + 0.5) is an
    // exact integer carried in tinyint→double (|code|≤127), and the
    // stage-1 score Σ code_q·code_x is ≤ 64·127² < 2²¹ — every
    // intermediate is an integer exactly representable in double, so
    // the codegen graft_dot fold computes EXACT integer arithmetic in
    // any order and DuckDB replays it bit-for-bit from recomputed
    // codes (stored ≡ recomputed: floor is exact). The stage-2 cosine
    // is the shared left-to-right fold. Ties break (score desc,
    // vec_id) at both stages. Query cohort 2N≤vec_id<3N — disjoint
    // from ann_ivf's and ann_ivf_retrain's so the three gates share no
    // values.
    "ann_sq8" -> ((s, d) => {
      DotProduct.register(s)
      val idx = corpusIdx(s, d)
      sq8TopK(idx, col("vec_id") >= 2 * NumQueries && col("vec_id") < 3 * NumQueries,
        Sq8Cands, prune = false)
    }),

    // IVF: train centroids with spherical k-means (Lloyd, fixed seed set
    // + fixed iteration count so the DuckDB oracle mirrors the training
    // exactly), assign corpus to nearest trained centroid, probe top-4
    // centroids per query, exact top-k within the probed buckets.
    //
    // Determinism of the mean: a double sum is order-sensitive and
    // Spark/DuckDB aggregate in different orders, so each component is
    // integer-quantized (floor(x·1e6 + 0.5) as BIGINT) before summing —
    // integer sums are exact and order-independent — then the mean is
    // de-quantized and L2-normalized with the shared left-to-right
    // fold. Per-iteration cost at scale: one broadcast assign pass over
    // the corpus + a (cid, dim)-keyed partial aggregation (map-side
    // combined to ≤ centroids×dim rows per partition); no corpus
    // shuffle grows with data size.
    "ann_ivf" -> ((s, d) => {
      // Build-or-reuse the persisted index (train + assign once per
      // corpus — see IvfIndex); the query pays only probe selection and
      // the probed-bucket scan. The query set reads its normalized
      // vectors back from the index table too (doubles round-trip
      // parquet exactly), so a warm query never re-runs the
      // normalization pass over the corpus.
      DotProduct.register(s)
      val idx = corpusIdx(s, d)
      ivfTopK(idx, col("vec_id") < NumQueries)
    }),

    // The composed production ANN stack — IVF bucket-prune, THEN the
    // int8 quantized rank over the PERSISTED code column, THEN the
    // exact float rerank: a probe reads only nprobe/centroids of the
    // corpus off disk (the bucketed-scan prune), ranks those rows by
    // the integer code dot reading ONLY (vec_id, cid, c) — never the
    // float column (plan-pinned) — and touches float vectors for just
    // the 50-candidate rerank pool per query (candidate-id IN list,
    // ALSO bucket-pruned to the probed cids). Each stage is the
    // already-gated machinery (ann_ivf's probe selection + literal IN
    // prune; ann_sq8's exact-integer stage-1 and fold rerank), so the
    // oracle composes their chains verbatim. Query cohort 3N≤vec_id<4N
    // — its own, like every ANN gate.
    "ann_ivf_sq8" -> ((s, d) => {
      DotProduct.register(s)
      val idx = corpusIdx(s, d)
      sq8TopK(idx, col("vec_id") >= 3 * NumQueries && col("vec_id") < 4 * NumQueries,
        Sq8Cands, prune = true)
    }),

    // IVF generation rotation — the operation a standing ANN pipeline
    // runs when fitStats says the frozen centroids have drifted: fresh
    // index on the 90% cohort (vec_id % 10 ≠ 0), the delta appended
    // under FROZEN centroids (the free path), then retrain() re-runs
    // the deterministic Lloyd loop over the indexed vectors and
    // reassigns. Because retrain's seed rule over base∪delta is a
    // fresh build's over the full corpus, the retrained state ≡ a
    // fresh full-corpus index — so the oracle replays the SAME
    // full-corpus k-means as ann_ivf, on a query cohort disjoint from
    // ann_ivf's (5 ≤ vec_id < 10) so the two gates don't share values.
    // The drift GAUGE itself, oracle-gated: fitStats over the shared
    // full-corpus index — n, mean/min assigned cosine, max bucket
    // fraction. The mean is integer-quantized before summing (the
    // k-means idiom, 1e9 scale), so the value is order-independent
    // and DuckDB replays it bit-for-bit; min_cos is a MIN over dots
    // both engines fold left-to-right identically, and the bucket
    // fraction is a ratio of exact counts. This is the number the
    // [scale] ivf_retrain_below_cos cadence thresholds.
    "ann_ivf_fitstats" -> ((s, d) => {
      DotProduct.register(s)
      corpusIdx(s, d)
        .fitStats
    }),

    // IVF-assisted embedding near-dup pairs — the MID-TIER recall
    // route (r11 VERDICT #2): sign-LSH physically cannot band pairs
    // at cosine 0.45–0.7 (~35% of sign bits flip; measured 0.3–4.9%
    // recall at production width on 128k vectors), but such pairs DO
    // land near each other in centroid space, so candidate pairs =
    // vectors sharing any of their top-P IVF buckets (the persisted
    // ann_ivf index's centroids — train cost already amortized),
    // verified by the exact codegen dot at the SAME 0.45 floor and
    // output contract as d_embed_neardup / d_embed_lsh_pairs. Both
    // engines replay the identical quantized Lloyd loop, so the
    // candidate set — and hence the gate — is exact despite partial
    // recall. Recall vs the brute-force truth and candidate cost at
    // scale are measured in BENCH_embed_ivf.json (§9.12).
    "d_embed_neardup_ivf" -> ((s, d) => {
      DotProduct.register(s)
      val idx = corpusIdx(s, d)
      embedPairsIvf(idx, IvfPairProbe)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // The per-invocation indexes are caller-owned (fresh) and dropped
    // after the result materializes (localCheckpoint, the incrEvolve
    // discipline); the fresh/retrain builds are itemized by BuildLog.
    "ann_ivf_retrain" -> ((s, d) => {
      DotProduct.register(s)
      val all = vecs(s, d)
      var idx = IvfIndex.fresh(s, s"retrain|$d",
        all.filter(pmod(col("vec_id"), lit(10)) =!= 0),
        NumCentroids, KMeansIters, QuantScale)
      try {
        idx = idx.append(all.filter(pmod(col("vec_id"), lit(10)) === 0))
        idx = idx.retrain(KMeansIters, QuantScale)
        ivfTopK(idx, col("vec_id") >= NumQueries && col("vec_id") < 2 * NumQueries)
          .localCheckpoint() // eager: materialize before the drop below
      } finally idx.drop()
    })
  )

  /** The IVF-assisted pair route's body, parameterized so the gate
    * (shared 16-centroid index, P = [[IvfPairProbe]]) and the scale
    * measurement (`BENCH_embed_ivf.json`: ~√n centroids) share one
    * definition. Multi-assign every indexed vector to its top-`probe`
    * centroids ([[topPBuckets]] — skinny rows), attach each vector
    * ONCE by vec_id (P·n rows, the only vector-carrying shuffle —
    * CORPUS-sized, never candidate-sized), self-join on the bucket id
    * and verify with the exact codegen dot INSIDE the join's output:
    * only survivors of the [[Dedup.EmbedCosineThreshold]] floor
    * materialize; the ~P²·n²/k candidate stream itself never does.
    * Pairs that meet in several buckets dot up to `probe` times and
    * dedup at the SURVIVOR level — exact, because `graft_dot` is a
    * deterministic left-to-right fold, so duplicate meetings carry
    * bit-identical cosines into the distinct. (Round 12: the former
    * shape deduped candidate pair IDS first and joined both vectors
    * onto the deduped pairs — two candidate-sized vector-attach
    * shuffles that spilled the ×64 P=4 run, ~365M candidates × two
    * 64-double arrays, off the disk; this shape's shuffles stay
    * corpus-sized, so the same run completes on one box.
    * EmbedIvfRouteSpec pins the rewrite row-identical to the
    * reference dedup-then-attach shape.) Unsorted. */
  private[graft] def embedPairsIvf(idx: IvfIndex.Index, probe: Int): DataFrame = {
    val e = idx.assigned.select(col("vec_id"), col("v"))
    val withV = topPBuckets(idx, probe).join(e, "vec_id")
    withV.as("x").join(withV.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        expr("graft_dot(x.v, y.v)").as("cosine"))
      .filter(col("cosine") >= Dedup.EmbedCosineThreshold)
      .distinct()
  }

  /** Per-vector top-`probe` centroid assignment (vec_id, cid) —
    * vectors stream once against the BROADCAST centroid table; the
    * per-vector top-P window partitions on vec_id, an AQE-splittable
    * exchange of n·centroids skinny rows. Shared by the verify route
    * above and the candidate count below. */
  private def topPBuckets(idx: IvfIndex.Index, probe: Int): DataFrame = {
    val e = idx.assigned.select(col("vec_id"), col("v"))
    val wP = Window.partitionBy(col("vec_id")).orderBy(col("pcos").desc, col("cid"))
    e.crossJoin(broadcast(idx.centroids))
      .select(col("vec_id"), col("cid"), expr("graft_dot(v, cv)").as("pcos"))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= probe)
      .select(col("vec_id"), col("cid"))
  }

  /** Candidate discovery alone (the pre-verify volume — the cost
    * driver the recall artifact weighs the route by). */
  private[graft] def embedIvfCands(idx: IvfIndex.Index, probe: Int): DataFrame = {
    val multi = topPBuckets(idx, probe)
    multi.as("x").join(multi.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** The shared IVF probe: select the top-NProbe centroids per query
    * (queries = index rows passing `queryPred`), bucket-prune the
    * assigned table to the probed cids, exact top-K within. */
  private[queries] def ivfTopK(idx: IvfIndex.Index, queryPred: Column): DataFrame = {
    val q = idx.assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cid"))
    // Materialized once (queries × nprobe rows, tiny): reused by the
    // bucket-prune filter below and the probe join.
    val probes = q.crossJoin(broadcast(idx.centroids))
      .select(col("query_id"), col("qv"), col("cid"), expr("graft_dot(qv, cv)").as("qcos"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= NProbe)
      .select(col("query_id"), col("qv"), col("cid"))
      .localCheckpoint()
    // Driver-side collect of the probed centroid ids — ≤ numCentroids
    // ints, the 1-row-scalar pattern, NOT corpus-sized. A broadcast
    // join alone never bucket-prunes; a literal IN list over the
    // bucket column does (SelectedBucketsCount in the scan), so the
    // probe reads ONLY the probed buckets off disk. That is the whole
    // point of the IVF layout at 100 TB: per-probe IO is
    // buckets_probed/buckets of the corpus, not a full scan.
    val probedCids = probes.select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted

    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    idx.assigned.filter(col("cid").isin(probedCids.toIndexedSeq: _*))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), expr("graft_dot(qv, v)").as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** A PRE-COMPUTED IVF probe selection — (query_id, qv, cid) rows as
    * a driver-local frame plus the distinct probed cids for the
    * bucket-prune IN list. For a standing pipeline's serve loop the
    * selection is INVARIANT across batches (frozen branch centroids +
    * a fixed corpus-cohort query set), so computing it once removes a
    * per-batch eager checkpoint job AND a per-batch driver collect
    * from the serve path (r15 VERDICT #4/#5). */
  private[queries] final case class IvfProbes(frame: DataFrame, cids: Seq[Long])

  /** Driver-side probe selection (r16): the query vectors (a ≤queries-
    * row pushed-filter scan, ONE tiny job) and the centroids (an
    * already-checkpointed numCentroids-row frame) are both driver-
    * bounded (≤ NumQueries and ≤ numCentroids rows, checked), so the
    * queries × centroids top-NProbe argmax runs as a plain Scala loop —
    * zero Spark jobs beyond the query fetch, and the qv doubles round-
    * trip exactly (collect → literal frame). The dot product uses the
    * same left-to-right accumulation as `graft_dot`, so the selected
    * (qcos DESC, cid ASC) top-NProbe set is bit-identical to
    * [[ivfTopK]]'s in-cluster window selection (normalized finite
    * vectors — no NaN ordering edge). */
  private[queries] def ivfProbeSelection(idx: IvfIndex.Index,
      queryPred: Column): IvfProbes = {
    val spark = idx.spark
    val qRows = idx.assigned.filter(queryPred)
      .select(col("vec_id"), col("v")).collect()
    val cents = idx.centroids.select(col("cid"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qRows.length <= NumQueries && cents.length <= idx.numCentroids,
      s"probe selection collected ${qRows.length} queries x ${cents.length} centroids, " +
        s"over the $NumQueries x ${idx.numCentroids} bound")
    val probeRows = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1).toArray
      cents.map { case (cid, cv) =>
        val n = math.min(qv.length, cv.length)
        var acc = 0.0
        var i = 0
        while (i < n) { acc += qv(i) * cv(i); i += 1 }
        (qid, cid, acc)
      }.sortBy { case (_, cid, s) => (-s, cid) }
        .take(NProbe)
        .map { case (q, cid, _) => (q, qv.toSeq, cid) }
    }.toSeq
    import spark.implicits._
    IvfProbes(probeRows.toDF("query_id", "qv", "cid"),
      probeRows.map(_._3).distinct.sorted)
  }

  /** [[ivfTopK]] over a pre-computed probe selection — the serve-loop
    * path: per call it plans ONLY the bucket-pruned scan + broadcast
    * probe join + top-K window (no checkpoint, no collect). */
  private[queries] def ivfTopKWithProbes(idx: IvfIndex.Index,
      probes: IvfProbes): DataFrame = {
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    idx.assigned.filter(col("cid").isin(probes.cids: _*))
      .join(broadcast(probes.frame), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), expr("graft_dot(qv, v)").as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SQ8 two-stage top-K over the corpus dir's shared IVF index at an
    * arbitrary pool width — the config-wired production entry behind
    * `[scale] sq8_cands` ([[ScaleOps.annSq8]]), over the `ann_sq8`
    * gate cohort. */
  private[graft] def sq8TopKFor(s: SparkSession, d: String, pool: Int,
      prune: Boolean = false): DataFrame = {
    DotProduct.register(s)
    val idx = corpusIdx(s, d)
    sq8TopK(idx, col("vec_id") >= 2 * NumQueries && col("vec_id") < 3 * NumQueries,
      pool, prune)
  }

  /** The IVF-assisted mid-tier pair route at an ARBITRARY centroid
    * count — the config-wired production entry behind
    * `[scale] ivf_pair_bucket` ([[ScaleOps.embedNearDupIvf]]) and the
    * sizing `BENCH_embed_ivf.json` prices: flat bucket
    * size (centroids = n / bucket) keeps candidate volume LINEAR in n,
    * where the gate's fixed-16 / a √n rule grow it super-linearly
    * (SURVEY §9.12). One cached index per (corpus, count) — repeated
    * discovery sweeps pay probes only. */
  private[graft] def embedPairsIvfAt(s: SparkSession, d: String,
      numCentroids: Int, probe: Int): DataFrame = {
    DotProduct.register(s)
    val idx = IvfIndex.of(s, s"pairs|$d|c$numCentroids", vecs(s, d),
      numCentroids, KMeansIters, QuantScale)
    embedPairsIvf(idx, probe).orderBy(col("vec_a"), col("vec_b"))
  }

  /** Stage-1 candidate frame over the corpus dir's shared index — the
    * Sq8Spec plan seam (the stage is checkpointed inside [[sq8TopK]],
    * so its scan shape is invisible in the final result's plan). */
  private[graft] def sq8CandStageFor(s: SparkSession, d: String, pool: Int,
      prune: Boolean, queryPred: Column): DataFrame = {
    DotProduct.register(s)
    val idx = corpusIdx(s, d)
    sq8CandStage(idx, sq8Queries(idx, queryPred), pool, prune)
  }

  /** SQ8 query frame: (query_id, qv, qc) for the index rows passing
    * `queryPred` — the one place the query-side float vectors are read
    * (a ≤queries-row pushed-filter scan), checkpointed so the stage-1
    * candidate plan contains NO scan that touches `v`. */
  private def sq8Queries(idx: IvfIndex.Index, queryPred: Column): DataFrame =
    idx.assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("c").cast("array<double>").as("qc"))
      .localCheckpoint()

  /** SQ8 stage 1 — the integer-code candidate rank, reading ONLY the
    * persisted (vec_id, [cid,] c) columns (Sq8Spec plan-pins the scan
    * schema): corpus codes × broadcast query codes, exact integer dot
    * (see the ann_sq8 entry), top-`pool` per query by (qdot desc,
    * vec_id). With `prune`, the scan is first bucket-pruned to the
    * queries' top-NProbe centroids (the ivfTopK literal-IN idiom) and
    * candidates come from the probes join. */
  private[graft] def sq8CandStage(idx: IvfIndex.Index, q: DataFrame,
      pool: Int, prune: Boolean): DataFrame = {
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("vec_id"))
    val scored =
      if (!prune) {
        val codes = idx.assigned
          .select(col("vec_id"), col("c").cast("array<double>").as("c"))
        codes.crossJoin(broadcast(q.select(col("query_id"), col("qc"))))
      } else {
        val wProbe = Window.partitionBy(col("query_id"))
          .orderBy(col("qcos").desc, col("cid"))
        val probes = q.crossJoin(broadcast(idx.centroids))
          .select(col("query_id"), col("qc"), col("cid"),
            expr("graft_dot(qv, cv)").as("qcos"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= NProbe)
          .select(col("query_id"), col("qc"), col("cid"))
          .localCheckpoint()
        // ≤ numCentroids ids — the 1-row-scalar collect pattern; a
        // literal IN over the bucket column is what actually prunes
        // the scan (SelectedBucketsCount), a broadcast join never does.
        val probedCids = probes.select(col("cid").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted
        idx.assigned.filter(col("cid").isin(probedCids.toIndexedSeq: _*))
          .select(col("vec_id"), col("cid"), col("c").cast("array<double>").as("c"))
          .join(broadcast(probes), Seq("cid"))
      }
    scored
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("graft_dot(qc, c)").cast("long").as("qdot"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= pool)
      .select(col("query_id"), col("vec_id"), col("qdot"))
  }

  /** The full SQ8 two-stage top-K (shared by `ann_sq8`, `ann_ivf_sq8`
    * and [[ScaleOps.annSq8]]):
    * stage-1 candidates off the persisted codes, then the exact float
    * rerank — candidates are collected as a vec_id IN list (≤
    * pool×queries ids) so the float attach is a PRUNED scan of
    * (vec_id, v), never a corpus pass. */
  private[graft] def sq8TopK(idx: IvfIndex.Index, queryPred: Column,
      pool: Int, prune: Boolean): DataFrame = {
    val q = sq8Queries(idx, queryPred)
    val cands = sq8CandStage(idx, q, pool, prune).localCheckpoint()
    val candIds = cands.select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val vAttach = idx.assigned
      .filter(col("vec_id").isin(candIds.toIndexedSeq: _*))
      .select(col("vec_id"), col("v"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cands
      .join(broadcast(vAttach), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("qdot"),
        expr("graft_dot(qv, v)").as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB fold over two already-normalized vectors. */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64), i -> $a[i] * $b[i])), (x,y) -> x + y)"

  /** One Lloyd iteration as DuckDB CTEs: assign to nearest centroid
    * c{t-1} (same ROW_NUMBER tie-break as the Spark window), sum the
    * integer-quantized components per (cid, dim) — exact, order-
    * independent — then de-quantize the mean and L2-normalize with the
    * shared left-to-right fold. Mirrors the Spark loop bit-for-bit.
    * `src` = the training-corpus CTE (default `e`; the clean+serve
    * oracle trains on its cohort CTE while `e` holds ALL vectors). */
  private[queries] def kmeansIterCte(t: Int, src: String = "e"): String = {
    val prev = s"c${t - 1}"
    s"""a$t AS MATERIALIZED (SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${dotSql("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM $src AS e CROSS JOIN $prev c) WHERE rn = 1),
       |s$t AS (SELECT cid, i AS dim,
       |          SUM(CAST(floor(v[i] * 1000000.0 + 0.5) AS BIGINT)) AS sq,
       |          COUNT(*) AS n
       |        FROM a$t CROSS JOIN generate_series(1, 64) t(i) GROUP BY cid, i),
       |m$t AS (SELECT cid,
       |          list(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 ORDER BY dim) AS cv0
       |        FROM s$t GROUP BY cid),
       |c$t AS MATERIALIZED (SELECT cid, list_transform(cv0, x -> x / sqrt(
       |          list_reduce(list_prepend(0.0::DOUBLE, list_transform(cv0, y -> y * y)),
       |            (p,q) -> p + q))) AS cv
       |        FROM m$t)""".stripMargin
  }

  /** Shared normalization CTE (identical fp order to vecs()).
    * MATERIALIZED: `e` is referenced by every k-means seed/iteration/
    * assignment CTE downstream — DuckDB would otherwise inline (and
    * re-normalize the corpus) once per reference; see the
    * [[Dedup.jaccardCtes]] note for the measured blow-up. */
  private[queries] val normCte =
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
      |e AS MATERIALIZED (SELECT vec_id,
      |        list_transform(v0, x -> x / sqrt(
      |          list_reduce(list_prepend(0.0::DOUBLE,
      |            list_transform(generate_series(1, 64), i -> v0[i] * v0[i])),
      |            (p,q) -> p + q))) AS v
      |      FROM e0)""".stripMargin

  def oracles: Map[String, String] = Map(
    "v_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        127.0 / list_reduce(list_prepend(0.0::DOUBLE,
        |          list_transform(generate_series(1, 64), i -> abs(v[i]))),
        |          (a, b) -> greatest(a, b)) AS scale
        |      FROM e)
        |SELECT vec_id,
        |  CAST(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, 64), i -> floor(v[i] * scale + 0.5))),
        |    (a, b) -> a + b) AS BIGINT) AS qsum,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(generate_series(1, 64),
        |      i -> (v[i] - floor(v[i] * scale + 0.5) / scale)
        |         * (v[i] - floor(v[i] * scale + 0.5) / scale))),
        |    (a, b) -> a + b) / 64.0, 12) AS mse
        |FROM m ORDER BY vec_id""".stripMargin,
    "ann_bruteforce" ->
      s"""WITH $normCte,
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |scored AS (SELECT q.query_id, x.vec_id, ${dotSql("q.qv", "x.v")} AS cosine
         |           FROM e x CROSS JOIN q WHERE x.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, vec_id, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY query_id
         |                                ORDER BY cosine DESC, vec_id) AS rank
         |           FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "ann_lsh" ->
      s"""WITH $normCte,
         |b AS (SELECT vec_id, v, (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END) + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) + (CASE WHEN v[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < $NumQueries),
         |scored AS (SELECT q.query_id, x.vec_id, ${dotSql("q.qv", "x.v")} AS cosine
         |           FROM b x JOIN q USING (bucket)
         |           WHERE x.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, vec_id, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY query_id
         |                                ORDER BY cosine DESC, vec_id) AS rank
         |           FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    // SQ8: codes recomputed per use (floor is exact, so recompute ≡
    // cache); stage-1 integer dot as a BIGINT-cast exact double fold,
    // stage-2 exact cosine on the kept candidates only.
    "ann_sq8" ->
      s"""WITH $normCte,
         |coded AS (SELECT vec_id, v,
         |            list_transform(v, x -> floor(x * $Sq8Scale + 0.5)) AS c
         |          FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, c AS qc FROM coded
         |      WHERE vec_id >= ${2 * NumQueries} AND vec_id < ${3 * NumQueries}),
         |scored AS (SELECT q.query_id, x.vec_id, q.qv, x.v,
         |             CAST(list_reduce(list_prepend(0.0::DOUBLE,
         |               list_transform(generate_series(1, 64), i -> q.qc[i] * x.c[i])),
         |               (a, b) -> a + b) AS BIGINT) AS qdot
         |           FROM coded x CROSS JOIN q WHERE x.vec_id <> q.query_id),
         |cands AS (SELECT query_id, vec_id, qv, v, qdot,
         |            ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY qdot DESC, vec_id) AS crank
         |          FROM scored),
         |rer AS (SELECT query_id, vec_id, qdot, ${dotSql("qv", "v")} AS cosine
         |        FROM cands WHERE crank <= $Sq8Cands),
         |ranked AS (SELECT query_id, vec_id, qdot, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY query_id
         |                                ORDER BY cosine DESC, vec_id) AS rank
         |           FROM rer)
         |SELECT query_id, vec_id, qdot, cosine, rank FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "ann_ivf" -> ivfOracle(s"vec_id < $NumQueries"),
    // The composed stack: ann_ivf's train/assign/probe chain, then
    // ann_sq8's two stages within the probed buckets.
    "ann_ivf_sq8" ->
      s"""WITH $normCte,
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $NumCentroids),
         |${(1 to KMeansIters).map(t => kmeansIterCte(t)).mkString(",\n")},
         |c AS (SELECT cid, cv FROM c$KMeansIters),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |        list_transform(v, x -> floor(x * $Sq8Scale + 0.5)) AS qc
         |      FROM e WHERE vec_id >= ${3 * NumQueries} AND vec_id < ${4 * NumQueries}),
         |assigned AS (
         |  SELECT vec_id, v, c, cid FROM (
         |    SELECT e.vec_id, e.v,
         |      list_transform(e.v, x -> floor(x * $Sq8Scale + 0.5)) AS c, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                         ORDER BY ${dotSql("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN c) WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, qv, qc, cid FROM (
         |    SELECT q.query_id, q.qv, q.qc, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |                         ORDER BY ${dotSql("q.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM q CROSS JOIN c) WHERE rn <= $NProbe),
         |scored AS (
         |  SELECT p.query_id, x.vec_id, p.qv, x.v,
         |    CAST(list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(generate_series(1, 64), i -> p.qc[i] * x.c[i])),
         |      (a, b) -> a + b) AS BIGINT) AS qdot
         |  FROM assigned x JOIN probes p USING (cid)
         |  WHERE x.vec_id <> p.query_id),
         |cands AS (SELECT query_id, vec_id, qv, v, qdot,
         |            ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY qdot DESC, vec_id) AS crank
         |          FROM scored),
         |rer AS (SELECT query_id, vec_id, qdot, ${dotSql("qv", "v")} AS cosine
         |        FROM cands WHERE crank <= $Sq8Cands),
         |ranked AS (SELECT query_id, vec_id, qdot, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY query_id
         |                                ORDER BY cosine DESC, vec_id) AS rank
         |           FROM rer)
         |SELECT query_id, vec_id, qdot, cosine, rank FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    // The pair route: the ann_ivf k-means chain, top-P multi-assignment
    // per vector (same ROW_NUMBER tie rule as the Spark window),
    // distinct shared-bucket pairs, exact dot at the 0.45 floor.
    "d_embed_neardup_ivf" ->
      s"""WITH $normCte,
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $NumCentroids),
         |${(1 to KMeansIters).map(t => kmeansIterCte(t)).mkString(",\n")},
         |c AS (SELECT cid, cv FROM c$KMeansIters),
         |multi AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                         ORDER BY ${dotSql("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN c) WHERE rn <= $IvfPairProbe),
         |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |         FROM multi x JOIN multi y
         |           ON x.cid = y.cid AND x.vec_id < y.vec_id),
         |p AS (SELECT vec_a, vec_b, ${dotSql("a.v", "b.v")} AS cosine
         |      FROM cand JOIN e a ON cand.vec_a = a.vec_id
         |                JOIN e b ON cand.vec_b = b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM p
         |WHERE cosine >= ${Dedup.EmbedCosineThreshold}
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Retrain-after-frozen-appends ≡ fresh full-corpus k-means (the
    // seed rule over base∪delta is the fresh build's over the corpus),
    // so the oracle is the ann_ivf chain on the retrain query cohort.
    "ann_ivf_retrain" ->
      ivfOracle(s"vec_id >= $NumQueries AND vec_id < ${2 * NumQueries}"),
    // The drift gauge replayed exactly: full-corpus k-means + argmax
    // assignment, then per-centroid counts, integer-quantized cosine
    // sums (order-independent — both engines sum exact BIGINTs), MIN
    // cosine, and the largest bucket's share.
    "ann_ivf_fitstats" ->
      s"""WITH $normCte,
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $NumCentroids),
         |${(1 to KMeansIters).map(t => kmeansIterCte(t)).mkString(",\n")},
         |c AS (SELECT cid, cv FROM c$KMeansIters),
         |assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                         ORDER BY ${dotSql("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN c) WHERE rn = 1),
         |per AS (
         |  SELECT x.cid, COUNT(*) AS cn,
         |    SUM(CAST(floor(${dotSql("x.v", "c.cv")} * 1000000000.0 + 0.5) AS BIGINT)) AS sq,
         |    MIN(${dotSql("x.v", "c.cv")}) AS mn
         |  FROM assigned x JOIN c USING (cid) GROUP BY x.cid)
         |SELECT CAST(SUM(cn) AS BIGINT) AS n,
         |  CAST(SUM(sq) AS DOUBLE) / CAST(SUM(cn) AS DOUBLE) / 1000000000.0 AS mean_cos,
         |  MIN(mn) AS min_cos,
         |  CAST(MAX(cn) AS DOUBLE) / CAST(SUM(cn) AS DOUBLE) AS max_bucket_frac
         |FROM per""".stripMargin
  )

  /** The full-corpus IVF oracle (train + assign + probe + top-K),
    * parameterized on the query-cohort predicate over `e`. */
  private def ivfOracle(queryPred: String): String =
      s"""WITH $normCte,
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $NumCentroids),
         |${(1 to KMeansIters).map(t => kmeansIterCte(t)).mkString(",\n")},
         |c AS (SELECT cid, cv FROM c$KMeansIters),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $queryPred),
         |assigned AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                         ORDER BY ${dotSql("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN c) WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, qv, cid FROM (
         |    SELECT q.query_id, q.qv, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |                         ORDER BY ${dotSql("q.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM q CROSS JOIN c) WHERE rn <= $NProbe),
         |scored AS (
         |  SELECT q.query_id, x.vec_id, ${dotSql("q.qv", "x.v")} AS cosine
         |  FROM assigned x JOIN probes q USING (cid)
         |  WHERE x.vec_id <> q.query_id),
         |ranked AS (SELECT query_id, vec_id, cosine,
         |             ROW_NUMBER() OVER (PARTITION BY query_id
         |                                ORDER BY cosine DESC, vec_id) AS rank
         |           FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin
}
