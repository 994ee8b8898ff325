package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, VectorOps}

/** Product-quantization ANN (`ann_pq`) — the rung BELOW SQ8 on the
  * quantized-serving memory ladder: where SQ8 keeps one int8 PER
  * DIMENSION (64 bytes/vector), PQ keeps one 4-bit centroid id per
  * 4-dim subspace — 16 codes packed into ONE BIGINT (8 bytes/vector,
  * 8× smaller than SQ8 and 64× smaller than the float64 vectors): the
  * shape a 100 TB vector store serves from when even int8 codes don't
  * fit the serving fleet's RAM. Geometry, training discipline, and the
  * measured subspace-sizing rationale live in [[PqCodec]]; the code
  * words are PERSISTED in the IVF vector table (`pc` plain / `prc`
  * residual, derived once at build/append/retrain — never at query
  * time) and the codebooks ride the index handle like the IVF
  * centroids.
  *
  * Query shape: stage 1 is ADC (asymmetric distance computation) —
  * the query side stays exact-float: a 16×16 per-query lookup table
  * of subspace dots, each entry integer-quantized (floor(dot·1e6 +
  * 0.5) as BIGINT) so the 16-term score sum is EXACT integer
  * arithmetic in any order (quantizing an approximation loses
  * nothing — the rerank is exact-float anyway). The whole LUT rides
  * each query row as one dense integer ARRAY column, so the corpus is
  * scored in one pass over the stored code words with a single fused
  * projection — 16 shift-and-mask code extractions + O(1) array reads
  * + an integer sum per (vector, query); no shuffle join, no float
  * reads (both plan-pinned by AnnPqSpec) — keeping `Pool` candidates
  * per query; stage 2 reranks only those with the exact float cosine
  * via the candidate-id IN list (the sq8 idiom), so float bytes move
  * for ~Pool rows per query, never the corpus.
  *
  * `ann_ivf_pqr` (round 14) is the RESIDUAL-coded production rung —
  * the standard answer (Jégou et al. 2011 §IV) to the measured
  * fixed-pool recall decay of plain PQ (0.70 @ 2k → 0.36 @ 128k at
  * pool 50, BENCH_sq8.json): code r = v − centroid(cid) instead of v.
  * Residual magnitudes are a fraction of vector magnitudes, so the
  * same 16×4-bit budget quantizes far more finely, and
  * dot(q, v) = dot(q, c_cid) + dot(q, r) splits into an exact
  * per-(query, probed-centroid) term — already computed by the probe
  * selection — plus the residual ADC sum: both integer-quantized, so
  * the composed score stays exact integer arithmetic.
  *
  * The DuckDB oracles replay everything from the raw embeddings:
  * all 16 per-subspace k-means chains (deterministic — see
  * [[PqCodec]]), code assignment (stored ≡ recomputed — the packed
  * BIGINT is just a layout), the integer-quantized LUT, the exact
  * integer score sum, and the fold-exact rerank. Query cohorts are
  * disjoint per gate: `ann_pq` [20, 25), `ann_ivf_pq` [25, 30),
  * `ann_ivf_pqr` [30, 35).
  */
object AnnPq {

  private val K = 10
  private val Pool = 50 // stage-1 candidates per query, the sq8 width
  private val G16 = PqCodec.G16
  private val G8 = PqCodec.G8
  private val PqIters = PqCodec.Iters
  private val QuantScale = PqCodec.QuantScale
  private val QLo = 20 // ann_pq query cohort [20, 25)
  private val QHi = 25
  private val QLo2 = 25 // ann_ivf_pq query cohort [25, 30)
  private val QHi2 = 30
  private val QLo3 = 30 // ann_ivf_pqr query cohort [30, 35)
  private val QHi3 = 35
  private val QLo4 = 35 // ann_pq_w8 query cohort [35, 40)
  private val QHi4 = 40
  private val QLo5 = 40 // ann_ivf_pq_w8 query cohort [40, 45)
  private val QHi5 = 45
  private val QLo6 = 45 // ann_pq_opq query cohort [45, 50)
  private val QHi6 = 50

  private def corpusIdx(s: SparkSession, d: String): IvfIndex.Index = {
    DotProduct.register(s)
    Ann.corpusIdx(s, d)
  }

  private def booksOf(idx: IvfIndex.Index): IvfIndex.Books =
    idx.pqBooks.getOrElse(sys.error(
      "the corpus ANN index must carry PQ codebooks (Ann.corpusIdx builds " +
        "pq = true; a degenerate corpus degrades the build to pq-less — " +
        "see IvfIndex.trainBooks)"))

  /** Checkpointed query frame: floats read back from the index table
    * (doubles round-trip parquet exactly) — queries × 1 rows. */
  private def queryFrame(idx: IvfIndex.Index, queryPred: Column): DataFrame =
    idx.assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .localCheckpoint()

  /** ADC lookup table over `books`, ONE dense array per query indexed
    * sub·K + cid, each part integer-quantized. The whole table rides
    * the query row, so the corpus pass is a SINGLE fused projection —
    * M shift-and-masks + array reads + an exact integer sum per
    * (vector, query) — instead of M broadcast hash joins (the first
    * cut; 68 s vs SQ8's 7 s at 128k vectors: 16 join-probe row
    * materializations per pair lose to one codegen'd expression; a MAP
    * column is no better — Spark's MapData lookup is a linear scan,
    * 16×256 key comparisons per pair). Positional indexing REQUIRES a
    * dense M×K codebook — guaranteed ONCE at train time
    * (PqCodec.train fails loudly on an empty Lloyd cell), so no
    * per-query re-check is needed here. */
  private def lutFrame(q: DataFrame, books: DataFrame,
      geom: PqCodec.PqGeom = G16): DataFrame =
    q.crossJoin(broadcast(books))
      .select(col("query_id"),
        (col("sub").cast("long") * geom.k + col("cid")).as("lk"),
        floor(VectorOps.dot(
            slice(col("qv"), col("sub") * geom.subDim + 1, lit(geom.subDim)),
            col("cv"))
          * QuantScale + 0.5).cast("long").as("part"))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("lk"), col("part")))),
        x => x.getField("part")).as("lut"))

  /** score = Σ_m lut[m·K + code_m(pcCol)] — exact integers, order-free;
    * code m unpacks from the stored BIGINT word with shift-and-mask
    * (all inside whole-stage codegen). */
  private def adcScore(pcCol: String, geom: PqCodec.PqGeom = G16): Column =
    expr((0 until geom.m)
      .map(m => s"element_at(lut, ${m * geom.k} + ${geom.unpackSql(pcCol, m)} + 1)")
      .mkString(" + "))

  /** Top-NProbe probed centroids per query, CARRYING the exact query ×
    * centroid dot — both the prune set and (integer-quantized, as
    * `qc`) the residual route's dot(q, c_cid) score term. */
  private def probeFrame(q: DataFrame, idx: IvfIndex.Index): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cid"))
    q.crossJoin(broadcast(idx.centroids))
      .select(col("query_id"), col("cid"),
        expr("graft_dot(qv, cv)").as("qcos"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= Ann.NProbe)
      .select(col("query_id"), col("cid"),
        floor(col("qcos") * QuantScale + 0.5).cast("long").as("qc"))
      .localCheckpoint()
  }

  /** The literal probed-cid IN list — bucket-PRUNES the assigned scan
    * (SelectedBucketsCount; a broadcast join never prunes). */
  private def probedCidFilter(probes: DataFrame): Column = {
    val cids = probes.select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    col("cid").isin(cids.toIndexedSeq: _*)
  }

  /** Stage 1 (pre-checkpoint): the per-query integer LUT array off the
    * handle's codebooks, one fused pass over the STORED code column,
    * per-query top-Pool — exposed so AnnPqSpec can pin that the
    * scoring pass contains no shuffle join and never reads the float
    * column. Returns (candidates, queries). `mode`: Plain scans the
    * whole code store; Pruned composes the ann_ivf probe selection in
    * front; Residual additionally scores dot(q,c_cid) + residual ADC
    * off the `prc` words. */
  private[graft] def pqCands(s: SparkSession, d: String,
      queryPred: Column, prune: Boolean = false,
      pool: Int = Pool, residual: Boolean = false,
      wide: Boolean = false, opq: Boolean = false): (DataFrame, DataFrame) = {
    require(Seq(residual, wide, opq).count(identity) <= 1,
      "residual / wide / opq select distinct codebook sets — pick at most one")
    val idx = corpusIdx(s, d)
    val books = booksOf(idx)
    def need[A](o: Option[A], what: String): A =
      o.getOrElse(sys.error(s"the corpus index carries no $what PQ codebooks " +
        s"— build with IvfIndex.of(pq = true, pq${what.capitalize} = true)"))
    val geom = if (wide) G8 else G16
    val q = queryFrame(idx, queryPred)
    // OPQ: the query rotates (permutes) into codebook space before the
    // LUT; candidates and the exact rerank stay in data space (a
    // permutation preserves the cosine, and the rerank reads the
    // original floats anyway).
    val lutQ =
      if (!opq) q
      else q.select(col("query_id"),
        graft.queries.PqCodec.permuteCol(col("qv"),
          need(books.opq, "opq").perm).as("qv"))
    val lutArr = lutFrame(lutQ,
      if (residual) need(books.residual, "residual")
      else if (wide) need(books.wide, "wide")
      else if (opq) need(books.opq, "opq").books
      else books.plain,
      geom)

    // The (vec_id, code-word, query_id, lut) scoring base. Unpruned:
    // one scan of (vec_id, pc) — the 8-byte store — × the per-query
    // LUT broadcast. Pruned: the probe selection picks NProbe
    // centroids per query, the literal cid IN list bucket-PRUNES the
    // scan, and the probes broadcast restricts each query's scoring to
    // its own probed buckets. Either way: never the floats.
    val scored =
      if (!prune && !residual) {
        val codeCol = if (wide) "pw" else if (opq) "poc" else "pc"
        idx.assigned.select(col("vec_id"), col(codeCol))
          .crossJoin(broadcast(lutArr))
          .select(col("query_id"), col("vec_id"),
            adcScore(codeCol, geom).as("score"))
      } else {
        val probes = probeFrame(q, idx)
        val codeCol =
          if (residual) "prc" else if (wide) "pw"
          else if (opq) "poc" else "pc"
        val base = idx.assigned.filter(probedCidFilter(probes))
          .select(col("vec_id"), col("cid"), col(codeCol))
          .join(broadcast(probes), Seq("cid"))
          .join(broadcast(lutArr), Seq("query_id"))
        val scoreCol =
          if (residual) col("qc") + adcScore(codeCol)
          else adcScore(codeCol, geom)
        base.select(col("query_id"), col("vec_id"), scoreCol.as("score"))
      }

    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val cands = scored
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= pool)
      .select(col("query_id"), col("vec_id"))
    (cands, q)
  }

  /** The two-stage PQ top-K over `queryPred`'s cohort — shared by the
    * gates and [[AnnPqSpec]]'s recall checks. */
  private[graft] def pqTopK(s: SparkSession, d: String,
      queryPred: Column, prune: Boolean = false,
      pool: Int = Pool, residual: Boolean = false,
      wide: Boolean = false, opq: Boolean = false): DataFrame = {
    val idx = corpusIdx(s, d)
    val (cands0, q) = pqCands(s, d, queryPred, prune, pool, residual, wide, opq)
    val cands = cands0.localCheckpoint()

    // Stage 2: exact rerank — float vectors attached for the collected
    // candidate-id IN list only (≤ Pool×queries ids), never the corpus.
    val candIds = cands.select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val vAttach = idx.assigned
      .filter(col("vec_id").isin(candIds.toIndexedSeq: _*))
      .select(col("vec_id"), col("v"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cands
      .join(broadcast(vAttach), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("graft_dot(qv, v)").as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[pqTopK]] for [[ScaleOps.annPq]] over the `ann_pq` gate cohort,
    * stated once here so a future cohort re-shuffle can't desync a
    * copy (the sq8TopKFor idiom). */
  private[graft] def pqTopKFor(s: SparkSession, d: String, pool: Int,
      prune: Boolean = false, wide: Boolean = false): DataFrame =
    pqTopK(s, d, col("vec_id") >= QLo && col("vec_id") < QHi, prune, pool,
      wide = wide)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq" -> ((s, d) =>
      pqTopK(s, d, col("vec_id") >= QLo && col("vec_id") < QHi)),

    // The composed IVF+PQ production stack — the PQ twin of
    // ann_ivf_sq8: IVF bucket-prune (literal cid IN list, so the scan
    // reads only nprobe/centroids of the corpus off disk), the 4-bit
    // ADC rank within the probed buckets (stored code words, broadcast
    // LUTs), then the exact float rerank over the candidate IN list.
    // Each stage is already-gated machinery (ann_ivf's probe
    // selection; ann_pq's integer ADC and fold rerank), so the oracle
    // composes their chains verbatim. Query cohort 25≤vec_id<30 —
    // its own, like every ANN gate.
    "ann_ivf_pq" -> ((s, d) =>
      pqTopK(s, d, col("vec_id") >= QLo2 && col("vec_id") < QHi2,
        prune = true)),

    // RESIDUAL IVF-PQ — same probe/prune/rerank plan as ann_ivf_pq
    // with the residual code words and the dot(q, c_cid) + residual
    // ADC composed score. Query cohort 30≤vec_id<35.
    "ann_ivf_pqr" -> ((s, d) =>
      pqTopK(s, d, col("vec_id") >= QLo3 && col("vec_id") < QHi3,
        prune = true, residual = true)),

    // WIDE-codebook PQ (G8: 8 subspaces x 256 centroids, 8-bit codes —
    // the SAME 8-byte budget as G16) — the measured recall rung on the
    // near-random corpus: fixed pool 50 at 128k recalls 0.43 vs G16's
    // 0.36 and residual-G16's 0.20 (BENCH_sq8.json; fewer, finer
    // codebooks quantize unclustered data better, and residuals there
    // carry MORE energy than the vectors — see the header note).
    // Unpruned like ann_pq; its own cohort 35<=vec_id<40.
    "ann_pq_w8" -> ((s, d) =>
      pqTopK(s, d, col("vec_id") >= QLo4 && col("vec_id") < QHi4,
        wide = true)),

    // The PRUNED production stack on the measured-best codebooks (r14
    // VERDICT #4): ann_ivf_pq's probe/prune/rerank plan scoring the G8
    // wide code words (`pw`) — the same 8-byte budget that recalls
    // 0.43 vs G16's 0.36 unpruned at 128k (BENCH_sq8.json), now
    // composed behind the IVF bucket prune so the serving tier gets
    // the better geometry without giving up the nprobe/centroids scan
    // fraction. Query cohort 40<=vec_id<45 — its own, like every ANN
    // gate.
    "ann_ivf_pq_w8" -> ((s, d) =>
      pqTopK(s, d, col("vec_id") >= QLo5 && col("vec_id") < QHi5,
        prune = true, wide = true)),

    // OPQ-lite (Ge et al. 2013, the r14 VERDICT #6 rung): G16 PQ over
    // energy-permutation-rotated vectors — the eigenvalue-allocation
    // step of parametric OPQ restricted to permutation rotations,
    // which keeps the WHOLE transform (energy ranking, snake
    // allocation, rotation, training, coding, ADC) oracle-replayable
    // in SQL where a learned SVD rotation would not be. Unpruned like
    // the other recall rungs; query cohort 45<=vec_id<50.
    "ann_pq_opq" -> ((s, d) =>
      pqTopK(s, d, col("vec_id") >= QLo6 && col("vec_id") < QHi6,
        opq = true)))

  // ---------------------------------------------------------------- oracle

  /** DuckDB fold over subDim-dim subspace slices at offset `o`
    * (1-based component o+i): same per-element op and left-to-right
    * order as the Spark folds. */
  private def l2Sql(a: String, ao: Int, b: String, sd: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $sd), i -> ($a[${ao} + i] - $b[i]) * ($a[${ao} + i] - $b[i]))), (x,y) -> x + y)"

  private def dotSubSql(a: String, ao: Int, b: String, sd: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $sd), i -> $a[${ao} + i] * $b[i])), (x,y) -> x + y)"

  /** The per-subspace chain over source CTE `src` (vec_id, v — the
    * normalized vectors for plain PQ, the residuals for pqr):
    * seed → PqIters × (assign, quantized mean) → final codes + query
    * LUT (always over the RAW query vector — ADC decodes in data
    * space). Prefix p{m}; subvectors are indexed in place off
    * `$src.v` (no slice materialization). MATERIALIZED hints on the
    * multiply-referenced chain links (see Dedup.jaccardCtes). */
  private def subChain(m: Int, src: String = "e",
      geom: PqCodec.PqGeom = G16): String = {
    val o = m * geom.subDim
    val sd = geom.subDim
    val seed =
      s"""p${m}c0 AS (SELECT vec_id AS cid,
         |    list_transform(generate_series(1, $sd), i -> v[$o + i]) AS cv
         |  FROM $src WHERE vec_id < ${geom.k})""".stripMargin
    val iters = (1 to PqIters).map { t =>
      s"""p${m}a$t AS MATERIALIZED (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                         ORDER BY ${l2Sql("e.v", o, "c.cv", sd)} ASC, c.cid) AS rn
         |    FROM $src AS e CROSS JOIN p${m}c${t - 1} c) WHERE rn = 1),
         |p${m}s$t AS (SELECT a.cid, i AS dim,
         |          SUM(CAST(floor(e.v[$o + i] * ${QuantScale.toLong}.0 + 0.5) AS BIGINT)) AS sq,
         |          COUNT(*) AS n
         |        FROM p${m}a$t a JOIN $src AS e USING (vec_id)
         |        CROSS JOIN generate_series(1, $sd) t(i) GROUP BY a.cid, i),
         |p${m}c$t AS MATERIALIZED (SELECT cid,
         |          list(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / ${QuantScale.toLong}.0 ORDER BY dim) AS cv
         |        FROM p${m}s$t GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    val finals =
      s"""pcode$m AS MATERIALIZED (SELECT vec_id, cid AS code$m FROM (
         |    SELECT e.vec_id, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                         ORDER BY ${l2Sql("e.v", o, "c.cv", sd)} ASC, c.cid) AS rn
         |    FROM $src AS e CROSS JOIN p${m}c$PqIters c) WHERE rn = 1),
         |plut$m AS MATERIALIZED (SELECT q.query_id, c.cid,
         |    CAST(floor(${dotSubSql("q.qv", o, "c.cv", sd)} * ${QuantScale.toLong}.0 + 0.5) AS BIGINT) AS part
         |  FROM qids q CROSS JOIN p${m}c$PqIters c)""".stripMargin
    Seq(seed, iters, finals).mkString(",\n")
  }

  /** The ann_ivf probe chain (same-seed spherical k-means + top-NProbe
    * probe selection carrying the quantized query×centroid dot). */
  private def ivfChainSql: String =
    s"""c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < ${Ann.NumCentroids}),
       |${(1 to Ann.KMeansIters).map(t => Ann.kmeansIterCte(t)).mkString(",\n")},
       |c AS MATERIALIZED (SELECT cid, cv FROM c${Ann.KMeansIters}),
       |ivfassigned AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${Ann.dotSql("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT query_id, cid, CAST(floor(qcos * ${QuantScale.toLong}.0 + 0.5) AS BIGINT) AS qc
       |  FROM (
       |    SELECT q.query_id, c.cid, ${Ann.dotSql("q.qv", "c.cv")} AS qcos,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |                         ORDER BY ${Ann.dotSql("q.qv", "c.cv")} DESC, c.cid) AS rn
       |    FROM qids q CROSS JOIN c) WHERE rn <= ${Ann.NProbe})""".stripMargin

  /** The full two-stage PQ oracle over cohort [qLo, qHi); `prune`
    * composes the ann_ivf probe chain in front of the ADC scoring,
    * exactly as the Spark route restricts scoring to the probed
    * buckets; `residual` trains/codes over the residual CTE and adds
    * the quantized dot(q, c_cid) probe term to the score. */
  private def pqOracle(qLo: Int, qHi: Int, prune: Boolean,
      residual: Boolean = false,
      geom: PqCodec.PqGeom = G16): String = {
    val M = geom.m
    val src = if (residual) "res" else "e"
    val chains = (0 until M).map(m => subChain(m, src, geom)).mkString(",\n")
    val lutJoins = (0 until M)
      .map(m => s"JOIN plut$m l$m ON l$m.query_id = q.query_id AND l$m.cid = x$m.code$m")
      .mkString("\n  ")
    val adcSum = (0 until M).map(m => s"l$m.part").mkString(" + ")
    val scoreSum = if (residual) s"pr.qc + $adcSum" else adcSum
    val ivfChain = if (!prune) "" else s",\n$ivfChainSql"
    val resCte = if (!residual) "" else
      s""",
         |res AS MATERIALIZED (SELECT a.vec_id,
         |    list_transform(generate_series(1, 64), i -> e.v[i] - c.cv[i]) AS v
         |  FROM ivfassigned a JOIN e USING (vec_id) JOIN c ON a.cid = c.cid)""".stripMargin
    val scoredFrom = if (!prune)
      s"""  FROM pcode0 x0 ${(1 until M)
          .map(m => s"JOIN pcode$m x$m USING (vec_id)").mkString(" ")}
         |  CROSS JOIN qids q""".stripMargin
    else {
      // Explicit ON joins: USING(vec_id) is ambiguous once ax is in
      // scope alongside the pcode tables.
      val codeJoinsOn = (1 until M)
        .map(m => s"JOIN pcode$m x$m ON x$m.vec_id = x0.vec_id").mkString(" ")
      s"""  FROM ivfassigned ax
         |  JOIN probes pr ON pr.cid = ax.cid
         |  JOIN qids q ON q.query_id = pr.query_id
         |  JOIN pcode0 x0 ON x0.vec_id = ax.vec_id $codeJoinsOn""".stripMargin
    }
    s"""WITH ${Ann.normCte},
       |qids AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
       |         WHERE vec_id >= $qLo AND vec_id < $qHi)$ivfChain$resCte,
       |$chains,
       |scored AS (
       |  SELECT q.query_id, x0.vec_id, $scoreSum AS score
       |$scoredFrom
       |  $lutJoins
       |  WHERE x0.vec_id <> q.query_id),
       |pool AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY score DESC, vec_id) AS crank
       |    FROM scored) WHERE crank <= $Pool),
       |reranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, vec_id) AS rank
       |  FROM (SELECT p.query_id, p.vec_id,
       |          ${Ann.dotSql("q.qv", "x.v")} AS cosine
       |        FROM pool p JOIN e x ON x.vec_id = p.vec_id
       |        JOIN qids q ON q.query_id = p.query_id))
       |SELECT query_id, vec_id, cosine, rank FROM reranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The OPQ-lite oracle: replays the ENTIRE transform from the raw
    * embeddings — per-dim integer-quantized energies, the (rank desc,
    * dim) ordering, the snake allocation into [[PqCodec.G16]]'s m
    * groups, the permutation applied as a list re-aggregation, then
    * the standard PQ chain (training, coding, LUT) over the PERMUTED
    * vectors, with the exact rerank in ORIGINAL data space (`qorig`)
    * — mirroring the Spark route, which rotates only the LUT side. */
  private def opqOracle(qLo: Int, qHi: Int): String = {
    val geom = G16
    val m = geom.m
    val chains = (0 until m).map(s => subChain(s, "eo", geom)).mkString(",\n")
    val lutJoins = (0 until m)
      .map(s => s"JOIN plut$s l$s ON l$s.query_id = q.query_id AND l$s.cid = x$s.code$s")
      .mkString("\n  ")
    val adcSum = (0 until m).map(s => s"l$s.part").mkString(" + ")
    val codeJoins = (1 until m)
      .map(s => s"JOIN pcode$s x$s USING (vec_id)").mkString(" ")
    s"""WITH ${Ann.normCte},
       |energy AS (SELECT i AS dim,
       |    SUM(CAST(floor(v[i] * v[i] * ${PqCodec.EnergyScale.toLong}.0 + 0.5) AS BIGINT)) AS en
       |  FROM e CROSS JOIN generate_series(1, 64) t(i) GROUP BY i),
       |rankd AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY en DESC, dim) - 1 AS r FROM energy),
       |perm AS MATERIALIZED (SELECT dim,
       |    ROW_NUMBER() OVER (ORDER BY
       |      CASE WHEN (r // $m) % 2 = 0 THEN r % $m ELSE ${m - 1} - (r % $m) END,
       |      r // $m) AS newpos
       |  FROM rankd),
       |eo AS MATERIALIZED (SELECT vec_id, list(x ORDER BY newpos) AS v FROM (
       |    SELECT e.vec_id, p.newpos, e.v[p.dim] AS x FROM e CROSS JOIN perm p)
       |  GROUP BY vec_id),
       |qids AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM eo
       |         WHERE vec_id >= $qLo AND vec_id < $qHi),
       |qorig AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
       |         WHERE vec_id >= $qLo AND vec_id < $qHi),
       |$chains,
       |scored AS (
       |  SELECT q.query_id, x0.vec_id, $adcSum AS score
       |  FROM pcode0 x0 $codeJoins
       |  CROSS JOIN qids q
       |  $lutJoins
       |  WHERE x0.vec_id <> q.query_id),
       |pool AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY score DESC, vec_id) AS crank
       |    FROM scored) WHERE crank <= $Pool),
       |reranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, vec_id) AS rank
       |  FROM (SELECT p.query_id, p.vec_id,
       |          ${Ann.dotSql("q.qv", "x.v")} AS cosine
       |        FROM pool p JOIN e x ON x.vec_id = p.vec_id
       |        JOIN qorig q ON q.query_id = p.query_id))
       |SELECT query_id, vec_id, cosine, rank FROM reranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "ann_pq" -> pqOracle(QLo, QHi, prune = false),
    "ann_ivf_pq" -> pqOracle(QLo2, QHi2, prune = true),
    "ann_ivf_pqr" -> pqOracle(QLo3, QHi3, prune = true, residual = true),
    "ann_pq_w8" -> pqOracle(QLo4, QHi4, prune = false, geom = G8),
    "ann_ivf_pq_w8" -> pqOracle(QLo5, QHi5, prune = true, geom = G8),
    "ann_pq_opq" -> opqOracle(QLo6, QHi6))
}
