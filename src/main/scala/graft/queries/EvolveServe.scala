package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DotProduct, VectorOps}
import graft.search.PostingsIndex

/** SERVING-while-evolving closure (r11 VERDICT #3): the reference's
  * always-on MCP server answers queries over a store that a `sync` can
  * re-index underneath it (server.py:449-492); the 100 TB analogue is
  * BM25 and ANN answers staying correct while the corpus a standing
  * pipeline evolves is appended to. `pipe_incr_evolve` closes that
  * loop for the CLEANING ledgers; this gate closes it for the SERVING
  * indexes: K ordered delta batches append to zero-copy BRANCHES of
  * the session's corpus-cohort [[PostingsIndex]] and [[IvfIndex]], and
  * AFTER each batch's append the branches answer a fixed BM25 top-k
  * and a fixed ANN top-k — so batch b's answers rank batch ≤ b's
  * documents and vectors alongside the corpus.
  *
  * What this exercises end-to-end (previously pinned only in
  * isolation):
  *   - the PostingsIndex branch BM25-STATS-MERGE: scores after an
  *     append use the merged N/avgdl/df — the oracle recomputes the
  *     statistics from scratch on the accumulated corpus per batch,
  *     so a merge error is a value mismatch, not just a spec failure;
  *   - frozen-centroid IVF serving: the branch assigns appended
  *     vectors under the BASE's centroids (branches never retrain),
  *     and the oracle trains on the corpus cohort only — appended
  *     vectors are probe-visible immediately at frozen geometry.
  *
  * Output: one row per (batch, kind, query, rank) —
  * `(batch, kind, qid, doc_id, score, rank)`; kind `bm25` rows carry
  * qid = -1 (one OR-query over the fixed term set, score rounded to 9
  * like `o2_bm25_topk`), kind `ann` rows carry the query vec_id and
  * the exact cosine. Per-batch answers are top-10, eagerly
  * checkpointed before the next batch's append mutates the branch
  * views (the [[CorpusClean.incrEvolve]] discipline, including the
  * keep-set checkpoint sweep).
  */
object EvolveServe {

  private val QueryTerms = Seq("spark", "join", "fast", "table")
  private val TopK = 10
  private val NumCentroids = 16
  private val KMeansIters = 2
  private val QuantScale = 1000000.0
  /** ANN query cohort: corpus members stable across batches (vec_id 0
    * is a delta id — excluded so queries exist from batch 0). */
  private val AnnQueryPred = "vec_id >= 1 AND vec_id < 5"
  /** The clean+serve gate's own ANN cohort (corpus members too; kept
    * disjoint from [[AnnQueryPred]] so the two gates share no query
    * geometry — the per-ANN-gate cohort discipline). */
  private[graft] val CleanServeAnnPred = "vec_id >= 11 AND vec_id < 15"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_incr_evolve_serve" -> ((s, d) =>
      evolveServe(s, d, CorpusClean.EvolveBatches)),
    "pipe_incr_clean_serve" -> ((s, d) =>
      cleanServe(s, d, CorpusClean.EvolveBatches))
  )

  /** Corpus-cohort postings index (build-or-reuse; the
    * [[Dedup.incrIndex]] fingerprint discipline). Public so the
    * bench's untimed setup can force the build. */
  def servePostings(s: SparkSession, d: String): PostingsIndex =
    PostingsIndex.of(
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"), col("text")),
      "doc_id", "text", s"serve|$d|${Dedup.corpusFingerprint(d)}")

  /** Corpus-cohort IVF index (seeds = vec_id < numCentroids among the
    * cohort — the intrinsic [[IvfIndex]] seed rule, which the oracle
    * replays over its cohort CTE). Public for the bench setup. */
  def serveIvf(s: SparkSession, d: String): IvfIndex.Index = {
    DotProduct.register(s)
    IvfIndex.of(s,
      s"serve|$d|${Dedup.corpusFingerprint(d, "embeddings.parquet")}",
      normalizedCohort(s, d), NumCentroids, KMeansIters, QuantScale)
  }

  private def normalizedCohort(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
      .withColumn("nrm", sqrt(VectorOps.norm2(col("v0"))))
      .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))
      .localCheckpoint()

  /** One batch's serving answers against the CURRENT branch state —
    * split out so EvolveServeSpec can replay it against fresh
    * rebuilds of the accumulated corpus. Unsorted.
    *
    * `probes` (r16): the evolve/serve loops pass a PRE-COMPUTED IVF
    * probe selection — frozen branch centroids + a fixed corpus-cohort
    * query set make the selection invariant across the K batches, so
    * hoisting it removes a per-batch eager checkpoint job and a
    * per-batch driver collect from the serve path (r15 VERDICT #4/#5);
    * [[Ann.ivfProbeSelection]] documents the bit-equality argument.
    * Without it (the spec's fresh-rebuild replay) the classic
    * in-cluster selection runs. */
  private[graft] def serveAnswers(b: Int, po: PostingsIndex,
      iv: IvfIndex.Index, annPred: String = AnnQueryPred,
      probes: Option[Ann.IvfProbes] = None): DataFrame = {
    val topBm = po.score(QueryTerms)
      .select(col("doc").as("doc_id"), round(col("score"), 9).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)
    val bm = topBm
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(lit(b.toLong).as("batch"), lit("bm25").as("kind"),
        lit(-1L).as("qid"), col("doc_id"), col("score"), col("rank"))
    val ann = probes.fold(Ann.ivfTopK(iv, expr(annPred)))(
        Ann.ivfTopKWithProbes(iv, _))
      .select(lit(b.toLong).as("batch"), lit("ann").as("kind"),
        col("query_id").as("qid"), col("vec_id").as("doc_id"),
        col("cosine").as("score"), col("rank"))
    bm.unionByName(ann)
  }

  private[queries] def evolveServe(s: SparkSession, d: String, k: Int): DataFrame = {
    require(k >= 1, s"need at least one batch (got $k)")
    DotProduct.register(s)
    val docs = Tables.documents(s, d)
    val isDelta = pmod(col("doc_id"), lit(10)) === 0
    // Resolve the SHARED base indexes BEFORE the sweep baseline: a
    // first-call build creates live localCheckpoint state the handles
    // keep reading (IVF centroids, postings stats) — inside the window
    // the keep-set sweep below would kill it and poison the session's
    // cached index (found by EvolveServeSpec's leak test).
    val poBase = servePostings(s, d)
    val ivBase = serveIvf(s, d)
    val checkpointBaseline = s.sparkContext.getPersistentRDDs.keySet
    var po = poBase.branch()
    val iv = ivBase.branch()
    try {
      // Derive EVERY batch up front (the cleanServe note): postings
      // tokenization and vector normalization are
      // index-state-independent, so the K batches' derive jobs
      // materialize concurrently instead of serially inside each
      // batch's append chain. The appends themselves stay strictly
      // ordered (each batch's answers read state ≤ b).
      val poDeriveds = (0 until k).map { b =>
        po.deriveRows(
          docs.filter(isDelta && pmod(col("doc_id"), lit(10L * k)) === lit(10L * b))
            .select(col("doc_id"), col("text")), "doc_id", "text")
      }
      val vecRowsSeq = (0 until k).map { b =>
        Tables.embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(10)) === 0 &&
            pmod(col("vec_id"), lit(10L * k)) === lit(10L * b))
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"))
          .withColumn("nrm", sqrt(VectorOps.norm2(col("v0"))))
          .select(col("vec_id"), transform(col("v0"), x => x / col("nrm")).as("v"))
          .localCheckpoint(false)
      }
      graft.util.Par.materialize((poDeriveds ++ vecRowsSeq): _*)
      // IVF probe selection hoisted out of the batch loop (r16 — see
      // serveAnswers): frozen branch centroids + corpus-cohort queries
      // make it batch-invariant; one tiny driver job replaces K
      // checkpoint jobs + K collects.
      val probes = Ann.ivfProbeSelection(iv, expr(AnnQueryPred))
      val parts = (0 until k).map { b =>
        // assumeDisjoint: batch ids ≡ 0 mod 10 vs the serving indexes'
        // ≢ 0 corpus cohorts, mutually distinct batch residues — the
        // per-batch corpus-id guard scans are skipped (the
        // CorpusClean.incrEvolve proof).
        // Both appends write disjoint tables of distinct indexes —
        // submitted concurrently (the cleanServe note). The join
        // barrier completes before the serve answers read the branches.
        var poNext = po
        graft.util.Par.join(
          () => { poNext = po.appendDerived(poDeriveds(b),
            assumeDisjoint = true); () },
          () => { iv.append(vecRowsSeq(b), assumeDisjoint = true); () })
        po = poNext
        // Eager: the answers must see exactly batches ≤ b — the next
        // iteration's append mutates the branch views a lazy frame
        // would re-read.
        val ans = serveAnswers(b, po, iv, probes = Some(probes)).localCheckpoint()
        // Batch b's derived frames have no later consumers once its
        // appends committed (r15 ADVICE #3: the upfront derivation
        // otherwise pins all K batches' blocks until the end sweep).
        Dedup.freeCheckpoint(poDeriveds(b))
        Dedup.freeCheckpoint(vecRowsSeq(b))
        ans
      }
      // MANUAL keep-set sweep, not CheckpointHygiene.scoped: the K
      // answer checkpoints must SURVIVE into the returned frame, which
      // a scope's exit sweep would destroy. The flip side (r12 ADVICE):
      // this sweep does NOT merge with concurrent scopes, so it runs
      // under the single-flight-per-session contract (CheckpointHygiene
      // corollary 1) — callers must not race it against scoped work on
      // the same session. The gate/bench/Verify harnesses are
      // single-flight by construction; the serve tier never calls this.
      val keep = parts.flatMap(_.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }).toSet
      s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!checkpointBaseline.contains(id) && !keep.contains(id))
          rdd.unpersist(blocking = false)
      }
      parts.reduce(_ union _)
        .orderBy(col("batch"), col("kind"), col("qid"), col("rank"))
    } finally { po.drop(); iv.drop() }
  }

  /** The FULL standing pipeline — cleaning composed into serving (r12
    * VERDICT #3; `pipe_incr_evolve_serve` appends RAW deltas,
    * `pipe_incr_evolve_embed` cleans but never serves — this closes
    * the loop): per ordered batch,
    *
    *   1. the 5-stage cleaning ledger ([[CorpusClean.incrLedger]],
    *      digest → minhash → embed → quality → language) runs on
    *      zero-copy branches of the session's shared cleaning indexes;
    *   2. ONLY the batch's ACCEPTED docs append to the cleaning
    *      branches (the evolve contract) AND to the serving
    *      [[PostingsIndex]] branch; only accepted docs' VECTORS append
    *      to the embed-cleaning branch AND the serving [[IvfIndex]]
    *      branch;
    *   3. the serving branches answer the fixed BM25 + ANN top-k.
    *
    * So a rejected document is NEVER retrievable — acceptance gates
    * the serving tier (spec-pinned: a planted dup absent from every
    * batch's answers), BM25 statistics merge over kept-only corpora,
    * and the ANN buckets hold kept-only vectors under frozen
    * centroids. Output = the serve-answer rows only (the ledger
    * itself is the already-gated `pipe_incr_evolve_embed` shape); the
    * oracle composes the evolve closure's chained kept-set CTEs with
    * per-batch from-scratch BM25/ANN rebuilds over idx{b+1}. Five
    * branches run per invocation; every probe/append is delta-sized.
    */
  private[queries] def cleanServe(s: SparkSession, d: String, k: Int): DataFrame = {
    require(k >= 1, s"need at least one batch (got $k)")
    DotProduct.register(s)
    val docs = Tables.documents(s, d)
    val isDelta = pmod(col("doc_id"), lit(10)) === 0
    // Shared bases resolved BEFORE the sweep baseline (the evolveServe
    // ordering — first-call builds keep live checkpoint state).
    val mhBase = Dedup.incrIndex(s, d)
    val dgBase = Dedup.digestIndex(s, d)
    val emBase = Dedup.embedIndex(s, d)
    val poBase = servePostings(s, d)
    val ivBase = serveIvf(s, d)
    val checkpointBaseline = s.sparkContext.getPersistentRDDs.keySet
    val mh = mhBase.branch()
    val dg = dgBase.branch()
    val em = emBase.branch()
    var po = poBase.branch()
    val iv = ivBase.branch()
    var serve: graft.util.Par.Handle = graft.util.Par.Handle.done
    try {
      // Derive EVERY batch up front — digests/signatures/shingles/
      // quality, postings tokenization and vector normalization are all
      // INDEX-STATE-INDEPENDENT, so the K batches' derive jobs
      // materialize concurrently (max-of-K, not sum-of-K serialized
      // inside each batch's ledger/append chain). The ledger probes
      // themselves stay strictly ordered — they read branch state
      // exactly as batches < b appended it. One derivation per batch
      // still feeds probes AND appends (r14 VERDICT #3); the
      // full-batch postings rows are per-doc, so the accepted-ids
      // semi-join below commutes with the derivation.
      val batches = (0 until k).map { b =>
        docs.filter(isDelta && pmod(col("doc_id"), lit(10L * k)) === lit(10L * b))
      }
      val deriveds = batches.map(CorpusClean.deriveBatch(s, _))
      val emRowsSeq = (0 until k).map { b =>
        em.deriveRows(Tables.embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(10)) === 0 &&
            pmod(col("vec_id"), lit(10L * k)) === lit(10L * b))
          .select(col("vec_id"), col("embedding")))
      }
      val poDeriveds = batches.map(b =>
        po.deriveRows(b.select(col("doc_id"), col("text")), "doc_id", "text"))
      graft.util.Par.materialize((deriveds ++ emRowsSeq ++ poDeriveds): _*)
      // IVF probe selection hoisted out of the batch loop (r16 — see
      // serveAnswers): frozen branch centroids + corpus-cohort queries
      // make it batch-invariant.
      val probes = Ann.ivfProbeSelection(iv, expr(CleanServeAnnPred))
      val answers = new Array[DataFrame](k)
      (0 until k).foreach { b =>
        val derived = deriveds(b)
        val emRows = emRowsSeq(b)
        // Eager: the ledger must see exactly batches < b's survivors —
        // the appends below mutate the branch views it reads. It
        // materializes CONCURRENTLY with batch b-1's still-running
        // serve answers (disjoint branch sets: ledger reads cleaning
        // indexes, answers read serving indexes).
        // assumeSmallDelta/assumeDisjoint: the batch is delta/k-sized
        // and its ids are provably disjoint from every index's cohort
        // (doc_id ≡ 0 mod 10 vs the ≢ 0 cohorts; mutually distinct
        // batch residues) — count gates and per-batch corpus-id guard
        // scans skipped (the CorpusClean.incrEvolve proof).
        val ledger = CorpusClean.incrLedgerDerived(s, derived, Some((em, emRows)),
            dg, mh, assumeSmallDelta = true)
          .localCheckpoint()
        val acceptedIds = ledger.filter(col("keep")).select(col("doc_id"))
        val acceptedDerived = derived.join(acceptedIds, Seq("doc_id"), "left_semi")
        val acceptedVecRows = emRows
          .join(acceptedIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        // Batch b-1's serve answers read po/iv — they must be fully
        // materialized before this batch's appends mutate the branches.
        serve.await()
        // The five appends write disjoint tables of distinct indexes —
        // submitted concurrently: the stage is per-job-latency-bound
        // (~10 tiny jobs serialized), so wall collapses to the longest
        // single index's chain (the postings stats merge). The join barrier completes before the serve
        // answers read the branches.
        var poNext = po
        graft.util.Par.join(
          () => { mh.appendDerived(acceptedDerived, assumeDisjoint = true); () },
          () => { dg.appendDerived(acceptedDerived, assumeDisjoint = true); () },
          () => { em.appendDerived(acceptedVecRows, assumeDisjoint = true); () },
          () => { poNext = po.appendDerived(
            poDeriveds(b).join(acceptedIds.select(col("doc_id").as("doc")),
              Seq("doc"), "left_semi"),
            assumeDisjoint = true); () },
          () => { iv.append(acceptedVecRows, assumeDisjoint = true); () })
        po = poNext
        // Batch b's derived frames and ledger have no later consumers
        // once its appends committed (r15 ADVICE #3: the upfront
        // derivation otherwise pins all K batches' blocks until the
        // end sweep; the serve answers read only the branch TABLES,
        // never these frames).
        Dedup.freeCheckpoint(derived)
        Dedup.freeCheckpoint(emRows)
        Dedup.freeCheckpoint(poDeriveds(b))
        Dedup.freeCheckpoint(ledger)
        // Answers are eagerly checkpointed BEFORE the next batch's
        // append mutates the branch views ([[CorpusClean.incrEvolve]]
        // discipline) — the materialization runs on a side thread,
        // overlapped with the next batch's ledger; serve.await() above
        // is the ordering barrier.
        val poNow = po
        serve = graft.util.Par.async(() => {
          answers(b) = serveAnswers(b, poNow, iv, CleanServeAnnPred,
            probes = Some(probes)).localCheckpoint()
          ()
        })
      }
      serve.await()
      val parts = answers.toIndexedSeq
      // Manual keep-set sweep — single-flight contract (see evolveServe).
      val keep = parts.flatMap(_.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }).toSet
      s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!checkpointBaseline.contains(id) && !keep.contains(id))
          rdd.unpersist(blocking = false)
      }
      parts.reduce(_ union _)
        .orderBy(col("batch"), col("kind"), col("qid"), col("rank"))
    } finally {
      // Join any in-flight serve BEFORE dropping the branches it reads
      // (quiet: a serve failure must not mask the primary exception —
      // the post-loop await() above rethrows it on the success path).
      serve.awaitQuietly()
      po.drop(); iv.drop(); mh.drop(); dg.drop(); em.drop()
    }
  }

  private def termsSqlList = QueryTerms.map("'" + _ + "'").mkString(",")

  def oracles: Map[String, String] = Map(
    "pipe_incr_evolve_serve" -> serveOracle(CorpusClean.EvolveBatches),
    "pipe_incr_clean_serve" -> cleanServeOracle(CorpusClean.EvolveBatches)
  )

  /** Per batch b, the oracle recomputes BOTH serving paths from
    * scratch on the accumulated corpus (corpus cohort ∪ delta batches
    * ≤ b): full BM25 statistics (the stats-merge check) and the
    * corpus-cohort-trained k-means with frozen-centroid delta
    * assignment (the branch-append check — [[Ann.kmeansIterCte]]'s
    * chain runs over the cohort CTE `e`, exactly the seed rule
    * [[IvfIndex]] applies to the cohort corpus). */
  private def serveOracle(k: Int): String = {
    val dot = Ann.dotSql _
    val norm =
      """en0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
        |en AS MATERIALIZED (SELECT vec_id,
        |        list_transform(v0, x -> x / sqrt(
        |          list_reduce(list_prepend(0.0::DOUBLE,
        |            list_transform(generate_series(1, 64), i -> v0[i] * v0[i])),
        |            (p,q) -> p + q))) AS v
        |      FROM en0),
        |e AS MATERIALIZED (SELECT vec_id, v FROM en WHERE vec_id % 10 <> 0)""".stripMargin
    val ivfShared =
      s"""c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $NumCentroids),
         |${(1 to KMeansIters).map(t => Ann.kmeansIterCte(t)).mkString(",\n")},
         |c AS MATERIALIZED (SELECT cid, cv FROM c$KMeansIters),
         |acorp AS MATERIALIZED (SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                         ORDER BY ${dot("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN c) WHERE rn = 1),
         |adelta AS MATERIALIZED (SELECT vec_id, v, cid, (vec_id % ${10 * k}) // 10 AS batch FROM (
         |    SELECT en.vec_id, en.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
         |                         ORDER BY ${dot("en.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM en CROSS JOIN c WHERE en.vec_id % 10 = 0) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $AnnQueryPred),
         |probes AS MATERIALIZED (SELECT query_id, qv, cid FROM (
         |    SELECT q.query_id, q.qv, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |                         ORDER BY ${dot("q.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM q CROSS JOIN c) WHERE rn <= 4),
         |qt AS MATERIALIZED (SELECT unnest([$termsSqlList]) AS term)""".stripMargin
    val perBatch = (0 until k).map { b =>
      s"""vis$b AS (SELECT vec_id, v, cid FROM acorp
         |  UNION ALL SELECT vec_id, v, cid FROM adelta WHERE batch <= $b),
         |scored$b AS (SELECT q.query_id, x.vec_id, ${dot("q.qv", "x.v")} AS cosine
         |  FROM vis$b x JOIN probes q USING (cid) WHERE x.vec_id <> q.query_id),
         |annr$b AS (SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored$b),
         |ann$b AS (SELECT CAST($b AS BIGINT) AS batch, 'ann' AS kind,
         |    query_id AS qid, vec_id AS doc_id, cosine AS score, rank
         |  FROM annr$b WHERE rank <= $TopK),
         |docs$b AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 10 <> 0 OR (doc_id % ${10 * k}) // 10 <= $b),
         |tok$b AS (SELECT doc_id, len(string_split(text,' ')) AS doclen,
         |               unnest(string_split(text,' ')) AS term FROM docs$b),
         |post$b AS MATERIALIZED (SELECT doc_id, doclen, term, COUNT(*) AS tf FROM tok$b GROUP BY 1, 2, 3),
         |nn$b AS (SELECT COUNT(DISTINCT doc_id) AS n FROM post$b),
         |ad$b AS (SELECT AVG(doclen) AS avgdl FROM (SELECT DISTINCT doc_id, doclen FROM post$b)),
         |dft$b AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM post$b GROUP BY term),
         |pt$b AS (SELECT p.doc_id, p.term,
         |         ln(1.0 + (nn$b.n - dft$b.df + 0.5) / (dft$b.df + 0.5))
         |           * (p.tf / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.doclen / ad$b.avgdl))) AS s
         |       FROM post$b p JOIN qt USING (term) JOIN dft$b USING (term)
         |       CROSS JOIN nn$b CROSS JOIN ad$b),
         |sc$b AS (SELECT doc_id,
         |         list_reduce(list_prepend(0.0::DOUBLE,
         |           list_transform(list_sort(list(struct_pack(term := term, s := s))),
         |                          x -> x.s)), (a, b) -> a + b) AS score
         |       FROM pt$b GROUP BY doc_id),
         |bmr$b AS (SELECT doc_id, round(score, 9) AS score,
         |    ROW_NUMBER() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rank
         |  FROM sc$b),
         |bm$b AS (SELECT CAST($b AS BIGINT) AS batch, 'bm25' AS kind,
         |    CAST(-1 AS BIGINT) AS qid, doc_id, score, rank
         |  FROM bmr$b WHERE rank <= $TopK)""".stripMargin
    }
    val unioned = (0 until k)
      .map(b => s"SELECT * FROM bm$b UNION ALL SELECT * FROM ann$b")
      .mkString("\n  UNION ALL ")
    s"""WITH $norm,
       |$ivfShared,
       |${perBatch.mkString(",\n")}
       |SELECT batch, kind, qid, doc_id, score, rank FROM ($unioned)
       |ORDER BY batch, kind, qid, rank""".stripMargin
  }

  /** The clean+serve oracle: [[CorpusClean.evolveChainCtes]]'s
    * kept-set closure (idx{b+1} = corpus ∪ kept delta docs of batches
    * ≤ b, with the FULL 5-stage ledger semantics incl. the embed
    * tier), composed with per-batch from-scratch serving rebuilds —
    * BM25 statistics over exactly the docs in idx{b+1}, and ANN over
    * the cohort-trained centroids with frozen-assignment delta vectors
    * RESTRICTED to idx{b+1} (a rejected doc's vector is simply absent
    * from vis{b}). The chain's `e` CTE (ALL normalized vectors) is
    * reused; training runs on the cohort CTE `vcorp` via
    * [[Ann.kmeansIterCte]]'s src parameter. */
  private def cleanServeOracle(k: Int): String = {
    val dot = Ann.dotSql _
    val ivfShared =
      s"""vcorp AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM vcorp WHERE vec_id < $NumCentroids),
         |${(1 to KMeansIters).map(t => Ann.kmeansIterCte(t, "vcorp")).mkString(",\n")},
         |c AS MATERIALIZED (SELECT cid, cv FROM c$KMeansIters),
         |acorp AS MATERIALIZED (SELECT vec_id, v, cid FROM (
         |    SELECT x.vec_id, x.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
         |                         ORDER BY ${dot("x.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM vcorp x CROSS JOIN c) WHERE rn = 1),
         |adelta AS MATERIALIZED (SELECT vec_id, v, cid FROM (
         |    SELECT x.vec_id, x.v, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
         |                         ORDER BY ${dot("x.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e x CROSS JOIN c WHERE x.vec_id % 10 = 0) WHERE rn = 1),
         |aq AS (SELECT vec_id AS query_id, v AS qv FROM vcorp WHERE $CleanServeAnnPred),
         |probes AS MATERIALIZED (SELECT query_id, qv, cid FROM (
         |    SELECT aq.query_id, aq.qv, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY aq.query_id
         |                         ORDER BY ${dot("aq.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM aq CROSS JOIN c) WHERE rn <= 4),
         |qt AS MATERIALIZED (SELECT unnest([$termsSqlList]) AS term)""".stripMargin
    val perBatch = (0 until k).map { b =>
      s"""vis$b AS (SELECT a.vec_id, a.v, a.cid
         |  FROM (SELECT * FROM acorp UNION ALL SELECT * FROM adelta) a
         |  JOIN idx${b + 1} i ON a.vec_id = i.doc_id),
         |scored$b AS (SELECT p.query_id, x.vec_id, ${dot("p.qv", "x.v")} AS cosine
         |  FROM vis$b x JOIN probes p USING (cid) WHERE x.vec_id <> p.query_id),
         |annr$b AS (SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored$b),
         |ann$b AS (SELECT CAST($b AS BIGINT) AS batch, 'ann' AS kind,
         |    query_id AS qid, vec_id AS doc_id, cosine AS score, rank
         |  FROM annr$b WHERE rank <= $TopK),
         |docs$b AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN idx${b + 1} i ON d.doc_id = i.doc_id),
         |stok$b AS (SELECT doc_id, len(string_split(text,' ')) AS doclen,
         |               unnest(string_split(text,' ')) AS term FROM docs$b),
         |post$b AS MATERIALIZED (SELECT doc_id, doclen, term, COUNT(*) AS tf FROM stok$b GROUP BY 1, 2, 3),
         |nn$b AS (SELECT COUNT(DISTINCT doc_id) AS n FROM post$b),
         |ad$b AS (SELECT AVG(doclen) AS avgdl FROM (SELECT DISTINCT doc_id, doclen FROM post$b)),
         |dft$b AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM post$b GROUP BY term),
         |pt$b AS (SELECT p.doc_id, p.term,
         |         ln(1.0 + (nn$b.n - dft$b.df + 0.5) / (dft$b.df + 0.5))
         |           * (p.tf / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.doclen / ad$b.avgdl))) AS s
         |       FROM post$b p JOIN qt USING (term) JOIN dft$b USING (term)
         |       CROSS JOIN nn$b CROSS JOIN ad$b),
         |sc$b AS (SELECT doc_id,
         |         list_reduce(list_prepend(0.0::DOUBLE,
         |           list_transform(list_sort(list(struct_pack(term := term, s := s))),
         |                          x -> x.s)), (a, b) -> a + b) AS score
         |       FROM pt$b GROUP BY doc_id),
         |bmr$b AS (SELECT doc_id, round(score, 9) AS score,
         |    ROW_NUMBER() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rank
         |  FROM sc$b),
         |bm$b AS (SELECT CAST($b AS BIGINT) AS batch, 'bm25' AS kind,
         |    CAST(-1 AS BIGINT) AS qid, doc_id, score, rank
         |  FROM bmr$b WHERE rank <= $TopK)""".stripMargin
    }
    val unioned = (0 until k)
      .map(b => s"SELECT * FROM bm$b UNION ALL SELECT * FROM ann$b")
      .mkString("\n  UNION ALL ")
    s"""WITH ${CorpusClean.evolveChainCtes(k, withEmbed = true)},
       |$ivfShared,
       |${perBatch.mkString(",\n")}
       |SELECT batch, kind, qid, doc_id, score, rank FROM ($unioned)
       |ORDER BY batch, kind, qid, rank""".stripMargin
  }
}
