package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Stage budget for the composed clean+serve closure (r13 VERDICT #2:
  * `pipe_incr_clean_serve` cost 58.1 s p50 at sf0.1 — 30% of the whole
  * 120-query bench — with no scan/shuffle anti-pattern in the plan, so
  * the suspicion is JOB COUNT: 5 branch probes+appends + 2 serve
  * answers + eager checkpoints per batch). This main itemizes ONE
  * batch (delta/3, the gate's K=3 shape) stage by stage on fresh
  * branches, then prices the whole gate, so the optimization work has
  * a measured target instead of a guess.
  *
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.queries.CleanServeProbe"
  *
  * Prints one JSON line (`CLEAN_SERVE_BUDGET.json` via shell
  * redirection). Protocol: p50 of SPARK_GRAFT_PROBE_ROUNDS (default 3)
  * fully-materialized gate rounds, per-round orphan unpersist (the
  * Bench discipline); the stage budget is a diagnostic decomposition
  * of one batch, not a sum.
  */
object CleanServeProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROUNDS", "3").toInt
    val spark = Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def timeOnce[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
    }

    // Untimed: all five shared base indexes (the bench-setup shape).
    val (_, buildSec) = timeOnce {
      graft.SparkEntry.benchSetup(spark, sfDir, Set("pipe_incr_clean_serve"))
    }

    // Stage budget for ONE batch (batch 0 of K=3) on fresh branches.
    val budgetJson = {
      val mhB = Dedup.incrIndex(spark, sfDir).branch()
      val dgB = Dedup.digestIndex(spark, sfDir).branch()
      val emB = Dedup.embedIndex(spark, sfDir).branch()
      var poB = EvolveServe.servePostings(spark, sfDir).branch()
      val ivB = EvolveServe.serveIvf(spark, sfDir).branch()
      try {
        graft.util.CheckpointHygiene.scoped(spark, blocking = true) {
          val batch = Tables.documents(spark, sfDir)
            .filter(pmod(col("doc_id"), lit(30)) === 0).localCheckpoint()
          val nDocs = batch.count()
          val batchVecs = Tables.embeddings(spark, sfDir)
            .filter(pmod(col("vec_id"), lit(30)) === 0)
            .select(col("vec_id"), col("embedding")).localCheckpoint()
          // The stage shapes mirror EvolveServe.cleanServe's r15
          // composed path EXACTLY: one derivation per batch shared by
          // probes and appends, count gates and guards skipped under
          // the proven mod-10 cohort disjointness — and (r15
          // optimization round) the index-state-independent derive
          // frames (text signals, normalized vectors, postings rows)
          // materialize CONCURRENTLY up front, so the ledger stage
          // below times probes+joins only. The serve-answer/next-ledger
          // overlap has no analogue in a one-batch decomposition; the
          // gate p50 captures it.
          val derived = CorpusClean.deriveBatch(spark, batch)
          val emRows = emB.deriveRows(batchVecs)
          val poRows = poB.deriveRows(
            batch.select(col("doc_id"), col("text")), "doc_id", "text")
          val (_, deriveSec) = timeOnce {
            graft.util.Par.materialize(derived, emRows, poRows)
          }
          val (ledger, ledgerSec) = timeOnce {
            CorpusClean.incrLedgerDerived(spark, derived, Some((emB, emRows)),
              dgB, mhB, assumeSmallDelta = true).localCheckpoint()
          }
          val acceptedIds = ledger.filter(col("keep")).select(col("doc_id"))
          val (acceptedDerived, accSec) = timeOnce {
            derived.join(acceptedIds, Seq("doc_id"), "left_semi")
          }
          val nKept = acceptedIds.count()
          val (acceptedVecRows, accVecSec) = timeOnce {
            emRows.join(acceptedIds.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi")
          }
          // The gate's append stage is ONE Par.join barrier over the
          // five indexes: the wall the gate pays is the join; the
          // per-index numbers are each thunk's own in-flight duration
          // (concurrent, so they overlap — the decomposition shows who
          // the critical path is, not a sum).
          var mhAppSec, dgAppSec, emAppSec, poAppSec, ivAppSec = 0.0
          val (_, appendsWallSec) = timeOnce {
            graft.util.Par.join(
              () => { mhAppSec = timeOnce {
                mhB.appendDerived(acceptedDerived, assumeDisjoint = true) }._2 },
              () => { dgAppSec = timeOnce {
                dgB.appendDerived(acceptedDerived, assumeDisjoint = true) }._2 },
              () => { emAppSec = timeOnce {
                emB.appendDerived(acceptedVecRows, assumeDisjoint = true) }._2 },
              () => { poAppSec = timeOnce {
                poB = poB.appendDerived(
                  poRows.join(acceptedIds.select(col("doc_id").as("doc")),
                    Seq("doc"), "left_semi"),
                  assumeDisjoint = true) }._2 },
              () => { ivAppSec = timeOnce {
                ivB.append(acceptedVecRows, assumeDisjoint = true) }._2 })
          }
          val (_, answerSec) = timeOnce {
            mat(EvolveServe.serveAnswers(0, poB, ivB,
              EvolveServe.CleanServeAnnPred))
          }
          System.err.println(s"[clean-serve-probe] docs=$nDocs kept=$nKept " +
            s"derive=${f(deriveSec)} " +
            s"ledger=${f(ledgerSec)} accept=${f(accSec)}+${f(accVecSec)} " +
            s"appends wall=${f(appendsWallSec)} (mh=${f(mhAppSec)} " +
            s"dg=${f(dgAppSec)} em=${f(emAppSec)} po=${f(poAppSec)} " +
            s"iv=${f(ivAppSec)}) answers=${f(answerSec)}")
          s"""{"batch_docs":$nDocs,"accepted_docs":$nKept,""" +
            s""""derive_sec":${f(deriveSec)},""" +
            s""""ledger_sec":${f(ledgerSec)},""" +
            s""""accepted_checkpoint_sec":${f(accSec)},""" +
            s""""accepted_vecs_checkpoint_sec":${f(accVecSec)},""" +
            s""""appends_wall_sec":${f(appendsWallSec)},""" +
            s""""minhash_append_sec":${f(mhAppSec)},""" +
            s""""digest_append_sec":${f(dgAppSec)},""" +
            s""""embed_append_sec":${f(emAppSec)},""" +
            s""""postings_append_sec":${f(poAppSec)},""" +
            s""""ivf_append_sec":${f(ivAppSec)},""" +
            s""""serve_answers_sec":${f(answerSec)}}"""
        }
      } finally { poB.drop(); ivB.drop(); mhB.drop(); dgB.drop(); emB.drop() }
    }

    // Whole-gate p50 (the bench row this probe explains).
    val times = (0 until rounds).map { _ =>
      graft.util.CheckpointHygiene.scoped(spark, blocking = true) {
        timeOnce { mat(graft.SparkEntry.queries("pipe_incr_clean_serve")(
          spark, sfDir)) }._2
      }
    }.sorted
    val p50 = times(times.length / 2)
    System.err.println(s"[clean-serve-probe] gate p50=${f(p50)} max=${f(times.last)}")

    println(s"""{"metric":"clean_serve_budget","sf":"$sfDir",""" +
      s""""shared_index_build_sec":${f(buildSec)},"rounds":$rounds,""" +
      s""""gate_p50_sec":${f(p50)},"gate_max_sec":${f(times.last)},""" +
      s""""batch_stage_budget":$budgetJson,""" +
      s""""protocol":"one-batch (delta/3) stage decomposition on fresh branches + p50 of $rounds fully-materialized gate rounds, per-round orphan unpersist, local[$cpus]"}""")
    spark.stop()
  }

  private def f(v: Double) = f"$v%.3f"
}
