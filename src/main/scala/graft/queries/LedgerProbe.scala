package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Stage decomposition of ONE cleaning-ledger invocation (r15
  * optimization round): the per-batch ledger is the standing
  * pipelines' wall-clock floor (`CLEAN_SERVE_BUDGET.json` prices it at
  * ~3.2 s for a 167-doc batch while the data volume is trivial), so
  * this main times each probe SUBTREE in isolation — materialized
  * alone on fresh branches — and then the composed ledger, to show
  * whether the floor is one slow probe or the serialized sum of AQE
  * stage barriers.
  *
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.queries.LedgerProbe"
  */
object LedgerProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def time[A](tag: String)(body: => A): A = {
      val t0 = System.nanoTime(); val a = body
      System.err.println(f"[ledger-probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      a
    }

    graft.SparkEntry.benchSetup(spark, sfDir, Set("pipe_incr_clean_serve"))
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROUNDS", "3").toInt
    for (r <- 1 to rounds) {
      System.err.println(s"[ledger-probe] --- round $r ---")
      val mhB = Dedup.incrIndex(spark, sfDir).branch()
      val dgB = Dedup.digestIndex(spark, sfDir).branch()
      val emB = Dedup.embedIndex(spark, sfDir).branch()
      try {
        graft.util.CheckpointHygiene.scoped(spark, blocking = true) {
          val batch = Tables.documents(spark, sfDir)
            .filter(pmod(col("doc_id"), lit(30)) === 0).localCheckpoint()
          val batchVecs = Tables.embeddings(spark, sfDir)
            .filter(pmod(col("vec_id"), lit(30)) === 0)
            .select(col("vec_id"), col("embedding")).localCheckpoint()
          val derived = CorpusClean.deriveBatch(spark, batch)
          val emRows = emB.deriveRows(batchVecs)
          time("derive (text+vec)") {
            graft.util.Par.materialize(derived, emRows)
          }
          val hint = Some(true)
          time("dg.probeDerived alone") {
            mat(dgB.probeDerived(derived, smallDeltaHint = hint))
          }
          time("mh.probeDerived alone") {
            mat(mhB.probeDerived(derived, smallDeltaHint = hint)
              .select(col("doc_id"), col("dup_of"), col("jaccard")))
          }
          time("em.probeDerived alone") {
            mat(emB.probeDerived(emRows, smallDeltaHint = hint))
          }
          time("composed ledger") {
            CorpusClean.incrLedgerDerived(spark, derived, Some((emB, emRows)),
              dgB, mhB, assumeSmallDelta = true).localCheckpoint()
          }
        }
      } finally { mhB.drop(); dgB.drop(); emB.drop() }
    }
    spark.stop()
  }
}
