package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Stage-cost probe for the MinHash+LSH pipeline — times each stage of
  * `d_minhash_lsh` cumulatively on a given corpus so optimization work
  * targets the measured bottleneck instead of the assumed one.
  *
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.queries.DedupProbe"
  *
  * Prints one JSON line of stage → seconds (each stage fully
  * materialized via toRdd.count, checkpoint reuse as in the real
  * pipeline) plus the candidate/pair cardinalities that explain them.
  */
object DedupProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()

    val (sh, tSh) = time { Dedup.hashedShinglesProbe(spark, sfDir) }
    val (nSh, tShMat) = time { mat(sh) }
    val (sig, tSig) = time { Dedup.minhashSignaturesProbe(spark, sfDir) }
    val (nSig, tSigMat) = time { mat(sig) }
    val (bands, _) = time { Dedup.minhashBandRowsProbe(sig, Dedup.MaxBandSize) }
    val (nBands, tBands) = time { mat(bands) }
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band_key") === col("y.band_key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(false)
    val (nCands, tCands) = time { mat(cands) }
    val verified = Dedup.verifyJaccardProbe(cands, sh)
    val (nPairs, tVerify) = time { mat(verified) }

    def f(v: Double) = f"$v%.3f"
    println(s"""{"sf":"$sfDir","rows":{"shingles":$nSh,"docs":$nSig,"bands":$nBands,""" +
      s""""candidates":$nCands,"pairs":$nPairs},""" +
      s""""sec":{"shingles":${f(tSh + tShMat)},"signatures":${f(tSig + tSigMat)},""" +
      s""""bands":${f(tBands)},"candidates":${f(tCands)},"verify":${f(tVerify)}}}""")
    spark.stop()
  }
}
