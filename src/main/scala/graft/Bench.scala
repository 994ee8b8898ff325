package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark, following the reference's statistical protocol
  * (`/root/reference/benchmarks/run.py:43-105`): one untimed warmup per
  * query (JIT + codegen + file-listing caches), then up to
  * [[Bench.Rounds]] timed rounds with linear-interpolated P50/P95 —
  * single-pass numbers can't be told apart from run-to-run variance.
  * A per-query time cap (30 s, min 3 rounds) keeps the heavy dedup
  * queries from starving the rest of the suite; the JSON reports the
  * rounds actually used.
  *
  * Output: ONE JSON line (the final stdout line) with `queries` = P50
  * seconds per query (the driver's historical shape) plus `p95` and
  * `rounds` maps — ALSO written verbatim to `SPARK_GRAFT_BENCH_OUT`
  * (default `bench_out.json` in the working directory) so the record
  * survives log-tail truncation.
  */
object Bench {
  val Rounds: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "10").toInt
  val PerQueryCapSec: Double =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP_SEC", "30").toDouble
  val MinRounds = 3

  /** numpy-style linear-interpolated percentile (run.py:57-61). */
  def percentile(xs: Seq[Double], pct: Double): Double = {
    val s = xs.sorted
    val k = (s.length - 1) * pct / 100.0
    val lo = k.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (k - lo)
  }

  /** 1-minute loadavg, or -1 where /proc is unavailable. */
  private def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** JVMs on the box that are NOT this process or its ancestors (the
    * sbt launcher chain) — the box-pressure signal a strike should
    * carry. Child processes would count too, but local-mode Spark
    * spawns none. */
  private def foreignJvms(): Long =
    try {
      val self = ProcessHandle.current()
      val lineage = Iterator.iterate(Option(self))(_.flatMap(p =>
          Option(p.parent().orElse(null))))
        .takeWhile(_.isDefined).flatten.map(_.pid()).toSet
      ProcessHandle.allProcesses().filter { p =>
        p.info().command().map[Boolean](_.contains("java")).orElse(false) &&
          !lineage.contains(p.pid())
      }.count()
    } catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional comma-separated query filter for local iteration
    // (e.g. SPARK_GRAFT_BENCH_ONLY=v_quantize,t_token_stats), and an
    // exclude list for scale rehearsals (the two documented O(n²)
    // oracle-only verifiers must not run at ×10/×64 data —
    // SPARK_GRAFT_BENCH_SKIP=d_ngram_jaccard,d_embed_neardup).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip(name) }

    // Quiet-box stamp (r12 VERDICT #4: the committed r12 strike carried
    // a uniform ~1.15× box-pressure drift that was only diagnosable by
    // cross-referencing same-day artifacts): sample 1-min loadavg and
    // foreign-JVM count before and after the run and RECORD them in the
    // JSON, so a contaminated strike self-identifies. `quiet` uses the
    // SPARK_GRAFT_BENCH_MAX_LOAD threshold (default 4.0); scripts/
    // bench.sh can also REFUSE to strike under
    // SPARK_GRAFT_BENCH_REQUIRE_QUIET=1.
    val maxQuietLoad =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "4.0").toDouble
    val loadStart = loadAvg1()
    val jvmsStart = foreignJvms()
    val quietStart = jvmsStart == 0 &&
      (loadStart >= 0.0 && loadStart <= maxQuietLoad)
    if (!quietStart)
      System.err.println(s"[bench] WARNING: box not quiet at start " +
        s"(loadavg1=$loadStart, foreign JVMs=$jvmsStart) — the strike " +
        "will carry a load stamp; prefer a quiet box for committed artifacts")

    // EXPLICIT untimed setup: build every one-per-corpus persisted
    // index (postings / IVF / MinHash) before any measurement, so no
    // round — warmup included — can pay a corpus-sized build. Round 7's
    // committed artifact recorded o2_bm25_topk at 1.75 s (≈ probe +
    // postings build) vs 0.22 s probe-only in a same-protocol local
    // recording, and could not say which; now setup cost is its own
    // JSON field and any build that still lands inside a query's timed
    // rounds is reported per query under "builds" (BuildLog).
    graft.util.BuildLog.drain()
    val setupT0 = System.nanoTime()
    SparkEntry.benchSetup(spark, sfDir, queries.map(_._1).toSet)
    val setupSec = (System.nanoTime() - setupT0) / 1e9
    val setupBuilds = graft.util.BuildLog.drain()

    val buildsByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Seq[graft.util.BuildLog.Event]]
    val results = queries.map { case (name, fn) =>
      // Full materialization via the compiled physical plan — NOT
      // df.count(): under count() Catalyst prunes every unused
      // computed column, drops sorts, and eliminates 1:1 left joins,
      // so ledger/projection-shaped queries measured a fraction of
      // their real work (round-5 finding: pipe_corpus_clean 14.7×
      // under-measured, q1 3×, v_quantize 2×). toRdd executes the
      // same plan Verify's parquet write runs, minus sink IO.
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      // Streaming queries are stateful per run; their first run IS
      // representative, so they skip the untimed warmup.
      if (!name.startsWith("st_")) once()
      graft.util.BuildLog.drain() // warmup-phase builds: untimed, not reported
      // Round-to-round isolation (r7 finding: ±40% p50 swings on
      // checkpoint-heavy queries at ×64): each round's localCheckpoint
      // frames are dead the moment the round ends, but the async
      // ContextCleaner only reaps them after a GC notices, so within a
      // query's 3–10 rounds the generations pile up in the block
      // manager and tax the later rounds. Snapshot the persisted-RDD
      // id set before the timed rounds (covering every long-lived
      // index/cache frame built by setup or warmup) and explicitly
      // unpersist the orphans each round — anything persisted DURING a
      // round that outlives it would have been built in the warmup.
      val baseline = spark.sparkContext.getPersistentRDDs.keySet
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var spent = 0.0
      while (times.length < Rounds &&
          (times.length < MinRounds || spent < PerQueryCapSec)) {
        val t = once()
        times += t
        spent += t
        // blocking=true: async removal would race the NEXT round's
        // execution and spike its tail (measured at ×64: ann_lsh p95
        // spread 96→242% with blocking=false); synchronous removal
        // lands between rounds, outside every timed window.
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!baseline.contains(id)) rdd.unpersist(blocking = true)
        }
      }
      val roundBuilds = graft.util.BuildLog.drain()
      if (roundBuilds.nonEmpty) buildsByQuery(name) = roundBuilds
      // Per-query isolation: a GC cycle lets the ContextCleaner reap
      // whatever the explicit per-round unpersist above didn't cover
      // (warmup orphans, broadcasts) — frames still referenced by
      // long-lived index caches (PostingsIndex.termDf, IvfIndex
      // centroids) survive, so cross-query index reuse keeps working.
      System.gc()
      Thread.sleep(200)
      name -> times.toSeq
    }

    def fmt(v: Double): String = f"$v%.6f"
    def jmap(sel: Seq[Double] => String): String =
      results.map { case (k, ts) => "\"" + k + "\":" + sel(ts) }.mkString("{", ",", "}")
    val p50s = jmap(ts => fmt(percentile(ts, 50)))
    val p95s = jmap(ts => fmt(percentile(ts, 95)))
    val roundsUsed = jmap(ts => ts.length.toString)
    val total = results.map { case (_, ts) => percentile(ts, 50) }.sum
    // A non-empty skip set shrinks the summed total, so it must be
    // part of the record — a skipped run's total is otherwise
    // indistinguishable from (and incomparable with) a full run's.
    val skippedJson =
      if (skip.isEmpty) ""
      else skip.toSeq.sorted.map("\"" + _ + "\"").mkString(""","skipped":[""", ",", "]")
    // Index builds: setup's (expected, untimed) and any that leaked
    // into a query's TIMED rounds (expected none — a non-empty entry
    // here is the self-explanation the r7 o2 artifact lacked).
    def buildsJson(evs: Seq[graft.util.BuildLog.Event]): String =
      evs.map(e => "\"" + e.what + "\":" + fmt(e.seconds)).mkString("{", ",", "}")
    val setupJson =
      s""","setup":{"sec":${fmt(setupSec)},"builds":${buildsJson(setupBuilds)}}"""
    val inRoundBuildsJson =
      if (buildsByQuery.isEmpty) ""
      else buildsByQuery
        .map { case (q, evs) => "\"" + q + "\":" + buildsJson(evs) }
        .mkString(""","builds_in_rounds":{""", ",", "}")
    val loadEnd = loadAvg1()
    // The guard's pre-launch reading (scripts/bench.sh exports it):
    // Bench's own start sample lands right after the sbt/JVM launch
    // spike, so a borderline box can read loadavg > threshold even
    // though the wait-until-quiet guard saw it idle seconds earlier.
    // A guarded strike is quiet if the GUARD's reading passed and the
    // in-run samples stay within the envelope; the raw samples are
    // still recorded so the stamp is auditable.
    // BOUNDED override: the guard reading rescues only a LAUNCH-SPIKE
    // excess (start ≤ 2× threshold) — a start load beyond that means
    // real foreign pressure ramped in the guard→Bench gap, and the
    // stamp must stay false (the r12 box-pressure-drift blindness this
    // stamp exists to catch).
    val guardLoad = sys.env.get("SPARK_GRAFT_BENCH_GUARD_LOAD")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
    val startOk = quietStart ||
      (guardLoad.exists(g => g >= 0.0 && g <= maxQuietLoad) &&
        jvmsStart == 0 && loadStart >= 0.0 && loadStart <= 2 * maxQuietLoad)
    val quiet = startOk && foreignJvms() == 0 &&
      (loadEnd >= 0.0 && loadEnd <= math.max(maxQuietLoad, cpus.toDouble))
    val guardJson = guardLoad.map(g => s""""guard_load1":$g,""").getOrElse("")
    val loadJson = s""","load":{"loadavg1_start":$loadStart,""" +
      s""""loadavg1_end":$loadEnd,$guardJson"foreign_jvms":$jvmsStart,"quiet":$quiet}"""
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$p50s,""" +
      s""""p95":$p95s,"rounds":$roundsUsed$setupJson$inRoundBuildsJson,""" +
      s""""protocol":"p50 of <=$Rounds rounds, warm, full materialization (toRdd), untimed index-build setup, ${PerQueryCapSec.toInt}s/query cap, per-round orphan unpersist + per-query gc isolation, local[$cpus], heap ${Runtime.getRuntime.maxMemory() >> 30}g"$skippedJson$loadJson,"sf":"$sfDir"}"""
    // The driver tail-parses a bounded slice of the run log; the full
    // line (~100 query entries) overflows that window and has recorded
    // as parsed:null since r5. Emit the headline numbers as a LAST,
    // short stdout line that always fits the tail — per-query data
    // stays in the full line and in outPath. The short line is ALSO
    // written to outPath+".short" so scripts/bench.sh can end its
    // stdout with it.
    val shortJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.length},""" +
      s""""setup_sec":${fmt(setupSec)},"detail":"$outPath"$skippedJson$loadJson,"sf":"$sfDir"}"""
    try {
      Files.writeString(Paths.get(outPath), json + "\n")
      Files.writeString(Paths.get(outPath + ".short"), shortJson + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    println(json)
    println(shortJson)
    spark.stop()
  }
}
