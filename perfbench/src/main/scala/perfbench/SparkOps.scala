package perfbench

import org.apache.spark.sql.Row

/** Running one oracle-gated operator of the program as a timed call:
  * build the DataFrame and force its physical plan (plan), then execute
  * it and collect the (small) result (exec). The result is checked
  * against its pinned row count and digest after the timing ends. */
object SparkOps {

  final case class Run(name: String, planNs: Long, execNs: Long, startMs: Long, endMs: Long) {
    def ms: Double = (planNs + execNs) / 1e6
  }

  def runOnce(ctx: Ctx, name: String, pins: Map[String, (Long, String)]): Run = {
    val s = ctx.spark
    val fn = graft.SparkEntry.queries(name)
    BuildGuard.builds()
    val baseline = s.sparkContext.getPersistentRDDs.keySet
    val startMs = System.currentTimeMillis()
    val (df, planNs) = Clock.timed(ctx.spans("queries.plan", name) {
      val d = fn(s, ctx.dataDir)
      d.queryExecution.executedPlan
      d
    })
    val (rows, execNs) = Clock.timed(ctx.spans("queries.exec", name)(df.collect()))
    val endMs = System.currentTimeMillis()
    val builds = BuildGuard.builds()
    if (builds.nonEmpty) ctx.fail(s"$name: index build inside a timed call: ${builds.map(_.what)}")
    verify(ctx, name, df.schema.fieldNames.toSeq, rows.toSeq, pins)
    // Blocks an operator checkpointed for itself are dead once it
    // returns; free them outside the timing so the next call starts clean.
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!baseline.contains(id)) rdd.unpersist(blocking = true)
    }
    Thread.sleep(2) // keeps consecutive windows apart on the millisecond clock
    Run(name, planNs, execNs, startMs, endMs)
  }

  def verify(ctx: Ctx, name: String, cols: Seq[String], rows: Seq[Row],
      pins: Map[String, (Long, String)]): Unit = {
    val got = Digest.of(cols, rows)
    pins.get(name) match {
      case None => ctx.fail(s"$name: no pinned result")
      case Some(want) if want != got => ctx.fail(s"$name: result $got, pinned $want")
      case _ =>
    }
  }

  /** The build kinds set-up reports: each persisted-index kind, with the
    * standing pipeline's serving-corpus indexes (corpus key `serve|…`)
    * apart from the document corpus's. */
  val BuildKinds: Seq[String] = BuildGuard.Kinds ++ Seq("postings_serve", "ivf_serve")

  private def buildKind(what: String): String = {
    val kind = what.takeWhile(_ != ':')
    if (what.drop(kind.length + 1).startsWith("serve|")) s"${kind}_serve" else kind
  }

  /** Index-build seconds by kind from the BuildLog events of one set-up. */
  def buildSeconds(events: Seq[graft.util.BuildLog.Event]): Map[String, Double] =
    events.filter(BuildGuard.isBuild).groupBy(e => buildKind(e.what))
      .map { case (k, es) => k -> es.map(_.seconds).sum }

  /** Build every persisted index `names` needs (the program's own
    * bench set-up); returns its seconds and build seconds by kind. */
  def setup(ctx: Ctx, names: Set[String]): (Double, Map[String, Double]) = {
    graft.util.BuildLog.drain()
    val (_, ns) = Clock.timed(ctx.spans("setup.indexes", "setup")(
      graft.SparkEntry.benchSetup(ctx.spark, ctx.dataDir, names)))
    (ns / 1e9, buildSeconds(graft.util.BuildLog.drain()))
  }

  /** `setup.<kind>_build_pct`: each index kind's share of the set-up. */
  def buildMetrics(secs: Double, builds: Map[String, Double]): Seq[Metric] =
    BuildKinds.map(k => Metric(s"setup.${k}_build_pct", 100.0 * builds.getOrElse(k, 0.0) / secs, "%"))
}
