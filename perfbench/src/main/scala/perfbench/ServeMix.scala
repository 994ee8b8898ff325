package perfbench

import java.nio.file.Files

import graft.api.Engine
import graft.serve.McpServer
import graft.util.{Json, JsonParse}

/** `serve_mix`: one MCP client in a closed loop — an agent on stdio waits
  * for each reply — sending `tools/call` lines through
  * [[McpServer.handle]] over a generated 5,000-model project.
  *
  * No usage log or session transcript is available to fit the traffic
  * to, so its shape is an assumption, kept as plain as possible: the 8
  * read tools have equal weight, model ids and query terms follow the
  * classic Zipf law (s = 1) over a seeded hot-set order, capsules use the
  * server's default token budget, every other argument choice is
  * uniform, and 1 search in 10 asks for a planted term (a correctness
  * probe). The 100th and 200th
  * calls of the measured window are `refresh_index`, the `sync` write
  * path; the snapshot it invalidates is rebuilt by the read after it, as
  * in a real session. Every reply is checked against the generator's own
  * answers.
  */
object ServeMix {

  val Models = 5000
  val ReadTools: Seq[String] = Seq("search_models", "get_lineage", "get_impact_analysis",
    "get_context_capsule", "discover_models", "get_model_details",
    "find_models_by_column", "find_models_by_path")
  /** Zipf exponent of model ids and query terms. */
  private val Skew = 1.0
  /** Share of searches that ask for a planted term. */
  private val PlantedShare = 0.1
  private val Refresh = "refresh_index"
  private val Verbs = Seq("debug", "add a feature to", "refactor", "document", "explore")
  /** The capsule budget the server applies when a call names none. */
  val DefaultBudget: Int = graft.config.CapsuleConfig().defaultTokenBudget
  private val SetupReps = 2
  private val WarmCalls = 250
  /** Positions of the refreshes in the measured window. */
  private val RefreshAt = Set(99, 199)

  /** One request: the tool, its typed arguments and the wire line. */
  final case class Req(n: Int, tool: String, model: Int = -1, query: String = "",
      planted: Option[String] = None, focus: Boolean = false,
      pattern: String = "") {
    def args(p: GenProject): String = {
      def s(x: String) = Json.escape(x)
      tool match {
        case "search_models" => s"""{"query": ${s(query)}, "limit": 10}"""
        case "get_lineage" => s"""{"model_id": ${s(p.modelIds(model))}, "up_depth": 3, "down_depth": 3}"""
        case "get_impact_analysis" => s"""{"model_id": ${s(p.modelIds(model))}, "depth": 5}"""
        case "get_context_capsule" =>
          val f = if (focus) s""", "focus_model": ${s(p.modelNames(model))}""" else ""
          s"""{"task": ${s(query)}$f}"""
        case "discover_models" => s"""{"task": ${s(query)}, "limit": 40}"""
        case "get_model_details" => s"""{"model_name": ${s(p.modelNames(model))}}"""
        case "find_models_by_column" => s"""{"column_name": ${s(pattern)}, "limit": 20}"""
        case "find_models_by_path" => s"""{"path_pattern": ${s(pattern)}, "limit": 20}"""
        case _ => "{}"
      }
    }
    def line(p: GenProject): String =
      s"""{"jsonrpc": "2.0", "id": $n, "method": "tools/call", "params": {"name": "$tool", "arguments": ${args(p)}}}"""
  }

  /** The seeded request stream over project `p`, with the refresh at
    * [[RefreshAt]] when `refresh`. `hotOrder` ranks the models by
    * popularity; it belongs to the session, so the warm-up and the
    * measured window share one hot set. */
  def stream(p: GenProject, hotOrder: IndexedSeq[Int], seed: Long, n: Int,
      refresh: Boolean): IndexedSeq[Req] = {
    val rng = new java.util.Random(seed * 1000003L + 17)
    val hot = new Zipf(p.modelIds.size, Skew, rng)
    val terms = new Zipf(p.vocab.size, Skew, rng)
    def term() = p.vocab(terms.next())
    // Every block of 8 reads calls each read tool once, in seeded order.
    var pending = Iterator.empty[String]
    def nextTool(): String = {
      if (!pending.hasNext) pending = Stats.shuffled(ReadTools, rng).iterator
      pending.next()
    }
    (0 until n).map { k =>
      if (refresh && RefreshAt(k)) Req(k, Refresh)
      else {
        val tool = nextTool()
        val m = hotOrder(hot.next())
        tool match {
          case "search_models" =>
            if (rng.nextDouble() < PlantedShare) {
              val (t, _) = p.planted(rng.nextInt(p.planted.size))
              val common = p.vocab(rng.nextInt(ProjectGen.DescriptionOnly))
              Req(k, tool, query = s"$t $common", planted = Some(t))
            } else Req(k, tool, query = (0 to rng.nextInt(3)).map(_ => term()).mkString(" "))
          case "get_context_capsule" =>
            Req(k, tool, model = m, query = s"${Verbs(rng.nextInt(Verbs.size))} ${term()} ${term()}",
              focus = rng.nextBoolean())
          case "discover_models" =>
            Req(k, tool, query = s"${Verbs(rng.nextInt(Verbs.size))} ${term()} ${term()}")
          case "find_models_by_column" =>
            val w = p.columnWords(terms.next() % p.columnWords.size)
            Req(k, tool, pattern = if (rng.nextBoolean()) s"${w}_id" else w)
          case "find_models_by_path" => Req(k, tool, pattern = p.dirs(m) + "/%")
          case _ => Req(k, tool, model = m)
        }
      }
    }
  }

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> x }.toMap
    case _ => throw new IllegalStateException(s"expected an object, got $v")
  }
  private def asList(v: Any): List[Any] = v match {
    case l: List[_] => l
    case _ => throw new IllegalStateException(s"expected an array, got $v")
  }
  private def num(v: Any): Long = v match {
    case l: Long => l
    case d: Double => d.toLong
    case _ => throw new IllegalStateException(s"expected a number, got $v")
  }

  /** Check one MCP reply against the generator's answers; returns the
    * capsule's tokens / budget for capsule calls. */
  def check(p: GenProject, r: Req, reply: Option[String]): Either[String, Option[Double]] =
    try {
      val msg = asMap(JsonParse.parse(reply.getOrElse(throw new IllegalStateException("no reply"))))
      if (msg.contains("error")) return Left(s"protocol error ${msg("error")}")
      val res = asMap(msg("result"))
      val text = asMap(asList(res("content")).head)("text").toString
      if (res.get("isError").contains(true)) return Left(s"tool error: ${text.take(200)}")
      val body = JsonParse.parse(text)
      r.tool match {
        case "get_lineage" =>
          val id = p.modelIds(r.model)
          def dir(up: Boolean, name: String) =
            p.reach(id, 3, up).toSeq.map { case (n, d) => (name, d.toLong, n) }
          // The server returns at most 200 rows, ordered (direction, distance, id).
          val want = (dir(up = true, "upstream") ++ dir(up = false, "downstream")).sorted.take(200)
          val got = asList(body).map(asMap).map(m =>
            (m("direction").toString, num(m("distance")), m("id").toString)).sorted
          if (got == want) Right(None) else Left(s"lineage of $id: ${got.size} rows, want ${want.size}")
        case "get_impact_analysis" =>
          val id = p.modelIds(r.model)
          val reach = p.reach(id, 5, up = false).keys.toSeq
          val models = reach.filter(_.startsWith("model."))
          val want = (models.size.toLong, reach.count(_.startsWith("exposure.")).toLong,
            models.map(m => p.testsPerModel.getOrElse(m, 0).toLong).sum)
          val row = asMap(asList(body).head)
          val got = (num(row("n_models")), num(row("n_exposures")), num(row("n_tests")))
          if (got == want) Right(None) else Left(s"impact of $id: $got, want $want")
        case "search_models" =>
          r.planted match {
            case Some(t) =>
              val want = p.planted.find(_._1 == t).get._2
              val top = asList(body).headOption.map(x => asMap(x)("unique_id").toString)
              if (top.contains(want)) Right(None) else Left(s"search '${r.query}': top $top, want $want")
            case None => asList(body); Right(None)
          }
        case "get_context_capsule" =>
          val c = asMap(body)
          val ratio = num(c("tokenEstimate")).toDouble / num(c("tokenBudget"))
          if (num(c("tokenBudget")) != DefaultBudget) Left(s"capsule budget ${c("tokenBudget")}, want $DefaultBudget")
          else if (ratio > 1.2) Left(s"capsule tokens ${c("tokenEstimate")} over 1.2 x budget $DefaultBudget")
          else Right(Some(ratio))
        case "get_model_details" =>
          val uid = asMap(body)("uniqueId").toString
          if (uid == p.modelIds(r.model)) Right(None) else Left(s"details: $uid, want ${p.modelIds(r.model)}")
        case "refresh_index" =>
          if (asMap(body).get("status").contains("ok")) Right(None) else Left(s"refresh: $text")
        case _ => asList(body); Right(None)
      }
    } catch { case e: Exception => Left(s"${r.tool} #${r.n}: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  final case class Call(req: Req, ns: Long, startMs: Long, endMs: Long)

  /** Send `reqs` in a closed loop until the deadline, and at least past
    * every refresh and the read after it; every reply is checked after
    * its timing ends. */
  private def loop(ctx: Ctx, p: GenProject, engine: Engine, reqs: Iterator[Req],
      deadline: Long, spanName: Option[String], ratios: scala.collection.mutable.ArrayBuffer[Double])
      : Seq[Call] = {
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    BuildGuard.builds()
    var n = 0
    while (reqs.hasNext && (System.nanoTime() < deadline || n <= RefreshAt.max + 1)) {
      val r = reqs.next()
      n += 1
      val line = r.line(p)
      val startMs = System.currentTimeMillis()
      val (reply, ns) = spanName match {
        case Some(name) => Clock.timed(ctx.spans(s"$name.${r.tool}", s"req-${r.n}")(McpServer.handle(engine, line)))
        case None => Clock.timed(McpServer.handle(engine, line))
      }
      val endMs = System.currentTimeMillis()
      calls += Call(r, ns, startMs, endMs)
      val builds = BuildGuard.builds()
      if (builds.nonEmpty) ctx.fail(s"${r.tool} #${r.n}: index build inside a timed call: ${builds.map(_.what)}")
      check(p, r, reply) match {
        case Left(why) => ctx.fail(why)
        case Right(ratio) => ratio.foreach(ratios += _)
      }
    }
    calls.toSeq
  }

  /** A window's figures: read calls, and the sync pairs — each refresh
    * with the read after it, which pays the snapshot rebuild. */
  final case class Window(reads: Seq[Call], sync: Seq[Seq[Call]]) {
    def metrics(prefix: String): Seq[Metric] = {
      val ms = reads.map(_.ns / 1e6)
      // The tools' latencies form separate clusters; one median over all
      // reads would sit between two of them and jump with the mix.
      val perTool = reads.groupBy(_.req.tool).values.map(cs => Stats.median(cs.map(_.ns / 1e6))).toSeq
      Seq(
        Metric(s"${prefix}op_p50_ms", Stats.geomean(perTool), "ms"),
        Metric(s"${prefix}op_tail_ms", Stats.percentile(ms, Stats.tailPct(ms.size)), "ms"),
        Metric(s"${prefix}ops_per_s", reads.size / (reads.map(_.ns).sum / 1e9), "1/s"),
        Metric(s"${prefix}sync_ms", Stats.median(sync.map(_.map(_.ns).sum / 1e6)), "ms"))
    }
  }

  private def window(calls: Seq[Call]): Window = {
    val at = calls.indices.filter(calls(_).req.tool == Refresh)
    require(at.size == RefreshAt.size && at.last + 1 < calls.size, "a refresh is missing from the window")
    val pairs = at.flatMap(i => Seq(i, i + 1)).toSet
    Window(calls.indices.filterNot(pairs).map(calls), at.map(i => Seq(calls(i), calls(i + 1))))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val project = ProjectGen.generate(ctx.seed, Models)
    val manifest = ctx.work.resolve("manifest.json")
    Files.writeString(manifest, project.manifestJson)
    val hotOrder = Stats.shuffled(project.modelIds.indices, new java.util.Random(ctx.seed * 1000003L + 5))
    val warm = stream(project, hotOrder, ctx.seed + 1, WarmCalls * SetupReps, refresh = false)
    val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]

    // Set-up, repeated: ingest, snapshot build and a fixed warm-up.
    var engine: Engine = null
    val reps = (0 until SetupReps).map { k =>
      val usage = ctx.work.resolve(s"usage_$k").resolve("log").toString
      val (_, ns) = Clock.timed(ctx.spans("setup.rep", s"setup-$k") {
        engine = ctx.spans("setup.ingest", s"setup-$k")(
          Engine.fromManifest(spark, manifest.toString, usagePath = Some(usage)))
        ctx.spans("setup.snapshot_build", s"setup-$k")(engine.catalog.snapshot)
        loop(ctx, project, engine, warm.slice(k * WarmCalls, (k + 1) * WarmCalls).iterator,
          Long.MaxValue, None, ratios)
      })
      ns / 1e9
    }

    // The measured window; in a traced run every call is a span and the
    // benchmark's listener records Spark activity.
    val counts = if (ctx.trace) Some(new SparkCounts) else None
    counts.foreach(spark.sparkContext.addSparkListener)
    val reqs = stream(project, hotOrder, ctx.seed, 5000, refresh = true)
    val t0 = System.nanoTime()
    val calls = loop(ctx, project, engine, reqs.iterator, ctx.deadlineAfter(t0),
      if (ctx.trace) Some("serve.handle") else None, ratios)
    val win = window(calls)
    calls.sortBy(-_.ns).take(3).foreach(c => System.err.println(
      f"[perfbench]   slowest: ${c.req.tool} #${c.req.n} ${c.ns / 1e6}%.1f ms"))
    System.err.println(f"[perfbench] serve_mix: ${calls.size} calls, ${win.reads.size} reads " +
      f"(tail percentile p${Stats.tailPct(win.reads.size)}%.1f), sync " +
      win.sync.map(_.map(c => f"${c.req.tool} ${c.ns / 1e6}%.1f ms").mkString(" + ")).mkString("; "))
    win.reads.groupBy(_.req.tool).toSeq.sortBy(_._1).foreach { case (t, cs) =>
      System.err.println(f"[perfbench]   $t%-22s n=${cs.size}%4d p50 ${Stats.median(cs.map(_.ns / 1e6))}%.2f ms, " +
        f"mean ${cs.map(_.ns / 1e6).sum / cs.size}%.2f ms")
    }
    if (!ctx.trace) Outcome(warm.size + calls.size, ctx.failed,
      Seq(Metric("setup_s", ctx.sessionStartS + Stats.median(reps), "s"),
        Metric("peak_rss_mb", Host.peakRssMb(), "MB")) ++ win.metrics(""), Nil)
    else {
      val layers = win.metrics("trace.") ++ traced(ctx, project, engine, manifest.toString,
        win, counts.get, ratios)
      Outcome(warm.size + calls.size, ctx.failed, Nil, layers)
    }
  }

  /** Traced run: the measured window was the MCP-transport boundary; now
    * replay its requests at the Engine API boundary and at the core
    * layers, and attribute Spark and usage-log activity to the calls. */
  private def traced(ctx: Ctx, p: GenProject, engine: Engine, manifest: String,
      win: Window, counts: SparkCounts,
      ratios: scala.collection.mutable.ArrayBuffer[Double]): Seq[Metric] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val readWindows = win.reads.map(c => (c.startMs, c.endMs))
    val readSpark = counts.summarize(sc, readWindows)
    val syncSpark = counts.summarize(sc, win.sync.flatten.map(c => (c.startMs, c.endMs)))
    val flushes = counts.sqlIntervals(sc, readWindows, "UsageLog")
    val reqs = (win.reads ++ win.sync.flatten).sortBy(_.req.n).map(_.req)

    // Boundary 2: the Engine method plus the row collect the transport does.
    def rows(df: org.apache.spark.sql.DataFrame) = df.limit(200).collect()
    reqs.foreach { r =>
      ctx.spans(s"api.call.${r.tool}", s"req-${r.n}") {
        r.tool match {
          case "search_models" => rows(engine.searchModels(r.query, 10))
          case "get_lineage" => rows(engine.getLineage(p.modelIds(r.model), 3, 3))
          case "get_impact_analysis" => rows(engine.getImpactAnalysis(p.modelIds(r.model), 5))
          case "get_context_capsule" => engine.getContextCapsule(r.query,
            if (r.focus) Some(p.modelNames(r.model)) else None)
          case "discover_models" => engine.discoverModels(r.query, limit = 40)
          case "get_model_details" => engine.getModelContext(p.modelNames(r.model))
          case "find_models_by_column" => rows(engine.findModelsByColumn(r.pattern, 20))
          case "find_models_by_path" => rows(engine.findModelsByPath(r.pattern, 20))
          case _ => engine.refreshIndex()
        }
      }
    }

    // Boundary 3: the core layers below the Engine.
    val cat = engine.catalog
    val hybrid = new graft.search.HybridSearch(cat)
    val capsules = new graft.capsule.CapsuleBuilder(cat, hybrid, new graft.graph.Lineage(cat),
      new graft.patterns.Patterns(cat))
    val exposures = cat.exposures.count()
    val snap = cat.snapshot
    reqs.foreach { r =>
      val op = s"req-${r.n}"
      r.tool match {
        case "search_models" => ctx.spans("search.hits", op)(hybrid.searchHits(r.query, "explore", 20))
        case "get_lineage" => ctx.spans("graph.bfs", op) {
          snap.bfs(Seq(p.modelIds(r.model)), 3, up = true)
          snap.bfs(Seq(p.modelIds(r.model)), 3, up = false)
        }
        case "get_impact_analysis" =>
          ctx.spans("graph.bfs", op)(snap.bfs(Seq(p.modelIds(r.model)), 5, up = false))
        case "get_context_capsule" =>
          ctx.spans("capsule.build", op)(capsules.build(r.query,
            if (r.focus) Some(p.modelNames(r.model)) else None))
          ctx.spans("patterns.summary", op)(snap.patternsSummary(exposures))
        case "refresh_index" =>
          val fresh = ctx.spans("ingest.read", op)(graft.ingest.ManifestReader.read(spark, manifest))
          ctx.spans("serve.snapshot_build", op)(graft.serve.Snapshot.build(fresh))
        case _ =>
      }
    }

    val spans = ctx.spans
    counts.jobIntervals(readWindows ++ win.sync.flatten.map(c => (c.startMs, c.endMs)))
      .foreach { case (a, b) => spans.attach("spark.job", a, b) }
    flushes.foreach { case (a, b) => spans.attach("usage.flush", a, b) }
    spans.printSelf()
    // Shares of read-call time count the reads only; the sync pairs have
    // their own figures.
    val readOps = win.reads.map(c => s"req-${c.req.n}").toSet
    def total(prefix: String) = spans.all
      .filter(x => x.name.startsWith(prefix) && (readOps(x.op) || !x.op.startsWith("req-")))
      .map(_.ms).sum
    def syncTotal(name: String) = spans.named(name).filterNot(x => readOps(x.op)).map(_.ms).sum
    val handleAll = ReadTools.map(t => total(s"serve.handle.$t")).sum
    val apiAll = ReadTools.map(t => total(s"api.call.$t")).sum
    val core = Seq("search.hits", "graph.bfs", "capsule.build").map(total).sum
    val apiOverCore = Seq("search_models", "get_lineage", "get_impact_analysis",
      "get_context_capsule").map(t => total(s"api.call.$t")).sum
    val syncAll = win.sync.flatten.map(_.ns).sum / 1e6
    def pct(x: Double, of: Double) = if (of <= 0) 0.0 else 100.0 * x / of
    ReadTools.foreach { t =>
      val h = spans.named(s"serve.handle.$t").filter(x => readOps(x.op)).map(_.ms)
      val a = spans.named(s"api.call.$t").filter(x => readOps(x.op)).map(_.ms)
      if (h.nonEmpty) System.err.println(f"[perfbench] $t%-22s n=${h.size}%4d " +
        f"serve.handle p50 ${Stats.median(h)}%.2f ms, api.call p50 ${Stats.median(a)}%.2f ms")
    }
    Seq("search.hits", "graph.bfs", "capsule.build", "patterns.summary", "ingest.read",
        "serve.snapshot_build").foreach { n =>
      val xs = spans.named(n).map(_.ms)
      if (xs.nonEmpty) System.err.println(f"[perfbench] $n%-22s n=${xs.size}%4d p50 ${Stats.median(xs)}%.2f ms")
    }
    readSpark.metrics("spark", win.reads.size) ++ syncSpark.metrics("sync", win.sync.size) ++ Seq(
      Metric("trace.ops", win.reads.size.toDouble, "count"),
      Metric("serve.parse_render_pct", pct(handleAll - apiAll, handleAll), "%"),
      Metric("api.wrap_collect_pct", pct(apiOverCore - core, handleAll), "%"),
      Metric("search.hits_pct", pct(total("search.hits"), handleAll), "%"),
      Metric("graph.bfs_pct", pct(total("graph.bfs"), handleAll), "%"),
      Metric("capsule.build_pct", pct(total("capsule.build"), handleAll), "%"),
      Metric("patterns.summary_pct", pct(total("patterns.summary"), handleAll), "%"),
      Metric("usage.flush_pct", pct(flushes.map { case (a, b) => (b - a).toDouble }.sum, handleAll), "%"),
      Metric("usage.flushes", flushes.size.toDouble, "count"),
      Metric("ingest.read_pct", pct(syncTotal("ingest.read"), syncAll), "%"),
      Metric("serve.snapshot_build_pct", pct(syncTotal("serve.snapshot_build"), syncAll), "%"),
      Metric("capsule.budget_ratio", if (ratios.isEmpty) 0.0 else ratios.max, "ratio"),
      Metric("setup.ingest_pct", pct(total("setup.ingest") + total("setup.snapshot_build"),
        total("setup.rep")), "%")
    ) ++ ReadTools.map(t => Metric(s"serve.tool_pct.$t", pct(total(s"serve.handle.$t"), handleAll), "%"))
  }
}
