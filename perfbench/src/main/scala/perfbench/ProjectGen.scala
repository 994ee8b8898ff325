package perfbench

import graft.util.Json.escape

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double, rng: java.util.Random) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** A generated dbt project: the manifest text plus the answers the
  * benchmark checks the server against. */
final case class GenProject(
    manifestJson: String,
    modelIds: IndexedSeq[String],
    modelNames: IndexedSeq[String],
    columns: IndexedSeq[Seq[String]],
    dirs: IndexedSeq[String],
    vocab: IndexedSeq[String],
    columnWords: IndexedSeq[String],
    /** child id → parent ids: the manifest's parent_map, i.e. the edge list. */
    parentMap: Map[String, Seq[String]],
    testsPerModel: Map[String, Int],
    /** unique planted term → the one model whose description carries it. */
    planted: Seq[(String, String)]) {

  lazy val children: Map[String, Seq[String]] =
    parentMap.toSeq.flatMap { case (c, ps) => ps.map(_ -> c) }
      .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).distinct }

  /** Min-distance reach from `id`, seed excluded, up to `depth` hops. */
  def reach(id: String, depth: Int, up: Boolean): Map[String, Int] = {
    val adj = if (up) parentMap else children
    val dist = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var frontier = Seq(id)
    var d = 0
    while (d < depth && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
        .filter(v => v != id && !dist.contains(v))
      frontier.foreach(dist(_) = d)
    }
    dist.toMap
  }
}

/** Seeded generator of a branching dbt project: sources, staging /
  * intermediate / marts models whose fan-in is 1–4 earlier models,
  * column tests, macros and exposures. Descriptions and column names
  * draw from a vocabulary with a Zipf term distribution, and a few
  * models carry a term no other node has (the planted answers).
  */
object ProjectGen {

  private val Syllables = Seq("ba", "ko", "ri", "ta", "ne", "lu", "mo", "si",
    "da", "ve", "po", "gu", "fa", "ki", "lo", "re", "tu", "ma", "ze", "ho",
    "ca", "di", "pe", "ru", "sa", "to", "vi", "we", "ya", "nu")

  private def words(rng: java.util.Random, n: Int, minSyl: Int, maxSyl: Int): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val k = minSyl + rng.nextInt(maxSyl - minSyl + 1)
      out += (0 until k).map(_ => Syllables(rng.nextInt(Syllables.size))).mkString
    }
    out.toIndexedSeq
  }

  /** A term no vocabulary word can equal: the `zq` prefix never occurs
    * in a syllable word, and letters only, so stemming keeps it unique. */
  private def plantedTerm(k: Int): String = {
    val sb = new StringBuilder("zq")
    var x = k
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.append("x").toString
  }

  /** Vocabulary ranks below this occur only in model descriptions. */
  val DescriptionOnly = 20

  def generate(seed: Long, nModels: Int): GenProject = {
    val rng = new java.util.Random(seed)
    val vocab = words(rng, 3000, 2, 4)
    // Column words end in `q`, which no vocabulary word (or its stem) does,
    // so the two vocabularies never share a search term.
    val colWords = words(rng, 300, 2, 3).map(_ + "q")
    val termZipf = new Zipf(vocab.size, 1.1, rng)
    val colZipf = new Zipf(colWords.size, 1.0, rng)
    val colSuffix = Seq("id", "amount", "name", "status", "at", "count", "key", "code")
    val tagNames = Seq("finance", "core", "pii", "daily", "hourly", "legacy", "ml", "ops")
    val tagZipf = new Zipf(tagNames.size, 1.2, rng)

    val nSources = math.max(4, nModels / 100)
    val sourceIds = (0 until nSources).map(k =>
      s"source.bench.src_${k % 12}.raw_${vocab(DescriptionOnly + k)}")
    val nMacros = 40
    val macroNames = (0 until nMacros).map(k => s"${colWords(k)}_macro")

    val layerOf = (i: Int) =>
      if (i < nModels * 3 / 10) "staging" else if (i < nModels * 3 / 4) "intermediate" else "marts"
    // The most common terms appear only in descriptions, so a query pairing
    // a planted term with one of them has one model matching both.
    val names = (0 until nModels).map { i =>
      val w = vocab(math.max(termZipf.next(), DescriptionOnly))
      layerOf(i) match {
        case "staging" => s"stg_${w}_$i"
        case "intermediate" => s"int_${w}_$i"
        case _ => if (i % 2 == 0) s"fct_${w}_$i" else s"dim_${w}_$i"
      }
    }
    val ids = names.map("model.bench." + _)
    val dirs = (0 until nModels).map(i => s"models/${layerOf(i)}/${vocab(DescriptionOnly + i % 40)}")
    val nPlanted = 24
    val plantedIdx = rng.ints(0, nModels).distinct().limit(nPlanted).toArray.toSeq
    val planted = plantedIdx.zipWithIndex.map { case (i, k) => plantedTerm(k) -> ids(i) }
    val plantedAt = plantedIdx.zipWithIndex.map { case (i, k) => i -> plantedTerm(k) }.toMap

    val parentMap = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    val testsPerModel = scala.collection.mutable.Map.empty[String, Int]
    val columns = new Array[Seq[String]](nModels)
    val nodes = new StringBuilder
    def strs(xs: Seq[String]) = xs.map(escape).mkString("[", ", ", "]")

    (0 until nModels).foreach { i =>
      val parents: Seq[String] =
        if (layerOf(i) == "staging" || i == 0) Seq(sourceIds(rng.nextInt(nSources)))
        else {
          val fanIn = 1 + rng.nextInt(4)
          (0 until fanIn).map { _ =>
            // Half the parents come from the recent past, half from anywhere.
            val j = if (rng.nextBoolean()) i - 1 - rng.nextInt(math.min(i, 200)) else rng.nextInt(i)
            ids(j)
          }.distinct
        }
      parentMap(ids(i)) = parents
      val nCols = 3 + rng.nextInt(6)
      val cols = (0 until nCols).map(_ =>
        s"${colWords(colZipf.next())}_${colSuffix(rng.nextInt(colSuffix.size))}").distinct
      columns(i) = cols
      val desc = ((0 until 6 + rng.nextInt(9)).map(_ => vocab(termZipf.next())) ++
        plantedAt.get(i).toSeq).mkString(" ")
      val mac = macroNames(rng.nextInt(nMacros))
      val refs = parents.filter(_.startsWith("model.")).map(_.stripPrefix("model.bench."))
      val from = if (refs.nonEmpty) refs.map(r => s"{{ ref('$r') }}").mkString(" join ")
        else s"{{ source('raw', '${parents.head.split('.').last}') }}"
      val sql = s"select ${cols.mkString(", ")}, {{ $mac('${cols.head}') }} as derived from $from"
      val mat = layerOf(i) match {
        case "staging" => "view"
        case "intermediate" => if (i % 3 == 0) "ephemeral" else "view"
        case _ => if (i % 4 == 0) "incremental" else "table"
      }
      val tags = (0 until rng.nextInt(3)).map(_ => tagNames(tagZipf.next())).distinct
      val colJson = cols.map(c =>
        s"""${escape(c)}: {"name": ${escape(c)}, "description": ${escape(vocab(termZipf.next()) + " " + c)}, "data_type": "varchar", "tags": []}""")
        .mkString("{", ", ", "}")
      if (nodes.nonEmpty) nodes.append(",\n")
      nodes.append(s"""${escape(ids(i))}: {"resource_type": "model", "name": ${escape(names(i))},
        |"fqn": ["bench", ${escape(layerOf(i))}, ${escape(names(i))}], "package_name": "bench",
        |"database": "lake", "schema": ${escape(layerOf(i))},
        |"original_file_path": ${escape(dirs(i) + "/" + names(i) + ".sql")},
        |"raw_code": ${escape(sql)}, "compiled_code": ${escape(sql)},
        |"description": ${escape(desc)}, "tags": ${strs(tags)},
        |"config": {"materialized": ${escape(mat)}, "tags": []},
        |"depends_on": {"nodes": ${strs(parents)}},
        |"refs": ${refs.map(r => s"""{"name": ${escape(r)}}""").mkString("[", ", ", "]")},
        |"sources": [], "columns": $colJson}""".stripMargin)
      // Tests: roughly 60% of models get not_null + unique on their first
      // column, a fifth of those also accepted_values on their last.
      if (rng.nextDouble() < 0.6) {
        val kinds = Seq("not_null" -> cols.head, "unique" -> cols.head) ++
          (if (rng.nextDouble() < 0.2) Seq("accepted_values" -> cols.last) else Nil)
        kinds.foreach { case (k, c) =>
          val tn = s"${k}_${names(i)}_$c"
          val tid = s"test.bench.$tn"
          parentMap(tid) = Seq(ids(i))
          nodes.append(s""",
            |${escape(tid)}: {"resource_type": "test", "name": ${escape(tn)},
            |"test_metadata": {"name": ${escape(k)}, "kwargs": {"column_name": ${escape(c)}}},
            |"depends_on": {"nodes": [${escape(ids(i))}]}, "config": {"severity": "ERROR"}}""".stripMargin)
        }
        testsPerModel(ids(i)) = kinds.size
      }
    }

    val marts = (0 until nModels).filter(i => layerOf(i) == "marts").map(ids)
    val exposures = (0 until 40).map { k =>
      val deps = (0 until 2 + rng.nextInt(2)).map(_ => marts(rng.nextInt(marts.size))).distinct
      val eid = s"exposure.bench.dash_${vocab(k)}"
      parentMap(eid) = deps
      s"""${escape(eid)}: {"name": ${escape("dash_" + vocab(k))}, "label": ${escape(vocab(k))},
         |"type": "dashboard", "url": "https://bi.example/${vocab(k)}",
         |"description": ${escape(vocab(termZipf.next()) + " dashboard")},
         |"owner": {"name": "analytics", "email": "analytics@example.com"},
         |"depends_on": {"nodes": ${strs(deps)}}, "tags": []}""".stripMargin
    }
    val sources = sourceIds.map { sid =>
      val parts = sid.split('.')
      s"""${escape(sid)}: {"name": ${escape(parts(3))}, "source_name": ${escape(parts(2))},
         |"schema": "raw", "database": "lake", "description": ${escape(parts(3) + " landing table")},
         |"loader": "fivetran", "columns": {}}""".stripMargin
    }
    val macros = macroNames.map { m =>
      s"""${escape("macro.bench." + m)}: {"name": ${escape(m)}, "package_name": "bench",
         |"original_file_path": ${escape("macros/" + m + ".sql")},
         |"description": ${escape("helper " + m)},
         |"macro_sql": ${escape("{% macro " + m + "(c) %} coalesce({{ c }}, 0) {% endmacro %}")}}""".stripMargin
    }
    val pm = parentMap.map { case (c, ps) => s"${escape(c)}: ${strs(ps)}" }.mkString(",\n")
    val json =
      s"""{"metadata": {"dbt_schema_version": "v12", "dbt_version": "1.8.0",
         |"adapter_type": "spark", "project_name": "bench", "generated_at": "2026-01-01T00:00:00Z"},
         |"nodes": {${nodes.toString}},
         |"sources": {${sources.mkString(",\n")}},
         |"macros": {${macros.mkString(",\n")}},
         |"exposures": {${exposures.mkString(",\n")}},
         |"parent_map": {$pm}}""".stripMargin
    GenProject(json, ids, names, columns.toIndexedSeq, dirs, vocab, colWords,
      parentMap.toMap, testsPerModel.toMap, planted)
  }
}
