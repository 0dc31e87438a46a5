package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan lint against dev tooling regrowing inside the library: the
  * only mains in `src/main` are the driver contract's and the reference
  * ETL's, and every session is opened through [[LocalSession]] (the one
  * shape Bench, Verify, the dev mains and the suite share); only
  * [[CacheScope.dropAll]] sweeps the persisted RDDs. Queries are
  * declared once each, as a [[Query]] in the family file of their name
  * prefix; only [[SparkEntry]] keys them by name. Every doc a source file,
  * README.md or ARCHITECTURE.md cites exists, and every PLANS.md entry
  * cited by id exists.
  */
class SourceLayoutSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def rel(p: Path): String =
    Paths.get("src").relativize(p).toString.replace('\\', '/')

  private def offenders(roots: Seq[String], allowed: Set[String],
      declares: String => Boolean): Seq[String] = {
    val files = roots.flatMap(scalaFiles)
    assert(files.size > 50, "source tree not found")
    files.filterNot(f => allowed(rel(f)))
      .filter(f => declares(new String(Files.readAllBytes(f), "UTF-8")))
      .map(rel).sorted
  }

  private val mainDef = """\bdef\s+main\s*\(""".r
  private val builderCall = """\bSparkSession\s*\.\s*builder\b""".r

  private def declaresMain(src: String): Boolean = mainDef.findFirstIn(src).isDefined
  private def callsBuilder(src: String): Boolean = builderCall.findFirstIn(src).isDefined

  test("lint: src/main declares main() only in Bench, Verify and etl/Pipeline") {
    assert(declaresMain("object Probe {\n  def main(args: Array[String]): Unit = ()\n}"))
    assert(declaresMain("def  main (a: Array[String]) = ()"))
    assert(!declaresMain("def mainLoop(): Unit = ()"))
    val found = offenders(Seq("src/main/scala"),
      Set("main/scala/graft/Bench.scala", "main/scala/graft/Verify.scala",
        "main/scala/graft/etl/Pipeline.scala"), declaresMain)
    assert(found.isEmpty, s"dev mains belong under src/dev: $found")
  }

  test("lint: only LocalSession and etl/Pipeline build a SparkSession") {
    // samples are concatenated so this file never matches its own scan
    assert(callsBuilder("val s = SparkSession" + ".builder().master(\"local[4]\")"))
    assert(callsBuilder("SparkSession" + "\n      .builder()"))
    assert(!callsBuilder("val s: SparkSession = LocalSession(4)"))
    val found = offenders(Seq("src/main/scala", "src/dev/scala", "src/test/scala"),
      Set("main/scala/graft/LocalSession.scala", "main/scala/graft/etl/Pipeline.scala"),
      callsBuilder)
    assert(found.isEmpty, s"open sessions with LocalSession(cpus): $found")
  }

  private val persistSweep = ("""getPersistentRDDs(\s*\.\s*\w+\s*(\([^()]*\)|\{[^{}]*\})?)*?""" +
    """\s*\.\s*foreach\s*[({][^)}]*\bunpersist\b""").r

  private def sweepsPersisted(src: String): Boolean = persistSweep.findFirstIn(src).isDefined

  test("lint: only CacheScope sweeps the persisted RDDs") {
    // samples are concatenated so this file never matches its own scan
    val rdds = "getPersistent" + "RDDs"
    assert(sweepsPersisted(s"spark.sparkContext.$rdds.values\n        .foreach(_.unpersist(blocking = true))"))
    assert(sweepsPersisted(s"spark.sparkContext.$rdds.values.foreach(_.unpersist(blocking = true))"))
    assert(sweepsPersisted(
      s"sc.$rdds\n  .filter { case (id, _) => !before(id) }\n  .values.foreach(_.unpersist(blocking = false))"))
    assert(!sweepsPersisted(s"val before = spark.sparkContext.$rdds.keySet"))
    assert(!sweepsPersisted(s"assert(sc.$rdds.contains(kept.id))\n    kept.unpersist(blocking = true)"))
    val found = offenders(Seq("src/main/scala", "src/dev/scala", "src/test/scala"),
      Set("main/scala/graft/CacheScope.scala"), sweepsPersisted)
    assert(found.isEmpty, s"drop persisted state with CacheScope.dropAll(spark): $found")
  }

  private val queryMap =
    """Map\s*\[\s*String\s*,\s*\(\s*SparkSession\s*,\s*String\s*\)\s*=>\s*DataFrame\s*\]""".r
  private val oraclesVal = """\bval\s+oracles\b""".r

  private def declaresNameMap(src: String): Boolean =
    queryMap.findFirstIn(src).isDefined || oraclesVal.findFirstIn(src).isDefined

  test("lint: only SparkEntry keys queries or oracles by name") {
    assert(declaresNameMap("val queries: Map[String, (SparkSession, String) => DataFrame] = Map("))
    assert(declaresNameMap("val q: Map[String,(SparkSession,String)=>DataFrame]"))
    assert(declaresNameMap("  private val oracles: Map[String, String] = Map("))
    assert(!declaresNameMap("val all: Seq[Query] = Seq("))
    val found = offenders(Seq("src/main/scala"), Set("main/scala/graft/SparkEntry.scala"),
      declaresNameMap)
    assert(found.isEmpty, s"declare each query once, as a graft.Query in its family: $found")
  }

  private val familyFile = """([A-Z][a-z]*)(?:(\d+)to(\d+))?Queries\.scala""".r
  private val declared = """\bQuery\(\s*"(([a-z]+)(\d+)[a-z]?_\w*)"""".r

  /** Names `src` declares that do not belong in the family file `file`:
    * the letters before a name's first digit are the family prefix, and a
    * split family's file names its id range.
    */
  private def misplaced(file: String, src: String): Seq[String] = {
    val familyFile(fam, lo, hi) = file
    declared.findAllMatchIn(src).filterNot { m =>
      val n = m.group(3).toInt
      m.group(2) == fam.toLowerCase && (lo == null || (lo.toInt <= n && n <= hi.toInt))
    }.map(_.group(1)).toSeq
  }

  test("lint: each query is declared in the family file of its name prefix") {
    assert(misplaced("TQueries.scala", "Query(\"t1_token_count\", b, None)").isEmpty)
    assert(misplaced("StQueries.scala", "Query(\"st10_stream_sketch\", b, None)").isEmpty)
    assert(misplaced("TQueries.scala", "Query(\"c1_corpus\", b, None)").nonEmpty)
    assert(misplaced("SQueries.scala", "Query(\"st1_stream\", b, None)").nonEmpty)
    assert(misplaced("A1to24Queries.scala", "Query(\"a8b_pct\", b, None)").isEmpty)
    assert(misplaced("A1to24Queries.scala", "Query(\"a25_ols\", b, None)").nonEmpty)
    val families = scalaFiles("src/main/scala/graft/queries")
      .filter(f => familyFile.matches(f.getFileName.toString))
    val sources = families.map(f => f -> new String(Files.readAllBytes(f), "UTF-8"))
    val wrong = sources.flatMap { case (f, src) => misplaced(f.getFileName.toString, src) }
    assert(wrong.isEmpty, s"queries outside their family file: $wrong")
    val names = sources.flatMap { case (_, src) => declared.findAllMatchIn(src).map(_.group(1)) }
    assert(names.sorted == SparkEntry.queries.keySet.toSeq.sorted,
      "every registry query is declared in exactly one family file")
  }

  /** `src`'s lines as the clone lint compares them, with their 1-based
    * line numbers: trimmed, with blank lines, comments and imports
    * dropped (oracle SQL `|` lines count like code).
    */
  private def normalized(src: String): Seq[(Int, String)] = {
    var inComment = false
    src.linesIterator.zipWithIndex.flatMap { case (raw, i) =>
      val t = raw.trim
      if (inComment) { inComment = !t.contains("*/"); None }
      else if (t.startsWith("/*")) { inComment = !t.contains("*/"); None }
      else if (t.isEmpty || t.startsWith("//") || t.startsWith("import ")) None
      else Some((i + 1, t))
    }.toSeq
  }

  /** Each run of at least `min` identical normalized lines that appears
    * twice across `files` (name → source), once per run, as
    * "a.scala:12 = b.scala:40". Overlapping windows of one file do not
    * count.
    */
  private def clones(files: Seq[(String, String)], min: Int): Seq[String] = {
    val norm = files.map { case (f, src) => f -> normalized(src).toIndexedSeq }
    // window start → the start of its first copy
    val first = scala.collection.mutable.HashMap.empty[Seq[String], (String, Int)]
    val hits = scala.collection.mutable.LinkedHashMap.empty[(String, Int), (String, Int)]
    for ((f, lines) <- norm; k <- 0 to lines.size - min) {
      val window = lines.slice(k, k + min).map(_._2)
      first.get(window) match {
        case Some((g, j)) if g != f || k - j >= min => hits((f, k)) = (g, j)
        case Some(_) =>
        case None => first(window) = (f, k)
      }
    }
    val lineOf = norm.toMap
    hits.toSeq.collect {
      // one report per run: a window extending the previous hit is skipped
      case ((f, k), (g, j)) if !hits.get((f, k - 1)).contains((g, j - 1)) =>
        s"$g:${lineOf(g)(j)._1} = $f:${lineOf(f)(k)._1}"
    }
  }

  test("lint: no run of 8 identical lines appears twice in src/main") {
    // samples are generated so this file never matches its own scan
    val block = (1 to 8).map(i => "val v" + i + " = f(" + i + ")")
    val planted = Seq(
      "A.scala" -> ("object A {\n" + block.mkString("\n") + "\n}"),
      "B.scala" -> ("object B {\n  // moved\n\n" +
        block.map("  " + _).mkString("\n  import x.y\n") + "\n}"))
    assert(clones(planted, 8) == Seq("A.scala:2 = B.scala:4"))
    assert(clones(Seq("C.scala" -> (block ++ block).mkString("\n")), 8) ==
      Seq("C.scala:1 = C.scala:9"))
    val nearMiss = Seq("A.scala" -> block.mkString("\n"),
      "B.scala" -> (block.init :+ "val v8 = g(8)").mkString("\n"))
    assert(clones(nearMiss, 8).isEmpty)
    val sources = scalaFiles("src/main/scala").map(f => rel(f) -> read(f))
    assert(sources.size > 50, "source tree not found")
    val found = clones(sources, 8)
    assert(found.isEmpty, s"fold each repeated block into one shared helper: $found")
  }

  private val mdName = """(?<![\w./-])([\w./-]*\w\.md)\b""".r
  private val plansCite = """PLANS\.md[\s*/`"]+([a-z]+\d+\w*)""".r

  /** `*.md` names `src` cites that `exists` does not find. */
  private def danglingDocs(src: String, exists: String => Boolean): Seq[String] =
    mdName.findAllMatchIn(src).map(_.group(1)).filterNot(exists).toSeq

  /** Ids `src` cites as `PLANS.md <id>` that name no PLANS.md heading. */
  private def danglingPlans(src: String, headings: Set[String]): Seq[String] =
    plansCite.findAllMatchIn(src).map(_.group(1)).filterNot(headings).toSeq

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** The id of each `## <id> — …` entry of PLANS.md, in file order. */
  private def plansHeadings(doc: String): Seq[String] =
    doc.linesIterator.filter(_.startsWith("## "))
      .map(_.drop(3).trim.takeWhile(!_.isWhitespace)).toSeq

  test("lint: every cited doc and PLANS.md entry exists; PlanOne dumps PLANS.md's entries") {
    // samples are concatenated so this file never matches its own scan
    val exists = Set("SURVEY.md", "e2ebench/NOTES.md")
    assert(danglingDocs("see SURVEY.md §2 and `e2ebench/NOTES.md`.", exists).isEmpty)
    assert(danglingDocs("(GONE_r18" + ".md, \"Scale\")", exists) == Seq("GONE_r18" + ".md"))
    assert(danglingDocs("// docs/NOTES" + ".md", exists) == Seq("docs/NOTES" + ".md"))
    val kept = Set("a48_bootstrap_diff")
    assert(danglingPlans("(PLANS.md a48_bootstrap_diff carries the plan)", kept).isEmpty)
    assert(danglingPlans("PLANS.md's excerpts; PLANS.md annotates t13", kept).isEmpty)
    assert(danglingPlans("(PLANS.md " + "a48 carries the plan)", kept) == Seq("a48"))
    assert(danglingPlans("see PLANS.md\n  * `d2_ngram_jaccard`", kept) == Seq("d2_ngram_jaccard"))
    assert(plansHeadings("# PLANS\n\n## c4_domain_mix — zero shuffles\n### c4 detail\n") ==
      Seq("c4_domain_mix"))

    val cited = (Seq("src", "tools").flatMap(d =>
        Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq) ++
      Seq(Paths.get("README.md"), Paths.get("ARCHITECTURE.md")))
      .map(p => p.toString.replace('\\', '/') -> read(p))
    assert(cited.size > 50, "source tree not found")
    val headings = plansHeadings(read(Paths.get("PLANS.md")))
    val missingDocs = cited.flatMap { case (f, src) =>
      danglingDocs(src, n => Files.isRegularFile(Paths.get(n))).map(n => s"$f: $n")
    }
    assert(missingDocs.isEmpty, s"citations of missing docs: $missingDocs")
    val missingPlans = cited.flatMap { case (f, src) =>
      danglingPlans(src, headings.toSet).map(id => s"$f: PLANS.md $id")
    }
    assert(missingPlans.isEmpty, s"citations of missing PLANS.md entries: $missingPlans")
    assert(PlanOne.showcased == headings,
      "PlanOne.showcased must list PLANS.md's entries in its heading order")
  }

  /** `src` with its comments and string and character literals blanked
    * out (nested block comments included); newlines are kept, so line
    * numbers still hold.
    */
  private def codeOf(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(t: String) = src.startsWith(t, i)
    def upTo(end: Int) = if (end < 0) src.length else end
    // the index just past the comment or literal that starts at i, or i
    def skip(): Int =
      if (at("//")) upTo(src.indexOf('\n', i))
      else if (at("/*")) {
        var (depth, j) = (0, i)
        do {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        } while (depth > 0 && j < src.length)
        j
      } else if (at("\"\"\"")) upTo(src.indexOf("\"\"\"", i + 3)) + 3
      else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        j + 1
      } else if (at("'\\")) upTo(src.indexOf('\'', i + 3)) + 1
      else if (at("'") && src.startsWith("'", i + 2)) i + 3
      else i
    while (i < src.length) {
      val end = math.min(skip(), src.length)
      if (end == i) { out += src(i); i += 1 }
      else { out ++= " " + src.substring(i, end).filter(_ == '\n'); i = end }
    }
    out.toString
  }

  private val materialization = """\.\s*(cache|persist|localCheckpoint)\s*\(""".r

  /** `src`'s `.cache(`/`.persist(`/`.localCheckpoint(` call sites, with
    * their line numbers; comments do not count.
    */
  private def materializations(src: String): Seq[Int] = {
    val code = codeOf(src)
    materialization.findAllMatchIn(code).map(m => code.take(m.start).count(_ == '\n') + 1).toSeq
  }

  /** The number of materialization call sites in `src/main` today. Each
    * one is a block a caller must own (CacheScope); lower the pin when a
    * site goes, never raise it to let one in.
    */
  private val MaterializationSites = 41

  test("ratchet: src/main's cache/persist/localCheckpoint call sites do not grow") {
    assert(materializations("val a = b.localCheckpoint()\nval c = d\n  .cache()") == Seq(1, 3))
    assert(materializations("// b.cache()\n/* x /* b.cache() */ d.persist() */ e").isEmpty)
    assert(materializations("val s = \"// no comment\"; val t = u.cache()") == Seq(1))
    assert(materializations("val s = \"/* no comment\"; val t = u.cache()") == Seq(1))
    assert(materializations("val s = \"\"\"/*\"\"\"; val c = '\"'; val t = u.cache()") == Seq(1))
    assert(materializations("val s = \"x.persist(y)\"; val t = \"a\\\"b.cache()\"").isEmpty)
    val sites = scalaFiles("src/main/scala").sorted.flatMap { f =>
      materializations(read(f)).map(line => s"${rel(f)}:$line")
    }
    assert(sites.size <= MaterializationSites,
      s"${sites.size} materialization sites, pinned at $MaterializationSites: ${sites.mkString(", ")}")
  }
}
