package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan lint against dev tooling regrowing inside the library: the
  * only mains in `src/main` are the driver contract's and the reference
  * ETL's, and every session is opened through [[LocalSession]] (the one
  * shape Bench, Verify, the dev mains and the suite share). Queries are
  * declared once each, as a [[Query]] in the family file of their name
  * prefix; only [[SparkEntry]] keys them by name.
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
}
