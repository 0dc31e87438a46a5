package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan lint against dev tooling regrowing inside the library: the
  * only mains in `src/main` are the driver contract's and the reference
  * ETL's, and every session is opened through [[LocalSession]] (the one
  * shape Bench, Verify, the dev mains and the suite share).
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
}
