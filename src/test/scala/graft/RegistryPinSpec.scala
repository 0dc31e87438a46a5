package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The registry's pinned shape: one line per query, `name<TAB>md5` of its
  * raw oracle SQL (`{SFDIR}` unsubstituted), `-` for a rows-only query,
  * sorted by name. [[RegistryPinGen]] writes the file; moving a query
  * between source files must leave every line as it was.
  */
object RegistryPin {
  val path = "src/test/resources/registry.pin"

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def render(): String =
    SparkEntry.queries.keySet.toSeq.sorted.map { name =>
      s"$name\t${SparkEntry.oracleSql.get(name).fold("-")(md5)}"
    }.mkString("", "\n", "\n")
}

class RegistryPinSpec extends AnyFunSuite {

  test("registry names and raw oracle SQL match the pin") {
    val pinned = new String(Files.readAllBytes(Paths.get(RegistryPin.path)), UTF_8)
      .linesIterator.toSeq
    assert(pinned.size == 279)
    assert(pinned.count(_.endsWith("\t-")) == 2)
    val actual = RegistryPin.render().linesIterator.toSeq
    assert(actual.diff(pinned).isEmpty && pinned.diff(actual).isEmpty,
      s"changed: ${actual.diff(pinned)}; missing: ${pinned.diff(actual)}")
  }

  test("a7 and a8b stay rows-only") {
    val rowsOnly = Set("a7_approx_distinct", "a8b_approx_percentiles")
    assert(rowsOnly.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == rowsOnly)
  }
}
