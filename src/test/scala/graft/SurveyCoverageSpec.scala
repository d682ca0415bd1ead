package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** Doc-currency guard: SURVEY §8 is the coverage contract the round
  * audit reads line by line, and README advertises the graded-query
  * count — both have drifted behind the code before (VERDICT r10
  * item 4). This spec fails the build instead.
  */
class SurveyCoverageSpec extends AnyFunSuite with Matchers {

  private def read(p: String) =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  private lazy val names = SparkEntry.allQueries.map(_.name)

  test("every graded query appears in SURVEY.md") {
    val survey = read("SURVEY.md")
    // §8 legitimately references queries by number ("q41-q44, q46") —
    // accept any qNN token or range that covers the number, but when
    // SURVEY spells a FULL name for a number, it must be the real one
    // (this caught q154 recorded under a stale name).
    val mentioned = "q(\\d+)(?:-q(\\d+))?".r.findAllMatchIn(survey).flatMap { m =>
      val lo = m.group(1).toInt
      val hi = Option(m.group(2)).map(_.toInt).getOrElse(lo)
      lo to hi
    }.toSet
    val fullNames = "q\\d+_\\w+".r.findAllIn(survey).toSet
    val missing = names.filter { n =>
      !mentioned.contains(n.drop(1).takeWhile(_.isDigit).toInt)
    }
    withClue(s"queries absent from SURVEY.md: $missing — add the §8 row") {
      missing shouldBe empty
    }
    val misnamed = fullNames.filter(fn =>
      names.exists(n => n.takeWhile(_ != '_') == fn.takeWhile(_ != '_')) &&
        !names.contains(fn))
    withClue(s"SURVEY.md spells stale query names: $misnamed") {
      misnamed shouldBe empty
    }
  }

  test("query names are unique and contiguous q01..qNN") {
    names.distinct.size shouldBe names.size
    val nums = names.map(_.drop(1).takeWhile(_.isDigit).toInt).sorted
    nums shouldBe (1 to names.size)
  }

  test("README advertises the actual graded-query count") {
    val readme = read("README.md")
    val m = "(\\d+) graded queries \\(q01-q(\\d+)\\)".r.findFirstMatchIn(readme)
    m.isDefined shouldBe true
    m.get.group(1).toInt shouldBe names.size
    m.get.group(2).toInt shouldBe names.size
  }

  test("every query has oracle SQL (or is explicitly oracle-less)") {
    // The driver records a weaker rows-only check for queries without
    // oracle SQL; today every graded query carries one — if that ever
    // changes deliberately, list the exception here instead of
    // silently weakening the gate.
    val withoutOracle = names.filterNot(SparkEntry.oracleSql.contains)
    withoutOracle shouldBe empty
  }

  private lazy val mainSources: Seq[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => read(p.toString)).toSeq
    finally files.close()
  }

  test("src/main builds its SparkSession in exactly one place (Harness)") {
    mainSources.map("SparkSession\\.builder\\(\\)".r.findAllIn(_).size).sum shouldBe 1
  }

  test("SnapshotStore publishes every commit through one commitManifest call (the shared publish)") {
    val src = read("src/main/scala/graft/io/SnapshotStore.scala")
    "(?<!def )commitManifest\\(".r.findAllIn(src).size shouldBe 1
  }

  // code lines only: scaladoc and comments may name what the code calls
  private def codeCount(src: String, call: String): Int = src.linesIterator
    .map(_.trim).filterNot(l => l.startsWith("*") || l.startsWith("/"))
    .count(_.contains(call))

  test("data files have one writer (one FileFormatWriter.write call site); only the bloom sidecar re-reads written files by input_file_name") {
    mainSources.map(codeCount(_, "FileFormatWriter.write(")).sum shouldBe 1
    mainSources.map(codeCount(_, "input_file_name(")).sum shouldBe 1
    val layout = read("src/main/scala/graft/ops/LayoutOps.scala")
    val bloomPath = layout.substring(layout.indexOf("def writeStatsSidecar("),
      layout.indexOf("private def bloomAgg("))
    codeCount(bloomPath, "input_file_name(") shouldBe 1
    codeCount(bloomPath, "bloomCols.nonEmpty") shouldBe 1
  }

  test("every main CLAUDE.md and README.md tell you to run exists") {
    val named = Seq("CLAUDE.md", "README.md").flatMap { doc =>
      "(?:runMain|scripts/run_main\\.sh)\\s+graft\\.(\\w+)".r
        .findAllMatchIn(read(doc)).map(m => doc -> m.group(1))
    }
    named should not be empty
    val missing = named.filterNot { case (_, n) =>
      scala.util.Try(Class.forName(s"graft.$n")
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    withClue(s"commands name mains that do not exist: $missing") {
      missing shouldBe empty
    }
  }

  test("Harness.select: exact-number prefixes, all on empty, loud on no match") {
    names.exists(_.startsWith("q170_")) shouldBe true
    val q17 = Harness.select(Seq("q17_")).map(_.name)
    q17.size shouldBe 1
    q17.head should startWith("q17_")
    Harness.select(Seq("q17_,q18_", "q19_")).size shouldBe 3
    Harness.select(Seq.empty).map(_.name) shouldBe names
    an[IllegalArgumentException] should be thrownBy Harness.select(Seq("nope_"))
  }
}
