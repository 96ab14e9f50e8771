package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public def in `graft.operators` has a caller in src/main: an
  * operator is either run by the query registry (directly or through
  * another operator) or named on the documented list below. An unstaged
  * "twin" that only tests call — the form the registry does not ship —
  * fails here.
  *
  * The scan is a word count over src/main with comments stripped (string
  * literals kept: SQL text names no Scala def): a def is called when its
  * name occurs more often than it is defined.
  *
  * The documented list is the operator half of the library API: the
  * defs the benchmark harness (`graftbench/scala`) calls. The rest of the
  * library API lives outside `graft.operators` and is not scanned:
  * `monitor.StatusServer`, `sources.Bucketing`, `sources.PartitionedSink`,
  * `sources.JdbcSync` and the `streaming.CdcStream` stream builders. */
class OperatorCallersSpec extends AnyFunSuite {

  /** Operator defs `graftbench/scala` calls, as Object.def. */
  private val BenchApi = Set(
    "Dedup.shingleHashes", "Dedup.minhashCandidates", "Dedup.minhashDedup",
    "TextAnalysis.dedupExact", "ChangeLog.normalize", "CdcMerge.merge",
    "CdcMerge.upsertApply", "Ledger.syncState", "Ledger.batchAck",
    "Ledger.monitorAlerts")

  private lazy val root: Path = Iterator.iterate(
      Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null)
    .find(p => Files.exists(p.resolve("build.sbt")))
    .getOrElse(fail("no build.sbt ancestor"))

  /** `src` without comments; string and char literals are kept. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipTo(end: String, from: Int): Int = {
      val j = src.indexOf(end, from)
      if (j < 0) src.length else j + end.length
    }
    while (i < src.length) {
      if (src.startsWith("/*", i)) i = skipTo("*/", i + 2)
      else if (src.startsWith("//", i)) i = skipTo("\n", i + 2) - 1
      else {
        val j =
          if (src.startsWith("\"\"\"", i)) skipTo("\"\"\"", i + 3)
          else if (src.charAt(i) == '"') {
            var k = i + 1
            while (k < src.length && src.charAt(k) != '"')
              k += (if (src.charAt(k) == '\\') 2 else 1)
            k + 1
          } else if (src.startsWith("'\"'", i)) i + 3
          else if (src.startsWith("'\\", i) && src.startsWith("'", i + 3)) i + 4
          else i + 1
        val end = math.min(j, src.length)
        out ++= src.substring(i, end)
        i = end
      }
    }
    out.toString
  }

  private def sources(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted

  private lazy val mainText: Map[Path, String] =
    sources(root.resolve("src/main/scala"))
      .map(p => p -> stripComments(Files.readString(p))).toMap

  /** (Object.def) for every public member def of the operator objects. */
  private lazy val operatorDefs: Seq[String] = {
    val defRe = """(?m)^  ((?:final |override |implicit )*)def (\w+)""".r
    mainText.toSeq.filter(_._1.getParent.endsWith("operators"))
      .flatMap { case (p, text) =>
        val obj = p.getFileName.toString.stripSuffix(".scala")
        defRe.findAllMatchIn(text).map(m => s"$obj.${m.group(2)}")
      }
  }

  test("every public graft.operators def has a src/main caller, apart " +
    "from the documented benchmark API") {
    assert(operatorDefs.size > 100, s"vacuous scan: ${operatorDefs.size} defs")
    val all = mainText.values.mkString("\n")
    def occurrences(name: String): Int =
      s"\\b$name\\b".r.findAllMatchIn(all).length
    val definitions = operatorDefs.groupBy(_.split('.')(1))
      .view.mapValues(_.size).toMap
    val uncalled = operatorDefs.filter { d =>
      val name = d.split('.')(1)
      occurrences(name) <= definitions(name)
    }.toSet
    assert((uncalled -- BenchApi).isEmpty,
      s"public operator defs with no src/main caller: ${
        (uncalled -- BenchApi).toSeq.sorted.mkString(", ")}")
  }

  test("the documented benchmark API names real operator defs that " +
    "graftbench/scala calls") {
    val bench = sources(root.resolve("graftbench/scala"))
      .map(p => stripComments(Files.readString(p))).mkString("\n")
    BenchApi.foreach { d =>
      assert(operatorDefs.contains(d), s"$d is not a public operator def")
      assert(bench.contains(d), s"graftbench/scala does not call $d")
    }
  }
}
