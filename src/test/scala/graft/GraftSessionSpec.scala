package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The single session factory: how `SPARK_GRAFT_CPUS` becomes a core
  * count, and that no other source file builds a session of its own
  * or changes a live one outside `GraftExtensions.install` and
  * `GraftSession.withConfs`; that modules are named by family, not
  * numbered by round; which env settings src/main reads; and that the
  * vector-search SQL fragments are written once. */
class GraftSessionSpec extends AnyFunSuite {

  test("cores: an integer as given, '*' as the host's cores, unset as 32") {
    assert(GraftSession.coresOf(Some("8")) == 8)
    assert(GraftSession.coresOf(Some("*")) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.coresOf(None) == 32)
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Names of the src/main and src/test files whose text matches `re`,
    * sorted. */
  private def filesMatching(re: scala.util.matching.Regex): Seq[String] =
    (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).sorted

  test("only GraftSession.scala calls the session builder") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""".r) == Seq("GraftSession.scala"))
  }

  test("only GraftExtensions.scala adds Catalyst pieces to a session") {
    val install = """extra(?:Strategies|Optimizations)\s*(?::\+|\+\+)?=(?!=)|registerFunction\(|inject(?:Function|OptimizerRule|PlannerStrategy)\(""".r
    assert(filesMatching(install) == Seq("GraftExtensions.scala"))
  }

  test("only GraftSession.scala sets or unsets a live session's conf") {
    // everything else scopes a conf change through GraftSession.withConfs
    assert(filesMatching("""conf\.(?:set|unset)\(""".r) == Seq("GraftSession.scala"))
  }

  /** The file and top-level type names under `root` that number a
    * round instead of naming a family: a trailing digit (`Extras2`) or
    * a round tag (`R10Additions`). */
  private def roundNamed(root: String): Seq[String] = {
    val topType = """(?m)^(?:object|class|trait)\s+(\w+)""".r
    val round = """R\d+""".r
    scalaFiles(root).flatMap { p =>
      (p.getFileName.toString.stripSuffix(".scala") +:
        topType.findAllMatchIn(Files.readString(p)).map(_.group(1)).toSeq)
        .filter(n => n.last.isDigit || round.findFirstIn(n).isDefined).distinct
    }.sorted
  }

  test("modules are named by family: no src/main file or top-level object ends in a digit") {
    assert(roundNamed("src/main").isEmpty)
  }

  test("test specs are named by family: no src/test file or top-level type is round-numbered") {
    val numbered = roundNamed("src/test")
    assert(numbered.isEmpty, s"round-numbered test files or types: $numbered")
  }

  test("the only SPARK_GRAFT_ env settings src/main reads are the five deployment ones") {
    // every bench tuning knob is a constant in Bench / BenchAmbient; a
    // new env knob must earn its place in this list
    val knob = """SPARK_GRAFT_[A-Z_]+""".r
    val names = scalaFiles("src/main")
      .flatMap(p => knob.findAllIn(Files.readString(p))).distinct.sorted
    assert(names == Seq("SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_INDEX_DIR", "SPARK_GRAFT_INDEX_MAX_BYTES", "SPARK_GRAFT_SF_DIR"))
  }

  test("the vector-search SQL fragments are stated once: one cosine fold, no hand-written probe list") {
    // the double cosine fold is written only inside LlmSimilarity.cosSql
    val sim = Files.readString(Paths.get("src/main/scala/graft/operators/LlmSimilarity.scala"))
    val cosDef = sim.indexOf("def cosSql(")
    val cosDefEnd = sim.indexOf("\n\n", cosDef)
    val fold = """range\(64\), i -> CAST\(""".r
    val outside = scalaFiles("src/main").flatMap { p =>
      val text = Files.readString(p)
      val inCosSql = p.getFileName.toString == "LlmSimilarity.scala" && cosDef >= 0
      fold.findAllMatchIn(text)
        .filterNot(m => inCosSql && m.start > cosDef && m.start < cosDefEnd)
        .map(_ => p.getFileName.toString)
    }
    val perFile = outside.groupBy(identity).map { case (f, n) => s"$f x${n.size}" }.toSeq.sorted
    assert(outside.isEmpty, s"cosine folds written outside LlmSimilarity.cosSql: $perFile")
    assert(cosDef >= 0, "LlmSimilarity.cosSql is gone")
    // the probe list is rendered from ProbeIds (LlmSimilarity.ProbeInSql)
    val probeList = """IN \(1,\s?2,\s?3,\s?4,\s?5\)""".r
    val byHand = scalaFiles("src/main/scala/graft/operators")
      .filter(p => probeList.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).sorted
    assert(byHand.isEmpty, s"hand-written probe lists: $byHand")
  }

  test("throwaway paths come from the run directories: only package.scala names a scratch root") {
    // a createTemp* call given only a name prefix lands in java.io.tmpdir
    val scratchRoot = """java\.io\.tmpdir|"/dev/shm"|"/tmp/|createTemp(?:Directory|File)\(\s*"""".r
    // IndexStore's cache and Replicate's output outlive the JVM on
    // purpose, so they keep their own roots; RunDirSpec tests the roots
    // themselves, and this spec's regex names them
    val exempt = Set("package.scala", "IndexStore.scala", "Replicate.scala",
      "RunDirSpec.scala", "GraftSessionSpec.scala")
    val offenders = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filterNot(p => exempt(p.getFileName.toString))
      .filter(p => scratchRoot.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).sorted
    assert(offenders.isEmpty, s"files naming a scratch root: $offenders")
  }
}
