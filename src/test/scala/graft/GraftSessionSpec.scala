package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The single session factory: how `SPARK_GRAFT_CPUS` becomes a core
  * count, and that no other source file builds a session of its own
  * or changes a live one outside `GraftExtensions.install` and
  * `GraftSession.withConfs`; that modules are named by family, not
  * numbered by round; and which env settings src/main reads. */
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
