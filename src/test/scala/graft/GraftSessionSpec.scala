package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The single session factory: how `SPARK_GRAFT_CPUS` becomes a core
  * count, and that no other source file builds a session of its own;
  * and that modules are named by family, not numbered by round. */
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

  test("only GraftSession.scala calls the session builder") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val sources = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val builders = sources
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"))
  }

  test("modules are named by family: no src/main file or top-level object ends in a digit") {
    val topObject = """(?m)^object\s+(\w+)""".r
    val numbered = scalaFiles("src/main").flatMap { p =>
      (p.getFileName.toString.stripSuffix(".scala") +:
        topObject.findAllMatchIn(Files.readString(p)).map(_.group(1)).toSeq)
        .filter(_.last.isDigit).distinct
    }
    assert(numbered.isEmpty)
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
