package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The single session factory: how `SPARK_GRAFT_CPUS` becomes a core
  * count, and that no other source file builds a session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  test("cores: an integer as given, '*' as the host's cores, unset as 32") {
    assert(GraftSession.coresOf(Some("8")) == 8)
    assert(GraftSession.coresOf(Some("*")) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.coresOf(None) == 32)
  }

  test("only GraftSession.scala calls the session builder") {
    val builder = """SparkSession\s*\.\s*builder""".r
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val sources = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val builders = sources
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"))
  }
}
