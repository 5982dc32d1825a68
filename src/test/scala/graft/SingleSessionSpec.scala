package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session graft builds, the spec suite's included, goes through
  * [[GraftSession]]: no source under `src/` calls Spark's session
  * builder except GraftSession itself and GraftExtensionsSpec, which
  * needs `withExtensions` on a fresh session. Reads files only.
  */
class SingleSessionSpec extends AnyFunSuite {

  test("the session builder is called only in GraftSession and GraftExtensionsSpec") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val allowed = Set("GraftSession.scala", "GraftExtensionsSpec.scala")
    val walk = Files.walk(Paths.get("src"))
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    def builds(p: Path) = builder.findFirstIn(Files.readString(p)).isDefined
    assert(files.exists(p => p.getFileName.toString == "GraftSession.scala" && builds(p)),
      "the scan must see GraftSession's builder")
    val others = files.filter(p => !allowed(p.getFileName.toString) && builds(p))
    assert(others.isEmpty, s"build the session through GraftSession.local instead: ${others.mkString(", ")}")
  }
}
