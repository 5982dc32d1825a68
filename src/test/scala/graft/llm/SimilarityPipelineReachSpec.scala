package graft.llm

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every member of [[SimilarityPipeline]] is reached from the program:
  * referenced by code in `src/main` outside the object, or by the body
  * of a member that is. A vector form only specs call is a second
  * implementation to keep in step with the first; it belongs in the
  * spec or nowhere. The one exception is [[SimilarityPipeline.bruteForceTopK]],
  * the exact reference every approximate form's recall is measured
  * against. Comments do not count as references. Reads files only.
  */
class SimilarityPipelineReachSpec extends AnyFunSuite {

  private val testReferences = Set("bruteForceTopK")

  /** `src` with every comment blanked (newlines kept); string and char
    * literals are skipped over, so a `//` inside SQL text stays code.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(c: Char): Unit = out.append(if (c == '\n') '\n' else ' ')
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') { blank(src(i)); i += 1 }
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        while (i < src.length && (depth > 0 || src.startsWith("/*", i))) {
          if (src.startsWith("/*", i)) { depth += 1; blank(' '); blank(' '); i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; blank(' '); blank(' '); i += 2 }
          else { blank(src(i)); i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out.append(src.substring(i, stop)); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, src.length)
        out.append(src.substring(i, stop)); i = stop
      } else if (src(i) == '\'' && i + 3 < src.length && (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val stop = if (src(i + 1) == '\\') i + 4 else i + 3 // 'c' or '\c'
        out.append(src.substring(i, stop)); i = stop
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }

  private def refers(code: String, name: String): Boolean =
    s"\\b$name\\b".r.findFirstIn(code).isDefined

  test("every SimilarityPipeline member is reached from src/main, except the bruteForceTopK test reference") {
    val walk = Files.walk(Paths.get("src/main"))
    val files = try walk.iterator().asScala.filter(p => p.toString.endsWith(".scala")).toList
      finally walk.close()
    def code(p: Path) = stripComments(Files.readString(p))
    val (self, others) = files.partition(_.getFileName.toString == "SimilarityPipeline.scala")
    assert(self.length == 1, "the scan must see SimilarityPipeline.scala")
    val outside = others.map(code).mkString("\n")
    // top-level members sit at two-space indent; nested defs are part
    // of their member's body
    val member = """(?m)^  (?:@inline\s+)?(?:private(?:\[\w+\])?\s+)?(?:def|val|lazy val)\s+(\w+)""".r
    val body = code(self.head)
    val starts = member.findAllMatchIn(body).toList
    val bodies: Map[String, String] = starts.zip(starts.drop(1).map(_.start) :+ body.length)
      .groupMapReduce(_._1.group(1)) { case (m, end) => body.substring(m.end, end) }(_ + "\n" + _)
    assert(bodies.contains("adaptiveNearDupPairsFp") && bodies.contains("bruteForceTopK"),
      s"the scan must see SimilarityPipeline's members, saw ${bodies.keys.toSeq.sorted.mkString(", ")}")
    var live = bodies.keySet.filter(refers(outside, _))
    var grown = true
    while (grown) {
      val next = live ++ bodies.keySet.filter(n => live.exists(l => l != n && refers(bodies(l), n)))
      grown = next.size > live.size
      live = next
    }
    val unreached = (bodies.keySet -- live -- testReferences).toSeq.sorted
    assert(unreached.isEmpty,
      s"${unreached.length} SimilarityPipeline members only specs reach: ${unreached.mkString(", ")}")
  }
}
