package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds only what the program reaches. Every template
  * member (def, val, var, type, object, class or trait declared in an
  * object, class or trait body, at any nesting) and every top-level
  * template must be reached from a root:
  *
  *  - a reference from another file under `src/main` or
  *    `graftbench/src` (the benchmark driver is a consumer like any
  *    main);
  *  - a `main`;
  *  - an entry of [[MainReachSpec.surface]], the declared library
  *    surface, each with its reason;
  *
  * or from the own text of a reached member of the same file (its
  * body minus the bodies of the members nested in it). A reached
  * member reaches the templates that enclose it, and a reached
  * template reaches its `override`s. A form only specs call is a
  * second implementation to keep in step with the first: it belongs
  * in `src/test` or nowhere. References are by name, comments do not
  * count, and string literals do (SQL text, class names for
  * reflection). Nesting is read from indentation, which the sources
  * keep consistent. Reads files only.
  */
class MainReachSpec extends AnyFunSuite {
  import MainReachSpec._

  private def scalaFiles(root: String): List[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
    finally walk.close()
  }

  test("every src/main member is reached from the program or declared as surface") {
    val main = scalaFiles("src/main").map(p => p.getFileName.toString -> scan(Files.readString(p)))
    val bench = scalaFiles("graftbench/src").map(p => identifiers(stripComments(Files.readString(p))._1))
    assert(main.length > 80 && bench.nonEmpty, "the scan must see src/main and graftbench/src")
    val everywhere = mutable.Map.empty[String, Int].withDefaultValue(0)
    (main.map(_._2.tokens) ++ bench).foreach(_.foreach(t => everywhere(t) += 1))

    /** Keys of `file`'s members reached from the program, plus from
      * the surface list when `withSurface`.
      */
    def reached(file: Scanned, withSurface: Boolean): Set[String] = {
      val members = file.members
      val keys = members.map(_.key).toSet
      def enclosing(key: String) = key.split('.').inits.drop(1).toSeq.init.map(_.mkString("."))
      var live = members.filter(m =>
        m.name == "main" || everywhere(m.name) > (if (file.tokens(m.name)) 1 else 0) ||
          file.rootTokens(m.name) || (withSurface && surface.contains(m.key))).map(_.key).toSet
      var grown = true
      while (grown) {
        val bodies = members.filter(m => live(m.key))
        val next = live ++ live.flatMap(enclosing).filter(keys) ++ members.filter(m =>
          bodies.exists(l => l.name != m.name && l.tokens(m.name)) ||
            (m.isOverride && live(enclosing(m.key).head))).map(_.key)
        grown = next.size > live.size
        live = next
      }
      live
    }

    val declared = main.flatMap(_._2.members.map(_.key)).toSet
    assert(declared("SimilarityPipeline.annNearDupPairsPortable") && declared("Multimodal.MediaDecoder.real"),
      "the scan must see nested members by their template path")
    val stale = surface.keySet.filterNot(declared).toSeq.sorted
    val programReached = main.flatMap { case (_, file) => reached(file, withSurface = false) }.toSet
    val redundant = surface.keySet.filter(programReached).toSeq.sorted
    val unreached = main.flatMap { case (name, file) =>
      val live = reached(file, withSurface = true)
      file.members.map(_.key).distinct.filterNot(live).map(k => s"$name: $k")
    }
    val problems = Seq(
      "surface entries that name no member" -> stale,
      "surface entries the program reaches anyway" -> redundant,
      "src/main members nothing reaches (delete them, move a test oracle to src/test, " +
        "or declare real surface in MainReachSpec.surface)" -> unreached)
      .collect { case (what, keys) if keys.nonEmpty => s"${keys.length} $what:\n  ${keys.mkString("\n  ")}" }
    if (problems.nonEmpty) fail(problems.mkString("\n"))
  }
}

object MainReachSpec {

  private def sqlForm(function: String) = s"Scala form of the registered SQL function $function"
  private def twin(query: String) = s"streaming twin of $query, spec'd stream-equals-batch"
  private def reference(path: String) = s"reference capability, gads-etl $path"

  /** Library surface the program itself does not call, by template
    * path, with the reason it stays. Every other member is reached by
    * a registered query, a main, the driver or graftbench.
    */
  val surface: Map[String, String] = Map(
    "SparkEntry.entry" -> "driver contract: the flagship smoke query",
    "SketchExpressions.cmsMergeAll" -> sqlForm("cms_merge_all"),
    "SketchExpressions.cmsEstimate" -> sqlForm("cms_estimate"),
    "VectorFunctions.cosine" -> sqlForm("vec_cosine"),
    "EtlFunctions.normalizeCustomerId" -> reference("google_ads_client.py:24-27 (X2)"),
    "EtlFunctions.csvSplitTrim" -> reference("config.py:31-36 (X3)"),
    "EtlFunctions.isoMillis" -> reference("run_context.py:8-15 (X4)"),
    "EtlFunctions.currencyToMicros" -> reference("pipeline.py micros columns (X8 inverse)"),
    "SourceConfig.queryByName" -> reference("config.py:16-20"),
    "ConfigLoader.loadEnvFile" -> reference("env.py:1-17"),
    "ConfigLoader.envWithFile" -> reference("env.py:1-17"),
    "ConfigLoader.requiredEnv" -> reference("google_ads_client.py:11-49"),
    "Extraction.compile" -> reference("pipeline.py:92-107 (S2, S3)"),
    "PayloadReader.readJsonl" -> reference("docs/raw_sink_contract.md:30"),
    "PayloadReader.sinkFor" -> reference("raw_sink_factory.py:13-33 (K6)"),
    "RawSink.isSealed" -> reference("raw_sink_local.py:44-48 (K2)"),
    "RawSink.readSeal" -> reference("raw_sink_local.py:44-48 (S5)"),
    "RawSink.listRuns" -> reference("raw_sink_object.py:27-133 (S6)"),
    "ControlPlane.markTerminalPlan" -> reference("cli.py:493-577"),
    "ControlPlane.backfillPendingRows" -> reference("cli.py:580-664"),
    "ControlPlane.oldestNewestFailed" -> reference("cli.py:326-336 (T3)"),
    "StateStore.observe.attemptStats" -> reference("cli.py:282-291 (A2)"),
    "StateStore.observe.dateRanges" -> reference("cli.py:275-281 (A3)"),
    "StateStore.observe.attemptHistogram" -> reference("cli.py:439-456 (A4)"),
    "StateStore.observe.topFailed" -> reference("cli.py:308-318 (T2)"),
    "FactTables.AdGroupGrain" -> reference("database/schema/warehouse_tables.sql"),
    "FactTables.adGroupDaily" -> reference("database/schema/warehouse_tables.sql"),
    "Warehouse.enforcePrimaryKey" -> reference("database/schema/warehouse_tables.sql:2-23"),
    "Inspect.formatStates" -> reference("state_inspect.py:12-61"),
    "Inspect.renderPreview" -> reference("consumer_preview.py:55-102"),
    "TokenizerQueries.tokenize" -> "the learned tokenizer's corpus-side apply path",
    "Multimodal.MediaDecoder.real" -> "multimodal pipeline: the pure-JVM decoder",
    "Multimodal.MediaDecoder.deterministicStub" -> "multimodal pipeline: the format-blind decoder",
    "Multimodal.decodeFeatures" -> "multimodal pipeline",
    "Multimodal.resizeImages" -> "multimodal pipeline",
    "Multimodal.sampleFrames" -> "multimodal pipeline",
    "Multimodal.frameSignatures" -> "multimodal pipeline",
    "Multimodal.sceneSplit" -> "multimodal pipeline",
    "Multimodal.chunkAudio" -> "multimodal pipeline",
    "Multimodal.mediaNearDupPairs" -> "multimodal pipeline",
    "Multimodal.byByteBudget" -> "multimodal pipeline",
    "Multimodal.perceptualHashes" -> "multimodal pipeline",
    "StatefulSessionizer.sessionizeBatch" -> twin("q27 (batch form)"),
    "StreamingAnomaly.anomalyStream" -> twin("q135"),
    "StreamingAttribution.attributeStream" -> twin("q94"),
    "StreamingCdc.cdcStream" -> twin("q194"),
    "StreamingCmsFreq.freqStream" -> twin("q196"),
    "StreamingDpRelease.releaseStream" -> twin("q241"),
    "StreamingExpectations.gateBatch" -> twin("q226"),
    "StreamingExpectations.attach" -> twin("q226"),
    "StreamingExpectations.results" -> twin("q226"),
    "StreamingFactMaintenance.toCatalogFact" -> twin("the fact rollup"),
    "StreamingFunnel.funnelStream" -> twin("q56"),
    "StreamingHeavyHitters.heavyHitterStream" -> twin("q181"),
    "StreamingIncrementalDedup.BaseState.fromCorpus" -> twin("q88"),
    "StreamingIncrementalDedup.BaseState.fromTables" -> twin("q88"),
    "StreamingIncrementalDedup.crossDupStream" -> twin("q88"),
    "StreamingIngest.toRawSink" -> twin("the raw sink's extract"),
    "StreamingKmvReach.reachStream" -> twin("q119"),
    "StreamingNearDupLedger.nearDupLedgerStream" -> twin("q88"),
    "StreamingOps.tumblingCounts" -> twin("q27"),
    "StreamingOps.hoppingCounts" -> twin("q28"),
    "StreamingOps.dedupWithinHorizon" -> twin("q54"),
    "StreamingOps.cleanStream" -> twin("q54"),
    "StreamingOps.intervalJoinStreams" -> twin("q54"),
    "StreamingScd2.scd2Stream" -> twin("q73"),
    "StreamingScd2.scd2Batch" -> twin("q73 (batch form)"),
    "StreamingSemanticDedup.semanticDedupStream" -> twin("q261"),
  )

  final case class Member(
      key: String, name: String, tokens: Set[String], isOverride: Boolean)

  final case class Scanned(tokens: Set[String], rootTokens: Set[String], members: Seq[Member])

  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  def identifiers(code: String): Set[String] = ident.findAllIn(code).toSet

  private val declaration =
    ("""^((?:@\w+\s+|(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|""" +
      """lazy\s+|sealed\s+|abstract\s+|case\s+)*)(def|val|var|type|object|class|trait)\s+(\w+)""").r

  private val templateKinds = Set("object", "class", "trait")

  /** `src` with every comment blanked (newlines kept); string and char
    * literals are skipped over, so a `//` inside SQL text stays code.
    * Also returns the indices of the lines that begin inside a string
    * literal, whose indentation says nothing about nesting.
    */
  def stripComments(src: String): (String, Set[Int]) = {
    val out = new StringBuilder(src.length)
    val inString = mutable.Set.empty[Int]
    var line = 0
    var i = 0
    def blank(c: Char): Unit = { if (c == '\n') line += 1; out.append(if (c == '\n') '\n' else ' ') }
    def keep(s: String): Unit = s.foreach { c => if (c == '\n') { line += 1; inString += line }; out.append(c) }
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
        keep(src.substring(i, stop)); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, src.length)
        out.append(src.substring(i, stop)); i = stop
      } else if (src(i) == '\'' && i + 3 < src.length && (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val stop = if (src(i + 1) == '\\') i + 4 else i + 3 // 'c' or '\c'
        out.append(src.substring(i, stop)); i = stop
      } else { if (src(i) == '\n') line += 1; out.append(src(i)); i += 1 }
    }
    (out.toString, inString.toSet)
  }

  /** One file's identifiers, the identifiers of its code outside every
    * template member (package, imports, top-level statements), and
    * its members with their own text's identifiers.
    */
  def scan(src: String): Scanned = {
    val (code, inString) = stripComments(src)
    final class Open(val indent: Int, val key: String, val template: Boolean, val isOverride: Boolean) {
      val text = new StringBuilder
    }
    val stack = mutable.ArrayBuffer.empty[Open]
    val closed = mutable.ArrayBuffer.empty[Open]
    val root = new StringBuilder
    def owner: StringBuilder = if (stack.isEmpty) root else stack.last.text
    code.split("\n", -1).zipWithIndex.foreach { case (line, n) =>
      val body = line.dropWhile(_ == ' ')
      if (body.nonEmpty && !inString(n)) {
        val indent = line.length - body.length
        // a line at a member's own indent closes it, unless it closes
        // a bracket the member opened (`): T = {`, `}`)
        while (stack.nonEmpty && (stack.last.indent > indent ||
            (stack.last.indent == indent && !"})]".contains(body.head)))) closed += stack.remove(stack.length - 1)
        declaration.findFirstMatchIn(body) match {
          case Some(m) if stack.forall(_.template) && m.group(3) != "this" =>
            val key = stack.lastOption.fold("")(_.key + ".") + m.group(3)
            stack += new Open(indent, key, templateKinds(m.group(2)), m.group(1).contains("override"))
          case _ =>
        }
      }
      owner.append(line).append('\n')
    }
    closed ++= stack
    Scanned(identifiers(code), identifiers(root.toString),
      closed.toSeq.map(o => Member(o.key, o.key.split('.').last, identifiers(o.text.toString),
        o.isOverride)))
  }
}
