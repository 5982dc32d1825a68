package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    // Preflight: refuse to dump a registry that contains queries not
    // declared in SURVEY §2.3 — an undeclared registration is exactly
    // the unverified-landing failure mode round 6 shipped (q227).
    // Skipped when SURVEY.md isn't in the cwd (portable runs).
    val survey = Paths.get("SURVEY.md")
    if (Files.exists(survey)) {
      val missing = ops.Registry.undeclaredIn(Files.readString(survey))
      require(missing.isEmpty,
        s"registered queries undeclared in SURVEY §2.3: ${missing.mkString(", ")} " +
          "— declare (and spec + oracle-check) them before the driver dump")
    }
    new java.io.File(outDir).mkdirs()
    // Dev-only subset knob (mirrors Bench): the driver always runs the
    // full set; a builder iterating on one query shouldn't re-dump 90.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
