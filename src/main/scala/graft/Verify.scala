package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = LocalSession.cpus
    val spark = LocalSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c — dump only the named queries
    // (local iteration aid; the driver leaves it unset and gets all)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    val straddles = scala.collection.mutable.ArrayBuffer[String]()
    selected.foreach { case (name, fn) =>
      val wrote =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // half-grid straddle audit on the written result: any double
      // within 1e-9 of the scale-6 ROUND half grid is a future
      // cross-engine coin-flip — surface it here, at THIS scale
      // factor, instead of in a remote driver's hash mismatch. Its own
      // try/catch: an audit-only failure must not masquerade as a
      // query failure (the artifact is present and valid).
      if (wrote) {
        try {
          StraddleAudit.audit(spark.read.parquet(s"$outDir/$name")).foreach { h =>
            val line = s"$name.${h.column}=${h.value}"
            straddles += line
            System.err.println(s"[straddle] $line")
          }
        } catch { case e: Throwable =>
          System.err.println(s"[straddle-audit] $name audit failed: ${e.getMessage}")
        }
        // pre-round twin audit: scan the UNROUNDED quantities the
        // query's quantized finals consumed — the straddle class the
        // output scan is structurally blind to (a pre-round half
        // rounds onto the grid in both engines before the scan).
        SparkEntry.preRoundTwins.get(name).foreach { twinFn =>
          try {
            StraddleAudit.auditTwins(twinFn(spark, sfDir)).foreach { h =>
              val line = s"$name.pre.${h.column}=${h.value}"
              straddles += line
              System.err.println(s"[straddle] $line")
            }
          } catch { case e: Throwable =>
            System.err.println(s"[straddle-audit] $name twin audit failed: ${e.getMessage}")
          }
        }
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
    // only the selected ids, so a compare that walks this file sees a
    // query that threw as missing output, not a skipped id
    val json = SparkEntry.oracleSql
      .filter(kv => selected.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Environment pin (separate file — an extra key in oracle_sql.json
    // would be read by the driver as a query named "__env"): records
    // the engine versions a correctness run was produced under, so a
    // cross-engine hash divergence is diagnosable against the oracle
    // side's own version instead of invisible environment skew.
    val env = Map(
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version")
    )
    Files.writeString(
      Paths.get(s"$outDir/verify_env.json"),
      env.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    )
    Files.writeString(
      Paths.get(s"$outDir/straddles.json"),
      straddles.map(q).mkString("[", ",", "]")
    )
    spark.stop()
  }
}
