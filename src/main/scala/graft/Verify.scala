package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name prefixes]
    // The optional filter is a dev loop shortcut; the driver passes two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    // one predicate for both the query loop and the oracle map — they
    // must select the same set or a filtered rerun compares stale output
    val keep = (name: String) => only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.get(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Closed-over-the-registry dump: a query that throws still writes a
    // one-row sentinel parquet (schema: verify_error STRING), so the
    // downstream compare produces a loud mismatch row for it — absence of
    // a dump can never masquerade as health. Failures are additionally
    // summarized in errors.json for the pre-snapshot gate.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
          failures(name) = msg
          System.err.println(s"[verify] $name failed: $msg")
          try {
            import spark.implicits._
            Seq(msg).toDF("verify_error").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case _: Throwable => () }
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
    // a filtered run also filters the oracle map: otherwise a later
    // check over this outDir would compare fresh oracle SQL against
    // stale parquet from an earlier unfiltered run (or report missing
    // dumps for queries that were intentionally skipped)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
