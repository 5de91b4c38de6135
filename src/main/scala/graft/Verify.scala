package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SessionDefaults.local()
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names); the driver never sets
    // it, so its runs always dump the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      // Driver contract: result dir name must EQUAL the oracle_sql.json key
      // (bare query name, no extension) or the DuckDB compare never runs.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
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
    val selectedOracle = only match {
      case Some(names) => SparkEntry.oracleSql.view.filterKeys(names).toMap
      case None        => SparkEntry.oracleSql
    }
    val json = selectedOracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Broken must never be invisible (round-5 lesson: 21 crashed queries
    // were silently absent from the driver's comparison). A throwing query
    // leaves a durable marker: _errors.json maps name → message. Exit code
    // stays 0 — the driver must still compare the queries that DID run.
    if (failures.nonEmpty) {
      val errJson = failures
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    }
    spark.stop()
  }
}
