package graft

/** Standalone epoch gauge for the Bench spark_probe instrument: runs
  * [[Bench.sparkProbeOnce]] — literally the same definition the health
  * gate times, so the two instruments cannot diverge — 8 times in one
  * JVM and prints the sample list, so an operator can read the host's
  * current JVM-chain throughput band (healthy steady state
  * ~0.45-0.70 s on this container; calibration in BASELINE.md
  * round-13 addendum) before trusting a record-class bench run. Pairs
  * with tools/cpu_probe.py (single-core) and the Bench DuckDB anchor
  * (mostly single-threaded) — this is the multi-core JVM instrument. */
object ProbeSample {
  def main(args: Array[String]): Unit = {
    val spark = SessionDefaults.local()
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    val xs = (1 to 8).map(_ => Bench.sparkProbeOnce(spark))
    println("PROBE_SAMPLES " + xs.map(x => f"$x%.3f").mkString(","))
    spark.stop()
  }
}
