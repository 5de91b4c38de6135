package graft
import org.apache.spark.sql.SparkSession

/** The ONE definition site for the engine's shared session configuration
  * (round-18 verdict #2: `spark.sql.limit.initialNumPartitions` was set
  * in the Bench/Verify/JobCount sessions but not the product CLI's, so
  * the bench priced a session the product didn't create). Main, Bench,
  * Verify and JobCount all route their builders through here; a config
  * that changes engine behavior is added HERE or nowhere. `cpus`
  * parameterizes the scale-dependent settings from the session's core
  * count — never a local-mode constant (on a cluster, pass the intended
  * post-shuffle partition count). */
object SessionDefaults {
  def apply(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The library's bounded cap-probe collects (componentsLocal, the
      // dd13/pipe17 driver tails) sit on top of an already-computed
      // shuffle, so CollectLimit's incremental 1-partition-then-rescan
      // staging is pure scheduling floor: scan all reduce partitions in
      // one pass. Scale-honest — the probes' caps bound what ships to
      // the driver regardless of how many partitions one job touches.
      .config("spark.sql.limit.initialNumPartitions", cpus)

  /** A `local[n]` builder whose shuffle width matches its master, with n
    * the host's core count from `SPARK_GRAFT_CPUS` (32 when unset). */
  def local(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    apply(SparkSession.builder().master(s"local[$cpus]"), cpus)
  }
}
