package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Runs the dedup tier against the [[GenSkew]] stress fixture in BOTH
  * bucket-cap modes and reports, per query, one JSON line with wall
  * seconds, result rows, the PEAK per-task input/shuffle record counts
  * (the straggler/OOM proxy — a skew-safe shape keeps these bounded by
  * cap²/2-ish constants instead of corpus size), and the truncation-flag
  * row count where the query exposes one. Queries that THROW are
  * recorded with their outcome — in throw mode the mega bucket and the
  * over-budget broadcast tier are SUPPOSED to refuse loudly, and the
  * error text naming the scale path is part of the contract.
  *
  * Usage: runMain graft.StressDedup <skewDir> [mode,mode,...] */
object StressDedup {

  final class PeakListener extends SparkListener {
    val maxInput = new AtomicLong(0L)
    val maxShuffle = new AtomicLong(0L)
    /** Sum of records read across all tasks — the I/O-volume twin of
      * the per-task peaks (ArrivalBench reports it per batch to show
      * partition pruning engaging, or not, per arrival regime). */
    val totalInput = new AtomicLong(0L)
    def reset(): Unit =
      { maxInput.set(0L); maxShuffle.set(0L); totalInput.set(0L) }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        maxInput.getAndAccumulate(m.inputMetrics.recordsRead, math.max)
        maxShuffle.getAndAccumulate(
          m.shuffleReadMetrics.recordsRead, math.max)
        totalInput.addAndGet(m.inputMetrics.recordsRead)
        ()
      }
    }
  }

  private val Tier = Seq(
    "dd01_exact_dedup", "dd02_ngram_jaccard", "dd03_minhash_lsh",
    "dd04_simhash", "dd05_embedding_dup", "dd06_dup_clusters",
    "dd07_winnow_pairs", "dd08_candidate_jaccard", "dd09_semantic_dedup",
    "dd10_semdedup_recall", "dd11_dup_profile", "dd12_dup_spans",
    "dd13_source_overlap", "dd14_cluster_reps", "dd15_minhash_calibration",
    "dd16_incremental_lsh",
    "pipe01_clean_corpus", "pipe15_filter_funnel", "pipe17_dedup_mixture",
    "mm07_phash_dup")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val modes = if (args.length > 1) args(1).split(",").toSeq
      else Seq("throw", "truncate")
    val spark = SessionDefaults.local()
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new PeakListener
    spark.sparkContext.addSparkListener(listener)
    val queries = SparkEntry.queries
    for (mode <- modes; name <- Tier) {
      spark.conf.set("spark.graft.bucketCap.mode", mode)
      listener.reset()
      val t0 = System.nanoTime()
      val (outcome, rows, truncated) =
        try {
          val df = queries(name)(spark, dir)
          val hasFlag = df.columns.contains("bucket_truncated")
          val collected = df.count()
          val tr = if (hasFlag)
            queries(name)(spark, dir)
              .filter(org.apache.spark.sql.functions
                .col("bucket_truncated")).count()
          else -1L
          ("ok", collected, tr)
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\n\r]", " ").take(160)
            (s"threw: $msg", -1L, -1L)
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // wait for straggler task-end events before reading peaks
      Thread.sleep(200)
      println(
        s"""{"query":"$name","mode":"$mode","outcome":"$outcome",""" +
          s""""sec":${math.round(sec * 100) / 100.0},"rows":$rows,""" +
          s""""truncated_rows":$truncated,""" +
          s""""max_task_input":${listener.maxInput.get()},""" +
          s""""max_task_shuffle":${listener.maxShuffle.get()}}""")
    }
    spark.stop()
  }
}
