package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic ×F scale-up of a driver fixture dir (default F=10:
  * sf0.1 → "sf1", ~6M-row lineitem, multi-file) so the 100-TB scaling
  * claims can be MEASURED above the largest driver fixture instead of
  * argued from plans (VERDICT r7 #1). Everything is derived from the
  * source rows with pure column expressions — no RNG, no timestamps —
  * so repeated runs are byte-stable and the DuckDB oracle can run the
  * same queries on the same files.
  *
  * Shape decisions, chosen to keep the WORK distribution scale-similar
  * rather than to stress dedup (the skew stress fixture is GenSkew):
  *  - fact/dim tables replicate with key offsets that preserve FK
  *    integrity copy-by-copy (copy k's orders point at copy k's
  *    customers, etc.); values/dates are untouched, so per-key group
  *    sizes and date selectivities match the source and only the ROW
  *    COUNT scales;
  *  - documents get a per-copy marker token spliced every 8 words:
  *    within-copy near-dup structure is preserved exactly, while
  *    cross-copy 5-gram Jaccard collapses (most windows straddle a
  *    marker), so the dup-pile sizes stay source-like instead of
  *    inflating ×F — "10× more of the same corpus", not "every doc
  *    now has 10 twins";
  *  - embeddings get a deterministic per-copy, per-dimension additive
  *    perturbation (±0.02·k scale) — cross-copy cosine drops below
  *    near-dup thresholds while the cell/cluster geometry stays
  *    source-like (a pure scalar scale would leave cosine IDENTICAL and
  *    create F-fold ANN piles);
  *  - big tables are written MULTI-FILE (the cluster layout: a 100-TB
  *    table is thousands of files; single-file fixtures hide
  *    per-file-parallelism effects).
  *
  * Usage: runMain graft.GenScale <srcDir> <dstDir> [factor] */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = SessionDefaults.local()
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.tables.Tables

    // copy index frame: one row per copy, crossed with the source table
    def copies: DataFrame =
      spark.range(factor).select(col("id").cast("int").as("cp"))

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      println(s"[genscale] wrote $name x$factor ($files files)")
    }

    // dims: unchanged (the reference star schema keys nations/regions
    // from a fixed vocabulary; scaling those would break semantics)
    write(spark.read.parquet(s"$src/region.parquet"), "region", 1)
    write(spark.read.parquet(s"$src/nation.parquet"), "nation", 1)

    // key offset units: strictly above each source table's max key so
    // copy ranges never collide
    val custOff = 100000L
    val suppOff = 10000L
    val partOff = 100000L
    val orderOff = 1000000L
    val docOff = 100000L
    val vecOff = 100000L
    val eventOff = 1000000L
    val userOff = 10000000L

    write(spark.read.parquet(s"$src/customer.parquet").crossJoin(copies)
      .withColumn("c_custkey", col("c_custkey") + col("cp") * custOff)
      .drop("cp"), "customer", 4)
    write(spark.read.parquet(s"$src/supplier.parquet").crossJoin(copies)
      .withColumn("s_suppkey", col("s_suppkey") + col("cp") * suppOff)
      .drop("cp"), "supplier", 2)
    write(spark.read.parquet(s"$src/part.parquet").crossJoin(copies)
      .withColumn("p_partkey", col("p_partkey") + col("cp") * partOff)
      .drop("cp"), "part", 4)
    write(spark.read.parquet(s"$src/orders.parquet").crossJoin(copies)
      .withColumn("o_orderkey", col("o_orderkey") + col("cp") * orderOff)
      .withColumn("o_custkey", col("o_custkey") + col("cp") * custOff)
      .drop("cp"), "orders", 8)
    write(spark.read.parquet(s"$src/lineitem.parquet").crossJoin(copies)
      .withColumn("l_orderkey", col("l_orderkey") + col("cp") * orderOff)
      .withColumn("l_partkey", col("l_partkey") + col("cp") * partOff)
      .withColumn("l_suppkey", col("l_suppkey") + col("cp") * suppOff)
      .drop("cp"), "lineitem", 16)
    write(Tables.events(spark, src).crossJoin(copies)
      .withColumn("event_id", col("event_id") + col("cp") * eventOff)
      .withColumn("user_id", col("user_id") + col("cp") * userOff)
      .drop("cp"), "events", 8)

    // documents: splice a per-copy marker token every 8 words (copy 0 is
    // the source verbatim), recompute n_chars
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .crossJoin(copies)
      .withColumn("text",
        when(col("cp") === 0, col("text")).otherwise(expr(
          """array_join(zip_with(split(text, ' '),
            |  sequence(0, size(split(text, ' ')) - 1),
            |  (t, i) -> IF(i % 8 = 7,
            |    concat(t, ' xcp', CAST(cp AS STRING), 'q'), t)), ' ')
            |""".stripMargin)))
      .withColumn("doc_id", col("doc_id") + col("cp") * docOff)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("cp")
    write(docs, "documents", 4)

    // embeddings: per-copy, per-dim additive perturbation (copy 0
    // verbatim); sin of a pure integer expression is deterministic
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .crossJoin(copies)
      .withColumn("embedding",
        when(col("cp") === 0, col("embedding")).otherwise(expr(
          """zip_with(embedding,
            |  sequence(0, size(embedding) - 1),
            |  (x, i) -> CAST(x + 0.02 * cp *
            |    sin(CAST(i AS DOUBLE) * 1.7 +
            |        CAST(vec_id AS DOUBLE) * 0.13) AS FLOAT))
            |""".stripMargin)))
      .withColumn("vec_id", col("vec_id") + col("cp") * vecOff)
      .drop("cp")
    write(emb, "embeddings", 4)

    spark.stop()
  }
}
