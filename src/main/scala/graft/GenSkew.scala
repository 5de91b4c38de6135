package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic SKEWED-corpus stress fixture (VERDICT r7 #2): the
  * pathologies every web-scale dedup run eventually meets, at bench
  * scale, so the skew-safe shapes and the bucket-cap degrade paths are
  * exercised by real data instead of only property tests:
  *
  *  - a 10⁵-copy EXACT-dup pile (one boilerplate page repeated 100k
  *    times under distinct doc_ids) — the map-side-combine killer: any
  *    content-keyed window or unguarded groupBy ships 100k rows to one
  *    reducer;
  *  - one MEGA LSH BUCKET: 20k docs sharing a long common prefix with a
  *    unique tail token — nearly every signature minimum comes from the
  *    shared prefix, so the banding funnels all 20k into one bucket and
  *    the C(n,2) pair expansion would be 2×10⁸ pairs without the cap;
  *  - a GIANT NEAR-DUP CHAIN: 30k docs sliding a 100-token window by 10
  *    over one token stream — adjacent docs are 90% identical, chaining
  *    into huge connected components (the pile itself is a 100k-node
  *    star component);
  *  - an EMBEDDING pile: 5k bit-identical vectors (plus the source
  *    embeddings) for the cosine-dup tier.
  *
  * Background = the source fixture's documents verbatim; all other
  * tables copy through so every registered query still runs. Everything
  * is a pure column expression — byte-stable across runs.
  *
  * Usage: runMain graft.GenSkew <srcDir> <dstDir> */
object GenSkew {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val spark = SessionDefaults.local()
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, name: String, files: Int = 4): Unit = {
      df.repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      println(s"[genskew] wrote $name")
    }

    // pass-through tables so the full query surface stays runnable
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t,
        files = if (t == "lineitem") 8 else 2)
    }

    val background = spark.read.parquet(s"$src/documents.parquet")

    // 1. the exact-dup pile: 100k copies of one boilerplate page
    val pileText = (1 to 120).map(i => s"boiler${i % 40}").mkString(" ")
    val pile = spark.range(100000)
      .select((col("id") + 1000000L).as("doc_id"),
        lit(pileText).as("text"), lit("en").as("lang"),
        lit("web").as("source"),
        lit(pileText.length.toLong).as("n_chars"))

    // 2. the mega LSH bucket: long shared prefix + one unique tail token
    val bucketBase = (1 to 150).map(i => s"shared${i % 60}x").mkString(" ")
    val bucket = spark.range(20000)
      .select((col("id") + 2000000L).as("doc_id"),
        concat(lit(bucketBase + " uniq"), col("id").cast("string"))
          .as("text"),
        lit("en").as("lang"), lit("books").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // 3. the near-dup chain: 100-token windows, stride 10, one stream
    val chain = spark.range(30000)
      .select((col("id") + 3000000L).as("doc_id"),
        expr("""array_join(transform(sequence(id * 10, id * 10 + 99),
          |  p -> concat('tk', CAST(p AS STRING))), ' ')""".stripMargin)
          .as("text"),
        lit("en").as("lang"), lit("code").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    write(background.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(pile).unionByName(bucket).unionByName(chain),
      "documents", files = 8)

    // embedding pile: 5k identical unit-ish vectors beside the source set
    val srcEmb = spark.read.parquet(s"$src/embeddings.parquet")
    val dims = srcEmb.selectExpr("size(embedding)").head().getInt(0)
    val pileVec = spark.range(5000)
      .select((col("id") + 1000000L).as("vec_id"),
        expr(s"""transform(sequence(0, ${dims - 1}),
          |  i -> CAST(sin(CAST(i AS DOUBLE) * 0.37) AS FLOAT))"""
          .stripMargin).as("embedding"),
        lit(7).as("label"))
    write(srcEmb.unionByName(pileVec), "embeddings", files = 4)

    spark.stop()
  }
}
