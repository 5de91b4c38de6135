package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters so
  * graft can attach custom Catalyst expressions (e.g.
  * `graft.functions.FloatDot`) to DataFrame columns. Spark 4 moved these
  * behind `classic.ExpressionUtils`; placing this object in the
  * `org.apache.spark.sql` package is the standard extension-library
  * access pattern (same trick Delta/Iceberg use).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function on an ALREADY-RUNNING session (extensions only
    * apply when the session is first built). */
  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Spark's own broadcast-safe Hadoop-conf wrapper (private[spark]; also
    * covered by Spark's Kryo registration, unlike a hand-rolled
    * writeObject wrapper). `.value` yields the Configuration. */
  def serializableHadoopConf(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(conf)

  /** The Spark schema of one parquet file from its already-read footer,
    * derived as Spark's schema inference derives it: the file's Spark row
    * metadata when present, else the parquet-to-Spark converter under the
    * session's SQL conf. No Spark job runs. */
  def parquetSchema(spark: SparkSession, path: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(
        new org.apache.hadoop.fs.Path(path), footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
