package graft.checks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{InventoryRow, TableManifest}
import graft.functions.Strings.quoteName

/** What DBCC means on a data lake (SURVEY.md §7.1 step 5 — the design
  * risk). Each check builds (commandString, action); the command string
  * reproduces the reference's command-text format so dry-run goldens are
  * meaningful (ref IntegrityChecks_VLDB.sql:547-555, 683-687), and the
  * action is a Spark job returning a violation count.
  *
  * Scale notes: CHECKALLOC/CHECKCATALOG touch only filesystem metadata and
  * parquet footers, read on the driver once per pass per pinned file (see
  * [[PassFooters]]): phase 1 runs no Spark job. CHECKTABLE is exactly one
  * full scan with map-side partial aggregation — the minimal plan for
  * content validation — under the schema the pinned footers give, so
  * Spark never infers one; its PHYSICAL_ONLY tier reads footers only.
  */
object LakeChecks {

  /** CHECKALLOC: every storage unit is present, openable, and non-empty —
    * files exist, no zero-byte parquet, every pinned file's footer parses
    * (ref IC:547 DBCC CHECKALLOC). An empty manifest counts 1; otherwise
    * each pinned file that is zero-length or whose footer does not read
    * counts 1.
    *
    * `manifests` pins the per-run file universe (ref IC:519-571 snapshot;
    * see [[graft.catalog.TableManifest]]): a table with a pinned manifest
    * is validated against EXACTLY that file set — a file landed by a
    * concurrent writer after inventory time is invisible to this run, and
    * a pinned file that vanished reads as a violation. Tables without an
    * entry fall back to a capture-at-action listing (the pre-manifest
    * behavior, kept for direct callers). `footers` is the pass's footer
    * memo: the first phase-1 command to touch a table pays its reads. */
  def checkAlloc(spark: SparkSession, db: String, tables: Seq[InventoryRow],
      maxDop: Int,
      manifests: Map[(String, String, String), TableManifest] = Map.empty,
      footers: PassFooters = new PassFooters): (String, () => Long) = {
    val cmd = s"CHECKALLOC ${quoteName(db)} WITH NO_INFOMSGS, ALL_ERRORMSGS" +
      maxDopSuffix(maxDop)
    (cmd, () => {
      tables.map { t =>
        val m = manifestFor(spark, t, manifests)
        if (m.files.isEmpty) 1L else footers(spark, m).badFiles
      }.sum
    })
  }

  /** CHECKCATALOG: metadata consistency — schema derivable and non-empty,
    * column names unique (ref IC:554 DBCC CHECKCATALOG). The schema comes
    * from the pinned footers (see [[checkAlloc]]); a table whose schema
    * cannot be derived counts 1. */
  def checkCatalog(spark: SparkSession, db: String, tables: Seq[InventoryRow],
      manifests: Map[(String, String, String), TableManifest] = Map.empty,
      footers: PassFooters = new PassFooters): (String, () => Long) = {
    val cmd = s"CHECKCATALOG ${quoteName(db)} WITH NO_INFOMSGS"
    (cmd, () => {
      tables.map { t =>
        try {
          footers(spark, manifestFor(spark, t, manifests)).schema match {
            case Some(schema) =>
              val dupCols =
                schema.fieldNames.map(_.toLowerCase).groupBy(identity)
                  .count(_._2.length > 1).toLong
              val emptySchema = if (schema.isEmpty) 1L else 0L
              dupCols + emptySchema
            case None => 1L
          }
        } catch { case _: Throwable => 1L }
      }.sum
    })
  }

  /** CHECKTABLE: full-scan content validation. Tiers (ref IC:684-687):
    *  - PHYSICAL_ONLY → footer/row-count pass only (no column profiling)
    *  - default       → one-pass per-column profile (nulls, NaN/Inf,
    *                    min<=max sanity) — all in a single aggregate
    *  - DATA_PURITY   → adds domain checks: string columns valid UTF-8
    *                    lengths, timestamps in sane range (ref IC:685-686)
    */
  def checkTable(spark: SparkSession, t: InventoryRow, physicalOnly: Boolean,
      dataPurity: Boolean, maxDop: Int,
      manifest: Option[TableManifest] = None,
      footers: PassFooters = new PassFooters): (String, () => Long) = {
    val opts =
      (if (physicalOnly) Seq("PHYSICAL_ONLY") else Seq.empty) ++
        (if (!physicalOnly && dataPurity) Seq("DATA_PURITY") else Seq.empty)
    val cmd = s"CHECKTABLE ${quoteName(t.database_name)}." +
      s"${quoteName(t.schema_name)}.${quoteName(t.object_name)}" +
      s" WITH NO_INFOMSGS, ALL_ERRORMSGS" +
      (if (opts.nonEmpty) opts.mkString(", ", ", ", "") else "") +
      maxDopSuffix(maxDop)
    (cmd, () => {
      // pinned manifest (ref IC:519-571): the scan covers exactly the
      // run's snapshot of the table — phase 2 profiles the same rows
      // phase 1 allocated, even if a writer appended files in between
      val df = manifest match {
        case Some(m) => readPinned(spark, m, footers)
        case None => readTable(spark, t.path)
      }
      if (physicalOnly) { df.count(); 0L } // footer-driven count, no decode
      else violationCount(df, dataPurity)
    })
  }

  /** CHECKDB: the composition the vendored proc defines (ref
    * ola/DatabaseIntegrityCheck.sql:1350-1369 — CHECKDB subsumes
    * CHECKALLOC + CHECKCATALOG + every table's CHECKTABLE). */
  def checkDb(spark: SparkSession, db: String, tables: Seq[InventoryRow],
      physicalOnly: Boolean, dataPurity: Boolean, maxDop: Int,
      manifests: Map[(String, String, String), TableManifest] = Map.empty)
      : (String, () => Long) = {
    val opts =
      (if (physicalOnly) Seq("PHYSICAL_ONLY") else Seq.empty) ++
        (if (!physicalOnly && dataPurity) Seq("DATA_PURITY") else Seq.empty)
    val cmd = s"CHECKDB ${quoteName(db)} WITH NO_INFOMSGS, ALL_ERRORMSGS" +
      (if (opts.nonEmpty) opts.mkString(", ", ", ", "") else "") +
      maxDopSuffix(maxDop)
    (cmd, () => {
      val footers = new PassFooters
      val (_, alloc) = checkAlloc(spark, db, tables, maxDop, manifests,
        footers)
      val (_, cat) = checkCatalog(spark, db, tables, manifests, footers)
      alloc() + cat() + tables.map(t =>
        checkTable(spark, t, physicalOnly, dataPurity, maxDop,
          manifests.get((t.database_name, t.schema_name, t.object_name)),
          footers)._2()).sum
    })
  }

  /** CHECKFILEGROUP: the lake analog of a filegroup is a PARTITION
    * directory of a partitioned table (SURVEY §2.1 S3) — validate just
    * that storage slice: files present/non-empty + content checks on the
    * partition's rows only (partition pruning keeps the scan to the
    * slice). Ref ola/DatabaseIntegrityCheck.sql:1372-1511.
    *
    * Deliberately OUTSIDE the per-run manifest: this is a direct,
    * user-invoked partition probe (the scheduler never issues it), so it
    * reads the slice as it exists at call time — the snapshot device
    * protects cross-PHASE consistency within a scheduled run, which has
    * no analog for a one-shot slice check. */
  def checkFileGroup(spark: SparkSession, t: InventoryRow,
      partitionSubdir: String, dataPurity: Boolean, maxDop: Int)
      : (String, () => Long) = {
    val cmd = s"CHECKFILEGROUP ${quoteName(t.database_name)}." +
      s"${quoteName(t.object_name)}.${quoteName(partitionSubdir)}" +
      s" WITH NO_INFOMSGS, ALL_ERRORMSGS" + maxDopSuffix(maxDop)
    (cmd, () => {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(s"${t.path}/$partitionSubdir")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 1L
      else {
        val zero = fs.listStatus(p).filter(_.isFile)
          .count(_.getLen == 0L).toLong
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val df = spark.read.option("basePath", t.path).parquet(p.toString)
        zero + violationCount(df, dataPurity)
      }
    })
  }

  /** One-pass violation aggregate over a DataFrame of any schema. */
  private[graft] def violationCount(df: DataFrame, dataPurity: Boolean): Long = {
    val checks: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      val c = col(quoted(f.name))
      f.dataType match {
        case DoubleType | FloatType =>
          Seq(count(when(isnan(c) || c === Double.PositiveInfinity ||
            c === Double.NegativeInfinity, 1)))
        case TimestampType if dataPurity =>
          Seq(count(when(
            c < lit("1900-01-01 00:00:00").cast("timestamp") ||
              c > lit("2100-01-01 00:00:00").cast("timestamp"), 1)))
        case StringType if dataPurity =>
          // impossible lengths flag decode corruption
          Seq(count(when(length(c) < 0, 1)))
        case _ => Seq.empty
      }
    }
    if (checks.isEmpty) { df.count(); 0L }
    else {
      val row = df.agg(checks.head, checks.tail: _*).head()
      (0 until row.length).map(i => row.getLong(i)).sum
    }
  }

  /** All raw reads go through here: lake tables may carry
    * TIMESTAMP(NANOS), which Spark refuses without the legacy mapping —
    * a legal table must not surface as a violation. */
  private def readTable(spark: SparkSession, path: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path)
  }

  /** Read EXACTLY a pinned manifest's files (explicit file list — Spark
    * never re-lists the directory, so the run's snapshot governs) under
    * the schema its pinned footers give, so Spark infers none. A table
    * whose schema cannot be derived (an empty manifest, or an unreadable
    * first non-empty file) throws. */
  private def readPinned(spark: SparkSession, m: TableManifest,
      footers: PassFooters) = {
    val schema = footers(spark, m).schema.getOrElse(
      throw new IllegalStateException(
        s"no parquet schema derivable from ${m.files.size} pinned file(s)"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.schema(schema).parquet(m.paths: _*)
  }

  /** The pinned manifest for `t`, or a capture-at-action fallback for
    * direct callers that did not pin one. */
  private def manifestFor(spark: SparkSession, t: InventoryRow,
      manifests: Map[(String, String, String), TableManifest])
      : TableManifest =
    manifests.getOrElse(
      (t.database_name, t.schema_name, t.object_name),
      TableManifest.capture(spark, t))

  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  private def maxDopSuffix(maxDop: Int): String =
    if (maxDop > 0) s", MAXDOP = $maxDop" else ""
}
