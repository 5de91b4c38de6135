package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{DirInventory, InventoryRow, TableManifest}
import graft.checks.{LakeChecks, PassFooters}
import graft.tables.Tables

/** The full CheckCommand vocabulary against clean + corrupt inputs. */
class LakeChecksSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  private def inv = new DirInventory(spark, Map("testdb" -> sfDir))

  private def pin(rows: Seq[InventoryRow])
      : Map[(String, String, String), TableManifest] =
    rows.map(r => (r.database_name, r.schema_name, r.object_name) ->
      TableManifest.capture(spark, r)).toMap

  /** Spark jobs `body` starts from this thread. A fence job in a second
    * group is started after `body`; the listener bus delivers in order,
    * so once the fence is seen every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "lakechecks-" + java.util.UUID.randomUUID()
    val fence = group + "-fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        else if (g == fence) fenced.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  /** A database of three tables: two single files and a 4-part directory. */
  private lazy val multiDb: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-multi").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").coalesce(1)
        .write.parquet(s"$dir/$t.parquet")
    }
    Tables.orders(spark, sfDir).repartition(4)
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("CHECKDB composes alloc + catalog + every table (ref DIC:1350)") {
    val tables = inv.objects("testdb")
    val (cmd, action) = LakeChecks.checkDb(spark, "testdb", tables,
      physicalOnly = false, dataPurity = true, maxDop = 2)
    assert(cmd ===
      "CHECKDB [testdb] WITH NO_INFOMSGS, ALL_ERRORMSGS, DATA_PURITY, MAXDOP = 2")
    assert(action() === 0L)
  }

  test("CHECKFILEGROUP validates one partition slice (ref DIC:1372-1511)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-fg").toString + "/events"
    Tables.events(spark, sfDir)
      .withColumn("dt", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("dt").parquet(out)
    val part = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("dt=")).head.getName
    val t = graft.catalog.InventoryRow("testdb", "main", "events", "U", 1L, out)
    val (cmd, action) =
      LakeChecks.checkFileGroup(spark, t, part, dataPurity = true, maxDop = 0)
    assert(cmd.startsWith("CHECKFILEGROUP [testdb].[events].["))
    assert(action() === 0L)
    // a missing partition is a violation, not an exception
    val (_, missing) =
      LakeChecks.checkFileGroup(spark, t, "dt=1899-01-01", true, 0)
    assert(missing() === 1L)
  }

  test("check_rowcounts counts a PARTITIONED table tree fully") {
    // footer counting must recurse: a partitioned table keeps its files
    // one directory level down per partition key — a non-recursive listing
    // would silently under-report exactly this layout.
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.filter(_ != "documents").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    }
    Tables.documents(spark, sfDir).write.partitionBy("lang")
      .parquet(s"$dir/documents.parquet")
    val got = graft.checks.Checks.checkRowcounts.run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.all.map(t =>
      t -> spark.read.parquet(s"$sfDir/$t.parquet").count()).toMap
    assert(got === want)
  }

  test("FK and PK checks actually fire on violating data") {
    // the fixtures are clean, so the oracle gate only ever sees zeros —
    // prove the detectors detect: drop half the orders (orphaning their
    // lineitems) and duplicate the surviving half (breaking PK
    // uniqueness) in a mutated copy of the sf dir.
    val dir = java.nio.file.Files.createTempDirectory("graft-viol").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.filter(_ != "orders").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    }
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    half.union(half).write.parquet(s"$dir/orders.parquet")
    val fk = graft.checks.Checks.checkFkContainment.run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedOrphans = graft.tables.Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 2 =!= 0).count()
    assert(fk("lineitem.l_orderkey->orders") === expectedOrphans)
    assert(fk("orders.o_custkey->customer") === 0L) // customers intact
    val pk = graft.checks.Checks.checkPkUnique.run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pk("orders") === half.count()) // every surviving key ×2
    assert(pk("customer") === 0L)
  }

  test("DATA_PURITY domain checks fire on out-of-domain rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dom").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.filter(_ != "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    }
    // poison 3 rows: negative quantity, enum outside {A,N,R}, year 1889
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("l_orderkey", "l_linenumber")
    val poisoned = li.withColumn("rn", row_number().over(w))
      .withColumn("l_quantity",
        when(col("rn") === 1, -5.0).otherwise(col("l_quantity")))
      .withColumn("l_returnflag",
        when(col("rn") === 2, "X").otherwise(col("l_returnflag")))
      .withColumn("l_shipdate",
        when(col("rn") === 3, lit("1889-01-01 00:00:00").cast("timestamp"))
          .otherwise(col("l_shipdate")))
      .drop("rn")
    poisoned.write.parquet(s"$dir/lineitem.parquet")
    val got = graft.checks.Checks.checkDomains.run(spark, dir)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("lineitem") === ((1L, 0L, 1L, 1L))) // range, ratio, enum, ts
    assert(got("orders") === ((0L, 0L, 0L, 0L)))   // untouched table clean
  }

  test("CHECKALLOC flags a zero-byte parquet file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alloc").toString
    val tdir = new java.io.File(s"$dir/broken.parquet")
    tdir.mkdirs()
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"${tdir.getPath}/part-0.parquet"))
    val t = graft.catalog.InventoryRow("testdb", "main", "broken", "U", 0L,
      tdir.getPath)
    val (_, action) = LakeChecks.checkAlloc(spark, "testdb", Seq(t), 0)
    assert(action() >= 1L)
  }

  test("CHECKALLOC parses every pinned footer, not only the first") {
    // a good part-00000 and a non-empty garbage part-00001: schema
    // inference reads only the first file's footer and passes the table
    val dir = java.nio.file.Files.createTempDirectory("graft-garbage").toString
    val tdir = s"$dir/t.parquet"
    spark.read.parquet(s"$sfDir/nation.parquet").coalesce(1)
      .write.parquet(tdir)
    val good = new java.io.File(tdir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(good.length === 1 && good.head.getName.startsWith("part-00000"))
    val junk = new Array[Byte](5000)
    new scala.util.Random(7).nextBytes(junk)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tdir/part-00001-garbage.parquet"), junk)
    val rows = new DirInventory(spark, Map("db" -> dir)).objects("db")
    val manifests = pin(rows)
    assert(manifests.values.head.files.size === 2)
    val (_, pinned) = LakeChecks.checkAlloc(spark, "db", rows, 0, manifests)
    assert(pinned() === 1L)
    val (_, unpinned) = LakeChecks.checkAlloc(spark, "db", rows, 0)
    assert(unpinned() === 1L)
    // the schema still derives from the good first file
    val (_, cat) = LakeChecks.checkCatalog(spark, "db", rows, manifests)
    assert(cat() === 0L)
    // the scan reaches the garbage file: an error, never a clean result
    val (_, table) = LakeChecks.checkTable(spark, rows.head,
      physicalOnly = false, dataPurity = true, maxDop = 0,
      manifests.values.headOption)
    intercept[Exception](table())
  }

  test("phase 1 runs no Spark job; CHECKTABLE runs only its aggregate") {
    val rows = new DirInventory(spark, Map("db" -> multiDb)).objects("db")
    assert(rows.map(_.object_name) === Seq("nation", "orders", "region"))
    val manifests = pin(rows)
    val footers = new PassFooters
    val (_, alloc) =
      LakeChecks.checkAlloc(spark, "db", rows, 0, manifests, footers)
    val (_, cat) = LakeChecks.checkCatalog(spark, "db", rows, manifests,
      footers)
    var phase1 = -1L
    assert(jobsOf { phase1 = alloc() + cat() } === 0)
    assert(phase1 === 0L)

    val orders = rows.find(_.object_name == "orders").get
    val m = manifests(("db", "main", "orders"))
    assert(m.files.size === 4)
    val schema = spark.read.parquet(m.paths: _*).schema
    val aggregateOnly = jobsOf {
      LakeChecks.violationCount(
        spark.read.schema(schema).parquet(m.paths: _*), dataPurity = true)
    }
    assert(aggregateOnly > 0)
    Seq(new PassFooters, footers).foreach { f =>
      val (_, table) = LakeChecks.checkTable(spark, orders,
        physicalOnly = false, dataPurity = true, maxDop = 0, Some(m), f)
      var v = -1L
      assert(jobsOf { v = table() } === aggregateOnly)
      assert(v === 0L)
    }
  }

  test("the pinned footers give Spark's inferred schema for every table") {
    val rows = inv.objects("testdb") ++
      new DirInventory(spark, Map("db" -> multiDb)).objects("db")
    val manifests = pin(rows)
    val footers = new PassFooters
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rows.foreach { r =>
      val m = manifests((r.database_name, r.schema_name, r.object_name))
      val inferred = spark.read.parquet(m.paths: _*).schema
      assert(footers(spark, m).schema === Some(inferred), r.object_name)
      assert(spark.read.schema(inferred).parquet(m.paths: _*).schema ===
        inferred, r.object_name)
    }
  }

  test("footers are read once per pass and again by the next pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pass").toString
    val tdir = s"$dir/t.parquet"
    spark.read.parquet(s"$sfDir/region.parquet").coalesce(1)
      .write.parquet(tdir)
    val row = InventoryRow("db", "main", "t", "U", 0L, tdir)
    val m = TableManifest.capture(spark, row)
    val pass1 = new PassFooters
    val threads = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val seen =
      try {
        (1 to threads).map(_ => pool.submit(
          new java.util.concurrent.Callable[graft.checks.TableFooters] {
            def call() = pass1(spark, m)
          })).map(_.get())
      } finally pool.shutdown()
    assert(seen.forall(_ eq seen.head))
    assert(seen.head.badFiles === 0L && seen.head.schema.isDefined)
    // the pinned file is rewritten in place with garbage: the pass keeps
    // what it read, a new pass reads the file again
    java.nio.file.Files.write(
      java.nio.file.Paths.get(m.files.head.path.stripPrefix("file:")),
      Array.fill[Byte](64)(1))
    assert(pass1(spark, m) eq seen.head)
    val pass2 = new PassFooters
    assert(pass2(spark, m) === graft.checks.TableFooters(1L, None))
  }
}
