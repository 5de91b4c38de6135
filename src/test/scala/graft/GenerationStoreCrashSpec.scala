package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, FileUtil, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.CheckObject
import graft.pipeline.{Dedup, IncrementalAnn, IncrementalDedup}
import graft.state.{ProfileStore, StateStore}

/** The local filesystem under the test scheme `crashfs:`, with a kill
  * switch: while [[CrashFs.armed]], the k-th `rename`/`delete` throws,
  * and so does every `rename`, `delete` and `create` after it — the
  * writer process died at that step. Counting also runs unarmed, so a
  * clean commit measures how many steps it has. */
class CrashFs extends LocalFileSystem(new CrashFs.Raw) {
  override def getScheme: String = CrashFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFs.step(); super.delete(f, recursive)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    CrashFs.checkAlive()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object CrashFs {
  val Scheme = "crashfs"

  class Raw extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  /** Steps counted since the last [[reset]]. */
  val steps = new AtomicLong(0L)
  /** The step that kills the writer; 0 = never. */
  @volatile var armed: Long = 0L
  @volatile private var dead = false

  def reset(killAt: Long): Unit = {
    steps.set(0L); dead = false; armed = killAt
  }

  private[graft] def step(): Unit = {
    val n = steps.incrementAndGet()
    if (armed > 0 && n >= armed) dead = true
    checkAlive()
  }

  private[graft] def checkAlive(): Unit =
    if (dead) throw new java.io.IOException("injected crash")
}

/** Crash-injection property over every persisted store's commit: for
  * every step k of a commit (each rename/delete, Spark's own commit
  * protocol included), kill the writer at k, then a fresh instance's
  * recover-then-load must return exactly the old generation or exactly
  * the new one — never an empty or mixed store. */
class GenerationStoreCrashSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
  private val conf = spark.sparkContext.hadoopConfiguration
  private val local = FileSystem.getLocal(conf)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Build the old generation in `dir/pristine` (a directory holding
    * the store at `store`), then for a clean run and for every kill
    * step of `commit`: copy the pristine dir, commit on the copy, and
    * compare what a fresh reader loads with the old and new contents.
    * The crashed writer's lease is aged past its TTL first (it is dead
    * by that contract), so the reader may recover. */
  private def sweep(name: String)(build: String => Unit)(
      commit: String => Unit)(read: String => Seq[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-crash-$name")
      .toString
    def at(run: String) = s"$dir/$run"
    build(s"${CrashFs.Scheme}://${at("pristine")}/store")
    def copy(run: String): String = {
      FileUtil.copy(local, new Path(at("pristine")), local,
        new Path(at(run)), false, conf)
      s"${CrashFs.Scheme}://${at(run)}/store"
    }
    val before = read(copy("old"))
    val cleanPath = copy("clean")
    CrashFs.reset(0L)
    commit(cleanPath)
    val total = CrashFs.steps.get()
    val after = read(cleanPath)
    val changed = before != after
    assert(changed, s"$name: the commit must change the store")
    assert(total > 0L, s"$name: the commit took no rename/delete step")
    // every kill logs Spark task and job errors by design
    spark.sparkContext.setLogLevel("OFF")
    val outcomes = try (1L to total).map { k =>
      val path = copy(s"k$k")
      CrashFs.reset(k)
      val crashed =
        try { commit(path); false }
        catch { case NonFatal(_) => true }
        finally CrashFs.reset(0L)
      val lock = new Path(s"${at(s"k$k")}/store.lock")
      if (local.exists(lock)) {
        val out = local.create(lock, true)
        out.writeBytes(s"dead-writer ${System.currentTimeMillis() -
          graft.tables.StoreLease.DefaultTtlMs - 1000L}\n")
        out.close()
      }
      val got = read(path)
      val whole = got == before || got == after
      assert(whole, s"$name: killed at step $k of $total " +
        s"(crashed=$crashed) the store loads neither generation " +
        s"(${got.size} rows; old ${before.size}, new ${after.size})")
      got == after
    } finally spark.sparkContext.setLogLevel("WARN")
    info(s"$name: ${outcomes.count(!_)} of $total kill steps read the " +
      "old generation, the rest the new one")
    assert(outcomes.contains(false) && outcomes.last,
      s"$name: the sweep must cross the commit point " +
        s"(${outcomes.count(identity)} of $total steps read new)")
  }

  private def obj(id: Long, name: String): CheckObject =
    CheckObject.fresh(id, "db", "U", "main", name, "U", 10L * id)

  test("StateStore.save: a crash at any step leaves old or new") {
    sweep("state")(p => new StateStore(spark, p).save(
      Seq(obj(1, "a"), obj(2, "b"))))(p => new StateStore(spark, p).save(
      Seq(obj(1, "a"), obj(3, "c"))))(
      p => new StateStore(spark, p).load().map(_.toString).sorted)
  }

  test("ProfileStore.record: a crash at any step leaves old or new") {
    def profile(v: Double) = Seq(("t", "rows", v), ("t", "nulls", v / 2))
      .toDF("table_name", "metric", "value")
    sweep("profile")(p => new ProfileStore(spark, p).record(profile(10)))(
      p => new ProfileStore(spark, p).record(profile(40)))(
      p => rows(new ProfileStore(spark, p).history()))
  }

  /** Duplicate classes (i % 7 shares one text) whose texts share no
    * bigram, spread over a 4 × 4 cell grid. */
  private def docs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val c = i % 7
      (i, (0 to 9).map(j => s"tok${c}x$j").mkString(" "))
    }.toDF("doc_id", "text")

  private def sigRows(p: String): Seq[String] =
    new IncrementalDedup.SigStore(spark, p).load().fold(Seq.empty[String])(
      df => rows(df.select("doc_id", "sig_key", "rep", "pb0", "pb1")))

  private def buildSigs(p: String): Unit =
    new IncrementalDedup.SigStore(spark, p).save(
      IncrementalDedup.initialStore(Dedup.minhashSig(docs(1L to 40L))),
      fanOut = 4)

  test("SigStore.saveIncremental: a crash at any step of the cell " +
      "rewrite leaves old or new") {
    // the batch's store update, computed once against the old store:
    // one new member of an existing class and one new class
    var batch: Option[IncrementalDedup.IngestResult] = None
    sweep("sig-incremental")(buildSigs) { p =>
      val st = new IncrementalDedup.SigStore(spark, p)
      val inc = batch.getOrElse {
        val arriving = Seq((41L, (0 to 9).map(j => s"tok6x$j")
          .mkString(" ")), (99L, "fresh words of a brand new class here"))
          .toDF("doc_id", "text")
        val r = IncrementalDedup.ingest(st.load().get,
          Dedup.minhashSig(arriving), buckets = st.buckets)
        batch = Some(r); r
      }
      assert(inc.touchedParts.map(_._1).distinct.size < 4,
        "the batch must take the cell rewrite, not the full swap")
      st.saveIncremental(inc.touched, partsHint = inc.touchedParts)
    }(sigRows)
  }

  test("SigStore.forget: a crash at any step leaves old or new") {
    // a whole class (its cell empties) plus one member of another
    sweep("sig-forget")(buildSigs) { p =>
      val st = new IncrementalDedup.SigStore(spark, p)
      st.withLease(st.forget(
        ((1L to 40L).filter(_ % 7 == 3) :+ 2L).toDF("doc_id")))
    }(sigRows)
  }

  test("AnnIndexStore.forget: a crash at any step leaves old or new") {
    def vecs(ids: Seq[Long]): DataFrame =
      ids.map { i =>
        val blob = (i % 3).toInt
        (i, (0 until 8).map(d =>
          (blob * 40 - 60 + ((i * 31 + d * 17) % 13) - 6).toLong))
      }.toDF("vec_id", "qv")
    sweep("ann-forget") { p =>
      val st = new IncrementalAnn.AnnIndexStore(spark, p)
      val cents = IncrementalAnn.trainCentroids(vecs(1L to 30L), k = 3)
      st.save(cents, IncrementalAnn.assign(vecs(1L to 30L), cents))
      st.ingest(vecs(31L to 36L), batchId = 1L)
      ()
    } { p =>
      val st = new IncrementalAnn.AnnIndexStore(spark, p)
      st.withLease(st.forget(Seq(3L, 31L, 32L).toDF("vec_id")))
    } { p =>
      new IncrementalAnn.AnnIndexStore(spark, p).load()
        .fold(Seq.empty[String])(df => rows(df.select(
          col("vec_id"), col("cluster"), col("batch_id"))))
    }
  }
}
