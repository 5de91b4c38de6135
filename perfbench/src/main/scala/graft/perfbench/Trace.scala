package graft.perfbench

import java.time.{Duration, Instant}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.catalog.{Inventory, InventoryRow, TableManifest}
import graft.model.Clock

/** One traced interval. All spans of one sample share `sample`; `parent`
  * names the enclosing span ("" for the sample itself). */
final case class Span(sample: String, name: String, parent: String,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span store, written as JSON lines once at exit. */
final class Spans(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (enabled) buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(s => (s.sample, s.startMs)).foreach { s =>
      w.println(Json.obj("sample" -> s.sample, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    } finally w.close()
  }
}

object Wall {
  /** Wall clock in fractional epoch milliseconds (span boundaries). */
  def ms(): Double = System.currentTimeMillis().toDouble
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Real wall time shifted by a whole number of days: every table is due
  * again on each sample's night while durations stay real. Records the
  * scheduler's job start (its first `now()`), from which the night's
  * deadline follows. */
final class DayClock(days: Long) extends Clock {
  private val shift = Duration.ofDays(days)
  private val first = new AtomicReference[Instant](null)
  def now(): Instant = {
    val t = Instant.now().plus(shift)
    first.compareAndSet(null, t)
    t
  }
  override def observe(): Instant = Instant.now().plus(shift)
  def jobStart: Option[Instant] = Option(first.get())
  def offsetMs: Long = shift.toMillis
}

/** `Inventory` decorator timing `objects()` and `manifest()` from outside
  * the scheduler. Spans are recorded only while `sample` is set. */
final class TimedInventory(inner: Inventory, spans: Spans) extends Inventory {
  @volatile var sample: String = ""
  @volatile var parent: String = ""
  val objectsNs = new AtomicLong(0L)
  val manifestCalls = new AtomicLong(0L)
  private val manifestWindow = new AtomicReference[(Double, Double)](null)

  /** Wall seconds from the first manifest capture's start to the last
    * one's end (captures run on the scheduler's pool, so their sum would
    * overstate the wall they cost). */
  def manifestWallS: Double = Option(manifestWindow.get())
    .fold(0.0) { case (a, b) => (b - a) / 1000.0 }

  private def span(name: String, s: Double, e: Double): Unit =
    if (sample.nonEmpty) spans.add(Span(sample, name, parent, s, e))

  override def databases(): Seq[String] = inner.databases()

  override def objects(db: String): Seq[InventoryRow] = {
    val s = Wall.ms(); val t0 = System.nanoTime()
    try inner.objects(db)
    finally {
      objectsNs.addAndGet(System.nanoTime() - t0)
      span(s"catalog.objects:$db", s, Wall.ms())
    }
  }

  override def manifest(spark: SparkSession, row: InventoryRow)
      : TableManifest = {
    val s = Wall.ms()
    try inner.manifest(spark, row)
    finally {
      val e = Wall.ms()
      manifestCalls.incrementAndGet()
      manifestWindow.updateAndGet(w =>
        if (w == null) (s, e) else (math.min(w._1, s), math.max(w._2, e)))
      span(s"catalog.manifest:${row.database_name}.${row.object_name}", s, e)
    }
  }
}

/** Counting `file:` filesystem, installed through
  * `spark.hadoop.fs.file.impl` in the traced session only. Counts calls
  * by kind while `CountingFs.enabled` is set (the traced samples' passes),
  * so untraced samples of the same session do not pay for the counting;
  * byte volumes come from Hadoop's own per-scheme statistics. */
class CountingFs extends LocalFileSystem {
  import CountingFs.{count, lists, statuses, opens, creates, renames,
    deletes}
  override def listStatus(f: Path): Array[FileStatus] = {
    count(lists); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path) = {
    count(lists); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count(statuses); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int) = {
    count(opens); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    count(creates)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(renames); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(deletes); super.delete(f, recursive)
  }
}

object CountingFs {
  val lists, statuses, opens, creates, renames, deletes = new AtomicLong(0L)
  @volatile var enabled: Boolean = false

  private def count(c: AtomicLong): Unit = if (enabled) c.incrementAndGet()

  /** (list, status, open, create, rename, delete, bytesRead, bytesWritten)
    * so far; callers take deltas. */
  def snapshot(): Seq[Long] = {
    val st = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Seq(lists.get, statuses.get, opens.get, creates.get, renames.get,
      deletes.get,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Spark-side accounting: every job, stage and task counts toward the
  * totals the samples take deltas of (the loop is closed with one caller,
  * so nothing else runs). While `sample` is set, each job also gets a
  * span carrying its job group. */
final class LayerListener(spans: Spans) extends SparkListener {
  @volatile var sample: String = ""
  @volatile var parent: String = ""
  val jobs, stages, tasks = new AtomicLong(0L)
  val inputBytes, runMs, cpuNs, gcMs, waitMs = new AtomicLong(0L)
  val shuffleRead, shuffleWrite, spill = new AtomicLong(0L)
  private val jobInfo =
    new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Long)]()
  private val stageSubmit =
    new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "input" -> inputBytes.get, "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get,
    "gc_ms" -> gcMs.get, "wait_ms" -> waitMs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobInfo.put(e.jobId, (sample, group, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val info = jobInfo.remove(e.jobId)
    if (info != null && info._1.nonEmpty)
      spans.add(Span(info._1, s"spark.job:${e.jobId}:${info._2}", parent,
        info._3.toDouble, e.time.toDouble))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet()
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val sub = stageSubmit.get(e.stageId)
    if (sub != 0L) waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}
