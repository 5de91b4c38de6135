package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** The one on-disk generation protocol behind every persisted store
  * (check history, profile history, signature store, ANN index): the
  * lake form of the DBMS atomicity the reference's check history gets
  * for free (IntegrityChecks_VLDB.sql:41-65, 454-484; SURVEY.md §7.4 #3,
  * write-temp-and-atomic-rename per state commit).
  *
  * Beside the live generation at `path` it keeps `path.tmp` (the next
  * generation while it is written), `path.old` (the live generation
  * during the swap), `path.bakparts` (the cells a cell rewrite moved
  * aside), `path.lock` (the [[StoreLease]]) and `path.trash.*` (retired
  * generations, reaped after the lease TTL).
  *
  *  - '''Commit''' ([[commit]]): write `path.tmp`, then
  *    `_graft_meta.json` into it LAST; a generation is complete only
  *    with both Spark's `_SUCCESS` and the meta file. Re-check the
  *    lease, drop a stale cell archive, and swap with checked renames
  *    (`path` → `path.old`, `path.tmp` → `path`). A lost rename puts
  *    `path` back and fails loudly; `path.old` is hard-deleted only
  *    after both renames succeed.
  *  - '''Cell rewrite''' ([[rewriteCells]]): list the cells, move their
  *    live content into `path.bakparts`, run the caller's dynamic
  *    partition overwrite, then retire the archive with one rename.
  *    Until then recovery rolls every listed cell back to its old
  *    content, so a crash leaves exactly the old store or exactly the
  *    new one.
  *  - '''Recover''' ([[recover]]), only when [[StoreLease.canMaintain]]
  *    (this instance holds the lease, or no live writer does — a reader
  *    never mutates under a live writer): promote a complete tmp or
  *    discard an incomplete one; restore `path.old` when `path` is
  *    missing; roll back an unretired cell archive; sweep
  *    `.spark-staging*` dirs, lease tombstones and aged trash. Its
  *    promote retires `path.old` to trash instead of deleting it, so
  *    two racing unleased recoveries cannot delete the only surviving
  *    generation.
  *  - '''Read''' ([[serveRoot]], [[load]]): while a live writer sits
  *    between its two renames, the old generation is served read-only
  *    instead of reporting the store absent.
  *
  * The meta file is required only to promote a tmp, never at the live
  * root, so stores written before it existed still load. */
final class GenerationStore(spark: SparkSession, val path: String,
    what: String) {
  import GenerationStore._

  val lease = new StoreLease(spark, path, what)

  private def fs: FileSystem = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def live = new Path(path)
  private def tmp = new Path(path + ".tmp")
  private def old = new Path(path + ".old")
  private def bak = new Path(path + ".bakparts")

  def metaFile(root: String): Path = new Path(root, MetaFile)

  /** The meta file's text under `root`; None when it is absent. */
  def readMeta(root: String): Option[String] = {
    val mp = metaFile(root)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close())
    }
  }

  private def complete(root: Path): Boolean =
    fs.exists(new Path(root, "_SUCCESS")) &&
      fs.exists(new Path(root, MetaFile))

  /** Commit a full generation: `write` writes parquet to the path it
    * is given (the tmp root), `meta` becomes the meta file's body. The
    * written frame may read lazily from `path`: nothing under `path`
    * moves until the tmp generation is complete. */
  def commit(meta: String)(write: String => Unit): Unit = {
    lease.assertStillHeld()
    write(path + ".tmp")
    val out = fs.create(metaFile(path + ".tmp"), true)
    try out.writeBytes(meta + "\n") finally out.close()
    // a lease broken during a long write must abort before the swap
    lease.assertStillHeld()
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!replace(fs, tmp, live, old)) throw new IllegalStateException(
      s"$what at $path: a swap rename lost to another process; the " +
        "generations are left on disk for recovery — re-read the store " +
        "before retrying")
  }

  /** Rewrite the partition cells `cells` (paths relative to `path`,
    * e.g. `pb0=3/pb1=1`) with `overwrite`, a dynamic partition
    * overwrite of `path` whose rows lie in those cells only. Its input
    * must not read the cells' files: they move aside first. */
  def rewriteCells(cells: Seq[String])(overwrite: => Unit): Unit = {
    fs.mkdirs(bak)
    val listed = cells.distinct.map(c => (c, fs.exists(new Path(live, c))))
    val out = fs.create(new Path(bak, CellList), true)
    try listed.foreach { case (c, present) =>
      out.writeBytes(s"${if (present) 1 else 0} $c\n")
    } finally out.close()
    listed.foreach { case (c, present) =>
      if (present) {
        val dest = new Path(bak, c)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(new Path(live, c), dest))
          throw new IllegalStateException(
            s"$what at $path: could not archive cell $c before the " +
              "rewrite; recovery restores the cells already moved")
      }
    }
    overwrite
    // the overwrite replaced leaf files under unchanged direct-child
    // names, which the schema memo's fingerprint cannot always see
    Tables.invalidateSchemaMemo(path)
    // one rename retires the archive: before it the rewrite rolls
    // back, after it the new cells stand
    val done = trashPath()
    if (fs.rename(bak, done)) fs.delete(done, true)
    else fs.delete(bak, true)
    ()
  }

  /** Bring the on-disk state to the newest complete generation, however
    * the last writer died (see the class doc). */
  def recover(): Unit = if (lease.canMaintain) {
    if (fs.exists(tmp)) {
      if (complete(tmp)) {
        // a cell archive left before this full generation is stale
        if (fs.exists(bak)) fs.delete(bak, true)
        if (swap(fs, tmp, live, old) && fs.exists(old))
          fs.rename(old, trashPath())
      } else fs.delete(tmp, true)
    }
    if (!fs.exists(live) && fs.exists(old)) fs.rename(old, live)
    if (fs.exists(bak)) rollBackCells()
    if (fs.exists(live))
      fs.listStatus(live).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(".spark-staging"))
        .foreach(s => fs.delete(s.getPath, true))
    lease.sweepTombstones()
    lease.sweepTrash()
  }

  /** Undo an unretired cell rewrite. Listed cells the rewrite may have
    * touched are cleared (an archived cell only while its archive
    * copy still exists, so a re-run after a crash here loses nothing),
    * then every archived cell missing from the store is moved back.
    * An archive without a cell list restores missing cells only. */
  private def rollBackCells(): Unit = {
    val listFile = new Path(bak, CellList)
    if (fs.exists(listFile)) {
      val in = fs.open(listFile)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      lines.foreach(_.split(" ", 2) match {
        case Array(flag, c) if flag == "0" || fs.exists(new Path(bak, c)) =>
          fs.delete(new Path(live, c), true)
        case _ => ()
      })
    }
    var restored = true
    fs.listStatus(bak).filter(_.isDirectory).foreach { d0 =>
      fs.listStatus(d0.getPath).filter(_.isDirectory).foreach { d1 =>
        val dest = new Path(new Path(live, d0.getPath.getName),
          d1.getPath.getName)
        if (!fs.exists(dest)) {
          fs.mkdirs(dest.getParent)
          restored &= fs.rename(d1.getPath, dest)
        }
      }
    }
    // an archive whose restore failed stays for the next recovery
    if (restored) fs.delete(bak, true)
    ()
  }

  /** The root a read should serve: `path.old` while a live writer (or
    * a crashed one whose lease has not lapsed) is between its two swap
    * renames, else `path`. */
  def serveRoot(): String =
    if (!fs.exists(live) && fs.exists(old) && !lease.canMaintain)
      path + ".old"
    else path

  /** Recover, then read the served generation with `read`. None when
    * there is none: no root, or a root holding no data file (a store
    * emptied by a whole-corpus forget), on which schema inference
    * fails. Any other read failure is corruption and propagates. */
  def load(read: String => DataFrame): Option[DataFrame] = {
    recover()
    val root = serveRoot()
    if (!fs.exists(new Path(root))) None
    else try Some(read(root)) catch {
      case _: AnalysisException if !hasDataFile(root) => None
    }
  }

  /** Any parquet file under `root`? Stops at the first hit. */
  private def hasDataFile(root: String): Boolean = {
    val it = fs.listFiles(new Path(root), true)
    var found = false
    while (!found && it.hasNext)
      found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  /** A unique retired-generation name; [[StoreLease.sweepTrash]] reaps
    * it once older than the lease TTL. */
  private def trashPath(): Path = new Path(path + ".trash." +
    System.currentTimeMillis() + "." + java.util.UUID.randomUUID())
}

object GenerationStore {
  val MetaFile = "_graft_meta.json"
  private val CellList = "_cells"

  /** The checked two-rename swap: `live` → `old`, then `tmp` → `live`.
    * A stale `old` is dropped first. Returns false when either rename
    * loses (another process moved a generation first), with `live`
    * put back if it had been moved; never deletes a generation that
    * could be the only copy. The caller retires `old` on success. */
  private[graft] def swap(fs: FileSystem, tmp: Path, live: Path,
      old: Path): Boolean = {
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old)) false
    else if (!fs.rename(tmp, live)) {
      if (!fs.exists(live) && fs.exists(old)) fs.rename(old, live)
      false
    } else true
  }

  /** [[swap]], then hard-delete `old` once both renames succeeded. */
  private[graft] def replace(fs: FileSystem, tmp: Path, live: Path,
      old: Path): Boolean =
    swap(fs, tmp, live, old) && { fs.delete(old, true); true }

  /** Undo an interrupted [[replace]] of one directory whose staged
    * replacement is not self-describing (no meta file): `old` with no
    * `live` goes back, a leftover `old` beside `live` and the staging
    * dir are dropped. Returns whether `live` was restored. */
  private[graft] def rollBack(fs: FileSystem, tmp: Path, live: Path,
      old: Path): Boolean = {
    val restored =
      fs.exists(old) && !fs.exists(live) && fs.rename(old, live)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    restored
  }

  /** The writer-lease surface of a store, forwarded to its generation
    * store's [[StoreLease]]. */
  trait Leased {
    protected def gen: GenerationStore
    def acquireLease(ttlMs: Long = StoreLease.DefaultTtlMs): Unit =
      gen.lease.acquire(ttlMs)
    def renewLease(): Unit = gen.lease.renew()
    def releaseLease(): Unit = gen.lease.release()
    def withLease[T](f: => T): T = gen.lease.withLease(f)
  }
}
