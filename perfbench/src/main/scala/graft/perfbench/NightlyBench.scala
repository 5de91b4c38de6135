package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{CheckConfig, CommandLogEntry, SystemClock}
import graft.scheduler.{ArrivalConfig, ArrivalPass, ArrivalReport, Scheduler}
import graft.state.StateStore

/** The nightly-pass benchmark: one Spark session at local[cores], one
  * closed-loop caller running the product's scheduled passes
  * (`Scheduler.run`, `ArrivalPass.run`) over fixtures generated by
  * `fixtures.py`. Every per-layer number is taken from outside the
  * engine (inventory decorator, command-log spans, arrival stage
  * results, direct state-store calls, a Spark listener and, in the
  * traced session, a counting `file:` filesystem).
  *
  * Writes one JSON line per record to `--obs`: the host record, the
  * set-up record, and one record per sample carrying the end-to-end
  * timings, per-layer numbers and the raw outputs the correctness checks
  * (in `run.py`) compare against the fixture manifest. With `--trace 1`
  * the spans go to `--spans` at exit.
  *
  * Usage: NightlyBench --workload W --work DIR --seconds S --trace 0|1
  *   --cores N --obs FILE --spans FILE
  */
object NightlyBench {

  final case class Args(workload: String, work: String, seconds: Double,
      trace: Boolean, cores: Int, obs: String, spans: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--work"), get("--seconds").toDouble,
      get("--trace") == "1", get("--cores").toInt, get("--obs"), get("--spans"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(a.trace)
    val b = graft.SessionDefaults(SparkSession.builder()
        .master(s"local[${a.cores}]"), a.cores.toString)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
    if (a.trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new LayerListener(spans)
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val out = new java.io.PrintWriter(a.obs, "UTF-8")
    try {
      val ctx = new Ctx(spark, a, spans, listener, out)
      ctx.emit("kind" -> "host",
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
          .asScala.filter(_.startsWith("-Xm")).toSeq,
        "file_fs" -> org.apache.hadoop.fs.FileSystem
          .get(new java.net.URI("file:///"),
            spark.sparkContext.hadoopConfiguration).getClass.getName,
        // the engine's own Spark floor probe costs seconds on a few
        // cores, so only the traced run takes it
        "spark_floor_probe_s" ->
          (if (a.trace) Some(graft.Bench.sparkProbeOnce(spark)) else None))
      a.workload match {
        case "full_pass" => new FullPass(ctx).run(sessionS)
        case "arrival_night" => new ArrivalNight(ctx).run(sessionS)
        case w => sys.error(s"unknown workload $w")
      }
    } finally out.close()
    if (a.trace) spans.write(a.spans)
    spark.stop()
  }
}

/** Shared per-run state and helpers of the workloads. */
final class Ctx(val spark: SparkSession, val a: NightlyBench.Args,
    val spans: Spans, val listener: LayerListener, out: java.io.PrintWriter) {

  def emit(kv: (String, Any)*): Unit = { out.println(Json.obj(kv: _*)); out.flush() }

  /** Every counter a sample reports as a delta: Spark listener totals and
    * the `file:` filesystem counts. */
  def counters(): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    val fs = CountingFs.snapshot()
    listener.snapshot().map { case (k, v) => k -> v.toDouble } ++
      Seq("list", "status", "open", "create", "rename", "delete",
        "read_bytes", "write_bytes").zip(fs.map(_.toDouble)).toMap
  }

  /** Per-layer Spark and filesystem metrics for a counter delta. */
  def layerOf(c0: Map[String, Double], c1: Map[String, Double])
      : Map[String, Double] = {
    def d(k: String) = c1(k) - c0(k)
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> d("jobs"), "spark.stages" -> d("stages"),
      "spark.tasks" -> d("tasks"), "spark.input_mb" -> d("input") / mb,
      "spark.task_cpu_s" -> d("cpu_ns") / 1e9,
      "spark.task_run_s" -> d("run_ms") / 1e3,
      "spark.task_wait_s" -> d("wait_ms") / 1e3,
      "spark.gc_s" -> d("gc_ms") / 1e3,
      "spark.shuffle_read_mb" -> d("shuffle_read") / mb,
      "spark.shuffle_write_mb" -> d("shuffle_write") / mb,
      "spark.spill_mb" -> d("spill") / mb) ++ (if (!a.trace) Map.empty
    else Map(
      "fs.list_calls" -> d("list"), "fs.status_calls" -> d("status"),
      "fs.open_calls" -> d("open"), "fs.create_calls" -> d("create"),
      "fs.rename_calls" -> d("rename"), "fs.delete_calls" -> d("delete"),
      "fs.read_mb" -> d("read_bytes") / mb,
      "fs.write_mb" -> d("write_bytes") / mb))
  }

  /** Seconds for a fixed reference load on this session: one Spark job
    * whose single task runs a fixed integer loop. Taken beside every
    * sample, it moves with the host's speed, so a pass's time divided by
    * it stays steady when the host slows or speeds up between runs. It
    * is a plain RDD job, so no `spark.sql.*` setting the engine's session
    * defaults carry reaches it and an engine change to those settings
    * moves only the pass. One task, not one per core: a single core's
    * speed is what the host drift tools/cpu_probe.py tracks, and on a
    * 4-core host a task per core jittered several times more between
    * readings (it also waits on the pass's leftover background work).
    * The median of three readings. */
  def probeS(): Double =
    Seq.fill(3)(Wall.time(referenceLoad())._2).sorted.apply(1)

  /** The reference load. Each workload runs it once, untimed, before its
    * samples, so no reading carries its class loading and compilation. */
  def referenceLoad(): Unit =
    spark.sparkContext.parallelize(Seq(1L), 1).map { seed =>
      var x = seed
      var k = 0
      while (k < 100000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        k += 1
      }
      x
    }.reduce(_ ^ _)

  /** Used heap after a forced GC, in MiB. Spark frees broadcast and
    * shuffle blocks asynchronously once their owners are collected, so
    * the collection runs again after that cleanup has had its turn. */
  def heapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / (1024.0 * 1024.0)
  }

  /** Opens a pass of sample `id`: every job until `end` belongs to it
    * (and gets a span and filesystem counts when `traced`). */
  def begin(id: String, parent: String, traced: Boolean): Double = {
    listener.sample = if (traced) id else ""
    listener.parent = parent
    CountingFs.enabled = traced
    spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
    Wall.ms()
  }
  def end(): Unit = {
    spark.sparkContext.clearJobGroup()
    BenchBus.drain(spark.sparkContext)
    listener.sample = ""
    CountingFs.enabled = false
  }

  /** Command spans from the returned log entries (wall start/end; the
    * day-offset clock's shift is removed). */
  def commandSpans(id: String, parent: String, entries: Seq[CommandLogEntry],
      offsetMs: Long): Unit = entries.foreach { e =>
    spans.add(Span(id, s"command:${e.command_type}:${e.database_name}." +
      s"${e.object_name}", parent, (e.start_time.getTime - offsetMs).toDouble,
      (e.end_time.map(_.getTime).getOrElse(e.start_time.getTime) -
        offsetMs).toDouble))
  }

  def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val it = Files.walk(s).iterator().asScala
    it.foreach { p =>
      val t = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.delete(_: JPath))
  }

  /** Set-up repetitions per run: the set-up time reported is the session
    * start plus the median of these passes from fresh state (the first
    * one cold, the next warm). */
  val SetupReps = 2

  /** The sample loop's condition: at least one sample (two when traced,
    * one untraced and one traced, for the overhead), then until
    * `--seconds`. */
  def measuring(start: Long, n: Int): Boolean =
    n < (if (a.trace) 2 else 1) || (System.nanoTime() - start) / 1e9 < a.seconds
}

object Entries {
  /** Violation count a command reported: 0 on success, N from the
    * "N integrity violations" message, -1 when the check itself threw. */
  def violations(e: CommandLogEntry): Long = e.error_number match {
    case Some(8939) => e.error_message.flatMap(_.split(" ").headOption)
      .flatMap(_.toLongOption).getOrElse(-1L)
    case Some(0) | None => 0L
    case _ => -1L
  }

  def row(e: CommandLogEntry, offsetMs: Long): Seq[Any] = Seq(
    e.command_type, e.database_name, e.object_name, violations(e),
    e.error_number.getOrElse(0), e.start_time.getTime - offsetMs,
    e.end_time.map(_.getTime).getOrElse(e.start_time.getTime) - offsetMs)

  def seconds(e: CommandLogEntry): Double =
    (e.end_time.map(_.getTime).getOrElse(e.start_time.getTime) -
      e.start_time.getTime) / 1000.0
}

/** What one lake pass did and what it cost. */
final case class LakeResult(wall: Double, traced: Boolean,
    report: graft.scheduler.SchedulerReport, entries: Seq[CommandLogEntry],
    clock: DayClock, timeLimit: Option[Long], layer: Map[String, Double],
    heap: Double, preState: Seq[graft.model.CheckObject]) {
  def deadlineMs: Option[Long] = clock.jobStart.map(_.toEpochMilli)
    .flatMap(s => timeLimit.map(t => s + t * 1000L - clock.offsetMs))
  def night: String = clock.jobStart
    .map(i => LocalDate.ofInstant(i, ZoneOffset.UTC).toString).getOrElse("")
  def checkRecord: Map[String, Any] = Map(
    "night" -> night,
    "violations" -> report.violations, "errors" -> report.errors,
    "deadline_ms" -> deadlineMs,
    "commands" -> entries.map(Entries.row(_, clock.offsetMs)),
    "skipped" -> report.skipped.map(s => Seq(s._1, s._2)),
    "state" -> report.state.map(o => Seq(
      s"${o.database_name}.${o.schema_name}.${o.object_name}",
      o.last_check_date.toString, o.active)))
}

/** One `Scheduler.run` over lake L, measured from outside. Shared by the
  * full pass and each night of the budgeted rotation. */
final class LakePass(ctx: Ctx) {
  import ctx._
  private val lake = s"${a.work}/lake"
  val dbs: Map[String, String] = new java.io.File(lake).listFiles()
    .filter(_.isDirectory).map(f => f.getName -> f.getPath).toMap
  val statePath = s"${a.work}/state/check_objects"
  private val inner = new DirInventory(spark, dbs)

  /** Runs one pass on day `day` as span `pass` of sample `id`. `traced`
    * adds the direct state-store timings and the spans. */
  def run(id: String, pass: String, day: Long, traced: Boolean,
      timeLimit: Option[Long] = None): LakeResult = {
    val clock = new DayClock(day)
    val inv = new TimedInventory(inner, spans)
    val store = new StateStore(spark, statePath)
    val log = new CommandLog(spark, None)
    val cfg = CheckConfig(timeLimitSeconds = timeLimit, concurrency = 1)
    val layer = mutable.Map.empty[String, Double]
    // the pass's own state-store work, timed by calling the same public
    // operations directly on the same state just before the pass
    val preState =
      if (traced) {
        val (loaded, loadS) = Wall.time(store.load())
        val scan = inner.databases().flatMap(inner.objects)
        val (_, reconS) = Wall.time(StateStore.reconcile(loaded, scan))
        layer ++= Seq("state.load_s" -> loadS, "state.reconcile_s" -> reconS)
        loaded
      } else Seq.empty
    if (traced) { inv.sample = id; inv.parent = pass }
    val c0 = counters()
    val s0 = begin(id, pass, traced)
    val (report, wall) =
      Wall.time(new Scheduler(spark, inv, store, log, cfg, clock).run())
    val s1 = Wall.ms()
    end()
    val c1 = counters()
    inv.sample = ""
    val entries = log.entries
    if (traced) {
      // ...and the save, rewriting the state the pass just persisted
      val (_, saveS) = Wall.time(store.save(report.state))
      layer += "state.save_s" -> saveS
      spans.add(Span(id, pass, "sample", s0, s1))
      commandSpans(id, pass, entries, clock.offsetMs)
    }
    def secs(t: String) = entries.filter(_.command_type == t)
      .map(Entries.seconds).sum
    val cmdS = entries.map(Entries.seconds).sum
    val objectsS = inv.objectsNs.get / 1e9
    layer ++= layerOf(c0, c1) ++ Seq(
      "checks.checktable_s" -> secs("DBCC_CHECKTABLE"),
      "checks.checktable_count" ->
        entries.count(_.command_type == "DBCC_CHECKTABLE").toDouble,
      "checks.checkalloc_s" -> secs("DBCC_CHECKALLOC"),
      "checks.checkcatalog_s" -> secs("DBCC_CHECKCATALOG"),
      "checks.violations" -> report.violations.toDouble,
      "catalog.objects_s" -> objectsS,
      "catalog.manifest_s" -> inv.manifestWallS,
      "catalog.manifest_calls" -> inv.manifestCalls.get.toDouble,
      "scheduler.self_s" -> (wall - cmdS - objectsS - inv.manifestWallS),
      "executor.commands" -> entries.size.toDouble,
      "executor.errors" -> report.errors.toDouble,
      "state.rows" -> report.state.size.toDouble)
    LakeResult(wall, traced, report, entries, clock, timeLimit, layer.toMap,
      heapMb(), preState)
  }
}

/** Workload `full_pass`: one pass without a time limit per sample, every
  * table due through the day-offset clock. The traced run then continues
  * with the budgeted rotation: from the state the samples left (every
  * table checked the same day), nights advance day by day until every
  * table has been checked once. A night's `--time-limit` is
  * `NightBudget` times the run's median full pass, in whole seconds:
  * phase 1 alone costs about half a pass, so a budget fixed in seconds
  * would starve phase 2 whenever the host runs slow, while a budget that
  * scales with the pass keeps the number of nights steady. */
final class FullPass(ctx: Ctx) {
  import ctx._
  private val MaxNights = 12
  private val NightBudget = 0.6

  def run(sessionS: Double): Unit = {
    val lp = new LakePass(ctx)
    // set-up: a first pass from empty state, repeated on fresh state
    val setupS = (1 to SetupReps).map { _ =>
      deleteTree(s"${a.work}/state")
      Wall.time(lp.run("cold", "pass", 1000L, traced = false))._2
    }
    emit("kind" -> "setup", "session_s" -> sessionS, "setup_pass_s" -> setupS)
    val passWalls = mutable.ArrayBuffer.empty[Double]
    referenceLoad()
    val t0 = System.nanoTime()
    var n = 0
    while (measuring(t0, n)) {
      // the traced run alternates traced and untraced samples so the
      // tracing overhead is measured in the same session
      val traced = a.trace && n % 2 == 1
      val p0 = probeS()
      val s0 = Wall.ms()
      val r = lp.run(s"s$n", "pass", 1001L + n, traced)
      if (traced) spans.add(Span(s"s$n", "sample", "", s0, Wall.ms()))
      passWalls += r.wall
      val probe = (p0 + probeS()) / 2
      emit("kind" -> "sample", "i" -> n, "traced" -> traced,
        "e2e" -> Map("pass_s" -> r.wall, "probe_s" -> probe,
          "peak_heap_mb" -> r.heap),
        "layer" -> r.layer, "check" -> r.checkRecord)
      n += 1
    }
    if (a.trace) {
      val walls = passWalls.sorted
      rotation(lp, 1001L + n,
        math.max(1L, math.round(NightBudget * walls(walls.size / 2))))
    }
  }

  private def rotation(lp: LakePass, firstDay: Long, limit: Long): Unit = {
    val inv = new DirInventory(spark, lp.dbs)
    val tables = inv.databases().flatMap(inv.objects)
      .map(o => s"${o.database_name}.${o.object_name}").toSet
    val covered = mutable.Set.empty[String]
    val nights = mutable.ArrayBuffer.empty[LakeResult]
    val s0 = Wall.ms()
    while (covered != tables && nights.size < MaxNights) {
      val r = lp.run("rotation", s"night${nights.size}",
        firstDay + nights.size, traced = true, Some(limit))
      nights += r
      covered ++= r.entries.filter(_.command_type == "DBCC_CHECKTABLE")
        .map(e => s"${e.database_name}.${e.object_name}")
    }
    spans.add(Span("rotation", "sample", "", s0, Wall.ms()))
    val walls = nights.map(_.wall).toSeq
    val fracs = walls.map(_ / limit)
    // IC:706 admission estimate before each check vs its recorded duration
    val errs = nights.flatMap { r =>
      val pre = r.preState.map(o =>
        s"${o.database_name}.${o.object_name}" -> o.avg_run_duration_ms).toMap
      r.report.state.filter(o => o.last_check_date.toString == r.night)
        .flatMap(o => pre.get(s"${o.database_name}.${o.object_name}")
          .map(p => math.abs(o.run_duration_ms - p).toDouble))
    }
    def refused(why: String) = nights.map(_.report.skipped
      .count(_._2.startsWith(why))).sum.toDouble
    emit("kind" -> "rotation", "layer" -> Map(
        "scheduler.rotation_s" -> walls.sum,
        "scheduler.rotation_nights" -> nights.size.toDouble,
        "scheduler.refused_time" -> refused("time limit reached"),
        "scheduler.refused_cost" -> refused("predicted duration"),
        "scheduler.predict_abs_err_ms" ->
          (if (errs.isEmpty) 0.0 else errs.sum / errs.size)),
      "check" -> Map("tables" -> tables.toSeq.sorted,
        "time_limit_s" -> limit, "budget_fracs" -> fracs,
        "nights" -> nights.map(_.checkRecord).toSeq))
  }
}

/** Workload `arrival_night`: a landing zone with H drained nights is
  * restored, one busy night lands, then a busy and an immediate quiet
  * `ArrivalPass.run`. */
final class ArrivalNight(ctx: Ctx) {
  import ctx._
  private val fx = s"${a.work}/arrival"
  private val cur = s"${a.work}/zone"
  private val snap = s"${a.work}/zone-snapshot"
  private val cfg = ArrivalConfig(
    landing = s"$cur/landing", dbs = Map("res" -> s"$cur/resident"),
    checkpointRoot = s"$cur/ckpt", sigStorePath = s"$cur/sigstore/sigs",
    dedupOut = s"$cur/pairs", annStorePath = s"$cur/annstore/ann")
  private val Stages = Seq("integrity_incremental", "dedup_ingest",
    "ann_ingest", "forget_queue", "ann_maintain", "oov_qc")

  /** One `ArrivalPass.run`; returns the report, its wall seconds, the
    * stage metrics (`arrival.<phase>.*`) and the pass's Spark and
    * filesystem counter deltas. */
  private def pass(id: String, phase: String, traced: Boolean)
      : (ArrivalReport, Double, Map[String, Double], Map[String, Double]) = {
    val log = new CommandLog(spark, None)
    val c0 = counters()
    val s0 = begin(id, phase, traced)
    val (rep, wall) = Wall.time(ArrivalPass.run(spark, cfg, log, SystemClock))
    val s1 = Wall.ms()
    end()
    val c1 = counters()
    if (traced) {
      spans.add(Span(id, phase, "sample", s0, s1))
      // stage spans: each stage's audit row is stamped at its end
      val audits = log.entries.filter(_.command_type == "ARRIVAL_STAGE")
      rep.stages.zip(audits).foreach { case (st, au) =>
        val e = au.start_time.getTime.toDouble
        spans.add(Span(id, s"stage:${st.stage}", phase,
          e - st.seconds * 1000.0, e))
      }
    }
    val stages = Stages.map(s => s"arrival.$phase.${s}_s" ->
      rep.stages.filter(_.stage == s).map(_.seconds).sum).toMap +
      (s"arrival.$phase.probe_s" -> (wall - rep.stages.map(_.seconds).sum))
    val generic = layerOf(c0, c1) ++ Map(
      "executor.commands" -> log.entries.size.toDouble,
      "executor.errors" -> rep.errors.toDouble)
    (rep, wall, stages, generic)
  }

  private def landNight(): Long = {
    val night = s"$fx/night"
    val landed = Files.walk(Paths.get(night)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    copyTree(s"$night/documents", s"$cur/landing/documents")
    copyTree(s"$night/embeddings", s"$cur/landing/embeddings")
    copyTree(s"$night/forget", s"$cur/landing/forget")
    copyTree(s"$night/resident", s"$cur/resident")
    landed
  }

  private def pairBatches(): Set[String] = {
    val d = new java.io.File(cfg.dedupOut)
    Option(d.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
  }

  private def sigRows(): Long = new graft.pipeline.IncrementalDedup
    .SigStore(spark, cfg.sigStorePath).load().map(_.count()).getOrElse(0L)
  private def annRows(): Long = new graft.pipeline.IncrementalAnn
    .AnnIndexStore(spark, cfg.annStorePath).load().map(_.count())
    .getOrElse(0L)

  /** A store's row count and how many of `gone` it still holds, in one
    * scan: `post_<name>_rows` and `forgotten_in_<name>`. */
  private def rowsAndForgotten(store: org.apache.spark.sql.DataFrame,
      idCol: String, gone: Seq[Long], name: String): Map[String, Any] = {
    import org.apache.spark.sql.functions.{count, lit, when}
    val r = store.agg(count(lit(1)),
      count(when(col(idCol).isInCollection(gone), 1))).head()
    Map(s"post_${name}_rows" -> r.getLong(0),
      s"forgotten_in_$name" -> r.getLong(1))
  }

  private def unseen(): Long = Seq(
    "documents" -> "dedup", "embeddings" -> "ann",
    "forget" -> "forget_ckpt", "documents" -> "oov_ckpt").map {
    case (src, ck) => graft.streaming.Streams.unseenFiles(spark,
      s"${cfg.landing}/$src", s"${cfg.checkpointRoot}/$ck")
  }.sum

  def run(sessionS: Double): Unit = {
    // set-up: the first pass drains the H history nights (stores
    // bootstrap, checkpoints commit), repeated on a fresh landing zone;
    // copying the fixtures in is the harness's work and is not timed
    val drains = (1 to SetupReps).map { _ =>
      deleteTree(cur)
      copyTree(s"$fx/resident", s"$cur/resident")
      Seq("documents", "embeddings", "forget").foreach(d =>
        copyTree(s"$fx/history/$d", s"$cur/landing/$d"))
      Wall.time(ArrivalPass.run(spark, cfg, new CommandLog(spark, None),
        SystemClock))
    }
    val hist = drains.last._1
    copyTree(cur, snap)
    val preSig = sigRows()
    val preAnn = annRows()
    val prePairs = pairBatches()
    emit("kind" -> "setup", "session_s" -> sessionS,
      "setup_pass_s" -> drains.map(_._2),
      "history_stages" -> hist.stages.map(s =>
        Seq(s.stage, s.status, s.seconds)),
      "pre_sig_rows" -> preSig, "pre_ann_rows" -> preAnn)

    val m = Manifest.arrival(a.work)
    val goneDocs = m("takedown_doc_ids")
    val goneVecs = m("takedown_vec_ids")
    referenceLoad()
    val t0 = System.nanoTime()
    var n = 0
    while (measuring(t0, n)) {
      val traced = a.trace && n % 2 == 1
      val id = s"s$n"
      deleteTree(cur)
      copyTree(snap, cur)
      val landedBytes = landNight()
      val unseen0 = if (traced) unseen() else 0L
      val p0 = probeS()
      val s0 = Wall.ms()
      val (busy, busyS, busyStages, busyL) = pass(id, "busy", traced)
      val (quiet, quietS, quietStages, quietL) = pass(id, "quiet", traced)
      if (traced) spans.add(Span(id, "sample", "", s0, Wall.ms()))
      val probe = (p0 + probeS()) / 2
      val unseen1 = if (traced) unseen() else 0L
      val heap = heapMb()
      // raw outputs for the correctness checks
      val afterBusy = pairBatches()
      val newPairs = (afterBusy -- prePairs).toSeq.sorted.flatMap { b =>
        spark.read.parquet(s"${cfg.dedupOut}/$b").select("doc_a", "doc_b")
          .collect().map(r => Seq(r.getLong(0), r.getLong(1)))
      }
      val sigStore = new graft.pipeline.IncrementalDedup.SigStore(spark,
        cfg.sigStorePath).load().get
      val annStore = new graft.pipeline.IncrementalAnn.AnnIndexStore(spark,
        cfg.annStorePath).load().get
      val allPairs = spark.read.parquet(cfg.dedupOut)
      val check = Map(
        "busy_stages" -> busy.stages.map(s =>
          Seq(s.stage, s.status, s.detail)),
        "quiet_stages" -> quiet.stages.map(s =>
          Seq(s.stage, s.status, s.detail)),
        "busy_violations" -> busy.violations, "busy_errors" -> busy.errors,
        "quiet_violations" -> quiet.violations,
        "new_pairs" -> newPairs,
        "pair_batches_after_quiet" -> (pairBatches() -- afterBusy).size,
        "forgotten_in_pairs" -> allPairs.filter(
          col("doc_a").isInCollection(goneDocs) ||
            col("doc_b").isInCollection(goneDocs)).count(),
        "pre_sig_rows" -> preSig, "pre_ann_rows" -> preAnn) ++
        rowsAndForgotten(sigStore, "doc_id", goneDocs, "sig") ++
        rowsAndForgotten(annStore, "vec_id", goneVecs, "ann")
      def detailNum(stage: String, key: String): Double =
        busy.stages.find(_.stage == stage).flatMap(s =>
          s"$key=(\\d+)".r.findFirstMatchIn(s.detail))
          .map(_.group(1).toDouble).getOrElse(0.0)
      val quietFs = quietL.collect {
        case (k, v) if k.startsWith("fs.") && k.endsWith("_calls") => v
      }.sum
      val layer = busyL ++ busyStages ++ quietStages ++ Map(
        "arrival.quiet.pass_s" -> quietS,
        "arrival.quiet.spark_jobs" -> quietL("spark.jobs"),
        "arrival.quiet.fs_calls" -> quietFs,
        "streaming.batches" -> (detailNum("dedup_ingest", "drained") +
          detailNum("ann_ingest", "drained") +
          detailNum("forget_queue", "files") +
          detailNum("oov_qc", "batches")),
        "streaming.files_drained" -> (unseen0 - unseen1).toDouble,
        "pipeline.pairs_emitted" -> newPairs.size.toDouble,
        "pipeline.sig_rows_forgotten" -> detailNum("forget_queue", "sig_rows"),
        "pipeline.ann_vectors_forgotten" ->
          detailNum("forget_queue", "ann_vectors")) ++
        busyL.get("fs.write_mb").map(w =>
          "pipeline.write_amp" -> w * 1024 * 1024 / landedBytes)
      emit("kind" -> "sample", "i" -> n, "traced" -> traced,
        "e2e" -> Map("pass_s" -> busyS, "quiet_pass_s" -> quietS,
          "probe_s" -> probe, "peak_heap_mb" -> heap),
        "layer" -> layer, "check" -> check)
      n += 1
    }
  }
}

/** The fixture facts the Scala side needs (the takedown id lists). */
object Manifest {
  def arrival(work: String): Map[String, Seq[Long]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(s"$work/manifest.json"))
      .get("arrival")
    Seq("takedown_doc_ids", "takedown_vec_ids").map { k =>
      k -> root.get(k).elements().asScala.map(_.asLong()).toSeq
    }.toMap
  }
}
