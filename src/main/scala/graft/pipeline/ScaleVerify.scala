package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{StableRound, VectorOps}
import graft.tables.Checkpoints.CheckpointOps
import graft.tables.Tables

/** ORACLE-FREE invariant verification at scale for the eight chains whose
  * DuckDB oracle cannot finish above sf0.1 (dd02 / dd06 / dd09 / dd10 /
  * dd14 / dd15 / pipe13 / pipe17 — BASELINE.md sf1 section: >180 s
  * oracle-side timeouts). Exactly the queries whose scale behavior
  * matters most had no independent correctness check at the scale that
  * stresses them; this main closes that gap (VERDICT r8 task #1) by
  * verifying each chain's INTERNAL invariants with Spark itself:
  *
  *  - component validity for the two union-find consumers (dd06,
  *    pipe13): every pair's endpoints share a label, every label is its
  *    component's minimum member, and sampled components re-derive
  *    byte-identically under a DRIVER-side union-find (a different
  *    algorithm than the distributed/pooled label propagation);
  *  - dd14's keep rows re-derived through a WINDOW argmax (a different
  *    formulation than the production partial-agg argmax);
  *  - pipe17's mixture counts reconciled against dd14's drop set and
  *    the raw per-source corpus counts;
  *  - dd02/dd15 exact-Jaccard columns re-computed on a 1k-pair sample
  *    through [[Dedup.jaccardVerifyFrom]] (independent of the bitmap
  *    tier dd02 uses and of dd15's signature join), plus the MinHash
  *    estimator's mean-error sanity bound;
  *  - dd09 at the PRODUCTION auto-k (scale-aware centroid count — this
  *    run is also the sf1 measurement for the auto-k default): pair
  *    stream exactly-once, threshold respected, cosines re-computed on
  *    a sample; dd10's recall measured against an exact brute-force
  *    truth on a deterministic vector sample.
  *
  * Second arg (optional): a directory to write a ~1/10 sampled
  * sub-corpus (documents + embeddings, doc_id/vec_id ≡ 3 mod 10) — at
  * that size the DuckDB oracle CAN finish, so the driver's strict gate
  * runs on genuine sf1-derived data as the independent cross-check
  * (symlink the remaining tables and point Verify + check_oracle at it).
  *
  * Usage: runMain graft.pipeline.ScaleVerify <sfDir> [sampleOutDir] */
object ScaleVerify {

  final case class Res(name: String, pass: Boolean, detail: String,
      secs: Double)

  private def timed(name: String)(body: => (Boolean, String)): Res = {
    val t0 = System.nanoTime()
    val (ok, detail) =
      try body
      catch { case e: Throwable => (false, s"THREW: ${e.getMessage}") }
    Res(name, ok, detail, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("local-data/sf1")
    val sampleOut = args.lift(1)
    val spark = graft.SessionDefaults.local()
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = runAll(spark, sfDir)
    results.foreach { r =>
      println(f"[scaleverify] ${if (r.pass) "PASS" else "FAIL"} " +
        f"${r.name}%-42s ${r.detail} (${r.secs}%.1f s)")
    }
    sampleOut.foreach { out => writeSample(spark, sfDir, out) }
    val failed = results.filterNot(_.pass)
    println(s"""{"metric":"scaleverify","sf":"$sfDir",""" +
      s""""pass":${results.count(_.pass)},"fail":${failed.size},""" +
      s""""failed":[${failed.map("\"" + _.name + "\"").mkString(",")}],""" +
      f""""total_sec":${results.map(_.secs).sum}%.1f}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The full invariant battery; also runs (cheaply) at sf0.01 in
    * ScaleVerifySpec so the battery itself is regression-tested. */
  def runAll(s: SparkSession, d: String): Seq[Res] = {
    val docsDf = Tables.documents(s, d)

    // ---- dd06 chain: LSH pair graph -> connected components ----------
    val pairs = Dedup.lshPairs(s, d).select("doc_a", "doc_b").materialized
    val labels = Dedup.connectedComponents(pairs).materialized
    val la = labels.select(col("doc_id").as("doc_a"),
      col("cluster_id").as("ca"))
    val lb = labels.select(col("doc_id").as("doc_b"),
      col("cluster_id").as("cb"))

    val r1 = timed("dd06_edge_label_consistency") {
      val bad = pairs.join(la, "doc_a").join(lb, "doc_b")
        .filter(col("ca") =!= col("cb")).count()
      (bad == 0L, s"$bad cross-label edges of ${pairs.count()}")
    }
    val r2 = timed("dd06_label_is_min_member") {
      val bad = labels.groupBy("cluster_id").agg(min("doc_id").as("m"))
        .filter(col("m") =!= col("cluster_id")).count()
      (bad == 0L, s"$bad labels not their component min " +
        s"(${labels.count()} labeled docs)")
    }
    val r3 = timed("dd06_sampled_unionfind_rederive") {
      sampledUnionFind(pairs, labels)
    }

    // ---- dd14: window-argmax re-derivation of the keep decision ------
    val sized = labels
      .join(docsDf.select(col("doc_id"), col("n_chars")), "doc_id")
      .materialized
    val r4 = timed("dd14_keep_is_window_argmax") {
      val dd14 = Dedup.dd14ClusterReps.run(s, d)
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id"))
      val win = sized.withColumn("rk", row_number().over(w))
      val reps = win.filter(col("rk") === 1).select(col("cluster_id"),
        col("doc_id").as("w_keep"), col("n_chars").as("w_chars"))
      val memb = sized.groupBy("cluster_id")
        .agg(count(lit(1)).as("w_members"))
      val joined = dd14.join(reps, "cluster_id").join(memb, "cluster_id")
        .materialized
      val bad = joined.filter(col("keep_doc") =!= col("w_keep") ||
        col("keep_chars") =!= col("w_chars") ||
        col("n_members") =!= col("w_members")).count()
      val cMismatch = dd14.count() !=
        labels.select("cluster_id").distinct().count() ||
        joined.count() != dd14.count()
      (bad == 0L && !cMismatch,
        s"$bad mismatched clusters of ${dd14.count()}")
    }

    // ---- pipe17: mixture counts reconcile with the drop set ----------
    val r5 = timed("pipe17_counts_reconcile") {
      val p17 = Dedup.pipe17DedupMixture.run(s, d).materialized
      val bySrc = docsDf.groupBy("source")
        .agg(count(lit(1)).as("raw_before"))
      val badBefore = p17.join(bySrc, "source")
        .filter(col("n_before") =!= col("raw_before")).count()
      val dropped = p17
        .agg(sum(col("n_before") - col("n_after"))).first().getLong(0)
      val dd14Dropped = sized.count() -
        labels.select("cluster_id").distinct().count()
      val shareSum = p17.agg(sum("share_after")).first().getDouble(0)
      val nSources = p17.count()
      val shareOk = math.abs(shareSum - 1.0) <= nSources * 1e-4
      (badBefore == 0L && dropped == dd14Dropped && shareOk,
        s"badBefore=$badBefore dropped=$dropped (dd14: $dd14Dropped) " +
          f"shareSum=$shareSum%.4f")
    }

    // ---- dd02: bitmap-tier Jaccard vs the shingle-set recompute ------
    val r6 = timed("dd02_sampled_exact_jaccard") {
      val dd02 = Dedup.ngramJaccardPairs(s, d).materialized
      val thresholdBad = dd02.filter(col("jaccard") < 0.5 ||
        col("doc_a") >= col("doc_b")).count()
      val dupPairs = dd02.count() -
        dd02.select("doc_a", "doc_b").distinct().count()
      val sample = dd02.orderBy(md5(concat_ws("|", col("doc_a"),
        col("doc_b")))).limit(1000).materialized
      val sets = Dedup.shingleSets(
        Tables.spread(s, docsDf, "doc_id")).materialized
      val re = Dedup.jaccardVerifyFrom(sets,
        sample.select("doc_a", "doc_b"), threshold = 0.0)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("jac2"))
      val cmp = sample.join(re, Seq("doc_a", "doc_b"), "left")
      val mism = cmp.filter(col("jac2").isNull ||
        col("jaccard") =!= col("jac2")).count()
      (thresholdBad == 0L && dupPairs == 0L && mism == 0L,
        s"thresholdBad=$thresholdBad dup=$dupPairs " +
          s"sampleMismatch=$mism/${sample.count()}")
    }

    // ---- dd15: estimator columns + sampled exact recheck -------------
    val r7 = timed("dd15_estimator_consistency") {
      val dd15 = Dedup.dd15MinhashCalibration.run(s, d).materialized
      val badCols = dd15.filter(
        col("est_sim") =!= col("n_match").cast("double") / 8 ||
          col("abs_err") =!=
            StableRound.r4(abs(col("est_sim") - col("jaccard"))))
        .count()
      val meanErr = dd15.agg(avg("abs_err")).first().getDouble(0)
      val sample = dd15.orderBy(md5(concat_ws("|", col("doc_a"),
        col("doc_b")))).limit(1000)
        .select("doc_a", "doc_b", "jaccard").materialized
      val sets = Dedup.shingleSets(
        Tables.spread(s, docsDf, "doc_id")).materialized
      val re = Dedup.jaccardVerifyFrom(sets,
        sample.select("doc_a", "doc_b"), threshold = 0.0)
        .select(col("doc_a"), col("doc_b"), col("jaccard").as("jac2"))
      val mism = sample.join(re, Seq("doc_a", "doc_b"), "left")
        .filter(col("jac2").isNull || col("jaccard") =!= col("jac2"))
        .count()
      // k=8 MinHash: E|est - true| ~ 0.5/sqrt(8) ≈ 0.17; 0.25 is the
      // loose sanity bound that still catches a broken estimator
      (badCols == 0L && mism == 0L && meanErr <= 0.25,
        f"badCols=$badCols sampleMismatch=$mism meanErr=$meanErr%.4f")
    }

    // ---- dd09 at PRODUCTION auto-k (also the sf1 auto-k measurement) -
    val t09 = System.nanoTime()
    val pairs09 = Dedup.semanticPairs(s, d) // k = None -> autoK(n)
      .materialized
    val pairs09Count = pairs09.count()
    val secs09 = (System.nanoTime() - t09) / 1e9
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", VectorOps.norm(col("embedding"))).materialized
    val r8 = timed("dd09_autok_pair_stream") {
      val badOrder = pairs09.filter(col("vec_a") >= col("vec_b")).count()
      val dup = pairs09Count -
        pairs09.select("vec_a", "vec_b").distinct().count()
      val badThresh = pairs09.filter(col("cosine") < 0.35).count()
      val sample = pairs09.orderBy(md5(concat_ws("|", col("vec_a"),
        col("vec_b")))).limit(1000).materialized
      val ea = emb.select(col("vec_id").as("vec_a"),
        col("embedding").as("eaa"), col("nrm").as("na"))
      val eb = emb.select(col("vec_id").as("vec_b"),
        col("embedding").as("ebb"), col("nrm").as("nb"))
      val re = sample.join(ea, "vec_a").join(eb, "vec_b")
        .withColumn("cos2", StableRound.r4(Similarity.cosineFromNorms(
          VectorOps.dot(col("eaa"), col("ebb")), col("na"), col("nb"))))
      val mism = re.filter(col("cosine") =!= col("cos2")).count()
      (badOrder == 0L && dup == 0L && badThresh == 0L && mism == 0L,
        s"pairs=$pairs09Count badOrder=$badOrder dup=$dup " +
          f"badThresh=$badThresh sampleMismatch=$mism " +
          f"(auto-k pair stage: $secs09%.1f s)")
    }

    // ---- dd10: sampled exact recall of the auto-k blocking -----------
    val r9 = timed("dd10_sampled_recall") {
      val samp = emb.filter(col("vec_id") % 17 === 0).materialized
      val a = samp.select(col("vec_id").as("vec_a"),
        col("embedding").as("eaa"), col("nrm").as("na"))
      val b = samp.select(col("vec_id").as("vec_b"),
        col("embedding").as("ebb"), col("nrm").as("nb"))
      val truth = broadcast(a).crossJoin(b)
        .filter(col("vec_a") < col("vec_b"))
        .filter(Similarity.cosineFromNorms(
          VectorOps.dot(col("eaa"), col("ebb")),
          col("na"), col("nb")) >= 0.35)
        .select("vec_a", "vec_b").materialized
      val found = pairs09.select("vec_a", "vec_b")
        .join(samp.select(col("vec_id").as("vec_a")), "vec_a")
        .join(samp.select(col("vec_id").as("vec_b")), "vec_b")
        .materialized
      val nTruth = truth.count()
      val hit = truth.join(found, Seq("vec_a", "vec_b"), "left_semi")
        .count()
      val outside = found
        .join(truth, Seq("vec_a", "vec_b"), "left_anti").count()
      val recall = if (nTruth == 0) 1.0 else hit.toDouble / nTruth
      // found ⊆ truth (same threshold) must be exact; recall bounded by
      // the measured fixture recall (0.73 two-probe) with safety margin
      (outside == 0L && recall >= 0.5,
        f"recall=$recall%.3f ($hit/$nTruth) foundOutsideTruth=$outside " +
          s"sampleVecs=${samp.count()}")
    }

    // ---- pipe13: component validity + count algebra at auto-k --------
    val r10 = timed("pipe13_component_counts") {
      val g = pairs09.select(col("vec_a").as("doc_a"),
        col("vec_b").as("doc_b")).materialized
      val lab = Dedup.connectedComponents(g).materialized
      val ga = lab.select(col("doc_id").as("doc_a"),
        col("cluster_id").as("ca"))
      val gb = lab.select(col("doc_id").as("doc_b"),
        col("cluster_id").as("cb"))
      val cross = g.join(ga, "doc_a").join(gb, "doc_b")
        .filter(col("ca") =!= col("cb")).count()
      val badMin = lab.groupBy("cluster_id").agg(min("doc_id").as("m"))
        .filter(col("m") =!= col("cluster_id")).count()
      val nMatched = lab.count()
      val nClusters = lab.select("cluster_id").distinct().count()
      val nVec = emb.count()
      val pruned = nMatched - nClusters
      (cross == 0L && badMin == 0L && pruned >= 0 && pruned < nVec,
        s"crossEdges=$cross badMin=$badMin n_matched=$nMatched " +
          s"n_clusters=$nClusters n_pruned=$pruned of $nVec")
    }

    // ---- dd16: incremental == monolithic-restricted AT SCALE ----------
    // (dd03's chain completes at sf1, so the restriction equality is
    // checkable EXACTLY here — and the timing pair quantifies the
    // incremental win a 20%-batch arrival buys over a full re-run)
    val r11 = timed("dd16_incremental_restriction_equality") {
      val all = Tables.spread(s, docsDf, "doc_id")
      val isNew = pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(5)) === 0
      val tF = System.nanoTime()
      val full = Dedup.lshPairsOf(Dedup.minhashSigPerRow(all))
        .select("doc_a", "doc_b").materialized
      val fullSecs = (System.nanoTime() - tF) / 1e9
      val store = IncrementalDedup
        .initialStore(Dedup.minhashSigPerRow(all.filter(!isNew))).materialized
      val newSigs = Dedup.minhashSigPerRow(all.filter(isNew)).materialized
      val tI = System.nanoTime()
      val inc = IncrementalDedup.ingest(store, newSigs)
        .pairs.materialized
      val incSecs = (System.nanoTime() - tI) / 1e9
      val newIds = all.filter(isNew).select("doc_id").materialized
      val want = full
        .join(newIds.select(col("doc_id").as("doc_a"))
          .withColumn("na", lit(1)), Seq("doc_a"), "left")
        .join(newIds.select(col("doc_id").as("doc_b"))
          .withColumn("nb", lit(1)), Seq("doc_b"), "left")
        .filter(col("na").isNotNull || col("nb").isNotNull)
        .select("doc_a", "doc_b")
      val missing = want.exceptAll(inc).count()
      val extra = inc.exceptAll(want).count()
      (missing == 0L && extra == 0L,
        s"missing=$missing extra=$extra (${inc.count()} pairs; " +
          f"full chain $fullSecs%.1f s vs 20%%-batch ingest $incSecs%.1f s)")
    }

    // ---- sim14: incremental ANN store == monolithic assignment AT
    // SCALE, through the PERSISTED store (multi-batch evolution, the
    // real AnnIndexStore on disk — not the in-memory gated form), with
    // the timing pair quantifying ingest vs full retrain ---------------
    val r12 = timed("sim14_incremental_ann_store_equality") {
      val codes = Similarity.quantVecs(s, d)
      val isNew = pmod(
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(5)) === 0
      val resident = codes.filter(!isNew)
      val arrivals = codes.filter(isNew).materialized
      val tB = System.nanoTime()
      val cents = Similarity.lloydCentroids(resident)
      val bootSecs = (System.nanoTime() - tB) / 1e9
      val base = java.nio.file.Files
        .createTempDirectory("graft-sv-ann").toString
      val store = new IncrementalAnn.AnnIndexStore(s, s"$base/ann")
      store.save(cents, IncrementalAnn.assign(resident, cents))
      // two arrival batches (vec_id parity split), timed: the ingest
      // cost a batch pays vs re-training the whole index
      val tI = System.nanoTime()
      store.ingest(arrivals.filter(pmod(col("vec_id"), lit(2)) === 0), 1L)
      store.ingest(arrivals.filter(pmod(col("vec_id"), lit(2)) === 1), 2L)
      val incSecs = (System.nanoTime() - tI) / 1e9
      val got = store.load().get.select("vec_id", "cluster")
      val want = Similarity.assignAgainst(codes, cents)
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      val missing = want.exceptAll(got).count()
      val extra = got.exceptAll(want).count()
      val centsStable = store.centroids.map { case (c, a) => (c, a.toSeq) } ==
        cents.map { case (c, a) => (c, a.toSeq) }
      (missing == 0L && extra == 0L && centsStable,
        s"missing=$missing extra=$extra centroidsStable=$centsStable " +
          f"(${got.count()} vectors; bootstrap train $bootSecs%.1f s vs " +
          f"two-batch ingest $incSecs%.1f s)")
    }

    // ---- round 13: the maintain() monitor→retrain loop AT SCALE — the
    // same-distribution arrival stream measures BELOW the rebuild
    // threshold (the calibration claim, verified at this sf), a
    // genuinely shifted batch measures above it and triggers a retrain
    // that loses nothing and serves the drifted region ----------------
    val r13 = timed("ann_maintain_monitor_retrain_loop") {
      val codes = Similarity.quantVecs(s, d)
      val isNew = pmod(
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(5)) === 0
      val resident = codes.filter(!isNew)
      val arrivals = codes.filter(isNew).materialized
      val base = java.nio.file.Files
        .createTempDirectory("graft-sv-maint").toString
      val store = new IncrementalAnn.AnnIndexStore(s, s"$base/ann")
      val cents = Similarity.lloydCentroids(resident)
      store.save(cents, IncrementalAnn.assign(resident, cents))
      store.ingest(arrivals, 1L)
      // same-distribution arrivals: measured drift sits in the
      // sampling-noise band, the loop must NOT rewrite the index
      val rNone = store.maintain(rebuildDrift = 0.10)
      val noneOk = rNone.action == "none"
      // a shifted batch (every component +300: far outside the int8
      // code range every cell tessellates) crowds one stale cell
      val drifted = arrivals.select(
        (col("vec_id") + lit(10000000L)).as("vec_id"),
        expr("transform(qv, x -> x + 300L)").as("qv")).materialized
      store.ingest(drifted, 2L)
      val tR = System.nanoTime()
      val rReb = store.maintain(rebuildDrift = 0.10)
      val rebSecs = (System.nanoTime() - tR) / 1e9
      val rebOk = rReb.action == "rebuild" && rReb.maxDrift > 0.10
      val all = store.load().get
      val total = codes.count() + drifted.count()
      val countOk = all.count() == total
      val folded = all.filter(col("batch_id") > 0L).count() == 0L
      val centsChanged =
        store.centroids.map { case (c, a) => (c, a.toSeq) } !=
          cents.map { case (c, a) => (c, a.toSeq) }
      // the re-tessellated index serves the drifted region: a query
      // there finds only drifted arrivals as nearest neighbors
      val probe = drifted.limit(1).select(
        lit(99999999L).as("vec_id"), col("qv"))
      val near = store.searchTopK(probe, k = 3, nprobe = 1)
        .select("neighbor_id").collect().map(_.getLong(0))
      val serveOk = near.nonEmpty && near.forall(_ >= 10000000L)
      (noneOk && rebOk && countOk && folded && centsChanged && serveOk,
        s"noDriftPass=${rNone.action}@${rNone.maxDrift} " +
          s"driftedPass=${rReb.action}@${rReb.maxDrift} " +
          f"rows=${all.count()}/$total foldedToBatch0=$folded " +
          f"centroidsChanged=$centsChanged driftedServe=$serveOk " +
          f"(retrain $rebSecs%.1f s)")
    }

    // ---- round 16: takedown/retention propagation AT SCALE — the
    // persisted forget equals a from-scratch build over (corpus −
    // forgotten) on the signature store, removes searchability on the
    // ANN store, and its cost is ∝ touched cells (timed against the
    // full-store bootstrap it replaces) ---------------------------------
    val r14 = timed("forget_takedown_propagation") {
      import s.implicits._
      val all = Tables.spread(s, Tables.documents(s, d), "doc_id")
      // a REALISTIC takedown: a small scattered id set (~3% of the
      // corpus), not a bulk split — the work bound under test is
      // touched-cells, and a bulk set touches everything trivially
      val isGone = pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(31)) === 7
      val sigs = Dedup.minhashSigPerRow(all).materialized
      val base = java.nio.file.Files
        .createTempDirectory("graft-sv-forget").toString
      val sigStore = new IncrementalDedup.SigStore(s, s"$base/sigs")
      val ids = all.filter(isGone).select("doc_id").materialized
      val nIds = ids.count()
      val (forgetSecs, bootSecs, report) = sigStore.withLease {
        val tB = System.nanoTime()
        // fan-out pinned at 16 (256 cells): the corpus-sized autoK
        // would pick 1-2 buckets at this sf and the degenerate swap
        // arm would hide the exact-touched-cell path under test
        sigStore.save(IncrementalDedup.initialStore(sigs), fanOut = 16)
        val bootS = (System.nanoTime() - tB) / 1e9
        val tF = System.nanoTime()
        val r = sigStore.forget(ids)
        ((System.nanoTime() - tF) / 1e9, bootS, r)
      }
      val cols = Seq("sig_key", "doc_id", "m0", "m1", "m2", "m3",
        "m4", "m5", "m6", "m7", "rep").map(col)
      val want = IncrementalDedup.initialStore(
        sigs.join(ids, Seq("doc_id"), "left_anti")).select(cols: _*)
      val got = sigStore.load().get.select(cols: _*)
      val missing = want.exceptAll(got).count()
      val extra = got.exceptAll(want).count()
      // idempotent re-forget at scale: zero rows, zero cells
      val again = sigStore.withLease(sigStore.forget(ids))
      // a SPARSE takedown (5 surviving ids) after the bulk one: the
      // bulk 3% set saturates the 16×16 grid (its scattered signatures
      // occupy ~every cell, so that rewrite is necessarily
      // corpus-scale); five ids touch ≤5 of 256 cells, and THIS timing
      // is the work-∝-touched-cells evidence at sf1
      val five = got.select("doc_id").orderBy("doc_id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      val t5 = System.nanoTime()
      val sparse = sigStore.withLease(
        sigStore.forget(five.toDF("doc_id")))
      val sparseSecs = (System.nanoTime() - t5) / 1e9
      // ANN side: persisted index forgets the same id set (as vec ids)
      val codes = Similarity.quantVecs(s, d)
      val annStore = new IncrementalAnn.AnnIndexStore(s, s"$base/ann")
      val vecIds = codes.select(col("vec_id"))
        .filter(pmod(conv(substring(md5(col("vec_id").cast("string")),
          1, 8), 16, 10).cast("long"), lit(31)) === 7)
        .materialized
      val annR = annStore.withLease {
        val cents = Similarity.lloydCentroids(codes)
        annStore.save(cents, IncrementalAnn.assign(codes, cents))
        annStore.forget(vecIds)
      }
      val nVecIds = vecIds.count()
      val annLeft = annStore.load().get
      val survivors = annLeft.join(vecIds, Seq("vec_id"), "left_semi")
        .count()
      val annCount = annLeft.count() == codes.count() - nVecIds
      (missing == 0L && extra == 0L && report.rowsForgotten == nIds &&
        again.rowsForgotten == 0L && again.cellsTouched == 0 &&
        sparse.rowsForgotten == five.size &&
        sparse.cellsTouched <= five.size &&
        annR.rowsForgotten == nVecIds && survivors == 0L && annCount,
        s"missing=$missing extra=$extra " +
          s"sig: rows=${report.rowsForgotten}/$nIds " +
          s"cells=${report.cellsTouched} reForget=${again.rowsForgotten} " +
          s"sparse: rows=${sparse.rowsForgotten} " +
          s"cells=${sparse.cellsTouched} " +
          f"secs=$sparseSecs%.1f " +
          s"ann: rows=${annR.rowsForgotten}/$nVecIds " +
          s"cells=${annR.cellsTouched} stillStored=$survivors " +
          f"(store bootstrap $bootSecs%.1f s vs bulk forget " +
          f"$forgetSecs%.1f s)")
    }

    // ---- round 17: forget ⊣ ingest INTERLEAVE at scale (round-16
    // verdict #7) — ScaleVerify #14 proves forget against a quiescent
    // store; production interleaves takedowns BETWEEN arrival batches
    // under the writer lease. Composed sequence through the PERSISTED
    // store: bootstrap → ingest batch 1 (partition overwrite) → forget
    // a scattered set spanning resident AND batch-1 docs → ingest
    // batch 2 → the end state must equal a from-scratch build over the
    // net corpus ((resident ∪ b1 ∪ b2) − forgotten), reps and all ------
    val r15 = timed("forget_ingest_interleave_equality") {
      val all = Tables.spread(s, Tables.documents(s, d), "doc_id")
      val bucket = pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(5))
      val resident = all.filter(bucket >= 2)       // ~60%
      val b1 = all.filter(bucket === 0)            // ~20% (batch 1)
      val b2 = all.filter(bucket === 1)            // ~20% (batch 2)
      // scattered takedown ids drawn from resident AND batch-1 docs
      // (~1/13 of that 80%): the interleave under test forgets rows an
      // EARLIER incremental commit wrote alongside bootstrap rows
      val gone = all.filter(bucket =!= 1 && pmod(
        conv(substring(md5(concat(lit("g|"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long"), lit(13)) === 3)
        .select("doc_id").materialized
      val base = java.nio.file.Files
        .createTempDirectory("graft-sv-interleave").toString
      val store = new IncrementalDedup.SigStore(s, s"$base/sigs")
      val fr = store.withLease {
        store.save(IncrementalDedup.initialStore(
          Dedup.minhashSigPerRow(resident)), fanOut = 16)
        val i1 = IncrementalDedup.ingest(store.load().get,
          Dedup.minhashSigPerRow(b1), buckets = store.buckets,
          keepRect = true)
        try store.saveIncremental(i1.touched, i1.touchedParts,
          rect = i1.rectCache)
        finally i1.rectCache.foreach(_.unpersist(false))
        val r = store.forget(gone)
        val i2 = IncrementalDedup.ingest(store.load().get,
          Dedup.minhashSigPerRow(b2), buckets = store.buckets,
          keepRect = true)
        try store.saveIncremental(i2.touched, i2.touchedParts,
          rect = i2.rectCache)
        finally i2.rectCache.foreach(_.unpersist(false))
        r
      }
      val cols = Seq("sig_key", "doc_id", "m0", "m1", "m2", "m3",
        "m4", "m5", "m6", "m7", "rep").map(col)
      val want = IncrementalDedup.initialStore(Dedup.minhashSigPerRow(
        all.join(gone, Seq("doc_id"), "left_anti"))).select(cols: _*)
      val got = store.load().get.select(cols: _*)
      val missing = want.exceptAll(got).count()
      val extra = got.exceptAll(want).count()
      val nGone = gone.count()
      (missing == 0L && extra == 0L && fr.rowsForgotten == nGone,
        s"missing=$missing extra=$extra " +
          s"forgotten=${fr.rowsForgotten}/$nGone " +
          s"cells=${fr.cellsTouched} (${got.count()} rows end state)")
    }

    // ---- round 17: the takedown QUEUE at scale (round-16 verdict #1's
    // done-bar) — a 5-id file dropped in <landing>/forget is drained by
    // the composed pass against an sf-sized store; cost is the stream
    // spin-up + a ≤5-cell forget, NOT a corpus-scale rewrite (timings
    // in the detail next to the bootstrap they replace), and the next
    // pass is quiet ------------------------------------------------------
    val r16 = timed("forget_queue_drain_cost") {
      import s.implicits._
      val all = Tables.spread(s, Tables.documents(s, d), "doc_id")
      val base = java.nio.file.Files
        .createTempDirectory("graft-sv-queue").toString
      val store = new IncrementalDedup.SigStore(s, s"$base/sigs")
      val tB = System.nanoTime()
      store.withLease {
        store.save(IncrementalDedup.initialStore(
          Dedup.minhashSigPerRow(all)), fanOut = 16)
      }
      val bootSecs = (System.nanoTime() - tB) / 1e9
      // file the takedown: five scattered ids, one queue file
      val five = all.select("doc_id").orderBy(md5(col("doc_id")
        .cast("string"))).limit(5).collect().map(_.getLong(0)).toSeq
      five.toDF("doc_id").coalesce(1)
        .write.parquet(s"$base/landing/forget")
      val log = new graft.executor.CommandLog(s, None)
      val cfg = graft.scheduler.ArrivalConfig(
        landing = s"$base/landing", dbs = Map.empty,
        checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
      val p1 = graft.scheduler.ArrivalPass.run(s, cfg, log,
        graft.model.SystemClock)
      val f1 = p1.stages.find(_.stage == "forget_queue").get
      val p2 = graft.scheduler.ArrivalPass.run(s, cfg, log,
        graft.model.SystemClock)
      val f2 = p2.stages.find(_.stage == "forget_queue").get
      val leftover = store.load().get
        .filter(col("doc_id").isInCollection(five)).count()
      (f1.status == "ran" && f1.detail.contains("sig_rows=5") &&
        leftover == 0L && f2.status == "skipped_empty",
        s"drain=${f1.status} ${f1.detail.takeWhile(_ != '(').trim} " +
          f"stageSecs=${f1.seconds}%.1f vs storeBootstrap=$bootSecs%.1f " +
          s"rerun=${f2.status} leftover=$leftover")
    }

    // ---- round 18: MULTI-FILE queue drain (round-17 verdict #6) — ten
    // takedown files (six doc-only, three vec-only, ONE vec+hard in the
    // middle) land the same night; the drain is files-proportional (ten
    // bounded forgets, never a corpus-scale rewrite) and the hard tier
    // re-tessellates ONCE at the drain tail regardless of where the
    // hard file sat in the queue (round-17 verdict #1: N hard files
    // must not mean N forced corpus-sized retrains) ----------------------
    val r17 = timed("forget_queue_multifile_one_retrain") {
      import s.implicits._
      val all = Tables.spread(s, Tables.documents(s, d), "doc_id")
      val base = java.nio.file.Files
        .createTempDirectory("graft-sv-queue10").toString
      val store = new IncrementalDedup.SigStore(s, s"$base/sigs")
      store.withLease {
        store.save(IncrementalDedup.initialStore(
          Dedup.minhashSigPerRow(all)), fanOut = 16)
      }
      val codes = Similarity.quantVecs(s, d)
      val annStore = new IncrementalAnn.AnnIndexStore(s, s"$base/ann")
      annStore.withLease {
        val cents = Similarity.lloydCentroids(codes)
        annStore.save(cents, IncrementalAnn.assign(codes, cents))
      }
      val preCents = annStore.centroids.sortBy(_._1).map(_._2.toSeq)
      // 30 scattered doc ids -> six 5-id doc files; 20 scattered vec
      // ids -> three 5-id vec files + one 5-id HARD file written 4th
      val docIds = all.select("doc_id")
        .orderBy(md5(col("doc_id").cast("string"))).limit(30)
        .collect().map(_.getLong(0)).toSeq
      val vecIds = codes.select("vec_id")
        .orderBy(md5(col("vec_id").cast("string"))).limit(20)
        .collect().map(_.getLong(0)).toSeq
      val qdir = s"$base/landing/forget"
      docIds.take(15).grouped(5).foreach(g => g.toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(qdir))
      vecIds.take(5).map((_, true)).toDF("vec_id", "hard")
        .coalesce(1).write.mode("append").parquet(qdir)
      docIds.drop(15).grouped(5).foreach(g => g.toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(qdir))
      vecIds.drop(5).grouped(5).foreach(g => g.toDF("vec_id")
        .coalesce(1).write.mode("append").parquet(qdir))
      val log = new graft.executor.CommandLog(s, None)
      val cfg = graft.scheduler.ArrivalConfig(
        landing = s"$base/landing", dbs = Map.empty,
        checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
      val p1 = graft.scheduler.ArrivalPass.run(s, cfg, log,
        graft.model.SystemClock)
      val f1 = p1.stages.find(_.stage == "forget_queue").get
      val hardRows = log.entries.count(e =>
        e.command_type == "FORGET" && e.command.startsWith("FORGET-HARD"))
      val sigLeft = store.load().get
        .filter(col("doc_id").isInCollection(docIds)).count()
      val annLeft = annStore.load().get
        .filter(col("vec_id").isInCollection(vecIds)).count()
      val centsChanged =
        annStore.centroids.sortBy(_._1).map(_._2.toSeq) != preCents
      val p2 = graft.scheduler.ArrivalPass.run(s, cfg, log,
        graft.model.SystemClock)
      val f2 = p2.stages.find(_.stage == "forget_queue").get
      (f1.status == "ran" && f1.detail.contains("files=10") &&
        f1.detail.contains("sig_rows=30") &&
        f1.detail.contains("ann_vectors=20") &&
        f1.detail.contains("hard_retrains=1") && hardRows == 1 &&
        sigLeft == 0L && annLeft == 0L && centsChanged &&
        f2.status == "skipped_empty",
        s"drain=${f1.status} ${f1.detail.takeWhile(_ != '(').trim} " +
          f"stageSecs=${f1.seconds}%.1f perFile≈${f1.seconds / 10}%.2f " +
          s"forgetHardRows=$hardRows centroidsRetrained=$centsChanged " +
          s"leftover sig=$sigLeft ann=$annLeft rerun=${f2.status}")
    }

    // ---- round 19: drained-queue ARCHIVAL bounds the listing (round-18
    // verdict #1 — the last O(history) surface on the maintenance
    // path). 50 takedown files drain in one pass and are archived at
    // its tail; the queue listing every later pass pays is then O(new):
    // 0 files post-drain, 1 file once one new request lands — never the
    // 51-file history — and a relocated file never re-plans (the next
    // drain reports files=1, not files=51). Ids are absent from the
    // store on purpose: the surface being measured is per-FILE listing
    // cost, not scrub cost. --------------------------------------------
    val r18 = timed("forget_queue_archival_bounds_listing") {
      import s.implicits._
      val base = java.nio.file.Files
        .createTempDirectory("graft-sv-queue-arch").toString
      val store = new IncrementalDedup.SigStore(s, s"$base/sigs")
      store.withLease {
        store.save(IncrementalDedup.initialStore(
          Dedup.minhashSigPerRow(Tables.documents(s, d).limit(64))),
          fanOut = 1)
      }
      val qdir = s"$base/landing/forget"
      (1 to 50).foreach(i => Seq(Tuple1(-i.toLong)).toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(qdir))
      val log = new graft.executor.CommandLog(s, None)
      val cfg = graft.scheduler.ArrivalConfig(
        landing = s"$base/landing", dbs = Map.empty,
        checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
      val p1 = graft.scheduler.ArrivalPass.run(s, cfg, log,
        graft.model.SystemClock)
      val f1 = p1.stages.find(_.stage == "forget_queue").get
      val postDrainListing = graft.streaming.Streams
        .listDataFiles(s, qdir).size
      Seq(Tuple1(-51L)).toDF("doc_id").coalesce(1)
        .write.mode("append").parquet(qdir)
      val withNewListing = graft.streaming.Streams
        .listDataFiles(s, qdir).size
      val p2 = graft.scheduler.ArrivalPass.run(s, cfg, log,
        graft.model.SystemClock)
      val f2 = p2.stages.find(_.stage == "forget_queue").get
      (f1.status == "ran" && f1.detail.contains("files=50") &&
        f1.detail.contains("archived=50 drained file(s)") &&
        postDrainListing == 0 && withNewListing == 1 &&
        f2.status == "ran" && f2.detail.contains("files=1") &&
        f2.detail.contains("archived=1 drained file(s)"),
        s"drain1=${f1.status} ${f1.detail.takeWhile(_ != '(').trim} " +
          s"postDrainListing=$postDrainListing (want 0) " +
          s"withNewListing=$withNewListing (want 1) " +
          s"drain2=${f2.status} ${f2.detail.takeWhile(_ != '(').trim}")
    }

    Seq(r1, r2, r3, r4, r5, r6, r7, r8, r9, r10, r11, r12, r13, r14,
      r15, r16, r17, r18)
  }

  /** Driver union-find re-derivation on sampled components: collect the
    * edges of the 5 largest + 5 hash-picked components and assert each
    * label's induced subgraph is ONE connected piece whose min vertex is
    * the label (over-merge shows as >1 piece under a label; under-merge
    * was already caught by the cross-label edge check). */
  private def sampledUnionFind(pairs: DataFrame,
      labels: DataFrame): (Boolean, String) = {
    val s = pairs.sparkSession
    import s.implicits._
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n"))
    val top = sizes.orderBy(col("n").desc, col("cluster_id")).limit(5)
    val hashed = sizes.orderBy(md5(col("cluster_id").cast("string")))
      .limit(5)
    val chosen = top.select("cluster_id")
      .union(hashed.select("cluster_id")).distinct()
    val member = labels.join(broadcast(chosen), "cluster_id")
    val ma = member.select(col("doc_id").as("doc_a"),
      col("cluster_id").as("ca"))
    val es = pairs.join(ma, "doc_a")
      .select(col("ca"), col("doc_a"), col("doc_b"))
      .as[(Long, Long, Long)].collect()
    if (es.isEmpty) return (true, "no clustered components to sample")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    es.foreach { case (_, a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // per sampled label: all its edge endpoints must find() one root,
    // and that root must BE the label (min member reachable)
    val byLabel = es.groupBy(_._1)
    val bad = byLabel.count { case (lbl, edges) =>
      val roots = edges.flatMap(e => Seq(find(e._2), find(e._3))).distinct
      roots.length != 1 || roots.head != lbl
    }
    (bad == 0,
      s"$bad of ${byLabel.size} sampled components failed union-find " +
        s"re-derivation (${es.length} edges collected)")
  }

  /** ~1/10 deterministic sub-corpus of the big fixture, written so the
    * DuckDB oracle CAN complete on genuinely sf1-derived data. */
  private def writeSample(s: SparkSession, d: String, out: String): Unit = {
    Tables.documents(s, d).filter(col("doc_id") % 10 === 3)
      .coalesce(2).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/documents.parquet")
    Tables.embeddings(s, d).filter(col("vec_id") % 10 === 3)
      .coalesce(2).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/embeddings.parquet")
    println(s"[scaleverify] wrote sampled sub-corpus to $out")
  }
}
