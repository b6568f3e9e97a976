package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.cluster.ConnectedComponents
import graft.config.DedupConfig
import graft.gen.Synth
import graft.pairs.{Candidates, PairVerifier}
import graft.tables.Layout
import graft.{Dedup, Incremental, Probe}

/** What one invocation measured. Per-layer figures are filled only on a
  * traced run; `Main` turns this into the report and result lines. */
final class Run(val seed: Long, val trace: Option[Trace]) {
  val setup = mutable.LinkedHashMap.empty[String, Double]
  /** One closed-loop operation: the process CPU it used and the wall and
    * wall-clock window (ms) of its two parts, `write` and `read`. */
  final case class Op(cpuS: Double, parts: Map[String, (Double, Stats.Interval)], ok: Boolean) {
    def seconds: Double = parts.values.map(_._1).sum
  }
  val ops = mutable.ArrayBuffer.empty[Op]
  val gates = mutable.ArrayBuffer.empty[Gates.Gate]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val figures = mutable.LinkedHashMap.empty[String, Any]
  /** Failures not tied to one operation (a run-level gate). */
  var runFailures = 0
  /** Wall-clock windows (ms) of every `Probe.run` call, for the probe labels. */
  val probeWindows = mutable.ArrayBuffer.empty[Stats.Interval]

  def window: Seq[Stats.Interval] = ops.toSeq.flatMap(_.parts.values.map(_._2))
  def partSeconds(part: String): Seq[Double] = ops.toSeq.flatMap(_.parts.get(part).map(_._1))
}

object Workloads {

  val cfg: DedupConfig = DedupConfig.default

  /** CPU time of this process so far (every thread: tasks, driver, JIT, GC). */
  def processCpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Wall seconds and wall-clock window (ms) of `f`. */
  def timed[A](f: => A): (A, Double, Stats.Interval) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = f
    val sec = (System.nanoTime() - t0) / 1e9
    (a, sec, (w0, System.currentTimeMillis()))
  }

  def seconds[A](f: => A): (A, Double) = { val (a, s, _) = timed(f); (a, s) }

  private def releaseAll(spark: SparkSession, root: String): Unit = {
    Layout.releaseCaches(root)
    spark.catalog.clearCache()
  }

  /** Synth rows [lo, lo + n) of the corpus `seed` defines — the same pure
    * function `Synth.corpus` maps over its range — built on the driver. */
  def heldOut(spark: SparkSession, seed: Long, lo: Long, n: Int): DataFrame =
    spark.createDataFrame((lo until lo + n).map(Synth.makeRow(seed, _)))

  def truthOf(spark: SparkSession, n: Long, seed: Long): Seq[(String, String, String)] =
    Synth.truth(spark, n, seed).collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq

  // ---------------------------------------------------------------- batch

  val BatchRows = 6000L
  /** The stages of a pass a user reads: its results, not its intermediates. */
  val ResultTables = Seq("clusters", "decisions", "duplicate_history", "recurring", "audit",
    "low_quality")

  /**
   * `batch`: one full checkpointed dedup pass over a pre-materialised
   * corpus into a fresh root (the write), in a fresh driver JVM — the shape
   * of a submitted batch job, which pays plan compilation on every pass —
   * then every result table of the pass read back to the driver, as a
   * user of the pass reads its result. The read is made once: repeated
   * read-backs in one JVM are faster but spread more from run to run (0.7
   * to 1.3 s against 1.4 to 1.6 s for the first).
   */
  def batch(spark: SparkSession, run: Run, dir: String, runSeconds: Int): Unit = {
    val corpus = s"$dir/corpus"
    run.setup("corpus") = seconds(Synth.corpus(spark, BatchRows, run.seed).write.parquet(corpus))._2
    val input = spark.read.parquet(corpus)
    run.figures("corpus_rows") = BatchRows
    var truth: Seq[(String, String, String)] = Nil
    var counts = Map.empty[String, Long] // of the last pass, for the traced replay
    var elapsed = 0.0
    while (run.ops.isEmpty || elapsed < runSeconds) {
      val root = s"$dir/root-${run.ops.size}"
      val cpu0 = processCpuS
      val (res, writeS, writeW) = timed(Try(Dedup.runCheckpointed(spark, input, root, cfg)))
      val (read, readS, readW) = timed(res.flatMap(_ => Try(
        ResultTables.map(t => t -> Layout.read(spark, root, t).collect()).toMap)))
      val cpu = processCpuS - cpu0
      elapsed += writeS + readS
      val ok = read match {
        case Success(tables) =>
          if (truth.isEmpty) truth = truthOf(spark, BatchRows, run.seed)
          val clusters = tables("clusters").map(r => r.getString(0) -> r.getString(1)).toMap
          val g = Gates.recallGate(Gates.plantedRecall(truth, clusters))
          run.gates += g
          g.pass
        case Failure(e) =>
          run.gates += Gates.Gate("pass_completes", pass = false, e.toString)
          false
      }
      run.ops += run.Op(cpu, Map("write" -> (writeS, writeW), "read" -> (readS, readW)), ok)
      if (run.trace.nonEmpty && res.isSuccess) counts = rootCounts(spark, root)
      releaseAll(spark, root)
      if (run.trace.isEmpty) graft.util.Disk.rm(root)
    }
    run.figures("batch_rows_per_s") = BatchRows / Stats.median(run.partSeconds("write"))
    run.trace.foreach { _ =>
      batchLayers(spark, run, input, counts)
      probeLayers(spark, run, s"$dir/root-${run.ops.size - 1}")
    }
  }

  private def cachedMb(spark: SparkSession): Map[Int, Double] =
    spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize) / (1024.0 * 1024.0)).toMap

  /** MB cached by `f` in RDDs that were not cached before it. */
  private def newlyCachedMb[A](spark: SparkSession)(f: => A): (A, Double) = {
    val before = cachedMb(spark).keySet
    val a = f
    (a, cachedMb(spark).collect { case (id, mb) if !before(id) => mb }.sum)
  }

  /**
   * Traced `batch` only: build the pass root's incremental indexes and
   * answer one arrival batch against it, so the index and probe layers
   * are measured on this workload too (on `ingest` they are part of the
   * operation).
   */
  private def probeLayers(spark: SparkSession, run: Run, root: String): Unit = {
    val L = run.layers
    L("incremental.ensure_indexes_s") = seconds(Incremental.ensureIndexes(spark, root, cfg))._2
    L("probe.open_s") = seconds(Probe.open(spark, root, cfg).close())._2
    val rows = heldOut(spark, run.seed, BatchRows, EpochRows)
    val ((_, probeS, probeW), mb) = newlyCachedMb(spark)(timed(Probe.run(spark, root, rows, cfg)))
    run.probeWindows += probeW
    L("probe.call_s") = probeS
    L("probe.index_mb") = mb
  }

  private def rootCounts(spark: SparkSession, root: String): Map[String, Long] = {
    val verified = Layout.read(spark, root, "verified")
    Map("verify.pairs" -> verified.count(),
      "verify.edges" -> verified.where(col("is_edge")).count(),
      "cc.clusters" -> Layout.read(spark, root, "clusters")
        .agg(countDistinct("cluster_id")).head().getLong(0))
  }

  /**
   * Traced only: replay the pass layer by layer through the public
   * functions `Dedup.runCheckpointed` composes, materialising each layer
   * so its wall is its own. The candidate union mirrors `Dedup.candidates`
   * with each generator timed alone; the replay's counts must equal the
   * checkpointed pass's (a gate).
   */
  private def batchLayers(spark: SparkSession, run: Run, input: DataFrame,
      passCounts: Map[String, Long]): Unit = {
    val L = run.layers
    def persisted(df: DataFrame) = df.persist(StorageLevel.MEMORY_AND_DISK)
    val feats = persisted(Dedup.features(input, cfg))
    L("features.s") = seconds(feats.count())._2
    L("features.rows") = feats.count().toDouble
    L("features.low_quality_rows") = feats.where(col("is_low_quality")).count().toDouble
    val clean = feats.where(!col("is_low_quality"))

    def generator(name: String)(df: => DataFrame): DataFrame = {
      val (d, s) = seconds { val d = persisted(df); d.count(); d }
      L(s"candidates.$name.s") = s
      L(s"candidates.$name.pairs") = d.count().toDouble
      d
    }
    val repMap = persisted(Candidates.exactRepMap(clean))
    val exact = generator("exact")(Candidates.exactPairs(repMap))
    val reps = clean.join(repMap.where(col("image_id") === col("rep")).select("image_id"),
      Seq("image_id"))
    val minhash = generator("minhash")(Candidates.minhashPairs(reps, cfg))
    val simhash = generator("simhash")(Candidates.simhashPairs(clean, cfg))
    val substring = generator("substring")(Candidates.substringPairs(clean, cfg))
    val cands = exact.unionByName(minhash).unionByName(simhash).unionByName(substring)
    val distinctPairs = cands.select("src", "dst").distinct().count()
    L("candidates.distinct_pairs") = distinctPairs.toDouble

    val (verified, verifyS) = seconds {
      val v = persisted(PairVerifier.verify(cands, clean, cfg)); v.count(); v
    }
    L("verify.s") = verifyS
    L("verify.pairs") = verified.count().toDouble
    val edges = verified.where(col("is_edge")).select("src", "dst", "match_score")
    val nEdges = edges.count()
    L("verify.edges") = nEdges.toDouble
    L("candidates.yield") = Stats.yieldRatio(nEdges, distinctPairs)

    val (clusters, ccS) = seconds {
      val c = persisted(ConnectedComponents.runAdaptive(clean.select(col("image_id").as("id")),
        edges, cfg.maxCcIterations, cfg.ccPointerJump)
        .select(col("id").as("image_id"), col("cluster_id")))
      c.count(); c
    }
    L("cc.s") = ccS
    L("cc.clusters") = clusters.agg(countDistinct("cluster_id")).head().getLong(0).toDouble

    L("decisions.s") = seconds {
      val recur = Dedup.recurring(clusters, cfg)
      val decis = persisted(Dedup.decisionsEnriched(clean, verified, clusters, recur, cfg))
      decis.count()
      Dedup.auditLog(decis, cfg).write.format("noop").mode("overwrite").save()
    }._2

    val replay = passCounts.keys.map(k => k -> L(k).toLong).toMap
    val g = Gates.Gate("replay_matches_pass", passCounts.nonEmpty && replay == passCounts,
      s"replay $replay vs checkpointed pass $passCounts")
    run.gates += g
    if (!g.pass) run.runFailures += 1
    spark.catalog.clearCache()
  }

  // --------------------------------------------------------------- ingest

  val IngestRows = 4000L
  val EpochRows = 200
  /** The bootstrap corpus is one fixed Synth corpus per build; the run
    * seed picks which held-out rows arrive. */
  val FixtureSeed: Long = Synth.DefaultSeed
  val ArrivalWindows = 50
  /** The stages `Incremental.ensureIndexes` derives from `features`. */
  val IndexStages = Seq("rep_map", "norm_map", "banded", "banded_simhash", "suffix_keys")

  /** The bootstrapped root every `ingest` run starts from, built once per
    * build of the engine (`run.py` caches it beside the classes). */
  def prepareIngest(spark: SparkSession, root: String): Unit = {
    Dedup.runCheckpointed(spark, Synth.corpus(spark, IngestRows, FixtureSeed).toDF(), root, cfg)
    Incremental.ensureIndexes(spark, root, cfg)
    releaseAll(spark, root)
  }

  /**
   * `ingest`: a bootstrapped root absorbs arrival waves. One operation is
   * one epoch: `Probe.run` of the arriving batch (the read) — the first
   * read after the root's last write, so it rebuilds the serving context —
   * then `Incremental.append` of the same batch (the write). The probe's
   * answer is the parity reference for what the append writes.
   */
  def ingest(spark: SparkSession, run: Run, dir: String, fixture: String,
      runSeconds: Int): Unit = {
    val root = s"$dir/root"
    // set-up: three copies of the bootstrapped root (median kept), then
    // `Probe.open` of the one that is used (a cold JVM's first plans)
    val copies = (0 until 3).map { c =>
      val to = if (c == 0) root else s"$dir/copy-$c"
      val (_, s) = seconds(org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(fixture), new java.io.File(to)))
      if (c > 0) graft.util.Disk.rm(to)
      s
    }
    run.setup("copy_root") = Stats.median(copies)
    run.setup("probe_open") = seconds(Probe.open(spark, root, cfg).close())._2
    run.figures("corpus_rows") = IngestRows
    run.figures("epoch_rows") = EpochRows

    val indexMb = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[DataFrame]
    val firstWindow = Math.floorMod(run.seed, ArrivalWindows.toLong)
    var elapsed = 0.0
    while (run.ops.isEmpty || elapsed < runSeconds) {
      val i = run.ops.size
      val batchId = s"e$i"
      val lo = IngestRows + (firstWindow + i) * EpochRows
      val rows = heldOut(spark, FixtureSeed, lo, EpochRows)
      if (i == 0) run.figures("first_arrival_id") = lo
      batches += rows
      val cpu0 = processCpuS
      val ((probe, probeS, probeW), mb) =
        newlyCachedMb(spark)(timed(Try(Probe.run(spark, root, rows, cfg))))
      indexMb += mb
      run.probeWindows += probeW
      val (appended, appendS, appendW) = timed(Try(Incremental.append(spark, root, rows, batchId, cfg)))
      val cpu = processCpuS - cpu0
      elapsed += probeS + appendS
      val gates = (probe, appended) match {
        case (Success(p), Success(_)) =>
          val decis = Layout.read(spark, root, "decisions").where(col("batch") === batchId)
          val lowQ = Layout.read(spark, root, "low_quality").where(col("batch") === batchId)
          Seq(Gates.sameRows("probe_equals_append", Gates.decisionRows(p.decisions),
              Gates.decisionRows(decis)),
            Gates.sameRows("probe_equals_append_low_quality", Gates.idRows(p.lowQuality),
              Gates.idRows(lowQ)))
        case (p, a) =>
          Seq(Gates.Gate("epoch_completes", pass = false,
            Seq(p, a).collect { case Failure(e) => e.toString }.mkString("; ")))
      }
      run.gates ++= gates
      run.ops += run.Op(cpu, Map("read" -> (probeS, probeW), "write" -> (appendS, appendW)),
        gates.forall(_.pass))
    }
    run.figures("append_p50_s") = Stats.median(run.partSeconds("write"))
    run.figures("fresh_probe_p50_s") = Stats.median(run.partSeconds("read"))
    run.figures("index_mb") = Stats.median(indexMb.toSeq)
    run.trace.foreach { _ =>
      run.layers("probe.index_mb") = Stats.median(indexMb.toSeq)
      ingestLayers(spark, run, root, Synth.corpus(spark, IngestRows, FixtureSeed).toDF()
        .unionByName(batches.reduce(_ unionByName _)), dir)
    }
  }

  /**
   * Traced only: `Probe.open` alone; the index build on a scratch copy of
   * the root without its index stages; the append ≡ recompute gate — the
   * root's clusters must equal a fresh `Dedup.runCheckpointed` over the
   * same rows; and the layer replay over those rows, checked against the
   * recompute's counts.
   */
  private def ingestLayers(spark: SparkSession, run: Run, root: String, allRows: DataFrame,
      dir: String): Unit = {
    val L = run.layers
    L("incremental.append_s") = Stats.median(run.partSeconds("write"))
    L("probe.call_s") = Stats.median(run.partSeconds("read"))
    L("probe.open_s") = seconds(Probe.open(spark, root, cfg).close())._2
    // the fixture ships its index stages; rebuild them on a scratch copy
    val bare = s"$dir/no-indexes"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root), new java.io.File(bare))
    IndexStages.foreach(st => graft.util.Disk.rm(s"$bare/$st"))
    L("incremental.ensure_indexes_s") = seconds(Incremental.ensureIndexes(spark, bare, cfg))._2
    releaseAll(spark, bare)

    val full = s"$dir/recompute"
    val g = Try(Dedup.runCheckpointed(spark, allRows, full, cfg)) match {
      case Success(r) => Gates.sameRows("append_equals_recompute",
        Gates.clusterRows(Layout.read(spark, root, "clusters")), Gates.clusterRows(r.clusters))
      case Failure(e) => Gates.Gate("append_equals_recompute", pass = false, e.toString)
    }
    run.gates += g
    if (!g.pass) run.runFailures += 1
    val counts = if (g.pass) rootCounts(spark, full) else Map.empty[String, Long]
    releaseAll(spark, full)
    batchLayers(spark, run, allRows, counts)
  }
}
