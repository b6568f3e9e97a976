package perfbench

import scala.util.Try

import graft.util.Disk

/**
 * The benchmark JVM, started by `run.py`:
 *
 *   perfbench.Main --workload batch|ingest --seed N --seconds S --trace 0|1
 *                  --cores C --run-dir DIR --out-dir DIR --commit X --source X
 *   perfbench.Main selftest
 *
 * Prints one report line: the result counts, every metric and figure, the
 * gates and the run stamp. `run.py` picks the metrics `BENCHMARK.json`
 * names out of it. A traced run also writes the report to
 * `<out-dir>/layers-<workload>-seed<N>.json`.
 */
object Main {

  /** Tolerance on `Stats.wallResidual`: the wall clock (ms) and the
    * parts' `nanoTime` walls agree to a few ms per part. */
  val WallTolerance = 0.01

  /** (steal, total) jiffies of all CPUs so far: the share of CPU time the
    * host gave to other guests is the load this machine cannot see. */
  private def cpuJiffies: (Long, Long) = Try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.getOrElse((0L, 0L))

  private def loadavg1: Double =
    Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val failures = SelfTest.run()
    if (argv.headOption.contains("selftest")) {
      failures.foreach(f => System.err.println(s"[selftest] FAIL $f"))
      println(s"selftest: ${SelfTest.count - failures.size}/${SelfTest.count} checks pass")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[selftest] FAIL $f"))
      sys.exit(3)
    }
    val a = argv.toSeq.sliding(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (argv.headOption.contains("prepare")) prepare(a)
    val workload = a("workload")
    require(Set("batch", "ingest")(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val runSeconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val dir = a("run-dir")
    // sweep what crashed runs left, then own a fresh directory
    val base = new java.io.File(dir).getParent
    Disk.sweep(base, "run-")
    new java.io.File(s"$dir/local").mkdirs()

    val stamp = scala.collection.mutable.LinkedHashMap[String, Any](
      "commit" -> a.getOrElse("commit", "unknown"), "source_sha" -> a.getOrElse("source", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
      "load1_start" -> loadavg1, "disk_free_gb_start" -> Disk.freeGb(dir),
      "driver_heap_gb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024),
      "java" -> System.getProperty("java.version"))
    val jiffies0 = cpuJiffies
    val trace = if (traced) Some(new Trace) else None
    val run = new Run(seed, trace)
    val cpu0 = Workloads.processCpuS
    val spark = graft.util.Sessions.build(s"perfbench-$workload", cores.toString, Map(
      "spark.local.dir" -> s"$dir/local",
      "spark.sql.warehouse.dir" -> s"$dir/warehouse"))
    val outcome = try {
      stamp("spark") = spark.version
      trace.foreach(spark.sparkContext.addSparkListener)
      Try {
        workload match {
          case "batch" => Workloads.batch(spark, run, dir, runSeconds)
          case "ingest" => Workloads.ingest(spark, run, dir, a("fixture"), runSeconds)
        }
        trace.foreach(t => layerFigures(run, t.summary(run.window), cores))
      }
    } finally {
      Try(spark.stop())
      Disk.rm(dir)
    }
    stamp("load1_end") = loadavg1
    val jiffies1 = cpuJiffies
    stamp("cpu_steal_share") =
      (jiffies1._1 - jiffies0._1).toDouble / math.max(1L, jiffies1._2 - jiffies0._2)
    stamp("disk_free_gb_end") = Disk.freeGb(base)
    stamp("process_cpu_s") = Workloads.processCpuS - cpu0
    outcome.failed.foreach { e =>
      System.err.println(s"[perfbench] $workload failed outside an operation:")
      e.printStackTrace()
      sys.exit(4)
    }
    val opS = run.ops.map(_.seconds)
    val failed = run.ops.count(!_.ok) + run.runFailures
    val attempted = run.ops.size + run.runFailures
    val e2e = Map[String, Double](
      "setup_s" -> run.setup.values.sum,
      "write_s" -> Stats.median(run.partSeconds("write")),
      "read_s" -> Stats.median(run.partSeconds("read")),
      "op_cpu_s" -> Stats.median(run.ops.map(_.cpuS).toSeq))
    val tail = Stats.tail(opS.toSeq)
    val correct = failed == 0 && run.gates.forall(_.pass)
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "run_seconds" -> runSeconds,
      "stamp" -> stamp, "repeats" -> run.ops.size, "setup_parts_s" -> run.setup,
      "ops_s" -> opS.toSeq, "op_parts_s" -> run.ops.map(_.parts.map { case (k, (s, _)) => k -> s }),
      "op_tail" -> tail.map(t => Map("value_s" -> t.value,
        "percentile" -> t.percentile, "samples_beyond" -> t.beyond, "n" -> t.n))
        .getOrElse(s"n/a: ${opS.size} ops, a tail needs 11"),
      "result" -> Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed),
      "fail_ratio" -> failed.toDouble / attempted,
      "end_to_end" -> e2e, "figures" -> run.figures,
      "gates" -> run.gates.map(g => Map("name" -> g.name, "pass" -> g.pass, "detail" -> g.detail)))
    if (traced) report("per_layer") = run.layers
    println("report " + Json(report))
    if (traced) {
      val out = new java.io.File(a("out-dir"))
      out.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(out, s"layers-$workload-seed$seed.json").toPath,
        Json(report) + "\n")
    }
    sys.exit(0)
  }

  /** Build the `ingest` fixture root into `--root`, with Spark scratch
    * under `--run-dir` (removed on exit). */
  private def prepare(a: Map[String, String]): Nothing = {
    val dir = a("run-dir")
    val spark = graft.util.Sessions.build("perfbench-prepare", a("cores"), Map(
      "spark.local.dir" -> s"$dir/local", "spark.sql.warehouse.dir" -> s"$dir/warehouse"))
    val ok = Try(Workloads.prepareIngest(spark, a("root")))
    Try(spark.stop())
    Disk.rm(dir)
    ok.failed.foreach(_.printStackTrace())
    sys.exit(if (ok.isSuccess) 0 else 1)
  }

  /** Listener roll-up over the operation windows, per operation. */
  private def layerFigures(run: Run, s: Trace#Summary, cores: Int): Unit = {
    val L = run.layers
    val n = run.ops.size.toDouble
    L("trace.op_s") = Stats.median(run.ops.map(_.seconds).toSeq)
    L("spark.wall_s") = s.wallS / n
    L("spark.jobs") = s.jobs / n
    L("spark.stages") = s.stages / n
    L("spark.tasks") = s.tasks / n
    L("spark.cpu_s") = s.cpuS / n
    L("spark.gc_s") = s.gcS / n
    L("spark.shuffle_mb") = s.shuffleMb / n
    L("spark.spill_mb") = s.spillMb / n
    L("spark.driver_gap_s") = s.gapS / n
    L("spark.core_util") = s.coreUtil(cores)
    L("spark.label_overlap_s") = s.acc.overlap / 1e3 / n
    val residual = Stats.wallResidual(s.acc, run.ops.map(_.seconds).sum)
    L("trace.wall_residual") = residual
    val g = Gates.Gate("trace_accounting", s.openJobs == 0 && math.abs(residual) <= WallTolerance,
      f"accounted wall ${s.wallS}%.3f s, residual $residual%.5f (tolerance $WallTolerance), " +
        s"${s.openJobs} jobs without an end event")
    run.gates += g
    if (!g.pass) run.runFailures += 1
    // probe labels are reported per probe call, below
    s.labels.filter(!_._1.startsWith("probe.")).foreach { case (label, f) =>
      val l = if (label == "other") "layout.other" else label
      L(s"$l.wall_s") = f.wallS / n
      L(s"$l.cpu_s") = f.cpuS / n
      L(s"$l.stages") = f.stages / n
      L(s"$l.shuffle_mb") = f.shuffleMb / n
    }
    val probeWindows = run.probeWindows.toSeq
    if (probeWindows.nonEmpty) {
      val t = run.trace.get
      val js = t.jobsIn(probeWindows)
      L("probe.jobs_per_call") = js.size.toDouble / probeWindows.size
      js.groupBy(_._2).foreach { case (label, jobs) =>
        val l = if (label == "other") "probe.other" else label
        L(s"$l.wall_s") = Stats.covered(jobs.map(_._3), probeWindows) / 1e3 / probeWindows.size
      }
    }
    // Σ label walls + driver gap = wall + overlap, exactly
    run.figures("additivity") = Map(
      "wall_s" -> s.wallS, "label_wall_sum_s" -> s.acc.labels.values.sum / 1e3,
      "driver_gap_s" -> s.gapS, "overlap_s" -> s.acc.overlap / 1e3,
      "wall_residual" -> residual, "wall_tolerance" -> WallTolerance,
      "labels_s" -> s.acc.labels.map { case (l, ms) => l -> ms / 1e3 })
  }
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
