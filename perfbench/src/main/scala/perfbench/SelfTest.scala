package perfbench

/**
 * Checks of the benchmark's own arithmetic and gates on hand-made inputs.
 * Every invocation runs them first and refuses to measure if one fails;
 * `run.py --selftest` runs them alone.
 */
object SelfTest {

  private val checks: Seq[(String, () => Boolean)] = {
    import Stats._
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val hundred = (1 to 100).map(_.toDouble).reverse
    Seq(
      "median odd/even" -> (() => median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
        median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5),
      // tail: the highest percentile with >= 10 samples beyond it
      "tail of 100 samples is p90 with 10 beyond" -> (() =>
        tail(hundred).contains(Tail(90.0, 90.0, 10, 100))),
      "tail of 11 samples is the minimum, 10 beyond" -> (() =>
        tail((1 to 11).map(_.toDouble)).exists(t => t.value == 1.0 && t.beyond == 10 &&
          near(t.percentile, 100.0 / 11))),
      "tail needs 11 samples" -> (() => tail((1 to 10).map(_.toDouble)).isEmpty &&
        tail(Nil).isEmpty),
      "tail of 25 samples is p60" -> (() =>
        tail((1 to 25).map(_.toDouble)).contains(Tail(15.0, 60.0, 10, 25))),
      // interval union behind driver_gap_s and layout.*.wall_s
      "union merges overlap, nesting and touching" -> (() =>
        union(Seq((5L, 15L), (0L, 10L), (20L, 30L), (22L, 25L), (30L, 31L))) ==
          Seq((0L, 15L), (20L, 31L))),
      "union drops empty intervals" -> (() => union(Seq((3L, 3L), (5L, 4L))).isEmpty),
      "length of disjoint cover" -> (() => length(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L),
      "intersect clips to windows" -> (() =>
        intersect(Seq((0L, 10L), (12L, 20L)), Seq((5L, 14L), (18L, 40L))) ==
          Seq((5L, 10L), (12L, 14L), (18L, 20L))),
      // three concurrent append chains: label walls overlap, the union does not
      "overlapping concurrent chains" -> (() => {
        val jobs = Seq(
          "layout.rep_map" -> (0L, 4L), "layout.banded" -> (4L, 9L),
          "layout.banded_simhash" -> (2L, 7L), "layout.banded_simhash" -> (8L, 12L),
          "layout.suffix_keys" -> (3L, 5L), "other" -> (15L, 16L))
        val a = account(jobs, Seq((0L, 20L)))
        a.wall == 20L && a.busy == 13L && a.gap == 7L &&
          a.labels("layout.banded_simhash") == 9L && a.labels.values.sum == 21L &&
          a.overlap == 8L && a.labels.values.sum + a.gap == a.wall + a.overlap
      }),
      "driver gap counts only time inside the windows" -> (() => {
        val a = account(Seq("x" -> (0L, 10L), "x" -> (25L, 40L)), Seq((5L, 15L), (20L, 30L)))
        a.wall == 20L && a.busy == 10L && a.gap == 10L && a.overlap == 0L
      }),
      "sequential labels add up exactly" -> (() => {
        val a = account(Seq("a" -> (0L, 3L), "b" -> (3L, 7L), "a" -> (8L, 9L)), Seq((0L, 10L)))
        a.labels.values.sum + a.gap == a.wall && a.overlap == 0L
      }),
      // the accounting must cover the operation the harness timed
      "wall residual flags a lost window" -> (() => {
        val a = account(Seq("x" -> (0L, 4000L)), Seq((0L, 10000L), (12000L, 20000L)))
        near(wallResidual(a, 18.0), 0.0) && near(wallResidual(a, 28.0), -10.0 / 28) &&
          wallResidual(a, 0.0) == 0.0
      }),
      "a job without an end event is counted open" -> (() => {
        import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, JobSucceeded}
        val t = new Trace
        val props = new java.util.Properties
        props.setProperty("spark.job.description", "graft:clusters")
        t.onJobStart(SparkListenerJobStart(1, 100L, Nil, props))
        t.onJobStart(SparkListenerJobStart(2, 200L, Nil, props))
        t.onJobEnd(SparkListenerJobEnd(1, 150L, JobSucceeded))
        val s = t.summary(Seq((0L, 1000L)), quietMs = 0L)
        s.jobs == 2 && s.openJobs == 1 && s.acc.labels("layout.clusters") == 850L
      }),
      // yield ratio
      "yield 6666 edges of 70385 pairs" -> (() =>
        near(yieldRatio(6666, 70385), 6666.0 / 70385) &&
          math.abs(yieldRatio(6666, 70385) - 0.0947) < 1e-4),
      "yield of no candidates is 0, all edges is 1" -> (() =>
        yieldRatio(0, 0) == 0.0 && yieldRatio(7, 7) == 1.0),
      "yield rejects more edges than pairs" -> (() =>
        scala.util.Try(yieldRatio(8, 7)).isFailure),
      // job descriptions to layer names
      "labels from job descriptions" -> (() =>
        labelOf("graft:candidates/e3") == "layout.candidates" &&
          labelOf("graft:clusters") == "layout.clusters" &&
          labelOf("graft:compact:verified/0") == "layout.compact" &&
          labelOf("probe:bandCohort") == "probe.bandCohort" &&
          labelOf(null) == "other" && labelOf("count at X.scala:1") == "other" &&
          labelOf("graft:") == "other"),
      // gates: a correct output passes, a broken one fails
      "recall gate passes a correct clustering" -> (() => {
        val r = Gates.plantedRecall(truth, goodClusters)
        r.kinds == Seq(Gates.KindRecall("exact", 2, 2), Gates.KindRecall("hot", 1, 1),
          Gates.KindRecall("substring", 1, 1)) && r.singletonViolations == 0 &&
          Gates.recallGate(r).pass
      }),
      "recall gate fails a split planted group" -> (() => {
        val r = Gates.plantedRecall(truth, goodClusters - "b")
        r.kinds.head == Gates.KindRecall("exact", 2, 1) && !Gates.recallGate(r).pass
      }),
      "recall gate fails a singleton joined to a planted group" -> (() => {
        val r = Gates.plantedRecall(truth, goodClusters + ("s1" -> "h1"))
        r.min == 1.0 && r.singletonViolations == 1 && !Gates.recallGate(r).pass
      }),
      // a 300-row hot group must not hide a generator that found nothing:
      // counted by pairs it would be 44 850 of 44 851 linked
      "recall gate fails a lost kind beside a large hot group" -> (() => {
        val hot = (0 until 300).map(i => (s"hot$i", "hot", "hot"))
        val t = hot ++ Seq(("d", "g-3", "anchor3"), ("e", "g-3", "substring"))
        val r = Gates.plantedRecall(t, hot.map(h => h._1 -> "hot0").toMap)
        r.kinds == Seq(Gates.KindRecall("hot", 299, 299), Gates.KindRecall("substring", 1, 0)) &&
          !Gates.recallGate(r).pass
      }),
      "recall gate counts the hot group by member" -> (() => {
        val hot = (0 until 300).map(i => (s"hot$i", "hot", "hot"))
        def clusters(split: Int) = hot.zipWithIndex.map { case (h, i) =>
          h._1 -> (if (i < split) "x" else "y") }.toMap
        val one = Gates.plantedRecall(hot, clusters(1))
        val half = Gates.plantedRecall(hot, clusters(150))
        one.kinds == Seq(Gates.KindRecall("hot", 299, 298)) && Gates.recallGate(one).pass &&
          half.kinds == Seq(Gates.KindRecall("hot", 299, 149)) && !Gates.recallGate(half).pass
      }),
      "row-set gate" -> (() => {
        val a = Set(Seq[Any]("x", 1), Seq[Any]("y", 2))
        Gates.sameRows("t", a, a).pass && !Gates.sameRows("t", a, a - Seq("y", 2)).pass &&
          !Gates.sameRows("t", a, a - Seq("y", 2) + Seq("y", 3)).pass
      })
    )
  }

  // group g-0: a, b, c (2 exact links); group g-3: d, e (1 substring
  // link); group hot: h1, h2 (1 link); s1, s2 singletons; q low quality
  private lazy val truth = Seq(("a", "g-0", "anchor0"), ("b", "g-0", "exact"),
    ("c", "g-0", "exact"), ("d", "g-3", "anchor3"), ("e", "g-3", "substring"),
    ("h1", "hot", "hot"), ("h2", "hot", "hot"),
    ("s1", "s-5", "singleton"), ("s2", "s-6", "singleton"), ("q", "lq-7", "lowquality"))
  private lazy val goodClusters = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d",
    "e" -> "d", "h1" -> "h1", "h2" -> "h1", "s1" -> "s1", "s2" -> "s1")

  def count: Int = checks.size

  /** Names of the failing checks. */
  def run(): Seq[String] = checks.collect {
    case (name, check) if !scala.util.Try(check()).getOrElse(false) => name
  }
}
