package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Correctness gates. The comparisons are pure functions over collected
  * rows, so `SelfTest` can show that a broken output fails them. */
object Gates {

  final case class Gate(name: String, pass: Boolean, detail: String)

  /** Planted links of one kind and how many of them the clustering made. */
  final case class KindRecall(kind: String, links: Long, linked: Long) {
    def recall: Double = if (links == 0) 1.0 else linked.toDouble / links
  }

  final case class Recall(kinds: Seq[KindRecall], singletonViolations: Int) {
    def min: Double = kinds.map(_.recall).minOption.getOrElse(1.0)
  }

  /**
   * Planted-group recall of a clustering, per planted kind. `truth` is
   * `Synth.truth` as (image_id, group_id, kind); groups `s-*` (singletons)
   * and `lq-*` (low-quality captions) are not planted. A group of k rows
   * plants k − 1 links, and the clustering makes m − 1 of them, where m is
   * the number of its rows in the group's largest cluster. Counting links
   * by member, not by pair, keeps the 300-row `hot` group from outweighing
   * the small groups, and reporting per kind (the variant kind of a
   * `g-*` group, or `hot`) lets a generator whose kind no other generator
   * finds show on its own. A row missing from `clusters` is a cluster of
   * its own. A singleton-kind row violates the gate when it shares a
   * cluster with any planted row.
   */
  def plantedRecall(truth: Seq[(String, String, String)],
      clusters: Map[String, String]): Recall = {
    def clusterOf(id: String) = clusters.getOrElse(id, "\u0000" + id)
    val planted = truth.filterNot { case (_, g, _) => g.startsWith("s-") || g.startsWith("lq-") }
    val groups = planted.groupBy(_._2).values.toSeq.filter(_.size > 1).map { g =>
      val kind = g.map(_._3).find(!_.startsWith("anchor")).getOrElse(g.head._3)
      val largest = g.groupBy(r => clusterOf(r._1)).values.map(_.size).max
      (kind, g.size - 1L, largest - 1L)
    }
    val kinds = groups.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, gs) =>
      KindRecall(k, gs.map(_._2).sum, gs.map(_._3).sum)
    }
    val plantedClusters = planted.map(r => clusterOf(r._1)).toSet
    val violations = truth.count { case (id, _, kind) =>
      kind == "singleton" && plantedClusters.contains(clusterOf(id))
    }
    Recall(kinds, violations)
  }

  val MinRecall = 0.99

  def recallGate(r: Recall): Gate = Gate("planted_recall",
    r.kinds.nonEmpty && r.min >= MinRecall && r.singletonViolations == 0,
    r.kinds.map(k => f"${k.kind} ${k.recall}%.4f (${k.linked}/${k.links})").mkString(", ") +
      s"; floor $MinRecall per kind; singleton rows in planted clusters: ${r.singletonViolations}")

  /** Two row sets must be equal; the detail counts each side's extras. */
  def sameRows(name: String, got: Set[Seq[Any]], want: Set[Seq[Any]]): Gate = {
    val extra = got -- want
    val missing = want -- got
    Gate(name, extra.isEmpty && missing.isEmpty,
      s"${got.size} rows vs ${want.size} expected; ${extra.size} unexpected, " +
        s"${missing.size} missing" +
        (if (extra.nonEmpty) s"; e.g. ${extra.head.mkString("(", ",", ")")}" else ""))
  }

  /** The decision columns ProbeSpec pins between a probe and an append. */
  val DecisionCols: Seq[String] = Seq("image_id", "best_match_id", "best_score",
    "matching_fields", "differing_fields", "confidence", "top_matches",
    "cluster_id", "decision", "is_recurring")

  def decisionRows(df: DataFrame): Set[Seq[Any]] =
    df.select(DecisionCols.map(col): _*).collect().map(_.toSeq).toSet

  def clusterRows(df: DataFrame): Set[Seq[Any]] =
    df.select("image_id", "cluster_id").collect().map(_.toSeq).toSet

  def idRows(df: DataFrame): Set[Seq[Any]] =
    df.select("image_id").collect().map(_.toSeq).toSet
}
