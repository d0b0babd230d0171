package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.tables.Layout

/**
 * Output checks. Each returns violation messages (empty = correct). The
 * state is read back from the root after the timed operation, so checking
 * costs no operation time.
 */
object Checks {

  /** What a root answers: clean ids, cluster rows, and per-row decisions
    * (image_id -> (cluster_id, decision, best_match_id)). */
  final case class State(clean: Set[String], clusterRows: Seq[(String, String)],
      decisions: Map[String, (String, String, String)]) {
    lazy val cluster: Map[String, String] = clusterRows.toMap
  }

  private def str(r: Row, i: Int): String = if (r.isNullAt(i)) null else r.getString(i)

  def load(spark: SparkSession, root: String): State = {
    val clean = Layout.read(spark, root, "features").where(!col("is_low_quality"))
      .select("image_id").collect().map(_.getString(0)).toSet
    val clusters = Layout.read(spark, root, "clusters").select("image_id", "cluster_id")
      .collect().map(r => (r.getString(0), str(r, 1))).toSeq
    val decisions = Layout.read(spark, root, "decisions")
      .select("image_id", "cluster_id", "decision", "best_match_id").collect()
      .map(r => r.getString(0) -> ((str(r, 1), str(r, 2), str(r, 3)))).toMap
    State(clean, clusters, decisions)
  }

  /** Every clean row has exactly one cluster, and only clean rows have one;
    * all clean hot-caption rows share one cluster. */
  def clusters(s: State, hotIds: Seq[String]): Seq[String] = {
    val perId = s.clusterRows.groupBy(_._1).map { case (id, rs) => id -> rs.size }
    val missing = s.clean.count(id => !perId.contains(id))
    val multi = perId.count(_._2 != 1)
    val unclean = perId.keys.count(id => !s.clean.contains(id))
    val nullIds = s.clusterRows.count(_._2 == null)
    val hot = hotIds.filter(s.clean.contains).map(s.cluster.get).distinct
    Seq(
      (missing > 0) -> s"$missing clean rows without a cluster",
      (multi > 0) -> s"$multi rows with more than one cluster row",
      (unclean > 0) -> s"$unclean cluster rows for rows that are not clean",
      (nullIds > 0) -> s"$nullIds cluster rows with a null cluster id",
      (hot.size != 1) -> s"hot-caption rows span ${hot.size} clusters")
      .collect { case (true, msg) => msg }
  }

  /** Every resubmitted clean row is answered `blocked`, with its best match
    * in the cluster of the row it copies. `answers` maps id -> (answer, best). */
  def resubmissions(s: State, resubs: Seq[(String, String)],
      answers: Map[String, (String, String)], what: String): Seq[String] =
    resubs.filter { case (_, src) => s.clean.contains(src) }.flatMap { case (id, src) =>
      answers.get(id) match {
        case None => Some(s"$what: resubmission $id has no answer")
        case Some((ans, _)) if ans != "blocked" =>
          Some(s"$what: resubmission $id of $src answered $ans, not blocked")
        case Some((_, best)) if s.cluster.get(best) != s.cluster.get(src) =>
          Some(s"$what: resubmission $id best match $best is outside the cluster of $src")
        case _ => None
      }
    }

  /** Manifest stamps of every stage under `root` (stage dir -> manifest). */
  def stamps(root: String): Map[String, String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory).map(d => d.getName -> Layout.manifestStamp(root, d.getName)).toMap

  def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Digest lines of a root's answers: (image_id, cluster_id, decision). */
  def answerLines(s: State): Seq[String] =
    s.decisions.toSeq.map { case (id, (cid, dec, _)) => s"$id\t$cid\t$dec" }
}
