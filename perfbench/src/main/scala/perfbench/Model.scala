package perfbench

import scala.collection.mutable

/** One catalog row as the benchmark expects the program to hold it. */
final case class Rec(source: String, id: String, title: String,
    description: String, summary: String, dataType: String, epoch: Int) {

  /** The three fields `search` matches, lower-cased; the separator
    * keeps a pattern from matching across two fields.
    */
  lazy val searchText: String =
    Seq(title, description, summary).mkString("\u0001").toLowerCase

  /** Term frequencies of the full-text index's tokens. */
  lazy val tf: Map[String, Int] =
    (title + " " + description).toLowerCase.split(" ")
      .filter(_.nonEmpty).groupBy(identity).map { case (t, v) => t -> v.length }
}

/** Plain-Scala model of the catalog: the first-write-wins union of every
  * payload the fetcher served with 200, in serving order. Each collect
  * stamps its rows with its epoch (the fixed clock of that collect), so
  * "newest first" is epoch descending, then `record_id` ascending.
  */
final class Model {
  private val keys = mutable.HashSet.empty[(String, String)]
  private var rows = Vector.empty[Rec]

  def snapshot: Vector[Rec] = rows

  /** Applies one served batch; returns the rows that are new. */
  def apply(batch: Seq[Rec]): Int = {
    var n = 0
    batch.foreach { r =>
      if (keys.add((r.source, r.id))) { rows :+= r; n += 1 }
    }
    n
  }
}

object Model {
  val Nyc = "NYC Open Data"
  val Scorecard = "College Scorecard"

  def nyc(it: Item, epoch: Int): Rec =
    Rec(Nyc, it.id, it.name, it.description, it.summary, "dataset", epoch)

  def scorecard(epoch: Int): Rec = Rec(Scorecard, "schools", "School Data",
    "College and university data including academics, admissions, aid, " +
      "cost, completion, earnings, and student body",
    "College data endpoint: School Data", "api_endpoint", epoch)

  private val newestFirst: Ordering[Rec] =
    Ordering.by((r: Rec) => (-r.epoch, r.id))

  /** `Graft.search`: case-insensitive substring on any text field, the
    * optional equality filters, newest first, `limit` rows.
    */
  def search(rows: Vector[Rec], q: String, source: Option[String],
      dataType: Option[String], limit: Int): Seq[String] = {
    val lq = q.toLowerCase
    rows.filter(r => r.searchText.contains(lq) &&
      source.forall(_ == r.source) && dataType.forall(_ == r.dataType))
      .sorted(newestFirst).take(limit).map(_.id)
  }

  /** `Graft.searchFts`: rows holding every term, by total term
    * frequency descending, then `record_id`.
    */
  def searchFts(rows: Vector[Rec], terms: Seq[String], limit: Int)
      : Seq[(String, Long)] = {
    val ts = terms.map(_.toLowerCase).distinct
    rows.filter(r => ts.forall(r.tf.contains))
      .map(r => (r.id, ts.map(t => r.tf(t).toLong).sum))
      .sortBy { case (id, s) => (-s, id) }.take(limit)
  }

  def countBy(rows: Vector[Rec], key: Rec => String): Map[String, Long] =
    rows.groupBy(key).map { case (k, v) => k -> v.size.toLong }
}
