package perfbench

import java.util.Locale
import scala.collection.mutable

/** One Socrata discovery item as the NYC Open Data endpoint serves it. */
final case class Item(id: String, name: String, description: String,
    category: String, tags: Seq[String], attribution: String,
    updateFrequency: String, nColumns: Int, viewCount: Long,
    downloadCount: Long, rowsUpdatedAt: Long) {

  /** The summary the NYC adapter derives from the item's fields. */
  def summary: String =
    s"Dataset: $name | Category: $category | Columns: $nColumns | " +
      "Views: " + "%,d".formatLocal(Locale.US, viewCount)

  def json: String = {
    val cols = (1 to nColumns).map(i => s"""{"name":"col_$i"}""")
    "{" + Seq(
      s""""id":${Gen.q(id)}""",
      s""""name":${Gen.q(name)}""",
      s""""description":${Gen.q(description)}""",
      s""""category":${Gen.q(category)}""",
      s""""tags":[${tags.map(Gen.q).mkString(",")}]""",
      s""""attribution":${Gen.q(attribution)}""",
      s""""updateFrequency":${Gen.q(updateFrequency)}""",
      s""""columns":[${cols.mkString(",")}]""",
      s""""viewCount":$viewCount""",
      s""""downloadCount":$downloadCount""",
      s""""rowsUpdatedAt":$rowsUpdatedAt""").mkString(",") + "}"
  }
}

/** Seeded input generator. Everything the benchmark feeds the program
  * derives from `seed`: a Zipf-ranked vocabulary (so search terms range
  * from near-stop-words to rare words), a base catalog with a fixed
  * share of near-duplicate items, and the per-collect discovery pages
  * with a fixed overlap share and a fixed 503 share.
  */
final class Gen(val seed: Long, val catalogSize: Int) {
  import Gen._

  val vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(seed)
    val cons = "bdfgklmnprstvz"
    val vows = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val syll = 2 + r.nextInt(3)
      seen += (0 until syll).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}")
        .mkString
    }
    seen.toIndexedSeq
  }

  private val zipfCdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1.0 / math.pow(r, ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def zipfWord(r: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  private def words(r: scala.util.Random, lo: Int, hi: Int): Seq[String] =
    Seq.fill(lo + r.nextInt(hi - lo + 1))(zipfWord(r))

  /** Socrata-style `xxxx-xxxx` id: a bijection of the item index. */
  def itemId(index: Int): String = {
    val space = 2821109907456L // 36^8
    val v = java.lang.Math.floorMod(index * 2654435761L +
      java.lang.Math.floorMod(seed * 40503L, space), space)
    val s = java.lang.Long.toString(v, 36)
    val padded = "0" * (8 - s.length) + s
    padded.take(4) + "-" + padded.drop(4)
  }

  private def item(index: Int, r: scala.util.Random): Item =
    Item(
      id = itemId(index),
      name = words(r, 2, 5).map(_.capitalize).mkString(" "),
      description = words(r, 6, 18).mkString(" "),
      category = Categories(math.min(Categories.size - 1,
        (r.nextDouble() * r.nextDouble() * Categories.size).toInt)),
      tags = Seq.fill(r.nextInt(4))(Tags(r.nextInt(Tags.size))).distinct,
      attribution = s"Agency ${1 + r.nextInt(30)}",
      updateFrequency = Frequencies(r.nextInt(Frequencies.size)),
      nColumns = r.nextInt(6),
      viewCount = r.nextInt(200000).toLong,
      downloadCount = r.nextInt(20000).toLong,
      rowsUpdatedAt = 1600000000L + r.nextInt(100000000))

  /** Base catalog. A fixed share of items repeat an earlier item's
    * title and description with one description word changed.
    */
  lazy val catalog: IndexedSeq[Item] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    val out = new mutable.ArrayBuffer[Item](catalogSize)
    (0 until catalogSize).foreach { i =>
      val it = item(i, r)
      out += (if (i > 0 && r.nextDouble() < NearDupShare) {
        val src = out(i - 1 - r.nextInt(math.min(i, 50)))
        val d = src.description.split(' ')
        d(r.nextInt(d.length)) = zipfWord(r)
        it.copy(name = src.name, description = d.mkString(" "))
      } else it)
    }
    out.toIndexedSeq
  }

  /** Discovery page of collect cycle `c` (c ≥ 1): `PageOverlap` items
    * already in the base catalog (served with a changed title, so the
    * first write must win), `PageNew` new items, then `PageRepeats`
    * repeats of new ids inside the page with another title.
    */
  def collectPage(c: Int): IndexedSeq[Item] = {
    val r = new scala.util.Random(seed * 1000003L + c)
    val overlap = Seq.fill(PageOverlap)(catalog(r.nextInt(catalogSize)))
      .map(it => it.copy(name = it.name + " Revised"))
    val fresh = (0 until PageNew).map(j =>
      item(catalogSize + (c - 1) * PageNew + j, r))
    val repeats = Seq.fill(PageRepeats)(fresh(r.nextInt(PageNew)))
      .map(it => it.copy(name = "Duplicate " + it.name))
    (r.shuffle(overlap ++ fresh) ++ repeats).toIndexedSeq
  }

  /** Whether collect cycle `c`'s NYC discovery fetch is answered 503:
    * exactly one cycle in every [[FailEvery]], at a seeded phase.
    */
  def nyc503(c: Int): Boolean =
    c >= 1 && java.lang.Math.floorMod(c + seed, FailEvery.toLong) == 0

  def pageBody(items: Seq[Item]): String =
    items.iterator.map(_.json).mkString("[", ",", "]")

  val scorecardBody: String =
    s"""{"metadata":{"total":${6000 + (seed % 1000 + 1000) % 1000},""" +
      """"page":0,"per_page":1},"results":[{"id":100654,""" +
      """"school.name":"Alabama A & M University"}]}"""

  /** Search terms drawn by frequency rank. */
  def commonTerm(r: scala.util.Random): String = vocab(r.nextInt(20))
  def midTerm(r: scala.util.Random): String = vocab(40 + r.nextInt(160))
  def rareTerm(r: scala.util.Random): String = vocab(200 + r.nextInt(800))
}

object Gen {
  val VocabSize = 3000
  val ZipfExponent = 1.07
  val NearDupShare = 0.04
  val PageOverlap = 2000
  val PageNew = 1980
  val PageRepeats = 20
  val FailEvery = 4

  val Categories: IndexedSeq[String] = IndexedSeq("City Government",
    "Education", "Environment", "Health", "Housing & Development",
    "Public Safety", "Recreation", "Social Services", "Transportation",
    "Business", "Culture", "Energy")
  val Tags: IndexedSeq[String] =
    (1 to 200).map(i => f"tag$i%03d")
  val Frequencies: IndexedSeq[String] =
    IndexedSeq("Daily", "Weekly", "Monthly", "Annually", "As needed")

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
