package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def inputs(seed: Long): Seq[String] = {
    val g = new Gen(seed, 2000)
    Seq(g.pageBody(g.catalog), g.scorecardBody,
      (1 to 10).map(c => g.pageBody(g.collectPage(c))).mkString("\n"),
      (1 to 50).map(g.nyc503).mkString(","))
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7).map(_.getBytes("UTF-8").toSeq) ==
      inputs(7).map(_.getBytes("UTF-8").toSeq))
  }

  test("another seed gives other inputs") {
    assert(inputs(7).head != inputs(8).head)
  }

  test("fixed shares: 503 cycles, page overlap, near-duplicates") {
    val g = new Gen(3, 2000)
    assert((1 to 12 * Gen.FailEvery).count(g.nyc503) == 12)
    val ids = g.catalog.map(_.id).toSet
    assert(ids.size == 2000)
    val page = g.collectPage(1)
    assert(page.size == Gen.PageOverlap + Gen.PageNew + Gen.PageRepeats)
    assert(page.count(it => ids(it.id)) == Gen.PageOverlap)
    val nearDups = g.catalog.indices.count { i =>
      (math.max(0, i - 50) until i).exists(j =>
        g.catalog(j).name == g.catalog(i).name &&
          g.catalog(j).description != g.catalog(i).description)
    }
    assert(nearDups > 2000 * Gen.NearDupShare / 2)
  }
}
