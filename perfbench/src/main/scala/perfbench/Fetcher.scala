package perfbench

import graft.ingest.{Adapter, ComplianceCheck, DataRecord, DataSource,
  HttpFetcher, RobotsChecker}
import java.time.Clock

/** The benchmark's stand-in for the network: serves robots.txt, the NYC
  * discovery page and the Scorecard probe from generated bodies. The
  * page and its status are staged before each collect, outside the
  * timed op, and the items of every page served with 200 are kept so
  * the correctness pass can rebuild the expected table.
  */
final class BenchFetcher(gen: Gen) extends HttpFetcher {
  private var pageItems: Seq[Item] = Nil
  private var pageBody: String = "[]"
  private var pageStatus: Int = 200
  /** Items served with 200, and 503 answers, since the last [[stage]]. */
  var served: Seq[Item] = Nil
  var served503: Int = 0

  def stage(items: Seq[Item], status: Int): Unit = {
    pageItems = items
    pageStatus = status
    pageBody = if (status == 200) gen.pageBody(items) else "Service Unavailable"
    served = Nil
    served503 = 0
  }

  override def get(url: String, headers: Map[String, String])
      : Either[String, (Int, String)] =
    if (url.endsWith("/robots.txt"))
      Right((200, "User-agent: *\nDisallow: /private/\n"))
    else if (url.startsWith(BenchFetcher.NycDiscovery)) {
      if (pageStatus == 200) served ++= pageItems
      else served503 += 1
      Right((pageStatus, pageBody))
    } else if (url.startsWith(BenchFetcher.ScorecardSchools))
      Right((200, gen.scorecardBody))
    else Left(s"no route for GET $url")

  override def head(url: String, headers: Map[String, String])
      : Either[String, Int] = Left(s"no route for HEAD $url")
}

object BenchFetcher {
  val NycDiscovery = "https://data.cityofnewyork.us/api/views/metadata/v1"
  val ScorecardSchools = "https://api.data.gov/ed/collegescorecard/v1/schools"
}

/** Delegating fetcher that records an `ingest.fetch` span per GET. */
final class TracedFetcher(inner: HttpFetcher, tracer: Tracer)
    extends HttpFetcher {
  override def get(url: String, headers: Map[String, String])
      : Either[String, (Int, String)] =
    tracer.span("ingest.fetch") {
      val r = inner.get(url, headers)
      r match {
        case Right((status, body)) =>
          tracer.count("ingest.fetch_bytes", body.length.toDouble)
          if (status != 200) tracer.count("ingest.fetch_failed", 1)
        case Left(_) => tracer.count("ingest.fetch_failed", 1)
      }
      tracer.count("ingest.requests", 1)
      r
    }

  override def head(url: String, headers: Map[String, String])
      : Either[String, Int] = inner.head(url, headers)
}

/** Delegating adapter that records `ingest.compliance` and
  * `ingest.discover` spans around the wrapped adapter's calls.
  */
final class TracedAdapter(inner: Adapter, tracer: Tracer) extends Adapter {
  def source: DataSource = inner.source
  def apiKey: Option[String] = inner.apiKey
  def fetcher: HttpFetcher = inner.fetcher
  def clock: Clock = inner.clock
  def robots: RobotsChecker = inner.robots

  override def checkCompliance(): ComplianceCheck =
    tracer.span("ingest.compliance")(inner.checkCompliance())

  override def discover(): Seq[DataRecord] =
    tracer.span("ingest.discover") {
      val out = inner.discover()
      tracer.count("ingest.records_discovered", out.size.toDouble)
      out
    }
}
