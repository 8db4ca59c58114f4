package perfbench

import graft.{Graft, Mv, SparkEntry}
import graft.ingest.{Adapter, CollegeScorecardAdapter, HttpFetcher,
  NycOpenDataAdapter}
import java.nio.file.{Files, Path}
import java.time.{Clock, Instant, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one op left behind: an immediate failure, the records a collect
  * landed, and a check that the untimed correctness pass runs later.
  */
final case class Outcome(failure: Option[String] = None,
    newRecords: Long = 0, check: () => Option[String] = () => None)

/** `prep` runs untimed before the op; `run` is the timed call. */
final case class Op(verb: String, prep: () => Unit, run: () => Outcome)

abstract class Workload(val spark: SparkSession, val seed: Long,
    val work: Path) {
  /** Set while the traced prefix runs. */
  var tracer: Option[Tracer] = None

  /** Timed phases run whole passes, at least this many. */
  def minPasses: Int
  /** Passes the traced prefix runs; its counts repeat for a seed. */
  def tracedPasses: Int
  /** Builds fresh data state: generation, ingest, index and view
    * builds. Timed by the caller, several times a run.
    */
  def prepare(rep: Int): Unit
  /** First use of every op kind on the prepared state; timed once. */
  def warmUp(): Unit
  def pass(p: Int): Seq[Op]
  /** Restores the set-up state after the traced prefix. */
  def reset(): Unit = ()
  /** Whole-state checks run after the timed phases. */
  def finalCheck(): Seq[String] = Nil
  /** The catalog's records table, when the workload has one. */
  def recordsPath: Option[String] = None
  def expectedRecords: Long = 0

  protected def noPrep: () => Unit = () => ()

  protected def fresh(name: String): Path = {
    val p = work.resolve(name)
    Workload.deleteTree(p)
    p
  }
}

object Workload {
  val CatalogSize = 20000
  val Base: Instant = Instant.parse("2026-01-01T00:00:00Z")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def apply(name: String, spark: SparkSession, seed: Long, work: Path,
      data: Path): Workload = name match {
    case "catalog_session" => new CatalogSession(spark, seed, work)
    case "collect_and_serve" => new CollectAndServe(spark, seed, work)
    case "registry_slice" => new RegistrySlice(spark, seed, work, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** The reference CLI's verbs over a catalog built through
  * `Graft.collect` from generated discovery payloads.
  */
abstract class CliWorkload(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  import Workload._

  val gen = new Gen(seed, CatalogSize)
  val fetcher = new BenchFetcher(gen)
  protected var dir: String = _
  protected var graft: Graft = _
  protected var model: Model = _
  protected var collects = 0
  private var exports = 0

  override def recordsPath: Option[String] = Some(s"$dir/data_records")
  override def expectedRecords: Long = model.snapshot.size.toLong

  /** Fresh adapter instances per collect, as each CLI `collect` makes. */
  private def adapters(epoch: Int): Seq[Adapter] = {
    val clock = Clock.fixed(Base.plusSeconds(60L * epoch), ZoneOffset.UTC)
    val f: HttpFetcher =
      tracer.fold[HttpFetcher](fetcher)(new TracedFetcher(fetcher, _))
    val as = Seq(new NycOpenDataAdapter(f, None, clock),
      new CollegeScorecardAdapter(f, Some("placeholder-key"), clock))
    tracer.fold(as)(t => as.map(new TracedAdapter(_, t)))
  }

  /** Collect number `epoch` through `Graft.collect`; returns the new
    * count and the count the model expects from what was served.
    */
  protected def collect(epoch: Int): (Long, Long) = {
    val n = graft.collect(adapters(epoch))
    val served = fetcher.served.map(Model.nyc(_, epoch))
    (n, model.apply(served :+ Model.scorecard(epoch)).toLong)
  }

  protected def buildCatalog(rep: Int): Unit = {
    dir = fresh(s"catalog_$rep").toString
    graft = new Graft(spark, dir)
    model = new Model
    collects = 0
    fetcher.stage(gen.catalog, 200)
    val (n, want) = collect(0)
    require(n == want, s"catalog build landed $n records, expected $want")
  }

  private def ids(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.getAs[String]("record_id"))

  protected def searchOp(r: scala.util.Random): Op = {
    val q = r.nextInt(3) match {
      case 0 => gen.commonTerm(r)
      case 1 => gen.midTerm(r)
      case _ => gen.rareTerm(r)
    }
    val source = r.nextInt(4) match {
      case 0 => Some(Model.Nyc)
      case 1 => Some(Model.Scorecard)
      case _ => None
    }
    val dataType = if (r.nextInt(4) == 0) Some("dataset") else None
    val limit = if (r.nextBoolean()) 10 else 50
    Op("search", noPrep, () => {
      val snap = model.snapshot
      val got = ids(graft.search(Some(q), source, dataType, limit).collect())
      Outcome(check = () => mismatch(s"search($q,$source,$dataType,$limit)",
        got, Model.search(snap, q, source, dataType, limit)))
    })
  }

  protected def searchFtsOp(r: scala.util.Random): Op = {
    val terms = Seq.fill(1 + r.nextInt(2))(gen.vocab(r.nextInt(120)))
    Op("search_fts", noPrep, () => {
      val snap = model.snapshot
      val got = graft.searchFts(terms, 10).collect().toSeq
        .map(row => (row.getString(0), row.getLong(1)))
      Outcome(check = () => mismatch(s"searchFts($terms)", got,
        Model.searchFts(snap, terms, 10)))
    })
  }

  protected def analyticsOp(view: String): Op = {
    var stale = false
    Op("analytics_mv", () => tracer.foreach { _ =>
      stale = Mv.isStale(spark,
        Mv.View(s"$dir/mv/$view", Seq(s"$dir/data_records")))
    }, () => {
      val snap = model.snapshot
      val rows = graft.analyticsMaterialized(view).collect()
      tracer.foreach(_.count(if (stale) "mv.rebuilds" else "mv.hits", 1))
      def counts(k: String, v: String) =
        rows.map(x => x.getAs[String](k) -> x.getAs[Long](v)).toMap
      Outcome(check = () => view match {
        case "type_counts" => mismatch(view, counts("data_type", "cnt"),
          Model.countBy(snap, _.dataType))
        case "source_stats" => mismatch(view,
          counts("source_name", "record_count"), Model.countBy(snap, _.source))
        case _ => if (rows.nonEmpty) None else Some(s"$view: no rows")
      })
    })
  }

  protected def statusOp(): Op = Op("status", noPrep, () => {
    val snap = model.snapshot
    val rows = graft.status().collect()
    Outcome(check = () => mismatch("status",
      rows.map(x => x.getAs[String]("source_name") ->
        x.getAs[Long]("n_records")).toMap,
      Model.countBy(snap, _.source)))
  })

  protected def exportOp(r: scala.util.Random): Op = {
    val term = gen.midTerm(r)
    val format = Seq("parquet", "json")(r.nextInt(2))
    exports += 1
    val path = work.resolve(s"exports/e$exports").toString
    Op("export", noPrep, () => {
      val snap = model.snapshot
      val where = s"lower(title) LIKE '%$term%'"
      val sources = graft.export(Some(where), format, path).collect()
        .map(_.getString(0)).toSeq
      Outcome(check = () => {
        val want = snap.filter(_.title.toLowerCase.contains(term))
        val reader = spark.read.format(format).option("header", "true")
        mismatch(s"export rows ($term, $format)", reader.load(path).count(),
          want.size.toLong).orElse(mismatch("export attribution", sources,
          want.map(_.source).distinct.sorted))
      })
    })
  }
}

/** Read-only CLI session: search, full-text search, materialized
  * analytics, status, similar and export in a fixed 20-op mix.
  */
final class CatalogSession(spark: SparkSession, seed: Long, work: Path)
    extends CliWorkload(spark, seed, work) {
  def minPasses: Int = 3
  def tracedPasses: Int = 2

  private val Views = IndexedSeq("source_stats", "type_counts",
    "popular_tags", "temporal_activity", "license_distribution")

  def prepare(rep: Int): Unit = {
    buildCatalog(rep)
    graft.indexFts()
    graft.backfillEmbeddings()
    Views.foreach(v => graft.analyticsMaterialized(v).collect())
  }

  def warmUp(): Unit = {
    val r = new scala.util.Random(seed - 1)
    Seq(searchOp(r), searchFtsOp(r), statusOp(), similarOp(r), exportOp(r),
      analyticsOp(Views(0))).foreach(_.run())
  }

  private def similarOp(r: scala.util.Random): Op = {
    val id = gen.catalog(r.nextInt(Workload.CatalogSize)).id
    Op("similar", noPrep, () => {
      val rows = graft.similar(id, 10).collect()
      val got = rows.map(_.getString(0)).toSeq
      val scores = rows.map(_.getDouble(1)).toSeq
      Outcome(check = () =>
        if (got.size != 10 || got.contains(id) || got.distinct.size != 10 ||
            scores != scores.sorted.reverse)
          Some(s"similar($id): $got $scores")
        else None)
    })
  }

  def pass(p: Int): Seq[Op] = {
    val r = new scala.util.Random(seed * 7919 + p)
    val ops = Seq.fill(8)(searchOp(r)) ++ Seq.fill(4)(searchFtsOp(r)) ++
      Seq.fill(3)(analyticsOp(Views(r.nextInt(Views.size)))) ++
      Seq.fill(2)(statusOp()) ++ Seq.fill(2)(similarOp(r)) :+ exportOp(r)
    r.shuffle(ops)
  }
}

/** Collect cycles beside the reads: each cycle collects a new discovery
  * page, then searches twice, reads status, reads one materialized view
  * twice (a rebuild, then a hit) and exports.
  */
final class CollectAndServe(spark: SparkSession, seed: Long, work: Path)
    extends CliWorkload(spark, seed, work) {
  def minPasses: Int = Gen.FailEvery
  def tracedPasses: Int = Gen.FailEvery

  /** The two views the cycles rotate over; both have exact checks. */
  private val Served = IndexedSeq("source_stats", "type_counts")

  def prepare(rep: Int): Unit = {
    buildCatalog(rep)
    Served.foreach(v => graft.analyticsMaterialized(v).collect())
  }

  def warmUp(): Unit = {
    val r = new scala.util.Random(seed - 1)
    Seq(searchOp(r), statusOp(), analyticsOp(Served(0)), exportOp(r))
      .foreach(_.run())
  }

  override def reset(): Unit = prepare(Main.SetupReps)

  private def collectOp(): Op = {
    var epoch = 0
    Op("collect", () => {
      collects += 1
      epoch = collects
      fetcher.stage(gen.collectPage(epoch),
        if (gen.nyc503(epoch)) 503 else 200)
    }, () => {
      val (n, want) = collect(epoch)
      val failure =
        if (fetcher.served503 > 0)
          Some(s"${Main.SilentLoss}: NYC discovery answered 503 in " +
            s"collect $epoch, which returned $n without an error")
        else Workload.mismatch(s"collect $epoch new records", n, want)
      Outcome(failure = failure, newRecords = n)
    })
  }

  def pass(p: Int): Seq[Op] = {
    val r = new scala.util.Random(seed * 7919 + p)
    val view = Served(p % Served.size)
    Seq(collectOp(), searchOp(r), searchOp(r), statusOp(), analyticsOp(view),
      analyticsOp(view), exportOp(r))
  }

  /** The table must equal the model, key for key and title for title,
    * and hold one compliance row per adapter per collect.
    */
  override def finalCheck(): Seq[String] = {
    val got = graft.records.select("source_name", "record_id", "title")
      .collect().map(x => (x.getString(0), x.getString(1), x.getString(2)))
      .toSet
    val want = model.snapshot.map(x => (x.source, x.id, x.title)).toSet
    val checks = spark.read.parquet(s"$dir/compliance_checks").count()
    Seq(
      if (got == want) None
      else Some(s"records table: ${(got -- want).size} unexpected rows, " +
        s"${(want -- got).size} missing"),
      Workload.mismatch("compliance rows", checks, 2L * (collects + 1))
    ).flatten
  }
}

/** Seven registry queries on the frozen sf0.01 fixture, each executed
  * to completion through a `noop` write; the seed permutes each pass.
  */
final class RegistrySlice(spark: SparkSession, seed: Long, work: Path,
    data: Path) extends Workload(spark, seed, work) {
  def minPasses: Int = 2
  def tracedPasses: Int = 1
  private var dir: String = _

  /** A fresh copy of the fixture, registered as tables. */
  def prepare(rep: Int): Unit = {
    val d = fresh(s"sf_$rep")
    Files.createDirectories(d)
    val s = Files.list(data)
    try s.forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    finally s.close()
    dir = d.toString
    graft.Tables.registerAll(spark, dir)
  }

  /** One pass; it also builds the queries' per-fixture artifacts. */
  def warmUp(): Unit =
    RegistrySlice.Names.foreach(n => noop(SparkEntry.queries(n)(spark, dir)))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def pass(p: Int): Seq[Op] =
    new scala.util.Random(seed * 31 + p).shuffle(RegistrySlice.Names)
      .map(n => Op(n, noPrep, () => {
        noop(SparkEntry.queries(n)(spark, dir))
        Outcome()
      }))

  /** Dumps each result and its oracle SQL; the runner compares them
    * against DuckDB on the same fixture.
    */
  override def finalCheck(): Seq[String] = {
    val out = fresh("oracle")
    RegistrySlice.Names.foreach(n => SparkEntry.queries(n)(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString))
    val sql = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      RegistrySlice.Names.map(n => s"${Gen.q(n)}:${Gen.q(sql(n))}")
        .mkString("{", ",", "}"))
    Files.writeString(out.resolve("data_dir"), dir)
    Nil
  }
}

object RegistrySlice {
  val Names: Seq[String] = Seq("n10_ivf_batch", "n3_ngram_jaccard",
    "st9_stream_dedup", "k10_merge_upsert", "q9_nation_profit",
    "q18_large_orders", "c16_bloom_decontaminate")
}
