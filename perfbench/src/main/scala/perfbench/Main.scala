package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One executed op: its wall time and what it left behind. */
final case class Done(index: Int, pass: Int, verb: String, ms: Double,
    failure: Option[String], newRecords: Long, check: () => Option[String])

/** Harness entry: prepares the workload's data several times and warms
  * up once (setup_s is session start + median prepare + warm-up), runs the traced
  * prefix when asked, runs the untraced timed phase, checks every op's
  * result, and prints one `PERFBENCH_RESULT` JSON line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <data dir>
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, dataS) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl = Workload(name, spark, seed, work, Paths.get(dataS))
    val prepS = (0 until SetupReps).map { r =>
      val t = timeS(wl.prepare(r))
      System.err.println(f"perfbench: prepare $r took $t%.3f s")
      t
    }
    val warmS = timeS(wl.warmUp())

    val layers = if (!traced) None else Some(tracedPrefix(wl, spark))
    val untraced = runPhase(wl, seconds, wl.minPasses, None)
    val heapMb = usedHeapMb()

    // Checks run once, untimed, after every timed op is done.
    val checked = (untraced ++ layers.map(_._1).getOrElse(Nil))
      .map(d => d -> d.failure.orElse(d.check().map("wrong result: " + _)))
    val stateErrors = wl.finalCheck()
    // A 503 collect that returns quietly is a counted failure of the
    // program, not a wrong output of it; everything else is both.
    val hard = checked.collect {
      case (d, Some(e)) if !d.failure.exists(_.startsWith(SilentLoss)) =>
        s"op ${d.index} ${d.verb}: $e"
    } ++ stateErrors
    val failedOps = checked.count(_._2.nonEmpty)
    val failedUntraced = checked.take(untraced.size).count(_._2.nonEmpty)

    val e2e = endToEnd(untraced, failedUntraced,
      sessionS + median(prepS) + warmS, heapMb)
    printTable("end-to-end", e2e)
    println(f"# setup: session start $sessionS%.3f s, prepare " +
      prepS.map(x => f"$x%.3f").mkString(" ") + f" s, warm-up $warmS%.3f s; " +
      s"timed ops ${untraced.size}")
    val metrics = layers match {
      case None => e2e.filter { case (k, _) => EndToEnd(k) }
      case Some((prefix, perLayer)) =>
        val traced = endToEnd(prefix, 0, 0, 0)
        val all = perLayer ++ Overhead.map(k =>
          s"overhead.$k" -> (traced(k)._1 - e2e(k)._1, e2e(k)._2)) ++
          e2e.filter { case (k, _) => !EndToEnd(k) }
        printTable("per-layer (traced prefix)", all)
        Files.writeString(work.resolve("layers.tsv"), all.toSeq.sortBy(_._1)
          .map { case (k, (v, u)) => s"$k\t${fmt(v)}\t$u" }
          .mkString("", "\n", "\n"))
        all
    }
    checked.flatMap { case (d, e) => e.map(x => s"op ${d.index} ${d.verb}: $x") }
      .++(stateErrors).take(20).foreach(e => println(s"# failure: $e"))
    println("PERFBENCH_RESULT " + resultJson(hard.isEmpty, checked.size,
      failedOps + stateErrors.size, metrics, hard))
    spark.stop()
  }

  /** Metrics every workload reports untraced (BENCHMARK.json
    * `end_to_end`); the rest of [[endToEnd]] only applies to some
    * workloads and is reported with the traced metrics.
    */
  val EndToEnd = Set("setup_s", "op_p50_ms", "op_p95_ms", "ops_per_s",
    "pass_s", "driver_heap_mb")
  private val Overhead = Seq("op_p50_ms", "op_p95_ms", "ops_per_s", "pass_s")
  val SilentLoss = "silent loss"

  private def timeS(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  /** Runs whole passes until `seconds` have passed and at least
    * `minPasses` are done.
    */
  def runPhase(wl: Workload, seconds: Double, minPasses: Int,
      tracer: Option[Tracer]): Seq[Done] = {
    val out = mutable.ArrayBuffer.empty[Done]
    val start = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      wl.pass(p).foreach { op =>
        val i = out.size
        op.prep()
        val t = System.nanoTime()
        val res = try {
          tracer match {
            case Some(tr) => tr.op(i)(tr.span("graft." + op.verb)(op.run()))
            case None => op.run()
          }
        } catch {
          case e: Exception =>
            Outcome(failure = Some(s"${op.verb} threw ${e.getClass.getName}: " +
              e.getMessage))
        }
        out += Done(i, p, op.verb, (System.nanoTime() - t) / 1e6,
          res.failure, res.newRecords, res.check)
        System.err.println(f"perfbench: op $i ${op.verb} ${out.last.ms}%.1f ms")
      }
      p += 1
    }
    out.toSeq
  }

  /** The traced prefix: a fixed number of passes from the set-up
    * state, which is then restored for the untraced phase.
    */
  private def tracedPrefix(wl: Workload, spark: org.apache.spark.sql.SparkSession)
      : (Seq[Done], Map[String, (Double, String)]) = {
    val tracer = new Tracer(spark)
    val files0 = wl.recordsPath.map(dataFiles).getOrElse(Map.empty)
    val gc0 = gcMs()
    tracer.install()
    wl.tracer = Some(tracer)
    val done = runPhase(wl, 0, wl.tracedPasses, Some(tracer))
    wl.tracer = None
    tracer.uninstall()
    val gc = gcMs() - gc0
    val files1 = wl.recordsPath.map(dataFiles).getOrElse(Map.empty)
    val catalog = catalogMetrics(files0, files1, wl.expectedRecords)
    tracer.write(wl.work.resolve("trace.jsonl"))
    val layers = Layers(done, tracer) ++ catalog ++ Map(
      "jvm.gc_ms" -> (gc, "ms"),
      "codegen.compile_ms" -> (CodeGenerator.compileTime / 1e6, "ms"),
      "codegen.classes" -> (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
        .getCount.toDouble, "count"))
    wl.reset()
    (done, layers)
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Live driver heap: the smallest of three readings, each after a full
    * GC, since Spark releases unpersisted blocks asynchronously.
    */
  private def usedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Data files (not `_`/`.` metadata) under a table, with sizes. */
  private def dataFiles(table: String): Map[String, Long] = {
    val root = Paths.get(table)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.startsWith("_") ||
          p.getFileName.toString.startsWith("."))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  private def catalogMetrics(before: Map[String, Long],
      after: Map[String, Long], records: Long): Map[String, (Double, String)] = {
    val written = after.keySet -- before.keySet
    Map(
      "catalog.files_total" -> (after.size.toDouble, "count"),
      "catalog.files_written" -> (written.size.toDouble, "count"),
      "catalog.bytes_written" -> (written.toSeq.map(after).sum.toDouble, "bytes"),
      "catalog.bytes_per_record" ->
        (if (records == 0) 0.0 else after.values.sum.toDouble / records, "bytes"))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], pct: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = pct / 100 * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def endToEnd(ops: Seq[Done], failed: Int, setupS: Double, heapMb: Double)
      : Map[String, (Double, String)] = {
    val ms = ops.map(_.ms)
    val passes = ops.groupBy(_.pass).values.toSeq
    val passS = passes.map(_.map(_.ms).sum / 1000)
    val collects = ops.filter(_.verb == "collect")
    val collectS = collects.map(_.ms).sum / 1000
    Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (percentile(ms, 50), "ms"),
      "op_p95_ms" -> (percentile(ms, 95), "ms"),
      "ops_per_s" -> (median(passes.map(p => p.size / (p.map(_.ms).sum / 1000))),
        "1/s"),
      "pass_s" -> (median(passS), "s"),
      "driver_heap_mb" -> (heapMb, "MB"),
      "collect_p50_ms" -> (percentile(collects.map(_.ms), 50), "ms"),
      "records_per_s" ->
        (if (collectS == 0) 0.0 else collects.map(_.newRecords).sum / collectS, "1/s"),
      "failed_frac" ->
        (if (ops.isEmpty) 0.0 else failed.toDouble / ops.size, "ratio"))
  }

  private def printTable(title: String, m: Map[String, (Double, String)]): Unit = {
    println(s"# $title")
    m.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
      println(f"#   $k%-36s ${fmt(v)}%16s $u")
    }
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString

  private def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, (Double, String)], errors: Seq[String]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${Gen.q(k)}:{\"value\":${fmt(v)},\"unit\":${Gen.q(u)}}"
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")},""" +
      s""""errors":${errors.take(50).map(Gen.q).mkString("[", ",", "]")}}"""
  }
}
