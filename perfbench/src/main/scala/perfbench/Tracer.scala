package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Bus
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import scala.collection.mutable

/** A closed interval on the benchmark's clock (epoch microseconds). */
final case class Span(id: Long, name: String, parent: Long, op: Int,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Span and counter recorder for the traced run. Benchmark-side spans
  * (op, verb, ingest) come from [[span]] on the client thread. One
  * SparkListener supplies the rest: jobs, stages and tasks, tied to the
  * op by the [[Tracer.OpProperty]] local property; planning phases and
  * scan metrics from each execution's QueryExecution; trigger phases
  * from streaming progress events. Everything stays in memory until
  * [[write]].
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._

  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000

  private val ids = new AtomicLong
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[(Int, String), Double]
  private var stack: List[Long] = Nil
  @volatile private var current: Int = -1
  private val verbSpanOf = mutable.Map.empty[Int, Long]

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  private def add(s: Span): Unit = synchronized(spanBuf += s)

  /** Adds `v` to counter `name` of the op in flight. */
  def count(name: String, v: Double): Unit = countFor(current, name, v)

  private def countFor(o: Int, name: String, v: Double): Unit =
    if (o >= 0) synchronized {
      counters((o, name)) = counters.getOrElse((o, name), 0.0) + v
    }

  def counter(o: Int, name: String): Double =
    synchronized(counters.getOrElse((o, name), 0.0))

  /** Runs `f` inside a span that is a child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    if (name.startsWith("graft.")) synchronized(verbSpanOf(current) = id)
    val start = nowUs
    try f
    finally {
      stack = stack.tail
      add(Span(id, name, parent, current, start, nowUs))
    }
  }

  /** Runs op number `o` inside its op span; on return waits until the
    * listener bus has delivered the op's last event.
    */
  def op[T](o: Int)(f: => T): T = {
    current = o
    spark.sparkContext.setLocalProperty(OpProperty, o.toString)
    try span("op")(f)
    finally {
      Bus.drain(spark.sparkContext)
      spark.sparkContext.setLocalProperty(OpProperty, null)
      current = -1
    }
  }

  private def parentOf(o: Int): Long = synchronized(verbSpanOf.getOrElse(o, 0L))

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toInt).getOrElse(-1)

  private val jobStart = mutable.Map.empty[Int, (Int, Long, Long)]
  private val stageOp = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[(Int, Int), Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val o = opOf(e.properties)
      if (o >= 0) {
        val id = ids.incrementAndGet()
        jobStart(e.jobId) = (o, id, e.time)
        e.stageInfos.foreach(s => stageOp(s.stageId) = (o, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (o, id, t0) =>
        add(Span(id, "spark.job", parentOf(o), o, t0 * 1000, e.time * 1000))
        countFor(o, "scheduling.jobs", 1)
      }
    }
    private def stageSpanId(stageId: Int, attempt: Int): Long =
      stageSpan.getOrElseUpdate((stageId, attempt), ids.incrementAndGet())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageOp.get(si.stageId).foreach { case (o, jobSpan) =>
          val id = stageSpanId(si.stageId, si.attemptNumber())
          val t0 = si.submissionTime.getOrElse(0L)
          add(Span(id, "spark.stage", jobSpan, o, t0 * 1000,
            si.completionTime.getOrElse(t0) * 1000))
          countFor(o, "scheduling.stages", 1)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { case (o, _) =>
        val ti = e.taskInfo
        add(Span(ids.incrementAndGet(), "spark.task",
          stageSpanId(e.stageId, e.stageAttemptId), o,
          ti.launchTime * 1000, ti.finishTime * 1000))
        countFor(o, "scheduling.tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          countFor(o, "execution.task_ms", m.executorRunTime.toDouble)
          countFor(o, "execution.cpu_ms", m.executorCpuTime / 1e6)
          countFor(o, "execution.gc_ms", m.jvmGCTime.toDouble)
          countFor(o, "execution.shuffle_read_bytes",
            (m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead).toDouble)
          countFor(o, "execution.shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          countFor(o, "execution.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
    // Execution-end and streaming-progress events come through the bus
    // from every session, so queries a registry closure runs in a child
    // session are seen too. Both belong to the op in flight: the client
    // drains the bus after each op.
    override def onOtherEvent(e: SparkListenerEvent): Unit = {
      val o = current
      if (o >= 0) e match {
        case x: SparkListenerSQLExecutionEnd =>
          Bus.queryExecution(x).foreach(queryExecution(o, _))
        case x: StreamingQueryListener.QueryProgressEvent =>
          trigger(o, x.progress)
        case _ =>
      }
    }
  }

  /** Planning phases and scan metrics of one finished SQL execution. */
  private def queryExecution(o: Int, qe: QueryExecution): Unit = {
    countFor(o, "planning.actions", 1)
    qe.tracker.phases.foreach { case (phase, p) =>
      if (PlanningPhases(phase)) {
        countFor(o, s"planning.${phase}_ms", p.durationMs.toDouble)
        add(Span(ids.incrementAndGet(), s"planning.$phase", parentOf(o), o,
          p.startTimeMs * 1000, p.endTimeMs * 1000))
      }
    }
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
    }.foreach { s =>
      def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      countFor(o, "io.files_read", m("numFiles").toDouble)
      countFor(o, "io.bytes_read", m("filesSize").toDouble)
      countFor(o, "io.partitions_read", m("numPartitions").toDouble)
      countFor(o, "io.metadata_ms", m("metadataTime").toDouble)
    }
  }

  /** Trigger phases of one streaming micro-batch. */
  private def trigger(o: Int, p: StreamingQueryProgress): Unit = {
    def ms(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    countFor(o, "streaming.triggers", 1)
    countFor(o, "streaming.add_batch_ms", ms("addBatch"))
    countFor(o, "streaming.commit_ms", ms("walCommit") + ms("commitOffsets"))
    val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
    add(Span(ids.incrementAndGet(), "streaming.trigger", parentOf(o), o,
      t0 * 1000, (t0 + ms("triggerExecution").toLong) * 1000))
  }

  def install(): Unit = spark.sparkContext.addSparkListener(listener)

  def uninstall(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startUs).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_us":${s.startUs},"end_us":${s.endUs}}""")
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
  private val PlanningPhases = Set("analysis", "optimization", "planning")

  /** Total length of the union of `[start, end)` intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part its children cover. */
  def selfUs(s: Span, children: Seq[Span]): Long =
    s.durUs - unionUs(children.map(c =>
      (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a })
}
