package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** In-memory span recorder plus the engine and filesystem counters each
  * span caused. Spans are opened only from the benchmark's own code, around
  * calls into the program's public functions; the counters come from a
  * `SparkListener` and Hadoop's global `FileSystem` statistics. Nothing is
  * written until [[toJson]] at the end of the run.
  *
  * Attribution: every Spark job carries the id of the innermost open span
  * as a local property, so stage, task and SQL-execution metrics land on
  * the span that caused them whatever the listener bus delay. Filesystem
  * deltas are charged to the innermost open span at each span boundary. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()

  /** Wall-clock milliseconds (listener event clock) for a nanoTime. */
  def millisOf(nanos: Long): Double = t0Millis + (nanos - t0Nanos) / 1e6

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private var nextId = 1
  private var currentOp = 0
  @volatile private var enabled = false

  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private def add(span: Int, key: String, v: Double): Unit =
    counters.synchronized {
      val m = counters.getOrElseUpdate(span, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  private val lock = new Object
  // time the tracing itself costs: listener callbacks and span bookkeeping
  private val costNanos = new java.util.concurrent.atomic.AtomicLong()
  private def costed[A](body: => A): A = {
    val t = System.nanoTime()
    try body finally costNanos.addAndGet(System.nanoTime() - t)
  }
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val execStartMs = mutable.Map.empty[Long, Long]
  private val execExchanges = mutable.Map.empty[Long, Int]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  @volatile private var lastEventNanos = System.nanoTime()
  @volatile private var openJobs = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = costed { lock.synchronized {
      lastEventNanos = System.nanoTime()
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(0)
      if (span > 0) {
        openJobs += 1
        jobSpan(e.jobId) = span
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(s => stageSpan(s) = span)
        add(span, "spark.jobs", 1)
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
      }
    } }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = costed { lock.synchronized {
      lastEventNanos = System.nanoTime()
      jobSpan.get(e.jobId).foreach { span =>
        openJobs -= 1
        jobIntervals += ((span, jobStartMs.getOrElse(e.jobId, e.time), e.time))
      }
    } }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      costed { lock.synchronized {
        lastEventNanos = System.nanoTime()
        stageSpan.get(e.stageInfo.stageId).foreach(add(_, "spark.stages", 1))
      } }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = costed { lock.synchronized {
      lastEventNanos = System.nanoTime()
      stageSpan.get(e.stageId).foreach { span =>
        add(span, "spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(span, "spark.exec_run_s", m.executorRunTime / 1e3)
          add(span, "spark.exec_cpu_s", m.executorCpuTime / 1e9)
          add(span, "spark.gc_s", m.jvmGCTime / 1e3)
          add(span, "spark.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(span, "spark.scan_bytes", m.inputMetrics.bytesRead.toDouble)
          add(span, "spark.scan_rows", m.inputMetrics.recordsRead.toDouble)
          add(span, "spark.shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(span, "spark.shuffle_read_bytes",
            m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(span, "spark.fetch_wait_s",
            m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(span, "spark.rows_written",
            m.outputMetrics.recordsWritten.toDouble)
        }
      }
    } }
    // the plan an SQL execution runs: its start event's plan, replaced by
    // every adaptive re-plan, so the last one seen is the executed plan
    override def onOtherEvent(e: SparkListenerEvent): Unit = costed { e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        lastEventNanos = System.nanoTime()
        execStartMs(s.executionId) = s.time
        execExchanges(s.executionId) = exchangesIn(s.sparkPlanInfo)
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => lock.synchronized {
        lastEventNanos = System.nanoTime()
        execExchanges(u.executionId) = exchangesIn(u.sparkPlanInfo)
      }
      case _ => ()
    } }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Waits until the listener bus has delivered every event of the jobs
    * this trace saw start (no open jobs and 300 ms without an event). */
  def quiesce(timeoutMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
        (openJobs > 0 || System.nanoTime() - lastEventNanos < 300000000L))
      Thread.sleep(25)
  }

  def stop(): Unit = {
    enabled = false
    quiesce()
    sc.removeSparkListener(listener)
  }

  private def fsSnapshot(): Map[String, Long] = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    def stat(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    Map("bytesWritten" -> stat("bytesWritten"), "bytesRead" -> stat("bytesRead"),
      "writeOps" -> CountingLocalFileSystem.writeOps.get,
      "readOps" -> CountingLocalFileSystem.readOps.get)
  }
  private var fsLast: Map[String, Long] = Map.empty

  private def chargeFs(): Unit = {
    val now = fsSnapshot()
    stack.headOption.foreach { top =>
      add(top.id, "fs.bytes_written", (now("bytesWritten") - fsLast("bytesWritten")).toDouble)
      add(top.id, "fs.bytes_read", (now("bytesRead") - fsLast("bytesRead")).toDouble)
      add(top.id, "fs.write_ops", (now("writeOps") - fsLast("writeOps")).toDouble)
      add(top.id, "fs.read_ops", (now("readOps") - fsLast("readOps")).toDouble)
    }
    fsLast = now
  }

  /** Runs `body` as one op: the root span every layer span nests under. */
  def op[A](opId: Int, name: String)(body: => A): A = {
    currentOp = opId
    span(s"op:$name")(body)
  }

  /** Runs `body` inside a span named after the layer it calls into. When
    * tracing is off this is a plain call. */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val rec = costed {
      if (stack.isEmpty) fsLast = fsSnapshot() else chargeFs()
      val parent = stack.headOption.map(_.id).getOrElse(0)
      val r = SpanRec(nextId, parent, currentOp, name, 0L, 0L)
      nextId += 1
      stack = r :: stack
      sc.setLocalProperty(SpanProperty, r.id.toString)
      r.start = System.nanoTime()
      r
    }
    try body
    finally costed {
      rec.end = System.nanoTime()
      chargeFs()
      stack = stack.tail
      spans += rec
      sc.setLocalProperty(SpanProperty,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Adds a count measured by the benchmark itself to the innermost span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => add(s.id, key, v))

  /** Adds a count to the op's root span after the op has ended. */
  def countOnLastOp(key: String, v: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.parent == 0)
      .foreach(s => add(s.id, key, v))

  def isOn: Boolean = enabled

  /** SQL executions and plan exchanges, resolved to spans once the bus is
    * quiet: by the span of their first job, else by start time. */
  private def resolveExecutions(): Unit = lock.synchronized {
    execStartMs.foreach { case (ex, ms) =>
      val span = execSpan.getOrElse(ex, innermostAt(ms))
      if (span > 0) {
        add(span, "spark.sql_executions", 1)
        add(span, "spark.exchanges", execExchanges.getOrElse(ex, 0).toDouble)
      }
    }
  }

  private def innermostAt(ms: Long): Int = spans
    .filter(s => millisOf(s.start) <= ms && ms <= millisOf(s.end))
    .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0)

  def toJson: String = {
    resolveExecutions()
    val sb = new StringBuilder
    sb ++= "{\"cost_s\":" + Json.num(costNanos.get / 1e9) + ",\"spans\":["
    sb ++= spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start_ms":${millisOf(s.start)}%.4f,"end_ms":${millisOf(s.end)}%.4f}"""
    }.mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobIntervals.map { case (s, a, b) =>
      s"""{"span":$s,"start_ms":$a,"end_ms":$b}""" }.mkString(",")
    sb ++= "],\"counters\":{"
    sb ++= counters.toSeq.sortBy(_._1).map { case (id, m) =>
      "\"" + id + "\":" + Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) })
    }.mkString(",")
    sb ++= "}}"
    sb.toString
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class SpanRec(id: Int, parent: Int, op: Int, name: String,
      var start: Long, var end: Long)

  /** Shuffle and broadcast exchanges in a plan, subqueries included
    * (reused exchanges do not run again and are not counted). */
  def exchangesIn(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1 else 0) +
      p.children.map(exchangesIn).sum
}
