package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one operation, in epoch milliseconds. `kind` is a
  * layer name (`lake`, `warehouse`, `streaming`, `ext`), a driver phase
  * (`driver.analysis`, ...), `job` or `task`.
  */
final case class Span(op: Int, kind: String, start: Double, end: Double)

/** Wall clock in fractional epoch milliseconds, monotone within the run. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Out-of-engine tracer for the traced run.
  *
  * Everything it records comes through public Spark and Hadoop hooks:
  * a `SparkListener` (jobs, stages, tasks and their metrics), a
  * `QueryExecutionListener` (the `QueryPlanningTracker` phases of every
  * query execution), a `StreamingQueryListener` (micro-batch
  * `durationMs`), the lake's public commit hook, and explicit spans the
  * workloads open around each call into an engine layer. Jobs are tied to
  * their operation through the `perfbench.op` local property; events that
  * carry no property (query executions, streaming progress) are tied by
  * time, which is exact for a single closed-loop client.
  *
  * With tracing off, [[span]] only runs its body, so the untraced run pays
  * nothing but one volatile read per call.
  */
object Trace {
  val OpProperty = "perfbench.op"

  @volatile var enabled = false
  @volatile private var currentOp = -1
  def currentOpId: Int = currentOp

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Double)]()
  private val opWindows = mutable.ArrayBuffer.empty[(Int, Double, Double)]

  /** Per-operation counters keyed by metric name. */
  private val counters = new ConcurrentHashMap[(Int, String), Double]()
  /** Time spent inside this tracer's own callbacks (tracing overhead). */
  private val selfNs = new AtomicLong(0L)

  def add(op: Int, key: String, v: Double): Unit =
    if (op >= 0) counters.merge((op, key), v, (a: Double, b: Double) => a + b)

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toInt).getOrElse(currentOp)

  /** Run `body` as a span of layer `kind` inside the current operation. */
  def span[T](kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val op = currentOp
      val t0 = Clock.nowMs
      try body finally spans.add(Span(op, kind, t0, Clock.nowMs))
    }

  def beginOp(spark: SparkSession, op: Int): Unit = {
    currentOp = op
    if (enabled) spark.sparkContext.setLocalProperty(OpProperty, op.toString)
  }

  def endOp(spark: SparkSession, op: Int, start: Double, end: Double): Unit = {
    if (enabled) {
      spark.sparkContext.setLocalProperty(OpProperty, null)
      opWindows.synchronized { opWindows += ((op, start, end)) }
    }
    currentOp = -1
  }

  def install(spark: SparkSession): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val op = opOf(e.properties)
        jobStart.put(e.jobId, (op, e.time.toDouble))
        e.stageIds.foreach(s => stageOp.put(s, op))
        add(op, "scheduling.jobs", 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
          if (op >= 0) spans.add(Span(op, "job", t0, e.time.toDouble))
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
        stageOp.putIfAbsent(e.stageInfo.stageId, opOf(e.properties))
        ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
        add(stageOp.getOrDefault(e.stageInfo.stageId, -1), "scheduling.stages", 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        val op = stageOp.getOrDefault(e.stageId, -1)
        val i = e.taskInfo
        if (op >= 0 && i != null) {
          spans.add(Span(op, "task", i.launchTime.toDouble, i.finishTime.toDouble))
          add(op, "scheduling.tasks", 1)
          val m = e.taskMetrics
          if (m != null) {
            val run = m.executorRunTime.toDouble
            add(op, "execution.task_cpu_s", (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9)
            add(op, "execution.task_run_s", run / 1e3)
            add(op, "execution.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
            add(op, "execution.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
            add(op, "execution.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
            add(op, "execution.input_bytes", m.inputMetrics.bytesRead.toDouble)
            // the Spark UI's scheduler delay: task wall time not spent
            // deserializing, running, serializing or fetching the result
            val delay = i.duration - run - m.executorDeserializeTime -
              m.resultSerializationTime - i.gettingResultTime
            add(op, "scheduling.delay_s", math.max(0.0, delay.toDouble) / 1e3)
          }
        }
      }
    })
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .register(new QueryExecutionListener {
        private def record(qe: QueryExecution): Unit = timed {
          queryPhases.add(qe.tracker.phases.toSeq.map { case (p, s) =>
            (p, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
          })
        }
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
        val p = e.progress
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        streamProgress.add((t, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
    graft.lake.Lake.addCommitHook((_, _, _, _) => timed(add(currentOp, "lake.commits", 1)))
  }

  private val queryPhases = new ConcurrentLinkedQueue[Seq[(String, Double, Double)]]()
  private val streamProgress = new ConcurrentLinkedQueue[(Double, Map[String, Long])]()

  /** Wait for the asynchronous listener buses to deliver every event. */
  def drain(spark: SparkSession): Unit = {
    org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
    Thread.sleep(200) // the streaming listener bus has no public drain
  }

  private def opAt(t: Double): Int = opWindows.synchronized {
    opWindows.find { case (_, s, e) => t >= s && t <= e }.map(_._1).getOrElse(-1)
  }

  /** Self time per layer within each operation's wall time. Every instant
    * of an operation goes to the most specific span active at that
    * instant, in this order: a running task (execution), a running job
    * with no task running (scheduling), a driver planning phase, a layer
    * call (warehouse, lake, streaming, ext); what is left is unattributed.
    */
  val Priority: Seq[String] = Seq("task", "job", "driver", "warehouse", "lake", "streaming", "ext")
  private val SelfName = Map("task" -> "execution", "job" -> "scheduling")

  def selfTimes(start: Double, end: Double, opSpans: Seq[Span]): Map[String, Double] = {
    val cls = (k: String) => Priority.indexWhere(p => k == p || k.startsWith(p + "."))
    val events = opSpans.flatMap { s =>
      val c = cls(s.kind)
      val a = math.max(s.start, start); val b = math.min(s.end, end)
      if (c < 0 || b <= a) Nil else Seq((a, c, 1), (b, c, -1))
    }.sortBy(e => (e._1, -e._3))
    val active = Array.fill(Priority.size)(0)
    val acc = Array.fill(Priority.size + 1)(0.0)
    var t = start
    events.foreach { case (at, c, d) =>
      val top = active.indexWhere(_ > 0)
      acc(if (top < 0) Priority.size else top) += at - t
      t = at
      active(c) += d
    }
    acc(Priority.size) += end - t
    Priority.indices.map(i => SelfName.getOrElse(Priority(i), Priority(i)) + ".self_s" -> acc(i) / 1e3).toMap +
      ("unattributed_s" -> acc(Priority.size) / 1e3)
  }

  /** Per-operation layer metrics for the operations traced so far. */
  def collect(): Map[Int, Map[String, Double]] = {
    val all = spans.asScala.toSeq
    val phaseSpans = queryPhases.asScala.toSeq.flatMap { phases =>
      val op = phases.map(_._2).minOption.map(opAt).getOrElse(-1)
      add(op, "driver.query_executions", 1)
      phases.foreach { case (p, s, e) => add(op, s"driver.${p}_s", (e - s) / 1e3) }
      phases.filter(_._1 != "parsing").map { case (p, s, e) => Span(op, s"driver.$p", s, e) }
    }
    streamProgress.asScala.foreach { case (t, d) =>
      val op = opAt(t)
      add(op, "streaming.batches", 1)
      Seq("triggerExecution" -> "streaming.trigger_s", "addBatch" -> "streaming.add_batch_s",
        "walCommit" -> "streaming.wal_commit_s", "queryPlanning" -> "streaming.planning_s")
        .foreach { case (k, m) => add(op, m, d.getOrElse(k, 0L) / 1e3) }
    }
    val windows = opWindows.synchronized(opWindows.toList)
    recorded = windows.map { case (op, s, e) => Span(op, "op", s, e) } ++ all ++ phaseSpans
    val byOp = (all ++ phaseSpans).groupBy(_.op)
    windows.map { case (op, s, e) =>
      val sp = byOp.getOrElse(op, Nil)
      val jobs = sp.filter(_.kind == "job")
      val inJobs = union(jobs.map(j => (math.max(j.start, s), math.min(j.end, e))))
      val layerTotals = sp.filter(x => Seq("lake", "warehouse").contains(x.kind))
        .groupBy(_.kind).map { case (k, xs) => (if (k == "lake") "lake.commit_s" else "warehouse.merge_s") -> xs.map(x => x.end - x.start).sum / 1e3 }
      val extTotals = sp.filter(_.kind.startsWith("ext.")).groupBy(_.kind)
        .map { case (k, xs) => s"${k}_s" -> xs.map(x => x.end - x.start).sum / 1e3 }
      val c = counters.asScala.collect { case ((o, k), v) if o == op => k -> v }.toMap
      op -> (c ++ layerTotals ++ extTotals ++ selfTimes(s, e, sp) +
        ("scheduling.outside_jobs_s" -> ((e - s) - inJobs) / 1e3))
    }.toMap
  }

  /** Total length of the union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (curE.isNaN || a > curE) { if (!curE.isNaN) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def overheadS: Double = selfNs.get / 1e9

  private var recorded: Seq[Span] = Nil

  /** Write every span of the traced operations as JSON lines: one root
    * span (`op`) per operation, then its layer, phase, job and task spans.
    */
  def write(path: java.nio.file.Path): Unit = {
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try recorded.sortBy(s => (s.op, s.start)).foreach { s =>
      out.println(s"""{"op": ${s.op}, "kind": "${s.kind}", "start_ms": ${s.start}, "end_ms": ${s.end}}""")
    } finally out.close()
  }
}
