package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job profiler for a single gate: runs the named gates from
  * [[graft.SparkEntry.queries]] and prints, for every Spark job, its
  * callsite, wall time, task CPU, and shuffle/spill bytes, and per gate
  * the generated classes Janino compiled and their estimated seconds —
  * the measure-first attribution step of the optimization loop (guide §1).
  *
  * Run: `sbt "runMain graft.tools.GateProfile <gate>[,<gate>...] [sfDir]"`.
  * Output lines are grep-able: `JOB <id> wall=..s taskcpu=..s ... site=...`.
  */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val gates = args.headOption.getOrElse("c23_index_erasure")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.getOrCreate(
      graft.GraftSession.builder(s"local[$cpus]", cpus))
    spark.sparkContext.setLogLevel("ERROR")

    case class Agg(var taskCpuNs: Long = 0L, var shufWrite: Long = 0L,
        var shufRead: Long = 0L, var spill: Long = 0L, var inBytes: Long = 0L,
        var tasks: Int = 0)
    val perStageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val perJob = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        jobStart.put(e.jobId, (System.nanoTime(), site))
        e.stageIds.foreach(sid => perStageJob.put(sid, e.jobId))
        perJob.putIfAbsent(e.jobId, Agg())
        ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = perStageJob.getOrDefault(e.stageInfo.stageId, -1)
        val a = perJob.computeIfAbsent(jid, _ => Agg())
        val m = e.stageInfo.taskMetrics
        if (m != null) a.synchronized {
          a.taskCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
          a.shufWrite += m.shuffleWriteMetrics.bytesWritten
          a.shufRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.spill += m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.tasks += e.stageInfo.numTasks
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t0, site) = jobStart.getOrDefault(e.jobId, (0L, "?"))
        val a = perJob.getOrDefault(e.jobId, Agg())
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"JOB ${e.jobId}%4d wall=$wall%7.2fs taskcpu=${a.taskCpuNs / 1e9}%7.2fs " +
          f"in=${a.inBytes / 1e6}%8.1fMB shW=${a.shufWrite / 1e6}%7.1fMB " +
          f"shR=${a.shufRead / 1e6}%7.1fMB spill=${a.spill / 1e6}%6.1fMB " +
          f"tasks=${a.tasks}%4d site=$site")
      }
    })

    gates.foreach { g =>
      val fn = graft.SparkEntry.queries.getOrElse(g,
        sys.error(s"unknown gate: $g"))
      println(s"=== GATE $g (warm+timed single pass) ===")
      val cpu0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
      val compiles0 = graft.GraftSession.codegenCompiles()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - cpu0) / 1e9
      try org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
      catch { case scala.util.control.NonFatal(_) => () }
      val compiles = graft.GraftSession.codegenCompiles() - compiles0
      println(f"=== GATE $g DONE rows=$n wall=$wall%.2fs proccpu=$cpu%.2fs " +
        f"compiles=$compiles compile=${graft.GraftSession.codegenCompileSeconds(compiles)}%.2fs ===")
    }
    spark.stop()
    graft.Tmp.purge()
  }
}
