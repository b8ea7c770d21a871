package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark operation: a named call into the engine's public API.
  * `run` executes it and returns a digest of its output for the
  * correctness check, which is computed after the clock stops.
  */
final case class Op(kind: String, name: String, run: () => () => String)

/** A closed-loop workload over one session. */
trait Workload {
  /** Build the engine-side inputs, once, before the warm-up. */
  def prepare(spark: SparkSession): Unit
  /** Fewest timed rounds a run makes, however short `seconds` is. */
  def minRounds: Int
  /** Untimed rounds before the first timed one; round 0 is always one. */
  def warmupRounds: Int = 1
  /** The operations of round `r`, in the order the client issues them;
    * rounds below `warmupRounds` are the untimed warm-up. */
  def round(r: Int): Seq[Op]
  /** Record what the correctness check needs, after the timed loop. */
  def finish(spark: SparkSession): Unit
  /** Workload-specific end-to-end figures for the run report. */
  def extras(records: Seq[Record]): Map[String, Double] = Map.empty
}

final case class Record(op: Op, round: Int, wallS: Double, ok: Boolean, error: String)

/** Benchmark program: `perfbench.Main <workload> <seed> <seconds> <trace>
  * <dataDir> <workDir> <cores>`. Builds a `GraftSession` on `local[cores]`,
  * prepares the workload's inputs, warms every operation once, then runs
  * whole rounds as one closed-loop client, at least the workload's
  * `minRounds` and until `seconds` have passed. Writes
  * `<workDir>/result.json`, with the wall clock at which the first timed
  * operation started, so the runner can report set-up time from its own
  * start to that instant.
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    val b = graft.GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, data, work, coresS) = args
    val (seed, seconds, cores) = (seedS.toLong, secondsS.toDouble, coresS.toInt)
    val trace = traceS == "1"
    val w: Workload = name match {
      case "sql_read" => new SqlRead(data, work, seed)
      case "lake_ingest" => new LakeIngest(data, work, seed)
      case other => sys.error(s"unknown workload $other")
    }

    val spark = session(cores, work, trace)
    w.prepare(spark)
    if (trace) Trace.install(spark)

    // untimed warm-up: every operation once in round 0, whose digest is
    // the reference each timed execution of the same operation must
    // reproduce (a gate that fails here leaves no output, which the oracle
    // check fails); further warm-up rounds let the JIT catch up
    val w0 = System.nanoTime()
    val reference = w.round(0).flatMap(op => scala.util.Try(op.name -> op.run()()).toOption).toMap
    (1 until w.warmupRounds).foreach(r => w.round(r).foreach(op => scala.util.Try(op.run()())))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val records = Seq.newBuilder[Record]
    val layers = Seq.newBuilder[Map[String, Double]]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val cpu0 = os.getProcessCpuTime
    val timedStart = java.time.Instant.now()
    val t0 = System.nanoTime()
    var r = w.warmupRounds
    var opId = 0
    // whole rounds only, and at least minRounds, so every run measures the
    // same mix of operations at the same point of the JVM's warm-up
    while (r < w.warmupRounds + w.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      w.round(r).foreach { op =>
        val before = if (trace) Probes.snapshot() else Map.empty[String, Double]
        val s = Clock.nowMs
        Trace.beginOp(spark, opId)
        val o0 = System.nanoTime()
        val out = scala.util.Try(op.run())
        val wall = (System.nanoTime() - o0) / 1e9
        Trace.endOp(spark, opId, s, Clock.nowMs)
        if (trace) layers += Probes.delta(before, Probes.snapshot())
        // the digest and its check run outside the timed call
        val rec = out.flatMap(d => scala.util.Try(d())) match {
          case scala.util.Success(d) =>
            val ok = reference.get(op.name).forall(_ == d)
            Record(op, r, wall, ok, if (ok) "" else "output differs from the warm-up output")
          case scala.util.Failure(e) => Record(op, r, wall, false, String.valueOf(e.getMessage).take(300))
        }
        records += rec
        opId += 1
      }
      r += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    // heap the engine still holds after the timed loop: full collections
    // first, so the figure is live data rather than GC timing; the later
    // ones run after Spark's cleaner has dropped what the earlier freed
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapLive = heapPools.map(_.getUsage.getUsed).sum / 1048576.0
    val recs = records.result()

    val f0 = System.nanoTime()
    val traced = if (!trace) Map.empty[Int, Map[String, Double]] else {
      Trace.drain(spark)
      try Trace.collect() finally Trace.write(Paths.get(work, "spans.jsonl"))
    }
    w.finish(spark)
    spark.stop()
    val finishS = (System.nanoTime() - f0) / 1e9

    val walls = recs.map(_.wallS).sorted
    def q(p: Double) = walls(math.min(walls.size - 1, (p * walls.size).toInt))
    val n = recs.size.toDouble
    val e2e = Map(
      // the typical operation: every operation weighs in, where the median
      // of a few clusters of operation times jumps from one to the next
      "op_gmean_s" -> math.exp(walls.map(math.log).sum / n),
      "op_p50_s" -> median(walls),
      "op_p90_s" -> q(0.9),
      "ops_per_s" -> n / walls.sum,
      "cpu_s" -> cpu / n,
      "heap_live_mb" -> heapLive,
    )
    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val perOp = layers.result().zipWithIndex.map { case (probe, i) => probe ++ traced.getOrElse(i, Map.empty) }
      val keys = perOp.flatMap(_.keys).distinct
      keys.map(k => k -> perOp.map(_.getOrElse(k, 0.0)).sum / n).toMap +
        ("tracing.listener_s" -> Trace.overheadS / n) +
        ("tracing.op_gmean_s" -> e2e("op_gmean_s"))
    }
    val json = new StringBuilder("{")
    def num(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q2(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}" }.mkString(", ")
    json ++= s""""e2e": {${num(e2e)}}, "layers": {${num(perLayer)}}, """
    json ++= s""""extras": {${num(w.extras(recs))}}, """
    json ++= s""""timed_start_epoch_s": ${timedStart.getEpochSecond + timedStart.getNano / 1e9}, "warmup_s": $warmupS, "elapsed_s": $elapsed, "finish_s": $finishS, "rounds": ${r - w.warmupRounds}, """
    json ++= s""""ops": [${recs.map(x => s"""{"kind": ${q2(x.op.kind)}, "name": ${q2(x.op.name)}, "round": ${x.round}, "wall_s": ${x.wallS}, "ok": ${x.ok}, "error": ${q2(x.error)}}""").mkString(", ")}]}"""
    Files.writeString(Paths.get(work, "result.json"), json.toString)
    graft.Tmp.purge()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def q2(s: String): String = graft.GraftSession.jsonEscape(s)
}

/** Process-wide counters read through public JVM, Spark and Hadoop APIs,
  * sampled before and after each traced operation.
  */
object Probes {
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def snapshot(): Map[String, Double] = {
    val fs = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .filter(_.getScheme == "file").toSeq
    def stat(k: String) = fs.map(s => Option(s.getLong(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "jvm.jit_s" -> jit.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "driver.codegen_compiles" -> codegen.getCount.toDouble,
      "codegen.mean_ms" -> codegen.getSnapshot.getMean,
      "lake.fs_list_ops" -> CountingFileSystem.lists.get.toDouble,
      "lake.fs_read_ops" -> CountingFileSystem.reads.get.toDouble,
      "lake.fs_write_ops" -> CountingFileSystem.writes.get.toDouble,
      "lake.bytes_written" -> stat("bytesWritten"),
    )
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] = {
    val d = b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
    // the compile-time histogram keeps a sample, not a sum: new compiles
    // times the sample mean estimates their time
    d - "codegen.mean_ms" +
      ("driver.codegen_compile_s" -> d("driver.codegen_compiles") * b("codegen.mean_ms") / 1e3)
  }
}
