package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.getOrCreate(
      GraftSession.builder(s"local[$cpus]", cpus))
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new GraftSession.JobCounter
    spark.sparkContext.addSparkListener(jobs)
    // local-iteration filter: comma-separated exact keys to dump instead
    // of the full registry; only their oracles go into oracle_sql.json, so
    // tools/localcheck.py checks just those gates
    dump(spark, sfDir, outDir, sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet))
    org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
    // the codegen working set of a full registry run, which sizes
    // GraftSession's cache: every compile is a cache miss, so below the
    // cap each one is a distinct class. The heap is read after three full
    // collections, as perfbench reads heap_live_mb: after one or two the
    // reading still swings by several MB between runs
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val mb = 1048576.0
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
    val metaspace = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.stream
      .filter(_.getName == "Metaspace").mapToLong(_.getUsage.getUsed).sum / mb
    println(f"[verify] codegen_compiles=${GraftSession.codegenCompiles()} " +
      f"heap_used_mb=$heap%.0f metaspace_used_mb=$metaspace%.0f spark_jobs=${jobs.jobs}")
    spark.stop()
    // outputs are written; reclaim every scratch dir this session created
    Tmp.purge()
  }

  /** Write each gate's output to `outDir/<name>` and the gates' oracle SQL
    * to `outDir/oracle_sql.json`, the layout `tools/localcheck.py`
    * compares. `only` names the gates to run, all when None. A gate that
    * throws is logged and has no output dir; returns one
    * `name: exception` line per such gate.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Seq[String] = {
    def chosen[V](gates: Map[String, V]): Map[String, V] =
      only.fold(gates)(ks => gates.filter(kv => ks(kv._1)))
    new java.io.File(outDir).mkdirs()
    val failures = chosen(SparkEntry.queries).toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(s"$name: ${e.getClass.getSimpleName}: " + String.valueOf(e.getMessage).take(200))
      }
    }
    // a raw tab or CR in a gate's SQL would make a strict JSON reader
    // (`json.load` in tools/localcheck.py) reject the whole file
    def q(s: String): String = GraftSession.jsonEscape(s)
    val json = chosen(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failures.sorted
  }
}
