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
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (driver never sets this): comma-separated
    // exact keys to dump instead of the full registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // a tab or CR in builder-authored SQL would make the driver's
    // json.load fail and silently zero the round's correctness
    def q(s: String): String = GraftSession.jsonEscape(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
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
}
