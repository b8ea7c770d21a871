package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` output for named registry gates to files —
  * the before/after plan evidence for optimization rounds.
  *
  * Run: `sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> [q1,q2,...]"`
  * writes `<outDir>/<query>_<suffix>.txt` per gate. Gates whose builder
  * executes jobs eagerly (lifecycle/streaming choreographies) still produce
  * the plan of the RETURNED frame — the queryable read path.
  */
object ExplainDump {

  /** Gates whose registry fn eagerly materializes (localCheckpoint /
    * finishGate), hiding the optimized pipeline behind an ExistingRDD
    * scan: dump these LIVE variants instead — the same paths the Plans
    * auditor executes (round-17 advisor item).
    */
  private val livePlans: Map[String,
      (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "p_skew_join" -> ((s, d) =>
      graft.queries.Scale.withSkewConfs(s)(graft.queries.Scale.skewJoinLive(s, d))),
    "x_graph_pagerank" -> ((s, d) =>
      graft.queries.Analytics.graphPagerank(s, d, checkpoint = false)),
    "x_graph_triangles" -> ((s, d) =>
      graft.queries.Analytics.graphTriangles(s, d, checkpoint = false)),
    "x_graph_clustering" -> ((s, d) =>
      graft.queries.Analytics.graphClusteringCoeff(s, d, checkpoint = false)),
    "x_kmeans" -> ((s, d) =>
      graft.ext.Similarity.kmeansTrain(s, d, reuse = false)))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else graft.SparkEntry.queries.keySet.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.getOrCreate(
      graft.GraftSession.builder(s"local[$cpus]", cpus))
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      livePlans.get(name).orElse(graft.SparkEntry.queries.get(name)) match {
        case None => System.err.println(s"[explain] unknown gate: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            println(s"[explain] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
    graft.Tmp.purge()
  }
}
