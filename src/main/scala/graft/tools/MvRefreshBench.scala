package graft.tools

import org.apache.spark.sql.functions._
import graft.lake.Lake
import graft.warehouse.SummaryRewrite

/** SCALE evidence for the round-15 MV-maintenance claims: with
  * `mv_refresh='on_commit'`, a SQL UPDATE's commit (which now carries the
  * synchronous summary refresh) costs O(changed groups' files), not
  * O(table) — the wall time of the same one-group mutation should be ~flat
  * from 1M to 10M rows, and the refresh must re-read a strict subset of
  * the snapshot's files (refreshStats) while re-aggregating exactly
  * one group (refreshStats).
  *
  * Usage: runMain graft.tools.MvRefreshBench <rows> — one JSON line.
  */
object MvRefreshBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = graft.GraftSession.getOrCreate(
      graft.GraftSession.builder("local[32]", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val root = graft.Tmp.dir("mvscale_").toString

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // range-clustered on the group key, multi-file, like the spec table
    Lake.setTableProperties(spark, root, "b", Map(
      "cluster_by" -> "g",
      SummaryRewrite.MvRefreshProp -> "on_commit"))
    val old = spark.conf.getOption("spark.sql.adaptive.coalescePartitions.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val df = spark.range(0, rows).select(
        (col("id") / lit(10000)).cast("long").as("g"), col("id").as("k"),
        (col("id") % 7).cast("double").as("v"))
      Lake.writeTableSnapshot(
        Lake.applyClusterPolicy(spark, root, "b", df), root, "b")
    } finally old.fold(
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled"))(
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", _))

    spark.conf.set("spark.sql.catalog.mvscale",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mvscale.root", root)
    SummaryRewrite.createForTable(spark, "mv_scale", root, "b", s"$root/mv",
      keys = Seq("g"), rowKeys = Seq("k"),
      sums = Seq("v" -> None), mins = Seq("v"), maxs = Seq("v"))

    // one-group mutation: the commit carries the synchronous refresh
    val (_, tUpdate) = timed {
      spark.sql("UPDATE mvscale.tables.b SET v = v + 100 WHERE k BETWEEN 100 AND 199")
    }
    val (adm, tot, groups) = SummaryRewrite.refreshStats("mv_scale")

    // the refreshed summary serves with no manual refresh
    val q = spark.sql("SELECT g, sum(v) s FROM mvscale.tables.b GROUP BY g")
    val served = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      .exists(_.contains("/mv"))
    q.collect()
    SummaryRewrite.drop("mv_scale")

    println(
      s"""{"tool":"mv_refresh_bench","rows":$rows,""" +
      s""""update_commit_with_refresh_sec":${f"$tUpdate%.3f"},""" +
      s""""refresh_files_admitted":$adm,"snapshot_files":$tot,""" +
      s""""reagg_groups":$groups,"summary_served":$served}""")
    spark.stop()
  }
}
