package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.Tables

/** SCALE evidence for the round-15 BPE-trainer claim (VERDICT r14 task 1):
  * an R-round train does ONE corpus scan and flat per-round work — the
  * weighted vocab is materialized once and every later round touches only
  * the vocab (driver-side incremental counts on the fast path).
  *
  * Measures, at a given round count over a testdata sf dir:
  *   - file bytes read by ALL Spark stages during the train, vs the
  *     on-disk size of documents.parquet → `corpus_scan_ratio` ≈ 1.0
  *     (the old lineage-replaying trainer scaled this with R);
  *   - per-round wall time: first-5 mean vs last-5 mean → `round_flatness`
  *     ≈ 1 (the old trainer grew linearly in the round index).
  *
  * Usage: runMain graft.tools.BpeTrainBench <sfDir> [rounds] — one JSON line.
  */
object BpeTrainBench {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(50)
    val spark = graft.GraftSession.getOrCreate(
      graft.GraftSession.builder("local[32]", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        bytesRead.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead); ()
      }
    })

    val words = Tables.documents(spark, d)
      .select(explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

    val perRound = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val merges = graft.ext.TextAnalysis.bpeTrainRounds(
      words, rounds, (_, ns) => { perRound += ns / 1e9; () })
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2000) // let the listener bus drain stage-completed events

    val docBytes = {
      val p = new java.io.File(s"$d/documents.parquet")
      if (p.isDirectory) p.listFiles.map(_.length).sum else p.length
    }
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val first5 = mean(perRound.take(5).toSeq)
    val last5 = mean(perRound.takeRight(5).toSeq)
    println(
      s"""{"tool":"bpe_train_bench","sf_dir":"$d","rounds":${merges.size},""" +
      s""""total_sec":${f"$total%.3f"},"first5_mean_sec":${f"$first5%.5f"},""" +
      s""""last5_mean_sec":${f"$last5%.5f"},""" +
      s""""round_flatness":${f"${if (first5 > 0) last5 / first5 else 0.0}%.3f"},""" +
      s""""bytes_read":${bytesRead.get},"documents_bytes":$docBytes,""" +
      s""""corpus_scan_ratio":${f"${bytesRead.get.toDouble / docBytes}%.3f"}}""")
    spark.stop()
  }
}
