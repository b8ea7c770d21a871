package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.streaming.Streams

/** Shared maintenance mechanics for the incremental-index family
  * ([[IncrementalCdc]], [[IncrementalFuzzy]], [[IncrementalIvf]],
  * [[IncrementalIvfPq]], [[IncrementalLsh]], [[IncrementalPq]],
  * [[IncrementalSimhash]]): append-only maintenance accumulates one small
  * file batch per append, and every index state table is a DETERMINISTIC
  * function of the corpus — so `distinct + coalesced rewrite` is an
  * equivalence-preserving compaction for all of them, and a
  * swap-rewrite (write aside, delete, rename) is the shared primitive
  * both compaction and targeted rewrites (erasure) build on. Every
  * module's streaming gate drives its `append` through [[streamAppends]].
  *
  * Single-writer ops: compaction/erasure run at maintenance cadence under
  * the same exclusive-writer assumption as the appends themselves; a
  * deployment needing concurrent maintenance publishes through the
  * versioned-lake path (`a23_fuzzy_index_sql`) whose OCC commits
  * serialize writers.
  */
object IndexMaintenance {

  /** Replace table directory `root/table` with `df`: write aside to
    * `.swap_<table>`, then delete-and-rename. The write NEVER overlaps its
    * read set — `df` reads the still-intact original directory while the
    * job writes the hidden aside dir, and the original is deleted only
    * after the write committed — so no pre-materialization is needed
    * (round 18: the previous `localCheckpoint()` here materialized every
    * rewrite TWICE, once into block storage and once into parquet, for a
    * self-read hazard that cannot occur under this directory layout;
    * dropping it fuses each maintenance rewrite into one job, guide §5).
    * Callers whose `df` shares a computed input across several swapIns
    * (e.g. an erasure's orphan set) still checkpoint THAT input first —
    * [[swapInConcurrently]]'s contract is unchanged.
    */
  def swapIn(s: SparkSession, root: String, table: String, df: DataFrame): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$root/$table")
    val fs = dir.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/.swap_$table")
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(dir, true)
    require(fs.rename(tmp, dir), s"swapIn: rename failed for $table")
  }

  /** Run several INDEPENDENT single-table [[swapIn]] rewrites
    * concurrently — each must read and replace only its own table (any
    * shared input checkpointed by the caller first), so the batch pays
    * the max of the job latencies instead of the sum. Concurrency is
    * across TABLES inside one maintenance op; the index's single-writer
    * contract (ops serialize with each other) is untouched.
    */
  def swapInConcurrently(
      s: SparkSession, root: String, rewrites: Seq[(String, DataFrame)]): Unit = {
    require(rewrites.map(_._1).distinct.size == rewrites.size,
      "swapInConcurrently: one rewrite per table")
    if (rewrites.size <= 1) {
      rewrites.foreach { case (t, df) => swapIn(s, root, t, df) }
      return
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(rewrites.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      // Await EVERY rewrite (Try-wrapped, so one failure doesn't
      // short-circuit the wait) before propagating the first failure —
      // Future.sequence rethrows on the first failed future while sibling
      // swap-ins may still be mid-delete/rename, and a caller reacting to
      // the exception (read, retry) would race those in-flight swaps.
      val outcomes = scala.concurrent.Await.result(
        scala.concurrent.Future.traverse(rewrites) { case (t, df) =>
          scala.concurrent.Future(swapIn(s, root, t, df))
            .transform(r => scala.util.Success(t -> r))
        },
        scala.concurrent.duration.Duration.Inf)
      outcomes.collectFirst { case (t, scala.util.Failure(e)) =>
        throw new RuntimeException(s"swapInConcurrently: rewrite of '$t' failed " +
          "(all sibling rewrites have completed or failed — none in flight)", e)
      }
      ()
    } finally { pool.shutdown() }
  }

  /** Drive an index's `append` from Structured Streaming, the continuous
    * ingest shape: `rows` is staged as one file per `chunk` value (an int
    * column) in one ordered write ([[Streams.writeChunksOrdered]]), then
    * drained one file per trigger, in chunk order, and every micro-batch
    * goes to `append` at most once ([[appliedOnce]]). Each call drains
    * through a fresh checkpoint and the markers key on the batch id
    * alone, so an index root takes one `streamAppends` call: a second
    * one would skip the batch ids the first applied.
    */
  def streamAppends(root: String, rows: DataFrame, chunk: Column)(
      append: DataFrame => Unit): Unit = {
    val staged = graft.Tmp.dir("graft_index_src_").toString
    Streams.writeChunksOrdered(rows, chunk, staged)
    drainChunks(rows.sparkSession, root, staged, rows.schema)(append)
  }

  /** The drain half of [[streamAppends]] over an already staged `staged`
    * directory of `chunk=N` files.
    */
  private[graft] def drainChunks(
      s: SparkSession, root: String, staged: String, schema: StructType)(
      append: DataFrame => Unit): Unit =
    Streams.drainBatches(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/chunk=*"),
      graft.Tmp.dir("graft_index_ckpt_").toString)(appliedOnce(root)(append))

  /** The per-batch function of [[streamAppends]]. Structured Streaming is
    * at-least-once into `foreachBatch`: a batch whose append committed but
    * whose checkpoint write failed is re-delivered after a restart. A
    * marker file per batch id under `root`, written only after `append`
    * returns, makes that re-delivery a no-op instead of a double append
    * (which would trip [[IncrementalLsh]]'s monotone-id `require`). A batch that
    * died mid-append has no marker and runs again; every index reads its
    * state with set semantics, which absorb the half-written first try.
    */
  private[graft] def appliedOnce(root: String)(
      append: DataFrame => Unit): (DataFrame, Long) => Unit = { (batch, id) =>
    val marker = new java.io.File(s"$root/_applied_batch_$id")
    if (!marker.exists()) {
      append(batch)
      marker.createNewFile()
    }
  }

  /** Compact `tables` under `root`: deduplicate and rewrite each as
    * `filesPerTable` files. Correct exactly when every table has set
    * semantics with deterministic rows — the incremental-index contract.
    */
  def compactTables(
      s: SparkSession, root: String, tables: Seq[String],
      filesPerTable: Int = 1): Unit =
    tables.foreach { t =>
      swapIn(s, root, t,
        s.read.parquet(s"$root/$t").distinct().coalesce(filesPerTable))
    }
}
