package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max statistics index + data-skipping reads — the lake-side
  * pruning layer for UNPARTITIONED columns (partition pruning already covers
  * the date columns, `Lake.readStreamFeed`). The same design as Delta/Iceberg
  * data skipping, on plain parquet:
  *
  *   - '''layout''': `writeClustered` range-partitions and sorts the data by
  *     the cluster column before writing, so each file covers a narrow,
  *     nearly disjoint value range — stats are only as good as the layout.
  *   - '''index''': `buildStats` computes per-file min/max for the indexed
  *     columns in ONE scan (`_metadata.file_path` + groupBy — a partial
  *     aggregate over the files' own rows, no footer RPC storm) and persists
  *     it as a tiny parquet table. At 100 TB the index is rebuilt
  *     incrementally: only files newer than the index's watermark are
  *     scanned and appended (same append-only contract as the incremental
  *     LSH index).
  *   - '''read''': `readRange` consults the index on the driver (the stats
  *     table is O(files), the same bounded driver list `compactPartition`
  *     already relies on), reads ONLY the candidate files, and re-applies
  *     the predicate — skipping can only drop provably-disjoint files, never
  *     change semantics; a file with NULL stats (all-null column) is kept
  *     conservatively.
  *
  * At cluster scale this turns "scan 100 TB to find one user's rows" into
  * "read the handful of files whose range admits that user", before parquet
  * row-group pruning even starts.
  */
object FileStats {

  /** Cluster `df` by `clusterCol` into `numFiles` range-sorted files.
    * `repartitionByRange` samples the column to build balanced range
    * bounds (one pass + one shuffle); the within-partition sort tightens
    * parquet row-group stats too.
    */
  def writeClustered(df: DataFrame, path: String, clusterCol: String, numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Morton z-value of two non-negative longs, `bits` bits each (caller
    * pre-folds wider domains): bit i of `a` lands at position 2i, bit i of
    * `b` at 2i+1. Pure shift/mask expression tree — codegen'd, no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-ORDER clustering: single-column range clustering makes skipping on
    * THAT column perfect and on every other column useless; interleaving
    * two columns' bits into a Morton curve and range-clustering on the
    * z-value gives BOTH columns locality — each file covers a small square
    * of the (a, b) plane, so a range predicate on either column alone
    * prunes ~the same fraction of files it selects of that column's
    * domain. The standard lakehouse layout for two-dimensional access
    * patterns (Delta/Iceberg `ZORDER BY`), here on plain parquet feeding
    * the same [[buildStats]]/[[readRange]] index.
    */
  def writeClusteredZ(
      df: DataFrame, path: String, colA: String, colB: String,
      bits: Int, numFiles: Int): Unit = {
    df.withColumn("_z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** One-scan per-file min/max index for `cols`, persisted at `statsPath`. */
  def buildStats(spark: SparkSession, dataPath: String, statsPath: String, cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    Lake.readParquet(spark, dataPath)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(statsPath)
  }

  /** Incremental index maintenance: scan ONLY files not yet in the index
    * and append their stats rows — the O(new data) refresh an append-only
    * 100 TB lake needs (the full `buildStats` rescan is the bootstrap, not
    * the steady state). The indexed-file set IS the watermark, same
    * append-only contract as the incremental LSH index; the parquet file
    * listing is O(files) driver work, already the bound accepted by
    * `compactPartition`.
    */
  def updateStats(spark: SparkSession, dataPath: String, statsPath: String, cols: Seq[String]): Int = {
    // inputFiles and _metadata.file_path render the same file with
    // different URI forms (file:/ vs file:///) — compare scheme-free paths
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val indexed = Lake.readParquet(spark, statsPath)
      .select("file").collect().map(r => norm(r.getString(0))).toSet
    val allFiles = Lake.readParquet(spark, dataPath).inputFiles
    val newFiles = allFiles.filterNot(f => indexed.contains(norm(f)))
    if (newFiles.isEmpty) return 0
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    Lake.readParquet(spark, newFiles: _*)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(statsPath)
    newFiles.length
  }

  /** The files whose [min, max] range can intersect [lo, hi] (NULL stats →
    * kept). Exposed for the skip-ratio assertions in LakeSpec.
    */
  def candidateFiles(spark: SparkSession, statsPath: String, c: String, lo: Long, hi: Long): Seq[String] = {
    val stats = Lake.readParquet(spark, statsPath)
    stats.filter(
      col(s"${c}_min").isNull || col(s"${c}_max").isNull ||
        !(col(s"${c}_min") > hi || col(s"${c}_max") < lo))
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Range read through the index: only candidate files are opened; the
    * residual filter keeps the result exactly equal to the full scan.
    */
  def readRange(spark: SparkSession, statsPath: String, c: String, lo: Long, hi: Long): DataFrame = {
    val files = candidateFiles(spark, statsPath, c, lo, hi)
    require(files.nonEmpty, s"no file can contain $c in [$lo, $hi]")
    Lake.readParquet(spark, files: _*)
      .filter(col(c) >= lo && col(c) <= hi)
  }
}

/** Per-file BLOOM index for POINT lookups on columns the files are NOT
  * clustered by — the complement of the min/max range index: a range index
  * on an unsorted column prunes nothing (every file spans the domain),
  * while a bloom answers "might file F contain key k?" with a bounded
  * false-positive rate and zero false negatives, so a point read opens
  * ~1 + fpp·files files instead of all of them (the same design as
  * Delta's bloom file indexes).
  *
  * Build is ONE scan with map-side partial merges (a kryo-buffered
  * `Aggregator` over `spark.util.sketch.BloomFilter`); the probe runs ON
  * EXECUTORS (the keys broadcast, each partition deserializing only its own
  * blooms) and collects just the ADMITTED file names — O(admitted) driver
  * state, not O(files × bloom bytes), so a 100 TB table's million-file
  * bloom sidecar never transits the driver. The opened files keep the
  * residual equality filter, so a false positive can cost IO but never
  * correctness.
  */
object BloomIndex {
  import org.apache.spark.sql.{Encoder, Encoders}
  import org.apache.spark.sql.expressions.Aggregator
  import org.apache.spark.util.sketch.BloomFilter

  private class BloomAgg(expected: Long, fpp: Double)
      extends Aggregator[Long, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expected, fpp)
    override def reduce(b: BloomFilter, k: Long): BloomFilter = { b.putLong(k); b }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos); bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** One-scan per-file bloom over integral column `c`. */
  def build(
      spark: SparkSession, dataPath: String, indexPath: String, c: String,
      expectedPerFile: Long = 1L << 20, fpp: Double = 0.01): Unit = {
    val agg = udaf(new BloomAgg(expectedPerFile, fpp))
    Lake.readParquet(spark, dataPath)
      .filter(col(c).isNotNull)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(agg(col(c).cast("long")).as("bloom"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(indexPath)
  }

  /** The admitted-files plan: one row per file whose bloom admits ANY of
    * `keys` (no false negatives). The probe is a distributed filter — keys
    * ride the closure (broadcast by Spark's task serialization; a probe key
    * set is bounded), each executor partition deserializes only the bloom
    * rows it holds, and only the admitted NAMES flow back. Exposed as a
    * DataFrame so LakeSpec can pin the shape: a single-column plan with the
    * bloom bytes consumed executor-side, never collected whole.
    */
  def candidateFilesDF(
      spark: SparkSession, indexPath: String, keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    val ks = keys.toArray
    Lake.readParquet(spark, indexPath)
      .select(col("file"), col("bloom")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.filter { case (_, bytes) =>
          val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
          ks.exists(bf.mightContainLong)
        }.map(_._1)
      }.toDF("file")
  }

  /** Files whose bloom admits ANY of `keys` — collects ONLY the admitted
    * names (the executor-side probe above), O(admitted) driver state.
    */
  def candidateFiles(
      spark: SparkSession, indexPath: String, keys: Seq[Long]): Seq[String] =
    candidateFilesDF(spark, indexPath, keys)
      .collect().iterator.map(_.getString(0)).toSeq

  /** Point lookup through the index: open only admitted files; the
    * residual IN filter keeps results identical to a full scan. `dataPath`
    * supplies the schema when every file is pruned (schema-only footer
    * read — an empty result must still carry the data columns).
    */
  def readPoint(
      spark: SparkSession, dataPath: String, indexPath: String,
      c: String, keys: Seq[Long]): DataFrame = {
    val files = candidateFiles(spark, indexPath, keys)
    if (files.isEmpty)
      Lake.readParquet(spark, dataPath).filter(lit(false))
    else Lake.readParquet(spark, files: _*).filter(col(c).isin(keys: _*))
  }
}
