package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Scale-up corpus generator: writes a `factor`× copy of a testdata
  * directory for empirical scaling runs (`BASELINE.md` §scaling).
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>`
  *
  * Replication scheme — the TPC-H dbgen convention, applied to the driver
  * schema (TESTDATA.md): fixed-cardinality dims (`region`, `nation`) are
  * copied verbatim; every other table is unioned `factor` times with its
  * surrogate keys offset by `replica * (max(key)+1)` so replicas never
  * collide, and foreign keys are offset by the SAME base as the key they
  * reference, keeping join selectivity and referential integrity identical
  * at every factor. Group-by cardinalities on keyed columns therefore grow
  * linearly (as real data would) while per-group sizes stay constant.
  *
  * Content columns are made replica-distinct where identity would distort
  * the workload being measured:
  *  - `documents.text`: every whitespace token is prefixed with a replica
  *    tag. The transform is a bijection on the shingle space, so
  *    intra-replica similarity structure (the planted near-dup clusters the
  *    dedup gates mine) is preserved EXACTLY, while cross-replica shingle
  *    overlap is zero — a `factor`× corpus has `factor`× clusters of the
  *    original sizes, not clusters blown up `factor`×, which would turn the
  *    LSH candidate-pair stage quadratic by data construction rather than
  *    algorithm behavior. Replica 0 keeps the original bytes.
  *  - `embeddings.embedding`: replicas beyond 0 circularly shift the
  *    vector's dimensions by a replica-specific amount. A common
  *    permutation preserves every intra-replica norm and pairwise distance
  *    EXACTLY (so planted near-dup/ANN structure replicates), while
  *    cross-replica vectors decorrelate — an identity copy (or a tiny
  *    perturbation) would hand every vector `factor-1` artificial
  *    near-duplicates and quadratically inflate the true near-dup pair
  *    count, mismeasuring the pipelines being scaled.
  *  - `events.ts` is re-emitted in whatever physical encoding the source
  *    generation uses (raw nanos BIGINT under `nanosAsLong`, or
  *    `timestamp[us]` on the regenerated corpus — `Tables.load` derives
  *    `ts_us` identically from either type). The time span is NOT
  *    stretched: a `factor`× corpus has `factor`× events per day, which is
  *    how real traffic grows.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.getOrCreate(
      GraftSession.builder(s"local[$cpus]", cpus))
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    run(spark, src, dst, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(Tables.path(src, t))
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.repartition(files).write.mode(SaveMode.Overwrite)
        .parquet(Tables.path(dst, t))

    // key base per referenced entity: max+1 of the owning table's key
    def base(t: String, key: String): Long =
      read(t).agg(max(col(key))).head.getLong(0) + 1L

    val custB = base("customer", "c_custkey")
    val suppB = base("supplier", "s_suppkey")
    val partB = base("part", "p_partkey")
    val orderB = base("orders", "o_orderkey")
    val eventB = base("events", "event_id")
    val userB = read("events").agg(max(col("user_id"))).head.getLong(0) + 1L
    val docB = base("documents", "doc_id")
    val vecB = base("embeddings", "vec_id")

    // one replica of `t` with key columns offset; content tweak per table
    def replicas(t: String, offsets: Map[String, Long],
                 tweak: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame =
      (0 until factor).map { i =>
        val df0 = read(t)
        val shifted = offsets.foldLeft(df0) { case (df, (c, b)) =>
          df.withColumn(c, col(c) + lit(b * i))
        }
        tweak(shifted, i).select(df0.columns.map(col).toSeq: _*)
      }.reduce(_ unionByName _)

    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)
    write(replicas("customer", Map("c_custkey" -> custB)), "customer", factor)
    write(replicas("supplier", Map("s_suppkey" -> suppB)), "supplier", 1)
    write(replicas("part", Map("p_partkey" -> partB)), "part", factor)
    write(replicas("orders",
      Map("o_orderkey" -> orderB, "o_custkey" -> custB)), "orders", 2 * factor)
    write(replicas("lineitem",
      Map("l_orderkey" -> orderB, "l_partkey" -> partB, "l_suppkey" -> suppB)),
      "lineitem", 4 * factor)
    write(replicas("events",
      Map("event_id" -> eventB, "user_id" -> userB)), "events", 2 * factor)
    write(replicas("documents", Map("doc_id" -> docB), tweak = (df, i) =>
      if (i == 0) df
      else df
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"r$i$$1"))
        .withColumn("n_chars", length(col("text")))),
      "documents", factor)
    write(replicas("embeddings", Map("vec_id" -> vecB), tweak = (df, i) =>
      if (i == 0) df
      else {
        val n = size(col("embedding"))
        val shift = lit(i * 17) % n
        df.withColumn("embedding", concat(
          slice(col("embedding"), shift + 1, n - shift),
          slice(col("embedding"), lit(1), shift)))
      }),
      "embeddings", factor)
  }
}
