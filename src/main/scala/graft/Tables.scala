package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * The reference leaves all schemas implicit (SURVEY.md §1.4); here the
  * parquet footers carry the schema. `Lake.readParquet` reads it from one
  * footer on the driver and hands it to the read, so loading a table
  * starts no Spark job, and the vectorized reader + column pruning +
  * predicate pushdown all apply.
  *
  * `events.ts` has shipped under TWO physical encodings across testdata
  * generations: parquet INT64 TIMESTAMP(NANOS) (read as a raw long under
  * `spark.sql.legacy.parquet.nanosAsLong` — Spark has no nanos timestamp
  * type) and plain `timestamp[us]` (read as TIMESTAMP_NTZ). [[tsUsCol]]
  * normalizes either to `ts_us` (microseconds since epoch, BIGINT) by
  * dispatching on the loaded schema, so every downstream operator and the
  * DuckDB oracle (`epoch_ns(ts)//1000`, valid on both DuckDB-side types)
  * compare exactly. The nanos branch uses integer division (a double
  * intermediate would lose precision above 2^53 ns) and truncates toward
  * zero while DuckDB's `//` floors — equivalent for the post-1970 testdata.
  * The µs branch measures the naive wall clock against the naive epoch with
  * `timestampdiff` over TIMESTAMP_NTZ operands — session-timezone-
  * independent by construction, exactly matching DuckDB's naive-timestamp
  * epoch in any session zone.
  *
  * The nanosAsLong conf is also set by the Verify/Bench/test session
  * builders; the set here is a fallback for externally-built sessions and is
  * session-global once applied (harmless when no NANOS column exists).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Monetary columns per table. SURVEY.md §1.4: the reference carries money
    * as IEEE double (kafka_producer.py:33) and names DECIMAL(18,2) the
    * principled choice. The testdata generator emits exact 2-decimal values
    * in every one of these columns (verified: round(c,2)=c for all rows), so
    * declaring them decimal is lossless — the profile changes the declared
    * type, never a value.
    */
  val MoneyColumns: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_totalprice"),
    "lineitem" -> Seq("l_extendedprice"),
    "customer" -> Seq("c_acctbal"),
    "supplier" -> Seq("s_acctbal"),
    "part" -> Seq("p_retailprice"),
    "events" -> Seq("value"))

  /** Session conf (or env `SPARK_GRAFT_MONEY_DECIMAL=true`, read by
    * [[GraftSession]]) that switches monetary columns to DECIMAL(18,2) at
    * the schema layer. Downstream aggregation is profile-agnostic: money
    * sums/averages already normalize through decimal(18,2) (queries/Q.scala),
    * and decimal×double arithmetic promotes to double, so query results are
    * bit-identical under either profile (MoneyProfileSpec pins this; the
    * oracle gates stay hash-green with the flag on).
    */
  val MoneyDecimalConf = "spark.graft.money.decimal"

  def moneyDecimal(spark: SparkSession): Boolean =
    spark.conf.getOption(MoneyDecimalConf).exists(_.toBoolean)

  private def moneyProfile(spark: SparkSession, name: String, df: DataFrame): DataFrame =
    if (!moneyDecimal(spark)) df
    else MoneyColumns.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.withColumn(c, col(c).cast("decimal(18,2)"))
    }

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Epoch-microseconds BIGINT for an events `ts` field of either physical
    * encoding (see class scaladoc). Schema-dispatched so it works on batch
    * AND streaming frames (where the schema is declared, not inferred).
    *
    * Every branch is SESSION-TIMEZONE-INDEPENDENT: the NTZ branch measures
    * the naive wall clock against the naive epoch with `timestampdiff`
    * (never casting through the zone-interpreting NTZ→LTZ conversion), and
    * `unix_micros` on an LTZ value reads the stored epoch directly. An
    * externally-built session in any zone therefore derives the same
    * `ts_us` as the pinned-UTC runtime sessions, with no session-global
    * conf mutation (an earlier fallback overwrote the caller's timezone
    * for every subsequent query — a side effect no table loader should
    * have).
    */
  def tsUsCol(tsType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    tsType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case _ => unix_micros(col("ts"))
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = graft.lake.Lake.readParquet(spark, path(dir, name))
        moneyProfile(spark, name,
          raw.withColumn("ts_us", tsUsCol(raw.schema("ts").dataType)))
      case _ =>
        moneyProfile(spark, name, graft.lake.Lake.readParquet(spark, path(dir, name)))
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
