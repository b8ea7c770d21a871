package graft

import org.apache.spark.sql.types._

/** Pins the NORMALIZED post-`Tables.load` schema of every testdata table.
  *
  * The round-6 regression was exactly a schema-generation drift: the
  * regenerated corpus re-encoded `events.ts` from parquet INT64(NANOS) to
  * `timestamp[us]`, and call sites with raw `ts` arithmetic broke while
  * the suite stayed green. This spec makes any future physical-encoding
  * drift fail loudly at the LOADER, naming the table and column — and pins
  * the loader's own normalization contract (`ts_us` is always BIGINT
  * epoch-micros regardless of the physical `ts` encoding).
  *
  * `events.ts` itself is deliberately pinned only as "one of the two
  * supported encodings": LongType (nanosAsLong raw int64) or a timestamp
  * type. Anything else is a NEW generation format that tsUsCol does not
  * dispatch on, and must fail here before it fails in 30 gates.
  */
class TablesSchemaSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def fields(t: String): Map[String, DataType] =
    Tables.load(spark, sf, t).schema.fields.map(f => f.name -> f.dataType).toMap

  private val expected: Map[String, Map[String, DataType]] = Map(
    "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Map("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Map("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderpriority" -> StringType),
    "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType),
    "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Map("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  test("non-event tables load with the pinned column types") {
    for ((t, cols) <- expected; (c, dt) <- cols) {
      val actual = fields(t)
      assert(actual.contains(c), s"$t: column $c missing (has ${actual.keys})")
      assert(actual(c) == dt, s"$t.$c: expected $dt, got ${actual(c)}")
    }
  }

  test("date columns load as a date or timestamp type") {
    // physical encoding of calendar columns has drifted before; both
    // engines' date arithmetic in the gates goes through explicit casts,
    // so pin only the type FAMILY here
    val od = fields("orders")("o_orderdate")
    val sd = fields("lineitem")("l_shipdate")
    for (dt <- Seq(od, sd))
      assert(dt == DateType || dt == TimestampType || dt == TimestampNTZType,
        s"calendar column loaded as $dt")
  }

  test("events: ts is a supported encoding and ts_us is always BIGINT") {
    val ev = Tables.load(spark, sf, "events")
    val tsType = ev.schema("ts").dataType
    assert(tsType == LongType || tsType == TimestampType || tsType == TimestampNTZType,
      s"events.ts loaded as $tsType — a NEW physical encoding tsUsCol does not dispatch on")
    assert(ev.schema("ts_us").dataType == LongType,
      s"normalized ts_us must be BIGINT, got ${ev.schema("ts_us").dataType}")
    for ((c, dt) <- Map("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
      assert(ev.schema(c).dataType == dt, s"events.$c: expected $dt, got ${ev.schema(c).dataType}")
  }

  test("ts_us derivation is session-timezone independent") {
    import org.apache.spark.sql.functions.{col, sum}
    val prior = spark.conf.get("spark.sql.session.timeZone")
    def tsMass(): Long =
      Tables.load(spark, sf, "events").agg(sum(col("ts_us"))).head.getLong(0)
    val underUtc = tsMass()
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(tsMass() === underUtc,
        "ts_us shifted with the session timezone — tsUsCol must be zone-independent")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("the driver-side schema resolver gives the schema Spark infers") {
    import graft.lake.{Lake, MergeOnRead}
    import spark.implicits._
    // a read under the resolved schema has the inferred read's schema,
    // partition columns (discovered from directory names) included
    def same(paths: String*): Unit = assert(
      Lake.readParquet(spark, paths: _*).schema === spark.read.parquet(paths: _*).schema,
      s"resolved schema differs from inference on ${paths.mkString(", ")}")
    // every testdata table; `events.ts` is read under nanosAsLong
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    Tables.all.foreach { t =>
      val p = Tables.path(sf, t)
      assert(Lake.parquetSchema(spark, p) === spark.read.parquet(p).schema, t)
    }
    // a lake version with both delete sidecars, its data files, a
    // partitioned stream feed, and the files after a metadata-only ADD COLUMN
    val root = java.nio.file.Files.createTempDirectory("resolver_spec_").toString
    Lake.writeTableSnapshot(
      (1 to 40).map(i => (i.toLong, i % 4, s"r$i", Seq(i.toDouble))).toDF("k", "u", "x", "a")
        .repartition(3), root, "rs")
    MergeOnRead.deleteByKeys(spark, root, "rs", Seq(2).toDF("u"))
    MergeOnRead.deleteWhere(spark, root, "rs", $"k" <= 5)
    val v = Lake.latestVersion(spark, root, "rs").get
    val dir = Lake.resolveSnapshotDir(spark, root, "rs", v)
    assert(MergeOnRead.hasDeletes(spark, root, "rs", v) &&
      MergeOnRead.hasEqDeletes(spark, root, "rs", v))
    same(s"$dir/${MergeOnRead.deletesName}")
    same(s"$dir/${MergeOnRead.eqDeletesName}")
    same(Lake.snapshotFiles(spark, root, "rs", v): _*)
    same(Lake.snapshotFiles(spark, root, "rs", v).reverse: _*)
    same(Lake.resolveSnapshotDir(spark, root, "rs", 1))
    Lake.appendStream(Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-02-03 10:00:00"))
      .toDF("id", "ts").withColumn("ts", $"ts".cast("timestamp")),
      root, "feed", eventTimeCol = Some("ts"))
    same(s"$root/streams/feed")
    val added = Lake.addColumn(spark, root, "rs",
      StructField("extra", StringType))
    same(Lake.snapshotFiles(spark, root, "rs", added): _*)
    assert(Lake.readTableFeed(spark, root, "rs").schema.fieldNames.last === "extra")
  }

  test("an empty or missing directory raises the error Spark raises") {
    import graft.lake.Lake
    val empty = java.nio.file.Files.createTempDirectory("resolver_empty_")
    java.nio.file.Files.createFile(empty.resolve("_SUCCESS"))
    for (p <- Seq(empty.toString, empty.resolve("missing").toString)) {
      val spark0 = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(p))
      val ours = intercept[org.apache.spark.sql.AnalysisException](
        Lake.readParquet(spark, p))
      assert(ours.getCondition === spark0.getCondition)
      assert(ours.getMessage === spark0.getMessage)
    }
  }

  test("no raw ts arithmetic outside Tables.tsUsCol (source audit)") {
    // the audit the round-6 breakage called for: every `ts DIV 1000` (the
    // nanos-encoding assumption) must live in exactly one place — tsUsCol
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p))
        if (text.contains("ts DIV 1000") && !p.toString.endsWith("Tables.scala"))
          Some(p.toString)
        else None
      }.toList
    assert(offenders.isEmpty,
      s"raw `ts DIV 1000` outside Tables.tsUsCol in: $offenders")
  }
}
