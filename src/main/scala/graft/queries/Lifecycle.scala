package graft.queries

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.governance.{DifferentialPrivacy, FeedCatalog, Permissions}
import graft.lake.{FilePruner, Lake, Retention}
import graft.warehouse.Warehouse
import Q.QueryFn

/** End-to-end lifecycle operators (SURVEY.md §3.2): each query runs a real
  * write→maintain→read-back cycle in a scratch lake and returns the
  * read-back result, so the DuckDB oracle checks the whole loop — write
  * fidelity, partition pruning, version retention, merge semantics — not
  * just a projection.
  */
object Lifecycle {

  private def scratch(prefix: String): String =
    graft.Tmp.dir(prefix).toString

  /** A6/A8 round-trip: events → event-date partitions → read back → per-day
    * counts. Oracle recomputes the same from the raw table, so partition
    * values must survive the write exactly.
    */
  def lakeRoundtrip(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_lake_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_micros(col("ts_us")).as("ts"))
    Lake.appendStream(ev, root, "events", eventTimeCol = Some("ts"))
    Lake.readStreamFeed(s, root, "events")
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("cnt"), Q.moneySum(col("value")).as("total"))
  }

  val lakeRoundtripOracle: String =
    """SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** A6 + partition pruning + C1 retention: append by event date, prune
    * days before 2024-01-15 (dry-run first — must delete nothing), then
    * read back the surviving days. Events span Jan 2024 (TESTDATA.md).
    */
  def retentionPrune(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_ret_")
    val cutoff = LocalDate.of(2024, 1, 15)
    val ev = Tables.events(s, d)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"))
    Lake.appendStream(ev, root, "events", eventTimeCol = Some("ts"))
    val preview = Retention.pruneStreamPartitions(s, root, "events", cutoff, dryRun = true)
    require(preview.forall(!_.deleted), "dry-run must not delete")
    Retention.pruneStreamPartitions(s, root, "events", cutoff, dryRun = false)
    Lake.readStreamFeed(s, root, "events")
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("cnt"))
  }

  val retentionPruneOracle: String =
    """SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day, COUNT(*) AS cnt
      |FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      |GROUP BY 1, 2, 3""".stripMargin

  /** A7 + C2: three snapshot writes with retention keep=2 → v1 pruned; the
    * surviving version list is deterministic, so a VALUES oracle checks it.
    */
  def tableVersions(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_ver_")
    val agg = Reference.b6PaymentTotals(s, d)
    (1 to 3).foreach(_ => Lake.writeTableSnapshot(agg, root, "payment_method_totals", retentionVersions = 2))
    import s.implicits._
    Lake.versions(s, root, "payment_method_totals")
      .map(v => ("v" + v, Lake.readTableFeed(s, root, "payment_method_totals", Some(v)).count()))
      .toDF("version", "n_rows")
  }

  val tableVersionsOracle: String =
    """SELECT 'v2' AS version, COUNT(DISTINCT o_orderpriority) AS n_rows FROM orders
      |UNION ALL
      |SELECT 'v3', COUNT(DISTINCT o_orderpriority) FROM orders""".stripMargin

  /** C16: RESTORE (rollback-by-roll-forward) — v1 is the good publish, v2 a
    * bad deploy that dropped a payment method, restore-to-v1 republishes the
    * v1 content as v3. The per-version (rows, exact money checksum) matrix
    * proves v3 ≡ v1 value-for-value while v2 stays in history untouched.
    * Checksums re-enter decimal(18,2) before summing, so the version-level
    * total is aggregation-order exact in both engines.
    */
  def restoreVersion(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_restore_")
    val full = Reference.b6PaymentTotals(s, d)
    Lake.writeTableSnapshot(full, root, "pm_totals")
    Lake.writeTableSnapshot(
      full.filter(col("payment_method") =!= "5-LOW"), root, "pm_totals")
    val v3 = Lake.restoreTable(s, root, "pm_totals", toVersion = 1)
    require(v3 == 3, s"restore must publish v3, got v$v3")
    import s.implicits._
    Lake.versions(s, root, "pm_totals").map { v =>
      val row = Lake.readTableFeed(s, root, "pm_totals", Some(v))
        .agg(count(lit(1)),
          sum(col("total_amount").cast("decimal(18,2)")).cast("double")).head
      ("v" + v, row.getLong(0), row.getDouble(1))
    }.toDF("version", "n_rows", "checksum")
  }

  val restoreVersionOracle: String =
    """WITH a AS (
      |  SELECT COUNT(DISTINCT o_orderpriority) AS n,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
      |  FROM orders),
      |f AS (
      |  SELECT COUNT(DISTINCT o_orderpriority) AS n,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
      |  FROM orders WHERE o_orderpriority <> '5-LOW')
      |SELECT 'v1' AS version, n AS n_rows, s AS checksum FROM a
      |UNION ALL SELECT 'v2', n, s FROM f
      |UNION ALL SELECT 'v3', n, s FROM a""".stripMargin

  /** A7 read-back: the latest snapshot of B6 must equal the live query —
    * proves overwrite-versioned storage preserves aggregate values exactly.
    */
  def snapshotReadback(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_snap_")
    Lake.writeTableSnapshot(Reference.b6PaymentTotals(s, d), root, "payment_method_totals")
    Lake.readTableFeed(s, root, "payment_method_totals")
  }

  /** A10/B9 warehouse MERGE: load dim_users, apply an update batch twice
    * (idempotence), read back. Updated rows carry the second stamp; the
    * oracle reproduces the merge in SQL.
    */
  def dimUpsert(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_wh_")
    val day1 = Date.valueOf("2024-06-01")
    val day2 = Date.valueOf("2024-06-02")
    val base = Warehouse.dimUsers(Tables.customer(s, d), day1)
    Warehouse.mergeIntoTable(s, root, "dim_users", base, Seq("user_id"), Seq("updated_at"))
    val updates = Warehouse.dimUsers(
      Tables.customer(s, d).filter(col("c_custkey") % 10 === 0), day2)
      .withColumn("user_segment", lit("VIP"))
    // applied twice: MERGE must be idempotent (SURVEY.md §5.3)
    Warehouse.mergeIntoTable(s, root, "dim_users", updates, Seq("user_id"), Seq("updated_at"))
    Warehouse.mergeIntoTable(s, root, "dim_users", updates, Seq("user_id"), Seq("updated_at"))
    Lake.readTableFeed(s, root, "dim_users")
  }

  val dimUpsertOracle: String =
    """SELECT c_custkey AS user_id, c_name AS user_name,
      |       CAST(c_nationkey AS INT) AS user_nation,
      |       CASE WHEN c_custkey % 10 = 0 THEN 'VIP' ELSE c_mktsegment END AS user_segment,
      |       CASE WHEN c_custkey % 10 = 0 THEN DATE '2024-06-02' ELSE DATE '2024-06-01' END AS updated_at
      |FROM customer""".stripMargin

  /** Incremental warehouse sync off the change-data feed
    * ([[graft.governance.Orchestrator.syncIncremental]]) — the incremental
    * form of the reference's full re-sync (sync_to_mysql.py:326-352). A
    * versioned source dim goes through three ticks: full state (v1), a
    * VIP-segment update batch plus a deletion slice (v2), a GOLD batch
    * overriding part of the VIPs (v3). After each tick the sync consumes
    * ONLY the changed keys (watermark + [[Lake.tableChanges]] + semi-join)
    * and merges them; deleted keys persist at their last-seen values, like
    * the reference's never-deleting `ON DUPLICATE KEY UPDATE` sink. The
    * gate outputs the final warehouse table; the oracle recomputes the
    * expected per-key end state (deletion shadows later updates for the
    * %13 slice) and the spec pins incremental ≡ full-recompute per tick.
    */
  def syncIncrementalGate(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_syncinc_")
    val day = (n: Int) => Date.valueOf(s"2024-06-0$n")
    val base = Tables.customer(s, d).select(
      col("c_custkey").as("user_id"),
      col("c_name").as("user_name"),
      col("c_mktsegment").as("segment"),
      lit(day(1)).as("updated_at"))
    val v2 = base
      .filter(col("user_id") % 13 =!= 0) // deletion slice
      .withColumn("segment",
        when(col("user_id") % 10 === 0, lit("VIP")).otherwise(col("segment")))
      .withColumn("updated_at",
        when(col("user_id") % 10 === 0, lit(day(2))).otherwise(col("updated_at")))
    val v3 = v2
      .withColumn("updated_at",
        when(col("user_id") % 7 === 0, lit(day(3))).otherwise(col("updated_at")))
      .withColumn("segment",
        when(col("user_id") % 7 === 0, lit("GOLD")).otherwise(col("segment")))
    for (snap <- Seq(base, v2, v3)) {
      Lake.writeTableSnapshot(snap, root, "dim_src", retentionVersions = Int.MaxValue)
      graft.governance.Orchestrator.syncIncremental(s, root,
        srcTable = "dim_src", whTable = "dim_sync",
        keys = Seq("user_id"), orderCols = Seq("snapshot_version"))
    }
    Lake.readTableFeed(s, root, "dim_sync")
  }

  val syncIncrementalOracle: String =
    """SELECT c_custkey AS user_id, c_name AS user_name,
      |       CASE WHEN c_custkey % 13 = 0 THEN c_mktsegment
      |            WHEN c_custkey % 7 = 0 THEN 'GOLD'
      |            WHEN c_custkey % 10 = 0 THEN 'VIP'
      |            ELSE c_mktsegment END AS segment,
      |       CASE WHEN c_custkey % 13 = 0 THEN DATE '2024-06-01'
      |            WHEN c_custkey % 7 = 0 THEN DATE '2024-06-03'
      |            WHEN c_custkey % 10 = 0 THEN DATE '2024-06-02'
      |            ELSE DATE '2024-06-01' END AS updated_at,
      |       CASE WHEN c_custkey % 13 = 0 THEN 1
      |            WHEN c_custkey % 7 = 0 THEN 3
      |            WHEN c_custkey % 10 = 0 THEN 2
      |            ELSE 1 END AS snapshot_version
      |FROM customer""".stripMargin

  /** A10 through a REAL JDBC database: the same dim_users merge cycle as
    * [[dimUpsert]], but the warehouse table lives in embedded Derby behind
    * `Warehouse.mergeIntoJdbc` — load, VIP update batch applied twice
    * (idempotence), read back OVER JDBC. Same oracle as the parquet-backed
    * gate: the storage engine must be invisible in the merged result,
    * which is exactly the claim that absorbing the reference's MySQL sink
    * into the generic merge rests on.
    */
  def jdbcUpsert(s: SparkSession, d: String): DataFrame = {
    System.setProperty("derby.stream.error.path", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graft_" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
    val day1 = Date.valueOf("2024-06-01")
    val day2 = Date.valueOf("2024-06-02")
    val base = Warehouse.dimUsers(Tables.customer(s, d), day1)
    Warehouse.mergeIntoJdbc(s, url, "dim_users", base, Seq("user_id"), Seq("updated_at"))
    val updates = Warehouse.dimUsers(
      Tables.customer(s, d).filter(col("c_custkey") % 10 === 0), day2)
      .withColumn("user_segment", lit("VIP"))
    Warehouse.mergeIntoJdbc(s, url, "dim_users", updates, Seq("user_id"), Seq("updated_at"))
    Warehouse.mergeIntoJdbc(s, url, "dim_users", updates, Seq("user_id"), Seq("updated_at"))
    val out = s.read.format("jdbc")
      .option("url", url).option("dbtable", "dim_users").load().persist()
    out.count() // materialize before the database is dropped
    dropDerbyMemoryDb(url)
    out
  }

  /** An in-memory Derby database lives for the JVM unless explicitly
    * dropped; a successful `;drop=true` connect signals via SQLException.
    */
  private def dropDerbyMemoryDb(url: String): Unit =
    try {
      java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
      ()
    } catch { case _: java.sql.SQLException => () }

  val jdbcUpsertOracle: String = dimUpsertOracle

  /** SCD Type 2 over two update generations: customers seeded as current
    * rows, then (gen 1, 2024-03-01) every 7th key changes segment, every
    * 11th is re-delivered UNCHANGED (must be a no-op), and fresh keys
    * arrive; (gen 2, 2024-06-01) every 21st key changes again — so those
    * keys end with a three-row chain and the no-op rows prove idempotent
    * redelivery. The oracle rebuilds every chain case by case.
    */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val init = c
      .withColumn("valid_from", lit(Date.valueOf("2024-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    val upd1 = c.filter(col("user_id") % 7 === 0)
      .withColumn("segment", lit("MOVED7"))
      .unionByName(c.filter(col("user_id") % 11 === 0 && col("user_id") % 7 =!= 0))
      .unionByName(c.filter(col("user_id") % 13 === 0)
        .select((col("user_id") + 1000000L).as("user_id"), lit("FRESH").as("segment")))
      .withColumn("effective_from", lit(Date.valueOf("2024-03-01")))
    val v1 = Warehouse.scd2Apply(init, upd1, "user_id", Seq("segment"))
    val upd2 = c.filter(col("user_id") % 21 === 0)
      .select(col("user_id"), lit("MOVED21").as("segment"),
        lit(Date.valueOf("2024-06-01")).as("effective_from"))
    Warehouse.scd2Apply(v1, upd2, "user_id", Seq("segment"))
  }

  val scd2HistoryOracle: String =
    """WITH c AS (SELECT c_custkey AS user_id, c_mktsegment AS seg FROM customer)
      |SELECT user_id, seg AS segment, DATE '2024-01-01' AS valid_from,
      |       CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
      |FROM c WHERE user_id % 7 <> 0
      |UNION ALL
      |SELECT user_id, seg, DATE '2024-01-01', DATE '2024-03-01', FALSE
      |FROM c WHERE user_id % 7 = 0
      |UNION ALL
      |SELECT user_id, 'MOVED7', DATE '2024-03-01', NULL, TRUE
      |FROM c WHERE user_id % 7 = 0 AND user_id % 21 <> 0
      |UNION ALL
      |SELECT user_id, 'MOVED7', DATE '2024-03-01', DATE '2024-06-01', FALSE
      |FROM c WHERE user_id % 21 = 0
      |UNION ALL
      |SELECT user_id, 'MOVED21', DATE '2024-06-01', NULL, TRUE
      |FROM c WHERE user_id % 21 = 0
      |UNION ALL
      |SELECT user_id + 1000000, 'FRESH', DATE '2024-03-01', NULL, TRUE
      |FROM c WHERE user_id % 13 = 0""".stripMargin

  /** File-level data skipping end-to-end: events clustered by `user_id`
    * into range-sorted files, a one-scan min/max index built, then a range
    * read that opens ONLY the files whose stats admit the range. The oracle
    * is the plain filter over the raw table — skipping must be invisible in
    * results (LakeSpec asserts it actually skips).
    */
  def fileSkipping(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_skip_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.lake.FileStats.writeClustered(ev, s"$root/events", "user_id", numFiles = 8)
    graft.lake.FileStats.buildStats(s, s"$root/events", s"$root/stats", Seq("user_id"))
    graft.lake.FileStats.readRange(s, s"$root/stats", "user_id", 100L, 200L)
  }

  val fileSkippingOracle: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE user_id BETWEEN 100 AND 200""".stripMargin

  /** Bloom point-lookup skipping: events clustered by USER (so event_ids
    * scatter across files and a min/max index on event_id would prune
    * nothing), a per-file bloom index built on event_id in one scan, then
    * a 5-key point lookup that opens only bloom-admitted files. The oracle
    * is the plain IN filter — false positives may cost IO, never rows;
    * LakeSpec asserts the pruning ratio and the no-false-negative contract.
    */
  def bloomPoint(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_bloompt_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.lake.FileStats.writeClustered(ev, s"$root/events", "user_id", numFiles = 8)
    graft.lake.BloomIndex.build(s, s"$root/events", s"$root/bloom", "event_id")
    graft.lake.BloomIndex.readPoint(s, s"$root/events", s"$root/bloom", "event_id",
      Seq(11L, 222L, 3333L, 4444L, 5555L))
  }

  val bloomPointOracle: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE event_id IN (11, 222, 3333, 4444, 5555)""".stripMargin

  /** Write-audit-publish: a base batch publishes as v1; a DIRTY batch
    * (planted out-of-range values) is staged, audited, REJECTED — the live
    * table must still read as v1; a clean second batch then publishes as
    * v2. The gate returns the final table + the version stamp, so the
    * oracle proves both that the dirty batch never became visible and that
    * the clean pipeline advanced exactly one version.
    */
  def wapPublish(s: SparkSession, d: String): DataFrame = {
    import graft.governance.Quality
    val root = scratch("graft_wap_")
    val checks = Seq(
      Quality.NotNull("o_orderstatus"),
      Quality.InRange("o_totalprice", 0, 1e9))
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val r1 = Lake.writeAuditPublish(base, root, "orders_curated", checks)
    require(r1.published && r1.version.contains(1), s"base batch must publish v1: $r1")
    val dirty = base.withColumn("o_totalprice",
      when(col("o_orderkey") % 100 === 0, lit(-5.0)).otherwise(col("o_totalprice")))
    val r2 = Lake.writeAuditPublish(dirty, root, "orders_curated", checks)
    require(!r2.published &&
      r2.failedChecks.forall(_.startsWith("in_range(o_totalprice")) &&
      r2.failedChecks.nonEmpty,
      s"dirty batch must be rejected on the range check alone: $r2")
    val clean = base.filter(col("o_orderstatus") =!= "F")
    val r3 = Lake.writeAuditPublish(clean, root, "orders_curated", checks)
    require(r3.published && r3.version.contains(2), s"clean batch must publish v2: $r3")
    Lake.readTableFeed(s, root, "orders_curated")
      .withColumn("table_version", lit(Lake.latestVersion(s, root, "orders_curated").get))
  }

  val wapPublishOracle: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, 2 AS table_version
      |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin

  /** Z-order skipping end-to-end: events clustered on the Morton interleave
    * of (user_id, day-of-month), indexed, then range-read on user_id ALONE
    * — the dimension a single-column day layout could not prune. The
    * oracle is the plain filter; the both-dimensions pruning ratio is
    * pinned in LakeSpec. 16 z-bits cover user ids to 65535; a wider id
    * domain folds (or re-scales) before interleaving.
    */
  def zorderSkipping(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_zo_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        dayofmonth(timestamp_micros(col("ts_us"))).cast("long").as("day"))
    graft.lake.FileStats.writeClusteredZ(ev, s"$root/events", "user_id", "day",
      bits = 16, numFiles = 8)
    graft.lake.FileStats.buildStats(s, s"$root/events", s"$root/stats", Seq("user_id", "day"))
    graft.lake.FileStats.readRange(s, s"$root/stats", "user_id", 40L, 80L)
  }

  val zorderSkippingOracle: String =
    """SELECT event_id, user_id, value, CAST(day(ts) AS BIGINT) AS day
      |FROM events WHERE user_id BETWEEN 40 AND 80""".stripMargin

  /** DataSource V2 connector end-to-end (`graft.sources.StatsCsvSource`):
    * events are clustered into stats-indexed CSV by the companion writer,
    * then read back through `format("graft-stats-csv")` with a range filter
    * and a 3-of-4 column projection — so the oracle checks the WHOLE V2
    * contract: sidecar schema inference, file-skipping filter pushdown
    * (planInputPartitions must not change results, only prune work),
    * byte-level column pruning, and exact long/double/string round-trips
    * through CSV text. SourcesSpec pins the pruning itself (files actually
    * skipped, readSchema actually narrowed).
    */
  def dsv2Scan(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_dsv2_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.sources.StatsCsvFormat.write(ev, root, "user_id", numFiles = 8)
    s.read.format("graft-stats-csv").load(root)
      .filter(col("user_id") >= 100 && col("user_id") <= 200)
      .select(col("event_id"), col("user_id"), col("value"))
  }

  val dsv2ScanOracle: String =
    """SELECT event_id, user_id, value
      |FROM events WHERE user_id BETWEEN 100 AND 200""".stripMargin

  /** DSv2 AGGREGATE pushdown: ungrouped MIN/MAX/COUNT(*) over the stats
    * column are answered entirely from the sidecar index — the planner
    * never lists a data file (SourcesSpec pins the scan class and the
    * single synthetic partition). The oracle recomputes the same aggregates
    * from the raw table, proving the index-answered values are exact.
    */
  def dsv2Agg(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_dsv2a_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.sources.StatsCsvFormat.write(ev, root, "user_id", numFiles = 8)
    s.read.format("graft-stats-csv").load(root)
      .agg(min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        count(lit(1)).as("n"))
  }

  val dsv2AggOracle: String =
    """SELECT min(user_id) AS min_user, max(user_id) AS max_user,
      |       count(*) AS n
      |FROM events""".stripMargin

  /** DSv2 WRITE path end-to-end: events go through the connector's own
    * `BatchWrite` (`df.write.format("graft-stats-csv")` — no manual
    * repartition: the write declares its range-cluster + sort layout via
    * `RequiresDistributionAndOrdering`, stages files, folds the stats index
    * in-line, and two-phase-commits files-then-sidecars), then read back
    * with a range filter that exercises the file skipping the write's own
    * stats enable. The oracle proves the full write→read round trip is
    * value-exact; SourcesSpec pins the layout (disjoint per-file ranges),
    * truncate semantics, and abort cleanliness.
    */
  def dsv2Write(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_dsv2w_")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.format("graft-stats-csv")
      .option("cluster", "user_id").option("numFiles", "8")
      .mode(SaveMode.Overwrite).save(root)
    s.read.format("graft-stats-csv").load(root)
      .filter(col("user_id") >= 40 && col("user_id") <= 90)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  val dsv2WriteOracle: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE user_id BETWEEN 40 AND 90""".stripMargin

  /** C9 right-to-be-forgotten: events land in a date-partitioned lake, then
    * every row of the requested subjects (user_id % 13 == 0 — a deletion-
    * requests relation, not a driver list) is physically erased via
    * `Lake.eraseKeys` — only partitions containing subjects are rewritten,
    * through the crash-safe swap protocol. The gate returns per-day
    * remaining counts from the POST-ERASURE lake joined with the audit's
    * removed counts; the oracle recomputes both from the raw table, so the
    * erasure must delete exactly the subjects' rows and nothing else.
    */
  def gdprErasure(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_gdpr_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_micros(col("ts_us")).as("ts"))
    Lake.appendStream(ev, root, "events", eventTimeCol = Some("ts"))
    val keys = Tables.events(s, d).select(col("user_id"))
      .filter(col("user_id") % 13 === 0).distinct()
    val audit = Lake.eraseKeys(s, root, "events", "user_id", keys)
    val auditDf = s.createDataFrame(audit)
      .select(col("year"), col("month"), col("day"), col("removed"))
    Lake.readStreamFeed(s, root, "events")
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("remaining"))
      .join(auditDf, Seq("year", "month", "day"), "left")
      .select(col("year"), col("month"), col("day"), col("remaining"),
        coalesce(col("removed"), lit(0L)).as("removed"))
  }

  val gdprErasureOracle: String =
    """SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
      |       CAST(SUM(CASE WHEN user_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS remaining,
      |       CAST(SUM(CASE WHEN user_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS removed
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** Surrogate-key lifecycle over two dimension batches: batch 1 (half the
    * customers) is assigned dense keys 1..n by natural-key order; batch 2
    * (ALL customers, so half are re-arrivals) must leave every existing
    * assignment untouched and extend the sequence for the newcomers only.
    * The oracle rebuilds the same two-step assignment in SQL, so both
    * stability and density are hash-checked.
    */
  def surrogateKeys(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d).select(col("c_custkey"))
    val empty = Seq.empty[(Long, Long)].toDF("c_custkey", "sk")
    val gen1 = Warehouse.assignSurrogateKeys(empty, cust.filter(col("c_custkey") % 2 === 0), "c_custkey")
    Warehouse.assignSurrogateKeys(gen1, cust, "c_custkey")
  }

  val surrogateKeysOracle: String =
    """WITH g1 AS (SELECT c_custkey,
      |                   CAST(rank() OVER (ORDER BY c_custkey) AS BIGINT) AS sk
      |            FROM customer WHERE c_custkey % 2 = 0),
      |g2 AS (SELECT c_custkey,
      |              (SELECT max(sk) FROM g1)
      |                + CAST(rank() OVER (ORDER BY c_custkey) AS BIGINT) AS sk
      |       FROM customer WHERE c_custkey % 2 <> 0)
      |SELECT * FROM g1 UNION ALL SELECT * FROM g2""".stripMargin

  /** Distribution-drift detection between two time slices of the event
    * stream (first vs second half of January): per event_type, the share
    * drift test |pA − pB| > 5 % is evaluated in EXACT integer
    * cross-multiplication — `|cA·nB − cB·nA|·20 > nA·nB` — so the boolean
    * verdicts are engine-identical with no float division anywhere. The
    * monitoring op behind "did the pipeline's input change shape".
    */
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val slice = Tables.events(s, d)
      .select(col("event_type"),
        (expr("ts_us div 86400000000") < lit(19738L)).as("first_half"))
    val agg = slice.groupBy(col("event_type")).agg(
      sum(when(col("first_half"), 1L).otherwise(0L)).as("c_a"),
      sum(when(!col("first_half"), 1L).otherwise(0L)).as("c_b"))
    val totals = agg.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    agg.crossJoin(broadcast(totals))
      .select(col("event_type"), col("c_a"), col("c_b"),
        (abs(col("c_a") * col("n_b") - col("c_b") * col("n_a")) * 20 >
          col("n_a") * col("n_b")).as("drifted"))
  }

  val profileDriftOracle: String =
    """WITH s AS (SELECT event_type,
      |                  (epoch_ns(ts) // 1000) // 86400000000 < 19738 AS first_half
      |           FROM events),
      |agg AS (SELECT event_type,
      |               CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |               CAST(SUM(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      |        FROM s GROUP BY 1),
      |t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b FROM agg)
      |SELECT event_type, c_a, c_b,
      |       abs(c_a * n_b - c_b * n_a) * 20 > n_a * n_b AS drifted
      |FROM agg CROSS JOIN t""".stripMargin

  /** C11 analysis-time read enforcement: the permission catalog is wired
    * into Catalyst as a CHECK RULE (GraftExtensions.injectCheckRule), so a
    * query over a path the installed principal has no read/admin grant for
    * fails at analysis — before any scan. The gate exercises the full 2×2:
    * alice (read on one dataset) and bob (admin at the lake root) each
    * attempt both datasets; attempts run with install/clear bracketing so
    * the harness session is untouched afterwards. Deterministic boolean
    * matrix → VALUES oracle.
    */
  def readGuard(s: SparkSession, d: String): DataFrame = {
    import graft.governance.{Permissions, ReadGuard}
    val root = scratch("graft_guard_")
    val asOf = Date.valueOf("2024-06-01")
    val at = Timestamp.valueOf("2024-06-01 00:00:00")
    Tables.region(s, d).write.mode(SaveMode.Overwrite).parquet(s"$root/allowed")
    Tables.nation(s, d).write.mode(SaveMode.Overwrite).parquet(s"$root/secret")
    var perms = Permissions.empty(s)
    perms = Permissions.grant(perms, "alice@corp", s"$root/allowed", "read", "root@corp", at)
    perms = Permissions.grant(perms, "bob@corp", root, "admin", "root@corp", at)
    perms = perms.persist()
    perms.count()
    def attempt(principal: String, dir: String): Boolean = {
      ReadGuard.install(perms, principal, asOf)
      try { s.read.parquet(s"$root/$dir").count(); true }
      catch { case _: SecurityException => false }
      finally ReadGuard.clear()
    }
    val rows = for {
      principal <- Seq("alice@corp", "bob@corp")
      dataset <- Seq("allowed", "secret")
    } yield (principal, dataset, attempt(principal, dataset))
    import s.implicits._
    rows.toDF("principal", "dataset", "allowed")
  }

  val readGuardOracle: String =
    """SELECT * FROM (VALUES
      |  ('alice@corp', 'allowed', true), ('alice@corp', 'secret', false),
      |  ('bob@corp', 'allowed', true), ('bob@corp', 'secret', true))
      |  t(principal, dataset, allowed)""".stripMargin

  /** C13 column-level masking: the engine-side version of the reference's
    * anonymized twin stream (data_lake_config.py:60-68) — ONE table, and
    * reads are rewritten by the injected [[graft.governance.ColumnMask]]
    * rule while policies are installed. The analyst read sees `o_orderpriority`
    * pseudonymized (sha2-256, join-stable) and `o_totalprice` redacted to
    * NULL; the admin read (policies cleared) sees raw values. Both reads
    * run the same code — only the installed policy set differs — and the
    * oracle recomputes both halves, so the gate hash-proves masking is
    * applied when installed and absent when cleared. Each half is
    * snapshot-materialized under its own policy state (the returned
    * policy-free scan cannot drift if policies change later).
    */
  def columnMask(s: SparkSession, d: String): DataFrame = {
    import graft.governance.ColumnMask
    import ColumnMask.{Policy, Pseudonym, Redact}
    val root = scratch("graft_mask_")
    Tables.orders(s, d).filter(col("o_orderkey") <= 2000)
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/orders_pii")
    val policies = Seq(
      Policy(s"$root/orders_pii", "o_orderpriority", Pseudonym),
      Policy(s"$root/orders_pii", "o_totalprice", Redact))
    def readAs(masked: Boolean, who: String): DataFrame = {
      if (masked) ColumnMask.install(policies)
      // distributed snapshot, not collect(): the masked plan executes while
      // the policy is installed; the returned scan (policy-free temp path)
      // cannot drift if policies change later, and the driver holds no rows
      try Q.snapshot(s.read.parquet(s"$root/orders_pii").withColumn("who", lit(who)))
      finally ColumnMask.clear()
    }
    readAs(masked = true, "analyst").unionByName(readAs(masked = false, "admin"))
  }

  val columnMaskOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey <= 2000)
      |SELECT o_orderkey, sha256(o_orderpriority) AS o_orderpriority,
      |       CAST(NULL AS DOUBLE) AS o_totalprice, o_orderstatus,
      |       'analyst' AS who
      |FROM base
      |UNION ALL
      |SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderstatus, 'admin' AS who
      |FROM base""".stripMargin

  /** C18 row-level security: reads of a protected table are filtered by
    * the injected [[graft.governance.RowFilter]] rule while policies are
    * installed. The tenant read sees only its nations' positive-balance
    * customers (two covering policies AND together; `c_acctbal > 0`
    * exercises the analyzer's int→double literal coercion on the policy
    * text); the admin read (policies cleared) sees every row. Both reads
    * run the same code — only the installed policy set differs — and the
    * oracle recomputes both halves, hash-proving the filter is applied
    * when installed and absent when cleared. The predicate lands on the
    * scan leaf, so it pushes into the parquet reader like a user filter
    * (PLANS pins PushedFilters carrying the policy).
    */
  def rowFilter(s: SparkSession, d: String): DataFrame = {
    import graft.governance.RowFilter
    import RowFilter.Policy
    val root = scratch("graft_rls_")
    Tables.customer(s, d)
      .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/customer_rls")
    val policies = Seq(
      Policy(s"$root/customer_rls", "c_nationkey IN (1, 2, 3)"),
      Policy(s"$root/customer_rls", "c_acctbal > 0"))
    def readAs(filteredRead: Boolean, who: String): DataFrame = {
      if (filteredRead) RowFilter.install(policies)
      // distributed snapshot, not collect() — same rationale as columnMask
      try Q.snapshot(s.read.parquet(s"$root/customer_rls").withColumn("who", lit(who)))
      finally RowFilter.clear()
    }
    readAs(filteredRead = true, "tenant").unionByName(readAs(filteredRead = false, "admin"))
  }

  val rowFilterOracle: String =
    """WITH base AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment FROM customer)
      |SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, 'tenant' AS who
      |FROM base WHERE c_nationkey IN (1, 2, 3) AND c_acctbal > 0
      |UNION ALL
      |SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment, 'admin' AS who
      |FROM base""".stripMargin

  /** C19 read auditing: while a principal is installed, the injected
    * [[graft.governance.ReadAudit]] check rule records every file-backed
    * relation of every ANALYZED plan — the attempt is captured before any
    * execution, with a monotone sequence preserving order. The gate plans
    * reads as two principals (alice twice on one dataset, once on another;
    * bob once), plans one read with auditing cleared (must not appear),
    * and emits per-(principal, dataset) counts plus the first sequence
    * number — proving attribution, count and ORDER of the audit trail.
    * Note the audited act is PLANNING (`spark.read.parquet(...)` alone),
    * no job runs for the audited reads at all.
    */
  def readAudit(s: SparkSession, d: String): DataFrame = {
    import graft.governance.ReadAudit
    val root = scratch("graft_audit_")
    Tables.nation(s, d).write.mode(SaveMode.Overwrite).parquet(s"$root/ds_a")
    Tables.region(s, d).write.mode(SaveMode.Overwrite).parquet(s"$root/ds_b")
    ReadAudit.reset()
    ReadAudit.install("alice@corp")
    try {
      s.read.parquet(s"$root/ds_a")
      s.read.parquet(s"$root/ds_a")
      s.read.parquet(s"$root/ds_b")
    } finally ReadAudit.clear()
    ReadAudit.install("bob@corp")
    try s.read.parquet(s"$root/ds_b") finally ReadAudit.clear()
    s.read.parquet(s"$root/ds_a") // cleared: must not be audited
    ReadAudit.log(s)
      .withColumn("dataset", element_at(split(col("path"), "/"), -1))
      .filter(col("dataset").isin("ds_a", "ds_b"))
      .groupBy(col("principal"), col("dataset"))
      .agg(count(lit(1)).as("n_reads"), min(col("seq")).as("first_seq"))
  }

  val readAuditOracle: String =
    """SELECT * FROM (VALUES
      |  ('alice@corp', 'ds_a', CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('alice@corp', 'ds_b', CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
      |  ('bob@corp',  'ds_b', CAST(1 AS BIGINT), CAST(3 AS BIGINT)))
      |  t(principal, dataset, n_reads, first_seq)""".stripMargin

  /** C19b audit-log flush: the at-scale half of read auditing — the
    * in-memory buffer drains to a VERSIONED lake table
    * ([[graft.governance.ReadAudit.flush]]), so a multi-day deployment's
    * driver memory holds only the entries since the last flush. The gate
    * records reads as three principals with TWO flushes interleaved, then
    * splices the flushed snapshots with the still-buffered tail and emits
    * the exact (seq, principal, dataset, src) sequence: hash-verifying it
    * proves (a) each flush drained precisely its window into its own
    * snapshot version, (b) the monotone seq survives flush boundaries
    * unchanged, and (c) nothing was lost, duplicated, or reordered across
    * the memory→lake transition.
    */
  def auditFlush(s: SparkSession, d: String): DataFrame = {
    import graft.governance.ReadAudit
    val root = scratch("graft_auditf_")
    Tables.nation(s, d).write.mode(SaveMode.Overwrite).parquet(s"$root/ds_a")
    Tables.region(s, d).write.mode(SaveMode.Overwrite).parquet(s"$root/ds_b")
    ReadAudit.reset()
    ReadAudit.install("alice@corp")
    try {
      s.read.parquet(s"$root/ds_a")
      s.read.parquet(s"$root/ds_b")
    } finally ReadAudit.clear()
    val v1 = ReadAudit.flush(s, s"$root/lake") // drains alice's window
    ReadAudit.install("bob@corp")
    try s.read.parquet(s"$root/ds_a") finally ReadAudit.clear()
    val v2 = ReadAudit.flush(s, s"$root/lake") // drains bob's window
    require(v1.exists(_ < v2.getOrElse(0)),
      s"flushes must mint increasing snapshot versions ($v1, $v2)")
    require(ReadAudit.flush(s, s"$root/lake").isEmpty,
      "an empty buffer must not mint a snapshot version")
    ReadAudit.install("carol@corp")
    try s.read.parquet(s"$root/ds_b") finally ReadAudit.clear()
    val lake = ReadAudit.flushed(s, s"$root/lake").withColumn("src", lit("lake"))
    val mem = ReadAudit.log(s).withColumn("src", lit("mem"))
    lake.unionByName(mem)
      .withColumn("dataset", element_at(split(col("path"), "/"), -1))
      .filter(col("dataset").isin("ds_a", "ds_b"))
      .select(col("seq"), col("principal"), col("dataset"), col("src"))
  }

  val auditFlushOracle: String =
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT), 'alice@corp', 'ds_a', 'lake'),
      |  (CAST(1 AS BIGINT), 'alice@corp', 'ds_b', 'lake'),
      |  (CAST(2 AS BIGINT), 'bob@corp',   'ds_a', 'lake'),
      |  (CAST(3 AS BIGINT), 'carol@corp', 'ds_b', 'mem'))
      |  t(seq, principal, dataset, src)""".stripMargin

  private val catalogN = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A19 catalog SQL + time travel: the versioned lake exposed through a
    * DataSource V2 `TableCatalog`
    * ([[org.apache.spark.sql.graft.GraftCatalog]]) — tables addressed BY
    * NAME from SQL (the surface the reference gets from ksqlDB/MySQL),
    * with `VERSION AS OF` resolving pinned snapshots through the catalog
    * API itself. Three snapshot generations of an order summary are
    * committed via `Lake.writeTableSnapshot` (the OCC claim path), then
    * read back as v1, v2 and latest PURELY through SQL text — no paths in
    * the queries. Reads plan through Spark's own ParquetTable, so
    * pushdown/pruning behave exactly as path reads of the same snapshot.
    * The catalog name is uniqued per call: Spark caches catalog INSTANCES
    * per session, and this gate's root is a fresh scratch dir each run.
    */
  def catalogSql(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_cat_")
    def snap(maxKey: Int): DataFrame =
      Tables.orders(s, d).filter(col("o_orderkey") <= maxKey)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Q.moneySum(col("o_totalprice")).as("total"))
    Lake.writeTableSnapshot(snap(5000), root, "order_summary")
    Lake.writeTableSnapshot(snap(10000), root, "order_summary")
    Lake.writeTableSnapshot(snap(15000), root, "order_summary")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    def q(asof: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$asof' AS asof, o_orderpriority, n, total " +
        s"FROM $cat.tables.order_summary$suffix")
    q("v1", " VERSION AS OF 1")
      .unionByName(q("v2", " VERSION AS OF 2"))
      .unionByName(q("latest", ""))
  }

  val catalogSqlOracle: String =
    """SELECT 'v1' AS asof, o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey <= 5000 GROUP BY 2
      |UNION ALL
      |SELECT 'v2', o_orderpriority, COUNT(*),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM orders WHERE o_orderkey <= 10000 GROUP BY 2
      |UNION ALL
      |SELECT 'latest', o_orderpriority, COUNT(*),
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM orders WHERE o_orderkey <= 15000 GROUP BY 2""".stripMargin

  /** A20 catalog SQL writes: INSERTs through the
    * [[org.apache.spark.sql.graft.GraftCatalog]] COMMIT NEW VERSIONS via
    * the same staged-claim protocol as the library API — SQL is a full
    * read/write front door, not a read-only view. v1 seeds through
    * `Lake.writeTableSnapshot`; `INSERT INTO` (append-as-new-version)
    * commits v2 = v1 ∪ new rows; `INSERT OVERWRITE` commits v3 = exactly
    * the query result. All three versions are then read back via time
    * travel in one output — proving the SQL writes versioned rather than
    * mutated, and that v1/v2 stayed readable after every write.
    */
  def catalogInsert(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_cati_")
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    Lake.writeTableSnapshot(nat.filter(col("n_nationkey") < 10), root, "nations_sql")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    nat.createOrReplaceTempView("nation_src")
    s.sql(s"INSERT INTO $cat.tables.nations_sql " +
      "SELECT n_nationkey, n_name FROM nation_src WHERE n_nationkey BETWEEN 10 AND 14")
    s.sql(s"INSERT OVERWRITE $cat.tables.nations_sql " +
      "SELECT n_nationkey, n_name FROM nation_src WHERE n_nationkey >= 20")
    def q(asof: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$asof' AS asof, n_nationkey, n_name FROM $cat.tables.nations_sql$suffix")
    q("v1", " VERSION AS OF 1")
      .unionByName(q("v2", " VERSION AS OF 2"))
      .unionByName(q("latest", ""))
  }

  val catalogInsertOracle: String =
    """SELECT 'v1' AS asof, n_nationkey, n_name FROM nation WHERE n_nationkey < 10
      |UNION ALL
      |SELECT 'v2', n_nationkey, n_name FROM nation WHERE n_nationkey < 15
      |UNION ALL
      |SELECT 'latest', n_nationkey, n_name FROM nation WHERE n_nationkey >= 20""".stripMargin

  /** A24 catalog SQL DELETE / TRUNCATE: the destructive half of the SQL
    * write surface, implemented as `SupportsDelete` on the catalog table
    * (GraftCatalog.scala `deleteWhere`) — Spark pushes the WHERE clause
    * down as source filters, the catalog translates them back to an
    * expression and COMMITS THE SURVIVORS AS A NEW VERSION via the same
    * compare-and-swap claim `INSERT INTO` uses. Nothing is mutated in
    * place: after two predicate deletes (a comparison/OR mix, then a
    * LIKE-prefix that arrives as `StringStartsWith`) and a TRUNCATE (the
    * `TruncatableTable` default = delete-all), all four generations are
    * read back via time travel — v1 must still be the full table, each
    * delete must subtract exactly its predicate, and latest (v4, post-
    * truncate) must be empty. Physical byte retirement stays vacuum's
    * job (`c15_vacuum`); DELETE here is the logical, versioned,
    * auditable operation a governed lake wants.
    */
  def catalogDelete(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_catd_")
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    Lake.writeTableSnapshot(nat, root, "nations_del")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"DELETE FROM $cat.tables.nations_del " +
      "WHERE n_regionkey = 2 OR n_nationkey >= 20")
    s.sql(s"DELETE FROM $cat.tables.nations_del WHERE n_name LIKE 'A%'")
    s.sql(s"TRUNCATE TABLE $cat.tables.nations_del")
    def q(asof: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$asof' AS asof, n_nationkey, n_name, n_regionkey " +
        s"FROM $cat.tables.nations_del$suffix")
    q("v1", " VERSION AS OF 1")
      .unionByName(q("v2", " VERSION AS OF 2"))
      .unionByName(q("v3", " VERSION AS OF 3"))
      .unionByName(q("latest", ""))
  }

  val catalogDeleteOracle: String =
    """SELECT 'v1' AS asof, n_nationkey, n_name, n_regionkey FROM nation
      |UNION ALL
      |SELECT 'v2', n_nationkey, n_name, n_regionkey FROM nation
      |WHERE NOT (n_regionkey = 2 OR n_nationkey >= 20)
      |UNION ALL
      |SELECT 'v3', n_nationkey, n_name, n_regionkey FROM nation
      |WHERE NOT (n_regionkey = 2 OR n_nationkey >= 20) AND n_name NOT LIKE 'A%'""".stripMargin

  /** A26 catalog SQL UPDATE + MERGE INTO: the last third of the SQL write
    * surface, via Spark's GROUP-BASED row-level framework
    * (`SupportsRowLevelOperations` on the catalog table — GraftCatalog
    * `newRowLevelOperationBuilder`): the analyzer rewrites each command
    * into a ReplaceData over our full-snapshot scan, executors write the
    * replacement through Spark's own DSv2 parquet writer into a staging
    * dir, and commit promotes it as the NEXT VERSION iff the base the
    * statement read is still latest. The gate runs an UPDATE (computed
    * SET over a predicate), then a 3-clause MERGE (matched-and-condition
    * DELETE, matched UPDATE, not-matched INSERT) from an overlapping
    * source slice, and reads v1/v2/latest back via time travel — every
    * generation must equal DuckDB recomputing the same mutations from
    * raw `customer` arithmetic, and the pre-mutation history must be
    * byte-identical untouched.
    */
  def catalogUpdateMerge(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_catum_")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    Lake.writeTableSnapshot(cust.filter(col("c_custkey").between(1, 1000)), root, "cust_rl")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    // money arithmetic normalizes through decimal(18,2) (the Q.moneySum
    // convention): raw double +100 would carry IEEE dust that the decimal
    // money profile (exact addition) does not, splitting the two profiles
    s.sql(s"UPDATE $cat.tables.cust_rl " +
      "SET c_acctbal = CAST(c_acctbal + 100 AS DECIMAL(18,2)) " +
      "WHERE c_nationkey = 5")
    cust.filter(col("c_custkey").between(800, 1300)).createOrReplaceTempView("a26_src")
    s.sql(s"""MERGE INTO $cat.tables.cust_rl t USING a26_src s
      |ON t.c_custkey = s.c_custkey
      |WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
      |WHEN MATCHED THEN UPDATE SET t.c_acctbal = s.c_acctbal
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, c_custkey, c_name, c_acctbal, c_nationkey " +
        s"FROM $cat.tables.cust_rl$suffix")
    q("v1", " VERSION AS OF 1")
      .unionByName(q("v2", " VERSION AS OF 2"))
      .unionByName(q("latest", ""))
  }

  val catalogUpdateMergeOracle: String =
    """WITH v1 AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer
      |  WHERE c_custkey BETWEEN 1 AND 1000),
      |v2 AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_nationkey = 5
      |              THEN CAST(CAST(c_acctbal + 100 AS DECIMAL(18,2)) AS DOUBLE)
      |              ELSE c_acctbal END AS c_acctbal,
      |         c_nationkey
      |  FROM v1),
      |src AS (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_custkey BETWEEN 800 AND 1300),
      |v3 AS (
      |  SELECT t.c_custkey, t.c_name,
      |         CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
      |              ELSE t.c_acctbal END AS c_acctbal,
      |         t.c_nationkey
      |  FROM v2 t LEFT JOIN src s ON t.c_custkey = s.c_custkey
      |  WHERE s.c_custkey IS NULL OR s.c_acctbal >= 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer
      |  WHERE c_custkey BETWEEN 1001 AND 1300)
      |SELECT 'v1' AS gen, * FROM v1
      |UNION ALL SELECT 'v2', * FROM v2
      |UNION ALL SELECT 'latest', * FROM v3""".stripMargin

  /** A26b FILE-GRANULAR copy-on-write UPDATE + MERGE
    * ([[graft.lake.CopyOnWrite]]): the same mutations as a26 — computed-SET
    * UPDATE over a predicate, then the 3-clause MERGE (matched-conditional
    * DELETE / matched UPDATE / not-matched INSERT) — but through the
    * file-granular path: only files CONTAINING affected rows are
    * rewritten; every other file of the base version is carried BY
    * REFERENCE in the new version's `_manifest` (at 100 TB, a 0.01%
    * UPDATE must not rewrite 100 TB — this is the Iceberg/Delta
    * copy-on-write shape over the version-directory layout). All three
    * generations are read back through CATALOG SQL time travel, so the
    * catalog's manifest resolution is itself under test, and the result
    * hashes against the SAME DuckDB mutation arithmetic as a26 — proof
    * the rewrite-boundary optimization never changes semantics. LakeSpec
    * pins the physical side: untouched files survive by reference (same
    * absolute path, never rewritten), and retention keeps referenced
    * version dirs alive transitively.
    */
  def cowUpdateMerge(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_cowum_")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    // multi-file base (range-clustered on the key) so file granularity is
    // real: the MERGE's key slice [800, 1300] touches only the top files
    Lake.writeTableSnapshot(
      cust.filter(col("c_custkey").between(1, 1000))
        .repartitionByRange(8, col("c_custkey")), root, "cust_cow")
    graft.lake.CopyOnWrite.updateWhere(s, root, "cust_cow",
      col("c_nationkey") === 5,
      Seq("c_acctbal" ->
        (col("c_acctbal") + 100).cast("decimal(18,2)").cast("double")))
    graft.lake.CopyOnWrite.mergeInto(s, root, "cust_cow",
      cust.filter(col("c_custkey").between(800, 1300)), Seq("c_custkey"),
      matchedDeleteCond = Some(col("s.c_acctbal") < 0),
      matchedSet = Seq("c_acctbal" -> col("s.c_acctbal")),
      insertNotMatched = true)
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, c_custkey, c_name, c_acctbal, c_nationkey " +
        s"FROM $cat.tables.cust_cow$suffix")
    q("v1", " VERSION AS OF 1")
      .unionByName(q("v2", " VERSION AS OF 2"))
      .unionByName(q("latest", ""))
  }

  /** Same arithmetic as [[catalogUpdateMergeOracle]]: the file-granular
    * path must be observationally identical to the whole-snapshot one.
    */
  val cowUpdateMergeOracle: String = catalogUpdateMergeOracle

  /** A29 MERGE-ON-READ delete + compaction ([[graft.lake.MergeOnRead]]):
    * the delete-heavy complement of the a26b copy-on-write path. SQL
    * `DELETE FROM` commits a POSITION-DELETE SIDECAR — `(file, pos)` rows
    * plus a manifest carrying every base file by reference, NO data file
    * read back or rewritten, so the commit is O(deleted rows) even when
    * matches span every file (the case that degenerates copy-on-write to
    * a full rewrite; at 100 TB, a sparse GDPR-style delete commits KBs).
    * Two deletes prove sidecars FOLD (cumulative, one hop); a group-based
    * SQL UPDATE on the delete-carrying base proves deleted rows never
    * resurrect through the row-level framework; `CALL system.compact`
    * folds sidecars + manifests back into plain size-targeted physical
    * files, restoring full scan pushdown (merge-on-read's documented
    * price) and unchaining retention. All three lineage points read back
    * via catalog SQL time travel — the delete-carrying generation serves
    * SQL through the V1Scan fallback — and hash against DuckDB
    * recomputing the same mutations from raw `customer`.
    */
  def morDeleteCompact(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_mor_")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    Lake.writeTableSnapshot(
      cust.filter(col("c_custkey").between(1, 1000))
        .repartitionByRange(8, col("c_custkey")), root, "cust_mor")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"DELETE FROM $cat.tables.cust_mor WHERE c_nationkey = 5")
    s.sql(s"DELETE FROM $cat.tables.cust_mor WHERE c_acctbal < 0")
    // shape pins: v3 is sidecar + manifest only — zero data files written
    require(graft.lake.MergeOnRead.hasDeletes(s, root, "cust_mor", 3),
      "MOR delete must commit a position sidecar")
    require(Lake.snapshotFiles(s, root, "cust_mor", 3)
      .forall(_.contains("version=v1")),
      "every data file of the MOR version must be carried from v1 by reference")
    // money arithmetic normalizes through decimal(18,2) (the Q.moneySum
    // convention, same as a26) so both money profiles hash identically
    s.sql(s"UPDATE $cat.tables.cust_mor " +
      "SET c_acctbal = CAST(c_acctbal + 100 AS DECIMAL(18,2)) " +
      "WHERE c_custkey <= 200")
    val v = s.sql(s"CALL $cat.system.compact('cust_mor')").head().getInt(0)
    require(v == 5, s"compact must commit v5, got v$v")
    require(!Lake.hasManifest(s, root, "cust_mor", v) &&
      !graft.lake.MergeOnRead.hasDeletes(s, root, "cust_mor", v),
      "compaction must fold sidecars and manifests into physical files")
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, c_custkey, c_name, c_acctbal, c_nationkey " +
        s"FROM $cat.tables.cust_mor$suffix")
    q("base", " VERSION AS OF 1")
      .unionByName(q("mor", " VERSION AS OF 3"))
      .unionByName(q("latest", ""))
  }

  val morDeleteCompactOracle: String =
    """WITH v1 AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer
      |  WHERE c_custkey BETWEEN 1 AND 1000),
      |v3 AS (
      |  SELECT * FROM v1 WHERE NOT (c_nationkey = 5) AND NOT (c_acctbal < 0)),
      |v5 AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_custkey <= 200
      |              THEN CAST(CAST(c_acctbal + 100 AS DECIMAL(18,2)) AS DOUBLE)
      |              ELSE c_acctbal END AS c_acctbal,
      |         c_nationkey
      |  FROM v3)
      |SELECT 'base' AS gen, * FROM v1
      |UNION ALL SELECT 'mor', * FROM v3
      |UNION ALL SELECT 'latest', * FROM v5""".stripMargin

  /** A29b FILE-GRANULAR SQL UPDATE / MERGE ON A MERGE-ON-READ BASE
    * (round 12): the composition the round-11 surface lacked. SQL
    * UPDATE/MERGE used to ride the group-based whole-snapshot replace
    * (Spark's row-level planning never wraps V1Scans, so a MOR base even
    * paid a materialize-then-scan staging); the
    * [[org.apache.spark.sql.graft.CowRowLevelRewrite]] routing now sends
    * supported shapes through [[graft.lake.CopyOnWrite]], which applies
    * the delete sidecar when rewriting touched files and carries forward
    * entries for untouched ones — a delete-heavy MOR table is exactly
    * where users then run UPDATEs, and those must stay O(touched files).
    * The gate drives DELETE (positional sidecar) → UPDATE → 3-clause
    * MERGE entirely through catalog SQL, pins the file-granular shape
    * (every post-mutation version carries a manifest; most base files
    * survive by reference; sidecar entries survive for carried files),
    * and hashes four generations against DuckDB recomputing the lineage —
    * including the MERGE re-inserting source rows whose target rows the
    * sidecar had deleted (deleted keys are NOT MATCHED by contract).
    */
  def cowOnMor(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a29b_")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    Lake.writeTableSnapshot(
      cust.filter(col("c_custkey").between(1, 1000))
        .repartitionByRange(8, col("c_custkey")), root, "cust_a29b")
    val v1Files = Lake.snapshotFiles(s, root, "cust_a29b", 1).toSet
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"DELETE FROM $cat.tables.cust_a29b WHERE c_acctbal < 0")
    require(graft.lake.MergeOnRead.hasDeletes(s, root, "cust_a29b", 2),
      "the range DELETE must commit a positional MOR sidecar")
    s.sql(s"UPDATE $cat.tables.cust_a29b " +
      "SET c_acctbal = CAST(c_acctbal + 25 AS DECIMAL(18,2)) " +
      "WHERE c_custkey <= 150")
    require(Lake.hasManifest(s, root, "cust_a29b", 3),
      "SQL UPDATE on a MOR base must be file-granular (manifest-carrying), not whole-snapshot")
    def carriedFromV1(v: Int): Int =
      Lake.snapshotFiles(s, root, "cust_a29b", v).toSet.intersect(v1Files).size
    require(carriedFromV1(3) >= 6,
      s"the UPDATE touches only the low key range: most of the 8 base files must carry by reference (got ${carriedFromV1(3)})")
    require(graft.lake.MergeOnRead.hasDeletes(s, root, "cust_a29b", 3),
      "carried files' sidecar entries must survive the rewrite")
    cust.filter(col("c_custkey").between(900, 1100))
      .createOrReplaceTempView("a29b_src")
    s.sql(s"""MERGE INTO $cat.tables.cust_a29b t USING a29b_src s
      |ON t.c_custkey = s.c_custkey
      |WHEN MATCHED AND s.c_nationkey = 9 THEN DELETE
      |WHEN MATCHED THEN UPDATE SET
      |  t.c_acctbal = CAST(s.c_acctbal + 1 AS DECIMAL(18,2))
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(Lake.hasManifest(s, root, "cust_a29b", 4) && carriedFromV1(4) >= 5,
      "SQL MERGE on a MOR base must be file-granular too")
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, c_custkey, c_name, c_acctbal, c_nationkey " +
        s"FROM $cat.tables.cust_a29b$suffix")
    q("base", " VERSION AS OF 1")
      .unionByName(q("mor", " VERSION AS OF 2"))
      .unionByName(q("upd", " VERSION AS OF 3"))
      .unionByName(q("latest", ""))
  }

  val cowOnMorOracle: String =
    """WITH v1 AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer
      |  WHERE c_custkey BETWEEN 1 AND 1000),
      |v2 AS (SELECT * FROM v1 WHERE NOT (c_acctbal < 0)),
      |v3 AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_custkey <= 150
      |              THEN CAST(CAST(c_acctbal + 25 AS DECIMAL(18,2)) AS DOUBLE)
      |              ELSE c_acctbal END AS c_acctbal,
      |         c_nationkey
      |  FROM v2),
      |src AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer
      |  WHERE c_custkey BETWEEN 900 AND 1100),
      |v4 AS (
      |  SELECT t.c_custkey, t.c_name,
      |         CASE WHEN s.c_custkey IS NOT NULL
      |              THEN CAST(CAST(s.c_acctbal + 1 AS DECIMAL(18,2)) AS DOUBLE)
      |              ELSE t.c_acctbal END AS c_acctbal,
      |         t.c_nationkey
      |  FROM v3 t LEFT JOIN src s ON t.c_custkey = s.c_custkey
      |  WHERE s.c_custkey IS NULL OR NOT (s.c_nationkey = 9)
      |  UNION ALL
      |  SELECT s.c_custkey, s.c_name, s.c_acctbal, s.c_nationkey
      |  FROM src s LEFT JOIN v3 t ON s.c_custkey = t.c_custkey
      |  WHERE t.c_custkey IS NULL)
      |SELECT 'base' AS gen, * FROM v1
      |UNION ALL SELECT 'mor', * FROM v2
      |UNION ALL SELECT 'upd', * FROM v3
      |UNION ALL SELECT 'latest', * FROM v4""".stripMargin

  /** A30 EQUALITY deletes ([[graft.lake.MergeOnRead.deleteByKeys]]): the
    * ZERO-SCAN delete commit — a key-addressed delete (`WHERE user_id IN
    * (...)`, the GDPR shape) writes only the key VALUES + a manifest;
    * no job ever touches table data, so erasing a user from a 100 TB
    * table commits in milliseconds, with the value match deferred to the
    * read-side anti-join and physically applied at the next compaction.
    * The gate drives the full lifecycle through catalog SQL: two
    * key-equality DELETEs (the router sends single-column `IN`/`=`
    * predicates to the equality path; sidecars with the same key column
    * FOLD by union), a range DELETE (positional — the equality sidecar
    * carries verbatim, sound because a positional delete writes no new
    * rows), a file-granular COW UPDATE (which must FOLD all value-keyed
    * deletes to positions — a later insert reusing a deleted key must
    * never be swallowed), and `CALL system.compact`. Four generations
    * read back via time travel hash against DuckDB recomputing the same
    * mutations.
    */
  def eqDelete(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_eqd_")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    Lake.writeTableSnapshot(
      cust.filter(col("c_custkey").between(1, 1000))
        .repartitionByRange(8, col("c_custkey")), root, "cust_eq")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"DELETE FROM $cat.tables.cust_eq WHERE c_nationkey IN (3, 7)")
    require(graft.lake.MergeOnRead.hasEqDeletes(s, root, "cust_eq", 2) &&
      !graft.lake.MergeOnRead.hasDeletes(s, root, "cust_eq", 2),
      "a key-equality DELETE must commit an equality sidecar and never scan for positions")
    s.sql(s"DELETE FROM $cat.tables.cust_eq WHERE c_nationkey = 11")
    require(graft.lake.MergeOnRead.eqDeletesOf(s, root, "cust_eq", 3)
      .get.count() == 3, "same-column equality sidecars must fold by union")
    s.sql(s"DELETE FROM $cat.tables.cust_eq WHERE c_acctbal < 0")
    require(graft.lake.MergeOnRead.hasEqDeletes(s, root, "cust_eq", 4),
      "a positional delete must carry the equality sidecar verbatim")
    graft.lake.CopyOnWrite.updateWhere(s, root, "cust_eq",
      col("c_custkey") <= 100,
      Seq("c_acctbal" ->
        (col("c_acctbal") + 50).cast("decimal(18,2)").cast("double")))
    require(!graft.lake.MergeOnRead.hasEqDeletes(s, root, "cust_eq", 5),
      "a mutation must fold value-keyed deletes to positions")
    s.sql(s"CALL $cat.system.compact('cust_eq')").collect()
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, c_custkey, c_name, c_acctbal, c_nationkey " +
        s"FROM $cat.tables.cust_eq$suffix")
    q("base", " VERSION AS OF 1")
      .unionByName(q("eq", " VERSION AS OF 3"))
      .unionByName(q("mixed", " VERSION AS OF 4"))
      .unionByName(q("latest", ""))
  }

  val eqDeleteOracle: String =
    """WITH v1 AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer
      |  WHERE c_custkey BETWEEN 1 AND 1000),
      |v3 AS (SELECT * FROM v1 WHERE c_nationkey NOT IN (3, 7, 11)),
      |v4 AS (SELECT * FROM v3 WHERE NOT (c_acctbal < 0)),
      |v6 AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_custkey <= 100
      |              THEN CAST(CAST(c_acctbal + 50 AS DECIMAL(18,2)) AS DOUBLE)
      |              ELSE c_acctbal END AS c_acctbal,
      |         c_nationkey
      |  FROM v4)
      |SELECT 'base' AS gen, * FROM v1
      |UNION ALL SELECT 'eq', * FROM v3
      |UNION ALL SELECT 'mixed', * FROM v4
      |UNION ALL SELECT 'latest', * FROM v6""".stripMargin

  /** A30b MULTI-COLUMN equality-delete routing (round 12): the catalog's
    * DELETE router also sends CONJUNCTIONS of equalities on distinct
    * columns (`WHERE tenant = 't1' AND user_id IN (...)` — the
    * composite-key GDPR shape) to [[graft.lake.MergeOnRead.deleteByKeys]]:
    * the commit is the key TUPLES (sidecar columns = both key columns) +
    * a manifest — still O(keys) bytes, zero jobs over table data. An
    * IN×IN conjunction expands to the bounded value cross product and
    * folds into the same-key-columns sidecar by union; a conjunction with
    * any non-equality member stays positional (the equality sidecar
    * carries verbatim). Three generations read back via time travel hash
    * against DuckDB recomputing the same mutations.
    */
  def eqDeleteMulti(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_eqm_")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"), col("c_mktsegment"))
    Lake.writeTableSnapshot(
      cust.filter(col("c_custkey").between(1, 1200))
        .repartitionByRange(8, col("c_custkey")), root, "cust_eqm")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    // two-column = AND = : one key tuple, equality sidecar, zero scans
    s.sql(s"DELETE FROM $cat.tables.cust_eqm " +
      "WHERE c_nationkey = 5 AND c_mktsegment = 'BUILDING'")
    val eq2 = graft.lake.MergeOnRead.eqDeletesOf(s, root, "cust_eqm", 2)
    require(eq2.isDefined && !graft.lake.MergeOnRead.hasDeletes(s, root, "cust_eqm", 2),
      "a conjunction of equalities must commit an equality sidecar, not scan positions")
    require(eq2.get.columns.sorted.sameElements(Array("c_mktsegment", "c_nationkey")) &&
      eq2.get.count() == 1,
      "the sidecar's columns must be the composite key, one tuple per key")
    // IN × IN cross product on the SAME key columns: folds by union (1+4)
    s.sql(s"DELETE FROM $cat.tables.cust_eqm WHERE c_nationkey IN (8, 9) " +
      "AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')")
    require(graft.lake.MergeOnRead.eqDeletesOf(s, root, "cust_eqm", 3)
      .get.count() == 5, "same-key-columns composite sidecars must fold by union")
    // a non-equality conjunct keeps the statement POSITIONAL; the
    // composite equality sidecar carries verbatim
    s.sql(s"DELETE FROM $cat.tables.cust_eqm " +
      "WHERE c_acctbal > 9000 AND c_nationkey = 2")
    require(graft.lake.MergeOnRead.hasDeletes(s, root, "cust_eqm", 4) &&
      graft.lake.MergeOnRead.eqDeletesOf(s, root, "cust_eqm", 4).get.count() == 5,
      "a mixed conjunction is positional; the equality sidecar carries verbatim")
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, c_custkey, c_name, c_acctbal, c_nationkey, " +
        s"c_mktsegment FROM $cat.tables.cust_eqm$suffix")
    q("base", " VERSION AS OF 1")
      .unionByName(q("multi", " VERSION AS OF 3"))
      .unionByName(q("latest", ""))
  }

  val eqDeleteMultiOracle: String =
    """WITH v1 AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_nationkey, c_mktsegment
      |  FROM customer WHERE c_custkey BETWEEN 1 AND 1200),
      |v3 AS (SELECT * FROM v1
      |  WHERE NOT (c_nationkey = 5 AND c_mktsegment = 'BUILDING')
      |    AND NOT (c_nationkey IN (8, 9)
      |             AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY'))),
      |v4 AS (SELECT * FROM v3 WHERE NOT (c_acctbal > 9000 AND c_nationkey = 2))
      |SELECT 'base' AS gen, * FROM v1
      |UNION ALL SELECT 'multi', * FROM v3
      |UNION ALL SELECT 'latest', * FROM v4""".stripMargin

  /** A31 METADATA-ONLY schema evolution ([[Lake.addColumn]], SQL
    * `ALTER TABLE ... ADD COLUMN`): the commit is one `_schema` JSON + a
    * manifest carrying every file by reference — evolving a 100 TB table
    * is O(1), no data file read or written; readers null-fill the column
    * for pre-evolution files (the parquet missing-column contract) while
    * subsequent writes carry it physically, so one snapshot can mix
    * old-schema and new-schema files transparently. The gate evolves via
    * SQL, appends rows that CARRY the column, runs a file-granular COW
    * UPDATE whose SET targets the evolved column (carried files keep
    * null-filling — the declared schema travels one-hop with every
    * manifest commit), and reads three generations back via time travel:
    * the pre-evolution schema must be exactly the old one, and every
    * generation hashes against DuckDB recomputing the lineage.
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_evo_")
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    Lake.writeTableSnapshot(
      ord.select(col("o_orderkey"), col("o_orderstatus"))
        .filter(col("o_orderkey").between(1, 500))
        .repartitionByRange(4, col("o_orderkey")), root, "ord_evo")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"ALTER TABLE $cat.tables.ord_evo ADD COLUMN o_orderpriority STRING")
    require(Lake.declaredSchema(s, root, "ord_evo", 2).exists(
      _.fieldNames.sameElements(Array("o_orderkey", "o_orderstatus", "o_orderpriority"))),
      "evolution must commit a declared-schema sidecar")
    require(Lake.snapshotFiles(s, root, "ord_evo", 2).forall(_.contains("version=v1")),
      "evolution must write zero data files — all carried from v1")
    ord.filter(col("o_orderkey").between(501, 600))
      .createOrReplaceTempView("a31_src")
    s.sql(s"INSERT INTO $cat.tables.ord_evo " +
      "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM a31_src")
    graft.lake.CopyOnWrite.updateWhere(s, root, "ord_evo",
      col("o_orderkey") <= 100, Seq("o_orderpriority" -> lit("LEGACY")))
    def q(gen: String, suffix: String, cols: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, $cols FROM $cat.tables.ord_evo$suffix")
    q("base", " VERSION AS OF 1",
      "o_orderkey, o_orderstatus, CAST(NULL AS STRING) AS o_orderpriority")
      .unionByName(q("evolved", " VERSION AS OF 2",
        "o_orderkey, o_orderstatus, o_orderpriority"))
      .unionByName(q("latest", "",
        "o_orderkey, o_orderstatus, o_orderpriority"))
  }

  val schemaEvolutionOracle: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  WHERE o_orderkey BETWEEN 1 AND 500),
      |latest AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderkey <= 100 THEN 'LEGACY' END AS o_orderpriority
      |  FROM v1
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
      |  WHERE o_orderkey BETWEEN 501 AND 600)
      |SELECT 'base' AS gen, o_orderkey, o_orderstatus,
      |       CAST(NULL AS VARCHAR) AS o_orderpriority FROM v1
      |UNION ALL
      |SELECT 'evolved', o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) FROM v1
      |UNION ALL
      |SELECT 'latest', * FROM latest""".stripMargin

  /** A31b METADATA-ONLY RENAME / DROP COLUMN (round 12): the completion
    * of a31's evolution story — [[Lake.renameColumn]] / [[Lake.dropColumn]]
    * (SQL `ALTER TABLE ... RENAME COLUMN / DROP COLUMN`) commit ONE
    * `_schema` JSON + a full-carry manifest, zero data files read or
    * written. A rename records the prior physical spelling as field
    * metadata (`graft.from`) and readers project pre-rename files through
    * `coalesce(new, prior)` ([[Lake.readFiles]]); a drop MARKS the field
    * in the raw sidecar (name + spellings stay reserved against
    * resurrection) and strips it from every read. The gate drives both
    * through catalog SQL, pins the zero-data-file commit shape and the
    * refusals (retype, re-ADD of a dropped name, rename onto a reserved
    * spelling), runs a file-granular COW UPDATE that SETs the RENAMED
    * column (rewritten files bake the new name; carried files keep
    * reading through the mapping), and reads three generations back via
    * time travel — the pre-evolution shape pinned exactly — hash-verified
    * against DuckDB recomputing the lineage.
    */
  def renameDrop(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a31b_")
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .filter(col("o_orderkey").between(1, 600))
    Lake.writeTableSnapshot(
      ord.repartitionByRange(4, col("o_orderkey")), root, "ord_rd")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"ALTER TABLE $cat.tables.ord_rd RENAME COLUMN o_orderstatus TO status")
    s.sql(s"ALTER TABLE $cat.tables.ord_rd DROP COLUMN o_orderpriority")
    // both commits are metadata-only: zero data files of their own, every
    // base file carried by reference
    Seq(2, 3).foreach { v =>
      require(Lake.snapshotFiles(s, root, "ord_rd", v)
        .forall(_.contains("version=v1")),
        s"v$v must carry every data file from v1 by reference")
    }
    require(s.table(s"$cat.tables.ord_rd").schema.fieldNames.toSeq ==
      Seq("o_orderkey", "status", "o_totalprice"),
      "the visible schema must show the renamed column and hide the dropped one")
    // pre-evolution time travel shows the OLD shape exactly
    require(s.sql(s"SELECT * FROM $cat.tables.ord_rd VERSION AS OF 1")
      .schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
      "time travel to v1 must show the pre-evolution shape")
    // refusals: retype, re-ADD of a dropped name, rename onto a reserved one
    require(scala.util.Try(s.sql(
      s"ALTER TABLE $cat.tables.ord_rd ALTER COLUMN o_totalprice TYPE STRING"
    )).isFailure, "retype must refuse — it requires a rewrite")
    require(scala.util.Try(s.sql(
      s"ALTER TABLE $cat.tables.ord_rd ADD COLUMN o_orderpriority STRING"
    )).isFailure, "re-adding a DROPPED name must refuse (resurrection hazard)")
    require(scala.util.Try(s.sql(
      s"ALTER TABLE $cat.tables.ord_rd RENAME COLUMN o_totalprice TO o_orderstatus"
    )).isFailure, "renaming onto a prior spelling must refuse")
    // file-granular COW UPDATE SETting the RENAMED column: rewritten
    // files bake the new name; carried files keep the mapping read
    s.sql(s"UPDATE $cat.tables.ord_rd SET status = 'X' WHERE o_orderkey <= 100")
    require(Lake.hasManifest(s, root, "ord_rd", 4),
      "the UPDATE must stay file-granular on an evolved base")
    require(Lake.snapshotFiles(s, root, "ord_rd", 4)
      .count(_.contains("version=v1")) >= 2,
      "most base files must carry by reference through the mapping")
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, o_orderkey, status, o_totalprice " +
        s"FROM $cat.tables.ord_rd$suffix")
    s.sql(s"SELECT 'v1' AS gen, o_orderkey, o_orderstatus AS status, " +
        s"o_totalprice FROM $cat.tables.ord_rd VERSION AS OF 1")
      .unionByName(q("evolved", " VERSION AS OF 3"))
      .unionByName(q("latest", ""))
  }

  val renameDropOracle: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice FROM orders
      |  WHERE o_orderkey BETWEEN 1 AND 600),
      |v4 AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey <= 100 THEN 'X' ELSE status END AS status,
      |         o_totalprice
      |  FROM v1)
      |SELECT 'v1' AS gen, * FROM v1
      |UNION ALL SELECT 'evolved', * FROM v1
      |UNION ALL SELECT 'latest', * FROM v4""".stripMargin

  /** A32 VERSION TAGS ([[Lake.tagVersion]], SQL `CALL system.tag` /
    * `VERSION AS OF '<tag>'`): named refs over the version ledger — "the
    * v2026-01 training cut" as a reproducibility contract. A tag is a
    * `_tag_<name>` marker inside the tagged version dir, which makes it
    * a retention pin BY CONSTRUCTION: `prune_versions` must skip tagged
    * versions however old they get, and releasing the tag (`untag`)
    * makes the version age-eligible again. The gate pins the whole
    * contract: tag v1 via SQL, commit two more generations, prune to
    * keep=1 — v1 must survive ONLY because of its tag while the untagged
    * middle version is deleted — then read the tag back by NAME via SQL
    * time travel and hash both generations against DuckDB. A second
    * throwaway table proves the release half (untag → prune deletes it)
    * and the no-silent-retag refusal.
    */
  def versionTags(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_tag_")
    val slice = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    def keysTo(hi: Int) = slice.filter(col("o_orderkey").between(1, hi))
    Lake.writeTableSnapshot(keysTo(300), root, "ord_tag")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    require(s.sql(s"CALL $cat.system.tag('ord_tag', 'cut_a', 0)")
      .head().getInt(0) == 1, "tag(version<=0) must tag the current latest")
    Lake.writeTableSnapshot(keysTo(200), root, "ord_tag")
    Lake.writeTableSnapshot(keysTo(100), root, "ord_tag")
    s.sql(s"CALL $cat.system.prune_versions('ord_tag', 1)").collect()
    require(Lake.versions(s, root, "ord_tag") == Seq(1, 3),
      "prune keep=1 must delete the untagged v2 and keep the tagged v1")
    // release contract, on a throwaway table so the returned frames'
    // lineage never points at pruned bytes
    Lake.writeTableSnapshot(keysTo(10), root, "ord_tag2")
    Lake.tagVersion(s, root, "ord_tag2", "tmp")
    require(scala.util.Try(Lake.tagVersion(s, root, "ord_tag2", "tmp")).isFailure,
      "retagging an existing tag must refuse")
    Lake.writeTableSnapshot(keysTo(5), root, "ord_tag2")
    require(s.sql(s"CALL $cat.system.untag('ord_tag2', 'tmp')").head().getInt(0) == 1)
    s.sql(s"CALL $cat.system.prune_versions('ord_tag2', 1)").collect()
    require(Lake.versions(s, root, "ord_tag2") == Seq(2),
      "untag must make the version age-eligible again")
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM $cat.tables.ord_tag$suffix")
    q("tagged", " VERSION AS OF 'cut_a'").unionByName(q("latest", ""))
  }

  val versionTagsOracle: String =
    """SELECT 'tagged' AS gen, o_orderkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey BETWEEN 1 AND 300
      |UNION ALL
      |SELECT 'latest', o_orderkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey BETWEEN 1 AND 100""".stripMargin

  /** A25 shallow clone / branching: [[Lake.cloneTable]] commits a
    * METADATA-POINTER version — branching a table is O(1) regardless of
    * data size (at 100 TB: one marker file + one rename, zero bytes
    * copied). The gate builds the full branch lifecycle: source v1/v2,
    * branch cloned AT v1, branch does its own copy-on-write commit
    * (v1 rows ∪ a disjoint slice), source moves on to v3 — then reads
    * all three lineages back through CATALOG SQL (clone pointers resolve
    * inside the catalog, so SQL cannot tell a branch from a data
    * snapshot): source latest must show v3, the branch's pinned v1 must
    * still equal the source AS IT WAS, and branch latest must show the
    * divergent work without any v3 rows — full isolation both ways.
    * LakeSpec pins the physical side: the pointer version holds no
    * parquet, and the source's pinned v1 survives a retention sweep that
    * would otherwise delete it.
    */
  def shallowClone(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_clone_")
    def snap(lo: Int, hi: Int): DataFrame =
      Tables.orders(s, d).filter(col("o_orderkey").between(lo, hi))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    Lake.writeTableSnapshot(snap(1, 5000), root, "src_orders")
    Lake.writeTableSnapshot(snap(1, 10000), root, "src_orders")
    Lake.cloneTable(s, root, "src_orders", "branch_orders", Some(1))
    Lake.writeTableSnapshot(
      Lake.readTableFeed(s, root, "branch_orders").unionByName(snap(20001, 25000)),
      root, "branch_orders")
    Lake.writeTableSnapshot(snap(1, 15000), root, "src_orders")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    def q(label: String, table: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$label' AS branch, o_orderkey, o_totalprice, o_orderpriority " +
        s"FROM $cat.tables.$table$suffix")
    q("src_latest", "src_orders", "")
      .unionByName(q("branch_v1", "branch_orders", " VERSION AS OF 1"))
      .unionByName(q("branch_latest", "branch_orders", ""))
  }

  val shallowCloneOracle: String =
    """SELECT 'src_latest' AS branch, o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey BETWEEN 1 AND 15000
      |UNION ALL
      |SELECT 'branch_v1', o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey BETWEEN 1 AND 5000
      |UNION ALL
      |SELECT 'branch_latest', o_orderkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderkey BETWEEN 1 AND 5000 OR o_orderkey BETWEEN 20001 AND 25000""".stripMargin

  /** A27 branch merge-back: the completion of A25's branching story —
    * [[Lake.mergeBranch]] three-way-merges a branch into a source that has
    * MOVED ON since the branch point (per key: branch-only changes win,
    * source-only changes stand, both-changed conflicts refuse; here the
    * two sides' edits are planted DISJOINT so the merge commits). The
    * gate drives the full lifecycle — clone at v1, divergent edits on
    * both lineages (branch: delete low keys / re-prefix a priority band /
    * insert a new key range; source: delete a high band / re-prefix a
    * different band / insert a different range), merge — and reads back
    * all three lineage points; the oracle rebuilds each from raw `orders`
    * arithmetic, so a hash match proves deletes, updates and inserts from
    * BOTH sides landed exactly once and nothing else changed. All planted
    * edits are string mutations: money stays untouched, so the gate is
    * identical under both money profiles.
    */
  def branchMerge(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_bmerge_")
    val slice = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))
    def keysIn(lo: Int, hi: Int): DataFrame =
      slice.filter(col("o_orderkey").between(lo, hi))
    Lake.writeTableSnapshot(keysIn(1, 1000), root, "m_src")
    Lake.cloneTable(s, root, "m_src", "m_br", Some(1))
    Lake.writeTableSnapshot(
      Lake.readTableFeed(s, root, "m_br")
        .filter(col("o_orderkey") > 100)
        .withColumn("o_orderpriority",
          when(col("o_orderkey").between(500, 600),
            concat(lit("B-"), col("o_orderpriority")))
            .otherwise(col("o_orderpriority")))
        .unionByName(keysIn(2001, 2200)),
      root, "m_br")
    Lake.writeTableSnapshot(
      Lake.readTableFeed(s, root, "m_src")
        .filter(!col("o_orderkey").between(900, 1000))
        .withColumn("o_orderpriority",
          when(col("o_orderkey").between(700, 800),
            concat(lit("S-"), col("o_orderpriority")))
            .otherwise(col("o_orderpriority")))
        .unionByName(keysIn(3001, 3200)),
      root, "m_src")
    Lake.mergeBranch(s, root, "m_src", "m_br", Seq("o_orderkey"))
    def q(gen: String, table: String, v: Option[Int]): DataFrame =
      Lake.readTableFeed(s, root, table, v)
        .select(lit(gen).as("gen"), col("o_orderkey"),
          col("o_orderpriority"), col("o_orderstatus"))
    q("base", "m_src", Some(1))
      .unionByName(q("src_v2", "m_src", Some(2)))
      .unionByName(q("merged", "m_src", None))
  }

  val branchMergeOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
      |  WHERE o_orderkey BETWEEN 1 AND 1000),
      |srcv2 AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey BETWEEN 700 AND 800
      |              THEN 'S-' || o_orderpriority ELSE o_orderpriority END AS o_orderpriority,
      |         o_orderstatus
      |  FROM base WHERE o_orderkey NOT BETWEEN 900 AND 1000
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
      |  WHERE o_orderkey BETWEEN 3001 AND 3200),
      |merged AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey BETWEEN 500 AND 600
      |              THEN 'B-' || o_orderpriority ELSE o_orderpriority END AS o_orderpriority,
      |         o_orderstatus
      |  FROM srcv2 WHERE o_orderkey > 100
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
      |  WHERE o_orderkey BETWEEN 2001 AND 2200)
      |SELECT 'base' AS gen, * FROM base
      |UNION ALL SELECT 'src_v2', * FROM srcv2
      |UNION ALL SELECT 'merged', * FROM merged""".stripMargin

  /** A28 maintenance procedures via SQL: the full lake lifecycle — branch,
    * diverge, merge back, restore, prune, vacuum — driven through
    * `CALL <cat>.system.<proc>(...)` (GraftCatalog's `ProcedureCatalog`,
    * the Iceberg `CALL system.*` operational shape), with each procedure's
    * RESULT ROW (the committed version number / the sweep ledger)
    * require-pinned so the version arithmetic is itself under test, and
    * the final state read back via time travel. Also pins the safety
    * rails: `prune_versions(t, 0)` must REFUSE (keep=0 would delete every
    * unpinned version including latest), the prune must skip the
    * clone-pinned v1 while deleting the unpinned v2, and the restored
    * latest must still read correctly AFTER its restore-from version was
    * pruned (restore is a physical re-publish, not a pointer). The oracle
    * rebuilds all three lineage points from raw `orders`, so a hash match
    * proves the whole SQL-driven maintenance session left exactly the
    * right bytes.
    */
  def catalogCall(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_call_")
    val slice = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))
    def keysIn(lo: Int, hi: Int): DataFrame =
      slice.filter(col("o_orderkey").between(lo, hi))
    Lake.writeTableSnapshot(keysIn(1, 1000), root, "co_src")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    def call1(sql: String): Int = s.sql(sql).head().getInt(0)
    require(call1(s"CALL $cat.system.clone('co_src', 'co_br')") == 1,
      "clone must commit branch v1")
    // divergent edits: the branch deletes keys<=100 and inserts 2001-2200;
    // the source deletes 900-1000 and inserts 3001-3200 (disjoint key
    // sets, so the three-way merge commits without conflict)
    Lake.writeTableSnapshot(
      Lake.readTableFeed(s, root, "co_br").filter(col("o_orderkey") > 100)
        .unionByName(keysIn(2001, 2200)), root, "co_br")
    Lake.writeTableSnapshot(
      Lake.readTableFeed(s, root, "co_src")
        .filter(!col("o_orderkey").between(900, 1000))
        .unionByName(keysIn(3001, 3200)), root, "co_src")
    require(
      call1(s"CALL $cat.system.merge_branch('co_src', 'co_br', 'o_orderkey')") == 3,
      "merge_branch must commit src v3")
    require(call1(s"CALL $cat.system.restore('co_src', 2)") == 4,
      "restore must re-publish v2 as v4")
    require(
      scala.util.Try(s.sql(s"CALL $cat.system.prune_versions('co_src', 0)")
        .collect()).isFailure,
      "prune_versions(keep=0) must refuse — it would destroy the table")
    val pruned = s.sql(s"CALL $cat.system.prune_versions('co_src', 2)").collect()
    require(pruned.length == 1 && pruned(0).getString(0).endsWith("version=v2")
      && pruned(0).getBoolean(1),
      s"prune keep=2 must delete exactly the unpinned v2, got: ${pruned.mkString(",")}")
    require(s.sql(s"CALL $cat.system.vacuum('co_src')").collect()
      .forall(!_.getBoolean(1)), "vacuum must find nothing live to sweep")
    def q(gen: String, suffix: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, o_orderkey, o_orderpriority, o_orderstatus " +
        s"FROM $cat.tables.co_src$suffix")
    q("base", " VERSION AS OF 1")
      .unionByName(q("merged", " VERSION AS OF 3"))
      .unionByName(q("restored", ""))
  }

  val catalogCallOracle: String =
    """SELECT 'base' AS gen, o_orderkey, o_orderpriority, o_orderstatus
      |FROM orders WHERE o_orderkey BETWEEN 1 AND 1000
      |UNION ALL
      |SELECT 'merged', o_orderkey, o_orderpriority, o_orderstatus FROM orders
      |WHERE o_orderkey BETWEEN 101 AND 899
      |   OR o_orderkey BETWEEN 2001 AND 2200
      |   OR o_orderkey BETWEEN 3001 AND 3200
      |UNION ALL
      |SELECT 'restored', o_orderkey, o_orderpriority, o_orderstatus FROM orders
      |WHERE o_orderkey BETWEEN 1 AND 899
      |   OR o_orderkey BETWEEN 3001 AND 3200""".stripMargin

  /** C20 schema contracts on feed appends: the write-side guard the
    * reference's pandas-inferred lake lacks — a malformed producer batch
    * forks the feed schema silently and downstream readers break later,
    * far from the cause. [[graft.governance.SchemaContract]] validates
    * every append against the persisted contract BEFORE any file lands:
    * missing columns / type conflicts / unknown extras reject; extras
    * under `evolve=true` widen the contract additively. The gate runs the
    * full accept/reject matrix and re-counts the feed after every step —
    * rejected batches must leave ZERO rows behind — with contract width
    * tracked across the evolution.
    */
  def schemaContract(s: SparkSession, d: String): DataFrame = {
    import graft.governance.SchemaContract
    val root = scratch("graft_contract_")
    val feed = "orders_feed"
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    def slice(lo: Int, hi: Int): DataFrame =
      base.filter(col("o_orderkey").between(lo, hi))
    def attempt(step: String, df: DataFrame, evolve: Boolean = false): (String, Boolean, Int, Long) = {
      val ok =
        try {
          // processing-date mode: one day partition per append (the gate
          // tests the CONTRACT, not date layout — a6_lake_roundtrip covers
          // event-time partitioning)
          SchemaContract.appendWithContract(df, root, feed,
            eventTimeCol = None,
            asOfDate = java.time.LocalDate.of(2026, 1, 1), evolve = evolve)
          true
        } catch { case _: SchemaContract.Violation => false }
      val cols = SchemaContract.read(s, root, feed).map(_.fields.length).getOrElse(0)
      val rows = s.read.option("mergeSchema", "true")
        .parquet(Lake.streamPath(root, feed))
        .count()
      (step, ok, cols, rows)
    }
    val results = Seq(
      attempt("seed", slice(1, 500)),
      attempt("conforming", slice(501, 1000)),
      attempt("missing_col", slice(2001, 2500).drop("o_totalprice")),
      attempt("type_conflict",
        slice(2001, 2500).withColumn("o_totalprice", col("o_totalprice").cast("string"))),
      attempt("extra_no_evolve", slice(2001, 2500).withColumn("region", lit("emea"))),
      attempt("extra_evolve",
        slice(1001, 1500).withColumn("region", lit("emea")), evolve = true),
      attempt("post_evolve", slice(1501, 2000).withColumn("region", lit("apac"))))
    import s.implicits._
    results.toDF("step", "accepted", "contract_cols", "feed_rows")
  }

  val schemaContractOracle: String =
    """SELECT 'seed' AS step, true AS accepted, 3 AS contract_cols,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1 AND 500) AS feed_rows
      |UNION ALL SELECT 'conforming', true, 3,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1 AND 1000)
      |UNION ALL SELECT 'missing_col', false, 3,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1 AND 1000)
      |UNION ALL SELECT 'type_conflict', false, 3,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1 AND 1000)
      |UNION ALL SELECT 'extra_no_evolve', false, 3,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1 AND 1000)
      |UNION ALL SELECT 'extra_evolve', true, 4,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1 AND 1500)
      |UNION ALL SELECT 'post_evolve', true, 4,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1 AND 2000)""".stripMargin

  /** A21 change-data feed: [[Lake.tableChanges]] replays WHAT each
    * snapshot commit did, per key, in commit order — inserts/updates/
    * deletes stamped with the committing version, unchanged rows dropped.
    * Three generations with disjoint planted mutations (updates by
    * doubling a value band, inserts by widening the key range, deletes by
    * narrowing it) produce a fully predictable change log; the oracle
    * rebuilds it from the same key-range arithmetic. This is the consume-
    * from-cursor contract downstream sync jobs use instead of re-reading
    * full snapshots.
    */
  def tableChangesGate(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_cdf_")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val k = col("o_orderkey")
    Lake.writeTableSnapshot(o.filter(k <= 1000), root, "cdf")
    Lake.writeTableSnapshot(
      o.filter(k <= 1200).withColumn("o_totalprice",
        when(k.between(501, 1000), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice"))), root, "cdf")
    Lake.writeTableSnapshot(o.filter(k.between(201, 1200)), root, "cdf")
    Lake.tableChanges(s, root, "cdf", fromVersion = 1, keys = Seq("o_orderkey"))
  }

  val tableChangesOracle: String =
    """SELECT o_orderkey, 'updated' AS change, 2 AS change_version
      |FROM orders WHERE o_orderkey BETWEEN 501 AND 1000
      |UNION ALL
      |SELECT o_orderkey, 'inserted', 2 FROM orders WHERE o_orderkey BETWEEN 1001 AND 1200
      |UNION ALL
      |SELECT o_orderkey, 'deleted', 3 FROM orders WHERE o_orderkey <= 200
      |UNION ALL
      |SELECT o_orderkey, 'updated', 3 FROM orders WHERE o_orderkey BETWEEN 501 AND 1000""".stripMargin

  /** A22 cross-table transactions: [[graft.lake.Txn]] publishes a fact
    * table AND its summary as ONE manifest commit — transactional readers
    * resolve a single manifest and can never observe a torn pair (the
    * reference publishes its four warehouse tables in an unprotected
    * Python loop). The gate commits two generations, then plants exactly
    * the failure the layer exists for: a table-level snapshot published
    * WITHOUT a manifest (a crashed transaction's orphan). Transactional
    * reads of every view must still see consistent (fact, summary) pairs
    * — the orphan is invisible — and the fact checksum must equal the
    * summary checksum within every view, which the oracle re-derives from
    * key-range arithmetic.
    */
  def txnCommit(s: SparkSession, d: String): DataFrame = {
    import graft.lake.Txn
    val root = scratch("graft_txn_")
    def slice(maxK: Int): DataFrame =
      Tables.orders(s, d).filter(col("o_orderkey") <= maxK)
    def fact(maxK: Int): DataFrame =
      slice(maxK).select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    def summary(maxK: Int): DataFrame =
      slice(maxK).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), Q.moneySum(col("o_totalprice")).as("total"))
    Txn.commit(s, root, Map("fact" -> fact(1000), "summary" -> summary(1000)))
    Txn.commit(s, root, Map("fact" -> fact(2000), "summary" -> summary(2000)))
    // a crashed transaction: table snapshot published, manifest never landed
    Lake.writeTableSnapshot(fact(3000), root, "fact")
    def stats(view: String, txn: Option[Int]): Seq[(String, String, Long, Double)] = {
      val f = Txn.read(s, root, "fact", txn)
      val su = Txn.read(s, root, "summary", txn)
      Seq(
        (view, "fact", f.count(),
          f.agg(Q.moneySum(col("o_totalprice"))).head.getDouble(0)),
        (view, "summary", su.count(),
          su.agg(sum(col("total").cast("decimal(18,2)")).cast("double")).head.getDouble(0)))
    }
    import s.implicits._
    (stats("t1", Some(1)) ++ stats("t2", Some(2)) ++ stats("latest", None))
      .toDF("view", "tbl", "n_rows", "total")
  }

  val txnCommitOracle: String =
    """WITH f AS (
      |  SELECT CASE WHEN o_orderkey <= 1000 THEN 1 ELSE 2 END AS gen,
      |         o_orderkey, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey <= 2000),
      |facts AS (
      |  SELECT gen, COUNT(*) AS n_rows,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM (SELECT 1 AS gen, o_totalprice FROM orders WHERE o_orderkey <= 1000
      |        UNION ALL
      |        SELECT 2, o_totalprice FROM orders WHERE o_orderkey <= 2000)
      |  GROUP BY 1),
      |summs AS (
      |  SELECT gen, COUNT(*) AS n_rows,
      |         CAST(SUM(CAST(grp_total AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM (SELECT 1 AS gen, o_orderpriority,
      |               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS grp_total
      |        FROM orders WHERE o_orderkey <= 1000 GROUP BY 1, 2
      |        UNION ALL
      |        SELECT 2, o_orderpriority,
      |               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |        FROM orders WHERE o_orderkey <= 2000 GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT v.view, v.tbl, CASE WHEN v.tbl = 'fact' THEN fa.n_rows ELSE su.n_rows END AS n_rows,
      |       CASE WHEN v.tbl = 'fact' THEN fa.total ELSE su.total END AS total
      |FROM (VALUES ('t1', 'fact', 1), ('t1', 'summary', 1),
      |             ('t2', 'fact', 2), ('t2', 'summary', 2),
      |             ('latest', 'fact', 2), ('latest', 'summary', 2)) v(view, tbl, gen)
      |JOIN facts fa ON fa.gen = v.gen
      |JOIN summs su ON su.gen = v.gen""".stripMargin

  /** C14 column-level lineage: [[graft.governance.Lineage]] walks the
    * analyzed plan of a join+aggregate report and emits one row per
    * (output_column, source_table, source_column) edge — including the
    * two-source derived measure and the no-source `count(*)` (NULL edge).
    * Pure driver-side metadata (zero Spark jobs for the extraction); the
    * VALUES oracle pins the exact edge set.
    */
  def columnLineage(s: SparkSession, d: String): DataFrame = {
    val q = Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderstatus") =!= "X")
      .groupBy(col("c_mktsegment"))
      .agg(
        Q.moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("orders_n"),
        max(col("o_orderdate")).as("latest_order"),
        (Q.moneySum(col("o_totalprice")) / count(lit(1))).as("avg_rev"),
        Q.moneySum(col("o_totalprice") + col("c_acctbal")).as("mixed"))
    graft.governance.Lineage.columnLineage(s, q)
  }

  val columnLineageOracle: String =
    """SELECT * FROM (VALUES
      |  ('c_mktsegment', 'customer', 'c_mktsegment'),
      |  ('revenue', 'orders', 'o_totalprice'),
      |  ('orders_n', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
      |  ('latest_order', 'orders', 'o_orderdate'),
      |  ('avg_rev', 'orders', 'o_totalprice'),
      |  ('mixed', 'customer', 'c_acctbal'),
      |  ('mixed', 'orders', 'o_totalprice'))
      |  t(output_column, source_table, source_column)""".stripMargin

  /** Incremental materialized-view refresh: the summary absorbs an
    * appended batch via [[graft.warehouse.SummaryRewrite.refreshIncremental]]
    * — partial rollup of the batch merged into the current summary, cost ∝
    * batch, base never rescanned, refreshed summary written as a new
    * versioned directory. The follow-up query against the BASE table must
    * (a) be rewritten onto the refreshed summary (hard `require` on the
    * scan paths) and (b) hash-match the full recompute oracle — proving
    * incremental refresh ≡ full rebuild.
    */
  def mvIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = scratch("graft_mvi_")
    val base = s"$root/orders_base"
    val o = Tables.orders(s, d)
    o.filter(col("o_orderkey") % 3 =!= 0).write.mode(SaveMode.Overwrite).parquet(base)
    try {
      SummaryRewrite.create(s, "mv_orders_prio", base, s"$root/mv",
        keys = Seq("o_orderpriority"),
        sums = Seq("o_totalprice" -> Some("decimal(18,2)")),
        mins = Seq("o_orderdate"), maxs = Seq("o_orderdate"))
      val batch = o.filter(col("o_orderkey") % 3 === 0)
      batch.write.mode(SaveMode.Append).parquet(base)
      SummaryRewrite.refreshIncremental(s, "mv_orders_prio", batch)
      val q = s.read.parquet(base)
        .groupBy(col("o_orderpriority"))
        .agg(
          Q.moneySum(col("o_totalprice")).as("total"),
          min(col("o_orderdate")).as("first_order"),
          max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("n"))
      val paths = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      require(paths.exists(_.contains("/mv")),
        s"rewrite onto the refreshed summary did not fire; scanned $paths")
      require(!paths.exists(_.endsWith("orders_base")),
        s"rewritten plan still scans the base table: $paths")
      val rows = q.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally SummaryRewrite.drop("mv_orders_prio")
  }

  val mvIncrementalOracle: String =
    """SELECT o_orderpriority,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       MIN(o_orderdate) AS first_order,
      |       MAX(o_orderdate) AS last_order,
      |       COUNT(*) AS n
      |FROM orders GROUP BY 1""".stripMargin

  /** C15 orphan-file vacuum: crashed-write leftovers (a staging dir from an
    * aborted write-audit-publish, a `_temporary` attempt dir) are planted
    * next to two live snapshots, then [[Lake.vacuumTable]] dry-runs
    * (deletes nothing), vacuums (deletes exactly the orphans), and the gate
    * proves the live data survived byte-for-row (count re-read through the
    * normal reader) and a second vacuum finds nothing. The complement of
    * version retention: retention prunes committed history, vacuum removes
    * what never committed.
    */
  def vacuumOrphans(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_vac_")
    val agg = Reference.b6PaymentTotals(s, d)
    Lake.writeTableSnapshot(agg, root, "payment_method_totals")
    Lake.writeTableSnapshot(agg, root, "payment_method_totals")
    // plant crashed-write leftovers beside the live versions
    val dir = Lake.tablePath(root, "payment_method_totals")
    agg.limit(1).write.parquet(s"$dir/.crashed_staging")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/_temporary"))
    val dry = Lake.vacuumTable(s, root, "payment_method_totals", dryRun = true)
    val swept = Lake.vacuumTable(s, root, "payment_method_totals")
    val after = Lake.vacuumTable(s, root, "payment_method_totals", dryRun = true)
    val intact = Lake.readTableFeed(s, root, "payment_method_totals").count() == 5
    import s.implicits._
    (dry.map { case (n, del) => ("dry", n, del) } ++
      swept.map { case (n, del) => ("vacuum", n, del) } :+
      ("post", "orphans_remaining", after.nonEmpty) :+
      ("post", "data_intact", intact))
      .toDF("phase", "item", "flag")
  }

  val vacuumOrphansOracle: String =
    """SELECT * FROM (VALUES
      |  ('dry', '.crashed_staging', false), ('dry', '_temporary', false),
      |  ('vacuum', '.crashed_staging', true), ('vacuum', '_temporary', true),
      |  ('post', 'orphans_remaining', false), ('post', 'data_intact', true))
      |  t(phase, item, flag)""".stripMargin

  /** A11 snapshot stamping: fact rows carry lineage columns (literal date +
    * version), checked end-to-end through a snapshot write.
    */
  def factSnapshot(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_fact_")
    val fact = Warehouse.stampSnapshot(
      Reference.b6PaymentTotals(s, d), Date.valueOf("2024-06-01"), 1)
    Warehouse.requireFkIntact(
      fact, Tables.orders(s, d).select(col("o_orderpriority")).distinct(),
      "payment_method", "o_orderpriority")
    Lake.writeTableSnapshot(fact, root, "fact_payment_method_totals")
    Lake.readTableFeed(s, root, "fact_payment_method_totals")
  }

  val factSnapshotOracle: String =
    """SELECT o_orderpriority AS payment_method,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
      |       COUNT(*) AS transaction_count,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_amount,
      |       DATE '2024-06-01' AS snapshot_date,
      |       1 AS snapshot_version
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** C-family compaction: many micro-batch appends → many small files;
    * compaction rewrites each day partition to bounded file counts and the
    * oracle proves the data is untouched. The `require` asserts the
    * physical effect (file counts actually shrank) inside the gate itself.
    */
  def compaction(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_cmp_")
    // cap volume: the operator's behavior (5 small files per day → 1) is
    // scale-invariant; writing 100k rows five times would only bench I/O
    val ev = Tables.events(s, d)
      .filter(col("event_id") < 20000)
      .select(col("event_id"), col("value"), timestamp_micros(col("ts_us")).as("ts"))
    // five small appends → ≥5 files per day partition
    (0 until 5).foreach { c =>
      Lake.appendStream(ev.filter(pmod(col("event_id"), lit(5)) === c),
        root, "events", eventTimeCol = Some("ts"))
    }
    val days = Lake.readStreamFeed(s, root, "events")
      .select(col("year"), col("month"), col("day")).distinct()
      .collect().map(r => java.time.LocalDate.of(r.getInt(0), r.getInt(1), r.getInt(2)))
    // day partitions are independent — compact them concurrently (each is
    // its own small Spark job; serial execution wastes the cluster)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val results = Await.result(
      Future.sequence(days.toSeq.map(day => Future {
        day -> Lake.compactPartition(s, root, "events", day)
      })), Duration.Inf)
    results.foreach { case (day, (before, after)) =>
      require(before >= 5 && after < before,
        s"compaction had no effect on $day: $before -> $after")
    }
    Lake.readStreamFeed(s, root, "events")
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("cnt"), Q.moneySum(col("value")).as("total"))
  }

  val compactionOracle: String =
    """SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE event_id < 20000 GROUP BY 1, 2, 3""".stripMargin

  /** Incremental view maintenance: the B4-style aggregate kept up to date
    * from appended batches WITHOUT recomputing history. State = mergeable
    * partial aggregates (count, decimal sum, min, max — all associative),
    * combined per refresh: two day-range chunks processed in sequence must
    * equal one batch over everything, which is exactly what the oracle
    * asserts. At 100 TB this is the difference between scanning the full
    * fact history per refresh and scanning only the new partition.
    */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_ivm_")
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("value"), col("ts_us"),
        dayofmonth(timestamp_micros(col("ts_us"))).as("dy"))
    def partial(chunk: DataFrame): DataFrame =
      chunk.groupBy(col("user_id")).agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("total_dec"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    def refresh(chunk: DataFrame): Unit = {
      val p = partial(chunk)
      val merged = Lake.latestVersion(s, root, "user_value_summary") match {
        case None => p
        case Some(_) =>
          Lake.readTableFeed(s, root, "user_value_summary").unionByName(p)
            .groupBy(col("user_id")).agg(
              sum(col("cnt")).as("cnt"),
              sum(col("total_dec")).as("total_dec"),
              min(col("min_value")).as("min_value"),
              max(col("max_value")).as("max_value"))
      }
      Lake.writeTableSnapshot(merged, root, "user_value_summary")
      ()
    }
    refresh(ev.filter(col("dy") <= 15))
    refresh(ev.filter(col("dy") > 15))
    Lake.readTableFeed(s, root, "user_value_summary")
      .select(col("user_id"), col("cnt"),
        col("total_dec").cast("double").as("total"),
        col("min_value"), col("max_value"))
  }

  val incrementalAggOracle: String =
    """SELECT user_id, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events GROUP BY 1""".stripMargin

  /** C4 permissions: grants (incl. an upsert-overwrite and an expired one),
    * a revoke, then a deterministic batch of access checks. The VALUES
    * oracle carries the hand-computed expected decisions.
    */
  def permissionCheck(s: SparkSession, d: String): DataFrame = {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2024-02-01 00:00:00")
    val asOf = Date.valueOf("2024-06-01")
    var p = Permissions.empty(s)
    p = Permissions.grant(p, "ana@x.io", "/lake/streams", "read", "root", t0)
    p = Permissions.grant(p, "ana@x.io", "/lake/streams", "read", "root", t1) // upsert, same key
    p = Permissions.grant(p, "bob@x.io", "/lake", "admin", "root", t0)
    p = Permissions.grant(p, "eve@x.io", "/lake/tables", "write", "root", t0,
      expiresAt = Some(Date.valueOf("2024-03-01"))) // expired by asOf
    p = Permissions.grant(p, "zed@x.io", "/lake/tables", "read", "root", t0)
    p = Permissions.revoke(p, "zed@x.io", "/lake/tables", "read")
    p = Permissions.grant(p, "sys@x.io", "/", "admin", "root", t0) // root grant
    p = Permissions.grant(p, "tia@x.io", "/lake/docs/", "read", "root", t0) // trailing slash
    import s.implicits._
    val requests = Seq(
      ("ana@x.io", "/lake/streams/events", "read"),
      ("ana@x.io", "/lake/tables/dim", "read"),
      ("bob@x.io", "/lake/streams/events", "write"),
      ("eve@x.io", "/lake/tables/dim", "write"),
      ("zed@x.io", "/lake/tables/dim", "read"),
      ("sys@x.io", "/lake/tables/dim", "write"), // via the root grant
      ("tia@x.io", "/lake/docs/readme", "read"), // under trailing-slash grant
      ("tia@x.io", "/lake/docs2", "read")) // sibling, NOT under /lake/docs/
      .toDF("user_email", "path", "ptype")
    Permissions.checkBatch(p, requests, asOf)
  }

  val permissionCheckOracle: String =
    """SELECT * FROM (VALUES
      |  ('ana@x.io', '/lake/streams/events', 'read', TRUE),
      |  ('ana@x.io', '/lake/tables/dim', 'read', FALSE),
      |  ('bob@x.io', '/lake/streams/events', 'write', TRUE),
      |  ('eve@x.io', '/lake/tables/dim', 'write', FALSE),
      |  ('zed@x.io', '/lake/tables/dim', 'read', FALSE),
      |  ('sys@x.io', '/lake/tables/dim', 'write', TRUE),
      |  ('tia@x.io', '/lake/docs/readme', 'read', TRUE),
      |  ('tia@x.io', '/lake/docs2', 'read', FALSE)
      |) t(user_email, path, ptype, allowed)""".stripMargin

  /** C8 data quality: the declarative expectation suite over orders —
    * one-pass conditional-sum evaluation + a broadcast FK check; the oracle
    * recomputes every violation count in SQL.
    */
  def dataQuality(s: SparkSession, d: String): DataFrame = {
    import graft.governance.Quality
    import s.implicits._
    val orders = Tables.orders(s, d)
    val rowChecks = Quality.evaluate(orders, Seq(
      Quality.NotNull("o_custkey"),
      Quality.Unique("o_orderkey"),
      Quality.InRange("o_totalprice", 0.0, 1e7),
      Quality.Matches("o_orderpriority", "^[1-5]-")))
    val fk = Quality.fkCheck(orders, Tables.customer(s, d), "o_custkey", "c_custkey")
    rowChecks.unionByName(Seq(fk).toDF("check", "violations", "total", "passed"))
  }

  val dataQualityOracle: String =
    """SELECT 'not_null(o_custkey)' AS check, COUNT(*) FILTER (o_custkey IS NULL) AS violations,
      |       COUNT(*) AS total, COUNT(*) FILTER (o_custkey IS NULL) = 0 AS passed
      |FROM orders
      |UNION ALL
      |SELECT 'unique(o_orderkey)', COUNT(*) - COUNT(DISTINCT o_orderkey),
      |       COUNT(*), COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'in_range(o_totalprice, 0.0, 1.0E7)',
      |       COUNT(*) FILTER (o_totalprice < 0.0 OR o_totalprice > 1e7 OR o_totalprice IS NULL),
      |       COUNT(*),
      |       COUNT(*) FILTER (o_totalprice < 0.0 OR o_totalprice > 1e7 OR o_totalprice IS NULL) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'matches(o_orderpriority, ^[1-5]-)',
      |       COUNT(*) FILTER (NOT regexp_matches(o_orderpriority, '^[1-5]-') OR o_orderpriority IS NULL),
      |       COUNT(*),
      |       COUNT(*) FILTER (NOT regexp_matches(o_orderpriority, '^[1-5]-') OR o_orderpriority IS NULL) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'fk(o_custkey -> c_custkey)',
      |       (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |          (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)),
      |       COUNT(*),
      |       (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |          (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)) = 0
      |FROM orders""".stripMargin

  /** C21 k-anonymity audit (round 9) — re-identification risk over
    * quasi-identifiers, the governance check the reference's anonymizing
    * export (export_to_data_lake.py's anonymized feed) implicitly assumes
    * but never verifies: masking direct identifiers is NOT enough when
    * quasi-identifier combinations (nation × segment × balance band)
    * isolate individuals into classes smaller than k. Reports, per
    * generalization level of a fixed ladder (band 1000 → band 5000 →
    * band dropped), the equivalence-class count, the classes below k=10,
    * the rows they expose, and the smallest class — the standard
    * "generalize until every class reaches k" audit, entirely
    * integer-exact. Scale shape: one partial-agg'd groupBy per level
    * (shuffled bytes ∝ class cardinality, bounded by nations × segments ×
    * bands), then 1-row aggregates.
    */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val k = 10
    val c = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
    def level(lv: Int, quasi: Seq[org.apache.spark.sql.Column]): DataFrame =
      c.groupBy(quasi: _*).agg(count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(when(col("sz") < k, 1L).otherwise(0L)).as("risky_classes"),
          sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("risky_rows"),
          min(col("sz")).as("min_class"))
        .select(lit(lv.toLong).as("level"), col("n_classes"),
          col("risky_classes"), col("risky_rows"), col("min_class"))
    val l0 = level(0, Seq(col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000)))
    val l1 = level(1, Seq(col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 5000)))
    val l2 = level(2, Seq(col("c_nationkey"), col("c_mktsegment")))
    l0.unionByName(l1).unionByName(l2)
      .withColumn("k_satisfied", col("risky_classes") === 0L)
  }

  val kAnonymityOracle: String =
    """WITH l0 AS (SELECT COUNT(*) AS sz FROM customer
      |            GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 1000)),
      |l1 AS (SELECT COUNT(*) AS sz FROM customer
      |       GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 5000)),
      |l2 AS (SELECT COUNT(*) AS sz FROM customer
      |       GROUP BY c_nationkey, c_mktsegment)
      |SELECT CAST(0 AS BIGINT) AS level, COUNT(*) AS n_classes,
      |       CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS risky_classes,
      |       CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS risky_rows,
      |       MIN(sz) AS min_class,
      |       SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) = 0 AS k_satisfied
      |FROM l0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), COUNT(*),
      |       CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT),
      |       MIN(sz), SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) = 0
      |FROM l1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), COUNT(*),
      |       CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT),
      |       MIN(sz), SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) = 0
      |FROM l2""".stripMargin

  /** C22 l-diversity audit — k-anonymity's companion: a class of ≥ k rows
    * still re-identifies its members' SENSITIVE attribute if they all
    * share one value (homogeneity attack), so the audit measures, per
    * quasi-identifier generalization level, how many equivalence classes
    * carry fewer than `l` distinct sensitive values and how many rows sit
    * in them. Sensitive attribute here: the account-balance band. Same
    * scale shape as [[kAnonymity]]: one partial-agg'd groupBy per level
    * over the QI domain (bounded by construction), the exact
    * COUNT(DISTINCT) per class riding Spark's two-phase distinct rewrite;
    * shuffled bytes bounded by |QI domain| × |sensitive domain|, never by
    * corpus rows.
    */
  def lDiversity(s: SparkSession, d: String): DataFrame = {
    val l = 3
    val c = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("sens"))
    def level(lv: Int, quasi: Seq[org.apache.spark.sql.Column]): DataFrame =
      c.groupBy(quasi: _*)
        .agg(countDistinct(col("sens")).as("div"), count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(when(col("div") < l, 1L).otherwise(0L)).as("risky_classes"),
          sum(when(col("div") < l, col("sz")).otherwise(0L)).as("risky_rows"),
          min(col("div")).as("min_diversity"))
        .select(lit(lv.toLong).as("level"), col("n_classes"),
          col("risky_classes"), col("risky_rows"), col("min_diversity"))
    val l0 = level(0, Seq(col("c_nationkey"), col("c_mktsegment")))
    val l1 = level(1, Seq(col("c_mktsegment")))
    l0.unionByName(l1)
      .withColumn("l_satisfied", col("risky_classes") === 0L)
  }

  val lDiversityOracle: String =
    """WITH base AS (SELECT c_nationkey, c_mktsegment,
      |                     floor(c_acctbal / 1000) AS sens FROM customer),
      |l0 AS (SELECT COUNT(DISTINCT sens) AS div, COUNT(*) AS sz FROM base
      |       GROUP BY c_nationkey, c_mktsegment),
      |l1 AS (SELECT COUNT(DISTINCT sens) AS div, COUNT(*) AS sz FROM base
      |       GROUP BY c_mktsegment)
      |SELECT CAST(0 AS BIGINT) AS level, COUNT(*) AS n_classes,
      |       CAST(SUM(CASE WHEN div < 3 THEN 1 ELSE 0 END) AS BIGINT) AS risky_classes,
      |       CAST(SUM(CASE WHEN div < 3 THEN sz ELSE 0 END) AS BIGINT) AS risky_rows,
      |       MIN(div) AS min_diversity,
      |       SUM(CASE WHEN div < 3 THEN 1 ELSE 0 END) = 0 AS l_satisfied
      |FROM l0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), COUNT(*),
      |       CAST(SUM(CASE WHEN div < 3 THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(SUM(CASE WHEN div < 3 THEN sz ELSE 0 END) AS BIGINT),
      |       MIN(div), SUM(CASE WHEN div < 3 THEN 1 ELSE 0 END) = 0
      |FROM l1""".stripMargin

  /** C27 differentially-private aggregate release — the governance
    * ladder's next rung after the k-anonymity/l-diversity audits: per
    * market segment, a DP COUNT (sensitivity 1, ε=0.5) and a DP
    * bounded-contribution SUM of account balance clamped to [0, 10000]
    * (sensitivity 10000, ε=0.5), charged against a total budget of ε=1.0
    * for the customer dataset. Noise is seeded Laplace inverse-CDF
    * (md5-derived uniform, 1e-6 grid quantization) so the release is a
    * deterministic, auditable function of its id — which is also what
    * lets DuckDB replay the mechanism formula-for-formula. Re-running the
    * gate re-registers the same releases idempotently (no double-spend).
    */
  def dpAgg(s: SparkSession, d: String): DataFrame = {
    DifferentialPrivacy.setBudget("c27_customer", 1.0)
    val c = Tables.customer(s, d)
    val cnt = DifferentialPrivacy.releaseCount(
      c, Seq("c_mktsegment"), "c27_customer", "c27_seg_count", epsilon = 0.5,
      insecureDeterministicNoise = true)
    val sm = DifferentialPrivacy.releaseBoundedSum(
      c, Seq("c_mktsegment"), "c_acctbal", lo = 0.0, hi = 10000.0,
      "c27_customer", "c27_seg_sum", epsilon = 0.5,
      insecureDeterministicNoise = true)
    cnt.join(sm, Seq("c_mktsegment"))
  }

  val dpAggOracle: String =
    """WITH base AS (
      |  SELECT c_mktsegment,
      |         COUNT(*) AS n,
      |         SUM(CAST(LEAST(GREATEST(CAST(c_acctbal AS DOUBLE), 0.0), 10000.0)
      |                  AS DECIMAL(18,2))) AS s
      |  FROM customer GROUP BY 1),
      |u AS (
      |  SELECT c_mktsegment, n, s,
      |         (('0x' || substr(md5('c27_seg_count:' || c_mktsegment), 1, 13))::BIGINT
      |            + 0.5) / 4503599627370496.0 - 0.5 AS uc,
      |         (('0x' || substr(md5('c27_seg_sum:' || c_mktsegment), 1, 13))::BIGINT
      |            + 0.5) / 4503599627370496.0 - 0.5 AS us
      |  FROM base)
      |SELECT c_mktsegment,
      |       CAST(n AS DOUBLE)
      |         + floor((-(2.0) * sign(uc) * ln(1 - 2 * abs(uc))) * 1e6 + 0.5) / 1e6
      |         AS dp_count,
      |       CAST(s AS DOUBLE)
      |         + floor((-(20000.0) * sign(us) * ln(1 - 2 * abs(us))) * 1e6 + 0.5) / 1e6
      |         AS dp_sum
      |FROM u""".stripMargin

  /** C28 USER-LEVEL DP release — [[dpAgg]]'s neighboring relation
    * upgraded to the one training-data governance needs: removing a USER
    * removes ALL their rows (their orders span many groups). Contribution
    * bounding (one count per (user, group), each user's first L=2 groups
    * by deterministic rank) caps user-level sensitivity at exactly L, and
    * the per-priority distinct-customer counts release with Laplace
    * noise at that scale. Same seeded mechanism and accountant as C27,
    * its own dataset budget.
    */
  def dpUserLevel(s: SparkSession, d: String): DataFrame = {
    DifferentialPrivacy.setBudget("c28_orders", 1.0)
    DifferentialPrivacy.releaseUserCount(
      Tables.orders(s, d), "o_custkey", Seq("o_orderpriority"),
      maxGroupsPerUser = 2, "c28_orders", "c28_prio_users", epsilon = 1.0,
      insecureDeterministicNoise = true)
  }

  val dpUserLevelOracle: String =
    """WITH contrib AS (
      |  SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
      |capped AS (
      |  SELECT o_custkey, o_orderpriority,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderpriority) AS grk
      |  FROM contrib),
      |base AS (
      |  SELECT o_orderpriority, COUNT(*) AS n FROM capped
      |  WHERE grk <= 2 GROUP BY 1)
      |SELECT o_orderpriority,
      |       CAST(n AS DOUBLE)
      |         + floor((-(2.0) * sign(u) * ln(1 - 2 * abs(u))) * 1e6 + 0.5) / 1e6
      |         AS dp_users
      |FROM (SELECT o_orderpriority, n,
      |             (('0x' || substr(md5('c28_prio_users:' || o_orderpriority),
      |                              1, 13))::BIGINT + 0.5)
      |                / 4503599627370496.0 - 0.5 AS u
      |      FROM base)""".stripMargin

  /** C5 feed catalog: built-in sync + a CRUD sequence; final state against a
    * VALUES oracle.
    */
  def feedCatalog(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    var cat = FeedCatalog.builtIn
    cat = cat.add(graft.model.FeedConfig("documents_feed", "stream", "crawler",
      "raw documents", "date", "append", 90, 0, enabled = true, status = "active"))
    cat = cat.update("documents_feed", retentionDays = Some(30))
    cat = cat.disable("transaction_flattened")
    cat = cat.archive("transaction_stream_blacklisted")
    cat = cat.delete("user_transaction_summary_eur", confirm = true)
    // round-trip through the reference's on-disk descriptor layout (one
    // JSON per feed under feeds/active|archived) — the emitted rows come
    // from the RELOADED catalog, so persistence is inside the oracle loop
    val root = scratch("graft_feeds_")
    FeedCatalog.save(cat, root)
    FeedCatalog.load(root)
      .all.map(f => (f.name, f.feedType, f.status, f.enabled, f.retentionDays))
      .toDF("name", "feed_type", "status", "enabled", "retention_days")
  }

  val feedCatalogOracle: String =
    """SELECT * FROM (VALUES
      |  ('documents_feed', 'stream', 'active', TRUE, 30),
      |  ('payment_method_totals', 'table', 'active', TRUE, 0),
      |  ('product_purchase_counts', 'table', 'active', TRUE, 0),
      |  ('transaction_flattened', 'stream', 'active', FALSE, 365),
      |  ('transaction_stream', 'stream', 'active', TRUE, 365),
      |  ('transaction_stream_anonymized', 'stream', 'active', TRUE, 730),
      |  ('transaction_stream_blacklisted', 'stream', 'archived', TRUE, 365),
      |  ('user_transaction_summary', 'table', 'active', TRUE, 0)
      |) t(name, feed_type, status, enabled, retention_days)""".stripMargin

  /** A9 breadth: the same rows written and read back through every
    * container-supported columnar/row format (parquet, orc, avro, json,
    * csv) — value fidelity proven by one shared aggregate oracle per
    * format.
    */
  def formatsRoundtrip(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_fmt_")
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
    val formats = Seq("parquet", "orc", "json", "csv") // no spark-avro jar in image
    val readBack = formats.map { f =>
      val w = ev.write.mode("overwrite").format(f)
      (if (f == "csv") w.option("header", "true") else w).save(s"$root/$f")
      val r = s.read.format(f)
      val df = f match {
        case "csv" => r.option("header", "true").schema(ev.schema).load(s"$root/$f")
        case "json" => r.schema(ev.schema).load(s"$root/$f")
        case _ => r.load(s"$root/$f")
      }
      df.withColumn("format", lit(f))
    }
    readBack.reduce(_ unionByName _)
      .groupBy(col("format"))
      .agg(count(lit(1)).as("cnt"), Q.moneySum(col("value")).as("total"))
  }

  val formatsRoundtripOracle: String =
    """SELECT f.format, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events
      |CROSS JOIN (VALUES ('parquet'), ('orc'), ('json'), ('csv')) f(format)
      |GROUP BY 1""".stripMargin

  /** A12 descriptor accumulation: three tracked appends of the same events
    * batch; the running descriptor must show 3× the record count, the FIRST
    * export's created_at and the LAST export's last_export stamp — exactly
    * the reference's `_metadata.json` bookkeeping
    * (export_to_data_lake.py:281-301). The oracle recomputes the totals
    * from the raw table; byte totals are FS facts DuckDB cannot see, so
    * only their positivity is asserted.
    */
  def feedDescriptor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = scratch("graft_desc_")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_micros(col("ts_us")).as("ts"))
    // explicit UTC: Timestamp.valueOf would use the JVM default zone and
    // silently shift these stamps away from the oracle's epoch_us on any
    // non-UTC host
    val stamps = Seq("2024-06-01T00:00:00", "2024-06-02T00:00:00", "2024-06-03T00:00:00")
      .map(t => java.time.LocalDateTime.parse(t)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
    val last = stamps.map(at =>
      Lake.appendStreamTracked(ev, root, "events",
        eventTimeCol = Some("ts"), atUs = at)).last
    val persisted = Lake.readFeedDescriptor(s, root, "events").get
    require(persisted == last, "persisted descriptor diverged from returned one")
    Seq(persisted).toDF()
      .select(col("feed"), col("total_records"), col("export_count"),
        col("created_at_us"), col("last_export_at_us"),
        (col("total_size_bytes") > 0).as("has_bytes"))
  }

  val feedDescriptorOracle: String =
    """SELECT 'events' AS feed, 3 * COUNT(*) AS total_records, 3 AS export_count,
      |       epoch_us(TIMESTAMP '2024-06-01 00:00:00') AS created_at_us,
      |       epoch_us(TIMESTAMP '2024-06-03 00:00:00') AS last_export_at_us,
      |       TRUE AS has_bytes
      |FROM events""".stripMargin

  /** A7 change-data diff: snapshot v1 from the customer dim, v2 with
    * deterministic deletes (key % 7), updates (key % 10) and 3 inserts;
    * [[Lake.versionDiff]] must classify every key exactly as the oracle
    * recomputes it from the same arithmetic.
    */
  def versionDiffGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = scratch("graft_vdiff_")
    val v1 = Tables.customer(s, d).select(
      col("c_custkey").as("user_id"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"))
    Lake.writeTableSnapshot(v1, root, "dim_users_cdc")
    // insert keys start past the observed max so they cannot collide with a
    // real customer key at ANY scale factor (the oracle derives the same
    // base from the raw table)
    val insertBase = v1.agg(max(col("user_id"))).head().getLong(0) + 1
    val v2 = v1.filter(col("user_id") % 7 =!= 0)
      .withColumn("segment",
        when(col("user_id") % 10 === 0, lit("CHANGED")).otherwise(col("segment")))
      .unionByName(s.range(3).select(
        (col("id") + insertBase).as("user_id"),
        lit("new user").as("name"), lit("NEW").as("segment")))
    Lake.writeTableSnapshot(v2, root, "dim_users_cdc")
    Lake.versionDiff(s, root, "dim_users_cdc", 1, 2, Seq("user_id"))
  }

  val versionDiffOracle: String =
    """SELECT c_custkey AS user_id,
      |       CASE WHEN c_custkey % 7 = 0 THEN 'deleted'
      |            WHEN c_custkey % 10 = 0 THEN 'updated'
      |            ELSE 'unchanged' END AS change
      |FROM customer
      |UNION ALL
      |SELECT (SELECT MAX(c_custkey) FROM customer) + 1 + id AS user_id,
      |       'inserted' AS change
      |FROM range(0, 3) t(id)""".stripMargin

  /** A35 STATS-BACKED FILE PRUNING for catalog SQL scans (round 12):
    * every snapshot commit stamps a per-file min/max/null-count sidecar
    * (`_filestats.json`, parquet FOOTER reads of the version's own files —
    * O(new files), no data re-read), and the catalog's scan builder
    * evaluates pushed data filters against it, rebuilding the parquet
    * scan over only the admitted files. Spark's scan skips ROW GROUPS
    * from footers it has opened; this skips the FOOTER OPENS — at a
    * million files per 100 TB snapshot, a predicate that admits two
    * files costs two footer GETs, not a million. The gate writes orders
    * range-clustered on o_orderkey into a catalog table, runs a range, a
    * point, and a string-equality scan, REQUIRES each to have admitted
    * the expected file subset (the decision is invisible in results, by
    * design — the recorded admission is the observability), and
    * hash-verifies the union against DuckDB running the same slices on
    * the raw table.
    */
  def statsPruning(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a35_")
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
      .filter(col("o_orderkey") <= 2000)
    Lake.writeTableSnapshot(
      ord.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root, "ord_sp")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)

    def slice(gen: String, where: String, suffix: String = " VERSION AS OF 1"): DataFrame =
      s.sql(s"SELECT '$gen' AS gen, o_orderkey, o_orderstatus, o_totalprice " +
        s"FROM $cat.tables.ord_sp$suffix WHERE $where")
    def prunePin(df: DataFrame, maxKept: Int, label: String): DataFrame = {
      // planning alone decides the file list
      val (kept, total) = FilePruner.lastCounts(df.queryExecution.executedPlan)
      require(total == 8, s"$label: expected 8 files in the snapshot, saw $total")
      require(kept <= maxKept,
        s"$label: stats must admit <= $maxKept of 8 range-clustered files, admitted $kept")
      df
    }
    val range = prunePin(
      slice("range", "o_orderkey BETWEEN 100 AND 199"), maxKept = 2, "range")
    val point = prunePin(slice("point", "o_orderkey = 32"), 1, "point")
    val none = prunePin(slice("none", "o_orderkey = -1"), 0, "none")
    // string equality prunes on UTF-8 byte order only when the value
    // falls outside a file's [min, max] — priorities span every file, so
    // this slice checks VALUE correctness through the pruning path, not a
    // prune count
    val str = slice("str", "o_orderpriority = '1-URGENT' AND o_orderkey < 500")
    // merge-on-read composition: a positional DELETE leaves a sidecar, so
    // SQL reads route through the V1 fallback — which prunes files against
    // the SAME stats before applying the delete anti-join
    s.sql(s"DELETE FROM $cat.tables.ord_sp " +
      "WHERE o_orderkey >= 150 AND o_orderkey <= 155")
    require(graft.lake.MergeOnRead.hasAnyDeletes(s, root, "ord_sp",
      Lake.versions(s, root, "ord_sp").max),
      "the range DELETE must commit a merge-on-read sidecar")
    val mor = prunePin(
      slice("mor", "o_orderkey BETWEEN 100 AND 199", suffix = ""),
      maxKept = 2, "mor-fallback")
    // every data-holding dir was stamped at commit: backfill has no work
    require(s.sql(s"CALL $cat.system.collect_stats('ord_sp')").collect().isEmpty,
      "collect_stats must find every snapshot dir already stamped")
    // METADATA AGGREGATE: min/max/count answered from the sidecar alone —
    // the plan is a LocalTableScan, zero jobs over table data
    org.apache.spark.sql.graft.GraftCatalog.lastMetaAggregate.set(0)
    val aggSlice = s.sql(
      s"SELECT 'agg' AS gen, min(o_orderkey) AS o_orderkey, " +
        "max(o_orderstatus) AS o_orderstatus, " +
        "CAST(count(*) AS DOUBLE) AS o_totalprice " +
        s"FROM $cat.tables.ord_sp VERSION AS OF 1")
    aggSlice.queryExecution.executedPlan
    require(org.apache.spark.sql.graft.GraftCatalog.lastMetaAggregate.get() == 3,
      "min/max/count over the clean snapshot must answer from the sidecar")
    range.unionByName(point).unionByName(none).unionByName(str)
      .unionByName(mor).unionByName(aggSlice)
  }

  val statsPruningOracle: String =
    """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |           FROM orders WHERE o_orderkey <= 2000)
      |SELECT 'range' AS gen, o_orderkey, o_orderstatus, o_totalprice FROM t
      |WHERE o_orderkey BETWEEN 100 AND 199
      |UNION ALL
      |SELECT 'point', o_orderkey, o_orderstatus, o_totalprice FROM t
      |WHERE o_orderkey = 32
      |UNION ALL
      |SELECT 'none', o_orderkey, o_orderstatus, o_totalprice FROM t
      |WHERE o_orderkey = -1
      |UNION ALL
      |SELECT 'str', o_orderkey, o_orderstatus, o_totalprice FROM t
      |WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 500
      |UNION ALL
      |SELECT 'mor', o_orderkey, o_orderstatus, o_totalprice FROM t
      |WHERE o_orderkey BETWEEN 100 AND 199
      |  AND o_orderkey NOT BETWEEN 150 AND 155
      |UNION ALL
      |SELECT 'agg', min(o_orderkey), max(o_orderstatus),
      |       CAST(count(*) AS DOUBLE) FROM t""".stripMargin

  /** A31c METADATA-ONLY TYPE WIDENING (round 12): `ALTER TABLE ... ALTER
    * COLUMN c TYPE t` for losslessly-widenable pairs ([[Lake.isWidening]]:
    * integral up-widenings, float→double, decimal precision growth, ...)
    * commits ONE `_schema` JSON + a full-carry manifest — zero data files
    * read or written; Spark 4's vectorized parquet reader up-converts the
    * old narrow files at scan time (the Delta/Iceberg type-promotion
    * contract). The gate widens int→bigint and float→double through
    * catalog SQL, pins the zero-data-file commit shape and the narrowing
    * refusal, INSERTs a row only the widened type can hold, runs a
    * file-granular COW UPDATE over the mixed narrow+wide snapshot, and
    * hash-verifies base + latest generations against DuckDB recomputing
    * the same lineage with explicit casts.
    */
  def typeWidening(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a31c_")
    val ord = Tables.orders(s, d).filter(col("o_orderkey").between(1, 600))
      .select(col("o_orderkey").cast("int").as("k"),
        col("o_totalprice").cast("float").as("price"),
        col("o_orderstatus").as("status"))
    Lake.writeTableSnapshot(
      ord.repartitionByRange(4, col("k")), root, "ord_w")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"ALTER TABLE $cat.tables.ord_w ALTER COLUMN k TYPE BIGINT")
    s.sql(s"ALTER TABLE $cat.tables.ord_w ALTER COLUMN price TYPE DOUBLE")
    Seq(2, 3).foreach { v =>
      require(Lake.snapshotFiles(s, root, "ord_w", v)
        .forall(_.contains("version=v1")),
        s"widening v$v must write zero data files — all carried from v1")
    }
    require(s.table(s"$cat.tables.ord_w").schema.map(_.dataType.simpleString) ==
      Seq("bigint", "double", "string"),
      "the visible schema must show the widened types")
    // a key only the widened type can hold
    s.sql(s"INSERT INTO $cat.tables.ord_w VALUES " +
      s"(${Int.MaxValue.toLong + 1000}, CAST(1.5 AS DOUBLE), 'W')")
    // file-granular COW UPDATE over the mixed narrow+wide snapshot
    s.sql(s"UPDATE $cat.tables.ord_w SET status = 'X' WHERE k = 7")
    require(Lake.hasManifest(s, root, "ord_w",
      Lake.versions(s, root, "ord_w").max),
      "the UPDATE must ride the file-granular COW route")
    require(scala.util.Try(s.sql(
      s"ALTER TABLE $cat.tables.ord_w ALTER COLUMN k TYPE INT")).isFailure,
      "narrowing must refuse")
    s.sql(s"SELECT 'base' AS gen, CAST(k AS BIGINT) AS k, " +
      s"CAST(price AS DOUBLE) AS price, status " +
      s"FROM $cat.tables.ord_w VERSION AS OF 1")
      .unionByName(s.sql(
        s"SELECT 'latest' AS gen, k, price, status FROM $cat.tables.ord_w"))
  }

  val typeWideningOracle: String =
    s"""WITH base AS (
      |  SELECT CAST(o_orderkey AS INTEGER) AS k,
      |         CAST(o_totalprice AS REAL) AS price,
      |         o_orderstatus AS status
      |  FROM orders WHERE o_orderkey BETWEEN 1 AND 600)
      |SELECT 'base' AS gen, CAST(k AS BIGINT) AS k,
      |       CAST(price AS DOUBLE) AS price, status FROM base
      |UNION ALL
      |SELECT 'latest', CAST(k AS BIGINT), CAST(price AS DOUBLE),
      |       CASE WHEN k = 7 THEN 'X' ELSE status END FROM base
      |UNION ALL
      |SELECT 'latest', ${Int.MaxValue.toLong + 1000}, CAST(1.5 AS DOUBLE), 'W'""".stripMargin

  /** A36 BLOOM FILE INDEXES (round 12): `bloom_filter_columns` table
    * property → each commit builds per-file blooms for the named columns
    * over its OWN staged files (`_blooms.parquet`, atomic with the
    * commit), and every scan/probe/fallback narrows equality and IN
    * lookups with an executor-side probe — point lookups on columns the
    * files are NOT clustered by (where min/max stats cannot prune) open
    * ~1 + fpp·files files instead of all of them. Zero false negatives
    * by construction; a false positive costs a footer read, never a row.
    * The gate clusters lineitem by l_orderkey, blooms l_partkey (uniform
    * across files — the adversarial case for min/max), pins the
    * admitted-file counts on hit and miss lookups, then composes with
    * the zero-scan equality DELETE and a COW UPDATE keyed on the bloomed
    * column, hash-verifying three generations against DuckDB.
    */
  def bloomIndex(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a36_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE TABLE $cat.tables.li_bloom " +
      "(l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE) " +
      "TBLPROPERTIES ('cluster_by'='l_orderkey', 'bloom_filter_columns'='l_partkey')")
    Tables.lineitem(s, d).filter(col("l_orderkey") <= 2000)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .createOrReplaceTempView("a36_src")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try s.sql(s"INSERT INTO $cat.tables.li_bloom SELECT * FROM a36_src")
    finally s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    // MID-RANGE probe values: every file's [min, max] spans them (the
    // partkeys are uniform across the orderkey clustering), so min/max
    // stats admit everything and only the bloom can prune
    val mids = s.sql(
      """SELECT
        |  (SELECT l_partkey FROM a36_src
        |   ORDER BY abs(l_partkey - (SELECT avg(l_partkey) / 2 FROM a36_src)),
        |            l_partkey LIMIT 1) AS a,
        |  (SELECT l_partkey FROM a36_src
        |   ORDER BY abs(l_partkey - (SELECT avg(l_partkey) FROM a36_src)),
        |            l_partkey LIMIT 1) AS b""".stripMargin).head()
    val (pk, pk2) = (mids.getLong(0), mids.getLong(1))

    // the bloomed point lookup admits a strict subset; a miss admits none
    val (kept, total) = FilePruner.lastCounts(
      s.sql(s"SELECT * FROM $cat.tables.li_bloom WHERE l_partkey = $pk")
        .queryExecution.executedPlan)
    // a bloom prunes only when files DON'T each contain every value: at
    // toy scale (sf0.001) the partkey domain saturates every file, so
    // enforce the pin only when distinct values far exceed rows per file
    val Array(srcRows, distinctParts) = s.sql(
      "SELECT count(*), count(DISTINCT l_partkey) FROM a36_src")
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val sparse = distinctParts > 3L * (srcRows / total.max(1))
    require(total >= 4 && (kept < total || !sparse),
      s"bloom lookup must prune ($kept/$total admitted; " +
        s"$distinctParts distinct over $srcRows rows)")
    val miss = FilePruner.lastCounts(
      s.sql(s"SELECT * FROM $cat.tables.li_bloom WHERE l_partkey = -42")
        .queryExecution.executedPlan)
    require(miss._1 == 0,
      s"a value no file contains must admit zero files ($miss)")

    // zero-scan equality DELETE on the bloomed column, then a COW UPDATE
    // keyed on it — the mutation probe rides the same bloom
    s.sql(s"DELETE FROM $cat.tables.li_bloom WHERE l_partkey = $pk")
    val probe = FilePruner.recorded(
      s.sql(s"UPDATE $cat.tables.li_bloom SET l_quantity = 0 WHERE l_partkey = $pk2"))
      .lastOption
    require(probe.exists(_.skippedByBloom > 0) || !sparse,
      s"the UPDATE probe must exclude files via the bloom " +
        s"(${probe.map(a => (a.skippedByBloom, a.total))})")

    def slice(gen: String, where: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, l_orderkey, l_partkey, l_quantity " +
        s"FROM $cat.tables.li_bloom WHERE $where")
    slice("deleted", s"l_partkey = $pk")
      .unionByName(slice("updated", s"l_partkey = $pk2"))
      .unionByName(slice("rest", s"l_orderkey BETWEEN 500 AND 599"))
  }

  val bloomIndexOracle: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
      |  WHERE l_orderkey <= 2000),
      |pk AS (SELECT l_partkey AS v FROM base
      |       ORDER BY abs(l_partkey - (SELECT avg(l_partkey) / 2 FROM base)),
      |                l_partkey LIMIT 1),
      |pk2 AS (SELECT l_partkey AS v FROM base
      |        ORDER BY abs(l_partkey - (SELECT avg(l_partkey) FROM base)),
      |                 l_partkey LIMIT 1),
      |cur AS (
      |  SELECT l_orderkey, l_partkey,
      |         CASE WHEN l_partkey = (SELECT v FROM pk2) THEN 0
      |              ELSE l_quantity END AS l_quantity
      |  FROM base WHERE l_partkey <> (SELECT v FROM pk))
      |SELECT 'deleted' AS gen, * FROM cur WHERE l_partkey = (SELECT v FROM pk)
      |UNION ALL
      |SELECT 'updated', * FROM cur WHERE l_partkey = (SELECT v FROM pk2)
      |UNION ALL
      |SELECT 'rest', * FROM cur WHERE l_orderkey BETWEEN 500 AND 599""".stripMargin

  /** A37 CHANGE FEED over the versioned catalog table (round 12): the
    * `<table>__changes` relation serves CDF as FULL ROW IMAGES +
    * `change`/`change_version` — batch between any two versions
    * (`startingVersion`/`endingVersion` options, V1 bridge over the
    * library's keyed per-version diff) and FIRST-CLASS STREAMING
    * (`spark.readStream.table`, offsets ARE committed versions; each
    * epoch's diff stages under the checkpoint and is served as file
    * partitions through Spark's own parquet reader; committed epochs
    * reclaim their scratch). This closes the lake loop: tables already
    * sink streams exactly-once (A33); now streams consume tables back,
    * incrementally, without foreachBatch cursor plumbing. The gate
    * drives three committed generations, reads the incremental CDF and
    * the initial-snapshot form, drains the STREAM through a real
    * checkpointed file sink, and hash-verifies everything against DuckDB
    * recomputing the diffs from the raw table.
    */
  def changeFeed(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a37_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val k = col("o_orderkey")
    Lake.writeTableSnapshot(o.filter(k <= 1000), root, "cdf")
    Lake.writeTableSnapshot(
      o.filter(k <= 1200).withColumn("o_totalprice",
        when(k.between(501, 1000), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice"))), root, "cdf")
    Lake.writeTableSnapshot(
      o.filter(k.between(201, 1200)).withColumn("o_totalprice",
        when(k.between(501, 1000), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice"))), root, "cdf")

    def sel(df: DataFrame, gen: String): DataFrame = df.select(
      lit(gen).as("gen"), col("o_orderkey"), col("o_totalprice"),
      col("change"), col("change_version"))
    val incr = sel(s.read.option("keyColumns", "o_orderkey")
      .option("startingVersion", "1").table(s"$cat.tables.cdf__changes"), "incr")
    val init = sel(s.read.option("keyColumns", "o_orderkey")
      .table(s"$cat.tables.cdf__changes"), "init")

    // the STREAM, end-to-end: AvailableNow drain into a checkpointed file
    // sink — one epoch covering (0, v3] (the initial snapshot as inserts)
    val ck = scratch("graft_a37_ck_")
    val out = scratch("graft_a37_out_")
    val q = s.readStream.option("keyColumns", "o_orderkey")
      .table(s"$cat.tables.cdf__changes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    graft.streaming.Streams.awaitDrained(q)
    val streamed = sel(s.read.schema(
      s.table(s"$cat.tables.cdf__changes").schema).parquet(out), "stream")
    incr.unionByName(init).unionByName(streamed)
  }

  val changeFeedOracle: String =
    """WITH g2 AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey BETWEEN 501 AND 1000
      |              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey <= 1200),
      |g3 AS (SELECT * FROM g2 WHERE o_orderkey BETWEEN 201 AND 1200),
      |incr AS (
      |  SELECT o_orderkey, o_totalprice, 'updated' AS change, 2 AS change_version
      |  FROM g2 WHERE o_orderkey BETWEEN 501 AND 1000
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, 'inserted', 2
      |  FROM g2 WHERE o_orderkey BETWEEN 1001 AND 1200
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, 'deleted', 3
      |  FROM g2 WHERE o_orderkey <= 200),
      |init AS (
      |  SELECT o_orderkey, o_totalprice, 'inserted' AS change, 3 AS change_version
      |  FROM g3)
      |SELECT 'incr' AS gen, * FROM incr
      |UNION ALL SELECT 'init', * FROM init
      |UNION ALL SELECT 'stream', * FROM init""".stripMargin

  /** A38 — the lake loop COMPOSED, end-to-end: a catalog table mutates
    * (file-granular UPDATE, DELETE, INSERT), its change feed streams out
    * under admission control (`maxVersionsPerTrigger=2`, so the backlog
    * drains in bounded epochs), and each epoch MERGE-applies into a
    * SECOND catalog table — the reference's CDC-to-warehouse topology
    * (sync_to_mysql.py:326: consume changes, upsert into the mirror) with
    * every leg native: per-key last-change-wins collapse inside the
    * epoch, upserts through the file-granular MERGE, deletions through
    * zero-scan equality deletes. DuckDB recomputes the mirror from the
    * raw table; any mis-stepped epoch boundary, diff or merge diverges
    * the hash.
    */
  def cdfMirror(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a38_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val k = col("o_orderkey")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    Lake.writeTableSnapshot(
      o.filter(k <= 1000).repartitionByRange(4, k)
        .sortWithinPartitions("o_orderkey"),
      root, "msrc")
    s.sql(s"UPDATE $cat.tables.msrc SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderkey BETWEEN 101 AND 200")
    s.sql(s"DELETE FROM $cat.tables.msrc WHERE o_orderkey <= 100")
    o.filter(k.between(1001, 1100)).createOrReplaceTempView("a38_ins_src")
    s.sql(s"INSERT INTO $cat.tables.msrc SELECT * FROM a38_ins_src")

    val ck = scratch("graft_a38_ck_")
    graft.streaming.Streams.drainBatches(
        s.readStream.option("keyColumns", "o_orderkey")
          .option("maxVersionsPerTrigger", "2")
          .table(s"$cat.tables.msrc__changes"), ck) { (batch, _) =>
      // per key, the LAST change in the epoch decides its final state
      val latest = batch.groupBy("o_orderkey")
        .agg(max_by(struct(batch.columns.toIndexedSeq.map(col): _*),
          col("change_version")).as("r"))
        .select("r.*")
      val ups = latest.filter(col("change") =!= "deleted")
        .drop("change", "change_version")
      val dels = latest.filter(col("change") === "deleted")
        .select("o_orderkey")
      if (Lake.latestVersion(s, root, "a38_mirror").isEmpty)
        Lake.writeTableSnapshot(ups, root, "a38_mirror")
      else if (!ups.isEmpty)
        graft.lake.CopyOnWrite.mergeInto(s, root, "a38_mirror", ups,
          Seq("o_orderkey"),
          matchedSet = Seq("o_totalprice" -> col("s.o_totalprice")),
          insertNotMatched = true)
      if (Lake.versions(s, root, "a38_mirror").nonEmpty && !dels.isEmpty) {
        graft.lake.MergeOnRead.deleteByKeys(s, root, "a38_mirror", dels)
        ()
      }
    }
    val epochs = new java.io.File(s"$ck/offsets").listFiles()
      .count(_.getName.forall(_.isDigit))
    require(epochs >= 2,
      s"admission control must split the 4-version backlog, got $epochs epochs")
    Lake.readTableFeed(s, root, "a38_mirror")
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  val cdfMirrorOracle: String =
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey BETWEEN 101 AND 200
      |            THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey BETWEEN 101 AND 1100""".stripMargin

  /** A39 — MULTI-DIMENSIONAL clustering (`cluster_by = 'zorder(k,u)'`):
    * inserts sort by the Morton interleave of per-column range buckets,
    * so every file covers a narrow slice of BOTH dimensions and a range
    * predicate on EITHER one prunes files — the case lexicographic
    * clustering cannot serve (its second column prunes only within
    * leading-key ties). The gate REQUIRES admitted-file counts for a
    * k-only and a u-only predicate separately (each must drop at least
    * half the files), then hash-verifies both result sets against DuckDB.
    */
  def zorderCluster(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a39_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE TABLE $cat.tables.zt (k BIGINT, u BIGINT) " +
      "TBLPROPERTIES ('cluster_by'='zorder(k,u)')")
    val src = Tables.orders(s, d).select(
      col("o_orderkey").as("k"),
      (col("o_orderkey") * 2654435761L % 100000L).as("u"))
    src.createOrReplaceTempView("a39_src")
    // AQE would coalesce the tiny range shuffle into one file and leave
    // nothing to prune — the multi-file layout IS the subject here; pin
    // the layout width too (the session may run with few shuffle
    // partitions) so the admitted-count REQUIREs measure tiling, not conf
    val oldParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "32")
    try s.sql(s"INSERT INTO $cat.tables.zt SELECT * FROM a39_src")
    finally {
      s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      s.conf.set("spark.sql.shuffle.partitions", oldParts)
    }

    val kmax = src.agg(max("k")).head().getLong(0)
    val klo = kmax / 2
    val khi = klo + kmax / 16
    val qk = s.sql(s"SELECT k, u FROM $cat.tables.zt WHERE k BETWEEN $klo AND $khi")
    val (ka, kt) = FilePruner.lastCounts(qk.queryExecution.executedPlan)
    require(kt >= 8 && ka * 2 <= kt,
      s"zorder must prune a 1/16 range on k: admitted $ka of $kt files")
    val qu = s.sql(s"SELECT k, u FROM $cat.tables.zt WHERE u BETWEEN 40000 AND 42000")
    val (ua, ut) = FilePruner.lastCounts(qu.queryExecution.executedPlan)
    require(ut >= 8 && ua * 2 <= ut,
      s"zorder must prune on u ALONE — the dimension lexicographic " +
        s"clustering cannot serve: admitted $ua of $ut files")
    qk.select(lit("k").as("gen"), col("k"), col("u"))
      .unionByName(qu.select(lit("u").as("gen"), col("k"), col("u")))
  }

  val zorderClusterOracle: String =
    """WITH src AS (
      |  SELECT o_orderkey AS k, (o_orderkey * 2654435761) % 100000 AS u
      |  FROM orders),
      |b AS (SELECT max(k) AS kmax FROM src)
      |SELECT 'k' AS gen, k, u FROM src, b
      |WHERE k BETWEEN kmax // 2 AND kmax // 2 + kmax // 16
      |UNION ALL
      |SELECT 'u', k, u FROM src WHERE u BETWEEN 40000 AND 42000""".stripMargin

  /** A40 — hash-bucketed snapshots (`bucket_by = 'k:8'`) diff
    * EXCHANGE-FREE: both versions were written `repartition(N, k)`, the
    * commit verified each file holds one bucket
    * ([[graft.lake.BucketLayout]]), so [[Lake.versionDiff]] pairs bucket
    * files and streams a per-bucket sorted merge instead of shuffling two
    * snapshots into a keyed join — at 100 TB the diff's two largest
    * exchanges simply do not exist. The gate REQUIREs zero
    * ShuffleDependency in the diff's lineage and hash-verifies the
    * classification against DuckDB's full-outer recompute.
    */
  def bucketedDiff(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a40_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE TABLE $cat.tables.bt (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('bucket_by'='k:8')")
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("k"),
      col("o_totalprice").cast("double").as("v"))
    o.filter(col("k") <= 1000).createOrReplaceTempView("a40_v1")
    s.sql(s"INSERT INTO $cat.tables.bt SELECT * FROM a40_v1")
    o.filter(col("k").between(201, 1200))
      .withColumn("v", when(col("k").between(501, 1000), col("v") * 2)
        .otherwise(col("v")))
      .createOrReplaceTempView("a40_v2")
    s.sql(s"INSERT OVERWRITE $cat.tables.bt SELECT * FROM a40_v2")

    // CREATE wrote an empty v1; the two data generations are v2 and v3
    require(graft.lake.BucketLayout.layoutOf(s, root, "bt", 2).isDefined &&
      graft.lake.BucketLayout.layoutOf(s, root, "bt", 3).isDefined,
      "both snapshots must carry a verified bucket mapping")
    val diff = Lake.versionDiff(s, root, "bt", 2, 3, Seq("k"))
      .filter(col("change") =!= "unchanged")
    require(!org.apache.spark.sql.graft.BucketedMerge
      .hasShuffle(diff.queryExecution.toRdd),
      "a bucketed versionDiff must carry NO ShuffleDependency")
    diff.select(col("k"), col("change"))
  }

  val bucketedDiffOracle: String =
    """WITH v1 AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v
      |  FROM orders WHERE o_orderkey <= 1000),
      |v2 AS (
      |  SELECT o_orderkey AS k,
      |         CASE WHEN o_orderkey BETWEEN 501 AND 1000
      |              THEN CAST(o_totalprice AS DOUBLE) * 2
      |              ELSE CAST(o_totalprice AS DOUBLE) END AS v
      |  FROM orders WHERE o_orderkey BETWEEN 201 AND 1200)
      |SELECT coalesce(v1.k, v2.k) AS k,
      |       CASE WHEN v1.k IS NULL THEN 'inserted'
      |            WHEN v2.k IS NULL THEN 'deleted'
      |            ELSE 'updated' END AS change
      |FROM v1 FULL JOIN v2 ON v1.k = v2.k
      |WHERE v1.k IS NULL OR v2.k IS NULL OR v1.v <> v2.v""".stripMargin

  /** A41 — `table_changes(...)` as a pure-SQL table-valued function (the
    * Delta TVF shape): read options cannot be spelled in SQL text, so
    * without it incremental CDF is API-only. Same diff machinery, same
    * oracle discipline.
    */
  def tableChangesSql(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a41_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val k = col("o_orderkey")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    Lake.writeTableSnapshot(o.filter(k <= 1000), root, "cdfq")
    Lake.writeTableSnapshot(
      o.filter(k <= 1200).withColumn("o_totalprice",
        when(k.between(501, 1000), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice"))), root, "cdfq")
    s.sql(s"SELECT o_orderkey, o_totalprice, change, change_version " +
      s"FROM table_changes('$cat.tables.cdfq', 1, 'o_orderkey')")
  }

  val tableChangesSqlOracle: String =
    """WITH g2 AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey BETWEEN 501 AND 1000
      |              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey <= 1200)
      |SELECT o_orderkey, o_totalprice, 'updated' AS change, 2 AS change_version
      |FROM g2 WHERE o_orderkey BETWEEN 501 AND 1000
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'inserted', 2
      |FROM g2 WHERE o_orderkey BETWEEN 1001 AND 1200""".stripMargin

  /** A42 — STORAGE-PARTITIONED JOIN: two `bucket_by='…:8'` tables joined
    * on the bucket key plan with ZERO exchanges on either side — the scan
    * reports its verified `_buckets.json` layout as a
    * `KeyGroupedPartitioning(bucket(8, key))` and Spark's SPJ machinery
    * (`spark.sql.sources.v2.bucketing.enabled`) elides both shuffles AND
    * the group-by's. The gate requires the exchange-free plan, then
    * materializes UNDER those confs so the hashed rows are the rows that
    * plan produced; the oracle recomputes the join+agg in DuckDB.
    */
  def spjJoin(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a42_")
    import graft.lake.BucketLayout
    def bucketed(name: String, keyCol: String, df: DataFrame): Unit = {
      Lake.setTableProperties(s, root, name, Map(BucketLayout.Prop -> s"$keyCol:8"))
      Lake.writeTableSnapshot(
        Lake.applyClusterPolicy(s, root, name, df), root, name)
    }
    bucketed("spj_cust", "c_custkey",
      Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        .filter(col("c_custkey") <= 3000))
    bucketed("spj_ord", "o_custkey",
      Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
        .filter(col("o_custkey") <= 3000))
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE ON — the production default; the zero-exchange require runs
      // against the FINAL adaptive plan, so the SPJ shape is pinned to
      // survive runtime re-planning, not just static planning
      s.conf.set("spark.sql.adaptive.enabled", "true")
      val q = s.sql(
        s"""SELECT o.o_custkey, max(c.c_name) AS c_name, COUNT(*) AS n_orders,
           |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM $cat.tables.spj_ord o JOIN $cat.tables.spj_cust c
           |  ON o.o_custkey = c.c_custkey
           |GROUP BY o.o_custkey""".stripMargin)
      val rows = q.collect().toIndexedSeq
      requireNoExchange(q, "storage-partitioned join must run with zero exchanges")
      s.createDataFrame(s.sparkContext.parallelize(rows, 4), q.schema)
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  /** Zero-exchange hard require against the FINAL executed plan: under AQE
    * the physical exchanges live inside query stages (leaf
    * `QueryStageExec` nodes a naive `collect` never descends into), so
    * this recurses through adaptive and stage boundaries explicitly.
    */
  private def requireNoExchange(q: DataFrame, msg: String): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def exchanges(p: SparkPlan): Seq[String] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case st: QueryStageExec => exchanges(st.plan)
        case e: org.apache.spark.sql.execution.exchange.Exchange => Seq(e.nodeName)
        case _ => Nil
      }
      here ++ p.children.flatMap(exchanges)
    }
    val found = exchanges(q.queryExecution.executedPlan)
    require(found.isEmpty, s"$msg; found $found")
  }

  val spjJoinOracle: String =
    """SELECT o_custkey, MAX(c_name) AS c_name, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_custkey <= 3000
      |GROUP BY o_custkey""".stripMargin

  /** A45 — SPJ ACROSS MISMATCHED BUCKET COUNTS: `k:16` joins `k:8`
    * exchange-free because the catalog's bucket function is a
    * [[org.apache.spark.sql.connector.catalog.functions.ReducibleFunction]]
    * (`pmod(h,16) % 8 == pmod(h,8)` — the finer side's partition values
    * REDUCE onto the coarser layout instead of both sides shuffling over a
    * count mismatch), under
    * `spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled`
    * with AQE ON. At 100 TB this is the difference between re-bucketing a
    * petabyte fact table to match a re-sharded dimension and joining the
    * layouts as they are.
    */
  def spjMixed(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a45_")
    import graft.lake.BucketLayout
    def bucketed(name: String, keyCol: String, n: Int, df: DataFrame): Unit = {
      Lake.setTableProperties(s, root, name, Map(BucketLayout.Prop -> s"$keyCol:$n"))
      Lake.writeTableSnapshot(
        Lake.applyClusterPolicy(s, root, name, df), root, name)
    }
    bucketed("spjm_cust", "c_custkey", 8,
      Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        .filter(col("c_custkey") <= 3000))
    bucketed("spjm_ord", "o_custkey", 16,
      Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
        .filter(col("o_custkey") <= 3000))
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "true")
      val q = s.sql(
        s"""SELECT o.o_custkey, max(c.c_name) AS c_name, COUNT(*) AS n_orders,
           |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM $cat.tables.spjm_ord o JOIN $cat.tables.spjm_cust c
           |  ON o.o_custkey = c.c_custkey
           |GROUP BY o.o_custkey""".stripMargin)
      val rows = q.collect().toIndexedSeq
      requireNoExchange(q,
        "mismatched-bucket-count SPJ must reduce 16 onto 8, zero exchanges")
      s.createDataFrame(s.sparkContext.parallelize(rows, 4), q.schema)
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  /** A47 — BUCKET-COUNT EVOLUTION: `bucket_by k:8 → k:16` is one property
    * commit (zero data files); afterwards COW rewrites land at 16 while
    * untouched files CARRY at 8, and the mixed snapshot still exposes ONE
    * verified layout at gcd(8, 16) = 8 (for g | n, `pmod(h,n) % g ==
    * pmod(h,g)` — a file pure at its own count is pure at the coarser
    * one). The pre-evolution snapshot therefore joins the post-evolution
    * snapshot EXCHANGE-FREE (asserted; Plans pins the same shape), so
    * re-bucketing a 100 TB table costs nothing up front and nothing to
    * its exchange-free paths — the finer count simply phases in as
    * rewrites touch files.
    */
  def bucketEvolve(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a47_")
    import graft.lake.BucketLayout
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    Lake.setTableProperties(s, root, "bev", Map(BucketLayout.Prop -> "o_custkey:8"))
    Lake.writeTableSnapshot(
      Lake.applyClusterPolicy(s, root, "bev",
        Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
          .filter(col("o_custkey") <= 1500)), root, "bev")
    val v1 = Lake.latestVersion(s, root, "bev").get
    require(BucketLayout.layoutOf(s, root, "bev", v1).exists(_._2 == 8),
      "pre-evolution snapshot must carry a verified k:8 layout")
    // the EVOLUTION: double the count — a property commit, no data files
    Lake.setTableProperties(s, root, "bev", Map(BucketLayout.Prop -> "o_custkey:16"))
    // a COW mutation after the ALTER: the rewritten slice lands at 16,
    // every untouched file carries at 8 — the mixed boundary
    // POINT keys: a hash-spread predicate would touch every bucket and
    // rewrite the whole snapshot at 16 — three keys touch ≤3 of 8 buckets,
    // so at least five pre-evolution files must carry
    graft.lake.CopyOnWrite.updateWhere(s, root, "bev",
      col("o_custkey").isin(42, 43, 44),
      Seq("o_totalprice" -> (col("o_totalprice") * 2)))
    val vN = Lake.latestVersion(s, root, "bev").get
    val layout = BucketLayout.layoutOf(s, root, "bev", vN)
    require(layout.exists(_._2 == 8),
      s"mixed 8/16 snapshot must reduce to one layout at gcd 8, got " +
        layout.map(l => (l._1, l._2)))
    val dirs = Lake.snapshotFiles(s, root, "bev", vN)
      .map(p => new org.apache.hadoop.fs.Path(p).getParent.getName).distinct
    require(dirs.size > 1,
      s"snapshot must MIX pre- and post-evolution files, got dirs $dirs")
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "true")
      val q = s.sql(
        s"""SELECT a.o_custkey, COUNT(*) AS n_pairs,
           |       CAST(SUM(CAST(a.o_totalprice + b.o_totalprice
           |                     AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM $cat.tables.bev VERSION AS OF $v1 a
           |JOIN $cat.tables.bev b ON a.o_custkey = b.o_custkey
           |GROUP BY a.o_custkey""".stripMargin)
      val rows = q.collect().toIndexedSeq
      requireNoExchange(q,
        "pre- and post-evolution snapshots must join exchange-free at gcd 8")
      s.createDataFrame(s.sparkContext.parallelize(rows, 4), q.schema)
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  val bucketEvolveOracle: String =
    """WITH v1 AS (
      |  SELECT o_custkey, o_totalprice FROM orders WHERE o_custkey <= 1500),
      |latest AS (
      |  SELECT o_custkey,
      |         CASE WHEN o_custkey IN (42, 43, 44) THEN o_totalprice * 2
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM v1)
      |SELECT a.o_custkey, COUNT(*) AS n_pairs,
      |       CAST(SUM(CAST(a.o_totalprice + b.o_totalprice
      |                     AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM v1 a JOIN latest b ON a.o_custkey = b.o_custkey
      |GROUP BY 1""".stripMargin

  /** A44 — `table_diff(...)` TVF: the NET two-version diff in pure SQL.
    * `table_changes` replays every commit in a range (a key updated in
    * three commits appears three times); `table_diff` collapses the
    * endpoints into ONE keyed change set — what a reconciliation or
    * backfill job wants — through the same manifest-aware step diff, so
    * intermediate churn costs nothing and a key that ends where it
    * started drops out entirely. The gate commits three generations with
    * deliberate intermediate churn (rows updated in v2 then reverted in
    * v3) and hash-verifies the NET v1→v3 change set.
    */
  def tableDiffSql(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a44_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val k = col("o_orderkey")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    Lake.writeTableSnapshot(o.filter(k <= 1000), root, "diffq")
    // v2: everything doubled (churn) + extra keys that will vanish again
    Lake.writeTableSnapshot(
      o.filter(k <= 1300).withColumn("o_totalprice", col("o_totalprice") * 2),
      root, "diffq")
    // v3: 201..500 revert to v1 values (v2's churn nets out), 501..1000
    // stay doubled (net updated), <=200 dropped (net deleted), 1001..1100
    // survive from v2's extras (net inserted), 1101..1300 appear and
    // vanish inside the range (net nothing)
    Lake.writeTableSnapshot(
      o.filter(k.between(201, 1100)).withColumn("o_totalprice",
        when(k.between(501, 1000), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice"))), root, "diffq")
    s.sql(s"SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, " +
      s"change FROM table_diff('$cat.tables.diffq', 1, 3, 'o_orderkey')")
  }

  val tableDiffSqlOracle: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 1000),
      |v3 AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey BETWEEN 501 AND 1000
      |              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey BETWEEN 201 AND 1100)
      |SELECT coalesce(v1.o_orderkey, v3.o_orderkey) AS o_orderkey,
      |       CAST(CASE WHEN v3.o_orderkey IS NULL THEN v1.o_totalprice
      |                 ELSE v3.o_totalprice END AS DOUBLE) AS o_totalprice,
      |       CASE WHEN v1.o_orderkey IS NULL THEN 'inserted'
      |            WHEN v3.o_orderkey IS NULL THEN 'deleted'
      |            ELSE 'updated' END AS change
      |FROM v1 FULL JOIN v3 ON v1.o_orderkey = v3.o_orderkey
      |WHERE v1.o_orderkey IS NULL OR v3.o_orderkey IS NULL
      |   OR v1.o_totalprice <> v3.o_totalprice""".stripMargin

  /** A46 — MERGE INTO with SCHEMA EVOLUTION: a source carrying a column
    * the target lacks merges in one statement — the analyzer routes the
    * new column through the catalog's alterTable (the metadata-only
    * [[Lake.addColumn]]: ONE `_schema` JSON commit, every base file
    * carried by reference, zero data files — asserted below), then the
    * file-granular COW merge runs against the evolved schema. History
    * stays honest: v1 time-travel-reads with the OLD schema (asserted),
    * pre-evolution files null-fill the new column, and the matched/insert
    * rows land it physically. o_totalprice doubles (×2 is IEEE-exact in
    * every money profile) so the update is visible.
    */
  def mergeEvolve(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a46_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ord = Tables.orders(s, d)
    Lake.writeTableSnapshot(
      ord.select(col("o_orderkey"), col("o_totalprice"))
        .filter(col("o_orderkey").between(1, 400))
        .repartitionByRange(4, col("o_orderkey")), root, "mev")
    // source keys 201-600: 201-400 match (update), 401-600 insert; o_orderpriority
    // is the SOURCE-ONLY column; the ×2 price is cast back to the profile
    // type so INSERT * stays exactly-typed
    ord.filter(col("o_orderkey").between(201, 600))
      .select(col("o_orderkey"),
        (col("o_totalprice") * 2).cast(ord.schema("o_totalprice").dataType)
          .as("o_totalprice"),
        col("o_orderpriority"))
      .createOrReplaceTempView("a46_src")
    // star actions: Spark's schema evolution considers exactly the
    // columns UPDATE SET * / INSERT * feed from the source
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.tables.mev t
         |USING a46_src s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // v2 is the evolution commit: declared schema gains o_orderpriority, zero data
    // files (every file carried from v1); v3 is the merge
    require(Lake.declaredSchema(s, root, "mev", 2).exists(
      _.fieldNames.sameElements(Array("o_orderkey", "o_totalprice", "o_orderpriority"))),
      "evolution must commit the evolved declared schema as v2")
    require(Lake.snapshotFiles(s, root, "mev", 2).forall(_.contains("version=v1")),
      "the evolution commit must write zero data files — all carried from v1")
    require(!s.sql(s"SELECT * FROM $cat.tables.mev VERSION AS OF 1")
      .columns.contains("o_orderpriority"),
      "v1 must time-travel-read with the pre-evolution schema")
    def q(gen: String, suffix: String, cols: String): DataFrame = s.sql(
      s"SELECT '$gen' AS gen, $cols FROM $cat.tables.mev$suffix")
    q("base", " VERSION AS OF 1",
      "o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, " +
        "CAST(NULL AS STRING) AS o_orderpriority")
      .unionByName(q("latest", "",
        "o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority"))
  }

  val mergeEvolveOracle: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey BETWEEN 1 AND 400),
      |src AS (
      |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey BETWEEN 201 AND 600),
      |latest AS (
      |  SELECT v1.o_orderkey,
      |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
      |              ELSE v1.o_totalprice END AS o_totalprice,
      |         s.o_orderpriority
      |  FROM v1 LEFT JOIN src s ON s.o_orderkey = v1.o_orderkey
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM src WHERE o_orderkey > 400)
      |SELECT 'base' AS gen, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      |       CAST(NULL AS VARCHAR) AS o_orderpriority
      |FROM v1
      |UNION ALL
      |SELECT 'latest', o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
      |FROM latest""".stripMargin

  /** A44b — `table_diff` with TIMESTAMP endpoints: the same net
    * two-version diff, endpoints resolved through the commit-instant
    * ledger instead of version ints — OLD endpoint by the
    * `startingTimestamp` rule (newest commit strictly before), NEW by the
    * `endingTimestamp` / TIMESTAMP-AS-OF rule (newest at-or-before) — so
    * a consumer can ask "what changed between these two instants" without
    * knowing version numbers. Same history as A44; the sleeps separate
    * commit instants at the ledger's millisecond resolution.
    */
  def tableDiffTs(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a44b_")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    val k = col("o_orderkey")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    Lake.writeTableSnapshot(o.filter(k <= 1000), root, "diffts")
    Thread.sleep(30)
    Lake.writeTableSnapshot(
      o.filter(k <= 1300).withColumn("o_totalprice", col("o_totalprice") * 2),
      root, "diffts")
    Thread.sleep(30)
    Lake.writeTableSnapshot(
      o.filter(k.between(201, 1100)).withColumn("o_totalprice",
        when(k.between(501, 1000), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice"))), root, "diffts")
    val instants = Lake.commitInstants(s, root, "diffts")
    require(instants(1) < instants(2) && instants(2) < instants(3),
      s"commit instants must be distinct for the timestamp gate: $instants")
    // ISO-instant spellings (the TVF REJECTS all-digit strings: a quoted
    // '1786895286032' is ambiguous between a version and epoch millis)
    val oldTs = java.time.Instant
      .ofEpochMilli((instants(1) + instants(2) + 1) / 2) // strictly after v1, before v2
      .toString
    val newTs = java.time.Instant.ofEpochMilli(instants(3)).toString // inclusive
    s.sql(s"SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, " +
      s"change FROM table_diff('$cat.tables.diffts', '$oldTs', '$newTs', 'o_orderkey')")
  }

  /** A43 — IN-BUCKET SECONDARY CLUSTERING: `bucket_by` (placement) and a
    * zorder `cluster_by` (in-bucket order) COMPOSE on one table instead
    * of bucket_by silencing the z policy. Every staged file stays
    * bucket-PURE — the verified `_buckets.json` still commits, so the
    * exchange-free diff/merge/SPJ paths keep their layout — while
    * `file_max_records` splits each bucket into z-contiguous files whose
    * stats envelopes prune range predicates on BOTH secondary dimensions
    * (a bucketed 100 TB table then skips files for time- or key-range
    * slices inside every bucket, not just whole buckets by key). The gate
    * hard-requires the mapping AND per-dimension file pruning, then
    * serves a range aggregate the oracle recomputes.
    */
  def zorderBucket(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_a43_")
    import graft.lake.{BucketLayout, StatsSidecar}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    Lake.setTableProperties(s, root, "zb", Map(
      BucketLayout.Prop -> "o_custkey:4",
      Lake.ClusterByProp -> "zorder(o_orderkey,o_datekey)",
      Lake.FileMaxRecordsProp -> "1000"))
    val o = Tables.orders(s, d)
      .withColumn("o_datekey",
        unix_date(col("o_orderdate").cast("date")).cast("long"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"), col("o_datekey"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(s, root, "zb", o), root, "zb")
    val files = Lake.snapshotFiles(s, root, "zb", 1)
    require(BucketLayout.layoutOf(s, root, "zb", 1).isDefined,
      "bucket mapping must survive the z-sorted write")
    val schema = Lake.readTableFeed(s, root, "zb", Some(1)).schema
    def admits(c: String, lo: Long, hi: Long): Int =
      StatsSidecar.candidateFiles(s, files, schema,
        Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))).files.length
    val b = o.agg(max("o_orderkey"), min("o_datekey"), max("o_datekey")).head()
    val (okHi, dLo, dHi) = (b.getLong(0) / 5, b.getLong(1), b.getLong(2))
    require(admits("o_orderkey", 1L, okHi) < files.length,
      s"an o_orderkey range must prune files inside buckets (${files.length} total)")
    require(admits("o_datekey", dLo, dLo + (dHi - dLo) / 5) < files.length,
      s"an o_datekey range must prune files inside buckets (${files.length} total)")
    Lake.readTableFeed(s, root, "zb", Some(1))
      .filter(col("o_orderkey") <= okHi)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("total"),
        min(col("o_datekey")).as("d_lo"), max(col("o_datekey")).as("d_hi"))
  }

  val zorderBucketOracle: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS o_datekey
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       MIN(o_datekey) AS d_lo, MAX(o_datekey) AS d_hi
      |FROM o
      |WHERE o_orderkey <= (SELECT MAX(o_orderkey) // 5 FROM orders)
      |GROUP BY o_orderpriority""".stripMargin

  /** C26 — PREDICATE-SCOPED COMPACTION (`CALL system.compact_where`, the
    * OPTIMIZE…WHERE shape): streaming/INSERT fragmentation in one key
    * range folds back into the table's `cluster_by` layout while every
    * file outside the scope CARRIES BY REFERENCE — at 100 TB a full
    * rewrite is not viable, the fragmented slice is. Hard-requires: the
    * commit bumped one version, a strict subset of files was rewritten,
    * and every out-of-scope file survived untouched (path-identical).
    * The served aggregate hash-matches DuckDB recomputing the content.
    */
  def compactWhereGate(s: SparkSession, d: String): DataFrame = {
    val root = scratch("graft_c26_")
    Lake.setTableProperties(s, root, "cw", Map(Lake.ClusterByProp -> "o_orderkey"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    Lake.writeTableSnapshot(
      Lake.applyClusterPolicy(s, root, "cw", o.filter(col("o_orderkey") <= 6000)),
      root, "cw")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    // fragment ONE key range with three streaming epochs — each commits
    // its own small files and carries the base by manifest reference
    // (exactly the 100 TB fragmentation source this operator exists for)
    for ((lo, i) <- Seq(1, 201, 401).zipWithIndex)
      graft.lake.CopyOnWrite.appendEpoch(
        o.filter(col("o_orderkey").between(lo, lo + 199))
          .select((col("o_orderkey") + 100000).as("o_orderkey"),
            col("o_orderpriority"), col("o_totalprice")),
        root, "cw", "c26sink", i.toLong)
    val vBefore = Lake.latestVersion(s, root, "cw").get
    val before = Lake.snapshotFiles(s, root, "cw", vBefore)
    val v = s.sql(s"CALL $cat.system.compact_where('cw', 'o_orderkey > 100000')")
      .head().getInt(0)
    require(v == vBefore + 1, s"compact_where must commit one version, got $v")
    def norm(p: String) = new java.net.URI(p).getPath
    val after = Lake.snapshotFiles(s, root, "cw", v).map(norm).toSet
    val dropped = before.map(norm).filterNot(after.contains)
    require(dropped.nonEmpty && dropped.size < before.size,
      s"scope must rewrite a strict subset (${dropped.size}/${before.size})")
    // every out-of-scope file carried by reference, byte-identical path
    val scoped = before.map(norm).toSet -- dropped.toSet
    require(scoped.subsetOf(after), "out-of-scope files must carry untouched")
    s.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       MIN(o_orderkey) AS k_lo, MAX(o_orderkey) AS k_hi
         |FROM $cat.tables.cw GROUP BY o_orderpriority""".stripMargin)
  }

  val compactWhereOracle: String =
    """WITH cw AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey <= 6000
      |  UNION ALL
      |  SELECT o_orderkey + 100000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey BETWEEN 1 AND 600)
      |SELECT o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       MIN(o_orderkey) AS k_lo, MAX(o_orderkey) AS k_hi
      |FROM cw GROUP BY o_orderpriority""".stripMargin

  /** W — AVG and COUNT(col) THROUGH THE SUMMARY: a registered rollup
    * carrying `cnt` measures (per-group non-null counts) now serves
    * `avg(x)` over non-decimal numerics as SUM(sums)/SUM(cnts) — the
    * exact arithmetic of Average's own evaluate expression — and
    * `count(x)` as SUM(cnts), alongside the existing sum/min/max/count(*)
    * decompositions. The gate hard-requires the rewrite fired (summary
    * scanned, base NOT scanned) and hash-verifies the served averages;
    * l_quantity is integral-valued, so the double sums are order-exact
    * and the comparison is bit-strict, not tolerance-based.
    */
  def mvAvg(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = scratch("graft_mva_")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .write.mode("overwrite").parquet(s"$root/li")
    try {
      SummaryRewrite.create(s, "mv_avg_li", s"$root/li", s"$root/mv",
        keys = Seq("l_returnflag", "l_linestatus"),
        sums = Seq("l_quantity" -> None),
        counts = Seq("l_quantity"))
      val q = s.read.parquet(s"$root/li")
        .groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity")).as("avg_qty"),
          count(col("l_quantity")).as("n_qty"),
          count(lit(1)).as("n"))
      val scanned = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      require(scanned.exists(_.endsWith("/mv")),
        "avg/count(col) must be served by the summary")
      require(!scanned.exists(_.endsWith("/li")),
        "the base table must not be scanned once the rewrite fires")
      // materialize before the registration drops (leaking a registration
      // would show up in SHOW GRAFT VIEWS gates)
      val rows = q.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally SummaryRewrite.drop("mv_avg_li")
  }

  val mvAvgOracle: String =
    """SELECT l_returnflag, AVG(l_quantity) AS avg_qty,
      |       COUNT(l_quantity) AS n_qty, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  /** W — DECIMAL AVG THROUGH THE SUMMARY (the round-15 leg): the base
    * money column is pinned to DECIMAL(18,2) in the gate itself, so the
    * aggregate is a true decimal `Average` under BOTH money profiles and
    * the rewrite must reproduce Spark's decimal decomposition exactly —
    * re-aggregated sums cast back to the p+10 buffer type, divided under
    * the operator's own precision promotion, cast to DECIMAL(p+4, s+4),
    * then (for the oracle compare) to DOUBLE. Hard-requires the rewrite
    * fired (summary scanned, base not); the oracle replays the same
    * HALF_UP rounding at scale 6 with exact HUGEINT arithmetic.
    */
  def mvAvgMoney(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = scratch("graft_mvm_")
    Tables.orders(s, d)
      .select(col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .write.mode("overwrite").parquet(s"$root/base")
    try {
      SummaryRewrite.create(s, "mv_avg_money", s"$root/base", s"$root/mv",
        keys = Seq("o_orderpriority"),
        sums = Seq("price" -> None),
        counts = Seq("price"))
      val q = s.read.parquet(s"$root/base")
        .groupBy(col("o_orderpriority"))
        .agg(avg(col("price")).cast("double").as("avg_price"),
          sum(col("price")).cast("double").as("total"),
          count(col("price")).as("n_price"))
      val scanned = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      require(scanned.exists(_.endsWith("/mv")),
        "decimal avg must be served by the summary")
      require(!scanned.exists(_.endsWith("/base")),
        "the base table must not be scanned once the rewrite fires")
      // materialize before the registration drops (a leaked registration
      // would show up in SHOW GRAFT VIEWS gates)
      val rows = q.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally SummaryRewrite.drop("mv_avg_money")
  }

  val mvAvgMoneyOracle: String =
    """WITH g AS (
      |  SELECT o_orderpriority,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s2,
      |         COUNT(o_totalprice) AS n
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT o_orderpriority, s2, n,
      |         (2 * CAST(s2 * 100 AS HUGEINT) * 10000 + n) // (2 * n) AS micro
      |  FROM g)
      |SELECT o_orderpriority,
      |       CAST(micro AS DOUBLE) / 1000000.0 AS avg_price,
      |       CAST(s2 AS DOUBLE) AS total,
      |       n AS n_price
      |FROM m""".stripMargin

  /** W — CDF-DRIVEN summary maintenance: the materialized view stays
    * correct under file-granular UPDATE / DELETE / MERGE on its base (the
    * reference's aggregate tables are ksqlDB tables — continuously
    * maintained under upserts, data_lake_config.py:82-115 /
    * sync_to_mysql.py:41-83), not just under appends. The flow the gate
    * pins: create summary over a catalog table → mutate the base three
    * ways through SQL → the rewrite DECLINES while stale (hard require —
    * freshness is fail-closed) → [[graft.warehouse.SummaryRewrite
    * .refreshFromChanges]] folds the change feed in O(changed groups) →
    * the rewrite fires again and the served aggregates hash-match a full
    * recompute in DuckDB.
    */
  def mvCdfRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = scratch("graft_mvc_")
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
    Lake.writeTableSnapshot(o.filter(col("o_orderkey") <= 2000), root, "mvbase")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    try {
      SummaryRewrite.createForTable(s, "mv_cdf_prio", root, "mvbase", s"$root/mv",
        keys = Seq("o_orderpriority"), rowKeys = Seq("o_orderkey"),
        sums = Seq("o_totalprice" -> Some("decimal(18,2)")),
        mins = Seq("o_orderdate"), maxs = Seq("o_orderdate"))
      // money arithmetic normalizes through decimal(18,2) (the a26 MERGE
      // convention) so the double and decimal money profiles agree
      s.sql(s"UPDATE $cat.tables.mvbase " +
        "SET o_totalprice = CAST(o_totalprice * 2 AS DECIMAL(18,2)) " +
        "WHERE o_orderkey BETWEEN 101 AND 200")
      s.sql(s"DELETE FROM $cat.tables.mvbase WHERE o_orderkey BETWEEN 301 AND 400")
      // the MERGE moves rows BETWEEN groups (priority change) and inserts
      // new ones — the mutations MIN/MAX-bearing summaries cannot absorb
      // by folding alone
      o.filter(col("o_orderkey").between(1901, 2100))
        .withColumn("o_orderpriority", lit("X-MOVED"))
        .createOrReplaceTempView("mvc_src")
      s.sql(s"""MERGE INTO $cat.tables.mvbase t USING mvc_src src
        |ON t.o_orderkey = src.o_orderkey
        |WHEN MATCHED THEN UPDATE SET t.o_orderpriority = src.o_orderpriority
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      def agg(): DataFrame = s.sql(
        s"""SELECT o_orderpriority,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |       MIN(o_orderdate) AS first_order,
           |       MAX(o_orderdate) AS last_order,
           |       COUNT(*) AS n
           |FROM $cat.tables.mvbase GROUP BY o_orderpriority""".stripMargin)
      val stale = agg()
      require(!SummaryRewrite.scannedPaths(stale.queryExecution.optimizedPlan)
        .exists(_.contains("/mv")),
        "a mutated-but-unrefreshed base must NOT be served from the summary")
      SummaryRewrite.refreshFromChanges(s, "mv_cdf_prio")
      val q = agg()
      val paths = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      require(paths.exists(_.contains("/mv")),
        s"rewrite onto the CDF-refreshed summary did not fire; scanned $paths")
      val rows = q.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally SummaryRewrite.drop("mv_cdf_prio")
  }

  val mvCdfRefreshOracle: String =
    """WITH final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey BETWEEN 1901 AND 2100
      |              THEN 'X-MOVED' ELSE o_orderpriority END AS o_orderpriority,
      |         CASE WHEN o_orderkey BETWEEN 101 AND 200
      |              THEN CAST(CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS DOUBLE)
      |              ELSE o_totalprice END AS o_totalprice,
      |         o_orderdate
      |  FROM orders
      |  WHERE o_orderkey <= 2100 AND o_orderkey NOT BETWEEN 301 AND 400)
      |SELECT o_orderpriority,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       MIN(o_orderdate) AS first_order,
      |       MAX(o_orderdate) AS last_order,
      |       COUNT(*) AS n
      |FROM final GROUP BY o_orderpriority""".stripMargin

  /** W — AUTO-REFRESH (`mv_refresh='on_commit'`): the reference's ksqlDB
    * aggregate tables are CONTINUOUSLY maintained (data_lake_config.py:
    * 82-115) — a consumer never refreshes anything by hand. With the
    * base-table property set, every SQL mutation's commit runs the same
    * O(changed groups) CDF fold [[graft.warehouse.SummaryRewrite
    * .refreshFromChanges]] performs, so the NEXT aggregate query is served
    * from the summary with NO explicit refresh call (hard require), and
    * the served numbers hash-match a full recompute in DuckDB.
    */
  def mvAutoRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = scratch("graft_mvr_")
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority"), col("o_totalprice"))
    Lake.setTableProperties(s, root, "arbase",
      Map(SummaryRewrite.MvRefreshProp -> "on_commit"))
    Lake.writeTableSnapshot(o.filter(col("o_orderkey") <= 1500), root, "arbase")
    val cat = s"gcat${catalogN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    try {
      SummaryRewrite.createForTable(s, "mv_auto_prio", root, "arbase", s"$root/mv",
        keys = Seq("o_orderpriority"), rowKeys = Seq("o_orderkey"),
        sums = Seq("o_totalprice" -> Some("decimal(18,2)")))
      s.sql(s"UPDATE $cat.tables.arbase " +
        "SET o_totalprice = CAST(o_totalprice * 3 AS DECIMAL(18,2)) " +
        "WHERE o_orderkey BETWEEN 10 AND 60")
      o.filter(col("o_orderkey").between(1451, 1600))
        .withColumn("o_orderpriority", lit("A-AUTO"))
        .createOrReplaceTempView("mvr_src")
      s.sql(s"""MERGE INTO $cat.tables.arbase t USING mvr_src src
        |ON t.o_orderkey = src.o_orderkey
        |WHEN MATCHED THEN UPDATE SET t.o_orderpriority = src.o_orderpriority
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // NO refreshFromChanges call — the commits maintained the summary
      val q = s.sql(
        s"""SELECT o_orderpriority,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |       COUNT(*) AS n
           |FROM $cat.tables.arbase GROUP BY o_orderpriority""".stripMargin)
      val paths = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      require(paths.exists(_.contains("/mv")),
        s"on_commit summary must serve WITHOUT a manual refresh; scanned $paths")
      require(!paths.exists(_.contains("arbase")),
        s"the base must not be scanned under on_commit maintenance; scanned $paths")
      val rows = q.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally SummaryRewrite.drop("mv_auto_prio")
  }

  val mvAutoRefreshOracle: String =
    """WITH final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey BETWEEN 1451 AND 1600
      |              THEN 'A-AUTO' ELSE o_orderpriority END AS o_orderpriority,
      |         CASE WHEN o_orderkey BETWEEN 10 AND 60
      |              THEN CAST(CAST(o_totalprice * 3 AS DECIMAL(18,2)) AS DOUBLE)
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey <= 1600)
      |SELECT o_orderpriority,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       COUNT(*) AS n
      |FROM final GROUP BY o_orderpriority""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "w_mv_auto_refresh" -> (mvAutoRefresh _),
    "w_mv_cdf_refresh" -> (mvCdfRefresh _),
    "w_mv_avg" -> (mvAvg _),
    "w_mv_avg_money" -> (mvAvgMoney _),
    "c26_compact_where" -> (compactWhereGate _),
    "a42_spj_join" -> (spjJoin _),
    "a45_spj_mixed" -> (spjMixed _),
    "a43_zorder_bucket" -> (zorderBucket _),
    "a44_table_diff" -> (tableDiffSql _),
    "a44b_table_diff_ts" -> (tableDiffTs _),
    "a46_merge_evolve" -> (mergeEvolve _),
    "a47_bucket_evolve" -> (bucketEvolve _),
    "a41_table_changes_sql" -> (tableChangesSql _),
    "a40_bucketed_diff" -> (bucketedDiff _),
    "a39_zorder_cluster" -> (zorderCluster _),
    "a38_cdf_mirror" -> (cdfMirror _),
    "a37_change_feed" -> (changeFeed _),
    "a36_bloom_index" -> (bloomIndex _),
    "a31c_type_widening" -> (typeWidening _),
    "a35_stats_pruning" -> (statsPruning _),
    "a12_feed_descriptor" -> (feedDescriptor _),
    "a7_version_diff" -> (versionDiffGate _),
    "a6_lake_roundtrip" -> (lakeRoundtrip _),
    "a9_formats_roundtrip" -> (formatsRoundtrip _),
    "a7_table_versions" -> (tableVersions _),
    "a7_snapshot_readback" -> (snapshotReadback _),
    "c1_retention_prune" -> (retentionPrune _),
    "c7_compaction" -> (compaction _),
    "w_dim_upsert" -> (dimUpsert _),
    "w_scd2_history" -> (scd2History _),
    "p_file_skipping" -> (fileSkipping _),
    "p_zorder_skipping" -> (zorderSkipping _),
    "a14_dsv2_scan" -> (dsv2Scan _),
    "a15_dsv2_agg" -> (dsv2Agg _),
    "a17_dsv2_write" -> (dsv2Write _),
    "c9_gdpr_erasure" -> (gdprErasure _),
    "c10_wap_publish" -> (wapPublish _),
    "c11_read_guard" -> (readGuard _),
    "c13_column_mask" -> (columnMask _),
    "c18_row_filter" -> (rowFilter _),
    "c19_read_audit" -> (readAudit _),
    "c19b_audit_flush" -> (auditFlush _),
    "a19_catalog_sql" -> (catalogSql _),
    "a20_catalog_insert" -> (catalogInsert _),
    "a24_catalog_delete" -> (catalogDelete _),
    "a25_shallow_clone" -> (shallowClone _),
    "a26_catalog_update_merge" -> (catalogUpdateMerge _),
    "a26b_cow_update_merge" -> (cowUpdateMerge _),
    "a27_branch_merge" -> (branchMerge _),
    "a28_catalog_call" -> (catalogCall _),
    "a29_mor_delete_compact" -> (morDeleteCompact _),
    "a29b_cow_on_mor" -> (cowOnMor _),
    "a30_eq_delete" -> (eqDelete _),
    "a30b_eq_delete_multi" -> (eqDeleteMulti _),
    "a31_schema_evolution" -> (schemaEvolution _),
    "a31b_rename_drop" -> (renameDrop _),
    "a32_version_tags" -> (versionTags _),
    "c20_schema_contract" -> (schemaContract _),
    "c21_k_anonymity" -> (kAnonymity _),
    "c22_l_diversity" -> (lDiversity _),
    "c27_dp_agg" -> (dpAgg _),
    "c28_dp_user_level" -> (dpUserLevel _),
    "a21_table_changes" -> (tableChangesGate _),
    "a22_txn_commit" -> (txnCommit _),
    "c14_column_lineage" -> (columnLineage _),
    "w_mv_incremental" -> (mvIncremental _),
    "c15_vacuum" -> (vacuumOrphans _),
    "c16_restore" -> (restoreVersion _),
    "p_bloom_point" -> (bloomPoint _),
    "w_jdbc_upsert" -> (jdbcUpsert _),
    "w_sync_incremental" -> (syncIncrementalGate _),
    "w_incremental_agg" -> (incrementalAgg _),
    "w_fact_snapshot" -> (factSnapshot _),
    "w_surrogate_keys" -> (surrogateKeys _),
    "c12_profile_drift" -> (profileDrift _),
    "c4_permission_check" -> (permissionCheck _),
    "c8_data_quality" -> (dataQuality _),
    "c5_feed_catalog" -> (feedCatalog _))

  val oracles: Map[String, String] = Map(
    "w_mv_cdf_refresh" -> mvCdfRefreshOracle,
    "w_mv_auto_refresh" -> mvAutoRefreshOracle,
    "w_mv_avg" -> mvAvgOracle,
    "w_mv_avg_money" -> mvAvgMoneyOracle,
    "c26_compact_where" -> compactWhereOracle,
    "a42_spj_join" -> spjJoinOracle,
    "a45_spj_mixed" -> spjJoinOracle,
    "a43_zorder_bucket" -> zorderBucketOracle,
    "a44_table_diff" -> tableDiffSqlOracle,
    "a44b_table_diff_ts" -> tableDiffSqlOracle,
    "a46_merge_evolve" -> mergeEvolveOracle,
    "a47_bucket_evolve" -> bucketEvolveOracle,
    "a41_table_changes_sql" -> tableChangesSqlOracle,
    "a40_bucketed_diff" -> bucketedDiffOracle,
    "a39_zorder_cluster" -> zorderClusterOracle,
    "a38_cdf_mirror" -> cdfMirrorOracle,
    "a37_change_feed" -> changeFeedOracle,
    "a36_bloom_index" -> bloomIndexOracle,
    "a31c_type_widening" -> typeWideningOracle,
    "a35_stats_pruning" -> statsPruningOracle,
    "a12_feed_descriptor" -> feedDescriptorOracle,
    "a7_version_diff" -> versionDiffOracle,
    "a6_lake_roundtrip" -> lakeRoundtripOracle,
    "a9_formats_roundtrip" -> formatsRoundtripOracle,
    "a7_table_versions" -> tableVersionsOracle,
    "a7_snapshot_readback" -> Reference.b6Oracle,
    "c1_retention_prune" -> retentionPruneOracle,
    "c7_compaction" -> compactionOracle,
    "w_dim_upsert" -> dimUpsertOracle,
    "w_scd2_history" -> scd2HistoryOracle,
    "p_file_skipping" -> fileSkippingOracle,
    "p_zorder_skipping" -> zorderSkippingOracle,
    "a14_dsv2_scan" -> dsv2ScanOracle,
    "a15_dsv2_agg" -> dsv2AggOracle,
    "a17_dsv2_write" -> dsv2WriteOracle,
    "c9_gdpr_erasure" -> gdprErasureOracle,
    "c10_wap_publish" -> wapPublishOracle,
    "c11_read_guard" -> readGuardOracle,
    "c13_column_mask" -> columnMaskOracle,
    "c18_row_filter" -> rowFilterOracle,
    "c19_read_audit" -> readAuditOracle,
    "c19b_audit_flush" -> auditFlushOracle,
    "a19_catalog_sql" -> catalogSqlOracle,
    "a20_catalog_insert" -> catalogInsertOracle,
    "a24_catalog_delete" -> catalogDeleteOracle,
    "a25_shallow_clone" -> shallowCloneOracle,
    "a26_catalog_update_merge" -> catalogUpdateMergeOracle,
    "a26b_cow_update_merge" -> cowUpdateMergeOracle,
    "a27_branch_merge" -> branchMergeOracle,
    "a28_catalog_call" -> catalogCallOracle,
    "a29_mor_delete_compact" -> morDeleteCompactOracle,
    "a29b_cow_on_mor" -> cowOnMorOracle,
    "a30_eq_delete" -> eqDeleteOracle,
    "a30b_eq_delete_multi" -> eqDeleteMultiOracle,
    "a31_schema_evolution" -> schemaEvolutionOracle,
    "a31b_rename_drop" -> renameDropOracle,
    "a32_version_tags" -> versionTagsOracle,
    "c20_schema_contract" -> schemaContractOracle,
    "c21_k_anonymity" -> kAnonymityOracle,
    "c22_l_diversity" -> lDiversityOracle,
    "c27_dp_agg" -> dpAggOracle,
    "c28_dp_user_level" -> dpUserLevelOracle,
    "a21_table_changes" -> tableChangesOracle,
    "a22_txn_commit" -> txnCommitOracle,
    "c14_column_lineage" -> columnLineageOracle,
    "w_mv_incremental" -> mvIncrementalOracle,
    "c15_vacuum" -> vacuumOrphansOracle,
    "c16_restore" -> restoreVersionOracle,
    "p_bloom_point" -> bloomPointOracle,
    "w_jdbc_upsert" -> jdbcUpsertOracle,
    "w_sync_incremental" -> syncIncrementalOracle,
    "w_incremental_agg" -> incrementalAggOracle,
    "w_fact_snapshot" -> factSnapshotOracle,
    "w_surrogate_keys" -> surrogateKeysOracle,
    "c12_profile_drift" -> profileDriftOracle,
    "c4_permission_check" -> permissionCheckOracle,
    "c8_data_quality" -> dataQualityOracle,
    "c5_feed_catalog" -> feedCatalogOracle)
}
