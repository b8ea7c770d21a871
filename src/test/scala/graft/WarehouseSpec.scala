package graft

import java.sql.Date

import graft.warehouse.Warehouse

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "a", 10), (2L, "b", 10), (3L, "c", 10)).toDF("k", "v", "ver")

  test("merge: updates replace same-key rows, new keys insert") {
    val upd = Seq((2L, "B", 20), (4L, "d", 20)).toDF("k", "v", "ver")
    val out = Warehouse.merge(base, upd, Seq("k"), Seq("ver"))
      .orderBy("k").as[(Long, String, Int)].collect()
    assert(out === Array((1L, "a", 10), (2L, "B", 20), (3L, "c", 10), (4L, "d", 20)))
  }

  test("merge is idempotent") {
    val upd = Seq((2L, "B", 20)).toDF("k", "v", "ver")
    val once = Warehouse.merge(base, upd, Seq("k"), Seq("ver"))
    val twice = Warehouse.merge(once, upd, Seq("k"), Seq("ver"))
    assert(once.orderBy("k").collect() === twice.orderBy("k").collect())
  }

  test("merge: within-batch duplicates resolve last-write-wins by order col") {
    val upd = Seq((2L, "first", 20), (2L, "last", 30)).toDF("k", "v", "ver")
    val out = Warehouse.merge(base, upd, Seq("k"), Seq("ver"))
    assert(out.filter($"k" === 2).select("v").as[String].head() === "last")
  }

  test("merge: an update OLDER than the stored row must not overwrite it") {
    val upd = Seq((2L, "stale", 5)).toDF("k", "v", "ver") // ver 5 < stored 10
    val out = Warehouse.merge(base, upd, Seq("k"), Seq("ver"))
    assert(out.filter($"k" === 2).select("v").as[String].head() === "b")
  }

  test("JDBC upsert round-trip equals the in-memory merge, incl. stale updates") {
    System.setProperty("derby.stream.error.path", "/tmp/derby.log")
    val url = "jdbc:derby:memory:wh_" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
    // batch 2 carries one NEWER row (k=2), one STALE row (k=3, ver 5 < 10)
    // and one new key — latest-wins must hold through the JDBC store too
    val upd1 = Seq((2L, "B", 20), (4L, "d", 20)).toDF("k", "v", "ver")
    val upd2 = Seq((2L, "B2", 30), (3L, "stale", 5), (5L, "e", 30)).toDF("k", "v", "ver")
    Warehouse.mergeIntoJdbc(spark, url, "t", base, Seq("k"), Seq("ver"))
    Warehouse.mergeIntoJdbc(spark, url, "t", upd1, Seq("k"), Seq("ver"))
    Warehouse.mergeIntoJdbc(spark, url, "t", upd2, Seq("k"), Seq("ver"))
    val viaJdbc = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t").load()
      .orderBy("k").as[(Long, String, Int)].collect()
    val viaMerge = Warehouse.merge(
      Warehouse.merge(base, upd1, Seq("k"), Seq("ver")),
      upd2, Seq("k"), Seq("ver"))
      .orderBy("k").as[(Long, String, Int)].collect()
    assert(viaJdbc === viaMerge)
    assert(viaJdbc.map(r => r._1 -> r._2).toMap ===
      Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d", 5L -> "e"))
    // release the in-memory Derby database (lives for the JVM otherwise;
    // a successful ;drop=true connect signals via SQLException)
    try {
      java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
      ()
    } catch { case _: java.sql.SQLException => () }
  }

  test("concurrent JDBC merges serialize on the advisory lock: no lost update") {
    // Two writers race the SAME table with disjoint key sets. Unserialized
    // read-modify-write would let the second overwrite drop the first
    // batch's keys; the advisory row lock must serialize the commits so
    // BOTH batches land (plus latest-wins on the contended key 2).
    System.setProperty("derby.stream.error.path", "/tmp/derby.log")
    val url = "jdbc:derby:memory:whc_" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
    Warehouse.mergeIntoJdbc(spark, url, "t", base, Seq("k"), Seq("ver"))
    val batches = Seq(
      Seq((2L, "A", 20), (10L, "a10", 20), (11L, "a11", 20)).toDF("k", "v", "ver"),
      Seq((2L, "B", 30), (12L, "b12", 20), (13L, "b13", 20)).toDF("k", "v", "ver"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val go = new java.util.concurrent.CountDownLatch(1)
    val futs = batches.map { b =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          go.await()
          Warehouse.mergeIntoJdbc(spark, url, "t", b, Seq("k"), Seq("ver"))
        }
      })
    }
    go.countDown()
    pool.shutdown()
    futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    val out = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t").load()
      .as[(Long, String, Int)].collect().map(r => r._1 -> r._2).toMap
    // every key from BOTH racing batches must be present — a lost update
    // would have dropped 10/11 or 12/13 depending on commit order
    assert(Set(10L, 11L, 12L, 13L).subsetOf(out.keySet),
      s"lost update: surviving keys ${out.keySet.toSeq.sorted}")
    // contended key: ver 30 beats ver 20 regardless of commit order
    assert(out(2L) === "B")
    assert(out(1L) === "a" && out(3L) === "c")
    try {
      java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
      ()
    } catch { case _: java.sql.SQLException => () }
  }

  test("incremental CDF sync equals full-recompute merge at every tick") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import graft.lake.Lake
    import graft.governance.Orchestrator
    val root = java.nio.file.Files.createTempDirectory("wh_sync_").toString
    // tick 1: keys 1..40; tick 2: %13 deleted, %10 → VIP; tick 3: %7 → GOLD
    val t1 = spark.range(1, 41).select(
      col("id").as("k"), lit("base").as("seg"), lit(1).as("ord"))
    val t2 = t1.filter(col("k") % 13 =!= 0)
      .withColumn("seg", when(col("k") % 10 === 0, "VIP").otherwise(col("seg")))
      .withColumn("ord", when(col("k") % 10 === 0, 2).otherwise(col("ord")))
    val t3 = t2
      .withColumn("seg", when(col("k") % 7 === 0, "GOLD").otherwise(col("seg")))
      .withColumn("ord", when(col("k") % 7 === 0, 3).otherwise(col("ord")))
    val changedPerTick = Seq(40L, 4L, 5L) // full load; 10,20,30,40; 7,14,21,28,35
    for (((snap, expChanged), tick) <- Seq(t1, t2, t3).zip(changedPerTick).zipWithIndex) {
      Lake.writeTableSnapshot(snap, root, "src", retentionVersions = Int.MaxValue)
      val (_, n) = Orchestrator.syncIncremental(spark, root, "src", "wh_inc",
        Seq("k"), Seq("snapshot_version"))
      assert(n === expChanged,
        s"tick ${tick + 1}: sync must ship only the changed keys (got $n)")
      Warehouse.mergeIntoTable(spark, root, "wh_full",
        snap.withColumn("snapshot_version", lit(tick + 1)),
        Seq("k"), Seq("snapshot_version"))
      def content(t: String) = Lake.readTableFeed(spark, root, t)
        .select("k", "seg", "ord").as[(Long, String, Int)].collect().sortBy(_._1)
      assert(content("wh_inc") === content("wh_full"),
        s"tick ${tick + 1}: incremental sync diverged from full recompute")
    }
    // deleted keys persist at last-seen values (the ON DUPLICATE KEY UPDATE
    // sink never deletes); later update waves never resurrect or touch them
    val fin = Lake.readTableFeed(spark, root, "wh_inc")
      .select("k", "seg").as[(Long, String)].collect().toMap
    assert(fin(13L) === "base" && fin(26L) === "base" && fin(39L) === "base")
    assert(fin(7L) === "GOLD" && fin(10L) === "VIP")
  }

  test("syncIncremental heals a lost warehouse table with a FULL reload") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.lake.Lake
    import graft.governance.Orchestrator
    val root = java.nio.file.Files.createTempDirectory("wh_heal_").toString
    val snap = spark.range(1, 21).select(
      col("id").as("k"), lit("base").as("seg"), lit(1).as("ord"))
    Lake.writeTableSnapshot(snap, root, "src", retentionVersions = Int.MaxValue)
    val (_, n1) = Orchestrator.syncIncremental(spark, root, "src", "wh",
      Seq("k"), Seq("snapshot_version"))
    assert(n1 === 20L)
    // lose the warehouse table (external cleanup) but keep the watermark
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(Lake.tablePath(root, "wh")))
    assert(Lake.latestVersion(spark, root, "wh").isEmpty)
    // watermark == latest but no warehouse: the heal must re-ship the FULL
    // snapshot — an empty merge would materialize an empty table, and every
    // later tick would ship only changed keys, silently dropping all
    // unchanged rows forever
    val (_, n2) = Orchestrator.syncIncremental(spark, root, "src", "wh",
      Seq("k"), Seq("snapshot_version"))
    assert(n2 === 20L, s"heal must full-reload (shipped $n2)")
    assert(Lake.readTableFeed(spark, root, "wh").count() === 20L)
  }

  test("merge: exact order-col tie goes to the update (_src tiebreak)") {
    val upd = Seq((2L, "B", 10)).toDF("k", "v", "ver") // same ver as stored
    val out = Warehouse.merge(base, upd, Seq("k"), Seq("ver"))
    assert(out.filter($"k" === 2).select("v").as[String].head() === "B")
  }

  test("merge: out-of-order batch sequence converges to global latest-per-key") {
    // deliver batches newest-first; final table must equal a single merge of all
    val b1 = Seq((1L, "v3", 30), (2L, "v3", 30)).toDF("k", "v", "ver")
    val b2 = Seq((1L, "v2", 20), (3L, "v2", 20)).toDF("k", "v", "ver")
    val b3 = Seq((1L, "v1", 10), (2L, "v1", 10), (3L, "v1", 10)).toDF("k", "v", "ver")
    val sequential = Seq(b1, b2, b3).foldLeft(base.limit(0)) {
      (acc, b) => Warehouse.merge(acc, b, Seq("k"), Seq("ver"))
    }
    val allAtOnce = Warehouse.merge(base.limit(0), b1.union(b2).union(b3), Seq("k"), Seq("ver"))
    assert(sequential.orderBy("k").collect() === allAtOnce.orderBy("k").collect())
    assert(sequential.filter($"k" === 1).select("v").as[String].head() === "v3")
  }

  test("merge handles empty update batch (reference skips empty frames)") {
    val out = Warehouse.merge(base, base.limit(0), Seq("k"), Seq("ver"))
    assert(out.count() === 3)
  }

  test("merge keeps NULL-keyed rows distinct from real keys") {
    val withNull = base.union(Seq((null.asInstanceOf[java.lang.Long], "n", 10))
      .toDF("k", "v", "ver"))
    val out = Warehouse.merge(withNull, Seq((1L, "A", 99)).toDF("k", "v", "ver"),
      Seq("k"), Seq("ver"))
    assert(out.count() === 4)
    assert(out.filter($"k".isNull).count() === 1)
  }

  test("stampSnapshot adds lineage columns") {
    val out = Warehouse.stampSnapshot(base, Date.valueOf("2024-06-01"), 7)
    val r = out.select("snapshot_date", "snapshot_version").distinct().collect()
    assert(r.length === 1)
    assert(r.head.getDate(0) === Date.valueOf("2024-06-01") && r.head.getInt(1) === 7)
  }

  test("scd2Apply: chains close/open correctly and redelivery is a no-op") {
    import org.apache.spark.sql.functions.{col, lit}
    val d1 = Date.valueOf("2024-01-01")
    val d2 = Date.valueOf("2024-03-01")
    val init = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "attr")
      .withColumn("valid_from", lit(d1))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    // key 1 changes, key 2 redelivered unchanged, key 4 is new
    val upd = Seq((1L, "A2"), (2L, "B"), (4L, "D")).toDF("k", "attr")
      .withColumn("effective_from", lit(d2))
    val v1 = Warehouse.scd2Apply(init, upd, "k", Seq("attr")).persist()
    // exactly one current row per key, closed rows chain into their successor
    assert(v1.count() === 5)
    assert(v1.filter(col("is_current")).groupBy("k").count()
      .filter(col("count") =!= 1).isEmpty)
    val closed = v1.filter(!col("is_current")).collect()
    assert(closed.length === 1 && closed.head.getLong(0) === 1L
      && closed.head.getDate(3) === d2)
    val cur1 = v1.filter(col("is_current") && col("k") === 1L).collect().head
    assert(cur1.getString(1) === "A2" && cur1.getDate(2) === d2 && cur1.isNullAt(3))
    val cur2 = v1.filter(col("is_current") && col("k") === 2L).collect().head
    assert(cur2.getString(1) === "B" && cur2.getDate(2) === d1) // untouched
    // applying the SAME batch again must change nothing (idempotence)
    val v2 = Warehouse.scd2Apply(v1, upd, "k", Seq("attr"))
    assert(v2.exceptAll(v1).isEmpty && v1.exceptAll(v2).isEmpty)
    v1.unpersist()
    ()
  }

  test("requireFkIntact passes on intact FK and raises on orphans") {
    val dim = Seq(1L, 2L, 3L).toDF("id")
    Warehouse.requireFkIntact(base, dim, "k", "id") // no throw
    val badDim = Seq(1L, 2L).toDF("id")
    val e = intercept[IllegalStateException] {
      Warehouse.requireFkIntact(base, badDim, "k", "id")
    }
    assert(e.getMessage.contains("referential integrity"))
  }

  test("surrogate keys: stable across batches, dense, idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, Long)].toDF("nk", "sk")
    val g1 = Warehouse.assignSurrogateKeys(empty, Seq(10L, 30L, 20L).toDF("nk"), "nk")
    val m1 = g1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 === Map(10L -> 1L, 20L -> 2L, 30L -> 3L), s"dense by natural order: $m1")
    // second batch: one re-arrival (20) + two new (5, 40)
    val g2 = Warehouse.assignSurrogateKeys(g1, Seq(20L, 5L, 40L).toDF("nk"), "nk")
    val m2 = g2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2.view.filterKeys(m1.contains).toMap === m1, "existing assignments moved")
    assert(m2(5L) === 4L && m2(40L) === 5L, s"new keys extend the sequence: $m2")
    // idempotent: replaying a batch adds nothing
    assert(Warehouse.assignSurrogateKeys(g2, Seq(20L, 5L).toDF("nk"), "nk")
      .count() === 5)
  }

  test("refreshFromChanges: UPDATE/DELETE/MERGE fold in O(changed groups' files); freshness fail-closed") {
    import org.apache.spark.sql.functions._
    import graft.lake.Lake
    import graft.warehouse.SummaryRewrite
    val root = java.nio.file.Files.createTempDirectory("mv_cdf_spec_").toString
    // range-clustered by the GROUP key + enough shuffle partitions that the
    // snapshot is multi-file per key range (AQE coalescing would fold tiny
    // range shuffles to one file — the r12 trap)
    Lake.setTableProperties(spark, root, "b", Map("cluster_by" -> "g"))
    val oldCoalesce = spark.conf.getOption("spark.sql.adaptive.coalescePartitions.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val df = spark.range(0, 8000).select(
        (col("id") / lit(100)).cast("long").as("g"), col("id").as("k"),
        (col("id") % 7).cast("double").as("v"))
      Lake.writeTableSnapshot(
        Lake.applyClusterPolicy(spark, root, "b", df), root, "b")
    } finally oldCoalesce.fold(
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled"))(
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", _))
    val mvcdfcat = org.apache.spark.sql.graft.GraftCatalog.register(spark, root)
    try {
      SummaryRewrite.createForTable(spark, "mv_cdf_spec", root, "b", s"$root/mv",
        keys = Seq("g"), rowKeys = Seq("k"),
        sums = Seq("v" -> None), mins = Seq("v"), maxs = Seq("v"))
      def agg() = spark.sql(
        s"""SELECT g, sum(v) AS sv, min(v) AS mn, max(v) AS mx, count(*) AS n
          |FROM $mvcdfcat.tables.b GROUP BY g""".stripMargin)
      def scans(df: org.apache.spark.sql.DataFrame) =
        SummaryRewrite.scannedPaths(df.queryExecution.optimizedPlan)
      assert(scans(agg()).exists(_.contains("/mv")),
        "fresh summary must serve the catalog-table aggregate")

      // three file-granular mutations: an in-group update, a delete that
      // REMOVES group 2's maxima (un-foldable without re-probe), and a
      // MERGE that moves rows across groups + inserts a new group
      spark.sql(s"UPDATE $mvcdfcat.tables.b SET v = v + 100 WHERE k BETWEEN 100 AND 149")
      spark.sql(s"DELETE FROM $mvcdfcat.tables.b WHERE k BETWEEN 250 AND 299")
      spark.range(7990, 8100).select(lit(999L).as("g"), col("id").as("k"),
        lit(3.5).as("v")).createOrReplaceTempView("mv_cdf_src")
      spark.sql(
        s"""MERGE INTO $mvcdfcat.tables.b t USING mv_cdf_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.g = s.g, t.v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

      // stale ⇒ the rewrite declines (answers come from the base, correct)
      val stale = agg()
      assert(!scans(stale).exists(_.contains("/mv")),
        "a mutated base must not be served from the unrefreshed summary")

      val refreshed = SummaryRewrite.refreshFromChanges(spark, "mv_cdf_spec")
      // O(changed groups' files): affected groups g ∈ {1, 2, 79, 999} —
      // the range-clustered layout admits a strict subset of the snapshot
      val (adm, tot, _) = SummaryRewrite.refreshStats("mv_cdf_spec")
      assert(tot > 4 && adm > 0 && adm < tot,
        s"refresh must re-read only affected groups' files, got $adm/$tot")

      // refreshed summary ≡ full recompute, and the rewrite serves it
      val q = agg()
      assert(scans(q).exists(_.contains("/mv")), scans(q))
      val got = q.collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4))).sortBy(_._1)
      SummaryRewrite.drop("mv_cdf_spec")
      val want = agg().collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4))).sortBy(_._1)
      assert(got.toSeq === want.toSeq)

      // re-register at the CURRENT version: no-op refresh keeps the mvPath
      val again = SummaryRewrite.createForTable(spark, "mv_cdf_spec", root,
        "b", s"$root/mv_b", keys = Seq("g"), rowKeys = Seq("k"),
        sums = Seq("v" -> None))
      assert(SummaryRewrite.refreshFromChanges(spark, "mv_cdf_spec") === again)
      assert(refreshed.asOfVersion === Lake.latestVersion(spark, root, "b").get)
    } finally SummaryRewrite.drop("mv_cdf_spec")
  }

  test("refreshFromChanges composite keys: exactly the affected TUPLES re-aggregate") {
    import org.apache.spark.sql.functions._
    import graft.lake.Lake
    import graft.warehouse.SummaryRewrite
    val root = java.nio.file.Files.createTempDirectory("mv_tuple_spec_").toString
    // composite group key (g1, g2) on a 2x2 grid plus a NULL-keyed group:
    // mutating (0,0) and (1,1) has DISJOINT per-column values, so the
    // per-column IN-lists admit 4 grid groups while the exact tuple set is 2
    val df = spark.range(0, 4000).select(
      when(col("id") % 5 === 4, lit(null).cast("long"))
        .otherwise(col("id") % 2).as("g1"),
      (col("id") % 4 / 2).cast("long").as("g2"),
      col("id").as("k"), (col("id") % 9).cast("double").as("v"))
    Lake.writeTableSnapshot(df, root, "tb")
    val mvtupcat = org.apache.spark.sql.graft.GraftCatalog.register(spark, root)
    try {
      SummaryRewrite.createForTable(spark, "mv_tuple_spec", root, "tb", s"$root/mv",
        keys = Seq("g1", "g2"), rowKeys = Seq("k"),
        sums = Seq("v" -> None), mins = Seq("v"), maxs = Seq("v"))
      // touch rows of exactly (g1,g2) = (0,0) and (1,1): id%20==0 hits
      // g1=0,g2=0; id%20==3 hits g1=1,g2=1
      spark.sql(s"UPDATE $mvtupcat.tables.tb SET v = v + 50 WHERE k % 20 = 0")
      spark.sql(s"UPDATE $mvtupcat.tables.tb SET v = v - 10 WHERE k % 20 = 3")
      SummaryRewrite.refreshFromChanges(spark, "mv_tuple_spec")
      assert(SummaryRewrite.refreshStats("mv_tuple_spec")._3 === 2L,
        s"disjoint-column mutations must re-aggregate exactly 2 groups, " +
          s"got ${SummaryRewrite.refreshStats("mv_tuple_spec")._3}")
      def agg() = spark.sql(
        s"""SELECT g1, g2, sum(v) AS sv, min(v) AS mn, max(v) AS mx, count(*) AS n
          |FROM $mvtupcat.tables.tb GROUP BY g1, g2""".stripMargin)
      val q = agg()
      assert(SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
        .exists(_.contains("/mv")), "refreshed summary must serve")
      def shape(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (Option(r.get(0)), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5))).sortBy(t => (t._1.map(_.toString), t._2)).toSeq
      val got = shape(q.collect())
      // the NULL-keyed group survives the carried-side anti-join
      assert(got.exists(_._1.isEmpty), "null-keyed group must be carried")
      SummaryRewrite.drop("mv_tuple_spec")
      assert(got === shape(agg().collect()), "refresh must equal full recompute")
      // NULL-keyed group mutations refresh exactly too (null-safe semi-join)
      SummaryRewrite.createForTable(spark, "mv_tuple_spec", root, "tb", s"$root/mv2",
        keys = Seq("g1", "g2"), rowKeys = Seq("k"),
        sums = Seq("v" -> None), mins = Seq("v"), maxs = Seq("v"))
      spark.sql(s"UPDATE $mvtupcat.tables.tb SET v = v + 7 WHERE k % 20 = 4")
      SummaryRewrite.refreshFromChanges(spark, "mv_tuple_spec")
      assert(SummaryRewrite.refreshStats("mv_tuple_spec")._3 >= 1L)
      val q2 = agg()
      assert(SummaryRewrite.scannedPaths(q2.queryExecution.optimizedPlan)
        .exists(_.contains("/mv2")), "refreshed summary must serve after null-group update")
      val got2 = shape(q2.collect())
      SummaryRewrite.drop("mv_tuple_spec")
      assert(got2 === shape(agg().collect()),
        "null-keyed refresh must equal full recompute")
    } finally SummaryRewrite.drop("mv_tuple_spec")
  }

  test("mv rewrite serves AVG and COUNT(col) via cnt measures; cast-wrapped decimal avg declines") {
    import org.apache.spark.sql.functions._
    import graft.warehouse.SummaryRewrite
    val dir = java.nio.file.Files.createTempDirectory("avgspec_").toString
    // null-bearing measure column: COUNT(col) and AVG must skip nulls,
    // so cnt (non-null count) and n (row count) genuinely differ
    def gen(lo: Long, hi: Long) = spark.range(lo, hi).select(
      (col("id") % 5).as("g"),
      when(col("id") % 7 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 11).cast("double")).as("v"))
    gen(0, 5000).write.mode("overwrite").parquet(s"$dir/base")
    def agg() = spark.read.parquet(s"$dir/base").groupBy("g")
      .agg(avg(col("v")).as("a"), count(col("v")).as("c"), count(lit(1)).as("n"))
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    def scans(df: org.apache.spark.sql.DataFrame) =
      SummaryRewrite.scannedPaths(df.queryExecution.optimizedPlan)
    try {
      SummaryRewrite.create(spark, "mv_avg_spec", s"$dir/base", s"$dir/mv",
        keys = Seq("g"), sums = Seq("v" -> None), counts = Seq("v"))
      val q = agg()
      assert(scans(q).exists(_.endsWith("/mv")), s"rewrite must fire: ${scans(q)}")
      val got = collect(q)
      // a CAST-wrapped decimal avg declines: a legacy-mode overflow in the
      // cast nulls values the cnt measure counted, so the decomposition
      // is not provably exact — the base is scanned, never an approximation
      val qd = spark.read.parquet(s"$dir/base").groupBy("g")
        .agg(avg(col("v").cast("decimal(18,2)")).as("a"))
      assert(!scans(qd).exists(s => s.endsWith("/mv") || s.endsWith("/mv2")),
        "cast-wrapped decimal avg must decline the summary")
      // rewritten ≡ unrewritten, bit-exact (v is integral-valued)
      SummaryRewrite.drop("mv_avg_spec")
      assert(got === collect(agg()))
      // cnt measures fold through an incremental append refresh
      SummaryRewrite.create(spark, "mv_avg_spec", s"$dir/base", s"$dir/mv2",
        keys = Seq("g"), sums = Seq("v" -> None), counts = Seq("v"))
      val batch = gen(5000, 6100)
      batch.write.mode("append").parquet(s"$dir/base")
      SummaryRewrite.refreshIncremental(spark, "mv_avg_spec", batch)
      val q2 = agg()
      assert(scans(q2).exists(_.contains("/mv2")), s"refreshed summary must serve: ${scans(q2)}")
      val got2 = collect(q2)
      SummaryRewrite.drop("mv_avg_spec")
      assert(got2 === collect(agg()))
    } finally SummaryRewrite.drop("mv_avg_spec")
  }

  test("mv rewrite serves AVG over a true DECIMAL column, bit-identical") {
    import org.apache.spark.sql.functions._
    import graft.warehouse.SummaryRewrite
    val dir = java.nio.file.Files.createTempDirectory("avgdec_").toString
    // a genuine DECIMAL(18,2) base column (the money-decimal profile's
    // shape): AVG is a decimal Average end-to-end, result DECIMAL(22,6)
    spark.range(0, 4000).select(
      (col("id") % 7).as("g"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise((col("id") % 997).cast("double") / 10.0)
        .cast("decimal(18,2)").as("m"))
      .write.mode("overwrite").parquet(s"$dir/base")
    def agg() = spark.read.parquet(s"$dir/base").groupBy("g")
      .agg(avg(col("m")).as("a"), sum(col("m")).as("s"), count(col("m")).as("c"))
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDecimal(1), r.getDecimal(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    try {
      SummaryRewrite.create(spark, "mv_avg_dec", s"$dir/base", s"$dir/mv",
        keys = Seq("g"), sums = Seq("m" -> None), counts = Seq("m"))
      val q = agg()
      assert(q.schema("a").dataType ===
        org.apache.spark.sql.types.DecimalType(22, 6),
        "rewritten decimal avg must keep Average's DECIMAL(p+4, s+4) type")
      val scanned = SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan)
      assert(scanned.exists(_.endsWith("/mv")), s"decimal avg must fire: $scanned")
      assert(!scanned.exists(_.endsWith("/base")), s"base must not scan: $scanned")
      val got = collect(q)
      SummaryRewrite.drop("mv_avg_dec")
      assert(got === collect(agg()), "rewritten must be bit-identical to base")
    } finally SummaryRewrite.drop("mv_avg_dec")
  }
}
