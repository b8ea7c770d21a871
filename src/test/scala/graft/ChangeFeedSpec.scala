package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.Lake

/** A37 — the `<table>__changes` CHANGE FEED: batch CDF between versions
  * through the V1 bridge, and a first-class `readStream.table` source
  * whose offsets are committed versions. Pins: change classification,
  * initial-snapshot semantics, incremental offsets across restarts,
  * scratch cleanup after commit, and the keyColumns requirement.
  */
class ChangeFeedSpec extends SparkSpec {

  private lazy val (cat, root): (String, String) = {
    val root = Files.createTempDirectory("graft_cf_spec_").toString
    (org.apache.spark.sql.graft.GraftCatalog.register(spark, root), root)
  }

  import spark.implicits._

  test("batch CDF classifies inserts, updates and deletes between versions") {
    Lake.writeTableSnapshot(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")).toDF("k", "v"), root, "cf")
    Lake.writeTableSnapshot(
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (6L, "f")).toDF("k", "v"), root, "cf")

    val changes = spark.read
      .option("keyColumns", "k").option("startingVersion", "1")
      .table(s"$cat.tables.cf__changes")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3))).sortBy(_._1)
    assert(changes.toSeq === Seq(
      (2L, "updated", 2), (5L, "deleted", 2), (6L, "inserted", 2)))

    // default startingVersion=0: the whole latest snapshot as inserts
    val full = spark.read.option("keyColumns", "k")
      .table(s"$cat.tables.cf__changes")
    assert(full.count() === 4)
    assert(full.select("change").distinct().head().getString(0) === "inserted")

    // endingVersion pins the upper bound
    assert(spark.read.option("keyColumns", "k")
      .option("startingVersion", "1").option("endingVersion", "1")
      .table(s"$cat.tables.cf__changes").count() === 0)

    // a real table with the suffix name would shadow the feed; without a
    // base the suffix is just a missing table
    intercept[Exception] {
      spark.read.option("keyColumns", "k")
        .table(s"$cat.tables.nope__changes").collect()
    }
    // incremental reads need keys; the initial-snapshot form does not,
    // so bare SQL works
    intercept[Exception] {
      spark.read.option("startingVersion", "1")
        .table(s"$cat.tables.cf__changes").collect()
    }
    assert(spark.sql(s"SELECT * FROM $cat.tables.cf__changes").count() === 4)
  }

  test("streaming CDF: version offsets, incremental restarts, scratch cleanup") {
    Lake.writeTableSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "cfs")
    val ck = Files.createTempDirectory("graft_cf_ck_").toString
    val out = Files.createTempDirectory("graft_cf_out_").toString

    // the memory sink refuses checkpoint recovery — the file sink is the
    // restartable one
    def drain(): Unit = {
      val q = spark.readStream
        .option("keyColumns", "k")
        .table(s"$cat.tables.cfs__changes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    def sink() = spark.read.schema(
      spark.table(s"$cat.tables.cfs__changes").schema).parquet(out)

    drain() // batch 1: the v1 snapshot as inserts
    val b1 = sink().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(b1.toSeq.sortBy(_._1) === Seq(
      (1L, "a", "inserted", 1), (2L, "b", "inserted", 1)))

    // two more commits: an update+insert, then a delete
    Lake.writeTableSnapshot(
      Seq((1L, "A"), (2L, "b"), (3L, "c")).toDF("k", "v"), root, "cfs")
    Lake.writeTableSnapshot(
      Seq((1L, "A"), (3L, "c")).toDF("k", "v"), root, "cfs")

    drain() // batch 2: changes over (v1, v3] in ONE epoch
    val b2 = sink().collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2), r.getInt(3)))
      .filter(_._4 > 1)
    assert(b2.toSeq.sortBy(r => (r._4, r._1)) === Seq(
      (1L, Some("A"), "updated", 2), (3L, Some("c"), "inserted", 2),
      (2L, Some("b"), "deleted", 3)))

    // nothing new: a third drain emits nothing and leaves no scratch
    drain()
    assert(sink().count() === b1.length + b2.length)
    val scratch = new java.io.File(s"$ck/graft_cdf")
    assert(!scratch.exists() || scratch.listFiles().isEmpty,
      s"committed epochs must reclaim their scratch: ${Option(scratch.listFiles()).map(_.toSeq)}")
  }

  test("batch CDF over a long history: bounded plan, identical results") {
    import org.apache.spark.sql.graft.GraftChangeFeed
    // 100 committed versions: version N inserts key N and updates key N-1
    // (so every step has both an insert and an update to classify)
    def snap(n: Int) = (1 to n).map(i =>
      (i.toLong, if (i == n - 1) s"u$n" else s"v$i")).toDF("k", "x")
    (1 to 100).foreach(n =>
      Lake.writeTableSnapshot(snap(n), root, "cfl100", retentionVersions = 200))
    val ch = GraftChangeFeed.changesBetween(
      spark, root, "cfl100", Seq("k"), start = 1, end = 100)
    // the staged path: no O(versions)-branch union survives in the plan
    val unionArity = ch.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    assert(unionArity.forall(_ <= 16), s"plan carries a union of $unionArity branches")
    val got = ch.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).sorted
    // ground truth: per-step manifest-aware diffs, accumulated directly
    val want = (1 until 100).flatMap { a =>
      Lake.versionChanges(spark, root, "cfl100", a, a + 1, Seq("k"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), a + 1))
    }.sorted
    assert(got.toSeq === want)
    // short ranges keep the direct (no-staging) lazy plan
    val short = GraftChangeFeed.changesBetween(
      spark, root, "cfl100", Seq("k"), start = 95, end = 100)
    // 5 steps, each: one insert (key n), key n-1 gains u-marker, key n-2
    // loses the previous one — 3 changes per step
    assert(short.count() === 15)
  }

  test("maxVersionsPerTrigger: a backlog drains in bounded epochs and resumes") {
    // ten committed versions; version N holds keys 1..N (each step inserts
    // exactly one key, so per-epoch output is easy to account for)
    (1 to 10).foreach { n =>
      Lake.writeTableSnapshot(
        (1 to n).map(i => (i.toLong, "v")).toDF("k", "x"), root, "cfa",
        retentionVersions = 100)
    }
    val ck = Files.createTempDirectory("graft_cfa_ck_").toString
    val out = Files.createTempDirectory("graft_cfa_out_").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("keyColumns", "k").option("maxVersionsPerTrigger", "3")
        .table(s"$cat.tables.cfa__changes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    def offsets(): Seq[(Int, Int)] = {
      val dir = new java.io.File(s"$ck/offsets")
      dir.listFiles().filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
        .map(f => f.getName.toInt ->
          scala.io.Source.fromFile(f).getLines().toSeq.last.trim.toInt).toSeq
    }
    drain()
    // 10 pending versions at 3 per epoch: (0,3] (3,6] (6,9] (9,10]
    assert(offsets() === Seq(0 -> 3, 1 -> 6, 2 -> 9, 3 -> 10),
      s"a 10-version backlog at 3/trigger must drain in 4 bounded epochs: ${offsets()}")
    val sink = spark.read.schema(
      spark.table(s"$cat.tables.cfa__changes").schema).parquet(out)
    assert(sink.count() === 10, "each version inserted exactly one key")
    assert(sink.select("change").distinct().head().getString(0) === "inserted")
    val byVersion = sink.groupBy("change_version").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byVersion === Map(3 -> 3L, 4 -> 1L, 5 -> 1L, 6 -> 1L, 7 -> 1L,
      8 -> 1L, 9 -> 1L, 10 -> 1L),
      s"per-epoch version stamps must follow the admission boundaries: $byVersion")

    // new commits resume from the checkpointed version cursor
    (11 to 12).foreach { n =>
      Lake.writeTableSnapshot(
        (1 to n).map(i => (i.toLong, "v")).toDF("k", "x"), root, "cfa",
        retentionVersions = 100)
    }
    drain()
    assert(offsets().last === (4 -> 12), s"resume must cover (10,12]: ${offsets()}")
    assert(spark.read.schema(sink.schema).parquet(out).count() === 12)
  }

  test("table_changes TVF: pure-SQL incremental CDF") {
    Lake.writeTableSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "cft")
    Lake.writeTableSnapshot(
      Seq((1L, "A"), (3L, "c")).toDF("k", "v"), root, "cft")
    val rows = spark.sql(
      s"SELECT k, v, change, change_version " +
        s"FROM table_changes('$cat.tables.cft', 1, 'k') ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(rows.toSeq === Seq(
      (1L, "A", "updated", 2), (2L, "b", "deleted", 2), (3L, "c", "inserted", 2)))
    // start=0 is the keyless snapshot form; an explicit end bounds the range
    assert(spark.sql(
      s"SELECT * FROM table_changes('$cat.tables.cft', 0)").count() === 2)
    assert(spark.sql(
      s"SELECT * FROM table_changes('$cat.tables.cft', 1, 1, 'k')").count() === 0)
    // it composes like any relation — joins, aggregates, CTEs
    assert(spark.sql(
      s"SELECT count(*) AS c FROM table_changes('$cat.tables.cft', 1, 'k') " +
        "WHERE change <> 'deleted'").head().getLong(0) === 2)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('nocat.tables.x', 1, 'k')").collect()
    }
    assert(e.getMessage.contains("not a configured graft catalog"))
    // duplicate trailing arguments are malformed calls, not last-wins
    for ((tail, what) <- Seq(
        ("1, 2, 3", "endingVersion"),
        ("1, 'k', 'v'", "keyColumns"),
        ("1, 'k', true, false", "preimages"))) {
      val dup = intercept[Exception] {
        spark.sql(s"SELECT * FROM table_changes('$cat.tables.cft', $tail)").collect()
      }
      assert(dup.getMessage.contains(s"duplicate $what"), s"tail ($tail): ${dup.getMessage}")
    }
  }

  test("checkpointed stream restarted with a different shape restages, not reuses") {
    // the staged-epoch cache is keyed by (range, SHAPE): a restart against
    // the same checkpoint with `preimages` flipped must not serve rows
    // staged in the old shape (ADVICE r15). Poison the legacy
    // range-only-named dir for the upcoming epoch — the shape-unaware
    // naming would find its _SUCCESS and serve it verbatim
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "cfshape")
    Lake.writeTableSnapshot(Seq((1L, "A"), (2L, "b")).toDF("k", "v"), root, "cfshape")
    val ck = Files.createTempDirectory("graft_cfshape_ck_").toString
    val out = Files.createTempDirectory("graft_cfshape_out_").toString
    def drain(preimages: Boolean): Unit = {
      val q = spark.readStream
        .option("keyColumns", "k").option("startingVersion", "1")
        .option("preimages", preimages.toString)
        .table(s"$cat.tables.cfshape__changes")
        .select("k", "v", "change")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain(preimages = false)
    def sunk() = spark.read.parquet(out).select("v", "change").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(t => (t._2, t._1)).toSeq
    assert(sunk() === Seq(("A", "updated")))
    // next epoch will cover versions 2→3; stage a WRONG-SHAPED result
    // under every legacy/foreign-shape name a stale run could have left
    Lake.writeTableSnapshot(Seq((1L, "A"), (2L, "B")).toDF("k", "v"), root, "cfshape")
    for (dir <- Seq(s"$ck/graft_cdf/2_3", s"$ck/graft_cdf/2_3_deadbeef"))
      Seq((99L, "POISON", "updated", 3))
        .toDF("k", "v", "change", "change_version")
        .write.mode("overwrite").parquet(dir)
    drain(preimages = true)
    assert(sunk() === Seq(
      ("B", "update_postimage"), ("b", "update_preimage"),
      ("A", "updated")), sunk().toString)
  }

  test("CDF across a MERGE schema-evolution boundary stays mapping-aware") {
    import org.apache.spark.sql.graft.GraftChangeFeed
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "cfev")
    Seq((2L, "B", "w2"), (3L, "c", "w3")).toDF("k", "v", "w")
      .createOrReplaceTempView("cfev_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.tables.cfev t
         |USING cfev_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // v2 is the evolution commit: metadata-only — zero data files, so the
    // CDF step across it is EMPTY; v3 is the merge
    assert(Lake.snapshotFiles(spark, root, "cfev", 2)
      .forall(_.contains("version=v1")), "evolution step must carry all files")
    val ch = GraftChangeFeed.changesBetween(
      spark, root, "cfev", Seq("k"), start = 1, end = 3, preimages = true)
    assert(ch.columns.contains("w"),
      "post-boundary CDF must expose the evolved column")
    val rows = ch.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.getString(2)), r.getString(3))).sortBy(t => (t._1, t._4))
    // preimages read PRE-evolution files through the mapping: w null-fills
    assert(rows.contains((2L, "b", None, "update_preimage")),
      s"preimage must null-fill the evolved column: ${rows.mkString(", ")}")
    assert(rows.contains((2L, "B", Some("w2"), "update_postimage")))
    assert(rows.contains((3L, "c", Some("w3"), "inserted")))
    // and the whole range replays without a schema clash at the boundary
    assert(rows.length === 3, rows.mkString(", "))
  }

  test("table_diff timestamp endpoints: ledger resolution and error cases") {
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "dts")
    Thread.sleep(30)
    Lake.writeTableSnapshot(Seq((1L, "A"), (3L, "c")).toDF("k", "v"), root, "dts")
    val instants = Lake.commitInstants(spark, root, "dts")
    assume(instants(1) < instants(2), "distinct commit instants required")
    val mid = (instants(1) + instants(2) + 1) / 2
    def rows(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    // timestamp form ≡ version form (old: strictly-before mid → v1;
    // new: at-or-before v2's instant → v2) — ISO spellings; all-digit
    // STRINGS are rejected outright (version/epoch-millis ambiguity)
    def isoOf(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    val want = rows(s"SELECT k, v, change FROM table_diff('$cat.tables.dts', 1, 2, 'k')")
    assert(rows("SELECT k, v, change FROM " +
      s"table_diff('$cat.tables.dts', '${isoOf(mid)}', '${isoOf(instants(2))}', 'k')") === want)
    val digits = intercept[Exception] {
      spark.sql("SELECT * FROM " +
        s"table_diff('$cat.tables.dts', '$mid', '${instants(2)}', 'k')").collect()
    }
    assert(digits.getMessage.contains("all digits"), digits.getMessage)
    // an OLD endpoint predating the first commit refuses with the
    // startingVersion=0 pointer; a NEW endpoint predating it refuses too
    val early = intercept[Exception] {
      spark.sql("SELECT * FROM " +
        s"table_diff('$cat.tables.dts', '${isoOf(instants(1) - 10000)}', 2, 'k')").collect()
    }
    assert(early.getMessage.contains("startingVersion=0"), early.getMessage)
    val earlyEnd = intercept[Exception] {
      spark.sql("SELECT * FROM " +
        s"table_diff('$cat.tables.dts', 1, '${isoOf(instants(1) - 10000)}', 'k')").collect()
    }
    assert(earlyEnd.getMessage.contains("predates"), earlyEnd.getMessage)
  }

  test("startingVersion=latest streams only future commits") {
    Lake.writeTableSnapshot(Seq((1L, "a")).toDF("k", "v"), root, "cfl")
    val ck = Files.createTempDirectory("graft_cfl_ck_").toString
    val out = Files.createTempDirectory("graft_cfl_out_").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("keyColumns", "k").option("startingVersion", "latest")
        .table(s"$cat.tables.cfl__changes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def sink() = spark.read.schema(
      spark.table(s"$cat.tables.cfl__changes").schema).parquet(out)
    drain()
    assert(sink().count() === 0,
      "latest start must skip the existing snapshot")
    Lake.writeTableSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "cfl")
    drain()
    assert(sink().collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq === Seq((2L, "inserted")))
  }

  test("table_diff TVF nets out intermediate churn that table_changes replays") {
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "cfdiff")
    Lake.writeTableSnapshot(Seq((1L, "A"), (2L, "b"), (3L, "c")).toDF("k", "v"), root, "cfdiff")
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "v"), root, "cfdiff")
    // replay: k=1 churns twice, k=3 appears then vanishes — five rows
    assert(spark.sql(
      s"SELECT * FROM table_changes('$cat.tables.cfdiff', 1, 'k')").count() === 5)
    // net v1→v3: k=1 reverted, k=2 untouched, k=3 in-and-out — only k=4
    val net = spark.sql(
      s"SELECT k, v, change FROM table_diff('$cat.tables.cfdiff', 1, 3, 'k')")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(net === Seq((4L, "d", "inserted")))
    // arity and literal checks refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_diff('$cat.tables.cfdiff', 1, 3)").collect()
    }
    assert(e.getMessage.contains("table_diff("))
  }

  test("preimages option: updates emit both images through read option, stream and TVF") {
    Lake.writeTableSnapshot(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root, "cfpre")
    Lake.writeTableSnapshot(
      Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v"), root, "cfpre")
    def shape(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, String, String)] =
      rows.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val want = Seq(
      (2L, "B", "update_postimage"), (2L, "b", "update_preimage"),
      (3L, "c", "deleted"), (4L, "d", "inserted"))
    // batch read option
    val batch = spark.read.option("keyColumns", "k")
      .option("startingVersion", "1").option("preimages", "true")
      .table(s"$cat.tables.cfpre__changes")
      .select("k", "v", "change")
    assert(shape(batch.collect()) === want)
    // pure-SQL TVF, boolean trailing argument
    val tvf = spark.sql(
      s"SELECT k, v, change FROM table_changes('$cat.tables.cfpre', 1, 'k', true)")
    assert(shape(tvf.collect()) === want)
    // streaming form stages the same shape per epoch
    val ck = Files.createTempDirectory("graft_cfpre_ck_").toString
    val out = Files.createTempDirectory("graft_cfpre_out_").toString
    val q = spark.readStream
      .option("keyColumns", "k").option("startingVersion", "1")
      .option("preimages", "true")
      .table(s"$cat.tables.cfpre__changes")
      .select("k", "v", "change")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val sunk = spark.read.schema(batch.schema).parquet(out)
    assert(shape(sunk.collect()) === want)
  }

  test("startingTimestamp resolves to the newest commit strictly before it") {
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "cfts")
    Thread.sleep(30) // distinct commit instants at ms resolution
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v"), root, "cfts")
    val instants = Lake.commitInstants(spark, root, "cfts")
    assume(instants(1) < instants(2), "commit instants must differ for this pin")
    // a timestamp between the commits: only v2's changes are emitted —
    // every accepted spelling resolves identically
    val mid = (instants(1) + instants(2) + 1) / 2
    val iso = java.time.Instant.ofEpochMilli(mid).toString
    for (ts <- Seq(mid.toString, iso)) {
      val rows = spark.read.option("keyColumns", "k")
        .option("startingTimestamp", ts)
        .table(s"$cat.tables.cfts__changes")
        .select("k", "change").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(rows === Seq((2L, "updated"), (3L, "inserted")), s"ts spelling $ts")
    }
    // both options together refuse; a pre-history timestamp refuses with
    // the startingVersion=0 pointer instead of silently replaying nothing
    val both = intercept[Exception] {
      spark.read.option("keyColumns", "k")
        .option("startingVersion", "1").option("startingTimestamp", mid.toString)
        .table(s"$cat.tables.cfts__changes").collect()
    }
    assert(both.getMessage.contains("not both"))
    val early = intercept[Exception] {
      spark.read.option("keyColumns", "k")
        .option("startingTimestamp", (instants(1) - 10000).toString)
        .table(s"$cat.tables.cfts__changes").collect()
    }
    assert(early.getMessage.contains("startingVersion=0"))
    // endingTimestamp bounds inclusively at the commit instant: cutting
    // at v1's instant excludes v2's changes entirely
    assert(spark.read.option("keyColumns", "k")
      .option("startingVersion", "1")
      .option("endingTimestamp", instants(1).toString)
      .table(s"$cat.tables.cfts__changes").count() === 0)
    assert(spark.read.option("keyColumns", "k")
      .option("startingVersion", "1")
      .option("endingTimestamp", instants(2).toString)
      .table(s"$cat.tables.cfts__changes").count() === 2)
  }

  test("metadata-only evolution steps emit EMPTY change sets, zero data files opened") {
    import org.apache.spark.sql.types._
    Lake.writeTableSnapshot(
      spark.range(1, 101)
        .select(col("id").as("k"), (col("id") % 7).cast("int").as("v"))
        .repartition(4), root, "cfalter")
    val v2 = Lake.addColumn(spark, root, "cfalter",
      StructField("note", StringType, nullable = true))
    val v3 = Lake.renameColumn(spark, root, "cfalter", "v", "val")
    val v4 = Lake.widenColumn(spark, root, "cfalter", "val", LongType)
    for ((a, b) <- Seq((1, v2), (v2, v3), (v3, v4), (1, v4))) {
      val ch = Lake.versionChanges(spark, root, "cfalter", a, b, Seq("k"))
      // the ALTER-only step's change set is built WITHOUT a single
      // file-backed relation in its plan: no carried data file is opened
      assert(ch.inputFiles.isEmpty,
        s"step $a->$b read files: ${ch.inputFiles.mkString(",")}")
      assert(ch.count() === 0, s"step $a->$b must emit no change rows")
    }
    // a data change AFTER the evolution still flows manifest-aware
    // through the mapping: the v1->latest range classifies in the NEW
    // shape (renamed column, null-filled note, widened type), touching
    // only the rewritten file and its replacement
    val v5 = graft.lake.CopyOnWrite.updateWhere(spark, root, "cfalter",
      col("k") === 5, Seq("val" -> lit(99L)))
    val ch = Lake.versionChanges(spark, root, "cfalter", 1, v5, Seq("k"))
    assert(ch.columns.toSeq === Seq("k", "val", "note", "change"))
    val rows = ch.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("k") === 5L)
    assert(rows.head.getAs[Long]("val") === 99L)
    assert(rows.head.getAs[String]("change") === "updated")
    // ... and reads only the dropped file + its replacement, not the
    // three carried ones: 4 original files, 1 rewritten
    val opened = ch.inputFiles.length
    assert(opened === 2, s"expected dropped+added only, opened $opened")
  }

  /** Keys that differ between two versions, by a plain read of each. */
  private def fullDiff(name: String, a: Int, b: Int): Set[(Long, String)] = {
    def read(v: Int) = Lake.readTableFeed(spark, root, name, Some(v)).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    val (o, n) = (read(a), read(b))
    (o.keySet ++ n.keySet).flatMap { k =>
      (o.get(k), n.get(k)) match {
        case (None, Some(_)) => Some(k -> "inserted")
        case (Some(_), None) => Some(k -> "deleted")
        case (Some(x), Some(y)) if x != y => Some(k -> "updated")
        case _ => None
      }
    }
  }

  private def sqlChanges(name: String, from: Int): Set[(Long, String)] =
    spark.sql(s"SELECT k, change FROM table_changes('$cat.tables.$name', $from, 'k')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet

  /** v1: 300 rows over three files. */
  private def seedKeyed(name: String): Unit = Lake.writeTableSnapshot(
    (1 to 300).map(i => (i.toLong, s"r$i")).toDF("k", "v").repartition(3), root, name)

  test("an epoch append after a key DELETE diffs its step with no sidecar jobs") {
    import graft.lake.{CopyOnWrite, MergeOnRead}
    seedKeyed("cfkept_plain")
    CopyOnWrite.appendEpoch(Seq((1001L, "n"), (1002L, "n")).toDF("k", "v"),
      root, "cfkept_plain", "s", 0L)
    // the same step onto a version with an equality sidecar: the append
    // folds it to positions over the carried files, and reuses key 5
    seedKeyed("cfkept_eq")
    val vDel = MergeOnRead.deleteByKeys(spark, root, "cfkept_eq", Seq(5L, 6L).toDF("k"))
    val vApp = CopyOnWrite.appendEpoch(Seq((5L, "again"), (1001L, "n")).toDF("k", "v"),
      root, "cfkept_eq", "s", 0L)
    assert(sqlChanges("cfkept_eq", vDel) === fullDiff("cfkept_eq", vDel, vApp))
    assert(sqlChanges("cfkept_eq", vDel) === Set(5L -> "inserted", 1001L -> "inserted"))
    val plainJobs = SparkSpec.jobsDuring(spark)(sqlChanges("cfkept_plain", 1))
    val sidecarJobs = SparkSpec.jobsDuring(spark)(sqlChanges("cfkept_eq", vDel))
    assert(sidecarJobs <= plainJobs,
      s"the step onto a sidecar version started $sidecarJobs jobs, a plain one $plainJobs")
  }

  test("steps without the liveness receipt, or not adjacent, keep the sidecar diff") {
    import graft.lake.{CopyOnWrite, MergeOnRead}
    def kept(name: String, v: Int) = {
      val dir = new org.apache.hadoop.fs.Path(s"${Lake.tablePath(root, name)}/version=v$v")
      Lake.fs(spark, dir.toString).exists(new org.apache.hadoop.fs.Path(dir, Lake.livenessKeptName))
    }
    seedKeyed("cfnokept")
    val vDel = MergeOnRead.deleteByKeys(spark, root, "cfnokept", Seq(5L, 6L).toDF("k"))
    val vApp = CopyOnWrite.appendEpoch(Seq((1001L, "n")).toDF("k", "v"),
      root, "cfnokept", "s", 0L)
    val vMor = MergeOnRead.deleteWhere(spark, root, "cfnokept", col("k") === 7L)
    assert(!kept("cfnokept", vDel) && kept("cfnokept", vApp) && !kept("cfnokept", vMor))
    // a merge-on-read delete step emits its deleted row
    assert(sqlChanges("cfnokept", vApp) === Set(7L -> "deleted"))
    // non-adjacent endpoints onto a receipt version: the keys the
    // intermediate delete removed are in the net diff
    val net = spark.sql(s"SELECT k, change FROM table_diff('$cat.tables.cfnokept', 1, $vApp, 'k')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(net === fullDiff("cfnokept", 1, vApp))
    assert(net === Set(5L -> "deleted", 6L -> "deleted", 1001L -> "inserted"))
    // a version written before the receipt existed diffs as it did
    val dir = new org.apache.hadoop.fs.Path(s"${Lake.tablePath(root, "cfnokept")}/version=v$vApp")
    Lake.fs(spark, dir.toString).delete(new org.apache.hadoop.fs.Path(dir, Lake.livenessKeptName), false)
    assert(!kept("cfnokept", vApp))
    assert(Lake.versionChanges(spark, root, "cfnokept", vDel, vApp, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toSet ===
      Set(1001L -> "inserted"))
  }
}
