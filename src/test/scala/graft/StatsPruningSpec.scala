package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftCatalog

import graft.lake.{FilePruner, Lake, StatsSidecar}

/** A35 — stats-backed FILE pruning for catalog SQL scans: every commit
  * stamps a per-file min/max/null-count sidecar (`_filestats.json`,
  * footer reads only), and the catalog's scan builder evaluates pushed
  * data filters against it to shrink the file list before the parquet
  * scan is built. Pins: pruning fires (and by how much), results stay
  * EXACTLY equal to the unpruned scan, conservatism everywhere stats are
  * missing, composition with COW carries / schema evolution / time
  * travel. Counts come from [[FilePruner.recorded]]: the admissions made
  * on the test's own thread while the query planned.
  */
class StatsPruningSpec extends SparkSpec {

  private lazy val (cat, root): (String, String) = {
    val root = Files.createTempDirectory("graft_stats_spec_").toString
    (GraftCatalog.register(spark, root), root)
  }

  /** Aggregates the last metadata aggregate planned on this thread during
    * `body` answered from the sidecar; 0 when none did.
    */
  private def metaAggregated(body: => Any): Int =
    GraftCatalog.metaAggregates.recorded(body).lastOption.getOrElse(0)

  private def clustered(n: Int, files: Int) = {
    spark.range(0, n).select(
      col("id").as("k"),
      concat(lit("user_"), lpad(col("id").cast("string"), 6, "0")).as("name"),
      (col("id") % 97).cast("double").as("score"),
      when(col("id") % 10 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("c"), (col("id") % 5).cast("string"))).as("cat"),
      date_add(to_date(lit("2026-01-01")), (col("id") % 300).cast("int")).as("d"))
      .repartitionByRange(files, col("k")).sortWithinPartitions("k")
  }

  test("commit stamps a stats sidecar and range scans open only candidate files") {
    Lake.writeTableSnapshot(clustered(4000, 8), root, "st")
    val vdir = new java.io.File(s"$root/tables/st/version=v1")
    assert(vdir.listFiles().exists(_.getName == StatsSidecar.sidecarName),
      "commit must stamp _filestats.json")

    val (kept, total) = FilePruner.lastCounts {
      val narrow = spark.sql(
        s"SELECT count(*) AS c, sum(k) AS s FROM $cat.tables.st WHERE k BETWEEN 1000 AND 1099")
        .head()
      assert(narrow.getLong(0) === 100 && narrow.getLong(1) === (1000L to 1099L).sum)
    }
    assert(total === 8, s"8 files expected, saw $total")
    assert(kept <= 2, s"a 100-key range over range-clustered files must " +
      s"admit at most 2 of 8 files, admitted $kept")
  }

  test("string equality and prefix predicates prune on UTF-8 byte order") {
    val (k1, t1) = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st WHERE name = 'user_000042'")
      .head().getLong(0) === 1))
    assert(t1 === 8 && k1 === 1, s"point string lookup admitted $k1/$t1")

    // NOTE: a LIKE pattern would keep its `_` single-char wildcard and
    // never simplify to StartsWith — use the function form
    val (k2, _) = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st WHERE startswith(name, 'user_0039')")
      .head().getLong(0) === 100))
    assert(k2 <= 2, s"prefix predicate admitted $k2/8")
  }

  test("decimal columns prune and answer metadata MIN/MAX (the money domain)") {
    import org.apache.spark.sql.functions.col
    Lake.writeTableSnapshot(
      spark.range(0, 4000).select(col("id").as("k"),
        (col("id") * 1.5).cast("decimal(12,2)").as("price"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, "st_dec")
    val (kept, total) = FilePruner.lastCounts(
      assert(spark.sql(s"SELECT count(*) AS c FROM $cat.tables.st_dec " +
        "WHERE price BETWEEN 1500.00 AND 1648.50").head().getLong(0) === 100))
    assert(total === 8 && kept <= 2,
      s"a narrow decimal range over price-clustered files admitted $kept/$total")
    val answered = metaAggregated {
      val r = spark.sql(
        s"SELECT min(price) AS mn, max(price) AS mx FROM $cat.tables.st_dec").head()
      assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("0.00")) === 0 &&
        r.getDecimal(1).compareTo(new java.math.BigDecimal("5998.50")) === 0)
    }
    assert(answered === 2,
      "decimal MIN/MAX must answer from the sidecar (stats are exact — " +
        "fixed-width, never truncated)")
  }

  test("empty candidate set still yields a correct empty result") {
    val (kept, _) = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st WHERE k = -5").head().getLong(0) === 0))
    assert(kept === 0, "an out-of-domain point must admit zero files")
    assert(spark.sql(s"SELECT * FROM $cat.tables.st WHERE k > 100000").count() === 0)
  }

  test("IS NULL / IS NOT NULL prune on footer null counts") {
    // `cat` is null exactly when k % 10 == 0 — every file has nulls, so
    // IS NULL prunes nothing; a column with NO nulls prunes IS NULL fully
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st WHERE cat IS NULL")
      .head().getLong(0) === 400)
    val counts = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st WHERE name IS NULL")
      .head().getLong(0) === 0))
    assert(counts._1 === 0, s"IS NULL on a null-free column must admit zero files: $counts")
  }

  test("pruned and unpruned scans agree exactly, incl. doubles and dates") {
    def q(from: String) = s"SELECT sum(k) AS s, count(*) AS c, min(name) AS mn " +
      s"FROM $from WHERE k > 3100 AND score < 50.0 AND d >= DATE'2026-02-01'"
    val (kept, total) = FilePruner.lastCounts(
      spark.sql(q(s"$cat.tables.st")).queryExecution.executedPlan)
    assert(kept < total, s"the catalog read must prune: admitted $kept/$total")
    val on = spark.sql(q(s"$cat.tables.st")).collect().toSeq
    // the library read never prunes files: the unpruned reference
    Lake.readTableFeed(spark, root, "st").createOrReplaceTempView("st_unpruned")
    val off = spark.sql(q("st_unpruned")).collect().toSeq
    assert(on === off, "pruning must be invisible in results")
  }

  test("the physical scan's file index holds only the admitted files") {
    val df = spark.sql(s"SELECT * FROM $cat.tables.st WHERE k = 500")
    // planning alone (no execution) must already have pruned: the scan's
    // InMemoryFileIndex is built over the single admitted file, not the dir
    val counts = FilePruner.lastCounts(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(counts === ((1, 8)), s"point scan admitted $counts")
    assert(plan.contains("InMemoryFileIndex(1 paths)"), plan)
  }

  test("COW-carried files keep their stats from the dir that holds them") {
    // file-granular UPDATE: one file rewritten into v2, seven carried by
    // manifest reference — the carried files' stats resolve from v1's
    // sidecar, the rewritten file's from v2's
    val probe = FilePruner.lastCounts(
      spark.sql(s"UPDATE $cat.tables.st SET score = 0.0 WHERE k = 17"))
    // the mutation PROBE is stats-pruned too: only the one candidate file
    // was opened to find touched files
    assert(probe === ((1, 8)), s"COW probe admitted $probe")
    assert(Lake.hasManifest(spark, root, "st",
      Lake.versions(spark, root, "st").max), "UPDATE must ride the COW route")
    val (kept, total) = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st WHERE k BETWEEN 3900 AND 3999")
      .head().getLong(0) === 100))
    assert(total === 8, s"v2 resolves 8 files, saw $total")
    assert(kept <= 2, s"carried-file stats must still prune: admitted $kept/8")
    // and the rewritten file's own (fresh) stats admit the updated key
    assert(spark.sql(
      s"SELECT score FROM $cat.tables.st WHERE k = 17").head().getDouble(0) === 0.0)
  }

  test("min/max/count answer from the sidecar with zero file reads") {
    // `st` is at v2 after the COW update: 8 files, 4000 rows
    val q = s"SELECT count(*) AS c, min(k) AS mn, max(k) AS mx, " +
      s"min(name) AS mnm, count(cat) AS cc, max(d) AS mxd FROM $cat.tables.st"
    val answered = metaAggregated {
      val r = spark.sql(q).head()
      assert(r.getLong(0) === 4000 && r.getLong(1) === 0 && r.getLong(2) === 3999)
      assert(r.getString(3) === "user_000000")
      assert(r.getLong(4) === 3600, "count(cat) must subtract the nulls")
      assert(r.getDate(5) === spark.sql(
        "SELECT date_add(DATE'2026-01-01', 299)").head().getDate(0))
    }
    assert(answered === 6,
      "all six aggregates must answer from the sidecar")
    val plan = spark.sql(q).queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"a metadata aggregate plans as LocalTableScan, got:\n$plan")

    // floating-point MIN/MAX never answers from stats (NaN soundness)
    assert(metaAggregated(assert(spark.sql(s"SELECT min(score) AS m FROM $cat.tables.st")
      .head().getDouble(0) === 0.0)) === 0)
    // an unsupported function in the mix sends the WHOLE query to the scan
    assert(metaAggregated(assert(spark.sql(
      s"SELECT count(*) AS c, sum(k) AS s FROM $cat.tables.st")
      .head().getLong(0) === 4000)) === 0)
    // a filter sends it to the (pruned) scan — still exact
    assert(metaAggregated(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st WHERE k >= 2000")
      .head().getLong(0) === 2000)) === 0)
  }

  test("merge-on-read positional delete probes only candidate files") {
    Lake.writeTableSnapshot(clustered(2000, 4), root, "morp")
    val probe = FilePruner.lastCounts(
      graft.lake.MergeOnRead.deleteWhere(spark, root, "morp", col("k") === 100))
    assert(probe === ((1, 4)), s"MOR probe admitted $probe")
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.morp WHERE k = 100")
      .head().getLong(0) === 0)
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.tables.morp")
      .head().getLong(0) === 1999)
  }

  test("CALL system.table_stats answers from metadata") {
    // `morp`: 4 files, 2000 physical rows, one position-deleted row
    val r = spark.sql(s"CALL $cat.system.table_stats('morp')").head()
    assert(r.getInt(1) === 0 && r.getInt(2) === 4,
      s"the MOR version carries all 4 base files by reference: $r")
    assert(r.getLong(3) === 2000, s"raw_rows from sidecars: $r")
    assert(r.getLong(4) > 0, "bytes from the listing")
    assert(r.getLong(5) === 1 && r.getLong(6) === 0,
      s"one position delete, no equality deletes: $r")
  }

  test("the merge-on-read fallback read prunes files too") {
    // `morp` carries a position sidecar, so SQL reads it through the
    // V1Scan fallback — pushed filters are evaluated against the stats
    // sidecar there as well, and the delete anti-join still applies
    val range = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.morp WHERE k BETWEEN 600 AND 649")
      .head().getLong(0) === 50))
    assert(range === ((1, 4)), s"MOR fallback admitted $range")
    val point = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.morp WHERE k IN (100, 101)")
      .head().getLong(0) === 1, "the MOR-deleted row must stay deleted"))
    assert(point === ((1, 4)), s"MOR point lookup admitted $point")
  }

  test("time-traveled versions prune through the same path") {
    val (kept, total) = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.st VERSION AS OF 1 WHERE k BETWEEN 10 AND 19")
      .head().getLong(0) === 10))
    assert(total === 8 && kept <= 2, s"frozen scan admitted $kept/$total")
  }

  test("a version with no sidecar stays fully scanned (conservative)") {
    Lake.writeTableSnapshot(clustered(1000, 4), root, "nostats")
    val side = new java.io.File(
      s"$root/tables/nostats/version=v1/${StatsSidecar.sidecarName}")
    assert(side.delete(), "test setup: drop the sidecar")
    StatsSidecar.clearCache()
    val (kept, total) = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.nostats WHERE k = 7")
      .head().getLong(0) === 1))
    assert(kept === total, s"missing sidecar must admit every file ($kept/$total)")
  }

  test("metadata-only ADD COLUMN: old files stay candidates for the new column") {
    spark.sql(s"ALTER TABLE $cat.tables.nostats ADD COLUMN note STRING")
    // IS NULL on the evolved column matches every pre-evolution row; the
    // old files carry no stats for it, so none may be pruned away
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.nostats WHERE note IS NULL")
      .head().getLong(0) === 1000)
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.nostats WHERE note IS NOT NULL")
      .head().getLong(0) === 0)
  }

  test("type widening keeps same-domain pruning, conservatively stops cross-domain") {
    val df = spark.range(0, 400).select(
      col("id").cast("int").as("k"), col("id").cast("int").as("j"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Lake.writeTableSnapshot(df, root, "wst")
    Lake.widenColumn(spark, root, "wst", "k", org.apache.spark.sql.types.LongType)
    Lake.widenColumn(spark, root, "wst", "j", org.apache.spark.sql.types.DoubleType)
    // int -> long stays in the 'l' stat domain: old files still prune
    val long = FilePruner.lastCounts(assert(
      spark.sql(s"SELECT count(*) AS c FROM $cat.tables.wst WHERE k = 7").head().getLong(0) === 1))
    assert(long === ((1, 4)), s"int->long pruning admitted $long")
    // int -> double crosses domains ('l' stats under a 'd' type): old
    // files stop pruning — conservative, never wrong
    val double = FilePruner.lastCounts(assert(
      spark.sql(s"SELECT count(*) AS c FROM $cat.tables.wst WHERE j = 7.0").head().getLong(0) === 1))
    assert(double === ((4, 4)), s"int->double must admit all: $double")
  }

  test("cluster_by table property: unsorted inserts land range-clustered") {
    spark.sql(s"CREATE TABLE $cat.tables.clust (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('cluster_by'='k')")
    // at test scale AQE would coalesce the range shuffle to one file (the
    // right sizing at real scale); keep the 8 range partitions so the
    // clustering is observable
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
    spark.range(0, 2000)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
      .orderBy(rand(42)) // deliberately shuffled: the policy must cluster
      .createOrReplaceTempView("clust_src")
    spark.sql(s"INSERT INTO $cat.tables.clust SELECT * FROM clust_src")
    val (kept, total) = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.clust WHERE k BETWEEN 100 AND 149")
      .head().getLong(0) === 50))
    assert(total >= 4 && kept <= 2,
      s"clustered insert must let a narrow range prune: admitted $kept/$total")
    // the property surfaces through SHOW TBLPROPERTIES and can be unset
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.tables.clust").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
      .get("cluster_by") === Some("k"))
    spark.sql(s"ALTER TABLE $cat.tables.clust UNSET TBLPROPERTIES ('cluster_by')")
    assert(!spark.sql(s"SHOW TBLPROPERTIES $cat.tables.clust").collect()
      .map(_.getString(0)).contains("cluster_by"))

    // streaming epoch appends honor the policy too
    Lake.setTableProperties(spark, root, "clust2",
      Map(Lake.ClusterByProp -> "k"))
    graft.lake.CopyOnWrite.appendEpoch(
      spark.range(0, 2000)
        .select(col("id").as("k"), lit("x").as("v")).orderBy(rand(7)),
      root, "clust2", "s1", 0L)
    val epoch = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.clust2 WHERE k = 1500")
      .head().getLong(0) === 1))
    assert(epoch._1 === 1, s"clustered epoch must admit one file: $epoch")
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  test("bloom_filter_columns: point lookups prune on unclustered columns") {
    import graft.lake.BloomSidecar
    // files are clustered by k; `u` is uniform across files, so min/max
    // stats can never prune a point lookup on it — the bloom can
    spark.sql(s"CREATE TABLE $cat.tables.bloomt (k BIGINT, u BIGINT, s STRING) " +
      "TBLPROPERTIES ('cluster_by'='k', 'bloom_filter_columns'='u,s')")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      spark.range(0, 4000).select(
        col("id").as("k"),
        ((col("id") * 2654435761L) % 100000L).as("u"),
        concat(lit("sv_"), ((col("id") * 40503L) % 90000L).cast("string")).as("s"))
        .createOrReplaceTempView("bloom_src")
      spark.sql(s"INSERT INTO $cat.tables.bloomt SELECT * FROM bloom_src")
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val vdir = new java.io.File(s"$root/tables/bloomt/version=v2")
    assert(vdir.listFiles().exists(_.getName == BloomSidecar.sidecarName),
      "the commit must stamp _blooms.parquet")
    // a real value of u: look it up — stats can't prune, the bloom must
    val u0 = spark.sql(s"SELECT u FROM $cat.tables.bloomt WHERE k = 1234")
      .head().getLong(0)
    val scan = FilePruner.recorded(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.bloomt WHERE u = $u0")
      .head().getLong(0) >= 1)).last
    assert(scan.total === 8, s"8 files expected, saw ${scan.total}")
    assert(scan.admitted.size < 8,
      s"the bloom must exclude some files: admitted ${scan.admitted.size}/8")
    assert(scan.skippedByBloom > 0, s"exclusions must come from the bloom: $scan")
    // string bloom
    val s0 = spark.sql(s"SELECT s FROM $cat.tables.bloomt WHERE k = 99")
      .head().getString(0)
    val onS = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.bloomt WHERE s = '$s0'")
      .head().getLong(0) >= 1))
    assert(onS._1 < 8, s"string bloom must prune: $onS")
    // an absent value: every file excluded, result exactly empty
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.bloomt WHERE u = 100001")
      .head().getLong(0) === 0)
    // bloom + stats compose: k range AND u point
    val both = FilePruner.lastCounts {
      val n = spark.sql(s"SELECT count(*) AS c FROM $cat.tables.bloomt " +
        s"WHERE k BETWEEN 1000 AND 1499 AND u = $u0").head().getLong(0)
      assert(n >= 1 && n === Lake.readTableFeed(spark, root, "bloomt")
        .filter(col("k").between(1000, 1499) && col("u") === u0).count())
    }
    assert(both._1 <= 2, s"stats+bloom intersection admitted $both")
    // correctness parity with the library read, which never prunes files
    def q(from: String) = s"SELECT sum(k) AS sk, count(*) AS c FROM $from WHERE u IN ($u0, 77777)"
    Lake.readTableFeed(spark, root, "bloomt").createOrReplaceTempView("bloomt_unpruned")
    assert(spark.sql(q(s"$cat.tables.bloomt")).collect().toSeq ===
      spark.sql(q("bloomt_unpruned")).collect().toSeq)
  }

  test("two-level: group envelopes skip whole version dirs before per-file stats") {
    import graft.lake.CopyOnWrite
    import spark.implicits._
    def slice(lo: Int, hi: Int) = (lo to hi).map(i => (i.toLong, s"n$i"))
      .toDF("k", "name").repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Lake.writeTableSnapshot(slice(0, 999), root, "st2")
    CopyOnWrite.appendEpoch(slice(1000, 1999), root, "st2", "g", 0)
    CopyOnWrite.appendEpoch(slice(2000, 2999), root, "st2", "g", 1)

    val q = s"SELECT count(*) AS c FROM $cat.tables.st2 WHERE k BETWEEN 2400 AND 2599"
    val first = FilePruner.recorded(assert(spark.sql(q).head().getLong(0) === 200)).last
    val (kept, total) = (first.admitted.size, first.total)
    assert(total === 6 && kept <= 2, s"admitted $kept/$total")
    val (skipped, dirs) = (first.dirsSkipped, first.dirsSeen)
    assert(dirs === 3 && skipped === 2,
      s"two of three commit dirs lie outside [2400,2599] and must be " +
        s"skipped at the GROUP level (per-file sidecars unread): $skipped/$dirs")

    // removing the envelopes must not change admission — only the skip
    (1 to 3).foreach { v =>
      val p = new java.io.File(
        s"$root/tables/st2/version=v$v/${StatsSidecar.groupName}")
      assert(p.exists(), s"commit v$v must stamp a group envelope")
      p.delete()
    }
    StatsSidecar.clearCache()
    val again = FilePruner.recorded(assert(spark.sql(q).head().getLong(0) === 200)).last
    assert((again.admitted.size, again.total) === ((kept, total)),
      "per-file admission must be identical without envelopes")
    assert((again.dirsSkipped, again.dirsSeen) === ((0, 3)),
      "no envelope, no group skip — conservative fall-through")
  }

  test("CALL system.collect_stats backfills missing sidecars") {
    // `nostats` had its sidecar deleted above; the backfill re-stamps it
    val rows = spark.sql(s"CALL $cat.system.collect_stats('nostats')").collect()
    assert(rows.length === 1 && rows(0).getInt(1) === 4,
      s"one dir with 4 files expected: ${rows.mkString(",")}")
    val backfilled = FilePruner.lastCounts(assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.nostats WHERE k = 7")
      .head().getLong(0) === 1))
    assert(backfilled._1 === 1, s"backfilled stats must prune: $backfilled")
    // idempotent: a second call finds nothing to stamp
    assert(spark.sql(s"CALL $cat.system.collect_stats('nostats')").collect().isEmpty)
  }

  test("ExprFilters translates Column predicates to v1 filters") {
    // a PARQUET-backed frame, like every real probe: a derived projection
    // would let the optimizer rewrite the predicate in terms of the
    // underlying expressions (dropping untranslatable leaves — still
    // conservative, but not what this pin is about)
    val p = Files.createTempDirectory("graft_ef_").toString
    spark.range(0, 10).selectExpr("id AS k", "CAST(id AS STRING) AS s")
      .write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    val v1 = org.apache.spark.sql.graft.ExprFilters.toV1(
      df, col("k") === 5 && col("s").startsWith("1"))
    // the literal 5 constant-folds into the bigint domain, and the
    // optimizer adds IsNotNull guards — both real leaves must survive
    import org.apache.spark.sql.sources.{EqualTo, StringStartsWith}
    assert(v1.contains(EqualTo("k", 5L)) &&
      v1.contains(StringStartsWith("s", "1")), s"got $v1")
  }

  test("mightMatch unit pins: conservative on unknowns, exact on bounds") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("x", DoubleType)))
    def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s).getBytes
    val st = StatsSidecar.FileStat(100, Map(
      "k" -> StatsSidecar.ColStat('l', Some(10L), Some(20L), 0),
      "s" -> StatsSidecar.ColStat('s', Some(utf8("banana")), Some(utf8("cherry")), 5),
      "x" -> StatsSidecar.ColStat('u', None, None, -1)))
    def m(f: Filter) = StatsSidecar.mightMatch(f, st, schema)
    assert(!m(EqualTo("k", 9L)) && m(EqualTo("k", 10L)) && m(EqualTo("k", 20L)) && !m(EqualTo("k", 21L)))
    assert(!m(GreaterThan("k", 20L)) && m(GreaterThanOrEqual("k", 20L)))
    assert(!m(LessThan("k", 10L)) && m(LessThanOrEqual("k", 10L)))
    assert(m(In("k", Array(1L, 15L))) && !m(In("k", Array(1L, 2L))))
    assert(!m(And(EqualTo("k", 15L), EqualTo("k", 25L))))
    assert(m(Or(EqualTo("k", 15L), EqualTo("k", 25L))))
    assert(m(EqualTo("s", "car")) && !m(EqualTo("s", "apple")) && !m(EqualTo("s", "dog")))
    assert(m(StringStartsWith("s", "ba")) && m(StringStartsWith("s", "ch")) && !m(StringStartsWith("s", "zz")))
    assert(m(IsNull("s")) && !m(IsNull("k")) && m(IsNotNull("k")))
    // unknown-domain column: everything stays a candidate
    assert(m(EqualTo("x", 1.0)) && m(IsNull("x")) && m(IsNotNull("x")))
    // unlisted column: candidate
    assert(m(EqualTo("zz", 1L)))
    // Not is not understood: candidate
    assert(m(Not(EqualTo("k", 15L))))
    // all-null column: value predicates miss, IS NULL keeps
    val allNull = StatsSidecar.FileStat(10, Map(
      "k" -> StatsSidecar.ColStat('l', None, None, 10)))
    assert(!StatsSidecar.mightMatch(EqualTo("k", 1L), allNull, schema))
    assert(StatsSidecar.mightMatch(IsNull("k"), allNull, schema))
    assert(!StatsSidecar.mightMatch(IsNotNull("k"), allNull, schema))
  }
}
