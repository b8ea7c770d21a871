package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.lake.Lake

/** Contracts of [[org.apache.spark.sql.graft.GraftCatalog]] beyond the
  * oracle gate (`a19_catalog_sql` hash-verifies VERSION AS OF + latest):
  * listings, existence, TIMESTAMP AS OF commit-time resolution, error
  * shapes, and the write-refusal that protects the snapshot contract.
  */
class CatalogSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private lazy val (cat, root): (String, String) = {
    val root = Files.createTempDirectory("graft_cat_spec_").toString
    (org.apache.spark.sql.graft.GraftCatalog.register(spark, root), root)
  }

  private def snap(n: Int) =
    Tables.nation(spark, sf).filter(col("n_nationkey") < n)

  test("latest read, VERSION AS OF, and TIMESTAMP AS OF resolve the right snapshots") {
    Lake.writeTableSnapshot(snap(5), root, "nations")
    // commit-time resolution relies on directory mtimes; keep the two
    // commits in distinct milliseconds and capture a point between them
    Thread.sleep(30)
    val betweenMicros = System.currentTimeMillis() * 1000L
    Thread.sleep(30)
    Lake.writeTableSnapshot(snap(10), root, "nations")

    assert(spark.sql(s"SELECT * FROM $cat.tables.nations").count() === 10)
    assert(spark.sql(s"SELECT * FROM $cat.tables.nations VERSION AS OF 1").count() === 5)
    assert(spark.sql(s"SELECT * FROM $cat.tables.nations VERSION AS OF 2").count() === 10)
    // timestamp between the two commits resolves v1
    val tsLit = java.time.Instant.ofEpochSecond(
      betweenMicros / 1000000L, (betweenMicros % 1000000L) * 1000L).toString
    assert(spark.sql(
      s"SELECT * FROM $cat.tables.nations TIMESTAMP AS OF '$tsLit'").count() === 5)
    // a timestamp before every commit has no snapshot to serve
    intercept[AnalysisException] {
      spark.sql(
        s"SELECT * FROM $cat.tables.nations TIMESTAMP AS OF '2000-01-01 00:00:00'"
      ).collect()
    }
  }

  test("listings, existence and error shapes") {
    Lake.writeTableSnapshot(snap(3), root, "listed")
    assert(spark.sql(s"SHOW TABLES IN $cat.tables").collect()
      .map(_.getString(1)).contains("listed"))
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).sorted === Array("system", "tables"))
    intercept[AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.tables.no_such_table").collect()
    }
    intercept[AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.tables.listed VERSION AS OF 99").collect()
    }
    intercept[AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.nope.listed").collect()
    }
  }

  test("reads prune columns and push filters through the catalog path") {
    Lake.writeTableSnapshot(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice", "o_orderstatus"),
      root, "orders_cat")
    val df = spark.sql(
      s"SELECT o_orderkey FROM $cat.tables.orders_cat WHERE o_totalprice > 100000")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      s"filter must reach the parquet scan:\n$plan")
    assert(df.count() ===
      Tables.orders(spark, sf).filter(col("o_totalprice") > 100000).count())
  }

  test("ALTER retype refuses; rename/drop evolve; DROP TABLE never danglies a live branch") {
    Lake.writeTableSnapshot(snap(3), root, "guarded")
    // ADD/RENAME/DROP COLUMN are metadata-only evolution (own tests +
    // a31/a31b gates); a TYPE change would need a rewrite and refuses
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.tables.guarded ALTER COLUMN n_name TYPE BINARY")
    }
    // rename + drop are metadata-only commits: zero data files, content intact
    spark.sql(s"ALTER TABLE $cat.tables.guarded RENAME COLUMN n_name TO nm")
    spark.sql(s"ALTER TABLE $cat.tables.guarded DROP COLUMN n_regionkey")
    assert(spark.sql(s"SELECT * FROM $cat.tables.guarded").columns.toSeq
      === Seq("n_nationkey", "nm"))
    assert(spark.sql(s"SELECT * FROM $cat.tables.guarded").count() === 3)
    assert(spark.sql(s"SELECT nm FROM $cat.tables.guarded WHERE n_nationkey = 0")
      .head().getString(0) === "NATION_0",
      "pre-rename files must read through the mapping")
    // while a live branch pins a version, DROP refuses (dangling-branch
    // guard); after the branch is dropped — releasing its pin — it works
    Lake.cloneTable(spark, root, "guarded", "guarded_br")
    intercept[Exception] { spark.sql(s"DROP TABLE $cat.tables.guarded") }
    assert(spark.sql(s"SELECT * FROM $cat.tables.guarded").count() === 3)
    spark.sql(s"DROP TABLE $cat.tables.guarded_br")
    assert(!new java.io.File(s"$root/tables/guarded/version=v1/_pin_guarded_br").exists(),
      "SQL DROP of the branch must release its pin on the source")
    spark.sql(s"DROP TABLE $cat.tables.guarded")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tables.guarded").collect()
    }
  }

  test("SQL writes commit new versions through the snapshot contract") {
    Lake.writeTableSnapshot(snap(5), root, "writable")
    spark.sql(s"INSERT INTO $cat.tables.writable " +
      s"SELECT * FROM parquet.`/root/testdata/sf0.001/nation.parquet` " +
      "WHERE n_nationkey BETWEEN 5 AND 7")
    // append became a NEW version; v1 unchanged
    assert(Lake.versions(spark, root, "writable") === Seq(1, 2))
    assert(spark.sql(s"SELECT * FROM $cat.tables.writable VERSION AS OF 1").count() === 5)
    assert(spark.sql(s"SELECT * FROM $cat.tables.writable").count() === 8)
    spark.sql(s"INSERT OVERWRITE $cat.tables.writable " +
      s"SELECT * FROM parquet.`/root/testdata/sf0.001/nation.parquet` " +
      "WHERE n_nationkey >= 20")
    assert(Lake.versions(spark, root, "writable") === Seq(1, 2, 3))
    assert(spark.sql(s"SELECT * FROM $cat.tables.writable").count() === 5)
    // a pinned (time-traveled) relation is read-only by construction
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.tables.writable VERSION AS OF 1 VALUES (99, 'X')")
    }
  }

  test("conditional commit refuses on conflict; INSERT INTO never loses a concurrent append") {
    import org.apache.spark.sql.functions._
    Lake.writeTableSnapshot(snap(5), root, "cas_t")
    // a conditional commit based on v1 succeeds when v1 is still latest
    assert(Lake.writeTableSnapshotIf(snap(6), root, "cas_t", expectedLatest = 1) === Some(2))
    // a second writer still holding base v1 must NOT clobber v2's content:
    // its conditional commit refuses instead of committing
    assert(Lake.writeTableSnapshotIf(snap(7), root, "cas_t", expectedLatest = 1) === None)
    assert(Lake.versions(spark, root, "cas_t") === Seq(1, 2))
    assert(Lake.readTableFeed(spark, root, "cas_t").count() === 6)
    // no staging/claim leftovers from the refused commit
    val leftovers = new java.io.File(s"$root/tables/cas_t").listFiles()
      .map(_.getName).filter(n => n.startsWith(".stage_") || n.startsWith(".claim_"))
    assert(leftovers.isEmpty, leftovers.toSeq)
    // the commit receipt orders TIMESTAMP AS OF by claim instant
    assert(new java.io.File(s"$root/tables/cas_t/version=v2/_commit").exists())
    // receipt is invisible to readers
    assert(spark.sql(s"SELECT * FROM $cat.tables.cas_t VERSION AS OF 2")
      .columns.toSeq === snap(6).columns.toSeq)
  }

  test("DELETE versions survivors, keeps NULL-predicate rows, falls back to group-based") {
    spark.sql(s"CREATE TABLE $cat.tables.del_t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.tables.del_t VALUES (1, 'a'), (2, NULL), (3, 'b')")
    // predicate TRUE deletes; NULL predicate (row 2: NULL = 'a' is NULL,
    // not false) must KEEP the row — SQL three-valued delete semantics
    spark.sql(s"DELETE FROM $cat.tables.del_t WHERE v = 'a'")
    assert(spark.sql(s"SELECT k FROM $cat.tables.del_t").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // the delete COMMITTED a version; pre-delete rows stay readable
    assert(Lake.versions(spark, root, "del_t") === Seq(1, 2, 3))
    assert(spark.sql(s"SELECT * FROM $cat.tables.del_t VERSION AS OF 2").count() === 3)
    // IS NULL arrives as a translatable source filter
    spark.sql(s"DELETE FROM $cat.tables.del_t WHERE v IS NULL")
    assert(spark.sql(s"SELECT k FROM $cat.tables.del_t").collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    // a predicate beyond the source-filter form falls through to the
    // GROUP-BASED row-level path (full-snapshot replace) and still
    // versions correctly — 'bb' matches, 'b' does not
    spark.sql(s"INSERT INTO $cat.tables.del_t VALUES (5, 'bb')")
    spark.sql(s"DELETE FROM $cat.tables.del_t WHERE length(v) > 1")
    assert(spark.sql(s"SELECT k FROM $cat.tables.del_t").collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    // TRUNCATE rides the delete path: one more version, empty latest
    spark.sql(s"TRUNCATE TABLE $cat.tables.del_t")
    assert(spark.sql(s"SELECT * FROM $cat.tables.del_t").count() === 0)
    assert(spark.sql(s"SELECT k FROM $cat.tables.del_t VERSION AS OF 6").count() === 1)
  }

  test("DELETE FROM is merge-on-read: sidecar commit, V1Scan reads, compact folds") {
    import spark.implicits._
    Lake.writeTableSnapshot(
      (1 to 400).map(i => (i.toLong, i * 1.0)).toDF("k", "amt")
        .repartitionByRange(4, col("k")), root, "mor_sql")
    spark.sql(s"DELETE FROM $cat.tables.mor_sql WHERE k <= 50")
    // the commit is a position sidecar — no data files in the new version
    val v2dir = new java.io.File(s"$root/tables/mor_sql/version=v2")
    assert(new java.io.File(v2dir, "_deletes").isDirectory,
      "SQL DELETE must commit a merge-on-read sidecar")
    assert(v2dir.listFiles().forall(f =>
      !f.isFile || f.getName.startsWith("_") || f.getName.startsWith(".")),
      "no data file is rewritten by a MOR delete")
    // SQL reads of the MOR version (V1Scan fallback) apply the sidecar —
    // latest, aggregates, and time travel all agree with the library read
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.mor_sql").head().getLong(0) === 350)
    assert(spark.sql(s"SELECT min(k) FROM $cat.tables.mor_sql").head().getLong(0) === 51)
    assert(spark.sql(s"SELECT * FROM $cat.tables.mor_sql VERSION AS OF 1").count() === 400)
    assert(Lake.readTableFeed(spark, root, "mor_sql").count() === 350)
    // a group-based UPDATE on the MOR base reads through the fallback too:
    // deleted rows must not resurrect into the replacement
    spark.sql(s"UPDATE $cat.tables.mor_sql SET amt = 0.0 WHERE k <= 60")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.mor_sql").head().getLong(0) === 350)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.tables.mor_sql WHERE amt = 0.0").head().getLong(0) === 10)
    // pruning + pushdown survive the V1Scan fallback: the pushed filter is
    // visible on the fallback scan node and the projection narrows it
    val morPlan = spark.sql(
      s"SELECT k FROM $cat.tables.mor_sql WHERE k > 300")
    assert(morPlan.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "translatable predicates must be pushed through the MOR fallback")
    assert(morPlan.count() === 100)
    assert(morPlan.columns.toSeq === Seq("k"))
    // CALL system.compact folds sidecars + manifests into physical files
    val v = spark.sql(s"CALL $cat.system.compact('mor_sql')").head().getInt(0)
    assert(!Lake.hasManifest(spark, root, "mor_sql", v))
    assert(!graft.lake.MergeOnRead.hasDeletes(spark, root, "mor_sql", v))
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.mor_sql").head().getLong(0) === 350)
  }

  test("ADD COLUMN is metadata-only; reads null-fill; writes carry it physically") {
    import spark.implicits._
    Lake.writeTableSnapshot(
      (1 to 100).map(i => (i.toLong, s"n$i")).toDF("k", "nm")
        .repartitionByRange(4, col("k")), root, "evo_t")
    spark.sql(s"ALTER TABLE $cat.tables.evo_t ADD COLUMN score DOUBLE")
    // the evolution commit wrote NO data files — schema sidecar + manifest
    val v2dir = new java.io.File(s"$root/tables/evo_t/version=v2")
    assert(new java.io.File(v2dir, "_schema").isFile)
    assert(v2dir.listFiles().forall(f =>
      !f.isFile || f.getName.startsWith("_") || f.getName.startsWith(".")))
    assert(Lake.snapshotFiles(spark, root, "evo_t", 2)
      .forall(_.contains("version=v1")), "all data files carried from v1")
    // reads null-fill; schema shows the column; old version unchanged
    assert(spark.sql(s"SELECT * FROM $cat.tables.evo_t").columns.toSeq
      === Seq("k", "nm", "score"))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.tables.evo_t WHERE score IS NULL")
      .head().getLong(0) === 100)
    assert(spark.sql(s"SELECT * FROM $cat.tables.evo_t VERSION AS OF 1")
      .columns.toSeq === Seq("k", "nm"))
    // a second add of the same name refuses
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.tables.evo_t ADD COLUMN score DOUBLE")
    }
    // INSERT INTO carries the column physically
    spark.sql(s"INSERT INTO $cat.tables.evo_t VALUES (101, 'new', 9.5)")
    assert(spark.sql(
      s"SELECT score FROM $cat.tables.evo_t WHERE k = 101").head().getDouble(0) === 9.5)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.tables.evo_t WHERE score IS NULL")
      .head().getLong(0) === 100)
    // a COW mutation on the evolved base: predicate and SET may reference
    // the new column; carried old-schema files keep null-filling
    graft.lake.CopyOnWrite.updateWhere(spark, root, "evo_t",
      col("k") <= 10, Seq("score" -> lit(1.0)))
    val after = spark.sql(s"SELECT * FROM $cat.tables.evo_t")
    assert(after.filter(col("score") === 1.0).count() === 10)
    assert(after.filter(col("score").isNull).count() === 90)
    assert(after.count() === 101)
    // and a MOR delete keyed on the evolved column works (null never matches)
    spark.sql(s"DELETE FROM $cat.tables.evo_t WHERE score = 9.5")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.evo_t").head().getLong(0) === 100)
  }

  test("key-equality DELETE routes to the zero-scan equality sidecar") {
    import spark.implicits._
    Lake.writeTableSnapshot(
      (1 to 200).map(i => (i.toLong, (i % 10).toLong)).toDF("k", "u"), root, "eq_sql")
    spark.sql(s"DELETE FROM $cat.tables.eq_sql WHERE u IN (2, 5)")
    val v2dir = new java.io.File(s"$root/tables/eq_sql/version=v2")
    assert(new java.io.File(v2dir, "_eq_deletes").isDirectory,
      "IN-list key delete must commit an equality sidecar")
    assert(!new java.io.File(v2dir, "_deletes").exists(),
      "a key delete must not scan for positions")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.eq_sql").head().getLong(0) === 160)
    // single-value form too
    spark.sql(s"DELETE FROM $cat.tables.eq_sql WHERE u = 7")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.eq_sql").head().getLong(0) === 140)
    // a non-equality predicate still routes to the positional path
    spark.sql(s"DELETE FROM $cat.tables.eq_sql WHERE k <= 20")
    assert(new java.io.File(s"$root/tables/eq_sql/version=v4/_deletes").isDirectory)
    // 14 live rows in k=1..20 (u∈{2,5,7} already value-deleted: k=2,5,7,12,15,17)
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.eq_sql").head().getLong(0) === 126)
    val v = spark.sql(s"CALL $cat.system.compact('eq_sql')").head().getInt(0)
    assert(!graft.lake.MergeOnRead.hasAnyDeletes(spark, root, "eq_sql", v))
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.eq_sql").head().getLong(0) === 126)
    // incremental small-file compaction via SQL: the full compact left a
    // single file, so the bin-pack is a NO-OP (same version, no churn)
    assert(spark.sql(s"CALL $cat.system.compact_files('eq_sql', 32)")
      .head().getInt(0) === v)
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.compact_files('eq_sql', 0)").collect()
    }
  }

  test("multi-column equality conjunctions route to the composite-key sidecar") {
    import spark.implicits._
    Lake.writeTableSnapshot(
      (1 to 200).map(i => (i.toLong, (i % 10).toLong, s"t${i % 4}"))
        .toDF("k", "u", "tn"), root, "eqm_sql")
    // = AND IN on distinct columns: composite equality sidecar, zero scans
    spark.sql(s"DELETE FROM $cat.tables.eqm_sql WHERE tn = 't1' AND u IN (1, 5)")
    val eq = graft.lake.MergeOnRead.eqDeletesOf(spark, root, "eqm_sql", 2)
    assert(eq.isDefined, "composite key delete must commit an equality sidecar")
    assert(eq.get.columns.sorted.sameElements(Array("tn", "u")),
      "sidecar columns must be the composite key")
    assert(eq.get.count() === 2, "IN expands to the value cross product")
    assert(!graft.lake.MergeOnRead.hasDeletes(spark, root, "eqm_sql", 2),
      "a composite key delete must not scan for positions")
    // i%4==1 && i%10∈{1,5} → i ≡ 1 or 5 (mod 20) → 20 of 200 rows
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.eqm_sql")
      .head().getLong(0) === 180)
    // a conjunction with a non-equality member stays positional; the
    // composite equality sidecar carries verbatim
    spark.sql(s"DELETE FROM $cat.tables.eqm_sql WHERE u = 2 AND k <= 40")
    assert(graft.lake.MergeOnRead.hasDeletes(spark, root, "eqm_sql", 3))
    assert(graft.lake.MergeOnRead.eqDeletesOf(spark, root, "eqm_sql", 3)
      .get.count() === 2)
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.eqm_sql")
      .head().getLong(0) === 176)
  }

  test("UPDATE and MERGE INTO commit new versions; non-matching rows are never lost") {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.tables.um_t (k BIGINT, amt DOUBLE)")
    spark.sql(s"INSERT INTO $cat.tables.um_t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    // UPDATE must carry UNTOUCHED rows into the new version (the scan
    // must not let the WHERE clause prune rows out of the replacement)
    spark.sql(s"UPDATE $cat.tables.um_t SET amt = amt * 2 WHERE k >= 2")
    assert(spark.sql(s"SELECT amt FROM $cat.tables.um_t ORDER BY k").collect()
      .map(_.getDouble(0)).toSeq === Seq(10.0, 40.0, 60.0))
    assert(Lake.versions(spark, root, "um_t") === Seq(1, 2, 3))
    // pre-update generation intact
    assert(spark.sql(s"SELECT amt FROM $cat.tables.um_t VERSION AS OF 2 ORDER BY k")
      .collect().map(_.getDouble(0)).toSeq === Seq(10.0, 20.0, 30.0))
    // 3-clause MERGE: delete, update, insert in one statement
    Seq((2L, -1.0), (3L, 99.0), (4L, 40.0)).toDF("k", "amt")
      .createOrReplaceTempView("um_src")
    spark.sql(s"""MERGE INTO $cat.tables.um_t t USING um_src s ON t.k = s.k
      WHEN MATCHED AND s.amt < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.amt = s.amt
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql(s"SELECT k, amt FROM $cat.tables.um_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((1L, 10.0), (3L, 99.0), (4L, 40.0)))
    assert(Lake.versions(spark, root, "um_t") === Seq(1, 2, 3, 4))
    // NOT MATCHED BY SOURCE: rows absent from the source get their own clause
    Seq((3L, 0.0)).toDF("k", "amt").createOrReplaceTempView("um_src2")
    spark.sql(s"""MERGE INTO $cat.tables.um_t t USING um_src2 s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.amt = s.amt
      WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.amt = t.amt + 1""")
    assert(spark.sql(s"SELECT k, amt FROM $cat.tables.um_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((3L, 0.0), (4L, 41.0)))
  }

  test("SQL UPDATE and MERGE are FILE-GRANULAR: untouched files carried by reference") {
    import spark.implicits._
    Lake.writeTableSnapshot(
      (1 to 800).map(i => (i.toLong, s"row$i")).toDF("k", "x")
        .repartitionByRange(8, col("k")), root, "cowsql_t")
    val v1Files = Lake.snapshotFiles(spark, root, "cowsql_t", 1).toSet
    assert(v1Files.size >= 8)
    // SQL UPDATE touching only the low key range routes through
    // CopyOnWrite: only the file(s) holding k <= 100 are rewritten
    spark.sql(s"UPDATE $cat.tables.cowsql_t SET x = 'upd' WHERE k <= 100")
    assert(Lake.hasManifest(spark, root, "cowsql_t", 2),
      "a routed UPDATE must commit a manifest-carrying COW version")
    val v2Files = Lake.snapshotFiles(spark, root, "cowsql_t", 2).toSet
    assert((v2Files intersect v1Files).size >= 6,
      "untouched files must be carried by reference")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.cowsql_t WHERE x = 'upd'")
      .head().getLong(0) === 100)
    // ... including on a DELETE-CARRYING (merge-on-read) base: the
    // round-11 gap — SQL UPDATE on a MOR base was whole-snapshot
    spark.sql(s"DELETE FROM $cat.tables.cowsql_t WHERE k > 790")
    assert(graft.lake.MergeOnRead.hasDeletes(spark, root, "cowsql_t", 3))
    spark.sql(s"UPDATE $cat.tables.cowsql_t SET x = 'upd2' WHERE k BETWEEN 101 AND 150")
    assert(Lake.hasManifest(spark, root, "cowsql_t", 4),
      "UPDATE on a MOR base must stay file-granular, not whole-snapshot")
    val v4Files = Lake.snapshotFiles(spark, root, "cowsql_t", 4).toSet
    assert((v4Files intersect v1Files).size >= 5,
      "untouched files stay carried by reference across an UPDATE on a MOR base")
    assert(graft.lake.MergeOnRead.hasDeletes(spark, root, "cowsql_t", 4),
      "carried files' sidecar entries must survive the rewrite")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.cowsql_t")
      .head().getLong(0) === 790, "deleted rows must not resurrect")
    // MERGE with the 3-clause shape routes too
    Seq((120L, "merged"), (801L, "ins")).toDF("k", "x")
      .createOrReplaceTempView("cowsql_src")
    spark.sql(s"""MERGE INTO $cat.tables.cowsql_t t USING cowsql_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.x = s.x
      WHEN NOT MATCHED THEN INSERT *""")
    assert(Lake.hasManifest(spark, root, "cowsql_t", 5),
      "a routed MERGE must commit a manifest-carrying COW version")
    assert(spark.sql(s"SELECT x FROM $cat.tables.cowsql_t WHERE k IN (120, 801) ORDER BY k")
      .collect().map(_.getString(0)).toSeq === Seq("merged", "ins"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.cowsql_t")
      .head().getLong(0) === 791)
    // condition-LESS UPDATE (the synthetic-marker path): every row of
    // every file matches, so all files rewrite — still a valid COW commit
    spark.sql(s"UPDATE $cat.tables.cowsql_t SET x = concat(x, '!')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.cowsql_t WHERE x NOT LIKE '%!'")
      .head().getLong(0) === 0, "an unconditional UPDATE must hit every row")
    // MERGE with UPDATE SET * (star expansion) routes too
    Seq((130L, "star")).toDF("k", "x").createOrReplaceTempView("cowsql_src2")
    spark.sql(s"""MERGE INTO $cat.tables.cowsql_t t USING cowsql_src2 s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *""")
    assert(spark.sql(s"SELECT x FROM $cat.tables.cowsql_t WHERE k = 130")
      .head().getString(0) === "star")
    assert(Lake.hasManifest(spark, root, "cowsql_t",
      Lake.versions(spark, root, "cowsql_t").max),
      "the star-merge must ride the file-granular path")
    // the escape hatch restores the group-based whole-snapshot path
    spark.conf.set("spark.graft.sql.cowRouting", "false")
    try {
      spark.sql(s"UPDATE $cat.tables.cowsql_t SET x = 'gb' WHERE k = 1")
      assert(!Lake.hasManifest(spark, root, "cowsql_t",
        Lake.versions(spark, root, "cowsql_t").max),
        "with routing off the group-based path rewrites the whole snapshot")
      assert(spark.sql(s"SELECT x FROM $cat.tables.cowsql_t WHERE k = 1")
        .head().getString(0) === "gb")
    } finally spark.conf.unset("spark.graft.sql.cowRouting")
  }

  test("SQL mutations on a shallow-cloned branch are copy-on-write") {
    import spark.implicits._
    Lake.writeTableSnapshot(
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amt"), root, "cow_src")
    Lake.cloneTable(spark, root, "cow_src", "cow_branch")
    // UPDATE through the catalog on a table whose latest version is a
    // POINTER: the scan resolves to the source's bytes, the replacement
    // commits a physical version on the BRANCH, the source never changes
    spark.sql(s"UPDATE $cat.tables.cow_branch SET amt = amt + 5 WHERE k = 1")
    assert(spark.sql(s"SELECT amt FROM $cat.tables.cow_branch ORDER BY k").collect()
      .map(_.getDouble(0)).toSeq === Seq(15.0, 20.0))
    assert(spark.sql(s"SELECT amt FROM $cat.tables.cow_src ORDER BY k").collect()
      .map(_.getDouble(0)).toSeq === Seq(10.0, 20.0))
    assert(Lake.versions(spark, root, "cow_branch") === Seq(1, 2))
    assert(Lake.versions(spark, root, "cow_src") === Seq(1))
  }

  test("CALL procedures drive the lake lifecycle from SQL") {
    import spark.implicits._
    Lake.writeTableSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "pr_t")
    // clone → branch, mutate the branch in SQL, merge back, restore
    assert(spark.sql(s"CALL $cat.system.clone('pr_t', 'pr_b')")
      .head().getInt(0) === 1)
    spark.sql(s"UPDATE $cat.tables.pr_b SET v = 'A' WHERE k = 1")
    assert(spark.sql(s"CALL $cat.system.merge_branch('pr_t', 'pr_b', 'k')")
      .head().getInt(0) === 2)
    assert(spark.sql(s"SELECT v FROM $cat.tables.pr_t ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("A", "b"))
    assert(spark.sql(s"CALL $cat.system.restore('pr_t', 1)").head().getInt(0) === 3)
    assert(spark.sql(s"SELECT v FROM $cat.tables.pr_t ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("a", "b"))
    // prune respects the clone pin: v1 is ineligible, so keep=2 (of 3
    // versions) has nothing eligible to delete
    assert(spark.sql(s"CALL $cat.system.prune_versions('pr_t', 2)").count() === 0)
    assert(Lake.versions(spark, root, "pr_t") === Seq(1, 2, 3))
    // keep=0 would delete every unpinned version incl. latest — must refuse
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.prune_versions('pr_t', 0)").collect()
    }
    assert(Lake.versions(spark, root, "pr_t") === Seq(1, 2, 3))
    // vacuum on a clean table reports nothing; unknown procedure refuses
    assert(spark.sql(s"CALL $cat.system.vacuum('pr_t')").count() === 0)
    intercept[Exception] { spark.sql(s"CALL $cat.system.nope('x')").collect() }
    assert(spark.sql(s"SHOW PROCEDURES IN $cat.system").count() === 14)
    // the version ledger: one row per version, kind classified, no jobs
    val hist = spark.sql(s"CALL $cat.system.history('pr_t')").collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    assert(hist.map(_.getString(2)).forall(
      Set("physical", "clone", "cow", "mor", "cow+mor", "evolve")))
    assert(hist.head.getString(2) === "physical")
  }

  test("CREATE TABLE commits an empty v1; CTAS-style insert lands v2") {
    spark.sql(s"CREATE TABLE $cat.tables.created (k BIGINT, v STRING)")
    assert(Lake.versions(spark, root, "created") === Seq(1))
    assert(spark.sql(s"SELECT * FROM $cat.tables.created").count() === 0)
    spark.sql(s"INSERT INTO $cat.tables.created VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql(s"SELECT * FROM $cat.tables.created").count() === 2)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.tables.created (k BIGINT) ")
    }
  }

  test("A31c: widening ALTER COLUMN TYPE is metadata-only; narrow files read widened") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val df = spark.range(1, 101).select(
      col("id").cast("int").as("k"), (col("id") % 10).cast("float").as("v"))
      .repartitionByRange(4, col("k"))
    Lake.writeTableSnapshot(df, root, "widen_t")
    spark.sql(s"ALTER TABLE $cat.tables.widen_t ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.tables.widen_t ALTER COLUMN v TYPE DOUBLE")
    // both commits are metadata-only: every data file carried from v1
    Seq(2, 3).foreach { v =>
      assert(Lake.snapshotFiles(spark, root, "widen_t", v)
        .forall(_.contains("version=v1")), s"v$v must carry v1's files")
    }
    val sch = spark.table(s"$cat.tables.widen_t").schema
    assert(sch("k").dataType === LongType && sch("v").dataType === DoubleType)
    // the narrow (int32/float) files read through the widened schema
    assert(spark.sql(s"SELECT sum(k) AS s FROM $cat.tables.widen_t")
      .head().getLong(0) === 5050)
    // a value beyond int range is now insertable
    spark.sql(s"INSERT INTO $cat.tables.widen_t VALUES " +
      s"(${Int.MaxValue.toLong + 10}, CAST(0.5 AS DOUBLE))")
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.widen_t WHERE k > ${Int.MaxValue}")
      .head().getLong(0) === 1)
    // pre-widening time travel shows the narrow shape exactly
    assert(spark.sql(s"SELECT * FROM $cat.tables.widen_t VERSION AS OF 1")
      .schema("k").dataType === IntegerType)
    // file-granular COW UPDATE keyed on the widened column: the rewritten
    // file bakes the wide type, carried files stay narrow and still read
    spark.sql(s"UPDATE $cat.tables.widen_t SET v = -1.0 WHERE k = 50")
    assert(spark.sql(s"SELECT v FROM $cat.tables.widen_t WHERE k = 50")
      .head().getDouble(0) === -1.0)
    assert(spark.sql(s"SELECT sum(k) AS s FROM $cat.tables.widen_t")
      .head().getLong(0) === 5050L + Int.MaxValue.toLong + 10)
    // narrowing (and non-widening) refuses
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.tables.widen_t ALTER COLUMN k TYPE INT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.tables.widen_t ALTER COLUMN v TYPE STRING")
    }
  }

  test("A31c: an equality-delete sidecar keyed on a widened column widens its values") {
    import spark.implicits._
    val df = spark.range(1, 51).select(
      col("id").cast("int").as("k"), lit("x").as("s"))
      .repartitionByRange(2, col("k"))
    Lake.writeTableSnapshot(df, root, "widen_eq")
    graft.lake.MergeOnRead.deleteByKeys(spark, root, "widen_eq",
      Seq(5, 6).toDF("k"))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.tables.widen_eq")
      .head().getLong(0) === 48)
    spark.sql(s"ALTER TABLE $cat.tables.widen_eq ALTER COLUMN k TYPE BIGINT")
    // the int-valued sidecar keys were cast with the schema: the deleted
    // keys stay deleted through the widened read
    assert(spark.sql(
      s"SELECT count(*) AS c FROM $cat.tables.widen_eq WHERE k IN (5, 6)")
      .head().getLong(0) === 0)
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.tables.widen_eq")
      .head().getLong(0) === 48)
    // compaction bakes the widened type physically and folds the sidecar
    spark.sql(s"CALL $cat.system.compact('widen_eq')")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.tables.widen_eq")
      .head().getLong(0) === 48)
    assert(spark.table(s"$cat.tables.widen_eq").schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("catalog schemas and table_changes plans start no Spark job") {
    Lake.writeTableSnapshot(snap(5), root, "nojob")
    Lake.writeTableSnapshot(snap(8), root, "nojob")
    assert(SparkSpec.jobsDuring(spark) {
      spark.table(s"$cat.tables.nojob").schema
      spark.sql(s"SELECT * FROM $cat.tables.nojob VERSION AS OF 1").schema
      spark.sql(
        s"SELECT * FROM table_changes('$cat.tables.nojob', 1, 'n_nationkey')").schema
    } === 0)
    assert(spark.sql(
      s"SELECT * FROM table_changes('$cat.tables.nojob', 1, 'n_nationkey')").count() === 3)
  }
}
