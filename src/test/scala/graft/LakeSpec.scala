package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import graft.lake.{Lake, Retention}

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): String = Files.createTempDirectory("lake_spec_").toString

  test("appendStream partitions by event date and readStreamFeed prunes") {
    val root = scratch()
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (2L, "2024-01-02 10:00:00", 2.0),
      (3L, "2024-01-03 10:00:00", 3.0))
      .toDF("id", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    Lake.appendStream(df, root, "ev", eventTimeCol = Some("ts"))
    assert(Lake.readStreamFeed(spark, root, "ev").count() === 3)
    val pruned = Lake.readStreamFeed(spark, root, "ev",
      from = Some(LocalDate.of(2024, 1, 2)))
    assert(pruned.select("id").as[Long].collect().sorted === Array(2L, 3L))
    // partition pruning is in the plan, not a post-filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ")) // only PartitionFilters remain
  }

  test("processing-date append stamps the asOf date (reference behavior)") {
    val root = scratch()
    val df = Seq((1L, 5.0)).toDF("id", "v")
    Lake.appendStream(df, root, "ev", eventTimeCol = None,
      asOfDate = LocalDate.of(2024, 2, 29))
    val row = Lake.readStreamFeed(spark, root, "ev")
      .select("year", "month", "day").as[(Int, Int, Int)].collect().head
    assert(row === ((2024, 2, 29)))
  }

  test("append accumulates files, second append does not clobber") {
    val root = scratch()
    val df = Seq((1L, 1.0)).toDF("id", "v")
    Lake.appendStream(df, root, "ev", asOfDate = LocalDate.of(2024, 1, 1))
    Lake.appendStream(df, root, "ev", asOfDate = LocalDate.of(2024, 1, 1))
    assert(Lake.readStreamFeed(spark, root, "ev").count() === 2)
  }

  test("table snapshots: version discovery, latest read, retention pruning") {
    val root = scratch()
    val v1 = Lake.writeTableSnapshot(Seq((1, "a")).toDF("k", "x"), root, "t", 2)
    val v2 = Lake.writeTableSnapshot(Seq((2, "b")).toDF("k", "x"), root, "t", 2)
    val v3 = Lake.writeTableSnapshot(Seq((3, "c")).toDF("k", "x"), root, "t", 2)
    assert((v1, v2, v3) === ((1, 2, 3)))
    assert(Lake.versions(spark, root, "t") === Seq(2, 3)) // v1 pruned
    assert(Lake.readTableFeed(spark, root, "t").select("k").as[Int].head() === 3)
    assert(Lake.readTableFeed(spark, root, "t", Some(2)).select("k").as[Int].head() === 2)
  }

  test("shallow clone is zero-copy, pins its source against retention, flattens chains") {
    val root = scratch()
    Lake.writeTableSnapshot(Seq((1, "a"), (2, "b")).toDF("k", "x"), root, "src")
    Lake.writeTableSnapshot(Seq((3, "c")).toDF("k", "x"), root, "src")
    assert(Lake.cloneTable(spark, root, "src", "branch", Some(1)) === 1)
    // zero-copy: the pointer version holds NO parquet, only the pointer
    val ptrDir = new java.io.File(s"$root/tables/branch/version=v1")
    assert(ptrDir.listFiles().map(_.getName).count(_.endsWith(".parquet")) === 0)
    assert(new java.io.File(ptrDir, "_clone").exists())
    // reads resolve to the source's v1 content
    assert(Lake.readTableFeed(spark, root, "branch").select("k").as[Int]
      .collect().sorted === Array(1, 2))
    // clone-of-clone flattens: its pointer names the PHYSICAL snapshot
    Lake.cloneTable(spark, root, "branch", "branch2", Some(1))
    assert(Lake.resolveSnapshotDir(spark, root, "branch2", 1)
      === s"$root/tables/src/version=v1")
    // the pinned source version is ineligible for retention while newer
    // unpinned versions still prune
    (1 to 8).foreach(i =>
      Lake.writeTableSnapshot(Seq((100 + i, "z")).toDF("k", "x"), root, "src", 3))
    assert(Lake.versions(spark, root, "src").contains(1),
      "pinned v1 must survive a keep=3 sweep")
    assert(!Lake.versions(spark, root, "src").contains(2),
      "unpinned old versions must still prune")
    assert(Lake.readTableFeed(spark, root, "branch").count() === 2)
    // copy-on-write: branch commits its own physical version; src untouched
    Lake.writeTableSnapshot(
      Lake.readTableFeed(spark, root, "branch")
        .unionByName(Seq((9, "q")).toDF("k", "x")), root, "branch")
    assert(Lake.readTableFeed(spark, root, "branch").count() === 3)
    assert(Lake.readTableFeed(spark, root, "src", Some(1)).count() === 2)
    // self-clone refuses; cloning a missing table refuses
    intercept[IllegalArgumentException] {
      Lake.cloneTable(spark, root, "src", "src")
    }
    intercept[IllegalStateException] {
      Lake.cloneTable(spark, root, "nope", "b3")
    }
  }

  test("branch v1 clone pointer is never retention-pruned; merge-back survives many branch commits") {
    val root = scratch()
    Lake.writeTableSnapshot(Seq((1, "a"), (2, "b")).toDF("k", "x"), root, "p_src")
    Lake.cloneTable(spark, root, "p_src", "p_br")
    // many copy-on-write commits on the branch with an aggressive inline
    // retention: the _clone pointer at v1 (the merge anchor) must be
    // INELIGIBLE for the sweep, not merely lucky-by-recency
    (1 to 6).foreach { i =>
      Lake.writeTableSnapshot(
        Lake.readTableFeed(spark, root, "p_br")
          .unionByName(Seq((100 + i, "z")).toDF("k", "x")),
        root, "p_br", retentionVersions = 2)
    }
    val vs = Lake.versions(spark, root, "p_br")
    assert(vs.contains(1), s"branch v1 pointer must survive retention (have $vs)")
    assert(Lake.clonePointer(spark, root, "p_br", 1).isDefined)
    // and because the anchor survived, merge-back still resolves the base
    val merged = Lake.mergeBranch(spark, root, "p_src", "p_br", Seq("k"))
    assert(Lake.readTableFeed(spark, root, "p_src", Some(merged)).count() === 8)
  }

  test("copy-on-write: untouched files carried by reference; retention keeps referenced dirs") {
    import graft.lake.CopyOnWrite
    val root = scratch()
    val df = (1 to 800).map(i => (i, i % 10, s"row$i")).toDF("k", "g", "x")
    Lake.writeTableSnapshot(df.repartitionByRange(8, col("k")), root, "cow_t")
    val v1Files = Lake.snapshotFiles(spark, root, "cow_t", 1).toSet
    assert(v1Files.size >= 8)
    // UPDATE touching only the low key range: of 8 range-clustered files,
    // only the one(s) holding k<=100 may be rewritten
    assert(CopyOnWrite.updateWhere(spark, root, "cow_t",
      col("k") <= 100, Seq("x" -> lit("upd"))) === 2)
    val v2Files = Lake.snapshotFiles(spark, root, "cow_t", 2).toSet
    val carried = v2Files intersect v1Files
    assert(carried.size >= 6,
      s"untouched files must be carried by reference (carried ${carried.size} of ${v1Files.size})")
    assert(carried.forall(_.contains("version=v1")),
      "carried files keep their ORIGINAL names/paths — never copied or rewritten")
    // the new version dir physically holds only the rewritten file(s)
    assert((v2Files -- v1Files).forall(_.contains("version=v2")))
    assert((v2Files -- v1Files).size < v1Files.size)
    // semantics equal a full rewrite
    val v2back = Lake.readTableFeed(spark, root, "cow_t")
    assert(v2back.count() === 800)
    assert(v2back.filter(col("k") <= 100 && col("x") =!= "upd").count() === 0)
    assert(v2back.filter(col("k") > 100 && col("x") === "upd").count() === 0)
    // a second COW op (delete in a different range) flattens references:
    // v3's manifest points straight at v1 and v2 physical dirs
    assert(CopyOnWrite.deleteWhere(spark, root, "cow_t", col("k") > 700) === 3)
    assert(Lake.readTableFeed(spark, root, "cow_t").count() === 700)
    // retention with keep=1: v1 and v2 are NOT prunable — the kept v3
    // still references their physical files (transitive protection)
    assert(graft.lake.Retention.pruneTableVersions(spark, root, "cow_t", keep = 1).isEmpty)
    assert(Lake.versions(spark, root, "cow_t") === Seq(1, 2, 3))
    // after a PHYSICAL snapshot supersedes the chain, the old dirs become
    // prunable again and time-traveling the kept version still reads
    Lake.writeTableSnapshot(Lake.readTableFeed(spark, root, "cow_t"), root, "cow_t")
    val sweep = graft.lake.Retention.pruneTableVersions(spark, root, "cow_t", keep = 1)
    assert(sweep.map(_.path).size === 3 && Lake.versions(spark, root, "cow_t") === Seq(4))
    assert(Lake.readTableFeed(spark, root, "cow_t").count() === 700)
  }

  test("copy-on-write merge: 3-clause semantics, inserts land, untouched files by reference") {
    import graft.lake.CopyOnWrite
    val root = scratch()
    val base = (1 to 400).map(i => (i, s"n$i", i.toDouble)).toDF("k", "nm", "bal")
    Lake.writeTableSnapshot(base.repartitionByRange(4, col("k")), root, "cow_m")
    // source: updates 380..400 (one negative → DELETE clause), inserts 401..410
    val src = ((380 to 410).map(i =>
      (i, s"s$i", if (i == 385) -5.0 else i * 2.0))).toDF("k", "nm", "bal")
    assert(CopyOnWrite.mergeInto(spark, root, "cow_m", src, Seq("k"),
      matchedDeleteCond = Some(col("s.bal") < 0),
      matchedSet = Seq("bal" -> col("s.bal")),
      insertNotMatched = true) === 2)
    val got = Lake.readTableFeed(spark, root, "cow_m")
    assert(got.count() === 400 - 1 + 10) // one matched-delete, ten inserts
    assert(got.filter(col("k") === 385).count() === 0, "matched-and-negative row deleted")
    assert(got.filter(col("k") === 390).select("bal").head().getDouble(0) === 780.0)
    assert(got.filter(col("k") === 390).select("nm").head().getString(0) === "n390",
      "non-SET columns keep the TARGET value on update")
    assert(got.filter(col("k") === 405).select("nm").head().getString(0) === "s405",
      "inserted rows take the source value")
    assert(got.filter(col("k") === 50).select("bal").head().getDouble(0) === 50.0)
    // only the file(s) holding keys >= 380 were rewritten
    val v1Files = Lake.snapshotFiles(spark, root, "cow_m", 1).toSet
    val v2Files = Lake.snapshotFiles(spark, root, "cow_m", 2).toSet
    assert((v2Files intersect v1Files).size >= 2,
      "files without matched keys must be carried by reference")
  }

  test("merge-on-read: sidecar-only commits, cumulative folding, COW composition, compaction") {
    import graft.lake.{CopyOnWrite, MergeOnRead}
    val root = scratch()
    val df = (1 to 800).map(i => (i, s"row$i")).toDF("k", "x")
    Lake.writeTableSnapshot(df.repartitionByRange(8, col("k")), root, "mor_t")
    // v2: MOR delete — the commit is a position sidecar + manifest, NO
    // data file is read back or rewritten (the O(deleted-rows) contract)
    assert(MergeOnRead.deleteWhere(spark, root, "mor_t", col("k") <= 100) === 2)
    val v2dir = new java.io.File(s"$root/tables/mor_t/version=v2")
    assert(v2dir.listFiles().forall(f =>
      !f.isFile || f.getName.startsWith("_") || f.getName.startsWith(".")),
      "a MOR commit holds no data files — only a sidecar + manifest")
    assert(new java.io.File(v2dir, "_deletes").isDirectory)
    assert(Lake.readTableFeed(spark, root, "mor_t").count() === 700)
    assert(Lake.readTableFeed(spark, root, "mor_t", Some(1)).count() === 800,
      "time travel to the pre-delete snapshot is unaffected")
    // v3: a second MOR delete FOLDS the first sidecar — cumulative, one hop
    assert(MergeOnRead.deleteWhere(spark, root, "mor_t", col("k") > 700) === 3)
    assert(Lake.readTableFeed(spark, root, "mor_t").count() === 600)
    assert(MergeOnRead.deletesOf(spark, root, "mor_t", 3).get.count() === 200)
    // v4: COW UPDATE on the MOR base — deleted rows must NOT resurrect;
    // rewritten files' sidecar entries are dropped (their positions
    // changed; the rewrite applied them physically), carried files' kept
    assert(CopyOnWrite.updateWhere(spark, root, "mor_t",
      col("k").between(101, 150), Seq("x" -> lit("upd"))) === 4)
    val v4 = Lake.readTableFeed(spark, root, "mor_t")
    assert(v4.count() === 600,
      "a COW mutation on a MOR base must not resurrect sidecar-deleted rows")
    assert(v4.filter(col("k") <= 100 || col("k") > 700).count() === 0)
    assert(v4.filter(col("x") === "upd").count() === 50)
    // sidecar/file consistency: every surviving sidecar entry references a
    // file the version actually carries
    val v4files = Lake.snapshotFiles(spark, root, "mor_t", 4)
      .map(p => p.split('/').takeRight(4).mkString("/")).toSet
    val v4refs = MergeOnRead.deletesOf(spark, root, "mor_t", 4).get
      .select("file").distinct().collect().map(_.getString(0))
    assert(v4refs.nonEmpty && v4refs.forall(v4files.contains),
      s"sidecar entries must reference carried files only")
    // NULL-predicate three-valued semantics: rows where pred is NULL survive
    Lake.writeTableSnapshot(
      Seq((1, Some(1.0)), (2, None), (3, Some(-1.0))).toDF("k", "v"),
      root, "mor_null")
    MergeOnRead.deleteWhere(spark, root, "mor_null", col("v") < 0)
    assert(Lake.readTableFeed(spark, root, "mor_null")
      .select("k").as[Int].collect().sorted === Array(1, 2))
    // v5: compaction folds everything back to plain physical files —
    // no manifest, no sidecar, retention can finally reclaim the chain
    assert(Lake.compactTable(spark, root, "mor_t") === 5)
    assert(!Lake.hasManifest(spark, root, "mor_t", 5))
    assert(!MergeOnRead.hasDeletes(spark, root, "mor_t", 5))
    val compacted = Lake.readTableFeed(spark, root, "mor_t")
    assert(compacted.count() === 600)
    assert(compacted.filter(col("x") === "upd").count() === 50)
    Retention.pruneTableVersions(spark, root, "mor_t", keep = 1)
    assert(Lake.versions(spark, root, "mor_t") === Seq(5),
      "after compaction the COW/MOR chain is prunable")
    assert(Lake.readTableFeed(spark, root, "mor_t").count() === 600)
  }

  test("equality deletes: zero-scan key commits, folding rules, mutation fold-to-positions") {
    import graft.lake.{CopyOnWrite, MergeOnRead}
    val root = scratch()
    val df = (1 to 400).map(i => (i, i % 20, s"r$i")).toDF("k", "u", "x")
    Lake.writeTableSnapshot(df.repartitionByRange(4, col("k")), root, "eq_t")
    // v2: equality delete by key VALUES — the sidecar's columns are the keys
    assert(MergeOnRead.deleteByKeys(spark, root, "eq_t",
      Seq(3, 7).toDF("u")) === 2)
    val v2dir = new java.io.File(s"$root/tables/eq_t/version=v2")
    assert(new java.io.File(v2dir, "_eq_deletes").isDirectory)
    assert(!new java.io.File(v2dir, "_deletes").exists(),
      "an equality delete writes no position sidecar")
    assert(v2dir.listFiles().forall(f =>
      !f.isFile || f.getName.startsWith("_") || f.getName.startsWith(".")),
      "an equality delete writes no data files")
    assert(Lake.readTableFeed(spark, root, "eq_t").count() === 360) // 2 of 20 groups
    assert(Lake.readTableFeed(spark, root, "eq_t")
      .filter(col("u").isin(3, 7)).count() === 0)
    // v3: same key columns fold by union
    MergeOnRead.deleteByKeys(spark, root, "eq_t", Seq(11).toDF("u"))
    assert(MergeOnRead.eqDeletesOf(spark, root, "eq_t", 3).get.count() === 3)
    assert(Lake.readTableFeed(spark, root, "eq_t").count() === 340)
    // v4: DIFFERENT key columns — base eq sidecar folds to positions first
    MergeOnRead.deleteByKeys(spark, root, "eq_t", Seq(400, 399).toDF("k"))
    assert(MergeOnRead.eqDeletesOf(spark, root, "eq_t", 4).get
      .columns.toSeq === Seq("k"))
    assert(MergeOnRead.deletesOf(spark, root, "eq_t", 4).get.count() === 60,
      "prior value-keyed deletes materialize as positions on a key-column change")
    assert(Lake.readTableFeed(spark, root, "eq_t").count() === 338)
    // v5: a positional MOR delete carries the eq sidecar verbatim
    MergeOnRead.deleteWhere(spark, root, "eq_t", col("k") <= 10)
    assert(MergeOnRead.hasEqDeletes(spark, root, "eq_t", 5))
    val afterPos = Lake.readTableFeed(spark, root, "eq_t")
    // k=1..10 holds 8 live rows (k=3 and k=7 were already value-deleted)
    assert(afterPos.count() === 338 - 8)
    // v6: a COW mutation folds ALL value-keyed deletes to positions — an
    // insert reusing a deleted key must NOT be swallowed by the old sidecar
    CopyOnWrite.mergeInto(spark, root, "eq_t",
      Seq((399, 99, "back")).toDF("k", "u", "x"), Seq("k"),
      insertNotMatched = true)
    assert(!MergeOnRead.hasEqDeletes(spark, root, "eq_t", 6),
      "a mutation commit must carry positions only")
    val back = Lake.readTableFeed(spark, root, "eq_t")
    assert(back.filter(col("k") === 399).count() === 1,
      "a fresh row reusing an equality-deleted key must survive")
    assert(back.filter(col("u").isin(3, 7) && col("k") =!= 399).count() === 0,
      "old value-keyed deletes still hold for original rows")
  }

  test("epoch-idempotent appends: replays replace, sinks interleave, receipts survive compaction") {
    import graft.lake.{CopyOnWrite, MergeOnRead}
    val root = scratch()
    def batch(lo: Int, hi: Int) = (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "x")
    assert(CopyOnWrite.appendEpoch(batch(1, 100), root, "ep_t", "sinkA", 0) === 1)
    assert(CopyOnWrite.appendEpoch(batch(101, 200), root, "ep_t", "sinkA", 1) === 2)
    assert(Lake.hasManifest(spark, root, "ep_t", 2),
      "an append carries the base files by reference — O(batch) commit")
    // replay of the LAST epoch (crash after commit, before checkpoint
    // advance) and of an older one: both no-ops, content unchanged
    assert(CopyOnWrite.appendEpoch(batch(101, 200), root, "ep_t", "sinkA", 1) === 2)
    assert(CopyOnWrite.appendEpoch(batch(1, 100), root, "ep_t", "sinkA", 0) === 2)
    assert(Lake.readTableFeed(spark, root, "ep_t").count() === 200)
    // an independent sink interleaves under its own receipt sequence
    assert(CopyOnWrite.appendEpoch(batch(201, 250), root, "ep_t", "sinkB", 0) === 3)
    assert(CopyOnWrite.appendEpoch(batch(251, 300), root, "ep_t", "sinkA", 2) === 4)
    assert(CopyOnWrite.appendEpoch(batch(201, 250), root, "ep_t", "sinkB", 0) === 4,
      "sinkB's replay is judged by sinkB's receipts, not sinkA's")
    assert(Lake.readTableFeed(spark, root, "ep_t").count() === 300)
    // appends compose with MOR deletes: the sidecar carries; a new row
    // reusing a value-deleted key must NOT be swallowed (eq folds to pos)
    MergeOnRead.deleteByKeys(spark, root, "ep_t", Seq(42L).toDF("k"))
    assert(CopyOnWrite.appendEpoch(
      Seq((42L, "again")).toDF("k", "x"), root, "ep_t", "sinkA", 3) === 6)
    val latest = Lake.readTableFeed(spark, root, "ep_t")
    assert(latest.count() === 300, "one deleted, one re-appended")
    assert(latest.filter(col("k") === 42).select("x").head().getString(0) === "again")
    // receipts SURVIVE incremental compaction: pack everything, then a
    // replay of the last epoch must still be recognized
    val packed = CopyOnWrite.compactSmallFiles(spark, root, "ep_t",
      smallBytes = 1L << 30, targetFileBytes = 1L << 30)
    assert(CopyOnWrite.appendEpoch(
      Seq((42L, "dup")).toDF("k", "x"), root, "ep_t", "sinkA", 3) === packed,
      "the receipt frontier must carry through compaction — replays stay no-ops")
    assert(Lake.readTableFeed(spark, root, "ep_t").count() === 300)
    // receipts survive EVERY commit path, not just appends/compaction:
    // churn through COW update/delete, a metadata-only ADD COLUMN and
    // enough plain snapshot republishes to age the receipt-bearing dirs
    // past retention — the carried frontier must still answer the replay
    CopyOnWrite.updateWhere(spark, root, "ep_t",
      col("k") === 7L, Seq("x" -> lit("seven")))
    CopyOnWrite.deleteWhere(spark, root, "ep_t", col("k") === 8L)
    Lake.addColumn(spark, root, "ep_t",
      org.apache.spark.sql.types.StructField(
        "extra", org.apache.spark.sql.types.StringType))
    (1 to 7).foreach { _ =>
      Lake.writeTableSnapshot(
        Lake.readTableFeed(spark, root, "ep_t"), root, "ep_t")
    }
    val vs = Lake.versions(spark, root, "ep_t")
    assert(!vs.contains(packed), "retention should have pruned the packed dir")
    val cur = Lake.latestVersion(spark, root, "ep_t").get
    assert(CopyOnWrite.appendEpoch(
      Seq((42L, "dup2"), (43L, "x"), (44L, "y")).toDF("k", "x")
        .withColumn("extra", lit(null).cast("string")),
      root, "ep_t", "sinkA", 3) === cur,
      "a replay after non-append commits aged out the receipt dir must " +
        "still be a no-op — the frontier carries through every commit path")
    // a sink whose id is a PREFIX of another (underscores included) must
    // never read the longer sink's receipts as its own
    assert(CopyOnWrite.appendEpoch(
      Seq((900L, "u")).toDF("k", "x").withColumn("extra", lit(null).cast("string")),
      root, "ep_t", "sinkA_b", 7) === cur + 1)
    assert(CopyOnWrite.appendEpoch(
      Seq((901L, "v")).toDF("k", "x").withColumn("extra", lit(null).cast("string")),
      root, "ep_t", "sinkA", 4) === cur + 2,
      "sinkA epoch 4 is NEW — sinkA_b's epoch-7 receipt must not answer for sinkA")
    assert(Lake.readTableFeed(spark, root, "ep_t")
      .filter(col("k") >= 900L).count() === 2)
  }

  test("metadata-only RENAME/DROP: mapping reads, reservations, sidecar interplay") {
    import graft.lake.MergeOnRead
    val root = scratch()
    val df = (1 to 300).map(i => (i.toLong, (i % 10).toLong, s"n$i")).toDF("k", "u", "nm")
    Lake.writeTableSnapshot(df.repartitionByRange(3, col("k")), root, "rd_t")
    // v2: equality delete keyed on u; v3: RENAME u -> uid is metadata-only
    // and carries the sidecar with its key column RENAMED
    assert(MergeOnRead.deleteByKeys(spark, root, "rd_t", Seq(3L).toDF("u")) === 2)
    assert(Lake.renameColumn(spark, root, "rd_t", "u", "uid") === 3)
    val v3dir = new java.io.File(s"$root/tables/rd_t/version=v3")
    assert(v3dir.listFiles().forall(f =>
      !f.isFile || f.getName.startsWith("_") || f.getName.startsWith(".")),
      "a rename commit holds no data files")
    assert(MergeOnRead.eqDeletesOf(spark, root, "rd_t", 3).get.columns.toSeq
      === Seq("uid"), "the equality sidecar's key column renames with the schema")
    val v3 = Lake.readTableFeed(spark, root, "rd_t")
    assert(v3.columns.toSeq === Seq("k", "uid", "nm"))
    assert(v3.count() === 270, "the value-keyed delete still applies post-rename")
    // chained rename: pre-rename files resolve through BOTH prior spellings
    assert(Lake.renameColumn(spark, root, "rd_t", "uid", "user_id") === 4)
    assert(Lake.readTableFeed(spark, root, "rd_t")
      .filter(col("user_id") === 5).count() === 30)
    // reservations: dropped/prior spellings cannot be re-taken
    intercept[Exception] { Lake.renameColumn(spark, root, "rd_t", "nm", "u") }
    intercept[Exception] {
      Lake.dropColumn(spark, root, "rd_t", "user_id") // eq sidecar keyed on it
    }
    // compaction bakes the mapping physically and releases everything
    val v5 = Lake.compactTable(spark, root, "rd_t")
    assert(!Lake.hasManifest(spark, root, "rd_t", v5) &&
      Lake.declaredSchema(spark, root, "rd_t", v5).isEmpty)
    assert(spark.read.parquet(
      Lake.resolveSnapshotDir(spark, root, "rd_t", v5)).columns.toSeq
      === Seq("k", "user_id", "nm"), "compaction bakes the renamed column in")
    assert(Lake.dropColumn(spark, root, "rd_t", "nm") === v5 + 1)
    assert(Lake.readTableFeed(spark, root, "rd_t").columns.toSeq === Seq("k", "user_id"))
    intercept[Exception] { // re-add of a dropped name: resurrection hazard
      Lake.addColumn(spark, root, "rd_t",
        org.apache.spark.sql.types.StructField("nm",
          org.apache.spark.sql.types.StringType, nullable = true))
    }
    val v7 = Lake.compactTable(spark, root, "rd_t")
    // post-bake the name is free again
    assert(Lake.addColumn(spark, root, "rd_t",
      org.apache.spark.sql.types.StructField("nm",
        org.apache.spark.sql.types.StringType, nullable = true)) === v7 + 1)
    val fin = Lake.readTableFeed(spark, root, "rd_t")
    assert(fin.columns.toSeq === Seq("k", "user_id", "nm"))
    assert(fin.filter(col("nm").isNotNull).count() === 0,
      "a re-added column after bake must NOT resurrect old values")
  }

  test("compactSmallFiles rewrites only sub-threshold files; big files carried") {
    import graft.lake.CopyOnWrite
    val root = scratch()
    // one "big" file (coalesced 4000 rows) + many tiny appends
    Lake.writeTableSnapshot(
      (1 to 4000).map(i => (i, s"pad${"x" * 50}$i")).toDF("k", "x").coalesce(1),
      root, "sf_t")
    graft.lake.MergeOnRead.deleteWhere(spark, root, "sf_t", col("k") === 1)
    (1 to 3).foreach { b =>
      // tiny COW-style appends: new versions carrying prior files + 1 small file
      val cur = Lake.readTableFeed(spark, root, "sf_t")
      Lake.writeTableSnapshot(
        cur.unionByName(Seq((10000 + b, "tiny")).toDF("k", "x")), root, "sf_t")
    }
    // make the threshold split real: the 4000-row file is > 64KB? use sizes
    val files = Lake.snapshotFiles(spark, root, "sf_t",
      Lake.versions(spark, root, "sf_t").max)
    val sizes = files.map(p => new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath).length())
    val thresh = sizes.max // everything strictly under the biggest is "small"
    val before = Lake.readTableFeed(spark, root, "sf_t").count()
    val v = CopyOnWrite.compactSmallFiles(spark, root, "sf_t",
      smallBytes = thresh, targetFileBytes = 1L << 30)
    val vFiles = Lake.snapshotFiles(spark, root, "sf_t", v)
    assert(vFiles.exists(f => new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath).length() == thresh),
      "the biggest file must be carried by reference, not rewritten")
    assert(vFiles.size < files.size, "small files must be packed together")
    assert(Lake.readTableFeed(spark, root, "sf_t").count() === before)
    // no-op when fewer than two small files: version unchanged
    assert(CopyOnWrite.compactSmallFiles(spark, root, "sf_t",
      smallBytes = 1L) === v)
  }

  test("clustered compaction: output files cover disjoint cluster-key ranges") {
    val root = scratch()
    // deliberately scrambled layout: every file spans the whole key range
    Lake.writeTableSnapshot(
      (1 to 4000).map(i => (i, s"pad${i * 2654435761L}%${i * 40503L}")).toDF("k", "x")
        .repartition(6), root, "cl_t")
    val v = Lake.compactTable(spark, root, "cl_t",
      targetFileBytes = 16L << 10, clusterBy = Seq("k"))
    val files = Lake.snapshotFiles(spark, root, "cl_t", v)
    assert(files.size >= 2, s"expected multiple output files, got ${files.size}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).head()
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file key ranges must be disjoint after clustering: $ranges")
      case _ => ()
    }
    val back = Lake.readTableFeed(spark, root, "cl_t")
    assert(back.count() === 4000)
    assert(back.agg(sum(col("k"))).head().getLong(0) === 4000L * 4001 / 2)
  }

  test("merge-on-read delete on a cloned branch pins the source's version dirs") {
    import graft.lake.MergeOnRead
    val root = scratch()
    Lake.writeTableSnapshot(
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "x"), root, "mb_src2")
    Lake.cloneTable(spark, root, "mb_src2", "mb_br2")
    // MOR delete on the branch: the sidecar version's manifest references
    // the SOURCE's physical files — those dirs must be pinned or the
    // source's retention could delete bytes the branch still reads
    MergeOnRead.deleteWhere(spark, root, "mb_br2", col("k") <= 10)
    assert(new java.io.File(
      s"$root/tables/mb_src2/version=v1/_pin_mb_br2").exists(),
      "a MOR sidecar carrying foreign files must pin their version dirs")
    // source moves on; keep=1 retention cannot prune the pinned v1
    Lake.writeTableSnapshot(
      (1 to 50).map(i => (i, "new")).toDF("k", "x"), root, "mb_src2")
    graft.lake.Retention.pruneTableVersions(spark, root, "mb_src2", keep = 1)
    assert(Lake.readTableFeed(spark, root, "mb_br2").count() === 90,
      "branch content survives source retention")
    // retiring the branch releases the pin
    assert(Lake.dropTable(spark, root, "mb_br2"))
    assert(!new java.io.File(
      s"$root/tables/mb_src2/version=v1/_pin_mb_br2").exists())
  }

  test("dropTable releases clone pins; refuses while a live branch pins the source") {
    val root = scratch()
    Lake.writeTableSnapshot(Seq((1, "a"), (2, "b")).toDF("k", "x"), root, "dp_src")
    Lake.writeTableSnapshot(Seq((1, "a"), (3, "c")).toDF("k", "x"), root, "dp_src")
    Lake.cloneTable(spark, root, "dp_src", "dp_br", srcVersion = Some(1))
    val pin = new java.io.File(s"$root/tables/dp_src/version=v1/_pin_dp_br")
    assert(pin.exists())
    // the source cannot be dropped out from under a live branch
    intercept[IllegalStateException] { Lake.dropTable(spark, root, "dp_src") }
    assert(Lake.versions(spark, root, "dp_src") === Seq(1, 2))
    // dropping the BRANCH releases its pin on the source version...
    assert(Lake.dropTable(spark, root, "dp_br"))
    assert(!pin.exists(), "retiring the branch must release its retention pin")
    assert(!new java.io.File(s"$root/tables/dp_br").exists())
    // ...so the source version is retention-eligible again and the source
    // itself droppable
    assert(graft.lake.Retention.pruneTableVersions(spark, root, "dp_src", keep = 1)
      .map(_.path).exists(_.endsWith("version=v1")))
    assert(Lake.dropTable(spark, root, "dp_src"))
    // a STALE pin (pointing table removed out-of-band) is cleaned, not a
    // permanent drop blocker
    Lake.writeTableSnapshot(Seq((9, "z")).toDF("k", "x"), root, "dp_s2")
    Lake.cloneTable(spark, root, "dp_s2", "dp_gone")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$root/tables/dp_gone"))
    assert(Lake.dropTable(spark, root, "dp_s2"))
    // and a missing table is a false, not an error
    assert(!Lake.dropTable(spark, root, "dp_never"))
  }

  test("mergeBranch: three-way merge applies both sides' changes, conflicts refuse") {
    val root = scratch()
    Lake.writeTableSnapshot(
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "x"), root, "mb_src")
    Lake.cloneTable(spark, root, "mb_src", "mb_br")
    // branch: update k=1, delete k=2, insert k=5
    Lake.writeTableSnapshot(
      Seq((1, "A"), (3, "c"), (4, "d"), (5, "e")).toDF("k", "x"), root, "mb_br")
    // source moves on: update k=3, insert k=6
    Lake.writeTableSnapshot(
      Seq((1, "a"), (2, "b"), (3, "C"), (4, "d"), (6, "f")).toDF("k", "x"), root, "mb_src")
    val v = Lake.mergeBranch(spark, root, "mb_src", "mb_br", Seq("k"))
    assert(v === 3)
    assert(Lake.readTableFeed(spark, root, "mb_src").as[(Int, String)].collect().sorted
      === Array((1, "A"), (3, "C"), (4, "d"), (5, "e"), (6, "f")))
    // pre-merge source history intact
    assert(Lake.readTableFeed(spark, root, "mb_src", Some(2)).count() === 5)

    // conflict: both sides change the same key differently → refuse, commit nothing
    Lake.cloneTable(spark, root, "mb_src", "mb_br2")
    Lake.writeTableSnapshot(
      Lake.readTableFeed(spark, root, "mb_br2")
        .withColumn("x", when(col("k") === 4, lit("branch")).otherwise(col("x"))),
      root, "mb_br2")
    Lake.writeTableSnapshot(
      Lake.readTableFeed(spark, root, "mb_src")
        .withColumn("x", when(col("k") === 4, lit("source")).otherwise(col("x"))),
      root, "mb_src")
    val before = Lake.versions(spark, root, "mb_src")
    val ex = intercept[IllegalStateException] {
      Lake.mergeBranch(spark, root, "mb_src", "mb_br2", Seq("k"))
    }
    assert(ex.getMessage.contains("both changed"))
    assert(Lake.versions(spark, root, "mb_src") === before, "conflict must commit nothing")

    // identical change on both sides is NOT a conflict (incl. both deleting)
    Lake.cloneTable(spark, root, "mb_src", "mb_br3")
    Lake.writeTableSnapshot(
      Lake.readTableFeed(spark, root, "mb_br3").filter(col("k") =!= 6)
        .withColumn("x", when(col("k") === 5, lit("same")).otherwise(col("x"))),
      root, "mb_br3")
    Lake.writeTableSnapshot(
      Lake.readTableFeed(spark, root, "mb_src").filter(col("k") =!= 6)
        .withColumn("x", when(col("k") === 5, lit("same")).otherwise(col("x"))),
      root, "mb_src")
    Lake.mergeBranch(spark, root, "mb_src", "mb_br3", Seq("k"))
    val after = Lake.readTableFeed(spark, root, "mb_src").as[(Int, String)].collect().sorted
    assert(!after.map(_._1).contains(6) && after.find(_._1 == 5).get._2 === "same")

    // a non-branch (data-snapshot v1) table refuses
    intercept[IllegalArgumentException] {
      Lake.mergeBranch(spark, root, "mb_src", "mb_src", Seq("k"))
    }
  }

  test("snapshot commit is claim-based: no clobber, no torn version dirs") {
    val root = scratch()
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Lake.writeTableSnapshot(Seq((1, "a")).toDF("k", "x"), root, "t")
    Lake.writeTableSnapshot(Seq((2, "b")).toDF("k", "x"), root, "t")
    val tdir = Lake.tablePath(root, "t")
    // a concurrent writer has claimed v3 but not yet renamed: we must skip it
    f.create(new org.apache.hadoop.fs.Path(s"$tdir/.claim_v3"), false).close()
    val v = Lake.writeTableSnapshot(Seq((4, "d")).toDF("k", "x"), root, "t")
    assert(v === 4)
    assert(Lake.versions(spark, root, "t") === Seq(1, 2, 4))
    // a pre-existing (crashed, pre-OCC) version dir is never overwritten
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$tdir/version=v5"))
    val v2 = Lake.writeTableSnapshot(Seq((6, "f")).toDF("k", "x"), root, "t")
    assert(v2 === 6)
    assert(spark.read.parquet(s"$tdir/version=v6").count() === 1)
    // committed writes leave no staging dirs; the foreign claim marker stays
    val leftovers = f.listStatus(new org.apache.hadoop.fs.Path(tdir))
      .map(_.getPath.getName).filter(_.startsWith(".stage_")).toSeq
    assert(leftovers === Seq.empty)
    // vacuum collects the stale claim marker; version-named dirs are live
    Lake.vacuumTable(spark, root, "t")
    val names = f.listStatus(new org.apache.hadoop.fs.Path(tdir)).map(_.getPath.getName).sorted.toSeq
    // `_versions` is the commit-stamped version ledger (round 12) — live
    // metadata, deliberately NOT collected by vacuum
    assert(names === Seq("_versions", "version=v1", "version=v2", "version=v4",
      "version=v5", "version=v6"))
  }

  test("vacuum keeps the table's properties") {
    val root = scratch()
    val props = Map("bloom_filter_columns" -> "k", Lake.FileMaxRecordsProp -> "100")
    Lake.setTableProperties(spark, root, "t", props)
    Lake.writeTableSnapshot(Seq((1, "a"), (2, "b")).toDF("k", "x"), root, "t")
    val swept = Lake.vacuumTable(spark, root, "t")
    assert(!swept.map(_._1).contains("_props.json"), s"vacuum swept the properties: $swept")
    assert(Lake.tableProperties(spark, root, "t") === props)
  }

  test("restoreTable republishes an old snapshot as a new version, history intact") {
    val root = scratch()
    Lake.writeTableSnapshot(Seq((1, "good"), (2, "good")).toDF("k", "x"), root, "t")
    Lake.writeTableSnapshot(Seq((1, "bad")).toDF("k", "x"), root, "t")
    val v3 = Lake.restoreTable(spark, root, "t", toVersion = 1)
    assert(v3 === 3)
    assert(Lake.versions(spark, root, "t") === Seq(1, 2, 3))
    assert(Lake.readTableFeed(spark, root, "t").orderBy("k").collect().toSeq ===
      Lake.readTableFeed(spark, root, "t", Some(1)).orderBy("k").collect().toSeq)
    // the bad deploy stays readable for audit
    assert(Lake.readTableFeed(spark, root, "t", Some(2)).count() === 1)
    // restoring a version that never existed must fail fast
    intercept[IllegalArgumentException] {
      Lake.restoreTable(spark, root, "t", toVersion = 9)
    }
    // restore works even when retention then collects the source version
    val v4 = Lake.restoreTable(spark, root, "t", toVersion = 2, retentionVersions = 2)
    assert(v4 === 4)
    assert(Lake.versions(spark, root, "t") === Seq(3, 4))
    assert(Lake.readTableFeed(spark, root, "t").select("x").as[String].head() === "bad")
  }

  test("writeIgnore is a no-op when target exists") {
    val root = scratch()
    val p = s"$root/x"
    assert(Lake.writeIgnore(Seq(1).toDF("a"), p))
    assert(!Lake.writeIgnore(Seq(2).toDF("a"), p))
    assert(spark.read.parquet(p).as[Int].head() === 1)
  }

  test("feedMetadata reports per-partition file stats") {
    val root = scratch()
    val df = Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 10:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    Lake.appendStream(df, root, "ev", eventTimeCol = Some("ts"))
    val meta = Lake.feedMetadata(spark, root, "ev").collect()
    assert(meta.length === 2)
    assert(meta.forall(_.getAs[Long]("files") >= 1))
    assert(meta.forall(_.getAs[Long]("bytes") > 0))
  }

  test("date retention deletes old day partitions; dry-run does not") {
    val root = scratch()
    val df = Seq(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-10 10:00:00"),
      (3L, "2024-02-01 10:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    Lake.appendStream(df, root, "ev", eventTimeCol = Some("ts"))
    val dry = Retention.pruneStreamPartitions(spark, root, "ev",
      LocalDate.of(2024, 1, 15), dryRun = true)
    assert(dry.length === 2 && dry.forall(!_.deleted))
    assert(Lake.readStreamFeed(spark, root, "ev").count() === 3)
    val real = Retention.pruneStreamPartitions(spark, root, "ev",
      LocalDate.of(2024, 1, 15), dryRun = false)
    assert(real.length === 2)
    assert(Lake.readStreamFeed(spark, root, "ev")
      .select("id").as[Long].collect() === Array(3L))
  }

  test("compaction shrinks file count, preserves rows, no-ops on missing dir") {
    val root = scratch()
    val df = Seq.tabulate(20)(i => (i.toLong, "2024-01-01 10:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    (0 until 4).foreach(i =>
      Lake.appendStream(df.filter(col("id") % 4 === i), root, "ev", eventTimeCol = Some("ts")))
    val day = java.time.LocalDate.of(2024, 1, 1)
    val (before, after) = Lake.compactPartition(spark, root, "ev", day)
    assert(before >= 4 && after === 1)
    assert(Lake.readStreamFeed(spark, root, "ev").count() === 20)
    // partition columns still discoverable after the rewrite
    assert(Lake.readStreamFeed(spark, root, "ev", from = Some(day)).count() === 20)
    assert(Lake.compactPartition(spark, root, "ev",
      java.time.LocalDate.of(1999, 1, 1)) === ((0, 0)))
  }

  test("compaction recovers a crashed swap and compacts reference-padded dirs") {
    val root = scratch()
    val df = Seq.tabulate(8)(i => (i.toLong, "2024-01-05 10:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    (0 until 2).foreach(i =>
      Lake.appendStream(df.filter(col("id") % 2 === i), root, "ev", eventTimeCol = Some("ts")))
    val day = java.time.LocalDate.of(2024, 1, 5)
    val partDir = new java.io.File(s"$root/streams/ev/year=2024/month=1/day=5")
    // simulate a crash between the two swap renames: live moved aside,
    // replacement not yet promoted
    val aside = new java.io.File(partDir.getParent, ".old_day=5")
    assert(partDir.renameTo(aside))
    val (before, after) = Lake.compactPartition(spark, root, "ev", day)
    assert(before >= 2 && after === 1) // recovered THEN compacted
    assert(Lake.readStreamFeed(spark, root, "ev").count() === 8)
    assert(!aside.exists())

    // a lake produced by the reference exporter (zero-padded month/day)
    val padded = new java.io.File(s"$root/streams/ref/year=2024/month=01/day=05")
    padded.mkdirs()
    Seq.tabulate(6)(i => (i.toLong, "x")).toDF("id", "v")
      .repartition(3).write.mode("append").parquet(padded.toString)
    val (b2, a2) = Lake.compactPartition(spark, root, "ref", day)
    assert(b2 >= 3 && a2 === 1)
  }

  test("feed descriptor accumulates across tracked appends") {
    val root = scratch()
    val df = Seq.tabulate(10)(i => (i.toLong, "2024-03-01 00:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    assert(Lake.readFeedDescriptor(spark, root, "ev").isEmpty)
    val d1 = Lake.appendStreamTracked(df, root, "ev", Some("ts"), atUs = 1000L)
    assert(d1.total_records === 10L && d1.export_count === 1)
    assert(d1.created_at_us === 1000L && d1.last_export_at_us === 1000L)
    assert(d1.total_size_bytes > 0)
    val d2 = Lake.appendStreamTracked(df.limit(4), root, "ev", Some("ts"), atUs = 2000L)
    assert(d2.total_records === 14L && d2.export_count === 2)
    assert(d2.created_at_us === 1000L && d2.last_export_at_us === 2000L)
    assert(d2.total_size_bytes > d1.total_size_bytes)
    // persisted descriptor equals the returned one, and versions advanced
    assert(Lake.readFeedDescriptor(spark, root, "ev").contains(d2))
    assert(Lake.versions(spark, root, "ev__descriptor") === Seq(1, 2))
  }

  test("schema evolution: mergeSchema surfaces late-added columns as nulls") {
    val root = scratch()
    val v1 = Seq((1L, 10.0)).toDF("id", "v")
      .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
    val v2 = Seq((2L, 20.0, "web")).toDF("id", "v", "source")
      .withColumn("ts", lit("2024-01-02 10:00:00").cast("timestamp"))
    Lake.appendStream(v1, root, "ev", eventTimeCol = Some("ts"))
    Lake.appendStream(v2, root, "ev", eventTimeCol = Some("ts"))
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(Lake.streamPath(root, "ev"))
    assert(merged.columns.contains("source"))
    val rows = merged.select("id", "source").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(rows === Array((1L, None), (2L, Some("web"))))
  }

  test("file-stats skipping opens fewer files and never changes results") {
    val root = scratch()
    val df = spark.range(0, 10000)
      .select(col("id"), (col("id") % 997).as("k"), (col("id") * 3 % 101).as("v"))
    graft.lake.FileStats.writeClustered(df, s"$root/data", "id", numFiles = 10)
    graft.lake.FileStats.buildStats(spark, s"$root/data", s"$root/stats", Seq("id"))
    val all = spark.read.parquet(s"$root/data").inputFiles.length
    val cand = graft.lake.FileStats.candidateFiles(spark, s"$root/stats", "id", 2000L, 2999L)
    // a 10% range over 10 range-sorted files must prune most of them (range
    // bounds come from sampling, so the range may straddle a boundary file)
    assert(all === 10 && cand.length <= 3, s"files=$all candidates=${cand.length}")
    val skipped = graft.lake.FileStats.readRange(spark, s"$root/stats", "id", 2000L, 2999L)
    val full = spark.read.parquet(s"$root/data").filter(col("id").between(2000, 2999))
    assert(skipped.count() === 1000)
    assert(skipped.exceptAll(full).isEmpty && full.exceptAll(skipped).isEmpty)
    // an out-of-range read prunes EVERY file and fails fast
    val e = intercept[IllegalArgumentException] {
      graft.lake.FileStats.readRange(spark, s"$root/stats", "id", 50000L, 60000L)
    }
    assert(e.getMessage.contains("no file"))
  }

  test("z-order clustering prunes files on BOTH dimensions") {
    val root = scratch()
    // two independent uniform 10-bit dimensions
    val df = spark.range(0, 40000).select(
      col("id"),
      (col("id") * 2654435761L % 1024).as("a"),
      (col("id") * 40503 % 1024).as("b"))
    graft.lake.FileStats.writeClusteredZ(df, s"$root/data", "a", "b", bits = 10, numFiles = 16)
    graft.lake.FileStats.buildStats(spark, s"$root/data", s"$root/stats", Seq("a", "b"))
    val total = spark.read.parquet(s"$root/data").inputFiles.length
    // a one-eighth range on EITHER dimension must prune at least half the
    // files (single-column clustering would prune ~nothing on the other;
    // the exact count wobbles ±1 with repartitionByRange's sampled bounds)
    val onA = graft.lake.FileStats.candidateFiles(spark, s"$root/stats", "a", 0L, 127L)
    val onB = graft.lake.FileStats.candidateFiles(spark, s"$root/stats", "b", 0L, 127L)
    assert(total === 16, s"total=$total")
    assert(onA.length <= 8 && onB.length <= 8, s"a=${onA.length} b=${onB.length}")
    // results stay exact through the pruned read
    val out = graft.lake.FileStats.readRange(spark, s"$root/stats", "b", 0L, 127L)
    val full = spark.read.parquet(s"$root/data").filter(col("b").between(0, 127))
    assert(out.exceptAll(full).isEmpty && full.exceptAll(out).isEmpty)
  }

  test("incremental stats update scans only new files and equals a rebuild") {
    val root = scratch()
    val df1 = spark.range(0, 5000).select(col("id"))
    graft.lake.FileStats.writeClustered(df1, s"$root/data", "id", numFiles = 5)
    graft.lake.FileStats.buildStats(spark, s"$root/data", s"$root/stats", Seq("id"))
    // append a disjoint id range as new files (outside writeClustered: an
    // overwrite would drop the old files)
    spark.range(5000, 8000).select(col("id"))
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.mode("append").parquet(s"$root/data")
    val updated = graft.lake.FileStats.updateStats(spark, s"$root/data", s"$root/stats", Seq("id"))
    assert(updated === 3)
    assert(graft.lake.FileStats.updateStats(spark, s"$root/data", s"$root/stats", Seq("id")) === 0)
    // incremental index ≡ full rebuild
    val full = scratch()
    graft.lake.FileStats.buildStats(spark, s"$root/data", s"$full/stats", Seq("id"))
    val inc = spark.read.parquet(s"$root/stats")
    val reb = spark.read.parquet(s"$full/stats")
    assert(inc.exceptAll(reb).isEmpty && reb.exceptAll(inc).isEmpty)
    // and skipping through the incrementally-updated index stays exact
    val out = graft.lake.FileStats.readRange(spark, s"$root/stats", "id", 6000L, 6499L)
    assert(out.count() === 500)
  }

  test("GDPR erasure rewrites only subject partitions, exactly and idempotently") {
    val root = Files.createTempDirectory("graft_gdpr_spec_").toString
    // day 1: subjects (uid 1, 2) + a bystander; day 2: no subjects;
    // day 3: ONLY subjects (whole partition must disappear)
    val rows = Seq(
      (1L, 1L, "2024-01-01"), (2L, 2L, "2024-01-01"), (3L, 7L, "2024-01-01"),
      (4L, 8L, "2024-01-02"), (5L, 9L, "2024-01-02"),
      (6L, 1L, "2024-01-03"), (7L, 2L, "2024-01-03"))
    val df = rows.toDF("event_id", "user_id", "d")
      .withColumn("ts", col("d").cast("timestamp")).drop("d")
    Lake.appendStream(df, root, "ev", eventTimeCol = Some("ts"))
    val day2 = new java.io.File(s"$root/streams/ev/year=2024/month=1/day=2")
    val day2Before = day2.listFiles().map(f => (f.getName, f.lastModified)).toSet
    val keys = Seq(1L, 2L, 999L).toDF("user_id")

    val audit = Lake.eraseKeys(spark, root, "ev", "user_id", keys)
    assert(audit === Seq(
      Lake.EraseAudit(2024, 1, 1, 2, 1), Lake.EraseAudit(2024, 1, 3, 2, 0)),
      "day 1 rewritten (2 removed, 1 kept); day 3 fully erased")
    assert(!new java.io.File(s"$root/streams/ev/year=2024/month=1/day=3").exists(),
      "fully-erased partition directory must be gone")
    // subjects gone, bystanders intact, day 2 untouched byte-for-byte
    val back = Lake.readStreamFeed(spark, root, "ev")
    assert(back.filter(col("user_id").isin(1L, 2L)).count() === 0)
    assert(back.count() === 3)
    assert(day2.listFiles().map(f => (f.getName, f.lastModified)).toSet === day2Before,
      "partition without subjects was rewritten")
    // idempotent: nothing left to erase, no partition touched
    assert(Lake.eraseKeys(spark, root, "ev", "user_id", keys) === Seq.empty)
  }

  test("bloom index: no false negatives, real pruning, exact point reads") {
    val root = Files.createTempDirectory("graft_bloom_spec_").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("value"))
    graft.lake.FileStats.writeClustered(ev, s"$root/ev", "user_id", numFiles = 8)
    graft.lake.BloomIndex.build(spark, s"$root/ev", s"$root/bloom", "event_id")
    val keys = Seq(5L, 123L, 456L, 789L)
    // every file that truly holds a key must be admitted (no false negatives)
    val truth = spark.read.parquet(s"$root/ev")
      .filter(col("event_id").isin(keys: _*))
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0))
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    val admitted = graft.lake.BloomIndex.candidateFiles(spark, s"$root/bloom", keys)
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    assert(truth.subsetOf(admitted), s"bloom missed files: ${truth -- admitted}")
    // and it prunes: 4 keys live in <= 4 files; fpp 1% admits few extras
    assert(admitted.size < 8, s"bloom admitted every file")
    // point read equals the full-scan filter exactly
    val got = graft.lake.BloomIndex.readPoint(spark, s"$root/ev", s"$root/bloom", "event_id", keys)
      .orderBy("event_id").collect()
    val want = ev.filter(col("event_id").isin(keys: _*)).orderBy("event_id").collect()
    assert(got.toSeq === want.toSeq)
    // all-pruned lookup: empty result still carries the data schema
    val none = graft.lake.BloomIndex.readPoint(
      spark, s"$root/ev", s"$root/bloom", "event_id", Seq(-12345L))
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("event_id", "user_id", "value"))
    // scale pin: the probe is a distributed Spark filter — the plan returns
    // ONE string column (admitted names), with the bloom bytes consumed
    // executor-side inside the mapPartitions, never collected whole to the
    // driver (O(admitted) driver state on a million-file index)
    val probe = graft.lake.BloomIndex.candidateFilesDF(spark, s"$root/bloom", keys)
    assert(probe.schema.map(_.name) === Seq("file"),
      "probe plan must surface only admitted file names, not bloom bytes")
    val planStr = probe.queryExecution.executedPlan.toString
    assert(planStr.contains("SerializeFromObject") || planStr.contains("MapPartitions"),
      s"probe must run as an executor-side operator, got:\n$planStr")
  }

  test("WAP: a rejected batch leaves no staging and the live version untouched") {
    import graft.governance.Quality
    val root = Files.createTempDirectory("graft_wap_spec_").toString
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val r1 = Lake.writeAuditPublish(base, root, "t", Seq(Quality.InRange("v", 0, 100)))
    assert(r1.published && r1.version.contains(1))
    val dirty = Seq((3L, -1.0)).toDF("k", "v")
    val r2 = Lake.writeAuditPublish(dirty, root, "t", Seq(Quality.InRange("v", 0, 100)))
    assert(!r2.published && r2.failedChecks.nonEmpty)
    assert(Lake.versions(spark, root, "t") === Seq(1), "rejected batch changed versions")
    val stages = new java.io.File(s"$root/tables/t").list().filter(_.startsWith(".stage_"))
    assert(stages.isEmpty, s"staging survived a rejected batch: ${stages.toSeq}")
    assert(Lake.readTableFeed(spark, root, "t").count() === 2)
  }

  test("version retention keeps newest K and no-ops when n <= K") {
    val root = scratch()
    (1 to 4).foreach(i => Lake.writeTableSnapshot(Seq(i).toDF("a"), root, "t", 99))
    assert(Retention.pruneTableVersions(spark, root, "t", keep = 5).isEmpty)
    val pruned = Retention.pruneTableVersions(spark, root, "t", keep = 2)
    assert(pruned.length === 2)
    assert(Lake.versions(spark, root, "t") === Seq(3, 4))
  }

  test("Txn manifests: pins carry forward, unpinned tables refuse, orphans invisible") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.lake.{Lake, Txn}
    val root = java.nio.file.Files.createTempDirectory("graft_txn_spec_").toString
    val (t1, w1) = Txn.commit(spark, root, Map("a" -> Seq(1, 2).toDF("k")))
    val (t2, w2) = Txn.commit(spark, root, Map("b" -> Seq(10).toDF("k")))
    assert(t1 === 1 && t2 === 2)
    assert(w1("a") === 1 && w2("b") === 1)
    // t2 did not touch `a`, but its manifest carries a's pin forward:
    // one manifest always describes a complete consistent cut
    assert(Txn.read(spark, root, "a", Some(2)).count() === 2)
    // a table no manifest has ever pinned refuses (not served from "latest")
    Lake.writeTableSnapshot(Seq(99).toDF("k"), root, "orphan")
    intercept[IllegalStateException] { Txn.read(spark, root, "orphan").collect() }
    // a newer UNMANIFESTED snapshot of a pinned table is invisible
    Lake.writeTableSnapshot(Seq(1, 2, 3, 4).toDF("k"), root, "a")
    assert(Txn.read(spark, root, "a").count() === 2)
    // the next transactional commit of `a` picks up a fresh version and
    // publishes it; the orphan version stays skipped
    val (t3, w3) = Txn.commit(spark, root, Map("a" -> Seq(5, 6, 7).toDF("k")))
    assert(t3 === 3 && w3("a") === 3)
    assert(Txn.read(spark, root, "a").count() === 3)
    assert(Txn.read(spark, root, "b", Some(3)).count() === 1)

    // txn-aware vacuum: the orphan (unmanifested) version of `a` — which
    // per-table retention would keep forever if it were newest — and
    // versions pinned only by dropped manifests are collected; pinned
    // versions survive and every retained manifest still resolves
    // vacuum age-gates version dirs (a young unpinned version could be a
    // live committer's staged snapshot) — age everything past the
    // threshold so this test exercises the crashed-long-ago shape
    for (t <- Seq("a", "b"); v <- Lake.versions(spark, root, t))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(Lake.tablePath(root, t), s"version=v$v"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val (dropV, dropM) = Txn.vacuum(spark, root, keepManifests = 2, dryRun = true)
    assert(dropV.contains(("a", 2)), s"orphan must be collectable: $dropV")
    assert(dropM === Seq(1))
    Txn.vacuum(spark, root, keepManifests = 2)
    assert(!new java.io.File(s"$root/tables/a/version=v2").exists())
    assert(Txn.read(spark, root, "a", Some(2)).count() === 2)  // t2 pins a@v1
    assert(Txn.read(spark, root, "a", Some(3)).count() === 3)
    intercept[IllegalArgumentException] { Txn.read(spark, root, "a", Some(1)) }
  }

  test("bucket-count evolution: mixed snapshot reduces to gcd; compaction converges to the new count") {
    val root = scratch()
    import graft.lake.BucketLayout
    Lake.setTableProperties(spark, root, "be", Map(BucketLayout.Prop -> "k:4"))
    val df = spark.range(0, 4000).select(col("id").as("k"), (col("id") % 13).as("v"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "be", df), root, "be")
    val v1 = Lake.latestVersion(spark, root, "be").get
    assert(BucketLayout.layoutOf(spark, root, "be", v1).exists(_._2 == 4))
    // evolve the count; a point-key COW update leaves a MIXED snapshot
    Lake.setTableProperties(spark, root, "be", Map(BucketLayout.Prop -> "k:8"))
    graft.lake.CopyOnWrite.updateWhere(spark, root, "be",
      col("k") === 42, Seq("v" -> lit(99L)))
    val vMixed = Lake.latestVersion(spark, root, "be").get
    val mixed = BucketLayout.layoutOf(spark, root, "be", vMixed)
    assert(mixed.exists(_._2 == 4),
      s"mixed 4/8 snapshot must reduce to gcd 4, got ${mixed.map(l => (l._1, l._2))}")
    // unrelated counts (gcd 1) must degrade to NO layout, never a wrong one
    Lake.setTableProperties(spark, root, "be", Map(BucketLayout.Prop -> "k:3"))
    graft.lake.CopyOnWrite.updateWhere(spark, root, "be",
      col("k") === 43, Seq("v" -> lit(98L)))
    val vOdd = Lake.latestVersion(spark, root, "be").get
    assert(BucketLayout.layoutOf(spark, root, "be", vOdd).isEmpty,
      "co-prime bucket counts have no common granularity — layout must vanish")
    // compaction applies the CURRENT policy to the whole snapshot: the
    // migration CONVERGES — one full-count layout again, values intact
    Lake.setTableProperties(spark, root, "be", Map(BucketLayout.Prop -> "k:8"))
    Lake.compactTable(spark, root, "be")
    val vC = Lake.latestVersion(spark, root, "be").get
    assert(BucketLayout.layoutOf(spark, root, "be", vC).exists(_._2 == 8),
      "post-compaction snapshot must carry the evolved count's verified layout")
    val got = Lake.readTableFeed(spark, root, "be", Some(vC))
      .filter(col("k").isin(42, 43)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(42L -> 99L, 43L -> 98L), s"values must survive: $got")
  }

  test("bucket_by composes with zorder cluster_by: in-bucket files prune secondary dims") {
    val root = scratch()
    import graft.lake.{BucketLayout, StatsSidecar}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
    Lake.setTableProperties(spark, root, "bz", Map(
      BucketLayout.Prop -> "k:4",
      Lake.ClusterByProp -> "zorder(a,b)",
      Lake.FileMaxRecordsProp -> "1000"))
    val df = spark.range(0, 16000).select(
      col("id").as("k"),
      (col("id") * 2654435761L % 1024).as("a"),
      (col("id") * 40503 % 1024).as("b"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "bz", df), root, "bz")
    val files = Lake.snapshotFiles(spark, root, "bz", 1)
    // placement by bucket hash, in-bucket z-sort, file_max_records splits
    // each bucket into several z-contiguous files
    assert(files.length >= 12, s"buckets must split into several files, got ${files.length}")
    // every file is still bucket-PURE: the verified mapping committed
    val layout = BucketLayout.layoutOf(spark, root, "bz", 1)
    assert(layout.isDefined, "bucket mapping must survive the z-sorted write")
    assert(layout.get._3.size === files.length)
    val schema = Lake.readTableFeed(spark, root, "bz", Some(1)).schema
    // a range predicate on EITHER z dimension prunes files INSIDE buckets
    // (single-key in-bucket sort would leave both dimensions unprunable)
    def admitted(colName: String): Seq[String] =
      StatsSidecar.candidateFiles(spark, files, schema,
        Seq(GreaterThanOrEqual(colName, 0L), LessThanOrEqual(colName, 127L))).files
    assert(admitted("a").length <= files.length * 3 / 4,
      s"a admitted ${admitted("a").length}/${files.length}")
    assert(admitted("b").length <= files.length * 3 / 4,
      s"b admitted ${admitted("b").length}/${files.length}")
    // bucket-key equality keeps pruning via the hash mapping, untouched
    // by the z-sort (it never needed file stats)
    val byKey = BucketLayout.filterCandidates(spark, files, schema, Seq(EqualTo("k", 7L)))
    assert(byKey.length <= files.length / 2, s"key pruned to ${byKey.length}/${files.length}")
    // the pruned read stays exact
    val full = Lake.readTableFeed(spark, root, "bz", Some(1))
      .filter(col("a").between(0, 127))
    val pruned = spark.read.parquet(admitted("a"): _*).filter(col("a").between(0, 127))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("zorder accepts STRING dimensions: prefix ranges prune alongside numerics") {
    val root = scratch()
    import graft.lake.StatsSidecar
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan, LessThanOrEqual}
    Lake.setTableProperties(spark, root, "zs", Map(
      Lake.ClusterByProp -> "zorder(t,v)", Lake.FileMaxRecordsProp -> "1000"))
    // 16 tenants spread uniformly and independently of v
    val df = spark.range(0, 16000).select(
      concat(lit("t"), lpad(((col("id") * 2654435761L) % 16).cast("string"), 2, "0")).as("t"),
      (col("id") * 40503 % 1024).as("v"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "zs", df), root, "zs")
    val files = Lake.snapshotFiles(spark, root, "zs", 1)
    assert(files.length >= 12, s"expected z-split files, got ${files.length}")
    val schema = Lake.readTableFeed(spark, root, "zs", Some(1)).schema
    // a 2-of-16 tenant slice must prune files; so must a v range —
    // single-dimension string clustering would leave v unprunable and
    // vice versa
    val onT = StatsSidecar.candidateFiles(spark, files, schema, Seq(
      GreaterThanOrEqual("t", "t00"), LessThan("t", "t02"))).files.length
    val onV = StatsSidecar.candidateFiles(spark, files, schema, Seq(
      GreaterThanOrEqual("v", 0L), LessThanOrEqual("v", 127L))).files.length
    assert(onT <= files.length * 3 / 4, s"t admitted $onT/${files.length}")
    assert(onV <= files.length * 3 / 4, s"v admitted $onV/${files.length}")
    // pruned read stays exact
    val admitted = StatsSidecar.candidateFiles(spark, files, schema, Seq(
      GreaterThanOrEqual("t", "t00"), LessThan("t", "t02"))).files
    val full = Lake.readTableFeed(spark, root, "zs", Some(1))
      .filter(col("t") < "t02")
    val pruned = spark.read.parquet(admitted: _*).filter(col("t") < "t02")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("compactWhere rewrites only the predicate's files; sidecar deletes split correctly") {
    val root = scratch()
    import graft.lake.{CopyOnWrite, MergeOnRead}
    def norm(p: String) = new java.net.URI(p).getPath
    Lake.setTableProperties(spark, root, "cwu", Map(Lake.ClusterByProp -> "k"))
    Lake.writeTableSnapshot(
      Lake.applyClusterPolicy(spark, root, "cwu",
        spark.range(0, 8000).select(col("id").as("k"), (col("id") % 7).as("v"))),
      root, "cwu")
    // fragment the high range with two epoch appends, then a zero-scan
    // eq-delete naming one key INSIDE the scope and one OUTSIDE it
    for (i <- 0 until 2)
      CopyOnWrite.appendEpoch(
        spark.range(10000 + i * 100, 10100 + i * 100)
          .select(col("id").as("k"), lit(1L).as("v")),
        root, "cwu", "s", i.toLong)
    MergeOnRead.deleteByKeys(spark, root, "cwu", Seq(10005L, 5L).toDF("k"))
    val vB = Lake.latestVersion(spark, root, "cwu").get
    val before = Lake.snapshotFiles(spark, root, "cwu", vB).map(norm)
    val v = CopyOnWrite.compactWhere(spark, root, "cwu", col("k") >= 10000)
    assert(v === vB + 1)
    val after = Lake.snapshotFiles(spark, root, "cwu", v).map(norm).toSet
    val dropped = before.filterNot(after.contains)
    assert(dropped.nonEmpty && dropped.size < before.size,
      s"scope must be a strict subset (${dropped.size}/${before.size})")
    // content exact: the in-scope delete applied PHYSICALLY, the
    // out-of-scope one still masked by the carried (folded) sidecar
    val got = Lake.readTableFeed(spark, root, "cwu", Some(v))
    assert(got.count() === 8000 + 200 - 2)
    assert(got.filter(col("k").isin(5L, 10005L)).count() === 0)
    // a scope under two files is a layout no-op: no version churn
    assert(CopyOnWrite.compactWhere(spark, root, "cwu", col("k") === 42) === v)
  }

  test("compaction preserves the composed bucket+zorder layout and its pruning") {
    val root = scratch()
    import graft.lake.{BucketLayout, StatsSidecar}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    Lake.setTableProperties(spark, root, "bzc", Map(
      BucketLayout.Prop -> "k:4",
      Lake.ClusterByProp -> "zorder(a,b)",
      Lake.FileMaxRecordsProp -> "1000"))
    val df = spark.range(0, 16000).select(
      col("id").as("k"),
      (col("id") * 2654435761L % 1024).as("a"),
      (col("id") * 40503 % 1024).as("b"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "bzc", df), root, "bzc")
    // fragment the layout: a COW update rewrites a few buckets' files
    graft.lake.CopyOnWrite.updateWhere(spark, root, "bzc",
      col("k") < 100, Seq("b" -> lit(7L)))
    // compaction folds back INTO the composed layout: bucket placement,
    // in-bucket z-interleave, file_max_records splits — all re-verified
    // from the data it writes
    val v = Lake.compactTable(spark, root, "bzc", targetFileBytes = 1L << 20)
    val files = Lake.snapshotFiles(spark, root, "bzc", v)
    assert(BucketLayout.layoutOf(spark, root, "bzc", v).isDefined,
      "compaction must recommit the verified bucket mapping")
    assert(files.length >= 12, s"z-splits must survive compaction, got ${files.length}")
    val schema = Lake.readTableFeed(spark, root, "bzc", Some(v)).schema
    def adm(c: String): Int = StatsSidecar.candidateFiles(spark, files, schema,
      Seq(GreaterThanOrEqual(c, 0L), LessThanOrEqual(c, 127L))).files.length
    assert(adm("a") <= files.length * 3 / 4, s"a admitted ${adm("a")}/${files.length}")
    assert(Lake.readTableFeed(spark, root, "bzc", Some(v)).count() === 16000)
  }

  test("eq-delete delta probe: 1000 keys prune, 1001 widen to all shared files") {
    val root = scratch()
    import graft.lake.MergeOnRead
    // 8 range-clustered files over k=1..4000 so the stats sidecar can
    // prune candidate files for a collectable (<=1000-key) eq delta
    Lake.writeTableSnapshot(
      spark.range(1, 4001)
        .select(col("id").as("k"), (col("id") % 13).as("v"))
        .repartitionByRange(8, col("k")).sortWithinPartitions(col("k")),
      root, "eqb")
    // count DATA files in a plan's input set (the eq sidecar's own
    // parquet files appear in inputFiles too — they are metadata)
    val dataFiles = Lake.snapshotFiles(spark, root, "eqb", 1)
      .map(p => new java.net.URI(p).getPath).toSet
    def openedData(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(f => dataFiles.contains(new java.net.URI(f).getPath))
    val all = dataFiles.size
    assert(all === 8)
    // exactly AT the collect bound: the contiguous 1000-key delta is
    // collected and stats-pruned to the files that can hold it
    val v2 = MergeOnRead.deleteByKeys(spark, root, "eqb",
      spark.range(1, 1001).select(col("id").as("k")))
    val ch12 = Lake.versionChanges(spark, root, "eqb", 1, v2, Seq("k"))
    val opened12 = openedData(ch12)
    assert(opened12 < all, s"1000-key delta must stats-prune, opened $opened12/$all")
    val got12 = ch12.collect()
    assert(got12.length === 1000 && got12.forall(_.getAs[String]("change") === "deleted"))
    assert(got12.map(_.getAs[Long]("k")).sorted === (1L to 1000L).toArray)
    // one PAST the bound: the probe refuses to collect 1001 keys and
    // conservatively opens every shared file — bounded degradation whose
    // RESULT stays exact (the pin that keeps the fallback from regressing
    // to wrong-answer or to silently-unbounded)
    val v3 = MergeOnRead.deleteByKeys(spark, root, "eqb",
      spark.range(3000, 4001).select(col("id").as("k")))
    val ch23 = Lake.versionChanges(spark, root, "eqb", v2, v3, Seq("k"))
    assert(openedData(ch23) === all,
      s"a 1001-key delta widens to every shared file, saw ${openedData(ch23)}/$all")
    val got23 = ch23.collect()
    assert(got23.length === 1001 && got23.forall(_.getAs[String]("change") === "deleted"))
    assert(got23.map(_.getAs[Long]("k")).sorted === (3000L to 4000L).toArray)
  }

  test("bucket_by: versionDiff and versionChanges run exchange-free over bucketed snapshots") {
    import graft.lake.BucketLayout
    import org.apache.spark.sql.graft.BucketedMerge
    val root = scratch()
    Lake.setTableProperties(spark, root, "bk_t", Map(BucketLayout.Prop -> "k:8"))
    def snap(df: org.apache.spark.sql.DataFrame) = Lake.writeTableSnapshot(
      Lake.applyClusterPolicy(spark, root, "bk_t", df), root, "bk_t")
    snap((1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "x"))
    snap(((3 to 1000).map(i =>
      (i.toLong, if (i % 100 == 0) "CHG" else s"r$i")) :+ ((2000L, "new")))
      .toDF("k", "x"))

    // the mapping is stamped from the data and covers every file
    val layout = BucketLayout.layoutOf(spark, root, "bk_t", 2)
    assert(layout.isDefined && layout.get._1 === "k" && layout.get._2 === 8)

    val d = Lake.versionDiff(spark, root, "bk_t", 1, 2, Seq("k"))
    assert(!BucketedMerge.hasShuffle(d.queryExecution.toRdd),
      "a bucketed versionDiff must have NO ShuffleDependency in its lineage")
    val byChange = d.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange === Map(
      "deleted" -> 2L, "inserted" -> 1L, "updated" -> 10L, "unchanged" -> 988L),
      s"bucketed diff classification: $byChange")

    val ch = Lake.versionChanges(spark, root, "bk_t", 1, 2, Seq("k"))
    assert(!BucketedMerge.hasShuffle(ch.queryExecution.toRdd))
    val rows = ch.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.count(_._3 == "updated") === 10 &&
      rows.filter(_._3 == "updated").forall(_._2 == "CHG"),
      "updated rows must carry the NEW image")
    assert(rows.filter(_._3 == "deleted").map(_._1).sorted.toSeq === Seq(1L, 2L))
    assert(rows.filter(_._3 == "inserted").toSeq === Seq((2000L, "new", "inserted")))

    // a policy-bypassing write self-reports: no mapping, shuffle fallback,
    // same answers
    Lake.writeTableSnapshot(
      (1 to 1000).map(i => (i.toLong, s"z$i")).toDF("k", "x")
        .repartition(4), root, "bk_t")
    assert(BucketLayout.layoutOf(spark, root, "bk_t", 3).isEmpty,
      "a non-bucketed write must not be stamped as bucketed")
    val fb = Lake.versionDiff(spark, root, "bk_t", 2, 3, Seq("k"))
    assert(fb.filter(col("change") === "updated").count() === 998)
  }

  test("bucket_by: co-bucketed catalog tables join with ZERO exchanges (storage-partitioned join)") {
    import graft.lake.BucketLayout
    val root = scratch()
    def bucketed(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      Lake.setTableProperties(spark, root, name, Map(BucketLayout.Prop -> "k:8"))
      Lake.writeTableSnapshot(
        Lake.applyClusterPolicy(spark, root, name, df), root, name)
    }
    bucketed("spj_a", (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va"))
    bucketed("spj_b", (500 to 1500).map(i => (i.toLong, s"b$i")).toDF("k", "vb"))
    val spjcat = org.apache.spark.sql.graft.GraftCatalog.register(spark, root)
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val q = spark.sql(
        s"""SELECT a.k, a.va, b.vb
          |FROM $spjcat.tables.spj_a a JOIN $spjcat.tables.spj_b b ON a.k = b.k
          |""".stripMargin)
      val exchanges = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.isEmpty,
        s"a co-bucketed join must plan WITHOUT exchanges, got:\n" +
          q.queryExecution.executedPlan)
      assert(q.count() === 501)
      assert(q.filter(col("k") === 750L).collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
        Seq((750L, "a750", "b750")))

      // a keyed AGGREGATE over one bucketed table also skips its exchange:
      // KeyGroupedPartitioning satisfies the groupBy's ClusteredDistribution
      val agg = spark.sql(
        s"SELECT k, count(*) AS n FROM $spjcat.tables.spj_a GROUP BY k")
      assert(agg.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.isEmpty, "a bucket-key aggregate must not shuffle")
      assert(agg.count() === 1000)

      // the SPJ layout SURVIVES the table lifecycle: a streaming epoch
      // appends bucket-pure files (policy + per-commit verified stamp)
      // and a predicate-scoped compaction folds them back — the join
      // stays exchange-free after BOTH
      graft.lake.CopyOnWrite.appendEpoch(
        (2001 to 2100).map(i => (i.toLong, s"a$i")).toDF("k", "va"),
        root, "spj_a", "spjsink", 0L)
      graft.lake.CopyOnWrite.compactWhere(spark, root, "spj_a", col("k") >= 2001)
      val q2 = spark.sql(
        s"SELECT a.k FROM $spjcat.tables.spj_a a JOIN $spjcat.tables.spj_b b ON a.k = b.k")
      assert(q2.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.isEmpty,
        "SPJ must survive epoch append + compact_where:\n" +
          q2.queryExecution.executedPlan)
      assert(q2.count() === 501)

      // conf OFF → the default plan (shuffled join), byte-identical behavior
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = spark.sql(
        s"SELECT a.k FROM $spjcat.tables.spj_a a JOIN $spjcat.tables.spj_b b ON a.k = b.k")
      assert(off.count() === 501)
      assert(off.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.nonEmpty, "with V2 bucketing off the join shuffles as before")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("bucket_by: layout survives COW mutations; probes and scans prune by bucket") {
    import graft.lake.{BucketLayout, CopyOnWrite}
    import org.apache.spark.sql.sources.EqualTo
    val root = scratch()
    Lake.setTableProperties(spark, root, "bk2", Map(BucketLayout.Prop -> "k:8"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "bk2",
      (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "x")), root, "bk2")

    // a COW update rewrites its bucket's file re-bucketed: the mapping
    // survives the mutation instead of degrading to the shuffle path
    CopyOnWrite.updateWhere(spark, root, "bk2",
      col("k") === 500L, Seq("x" -> lit("up")))
    val layout = BucketLayout.layoutOf(spark, root, "bk2", 2)
    assert(layout.isDefined, "COW must re-bucket its rewrite and keep the layout")
    val (_, n, mapping) = layout.get

    // equality scans prune to ONE bucket's files — the layout is the index
    val files = Lake.snapshotFiles(spark, root, "bk2", 2)
    val schema = spark.read.parquet(files.head).schema
    val adm = BucketLayout.filterCandidates(
      spark, files, schema, Seq(EqualTo("k", 500L)))
    assert(adm.nonEmpty && adm.size < files.size,
      s"k=500 must admit one bucket's files: ${adm.size}/${files.size}")
    assert(adm.map(mapping).distinct.size === 1,
      "all admitted files must share the probed bucket")
    assert(spark.read.parquet(adm: _*)
      .filter(col("k") === 500L).select("x").head().getString(0) === "up")

    // a MERGE source's keys name their buckets: the probe opens only those
    val srcKeys = Seq(500L, 777L).toDF("k")
    val ff = BucketLayout.filesForKeys(spark, files, srcKeys, schema)
    assert(ff.nonEmpty && ff.size < files.size &&
      ff.map(mapping).distinct.size <= 2,
      s"two keys must probe at most two buckets: ${ff.size}/${files.size}")
    // murmur3 hashes the PHYSICAL type: a source keyed Int against the
    // Long target must NOT prune (the join itself would coerce and match)
    assert(BucketLayout.filesForKeys(
      spark, files, Seq(500).toDF("k"), schema) === files,
      "a type-mismatched source must admit every file")

    // end-to-end MERGE on the bucketed base (restricted probe) stays right
    CopyOnWrite.mergeInto(spark, root, "bk2",
      Seq((500L, "m"), (2000L, "new")).toDF("k", "x"), Seq("k"),
      matchedSet = Seq("x" -> col("s.x")), insertNotMatched = true)
    val back = Lake.readTableFeed(spark, root, "bk2")
    assert(back.count() === 1001)
    assert(back.filter(col("k") === 500L).head().getString(1) === "m")
    assert(back.filter(col("k") === 2000L).count() === 1)
    assert(BucketLayout.layoutOf(spark, root, "bk2",
      Lake.latestVersion(spark, root, "bk2").get).isDefined,
      "the MERGE commit must keep the layout too")

    // compaction folds INTO the layout instead of costing it
    val packed = Lake.compactTable(spark, root, "bk2")
    assert(BucketLayout.layoutOf(spark, root, "bk2", packed).isDefined,
      "compaction on a bucketed table must preserve the bucket mapping")
    assert(Lake.readTableFeed(spark, root, "bk2").count() === 1001)

    // MULTI-FILE buckets: an epoch append carries the base per bucket, so
    // a bucket now holds two sorted runs — the kernel must merge them
    // (the in-partition sort), still without a shuffle
    CopyOnWrite.appendEpoch(
      Seq((3000L, "e1"), (3001L, "e2")).toDF("k", "x"), root, "bk2", "s", 0)
    val v6 = Lake.latestVersion(spark, root, "bk2").get
    assert(BucketLayout.layoutOf(spark, root, "bk2", v6).isDefined)
    val d2 = Lake.versionDiff(spark, root, "bk2", packed, v6, Seq("k"))
    assert(!org.apache.spark.sql.graft.BucketedMerge
      .hasShuffle(d2.queryExecution.toRdd))
    val counts2 = d2.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts2 === Map("inserted" -> 2L, "unchanged" -> 1001L),
      s"append step over multi-file buckets: $counts2")
  }

  test("bucket_by: mergeBranch takes the exchange-free 3-way path, conflicts intact") {
    import graft.lake.BucketLayout
    import org.apache.spark.sql.graft.BucketedMerge
    val root = scratch()
    Lake.setTableProperties(spark, root, "m_src", Map(BucketLayout.Prop -> "k:8"))
    def bucketed(name: String, df: org.apache.spark.sql.DataFrame) =
      Lake.writeTableSnapshot(
        Lake.applyClusterPolicy(spark, root, name, df), root, name)
    def gen(f: Long => String) =
      (1L to 600L).map(i => (i, f(i))).toDF("k", "v")
    bucketed("m_src", gen(_ => "base"))
    Lake.cloneTable(spark, root, "m_src", "m_br")
    assert(Lake.tableProperties(spark, root, "m_br")
      .get(BucketLayout.Prop).contains("k:8"),
      "a branch must inherit the source's write policies")
    // diverge on DISJOINT key ranges
    bucketed("m_br", gen(i => if (i <= 100) "branch" else "base"))
    bucketed("m_src", gen(i => if (i > 500) "src" else "base"))

    BucketedMerge.lastMerge3Buckets.set(-1)
    val v = Lake.mergeBranch(spark, root, "m_src", "m_br", Seq("k"))
    assert(BucketedMerge.lastMerge3Buckets.get() === 8,
      "three bucket-aligned snapshots must merge through the 3-way zip")
    val merged = Lake.readTableFeed(spark, root, "m_src", Some(v))
    assert(merged.count() === 600)
    val byV = merged.groupBy("v").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byV === Map("branch" -> 100L, "base" -> 400L, "src" -> 100L),
      s"merge result: $byV")
    assert(BucketLayout.layoutOf(spark, root, "m_src", v).isDefined,
      "the merged commit must come out bucketed again")

    // conflicting divergence still throws with a key sample
    Lake.cloneTable(spark, root, "m_src", "m_br2")
    bucketed("m_br2", Lake.readTableFeed(spark, root, "m_br2")
      .withColumn("v", when(col("k") === 42L, lit("B")).otherwise(col("v"))))
    bucketed("m_src", Lake.readTableFeed(spark, root, "m_src")
      .withColumn("v", when(col("k") === 42L, lit("S")).otherwise(col("v"))))
    BucketedMerge.lastMerge3Buckets.set(-1)
    val e = intercept[IllegalStateException] {
      Lake.mergeBranch(spark, root, "m_src", "m_br2", Seq("k"))
    }
    assert(e.getMessage.contains("(42)") && BucketedMerge.lastMerge3Buckets.get() === 8,
      s"the bucketed path must surface the conflicting key: ${e.getMessage}")
  }

  test("compaction re-interleaves zorder tables (OPTIMIZE-ZORDER shape)") {
    import graft.lake.{CopyOnWrite, StatsSidecar}
    val root = scratch()
    Lake.setTableProperties(spark, root, "zc",
      Map(Lake.ClusterByProp -> "zorder(k,u)"))
    def batch(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, i * 2654435761L % 100000L)).toDF("k", "u")
    Lake.writeTableSnapshot(
      Lake.applyClusterPolicy(spark, root, "zc", batch(0, 3999)), root, "zc")
    CopyOnWrite.appendEpoch(batch(4000, 7999), root, "zc", "s", 0)
    val packed = Lake.compactTable(spark, root, "zc")
    val back = Lake.readTableFeed(spark, root, "zc", Some(packed))
    assert(back.count() === 8000)
    // the re-interleave restores GLOBAL tiling: a narrow u-range over the
    // compacted files admits a strict subset (per-epoch z-clustering
    // alone cannot promise that across epochs)
    val files = Lake.snapshotFiles(spark, root, "zc", packed)
    if (files.size >= 4) {
      val admitted = StatsSidecar.candidateFiles(spark, files, back.schema,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("u", 40000L),
          org.apache.spark.sql.sources.LessThanOrEqual("u", 44999L))).files
      assert(admitted.size < files.size,
        s"compacted zorder files must tile u: ${admitted.size}/${files.size}")
    }
  }

  test("versionChanges is manifest-aware: each step scans only changed files") {
    import graft.lake.{CopyOnWrite, MergeOnRead}
    val root = scratch()
    def dataFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.filterNot(f =>
        f.contains("/_deletes/") || f.contains("/_eq_deletes/"))
        .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    def snapFiles(v: Int): Set[String] =
      Lake.snapshotFiles(spark, root, "vc_t", v)
        .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    def changes(a: Int, b: Int) =
      Lake.versionChanges(spark, root, "vc_t", a, b, Seq("k"))

    // v1: 300 rows over 3 range-clustered files
    Lake.writeTableSnapshot(
      (1 to 300).map(i => (i.toLong, s"r$i")).toDF("k", "x")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"),
      root, "vc_t")
    assert(snapFiles(1).size === 3)

    // v2: COW update touching ONE file — the step must read only the
    // dropped file and its replacement, never the two carried ones
    CopyOnWrite.updateWhere(spark, root, "vc_t",
      col("k") === 5L, Seq("x" -> lit("five")))
    val ch12 = changes(1, 2)
    assert(ch12.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq === Seq((5L, "five", "updated")))
    val expected12 = (snapFiles(1) -- snapFiles(2)) ++ (snapFiles(2) -- snapFiles(1))
    assert(dataFiles(ch12) === expected12,
      s"a COW step must scan only dropped+own files: ${dataFiles(ch12)} vs $expected12")
    assert((snapFiles(1) & snapFiles(2)).nonEmpty &&
      (dataFiles(ch12) & (snapFiles(1) & snapFiles(2))).isEmpty,
      "carried files must never be opened by the step diff")

    // v3: MOR position delete — the step must open only the file the new
    // sidecar entry names
    MergeOnRead.deleteWhere(spark, root, "vc_t", col("k") === 250L)
    val ch23 = changes(2, 3)
    assert(ch23.collect().map(r => (r.getLong(0), r.getString(2)))
      .toSeq === Seq((250L, "deleted")))
    assert(dataFiles(ch23).size === 1 &&
      dataFiles(ch23).subsetOf(snapFiles(2) & snapFiles(3)),
      s"a MOR step must open only the sidecar-named file: ${dataFiles(ch23)}")

    // v4: equality delete — stats-pruned to the files whose range covers
    // the deleted key
    MergeOnRead.deleteByKeys(spark, root, "vc_t", Seq(7L).toDF("k"))
    val ch34 = changes(3, 4)
    assert(ch34.collect().map(r => (r.getLong(0), r.getString(2)))
      .toSeq === Seq((7L, "deleted")))
    assert(dataFiles(ch34).size <= 1,
      s"an eq-delete step must stats-prune to the covering file: ${dataFiles(ch34)}")

    // v5: epoch append — the step reads ONLY the appended file
    CopyOnWrite.appendEpoch(
      Seq((400L, "new")).toDF("k", "x"), root, "vc_t", "s", 0)
    val v5 = Lake.latestVersion(spark, root, "vc_t").get
    val ch45 = changes(4, v5)
    assert(ch45.collect().map(r => (r.getLong(0), r.getString(2)))
      .toSeq === Seq((400L, "inserted")))
    val appended = Lake.snapshotFiles(spark, root, "vc_t", v5)
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet -- snapFiles(4)
    // the append folds the base's eq sidecar to positions, so the step is
    // allowed ONE extra probe of the file covering the folded key (to
    // verify those rows were already dead — the fold's amortized cost);
    // everything else carried must stay unopened
    val extra45 = dataFiles(ch45) -- appended
    assert(appended.subsetOf(dataFiles(ch45)) && extra45.size <= 1 &&
      extra45.subsetOf(snapFiles(4) & snapFiles(v5)),
      s"an append step must scan the appended file plus at most the " +
        s"fold-probe: ${dataFiles(ch45)} vs appended $appended")

    // full republish: no shared files — degenerates to the full diff
    Lake.writeTableSnapshot(
      Lake.readTableFeed(spark, root, "vc_t")
        .withColumn("x", when(col("k") === 1L, lit("one")).otherwise(col("x"))),
      root, "vc_t")
    val v6 = Lake.latestVersion(spark, root, "vc_t").get
    assert(changes(v5, v6).collect().map(r => (r.getLong(0), r.getString(2)))
      .toSeq === Seq((1L, "updated")))

    // and the cumulative feed agrees with what the mutations did
    val all = Lake.tableChanges(spark, root, "vc_t", 1, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(r => (r._3, r._1))
    assert(all.toSeq === Seq(
      (5L, "updated", 2), (250L, "deleted", 3), (7L, "deleted", 4),
      (400L, "inserted", v5), (1L, "updated", v6)))
  }

  test("building table and lake reads starts no Spark job") {
    import graft.lake.MergeOnRead
    val sf = "/root/testdata/sf0.001"
    assert(SparkSpec.jobsDuring(spark) {
      Tables.all.foreach(t => Tables.load(spark, sf, t))
    } === 0, "Tables.load must not infer a schema in a Spark job")
    val root = scratch()
    Lake.writeTableSnapshot(
      (1 to 60).map(i => (i.toLong, i % 6, s"r$i")).toDF("k", "u", "x").repartition(3),
      root, "nojob_t")
    MergeOnRead.deleteByKeys(spark, root, "nojob_t", Seq(1).toDF("u"))
    MergeOnRead.deleteWhere(spark, root, "nojob_t", col("k") <= 5)
    assert(MergeOnRead.hasAnyDeletes(spark, root, "nojob_t", 3))
    assert(SparkSpec.jobsDuring(spark) {
      Lake.readTableFeed(spark, root, "nojob_t")
      Lake.readTableFeed(spark, root, "nojob_t", Some(1))
    } === 0, "planning a merge-on-read read must not start a job")
    assert(Lake.readTableFeed(spark, root, "nojob_t").count() === 60 - 10 - 4)
  }

  test("commits that keep a base sidecar unchanged copy it without a Spark job") {
    import graft.lake.{CopyOnWrite, MergeOnRead}
    import org.apache.spark.sql.types.{StringType, StructField}
    val root = scratch()
    def seed(name: String): Unit = Lake.writeTableSnapshot(
      (1 to 60).map(i => (i.toLong, s"r$i")).toDF("k", "x").repartition(3), root, name)
    def append(name: String): Int = CopyOnWrite.appendEpoch(
      Seq((101L, "n")).toDF("k", "x"), root, name, "s", 0L)
    seed("carry_plain")
    seed("carry_t")
    MergeOnRead.deleteWhere(spark, root, "carry_t", col("k") <= 3)
    // each commit below starts as many jobs on a base with a position
    // sidecar as on a sidecar-free base: the sidecar is copied
    val appendPlain = SparkSpec.jobsDuring(spark)(append("carry_plain"))
    val appendCarry = SparkSpec.jobsDuring(spark)(append("carry_t"))
    assert(appendCarry === appendPlain)
    val delPlain = SparkSpec.jobsDuring(spark)(
      MergeOnRead.deleteByKeys(spark, root, "carry_plain", Seq(10L).toDF("k")))
    val delCarry = SparkSpec.jobsDuring(spark)(
      MergeOnRead.deleteByKeys(spark, root, "carry_t", Seq(10L).toDF("k")))
    assert(delCarry === delPlain)
    // a metadata-only evolution copies both sidecars
    assert(SparkSpec.jobsDuring(spark)(Lake.addColumn(spark, root, "carry_t",
      StructField("note", StringType, nullable = true))) === 0)
    val v = Lake.latestVersion(spark, root, "carry_t").get
    assert(MergeOnRead.hasDeletes(spark, root, "carry_t", v) &&
      MergeOnRead.hasEqDeletes(spark, root, "carry_t", v))
    val keys = Lake.readTableFeed(spark, root, "carry_t", Some(v))
      .collect().map(_.getAs[Long]("k")).toSet
    assert(keys === ((4L to 60L).toSet - 10L + 101L))
  }
}
