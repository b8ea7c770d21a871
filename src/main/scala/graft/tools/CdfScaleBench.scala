package graft.tools

import org.apache.spark.sql.functions._
import graft.lake.{CopyOnWrite, Lake}

/** SCALE evidence for the round-13/14 claims, run at two table sizes:
  *
  *  1. CDF step cost tracks CHANGED bytes, not table bytes — a one-file
  *     COW update's `tableChanges` step should cost ~the same on a 10×
  *     bigger table (the manifest-aware diff reads dropped+own files
  *     only; the old full-snapshot diff scaled with the table).
  *  2. The bucketed full-republish diff stays exchange-free and scales
  *     ~linearly in table bytes (one streaming pass, no shuffle) vs the
  *     join-based diff's shuffle of both snapshots.
  *  3. (r14) A METADATA-ONLY evolution step's CDF is O(0): zero change
  *     rows, zero data files in the plan, wall time independent of table
  *     size — the mapping-aware diff, not a full-table compare.
  *  4. (r14) In-bucket z-order: `bucket_by` + `cluster_by='zorder(a,b)'`
  *     + `file_max_records` splits buckets into z-contiguous files; a
  *     1/8 range on EITHER secondary dimension admits a strict subset of
  *     the files inside every bucket.
  *
  * Usage: runMain graft.tools.CdfScaleBench <rows> — prints one JSON line.
  */
object CdfScaleBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = graft.GraftSession.getOrCreate(
      graft.GraftSession.builder("local[32]", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val root = graft.Tmp.dir("cdfscale_").toString

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // --- 1. manifest-aware CDF step: one-file COW update on a wide table
    val df = spark.range(0, rows).select(
      col("id").as("k"), (col("id") % 9973).as("u"),
      concat(lit("payload_"), col("id")).as("x"))
      .repartitionByRange(64, col("k")).sortWithinPartitions("k")
    Lake.writeTableSnapshot(df, root, "big")
    CopyOnWrite.updateWhere(spark, root, "big",
      col("k") === (rows / 2), Seq("x" -> lit("CHANGED")))
    val (n1, tStep) = timed {
      Lake.tableChanges(spark, root, "big", 1, Seq("k")).count()
    }

    // --- 3. metadata-only step: CDF must be O(0) regardless of table size
    val vPre = Lake.latestVersion(spark, root, "big").get
    val vAlter = Lake.addColumn(spark, root, "big",
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType, nullable = true))
    val (alterRows, tAlter) = timed {
      val ch = Lake.versionChanges(spark, root, "big", vPre, vAlter, Seq("k"))
      require(ch.inputFiles.isEmpty,
        "ALTER-only step must not open one carried data file")
      ch.count()
    }

    // --- 2. bucketed exchange-free diff vs the shuffle fallback
    Lake.setTableProperties(spark, root, "bk", Map("bucket_by" -> "k:64"))
    def gen(salt: String) = spark.range(0, rows).select(
      col("id").as("k"),
      when(col("id") % 1000 === 0, lit(salt)).otherwise(lit("base")).as("x"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "bk", gen("a")), root, "bk")
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "bk", gen("b")), root, "bk")
    val bd = Lake.versionDiff(spark, root, "bk", 1, 2, Seq("k"))
      .filter(col("change") === "updated")
    val shuffleFree = !org.apache.spark.sql.graft.BucketedMerge
      .hasShuffle(bd.queryExecution.toRdd)
    val (n2, tBucketed) = timed(bd.count())
    // shuffle fallback on identical data (an unbucketed copy)
    Lake.writeTableSnapshot(gen("a"), root, "nb")
    Lake.writeTableSnapshot(gen("b"), root, "nb")
    val (n3, tShuffle) = timed {
      Lake.versionDiff(spark, root, "nb", 1, 2, Seq("k"))
        .filter(col("change") === "updated").count()
    }
    require(n2 == n3, s"bucketed and shuffle diffs must agree: $n2 vs $n3")

    // --- 3b. predicate-scoped compaction: two streaming epochs fragment
    // a key range BEYOND the base; compactWhere folds them back — wall
    // time must track the fragmented slice, not the table
    def epochBatch(i: Int) = spark.range(rows + i * 10000, rows + (i + 1) * 10000)
      .select(col("id").as("k"), (col("id") % 9973).as("u"),
        concat(lit("payload_"), col("id")).as("x"),
        lit(null).cast("string").as("note"))
    CopyOnWrite.appendEpoch(epochBatch(0), root, "big", "scale", 0L)
    CopyOnWrite.appendEpoch(epochBatch(1), root, "big", "scale", 1L)
    val (vCw, tCw) = timed {
      CopyOnWrite.compactWhere(spark, root, "big", col("k") >= rows)
    }
    val cwFiles = Lake.snapshotFiles(spark, root, "big", vCw).size

    // --- 4. in-bucket z-order: secondary-dimension pruning inside buckets
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    import graft.lake.StatsSidecar
    Lake.setTableProperties(spark, root, "zb", Map(
      "bucket_by" -> "k:16", "cluster_by" -> "zorder(a,b)",
      Lake.FileMaxRecordsProp -> (rows / 64).max(1L).toString))
    val dom = 1048576L
    val zdf = spark.range(0, rows).select(col("id").as("k"),
      (col("id") * 2654435761L % dom).as("a"), (col("id") * 40503 % dom).as("b"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "zb", zdf), root, "zb")
    val zfiles = Lake.snapshotFiles(spark, root, "zb", 1)
    require(graft.lake.BucketLayout.layoutOf(spark, root, "zb", 1).isDefined,
      "bucket mapping must survive the z-sorted split write")
    val zschema = Lake.readTableFeed(spark, root, "zb", Some(1)).schema
    def adm(c: String): Int = StatsSidecar.candidateFiles(spark, zfiles, zschema,
      Seq(GreaterThanOrEqual(c, 0L), LessThanOrEqual(c, dom / 8 - 1))).size
    val (admA, admB) = (adm("a"), adm("b"))

    println(s"""{"rows":$rows,"cdf_step_changes":$n1,"cdf_step_sec":${f"$tStep%.2f"},""" +
      s""""alter_step_changes":$alterRows,"alter_step_sec":${f"$tAlter%.2f"},""" +
      s""""compact_where_sec":${f"$tCw%.2f"},"compact_where_files":$cwFiles,""" +
      s""""bucketed_diff_sec":${f"$tBucketed%.2f"},"shuffle_diff_sec":${f"$tShuffle%.2f"},""" +
      s""""bucketed_shuffle_free":$shuffleFree,"diff_rows":$n2,""" +
      s""""zb_files":${zfiles.size},"zb_admitted_a":$admA,"zb_admitted_b":$admB}""")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    spark.stop()
  }
}
