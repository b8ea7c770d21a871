package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.{BloomSidecar, BucketLayout, FilePruner, Lake, MergeOnRead}
import graft.warehouse.SummaryRewrite

/** [[FilePruner]] is the one file-pruning decision behind every catalog
  * scan and mutation probe: for one predicate they all admit the same
  * files, and the counts a caller reads are the admissions made on its own
  * thread, never another session's.
  */
class FilePrunerSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft_pruner_spec_").toString

  private def withCatalog(s: SparkSession, name: String): SparkSession = {
    s.conf.set(s"spark.sql.catalog.$name",
      classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    s
  }

  private def counts(a: FilePruner.Admission): (Int, Int) = (a.admitted.size, a.total)

  private def norm(files: Seq[String]): Set[String] =
    files.map(p => new Path(p).toUri.getPath).toSet

  test("prune counts do not leak across sessions on different threads") {
    def clustered(n: Int, files: Int) = spark.range(0, n).select(col("id").as("k"))
      .repartitionByRange(files, col("k")).sortWithinPartitions("k")
    Lake.writeTableSnapshot(clustered(4000, 8), root, "iso_a")
    Lake.writeTableSnapshot(clustered(3000, 6), root, "iso_b")
    val reads = Seq("iso_a" -> "k BETWEEN 1000 AND 1099", "iso_b" -> "k >= 2900")
    val expected = reads.map { case (t, where) =>
      FilePruner.lastCounts(withCatalog(spark, "giso")
        .sql(s"SELECT * FROM giso.tables.$t WHERE $where").queryExecution.executedPlan)
    }
    assert(expected(0)._2 === 8 && expected(1)._2 === 6 &&
      expected.forall { case (a, t) => a < t }, s"both reads must prune: $expected")

    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = reads.map { case (t, where) =>
        pool.submit(new Callable[Seq[FilePruner.Admission]] {
          override def call(): Seq[FilePruner.Admission] = {
            val s = withCatalog(spark.newSession(), "giso")
            start.await()
            FilePruner.recorded((1 to 50).foreach(_ =>
              s.sql(s"SELECT * FROM giso.tables.$t WHERE $where").queryExecution.executedPlan))
          }
        })
      }
      start.countDown()
      val got = futures.map(_.get(5, TimeUnit.MINUTES))
      reads.zip(got).zip(expected).foreach { case (((t, _), admissions), want) =>
        assert(admissions.size === 50, s"$t: one admission per planned read")
        assert(admissions.forall(a => counts(a) == want),
          s"$t: every admission must be its own table's $want: ${admissions.map(counts).distinct}")
        assert(admissions.forall(_.admitted.forall(_.contains(s"/tables/$t/"))),
          s"$t: admitted files must come from its own table")
      }
    } finally pool.shutdownNow()
  }

  test("scan, fallback, UPDATE probe and merge-on-read probe admit the same files") {
    withCatalog(spark, "gprune")
    Lake.setTableProperties(spark, root, "one", Map(
      BucketLayout.Prop -> "u:4",
      Lake.ClusterByProp -> "zorder(k,j)",
      Lake.FileMaxRecordsProp -> "250",
      BloomSidecar.ColumnsProp -> "u"))
    val df = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") * 2654435761L % 100000L).as("u"), (col("id") * 40503L % 1024L).as("j"))
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, "one", df), root, "one")
    assert(BucketLayout.layoutOf(spark, root, "one", 1).isDefined,
      "test setup: the snapshot must carry a bucket layout")
    val x = Lake.readTableFeed(spark, root, "one").filter(col("k") === 1234)
      .select("u").head().getLong(0)
    def planned(sql: String): FilePruner.Admission =
      FilePruner.recorded(spark.sql(sql).queryExecution.executedPlan).last
    val read = s"SELECT * FROM gprune.tables.one WHERE u = $x"

    val scan = planned(read)
    // the merge-on-read DELETE commits a position sidecar and carries every
    // data file, so the sites below all decide over the same file list
    val mor = FilePruner.recorded(
      MergeOnRead.deleteWhere(spark, root, "one", col("u") === x)).last
    assert(MergeOnRead.hasAnyDeletes(spark, root, "one", 2),
      "test setup: the DELETE must commit a merge-on-read sidecar")
    val fallback = planned(read)
    val cow = FilePruner.recorded(
      spark.sql(s"UPDATE gprune.tables.one SET j = 0 WHERE u = $x")).last
    assert(Lake.hasManifest(spark, root, "one", Lake.versions(spark, root, "one").max),
      "the UPDATE must ride the copy-on-write route")

    val sites = Seq("scan" -> scan, "fallback" -> fallback, "cow" -> cow, "mor" -> mor)
    sites.foreach { case (site, a) =>
      assert(a.total >= 12, s"$site: the layout must split into many files: $a")
      assert(a.skippedByStats + a.skippedByBucket + a.skippedByBloom ===
        a.total - a.admitted.size, s"$site: every skipped file has one stage: $a")
      assert(norm(a.admitted) === norm(scan.admitted) && a.total === scan.total,
        s"$site admitted ${counts(a)}, the scan ${counts(scan)}")
    }
    assert(scan.admitted.nonEmpty && scan.skippedByBucket > 0 && scan.skippedByBloom > 0,
      s"the bucket and the bloom must both narrow the lookup: $scan")
  }

  test("the summary refresh prunes by bloom") {
    withCatalog(spark, "gprune")
    Lake.setTableProperties(spark, root, "mvb", Map(BloomSidecar.ColumnsProp -> "g"))
    // clustered by k; the group key g is spread over every file, so min/max
    // stats admit every file for any g and only the bloom can narrow
    Lake.writeTableSnapshot(spark.range(0, 4000).select(col("id").as("k"),
      (col("id") * 2654435761L % 5000L).as("g"), (col("id") % 7).cast("double").as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k"), root, "mvb")
    SummaryRewrite.createForTable(spark, "mv_bloom_spec", root, "mvb", s"$root/mv_bloom",
      keys = Seq("g"), rowKeys = Seq("k"), sums = Seq("v" -> None))
    try {
      spark.sql("UPDATE gprune.tables.mvb SET v = v + 100 WHERE k = 17")
      val admissions = FilePruner.recorded(
        SummaryRewrite.refreshFromChanges(spark, "mv_bloom_spec"))
      val (adm, tot, groups) = SummaryRewrite.refreshStats("mv_bloom_spec")
      assert(groups === 1L, s"one group moved, re-aggregated $groups")
      assert(tot === 8 && adm >= 1 && adm < tot,
        s"the refresh must re-read only files whose bloom can hold the group: $adm/$tot")
      assert(admissions.exists(a => counts(a) == ((adm, tot)) && a.skippedByBloom > 0),
        s"the refresh's exclusions must come from the bloom: $admissions")
      val want = Lake.readTableFeed(spark, root, "mvb").groupBy("g").agg(sum("v").as("s"))
      val got = Lake.readParquet(spark, SummaryRewrite.list
        .find(_.name == "mv_bloom_spec").get.mvPath).select(col("g"), col("mv_sum_v").as("s"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "the refreshed summary must equal a full recompute")
    } finally SummaryRewrite.drop("mv_bloom_spec")
  }
}
