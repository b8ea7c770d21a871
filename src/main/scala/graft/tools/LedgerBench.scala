package graft.tools

/** Measures what the `_versions` ledger buys at high version counts:
  * `tableHistory` over N synthetic versions served from the ledger vs the
  * per-dir probing fallback (the pre-round-12 path). Synthetic versions
  * are minted as MINIMAL one-row snapshots — the subject is metadata
  * resolution cost, not data volume.
  *
  * Run: `sbt "runMain graft.tools.LedgerBench [nVersions]"` (default 1000).
  * Prints one line per measurement; numbers land in SCALE.md.
  */
object LedgerBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession.getOrCreate(
      graft.GraftSession.builder("local[8]", "8").appName("graft-ledger-bench"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val root = graft.Tmp.dir("graft_ledbench_").toString
    val df = Seq((1L, "x")).toDF("k", "x")
    val t0 = System.nanoTime()
    (1 to n).foreach { _ =>
      graft.lake.Lake.writeTableSnapshot(df, root, "bench_t",
        retentionVersions = Int.MaxValue)
    }
    val mintSec = (System.nanoTime() - t0) / 1e9
    println(f"minted $n versions in $mintSec%.1f s (${mintSec / n * 1000}%.1f ms/commit)")

    def time[A](label: String)(body: => A): A = {
      val s = System.nanoTime()
      val r = body
      println(f"$label: ${(System.nanoTime() - s) / 1e6}%.0f ms")
      r
    }
    val viaLedger = time(s"tableHistory via LEDGER ($n versions)") {
      graft.lake.Lake.tableHistory(spark, root, "bench_t")
    }
    // force the probing fallback: move the ledger aside
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ldir = new org.apache.hadoop.fs.Path(s"$root/tables/bench_t/_versions")
    val aside = new org.apache.hadoop.fs.Path(s"$root/tables/bench_t/.aside")
    require(fs.rename(ldir, aside), "no ledger dir to move aside?")
    val viaProbe = time(s"tableHistory via PROBES ($n versions)") {
      graft.lake.Lake.tableHistory(spark, root, "bench_t")
    }
    require(fs.rename(aside, ldir))
    require(viaLedger == viaProbe, "parity violated")
    println(s"parity OK over ${viaLedger.size} versions; " +
      s"ledger files: ${fs.listStatus(ldir).length} (folded past 256 loose)")
    spark.stop()
  }
}
