package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IncrementalCdc, IncrementalFuzzy, IncrementalIvfPq, IncrementalLsh, IncrementalSimhash}
import graft.lake.Lake
import graft.streaming.Streams

/** The maintained indexes' state tables on the lake's commit protocol:
  * erasure forgets down to the bytes of every version, and a maintenance
  * operation stopped after any of its table commits leaves every table at
  * a whole version and converges when run again.
  */
class MaintainedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"idx_${tag}_").toString

  /** Every row of every data file under table `t`'s directory — all its
    * version directories and anything else left there — read raw, past
    * manifests and delete sidecars.
    */
  private def rawRows(root: String, t: String): DataFrame = {
    val files = FileUtils.listFiles(new File(Lake.tablePath(root, t)), Array("parquet"), true)
      .asScala.toSeq.filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    assert(files.nonEmpty, s"$t has no data files")
    spark.read.parquet(files.map(_.getPath): _*)
  }

  private def forgotten(root: String, checks: (String, Column)*): Unit =
    checks.foreach { case (t, held) =>
      assert(rawRows(root, t).filter(held).count() === 0,
        s"erased or orphaned rows are still in a data file of $t")
    }

  test("erasure leaves no erased id, orphaned string or orphaned sketch in any version") {
    val d = "/root/testdata/sf0.01"
    // c23: fuzzy index
    val customers = Tables.customer(spark, d)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    val erasedC = col("id") % 100 === 0
    val orphanNames = customers.filter(erasedC).select("s")
      .except(customers.filter(!erasedC).select("s")).as[String].collect().toSeq
    assert(orphanNames.nonEmpty)
    val fz = freshRoot("forget_fz")
    IncrementalFuzzy.init(customers.filter(col("id") < 1000), fz, maxDist = 1)
    IncrementalFuzzy.append(customers.filter(col("id") >= 1000), fz, maxDist = 1)
    IncrementalFuzzy.erase(spark, fz, customers.filter(erasedC).select("id"))
    forgotten(fz,
      "members" -> erasedC,
      "strs" -> col("s").isin(orphanNames: _*),
      "keys" -> col("s").isin(orphanNames: _*),
      "pairs_str" -> (col("s_a").isin(orphanNames: _*) || col("s_b").isin(orphanNames: _*)))
    // c24: minhash LSH index
    val planted = Dedup.plantedDocs(spark)
    val erasedD = col("doc_id") % 7 === 3
    val lsh = freshRoot("forget_lsh")
    IncrementalLsh.init(planted.filter(col("doc_id") < 100), lsh)
    IncrementalLsh.append(planted.filter(col("doc_id") >= 1000), lsh)
    IncrementalLsh.erase(spark, lsh, planted.filter(erasedD).select("doc_id"))
    forgotten(lsh,
      "sigs" -> erasedD,
      "pairs" -> (col("doc_a") % 7 === 3 || col("doc_b") % 7 === 3))
    // c25: simhash index
    val sketches = Dedup.simhashSketches(planted)
    val orphanSks = sketches.filter(erasedD).select("simhash")
      .except(sketches.filter(!erasedD).select("simhash")).as[Long].collect().toSeq
    assert(orphanSks.nonEmpty)
    val sim = freshRoot("forget_sim")
    IncrementalSimhash.init(planted.filter(col("doc_id") < 50), sim)
    IncrementalSimhash.append(planted.filter(col("doc_id") >= 50), sim)
    IncrementalSimhash.erase(spark, sim, planted.filter(erasedD).select("doc_id"))
    forgotten(sim,
      "members" -> erasedD,
      "sks" -> col("simhash").isin(orphanSks: _*),
      "chunks" -> col("simhash").isin(orphanSks: _*),
      "pairs_sk" -> (col("sk_a").isin(orphanSks: _*) || col("sk_b").isin(orphanSks: _*)))
    // c29: CDC index
    val docs = Tables.documents(spark, d)
    val cdc = freshRoot("forget_cdc")
    IncrementalCdc.init(docs.filter(col("doc_id") < 250), cdc)
    IncrementalCdc.append(docs.filter(col("doc_id") >= 250), cdc)
    IncrementalCdc.erase(spark, cdc, docs.filter(col("doc_id") % 50 === 0).select("doc_id"))
    forgotten(cdc, "postings" -> (col("doc_id") % 50 === 0))
    // c30: IVF-PQ index
    val vecs = Tables.embeddings(spark, d)
    val erasedV = col("vec_id") % 100 === 50
    val ivfpq = freshRoot("forget_ivfpq")
    IncrementalIvfPq.init(vecs.filter(col("vec_id") < 250), ivfpq)
    IncrementalIvfPq.append(vecs.filter(col("vec_id") >= 250), ivfpq)
    IncrementalIvfPq.erase(spark, ivfpq, vecs.filter(erasedV).select("vec_id"))
    forgotten(ivfpq, "codes" -> erasedV, "vecs" -> erasedV)
  }

  /** (root, commits left): the next commit under `root` that brings the
    * count to zero throws. `InterruptedException` is fatal to the commit
    * hook runner's `NonFatal` guard, so it leaves the commit — the new
    * version already live, its retention prune not yet run — as a crash
    * there would.
    */
  private val stopAfter = new java.util.concurrent.atomic.AtomicReference[(String, Int)](null)
  Lake.addCommitHook { (_, root, _, _) =>
    stopAfter.get match {
      case (r, n) if r == root =>
        stopAfter.set(if (n > 1) (r, n - 1) else null)
        if (n == 1) throw new InterruptedException(s"stopped after a commit under $r")
      case _ => ()
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Builds an index with `setup`, then runs the operation `op(root)`
    * makes on one copy uninterrupted and, on further copies, stops it
    * after each of its `commits` table commits. After each stop every
    * table must read its version from before the operation or from after
    * it; running the same operation again must give the uninterrupted
    * run's tables and `query` result.
    */
  private def stopAfterEachCommit(tag: String, tables: Seq[String], commits: Int)(
      setup: String => Unit)(op: String => () => Unit)(query: String => DataFrame): Unit = {
    val base = freshRoot(s"crash_$tag")
    setup(base)
    def copy(): String = {
      val r = freshRoot(s"crash_$tag")
      FileUtils.copyDirectory(new File(base), new File(r))
      r
    }
    def state(root: String): Map[String, Seq[String]] =
      tables.map(t => t -> rowsOf(Lake.readTableFeed(spark, root, t))).toMap
    val before = state(base)
    val ref = copy()
    stopAfter.set((ref, commits + 1))
    op(ref)()
    assert(stopAfter.getAndSet(null) === ((ref, 1)), s"$tag must commit $commits times")
    val after = state(ref)
    val expected = rowsOf(query(ref))
    (1 to commits).foreach { k =>
      val root = copy()
      val run = op(root)
      stopAfter.set((root, k))
      intercept[InterruptedException](run())
      state(root).foreach { case (t, rows) =>
        assert(rows === before(t) || rows === after(t),
          s"$tag stopped after commit $k: $t reads neither the old nor the new version")
      }
      run()
      assert(state(root) === after, s"$tag re-run after commit $k")
      assert(rowsOf(query(root)) === expected, s"$tag re-run after commit $k: query")
    }
  }

  test("index maintenance stopped after any table commit reads whole versions and re-runs to the same state") {
    val customers = Tables.customer(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    val fuzzyTables = Seq("members", "strs", "keys", "pairs_str")
    def fuzzyPairs(root: String) = IncrementalFuzzy.pairs(spark, root)
    def fuzzyInit(root: String): Unit =
      IncrementalFuzzy.init(customers.filter(col("id") < 100), root, maxDist = 1)
    // appends re-run as a re-delivered stream batch does, through the
    // stream drive's per-batch guard
    stopAfterEachCommit("fuzzy_append", fuzzyTables, commits = 4)(fuzzyInit) { root =>
      val perBatch = Streams.appliedOnce(spark, root, "strs")(
        IncrementalFuzzy.append(_, root, maxDist = 1))
      () => perBatch(customers.filter(col("id") >= 100), 0L)
    }(fuzzyPairs)
    stopAfterEachCommit("fuzzy_erase", fuzzyTables, commits = 4) { root =>
      fuzzyInit(root)
      IncrementalFuzzy.append(customers.filter(col("id") >= 100), root, maxDist = 1)
    } { root =>
      () => IncrementalFuzzy.erase(spark, root, customers.filter(col("id") % 10 === 0).select("id"))
    }(fuzzyPairs)
    stopAfterEachCommit("fuzzy_compact", fuzzyTables, commits = 4) { root =>
      fuzzyInit(root)
      IncrementalFuzzy.append(customers.filter(col("id") >= 100 && col("id") < 125), root, 1)
      IncrementalFuzzy.append(customers.filter(col("id") >= 125), root, 1)
    } { root => () => IncrementalFuzzy.compact(spark, root) }(fuzzyPairs)
    val planted = Dedup.plantedDocs(spark)
    stopAfterEachCommit("lsh_append", Seq("sigs", "pairs", "meta"), commits = 3) { root =>
      IncrementalLsh.init(planted.filter(col("doc_id") < 100), root)
    } { root =>
      val perBatch = Streams.appliedOnce(spark, root, "meta")(IncrementalLsh.append(_, root))
      () => perBatch(planted.filter(col("doc_id") >= 1000), 0L)
    }(IncrementalLsh.pairs(spark, _))
    stopAfterEachCommit("simhash_erase", Seq("members", "sks", "chunks", "pairs_sk"),
        commits = 4) { root =>
      IncrementalSimhash.init(planted.filter(col("doc_id") < 50), root)
      IncrementalSimhash.append(planted.filter(col("doc_id") >= 50), root)
    } { root =>
      () => IncrementalSimhash.erase(spark, root,
        planted.filter(col("doc_id") % 7 === 3).select("doc_id"))
    }(IncrementalSimhash.pairs(spark, _))
  }
}
