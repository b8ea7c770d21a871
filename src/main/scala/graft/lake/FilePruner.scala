package graft.lake

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The one FILE-PRUNING decision of the lake: which files of a snapshot
  * can hold rows matching pushed v1 filters. Every catalog scan (the
  * parquet data scan and the merge-on-read V1 fallback), every mutation
  * probe (copy-on-write UPDATE/DELETE/MERGE, merge-on-read DELETE), the
  * change feed's equality-delta probe and the summary refresh ask here,
  * so they all run the same stages in the same order:
  *
  *  1. STATS — per-file min/max/null-count sidecars, envelopes first
  *     ([[StatsSidecar]]); driver-side, cached per version dir;
  *  2. BUCKET — equality/IN on the bucket column admits only the named
  *     buckets' files ([[BucketLayout]]); driver-side, cached;
  *  3. BLOOM — equality/IN on a `bloom_filter_columns` column excludes
  *     files whose bloom rules every value out ([[BloomSidecar]]); the
  *     only stage that starts a Spark job, so it runs last, on the
  *     fewest files.
  *
  * Each stage only removes files and is conservative where its sidecar is
  * missing, so a false admit costs a footer read, never a row.
  */
object FilePruner {

  /** One pruning decision: the admitted files (input order preserved) of
    * `total`, how many each stage skipped, and the version dirs the stats
    * envelopes skipped whole (`dirsSkipped` of `dirsSeen`).
    */
  final case class Admission(
      admitted: Seq[String], total: Int,
      skippedByStats: Int, skippedByBucket: Int, skippedByBloom: Int,
      dirsSkipped: Int, dirsSeen: Int)

  def admit(
      spark: SparkSession, root: String, name: String, files: Seq[String],
      schema: StructType, filters: Seq[Filter]): Admission = {
    val a =
      if (filters.isEmpty) Admission(files, files.size, 0, 0, 0, 0, 0)
      else {
        val stats = StatsSidecar.candidateFiles(spark, files, schema, filters)
        val byBucket = BucketLayout.filterCandidates(spark, stats.files, schema, filters)
        val bloomCols = BloomSidecar.columns(Lake.tableProperties(spark, root, name))
        val byBloom = BloomSidecar.filterCandidates(
          spark, byBucket, schema, filters, bloomCols)
        Admission(byBloom, files.size,
          files.size - stats.files.size, stats.files.size - byBucket.size,
          byBucket.size - byBloom.size, stats.dirsSkipped, stats.dirsSeen)
      }
    recorder.add(a)
    a
  }

  /** [[admit]] for a mutation probe's `Column` predicate: its top-level
    * conjuncts translated against the files' read schema (analysis only,
    * no job — untranslatable conjuncts drop out and prune nothing).
    */
  def admitFor(
      spark: SparkSession, root: String, name: String, files: Seq[String],
      declared: Option[StructType], pred: Column): Admission = {
    val base = Lake.readFiles(spark, files, declared)
    admit(spark, root, name, files, base.schema,
      org.apache.spark.sql.graft.ExprFilters.toV1(base, pred))
  }

  private val recorder = new ThreadRecorder[Admission]

  /** The admissions made on the calling thread while `body` ran, in order
    * — catalog scans decide at plan time, so planning a query is enough.
    * Another thread's admissions never show here; a nested `recorded`
    * also reports its admissions to the enclosing one.
    */
  def recorded(body: => Any): Seq[Admission] = recorder.recorded(body)

  /** `(admitted, total)` of the last admission `body` made on the calling
    * thread; `(-1, -1)` when it made none.
    */
  def lastCounts(body: => Any): (Int, Int) =
    recorded(body).lastOption.fold((-1, -1))(a => (a.admitted.size, a.total))
}
