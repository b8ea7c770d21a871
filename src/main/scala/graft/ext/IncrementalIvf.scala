package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.withPersisted
import graft.Tables
import graft.lake.{CopyOnWrite, Lake}
import graft.lake.Lake.readTableFeed
import graft.queries.Q.QueryFn
import graft.streaming.Streams

/** Incremental maintenance of the IVF ANN index — the growing-corpus form
  * of [[Similarity.annIvfMultiprobe]], completing incremental maintenance
  * across all four index families (minhash: [[IncrementalLsh]];
  * edit-distance: [[IncrementalFuzzy]]; simhash: [[IncrementalSimhash]];
  * embeddings: here).
  *
  * The IVF contract makes appends trivially sound: the codebook is
  * trained ONCE at init and frozen (the production posture — retraining
  * centroids would invalidate every stored assignment), and a vector's
  * cell assignment depends only on (vector, codebook), so an append batch
  * costs exactly one O(batch × K) broadcast-scored assignment pass with
  * no interaction with previously indexed vectors: append-then-incremental
  * ≡ full recompute BY CONSTRUCTION, and the gates verify it hash-exactly
  * against the one-shot multiprobe oracle.
  *
  * State: one lake table per state table under a root:
  *  - `cents`:    (cent_id, cv, cn) the frozen codebook — written once.
  *  - `assigned`: (vec_id, v, nrm, cent_id) — appended per batch, each
  *    append committing only its own files ([[CopyOnWrite.appendEpoch]]).
  *
  * Reads dedup with `dropDuplicates(vec_id)` — assignment is a pure
  * function of the frozen codebook, so a batch appended twice can only
  * duplicate rows verbatim; the streaming gate additionally skips a
  * re-delivered batch by its epoch receipt.
  */
object IncrementalIvf {

  /** Train (= deterministically sample, like the batch operator) the
    * codebook from the init batch and assign it.
    */
  def init(vecs: DataFrame, root: String): Unit = {
    val s = vecs.sparkSession
    // e feeds the codebook write and both halves of the assignment —
    // persist across the eager writes so the scan + normalization runs
    // once (guide §2.4); released before returning
    withPersisted(Similarity.withNorm(vecs)) { e =>
      Lake.writeTableSnapshot(e.orderBy(col("vec_id")).limit(Similarity.IvfK)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn")),
        root, "cents")
      Lake.writeTableSnapshot(
        Similarity.ivfAssigned(e, readTableFeed(s, root, "cents")), root, "assigned")
    }
  }

  /** Assign an append batch against the FROZEN codebook and append — one
    * broadcast-scored pass over the batch, nothing else touched.
    */
  def append(vecs: DataFrame, root: String): Unit = {
    val s = vecs.sparkSession
    // ivfAssigned reads its input twice (scoring + re-attach) — persist
    // the normalized batch across the one write, then release
    withPersisted(Similarity.withNorm(vecs)) { e =>
      CopyOnWrite.appendEpoch(Similarity.ivfAssigned(e, readTableFeed(s, root, "cents")),
        root, "assigned", Streams.IndexSink, Streams.nextIndexEpoch(s, root, "assigned"))
    }
  }

  /** Multi-probe top-3 for the standard query batch over the maintained
    * index — identical plan shape to [[Similarity.annIvfMultiprobe]]:
    * probe table broadcast, candidates one equi-join on cell id.
    *
    * EAGER: this overload runs the whole query before it returns (see
    * [[Similarity.finishGate]]) and returns a lineage-truncated frame, a
    * scan of the checkpointed result. Transforms composed on it do not
    * reach the index read, and its plan shows only that scan; the
    * `reuse = false` overload returns the live plan.
    */
  def query(s: SparkSession, root: String, nprobe: Int = 4): DataFrame =
    query(s, root, nprobe, reuse = true)

  /** `reuse = false` (the plan-audit path) exposes the live read plan; the
    * gate path persists the deduped index read — it feeds the probe table,
    * the query batch AND the candidate join, and each reference otherwise
    * replays the parquet read + the dedup shuffle of N 64-dim vectors
    * (guide §2.4).
    */
  private[graft] def query(
      s: SparkSession, root: String, nprobe: Int, reuse: Boolean): DataFrame = {
    val cents = readTableFeed(s, root, "cents")
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    Similarity.finishGate(reuse,
        readTableFeed(s, root, "assigned").dropDuplicates("vec_id")) { assigned =>
      val e = assigned.select(col("vec_id"), col("v"), col("nrm"))
      val qp = Similarity.queryProbes(e, cents, nprobe).drop("prk")
        .join(e.filter(Similarity.isQuery(col("vec_id"))).select(
          col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")), Seq("q_id"))
      assigned.join(broadcast(qp),
          col("cent_id") === col("probe_cell") && col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("qv"), col("qn"), col("v"), col("nrm")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
    }
  }

  /** Gate: init on vec_id < 250 (which contains all 64 codebook ids, so
    * the frozen codebook equals the one-shot operator's), two appends for
    * the rest — query results over the incrementally built index must
    * hash-match the one-shot [[Similarity.annIvfMultiprobe]] oracle:
    * append-then-incremental ≡ full recompute.
    */
  def ivfIncremental(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_iivf_").toString
    val vecs = Tables.embeddings(s, d)
    init(vecs.filter(col("vec_id") < 250), root)
    append(vecs.filter(col("vec_id") >= 250 && col("vec_id") < 375), root)
    append(vecs.filter(col("vec_id") >= 375), root)
    query(s, root)
  }

  /** Gate: the same maintenance driven by Structured Streaming with the
    * at-least-once replay guard ([[Streams.streamAppends]]) — batch
    * boundaries invisible in the query results.
    */
  def streamIvfIndex(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_sivf_").toString
    withPersisted(Tables.embeddings(s, d)) { vecs =>
      init(vecs.filter(col("vec_id") < 250), root)
      Streams.streamAppends(root, "assigned", vecs.filter(col("vec_id") >= 250),
        (col("vec_id") >= 375).cast("int"))(append(_, root))
    }
    query(s, root)
  }

  val defs: Map[String, QueryFn] = Map(
    "x_ann_ivf_incremental" -> (ivfIncremental _),
    "s_stream_ivf_index" ->
      graft.streaming.Streams.withReducedShuffle(streamIvfIndex _))

  val oracles: Map[String, String] = Map(
    "x_ann_ivf_incremental" -> Similarity.annIvfMultiprobeOracle,
    "s_stream_ivf_index" -> Similarity.annIvfMultiprobeOracle)
}
