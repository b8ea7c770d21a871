package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Q.QueryFn

/** Incremental maintenance of the PRODUCT-QUANTIZATION index — the
  * growing-corpus form of [[Similarity.annPq]], closing the last gap in
  * the incremental-index matrix (minhash / simhash / fuzzy / IVF all have
  * batch+streaming maintenance; PQ was batch-only).
  *
  * The same frozen-codebook argument as [[IncrementalIvf]] makes appends
  * sound by construction: the per-subspace codebooks are fixed at init
  * (retraining would invalidate every stored code), and a vector's code
  * in subspace j depends only on (subvector, codebook_j) — so an append
  * batch costs one O(batch × M × K) broadcast-scored encode with no
  * interaction with previously indexed vectors: append-then-incremental
  * ≡ full recompute, verified hash-exactly against the one-shot ADC
  * oracle.
  *
  * State on disk (lake-style parquet under a root):
  *  - `cb`:    (cj, cid, csub) the M×K frozen codebook — written once.
  *  - `codes`: (vec_id, j, code) — appended per batch. THIS is the whole
  *    index: M small ints per vector (the 64× memory compression that is
  *    PQ's point) — raw vectors are never re-read at query time; query
  *    vectors arrive with the query.
  *
  * Reads dedup with `dropDuplicates(vec_id, j)` — encoding is a pure
  * function of the frozen codebook, so replayed append batches can only
  * duplicate rows verbatim; the streaming gate additionally keys applied
  * batches by batchId.
  */
object IncrementalPq {

  import Similarity.{PqM, PqSub, PqK, l2sq, isQuery}

  /** (vec_id, j, sub): the M 16-dim subvectors of each embedding. */
  private def pqSubs(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> slice(v, j * $PqSub + 1, $PqSub))")))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("sub"))

  private def cbOf(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/cb")

  /** Encode a batch against the frozen codebook: broadcast-scored, one
    * `min(struct)` partial aggregate — identical math (and IEEE op order)
    * to the one-shot operator, so codes are bit-equal.
    */
  private def encode(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), col("j") === col("cj"))
      .withColumn("dist", l2sq(col("sub"), col("csub")))
      .select(col("vec_id"), col("j"), col("dist"), col("cid"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("j"), col("m.cid").as("code"))

  /** Freeze the codebook from the init batch (the deterministic
    * lowest-ids sample, like the one-shot operator) and encode it.
    */
  def init(vecs: DataFrame, root: String): Unit = {
    val s = vecs.sparkSession
    val subs = pqSubs(vecs)
    subs.filter(col("vec_id") < PqK)
      .select(col("j").as("cj"), col("vec_id").as("cid"), col("sub").as("csub"))
      .write.mode("overwrite").parquet(s"$root/cb")
    encode(subs, cbOf(s, root)).write.mode("overwrite").parquet(s"$root/codes")
  }

  /** Encode an append batch against the FROZEN codebook and append —
    * nothing previously indexed is touched.
    */
  def append(vecs: DataFrame, root: String): Unit = {
    val s = vecs.sparkSession
    encode(pqSubs(vecs), cbOf(s, root))
      .write.mode("append").parquet(s"$root/codes")
  }

  /** ADC top-5 for the standard query batch over the maintained index —
    * identical plan shape to [[Similarity.annPq]]'s search half: the
    * query→codebook LUT broadcasts, candidates are one equi-join of the
    * code table against it, per-query distance is a j-pivoted fixed-order
    * sum. `queries` supplies the raw query vectors (they ride with the
    * query; the index itself holds only codes).
    */
  def query(s: SparkSession, root: String, queries: DataFrame): DataFrame = {
    val codes = s.read.parquet(s"$root/codes").dropDuplicates("vec_id", "j")
    val cb = cbOf(s, root)
    val lut = pqSubs(queries.filter(isQuery(col("vec_id"))))
      .join(broadcast(cb), col("j") === col("cj"))
      .select(col("vec_id").as("q_id"), col("j").as("lj"), col("cid"),
        l2sq(col("sub"), col("csub")).as("qdist"))
    val scored = codes
      .join(broadcast(lut), col("j") === col("lj") && col("code") === col("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(
        max(when(col("j") === 0, col("qdist"))).as("d0"),
        max(when(col("j") === 1, col("qdist"))).as("d1"),
        max(when(col("j") === 2, col("qdist"))).as("d2"),
        max(when(col("j") === 3, col("qdist"))).as("d3"),
        max(when(col("j") === 0, col("code"))).as("c0"),
        max(when(col("j") === 1, col("code"))).as("c1"),
        max(when(col("j") === 2, col("code"))).as("c2"),
        max(when(col("j") === 3, col("code"))).as("c3"))
      .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("c0"), col("c1"), col("c2"), col("c3"), col("adc"), col("rk"))
  }

  /** Gate: init on vec_id < 250 (contains all 16 codebook ids, so the
    * frozen codebook equals the one-shot operator's), two appends for the
    * rest — the ADC search over the incrementally built index must
    * hash-match the one-shot [[Similarity.annPq]] oracle.
    */
  def pqIncremental(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_ipq_").toString
    val vecs = Tables.embeddings(s, d)
    init(vecs.filter(col("vec_id") < 250), root)
    append(vecs.filter(col("vec_id") >= 250 && col("vec_id") < 375), root)
    append(vecs.filter(col("vec_id") >= 375), root)
    query(s, root, vecs)
  }

  /** Gate: the same maintenance driven by Structured Streaming with the
    * at-least-once replay guard of [[IndexMaintenance.streamAppends]] — batch
    * boundaries invisible in the query results.
    */
  def streamPqIndex(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_spq_").toString
    Similarity.withPersisted(Tables.embeddings(s, d)) { vecs =>
      init(vecs.filter(col("vec_id") < 250), root)
      IndexMaintenance.streamAppends(root, vecs.filter(col("vec_id") >= 250),
        (col("vec_id") >= 375).cast("int"))(append(_, root))
    }
    query(s, root, Tables.embeddings(s, d))
  }

  val defs: Map[String, QueryFn] = Map(
    "x_ann_pq_incremental" -> (pqIncremental _),
    "s_stream_pq_index" ->
      graft.streaming.Streams.withReducedShuffle(streamPqIndex _))

  val oracles: Map[String, String] = Map(
    "x_ann_pq_incremental" -> Similarity.annPqOracle,
    "s_stream_pq_index" -> Similarity.annPqOracle)
}
