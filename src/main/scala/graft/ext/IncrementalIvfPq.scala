package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Q.QueryFn

/** Incremental maintenance of the COMPOSED IVF-PQ index — the
  * growing-corpus form of [[Similarity.ivfPqTopK]], completing the
  * maintained-index family for the index that actually ships at 100 TB
  * (coarse pruning AND 4-byte codes; see the one-shot's scaladoc).
  *
  * The frozen-model contract (the production posture, shared with
  * [[IncrementalIvf]]/[[IncrementalPq]]): centroids and the residual
  * codebook are trained once at init and never touched — retraining
  * either would invalidate every stored code. A vector's (cell, codes)
  * depend only on (vector, frozen models), so an append batch costs one
  * O(batch × K) assignment pass plus one O(batch × M × K) residual-encode
  * pass, with no interaction with previously indexed vectors:
  * append-then-incremental ≡ full recompute BY CONSTRUCTION, verified
  * hash-exactly against the one-shot oracle.
  *
  * State on disk:
  *  - `cents` (cent_id, cv, cn) — the frozen coarse codebook;
  *  - `cb`    (cj, cid, csub)  — the frozen residual codebook;
  *  - `codes` (vec_id, cent_id, j, code) — 4 small ints per vector, the
  *    ONLY table ADC search touches — appended per batch;
  *  - `vecs`  (vec_id, v, nrm) — the raw-vector COLD store, read only to
  *    build query residuals (and by a re-ranker); candidates never touch
  *    it — appended per batch.
  *
  * Replay tolerance: codes/vecs are pure functions of (vector, frozen
  * models), so replayed appends duplicate rows verbatim and the read-time
  * `dropDuplicates` erases them. Erasure: codes and vecs rows of the
  * erased ids are anti-join-rewritten away (concurrently — independent
  * tables); the frozen CODEBOOKS stay, like the k-means centroids they
  * are — aggregate model state, not per-subject data (the same contract
  * the `c23`-`c25` family documents for id watermarks).
  */
object IncrementalIvfPq {

  import Similarity.{PqK, PqM, PqSub}

  private def centsOf(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/cents")
  private def cbOf(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/cb")

  /** Residual subvectors of an assigned batch against its centroids. */
  private def rsubsOf(assigned: DataFrame, cents: DataFrame): DataFrame =
    assigned.join(broadcast(cents), "cent_id")
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("v"), col("cv"), (x, y) => x - y).as("r"))
      .select(col("vec_id"), col("cent_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> slice(r, j * $PqSub + 1, $PqSub))")))
      .select(col("vec_id"), col("cent_id"), col("pos").as("j"), col("col").as("rsub"))

  /** Encode residual subvectors against the frozen codebook — the
    * one-shot's narrow `min(struct)` aggregate shape.
    */
  private def encode(rsubs: DataFrame, cb: DataFrame): DataFrame =
    rsubs.join(broadcast(cb), col("j") === col("cj"))
      .withColumn("dist", Similarity.l2sq(col("rsub"), col("csub")))
      .select(col("vec_id"), col("cent_id"), col("j"), col("dist"), col("cid"))
      .groupBy(col("vec_id"), col("cent_id"), col("j"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("cent_id"), col("j"), col("m.cid").as("code"))

  /** Train (= deterministically sample, like the one-shot) both codebooks
    * from the init batch, assign + encode it. The init batch must contain
    * the corpus's lowest IvfK vec_ids for the frozen models to equal the
    * one-shot's (the gates init on vec_id < 250, which does).
    */
  def init(vecs: DataFrame, root: String): Unit = {
    val s = vecs.sparkSession
    // e feeds the codebook write + both halves of the assignment, and
    // assigned feeds the vecs write + the residual pass — persist both
    // across the eager writes (guide §2.4), release before returning
    Similarity.withPersisted(Similarity.withNorm(vecs)) { e =>
      e.orderBy(col("vec_id")).limit(Similarity.IvfK)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
        .write.mode("overwrite").parquet(s"$root/cents")
      val cents = centsOf(s, root)
      Similarity.withPersisted(Similarity.ivfAssigned(e, cents)) { assigned =>
        assigned.select(col("vec_id"), col("v"), col("nrm"))
          .write.mode("overwrite").parquet(s"$root/vecs")
        Similarity.withPersisted(rsubsOf(assigned, cents)) { rsubs =>
          rsubs.filter(col("vec_id") < PqK)
            .select(col("j").as("cj"), col("vec_id").as("cid"), col("rsub").as("csub"))
            .write.mode("overwrite").parquet(s"$root/cb")
          encode(rsubs, cbOf(s, root)).write.mode("overwrite").parquet(s"$root/codes")
        }
      }
    }
  }

  /** Assign + encode an append batch against the FROZEN models — two
    * broadcast-scored passes over the batch, nothing else touched.
    */
  def append(vecs: DataFrame, root: String): Unit = {
    val s = vecs.sparkSession
    val cents = centsOf(s, root)
    // the normalized batch is read twice inside ivfAssigned and the
    // assignment twice more (vecs write + encode) — persist both across
    // the two eager writes (guide §2.4), release before returning
    Similarity.withPersisted(Similarity.withNorm(vecs)) { e =>
      Similarity.withPersisted(Similarity.ivfAssigned(e, cents)) { assigned =>
        assigned.select(col("vec_id"), col("v"), col("nrm"))
          .write.mode("append").parquet(s"$root/vecs")
        encode(rsubsOf(assigned, cents), cbOf(s, root))
          .write.mode("append").parquet(s"$root/codes")
      }
    }
  }

  /** Per-probed-cell ADC top-5 over the maintained codes — identical
    * formulas (and therefore hashes) to [[Similarity.ivfPqTopK]].
    */
  def query(s: SparkSession, root: String): DataFrame = {
    val cents = centsOf(s, root)
    val cb = cbOf(s, root)
    val codes = s.read.parquet(s"$root/codes").dropDuplicates("vec_id", "j")
    // the cold vector store is read ONLY for the fixed query batch (probe
    // ranking + query residuals) — filter to it BEFORE the dedup, which
    // commutes with dropDuplicates on the filter key: the dedup then
    // shuffles Q rows of 64-dim vectors instead of the whole store (§2.3)
    val vecs = s.read.parquet(s"$root/vecs")
      .filter(Similarity.isQuery(col("vec_id")))
      .dropDuplicates("vec_id")
    val probes = Similarity.queryProbes(vecs, cents, nprobe = 4).drop("prk")
    val lut = probes
      .join(vecs.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .join(broadcast(cents), col("probe_cell") === col("cent_id"))
      .select(col("q_id"), col("probe_cell"),
        zip_with(col("qv"), col("cv"), (x, y) => x - y).as("qr"))
      .select(col("q_id"), col("probe_cell"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> slice(qr, j * $PqSub + 1, $PqSub))")))
      .select(col("q_id"), col("probe_cell"), col("pos").as("lj"), col("col").as("qsub"))
      .join(broadcast(cb), col("lj") === col("cj"))
      .select(col("q_id"), col("probe_cell"), col("lj"), col("cid"),
        Similarity.l2sq(col("qsub"), col("csub")).as("qdist"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    codes
      .join(broadcast(lut),
        col("cent_id") === col("probe_cell") && col("j") === col("lj") &&
          col("code") === col("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"), col("cent_id"))
      .agg(
        max(when(col("j") === 0, col("qdist"))).as("d0"),
        max(when(col("j") === 1, col("qdist"))).as("d1"),
        max(when(col("j") === 2, col("qdist"))).as("d2"),
        max(when(col("j") === 3, col("qdist"))).as("d3"))
      .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("cent_id").as("cell"), col("adc"), col("rk"))
  }

  /** Erase vectors from the index: codes and the cold vector store are
    * independent tables — concurrent anti-join rewrites.
    */
  def erase(s: SparkSession, root: String, ids: DataFrame): Unit = {
    val gone = ids.select(col("vec_id")).distinct().localCheckpoint()
    IndexMaintenance.swapInConcurrently(s, root, Seq(
      "codes" -> s.read.parquet(s"$root/codes").join(gone, Seq("vec_id"), "left_anti"),
      "vecs" -> s.read.parquet(s"$root/vecs").join(gone, Seq("vec_id"), "left_anti")))
  }

  /** Gate: init on vec_id < 250 (contains every centroid and codebook
    * source id, so the frozen models equal the one-shot's), two appends
    * for the rest — the maintained ADC top-5 must hash-match the one-shot
    * [[Similarity.annIvfPq]] oracle.
    */
  def ivfPqIncremental(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_iivfpq_").toString
    val vecs = Tables.embeddings(s, d)
    init(vecs.filter(col("vec_id") < 250), root)
    append(vecs.filter(col("vec_id") >= 250 && col("vec_id") < 375), root)
    append(vecs.filter(col("vec_id") >= 375), root)
    query(s, root)
  }

  /** Gate: the same maintenance driven by Structured Streaming with the
    * at-least-once replay guard.
    */
  def streamIvfPqIndex(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_sivfpq_").toString
    Similarity.withPersisted(Tables.embeddings(s, d)) { vecs =>
      init(vecs.filter(col("vec_id") < 250), root)
      IndexMaintenance.streamAppends(root, vecs.filter(col("vec_id") >= 250),
        (col("vec_id") >= 375).cast("int"))(append(_, root))
    }
    query(s, root)
  }

  /** Gate (c30): build incrementally, then [[erase]] every vec_id with
    * id % 100 == 50 — erased vectors leave the code table (and so every
    * ADC shortlist), while the frozen codebooks stay (model state). The
    * oracle restricts the candidate set the same way; queries
    * (id % 100 == 0) and codebook sources are disjoint from the erased
    * set, so the shortlists re-rank over exactly the survivors.
    */
  def ivfPqErasure(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_eivfpq_").toString
    val vecs = Tables.embeddings(s, d)
    init(vecs.filter(col("vec_id") < 250), root)
    append(vecs.filter(col("vec_id") >= 250), root)
    erase(s, root, vecs.filter(col("vec_id") % 100 === 50).select(col("vec_id")))
    query(s, root)
  }

  val ivfPqErasureOracle: String =
    Similarity.ivfPqSql("k.vec_id % 100 <> 50") +
      "\nSELECT q_id, neighbor_id, cell, adc, rk FROM topk"

  val defs: Map[String, QueryFn] = Map(
    "x_ann_ivfpq_incremental" -> (ivfPqIncremental _),
    "c30_ivfpq_erasure" -> (ivfPqErasure _),
    "s_stream_ivfpq_index" ->
      graft.streaming.Streams.withReducedShuffle(streamIvfPqIndex _))

  val oracles: Map[String, String] = Map(
    "x_ann_ivfpq_incremental" -> Similarity.annIvfPqOracle,
    "c30_ivfpq_erasure" -> ivfPqErasureOracle,
    "s_stream_ivfpq_index" -> Similarity.annIvfPqOracle)
}
