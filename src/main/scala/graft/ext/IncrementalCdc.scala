package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Q.QueryFn

/** MAINTAINED content-defined-chunking dedup index — [[Dedup.cdcDedup]]
  * kept current under continuous ingest, completing the incremental-index
  * family (fuzzy/LSH/PQ/SimHash/IVF) with the byte-resolution member.
  *
  * State is ONE table: `postings` (doc_id, md5(chunk)) — chunk hashes are
  * per-document and content-local (the CDC property), so an append batch
  * indexes ONLY its own documents with zero cross-document candidate
  * work; ownership/duplication statistics are derived at read time from
  * the posting aggregate, exactly the one-shot operator's shape. That
  * independence is what makes this the cheapest index in the family:
  * append cost is O(batch bytes), no touched-bucket re-verify, no pair
  * state to maintain.
  *
  * Replay tolerance: postings are a deterministic function of
  * (doc_id, text), so a re-delivered append batch writes verbatim
  * duplicate rows and the read-time `distinct()` erases them — no
  * watermark or marker needed (at-least-once ingest is safe by
  * construction).
  *
  * Erasure (right-to-be-forgotten on derived state, the `c23`-`c25`
  * contract): chunk hashes are content-derived PII-bearing state, and a
  * single anti-join rewrite of `postings` purges an erased document's
  * every byte from the index; owner/duplication stats recompute over
  * survivors at read time, identical to an index built from the
  * survivors alone (removing documents can never create duplication).
  */
object IncrementalCdc {

  /** Build the index fresh over `docs`. */
  def init(docs: DataFrame, root: String): Unit =
    Dedup.cdcPostings(docs).write.mode("overwrite").parquet(s"$root/postings")

  /** Absorb an append batch: index ONLY the new documents — CDC postings
    * are per-document, so no existing state is read or touched.
    */
  def append(newDocs: DataFrame, root: String): Unit =
    Dedup.cdcPostings(newDocs).write.mode("append").parquet(s"$root/postings")

  /** Per-document dedup statistics over the maintained postings —
    * identical to [[Dedup.cdcDedup]] over everything ingested (the
    * incremental ≡ one-shot contract the gates verify).
    */
  def stats(s: SparkSession, root: String): DataFrame =
    Dedup.cdcStats(s.read.parquet(s"$root/postings").distinct())

  /** Erase documents: one anti-join rewrite of the single state table. */
  def erase(s: SparkSession, root: String, ids: DataFrame): Unit = {
    val gone = ids.select(col("doc_id")).distinct()
    IndexMaintenance.swapIn(s, root, "postings",
      s.read.parquet(s"$root/postings").join(gone, Seq("doc_id"), "left_anti"))
  }

  /** Compact: postings are a deterministic set — distinct + rewrite. */
  def compact(s: SparkSession, root: String, filesPerTable: Int = 1): Unit =
    IndexMaintenance.compactTables(s, root, Seq("postings"), filesPerTable)

  /** Gate: init on the low half, two appends for the rest — the
    * maintained stats must hash-equal the one-shot [[Dedup.cdcDedup]]
    * oracle over the whole corpus (batch boundaries invisible).
    */
  def cdcIncremental(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_icdc_").toString
    val docs = Tables.documents(s, d)
    init(docs.filter(col("doc_id") < 200), root)
    append(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350), root)
    append(docs.filter(col("doc_id") >= 350), root)
    stats(s, root)
  }

  /** Gate (c29): build incrementally, then [[erase]] every doc with
    * id % 50 == 0 — the survivors' stats must equal an index built from
    * the survivors alone (ownership and duplication recomputed without
    * the erased docs' chunks).
    */
  def cdcErasure(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_ecdc_").toString
    val docs = Tables.documents(s, d)
    init(docs.filter(col("doc_id") < 250), root)
    append(docs.filter(col("doc_id") >= 250), root)
    erase(s, root, docs.filter(col("doc_id") % 50 === 0).select(col("doc_id")))
    stats(s, root)
  }

  val cdcErasureOracle: String =
    s"""WITH ch AS (SELECT * FROM ${Dedup.cdcChunksSql(
         "(SELECT doc_id, text AS t FROM documents " +
           "WHERE text IS NOT NULL AND length(text) >= 1 AND doc_id % 50 <> 0)")}),
       |post AS (SELECT doc_id, md5(c) AS h FROM
       |           (SELECT doc_id, unnest(list_distinct(chunks)) AS c FROM ch)),
       |own AS (SELECT h, MIN(doc_id) AS owner, COUNT(*) AS ndocs
       |        FROM post GROUP BY 1)
       |SELECT p.doc_id,
       |       COUNT(*) AS n_chunks,
       |       CAST(SUM(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS dup_chunks,
       |       CAST(SUM(CASE WHEN o.ndocs > 1 AND o.owner <> p.doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) AS trim_chunks,
       |       SUM(CASE WHEN o.ndocs > 1 THEN 1 ELSE 0 END) * 2 > COUNT(*) AS drop_doc
       |FROM post p JOIN own o USING (h)
       |GROUP BY 1""".stripMargin

  /** Gate: the SAME maintenance driven by Structured Streaming —
    * documents arrive as micro-batches and each is appended to the
    * persisted index ([[IndexMaintenance.streamAppends]]). The index would
    * not need the shared applied-batch guard: a re-delivered batch's
    * verbatim posting rows vanish under the read-time distinct anyway.
    */
  def streamCdcIndex(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_scdc_").toString
    Similarity.withPersisted(Tables.documents(s, d)) { docs =>
      init(docs.filter(col("doc_id") < 200), root)
      IndexMaintenance.streamAppends(root, docs.filter(col("doc_id") >= 200),
        (col("doc_id") >= 350).cast("int"))(append(_, root))
    }
    stats(s, root)
  }

  val defs: Map[String, QueryFn] = Map(
    "x_cdc_incremental" -> (cdcIncremental _),
    "c29_cdc_erasure" -> (cdcErasure _),
    "s_stream_cdc_index" ->
      graft.streaming.Streams.withReducedShuffle(streamCdcIndex _))

  val oracles: Map[String, String] = Map(
    "x_cdc_incremental" -> Dedup.cdcDedupOracle,
    "c29_cdc_erasure" -> cdcErasureOracle,
    "s_stream_cdc_index" -> Dedup.cdcDedupOracle)
}
