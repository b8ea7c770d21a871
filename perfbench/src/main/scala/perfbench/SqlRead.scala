package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

/** `sql_read`: a fixed, stratified sample of the engine's read-only
  * registry gates (reference `b*`, relational `d*`, TPC-H `q_tpch_*`, and
  * two `graft.ext` operators (IVF ANN search and TF-IDF)), run as `SparkEntry.queries` calls over the
  * seeded input tables in a seed-shuffled order each round. Each
  * operation collects the gate's result; the warm-up round also writes it
  * out for the DuckDB oracle check.
  */
final class SqlRead(data: String, work: String, seed: Long) extends Workload {
  val Gates: Seq[String] = Seq(
    "b1_flatten", "b4_user_summary", "d_window_rank",
    "q_tpch_q1", "q_tpch_q3", "x_ann_ivf", "x_text_tfidf")
  // three samples of each gate per run keep the typical operation time
  // from resting on one slow call
  def minRounds: Int = 3
  // round 0 runs every gate cold; a second untimed round lets the JIT
  // catch up, so less of its warm-up trend falls in the timed rounds
  override def warmupRounds: Int = 2
  private val fns = graft.SparkEntry.queries
  private var spark: SparkSession = _

  def prepare(s: SparkSession): Unit = {
    spark = s
    graft.Tables.all.foreach(t => graft.Tables.load(s, data, t).schema)
  }

  private def op(gate: String, dump: Boolean): Op = {
    val ext = gate.startsWith("x_")
    Op(if (ext) "ext" else "sql", gate, () => {
      val df = fns(gate)(spark, data)
      val rows = if (ext) Trace.span(s"ext.${gate.stripPrefix("x_")}")(df.collect()) else df.collect()
      () => {
        if (dump) spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$work/out/$gate")
        Digest.rows(df.schema.fieldNames.toSeq, rows.toSeq)
      }
    })
  }

  def round(r: Int): Seq[Op] =
    if (r == 0) Gates.map(op(_, dump = true))
    else new scala.util.Random(seed * 7919 + r).shuffle(Gates).map(op(_, dump = false))

  def finish(s: SparkSession): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(work, "out", "oracle_sql.json"), Gates
      .map(g => s"${Main.q2(g)}: ${Main.q2(oracles(g))}").mkString("{", ", ", "}"))
  }
}

/** Order-independent digest of a result: rows rendered with columns in
  * name order, sorted, then hashed.
  */
object Digest {
  def rows(cols: Seq[String], rows: Seq[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => String.valueOf(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(2.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
