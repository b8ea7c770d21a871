package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** `lake_ingest`: a seeded stream of work against one versioned catalog
  * table (`orders`) and one warehouse dimension (`dim_customer`, the
  * latest order per customer).
  *
  * One cycle is 8 operations, in this order:
  *  - ingest: an orders micro-batch is landed as a file, read by a
  *    file-source stream with an AvailableNow trigger, appended to the
  *    table (`CopyOnWrite.appendEpoch`) and upserted into the dimension
  *    (`Warehouse.mergeIntoTable`);
  *  - SQL commits: `MERGE INTO`, `UPDATE` and key `DELETE`, on keys
  *    drawn from a skewed seeded distribution;
  *  - reads: a `table_changes` read of the ingest's commit (after the
  *    ingest), a range-filtered latest read and a time-travel read (after
  *    the merge) and a dimension read (last).
  * A timed round is [[CyclesPerRound]] cycles, then maintenance:
  * `CALL system.compact` and `CALL system.vacuum`. Between compactions
  * the table gains files, so the range reads meet several live files and
  * the stats pruning in front of them has files to skip. The warm-up
  * round is one cycle and the maintenance, so every operation runs once.
  *
  * Every operation is appended to `<work>/oplog.jsonl` with its inputs,
  * the table versions it saw and what it read, so the DuckDB replay can
  * check each read and the final table and dimension.
  */
final class LakeIngest(data: String, work: String, seed: Long) extends Workload {
  private val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  private val Table = "orders"
  private val Dim = "dim_customer"
  private val NewKeyBase = 1000000000L
  private val Stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Landing files prepared with the inputs: name, rows, largest key. */
  private val batches: Seq[(String, Long, Long)] = scala.io.Source
    .fromFile(s"$data/landing/batches.tsv").getLines().map(_.split('\t'))
    .map(a => (a(0), a(1).toLong, a(2).toLong)).toSeq

  val CyclesPerRound = 2
  // one round (18 operations) already outlasts the run's seconds
  def minRounds: Int = 1

  private val root = Paths.get(work, "lake").toString
  private val whRoot = Paths.get(work, "warehouse").toString
  private val landing = Paths.get(work, "landing").toString
  private val ckpt = Paths.get(work, "checkpoint").toString
  private val cat = "lake"
  private val rng = new scala.util.Random(seed)
  private var spark: SparkSession = _
  private var schema: StructType = _
  private var nextBatch = 0
  private var newKeys = 0L
  private var maxKey = 0L
  private var versions = mutable.ArrayBuffer.empty[Int]
  private var log: java.io.PrintWriter = _
  /** (admitted, live) files of each range read's stats-pruned scan. */
  private val prunes = mutable.ArrayBuffer.empty[(Int, Int)]

  def prepare(s: SparkSession): Unit = {
    spark = s
    Files.createDirectories(Paths.get(landing))
    s.conf.set(s"spark.sql.catalog.$cat", classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    log = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(work, "oplog.jsonl")))

    val init = s.read.parquet(s"$data/landing/init.parquet").select(Cols.map(col): _*)
    schema = init.schema
    graft.lake.Lake.writeTableSnapshot(init, root, Table)
    graft.warehouse.Warehouse.mergeIntoTable(s, whRoot, Dim, init,
      keys = Seq("o_custkey"), orderCols = Seq("o_orderdate", "o_orderkey"))
    maxKey = init.agg(org.apache.spark.sql.functions.max("o_orderkey")).head.getLong(0)
    versions = mutable.ArrayBuffer(latest())
    record("op" -> "init", "version" -> versions.last)
  }

  private def latest(): Int = graft.lake.Lake.latestVersion(spark, root, Table).getOrElse(0)

  private def sql(q: String): Array[Row] = spark.sql(q).collect()

  /** A key from a skewed distribution over the keys ingested so far. */
  private def hotKey(): Long = (maxKey * math.pow(rng.nextDouble(), 3)).toLong

  /** Append one JSON line to the operation log. */
  private def record(fields: (String, Any)*): Unit = {
    def v(x: Any): String = x match {
      case s: String => Main.q2(s)
      case xs: Seq[_] => xs.map(v).mkString("[", ", ", "]")
      case other => String.valueOf(other)
    }
    log.println(fields.map { case (k, x) => s"${Main.q2(k)}: ${v(x)}" }.mkString("{", ", ", "}"))
    log.flush()
  }

  /** A committing operation: runs `body` timed, then logs the versions. */
  private def commit(kind: String, name: String)(body: () => Seq[(String, Any)]): Op =
    Op(kind, name, () => {
      val pre = versions.last
      val fields = Trace.span("lake")(body())
      () => {
        val post = latest()
        if (post != pre) versions += post
        record((Seq("op" -> name, "pre" -> pre, "post" -> post) ++ fields): _*)
        ""
      }
    })

  private def read(name: String)(body: () => (Seq[(String, Any)])): Op =
    Op("read", name, () => {
      val fields = body()
      () => { record((("op" -> name) +: fields): _*); "" }
    })

  private def ingest: Op = Op("ingest", "ingest", () => {
    val (file, rows, top) = batches(nextBatch)
    nextBatch += 1
    // landing: the batch file appears in the directory the stream reads
    Files.copy(Paths.get(data, "landing", file), Paths.get(landing, file))
    val pre = versions.last
    Trace.span("streaming") {
      spark.readStream.schema(schema).parquet(landing).writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          batch.persist()
          try {
            Trace.span("lake")(graft.lake.CopyOnWrite.appendEpoch(batch, root, Table, "ingest", epoch))
            Trace.span("warehouse")(graft.warehouse.Warehouse.mergeIntoTable(batch.sparkSession,
              whRoot, Dim, batch, keys = Seq("o_custkey"), orderCols = Seq("o_orderdate", "o_orderkey")))
          } finally batch.unpersist()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    Trace.add(Trace.currentOpId, "warehouse.rows_upserted", rows.toDouble)
    () => {
      val post = latest()
      versions += post
      maxKey = math.max(maxKey, top)
      record("op" -> "ingest", "pre" -> pre, "post" -> post, "file" -> file, "rows" -> rows)
      ""
    }
  })

  private def merge: Op = commit("commit", "merge") { () =>
    val old = Seq.fill(15)(hotKey()).distinct
    val fresh = Seq.fill(5) { newKeys += 1; NewKeyBase + newKeys }
    val rows = (old ++ fresh).map { k =>
      Row(k, (rng.nextInt(1000) + 1).toLong, Seq("F", "O", "P")(rng.nextInt(3)),
        (rng.nextInt(50000000) + 100000) / 100.0,
        java.time.LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rng.nextInt(2400).toLong),
        s"${rng.nextInt(5) + 1}-MERGED")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).createOrReplaceTempView("merge_src")
    sql(s"""MERGE INTO $cat.tables.$Table t USING merge_src s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice, t.o_orderstatus = s.o_orderstatus
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    Seq("rows" -> rows.map(r => Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
      r.getAs[java.time.LocalDateTime](4).format(Stamp), r.getString(5))))
  }

  private def update: Op = commit("commit", "update") { () =>
    val keys = Seq.fill(5)(hotKey()).distinct
    val p = s"${rng.nextInt(5) + 1}-UPDATED"
    sql(s"UPDATE $cat.tables.$Table SET o_orderpriority = '$p' WHERE o_orderkey IN (${keys.mkString(", ")})")
    Seq("keys" -> keys, "priority" -> p)
  }

  private def delete: Op = commit("commit", "delete") { () =>
    val k = hotKey()
    sql(s"DELETE FROM $cat.tables.$Table WHERE o_orderkey = $k")
    Seq("key" -> k)
  }

  private def compact: Op = commit("maintenance", "compact") { () =>
    sql(s"CALL $cat.system.compact('$Table')"); Nil
  }

  private def vacuum: Op = commit("maintenance", "vacuum") { () =>
    sql(s"CALL $cat.system.vacuum('$Table')"); Nil
  }

  private val Summary = "COUNT(*) AS n, SUM(o_orderkey) AS keys, " +
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total"

  private def summary(r: Row): Seq[(String, Any)] =
    Seq("n" -> r.getLong(0), "keys" -> (if (r.isNullAt(1)) 0L else r.getLong(1)),
      "total" -> Option(r.getString(2)).getOrElse("0"))

  private def readLatest: Op = read("read_latest") { () =>
    val lo = hotKey(); val hi = lo + 500
    val pruned = org.apache.spark.sql.graft.GraftCatalog.lastStatsPrune
    pruned.set((0, 0))
    val r = sql(s"SELECT $Summary FROM $cat.tables.$Table WHERE o_orderkey BETWEEN $lo AND $hi").head
    if (pruned.get._2 > 0) prunes += pruned.get
    Seq("version" -> versions.last, "lo" -> lo, "hi" -> hi) ++ summary(r)
  }

  private def readTimeTravel: Op = read("read_tt") { () =>
    val recent = versions.takeRight(4)
    val v = recent(rng.nextInt(recent.size))
    Seq("version" -> v) ++ summary(sql(s"SELECT $Summary FROM $cat.tables.$Table VERSION AS OF $v").head)
  }

  private def readChanges: Op = read("read_changes") { () =>
    val from = versions(math.max(0, versions.size - 2))
    val counts = sql(s"SELECT change, COUNT(*) FROM table_changes('$cat.tables.$Table', $from, 'o_orderkey') " +
      "GROUP BY change").map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.toSeq
    Seq("from" -> from, "to" -> versions.last, "changes" -> counts)
  }

  private def readDim: Op = read("read_dim") { () =>
    val df = graft.lake.Lake.readTableFeed(spark, whRoot, Dim)
    df.createOrReplaceTempView("dim_now")
    Seq("batches" -> nextBatch) ++ summary(sql(s"SELECT $Summary FROM dim_now").head)
  }

  private def cycle: Seq[Op] = Seq(
    ingest, readChanges, merge, readLatest, readTimeTravel, update, delete, readDim)

  def round(r: Int): Seq[Op] =
    Seq.fill(if (r == 0) 1 else CyclesPerRound)(cycle).flatten ++ Seq(compact, vacuum)

  def finish(s: SparkSession): Unit = {
    log.close()
    val v = latest()
    graft.lake.Lake.readTableFeed(s, root, Table, Some(v)).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/out/table")
    graft.lake.Lake.readTableFeed(s, whRoot, Dim).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/out/dim")
    storedBytes = Seq(root, whRoot).map(p => dirBytes(Paths.get(p))).sum
    inputBytes = Files.size(Paths.get(data, "landing", "init.parquet")) +
      batches.take(nextBatch).map(b => Files.size(Paths.get(data, "landing", b._1))).sum
  }

  private var storedBytes, inputBytes = 0L

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally s.close()
  }

  override def extras(recs: Seq[Record]): Map[String, Double] = {
    def walls(kinds: String*) = recs.filter(r => kinds.contains(r.op.kind)).map(_.wallS).sorted
    def q(xs: Seq[Double], p: Double) =
      if (xs.isEmpty) Double.NaN else xs(math.min(xs.size - 1, (p * xs.size).toInt))
    val ing = walls("ingest")
    val timedBatches = batches.take(nextBatch).takeRight(recs.count(_.op.kind == "ingest"))
    val ingRows = timedBatches.map(_._2).sum.toDouble
    val timedPrunes = prunes.takeRight(recs.count(_.op.name == "read_latest")).toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    Map(
      "ingest_p50_s" -> Main.median(ing), "ingest_p90_s" -> q(ing, 0.9),
      "commit_p50_s" -> Main.median(walls("commit")), "commit_p90_s" -> q(walls("commit"), 0.9),
      "read_p50_s" -> Main.median(walls("read")),
      "ingest_rows_per_s" -> ingRows / ing.sum,
      "space_amp" -> storedBytes.toDouble / inputBytes,
      "timed_input_bytes" -> timedBatches.map(b => Files.size(Paths.get(data, "landing", b._1))).sum.toDouble,
      // live files and the share the stats admit, averaged over the timed
      // range reads
      "lake.files_live" -> mean(timedPrunes.map(_._2.toDouble)),
      "lake.files_admitted_ratio" -> mean(timedPrunes.map(p => p._1.toDouble / p._2)),
    )
  }
}
