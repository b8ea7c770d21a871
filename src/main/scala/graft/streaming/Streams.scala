package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.queries.Q
import graft.queries.Q.QueryFn

/** Structured Streaming slice (SURVEY.md §2.A2/A4/A13, §2.D streaming).
  *
  * The reference's ingestion is a Python poll loop with count-based flushes
  * (kafka_consumer_datalake.py:49-76); here the same semantics are
  * Structured Streaming: a file source stands in for Kafka (same micro-batch
  * model, no broker in this container), `Trigger.AvailableNow` gives the
  * drain-then-stop shape of the reference's `LIMIT n` pulls
  * (export_to_data_lake.py:83-85), and state (aggregates, dedup,
  * latest-per-key) lives in the state store, not a Python dict.
  *
  * Because AvailableNow over a static directory processes exactly the batch
  * a batch job would read, each streaming query here is oracle-checked
  * against plain SQL — streaming/batch parity is the correctness contract
  * (SURVEY.md §5.5).
  *
  * Scale: state-store operators key-partition the stream; watermarks bound
  * state growth for event-time windows; `maxFilesPerTrigger` (or Kafka's
  * `maxOffsetsPerTrigger`) bounds batch size — the knobs that keep a
  * 100 TB/day stream inside executor memory.
  */
object Streams {

  /** Streaming view of an events parquet file/dir (nanos ts → ts_us long).
    * The file source requires a directory, so the single testdata file is
    * staged into a scratch dir (in production this is the landing directory
    * a collector drops files into — or a Kafka source).
    */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // stage once per sfDir — every streaming query shares the copy. The
    // source may be a single parquet file (driver testdata) or a directory
    // of part files (ScaleUp output); stage every data file either way.
    val path = stagedDirs.computeIfAbsent(dir, { d =>
      val staged = graft.Tmp.dir("graft_src_")
      val src = java.nio.file.Paths.get(graft.Tables.path(d, "events"))
      if (Files.isDirectory(src)) {
        val listing = Files.list(src)
        try {
          val it = listing.iterator()
          while (it.hasNext) {
            val f = it.next()
            if (f.getFileName.toString.endsWith(".parquet"))
              Files.copy(f, staged.resolve(f.getFileName.toString))
          }
        } finally listing.close()
      } else Files.copy(src, staged.resolve("events.parquet"))
      staged.toString
    })
    val schema = s.read.parquet(path).schema
    s.readStream.schema(schema).parquet(path)
      .withColumn("ts_us", graft.Tables.tsUsCol(schema("ts").dataType))
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
  }

  /** Stage a frame as `nChunks` files split by `keyCol % nChunks` so a
    * `maxFilesPerTrigger=1` stream drains them as sequential micro-batches
    * whose rows interleave across chunks (out of event-time order when the
    * key correlates with time). Returns (glob path, chunk schema).
    */
  private def stageChunks(
      df: DataFrame, keyCol: String,
      nChunks: Int): (String, org.apache.spark.sql.types.StructType) = {
    val staged = graft.Tmp.dir("graft_chunks_")
    writeChunksOrdered(df, pmod(col(keyCol), lit(nChunks)), staged.toString)
    (s"$staged/chunk=*", df.schema)
  }

  /** Stage `df` under `dir/chunk=N` in ONE partitioned write (the previous
    * shape — one filtered job per chunk — paid a full job launch + commit
    * per chunk, pure scheduling floor across every multi-batch gate), then
    * pin each chunk file's modification time to a strictly increasing
    * value: `FileStreamSource` orders files by modTime (ascending under the
    * default `latestFirst=false`), so the touch makes a
    * `maxFilesPerTrigger=1` drain process chunk 0, 1, 2, … exactly as the
    * sequential writes did — deterministically, not by listing-order luck.
    * Timestamps sit in the past so any file staged afterwards (watermark
    * sentinels) sorts after every chunk.
    */
  private[graft] def writeChunksOrdered(
      df: DataFrame, chunkExpr: org.apache.spark.sql.Column, dir: String): Unit = {
    val s = df.sparkSession
    df.withColumn("chunk", chunkExpr)
      .repartition(col("chunk"))
      .write.mode(SaveMode.Append).partitionBy("chunk").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val chunkDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("chunk="))
      .sortBy(st => st.getPath.getName.stripPrefix("chunk=").toInt)
    val base = System.currentTimeMillis() - 3600L * 1000 // 1h ago « maxFileAge
    chunkDirs.zipWithIndex.foreach { case (cd, i) =>
      fs.listStatus(cd.getPath).filter(_.isFile).foreach { f =>
        fs.setTimes(f.getPath, base + i * 2000L, -1)
      }
    }
  }

  /** The staging recipe shared by the multi-batch state, streaming-upsert
    * and exactly-once gates: events keyed by `event_id` (time-interleaved).
    */
  private def stageInterleavedEventChunks(
      s: SparkSession, d: String, nChunks: Int): (String, org.apache.spark.sql.types.StructType) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(graft.Tables.path(d, "events"))
    val ev = raw
      .withColumn("ts_us", graft.Tables.tsUsCol(raw.schema("ts").dataType))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
    stageChunks(ev, "event_id", nChunks)
  }

  /** Run a streaming DF to completion into a memory sink, return the table.
    * Pass `checkpoint` to control the location (e.g. to read the state
    * store back afterwards); by default a scratch dir is used.
    */
  private def drain(
      df: DataFrame, mode: OutputMode,
      checkpoint: Option[String] = None): DataFrame = {
    val s = df.sparkSession
    val name = "graft_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation",
        checkpoint.getOrElse(graft.Tmp.dir("graft_ckpt_").toString))
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)
    s.table(name)
  }

  /** Run `df` to completion under `Trigger.AvailableNow`, handing every
    * micro-batch and its batch id to `fn` — the `foreachBatch` twin of
    * [[drain]], and the one place a query of this engine calls
    * `foreachBatch`.
    */
  def drainBatches(df: DataFrame, checkpoint: String)(
      fn: (DataFrame, Long) => Unit): Unit =
    awaitDrained(df.writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start())

  /** Sink id of the epoch receipts ([[graft.lake.CopyOnWrite.appendEpoch]])
    * that a maintained index's appends stamp on its state tables.
    */
  private[graft] val IndexSink = "index"

  /** The epoch the next append to the index under `root` commits: one past
    * the newest [[IndexSink]] receipt on `frontier`, the state table every
    * append of that index commits last, or 0 before its first append.
    */
  private[graft] def nextIndexEpoch(s: SparkSession, root: String, frontier: String): Long =
    graft.lake.CopyOnWrite.latestEpochOf(s, root, frontier, IndexSink).fold(0L)(_._2 + 1)

  /** Drive a maintained index's `append` from Structured Streaming, the
    * continuous ingest shape: `rows` is staged as one file per `chunk`
    * value (an int column) in one ordered write ([[writeChunksOrdered]]),
    * then drained one file per trigger, in chunk order, and every
    * micro-batch goes to `append` at most once ([[appliedOnce]]).
    * `frontier` is the index's last-committed state table.
    */
  def streamAppends(root: String, frontier: String, rows: DataFrame,
      chunk: org.apache.spark.sql.Column)(append: DataFrame => Unit): Unit = {
    val staged = graft.Tmp.dir("graft_index_src_").toString
    writeChunksOrdered(rows, chunk, staged)
    drainChunks(rows.sparkSession, root, frontier, staged, rows.schema)(append)
  }

  /** The drain half of [[streamAppends]] over an already staged `staged`
    * directory of `chunk=N` files.
    */
  private[graft] def drainChunks(
      s: SparkSession, root: String, frontier: String, staged: String,
      schema: org.apache.spark.sql.types.StructType)(append: DataFrame => Unit): Unit =
    drainBatches(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/chunk=*"),
      graft.Tmp.dir("graft_index_ckpt_").toString)(appliedOnce(s, root, frontier)(append))

  /** The per-batch function of [[streamAppends]]. Structured Streaming is
    * at-least-once into `foreachBatch`: a batch whose append committed but
    * whose checkpoint write failed is re-delivered after a restart. Each
    * index append stamps one epoch on every table it commits, `frontier`
    * last, so batch `id` is epoch `first + id`, where `first` is the
    * index's next epoch when the drive starts (the drive's checkpoint is
    * its own, so its batch ids start at 0). A batch whose epoch the
    * frontier already holds is skipped before `append` runs, which
    * [[graft.ext.IncrementalLsh]]'s monotone-id `require` would otherwise
    * reject. A batch that died mid-append runs again, and the receipts on
    * the tables it did commit make those commits no-ops.
    */
  private[graft] def appliedOnce(s: SparkSession, root: String, frontier: String)(
      append: DataFrame => Unit): (DataFrame, Long) => Unit = {
    val first = nextIndexEpoch(s, root, frontier)
    (batch, id) => if (nextIndexEpoch(s, root, frontier) <= first + id) append(batch)
  }

  private val DrainTimeoutMs = 10L * 60 * 1000

  /** Wait for an `AvailableNow` query to finish, at most `DrainTimeoutMs`:
    * a query that is still active then is stopped and fails its caller
    * instead of hanging it. A failed query rethrows its error here.
    */
  private[graft] def awaitDrained(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (!q.awaitTermination(DrainTimeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"AvailableNow query ${q.id} still active after ${DrainTimeoutMs / 1000} s")
    }

  /** Continuous grouped aggregation (B4's streaming shape): per event_type
    * running totals in update/complete-mode state.
    */
  def streamAgg(s: SparkSession, d: String): DataFrame =
    drain(
      eventsStream(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          Q.moneySum(col("value")).as("total"),
          Q.moneyAvg(col("value")).as("avg_value")),
      OutputMode.Complete())

  val streamAggOracle: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM events GROUP BY 1""".stripMargin

  /** Streaming `observe()` metrics: per-micro-batch data-quality telemetry
    * (row count, exact decimal value mass, event-time high-water mark)
    * riding the EXISTING plan as accumulator-backed observed metrics — no
    * second pass, no extra scan, no sink change. This is the monitoring
    * primitive a 100-TB pipeline runs on every hop (row counts and value
    * mass per batch reconcile source against sink; the high-water mark
    * tracks freshness); at scale the per-batch rows land in the metrics
    * feed instead of a driver list.
    *
    * The stream drains 4 staged chunks (`event_id % 4`) one file per
    * trigger, so the per-batch metric rows are deterministic and the
    * oracle recomputes them as per-chunk batch aggregates: every row must
    * be observed in exactly one batch, and the decimal mass re-totalled
    * across batches equals the table truth — the exactly-once observation
    * contract. Metrics come from `StreamingQuery.recentProgress` after
    * `AvailableNow` terminates (synchronous, unlike the listener bus).
    */
  def streamObserve(s: SparkSession, d: String): DataFrame = {
    val (glob, schema) = stageInterleavedEventChunks(s, d, 4)
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(glob)
      .observe("metrics",
        count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).as("value_mass"),
        max(col("ts_us")).as("max_ts_us"))
      .writeStream.format("noop")
      .option("checkpointLocation", graft.Tmp.dir("graft_obs_ck_").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)
    val batches = q.recentProgress.toSeq.flatMap { p =>
      Option(p.observedMetrics.get("metrics")).map { m =>
        (p.batchId, m.getAs[Long]("n_rows"),
          m.getDecimal(m.fieldIndex("value_mass")).doubleValue(),
          m.getAs[Long]("max_ts_us"))
      }
    }.filter(_._2 > 0)
    import s.implicits._
    batches.toDF("batch", "n_rows", "value_mass", "max_ts_us")
  }

  val streamObserveOracle: String =
    """SELECT event_id % 4 AS batch, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_mass,
      |       MAX(epoch_ns(ts) // 1000) AS max_ts_us
      |FROM events GROUP BY 1""".stripMargin

  /** Late-data CAPTURE: watermarks make Spark silently DROP rows older
    * than the allowed lateness — correct for bounding state, but at
    * 100 TB/day "silently" is a data-loss hole. This operator is the
    * event-time complement of the wire dead-letter path
    * ([[wireQuarantine]]): every row is routed, none dropped — rows older
    * than (high-water mark − lateness) land in a QUARANTINE partition
    * with provenance (deciding batch id), on-time rows land in the main
    * feed, and the high-water mark itself is persisted durably per batch
    * (restart-safe: a rebooted stream keeps the old watermark instead of
    * re-admitting everything).
    *
    * One job per batch: rows are tagged and written once through a
    * disposition-partitioned sink; the batch maximum event time rides the
    * SAME write as an `Observation` metric (no second scan). The stream
    * drains 4 interleaved chunks (`event_id % 4`) one file per trigger, so
    * the hwm evolution is deterministic and the oracle replays it as a
    * running per-batch window max: routing must match SQL exactly,
    * row-for-row.
    */
  def streamLateCapture(s: SparkSession, d: String): DataFrame = {
    val (glob, schema) = stageInterleavedEventChunks(s, d, 4)
    val root = graft.Tmp.dir("graft_late_").toString
    val latenessUs = 7L * 24 * 3600 * 1000000 // 7 event-time days
    val hwmPath = s"$root/hwm"
    drainBatches(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(glob),
        graft.Tmp.dir("graft_late_ck_").toString) { (batch, id) =>
      val ss = batch.sparkSession
      val prev: Option[Long] =
        if (new java.io.File(hwmPath).exists)
          Some(ss.read.parquet(hwmPath).head.getLong(0))
        else None
      val isLate = prev match {
        case Some(h) => col("ts_us") < lit(h - latenessUs)
        case None => lit(false)
      }
      val tagged = batch
        .select(col("event_id"), col("user_id"), col("ts_us"))
        .withColumn("batch_id", lit(id))
        .withColumn("disposition", when(isLate, "late").otherwise("on_time"))
      val obs = org.apache.spark.sql.Observation()
      // epoch-keyed DYNAMIC OVERWRITE, not append: a crash after this
      // write commits but before the streaming checkpoint records the
      // batch replays it — an append would duplicate the rows; an
      // overwrite of exactly this batch's partitions converges (replays
      // route identically because the hwm file is only advanced below)
      tagged.observe(obs, max(col("ts_us")).as("mx"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "disposition")
        .parquet(s"$root/routed")
      val mx = obs.get("mx").asInstanceOf[Long]
      val hwm = math.max(prev.getOrElse(Long.MinValue), mx)
      import ss.implicits._
      // overwrite AFTER the routed write committed: a crash between the
      // two replays the batch against the OLD hwm — same routing, and
      // the parquet commit protocol discards the orphaned attempt
      Seq(hwm).toDF("hwm").coalesce(1).write.mode("overwrite").parquet(hwmPath)
    }
    s.read.parquet(s"$root/routed")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("batch_id").cast("long").as("batch_id"),
        col("disposition").cast("string").as("disposition"))
  }

  val streamLateCaptureOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
      |         event_id % 4 AS b
      |  FROM events),
      |bm AS (SELECT b, MAX(ts_us) AS mx FROM e GROUP BY b),
      |hw AS (SELECT b, MAX(mx) OVER (ORDER BY b
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_prev
      |       FROM bm)
      |SELECT e.event_id, e.user_id, e.ts_us, e.b AS batch_id,
      |       CASE WHEN hw.hwm_prev IS NOT NULL
      |                  AND e.ts_us < hw.hwm_prev - 604800000000
      |            THEN 'late' ELSE 'on_time' END AS disposition
      |FROM e JOIN hw ON e.b = hw.b""".stripMargin

  /** State-store READER (Spark 4 `statestore` data source): the persisted
    * state of a streaming aggregation, read back as a plain batch
    * DataFrame from the checkpoint — no touching the query, no foreachBatch
    * taps. This is the ops answer to "what does the stream currently
    * believe": at scale, state debugging/auditing becomes a batch query
    * over the checkpoint (per-key counts, skew hunting, reconciliation
    * against the lake). The state rows expose the aggregation buffer
    * (count + decimal sum here); the oracle recomputes the same per-key
    * aggregate from the raw table — the checkpointed state must equal the
    * batch truth exactly.
    */
  def stateReader(s: SparkSession, d: String): DataFrame = {
    val ckpt = graft.Tmp.dir("graft_state_ck_").toString
    drain(
      eventsStream(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), sum(col("value").cast("decimal(18,2)")).as("total")),
      OutputMode.Complete(), checkpoint = Some(ckpt))
    s.read.format("statestore").option("path", ckpt).load()
      .select(
        col("key.user_id").as("user_id"),
        col("value.count").as("cnt"),
        col("value.sum").cast("double").as("total"))
  }

  val stateReaderOracle: String =
    """SELECT user_id, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** Stream-STATIC enrichment join: a batch dimension joined into every
    * micro-batch — no watermark and no join state (only stream-stream
    * joins buffer rows; the static side is re-planned per batch, so dim
    * updates are picked up at the next trigger). This is the "attach user
    * attributes to the clickstream" shape. The dim join is UNHINTED:
    * customer scales with the corpus, and stream-static joins re-plan
    * per micro-batch, so the size-based broadcast choice is made fresh
    * each trigger — the batch never shuffles while the slim 2-column
    * projection fits `autoBroadcastJoinThreshold`, and degrades to a
    * shuffle join (never an 8 GB-cap failure) when the dim outgrows it.
    * The per-key aggregate state stays bounded by the dim's segment
    * cardinality either way.
    */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    drain(
      eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("events"), Q.moneySum(col("value")).as("total")),
      OutputMode.Complete())
  }

  val streamEnrichOracle: String =
    """SELECT c_mktsegment, COUNT(*) AS events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1""".stripMargin

  /** Event-time tumbling window + watermark (absent in the reference —
    * SURVEY.md §2.D flags this as the principled alternative to its
    * arrival-date partitioning).
    */
  def streamWindow(s: SparkSession, d: String): DataFrame =
    drain(
      eventsStream(s, d)
        .withWatermark("event_ts", "1 hour")
        .groupBy(window(col("event_ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("cnt")),
      OutputMode.Complete())
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("cnt"))

  val streamWindowOracle: String =
    """SELECT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS win_start_us,
      |       event_type, COUNT(*) AS cnt
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Windowed approximate-distinct in streaming state — the cardinality
    * dashboard every 100 TB/day pipeline runs: per (day window,
    * event_type), HLL-family sketches (`approx_count_distinct` + the
    * DataSketches `hll_sketch_agg`) accumulate distinct users ACROSS
    * micro-batches in the state store, where an exact distinct would hold
    * every key in state forever. The sketch estimates are
    * engine/merge-order specific, so — the `x_sketch_bounds` pattern —
    * the gate joins a batch exact recompute and ships the ±5% envelope
    * (5σ at rsd 0.01) as exact booleans the oracle derives as constants,
    * plus the exact counts it recomputes. Complete mode keeps every
    * window for the final emission at gate scale; production uses the
    * same plan with Append + the declared watermark so closed windows
    * evict and each holds O(sketch) state, not O(users).
    */
  def streamApproxDistinct(s: SparkSession, d: String): DataFrame = {
    val agged = drain(
      eventsStream(s, d)
        .withWatermark("event_ts", "1 hour")
        .groupBy(window(col("event_ts"), "1 day"), col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll_users")),
      OutputMode.Complete())
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("approx_users"), col("hll_users"))
    val exact = graft.Tables.events(s, d)
      .select(
        (col("ts_us") - pmod(col("ts_us"), lit(86400000000L))).as("win_start_us"),
        col("event_type"), col("user_id"))
      .groupBy(col("win_start_us"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("events"))
    agged.join(exact, Seq("win_start_us", "event_type"))
      .select(col("win_start_us"), col("event_type"),
        col("exact_users"), col("events"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * 0.05).as("approx_within_5pct"),
        (abs(col("hll_users") - col("exact_users"))
          <= col("exact_users") * 0.05).as("hll_within_5pct"))
  }

  val streamApproxDistinctOracle: String =
    """SELECT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS win_start_us,
      |       event_type, COUNT(DISTINCT user_id) AS exact_users,
      |       COUNT(*) AS events,
      |       TRUE AS approx_within_5pct, TRUE AS hll_within_5pct
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Event-time session windows in streaming state (1-hour gap): the
    * stateful counterpart of the batch gaps-and-islands operator
    * (`d_sessionize`), which doubles as its oracle — session membership
    * must agree between the two constructions.
    */
  def streamSessions(s: SparkSession, d: String): DataFrame =
    drain(
      eventsStream(s, d)
        .withWatermark("event_ts", "1 hour")
        .groupBy(session_window(col("event_ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("events")),
      OutputMode.Complete())
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("events"))

  // Spark's session_window merges an event iff its gap to the window end is
  // STRICTLY below the gap duration, so the islands construction uses >=
  // for the new-session mark (the two differ only on exact-1h gaps, absent
  // from ns-precision data).
  val streamSessionsOracle: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |         CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
      |                OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w >= 3600000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)),
      |sessions AS (
      |  SELECT user_id, ts_us,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked)
      |SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS events
      |FROM sessions GROUP BY user_id, session_id""".stripMargin

  /** Streaming exact dedup on a key (B9's upsert cousin; dropDuplicates
    * keeps first-seen per key in state).
    */
  def streamDedup(s: SparkSession, d: String): DataFrame =
    drain(
      eventsStream(s, d)
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt")),
      OutputMode.Complete())

  val streamDedupOracle: String =
    """SELECT event_type, COUNT(*) AS cnt
      |FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events
      |      ORDER BY event_id)
      |GROUP BY 1""".stripMargin

  // public: Spark codegen materializes these via generated accessors
  case class Ev(user_id: Long, event_id: Long, ts_us: Long, value: Double)
  case class Latest(user_id: Long, event_id: Long, ts_us: Long, value: Double)

  /** Custom keyed state via mapGroupsWithState: latest event per user (B9 as
    * a continuously-maintained table). The in-group reduce is commutative,
    * so batch iterator order cannot change the result.
    */
  def streamLatestPerUser(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val typed = eventsStream(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      .as[Ev]
    val updated = typed
      .groupByKey(_.user_id)
      .mapGroupsWithState[Latest, Latest](GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[Latest]) =>
          val incoming = rows.reduce((a, b) =>
            if (a.ts_us > b.ts_us || (a.ts_us == b.ts_us && a.event_id > b.event_id)) a else b)
          val best = state.getOption match {
            case Some(cur) if cur.ts_us > incoming.ts_us ||
              (cur.ts_us == incoming.ts_us && cur.event_id > incoming.event_id) => cur
            case _ => Latest(user, incoming.event_id, incoming.ts_us, incoming.value)
          }
          state.update(best)
          best
      }
    drain(updated.toDF(), OutputMode.Update())
  }

  val streamLatestOracle: String =
    """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin

  /** Multi-micro-batch state: the events file is split into four chunk
    * files and the source capped at ONE file per trigger, so AvailableNow
    * runs four sequential micro-batches — keyed state must carry across
    * batches (unlike the single-batch queries above, where state never
    * survives a trigger). The in-group reduce and the cross-batch state
    * update are both commutative, so batch order cannot change the result,
    * and the final table must equal the plain batch oracle.
    */
  def streamMultiBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (glob, schema) = stageInterleavedEventChunks(s, d, nChunks = 4)
    val stream = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(glob)
      .as[Ev]
    val latest = stream
      .groupByKey(_.user_id)
      .mapGroupsWithState[Latest, Latest](GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[Latest]) =>
          val incoming = rows.reduce((a, b) =>
            if (a.ts_us > b.ts_us || (a.ts_us == b.ts_us && a.event_id > b.event_id)) a else b)
          val best = state.getOption match {
            case Some(cur) if cur.ts_us > incoming.ts_us ||
              (cur.ts_us == incoming.ts_us && cur.event_id > incoming.event_id) => cur
            case _ => Latest(user, incoming.event_id, incoming.ts_us, incoming.value)
          }
          state.update(best)
          best
      }
    // Update mode emits a row per key per batch; the LAST emission per key
    // is the final state — reduce the sink table the same way.
    val emitted = drain(latest.toDF(), OutputMode.Update())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us").desc, col("event_id").desc)
    emitted.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  // same semantics as the single-batch stateful query — deliberately the
  // identical oracle, so the two must agree with batch AND each other
  val streamMultiBatchOracle: String = streamLatestOracle

  /** A6's streaming shape: continuous ingestion into the date-partitioned
    * lake via a parquet sink, then read back through the lake (the full
    * kafka_consumer_datalake.py pipeline, Spark-native).
    */
  def streamIngestLake(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_slake_").toString
    val q = eventsStream(s, d)
      .withColumn("year", year(col("event_ts")))
      .withColumn("month", month(col("event_ts")))
      .withColumn("day", dayofmonth(col("event_ts")))
      .select("event_id", "user_id", "event_type", "value", "year", "month", "day")
      .writeStream
      .format("parquet")
      .partitionBy("year", "month", "day")
      .option("path", s"$root/streams/events")
      .option("checkpointLocation", graft.Tmp.dir("graft_ckpt_").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)
    s.read.parquet(s"$root/streams/events")
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("cnt"), Q.moneySum(col("value")).as("total"))
  }

  /** Streaming sink into a VERSIONED CATALOG TABLE — the lake story's
    * closing piece: `writeStream` commits each micro-batch as a new
    * snapshot version through [[graft.lake.CopyOnWrite.appendEpoch]]
    * (O(batch) small-file COW append + full-carry manifest; the
    * `_epoch_<sinkId>_<n>` receipt staged into the version dir makes a
    * foreachBatch replay exactly-once — the crash-after-commit replay
    * finds its receipt and returns instead of re-appending). Maintenance
    * is `CALL system.compact_files` — the incremental bin-pack that
    * absorbs the small files streaming appends mint. Every committed
    * version stays time-travel readable SQL, so a stream's history is a
    * first-class version ledger.
    */
  def streamToCatalogTable(
      df: DataFrame, root: String, name: String, sinkId: String,
      checkpoint: String): Unit =
    drainBatches(df, checkpoint) { (batch, epochId) =>
      graft.lake.CopyOnWrite.appendEpoch(batch, root, name, sinkId, epochId)
    }

  /** The `s_stream_catalog_sink` gate: 4 interleaved micro-batches stream
    * into a versioned table (one snapshot version per epoch, every append
    * carrying prior files by reference), a REPLAYED epoch is pinned as a
    * no-op, `CALL system.compact_files` bin-packs the epoch files, and the
    * result aggregates through catalog SQL against the DuckDB oracle over
    * raw events.
    */
  def streamCatalogSink(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_scat_").toString
    val (glob, schema) = stageInterleavedEventChunks(s, d, nChunks = 4)
    streamToCatalogTable(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(glob),
      root, "ev_cat", "sinkA",
      graft.Tmp.dir("graft_ckpt_").toString)
    val vs = graft.lake.Lake.versions(s, root, "ev_cat")
    require(vs.size >= 4, s"one version per micro-batch epoch (got ${vs.size})")
    require(vs.drop(1).forall(v =>
      graft.lake.Lake.hasManifest(s, root, "ev_cat", v)),
      "every append must carry prior files by reference — O(batch) commits")
    // a replayed epoch (crash after commit, before the checkpoint
    // advanced) must be swallowed by its receipt, never re-appended
    val latestBefore = vs.max
    graft.lake.CopyOnWrite.appendEpoch(
      s.read.schema(schema).parquet(glob).limit(25),
      root, "ev_cat", "sinkA", 0)
    require(graft.lake.Lake.versions(s, root, "ev_cat").max == latestBefore,
      "a replayed epoch must be a no-op")
    val cat = org.apache.spark.sql.graft.GraftCatalog.register(s, root)
    // the maintenance loop: incremental bin-pack of the per-epoch files
    val packed = s.sql(s"CALL $cat.system.compact_files('ev_cat', 64)")
      .head().getInt(0)
    require(graft.lake.Lake.readTableFeed(s, root, "ev_cat", Some(packed))
      .count() == graft.lake.Lake.readTableFeed(s, root, "ev_cat", Some(latestBefore))
      .count(), "compaction is content-preserving")
    s.sql(s"SELECT user_id % 16 AS ug, value FROM $cat.tables.ev_cat")
      .groupBy("ug")
      .agg(count(lit(1)).as("cnt"),
        graft.queries.Q.moneySum(col("value")).as("total"))
  }

  val streamCatalogSinkOracle: String =
    """SELECT user_id % 16 AS ug, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** foreachBatch → warehouse MERGE: the canonical streaming-upsert pattern
    * (kafka_consumer_warehouse.py's consume→flush→upsert loop, §3.4, done
    * Spark-native). The events file is split into four time-INTERLEAVED
    * chunks (`event_id % 4`) drained one file per trigger, so four
    * sequential micro-batches arrive with rows OLDER than already-merged
    * ones — the real out-of-order arrival case. Because `Warehouse.merge`
    * is true latest-wins (orderCols before source), the final table still
    * equals the batch latest-per-key result regardless of batch boundaries,
    * which is exactly what the oracle asserts.
    */
  def streamUpsertWarehouse(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_supsert_").toString
    val (glob, schema) = stageInterleavedEventChunks(s, d, nChunks = 4)
    drainBatches(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(glob),
        graft.Tmp.dir("graft_ckpt_").toString) { (batch, _) =>
      // merge resolves within-batch duplicates itself (latest by
      // orderCols), so the raw batch goes straight in — no extra
      // pre-reduce shuffle per micro-batch
      graft.warehouse.Warehouse.mergeIntoTable(
        batch.sparkSession, root, "user_latest", batch,
        keys = Seq("user_id"), orderCols = Seq("ts_us", "event_id"))
    }
    graft.lake.Lake.readTableFeed(s, root, "user_latest")
  }

  /** One stream, TWO destinations — the reference's actual topology run as
    * a single query: kafka_consumer_datalake.py appends raw parquet while
    * kafka_consumer_warehouse.py upserts serving rows, each with its own
    * consumer group re-reading the topic. Here ONE `foreachBatch` fans
    * each micro-batch out to both sinks — the raw archive append and the
    * latest-per-user warehouse MERGE — so the source is read once per
    * batch (persist pins it across the two writes) instead of once per
    * consumer, and the two destinations can never diverge by more than
    * the in-flight batch. Cross-sink consistency is the gate's contract:
    * the final output joins per-user totals recomputed FROM THE RAW
    * ARCHIVE with the warehouse's latest rows, and the oracle rebuilds
    * both from the source table — any fanout drift breaks the hash.
    * (Sink atomicity note: the pair is not transactional; on batch replay
    * the MERGE is idempotent, and a production raw archive uses
    * epoch-named files as the DSv2 streaming sink does
    * ([[graft.sources.StatsCsvSource]]) to make the append idempotent
    * too.)
    */
  def streamFanout(s: SparkSession, d: String): DataFrame = {
    val lakeRoot = graft.Tmp.dir("graft_fan_lake_").toString
    val whRoot = graft.Tmp.dir("graft_fan_wh_").toString
    val (glob, schema) = stageInterleavedEventChunks(s, d, nChunks = 4)
    drainBatches(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(glob),
        graft.Tmp.dir("graft_ckpt_").toString) { (batch, _) =>
      graft.GraftSession.withPersisted(batch) { b =>
        b.write.mode(SaveMode.Append).parquet(s"$lakeRoot/events_raw")
        graft.warehouse.Warehouse.mergeIntoTable(
          b.sparkSession, whRoot, "user_latest", b,
          keys = Seq("user_id"), orderCols = Seq("ts_us", "event_id"))
      }
    }
    val lakeAgg = s.read.parquet(s"$lakeRoot/events_raw")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), Q.moneySum(col("value")).as("value_total"))
    graft.lake.Lake.readTableFeed(s, whRoot, "user_latest")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts_us").as("last_ts_us"), col("value").as("last_value"))
      .join(lakeAgg, Seq("user_id"))
  }

  val streamFanoutOracle: String =
    """WITH agg AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_total
      |  FROM events GROUP BY 1),
      |latest AS (
      |  SELECT user_id, event_id AS last_event_id,
      |         epoch_ns(ts) // 1000 AS last_ts_us, value AS last_value
      |  FROM events
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |                             ORDER BY ts DESC, event_id DESC) = 1)
      |SELECT l.user_id, last_event_id, last_ts_us, last_value,
      |       n_events, value_total
      |FROM latest l JOIN agg USING (user_id)""".stripMargin

  /** Streaming CDC SYNC — the change-data feed ([[graft.lake.Lake.tableChanges]])
    * consumed from a persisted version CURSOR to maintain a downstream
    * MIRROR incrementally: each tick a new source generation commits, the
    * tick polls only the versions past its cursor, applies the per-key
    * changes (upsert inserted/updated keys with values semi-joined from
    * the current snapshot, drop deleted keys) and advances the cursor.
    * The mirror is touched only where keys changed — never a full
    * re-read of the source — which is the entire point of a CDF at
    * 100 TB. Four generations plant disjoint mutation bands (insert /
    * update-by-doubling / delete / re-insert), so every per-tick change
    * count and the running mirror checksum are pure key-range arithmetic
    * the oracle replays; the mirror's decimal checksum equaling the
    * source's after every tick is the sync-correctness contract.
    */
  def streamTableChanges(s: SparkSession, d: String): DataFrame = {
    import graft.lake.Lake
    val root = graft.Tmp.dir("graft_cdc_").toString
    val o = graft.Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val k = col("o_orderkey")
    def gen(i: Long): DataFrame = i match {
      case 0 => o.filter(k <= 1000)
      case 1 => o.filter(k <= 1200).withColumn("o_totalprice",
        when(k.between(501, 1000), col("o_totalprice") * 2).otherwise(col("o_totalprice")))
      case 2 => o.filter(k.between(201, 1200))
      case _ => o.filter(k.between(201, 1400))
    }
    // 4 tick files drive 4 micro-batches (content irrelevant — the ticks
    // pace the generations; a deployed pipeline is driven by a notify
    // topic or a timer the same way)
    val ticks = graft.Tmp.dir("graft_cdc_ticks_")
    writeChunksOrdered(s.range(4).toDF("id"), col("id").cast("int"), ticks.toString)
    val schema = s.read.parquet(s"$ticks/chunk=0").schema
    drainBatches(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$ticks/chunk=*"),
        graft.Tmp.dir("graft_cdc_ck_").toString) { (_, id) =>
      val newV = Lake.writeTableSnapshot(gen(id), root, "cdc_src")
      val cursorPath = s"$root/cursor"
      val cursor: Int =
        if (new java.io.File(cursorPath).exists)
          s.read.parquet(cursorPath).head.getInt(0)
        else 0
      val (changed, applied) =
        if (cursor == 0) {
          // first consumption: the whole base snapshot is "inserted"
          val base = Lake.readTableFeed(s, root, "cdc_src", Some(newV))
          (base.select(col("o_orderkey"), lit("inserted").as("change")), base)
        } else {
          val ch = Lake.tableChanges(s, root, "cdc_src", cursor, Seq("o_orderkey"))
            .select(col("o_orderkey"), col("change"))
          val cur = Lake.readTableFeed(s, root, "cdc_src", Some(newV))
          (ch, cur.join(
            ch.filter(col("change") =!= "deleted").select(col("o_orderkey")),
            Seq("o_orderkey"), "left_semi"))
        }
      val mirrorOld: DataFrame = Lake.latestVersion(s, root, "cdc_mirror") match {
        case Some(_) => Lake.readTableFeed(s, root, "cdc_mirror")
        case None => applied.limit(0)
      }
      val mirrorNew = mirrorOld
        .join(changed.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
        .unionByName(applied)
      Lake.writeTableSnapshot(mirrorNew, root, "cdc_mirror")
      import s.implicits._
      // one job for all three change-kind counts, not three scans
      val byKind = changed.groupBy(col("change")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nIns = byKind.getOrElse("inserted", 0L)
      val nUpd = byKind.getOrElse("updated", 0L)
      val nDel = byKind.getOrElse("deleted", 0L)
      val chk = Lake.readTableFeed(s, root, "cdc_mirror")
        .agg(Q.moneySum(col("o_totalprice")).as("c"), count(lit(1)).as("n")).head
      Seq((id, nIns, nUpd, nDel, chk.getLong(1), chk.getDouble(0)))
        .toDF("tick", "inserted", "updated", "deleted", "mirror_rows", "mirror_total")
        .write.mode(SaveMode.Append).parquet(s"$root/stats")
      Seq(newV).toDF("v").coalesce(1).write.mode(SaveMode.Overwrite).parquet(cursorPath)
    }
    s.read.parquet(s"$root/stats")
  }

  val streamTableChangesOracle: String =
    // band sums stay DECIMAL inside the CTE and are added in decimal, with
    // ONE cast to double at the end — casting each band to double first
    // and adding in float arithmetic diverges from the engine's single
    // decimal sum in the last ulp (bit-for-bit mismatch first observed at
    // sf0.1: 450322487.1 vs ...09999996)
    """WITH b AS (
      |  SELECT SUM(CASE WHEN o_orderkey <= 500 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s1_500,
      |         SUM(CASE WHEN o_orderkey BETWEEN 501 AND 1000 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s501_1000,
      |         SUM(CASE WHEN o_orderkey BETWEEN 501 AND 1000 THEN CAST(o_totalprice * 2 AS DECIMAL(18,2)) END) AS d501_1000,
      |         SUM(CASE WHEN o_orderkey BETWEEN 1001 AND 1200 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s1001_1200,
      |         SUM(CASE WHEN o_orderkey BETWEEN 201 AND 1200 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s201_1200,
      |         SUM(CASE WHEN o_orderkey BETWEEN 201 AND 1400 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s201_1400,
      |         COUNT(CASE WHEN o_orderkey <= 1000 THEN 1 END) AS n1_1000,
      |         COUNT(CASE WHEN o_orderkey BETWEEN 501 AND 1000 THEN 1 END) AS n501_1000,
      |         COUNT(CASE WHEN o_orderkey BETWEEN 1001 AND 1200 THEN 1 END) AS n1001_1200,
      |         COUNT(CASE WHEN o_orderkey <= 200 THEN 1 END) AS n1_200,
      |         COUNT(CASE WHEN o_orderkey <= 1200 THEN 1 END) AS n1_1200,
      |         COUNT(CASE WHEN o_orderkey BETWEEN 201 AND 1200 THEN 1 END) AS n201_1200,
      |         COUNT(CASE WHEN o_orderkey BETWEEN 1201 AND 1400 THEN 1 END) AS n1201_1400,
      |         COUNT(CASE WHEN o_orderkey BETWEEN 201 AND 1400 THEN 1 END) AS n201_1400
      |  FROM orders)
      |SELECT CAST(0 AS BIGINT) AS tick, n1_1000 AS inserted, CAST(0 AS BIGINT) AS updated,
      |       CAST(0 AS BIGINT) AS deleted, n1_1000 AS mirror_rows,
      |       CAST(s1_500 + s501_1000 AS DOUBLE) AS mirror_total FROM b
      |UNION ALL
      |SELECT 1, n1001_1200, n501_1000, 0, n1_1200,
      |       CAST(s1_500 + d501_1000 + s1001_1200 AS DOUBLE) FROM b
      |UNION ALL
      |SELECT 2, 0, n501_1000, n1_200, n201_1200, CAST(s201_1200 AS DOUBLE) FROM b
      |UNION ALL
      |SELECT 3, n1201_1400, 0, 0, n201_1400, CAST(s201_1400 AS DOUBLE) FROM b""".stripMargin

  /** Streaming-maintained materialized view: micro-batches fold into the
    * registered summary through
    * [[graft.warehouse.SummaryRewrite.refreshIncremental]] inside
    * `foreachBatch` — the summary stays query-fresh as data lands, at
    * per-batch cost (never a base rescan). The seed chunk creates the view;
    * three more chunks drain one per trigger, each appended to the base AND
    * folded into the summary. The final aggregate over the BASE table must
    * be rewritten onto the (last-refreshed) summary — hard `require` — and
    * hash-match the full recompute oracle: streaming maintenance ≡ batch
    * rebuild, the same parity contract every other streaming gate carries.
    */
  def streamMvRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.warehouse.SummaryRewrite
    val root = graft.Tmp.dir("graft_smv_").toString
    val base = s"$root/events_base"
    val (glob, schema) = stageInterleavedEventChunks(s, d, nChunks = 4)
    // seed: the first chunk becomes the initial base + summary
    val seed = s.read.schema(schema).parquet(glob)
      .filter(pmod(col("event_id"), lit(4)) === 0)
    seed.write.parquet(base)
    try {
      SummaryRewrite.create(s, "mv_stream_users", base, s"$root/mv",
        keys = Seq("user_id"),
        sums = Seq("value" -> Some("decimal(18,2)")))
      drainBatches(
          s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(glob)
            .filter(pmod(col("event_id"), lit(4)) =!= 0), // seed already applied
          graft.Tmp.dir("graft_ckpt_").toString) { (batch, _) =>
        if (!batch.isEmpty) graft.GraftSession.withPersisted(batch) { rows =>
          rows.write.mode("append").parquet(base)
          SummaryRewrite.refreshIncremental(rows.sparkSession, "mv_stream_users", rows)
        }
      }
      val agg = s.read.parquet(base)
        .groupBy(col("user_id"))
        .agg(
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("cnt"))
      val paths = SummaryRewrite.scannedPaths(agg.queryExecution.optimizedPlan)
      require(paths.exists(_.contains("/mv")),
        s"rewrite onto the streaming-refreshed summary did not fire; scanned $paths")
      require(!paths.exists(_.endsWith("events_base")),
        s"rewritten plan still scans the base: $paths")
      val rows = agg.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
    } finally SummaryRewrite.drop("mv_stream_users")
  }

  val streamMvRefreshOracle: String =
    """SELECT user_id,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       COUNT(*) AS cnt
      |FROM events GROUP BY 1""".stripMargin

  /** Streaming-driven GDPR erasure: deletion requests arrive as a stream
    * (three request files drained one per trigger) and each micro-batch is
    * applied to the lake through `Lake.eraseKeys` — the subjects of batch k
    * are physically gone before batch k+1 is admitted. Composes the C9
    * partition-surgery operator with the streaming admission-control
    * machinery; the oracle proves the final lake equals "all subjects
    * erased" regardless of how the requests were batched (erasure is
    * idempotent and batch-composable by construction).
    */
  def streamErasure(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_serase_").toString
    val ev = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_micros(col("ts_us")).as("ts"))
    graft.lake.Lake.appendStream(ev, root, "events", eventTimeCol = Some("ts"))
    // deletion requests: user_id % 13 == 0, split into 3 request files
    val reqDir = graft.Tmp.dir("graft_serase_req_").toString
    val subjects = graft.Tables.events(s, d).select(col("user_id"))
      .filter(col("user_id") % 13 === 0).distinct()
    writeChunksOrdered(subjects, pmod(col("user_id"), lit(3)).cast("int"), reqDir)
    val schema = subjects.schema
    drainBatches(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$reqDir/chunk=*"),
        graft.Tmp.dir("graft_ckpt_").toString) { (batch, _) =>
      graft.lake.Lake.eraseKeys(
        batch.sparkSession, root, "events", "user_id", batch)
    }
    graft.lake.Lake.readStreamFeed(s, root, "events")
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("remaining"))
  }

  val streamErasureOracle: String =
    """SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
      |       CAST(SUM(CASE WHEN user_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS remaining
      |FROM events GROUP BY 1, 2, 3
      |HAVING remaining > 0""".stripMargin

  val streamUpsertOracle: String =
    """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin

  val streamIngestOracle: String =
    """SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** A4 wire contract: producer JSON serialization → Kafka record schema →
    * [[KafkaIngest.parse]] → the original typed rows. The broker hop is the
    * only thing a real cluster adds (same wire schema, same parse); the
    * oracle regenerates the payloads arithmetically, so this gate
    * hash-verifies the full serialize/deserialize path.
    */
  def kafkaWireRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tx = graft.ingest.Ingest.transactions(s, 10000)
    val wire = KafkaIngest.toWire(tx, keyCol = "transaction_id",
      topic = "transaction_stream", tsCol = "ts")
    KafkaIngest.parse(wire)
      .select(col("transaction_id"), col("user_id"), col("amount"),
        col("currency"), unix_micros(col("ts")).as("ts_us"), col("status"))
  }

  val kafkaWireRoundtripOracle: String =
    """SELECT 'tx_' || lpad(CAST(id AS VARCHAR), 8, '0') AS transaction_id,
      |       id % 10000 + 1 AS user_id,
      |       ((id * 37) % 49900 + 100) / 100.0 AS amount,
      |       ['EUR', 'USD', 'GBP'][CAST(id % 3 + 1 AS INT)] AS currency,
      |       epoch_us(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(id)) AS ts_us,
      |       CASE WHEN id % 10 < 8 THEN 'approved' ELSE 'declined' END AS status
      |FROM range(0, 10000) t(id)""".stripMargin

  /** The consumer pipeline over the wire format as an actual STREAM: wire
    * records staged as two files, drained one per trigger through
    * [[KafkaIngest.parse]] into a stateful aggregate — byte-identical to
    * what `KafkaIngest.source` feeds on a real cluster, minus only the
    * broker hop (kafka_consumer_datalake.py:49-76's poll→decode→accumulate
    * loop). Two micro-batches prove the decode works under incremental
    * state, and the oracle regenerates the expected totals arithmetically.
    */
  def streamKafkaWire(s: SparkSession, d: String): DataFrame = {
    val wire = KafkaIngest.toWire(graft.ingest.Ingest.transactions(s, 5000),
      keyCol = "transaction_id", topic = "transaction_stream", tsCol = "ts")
    val (glob, schema) = stageChunks(wire, "offset", nChunks = 2)
    val raw = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(glob)
    drain(
      KafkaIngest.parse(raw)
        .groupBy(col("currency"))
        .agg(count(lit(1)).as("cnt"), Q.moneySum(col("amount")).as("total")),
      OutputMode.Complete())
  }

  val streamKafkaWireOracle: String =
    """SELECT ['EUR', 'USD', 'GBP'][CAST(id % 3 + 1 AS INT)] AS currency,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(((id * 37) % 49900 + 100) / 100.0 AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM range(0, 5000) t(id)
      |GROUP BY 1""".stripMargin

  case class OffDelivery(
      user_id: Long, amount: Double, status: String, ts_us: Long, offset: Long)

  /** The LATEST_BY_OFFSET TABLE in its native habitat — a STREAMING
    * per-key upsert over the wire, which is exactly what ksqlDB
    * materializes for `LATEST_BY_OFFSET` (sync_to_mysql.py:42-55): the
    * latest payload by Kafka offset per key, updated as records arrive.
    * The shared out-of-order changelog (ts order scrambled against offset
    * order) is staged as four offset-interleaved chunk files drained one
    * per trigger, so later micro-batches deliver rows with LOWER offsets
    * than already-seen state — the state update must compare offsets, not
    * arrival order, and the final table must hash-equal the batch gate's
    * oracle. State per key is one row; at 100 TB/day the state store holds
    * |keys| entries, independent of delivery volume.
    */
  def streamLatestByOffset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wire = graft.queries.Reference.offsetChangelogWire(s)
    val (glob, schema) = stageChunks(wire, "offset", nChunks = 4)
    val raw = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(glob)
    val decoded = KafkaIngest
      .parse(raw, graft.queries.Reference.OffsetChangelogSchema)
      .select(col("user_id"), col("amount"), col("status"),
        unix_micros(col("ts")).as("ts_us"), col("offset"))
      .as[OffDelivery]
    val latest = decoded.groupByKey(_.user_id)
      .mapGroupsWithState[OffDelivery, OffDelivery](GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[OffDelivery], state: GroupState[OffDelivery]) =>
          val incoming = rows.reduce((a, b) => if (a.offset > b.offset) a else b)
          val best = state.getOption match {
            case Some(cur) if cur.offset > incoming.offset => cur
            case _ => incoming
          }
          state.update(best)
          best
      }
    // Update mode emits one row per touched key per batch; the row with
    // the greatest offset per key is the final state
    val emitted = drain(latest.toDF(), OutputMode.Update())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("offset").desc)
    emitted.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("user_id"), col("amount").as("last_amount"),
        col("status").as("last_status"), col("ts_us").as("last_ts_us"),
        col("offset").as("last_offset"))
  }

  // deliberately the batch gate's oracle: the streaming upsert and the
  // batch argmax must agree with DuckDB AND each other
  val streamLatestByOffsetOracle: String = graft.queries.Reference.b9OffsetOracle

  /** Poison-pill quarantine: every 7th payload is corrupted (deterministic,
    * keyed on the id embedded in the Kafka key), and the wire decode splits
    * the batch into valid rows and a dead-letter disposition instead of
    * failing — the production answer to the reference's log-and-skip
    * (kafka_consumer_datalake.py:59-63), keeping the poison rows auditable
    * with their Kafka provenance rather than dropping them.
    */
  def wireQuarantine(s: SparkSession, d: String): DataFrame = {
    val tx = graft.ingest.Ingest.transactions(s, 7000)
    val wire = KafkaIngest.toWire(tx, keyCol = "transaction_id",
      topic = "transaction_stream", tsCol = "ts")
    val id = substring(col("key").cast("string"), 4, 8).cast("long")
    val corrupted = wire.withColumn("value",
      when(id % 7 === 0, lit("{corrupt").cast("binary")).otherwise(col("value")))
    KafkaIngest.parse(corrupted)
      .withColumn("disposition",
        when(col("transaction_id").isNull, "quarantined").otherwise("ok"))
      .groupBy(col("disposition"), col("currency"))
      .agg(count(lit(1)).as("cnt"))
  }

  val wireQuarantineOracle: String =
    """SELECT CASE WHEN id % 7 = 0 THEN 'quarantined' ELSE 'ok' END AS disposition,
      |       CASE WHEN id % 7 = 0 THEN NULL
      |            ELSE ['EUR', 'USD', 'GBP'][CAST(id % 3 + 1 AS INT)] END AS currency,
      |       COUNT(*) AS cnt
      |FROM range(0, 7000) t(id)
      |GROUP BY 1, 2""".stripMargin

  // public: Spark codegen materializes these via generated accessors.
  // EvT carries the watermarked event_ts column — the analyzer requires the
  // watermark attribute to be present in the Dataset feeding an event-time
  // timeout, so it can't be projected away before groupByKey.
  case class EvT(user_id: Long, event_id: Long, ts_us: Long, value: Double,
      event_ts: java.sql.Timestamp)
  case class SessState(start_us: Long, last_us: Long, n: Long)
  case class SessRow(user_id: Long, session_start_us: Long,
      session_end_us: Long, events: Long, status: String)

  private val SessionGapUs = 3600L * 1000000L

  /** Session builder with EVENT-TIME TIMEOUTS — the one stateful-streaming
    * shape the other gates don't cover: a session that simply stops
    * receiving events must still be emitted, which only a timeout can do
    * (no later row ever triggers the group again).
    *
    * Per group: fold the batch's events in (ts, id) order into the open
    * session from state; a gap ≥ 1h closes the open session (emitted
    * immediately, `status = closed`) and opens a new one; the trailing open
    * session goes back into state with `setTimeoutTimestamp(last + gap)`.
    * When the event-time watermark passes that timestamp, Spark invokes the
    * handler with `hasTimedOut` and the final session is emitted
    * (`status = expired`) and the state removed — bounding state size by
    * the number of LIVE sessions, the property that keeps a 100 TB/day
    * stream's state store finite. Sessions already behind the watermark
    * when registered clamp to watermark+1ms and expire at the next tick.
    */
  private def sessionHandler(
      user: Long, rows: Iterator[EvT],
      state: GroupState[SessState]): Iterator[SessRow] = {
    if (state.hasTimedOut) {
      val st = state.get
      state.remove()
      if (user < 0) Iterator.empty
      else Iterator(SessRow(user, st.start_us, st.last_us, st.n, "expired"))
    } else {
      val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      var open = state.getOption
      val closed = scala.collection.mutable.ArrayBuffer[SessRow]()
      evs.foreach { e =>
        open match {
          case Some(st) if e.ts_us - st.last_us < SessionGapUs =>
            open = Some(SessState(st.start_us, e.ts_us, st.n + 1))
          case Some(st) =>
            closed += SessRow(user, st.start_us, st.last_us, st.n, "closed")
            open = Some(SessState(e.ts_us, e.ts_us, 1))
          case None =>
            open = Some(SessState(e.ts_us, e.ts_us, 1))
        }
      }
      open.foreach { st =>
        state.update(st)
        state.setTimeoutTimestamp(
          math.max(st.last_us / 1000 + SessionGapUs / 1000,
            state.getCurrentWatermarkMs() + 1))
      }
      if (user < 0) Iterator.empty else closed.iterator
    }
  }

  /** Stage the events keyed by USER into `nChunks` files (every user's full
    * history lands in one micro-batch, so inline session closure is
    * deterministic) plus three watermark sentinels (user -1) as separate
    * trailing files. The watermark delay is the full data SPAN: user-keyed
    * chunks each cover the whole time range, so any smaller delay would
    * make the stateful operator drop later chunks' rows as late data.
    * Under that delay the sentinels choreograph deterministic timeout
    * firing: the first sits so the post-sentinel watermark lands mid-range
    * (sessions ending in the earlier half expire in the SECOND sentinel's
    * batch), the second pushes the watermark past every real timer (the
    * rest expire in the THIRD sentinel's batch), and the last gives the
    * engine the batch in which those final firings run — so every user's
    * final session provably expires before AvailableNow terminates,
    * without relying on no-data micro-batch behavior, and expiry firings
    * demonstrably span two different batches.
    */
  private def stageUserChunksWithSentinels(
      s: SparkSession, d: String,
      nChunks: Int): (String, org.apache.spark.sql.types.StructType, Long) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(graft.Tables.path(d, "events"))
    val ev = raw
      .withColumn("ts_us", graft.Tables.tsUsCol(raw.schema("ts").dataType))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
    val bounds = ev.agg(min(col("ts_us")), max(col("ts_us"))).head
    val (minTs, maxTs) = (bounds.getLong(0), bounds.getLong(1))
    val delayMs = (maxTs - minTs) / 1000 + 1
    val delayUs = delayMs * 1000
    val midTs = minTs + (maxTs - minTs) / 2
    val day = 86400L * 1000000L
    val staged = graft.Tmp.dir("graft_sess_")
    writeChunksOrdered(ev, pmod(col("user_id"), lit(nChunks)).cast("int"),
      staged.toString)
    val sentinels = s.range(3).select(
      lit(-1L).as("user_id"), (lit(-1L) - col("id")).as("event_id"),
      when(col("id") === 0, midTs + delayUs)
        .when(col("id") === 1, maxTs + delayUs + 30 * day)
        .otherwise(maxTs + delayUs + 60 * day).as("ts_us"),
      lit(0.0).as("value"))
    writeChunksOrdered(
      sentinels, lit(nChunks) + (-col("event_id") - 1).cast("int"),
      staged.toString)
    (s"$staged/chunk=*", ev.schema, delayMs)
  }

  private def streamSessionTimeoutOver(s: SparkSession, d: String, nChunks: Int): DataFrame = {
    import s.implicits._
    val (glob, schema, delayMs) = stageUserChunksWithSentinels(s, d, nChunks)
    // every micro-batch maintains one state store per shuffle partition;
    // nChunks + 3 sentinel batches × 32 partitions is mostly store
    // maintenance at gate scale — 8 keeps the stateful op parallel while
    // quartering it (same sizing note as the stream-stream join gates)
    val priorShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val stream = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(glob)
        .withColumn("event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("event_ts", s"$delayMs milliseconds")
        .as[EvT]
      val sessions = stream
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[SessState, SessRow](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(sessionHandler)
      drain(sessions.toDF(), OutputMode.Append())
    } finally s.conf.set("spark.sql.shuffle.partitions", priorShuffle)
  }

  /** Timeout gate, single data batch: all real events in one micro-batch,
    * sentinels in two more — every session is emitted exactly once, closed
    * inline or expired by timeout, and the union equals batch
    * gaps-and-islands sessionization.
    */
  def streamSessionTimeout(s: SparkSession, d: String): DataFrame =
    streamSessionTimeoutOver(s, d, nChunks = 1)

  /** Timeout gate, multi-batch: four user-keyed chunks drained one file per
    * trigger — open sessions and their registered timeout timestamps must
    * survive four data batches in the state store before any of them
    * fires. (The span-wide watermark delay keeps every chunk's data on
    * time, so no timer can fire during the data batches themselves; firing
    * then happens across TWO distinct sentinel batches — earlier-half
    * sessions when the watermark reaches mid-range, the rest at the final
    * flush — exactly as in the single-batch gate.)
    */
  def streamSessionTimeoutMultiBatch(s: SparkSession, d: String): DataFrame =
    streamSessionTimeoutOver(s, d, nChunks = 4)

  // each user's non-final sessions close inline ('closed'); the final one
  // can only leave the state store via its event-time timer ('expired') —
  // so the status column is itself proof the timeouts fired
  val streamSessionTimeoutOracle: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |         CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
      |                OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w >= 3600000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)),
      |sessions AS (
      |  SELECT user_id, ts_us,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, session_id, MIN(ts_us) AS session_start_us,
      |         MAX(ts_us) AS session_end_us, COUNT(*) AS events
      |  FROM sessions GROUP BY user_id, session_id)
      |SELECT user_id, session_start_us, session_end_us, events,
      |       CASE WHEN session_id = MAX(session_id) OVER (PARTITION BY user_id)
      |            THEN 'expired' ELSE 'closed' END AS status
      |FROM agg""".stripMargin

  // transformWithState gate types (public: Spark codegen materializes them)
  case class TwsPair(value: Double, event_id: Long)
  case class TwsAgg(n: Long, cents: Long)
  case class TwsRow(user_id: Long, n: Long, total: Double,
      e1: Option[Long], e2: Option[Long], e3: Option[Long])

  /** Spark 4 `transformWithState` processor: per-user running (count, money
    * total) in a ValueState plus the top-3 events by value in a ListState —
    * the new arbitrary-state API's typed state variables, where
    * `mapGroupsWithState` forces everything through one state object. Money
    * is accumulated in integer CENTS (each value rounded exactly as the
    * engines' double→DECIMAL(18,2) cast rounds), so the running total is
    * order- and batch-boundary-independent.
    */
  private class TopKStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TwsRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimerValues, ValueState}
    @transient private var agg: ValueState[TwsAgg] = _
    @transient private var top: ListState[TwsPair] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      agg = getHandle.getValueState[TwsAgg]("agg", Encoders.product[TwsAgg], TTLConfig.NONE)
      top = getHandle.getListState[TwsPair]("top", Encoders.product[TwsPair], TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TwsRow] = {
      val batch = rows.toArray
      val cents = batch.map(e =>
        (BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact).sum
      val next = {
        val prev = Option(agg.get()).getOrElse(TwsAgg(0L, 0L))
        TwsAgg(prev.n + batch.length, prev.cents + cents)
      }
      agg.update(next)
      val best = (top.get().toList ++ batch.map(e => TwsPair(e.value, e.event_id)))
        .sortBy(p => (-p.value, p.event_id)).take(3)
      top.put(best.toArray)
      val ids = best.map(_.event_id)
      Iterator.single(TwsRow(user, next.n, next.cents / 100.0,
        ids.lift(0), ids.lift(1), ids.lift(2)))
    }
  }

  /** `transformWithState` end-to-end (requires the RocksDB state store —
    * the provider the operator is built for, and the one a 100 TB/day
    * deployment runs anyway for its changelog checkpointing + out-of-heap
    * state). Four chunked micro-batches prove both state variables carry
    * across batches; `n` is strictly monotone per user, so the final
    * emission per key is the row with max `n`, which must equal the batch
    * oracle's per-user count/total/top-3.
    */
  def streamTwsTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = s.conf.get(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (glob, schema) = stageInterleavedEventChunks(s, d, nChunks = 4)
      val stream = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(glob)
        .as[Ev]
      val out = stream
        .groupByKey(_.user_id)
        .transformWithState(new TopKStateProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val emitted = drain(out.toDF(), OutputMode.Update())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n").desc)
      emitted.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    } finally s.conf.set(key, prior)
  }

  val streamTwsTopKOracle: String =
    """WITH ranked AS (
      |  SELECT user_id, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY value DESC, event_id) AS rn
      |  FROM events),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM events GROUP BY 1)
      |SELECT a.user_id, a.n, a.total,
      |       MAX(CASE WHEN rn = 1 THEN event_id END) AS e1,
      |       MAX(CASE WHEN rn = 2 THEN event_id END) AS e2,
      |       MAX(CASE WHEN rn = 3 THEN event_id END) AS e3
      |FROM agg a JOIN ranked r ON a.user_id = r.user_id
      |GROUP BY 1, 2, 3""".stripMargin

  /** Stage events as TWO stream source dirs for the stream-stream join
    * gates: left = even `event_id` ("impressions"), right = odd
    * ("conversions"), each split into `nChunks` interleaved files plus two
    * trailing watermark-sentinel files (user -1, far-future timestamps).
    * The global watermark of a two-input query is the MIN over inputs, so
    * BOTH sides carry sentinels: the first pushes each side's watermark
    * past every real row (and hence past every join-state eviction bound),
    * and the second provides the micro-batch in which the outer-join null
    * flush actually runs — AvailableNow would otherwise terminate with
    * unmatched rows still sitting in the join state store.
    * The watermark delay is the full data span (every chunk covers the
    * whole range); at production scale the delay is the real lateness
    * bound and join state stays proportional to delay + join interval.
    */
  private def stageJoinStreams(
      s: SparkSession, d: String,
      nChunks: Int): (String, String, org.apache.spark.sql.types.StructType, Long) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(graft.Tables.path(d, "events"))
    val ev = raw
      .withColumn("ts_us", graft.Tables.tsUsCol(raw.schema("ts").dataType))
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val bounds = ev.agg(min(col("ts_us")), max(col("ts_us"))).head
    val (minTs, maxTs) = (bounds.getLong(0), bounds.getLong(1))
    val delayMs = (maxTs - minTs) / 1000 + 1
    val day = 86400L * 1000000L
    val staged = graft.Tmp.dir("graft_ssj_")
    Seq(("left", 0), ("right", 1)).foreach { case (side, parity) =>
      // real chunks in one ordered write, both sentinels in a second (the
      // re-touch inside the second call re-ladders ALL chunk dirs, so the
      // sentinels' modTimes land strictly after every real chunk's)
      writeChunksOrdered(
        ev.filter(pmod(col("event_id"), lit(2)) === parity),
        ((pmod(col("event_id"), lit(2 * nChunks)) - parity) / 2).cast("int"),
        s"$staged/$side")
      val sentinels = s.range(2).select(
        lit(-1L).as("user_id"), (lit(-1L) - col("id")).as("event_id"),
        (lit(maxTs + delayMs * 1000) +
          when(col("id") === 0, 2 * day).otherwise(30 * day)).as("ts_us"))
      writeChunksOrdered(
        sentinels, lit(nChunks) + (-col("event_id") - 1).cast("int"),
        s"$staged/$side")
    }
    (s"$staged/left/chunk=*", s"$staged/right/chunk=*", ev.schema, delayMs)
  }

  private def joinStreams(s: SparkSession, d: String, nChunks: Int, joinType: String,
      multiBatch: Boolean = true): DataFrame = {
    val (leftGlob, rightGlob, schema, delayMs) = stageJoinStreams(s, d, nChunks)
    // each trigger maintains FOUR state stores per shuffle partition (two
    // per side); 32 partitions × several sentinel-choreographed triggers is
    // pure store-maintenance overhead at gate scale — 8 keeps the join
    // parallel while quartering it (production sizes this to the cluster)
    val priorShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      def side(glob: String, p: String): DataFrame = {
        val src = s.readStream.schema(schema)
        // the outer variants need the multi-trigger sentinel choreography
        // (watermark advance in one batch, NULL flush in the next); the
        // inner join emits matches eagerly and needs no flush batch
        val withTrigger = if (multiBatch) src.option("maxFilesPerTrigger", "1") else src
        withTrigger.parquet(glob)
          .select(
            col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_event"),
            col("ts_us").as(s"${p}_ts_us"),
            timestamp_micros(col("ts_us")).as(s"${p}_ts"))
          .withWatermark(s"${p}_ts", s"$delayMs milliseconds")
      }
      val joined = side(leftGlob, "l").join(side(rightGlob, "r"),
        expr("""l_user = r_user
               |AND r_ts >= l_ts
               |AND r_ts <= l_ts + interval 30 minutes""".stripMargin),
        joinType)
      drain(joined, OutputMode.Append())
      // drop watermark sentinels from WHICHEVER side emitted them (an outer
      // join also emits unmatched rows whose other side is NULL)
      .filter(coalesce(col("l_user"), lit(0L)) >= 0 &&
        coalesce(col("r_user"), lit(0L)) >= 0)
      .select(
        coalesce(col("l_user"), col("r_user")).as("user_id"),
        col("l_event"), col("r_event"),
        col("l_ts_us"), col("r_ts_us"))
    } finally s.conf.set("spark.sql.shuffle.partitions", priorShuffle)
  }

  /** Stream-stream INNER join with watermarks and a time-range condition
    * (impression→conversion attribution within 30 min): the one relational
    * join shape that needs BOTH sides in the state store. Watermark + the
    * interval bound are what make that state finite — each side's rows are
    * evicted once the other side's watermark passes their last possible
    * match time, so at 100 TB/day state holds ~(delay + 30 min) of data,
    * never the full streams.
    */
  def streamJoinInner(s: SparkSession, d: String): DataFrame =
    joinStreams(s, d, nChunks = 2, joinType = "inner", multiBatch = false)

  /** Stream-stream LEFT OUTER join: unmatched impressions must be emitted
    * with NULL conversion columns — but only once the watermark proves no
    * match can still arrive. The sentinel choreography (see
    * [[stageJoinStreams]]) drives that flush deterministically before
    * AvailableNow terminates; the multi-batch staging proves join state
    * (and the pending-null bookkeeping) survives across micro-batches.
    */
  def streamJoinLeftOuter(s: SparkSession, d: String): DataFrame =
    joinStreams(s, d, nChunks = 2, joinType = "left_outer")

  /** Stream-stream FULL OUTER join: unmatched rows flush from BOTH state
    * stores once the watermark passes their last possible match time — the
    * strictest of the outer variants (left unmatched AND right unmatched
    * NULL-expanded, so `user_id` coalesces across sides).
    */
  def streamJoinFullOuter(s: SparkSession, d: String): DataFrame =
    joinStreams(s, d, nChunks = 2, joinType = "full_outer")

  private val joinOracleBody: String =
    """WITH l AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
      |           FROM events WHERE event_id % 2 = 0),
      |     r AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
      |           FROM events WHERE event_id % 2 = 1)
      |SELECT l.user_id, l.event_id AS l_event, r.event_id AS r_event,
      |       l.ts_us AS l_ts_us, r.ts_us AS r_ts_us
      |FROM l @JOIN@ r ON l.user_id = r.user_id
      | AND r.ts_us BETWEEN l.ts_us AND l.ts_us + 1800000000""".stripMargin

  val streamJoinInnerOracle: String = joinOracleBody.replace("@JOIN@", "JOIN")
  val streamJoinLeftOracle: String = joinOracleBody.replace("@JOIN@", "LEFT JOIN")
  val streamJoinFullOracle: String = joinOracleBody
    .replace("@JOIN@", "FULL JOIN")
    .replace("SELECT l.user_id,", "SELECT COALESCE(l.user_id, r.user_id) AS user_id,")

  /** `dropDuplicatesWithinWatermark`: the state-BOUNDED streaming dedup —
    * plain `dropDuplicates` (the `s_stream_dedup` gate) keeps every seen
    * key in state forever, which no 100 TB/day stream survives; the
    * within-watermark variant evicts keys once the watermark passes their
    * last-seen time + delay, trading unbounded state for a dedup guarantee
    * scoped to the lateness bound. The gate plants IDENTICAL duplicate
    * rows (every 10th event) in a SEPARATE trailing chunk file, so dedup
    * must happen across micro-batches through the state store, inside the
    * span-wide watermark — making the result exactly global dedup, which
    * the batch oracle recomputes.
    */
  def streamDedupWatermark(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(graft.Tables.path(d, "events"))
    val ev = raw
      .withColumn("ts_us", graft.Tables.tsUsCol(raw.schema("ts").dataType))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"), col("value"))
    val bounds = ev.agg(min(col("ts_us")), max(col("ts_us"))).head
    val delayMs = (bounds.getLong(1) - bounds.getLong(0)) / 1000 + 1
    val staged = graft.Tmp.dir("graft_ddw_")
    writeChunksOrdered(ev, pmod(col("event_id"), lit(2)).cast("int"),
      staged.toString)
    // identical full-row duplicates, arriving two micro-batches later (the
    // second ordered write re-ladders modTimes so chunk 2 drains last)
    writeChunksOrdered(ev.filter(pmod(col("event_id"), lit(10)) === 0),
      lit(2), staged.toString)
    val deduped = s.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staged/chunk=*")
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", s"$delayMs milliseconds")
      .dropDuplicatesWithinWatermark("event_id")
    drain(deduped, OutputMode.Append())
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), Q.moneySum(col("value")).as("total"))
  }

  val streamDedupWatermarkOracle: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** Exactly-once via checkpointing: the SAME AvailableNow query is started
    * twice against one checkpoint + parquet sink; the second run finds the
    * source fully committed and appends nothing, so the sink equals ONE
    * batch pass — the restart/replay guarantee the reference's at-least-once
    * consumer loop lacks (kafka_consumer_datalake.py commits after flush;
    * a crash between flush and commit double-writes).
    */
  def streamExactlyOnce(s: SparkSession, d: String): DataFrame = {
    val (glob, schema) = stageInterleavedEventChunks(s, d, nChunks = 2)
    val ckpt = graft.Tmp.dir("graft_eo_ckpt_").toString
    val out = graft.Tmp.dir("graft_eo_out_").toString + "/sink"
    def runPass(): Unit = {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(glob)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runPass()
    runPass() // restart on the same checkpoint: must be a no-op
    s.read.parquet(out).agg(
      count(lit(1)).as("cnt"),
      count_distinct(col("event_id")).as("distinct_events"),
      Q.moneySum(col("value")).as("total"))
  }

  val streamExactlyOnceOracle: String =
    """SELECT COUNT(*) AS cnt, COUNT(DISTINCT event_id) AS distinct_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events""".stripMargin

  /** The custom DataSource V2 connector as a STREAMING source: events are
    * clustered into 8 stats-indexed CSV files, then `readStream.format
    * ("graft-stats-csv")` ingests them through the connector's
    * MicroBatchStream — file-index offsets, `maxFilesPerTrigger=3`
    * admission control (so AvailableNow needs 3 micro-batches: 3+3+2
    * files), `SupportsTriggerAvailableNow` snapshotting the drain target.
    * The grouped aggregate carries state ACROSS those batches, and the
    * oracle recomputes it from the raw table — one connector, batch and
    * streaming, one correctness contract.
    */
  def streamDsv2(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_dsv2_stream_").toString
    val ev = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.sources.StatsCsvFormat.write(ev, root, "user_id", numFiles = 8)
    drain(
      s.readStream.format("graft-stats-csv")
        .option("maxFilesPerTrigger", "3")
        .load(root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), Q.moneySum(col("value")).as("total")),
      OutputMode.Complete())
  }

  val streamDsv2Oracle: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** The FULL connector loop: a stats-CSV directory is streamed through the
    * connector's micro-batch SOURCE (3 files per trigger) and lands in a
    * second stats-CSV directory through the connector's STREAMING SINK —
    * multiple epoch commits building the files + stats sidecars
    * incrementally. The read-back goes through the connector's batch read,
    * so one gate covers all four quadrants (batch/stream × read/write),
    * and the oracle proves the loop is value-exact end to end.
    */
  def streamDsv2Sink(s: SparkSession, d: String): DataFrame = {
    val root = graft.Tmp.dir("graft_dsv2_loop_in_").toString
    val out = graft.Tmp.dir("graft_dsv2_loop_out_").toString + "/sink"
    val ckpt = graft.Tmp.dir("graft_dsv2_loop_ck_").toString
    val ev = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.sources.StatsCsvFormat.write(ev, root, "user_id", numFiles = 8)
    val q = s.readStream.format("graft-stats-csv")
      .option("maxFilesPerTrigger", "3")
      .load(root)
      .writeStream.format("graft-stats-csv")
      .option("path", out)
      .option("cluster", "user_id").option("numFiles", "2")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)
    s.read.format("graft-stats-csv").load(out)
      .filter(col("user_id") >= 40 && col("user_id") <= 90)
  }

  val streamDsv2SinkOracle: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events WHERE user_id BETWEEN 40 AND 90""".stripMargin

  /** Run a streaming gate with a reduced shuffle-partition count. Stateful
    * streaming operators create one state-store instance PER shuffle
    * partition PER micro-batch — at the default 32, a 5-trigger gate pays
    * 160 provider inits + delta/commit file writes for a few thousand rows,
    * and that scheduling floor (not data) dominates the whole `s_*` bench
    * family. Four partitions keep the same results (aggregation outputs are
    * partitioning-invariant; batch composition is fixed by the staged
    * files, not by shuffle fan-out) at an eighth of the state-store I/O.
    * The production deployment sizes this knob UP for real volume — the
    * invariant under test (streaming/batch parity) is unaffected either
    * way. Restored after the gate body (which contains every drain), so
    * downstream batch materialization of the returned frame runs at the
    * session default. AQE cannot coalesce a stateful operator's shuffle
    * (its partition count fixes the state-store layout), so the
    * byte-sized AQE settings do not make this redundant: at 8 session
    * partitions the 37 `s_*` gates ran slower without it
    * (plans/pr3/stream_driver.md); at 4 it changes nothing.
    */
  def withReducedShuffle(fn: QueryFn): QueryFn = (s, d) => {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try fn(s, d) finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  val defs: Map[String, QueryFn] = Map[String, QueryFn](
    "a4_kafka_wire_roundtrip" -> (kafkaWireRoundtrip _),
    "a4_wire_quarantine" -> (wireQuarantine _),
    "s_stream_exactly_once" -> (streamExactlyOnce _),
    "s_stream_kafka_wire" -> (streamKafkaWire _),
    "s_stream_latest_by_offset" -> (streamLatestByOffset _),
    "s_stream_agg" -> (streamAgg _),
    "s_stream_observe" -> (streamObserve _),
    "s_stream_late_capture" -> (streamLateCapture _),
    "s_state_reader" -> (stateReader _),
    "s_stream_mv_refresh" -> (streamMvRefresh _),
    "s_stream_enrich" -> (streamEnrich _),
    "s_stream_window" -> (streamWindow _),
    "s_stream_approx_distinct" -> (streamApproxDistinct _),
    "s_stream_dedup" -> (streamDedup _),
    "s_stream_sessions" -> (streamSessions _),
    "s_stream_latest" -> (streamLatestPerUser _),
    "s_stream_upsert" -> (streamUpsertWarehouse _),
    "s_stream_fanout" -> (streamFanout _),
    "s_stream_table_changes" -> (streamTableChanges _),
    "s_stream_multibatch" -> (streamMultiBatch _),
    "s_stream_session_timeout" -> (streamSessionTimeout _),
    "s_stream_timeout_multibatch" -> (streamSessionTimeoutMultiBatch _),
    "s_stream_join_inner" -> (streamJoinInner _),
    "s_stream_join_left" -> (streamJoinLeftOuter _),
    "s_stream_join_full" -> (streamJoinFullOuter _),
    "s_stream_dedup_watermark" -> (streamDedupWatermark _),
    "s_stream_tws_topk" -> (streamTwsTopK _),
    "s_stream_dsv2" -> (streamDsv2 _),
    "s_stream_dsv2_sink" -> (streamDsv2Sink _),
    "s_stream_erasure" -> (streamErasure _),
    "s_stream_ingest_lake" -> (streamIngestLake _),
    "s_stream_catalog_sink" -> (streamCatalogSink _))
    .map { case (k, fn) => k -> withReducedShuffle(fn) }

  val oracles: Map[String, String] = Map(
    "a4_kafka_wire_roundtrip" -> kafkaWireRoundtripOracle,
    "a4_wire_quarantine" -> wireQuarantineOracle,
    "s_stream_exactly_once" -> streamExactlyOnceOracle,
    "s_stream_kafka_wire" -> streamKafkaWireOracle,
    "s_stream_latest_by_offset" -> streamLatestByOffsetOracle,
    "s_stream_agg" -> streamAggOracle,
    "s_stream_observe" -> streamObserveOracle,
    "s_stream_late_capture" -> streamLateCaptureOracle,
    "s_state_reader" -> stateReaderOracle,
    "s_stream_mv_refresh" -> streamMvRefreshOracle,
    "s_stream_enrich" -> streamEnrichOracle,
    "s_stream_window" -> streamWindowOracle,
    "s_stream_approx_distinct" -> streamApproxDistinctOracle,
    "s_stream_dedup" -> streamDedupOracle,
    "s_stream_sessions" -> streamSessionsOracle,
    "s_stream_latest" -> streamLatestOracle,
    "s_stream_upsert" -> streamUpsertOracle,
    "s_stream_fanout" -> streamFanoutOracle,
    "s_stream_table_changes" -> streamTableChangesOracle,
    "s_stream_multibatch" -> streamMultiBatchOracle,
    "s_stream_session_timeout" -> streamSessionTimeoutOracle,
    "s_stream_timeout_multibatch" -> streamSessionTimeoutOracle,
    "s_stream_join_inner" -> streamJoinInnerOracle,
    "s_stream_join_left" -> streamJoinLeftOracle,
    "s_stream_join_full" -> streamJoinFullOracle,
    "s_stream_dedup_watermark" -> streamDedupWatermarkOracle,
    "s_stream_tws_topk" -> streamTwsTopKOracle,
    "s_stream_dsv2" -> streamDsv2Oracle,
    "s_stream_dsv2_sink" -> streamDsv2SinkOracle,
    "s_stream_erasure" -> streamErasureOracle,
    "s_stream_ingest_lake" -> streamIngestOracle,
    "s_stream_catalog_sink" -> streamCatalogSinkOracle)
}
