package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** CHANGE-DATA-FEED source over the versioned catalog table — the
  * completion of the lake loop: tables already SINK streams
  * (epoch-idempotent commits, A33); this lets a stream READ them back as
  * versioned change batches, first-class:
  *
  * {{{
  *   spark.readStream.option("keyColumns", "k")
  *     .table("g.tables.t__changes")   // CDF: images + change, change_version
  *   spark.read.option("keyColumns", "k").option("startingVersion", "3")
  *     .table("g.tables.t__changes")   // batch CDF between versions
  * }}}
  *
  * OFFSETS ARE VERSIONS: each micro-batch covers the committed versions
  * `(start, end]`, computed by the library's own per-version diff
  * ([[graft.lake.Lake.tableChanges]] — the single place change semantics
  * live, so sidecars/manifests/evolution are all honored). `start = 0`
  * (the default `startingVersion`) emits the whole snapshot at `end` as
  * `inserted` first; `startingVersion=latest` starts from now;
  * `startingVersion=<n>` diffs from that committed version. `keyColumns`
  * is REQUIRED — version diffs are keyed (a keyless "diff" would be a
  * bag subtraction with no update identity).
  *
  * Execution shape: the diff for `(start, end]` is computed ONCE at
  * planning and STAGED as parquet under the stream's checkpoint
  * (`<checkpoint>/graft_cdf/<start>_<end>`), then served as one input
  * partition per staged file through Spark's own parquet reader — the
  * diff job is distributed, the scratch is O(changed rows), replays of
  * an uncommitted epoch re-serve the staged files byte-identically, and
  * `commit(end)` deletes scratch for epochs the log has sealed.
  * Row-image consumers filter `change <> 'deleted'` and drop the change
  * columns in their query.
  */
object GraftChangeFeed {
  val ChangesSuffix = "__changes"

  def changeSchema(dataSchema: StructType): StructType = StructType(
    dataSchema.fields ++ Seq(
      StructField("change", StringType, nullable = false),
      StructField("change_version", IntegerType, nullable = false)))

  /** The `(start, end]` change set as FULL ROW IMAGES with
    * `change`/`change_version` columns (the Delta-CDF shape):
    * inserted/updated rows carry the NEW image, deleted rows carry the
    * LAST image they had. `start == 0` is the initial full snapshot as
    * `inserted`. Per covered version the cost is ONE manifest-aware step
    * diff ([[graft.lake.Lake.versionChanges]]): the commit's own
    * manifests/sidecars name what changed, so only dropped + added files
    * (and sidecar-delta rows of carried ones) are ever read — O(changed),
    * not O(snapshot) — and the images come straight from that read, no
    * snapshot-wide join. Consumers that only need keys use
    * [[graft.lake.Lake.tableChanges]] directly.
    */
  def changesBetween(
      spark: SparkSession, root: String, name: String,
      keyCols: Seq[String], start: Int, end: Int,
      preimages: Boolean = false): DataFrame = {
    import graft.lake.Lake
    // the initial-snapshot form needs no keys — so a bare SQL
    // `SELECT * FROM t__changes` (no options reachable) works
    if (start == 0)
      return Lake.readTableFeed(spark, root, name, Some(end))
        .withColumn("change", lit("inserted"))
        .withColumn("change_version", lit(end))
    require(keyCols.nonEmpty,
      s"change feed over $name: set option(\"keyColumns\", \"k1,k2\") — " +
        "version diffs are keyed")
    val vs = Lake.versions(spark, root, name)
    require(vs.contains(start),
      s"change feed over $name: base version v$start is not present " +
        s"(have ${vs.mkString(",")} — retention may have pruned it)")
    val range = vs.filter(v => v > start && v <= end).sorted
    val steps = (start +: range).sliding(2).collect { case Seq(a, b) =>
      Lake.versionChanges(spark, root, name, a, b, keyCols, preimages)
        .withColumn("change_version", lit(b))
    }.toSeq
    if (steps.isEmpty)
      Lake.readTableFeed(spark, root, name, Some(end)).limit(0)
        .withColumn("change", lit(""))
        .withColumn("change_version", lit(0))
    else if (steps.size <= BatchPlanSteps) steps.reduce(_ unionByName _)
    else {
      // LONG HISTORIES: a per-minute streaming-append table accumulates
      // 10⁴ versions — a 10⁴-branch union is a driver-side plan bomb
      // (analysis/optimization cost superlinear in plan size). Past
      // BatchPlanSteps the steps are evaluated in bounded-plan chunks and
      // STAGED to a Spark-managed scratch dir (deleted on JVM exit — the
      // streaming source's per-epoch discipline applied to batch), and the
      // caller gets ONE scan over the staged files: plan size is O(1) in
      // the version count, each chunk's work is still the manifest-aware
      // O(changed) diff.
      val dir = org.apache.spark.util.Utils.createTempDir(
        namePrefix = "graft-cdf-batch")
      val parts = steps.grouped(BatchPlanSteps).zipWithIndex.map {
        case (chunk, i) =>
          val p = new java.io.File(dir, s"c$i").getAbsolutePath
          chunk.reduce(_ unionByName _).write.parquet(p)
          p
      }.toSeq
      graft.lake.Lake.readParquet(spark, parts: _*)
    }
  }

  /** Max per-step union branches a batch CDF plan may carry before the
    * staged-chunk path takes over.
    */
  private[graft] val BatchPlanSteps = 16

  /** Parse a user-facing instant: epoch millis digits,
    * `yyyy-MM-dd HH:mm:ss[.f]` (JVM zone — the SQL literal convention),
    * or an ISO-8601 instant (`2026-01-01T00:00:00Z`).
    */
  private[graft] def parseInstantMillis(s: String): Long = {
    val t = s.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else
      try java.sql.Timestamp.valueOf(t).getTime
      catch {
        case _: IllegalArgumentException =>
          java.time.Instant.parse(t).toEpochMilli
      }
  }

  /** Newest version committed STRICTLY BEFORE the instant — the
    * `startingTimestamp` rule: a CDF starting there replays every change a
    * commit at-or-after the instant made. One ledger read
    * ([[graft.lake.Lake.commitInstants]]); refuses a timestamp predating
    * the first commit (per-version replay of v1 does not exist — silently
    * mapping to the initial snapshot would change semantics).
    */
  def versionStrictlyBefore(
      spark: SparkSession, root: String, name: String, ts: String): Int = {
    val millis = parseInstantMillis(ts)
    val before = graft.lake.Lake.commitInstants(spark, root, name)
      .collect { case (v, at) if at < millis => v }
    require(before.nonEmpty,
      s"timestamp $ts predates $name's first commit — " +
        "use startingVersion=0 for the initial snapshot")
    before.max
  }

  /** Newest version committed AT OR BEFORE the instant — the
    * `endingTimestamp` / `TIMESTAMP AS OF` rule (inclusive upper bound).
    */
  def versionAtOrBefore(
      spark: SparkSession, root: String, name: String, ts: String): Int = {
    val millis = parseInstantMillis(ts)
    val atOrBefore = graft.lake.Lake.commitInstants(spark, root, name)
      .collect { case (v, at) if at <= millis => v }
    require(atOrBefore.nonEmpty, s"timestamp $ts predates $name's first commit")
    atOrBefore.max
  }

  private[graft] case class VersionOffset(v: Int) extends Offset {
    override def json(): String = v.toString
  }

  private[graft] case class ScratchFilePartition(path: String, length: Long)
      extends InputPartition

  /** Serve staged parquet through Spark's own reader (row mode forced —
    * the streaming exec consumes `InternalRow`s).
    */
  private[graft] class ScratchReaderFactory(
      readFunc: PartitionedFile => Iterator[InternalRow])
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val sp = p.asInstanceOf[ScratchFilePartition]
      val it = readFunc(PartitionedFile(
        InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(sp.path),
        0L, sp.length, Array.empty[String]))
      new PartitionReader[InternalRow] {
        override def next(): Boolean = it.hasNext
        override def get(): InternalRow = it.next()
        override def close(): Unit = ()
      }
    }
  }

  private[graft] def readFuncFor(
      spark: SparkSession, schema: StructType):
      PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, StructType(Nil), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
}

/** The MicroBatchStream: offsets are committed VERSIONS; each epoch's
  * change set is staged under the checkpoint and served as file
  * partitions. Row-image consumers filter `change <> 'deleted'` and drop
  * the change columns in their query — the stream always emits full CDF.
  *
  * ADMISSION CONTROL: `option("maxVersionsPerTrigger", n)` bounds how
  * many committed versions one epoch may cover (the unit of work here is
  * a version's diff, so it is the right throttle — the analogue of the
  * file sources' `maxFilesPerTrigger`). A consumer resuming against a
  * long backlog then catches up in bounded epochs instead of computing
  * every pending version's diff in one giant batch. The stream implements
  * `SupportsTriggerAvailableNow` DIRECTLY (Spark's generic AvailableNow
  * wrapper discards a delegate's read limit), capturing the target
  * version at query start and draining to it epoch by epoch. Without the
  * option an epoch covers everything pending (`ReadLimit.allAvailable`).
  */
class GraftChangeFeedStream(
    root: String, name: String, keyCols: Seq[String],
    startingVersion: String, required: StructType,
    checkpointLocation: String,
    maxVersionsPerTrigger: Option[Int] = None,
    preimages: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import GraftChangeFeed._

  private def spark = SparkSession.active

  /** Under Trigger.AvailableNow: the version frontier captured at query
    * start — epochs drain up to it and the query stops there, even if
    * later commits land mid-drain (the AvailableNow contract).
    */
  private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(graft.lake.Lake.latestVersion(spark, root, name).getOrElse(0))

  private def frontier: Int = {
    val live = graft.lake.Lake.latestVersion(spark, root, name).getOrElse(0)
    availableNowTarget.fold(live)(math.min(live, _))
  }

  override def initialOffset(): Offset = VersionOffset(
    startingVersion.toLowerCase match {
      case "latest" =>
        graft.lake.Lake.latestVersion(spark, root, name).getOrElse(0)
      case s => s.toInt
    })
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toInt)
  override def latestOffset(): Offset = VersionOffset(frontier)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  /** The admission-controlled epoch end: at most N COMMITTED versions past
    * `start` (the live version list, not `start + N` — version numbers may
    * have gaps from burned OCC claims). The initial-snapshot epoch
    * (`start = 0`) counts as covering its end version's whole history, so
    * it too advances at most N committed versions.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    val end = frontier
    limit match {
      case mf: ReadMaxFiles =>
        val pending = graft.lake.Lake.versions(spark, root, name)
          .filter(v => v > s && v <= end).sorted
        VersionOffset(pending.take(mf.maxFiles).lastOption.getOrElse(s))
      case _ => VersionOffset(end)
    }
  }

  override def reportLatestOffset(): Offset = VersionOffset(frontier)

  /** Shape-affecting read options, folded into the scratch dir name: a
    * restart against the same checkpoint with `preimages`/`keyColumns`/
    * required schema changed must NOT reuse epochs staged in the old
    * shape (the `_SUCCESS` guard would otherwise serve wrong-shaped
    * change rows silently).
    */
  private val shapeHash: String = {
    val desc = s"pre=$preimages;keys=${keyCols.mkString(",")};" +
      s"req=${required.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")}"
    f"${scala.util.hashing.MurmurHash3.stringHash(desc)}%08x"
  }

  private def scratchDir(s: Int, e: Int): Path =
    new Path(s"$checkpointLocation/graft_cdf/${s}_${e}_$shapeHash")

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    if (e <= s) return Array.empty
    val dir = scratchDir(s, e)
    val f = graft.lake.Lake.fs(spark, dir.toString)
    if (!f.exists(new Path(dir, "_SUCCESS"))) {
      changesBetween(spark, root, name, keyCols, s, e, preimages)
        .select(required.fieldNames.toIndexedSeq.map(col): _*)
        .write.mode("overwrite").parquet(dir.toString)
    }
    f.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => ScratchFilePartition(
        st.getPath.toString, st.getLen): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ScratchReaderFactory(readFuncFor(spark, required))

  override def commit(end: Offset): Unit = {
    // the log has sealed every epoch ending at or before `end`: replays
    // can no longer ask for them, so their scratch is reclaimable
    val e = end.asInstanceOf[VersionOffset].v
    try {
      val base = new Path(s"$checkpointLocation/graft_cdf")
      val f = graft.lake.Lake.fs(spark, base.toString)
      if (f.exists(base)) f.listStatus(base).foreach { st =>
        // dir names: <start>_<end>_<shapeHash> (pre-r15 dirs: <start>_<end>)
        st.getPath.getName.split("_") match {
          case Array(_, hi, _*) if hi.nonEmpty && hi.forall(_.isDigit) && hi.toInt <= e =>
            f.delete(st.getPath, true)
          case _ => ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }
  override def stop(): Unit = ()
}
