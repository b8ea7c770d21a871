package graft.lake

import java.time.LocalDate

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The partitioned parquet data lake (SURVEY.md §2.A6-A9).
  *
  * Layout mirrors the reference (data_lake_config.py:141-148):
  * {{{
  *   <root>/streams/<name>/year=YYYY/month=M/day=D/<file>.parquet   (append)
  *   <root>/tables/<name>/version=vN/<file>.parquet                 (overwrite)
  * }}}
  * Hive-style directories, so Spark's partition discovery + partition-filter
  * pushdown prune reads for free (a date-range read of a 100 TB stream feed
  * touches only the selected day directories; `.explain` shows
  * PartitionFilters on year/month/day). One divergence: the reference
  * zero-pads month/day directory names (`month=01`); Spark writes them
  * unpadded (`month=1`). Partition-value semantics are identical (both
  * parse as int partitions); maintenance ops that address directories by
  * path ([[compactPartition]]) probe both spellings.
  *
  * Unlike the reference (pandas → single file per batch,
  * export_to_data_lake.py:214-233) writes are executor-parallel; file count
  * per partition = upstream parallelism, controllable by the caller via
  * repartition on the partition columns (done here before write so one task
  * owns one output partition — avoids the many-small-files problem at scale).
  */
object Lake {

  def streamPath(root: String, name: String): String = s"$root/streams/$name"
  def tablePath(root: String, name: String): String = s"$root/tables/$name"

  /** TABLE PROPERTIES sidecar (`<table>/_props.json`, table-level — a
    * WRITE POLICY, not snapshot content, so it is deliberately not
    * versioned): currently the one policy consumers honor is
    * `cluster_by` = comma-separated columns — INSERTs and streaming
    * epoch appends range-cluster + sort their batch on these columns, so
    * every file covers a narrow key slice and [[StatsSidecar]] pruning
    * works without the user hand-repartitioning. Set via
    * `CREATE TABLE ... TBLPROPERTIES` or `ALTER TABLE ... SET
    * TBLPROPERTIES`; a malformed sidecar reads as empty (policy, never
    * correctness).
    */
  private val tablePropsName = "_props.json"

  val ClusterByProp = "cluster_by"

  /** `file_max_records` write policy: cap rows per output file, so one
    * SORTED write partition (a hash bucket, a z-ordered range slice)
    * splits into several files with narrow, disjoint stats envelopes
    * instead of one file whose min/max spans the whole partition —
    * the knob that makes `bucket_by` + in-bucket `zorder` prune files on
    * secondary dimensions. Plumbed as Spark's own per-write
    * `maxRecordsPerFile` option, so the split respects the sort order.
    */
  val FileMaxRecordsProp = "file_max_records"

  /** The staged-snapshot writer honoring the table's write policies
    * (today: [[FileMaxRecordsProp]]) — every path that stages table data
    * files goes through this so policies hold across plain publishes,
    * compactions and COW rewrites alike.
    */
  private[lake] def policyWriter(
      spark: SparkSession, root: String, name: String, df: DataFrame) = {
    val w = df.write.mode(SaveMode.Overwrite)
    tableProperties(spark, root, name).get(FileMaxRecordsProp)
      .filter(v => v.nonEmpty && v.forall(_.isDigit))
      .fold(w)(v => w.option("maxRecordsPerFile", v.toLong))
  }

  def tableProperties(
      spark: SparkSession, root: String, name: String): Map[String, String] =
    try {
      val p = new Path(tablePath(root, name), tablePropsName)
      val f = fs(spark, p.toString)
      if (!f.exists(p)) Map.empty
      else {
        import org.json4s._
        val in = f.open(p)
        val txt = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        org.json4s.jackson.JsonMethods.parse(txt) match {
          case JObject(fields) => fields.collect {
            case (k, JString(v)) => k -> v
          }.toMap
          case _ => Map.empty
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  def setTableProperties(
      spark: SparkSession, root: String, name: String,
      set: Map[String, String], remove: Set[String] = Set.empty): Unit = {
    val tdir = tablePath(root, name)
    val f = fs(spark, tdir)
    f.mkdirs(new Path(tdir))
    // the read-modify-write is guarded by the same exclusive-create claim
    // the version commits use, so two concurrent ALTER TABLE SET/UNSET
    // TBLPROPERTIES serialize instead of silently losing one writer's
    // merge. Holders release in a finally; a crashed holder's stale lock
    // is broken only once its modification time ages past a threshold —
    // a cumulative-failure counter alone would let a waiter shoot a LIVE
    // holder under sustained contention (each new holder resets the age,
    // not the counter). Property writes are sub-millisecond, so a lock
    // 2s old is a corpse, not a writer.
    val lock = new Path(tdir, ".props_lock")
    val staleMs = 2000L
    while (!claimExclusive(f, lock)) {
      val stale =
        try f.getFileStatus(lock).getModificationTime < System.currentTimeMillis() - staleMs
        catch { case _: java.io.IOException => false } // vanished: holder released; re-claim
      if (stale) { try f.delete(lock, false) catch { case _: java.io.IOException => () } }
      Thread.sleep(20)
    }
    try writePropsLocked(spark, root, name, set, remove)
    finally { try f.delete(lock, false) catch { case _: java.io.IOException => () } }
  }

  private def writePropsLocked(
      spark: SparkSession, root: String, name: String,
      set: Map[String, String], remove: Set[String]): Unit = {
    val merged = (tableProperties(spark, root, name) ++ set) -- remove
    val p = new Path(tablePath(root, name), tablePropsName)
    val f = fs(spark, p.toString)
    if (merged.isEmpty) { f.delete(p, false); () }
    else {
      import org.json4s.JsonDSL._
      val ast = org.json4s.JObject(
        merged.toList.map { case (k, v) => k -> org.json4s.JString(v) })
      val out = f.create(p, true)
      try out.write(org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(ast))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Apply the table's `cluster_by` write policy to a batch: range
    * cluster + sort so each output file covers a narrow slice of the
    * cluster key (what [[StatsSidecar]] pruning feeds on). No-op without
    * the property or when a named column is absent (a mid-evolution
    * writer must never fail on policy).
    *
    * Two forms:
    *  - `cluster_by = 'a,b'` — lexicographic range clustering: prunes the
    *    LEADING column's predicates fully, later columns only within ties;
    *  - `cluster_by = 'zorder(a,b)'` — MULTI-DIMENSIONAL clustering: rows
    *    sort by the Morton interleave of per-column range-bucket ids, so
    *    every file covers a narrow slice of EVERY named dimension and
    *    range predicates on any one of them prune files (the public
    *    OPTIMIZE ... ZORDER BY design, expressed as a write policy — a
    *    range predicate covering fraction f of one of k dimensions admits
    *    ~f^(1/k) of the files instead of all of them). Bucket ids
    *    normalize each column linearly between the BATCH's min and max
    *    (one extra agg job over the batch — the policy's price);
    *    numeric/date/timestamp columns, plus STRING via an
    *    order-preserving 6-byte-prefix numeric form (exact in double's
    *    53-bit mantissa); anything else falls
    *    back to the lexicographic form.
    */
  def applyClusterPolicy(
      spark: SparkSession, root: String, name: String,
      df: DataFrame): DataFrame = {
    val props = tableProperties(spark, root, name)
    // `bucket_by` drives PLACEMENT: hash-bucket the batch so every file
    // holds one bucket (the exchange-free-diff layout, [[BucketLayout]]).
    // A zorder `cluster_by` COMPOSES as the in-bucket sort instead of
    // being silenced — see [[BucketLayout.applyPolicy]]
    BucketLayout.spec(props).foreach { case (c, _) =>
      if (df.columns.contains(c))
        return BucketLayout.applyPolicy(spark, root, name, df)
    }
    val spec = props.get(ClusterByProp)
      .map(_.trim).filter(_.nonEmpty)
    val ZOrder = raw"(?i)zorder\((.+)\)".r
    spec match {
      case None => df
      case Some(ZOrder(inner)) =>
        val cols = inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (!cols.forall(df.columns.contains)) df
        else zorderKey(df, cols) match {
          case Some(z) =>
            df.repartitionByRange(z).sortWithinPartitions(z)
          case None => // unsupported type in the batch: lexicographic
            df.repartitionByRange(cols.map(col): _*)
              .sortWithinPartitions(cols.map(col): _*)
        }
      case Some(s) =>
        val cols = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (cols.isEmpty || !cols.forall(df.columns.contains)) df
        else df.repartitionByRange(cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
    }
  }

  /** The Morton (Z-order) sort key over `cols`: each column maps to a
    * range-bucket id in `[0, 2^bits)` — a linear normalization between
    * the batch's observed min and max — and the ids' bits interleave into
    * one long (bit `j` of column `i` lands at position `j*k + i`), built
    * entirely from codegen'd bit functions. NULLs bucket to 0 (sort
    * first, like NULLS FIRST). None when any column's type has no
    * monotone numeric form, or the batch is empty/constant-degenerate
    * enough that normalization is meaningless.
    */
  /** The z-dimension columns of a `cluster_by = 'zorder(a,b)'` policy,
    * None for the lexicographic form or no policy.
    */
  private[lake] def zorderSpec(props: Map[String, String]): Option[Seq[String]] = {
    val ZOrder = raw"(?i)zorder\((.+)\)".r
    props.get(ClusterByProp).map(_.trim).collect {
      case ZOrder(inner) =>
        inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.filter(_.nonEmpty)
  }

  private[graft] def zorderKey(df: DataFrame, cols: Seq[String]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    def numeric(c: String): Option[org.apache.spark.sql.Column] =
      df.schema.find(_.name == c).map(_.dataType).flatMap {
        case DateType => Some(unix_date(col(c)).cast("double"))
        case TimestampType | TimestampNTZType => Some(col(c).cast("double"))
        case _: NumericType => Some(col(c).cast("double"))
        case StringType =>
          // order-preserving numeric form of a string's first 6 UTF-8
          // BYTES: right-pad the truncated binary to fixed width with
          // 0x00 (so "b" stays above "aa" — variable-width magnitudes
          // would invert them), read as a 48-bit big-endian unsigned
          // (conv's unsigned decimal string). 48 bits sit under double's
          // 53-bit mantissa, so the value is EXACT — every 6-byte-prefix
          // difference is a distinct key (an 8-byte form would round away
          // its low ~11 bits). UTF-8 byte order IS binary-collation
          // string order, so range-bucket ids built from this are
          // monotone in the column. Strings sharing a 6-byte prefix
          // collapse to one value — that dimension then buckets coarsely
          // (a key space like `tenant_<n>` clusters on nothing past the
          // prefix), which costs clustering sharpness ONLY: the policy
          // shapes files, stats pruning stays exact either way
          Some(conv(hex(rpad(
            substring(encode(col(c), "UTF-8"), 1, 6),
            6, Array[Byte](0))), 16, 10).cast("double"))
        case _ => None
      }
    val nums = cols.map(numeric)
    if (nums.exists(_.isEmpty)) return None
    val exprs = nums.flatten
    val bits = math.min(16, 62 / cols.size)
    val buckets = 1L << bits
    // one agg job over the batch for the normalization bounds
    val aggs = exprs.flatMap(e => Seq(min(e), max(e)))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bounds = cols.indices.map(i => (row.get(2 * i), row.get(2 * i + 1)))
    if (bounds.exists { case (lo, hi) => lo == null || hi == null }) return None
    val ids = exprs.zip(bounds).map { case (e, (lo, hi)) =>
      val (l, h) = (lo.asInstanceOf[Double], hi.asInstanceOf[Double])
      val span = math.max(h - l, java.lang.Double.MIN_NORMAL)
      when(e.isNull, 0L).otherwise(
        least(floor((e - lit(l)) / lit(span) * lit(buckets.toDouble)), lit(buckets - 1))
          .cast("long"))
    }
    var z = lit(0L)
    val k = cols.size
    for (j <- 0 until bits; i <- 0 until k)
      z = z.bitwiseOR(shiftleft(
        shiftright(ids(i), j).bitwiseAND(lit(1L)), j * k + i))
    Some(z)
  }

  /** The filesystem of `path`, looked up through the context's Hadoop conf
    * (`sessionState.newHadoopConf()` would copy the whole conf per call).
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The data schema `spark.read.parquet(paths: _*)` infers, resolved on
    * the driver: one footer read instead of Spark's one-task inference job.
    * Partition columns are not part of it; a read discovers them from
    * directory names either way.
    * The footer is that of the file inference reads, the least path by
    * string among the data files Spark's listing finds under `paths`
    * (summary files, which Spark does not write, are not consulted). It
    * is converted by Spark's own `readSchemaFromFooter` under a converter
    * built from the session conf at call time, so `nanosAsLong`, Spark's
    * row-metadata key and NTZ inference apply as they do in inference,
    * and the result is nullable as inference makes it. Where no such file
    * can be named (no data file, a missing or glob path, a streaming
    * sink's metadata log) Spark infers, and raises its own errors.
    */
  def parquetSchema(spark: SparkSession, paths: String*): StructType =
    firstDataFile(spark, paths) match {
      case Some(file) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        nullable(ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
          .asInstanceOf[StructType]
      case None => spark.read.parquet(paths: _*).schema
    }

  /** `spark.read.parquet(paths: _*)` under its [[parquetSchema]]. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(parquetSchema(spark, paths: _*)).parquet(paths: _*)

  /** A version's raw schema: the declared one if the table evolved, else
    * the footer schema of `file`, one of its data files.
    */
  private[graft] def declaredOrFooter(
      spark: SparkSession, declared: Option[StructType], file: => String): StructType =
    declared.getOrElse(parquetSchema(spark, file))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The file parquet inference would read under `paths`, if it can be
    * named from a listing. Names are skipped as Spark's listing skips them
    * (`HadoopFSUtils.shouldFilterOutPathName`). A directory's children are
    * visited with a subdirectory keyed `name/`: everything under it sorts
    * as that prefix does, so the first data file found is the least path.
    */
  private def firstDataFile(spark: SparkSession, paths: Seq[String]): Option[FileStatus] = {
    def skipped(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def first(f: FileSystem, dir: Path): Option[FileStatus] =
      f.listStatus(dir).filterNot(s => skipped(s.getPath.getName))
        .sortBy(s => s.getPath.getName + (if (s.isDirectory) "/" else ""))
        .iterator
        .flatMap(s => if (s.isDirectory) first(f, s.getPath) else Some(s))
        .nextOption()
    if (paths.isEmpty || paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else try {
      val roots = paths.map { p => val f = fs(spark, p); (f, f.getFileStatus(new Path(p))) }
      val sinkLog = roots match {
        case Seq((f, st)) => st.isDirectory && f.exists(new Path(st.getPath, "_spark_metadata"))
        case _ => false
      }
      if (sinkLog) None
      else roots.flatMap { case (f, st) => if (st.isDirectory) first(f, st.getPath) else Some(st) }
        .minByOption(_.getPath.toString)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Append a batch into date partitions (A6/A8, kafka_consumer_datalake.py:
    * 33-46). `eventTimeCol` partitions by event time; `None` mirrors the
    * reference's processing-date behavior (`date.today()`,
    * kafka_consumer_datalake.py:36) using `asOfDate`.
    */
  def appendStream(
      df: DataFrame, root: String, name: String,
      eventTimeCol: Option[String] = None,
      asOfDate: LocalDate = LocalDate.now()): Unit = {
    val withParts = eventTimeCol match {
      case Some(c) =>
        df.withColumn("year", year(col(c)))
          .withColumn("month", month(col(c)))
          .withColumn("day", dayofmonth(col(c)))
      case None =>
        df.withColumn("year", lit(asOfDate.getYear))
          .withColumn("month", lit(asOfDate.getMonthValue))
          .withColumn("day", lit(asOfDate.getDayOfMonth))
    }
    withParts
      .repartition(col("year"), col("month"), col("day"))
      .write.mode(SaveMode.Append)
      .partitionBy("year", "month", "day")
      .parquet(streamPath(root, name))
  }

  /** Read a stream feed, optionally pruned to [from, to] — the predicate is
    * on partition columns only, so pruning happens at planning time.
    */
  def readStreamFeed(
      spark: SparkSession, root: String, name: String,
      from: Option[LocalDate] = None, to: Option[LocalDate] = None): DataFrame = {
    val df = readParquet(spark, streamPath(root, name))
    val dt = make_date(col("year"), col("month"), col("day"))
    val lo = from.map(d => dt >= lit(d.toString).cast("date"))
    val hi = to.map(d => dt <= lit(d.toString).cast("date"))
    (lo ++ hi).foldLeft(df)((acc, p) => acc.filter(p))
  }

  /** Versions present for a table feed, ascending (A7 discovery,
    * export_to_data_lake.py:235-245).
    */
  def versions(spark: SparkSession, root: String, name: String): Seq[Int] = {
    val p = new Path(tablePath(root, name))
    val f = fs(spark, tablePath(root, name))
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("version=v") => s.stripPrefix("version=v").toInt }
      .sorted
  }

  def latestVersion(spark: SparkSession, root: String, name: String): Option[Int] =
    versions(spark, root, name).lastOption

  /** Write the next versioned snapshot (A7, export_to_data_lake.py:160-212):
    * next = max(existing)+1, OVERWRITE into a fresh `version=vN` dir, then
    * prune to `retentionVersions` (C3 inline pruning, :247-265). Readers of
    * vN-1 are unaffected — snapshot isolation by directory convention.
    * Returns the version written.
    */
  def writeTableSnapshot(
      df: DataFrame, root: String, name: String,
      retentionVersions: Int = 7): Int =
    stageAndPublish(df, root, name, expectedLatest = None, retentionVersions).get

  /** Stage `df` under the table's write policies and publish it through
    * [[publishStaged]] — the one body of [[writeTableSnapshot]] and
    * [[writeTableSnapshotIf]].
    */
  private def stageAndPublish(
      df: DataFrame, root: String, name: String,
      expectedLatest: Option[Int], retentionVersions: Int): Option[Int] = {
    val spark = df.sparkSession
    val stage = newStage(root, name)
    policyWriter(spark, root, name, df).parquet(stage.toString)
    publishStaged(spark, root, name, stage, expectedLatest, Some(retentionVersions))
  }

  /** A fresh staging directory inside the table dir: a hidden sibling of
    * the version dirs, so promoting it is a same-directory rename, readers
    * never list it, and [[vacuumTable]] collects it when its writer dies.
    * `tag` names what the directory holds (empty for a snapshot stage).
    */
  def newStage(root: String, name: String, tag: String = ""): Path =
    new Path(s"${tablePath(root, name)}/.stage_$tag" +
      java.util.UUID.randomUUID().toString.replace("-", ""))

  /** Run one optimistic read-modify-write until it commits: `attempt`
    * reads the latest version, builds its result and publishes it by
    * compare-and-swap ([[writeTableSnapshotIf]], [[promoteStagedIf]]),
    * returning None when another writer committed first — the next
    * attempt re-reads the new latest. Gives up after 20 lost races.
    */
  def retryLoop[A](name: String, op: String)(attempt: () => Option[A]): A = {
    @annotation.tailrec
    def go(n: Int): A =
      if (n > 20) throw new java.io.IOException(
        s"$op $name: still conflicting after ${n - 1} attempts")
      else attempt() match {
        case Some(a) => a
        case None => go(n + 1)
      }
    go(1)
  }

  /** Atomically create a claim marker, returning whether WE created it.
    * `FileSystem.create(path, overwrite = false)` is exists-then-create on
    * the local filesystem — two racing threads can both "win", which is a
    * double-claimed version slot (and Hadoop rename-into-existing-dir then
    * silently nests the loser's staging inside the winner's snapshot). On
    * `file://` go through NIO `Files.createFile` — O_CREAT|O_EXCL, atomic
    * on POSIX; everywhere else (HDFS and object-store semantics) the
    * Hadoop exclusive create is itself atomic.
    */
  private[lake] def claimExclusive(
      f: org.apache.hadoop.fs.FileSystem, claim: Path): Boolean =
    try {
      val uri = f.makeQualified(claim).toUri
      if (uri.getScheme == "file") {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(uri.getPath))
        true
      } else { f.create(claim, false).close(); true }
    } catch { case _: java.io.IOException => false }

  /** Carry the streaming sinks' epoch-receipt FRONTIER into a staged
    * commit: every sink's newest `_epoch_<sink>_<n>` receipt across ALL
    * live version dirs is re-stamped into the stage (unless the stage
    * already stamps that sink — an appendEpoch committing its own new
    * receipt), so the receipt a replay probe needs can never age out of
    * the live set no matter which operation commits next. Run by the
    * commit tail [[publishStaged]], which every path that publishes a
    * version goes through (COW rewrites, merge-on-read sidecars,
    * metadata-only evolutions, plain snapshot writes, clones); taking
    * the max across all live dirs (not just the latest) makes a
    * momentarily-stale frontier stamped by a racing writer self-heal
    * instead of propagate.
    */
  private def carryEpochFrontier(
      spark: SparkSession, f: org.apache.hadoop.fs.FileSystem,
      root: String, name: String, stage: Path): Unit =
    try {
      val stagedSinks = f.listStatus(stage).toSeq.map(_.getPath.getName)
        .flatMap(CopyOnWrite.parseEpochMarker).map(_._1).toSet
      val frontier = (for {
        v <- versions(spark, root, name)
        n <- CopyOnWrite.epochMarkersOf(spark, root, name, v)
        parsed <- CopyOnWrite.parseEpochMarker(n)
      } yield parsed)
        .groupBy(_._1).map { case (sink, es) => sink -> es.map(_._2).max }
      frontier.filterNot { case (sink, _) => stagedSinks.contains(sink) }
        .foreach { case (sink, e) =>
          f.create(new Path(stage, s"_epoch_${sink}_$e"), true).close() }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Post-commit hooks, invoked (spark, root, name, newVersion) after every
    * successful snapshot commit — the single place downstream maintenance
    * (e.g. `mv_refresh='on_commit'` summary refresh,
    * [[graft.warehouse.SummaryRewrite]]) can observe table mutations
    * without polling. Hooks run ON the committing thread AFTER the version
    * is live (the commit itself can no longer fail), are re-entrancy
    * guarded (a hook that commits does not re-trigger hooks on that
    * thread), and a hook failure is logged, never propagated — maintenance
    * must not fail a committed write.
    */
  private val commitHooks =
    new java.util.concurrent.CopyOnWriteArrayList[(SparkSession, String, String, Int) => Unit]()

  def addCommitHook(h: (SparkSession, String, String, Int) => Unit): Unit = {
    commitHooks.add(h); ()
  }

  private val inCommitHook = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Commit-hook failures since JVM start — a persistently failing
    * on_commit summary refresh stays CORRECT (the rewrite fail-closes at
    * the old asOfVersion) but silently degrades to never-serving; this
    * counter plus the ERROR log below make that observable instead of a
    * one-line stderr whisper.
    */
  private[graft] val commitHookFailures = new java.util.concurrent.atomic.AtomicLong(0L)

  private lazy val hookLog = org.slf4j.LoggerFactory.getLogger("graft.lake.Lake")

  private def runCommitHooks(
      spark: SparkSession, root: String, name: String, version: Int): Unit = {
    if (inCommitHook.get()) return
    inCommitHook.set(java.lang.Boolean.TRUE)
    try commitHooks.forEach { h =>
      try h(spark, root, name, version)
      catch { case scala.util.control.NonFatal(e) =>
        val n = commitHookFailures.incrementAndGet()
        hookLog.error(
          s"commit hook failed for $name v$version (failure #$n since start)", e)
      }
    } finally inCommitHook.set(java.lang.Boolean.FALSE)
  }

  /** THE COMMIT TAIL: promote a fully-written staging directory to a
    * `version=vN` slot — the one function that publishes a version.
    *
    * Optimistic concurrency. Version numbers are claimed with an exclusive
    * marker-file create ([[claimExclusive]]) BEFORE the rename, so two
    * writers that both computed next = N cannot clobber each other — the
    * loser's create fails. No torn reads ever: a version directory appears
    * only via rename of a complete staging dir, so `versions()` can never
    * list a half-written snapshot. A writer that crashes after claiming but
    * before renaming burns its version number (readers skip the gap;
    * `vacuumTable` collects the marker and the orphaned staging).
    *
    * The slot:
    *  - `expectedLatest = None` claims the next free slot; a claimed or
    *    occupied slot moves it to the one after, so it always publishes;
    *  - `Some(b)` is a compare-and-swap: it publishes `b + 1` only if `b`
    *    is still the latest version, else it deletes the stage and returns
    *    None (the caller re-reads the new latest and retries —
    *    [[retryLoop]]).
    *
    * Every commit runs the same steps: the stats, bloom and bucket stamps
    * and the epoch-frontier carry go INTO the stage (atomic with the
    * version; a lost race wastes only their reads), then claim, rename,
    * `_commit` receipt and ledger entry, claim release, commit hooks, and
    * last the retention prune (`retentionVersions`; None never prunes —
    * clones and write-audit-publish). Hooks run before the prune so an
    * `mv_refresh='on_commit'` refresh still finds the version it diffs
    * from, even at a small retention.
    */
  private def publishStaged(
      spark: SparkSession, root: String, name: String, stage: Path,
      expectedLatest: Option[Int], retentionVersions: Option[Int]): Option[Int] = {
    val tdir = tablePath(root, name)
    val f = fs(spark, tdir)
    // sidecars are best-effort CACHES: a missing one costs scan IO, never
    // correctness. Per-file MIN/MAX stats (footer reads only), blooms for
    // the table's bloom_filter_columns and the bucket mapping (both opt-in
    // by property, over the STAGED files only)
    try StatsSidecar.stamp(f, stage)
    catch { case scala.util.control.NonFatal(_) => () }
    try BloomSidecar.stamp(spark, root, name, stage)
    catch { case scala.util.control.NonFatal(_) => () }
    try BucketLayout.stamp(spark, root, name, stage)
    catch { case scala.util.control.NonFatal(_) => () }
    carryEpochFrontier(spark, f, root, name, stage)
    @annotation.tailrec
    def claimFrom(n: Int): Option[Int] = {
      val claim = new Path(s"$tdir/.claim_v$n")
      val claimed = claimExclusive(f, claim)
      val live = new Path(s"$tdir/version=v$n")
      if (claimed && !f.exists(live) &&
          expectedLatest.forall(b => latestVersion(spark, root, name).getOrElse(0) == b)) {
        if (!f.rename(stage, live))
          throw new java.io.IOException(s"commit: could not promote $stage to $live")
        stampCommit(f, live)
        f.delete(claim, false)
        Some(n)
      } else {
        // slot taken (a racing writer, a pre-OCC partial dir) or, for a
        // CAS, a later commit: release OUR claim if we made one (claims
        // only matter before the slot's rename), never overwrite
        if (claimed) f.delete(claim, false)
        if (expectedLatest.isEmpty) claimFrom(n + 1)
        else { f.delete(stage, true); None }
      }
    }
    val published = claimFrom(
      expectedLatest.getOrElse(latestVersion(spark, root, name).getOrElse(0)) + 1)
    published.foreach { n =>
      runCommitHooks(spark, root, name, n)
      retentionVersions.foreach(k =>
        Retention.pruneTableVersions(spark, root, name, keep = k, dryRun = false))
    }
    published
  }

  /** Leave a `_commit` receipt inside the published snapshot dir. POSIX
    * rename PRESERVES the source dir's mtime, so the directory timestamp
    * is the staging-write instant, not the commit; the receipt's own mtime
    * IS the claim-rename instant — the value `TIMESTAMP AS OF` must order
    * by (monotone per table because commits serialize through the claim).
    * Underscore-prefixed, so Spark readers ignore it.
    */
  private def stampCommit(f: org.apache.hadoop.fs.FileSystem, live: Path): Unit = {
    try f.create(new Path(live, "_commit"), true).close()
    catch { case _: java.io.IOException => () } // receipt is best-effort metadata
    // append the version's LEDGER ENTRY (also best-effort — readers fall
    // back to probing the version dir when an entry is missing); folding
    // keeps the ledger dir small as versions accumulate
    try writeLedgerEntry(f, live)
    catch { case _: java.io.IOException => () }
  }

  /** Per-table VERSION LEDGER: `_versions/` next to the version dirs holds
    * one tiny JSON per commit (`v<N>.json`, written by [[stampCommit]] at
    * claim-rename time) recording what [[tableHistory]] would otherwise
    * re-derive with a listing + manifest read PER VERSION DIR — commit
    * instant, kind, file counts. History over 10⁴ versions then costs one
    * `_versions` listing + one compacted read instead of 10⁴ dir probes
    * (a streaming-append table minting a version per minute reaches that
    * in a week). Loose entries FOLD into `compact_<upToN>.json` past a
    * threshold (exclusive-create guarded, so racing folders cannot
    * corrupt; the loser skips). Entries are best-effort CACHE, never
    * truth: [[versions]]/[[latestVersion]] stay on the version-dir
    * listing — the OCC claim protocol's correctness anchor — and every
    * ledger read INTERSECTS with the live version list, so a pruned
    * version whose folded entry survives is simply ignored and a missing
    * entry falls back to the probing path ([[probeVersion]]).
    */
  private[lake] val ledgerDirName = "_versions"
  private val ledgerFoldThreshold = 256

  private def ledgerDir(root: String, name: String) =
    new Path(s"${tablePath(root, name)}/$ledgerDirName")

  private val LedgerEntry =
    raw"""\{"version":(\d+),"committedAtMillis":(\d+),"kind":"([^"]+)","dataFiles":(\d+),"carriedFiles":(\d+)\}""".r

  private def entryJson(i: VersionInfo): String =
    s"""{"version":${i.version},"committedAtMillis":${i.committedAtMillis},""" +
      s""""kind":"${i.kind}","dataFiles":${i.dataFiles},"carriedFiles":${i.carriedFiles}}"""

  private def parseEntry(line: String): Option[VersionInfo] = line.trim match {
    case LedgerEntry(v, at, kind, own, carried) =>
      Some(VersionInfo(v.toInt, at.toLong, kind, own.toInt, carried.toInt))
    case _ => None
  }

  /** Classify a LIVE version dir by probing it — the pre-ledger path and
    * the fallback for versions missing an entry.
    */
  private def probeVersion(
      f: org.apache.hadoop.fs.FileSystem, dir: Path, version: Int,
      committedAtMillis: Long): VersionInfo = {
    val entries = f.listStatus(dir).toSeq
    val own = entries.count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val isClone = entries.exists(_.getPath.getName == "_clone")
    val hasMf = entries.exists(_.getPath.getName == manifestName)
    val hasDel = entries.exists { st =>
      val n = st.getPath.getName
      n == MergeOnRead.deletesName || n == MergeOnRead.eqDeletesName
    }
    val carried =
      if (!hasMf) 0
      else {
        val in = f.open(new Path(dir, manifestName))
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        txt.split('\n').count(_.trim.nonEmpty)
      }
    val hasSchema = entries.exists(_.getPath.getName == schemaName)
    val kind =
      if (isClone) "clone"
      else if (hasDel && own > 0) "cow+mor"
      else if (hasDel) "mor"
      else if (hasMf && own == 0 && hasSchema) "evolve"
      else if (hasMf) "cow"
      else "physical"
    VersionInfo(version, committedAtMillis, kind, own, carried)
  }

  private def writeLedgerEntry(
      f: org.apache.hadoop.fs.FileSystem, live: Path): Unit = {
    val version = live.getName.stripPrefix("version=v").toInt
    val tdir = live.getParent
    val receipt = new Path(live, "_commit")
    val at =
      if (f.exists(receipt)) f.getFileStatus(receipt).getModificationTime
      else f.getFileStatus(live).getModificationTime
    val info = probeVersion(f, live, version, at)
    val ldir = new Path(tdir, ledgerDirName)
    val out = f.create(new Path(ldir, s"v$version.json"), true)
    try out.write(entryJson(info).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    foldLedgerIfNeeded(f, ldir)
  }

  /** Fold loose entries into one `compact_<upToN>.json` once the loose
    * count passes the threshold. Exclusive-create on the compact file is
    * the race guard (two committers folding the same range: one wins, the
    * loser's create fails and it skips); loose files are deleted only
    * AFTER the compact file holding them exists, so no entry is ever
    * lost mid-fold.
    */
  private def foldLedgerIfNeeded(
      f: org.apache.hadoop.fs.FileSystem, ldir: Path): Unit = {
    val all = f.listStatus(ldir).toSeq.filter(_.isFile)
    val loose = all.filter(st => st.getPath.getName.startsWith("v") &&
      st.getPath.getName.endsWith(".json"))
    if (loose.size <= ledgerFoldThreshold) return
    val oldCompacts = all.filter(_.getPath.getName.startsWith("compact_"))
    def readAll(p: Path): Seq[VersionInfo] =
      scala.util.Try { // a racing folder may delete files under us: skip
        val in = f.open(p)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        txt.split('\n').toSeq.flatMap(parseEntry)
      }.getOrElse(Seq.empty)
    // fold EVERYTHING — prior compacts included — into one file, so the
    // steady state is 1 compact + up to `threshold` loose entries
    val infos = (oldCompacts ++ loose).flatMap(st => readAll(st.getPath))
      .groupBy(_.version).map(_._2.head).toSeq.sortBy(_.version)
    if (infos.isEmpty) return
    val upTo = infos.map(_.version).max
    val compact = new Path(ldir, s"compact_$upTo.json")
    if (f.exists(compact) || !claimExclusive(f, compact))
      return // another folder won this range
    val tmp = new Path(ldir, s".fold_$upTo")
    val out = f.create(tmp, true)
    try out.write(infos.map(entryJson).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // the claim file is empty — replace it with the folded content via
    // delete+rename (safe: we own the claim; readers treat an empty or
    // half-written compact file as absent entries and fall back)
    f.delete(compact, false)
    if (f.rename(tmp, compact)) {
      loose.foreach(st => f.delete(st.getPath, false))
      oldCompacts.foreach(st => f.delete(st.getPath, false))
    } else f.delete(tmp, false)
  }

  /** Every ledger entry (folded + loose), keyed by version. Loose entries
    * win over folded duplicates (they are immutable, so either is right).
    */
  private[lake] def readLedger(
      spark: SparkSession, root: String, name: String): Map[Int, VersionInfo] = {
    val ldir = ledgerDir(root, name)
    val f = fs(spark, ldir.toString)
    if (!f.exists(ldir)) return Map.empty
    val entries = f.listStatus(ldir).toSeq.filter(_.isFile)
    def readAll(p: Path): Seq[VersionInfo] =
      scala.util.Try { // a racing fold may delete files under us: the
        // entries live on in the new compact; missing ones fall back to
        // the probing path, so skipping here is always safe
        val in = f.open(p)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        txt.split('\n').toSeq.flatMap(parseEntry)
      }.getOrElse(Seq.empty)
    val folded = entries.filter(_.getPath.getName.startsWith("compact_"))
      .flatMap(st => readAll(st.getPath))
    val loose = entries.filter(st => st.getPath.getName.startsWith("v") &&
      st.getPath.getName.endsWith(".json"))
      .flatMap(st => readAll(st.getPath))
    (folded ++ loose).map(i => i.version -> i).toMap
  }

  /** Drop a pruned version's loose ledger entry (folded entries are left —
    * readers intersect with the live version list, so a stale folded
    * entry is ignored until the next fold cycles it out).
    */
  private[lake] def dropLedgerEntry(
      spark: SparkSession, root: String, name: String, version: Int): Unit = {
    val p = new Path(ledgerDir(root, name), s"v$version.json")
    try { val f = fs(spark, p.toString); if (f.exists(p)) f.delete(p, false); () }
    catch { case _: java.io.IOException => () }
  }

  /** Commit instant of a snapshot: the `_commit` receipt's mtime when
    * present (claim-rename time), else the directory mtime (pre-receipt
    * tables; staging-write time — the best information available).
    */
  def commitInstantMillis(
      spark: SparkSession, root: String, name: String, version: Int): Long = {
    val dir = new Path(s"${tablePath(root, name)}/version=v$version")
    val f = fs(spark, dir.toString)
    val receipt = new Path(dir, "_commit")
    if (f.exists(receipt)) f.getFileStatus(receipt).getModificationTime
    else f.getFileStatus(dir).getModificationTime
  }

  /** Commit instants for EVERY live version in one pass — one ledger read
    * plus per-version receipt probes only for entries the best-effort
    * stamp missed. `TIMESTAMP AS OF` resolution needs all of them, and
    * probing each (`commitInstantMillis` in a loop) is O(versions) RPCs —
    * the cost class the `_versions` ledger exists to remove.
    */
  def commitInstants(
      spark: SparkSession, root: String, name: String): Map[Int, Long] = {
    val ledger = readLedger(spark, root, name)
    versions(spark, root, name).map { v =>
      v -> ledger.get(v).map(_.committedAtMillis)
        .getOrElse(commitInstantMillis(spark, root, name, v))
    }.toMap
  }

  /** Conditional snapshot commit: publish `df` as version `expectedLatest+1`
    * ONLY IF no other writer has committed past `expectedLatest` — the
    * compare-and-swap every read-modify-write needs for lost-update safety
    * (the catalog's INSERT INTO and TRUNCATE, warehouse merges, compaction,
    * the feed descriptor). Returns the committed version, or None on
    * conflict (caller re-reads the new latest and retries, [[retryLoop]]).
    * The unconditional [[writeTableSnapshot]] is only for content that
    * does not depend on the current snapshot: the catalog's INSERT
    * OVERWRITE, `Txn` members (serialized by their manifest CAS) and
    * whole-table snapshot writers.
    */
  def writeTableSnapshotIf(
      df: DataFrame, root: String, name: String,
      expectedLatest: Int,
      retentionVersions: Int = 7): Option[Int] =
    stageAndPublish(df, root, name, Some(expectedLatest), retentionVersions)

  /** The conditional commit of a snapshot the caller staged THEMSELVES
    * (in a [[newStage]] dir — e.g. the catalog's row-level UPDATE/MERGE,
    * whose executors write it through Spark's DSv2 parquet writer, or the
    * copy-on-write and merge-on-read commits): [[publishStaged]] with
    * `expectedLatest`, so None means another writer committed first and
    * the stage is gone.
    */
  def promoteStagedIf(
      spark: SparkSession, root: String, name: String, stage: Path,
      expectedLatest: Int,
      retentionVersions: Int = 7): Option[Int] =
    publishStaged(spark, root, name, stage, Some(expectedLatest), Some(retentionVersions))

  /** Name of the optional per-version FILE MANIFEST: a text file (one
    * ROOT-relative path per line) listing data files this version CARRIES
    * BY REFERENCE from earlier version dirs, in addition to the physical
    * parquet files in its own dir. Written by the file-granular
    * copy-on-write ops ([[CopyOnWrite]]): an UPDATE touching 3 of 10,000
    * files rewrites 3 files physically and lists the other 9,997 here —
    * at 100 TB that is the difference between a 30 MB commit and a 100 TB
    * one. References are FLATTENED at creation (they always point at the
    * dir that physically holds the file, never at another manifest), so
    * resolution is one hop. [[Retention.pruneTableVersions]] keeps
    * referenced version dirs alive transitively.
    */
  val manifestName = "_manifest"

  /** Name of the receipt every copy-on-write commit ([[CopyOnWrite]])
    * stages into its version before the rename, as it stages the `_epoch_*`
    * receipts: the commit kept the merge-on-read row liveness of every file
    * it carries (their sidecar entries are copied, or folded from equality
    * to positions, never added or dropped), and the files it wrote have no
    * sidecar entry. [[versionChanges]] reads it for the step the commit
    * made. Never carried to another version.
    */
  val livenessKeptName = "_liveness_kept"

  /** Name of the optional per-version DECLARED-SCHEMA sidecar: a JSON
    * StructType written by metadata-only schema evolution
    * ([[addColumn]]). A version carrying `_schema` is read with that
    * schema — parquet readers null-fill requested columns absent from a
    * file, so adding a column to a 100 TB table commits one JSON + one
    * manifest, zero rewrite. Carried forward by every manifest-writing
    * commit (one-hop, like manifests and sidecars); a physical re-publish
    * (compaction, INSERT OVERWRITE) bakes the column into the files and
    * drops the sidecar.
    */
  val schemaName = "_schema"

  /** Field-metadata keys of the `_schema` sidecar's FIELD MAPPING — the
    * Iceberg field-ID idea expressed with names, which the snapshot layout
    * can afford because every physical spelling a column ever had is
    * recorded on the field itself:
    *  - `graft.from`: prior PHYSICAL spellings of a renamed column, newest
    *    first — readers project pre-rename files through
    *    `coalesce(current, prior...)`, so a RENAME commits one JSON;
    *  - `graft.dropped`: the field was DROPPED — it stays in the RAW
    *    sidecar (so its name, and its own prior spellings, remain RESERVED
    *    against re-adding, which would resurrect old file data) but is
    *    stripped from every read and from the visible schema.
    * The RAW sidecar travels verbatim with every manifest-writing commit;
    * a physical re-publish (compaction, INSERT OVERWRITE) bakes current
    * names into the files and drops the sidecar — and with it the
    * reservations, which is then safe because the old spellings no longer
    * exist in any live file.
    */
  private val FromKey = "graft.from"
  private val DroppedKey = "graft.dropped"

  /** Prior physical spellings of a (renamed) field, newest first. */
  def priorNames(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(FromKey)) f.metadata.getStringArray(FromKey).toSeq
    else Seq.empty

  def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** The READER-facing schema: dropped fields removed, mapping metadata
    * stripped (it is commit bookkeeping, not user schema).
    */
  def visibleSchema(
      raw: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      raw.fields.filterNot(isDropped).map { f =>
        if (priorNames(f).isEmpty) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(FromKey).build())
      })

  /** Does this declared schema need the mapping-aware read path? */
  def hasFieldMapping(raw: org.apache.spark.sql.types.StructType): Boolean =
    raw.fields.exists(f => priorNames(f).nonEmpty || isDropped(f))

  /** Every name a new or renamed column may NOT take: current names,
    * dropped names, and every prior physical spelling of either — a file
    * written under any of these spellings may still be carried by a live
    * version, and a fresh column under the same name would resurrect it.
    */
  private def reservedNames(
      raw: org.apache.spark.sql.types.StructType): Set[String] =
    raw.fields.flatMap(f => f.name +: priorNames(f)).toSet

  /** Read data `files` under a declared (raw) schema: dropped fields are
    * never requested, renamed fields read every physical spelling and
    * coalesce to the current name (exactly one spelling exists per file,
    * so coalesce picks the value the file holds, or NULL when the file
    * predates the column entirely). `withMeta` additionally exposes the
    * scan's `_metadata` struct as a REGULAR column — the sidecar/probe
    * machinery needs `file_path`/`row_index` THROUGH the mapping
    * projection, and hidden metadata columns do not survive a projection.
    * Without a mapping this is a plain (optionally schema'd) parquet read
    * — zero overhead on the common path.
    */
  private[graft] def readFiles(
      spark: SparkSession, files: Seq[String],
      declared: Option[org.apache.spark.sql.types.StructType],
      withMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    declared match {
      case Some(raw) if hasFieldMapping(raw) =>
        val visible = visibleSchema(raw)
        val extra = raw.fields.filterNot(isDropped).flatMap(f =>
          priorNames(f).map(n => StructField(n, f.dataType, nullable = true)))
        val readSchema = StructType(
          visible.fields.map(_.copy(nullable = true)) ++ extra)
        val rawDf = spark.read.schema(readSchema).parquet(files: _*)
        val mapped = visible.fields.map { f =>
          val spellings = f.name +: priorNames(raw.fields.find(r =>
            !isDropped(r) && r.name == f.name).get)
          if (spellings.size == 1) col(f.name)
          else coalesce(spellings.map(col): _*).as(f.name)
        }
        val cols = if (withMeta) mapped :+ col("_metadata") else mapped
        rawDf.select(cols.toIndexedSeq: _*)
      case Some(raw) =>
        val df = spark.read.schema(raw).parquet(files: _*)
        if (withMeta) df.select(col("*"), col("_metadata")) else df
      case None =>
        val df = readParquet(spark, files: _*)
        if (withMeta) df.select(col("*"), col("_metadata")) else df
    }
  }

  /** The version's declared schema, if evolution has occurred since its
    * files were written — RAW: renamed fields carry their prior physical
    * spellings as metadata and dropped fields are still present (marked),
    * because commits carry this sidecar verbatim. Use [[visibleSchema]]
    * for the reader/user-facing shape; [[readFiles]] applies the mapping.
    * Resolved past clone pointers like every read.
    */
  def declaredSchema(
      spark: SparkSession, root: String, name: String,
      version: Int): Option[org.apache.spark.sql.types.StructType] = {
    val dir = resolveSnapshotDir(spark, root, name, version)
    val f = fs(spark, dir)
    val p = new Path(dir, schemaName)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** METADATA-ONLY `ADD COLUMN`: commit a new version whose dir holds a
    * `_schema` JSON (base schema + the new nullable field) and a manifest
    * carrying every base file by reference — no data file is read or
    * written, so evolving a 100 TB table is O(1). Readers null-fill the
    * column for pre-evolution files (the parquet missing-column
    * contract); subsequent writes carry it physically. Sidecar deletes
    * carry verbatim (adding a column changes no row identity or value).
    * Only nullable top-level adds are expressible without rewrite —
    * anything else (rename, drop, type change) still refuses.
    */
  def addColumn(
      spark: SparkSession, root: String, name: String,
      field: org.apache.spark.sql.types.StructField,
      retentionVersions: Int = 7): Int = {
    require(field.nullable,
      s"addColumn: only NULLABLE columns can be added without a rewrite (${field.name})")
    retryLoop(name, "addColumn") { () =>
      val (base, current) = rawSchemaOf(spark, root, name)
      require(!reservedNames(current).contains(field.name),
        s"addColumn: '${field.name}' is taken on $name — a current column, a " +
          "DROPPED column, or a prior spelling of a renamed one (re-adding " +
          "would resurrect old file data; compact first to release the name)")
      val evolved = org.apache.spark.sql.types.StructType(current.fields :+ field)
      // sidecars carry verbatim: no row identity or value changes
      stageMetadataOnly(spark, root, name, base, evolved, retentionVersions)
    }
  }

  /** METADATA-ONLY `RENAME COLUMN` — the commit is one `_schema` JSON + a
    * full-carry manifest, zero data files touched: the renamed field
    * records its prior physical spellings (`graft.from`), and every
    * reader projects pre-rename files through `coalesce(new, prior...)`
    * ([[readFiles]]). Position sidecars carry verbatim (identity and
    * values unchanged); an EQUALITY sidecar keyed on the renamed column
    * carries with its key column renamed (values unchanged — the read
    * anti-join runs post-mapping, where only the new name exists). The
    * new name must not collide with any reserved spelling
    * ([[reservedNames]]); renaming to a dropped or prior name would
    * resurrect old file data. Chained renames accumulate spellings, so a
    * twice-renamed column still reads files from every generation.
    */
  def renameColumn(
      spark: SparkSession, root: String, name: String,
      from: String, to: String,
      retentionVersions: Int = 7): Int =
    retryLoop(name, "renameColumn") { () =>
      val (base, current) = rawSchemaOf(spark, root, name)
      val idx = current.fields.indexWhere(f => !isDropped(f) && f.name == from)
      require(idx >= 0, s"renameColumn: $name has no column '$from'")
      require(!reservedNames(current).contains(to),
        s"renameColumn: '$to' is taken on $name — a current column, a dropped " +
          "column, or a prior spelling (compact first to release the name)")
      val f = current.fields(idx)
      val evolved = org.apache.spark.sql.types.StructType(current.fields.updated(idx,
        f.copy(name = to, metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putStringArray(FromKey, (from +: priorNames(f)).toArray).build())))
      stageMetadataOnly(spark, root, name, base, evolved, retentionVersions,
        eqTransform = e =>
          if (e.columns.contains(from)) e.withColumnRenamed(from, to) else e)
    }

  /** METADATA-ONLY `DROP COLUMN`: the field is MARKED dropped in the raw
    * `_schema` (one JSON + full-carry manifest, zero data files touched)
    * and stripped from every read — parquet readers simply never request
    * it from old files. The name (and the field's prior spellings) stays
    * RESERVED until a physical re-publish bakes the schema, because a
    * fresh column under a spelling old files still carry would resurrect
    * their data. Refuses while an EQUALITY-delete sidecar is keyed on the
    * column (its value match needs the column at read time — compact
    * first, which applies the sidecar physically and releases everything).
    */
  def dropColumn(
      spark: SparkSession, root: String, name: String, colName: String,
      retentionVersions: Int = 7): Int =
    retryLoop(name, "dropColumn") { () =>
      val (base, current) = rawSchemaOf(spark, root, name)
      val idx = current.fields.indexWhere(f => !isDropped(f) && f.name == colName)
      require(idx >= 0, s"dropColumn: $name has no column '$colName'")
      require(current.fields.count(!isDropped(_)) > 1,
        s"dropColumn: cannot drop $name's last column")
      MergeOnRead.eqDeletesOf(spark, root, name, base).foreach(e =>
        require(!e.columns.contains(colName),
          s"dropColumn: an equality-delete sidecar is keyed on '$colName' — " +
            "CALL system.compact first to apply it physically"))
      val f = current.fields(idx)
      val evolved = org.apache.spark.sql.types.StructType(current.fields.updated(idx,
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putBoolean(DroppedKey, true).build())))
      stageMetadataOnly(spark, root, name, base, evolved, retentionVersions)
    }

  /** Is `from → to` a LOSSLESS widening the parquet reader can serve
    * without rewriting files? (Spark 4's vectorized reader up-converts
    * these at scan time: integral up-widenings, float→double,
    * sub-long-integral→double, same-scale decimal precision growth, and
    * date→timestamp_ntz.) Everything else — narrowing, scale changes,
    * string/binary conversions — still requires a physical rewrite.
    */
  def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // byte/short/int are exactly representable as double; long is NOT
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** METADATA-ONLY TYPE WIDENING — `ALTER TABLE ... ALTER COLUMN c TYPE t`
    * for the losslessly-widenable pairs ([[isWidening]]): the commit is
    * one `_schema` JSON + a full-carry manifest, zero data files read or
    * written. Readers hand the widened declared schema to the parquet
    * scan and Spark's vectorized reader up-converts old narrow files at
    * scan time (the Delta/Iceberg type-promotion contract), so one
    * snapshot transparently mixes int32 and int64 files. An EQUALITY
    * sidecar keyed on the column widens its key values with the schema
    * (value identity is preserved — 5:int and 5:long are the same key);
    * position sidecars carry verbatim. Per-file STATS on old files keep
    * their original domain: same-domain widenings (int→long,
    * float→double) keep pruning, cross-domain ones (int→double,
    * date→timestamp_ntz) conservatively stop pruning old files until a
    * physical re-publish re-stamps them. Anything non-widening refuses.
    */
  def widenColumn(
      spark: SparkSession, root: String, name: String, colName: String,
      to: org.apache.spark.sql.types.DataType,
      retentionVersions: Int = 7): Int =
    retryLoop(name, "widenColumn") { () =>
      val (base, current) = rawSchemaOf(spark, root, name)
      val idx = current.fields.indexWhere(f => !isDropped(f) && f.name == colName)
      require(idx >= 0, s"widenColumn: $name has no column '$colName'")
      val f = current.fields(idx)
      require(isWidening(f.dataType, to),
        s"widenColumn: ${f.dataType.simpleString} -> ${to.simpleString} is " +
          "not a lossless widening (only integral up-widenings, " +
          "float->double, sub-long-integral->double, same-scale decimal " +
          "precision growth and date->timestamp_ntz commit without a rewrite)")
      val evolved = org.apache.spark.sql.types.StructType(
        current.fields.updated(idx, f.copy(dataType = to)))
      stageMetadataOnly(spark, root, name, base, evolved, retentionVersions,
        eqTransform = e =>
          if (e.columns.contains(colName))
            e.withColumn(colName, col(colName).cast(to))
          else e)
    }

  /** (base version, RAW declared-or-physical schema) of the current
    * latest — the starting point of every metadata-only evolution.
    */
  private def rawSchemaOf(
      spark: SparkSession, root: String,
      name: String): (Int, org.apache.spark.sql.types.StructType) = {
    val base = latestVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    val raw = declaredOrFooter(spark, declaredSchema(spark, root, name, base),
      snapshotFiles(spark, root, name, base).head)
    (base, raw)
  }

  /** Stage + CAS-commit a METADATA-ONLY evolution: the new raw `_schema`,
    * a manifest carrying every base file by reference, and the base's
    * sidecars, copied file by file. Only an equality sidecar that
    * `eqTransform` changes (a rename or widening of its key column; any
    * other evolution returns its input) is rewritten, by one small job over
    * the sidecar. Zero jobs over table data.
    */
  private def stageMetadataOnly(
      spark: SparkSession, root: String, name: String, base: Int,
      newRaw: org.apache.spark.sql.types.StructType, retentionVersions: Int,
      eqTransform: DataFrame => DataFrame = identity): Option[Int] = {
    val files = snapshotFiles(spark, root, name, base)
    val stage = newStage(root, name)
    val f = fs(spark, stage.toString)
    if (MergeOnRead.hasDeletes(spark, root, name, base))
      MergeOnRead.stageSidecar(spark, root, name, stage, MergeOnRead.deletesName,
        MergeOnRead.Carry(base))
    MergeOnRead.eqDeletesOf(spark, root, name, base).foreach { e =>
      val t = eqTransform(e)
      MergeOnRead.stageSidecar(spark, root, name, stage, MergeOnRead.eqDeletesName,
        if (t eq e) MergeOnRead.Carry(base) else MergeOnRead.Write(t))
    }
    val so = f.create(new Path(stage, schemaName), true)
    try so.write(newRaw.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally so.close()
    val rels = files.map(CopyOnWrite.relToRoot(root, _))
    CopyOnWrite.pinForeign(f, root, name, rels)
    val out = f.create(new Path(stage, manifestName), true)
    try out.write(rels.mkString("\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    promoteStagedIf(spark, root, name, stage, base, retentionVersions)
  }

  /** All data files of a snapshot, absolute: the version dir's own
    * physical parquet files plus any manifest-carried references. Resolves
    * clone pointers first, so it works uniformly on branches.
    */
  def snapshotFiles(
      spark: SparkSession, root: String, name: String, version: Int): Seq[String] = {
    val dir = new Path(resolveSnapshotDir(spark, root, name, version))
    val f = fs(spark, dir.toString)
    // FULLY-QUALIFIED URIs, all through the same filesystem: own files
    // from listStatus, carried ones resolved root-relative — one spelling,
    // WITH scheme/authority, so `spark.read.parquet` over the list hits
    // the lake's filesystem even when it is not the session default
    // (object stores); set operations over versions' file lists (the COW
    // probe, spec pins) normalize both sides identically instead
    val own = f.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(st => f.makeQualified(st.getPath).toString)
    val mf = new Path(dir, manifestName)
    if (!f.exists(mf)) own
    else {
      val in = f.open(mf)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      own ++ txt.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
        .map(rel => f.makeQualified(new Path(s"$root/$rel")).toString).toSeq
    }
  }

  /** Does this version carry a file manifest? (resolved past clone
    * pointers, like every snapshot read)
    */
  def hasManifest(
      spark: SparkSession, root: String, name: String, version: Int): Boolean = {
    val dir = resolveSnapshotDir(spark, root, name, version)
    fs(spark, dir).exists(new Path(dir, manifestName))
  }

  /** Read a table snapshot: latest version, or a specific one (A3).
    * Manifest-carrying versions read their full resolved file list; plain
    * versions read the directory (identical plan — a parquet scan over
    * the same files). Versions carrying a merge-on-read position-delete
    * sidecar ([[MergeOnRead]]) get the sidecar applied as one anti-join.
    */
  def readTableFeed(
      spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): DataFrame =
    readTableFeedPruned(spark, root, name, version, keepOnly = None)

  /** [[readTableFeed]] restricted to a STATS-ADMITTED file subset — the
    * merge-on-read/mapping SQL fallback's file pruning: the caller has
    * already proven (conservatively, via [[StatsSidecar]]) that files
    * outside `keepOnly` hold no row matching its pushed filters, so
    * reading fewer files changes nothing the filter would keep. Delete
    * semantics are untouched: position sidecars key on (file, pos) of the
    * files actually read, equality sidecars anti-join by value. An empty
    * subset reads one file (the filters still apply above).
    */
  def readTableFeedPruned(
      spark: SparkSession, root: String, name: String,
      version: Option[Int], keepOnly: Option[Seq[String]]): DataFrame = {
    val v = version.orElse(latestVersion(spark, root, name))
      .getOrElse(throw new IllegalStateException(s"no versions for table feed $name"))
    val del = MergeOnRead.deletesOf(spark, root, name, v)
    val eq = MergeOnRead.eqDeletesOf(spark, root, name, v)
    val declared = declaredSchema(spark, root, name, v)
    if (hasManifest(spark, root, name, v) || del.isDefined || eq.isDefined ||
        keepOnly.isDefined) {
      val files = snapshotFiles(spark, root, name, v)
      if (files.isEmpty)
        throw new IllegalStateException(s"$name v$v: manifest resolves to zero files")
      val read = keepOnly match {
        case Some(keep) if keep.nonEmpty => keep
        case Some(_) => files.take(1) // stats excluded everything
        case None => files
      }
      MergeOnRead.readWithDeletes(spark, read, del, eq, declared)
    } else readParquet(spark, resolveSnapshotDir(spark, root, name, v))
  }

  /** COMPACT a table: re-publish the latest snapshot's RESOLVED content —
    * manifest references followed, merge-on-read delete sidecars applied —
    * as a plain physical version with size-targeted files (small appended
    * files bin-packed toward `targetFileBytes`). This is the maintenance
    * op that (a) restores full parquet pushdown after merge-on-read
    * deletes, (b) unchains copy-on-write manifests so retention can
    * reclaim old version dirs once the chain ages out, and (c) fixes the
    * small-files problem of high-frequency appends. CAS-committed: a
    * concurrent writer wins and the compaction retries against the new
    * latest (compaction is content-preserving, so retrying is always
    * sound). Returns the new version.
    */
  def compactTable(
      spark: SparkSession, root: String, name: String,
      targetFileBytes: Long = 128L << 20,
      retentionVersions: Int = 7,
      clusterBy: Seq[String] = Nil): Int =
    retryLoop(name, "compactTable") { () =>
      val base = latestVersion(spark, root, name).getOrElse(
        throw new IllegalStateException(s"no versions for table feed $name"))
      val files = snapshotFiles(spark, root, name, base)
      val f = fs(spark, tablePath(root, name))
      val bytes = files.map(p => f.getFileStatus(new Path(p)).getLen).sum
      val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val resolved = readTableFeed(spark, root, name, Some(base))
      // plain compaction is SHUFFLE-FREE (coalesce merges neighbors into
      // ~target-sized outputs); CLUSTERED compaction deliberately pays one
      // range shuffle + in-partition sort so each output file covers a
      // disjoint slice of the cluster key — parquet footer min/max then
      // prunes whole files for key-range queries (the OPTIMIZE ... ZORDER
      // trade: rewrite cost now, scan cost forever after)
      val props = tableProperties(spark, root, name)
      val zOrdered = props.get(ClusterByProp).exists(
        _.trim.toLowerCase.startsWith("zorder("))
      val shaped =
        if (clusterBy.nonEmpty) resolved
          .repartitionByRange(parts, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
        else if (BucketLayout.spec(props).isDefined)
          // a bucketed table compacts INTO its layout (one file per
          // bucket) — folding MOR chains must not cost the exchange-free
          // diff/probe paths their mapping
          BucketLayout.applyPolicy(spark, root, name, resolved)
        else if (zOrdered)
          // a zorder table compacts by RE-INTERLEAVING the whole snapshot
          // (the OPTIMIZE ... ZORDER maintenance shape): per-epoch writes
          // z-cluster only their own batch, so periodic compaction is
          // what restores global multi-dimensional pruning
          applyClusterPolicy(spark, root, name, resolved)
        else resolved.coalesce(parts)
      writeTableSnapshotIf(shaped, root, name, expectedLatest = base, retentionVersions)
    }

  /** VERSION TAGS — named refs over the version ledger (the Iceberg
    * tag idea on the snapshot layout): `tagVersion` drops a
    * `_tag_<tag>` marker INSIDE the tagged version dir, so
    *  - resolution is one dir listing ([[tagVersion]]/[[tagOf]]),
    *  - [[Retention.pruneTableVersions]]'s existing `_tag_`-aware
    *    ineligibility keeps tagged versions alive forever (a tag is a
    *    retention pin by construction — "the v2026-01 training cut" can
    *    never be aged out from under a reproducibility contract),
    *  - SQL time travel accepts tags: `VERSION AS OF 'stable'` resolves
    *    through the same catalog hook as numbers.
    * Tag names: `[A-Za-z][A-Za-z0-9_.-]*`, excluding the `v<digits>`
    * spellings — `VERSION AS OF` tries `v2`/`2` as a NUMBER first, so a
    * tag literally named `v2` would silently resolve to numeric version 2
    * instead of the tag; refusing those names at creation keeps numeric
    * and tag travel genuinely unambiguous. One version per tag; retagging
    * requires removing the old tag first (tags are contracts, not
    * pointers to move silently).
    */
  private val TagName = raw"[A-Za-z][A-Za-z0-9_.-]*".r
  private val NumericLike = raw"v\d+".r

  def tagVersion(
      spark: SparkSession, root: String, name: String, tag: String,
      version: Option[Int] = None): Int = {
    require(TagName.matches(tag), s"invalid tag '$tag' (must match ${TagName.regex})")
    require(!NumericLike.matches(tag),
      s"invalid tag '$tag': v<digits> names collide with numeric VERSION AS OF travel")
    val v = version.orElse(latestVersion(spark, root, name)).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    require(versions(spark, root, name).contains(v),
      s"tagVersion: $name has no version v$v")
    tagOf(spark, root, name, tag).foreach(existing => throw new IllegalStateException(
      s"tag '$tag' already points at $name v$existing — remove it first"))
    val dir = new Path(s"${tablePath(root, name)}/version=v$v")
    fs(spark, dir.toString).create(new Path(dir, s"_tag_$tag"), true).close()
    v
  }

  /** The version a tag points at, or None. One dir listing per version. */
  def tagOf(
      spark: SparkSession, root: String, name: String,
      tag: String): Option[Int] =
    versions(spark, root, name).find { v =>
      val dir = new Path(s"${tablePath(root, name)}/version=v$v")
      fs(spark, dir.toString).exists(new Path(dir, s"_tag_$tag"))
    }

  /** Remove a tag; the version becomes retention-eligible again. Returns
    * whether the tag existed.
    */
  def removeTag(
      spark: SparkSession, root: String, name: String, tag: String): Boolean =
    tagOf(spark, root, name, tag).exists { v =>
      val dir = new Path(s"${tablePath(root, name)}/version=v$v")
      fs(spark, dir.toString).delete(new Path(dir, s"_tag_$tag"), false)
    }

  /** One version's ledger entry for [[tableHistory]]. `kind`: `physical`
    * (plain snapshot), `clone` (pointer version), `cow` (manifest-carrying
    * rewrite), `mor` (delete-sidecar version; `cow+mor` when a rewrite
    * also carries sidecar entries), `evolve` (metadata-only schema
    * evolution — manifest + `_schema`, zero data files).
    */
  case class VersionInfo(
      version: Int, committedAtMillis: Long, kind: String,
      dataFiles: Int, carriedFiles: Int)

  /** The table's version ledger — `DESCRIBE HISTORY` for the snapshot
    * layout (SQL: `CALL <cat>.system.history(t)`). Served from the
    * `_versions` ledger where entries exist — ONE ledger read regardless
    * of version count — with a per-version probing fallback for entries
    * the best-effort commit stamp missed (pre-ledger tables, crashed
    * stamps). The version LIST itself still comes from the dir listing
    * (the correctness anchor), so a pruned version can never resurrect
    * through a stale folded ledger entry.
    */
  def tableHistory(
      spark: SparkSession, root: String, name: String): Seq[VersionInfo] = {
    val ledger = readLedger(spark, root, name)
    versions(spark, root, name).map { v =>
      ledger.getOrElse(v, {
        val dir = new Path(s"${tablePath(root, name)}/version=v$v")
        probeVersion(fs(spark, dir.toString), dir, v,
          commitInstantMillis(spark, root, name, v))
      })
    }
  }

  /** SHALLOW CLONE: commit a new table (or a new version of an existing
    * one) whose snapshot is a METADATA POINTER to another table's
    * physical snapshot — branching a 100 TB table costs one marker file
    * and one directory rename, zero data movement (the scale story: an
    * experiment branch, a reproducible training-data cut, a what-if
    * migration all start as O(1) operations instead of a 100 TB copy).
    *
    * Mechanics:
    *  - the clone's `version=vN` dir contains only a `_clone` JSON pointer
    *    `{"src": <table>, "version": <v>}`; every reader resolves through
    *    [[resolveSnapshotDir]] (clone-of-clone chains resolve to the
    *    PHYSICAL dir at clone time, so chains never deepen past one hop);
    *  - the pointer version commits through the SAME claim protocol as a
    *    data snapshot — concurrent cloners/writers serialize, `_commit` is
    *    stamped, `TIMESTAMP AS OF` works;
    *  - the physical source version gets a `_pin_<dst>` marker, which
    *    [[Retention.pruneTableVersions]] honors: the source's retention
    *    can no longer delete bytes a branch still references (the
    *    dangling-pointer failure shallow clones are notorious for);
    *    underscore-prefixed, so readers of the source ignore it;
    *  - writes to the clone are ordinary snapshot commits (copy-on-write:
    *    the branch's own versions are physical; divergence never touches
    *    the source), and source writes never touch the branch.
    *
    * Governance note: a clone READ is governed by the PHYSICAL path (the
    * catalog's `GovernedPath` resolves pointers), so a deny on the source
    * cannot be laundered by cloning it.
    *
    * Returns the clone's committed version number.
    */
  def cloneTable(
      spark: SparkSession, root: String, src: String, dst: String,
      srcVersion: Option[Int] = None): Int = {
    require(src != dst, "cloneTable: src and dst must differ")
    val v = srcVersion.orElse(latestVersion(spark, root, src))
      .getOrElse(throw new IllegalStateException(s"no versions for table feed $src"))
    // resolve to the physical snapshot NOW: pins land on real bytes, and
    // pointer chains stay one hop deep no matter how branches branch
    val physDir = new Path(resolveSnapshotDir(spark, root, src, v))
    val physTable = physDir.getParent.getName
    val physVersion = physDir.getName.stripPrefix("version=v").toInt
    val f = fs(spark, physDir.toString)
    require(f.exists(physDir), s"cloneTable: $physDir does not exist")
    f.create(new Path(physDir, s"_pin_$dst"), true).close()
    // TOCTOU guard (the Txn-heartbeat pattern): a retention prune racing
    // between the exists() check and the pin create() can delete the
    // version dir, and create() auto-creating parents resurrects an EMPTY
    // shell that versions() would list as live. Re-check the dir still
    // holds at least one data file now that the pin blocks further prunes;
    // if not, remove the resurrected shell and fail the clone.
    // substance = a data file OR a manifest (a merge-on-read / pure-COW
    // version dir legitimately holds no physical parquet of its own)
    val hasData = f.listStatus(physDir).exists { s =>
      val n = s.getPath.getName
      (s.isFile && !n.startsWith("_")) || n == manifestName
    }
    if (!hasData) {
      f.delete(physDir, true)
      throw new IllegalStateException(
        s"cloneTable: $physDir was pruned concurrently — re-run against the current latest")
    }
    val stage = newStage(root, dst)
    f.mkdirs(stage)
    val ptr = f.create(new Path(stage, "_clone"), true)
    ptr.write(s"""{"src":"$physTable","version":$physVersion}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ptr.close()
    // a branch inherits the source's WRITE POLICIES (cluster_by,
    // bucket_by, blooms — the Delta-clone convention): without the copy a
    // branch write silently drops the layout the source paid for, and a
    // bucketed branch could never merge back exchange-free. Only when the
    // branch has no properties of its own yet.
    if (tableProperties(spark, root, dst).isEmpty) {
      val srcProps = tableProperties(spark, root, src)
      if (srcProps.nonEmpty) setTableProperties(spark, root, dst, srcProps)
    }
    publishStaged(spark, root, dst, stage, expectedLatest = None, retentionVersions = None).get
  }

  /** DROP a table feed — the branch-retirement half of the clone/pin
    * protocol: pins must be RELEASED when the pointing table is retired,
    * or the source version they guard stays unprunable forever.
    *
    *  - REFUSES while any of this table's own physical versions carries a
    *    `_pin_<other>` marker for a LIVE table `other` (a branch still
    *    references these bytes — dropping would dangle it). A pin whose
    *    pointing table no longer exists is STALE (e.g. the branch dir was
    *    removed out-of-band): it is cleaned up here rather than blocking
    *    the drop forever.
    *  - Releases this table's own `_pin_<name>` markers on every source
    *    version its `_clone` pointer versions reference, making those
    *    source versions retention-eligible again.
    *  - Then deletes the table directory. Returns false if the table
    *    didn't exist.
    */
  def dropTable(spark: SparkSession, root: String, name: String): Boolean = {
    val tdir = new Path(tablePath(root, name))
    val f = fs(spark, tdir.toString)
    if (!f.exists(tdir)) return false
    val vs = versions(spark, root, name)
    vs.foreach { v =>
      val p = new Path(s"${tablePath(root, name)}/version=v$v")
      f.listStatus(p).map(_.getPath.getName).filter(_.startsWith("_pin_"))
        .foreach { m =>
          val pinner = m.stripPrefix("_pin_")
          if (f.exists(new Path(tablePath(root, pinner))))
            throw new IllegalStateException(
              s"dropTable: $name version=v$v is pinned by live branch '$pinner' — drop that branch first")
          else f.delete(new Path(p, m), false) // stale pin: pointing table gone
        }
    }
    vs.foreach { v =>
      clonePointer(spark, root, name, v).foreach { case (psrc, pv) =>
        f.delete(
          new Path(s"${tablePath(root, psrc)}/version=v$pv/_pin_$name"), false)
      }
      // release pins stamped by copy-on-write commits that carried FOREIGN
      // files (a mutation on a cloned branch references source-version
      // dirs — CopyOnWrite.commitCow pins them under this table's name)
      val mf = new Path(s"${tablePath(root, name)}/version=v$v/$manifestName")
      if (f.exists(mf)) {
        val in = f.open(mf)
        val txt = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        txt.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
          .filterNot(_.startsWith(s"tables/$name/"))
          .map(rel => new Path(s"$root/$rel").getParent).toSeq.distinct
          .foreach(vdir => f.delete(new Path(vdir, s"_pin_$name"), false))
      }
    }
    f.delete(tdir, true)
    true
  }

  private val ClonePtr = raw"""\{"src":"([^"]+)","version":(\d+)\}""".r

  /** The `(physical table, version)` a pointer version references, or None
    * for a data snapshot.
    */
  def clonePointer(
      spark: SparkSession, root: String, name: String,
      version: Int): Option[(String, Int)] = {
    val dir = s"${tablePath(root, name)}/version=v$version"
    val ptrPath = new Path(dir, "_clone")
    val f = fs(spark, dir)
    if (!f.exists(ptrPath)) None
    else {
      val in = f.open(ptrPath)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim finally in.close()
      txt match {
        case ClonePtr(src, sv) => Some((src, sv.toInt))
        case _ => throw new IllegalStateException(
          s"clonePointer: malformed _clone pointer in $dir: $txt")
      }
    }
  }

  /** MERGE A BRANCH BACK into its source — the git-style completion of
    * [[cloneTable]]'s branching story: a three-way, per-key, set-oriented
    * merge of (base = the snapshot the branch was cut at, branch latest,
    * source latest), committed as a NEW source version.
    *
    * Per key (non-key columns compared as canonical JSON payloads, the
    * [[versionDiff]] convention):
    *  - changed only on the branch → the branch's row (or deletion) wins;
    *  - changed only on the source → the source's row stands;
    *  - changed on BOTH sides → CONFLICT, unless both sides made the
    *    IDENTICAL change (including both deleting) — the merge throws with
    *    a key sample and commits nothing, because silently picking a side
    *    is how data diverges un-auditably (a caller that wants
    *    branch-wins can rebase: re-clone and replay).
    *
    * Cost shape: one full-outer join across the three snapshots keyed on
    * the merge key — each side shuffles once; with bucketed snapshots it
    * would be exchange-free. The commit is the CAS conditional
    * ([[writeTableSnapshotIf]] against the source version the merge read),
    * so a concurrent source writer surfaces as
    * `ConcurrentModificationException` — re-run the merge against the new
    * latest; nothing is lost or half-applied.
    *
    * Returns the new source version.
    */
  def mergeBranch(
      spark: SparkSession, root: String, src: String, branch: String,
      keys: Seq[String],
      retentionVersions: Int = 7): Int = {
    val (psrc, _) = clonePointer(spark, root, branch, 1).getOrElse(
      throw new IllegalArgumentException(
        s"mergeBranch: $branch v1 is not a clone pointer — not a branch"))
    require(psrc == src,
      s"mergeBranch: $branch was cut from $psrc, not $src")
    val srcLatest = latestVersion(spark, root, src).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $src"))
    // EXCHANGE-FREE path: when all three snapshots (branch point, branch
    // head, source head) are bucket-aligned under one (col, N), the merge
    // is a per-bucket 3-way sorted zip — zero shuffles, and the merged
    // output lands already bucketed (the commit re-stamps the layout)
    mergeBranchBucketed(spark, root, src, branch, keys, srcLatest,
      retentionVersions).foreach(v => return v)
    val base = readTableFeed(spark, root, branch, Some(1))
    val b = readTableFeed(spark, root, branch)
    val s = readTableFeed(spark, root, src, Some(srcLatest))
    val valueCols = s.columns.filterNot(keys.contains).toSeq
    def tagged(df: DataFrame, side: String) = df.select(
      keys.map(col) ++ Seq(
        to_json(struct(valueCols.map(col): _*)).as(s"_p_$side"),
        struct(valueCols.map(col): _*).as(s"_row_$side")): _*)
    val j = tagged(base, "base").drop("_row_base")
      .join(tagged(b, "b"), keys.toSeq, "full_outer")
      .join(tagged(s, "s"), keys.toSeq, "full_outer")
      .withColumn("_b_changed", !(col("_p_b") <=> col("_p_base")))
      .withColumn("_s_changed", !(col("_p_s") <=> col("_p_base")))
      .localCheckpoint() // two consumers below; don't recompute the 3-way join
    val conflicts = j.filter(
      col("_b_changed") && col("_s_changed") && !(col("_p_b") <=> col("_p_s")))
    val sample = conflicts.select(keys.map(col): _*).limit(5).collect()
    if (sample.nonEmpty) throw new IllegalStateException(
      s"mergeBranch: $branch and $src both changed key(s) " +
        sample.map(_.toSeq.mkString("(", ",", ")")).mkString(", ") +
        " (and possibly more) since the branch point — resolve by rebasing")
    val merged = j
      .withColumn("_row",
        when(col("_b_changed"), col("_row_b")).otherwise(col("_row_s")))
      .filter(col("_row").isNotNull &&
        when(col("_b_changed"), col("_p_b").isNotNull)
          .otherwise(col("_p_s").isNotNull))
      .select(keys.map(col) ++ valueCols.map(c => col(s"_row.$c").as(c)): _*)
    writeTableSnapshotIf(merged, root, src, expectedLatest = srcLatest,
      retentionVersions = retentionVersions).getOrElse(
      throw new java.util.ConcurrentModificationException(
        s"mergeBranch: $src moved past v$srcLatest during the merge — re-run"))
  }

  /** The exchange-free branch merge: all three snapshots bucket-aligned →
    * one per-bucket 3-way sorted zip ([[org.apache.spark.sql.graft
    * .BucketedMerge.merge3]]), conflicts surfaced exactly like the join
    * path, the merged content committed ALREADY BUCKETED (its partitions
    * are the buckets, so the commit's verified stamp keeps the layout).
    * None → preconditions unmet, caller runs the join form.
    */
  private def mergeBranchBucketed(
      spark: SparkSession, root: String, src: String, branch: String,
      keys: Seq[String], srcLatest: Int,
      retentionVersions: Int): Option[Int] = {
    val branchLatest = latestVersion(spark, root, branch).getOrElse(return None)
    val trio = Seq((branch, 1), (branch, branchLatest), (src, srcLatest))
    if (trio.exists { case (t, v) =>
        MergeOnRead.hasAnyDeletes(spark, root, t, v) }) return None
    val decls = trio.map { case (t, v) => declaredSchema(spark, root, t, v) }
    if (decls.distinct.size != 1 || decls.head.exists(hasFieldMapping)) return None
    val layouts = trio.map { case (t, v) =>
      BucketLayout.layoutOf(spark, root, t, v) }
    if (layouts.exists(_.isEmpty)) return None
    val specs = layouts.flatten.map(l => (l._1, l._2)).distinct
    if (specs.size != 1 || !keys.contains(specs.head._1)) return None
    val n = specs.head._2
    val schema = visibleSchema(
      declaredOrFooter(spark, decls.head, layouts.head.get._3.keys.head))
    val sides = layouts.flatten.map(l => groupedByBucket(spark, l._3, n))
    val out = org.apache.spark.sql.graft.BucketedMerge
      .merge3(spark, sides(0), sides(1), sides(2), schema, keys)
      .localCheckpoint() // conflict probe + commit read it once
    val sample = out.filter(col("_m") === "conflict")
      .select(keys.map(col): _*).limit(5).collect()
    if (sample.nonEmpty) throw new IllegalStateException(
      s"mergeBranch: $branch and $src both changed key(s) " +
        sample.map(_.toSeq.mkString("(", ",", ")")).mkString(", ") +
        " (and possibly more) since the branch point — resolve by rebasing")
    val merged = out.filter(col("_m") === "merged")
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    Some(writeTableSnapshotIf(merged, root, src, expectedLatest = srcLatest,
      retentionVersions = retentionVersions).getOrElse(
      throw new java.util.ConcurrentModificationException(
        s"mergeBranch: $src moved past v$srcLatest during the merge — re-run")))
  }

  /** The PHYSICAL directory behind a snapshot: follows `_clone` pointers
    * (at most a short chain — [[cloneTable]] flattens at creation; the
    * bound only guards hand-built cycles). Every snapshot reader — library
    * ([[readTableFeed]]) and catalog SQL alike — resolves through here, so
    * a clone is indistinguishable from a data snapshot downstream.
    */
  def resolveSnapshotDir(
      spark: SparkSession, root: String, name: String, version: Int): String = {
    var n = name
    var v = version
    var hops = 0
    while (true) {
      val dir = s"${tablePath(root, n)}/version=v$v"
      val ptrPath = new Path(dir, "_clone")
      val f = fs(spark, dir)
      if (!f.exists(ptrPath)) return dir
      hops += 1
      if (hops > 8) throw new IllegalStateException(
        s"resolveSnapshotDir: clone chain from $name@v$version exceeds 8 hops (cycle?)")
      val in = f.open(ptrPath)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim finally in.close()
      txt match {
        case ClonePtr(src, sv) => n = src; v = sv.toInt
        case _ => throw new IllegalStateException(
          s"resolveSnapshotDir: malformed _clone pointer in $dir: $txt")
      }
    }
    "" // unreachable
  }

  /** Change-data view between two snapshots of a versioned table: rows
    * classified `inserted` / `deleted` / `updated` / `unchanged` by key —
    * the CDC feed a downstream warehouse consumer derives from the
    * version-partitioned lake (the reference ships full snapshots and lets
    * MySQL upserts discover changes row by row; this computes the delta
    * set-wise in ONE full-outer join keyed on the merge key).
    *
    * Non-key columns compare via `to_json(struct(...))` — canonical,
    * null-safe, and column-order deterministic. At scale the join shuffles
    * both snapshots once on the key; with bucketed snapshot writes it would
    * be exchange-free.
    */
  /** The two snapshots' bucket-aligned file lists, when the EXCHANGE-FREE
    * diff applies: both versions fully bucket-mapped under one `(col, N)`
    * ([[BucketLayout.layoutOf]] — verified-from-data, so a policy-bypassing
    * writer can never fake it), the bucket column among the diff keys, no
    * merge-on-read sidecars, identical declared schemas and no field
    * mapping. Returns `(oldByBucket, newByBucket, readSchema)` aligned by
    * bucket id, or None → the caller shuffles as before.
    */
  private def bucketedSides(
      spark: SparkSession, root: String, name: String,
      vOld: Int, vNew: Int, keys: Seq[String])
      : Option[(IndexedSeq[Seq[(String, Long)]],
                IndexedSeq[Seq[(String, Long)]],
                org.apache.spark.sql.types.StructType)] = {
    if (MergeOnRead.hasAnyDeletes(spark, root, name, vOld) ||
        MergeOnRead.hasAnyDeletes(spark, root, name, vNew)) return None
    val dA = declaredSchema(spark, root, name, vOld)
    val dB = declaredSchema(spark, root, name, vNew)
    if (dA != dB || dA.exists(hasFieldMapping)) return None
    for {
      (cA, nA, mapA) <- BucketLayout.layoutOf(spark, root, name, vOld)
      (cB, nB, mapB) <- BucketLayout.layoutOf(spark, root, name, vNew)
      if cA == cB && nA == nB && keys.contains(cA)
      schema = visibleSchema(declaredOrFooter(spark, dA, mapA.keys.head))
      // the bucketed kernel classifies `updated` by UnsafeRow BYTE equality
      // of the value projection; MapType's binary encoding is not canonical
      // per logical value (a rewrite may reorder entries), so a map-bearing
      // payload must take the join path — both CDF callers then classify a
      // reordered-map row the same way, instead of the bucketed path alone
      // surfacing spurious `updated` rows after a compaction
      if !schema.fields.filterNot(f => keys.contains(f.name))
        .exists(f => hasMapType(f.dataType))
    } yield
      (groupedByBucket(spark, mapA, nA), groupedByBucket(spark, mapB, nA), schema)
  }

  /** True when a type transitively contains a MapType — the one Catalyst
    * type whose Unsafe encoding is not canonical per logical value.
    */
  private def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case ArrayType(et, _) => hasMapType(et)
      case StructType(fields) => fields.exists(f => hasMapType(f.dataType))
      case _ => false
    }
  }

  /** `(path, length)` lists aligned by bucket id (empty-file `-1` entries
    * hold no rows and are soundly dropped). File lengths come from ONE
    * listing per distinct version dir, not a per-file status RPC — the
    * cost class that matters on object stores with 10⁶-file snapshots.
    */
  private def groupedByBucket(
      spark: SparkSession, mapping: Map[String, Int],
      n: Int): IndexedSeq[Seq[(String, Long)]] = {
    val lens: Map[String, Long] = mapping.keys
      .groupBy(p => new Path(p).getParent).flatMap { case (dir, _) =>
        val f = fs(spark, dir.toString)
        f.listStatus(dir).filter(_.isFile)
          .map(st => f.makeQualified(st.getPath).toString -> st.getLen)
      }
    val sized = mapping.toSeq.flatMap { case (p, b) =>
      lens.get(p).map(len => (p, len, b))
    }
    require(sized.size == mapping.size,
      s"bucketed read: ${mapping.size - sized.size} mapped files missing " +
        "from their dirs (concurrent prune?) — re-run against the current latest")
    (0 until n).map(b => sized.collect { case (p, len, `b`) => (p, len) })
  }

  /** Project rows read under an OLDER declared schema into a newer raw
    * schema's VISIBLE shape: each visible field takes the first of its
    * spellings (current name, then prior physical names — the rename
    * lineage [[renameColumn]] records) present in `df`, cast to the
    * field's possibly-widened type, or NULL when the column postdates the
    * rows entirely; fields marked dropped are excluded (dropping a column
    * changes no row identity or surviving value, so it must emit no
    * change rows). A `df` column the new schema's lineage cannot reach
    * (a republished schema with no recorded mapping) makes the step
    * unmappable → None, and callers pay the full two-snapshot diff —
    * conservative, never wrong.
    */
  private def alignToRaw(
      df: DataFrame,
      raw: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val have = df.columns.toSet
    val reachable = raw.fields.flatMap(f => f.name +: priorNames(f)).toSet
    if (!df.columns.forall(reachable.contains)) None
    else Some(df.select(raw.fields.filterNot(isDropped).map { f =>
      (f.name +: priorNames(f)).find(have.contains) match {
        case Some(c) => col(c).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*))
  }

  def versionDiff(
      spark: SparkSession, root: String, name: String,
      vOld: Int, vNew: Int, keys: Seq[String]): DataFrame = {
    // bucketed snapshots diff EXCHANGE-FREE: per-bucket zipped sort-merge
    // instead of the two snapshot-wide shuffles of a keyed full-outer join
    bucketedSides(spark, root, name, vOld, vNew, keys).foreach {
      case (ob, nb, schema) =>
        return org.apache.spark.sql.graft.BucketedMerge
          .diff(spark, ob, nb, schema, keys, emitUnchanged = true)
          .select(keys.map(col) :+ col("change"): _*)
    }
    val o0 = readTableFeed(spark, root, name, Some(vOld))
    val n = readTableFeed(spark, root, name, Some(vNew))
    // schema evolution between the versions: align the old side forward
    // through the new schema's recorded mapping (rename/null-fill/cast)
    // so the payload compare runs column-by-column in one shape
    val o = if (o0.columns.sameElements(n.columns)) o0
      else declaredSchema(spark, root, name, vNew)
        .flatMap(alignToRaw(o0, _)).getOrElse(o0)
    val valueCols = o.columns.filterNot(keys.contains).toSeq
    def tagged(df: DataFrame, side: String) =
      df.select(
        keys.map(col) :+
          to_json(struct(valueCols.map(col): _*)).as(s"_payload_$side"): _*)
    val joined = tagged(o, "old").join(tagged(n, "new"), keys.toSeq, "full_outer")
    joined.select(
      keys.map(col) :+
        when(col("_payload_old").isNull, "inserted")
          .when(col("_payload_new").isNull, "deleted")
          .when(col("_payload_old") =!= col("_payload_new"), "updated")
          .otherwise("unchanged").as("change"): _*)
  }

  /** One version step's change set as FULL ROW IMAGES + a `change` column
    * (`inserted` / `deleted` / `updated` — `unchanged` keys are simply
    * absent), computed MANIFEST-AWARE: the commit protocol already records
    * what a step changed (COW manifests name rewritten vs carried files,
    * MOR sidecars name deleted rows, appends own their new files), so the
    * step diff reads only
    *
    *  - files DROPPED between the snapshots (`filesOf(a) \ filesOf(b)` —
    *    a COW commit's rewritten files) → the old side,
    *  - files ADDED (`filesOf(b) \ filesOf(a)` — rewritten + appended
    *    files) → the new side,
    *  - rows of SHARED files whose merge-on-read liveness differs (the
    *    position/equality sidecar symmetric difference names them; only
    *    files those entries touch — stats/bloom-pruned for equality
    *    deletes — are opened),
    *
    * then classifies by key with one full-outer join over the two REDUCED
    * sides: a key on both sides with an identical payload was physically
    * moved but logically unchanged (the COW survivor case) and drops out;
    * differing payloads are `updated` (new image); one-sided keys are
    * `inserted` / `deleted` (deleted rows carry their last image). Cost is
    * O(changed + rewritten), never O(snapshot) — a 100-row UPDATE on a
    * 100 TB table diffs one file against its replacement. A step with no
    * shared files (plain snapshot republish, compaction) degenerates to
    * exactly the full two-snapshot diff — the correct price, since
    * everything MAY have changed. A step whose declared schemas differ
    * stays manifest-aware: the old side aligns forward through the new
    * schema's recorded mapping ([[alignToRaw]]), so a METADATA-ONLY
    * evolution commit (add/rename/widen/drop) emits an EMPTY change set
    * without opening one carried data file.
    *
    * The sidecar leg ([[sharedLivenessDelta]]) costs jobs whenever either
    * version carries a sidecar. A step `(a, a + 1)` onto a version holding
    * the [[livenessKeptName]] receipt skips it: that copy-on-write commit
    * claimed slot `a + 1` by CAS against base `a`, kept the liveness of
    * every shared file and wrote its added files without sidecar entries,
    * so the step is the dropped files (their deletes applied) against the
    * added files read plain. Every other step (no receipt: older tables,
    * merge-on-read deletes, `Txn` commits, clones; or endpoints further
    * apart) takes the sidecar leg.
    */
  def versionChanges(
      spark: SparkSession, root: String, name: String,
      vOld: Int, vNew: Int, keys: Seq[String],
      preimages: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "versionChanges: keys must be non-empty")
    def norm(p: String) = new Path(p).toUri.getPath
    val filesA = snapshotFiles(spark, root, name, vOld)
    val filesB = snapshotFiles(spark, root, name, vNew)
    val byNormB = filesB.map(p => norm(p) -> p).toMap
    val normA = filesA.map(norm).toSet
    val shared = filesB.filter(p => normA.contains(norm(p)))
    val declA = declaredSchema(spark, root, name, vOld)
    val declB = declaredSchema(spark, root, name, vNew)
    // full-republish steps between BUCKETED snapshots skip the keyed join
    // entirely — the per-bucket zipped merge is exchange-free AND yields
    // the images directly
    if (shared.isEmpty && !preimages)
      bucketedSides(spark, root, name, vOld, vNew, keys).foreach {
        case (ob, nb, schema) =>
          return org.apache.spark.sql.graft.BucketedMerge
            .diff(spark, ob, nb, schema, keys, emitUnchanged = false)
      }
    def fullSides() =
      (readTableFeed(spark, root, name, Some(vOld)),
       readTableFeed(spark, root, name, Some(vNew)))
    // Schema evolution between carried snapshots (add / rename / widen /
    // drop — declA != declB) reconciles THROUGH the mapping the new raw
    // schema records instead of forcing a full two-snapshot diff: the old
    // side reads under ITS schema and aligns to the new visible shape
    // ([[alignToRaw]] — prior spellings renamed forward, added columns
    // null-filled, widened columns cast, dropped columns excluded), so a
    // METADATA-ONLY evolution step emits an EMPTY change set without
    // opening a single carried data file — the Delta/Iceberg CDF contract
    // for ALTER commits. Only an old column unreachable through the new
    // schema's recorded lineage (a republish) still pays the full diff.
    val manifestSides: Option[(DataFrame, DataFrame)] =
      if (shared.isEmpty) None
      else {
        val sharedNorm = shared.map(norm).toSet
        val dropped = filesA.filterNot(p => sharedNorm.contains(norm(p)))
        val added = filesB.filterNot(p => sharedNorm.contains(norm(p)))
        val posA = MergeOnRead.deletesOf(spark, root, name, vOld)
        val eqA = MergeOnRead.eqDeletesOf(spark, root, name, vOld)
        val keptLiveness = vNew == vOld + 1 && {
          val dir = new Path(s"${tablePath(root, name)}/version=v$vNew")
          fs(spark, dir.toString).exists(new Path(dir, livenessKeptName))
        }
        lazy val posB = MergeOnRead.deletesOf(spark, root, name, vNew)
        lazy val eqB = MergeOnRead.eqDeletesOf(spark, root, name, vNew)
        def side(files: Seq[String], pos: Option[DataFrame],
            eq: Option[DataFrame], decl: Option[org.apache.spark.sql.types.StructType],
            emptyShape: Option[org.apache.spark.sql.types.StructType]) =
          if (files.isEmpty) emptyShape match {
            // a declared schema names the empty side's shape directly —
            // no probe read of a carried file, so an ALTER-only step
            // builds both sides without touching table data at all (the
            // old side of a first-evolution step borrows the NEW declared
            // shape; alignToRaw maps current names through identically)
            case Some(raw) => spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], visibleSchema(raw))
            case None =>
              MergeOnRead.readWithDeletes(spark, Seq(shared.head), None, None, None)
                .limit(0)
          }
          else MergeOnRead.readWithDeletes(spark, files, pos, eq, decl)
        val oldAligned: Option[DataFrame] =
          if (declA == declB) Some(side(dropped, posA, eqA, declA, declA))
          else declB.flatMap(rb =>
            alignToRaw(side(dropped, posA, eqA, declA, declA.orElse(declB)), rb))
        if (keptLiveness) oldAligned.map((_, side(added, None, None, declB, declB)))
        else oldAligned.map { oldSide =>
          // equality sidecars written pre-evolution carry OLD spellings
          // and types; remap + cast them forward so the sidecar delta
          // compare and the liveness probes run in the new schema's terms
          // (renameColumn/widenColumn transform the NEW side's sidecar at
          // commit, so a carried-verbatim step comes out identical and
          // the delta stays empty)
          val eqA2 =
            if (declA == declB) eqA
            else eqA.map { e =>
              val rb = declB.get
              val fields = rb.fields.filterNot(isDropped)
              val bySpelling = fields.flatMap(f =>
                (f.name +: priorNames(f)).map(_ -> f)).toMap
              e.select(e.columns.map { c =>
                bySpelling.get(c) match {
                  case Some(f) => col(c).cast(f.dataType).as(f.name)
                  case None => col(c)
                }
              }.toIndexedSeq: _*)
            }
          val (oldExtra, newExtra) = sharedLivenessDelta(
            spark, root, name, shared, sharedNorm, byNormB,
            posA, posB, eqA2, eqB, declB)
          (Seq(Some(oldSide), oldExtra).flatten.reduce(_ unionByName _),
           Seq(Some(side(added, posB, eqB, declB, declB)), newExtra)
            .flatten.reduce(_ unionByName _))
        }
      }
    val (oldAll, newAll) = manifestSides.getOrElse(fullSides())
    val valueCols = oldAll.columns.filterNot(keys.contains).toSeq
    def tagged(df: DataFrame, sideName: String) = df.select(
      keys.map(col) ++ Seq(
        to_json(struct(valueCols.map(col): _*)).as(s"_p_$sideName"),
        struct((keys ++ valueCols).map(col): _*).as(s"_r_$sideName")): _*)
    val j = tagged(oldAll, "o").join(tagged(newAll, "n"), keys.toSeq, "full_outer")
    val change = when(col("_p_o").isNull, "inserted")
      .when(col("_p_n").isNull, "deleted")
      .when(col("_p_o") =!= col("_p_n"), "updated")
      .otherwise("unchanged")
    val img = when(change === "deleted", col("_r_o")).otherwise(col("_r_n"))
    val chset = j.withColumn("_chg", change).filter(col("_chg") =!= "unchanged")
    if (!preimages)
      chset.select((keys ++ valueCols).map(c => img.getField(c).as(c)) :+
        col("_chg").as("change"): _*)
    else {
      // Delta-CDF-shaped emission: an update yields BOTH images —
      // `update_preimage` (old) and `update_postimage` (new) — in one pass
      // over the joined change set (array + explode, no second join).
      // Consumers that maintain derived state under key-moving updates
      // (summary refresh: a row whose GROUP key changed must debit the old
      // group) need the preimage; plain image consumers keep the default.
      def one(r: org.apache.spark.sql.Column, c: String) =
        array(struct(r.as("r"), lit(c).as("c")))
      val rows = when(col("_chg") === "updated",
          array(struct(col("_r_o").as("r"), lit("update_preimage").as("c")),
            struct(col("_r_n").as("r"), lit("update_postimage").as("c"))))
        .when(col("_chg") === "deleted", one(col("_r_o"), "deleted"))
        .otherwise(one(col("_r_n"), "inserted"))
      chset.select(explode(rows).as("_e"))
        .select((keys ++ valueCols).map(c =>
          col("_e").getField("r").getField(c).as(c)) :+
          col("_e").getField("c").as("change"): _*)
    }
  }

  /** Rows of SHARED (carried) files whose merge-on-read liveness differs
    * between two snapshots — the sidecar-delta leg of [[versionChanges]].
    * Candidates come from the position-sidecar symmetric difference (only
    * the files its entries name are opened) and the equality-sidecar
    * symmetric difference (shared files stats/bloom-pruned on the delta
    * key values when collectable); each candidate's liveness is then
    * decided against the FULL sidecars of both sides, because a row can be
    * dead on both sides through different mechanisms (position-deleted in
    * one, value-deleted in the other — the eq→pos folding every mutation
    * applies). Returns `(aliveOnlyInOld, aliveOnlyInNew)` image rows, or
    * both None when neither version carries a sidecar (no job) or both
    * deltas come out empty. Finding the latter takes jobs whenever a
    * version carries a sidecar, even when the two agree: the position
    * delta is an `exceptAll` collected to name its files, and each
    * equality delta is tested for emptiness and sampled. [[versionChanges]]
    * never calls this for a step onto a [[livenessKeptName]] version.
    */
  private def sharedLivenessDelta(
      spark: SparkSession, root: String, name: String,
      shared: Seq[String], sharedNorm: Set[String],
      byNormB: Map[String, String],
      posA: Option[DataFrame], posB: Option[DataFrame],
      eqA: Option[DataFrame], eqB: Option[DataFrame],
      decl: Option[org.apache.spark.sql.types.StructType])
      : (Option[DataFrame], Option[DataFrame]) = {
    val sharedRels = shared.map(CopyOnWrite.relToRoot(root, _))
    def restrict(d: Option[DataFrame]): Option[DataFrame] =
      d.map(_.filter(col("file").isin(sharedRels: _*)))
    val pA = restrict(posA); val pB = restrict(posB)
    // position delta: (A Δ B) restricted to shared files; one small job
    // collects the file names its entries touch (None/None → no job)
    val posSym = (pA, pB) match {
      case (None, None) => None
      case (Some(a), None) => Some(a)
      case (None, Some(b)) => Some(b)
      case (Some(a), Some(b)) => Some(a.exceptAll(b).union(b.exceptAll(a)))
    }
    val posFiles: Seq[String] = posSym
      .map(_.select("file").distinct().collect().map(_.getString(0)).toSeq)
      .getOrElse(Nil)
      .flatMap(rel => byNormB.get(new Path(s"$root/$rel").toUri.getPath))
    // equality delta: symmetric difference when key columns agree; when
    // the shapes differ (a fold changed the sidecar's key columns) each
    // side probes separately under its own columns
    val eqProbeSets: Seq[DataFrame] = ((eqA, eqB) match {
      case (None, None) => Nil
      case (Some(a), None) => Seq(a)
      case (None, Some(b)) => Seq(b)
      case (Some(a), Some(b)) if a.columns.sorted.sameElements(b.columns.sorted) =>
        Seq(a.except(b.select(a.columns.toIndexedSeq.map(col): _*))
          .union(b.select(a.columns.toIndexedSeq.map(col): _*).except(a)))
      case (Some(a), Some(b)) => Seq(a, b)
    }).filter(!_.isEmpty)
    if (posFiles.isEmpty && eqProbeSets.isEmpty) return (None, None)
    // candidate rows: positions named by the pos delta + shared-file rows
    // matching the eq delta values (file set pruned via stats/blooms when
    // the delta is small enough to collect — the deleteWhere probe shape)
    def metaRead(files: Seq[String]) =
      readFiles(spark, files, decl, withMeta = true)
        .withColumn("_g_file", MergeOnRead.relFile(col("_metadata.file_path")))
        .withColumn("_g_pos", col("_metadata.row_index"))
    val posCand = posSym.filter(_ => posFiles.nonEmpty).map { sym =>
      metaRead(posFiles).join(
        sym.select(col("file").as("_g_file"), col("pos").as("_g_pos")),
        Seq("_g_file", "_g_pos"), "left_semi")
    }
    val eqCands = eqProbeSets.map { delta =>
      val keyCols = delta.columns.toSeq
      val probe = {
        val sample = delta.limit(1001).collect()
        if (sample.length > 1000) shared
        else {
          val filters = keyCols.zipWithIndex.map { case (c, i) =>
            org.apache.spark.sql.sources.In(
              c, sample.map(_.get(i)).distinct.toArray)
          }
          val schema = visibleSchema(declaredOrFooter(spark, decl, shared.head))
          FilePruner.admit(spark, root, name, shared, schema, filters).admitted
        }
      }
      if (probe.isEmpty) metaRead(Seq(shared.head)).limit(0)
      else metaRead(probe).join(delta.distinct(), keyCols, "left_semi")
    }
    val cands = (posCand.toSeq ++ eqCands)
      .reduce(_ unionByName _).dropDuplicates("_g_file", "_g_pos")
    // liveness per side against the FULL sidecars
    def aliveFlag(df: DataFrame, pos: Option[DataFrame], eq: Option[DataFrame],
        tag: String): DataFrame = {
      val withPos = pos match {
        case None => df.withColumn(s"_dp$tag", lit(null).cast("int"))
        case Some(p) => df.join(
          p.select(col("file").as("_g_file"), col("pos").as("_g_pos"),
            lit(1).as(s"_dp$tag")),
          Seq("_g_file", "_g_pos"), "left")
      }
      eq match {
        case None => withPos.withColumn(s"_de$tag", lit(null).cast("int"))
        case Some(e) => withPos.join(
          e.distinct().withColumn(s"_de$tag", lit(1)),
          e.columns.toIndexedSeq, "left")
      }
    }
    val flagged = aliveFlag(aliveFlag(cands, pA, eqA, "a"), pB, eqB, "b")
      .withColumn("_aliveA", col("_dpa").isNull && col("_dea").isNull)
      .withColumn("_aliveB", col("_dpb").isNull && col("_deb").isNull)
    val visible = cands.columns
      .filterNot(c => c == "_metadata" || c.startsWith("_g_")).toIndexedSeq
    (Some(flagged.filter(col("_aliveA") && !col("_aliveB"))
       .select(visible.map(col): _*)),
     Some(flagged.filter(!col("_aliveA") && col("_aliveB"))
       .select(visible.map(col): _*)))
  }

  /** CHANGE-DATA FEED over a versioned table — the consumable history of
    * what each snapshot commit DID, per key (the Delta CDF shape on the
    * snapshot-directory layout). For every committed version in
    * `(fromVersion, toVersion]` the per-key diff against its predecessor
    * ([[versionDiff]]'s full-outer compare) is emitted stamped with the
    * committing version, `unchanged` rows dropped — so a downstream
    * consumer (warehouse sync, cache invalidation, an incremental-view
    * maintainer) replays exactly the mutations, in commit order, without
    * ever re-reading a full snapshot it already has. Feeding the changes
    * from a checkpointed "last version seen" watermark makes this the
    * pull-based streaming form (the same consume-from-cursor contract as
    * the incremental LSH index); each poll costs one MANIFEST-AWARE step
    * diff per NEW version ([[versionChanges]] — O(changed), not
    * O(snapshot)), zero when idle.
    */
  def tableChanges(
      spark: SparkSession, root: String, name: String,
      fromVersion: Int, keys: Seq[String],
      toVersion: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root, name)
    val upper = toVersion.getOrElse(vs.max)
    val range = vs.filter(v => v > fromVersion && v <= upper).sorted
    require(vs.contains(fromVersion),
      s"tableChanges: base version v$fromVersion is not present (have ${vs.mkString(",")})")
    val steps = (fromVersion +: range).sliding(2).collect {
      case Seq(a, b) =>
        versionChanges(spark, root, name, a, b, keys)
          .select((keys :+ "change").map(col): _*)
          .withColumn("change_version", lit(b))
    }.toSeq
    steps.reduceOption(_.unionByName(_)).getOrElse {
      readTableFeed(spark, root, name, Some(fromVersion)).limit(0)
        .select(keys.map(col): _*)
        .withColumn("change", lit(""))
        .withColumn("change_version", lit(0))
    }
  }

  /** RESTORE a versioned table feed to an earlier snapshot — Delta-style
    * rollback-by-roll-forward: the target version's content is re-published
    * as a NEW latest version, so history (and any audit trail pointing at
    * intermediate versions) is preserved, and every reader of "latest"
    * moves to the restored content atomically at the version flip. The
    * alternative (deleting newer versions in place) would rewrite history
    * under concurrent readers; this path never mutates an existing
    * snapshot. The copy reads the source snapshot during the write job and
    * version pruning only runs after the new snapshot is committed, so even
    * a restore-from version that retention then collects is copied safely.
    * Returns the new version number.
    */
  def restoreTable(
      spark: SparkSession, root: String, name: String, toVersion: Int,
      retentionVersions: Int = 7): Int = {
    val vs = versions(spark, root, name)
    require(vs.contains(toVersion), s"version v$toVersion of $name does not exist (have: ${vs.mkString(",")})")
    writeTableSnapshot(
      readTableFeed(spark, root, name, Some(toVersion)),
      root, name, retentionVersions)
  }

  /** StorageMode.IGNORE (data_lake_config.py:13): write only if absent. */
  def writeIgnore(df: DataFrame, path: String): Boolean = {
    val f = fs(df.sparkSession, path)
    if (f.exists(new Path(path))) false
    else { df.write.mode(SaveMode.ErrorIfExists).parquet(path); true }
  }

  /** Compact a stream feed's day partition: rewrite its many small files
    * (the inevitable by-product of frequent micro-batch appends —
    * kafka_consumer_datalake.py flushes every 100 messages) into
    * ~`targetBytes` files. Small-files compaction is the lake-maintenance
    * op that keeps scan task counts sane at 100 TB; the rewrite is
    * per-partition via write-to-temp + rename swap. Returns
    * (filesBefore, filesAfter).
    *
    * Crash model: the swap is two renames (live→`.old_`, `.compact_`→live),
    * so data is never deleted before its replacement exists — but between
    * the two renames the live directory is briefly absent (both copies sit
    * in dot-prefixed dirs partition discovery ignores), and a concurrent
    * reader during the swap can hit FileNotFound. Compaction therefore
    * requires reader exclusion for the target partition (run it in the
    * maintenance window, as the orchestrator does). A crash inside the
    * window is self-healing: the next call for the same partition finds the
    * aside dirs and recovers — `.old_` is restored if the live dir is
    * missing, and stale `.compact_`/`.old_` leftovers are cleared.
    *
    * Spark writes unpadded partition directory names (`month=1`); the
    * reference zero-pads (`month=01`, data_lake_config.py:141-148). Both
    * spellings are probed so compaction also works on a lake produced by
    * the reference's exporter.
    */
  def compactPartition(
      spark: SparkSession, root: String, name: String,
      date: java.time.LocalDate, targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val unpadded = s"${streamPath(root, name)}/year=${date.getYear}" +
      s"/month=${date.getMonthValue}/day=${date.getDayOfMonth}"
    val padded = f"${streamPath(root, name)}/year=${date.getYear}" +
      f"/month=${date.getMonthValue}%02d/day=${date.getDayOfMonth}%02d"
    val f = fs(spark, unpadded)
    // crash recovery BEFORE choosing the live dir, so an interrupted swap
    // does not masquerade as a missing partition
    Seq(unpadded, padded).distinct.foreach { dir =>
      val live = new Path(dir)
      val aside = new Path(live.getParent, s".old_${live.getName}")
      val tmp = new Path(live.getParent, s".compact_${live.getName}")
      if (f.exists(aside) && !f.exists(live)) {
        // crashed between the two renames: restore the original
        if (!f.rename(aside, live))
          throw new java.io.IOException(s"compaction recovery: could not restore $aside")
      }
      f.delete(tmp, true)   // incomplete rewrite: discard
      if (f.exists(live)) f.delete(aside, true) // promoted but not cleaned
    }
    val partDir = if (f.exists(new Path(unpadded))) unpadded
      else if (f.exists(new Path(padded))) padded
      else return (0, 0)
    val p = new Path(partDir)
    def parquetFiles = f.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(p.getParent, s".compact_${p.getName}")
    readParquet(spark, partDir).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val aside = new Path(p.getParent, s".old_${p.getName}")
    f.delete(aside, true)
    if (!f.rename(p, aside))
      throw new java.io.IOException(s"compaction: could not move $p aside")
    if (!f.rename(tmp, p)) {
      f.rename(aside, p) // roll back
      throw new java.io.IOException(s"compaction: could not promote $tmp")
    }
    f.delete(aside, true)
    // drop the _SUCCESS marker so the dir looks like its siblings
    f.delete(new Path(p, "_SUCCESS"), false)
    (before.size, parquetFiles.size)
  }

  /** Outcome of a write-audit-publish cycle. */
  case class WapResult(published: Boolean, version: Option[Int], failedChecks: Seq[String])

  /** C10 (repo extra): write-audit-publish — the Iceberg/Delta WAP pattern
    * over the versioned table layout. The batch is STAGED to a hidden
    * directory, the data-quality expectations run against a RE-READ of the
    * staged files (auditing what was actually persisted, not the input
    * plan), and only a fully-passing batch is promoted — one atomic rename
    * to `version=vN+1`, so readers either see the old version or the
    * complete audited new one, never a partial or dirty batch. A failing
    * batch is deleted and reported; the live table is untouched.
    */
  def writeAuditPublish(
      df: DataFrame, root: String, name: String,
      checks: Seq[graft.governance.Quality.Check]): WapResult = {
    val spark = df.sparkSession
    // a fresh stage per writer: two concurrent WAP writers each audit
    // exactly the batch they wrote — a shared fixed directory would let
    // writer A audit-and-publish writer B's half-written or unaudited data
    val staged = newStage(root, name)
    val f = fs(spark, staged.toString)
    policyWriter(spark, root, name, df).parquet(staged.toString)
    val audit = graft.governance.Quality
      .evaluate(readParquet(spark, staged.toString), checks)
      .collect()
    val failed = audit.filter(!_.getBoolean(3)).map(_.getString(0)).toSeq
    if (failed.nonEmpty) {
      f.delete(staged, true)
      WapResult(published = false, None, failed)
    } else {
      // the one OCC commit tail: concurrent publishers get distinct
      // versions, readers never see a torn snapshot
      val next = publishStaged(spark, root, name, staged,
        expectedLatest = None, retentionVersions = None).get
      WapResult(published = true, Some(next), Nil)
    }
  }

  /** One partition's erasure outcome. */
  case class EraseAudit(
      year: Int, month: Int, day: Int, removed: Long, remaining: Long)

  /** C9 (repo extra): right-to-be-forgotten erasure — physically delete
    * every row whose `keyCol` appears in `keys` from a partitioned stream
    * feed, rewriting ONLY the partitions that contain such rows.
    *
    * Shape: `keys` is a (small) deletion-requests relation, never a
    * driver-side list. Three jobs total, independent of how many
    * partitions are affected: (1) discovery — one feed scan semi-joined
    * against the broadcast keys, partial-aggregated to per-partition hit
    * counts (collected: bounded by partition count, the same contract as
    * compaction's day list); (2) survivor counts per affected partition;
    * (3) ONE dynamic-partition-overwrite write of all surviving rows —
    * Spark stages and swaps each output partition, so untouched partitions
    * keep their files byte-for-byte (LakeSpec pins this) and a reader sees
    * old or new, never a mix. Partitions whose every row was a subject
    * produce no output and are deleted explicitly. At 100 TB the rewrite
    * cost is proportional to the data that actually holds the subjects,
    * not the lake — and not to the partition count either.
    */
  def eraseKeys(
      spark: SparkSession, root: String, name: String,
      keyCol: String, keys: DataFrame): Seq[EraseAudit] = {
    import org.apache.spark.sql.functions.broadcast
    val feed = readStreamFeed(spark, root, name)
    val hits = feed
      .join(broadcast(keys), Seq(keyCol), "left_semi")
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
      .toMap
    if (hits.isEmpty) return Seq.empty
    val affectedKey = col("year") * 10000 + col("month") * 100 + col("day")
    val affectedIds = hits.keySet.map { case (y, m, d) => y * 10000 + m * 100 + d }
    // Materialize survivors EAGERLY (localCheckpoint) before the overwrite.
    // Writing survivors straight into the overwrite would read the very
    // files being replaced; a plain persist() is not enough (eviction or
    // executor loss silently RECOMPUTES from half-replaced inputs), so
    // round 17 staged a hidden on-disk copy first. localCheckpoint gives
    // the same read-from/write-to severance — blocks are physically
    // materialized and lineage is CUT, so a lost block fails the job
    // loudly instead of recomputing from a half-replaced feed — for one
    // write and zero re-reads less per erasure batch (guide §5: cheaper
    // lineage cut; measured on c9/s_stream_erasure, the staged copy
    // doubled the write volume). A 100 TB deployment whose erasure batch
    // exceeds executor storage would page the checkpoint to a reliable
    // store; the swap is mechanical (checkpoint() over localCheckpoint()).
    val f = fs(spark, streamPath(root, name))
    val survivors = feed
      .filter(affectedKey.isin(affectedIds.toSeq: _*))
      .join(broadcast(keys), Seq(keyCol), "left_anti")
      .repartition(col("year"), col("month"), col("day"))
      .localCheckpoint()
    val remaining = survivors
      .groupBy(col("year"), col("month"), col("day"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
      .toMap
    // zero survivors ⇒ nothing to write (dynamic partitions are only
    // created for values present); the partition deletes below suffice
    if (remaining.nonEmpty)
      survivors
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month", "day")
        .parquet(streamPath(root, name))
    hits.toSeq.sortBy(_._1).map { case ((y, m, d), nRemoved) =>
      val rem = remaining.getOrElse((y, m, d), 0L)
      if (rem == 0L)
        // every row was a subject: nothing written, drop the directory
        f.delete(new Path(s"${streamPath(root, name)}/year=$y/month=$m/day=$d"), true)
      EraseAudit(y, m, d, nRemoved, rem)
    }
  }

  /** A12 running per-feed descriptor (export_to_data_lake.py:267-328): the
    * reference accumulates `total_records` / `total_size_mb` / `created_at`
    * / `last_export` in a `_metadata.json` next to each feed. Timestamps are
    * epoch micros (exact across engines).
    */
  case class FeedDescriptor(
      feed: String, total_records: Long, total_size_bytes: Long,
      export_count: Int, created_at_us: Long, last_export_at_us: Long)

  private def descriptorTable(name: String) = s"${name}__descriptor"

  def readFeedDescriptor(
      spark: SparkSession, root: String, name: String): Option[FeedDescriptor] = {
    import spark.implicits._
    latestVersion(spark, root, descriptorTable(name))
      .map(_ => readTableFeed(spark, root, descriptorTable(name))
        .as[FeedDescriptor].head())
  }

  /** Append a batch AND maintain the feed's running descriptor.
    *
    * The record count comes from an `Observation` on the write itself — no
    * second scan of the source (the reference pays `len(df)` on a frame
    * already in memory; at 100 TB a separate count would double the read).
    * Byte totals come from a driver-side FS walk (append-only feeds, so the
    * current total equals the accumulated deltas — same numbers as the
    * reference's per-export `sum(st_size)` accumulation). The descriptor
    * itself is persisted through the versioned-table mechanism: crash-safe
    * by directory convention and with version history for free.
    */
  def appendStreamTracked(
      df: DataFrame, root: String, name: String,
      eventTimeCol: Option[String] = None,
      asOfDate: LocalDate = LocalDate.now(),
      atUs: Long = System.currentTimeMillis() * 1000L): FeedDescriptor = {
    val spark = df.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    appendStream(df.observe(obs, count(lit(1)).as("rows")),
      root, name, eventTimeCol, asOfDate)
    val rows = obs.get("rows").asInstanceOf[Long]
    // the walk already happens on the driver — sum there, no Spark job
    val bytes = walkFeed(spark, root, name).map(_._3).sum
    // the descriptor accumulates, so it commits by CAS against the version
    // it read: two racing appends must not drop each other's counts
    val table = descriptorTable(name)
    retryLoop(table, "appendStreamTracked") { () =>
      val base = latestVersion(spark, root, table)
      val next = base.map(v => readTableFeed(spark, root, table, Some(v))
        .as[FeedDescriptor].head()) match {
        case Some(cur) => cur.copy(
          total_records = cur.total_records + rows,
          total_size_bytes = bytes,
          export_count = cur.export_count + 1,
          last_export_at_us = atUs)
        case None => FeedDescriptor(name, rows, bytes, 1, atUs, atUs)
      }
      writeTableSnapshotIf(Seq(next).toDF(), root, table, expectedLatest = base.getOrElse(0))
        .map(_ => next)
    }
  }

  /** Driver-side FS walk shared by [[feedMetadata]] and
    * [[appendStreamTracked]]: (partition dir, file count, bytes), sorted.
    */
  private def walkFeed(
      spark: SparkSession, root: String, name: String): Seq[(String, Long, Long)] = {
    val base = streamPath(root, name)
    val f = fs(spark, base)
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    def walk(p: Path): Unit = f.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) {
        val rel = st.getPath.getParent.toString.stripPrefix(f.makeQualified(new Path(base)).toString)
        val (n, b) = rows.getOrElse(rel, (0L, 0L))
        rows(rel) = (n + 1, b + st.getLen)
      }
    }
    if (f.exists(new Path(base))) walk(new Path(base))
    rows.toSeq.map { case (rel, (n, b)) => (rel, n, b) }.sortBy(_._1)
  }

  /** Per-feed metadata (A12, export_to_data_lake.py:267-328): one row per
    * partition directory with file count + bytes, from the file system —
    * no data scan.
    */
  def feedMetadata(spark: SparkSession, root: String, name: String): DataFrame = {
    import spark.implicits._
    walkFeed(spark, root, name).toDF("partition", "files", "bytes")
  }

  /** Vacuum a versioned table directory: delete every entry that is not
    * committed — anything but a live `version=vN` snapshot, the version
    * ledger and the table properties: crashed-write leftovers ([[newStage]]
    * dirs of writers that died, `_temporary` attempt dirs, claim markers,
    * stray files). The complement of version retention: retention
    * prunes COMMITTED history, vacuum removes what never committed. Pure
    * driver-side FS listing (no data scan); `dryRun` previews. Live
    * version dirs are untouched by construction — the deletion predicate
    * is on the directory NAME, so a racing writer's fresh `version=vN+1`
    * can never be collected.
    */
  def vacuumTable(
      spark: SparkSession, root: String, name: String,
      dryRun: Boolean = false): Seq[(String, Boolean)] = {
    val base = new Path(tablePath(root, name))
    val f = fs(spark, tablePath(root, name))
    if (!f.exists(base)) Seq.empty
    else {
      // the version ledger and the table properties are committed
      // metadata, not a crashed write
      val live = versions(spark, root, name).map(v => s"version=v$v").toSet +
        ledgerDirName + tablePropsName
      f.listStatus(base).toSeq
        .filterNot(st => live.contains(st.getPath.getName))
        .map { st =>
          val deleted = !dryRun && f.delete(st.getPath, true)
          (st.getPath.getName, deleted)
        }
        .sortBy(_._1)
    }
  }
}
