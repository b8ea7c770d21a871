package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file MIN/MAX/NULL-COUNT statistics sidecar for the versioned lake
  * table — Iceberg-manifest-style FILE pruning for catalog SQL scans.
  *
  * Spark's parquet scan already skips ROW GROUPS via footer stats, but it
  * must OPEN every file's footer first: a predicate scan over a 100 TB
  * table with a million files pays a million footer reads (object-store
  * GETs) even when the predicate admits three files. This sidecar lifts
  * the same stats one level up: each commit stamps `_filestats.json` into
  * its version dir covering the files the commit physically wrote
  * (footer reads of just-written files — O(new files), no data re-read),
  * and the catalog's scan builder evaluates pushed data filters against
  * the stats to shrink the FILE LIST before the parquet scan is built.
  * Carried files (COW manifests) keep their stats in the dir that
  * physically holds them, so resolution is one sidecar read per distinct
  * version dir in the snapshot's file list.
  *
  * The sidecar is best-effort CACHE, never truth: a missing sidecar or a
  * missing/unknown column entry makes the file a candidate (pruning is
  * always CONSERVATIVE — a kept row can never be lost, only IO saved).
  * Supported domains: integral types + DATE (long), FLOAT/DOUBLE (double,
  * NaN-poisoned stats are dropped), TIMESTAMP/TIMESTAMP_NTZ (micros, unit
  * converted with outward rounding), and STRING (unsigned UTF-8 byte
  * order — the same total order parquet binary stats use, so prefix and
  * range pruning are sound even for truncated stats, which parquet
  * truncates outward). Everything else — nested, decimal, boolean,
  * unsigned — records an UNKNOWN entry: present (so `IS NOT NULL` cannot
  * misread absence as "file predates the column") but never pruned on.
  */
object StatsSidecar {

  val sidecarName = "_filestats.json"

  /** TWO-LEVEL pruning: next to the per-file sidecar each stamp writes a
    * GROUP ENVELOPE — the fold of every file's stats in the dir, i.e. the
    * stats the dir would have "as one big file" (the Iceberg
    * manifest-list idea on the version-dir layout). Plan-time pruning
    * tests the envelope FIRST: a version dir whose envelope excludes the
    * filters is skipped whole — its per-file sidecar is never read or
    * parsed — so planning over a snapshot whose COW chain spans 10⁴
    * commit dirs costs 10⁴ tiny envelope reads plus per-file parsing only
    * for ADMITTED dirs, keeping the driver's critical path O(groups), not
    * O(files). The envelope is the same best-effort cache contract as the
    * sidecar: missing → the dir simply falls through to per-file
    * evaluation (or full admission).
    */
  val groupName = "_filestats_group.json"

  /** Past this many files a commit computes footer stats as a Spark job
    * (executors read footers in parallel, the driver collects O(files)
    * tiny rows); below it a driver-side loop is cheaper than a job.
    */
  private val driverFooterThreshold = 256

  /** One column's aggregated file-level stats. `typ`: 'l' integral long
    * domain, 'D' date (days), 'T' timestamp (micros), 'd' double, 's'
    * UTF-8 bytes, 'u' unknown (present but unprunable). Dates and
    * timestamps are distinct domains on purpose: a `date → timestamp_ntz`
    * WIDENING ([[Lake.widenColumn]]) leaves old files with day-valued
    * stats under a micros-valued catalyst type — a shared numeric domain
    * would compare days against micros and prune wrongly; distinct tags
    * make the mismatch degrade to "no pruning" instead. `min`/`max` are
    * None when the column holds no non-null value in the file. `nulls`
    * is -1 when any row group left the null count unset.
    */
  final case class ColStat(
      typ: Char, min: Option[Any], max: Option[Any], nulls: Long,
      inexact: Boolean = false)

  final case class FileStat(rows: Long, cols: Map[String, ColStat])

  // ---------------------------------------------------------------- stamp

  /** Parquet binary chunk statistics may be TRUNCATED by the writer
    * (`parquet.statistics.truncate.length`): the stored min is a prefix of
    * the true min and the stored max an incremented prefix — sound as
    * BOUNDS (truncation is outward), but not guaranteed to be VALUES
    * present in the file, so the metadata-aggregate path must not serve
    * them as an exact MIN/MAX(string). A string bound whose byte length
    * reaches `sTruncLimit` is flagged `inexact` (with parquet's default
    * limit of Int.MaxValue nothing is flagged — Spark's own writes are
    * exact); a backfill over files of UNKNOWN writer provenance passes 0,
    * flagging every string bound. Pruning ignores the flag (bounds stay
    * sound); only exact aggregates refuse inexact stats.
    */
  val statisticsTruncateLengthKey = "parquet.statistics.truncate.length"

  /** Read one parquet footer into a FileStat (no data pages touched). */
  private[lake] def footerStat(
      conf: Configuration, file: Path,
      sTruncLimit: Int = Int.MaxValue): FileStat = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val blocks = {
      import scala.jdk.CollectionConverters._
      footer.getBlocks.asScala.toSeq
    }
    val rows = blocks.map(_.getRowCount).sum
    // per top-level column name: fold row-group chunks
    val byCol = scala.collection.mutable.LinkedHashMap.empty[String, ColStat]
    for (block <- blocks) {
      import scala.jdk.CollectionConverters._
      for (chunk <- block.getColumns.asScala) {
        val pathParts = chunk.getPath.toArray
        val name = pathParts.head
        val nested = pathParts.length > 1
        val prev = byCol.get(name)
        val next =
          if (nested) ColStat('u', None, None, -1L)
          else mergeChunk(prev, chunk, block.getRowCount, sTruncLimit)
        byCol.update(name, prev match {
          case Some(p) if p.typ == 'u' => p
          case _ => next
        })
      }
    }
    FileStat(rows, byCol.toMap)
  }

  /** Fold one column chunk's statistics into the running ColStat. Any
    * unusable aspect degrades conservatively ('u' for values, -1 for
    * nulls) — the file then simply stays a candidate.
    */
  private def mergeChunk(
      prev: Option[ColStat],
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      blockRows: Long, sTruncLimit: Int): ColStat = {
    val stats = chunk.getStatistics
    val prim = chunk.getPrimitiveType
    val dom = domainOf(prim)
    if (dom == 'u' || stats == null) return ColStat('u', None, None, -1L)
    val nulls: Long =
      if (stats.isNumNullsSet) stats.getNumNulls else -1L
    val (mn, mx): (Option[Any], Option[Any]) =
      if (stats.hasNonNullValue)
        (chunkValue(prim, dom, stats.genericGetMin.asInstanceOf[AnyRef], roundUp = false),
         chunkValue(prim, dom, stats.genericGetMax.asInstanceOf[AnyRef], roundUp = true)) match {
          case (Some(a), Some(b)) => (Some(a), Some(b))
          case _ => return ColStat('u', None, None, nulls max -1L)
        }
      else if (nulls == blockRows) (None, None) // all-null block: sound
      else return ColStat('u', None, None, -1L) // values exist, stats don't
    // a string bound at or past the writer's truncate length may be a
    // truncated BOUND rather than a present VALUE — see the scaladoc on
    // [[statisticsTruncateLengthKey]]
    val inex = dom == 's' && Seq(mn, mx).flatten.exists(
      _.asInstanceOf[Array[Byte]].length >= sTruncLimit)
    prev match {
      case None => ColStat(dom, mn, mx, nulls, inex)
      case Some(p) if p.typ != dom => ColStat('u', None, None, -1L)
      case Some(p) =>
        val nn = if (p.nulls < 0 || nulls < 0) -1L else p.nulls + nulls
        ColStat(dom,
          minOf(dom, p.min, mn), maxOf(dom, p.max, mx), nn,
          p.inexact || inex)
    }
  }

  private def minOf(t: Char, a: Option[Any], b: Option[Any]): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmp(t, x, y) <= 0) x else y)
      case _ => a.orElse(b)
    }
  private def maxOf(t: Char, a: Option[Any], b: Option[Any]): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmp(t, x, y) >= 0) x else y)
      case _ => a.orElse(b)
    }

  /** Which stat domain a parquet primitive maps to. */
  private def domainOf(prim: PrimitiveType): Char = {
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => logical match {
        case null => 'l'
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => 'D'
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => 'e'
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          if (i.isSigned) 'l' else 'u'
        case _ => 'u'
      }
      case PrimitiveTypeName.INT64 => logical match {
        case null => 'l'
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => 'T'
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => 'e'
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          if (i.isSigned) 'l' else 'u'
        case _ => 'u'
      }
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => 'd'
      case PrimitiveTypeName.BINARY => logical match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => 's'
        case _ => 'u'
      }
      case _ => 'u' // INT96, FIXED_LEN_BYTE_ARRAY, BOOLEAN
    }
  }

  /** Normalize a footer stat value into its domain representation.
    * Timestamps convert to MICROS with outward rounding (`roundUp` for
    * max) so unit conversion can only widen the bound, never tighten it.
    */
  private def chunkValue(
      prim: PrimitiveType, dom: Char, v: AnyRef,
      roundUp: Boolean): Option[Any] = dom match {
    case 'l' | 'D' | 'T' =>
      val raw = v match {
        case i: java.lang.Integer => i.longValue
        case l: java.lang.Long => l.longValue
        case _ => return None
      }
      prim.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          import LogicalTypeAnnotation.TimeUnit
          t.getUnit match {
            case TimeUnit.MICROS => Some(raw)
            case TimeUnit.MILLIS =>
              try Some(Math.multiplyExact(raw, 1000L))
              catch { case _: ArithmeticException => None }
            // NANOS: micros conversion cannot be exact in both directions
            // (and a nanos-unit column reads as raw long under
            // nanosAsLong anyway) — record unknown rather than a rounded
            // bound the metadata-aggregate path could mistake for a value
            case TimeUnit.NANOS => None
            case _ => None
          }
        case _ => Some(raw)
      }
    case 'd' => v match {
      case f: java.lang.Float =>
        val d = f.doubleValue; if (d.isNaN) None else Some(d)
      case d: java.lang.Double =>
        if (d.isNaN) None else Some(d.doubleValue)
      case _ => None
    }
    case 's' => v match {
      case b: org.apache.parquet.io.api.Binary => Some(b.getBytes)
      case _ => None
    }
    // decimal: value = unscaled int/long + the annotation's scale,
    // normalized to BigDecimal — compareTo is scale-independent, so files
    // written at different scales (type widening) still order soundly
    case 'e' =>
      val unscaled = v match {
        case i: java.lang.Integer => i.longValue
        case l: java.lang.Long => l.longValue
        case _ => return None
      }
      prim.getLogicalTypeAnnotation match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(java.math.BigDecimal.valueOf(unscaled, d.getScale))
        case _ => None
      }
    case _ => None
  }

  /** Stamp `_filestats.json` into a freshly committed version dir —
    * footer reads of the dir's own parquet files only. Driver loop for
    * small commits; a parallelize job past [[driverFooterThreshold]] so a
    * large physical republish never serializes a million footer reads
    * through one thread. Best-effort: callers swallow failures (a missing
    * sidecar only costs IO on later scans).
    */
  def stamp(f: FileSystem, dir: Path, trusted: Boolean = true): Unit = {
    val files = f.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.map(st => st.getPath)
    if (files.isEmpty) return
    val conf = f.getConf
    // a commit stamps files ITS OWN writer just produced, so the active
    // conf's truncate length governs string-bound exactness; a backfill
    // over files of unknown provenance trusts nothing (limit 0 → every
    // string bound flagged inexact — bounds still prune, aggregates skip)
    val sTrunc =
      if (trusted) conf.getInt(statisticsTruncateLengthKey, Int.MaxValue)
      else 0
    val stats: Seq[(String, FileStat)] =
      if (files.size <= driverFooterThreshold || SparkSession.getActiveSession.isEmpty)
        files.map(p => p.getName -> footerStat(conf, p, sTrunc))
      else {
        val spark = SparkSession.active
        val confB = spark.sparkContext.broadcast(
          new org.apache.spark.SerializableWritable(conf))
        spark.sparkContext
          .parallelize(files.map(_.toString), math.min(files.size, 32))
          .map { p =>
            val path = new Path(p)
            path.getName -> footerStat(confB.value.value, path, sTrunc)
          }
          .collect().toSeq
      }
    writeSidecar(f, new Path(dir, sidecarName), stats)
    writeSidecar(f, new Path(dir, groupName),
      Seq("__group__" -> foldGroup(stats.map(_._2))))
  }

  /** Fold per-file stats into the dir's GROUP ENVELOPE — the stats the
    * dir would carry as one file. Per column: min of mins / max of maxes
    * (a file lacking a value leaves the bound alone), domain conflicts or
    * any 'u' degrade to 'u', inexactness ORs, null counts sum with a file
    * MISSING the column entirely poisoning the count to -1 (its rows are
    * all-null for that column but pre-evolution files don't record it).
    * Every rule keeps the envelope CONSERVATIVE: a dir is skipped only
    * when no file in it could match.
    */
  private[lake] def foldGroup(stats: Seq[FileStat]): FileStat = {
    val rows =
      if (stats.exists(_.rows < 0)) -1L else stats.map(_.rows).sum
    val allCols = stats.flatMap(_.cols.keys).distinct
    val cols = allCols.map { c =>
      val per = stats.map(_.cols.get(c))
      val present = per.flatten
      val anyMissing = per.exists(_.isEmpty)
      val folded =
        if (present.exists(_.typ == 'u') || present.map(_.typ).distinct.size > 1)
          ColStat('u', None, None, -1L)
        else {
          val t = present.head.typ
          val nulls =
            if (anyMissing || present.exists(_.nulls < 0)) -1L
            else present.map(_.nulls).sum
          ColStat(t,
            present.flatMap(_.min).reduceOption((a, b) => if (cmp(t, a, b) <= 0) a else b),
            present.flatMap(_.max).reduceOption((a, b) => if (cmp(t, a, b) >= 0) a else b),
            nulls, present.exists(_.inexact))
        }
      c -> folded
    }.toMap
    FileStat(rows, cols)
  }

  /** Per-file stats for EVERY file of a snapshot, aligned with `files`,
    * or None when any file lacks an entry (missing sidecar, unlisted
    * file) — the metadata-aggregate path needs COMPLETE coverage to
    * answer exactly, unlike pruning which degrades per-file.
    */
  def statsForFiles(
      spark: SparkSession, files: Seq[String]): Option[Seq[FileStat]] = {
    val byDir = scala.collection.mutable.HashMap.empty[String, Option[Map[String, FileStat]]]
    val out = files.map { file =>
      val p = new Path(file)
      byDir.getOrElseUpdate(p.getParent.toString, {
        val f = Lake.fs(spark, p.toString)
        readSidecar(f, p.getParent)
      }).flatMap(_.get(p.getName))
    }
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** Total order used by the stat domains — exposed for the
    * metadata-aggregate fold over per-file mins/maxes.
    */
  def compare(t: Char, a: Any, b: Any): Int = cmp(t, a, b)

  /** The stat domain a catalyst type reads from — exposed so the
    * metadata-aggregate path applies the same usability rule as pruning.
    */
  def domainForType(dt: DataType): Char = domainFor(dt)

  /** Backfill the stats sidecars covering a table's CURRENT snapshot:
    * one stamp per distinct version dir in the resolved file list that
    * lacks a sidecar (pre-feature dirs, failed best-effort stamps), or
    * every dir with `force`. Returns `(dir, filesIndexed)` per stamped
    * dir — `CALL system.collect_stats` surfaces them as rows.
    */
  def collectStats(
      spark: SparkSession, root: String, name: String,
      force: Boolean = false): Seq[(String, Int)] = {
    val v = Lake.latestVersion(spark, root, name).getOrElse(
      throw new IllegalStateException(s"no versions for table feed $name"))
    val dirs = Lake.snapshotFiles(spark, root, name, v)
      .map(f => new Path(f).getParent).distinct
    val stamped = dirs.flatMap { dir =>
      val f = Lake.fs(spark, dir.toString)
      if (!force && f.exists(new Path(dir, sidecarName))) None
      else {
        // backfilled files may come from ANY writer — string bounds are
        // recorded as inexact (prunable, not aggregate-servable)
        stamp(f, dir, trusted = false)
        val n = readSidecarUncached(f, dir).map(_.size).getOrElse(0)
        Some((dir.toString, n))
      }
    }
    if (stamped.nonEmpty) clearCache() // drop any cached "no sidecar here"
    stamped
  }

  // ----------------------------------------------------------- JSON codec

  private def encValue(t: Char, v: Any): String = t match {
    case 'l' | 'D' | 'T' => v.asInstanceOf[Long].toString
    case 'd' => v.asInstanceOf[Double].toString // shortest round-trip
    case 's' => java.util.Base64.getEncoder
      .encodeToString(v.asInstanceOf[Array[Byte]])
    case 'e' => v.asInstanceOf[java.math.BigDecimal].toPlainString
  }

  private def decValue(t: Char, s: String): Any = t match {
    case 'l' | 'D' | 'T' => s.toLong
    case 'd' => s.toDouble
    case 's' => java.util.Base64.getDecoder.decode(s)
    case 'e' => new java.math.BigDecimal(s)
  }

  private def writeSidecar(
      f: FileSystem, path: Path, stats: Seq[(String, FileStat)]): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val ast: JObject = "files" -> JObject(stats.map { case (name, fsStat) =>
      name -> (
        ("rows" -> JString(fsStat.rows.toString)) ~
        ("cols" -> JObject(fsStat.cols.toSeq.map { case (c, cs) =>
          val fields = List[Option[JField]](
            Some("t" -> JString(cs.typ.toString)),
            cs.min.map(v => "min" -> JString(encValue(cs.typ, v))),
            cs.max.map(v => "max" -> JString(encValue(cs.typ, v))),
            Some("n" -> JString(cs.nulls.toString)),
            if (cs.inexact) Some("x" -> JString("1")) else None).flatten
          c -> JObject(fields)
        }.toList)))
    }.toList)
    val out = f.create(path, true)
    try out.write(JsonMethods.compact(JsonMethods.render(ast))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Version dirs are immutable after commit, so parsed sidecars cache by
    * dir path; the map is cleared wholesale past a bound (tests churn
    * tmp dirs — this is not an LRU, just a leak stop).
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Map[String, FileStat]]]()
  private val groupCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[FileStat]]()

  private[graft] def clearCache(): Unit = { cache.clear(); groupCache.clear() }

  /** The sidecar of one version dir, or None when absent/unreadable. */
  def readSidecar(
      f: FileSystem, dir: Path): Option[Map[String, FileStat]] = {
    val key = f.makeQualified(dir).toString
    if (cache.size > 1024) cache.clear()
    cache.computeIfAbsent(key, _ => readSidecarUncached(f, dir))
  }

  /** The dir's GROUP ENVELOPE, or None when absent/unreadable (pre-feature
    * dirs fall through to per-file evaluation).
    */
  def readGroup(f: FileSystem, dir: Path): Option[FileStat] = {
    val key = f.makeQualified(dir).toString
    if (groupCache.size > 4096) groupCache.clear()
    groupCache.computeIfAbsent(key,
      _ => readStatsFile(f, new Path(dir, groupName)).flatMap(_.get("__group__")))
  }

  private def readSidecarUncached(
      f: FileSystem, dir: Path): Option[Map[String, FileStat]] =
    readStatsFile(f, new Path(dir, sidecarName))

  private def readStatsFile(
      f: FileSystem, p: Path): Option[Map[String, FileStat]] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      if (!f.exists(p)) return None
      val in = f.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val ast = JsonMethods.parse(txt)
      val files = ast \ "files" match {
        case JObject(fs) => fs
        case _ => return None
      }
      Some(files.map { case (name, body) =>
        val rows = body \ "rows" match {
          case JString(s) => s.toLong; case _ => -1L
        }
        val cols = body \ "cols" match {
          case JObject(cs) => cs.map { case (c, cbody) =>
            val t = (cbody \ "t") match {
              case JString(s) if s.nonEmpty => s.charAt(0); case _ => 'u'
            }
            def opt(k: String): Option[Any] = (cbody \ k) match {
              case JString(s) if t != 'u' => Some(decValue(t, s))
              case _ => None
            }
            val n = (cbody \ "n") match {
              case JString(s) => s.toLong; case _ => -1L
            }
            val inex = (cbody \ "x") match {
              case JString("1") => true; case _ => false
            }
            c -> ColStat(t, opt("min"), opt("max"), n, inex)
          }.toMap
          case _ => Map.empty[String, ColStat]
        }
        name -> FileStat(rows, cols)
      }.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------------------- pruning

  /** [[candidateFiles]]' answer: the admitted files (input order
    * preserved) and the version dirs whose envelope excluded the filters
    * (`dirsSkipped` of `dirsSeen`) — a skipped dir's per-file sidecar was
    * never read.
    */
  final case class Candidates(files: Seq[String], dirsSkipped: Int, dirsSeen: Int)

  /** Prune a snapshot's resolved file list against pushed v1 data
    * filters: one sidecar read per distinct version dir, conservative
    * everywhere stats are missing.
    */
  def candidateFiles(
      spark: SparkSession, files: Seq[String], schema: StructType,
      filters: Seq[Filter]): Candidates = {
    if (filters.isEmpty) return Candidates(files, 0, 0)
    // LEVEL 1: one tiny envelope read per distinct dir — a dir whose
    // envelope excludes the filters drops ALL its files without its
    // per-file sidecar ever being read or parsed (O(groups) planning)
    val dirAdmitted = scala.collection.mutable.HashMap.empty[String, Boolean]
    val byDir = scala.collection.mutable.HashMap.empty[String, Option[Map[String, FileStat]]]
    val admitted = files.filter { file =>
      val p = new Path(file)
      val dir = p.getParent
      val dirOk = dirAdmitted.getOrElseUpdate(dir.toString, {
        val f = Lake.fs(spark, p.toString)
        readGroup(f, dir) match {
          case Some(g) => filters.forall(mightMatch(_, g, schema))
          case None => true // no envelope: fall through to per-file
        }
      })
      dirOk && {
        // LEVEL 2: per-file evaluation, admitted dirs only
        val dirStats = byDir.getOrElseUpdate(dir.toString, {
          val f = Lake.fs(spark, p.toString)
          readSidecar(f, dir)
        })
        dirStats.flatMap(_.get(p.getName)) match {
          case None => true // no stats recorded: always a candidate
          case Some(st) => filters.forall(mightMatch(_, st, schema))
        }
      }
    }
    Candidates(admitted, dirAdmitted.valuesIterator.count(_ == false), dirAdmitted.size)
  }

  /** Convert an EXTERNAL v1-Filter literal into the column's stat
    * domain. None = not comparable here → no pruning on this leaf.
    */
  private def toDomain(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
      Some(n.longValue)
    case (DateType, d: java.sql.Date) =>
      Some(DateTimeUtils.fromJavaDate(d).toLong)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType, i: java.time.Instant) =>
      Some(DateTimeUtils.instantToMicros(i))
    case (TimestampNTZType, l: java.time.LocalDateTime) =>
      Some(DateTimeUtils.localDateTimeToMicros(l))
    case (FloatType | DoubleType, n: Number) =>
      val d = n.doubleValue; if (d.isNaN) None else Some(d)
    case (StringType, s: String) => Some(UTF8String.fromString(s).getBytes)
    case (_: DecimalType, d: java.math.BigDecimal) => Some(d)
    case (_: DecimalType, d: BigDecimal) => Some(d.bigDecimal)
    case _ => None
  }

  private def domainFor(dt: DataType): Char = dt match {
    case ByteType | ShortType | IntegerType | LongType => 'l'
    case DateType => 'D'
    case TimestampType | TimestampNTZType => 'T'
    case FloatType | DoubleType => 'd'
    case StringType => 's'
    case d: DecimalType if d.precision <= 18 => 'e' // int32/int64-backed
    case _ => 'u'
  }

  private def cmp(t: Char, a: Any, b: Any): Int = t match {
    case 'l' | 'D' | 'T' =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case 'd' =>
      val x = a.asInstanceOf[Double]; val y = b.asInstanceOf[Double]
      if (x < y) -1 else if (x > y) 1 else 0 // primitive compare: -0.0 == 0.0
    case 's' => cmpBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case 'e' => a.asInstanceOf[java.math.BigDecimal]
      .compareTo(b.asInstanceOf[java.math.BigDecimal]) // scale-independent
  }

  /** Unsigned lexicographic byte order — parquet's binary stat order AND
    * Spark's UTF8String order, so string bounds compare soundly.
    */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Could any row of a file with these stats satisfy the filter?
    * Conservative: anything not understood answers true.
    */
  private[graft] def mightMatch(
      filter: Filter, st: FileStat, schema: StructType): Boolean = {
    def colOf(name: String): Option[(ColStat, DataType)] = {
      if (name.contains(".")) return None // nested attr: never prune
      val field = schema.fields.find(_.name == name)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(name)))
      field.flatMap { fd =>
        st.cols.get(fd.name)
          .orElse(st.cols.find(_._1.equalsIgnoreCase(fd.name)).map(_._2))
          .map(cs => (cs, fd.dataType))
      }
    }
    // value-domain guard: the stat domain must agree with the catalyst
    // type's domain, else never prune (e.g. schema drift)
    def usable(cs: ColStat, dt: DataType): Boolean =
      cs.typ != 'u' && cs.typ == domainFor(dt)
    def valuePredicate(name: String)(
        test: (ColStat, DataType) => Boolean): Boolean =
      colOf(name) match {
        case Some((cs, dt)) if usable(cs, dt) =>
          (cs.min, cs.max) match {
            case (Some(_), Some(_)) => test(cs, dt)
            case _ => false // no non-null value in the file: = / < / > miss
          }
        case _ => true
      }
    filter match {
      case And(l, r) => mightMatch(l, st, schema) && mightMatch(r, st, schema)
      case Or(l, r) => mightMatch(l, st, schema) || mightMatch(r, st, schema)
      case EqualTo(a, v) => valuePredicate(a) { (cs, dt) =>
        toDomain(dt, v) match {
          case Some(x) =>
            cmp(cs.typ, cs.min.get, x) <= 0 && cmp(cs.typ, cs.max.get, x) >= 0
          case None => true
        }
      }
      case EqualNullSafe(a, null) =>
        colOf(a).forall { case (cs, _) => cs.nulls != 0 }
      case EqualNullSafe(a, v) => mightMatch(EqualTo(a, v), st, schema)
      case In(a, vs) => valuePredicate(a) { (cs, dt) =>
        val ds = vs.toSeq.flatMap(v => toDomain(dt, v))
        if (ds.size != vs.count(_ != null)) true // some value incomparable
        else ds.exists(x =>
          cmp(cs.typ, cs.min.get, x) <= 0 && cmp(cs.typ, cs.max.get, x) >= 0)
      }
      case GreaterThan(a, v) => valuePredicate(a) { (cs, dt) =>
        toDomain(dt, v).forall(x => cmp(cs.typ, cs.max.get, x) > 0)
      }
      case GreaterThanOrEqual(a, v) => valuePredicate(a) { (cs, dt) =>
        toDomain(dt, v).forall(x => cmp(cs.typ, cs.max.get, x) >= 0)
      }
      case LessThan(a, v) => valuePredicate(a) { (cs, dt) =>
        toDomain(dt, v).forall(x => cmp(cs.typ, cs.min.get, x) < 0)
      }
      case LessThanOrEqual(a, v) => valuePredicate(a) { (cs, dt) =>
        toDomain(dt, v).forall(x => cmp(cs.typ, cs.min.get, x) <= 0)
      }
      case StringStartsWith(a, p) => valuePredicate(a) { (cs, dt) =>
        if (domainFor(dt) != 's') true
        else {
          val pb = UTF8String.fromString(p).getBytes
          val mn = cs.min.get.asInstanceOf[Array[Byte]]
          val mx = cs.max.get.asInstanceOf[Array[Byte]]
          // keep iff min's prefix <= p <= max's prefix
          cmpBytes(mn.take(pb.length), pb) <= 0 &&
            cmpBytes(mx.take(pb.length), pb) >= 0
        }
      }
      case IsNull(a) => colOf(a).forall { case (cs, _) => cs.nulls != 0 }
      case IsNotNull(a) => colOf(a).forall { case (cs, _) =>
        cs.typ == 'u' || cs.nulls < 0 || st.rows < 0 || cs.nulls < st.rows
      }
      case _ => true // Not, Contains, EndsWith, AlwaysTrue, ...
    }
  }
}
