package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file BLOOM indexes for the versioned catalog table — point-lookup
  * pruning on columns the files are NOT clustered by (Delta's bloom file
  * index shape). Min/max stats ([[StatsSidecar]]) prune ranges on the
  * cluster key; a point predicate on any OTHER column spans every file's
  * [min, max] and prunes nothing — a bloom answers "might file F contain
  * value v?" with a bounded false-positive rate and ZERO false
  * negatives, so `WHERE user_id = 42` opens ~1 + fpp·files files.
  *
  * OPT-IN by table property (`bloom_filter_columns` = comma-separated
  * columns, `bloom_fpp` optional): commits then pay ONE pass over their
  * own staged files (never the table) to build per-file blooms, written
  * as a `_blooms.parquet` dataset (file, col, bloom) into the staged dir
  * — atomic with the commit, carried implicitly: a COW-carried file's
  * bloom lives in the dir that physically holds it, like its stats.
  *
  * The probe is EXECUTOR-SIDE (the same design as the library
  * [[BloomIndex]]): constraint values ride the closure, each partition
  * deserializes only the bloom rows it holds, and only EXCLUDED file
  * names flow back — bloom bytes never transit the driver. Missing
  * blooms (pre-property files, unsupported types, all-null files) make
  * the file a candidate; a false positive costs one footer read, never
  * a row. Supported: integral-family columns (putLong) and strings
  * (putString) — the id-lookup shapes.
  */
object BloomSidecar {

  val sidecarName = "_blooms.parquet"
  val ColumnsProp = "bloom_filter_columns"
  val FppProp = "bloom_fpp"

  /** The bloom-indexed columns a table's properties name. */
  def columns(props: Map[String, String]): Seq[String] =
    props.get(ColumnsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  private class LongBloomAgg(expected: Long, fpp: Double)
      extends Aggregator[java.lang.Long, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expected, fpp)
    override def reduce(b: BloomFilter, k: java.lang.Long): BloomFilter = {
      if (k != null) b.putLong(k); b
    }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private class StringBloomAgg(expected: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expected, fpp)
    override def reduce(b: BloomFilter, k: String): BloomFilter = {
      if (k != null) b.putString(k); b
    }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private def isLongFamily(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Build `_blooms.parquet` inside a STAGED commit dir for the table's
    * bloom-indexed columns — one pass over the staged files only. The
    * per-file expected-item count comes from the stats sidecar the
    * commit just stamped (exact row counts, so blooms are sized right,
    * not defaulted). Best-effort like every sidecar: callers swallow
    * failures.
    */
  def stamp(
      spark: SparkSession, root: String, name: String, stage: Path): Unit = {
    val props = Lake.tableProperties(spark, root, name)
    val cols = columns(props)
    if (cols.isEmpty) return
    val fpp = props.get(FppProp).map(_.toDouble).getOrElse(0.03)
    val f = Lake.fs(spark, stage.toString)
    val hasData = f.listStatus(stage).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData) return // metadata-only commit: nothing to index
    // exact per-file expected counts from the freshly stamped stats
    val expected = StatsSidecar.readSidecar(f, stage)
      .map(_.values.map(_.rows).filter(_ > 0).maxOption.getOrElse(1024L))
      .getOrElse(1024L).max(1024L)
    val df = Lake.readParquet(spark, stage.toString)
    val eligible = cols.filter(c => df.schema.fields.exists(fd =>
      fd.name == c && (isLongFamily(fd.dataType) || fd.dataType == StringType)))
    if (eligible.isEmpty) return
    val perCol = eligible.map { c =>
      val dt = df.schema.fields.find(_.name == c).get.dataType
      val agg =
        if (isLongFamily(dt)) udaf(new LongBloomAgg(expected, fpp))
          .apply(col(c).cast("long"))
        else udaf(new StringBloomAgg(expected, fpp)).apply(col(c))
      df.filter(col(c).isNotNull)
        .groupBy(element_at(split(col("_metadata.file_path"), "/"), -1).as("file"))
        .agg(agg.as("bloom"))
        .withColumn("col", lit(c))
    }
    perCol.reduce(_ unionByName _)
      .select(col("file"), col("col"), col("bloom"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(stage, sidecarName).toString)
  }

  /** Narrow a file list ([[FilePruner]]'s stats- and bucket-admitted
    * files) further: a file is EXCLUDED when some equality/IN conjunct on
    * a bloom-indexed column finds the file's bloom and NONE of the
    * conjunct's values might be contained. Missing blooms keep the file.
    * Executor-side probe, O(excluded) driver state.
    */
  def filterCandidates(
      spark: SparkSession, files: Seq[String], schema: StructType,
      filters: Seq[Filter], bloomCols: Seq[String]): Seq[String] = {
    if (bloomCols.isEmpty || files.isEmpty) return files
    def convert(a: String, v: Any): Option[Any] = {
      if (v == null) return None
      schema.fields.find(_.name == a).flatMap { fd =>
        (fd.dataType, v) match {
          case (t, n: Number) if isLongFamily(t) => Some(n.longValue: java.lang.Long)
          case (StringType, s: String) => Some(s)
          case _ => None
        }
      }
    }
    // one entry per CONJUNCT (a file must satisfy all of them)
    val constraints: Seq[(String, Seq[Any])] = filters.flatMap {
      case EqualTo(a, v) if bloomCols.contains(a) =>
        convert(a, v).map(x => a -> Seq(x))
      case In(a, vs) if bloomCols.contains(a) =>
        val nonNull = vs.filter(_ != null)
        val cs = nonNull.flatMap(v => convert(a, v))
        // every value must convert, else the conjunct cannot exclude
        if (nonNull.nonEmpty && cs.length == nonNull.length) Some(a -> cs.toSeq)
        else None
      case _ => None
    }
    if (constraints.isEmpty) return files
    val byDir = files.groupBy(fp => new Path(fp).getParent)
    val bloomPaths = byDir.keys.toSeq.flatMap { dir =>
      val p = new Path(dir, sidecarName)
      if (Lake.fs(spark, p.toString).exists(p)) Some(p.toString) else None
    }
    if (bloomPaths.isEmpty) return files
    import spark.implicits._
    val cons = constraints.toArray
    val excluded: Set[(String, String)] = Lake.readParquet(spark, bloomPaths: _*)
      .select(col("file"), col("col"),
        col("bloom"), col("_metadata.file_path").as("sp"))
      .as[(String, String, Array[Byte], String)]
      .mapPartitions { it =>
        it.flatMap { case (file, c, bytes, sp) =>
          val applicable = cons.filter(_._1 == c)
          if (applicable.isEmpty) Iterator.empty
          else {
            lazy val bf = BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bytes))
            val excludes = applicable.exists { case (_, values) =>
              !values.exists {
                case l: java.lang.Long => bf.mightContainLong(l)
                case s: String => bf.mightContainString(s)
                case _ => true
              }
            }
            if (excludes) {
              // the sidecar lives at <versionDir>/_blooms.parquet/part-*
              val dir = new Path(sp).getParent.getParent.toString
              Iterator((dir, file))
            } else Iterator.empty
          }
        }
      }.collect().toSet
    files.filterNot { fp =>
      val p = new Path(fp)
      excluded.contains((p.getParent.toString, p.getName))
    }
  }
}
