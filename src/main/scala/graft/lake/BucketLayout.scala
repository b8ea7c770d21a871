package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** HASH-BUCKETED snapshot layout — the warehouse trade that makes keyed
  * snapshot-to-snapshot work EXCHANGE-FREE (versionDiff's own note:
  * "with bucketed snapshot writes it would be exchange-free").
  *
  * `bucket_by = '<col>:<N>'` (a table property, set via TBLPROPERTIES like
  * `cluster_by`) makes every policy-respecting write `repartition(N, col)`
  * its batch — Spark's `HashPartitioning`, i.e. `pmod(murmur3(col), N)` —
  * and sort within each bucket file by the key. Two snapshots written this
  * way agree on which file holds any key, so a keyed diff/merge can pair
  * bucket files directly ([[org.apache.spark.sql.graft.BucketedMerge]])
  * instead of shuffling both snapshots: at 100 TB that deletes the two
  * largest exchanges a CDC or branch-merge pipeline pays.
  *
  * The `_buckets.json` sidecar is stamped FROM THE DATA, not from trust:
  * after staging, one key-column-pruned job computes each staged file's
  * min/max bucket id (`pmod(hash(col), N)` — `functions.hash` IS
  * murmur3-seed-42, the same hash `repartition` used, pinned by
  * BucketLayoutSpec); only if every file is single-bucket does the
  * mapping commit. A writer that bypassed the policy (direct
  * `writeTableSnapshot` callers, a COW rewrite that merged buckets)
  * simply produces no mapping and readers fall back to the shuffle path —
  * bucket metadata can never lie about the layout. The job reads one
  * column of the commit's OWN files (O(batch) for appends; for a full
  * republish it is a single-column pass over data the write just
  * shuffled anyway).
  *
  * Like every sidecar here: best-effort CACHE, never truth — absence
  * costs an exchange, never a row.
  */
object BucketLayout {

  val Prop = "bucket_by"

  val sidecarName = "_buckets.json"

  /** Parse `'<col>:<N>'`; None on anything malformed (policy, never an
    * error).
    */
  def spec(props: Map[String, String]): Option[(String, Int)] =
    props.get(Prop).flatMap { v =>
      v.split(":") match {
        case Array(c, n) if c.trim.nonEmpty && n.trim.forall(_.isDigit) &&
          n.trim.nonEmpty && n.trim.toInt > 0 => Some((c.trim, n.trim.toInt))
        case _ => None
      }
    }

  import Lake.fs

  /** The bucket id expression — MUST stay `pmod(hash(col), N)`:
    * `functions.hash` is Murmur3 with seed 42, exactly
    * `HashPartitioning.partitionIdExpression`, so a `repartition(N, col)`
    * write places each row in the partition this expression names.
    */
  def bucketId(c: String, n: Int): org.apache.spark.sql.Column =
    pmod(hash(col(c)), lit(n))

  /** Apply the bucket write policy to a batch, if the table has one and
    * the batch carries the key: `repartition(N, col)` + in-bucket sort.
    * Empty buckets write no file, so a small COW rewrite stays small
    * (K touched buckets → K files) while every staged file comes out
    * bucket-PURE and the commit's verified stamp keeps the layout alive
    * across mutations instead of losing it until the next full rewrite.
    *
    * A `cluster_by = 'zorder(a,b)'` policy COMPOSES instead of being
    * silenced: placement stays by the bucket hash (so the mapping and
    * every exchange-free path survive), but the IN-BUCKET sort key is the
    * Morton interleave of the z dimensions — with `file_max_records` set
    * each bucket splits into several z-contiguous files whose stats
    * envelopes then prune range predicates on the secondary dimensions
    * too. Key-equality pruning never needed the in-bucket sort: it comes
    * from the verified `_buckets.json` hash mapping.
    */
  def applyPolicy(
      spark: SparkSession, root: String, name: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val props = Lake.tableProperties(spark, root, name)
    spec(props) match {
      case Some((c, n)) if df.columns.contains(c) =>
        val bucketed = df.repartition(n, col(c))
        val zKey = Lake.zorderSpec(props)
          .filter(_.forall(df.columns.contains))
          .flatMap(Lake.zorderKey(df, _))
        zKey match {
          case Some(z) => bucketed.sortWithinPartitions(z)
          case None => bucketed.sortWithinPartitions(col(c))
        }
      case _ => df
    }
  }

  /** Stamp `_buckets.json` into a staged commit dir — FROM the staged
    * files' contents (see scaladoc above). Best-effort: callers swallow
    * failures; a mixed-bucket file list writes nothing.
    */
  def stamp(spark: SparkSession, root: String, name: String, stage: Path): Unit =
    spec(Lake.tableProperties(spark, root, name)).foreach { case (c, n) =>
      val f = fs(spark, stage.toString)
      val files = f.listStatus(stage).toSeq.filter { st =>
        val nm = st.getPath.getName
        st.isFile && nm.endsWith(".parquet") && !nm.startsWith("_") && !nm.startsWith(".")
      }.map(_.getPath.toString)
      if (files.isEmpty) return
      if (!Lake.parquetSchema(spark, files.head).fieldNames.contains(c)) return
      val perFile = Lake.readParquet(spark, files: _*)
        .select(col("_metadata.file_path").as("f"), bucketId(c, n).as("b"))
        .groupBy("f").agg(min("b").as("mn"), max("b").as("mx"))
        .collect()
      if (perFile.exists(r => r.isNullAt(1) || r.getInt(1) != r.getInt(2))) return
      val mapped = perFile.map(r =>
        new Path(r.getString(0)).getName -> r.getInt(1)).toMap
      // files the scan produced no row for are EMPTY (Spark's writer can
      // emit one rowless file per job): map them to bucket -1 — they hold
      // nothing, so every consumer soundly skips them. A NON-empty file
      // the scan somehow missed aborts the stamp instead of lying.
      val conf = f.getConf
      val empties = files.map(new Path(_)).filterNot(p => mapped.contains(p.getName))
        .map { p =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
          val rows = try reader.getRecordCount finally reader.close()
          if (rows > 0) return
          p.getName -> -1
        }
      val mapping = mapped ++ empties
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      val ast = ("col" -> c) ~ ("n" -> n) ~
        ("files" -> mapping.map { case (k, v) => k -> v })
      val out = f.create(new Path(stage, sidecarName), true)
      try out.write(JsonMethods.compact(JsonMethods.render(ast))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** The version's COMPLETE bucket layout: every snapshot file (manifest
    * references resolved) mapped to its bucket under ONE consistent
    * `(col, N)`, or None (missing sidecar, unmapped file, spec drift —
    * the caller falls back to the shuffle path).
    */
  def layoutOf(
      spark: SparkSession, root: String, name: String,
      version: Int): Option[(String, Int, Map[String, Int])] =
    layoutForFiles(spark, Lake.snapshotFiles(spark, root, name, version))

  /** [[layoutOf]] for an explicit file list (the probe paths hold the
    * resolved list already): every file mapped by its own dir's sidecar,
    * one `(col, N)` across dirs.
    */
  def layoutForFiles(
      spark: SparkSession,
      files: Seq[String]): Option[(String, Int, Map[String, Int])] = try {
    if (files.isEmpty) return None
    val byDir = files.groupBy(p => new Path(p).getParent)
    val perDir = byDir.toSeq.map { case (dir, dirFiles) =>
      readSidecar(spark, dir).flatMap { case (c, n, mapping) =>
        val resolved = dirFiles.flatMap { p =>
          mapping.get(new Path(p).getName).map(b => p -> b)
        }
        if (resolved.size == dirFiles.size) Some((c, n, resolved)) else None
      }
    }
    if (perDir.exists(_.isEmpty)) return None
    val all = perDir.flatten
    val specs = all.map { case (c, n, _) => (c, n) }.distinct
    if (specs.map(_._1).distinct.size != 1) return None
    val c = specs.head._1
    // BUCKET-COUNT EVOLUTION: dirs stamped at different counts (the table
    // was ALTERed from k:N to k:M and a COW commit carried old files) are
    // still ONE consistent layout at g = gcd of the counts — for g | n,
    // pmod(h, n) % g == pmod(h, g), so a file pure at its own count is
    // pure at g with bucket b % g. Reporting the COARSER granularity
    // keeps every exchange-free path (SPJ, diff, merge, key pruning)
    // alive across the evolution boundary instead of falling back to a
    // shuffle; g == 1 on unrelated counts degrades to None (no layout) —
    // policy, never an error. Empty files (bucket −1) stay −1.
    val counts = specs.map(_._2)
    val g = counts.reduce((a, b) => BigInt(a).gcd(BigInt(b)).toInt)
    if (counts.size > 1 && g < 2) return None
    Some((c, g, all.flatMap { case (_, n, fs) =>
      if (n == g) fs
      else fs.map { case (p, b) => p -> (if (b < 0) b else b % g) }
    }.toMap))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Driver-side bucket of one EXTERNAL literal under the column's type —
    * the same murmur3-seed-42 + pmod the write used. None when the value
    * cannot be represented as the column's type (never guess a hash).
    */
  private def bucketOfValue(v: Any, dt: org.apache.spark.sql.types.DataType,
      n: Int): Option[Int] =
    try {
      if (v == null) return None
      val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)
      val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(lit))
        .eval(null).asInstanceOf[Int]
      Some(((h % n) + n) % n)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** BUCKET PRUNING for point predicates: equality/IN conjuncts on the
    * bucket column admit only the named buckets' files — the hash-layout
    * complement of stats ranges and blooms (a bucketed 100 TB table
    * answers `k = x` by opening bucket `pmod(hash(x),N)`'s files, nothing
    * else — no per-file index needed, the LAYOUT is the index).
    * Conservative: no layout, no prunable conjunct, or a type mismatch
    * admits everything.
    */
  /** Whether filter/source attribute `a` names the bucket column `c`,
    * honoring the session's `spark.sql.caseSensitive` AND refusing the
    * case-insensitive match when the schema carries a case-colliding
    * sibling (columns `k` and `K`): matching ignore-case there would
    * treat a predicate on the NON-bucket sibling as a bucket predicate
    * and prune files by a hash of the wrong column's values.
    */
  private def namesBucketCol(
      spark: SparkSession, a: String, c: String,
      columns: Seq[String]): Boolean =
    if (a == c) true
    else if (spark.sessionState.conf.caseSensitiveAnalysis) false
    else a.equalsIgnoreCase(c) &&
      columns.count(_.equalsIgnoreCase(c)) <= 1

  def filterCandidates(
      spark: SparkSession, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    import org.apache.spark.sql.sources._
    layoutForFiles(spark, files) match {
      case None => files
      case Some((c, n, mapping)) =>
        val names = schema.fields.map(_.name).toSeq
        def binds(a: String): Boolean = namesBucketCol(spark, a, c, names)
        val dt = schema.fields.find(_.name == c)
          .orElse(schema.fields.find(f => binds(f.name)))
          .map(_.dataType).getOrElse(return files)
        def bucketsOf(f: Filter): Option[Set[Int]] = f match {
          case EqualTo(a, v) if binds(a) =>
            bucketOfValue(v, dt, n).map(Set(_))
          case EqualNullSafe(a, v) if v != null && binds(a) =>
            bucketOfValue(v, dt, n).map(Set(_))
          case In(a, vs) if binds(a) =>
            val bs = vs.toSeq.filter(_ != null).map(bucketOfValue(_, dt, n))
            if (bs.isEmpty || bs.exists(_.isEmpty)) None
            else Some(bs.flatten.toSet)
          case And(l, r) => (bucketsOf(l), bucketsOf(r)) match {
            case (Some(a), Some(b)) => Some(a & b)
            case (a, b) => a.orElse(b)
          }
          case _ => None
        }
        // conjuncts AND together: intersect every prunable one
        val admitted = filters.flatMap(bucketsOf).reduceOption(_ & _)
        admitted match {
          case None => files
          case Some(bs) => files.filter(p => mapping.get(p).exists(bs.contains))
        }
    }
  }

  /** Files that can hold any of `keys`' rows — the MERGE-probe form:
    * one tiny agg computes the DISTINCT buckets of the source's keys
    * (≤ N ints on the driver, however large the source), and only those
    * buckets' files are probed. None of it reads the target.
    *
    * `targetKeyType` guards soundness: murmur3 hashes the PHYSICAL type,
    * so a source whose key column differs from the target's (an Int
    * source against a Long target — the join itself would coerce and
    * match) must not prune by the source-typed hash; such calls admit
    * everything.
    */
  def filesForKeys(
      spark: SparkSession, files: Seq[String],
      keys: org.apache.spark.sql.DataFrame,
      targetSchema: org.apache.spark.sql.types.StructType): Seq[String] =
    layoutForFiles(spark, files) match {
      case Some((c, n, mapping)) if keys.columns.exists(a =>
          namesBucketCol(spark, a, c, keys.columns.toSeq)) =>
        val kc = keys.columns.find(a =>
          namesBucketCol(spark, a, c, keys.columns.toSeq)).get
        val targetNames = targetSchema.fields.map(_.name).toSeq
        val targetType = targetSchema.fields
          .find(f => namesBucketCol(spark, f.name, c, targetNames))
          .map(_.dataType)
        if (!targetType.contains(keys.schema(kc).dataType)) return files
        val buckets =
          try keys.select(pmod(hash(col(kc)), lit(n)).as("b"))
            .distinct().collect().map(_.getInt(0)).toSet
          catch { case scala.util.control.NonFatal(_) => return files }
        files.filter(p => mapping.get(p).exists(buckets.contains))
      case _ => files
    }

  /** Version dirs are immutable after commit: parsed bucket sidecars
    * cache by dir (the [[StatsSidecar]] pattern — cleared wholesale past
    * a bound, a leak stop not an LRU). Pruning consults the layout on
    * every scan, so the cache keeps that at zero filesystem calls after
    * first touch.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[(String, Int, Map[String, Int])]]()

  private[graft] def clearCache(): Unit = cache.clear()

  private def readSidecar(
      spark: SparkSession, dir: Path): Option[(String, Int, Map[String, Int])] = {
    val key = fs(spark, dir.toString).makeQualified(dir).toString
    if (cache.size > 4096) cache.clear()
    cache.computeIfAbsent(key, _ => readSidecarUncached(spark, dir))
  }

  private def readSidecarUncached(
      spark: SparkSession, dir: Path): Option[(String, Int, Map[String, Int])] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val f = fs(spark, dir.toString)
      val p = new Path(dir, sidecarName)
      if (!f.exists(p)) return None
      val in = f.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val ast = JsonMethods.parse(txt)
      val c = ast \ "col" match { case JString(s) => s; case _ => return None }
      val n = ast \ "n" match { case JInt(i) => i.toInt; case _ => return None }
      val mapping = ast \ "files" match {
        case JObject(fields) => fields.collect {
          case (k, JInt(b)) => k -> b.toInt
        }.toMap
        case _ => return None
      }
      Some((c, n, mapping))
    } catch { case scala.util.control.NonFatal(_) => None }
}
