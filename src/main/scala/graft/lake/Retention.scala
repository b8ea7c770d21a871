package graft.lake

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Retention / GC (SURVEY.md §2.C1-C3, data_retention.py).
  *
  * Pure partition-directory operations — deletion cost is O(partitions), no
  * data scan, which is what makes retention viable on a 100 TB lake. Both
  * entry points support `dryRun` (data_retention.py:41-42, 73-75).
  */
object Retention {

  case class Pruned(path: String, deleted: Boolean)

  import Lake.fs

  /** Delete day partitions older than `cutoff` (exclusive) for a stream feed
    * (C1, data_retention.py:13-51). Empty month/year parents are pruned too.
    * Returns the affected day-partition paths.
    */
  def pruneStreamPartitions(
      spark: SparkSession, root: String, name: String,
      cutoff: LocalDate, dryRun: Boolean = false): Seq[Pruned] = {
    val base = Lake.streamPath(root, name)
    val f = fs(spark, base)
    if (!f.exists(new Path(base))) return Seq.empty
    val PartDate = raw".*/year=(\d+)/month=(\d+)/day=(\d+)$$".r
    val dayDirs = for {
      y <- f.listStatus(new Path(base)).toSeq if y.isDirectory
      m <- f.listStatus(y.getPath).toSeq if m.isDirectory
      d <- f.listStatus(m.getPath).toSeq if d.isDirectory
    } yield d.getPath
    val old = dayDirs.flatMap { p =>
      p.toString match {
        case PartDate(y, m, d) =>
          val dt = LocalDate.of(y.toInt, m.toInt, d.toInt)
          if (dt.isBefore(cutoff)) Some(p) else None
        case _ => None
      }
    }
    val out = old.map { p =>
      if (!dryRun) f.delete(p, true)
      Pruned(p.toString, deleted = !dryRun)
    }
    if (!dryRun) {
      // prune now-empty month/year parents (data_retention.py:44-49)
      for {
        y <- f.listStatus(new Path(base)).toSeq if y.isDirectory
        m <- f.listStatus(y.getPath).toSeq if m.isDirectory
      } if (f.listStatus(m.getPath).isEmpty) f.delete(m.getPath, false)
      f.listStatus(new Path(base)).toSeq
        .filter(s => s.isDirectory && f.listStatus(s.getPath).isEmpty)
        .foreach(s => f.delete(s.getPath, false))
    }
    out.sortBy(_.path)
  }

  /** Keep the newest `keep` versions of a table feed, delete the rest (C2,
    * data_retention.py:54-78). No-op when versions ≤ keep (:65-67).
    * Four classes of version are NOT prunable — excluded from the result
    * entirely (not "kept by recency", ineligible):
    *  - versions carrying a `_tag_*` marker ([[Lake.tagVersion]]): a tag
    *    is a named reproducibility contract and holds its version alive
    *    until the tag is removed;
    *  - versions carrying a `_pin_*` marker (a shallow clone references
    *    their bytes — [[Lake.cloneTable]]): deleting them would dangle
    *    every branch pointing here;
    *  - versions that ARE a `_clone` pointer: a branch's v1 pointer is
    *    what [[Lake.mergeBranch]] resolves the branch point from, so
    *    pruning it makes merge-back permanently impossible — and it is
    *    O(1) metadata, so pruning it reclaims nothing anyway;
    *  - versions whose PHYSICAL FILES a surviving version still carries by
    *    reference ([[Lake.manifestName]], the file-granular copy-on-write
    *    layout): deleting the dir that holds a referenced file would tear
    *    every newer manifest pointing into it. Computed TRANSITIVELY to a
    *    fixpoint — a kept manifest version must itself stay readable, so
    *    the versions IT references survive, and so on down the chain
    *    (references are flattened at creation, but an old kept version's
    *    own manifest still needs its own targets).
    */
  def pruneTableVersions(
      spark: SparkSession, root: String, name: String,
      keep: Int, dryRun: Boolean = false): Seq[Pruned] = {
    val vs = Lake.versions(spark, root, name)
    if (vs.size <= keep) return Seq.empty
    val tdir = Lake.tablePath(root, name)
    val f = fs(spark, tdir)
    def dir(v: Int) = new Path(s"$tdir/version=v$v")
    // same-table versions referenced by a version's manifest (root-relative
    // entries "tables/<name>/version=vK/<file>"); cross-table references
    // are protected by the `_pin_` markers the COW commit stamps instead
    val RefV = (raw"tables/" + java.util.regex.Pattern.quote(name) +
      raw"/version=v(\d+)/.*").r
    def manifestRefs(v: Int): Set[Int] = {
      val mf = new Path(dir(v), Lake.manifestName)
      if (!f.exists(mf)) Set.empty
      else {
        val in = f.open(mf)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        txt.split('\n').iterator.map(_.trim).collect {
          case RefV(k) => k.toInt
        }.toSet
      }
    }
    val ineligibleBase = vs.filter { v =>
      val entries = f.listStatus(dir(v)).map(_.getPath.getName)
      entries.exists(_.startsWith("_pin_")) || entries.contains("_clone") ||
        // a TAGGED version is a named contract ("the v2026-01 training
        // cut") — never age it out; remove the tag to release it
        entries.exists(_.startsWith("_tag_"))
    }.toSet
    var survivors = vs.takeRight(keep).toSet ++ ineligibleBase
    var frontier = survivors
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(manifestRefs) -- survivors
      survivors ++= next
      frontier = next
    }
    vs.dropRight(keep).flatMap { v =>
      if (survivors.contains(v)) None
      else {
        if (!dryRun) {
          f.delete(dir(v), true)
          // keep the version ledger consistent with the dir listing
          Lake.dropLedgerEntry(spark, root, name, v)
        }
        Some(Pruned(dir(v).toString, deleted = !dryRun))
      }
    }
  }
}
