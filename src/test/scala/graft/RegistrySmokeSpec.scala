package graft

/** Executes EVERY `SparkEntry.queries` entry end-to-end.
  *
  * This is the guard the round-6 regression proved necessary: four
  * streaming gates failed analysis on the regenerated testdata while
  * `sbt test` stayed green, because no spec actually ran the registry.
  * Key-consistency checks (QueriesSpec) catch wiring mistakes; only
  * execution catches schema drift in the testdata itself.
  *
  * Runs at sf0.01 — the driver's own Verify SF — because several gates
  * probe fixed key ranges (`p_file_skipping`'s user_id ∈ [100, 200]) that
  * are empty in the sf0.001 slice, and under the production session
  * configuration (`GraftSession.builder`, through `SparkSpec.withSession`)
  * exactly like every runtime entry point.
  *
  * All entries run inside ONE test so a single broken gate reports every
  * other broken gate alongside it (the driver's Verify behaves the same
  * way), and the assertion message names each failure with its exception.
  *
  * Each gate's output is then hashed against its DuckDB oracle
  * (`graft.Verify.dump`, then `tools/localcheck.py`), so a hash mismatch
  * fails here, naming every failing gate. Without an importable `duckdb`
  * the test is canceled, never passed.
  */
class RegistrySmokeSpec extends SparkSpec {

  test("every registry entry executes without throwing on sf0.01") {
    val dir = "/root/testdata/sf0.01"
    // temp-dir lifecycle pin (round-16 audit: 13k+ leaked /tmp/graft_*
    // dirs): running the FULL registry must create scratch dirs only
    // under the session root Tmp.root, never as top-level /tmp litter
    def topLevelGraftDirs(): Set[String] = {
      val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      Option(tmp.list()).fold(Set.empty[String])(_.filter(_.startsWith("graft")).toSet)
    }
    import scala.sys.process._
    assume(Seq("python3", "-c", "import duckdb").! == 0,
      "python3 cannot import duckdb: the oracle hashes cannot be checked")
    val tmpBefore = topLevelGraftDirs()
    // a fresh session keeps the gates' session state away from the
    // suite-shared one
    SparkSpec.withSession("local[8]", "8", "graft-registry-smoke") { s =>
      val out = Tmp.dir("graft_registry_out_").toString
      val failures = Verify.dump(s, dir, out)
      assert(failures.isEmpty,
        s"${failures.size} registry entries failed:\n${failures.mkString("\n")}")
      val report = new StringBuilder
      val log = ProcessLogger(line => report.synchronized { report.append(line).append('\n') })
      val exit = Seq("python3", "tools/localcheck.py", out, dir) ! log
      val lines = report.toString.linesIterator.toSeq
      val mismatched = lines.filter(_.startsWith("FAIL"))
      assert(exit == 0 && mismatched.isEmpty,
        s"oracle check exited $exit, ${mismatched.size} gates failed:\n" +
          (if (mismatched.nonEmpty) mismatched else lines.takeRight(20)).mkString("\n"))
      val leaked = topLevelGraftDirs() -- tmpBefore - Tmp.root.getFileName.toString
      assert(leaked.isEmpty,
        s"registry run leaked top-level temp dirs outside Tmp.root: $leaked")
      // and the session root itself is reclaimable
      val rootFile = Tmp.root.toFile
      Tmp.purge()
      assert(!rootFile.exists(), s"Tmp.purge() must delete $rootFile")
    }
  }
}
