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
    val tmpBefore = topLevelGraftDirs()
    // a fresh session keeps the gates' session state away from the
    // suite-shared one
    SparkSpec.withSession("local[8]", "8", "graft-registry-smoke") { s =>
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          try { fn(s, dir).count(); None }
          catch {
            case e: Throwable =>
              Some(s"$name: ${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(200))
          }
      }
      assert(failures.isEmpty,
        s"${failures.size} registry entries failed:\n${failures.mkString("\n")}")
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
