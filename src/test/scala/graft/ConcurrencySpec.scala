package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.Try

import graft.lake.{Lake, Txn}

/** Fault injection for the commit protocols (VERDICT r5 §next-round #8):
  * racing snapshot claimants, a crashed claimant, a crashed transaction
  * member publish, and racing manifest CAS commits. These pin the
  * guarantees the Scaladoc claims — exactly one winner per version slot,
  * no clobbered or torn snapshots, crashed work invisible to readers and
  * collectable by vacuum.
  */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): String = Files.createTempDirectory("conc_spec_").toString

  /** Run `n` thunks as simultaneously as a latch can make them. */
  private def race[A](n: Int)(f: Int => A): Seq[Try[A]] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    val futs = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Try[A]] {
        def call(): Try[A] = { go.await(); Try(f(i)) }
      })
    }
    go.countDown()
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    futs.map(_.get())
  }

  test("8 racing writeTableSnapshot claimants: distinct versions, no torn snapshots") {
    val root = scratch()
    val results = race(8) { i =>
      Lake.writeTableSnapshot(
        Seq.fill(i + 1)(i).toDF("writer"), root, "t",
        retentionVersions = Int.MaxValue)
    }
    val versions = results.map(_.get)
    assert(versions.distinct.size === 8, s"version collision: $versions")
    assert(versions.sorted === Lake.versions(spark, root, "t"))
    // all-or-nothing per slot: each version holds exactly one writer's rows
    for (v <- versions) {
      val rows = Lake.readTableFeed(spark, root, "t", Some(v))
        .as[Int].collect().toSeq
      assert(rows.distinct.size === 1 && rows.size === rows.head + 1,
        s"version v$v torn: $rows")
    }
  }

  test("crashed claimant burns its slot; vacuum collects marker and staging") {
    val root = scratch()
    Lake.writeTableSnapshot(Seq(1).toDF("k"), root, "t")
    Lake.writeTableSnapshot(Seq(1, 2).toDF("k"), root, "t")
    // writer crashed after claiming v3 and before renaming its staging dir
    val tdir = java.nio.file.Paths.get(Lake.tablePath(root, "t"))
    Files.createFile(tdir.resolve(".claim_v3"))
    Files.createDirectory(tdir.resolve(".stage_deadbeef"))
    Files.write(tdir.resolve(".stage_deadbeef/part-0.bin"), Array[Byte](1))

    val v = Lake.writeTableSnapshot(Seq(1, 2, 3).toDF("k"), root, "t")
    assert(v === 4, "live writer must skip the crashed claim, not wait or clobber")
    assert(Lake.versions(spark, root, "t") === Seq(1, 2, 4))
    assert(Lake.readTableFeed(spark, root, "t").count() === 3)

    val collected = Lake.vacuumTable(spark, root, "t").map(_._1)
    assert(collected.contains(".claim_v3") && collected.contains(".stage_deadbeef"))
    assert(Lake.versions(spark, root, "t") === Seq(1, 2, 4))
  }

  test("racing conditional commits (CAS): exactly one winner per expected version") {
    val root = scratch()
    Lake.writeTableSnapshot(Seq(0).toDF("k"), root, "t")
    val results = race(2) { i =>
      Lake.writeTableSnapshotIf(
        Seq(i, i).toDF("k"), root, "t", expectedLatest = 1)
    }
    val outcomes = results.map(_.get)
    assert(outcomes.count(_.isDefined) === 1, s"CAS must elect one winner: $outcomes")
    assert(outcomes.flatten === Seq(2))
    assert(Lake.versions(spark, root, "t") === Seq(1, 2))
  }

  test("crashed txn member publish: invisible to readers, collected by vacuum") {
    val root = scratch()
    Txn.commit(spark, root, Map("a" -> Seq(1, 2).toDF("k"), "b" -> Seq(9).toDF("k")))
    // crash between member publish and manifest write: `a` gains an
    // unmanifested version
    Lake.writeTableSnapshot(Seq(7, 7, 7).toDF("k"), root, "a",
      retentionVersions = Int.MaxValue)
    assert(Lake.versions(spark, root, "a") === Seq(1, 2))
    assert(Txn.read(spark, root, "a").count() === 2, "torn write visible to txn reader")

    // a YOUNG unmanifested version is indistinguishable from a LIVE
    // committer's staged-but-not-yet-manifested snapshot — vacuum must
    // leave it for a later sweep (eager collection would hand a racing
    // commit dangling pins)
    val (dropV0, _) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(dropV0.isEmpty, s"young orphan swept early: $dropV0")
    // past the stale threshold the publisher is presumed crashed: collect
    Files.setLastModifiedTime(
      java.nio.file.Paths.get(Lake.tablePath(root, "a"), "version=v2"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val (dropV, _) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(dropV === Seq("a" -> 2))
    assert(Txn.read(spark, root, "a").count() === 2)
    // and the root recovers: the next commit lands normally, reusing the
    // vacuumed orphan's slot — safe, because no retained manifest ever
    // pinned the old v2 (manifest pins, not version numbers, are the
    // identity transactional readers resolve)
    val (_, w) = Txn.commit(spark, root, Map("a" -> Seq(5).toDF("k")))
    assert(Txn.read(spark, root, "a").count() === 1)
    assert(w("a") === 2)
  }

  test("crashed manifest claimant burns its id; commits skip it, vacuum collects the marker") {
    val root = scratch()
    Txn.commit(spark, root, Map("a" -> Seq(1).toDF("k"))) // t1
    // crash between the manifest-id claim and the rename: t2 is burned.
    // The marker must be STALE to be stepped past — a young marker means
    // a possibly-live committer and is waited on (see the live-claimant
    // test below) — so age it past the stale threshold like a real crash.
    val txnDir = java.nio.file.Paths.get(root, "_txn")
    Files.createFile(txnDir.resolve(".claim_t2"))
    Files.setLastModifiedTime(txnDir.resolve(".claim_t2"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val (id, _) = Txn.commit(spark, root, Map("a" -> Seq(1, 2).toDF("k")))
    assert(id === 3, "commit must step past the burned manifest id, not spin on it")
    assert(Txn.read(spark, root, "a").count() === 2)
    Txn.vacuum(spark, root, keepManifests = 7)
    assert(!Files.exists(txnDir.resolve(".claim_t2")),
      "orphaned manifest claim marker not collected")
    // and the root keeps committing normally past the gap
    assert(Txn.commit(spark, root, Map("a" -> Seq(9).toDF("k")))._1 === 4)
  }

  test("live manifest claimant (young marker): racing commit WAITS, then lands after it") {
    val root = scratch()
    Txn.commit(spark, root, Map("seed" -> Seq(0).toDF("k"))) // t1
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    Txn.testStallAfterClaim = id => if (id == 2) { entered.countDown(); release.await() }
    try {
      val pool = Executors.newFixedThreadPool(2)
      val fa = pool.submit(new java.util.concurrent.Callable[(Int, Map[String, Int])] {
        def call() = Txn.commit(spark, root, Map("a" -> Seq(1, 1).toDF("k")))
      })
      entered.await(30, TimeUnit.SECONDS)
      // A holds .claim_t2, stalled between claim and rename. B must treat
      // the YOUNG marker as a live committer and wait — not step past it.
      val fb = pool.submit(new java.util.concurrent.Callable[(Int, Map[String, Int])] {
        def call() = Txn.commit(spark, root, Map("b" -> Seq(2).toDF("k")))
      })
      Thread.sleep(400)
      assert(!fb.isDone, "commit stepped past a young (live) claim marker")
      release.countDown()
      val (idA, _) = fa.get(30, TimeUnit.SECONDS)
      val (idB, _) = fb.get(30, TimeUnit.SECONDS)
      pool.shutdown()
      assert(idA === 2 && idB === 3, s"rename order must track commit order: A=$idA B=$idB")
      val (_, pins) = Txn.currentManifest(spark, root).get
      assert(pins.keySet === Set("seed", "a", "b"), "waiter dropped the stalled commit's pins")
      assert(Txn.read(spark, root, "a").count() === 2)
      assert(Txn.read(spark, root, "b").count() === 1)
    } finally Txn.testStallAfterClaim = _ => ()
  }

  test("stalled committer stepped past as stale: post-rename verification rolls it forward") {
    // The ADVICE r7 race: A claims t2 and stalls past the stale threshold;
    // B presumes it crashed and commits t3 without A's writes. A's late
    // rename would land t2 BELOW the max — a committed-but-invisible
    // transaction — so A must detect the interloper, roll t2 back, and
    // re-commit on top of t3.
    val root = scratch()
    Txn.commit(spark, root, Map("seed" -> Seq(0).toDF("k"))) // t1
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    Txn.testStallAfterClaim = id => if (id == 2) { entered.countDown(); release.await() }
    try {
      val pool = Executors.newFixedThreadPool(1)
      val fa = pool.submit(new java.util.concurrent.Callable[(Int, Map[String, Int])] {
        def call() = Txn.commit(spark, root, Map("a" -> Seq(1, 1).toDF("k")))
      })
      entered.await(30, TimeUnit.SECONDS)
      // B treats A's marker as instantly stale (claimStaleMs = 0) — the
      // deterministic stand-in for "A stalled longer than the threshold"
      val (idB, _) = Txn.commit(spark, root, Map("b" -> Seq(2).toDF("k")), claimStaleMs = 0L)
      assert(idB === 3, "B must step past the stale claim to t3")
      release.countDown()
      val (idA, _) = fa.get(30, TimeUnit.SECONDS)
      pool.shutdown()
      assert(idA === 4,
        s"A must re-commit ABOVE the interloper, not return the rolled-back t2 (got $idA)")
      assert(!Files.exists(java.nio.file.Paths.get(root, "_txn", "t2.json")),
        "rolled-back manifest t2 must be deleted")
      val (lastId, pins) = Txn.currentManifest(spark, root).get
      assert(lastId === 4 && pins.keySet === Set("seed", "a", "b"),
        s"final manifest must carry BOTH transactions: t$lastId pins ${pins.keySet}")
      assert(Txn.read(spark, root, "a").count() === 2)
      assert(Txn.read(spark, root, "b").count() === 1)
    } finally Txn.testStallAfterClaim = _ => ()
  }

  test("vacuum collects a diverged manifest from a committer that crashed after rename") {
    // A claims t2, stalls past the stale threshold, B steps past to t3;
    // A's process renames t2.json and dies BEFORE the post-rename
    // verification would have rolled it back. t2 is a forked cut (pins a
    // table no successor carries) that nothing reconciles — vacuum must
    // finish the crashed committer's rollback: drop the manifest AND the
    // orphan snapshot only it referenced.
    val root = scratch()
    val (_, w1) = Txn.commit(spark, root, Map("seed" -> Seq(0).toDF("k"))) // t1
    val txnDir = java.nio.file.Paths.get(root, "_txn")
    Files.createFile(txnDir.resolve(".claim_t2"))
    Files.setLastModifiedTime(txnDir.resolve(".claim_t2"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val (idB, _) = Txn.commit(spark, root, Map("b" -> Seq(2).toDF("k")))
    assert(idB === 3)
    // the crash: A's member table staged, manifest renamed, no verification
    val vA = Lake.writeTableSnapshot(Seq(1, 1).toDF("k"), root, "a",
      retentionVersions = Int.MaxValue)
    Files.write(txnDir.resolve("t2.json"),
      s"""{"tables": {"a": $vA, "seed": ${w1("seed")}}}""".getBytes("UTF-8"))
    assert(Txn.read(spark, root, "a", Some(2)).count() === 2, "forked cut should resolve pre-vacuum")

    // a YOUNG diverged manifest is indistinguishable from a live
    // committer inside its post-rename rollback window — vacuum must NOT
    // sweep it (deleting its staged versions would leave the owner's
    // imminent retry-commit with dangling pins)
    val (dropV0, dropM0) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(!dropM0.contains(2), s"young diverged manifest swept early (dropped: $dropM0)")
    assert(!dropV0.contains("a" -> vA), "young forked snapshot swept early")
    assert(Files.exists(txnDir.resolve("t2.json")))

    // past the stale threshold the owner is presumed crashed: sweep
    // (manifest AND its staged version — both carry the age gate)
    Files.setLastModifiedTime(txnDir.resolve("t2.json"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    Files.setLastModifiedTime(
      java.nio.file.Paths.get(Lake.tablePath(root, "a"), s"version=v$vA"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val (dropV, dropM) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(dropM.contains(2), s"diverged manifest not collected (dropped: $dropM)")
    assert(dropV.contains("a" -> vA), s"forked orphan snapshot not collected (dropped: $dropV)")
    assert(!Files.exists(txnDir.resolve("t2.json")))
    // the live lineage is untouched
    val (lastId, pins) = Txn.currentManifest(spark, root).get
    assert(lastId === 3 && pins.keySet === Set("seed", "b"))
    assert(Txn.read(spark, root, "b").count() === 1)
    assert(Txn.read(spark, root, "seed").count() === 1)
  }

  test("racing Txn.commit: manifest CAS serializes, both land, pins merge") {
    val root = scratch()
    val results = race(4) { i =>
      Txn.commit(spark, root, Map(s"t$i" -> Seq.fill(i + 1)(i).toDF("k")))
    }
    val ids = results.map(_.get._1)
    assert(ids.distinct.size === 4, s"txn id collision: $ids")
    assert(ids.sorted === Seq(1, 2, 3, 4))
    val (lastId, pins) = Txn.currentManifest(spark, root).get
    assert(lastId === 4)
    // the last manifest carries every earlier transaction's pins forward
    assert(pins.keySet === Set("t0", "t1", "t2", "t3"))
    for (i <- 0 until 4)
      assert(Txn.read(spark, root, s"t$i").count() === i + 1)
  }

  test("staged version swept mid-commit: commit re-stages and lands consistent") {
    // A vacuum that presumed this committer crashed (stall past the age
    // threshold) deletes its staged-but-unpinned snapshot between the
    // manifest-id claim and the rename. The post-rename liveness re-check
    // must catch the sweep, re-stage the table, and retry — returning
    // success only for a fully-readable transaction, never one with
    // dangling pins.
    val root = scratch()
    Txn.commit(spark, root, Map("a" -> Seq(1).toDF("k"))) // t1, a@v1
    @volatile var fired = false
    Txn.testStallAfterClaim = _ => if (!fired) {
      fired = true
      val vMax = Lake.versions(spark, root, "a").max
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(s"${Lake.tablePath(root, "a")}/version=v$vMax"))
    }
    try {
      val (id, w) = Txn.commit(spark, root, Map("a" -> Seq(2, 3).toDF("k")))
      assert(id >= 2, s"commit landed at t$id")
      assert(Txn.read(spark, root, "a").count() === 2,
        "committed content must be fully readable (re-staged after the sweep)")
      assert(Lake.readTableFeed(spark, root, "a", Some(w("a"))).count() === 2)
    } finally Txn.testStallAfterClaim = _ => ()
  }

  test("swept slot re-claimed by ANOTHER writer: token identity forces re-stage") {
    // Nastier variant: after the vacuum sweep, a racing writer re-claims
    // the freed version slot with ITS OWN content. A bare existence check
    // would see the dir back and return success pinning the interloper's
    // rows — the per-transaction token in the staged dir makes identity,
    // not occupancy, the test.
    val root = scratch()
    Txn.commit(spark, root, Map("a" -> Seq(1).toDF("k"))) // t1, a@v1
    @volatile var fired = false
    Txn.testStallAfterClaim = _ => if (!fired) {
      fired = true
      val vMax = Lake.versions(spark, root, "a").max // our staged snapshot
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(s"${Lake.tablePath(root, "a")}/version=v$vMax"))
      val reclaimed = Lake.writeTableSnapshot(
        Seq(97, 98, 99).toDF("k"), root, "a", retentionVersions = Int.MaxValue)
      assert(reclaimed === vMax, "interloper must re-claim the freed slot")
    }
    try {
      Txn.commit(spark, root, Map("a" -> Seq(2, 3).toDF("k")))
      val rows = Txn.read(spark, root, "a").as[Int].collect().toSet
      assert(rows === Set(2, 3),
        s"final cut must pin OUR content, not the interloper's: $rows")
    } finally Txn.testStallAfterClaim = _ => ()
  }

  test("chaos under AGGRESSIVE staleness: presumed-crash sweeps still lose nothing") {
    // The harsher regime: stalls (up to 500 ms) routinely EXCEED
    // staleClaimMs (150 ms), so racing committers and the vacuum thread
    // genuinely presume live peers crashed — claim markers are stepped
    // past, staged versions swept, diverged manifests collected — while
    // everyone is actually alive. The round-8 machinery (token identity,
    // carried-pin re-check, resolvable base, re-stage/roll-forward) must
    // still deliver the absolute invariants: every commit() that RETURNED
    // is fully readable in the final cut per the fold order, and nothing
    // dangles. Seeded; 3 writers × 3 commits over 2 shared tables.
    val root = scratch()
    val rnd = new scala.util.Random(0xBEEF)
    val stalls = Array.fill(64)(if (rnd.nextInt(2) == 0) rnd.nextInt(500) else 0)
    Txn.testStallAfterClaim = id => Thread.sleep(stalls(math.abs(id) % 64).toLong)
    try {
      val writers = 3
      val results = race(writers + 1) { i =>
        if (i == writers) {
          (0 until 10).foreach { _ =>
            Thread.sleep(60)
            Txn.vacuum(spark, root, keepManifests = 4, staleClaimMs = 150)
          }
          Seq.empty[(Int, Map[String, Int])]
        } else (0 until 3).map { j =>
          Txn.commit(spark, root,
            Map(s"t${(i + j) % 2}" -> Seq(i * 10 + j).toDF("k")),
            claimStaleMs = 150)
        }
      }
      val commits = results.flatMap(_.get)
      val ids = commits.map(_._1)
      assert(ids.distinct.size === ids.size, s"duplicate txn ids: ${ids.sorted}")
      val expected = commits.sortBy(_._1).foldLeft(Map.empty[String, Int]) {
        case (acc, (_, w)) => acc ++ w
      }
      val (lastId, pins) = Txn.currentManifest(spark, root).get
      assert(lastId === ids.max)
      assert(pins === expected,
        s"final cut diverges from the committed writes: $pins vs $expected")
      for (t <- pins.keys)
        assert(Txn.read(spark, root, t).count() === 1, s"final read of $t failed")
    } finally Txn.testStallAfterClaim = _ => ()
  }

  test("interloper safety is exact-pin, never version-magnitude (staging order != commit order)") {
    // Deterministic pin of the chaos-spec divergence this predicate fixes.
    // The interleaving: P stages a@v4; Q stages a@v5 (later SLOT); Q
    // commits first (manifest id 6, pins a->5); P commits later (id 7,
    // pins a->4 — by fold order THE final value of a); R builds on id 6
    // (resolved its base before t7 landed) and writes only t0, carrying
    // a->5 into id 8. Under the old `>=` tests BOTH sides judged the race
    // safe — P because t8's a@5 >= 4 ("carries or supersedes"), R because
    // its carried a@5 >= t7's a@4 ("dominates") — and P's returned write
    // vanished from the chain: final manifest a@5, fold expects a@4.
    // Exactness makes whichever side checks second roll back and re-merge.

    // higher-id side (P examining R's t8): a numerically higher pin of a
    // table we wrote is NOT proof the interloper built on us
    assert(!Txn.interloperCarriesOurWrites(Map("a" -> 4), Map("a" -> 5, "t0" -> 5)))
    // a numerically LOWER pin isn't either (interloper re-wrote the table
    // itself under an earlier-staged slot)
    assert(!Txn.interloperCarriesOurWrites(Map("a" -> 4), Map("a" -> 3)))
    // missing entirely: certainly not built on us
    assert(!Txn.interloperCarriesOurWrites(Map("a" -> 4), Map("t0" -> 5)))
    // exact carry: did build on us
    assert(Txn.interloperCarriesOurWrites(Map("a" -> 4), Map("a" -> 4, "t0" -> 5)))

    // gap side (R examining P's t7): P's pin a@4 is only accounted for if
    // R wrote `a` itself (fold-order supersession) or carries exactly v4
    assert(!Txn.gapPinAccounted(Map("t0" -> 5), Map("t0" -> 5, "a" -> 5), "a", 4))
    assert(Txn.gapPinAccounted(Map("a" -> 9), Map("a" -> 9), "a", 4))
    assert(Txn.gapPinAccounted(Map("t0" -> 5), Map("t0" -> 5, "a" -> 4), "a", 4))
  }

  test("corrupt manifest fails fast everywhere — never silently superseded") {
    // A truncated manifest is CORRUPTION, not the vanished-file rollback
    // race: readers must throw promptly (no 20-retry spin — Jackson parse
    // errors extend IOException and must not match the IO-retry), and a
    // new commit must refuse to build past it — silently superseding a
    // possibly-successful transaction would let vacuum later collect its
    // versions as diverged garbage.
    val root = scratch()
    Txn.commit(spark, root, Map("a" -> Seq(1).toDF("k")))
    Files.write(java.nio.file.Paths.get(root, "_txn", "t1.json"),
      "{\"tab".getBytes("UTF-8")) // truncated mid-token
    val t0 = System.nanoTime()
    intercept[Exception] { Txn.currentManifest(spark, root) }
    assert((System.nanoTime() - t0) / 1e9 < 0.5,
      "corrupt manifest must fail fast, not spin the IO-retry loop")
    intercept[IllegalStateException] {
      Txn.commit(spark, root, Map("a" -> Seq(2).toDF("k")))
    }
  }

  test("chaos: racing commits with random stalls + concurrent vacuums keep every invariant") {
    // 4 writers x 4 commits over 3 shared tables, RANDOM stalls injected
    // between the manifest-id claim and the rename (inside the Busy-wait
    // window), racing a maintenance thread that vacuums continuously.
    // Seeded, so a failure replays deterministically. Invariants:
    //  1. every vacuum call succeeds (concurrency never crashes it);
    //  2. successful commits get DISTINCT txn ids;
    //  3. the final manifest equals the fold of the successful commits'
    //     writes in txn-id order — no successful commit is silently
    //     invisible, last-committer-wins per table;
    //  4. every pin of every RETAINED manifest still reads — no vacuum
    //     swept a version a kept manifest pins, and no live committer's
    //     staged version was collected out from under its commit.
    val root = scratch()
    val rnd = new scala.util.Random(0xC0FFEE)
    val stalls = Array.fill(64)(if (rnd.nextInt(3) == 0) rnd.nextInt(40) else 0)
    Txn.testStallAfterClaim = id => Thread.sleep(stalls(math.abs(id) % 64).toLong)
    try {
      val writers = 4
      val results = race(writers + 1) { i =>
        if (i == writers) {
          // small retained window on purpose: an arbitrarily-preempted
          // committer can resolve a manifest the vacuum thread deletes
          // before the read — currentManifest must absorb that by
          // re-listing, not crash the commit
          (0 until 8).foreach { _ =>
            Thread.sleep(25)
            Txn.vacuum(spark, root, keepManifests = 5)
          }
          Seq.empty[(Int, Map[String, Int])]
        } else (0 until 4).map { j =>
          Txn.commit(spark, root,
            Map(s"t${(i + j) % 3}" -> Seq(i * 100 + j).toDF("k")))
        }
      }
      val commits = results.flatMap(_.get) // rethrows any commit/vacuum failure
      val ids = commits.map(_._1)
      assert(ids.distinct.size === ids.size, s"duplicate txn ids: ${ids.sorted}")
      val expected = commits.sortBy(_._1).foldLeft(Map.empty[String, Int]) {
        case (acc, (_, w)) => acc ++ w
      }
      val (lastId, pins) = Txn.currentManifest(spark, root).get
      assert(lastId === ids.max, s"final manifest $lastId is not the max committed id ${ids.max}")
      assert(pins === expected,
        s"final cut diverges from the committed writes: $pins vs $expected")
      // every retained manifest must still resolve ALL its pins: a read
      // may refuse because the table is not pinned at that cut
      // (IllegalStateException) — but any OTHER failure means a vacuum
      // deleted a version a kept manifest pins (dangling pin)
      val retained = new java.io.File(s"$root/_txn").listFiles()
        .map(_.getName).filter(n => n.startsWith("t") && n.endsWith(".json"))
        .map(_.stripPrefix("t").stripSuffix(".json").toInt).sorted.toSeq
      for (id <- retained; t <- Seq("t0", "t1", "t2")) {
        Try(Txn.read(spark, root, t, Some(id)).count()) match {
          case scala.util.Success(n) => assert(n === 1)
          case scala.util.Failure(_: IllegalStateException) => // not pinned at this cut
          case scala.util.Failure(e) =>
            fail(s"manifest t$id pin of $t dangling after vacuum: $e")
        }
      }
      for (t <- Seq("t0", "t1", "t2"))
        assert(Txn.read(spark, root, t).count() === 1, s"final read of $t failed")
    } finally Txn.testStallAfterClaim = _ => ()
  }

  /** Build the torn-max wedge: a multi-table committer's manifest becomes
    * max with one pin's version dir swept (dangling) and the other
    * surviving, and the owner crashes before its post-rename rollback.
    * Returns (root, torn manifest id, surviving pins of the torn cut).
    */
  private def tornMaxWedge(): (String, Int, Map[String, Int]) = {
    val root = scratch()
    Txn.commit(spark, root, Map(
      "a" -> Seq(1).toDF("k"), "b" -> Seq(1).toDF("k")))          // t1: a1, b1
    val (id2, w2) = Txn.commit(spark, root, Map(
      "a" -> Seq(1, 2).toDF("k"), "b" -> Seq(1, 2).toDF("k")))    // t2: a2, b2
    // the sweep that hit the stalled owner: a's staged version is gone,
    // b's survives; the owner dies before its selfAlive/tokenOk re-check
    // would have rolled t2 back
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${Lake.tablePath(root, "a")}/version=v${w2("a")}"))
    (root, id2, w2)
  }

  test("torn max manifest: an unrelated commit self-heals instead of wedging at the attempts cap") {
    val (root, id2, w2) = tornMaxWedge()
    // claimStaleMs = 0: the torn max is instantly past the presumed-crash
    // threshold (a YOUNG torn max belongs to an owner still inside its
    // own rollback window and must be left alone — vacuum test covers
    // that gate). Pre-fix this commit looped to the 50-attempt cap: base
    // resolution skipped t2 (dangling a-pin) while the interloper
    // domination check kept judging t2's surviving b2 pin unsafe.
    val (idC, _) = Txn.commit(spark, root,
      Map("c" -> Seq(9).toDF("k")), claimStaleMs = 0L)
    // the torn manifest was rolled back; its freed id may be legitimately
    // re-claimed by the healing commit itself (rolled-back ids re-open,
    // same as the post-rename self-rollback path), so pin CONTENT — not
    // file absence — is the invariant
    val (cur, pins) = Txn.currentManifest(spark, root).get
    assert(cur === idC)
    // the new cut builds on the last RESOLVABLE base: t1's pins + c —
    // the torn transaction (which never returned success) is invisible
    assert(pins("a") === 1 && pins("b") === 1 && pins.contains("c"))
    assert(Txn.read(spark, root, "a").count() === 1)
    assert(Txn.read(spark, root, "b").count() === 1)
    assert(Txn.read(spark, root, "c").count() === 1)
  }

  test("vacuum collects a torn MAX manifest (age-gated) and its surviving orphan version") {
    val (root, id2, w2) = tornMaxWedge()
    val txnDir = java.nio.file.Paths.get(root, "_txn")
    // young torn max: owner may be alive inside its post-rename rollback
    // window — vacuum must not touch it
    val (_, dropM0) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(!dropM0.contains(id2), s"young torn max swept early (dropped: $dropM0)")
    assert(Files.exists(txnDir.resolve(s"t$id2.json")))
    // past the threshold the owner is presumed crashed: the manifest goes,
    // and the surviving (now unpinned) b version ages out with it
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    Files.setLastModifiedTime(txnDir.resolve(s"t$id2.json"), old)
    Files.setLastModifiedTime(java.nio.file.Paths.get(
      Lake.tablePath(root, "b"), s"version=v${w2("b")}"), old)
    val (dropV, dropM) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(dropM.contains(id2), s"torn max not collected (dropped: $dropM)")
    assert(dropV.contains("b" -> w2("b")),
      s"torn cut's surviving orphan version not collected (dropped: $dropV)")
    // the wedge is gone: an unrelated commit lands first try on t1's base
    val (idC, _) = Txn.commit(spark, root, Map("c" -> Seq(9).toDF("k")))
    val (_, pins) = Txn.currentManifest(spark, root).get
    assert(pins("a") === 1 && pins("b") === 1 && pins.contains("c"))
    assert(Txn.read(spark, root, "b").count() === 1)
  }

  test("a fresh _txn_heartbeat marker shields an old-mtime version dir from the vacuum age gate") {
    // object-store stand-in: directory setTimes is a no-op there, so the
    // commit path heartbeats a marker file instead — vacuum's age basis
    // must be max(dir mtime, heartbeat mtime), else long-staging live
    // versions get swept on such filesystems
    val root = scratch()
    Txn.commit(spark, root, Map("a" -> Seq(1).toDF("k")))
    // an unreferenced version, as if staged by a slow committer whose
    // manifest hasn't landed: old dir mtime, fresh heartbeat
    val vz = Lake.writeTableSnapshot(Seq(7).toDF("k"), root, "a",
      retentionVersions = Int.MaxValue)
    val vdir = java.nio.file.Paths.get(Lake.tablePath(root, "a"), s"version=v$vz")
    Files.write(vdir.resolve("_txn_heartbeat"),
      System.currentTimeMillis().toString.getBytes("UTF-8"))
    Files.setLastModifiedTime(vdir, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L))
    val (dropV1, _) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(!dropV1.contains("a" -> vz),
      "fresh heartbeat must keep the staged version alive under the age gate")
    // heartbeat aged too → the orphan is collectable
    Files.setLastModifiedTime(vdir.resolve("_txn_heartbeat"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val (dropV2, _) = Txn.vacuum(spark, root, keepManifests = 7)
    assert(dropV2.contains("a" -> vz), s"aged orphan not collected: $dropV2")
  }

  test("commit renamed mid-vacuum keeps its pins (late-pin recheck)") {
    // Committer C staged a@v2 long ago (old mtime — a slow multi-table
    // write), vacuum takes its entry listing BEFORE C's manifest rename,
    // C renames t2 pinning a@2 and returns success while vacuum is still
    // judging. Pre-round-9 the sweep deleted a@2 as an aged orphan —
    // tearing a commit that RETURNED. The late-pin recheck re-lists
    // manifests immediately before version deletion and keeps it.
    val root = scratch()
    Txn.commit(spark, root, Map("a" -> Seq(1).toDF("k"))) // t1: a@1
    val v2 = Lake.writeTableSnapshot(Seq(7, 7).toDF("k"), root, "a",
      retentionVersions = Int.MaxValue)
    val vdir = java.nio.file.Paths.get(Lake.tablePath(root, "a"), s"version=v$v2")
    Files.setLastModifiedTime(vdir,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val txnDir = java.nio.file.Paths.get(root, "_txn")
    Txn.testStallBeforeSweep = () => {
      // C's rename lands INSIDE vacuum's judgment-to-sweep window
      Files.write(txnDir.resolve("t2.json"),
        s"""{"tables": {"a": $v2}}""".getBytes("UTF-8"))
      Txn.testStallBeforeSweep = () => ()
    }
    try {
      val (dropV, dropM) = Txn.vacuum(spark, root, keepManifests = 7)
      assert(!dropV.contains("a" -> v2),
        s"version pinned by the mid-vacuum commit was swept: $dropV")
      assert(!dropM.contains(2))
      assert(Files.exists(vdir.resolve("..").resolve(s"version=v$v2").normalize()))
      assert(Txn.read(spark, root, "a").count() === 2, "the landed commit must stay readable")
    } finally Txn.testStallBeforeSweep = () => ()
  }

  test("re-claimed manifest id survives the sweep that judged its predecessor (mtime guard)") {
    // Vacuum judges diverged manifest t2 collectable; in the window
    // before its delete, t2's owner rolls it back and a NEW committer
    // re-claims id 2 with a valid manifest. Pre-round-9 vacuum deleted
    // the file at the judged PATH — killing the new commit. The
    // mtime-identity guard skips a file that changed since judgment.
    val root = scratch()
    val (_, w1) = Txn.commit(spark, root, Map("seed" -> Seq(0).toDF("k"))) // t1
    val txnDir = java.nio.file.Paths.get(root, "_txn")
    // a crashed committer's diverged manifest at t2 (aged past stale)
    val vA = Lake.writeTableSnapshot(Seq(1, 1).toDF("k"), root, "a",
      retentionVersions = Int.MaxValue)
    Files.write(txnDir.resolve("t2.json"),
      s"""{"tables": {"a": $vA, "seed": ${w1("seed")}}}""".getBytes("UTF-8"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    Files.setLastModifiedTime(txnDir.resolve("t2.json"), old)
    // make it diverged: a later manifest t3 that does NOT carry a@vA
    Files.write(txnDir.resolve("t3.json"),
      s"""{"tables": {"seed": ${w1("seed")}}}""".getBytes("UTF-8"))
    Txn.testStallBeforeSweep = () => {
      // owner's rollback + a new committer re-claiming id 2 (fresh file)
      Files.delete(txnDir.resolve("t2.json"))
      Files.write(txnDir.resolve("t2.json"),
        s"""{"tables": {"seed": ${w1("seed")}, "b": 1}}""".getBytes("UTF-8"))
      Txn.testStallBeforeSweep = () => ()
    }
    try {
      val (_, dropM) = Txn.vacuum(spark, root, keepManifests = 7)
      assert(!dropM.contains(2),
        s"re-claimed manifest id deleted by a stale judgment: $dropM")
      assert(Files.exists(txnDir.resolve("t2.json")),
        "the NEW manifest at the re-claimed id must survive")
      val pins = Txn.currentManifestAtForTest(spark, root, 2)
      assert(pins.contains("b"), "surviving t2 must be the re-claimed content")
    } finally Txn.testStallBeforeSweep = () => ()
  }

  test("re-claim landing in the SAME mtime tick survives (uuid identity, round 10)") {
    // The adversarial case the bare mtime guard missed: on a filesystem
    // with coarse (1 s) timestamp granularity, a re-claim can land with an
    // mtime IDENTICAL to the judged file's. Forced here by pinning the new
    // file's mtime to the old value — only the embedded per-claim UUID
    // (content identity) distinguishes the two files.
    val root = scratch()
    val (_, w1) = Txn.commit(spark, root, Map("seed" -> Seq(0).toDF("k"))) // t1
    val txnDir = java.nio.file.Paths.get(root, "_txn")
    val vA = Lake.writeTableSnapshot(Seq(1, 1).toDF("k"), root, "a",
      retentionVersions = Int.MaxValue)
    Files.write(txnDir.resolve("t2.json"),
      s"""{"tables": {"a": $vA, "seed": ${w1("seed")}}}""".getBytes("UTF-8"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    Files.setLastModifiedTime(txnDir.resolve("t2.json"), old)
    Files.write(txnDir.resolve("t3.json"),
      s"""{"tables": {"seed": ${w1("seed")}}}""".getBytes("UTF-8"))
    Txn.testStallBeforeSweep = () => {
      Files.delete(txnDir.resolve("t2.json"))
      // new committer's manifest (uuid-bearing, as writeManifest emits)
      // with the SAME mtime as the judged file — the coarse-tick collision
      Files.write(txnDir.resolve("t2.json"),
        s"""{"uuid": "reclaim-same-tick", "tables": {"seed": ${w1("seed")}, "b": 1}}"""
          .getBytes("UTF-8"))
      Files.setLastModifiedTime(txnDir.resolve("t2.json"), old)
      Txn.testStallBeforeSweep = () => ()
    }
    try {
      val (_, dropM) = Txn.vacuum(spark, root, keepManifests = 7)
      assert(!dropM.contains(2),
        s"mtime-colliding re-claim deleted on a stale judgment: $dropM")
      assert(Files.exists(txnDir.resolve("t2.json")))
      val pins = Txn.currentManifestAtForTest(spark, root, 2)
      assert(pins.contains("b"), "surviving t2 must be the re-claimed content")
    } finally Txn.testStallBeforeSweep = () => ()
  }

  test("version ledger: parity with probing under concurrent commits and prunes (round 12)") {
    import org.apache.spark.sql.functions.col
    val root = scratch()
    // 8 racing committers, then one of each other commit kind so every
    // ledger `kind` classification is exercised
    race(8) { i =>
      Lake.writeTableSnapshot(
        (1 to 50).map(k => (k.toLong, s"w$i-$k")).toDF("k", "x"), root, "led_t",
        retentionVersions = Int.MaxValue)
    }
    graft.lake.CopyOnWrite.updateWhere(spark, root, "led_t",
      col("k") <= 5, Seq("x" -> org.apache.spark.sql.functions.lit("u")),
      retentionVersions = Int.MaxValue)
    graft.lake.MergeOnRead.deleteWhere(spark, root, "led_t", col("k") > 45,
      retentionVersions = Int.MaxValue)
    Lake.addColumn(spark, root, "led_t",
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType, nullable = true),
      retentionVersions = Int.MaxValue)
    // prune a slice (the newest metadata commits reference the rest, so
    // only unreferenced old dirs go) — ledger entries must follow
    graft.lake.Retention.pruneTableVersions(spark, root, "led_t", keep = 6)
    val viaLedger = Lake.tableHistory(spark, root, "led_t")
    assert(viaLedger.map(_.version) === Lake.versions(spark, root, "led_t"),
      "the ledger-served history covers exactly the live version list")
    assert(viaLedger.map(_.kind).toSet.intersect(
      Set("physical", "cow", "mor", "evolve")).size >= 3)
    // force the probing fallback by moving the ledger aside: both paths
    // must derive the IDENTICAL history (ledger = cache, never truth)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ldir = new org.apache.hadoop.fs.Path(s"$root/tables/led_t/_versions")
    val aside = new org.apache.hadoop.fs.Path(s"$root/tables/led_t/.led_aside")
    assert(fs.exists(ldir), "commits must have stamped ledger entries")
    assert(fs.rename(ldir, aside))
    val viaProbe = Lake.tableHistory(spark, root, "led_t")
    assert(fs.rename(aside, ldir))
    assert(viaLedger === viaProbe,
      "ledger-served and probe-derived history must agree exactly")
    // vacuum must treat the ledger as committed metadata, not an orphan
    Lake.vacuumTable(spark, root, "led_t")
    assert(fs.exists(ldir), "vacuum must never collect the version ledger")
    assert(Lake.tableHistory(spark, root, "led_t") === viaLedger)
  }

  test("merge-on-read delete racing a snapshot writer retries on the new base (no lost update)") {
    import graft.lake.MergeOnRead
    import org.apache.spark.sql.functions.col
    val root = scratch()
    Lake.writeTableSnapshot(
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "x"), root, "race_t")
    // the conflicting writer lands INSIDE the delete's probe→commit
    // window: it appends rows 101..120 as v2, so the delete's CAS on
    // base=v1 must LOSE and the retry must re-probe v2 — the appended
    // rows that match the predicate are deleted too, and the ones that
    // don't are never lost
    MergeOnRead.testStallBeforeCommit = () => {
      MergeOnRead.testStallBeforeCommit = () => ()
      Lake.writeTableSnapshot(
        Lake.readTableFeed(spark, root, "race_t")
          .unionByName((101 to 120).map(i => (i, s"v$i")).toDF("k", "x")),
        root, "race_t")
    }
    try {
      val v = MergeOnRead.deleteWhere(spark, root, "race_t", col("k") % 2 === 0)
      assert(v === 3, "the delete must land AFTER the conflicting append")
      val got = Lake.readTableFeed(spark, root, "race_t")
      assert(got.count() === 60, "retry must apply to the NEW base: 120 rows / 2")
      assert(got.filter(col("k") > 100).count() === 10,
        "the concurrent append's surviving rows must not be lost")
      assert(got.filter(col("k") % 2 === 0).count() === 0)
    } finally MergeOnRead.testStallBeforeCommit = () => ()
  }

  test("racing warehouse merges commit by CAS against the version they read: no key lost") {
    import graft.warehouse.Warehouse
    val root = scratch()
    Warehouse.mergeIntoTable(spark, root, "dim", Seq((0, 0L)).toDF("k", "ts"),
      Seq("k"), Seq("ts"))
    // two writers, 8 single-key merges each, on disjoint keys: every merge
    // reads the latest dimension and must commit on top of exactly it
    val results = race(2) { w =>
      (1 to 8).map(i => Warehouse.mergeIntoTable(spark, root, "dim",
        Seq((100 * w + i, 1L)).toDF("k", "ts"), Seq("k"), Seq("ts"),
        retentionVersions = Int.MaxValue))
    }
    assert(results.forall(_.isSuccess), results.filter(_.isFailure).toString)
    val keys = Lake.readTableFeed(spark, root, "dim").select("k").as[Int].collect().toSet
    assert(keys === Set(0) ++ (1 to 8) ++ (101 to 108), "a racing merge dropped keys")
    assert(Lake.versions(spark, root, "dim") === (1 to 17))
  }

  test("heartbeat racing a sweep never resurrects the swept dir (TOCTOU, round 11)") {
    // The fallback path for filesystems where directory setTimes is a
    // silent no-op: commit() heartbeats a marker INSIDE each staged dir.
    // The race: a vacuum sweeps the dir between heartbeatStaged's
    // exists() precheck and its create() — create() auto-creates parents,
    // so the marker would resurrect an EMPTY version-dir shell that (a)
    // exists()-based pin checks mistake for a live version and (b) the
    // fresh marker shields from the vacuum age gate. Landed
    // deterministically via the stall hook; the guard must detect the
    // substance-free dir and remove its own shell.
    val root = scratch()
    Lake.writeTableSnapshot(Seq(1, 2).toDF("k"), root, "hb_t",
      retentionVersions = Int.MaxValue)
    val vdir = new org.apache.hadoop.fs.Path(
      s"${Lake.tablePath(root, "hb_t")}/version=v1")
    val f = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Txn.testStallBeforeHeartbeat = dir => {
      // the concurrent vacuum: whole-dir sweep inside the TOCTOU window
      f.delete(dir, true)
      Txn.testStallBeforeHeartbeat = _ => ()
    }
    try {
      Txn.heartbeatStaged(f, vdir, System.currentTimeMillis())
      assert(!f.exists(vdir),
        "heartbeat on a concurrently-swept dir must not leave an empty shell " +
          "(a resurrected shell passes exists() pin checks and its fresh " +
          "marker shields it from the age gate)")
    } finally Txn.testStallBeforeHeartbeat = _ => ()
    // and the non-racing path still works: marker written, dir intact
    Lake.writeTableSnapshot(Seq(3).toDF("k"), root, "hb_t2",
      retentionVersions = Int.MaxValue)
    val vdir2 = new org.apache.hadoop.fs.Path(
      s"${Lake.tablePath(root, "hb_t2")}/version=v1")
    Txn.heartbeatStaged(f, vdir2, System.currentTimeMillis())
    assert(f.exists(new org.apache.hadoop.fs.Path(vdir2, "_txn_heartbeat")))
    assert(spark.read.parquet(vdir2.toString).count() === 1)
  }

  test("racing committers each stamp their own stats sidecar; pruning stays exact") {
    import graft.lake.StatsSidecar
    val root = scratch()
    race(6) { i =>
      Lake.writeTableSnapshot(
        spark.range(i * 1000, i * 1000 + 1000).toDF("k")
          .repartitionByRange(2, org.apache.spark.sql.functions.col("k")),
        root, "st_race", retentionVersions = Int.MaxValue)
    }.foreach(r => assert(r.isSuccess, r))
    // every committed version dir carries its own sidecar, stamped into
    // the stage BEFORE the rename (atomic with the commit)
    for (v <- Lake.versions(spark, root, "st_race")) {
      val dir = new org.apache.hadoop.fs.Path(
        Lake.resolveSnapshotDir(spark, root, "st_race", v))
      val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(f.exists(new org.apache.hadoop.fs.Path(dir, StatsSidecar.sidecarName)),
        s"v$v lost its stats sidecar under the race")
      val stats = StatsSidecar.readSidecar(f, dir)
      assert(stats.exists(_.values.map(_.rows).sum === 1000),
        s"v$v sidecar rows wrong: $stats")
    }
    // the latest winner's sidecar prunes exactly like a serial commit's
    val latest = Lake.versions(spark, root, "st_race").max
    val files = Lake.snapshotFiles(spark, root, "st_race", latest)
    val lo = spark.read.parquet(files.head).agg(
      org.apache.spark.sql.functions.min("k")).head().getLong(0)
    val admitted = StatsSidecar.candidateFiles(
      spark, files, spark.read.parquet(files: _*).schema,
      Seq(org.apache.spark.sql.sources.EqualTo("k", lo))).files
    assert(admitted.size === 1, s"expected one admitted file, got $admitted")
  }

  test("racing commits on an mv_refresh=on_commit base keep the summary exact (round 15)") {
    import org.apache.spark.sql.functions._
    import graft.warehouse.SummaryRewrite
    val root = scratch()
    Lake.setTableProperties(spark, root, "mvt",
      Map(SummaryRewrite.MvRefreshProp -> "on_commit"))
    Lake.writeTableSnapshot(
      spark.range(0, 2000).select((col("id") % 4).as("g"), col("id").as("k"),
        (col("id") % 9).cast("double").as("v")), root, "mvt")
    try {
      SummaryRewrite.createForTable(spark, "mv_conc", root, "mvt", s"$root/mv",
        keys = Seq("g"), rowKeys = Seq("k"),
        sums = Seq("v" -> None), mins = Seq("v"), maxs = Seq("v"))
      // 4 racing one-group mutations: every commit carries a synchronous
      // refresh; the per-view lock serializes the folds, the registry lock
      // keeps the watermark read-modify-writes atomic
      import graft.lake.CopyOnWrite
      val results = race(4) { i =>
        CopyOnWrite.updateWhere(spark, root, "mvt",
          col("g") === i.toLong && col("k") < 400,
          Seq("v" -> (col("v") + lit(100.0 * (i + 1)))))
      }
      assert(results.forall(_.isSuccess), results.filter(_.isFailure).toString)
      // the summary reflects the final state: served AND equal to recompute
      // (read through the manifest-aware feed, not a raw version dir)
      val base = Lake.readTableFeed(spark, root, "mvt")
        .groupBy("g").agg(sum("v").as("sv"), min("v").as("mn"),
          max("v").as("mx"), count(lit(1)).as("n"))
      val want = base.collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4))).sortBy(_._1).toSeq
      // serve check: rewrite fires on a catalog scan at the latest version
      val mvconc = org.apache.spark.sql.graft.GraftCatalog.register(spark, root)
      val served = spark.sql(
        s"""SELECT g, sum(v) AS sv, min(v) AS mn, max(v) AS mx, count(*) AS n
          |FROM $mvconc.tables.mvt GROUP BY g""".stripMargin)
      assert(SummaryRewrite.scannedPaths(served.queryExecution.optimizedPlan)
        .exists(_.contains("/mv")),
        "after racing on_commit refreshes the summary must be fresh and serve")
      val got = served.collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4))).sortBy(_._1).toSeq
      assert(got === want, s"summary diverged from base after racing refreshes")
    } finally SummaryRewrite.drop("mv_conc")
  }
}
