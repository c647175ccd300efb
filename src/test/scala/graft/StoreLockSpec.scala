package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{FsLeaseBackend, IndexStore, LabelStore, LeaseBackend,
  SketchStore, StoreLock, Tables}

/** Conf-selectable test backend ([[StoreLock.backendFor]] reflection
  * target): an in-memory lease map standing in for an object store's
  * conditional-put, recording that the seam routed through it. */
class RecordingLeaseBackend extends LeaseBackend {
  import RecordingLeaseBackend._
  def tryAcquire(lock: Path, token: String): Boolean = {
    val won = leases.putIfAbsent(lock.toString, token).isEmpty
    if (won) acquired.incrementAndGet()
    won
  }
  def probe(lock: Path): Option[(Long, String)] =
    leases.get(lock.toString).map((0L, _))
  def breakStale(lock: Path, observedToken: String): Boolean =
    leases.remove(lock.toString, observedToken)
  def heartbeat(lock: Path, token: String): Unit = ()
  def release(lock: Path, token: String): Unit = {
    leases.remove(lock.toString, token); ()
  }
}
object RecordingLeaseBackend {
  val leases = scala.collection.concurrent.TrieMap.empty[String, String]
  val acquired = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Concurrent-writer arbitration (round-8 verdict #4): two
  * simultaneous writers to the same table or artifact must never
  * interleave their marker-last publishes — one serializes or fails
  * cleanly, and the loser's artifact NEVER becomes visible. The lease
  * primitive is pinned directly, then through the three commit
  * surfaces it guards (the graft-index DSv2 publish, the
  * LabelStore/SketchStore two-table commit, ArtifactStore's
  * wait-and-serve build). */
class StoreLockSpec extends SparkSpec {
  import spark.implicits._

  private def fs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def postingsOf(rows: Seq[(String, Seq[Long])]) =
    rows.toDF("word", "postings")
      .select(col("word"), size(col("postings")).cast("long").as("df"),
        col("postings").cast("array<bigint>").as("postings"))

  test("lease primitive: exclusive, fail-clean loser, waiter serializes, stale lease broken") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val lock = new Path(s"$dir/_L")
    val f = fs(lock)
    // exclusivity + fail-clean: a held lease rejects a second
    // fail-clean writer immediately
    StoreLock.withLease(f, lock, 60000L, wait = false) {
      intercept[StoreLock.ConcurrentWriteException] {
        StoreLock.withLease(f, lock, 60000L, wait = false)(fail("ran under a held lease"))
      }
    }
    // released: the same acquire now succeeds
    StoreLock.withLease(f, lock, 60000L, wait = false)(())
    // waiter serializes: A holds 400 ms, B (wait=true) must run STRICTLY
    // after A releases
    @volatile var aReleased = 0L
    @volatile var bRan = 0L
    val a = new Thread(() => StoreLock.withLease(f, lock, 60000L, wait = false) {
      Thread.sleep(400); aReleased = System.nanoTime()
    })
    a.start(); Thread.sleep(100)
    StoreLock.withLease(f, lock, 60000L, wait = true) { bRan = System.nanoTime() }
    a.join()
    assert(aReleased != 0L && bRan > aReleased, "waiter ran under a live lease")
    // stale lease from a crashed writer: age it past the lease and a
    // new writer breaks it instead of failing
    f.create(lock, true).close()
    f.setTimes(lock, System.currentTimeMillis() - 10000L, -1L)
    StoreLock.withLease(f, lock, 5000L, wait = false)(())
    assert(!f.exists(lock))
  }

  test("non-atomic schemes refused; conf-selected backend routes the lease") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_sch").toString
    val local = fs(new Path(s"$dir/_L"))
    // s3a-class stores have no atomic create-if-absent: the filesystem
    // backend must REFUSE (loudly, before any I/O) rather than hand
    // out a lock that does not lock
    val ex = intercept[IllegalStateException] {
      new FsLeaseBackend(local).tryAcquire(
        new Path("s3a://bucket/warehouse/_graft_locks/t.lock"), "tok")
    }
    assert(ex.getMessage.contains("lockBackend"), ex.getMessage)
    intercept[IllegalStateException] {
      new FsLeaseBackend(local).probe(new Path("gs://b/x.lock"))
    }
    // the pluggable seam: a conf-named backend (an object store's
    // conditional-put in production, an in-memory map here) carries
    // the whole store-lease protocol instead of the filesystem
    spark.conf.set("spark.graft.lockBackend",
      classOf[RecordingLeaseBackend].getName)
    try {
      val before = RecordingLeaseBackend.acquired.get()
      var ran = false
      StoreLock.withStoreLease(spark, "sch_probe") { _ => ran = true }
      assert(ran)
      assert(RecordingLeaseBackend.acquired.get() === before + 1,
        "lease did not route through the conf-selected backend")
      assert(RecordingLeaseBackend.leases.isEmpty, "lease not released")
      // exclusion is the backend's: a lease it holds (age 0 — fresh)
      // rejects a second fail-clean writer
      val key = new Path(
        new Path(spark.sessionState.conf.warehousePath),
        "_graft_locks/sch_probe.lock").toString
      RecordingLeaseBackend.leases.put(key, "other-holder")
      intercept[StoreLock.ConcurrentWriteException] {
        StoreLock.withStoreLease(spark, "sch_probe")(_ =>
          fail("ran under a backend-held lease"))
      }
    } finally {
      spark.conf.unset("spark.graft.lockBackend")
      RecordingLeaseBackend.leases.clear()
    }
  }

  test("holder token: conditioned release and tombstone stale-break protect a re-acquired lease") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_tok").toString
    val lock = new Path(s"$dir/_L")
    val f = fs(lock)
    val be = new FsLeaseBackend(f)
    // release is token-conditioned: a holder whose lease was broken
    // and re-acquired (simulated by rewriting the token) must NOT
    // delete the successor's lease
    assert(be.tryAcquire(lock, "A"))
    val out = f.create(lock, true); out.write("B".getBytes("UTF-8")); out.close()
    be.release(lock, "A")
    assert(f.exists(lock), "release deleted a lease it no longer held")
    assert(be.probe(lock).map(_._2) === Some("B"))
    be.release(lock, "B")
    assert(!f.exists(lock))
    // stale break is OBSERVATION-conditioned: a breaker holding a
    // stale observation must not destroy a lease that was re-acquired
    // (fresh token) in the probe→break window — the lease survives,
    // the breaker loses and re-contends
    assert(be.tryAcquire(lock, "FRESH"))
    assert(!be.breakStale(lock, "STALE_OBSERVATION"),
      "breaker with a stale observation claimed the break")
    assert(f.exists(lock), "fresh lease destroyed by a stale breaker")
    assert(be.probe(lock).map(_._2) === Some("FRESH"))
    // ...while a breaker whose observation still matches wins the break
    assert(be.breakStale(lock, "FRESH"))
    assert(!f.exists(lock))
    assert(new java.io.File(dir).listFiles().forall(
      !_.getName.contains(".tomb.")), "tombstone residue")
  }

  test("live holder heartbeats: a build longer than leaseMs is not broken; waiter still serializes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_hb").toString
    val lock = new Path(s"$dir/_L")
    val f = fs(lock)
    val be = new FsLeaseBackend(f)
    // leaseMs (crash detection) far below the build duration: without
    // the heartbeat the waiter would break the LIVE lease mid-build
    // and run concurrently — the exact double-build ADVICE scenario
    @volatile var aReleased = 0L
    @volatile var bRan = 0L
    val a = new Thread(() =>
      StoreLock.withLease(be, lock, 600L, 60000L, wait = false) {
        Thread.sleep(2500); aReleased = System.nanoTime()
      })
    a.start(); Thread.sleep(150)
    StoreLock.withLease(be, lock, 600L, 60000L, wait = true) {
      bRan = System.nanoTime()
    }
    a.join()
    assert(aReleased != 0L && bRan > aReleased,
      "waiter broke a live (heartbeating) lease and ran under it")
    assert(!f.exists(lock))
    // the waiter's give-up deadline is its OWN knob: behind a live
    // heartbeating holder, a waiter with a short waitMs fails clean
    // (ConcurrentWriteException) instead of breaking the lease or
    // hanging — and the holder's lease survives the loser
    @volatile var cDone = false
    val c = new Thread(() =>
      StoreLock.withLease(be, lock, 600L, 60000L, wait = false) {
        Thread.sleep(1500); cDone = true
      })
    c.start(); Thread.sleep(150)
    intercept[StoreLock.ConcurrentWriteException] {
      StoreLock.withLease(be, lock, 600L, 400L, wait = true)(
        fail("waiter ran despite give-up deadline"))
    }
    assert(f.exists(lock), "the give-up waiter destroyed the live lease")
    c.join()
    assert(cDone && !f.exists(lock))
  }

  test("displaced holder: restore-impossible break keeps the successor's lease AND the displaced writer's commit-point verify aborts") {
    // the round-10 ADVICE race, end to end: holder B's lease is
    // tombstoned by breaker A (stale observation), contender C takes
    // the empty slot before A can restore, so A's restore rename
    // fails — the old code deleted the tombstone blindly and B kept
    // writing beside C. Now: (1) the tombstone is dropped only after
    // the slot is PROVABLY re-occupied (C's lease survives untouched),
    // and (2) B's LeaseHandle.verify() — the commit-point re-check —
    // throws, so B aborts its publish instead of interleaving with C.
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_disp").toString
    val lock = new Path(s"$dir/_L")
    val f = fs(lock)
    // a probe-intercepting backend injects contender C exactly in the
    // tombstone→restore window (the first lock probe of the restore
    // loop), making the nondeterministic race a deterministic spec
    class InterceptingBackend extends FsLeaseBackend(f) {
      @volatile var onLockProbe: () => Unit = () => ()
      override def probe(p: Path): Option[(Long, String)] = {
        if (!p.getName.contains(".tomb.")) {
          val h = onLockProbe; onLockProbe = () => (); h()
        }
        super.probe(p)
      }
    }
    val be = new InterceptingBackend
    StoreLock.withLeaseHandle(be, lock, 60000L, 60000L, wait = false) { b =>
      b.verify() // freshly held: verify passes
      // breaker A observed a stale token and breaks B's lease; C wins
      // the empty slot inside A's restore window
      be.onLockProbe = () => {
        val out = f.create(lock, true)
        out.write("C".getBytes("UTF-8")); out.close()
      }
      assert(!be.breakStale(lock, "A_STALE_OBSERVATION"),
        "breaker with a mismatched observation claimed the break")
      // C's fresh lease survived A's failed restore
      assert(be.probe(lock).map(_._2) === Some("C"),
        "successor's lease destroyed by the failed restore")
      assert(new java.io.File(dir).listFiles().forall(
        !_.getName.contains(".tomb.")),
        "tombstone residue after a provably re-occupied slot")
      // ...and B, displaced, must ABORT at its commit point
      intercept[StoreLock.ConcurrentWriteException](b.verify())
    }
    // B's release was token-conditioned: C still holds
    assert(be.probe(lock).map(_._2) === Some("C"))
    // restore-RETRY path: a mismatched break with NO contender puts
    // the tombstoned lease back (first retry), token intact
    val be2 = new FsLeaseBackend(f)
    assert(!be2.breakStale(lock, "ANOTHER_STALE_OBSERVATION"))
    assert(be2.probe(lock).map(_._2) === Some("C"),
      "mismatched break failed to restore the lease")
  }

  test("CAS lease backend: conditional-put semantics carry the full protocol; N-writer hammer has one winner per round") {
    import graft.sources.CasLeaseBackend
    CasLeaseBackend.clear()
    val lock = new Path("/cas/model/store.lock")
    val be = new CasLeaseBackend
    // acquire = put-if-absent; probe sees the holder; release is
    // token-conditioned (a foreign token cannot delete)
    assert(be.tryAcquire(lock, "A"))
    assert(!be.tryAcquire(lock, "B"))
    assert(be.probe(lock).map(_._2) === Some("A"))
    be.release(lock, "B")
    assert(be.probe(lock).map(_._2) === Some("A"), "foreign release succeeded")
    // stale break = delete-if-token-matches: a mismatched observation
    // loses (re-acquired lease survives); a matching one wins
    assert(!be.breakStale(lock, "STALE_OBS"))
    assert(be.probe(lock).map(_._2) === Some("A"))
    assert(be.breakStale(lock, "A"))
    assert(be.probe(lock).isEmpty)
    // full protocol through withLease: heartbeat keeps a build past
    // leaseMs alive against a waiting contender (CAS replace-if-current)
    @volatile var aReleased = 0L
    @volatile var bRan = 0L
    val a = new Thread(() =>
      StoreLock.withLease(be, lock, 400L, 60000L, wait = false) {
        Thread.sleep(1500); aReleased = System.nanoTime()
      })
    a.start(); Thread.sleep(100)
    StoreLock.withLease(be, lock, 400L, 60000L, wait = true) {
      bRan = System.nanoTime()
    }
    a.join()
    assert(aReleased != 0L && bRan > aReleased,
      "waiter broke a live heartbeating CAS lease")
    // a CRASHED writer's lease (planted, aged past leaseMs, never
    // heartbeating) is broken and the slot re-won
    assert(be.tryAcquire(lock, "CRASHED"))
    CasLeaseBackend.rewind(lock, 10000L)
    var ran = false
    StoreLock.withLease(be, lock, 500L, 60000L, wait = false) { ran = true }
    assert(ran, "stale CAS lease was not broken")
    assert(be.probe(lock).isEmpty)
    // N-writer hammer: 8 threads × 5 rounds of wait-and-serve leases
    // around a deliberately non-atomic critical section — mutual
    // exclusion means the overlap counter never sees a second body
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val completed = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 8).map { _ =>
      new Thread(() =>
        (0 until 5).foreach { _ =>
          StoreLock.withLease(be, lock, 60000L, 120000L, wait = true) {
            if (active.incrementAndGet() != 1) overlaps.incrementAndGet()
            Thread.sleep(2)
            active.decrementAndGet()
            completed.incrementAndGet()
          }
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(overlaps.get() === 0, s"${overlaps.get()} overlapping lease bodies")
    assert(completed.get() === 40, "a hammer round was lost")
    assert(be.probe(lock).isEmpty, "lease leaked after the hammer")
    // the conf seam routes a whole store commit through the CAS backend
    spark.conf.set("spark.graft.lockBackend", classOf[CasLeaseBackend].getName)
    try {
      var leased = false
      StoreLock.withStoreLease(spark, "cas_probe") { h => h.verify(); leased = true }
      assert(leased)
    } finally {
      spark.conf.unset("spark.graft.lockBackend")
      CasLeaseBackend.clear()
    }
  }

  test("graft-index DSv2 publish: loser never visible, winner's artifact intact, no mix") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race_idx").toString
    IndexStore.writeIndexTable(
      postingsOf(Seq("alpha" -> Seq(1L), "beta" -> Seq(1L, 2L))), dir)
    val before = spark.read.format("graft-index").load(dir)
      .select("word").collect().map(_.getString(0)).toSet
    assert(before === Set("alpha", "beta"))
    // another committer holds the table lease mid-publish: our
    // overwrite must fail BEFORE touching the destination
    val lock = new Path(s"$dir/_GRAFT_LOCK")
    fs(lock).create(lock, true).close()
    val ex = intercept[Throwable] {
      IndexStore.writeIndexTable(postingsOf(Seq("gamma" -> Seq(3L))), dir)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[StoreLock.ConcurrentWriteException]),
      s"expected ConcurrentWriteException in the cause chain, got $ex")
    // the loser published NOTHING: old artifact intact, no gamma, no
    // staging residue, ready marker still present
    val after = spark.read.format("graft-index").load(dir)
      .select("word").collect().map(_.getString(0)).toSet
    assert(after === Set("alpha", "beta"), "loser's rows leaked into the artifact")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_graft_staging")), "staging residue")
    // lease released (by the simulated writer): the retry wins cleanly
    fs(lock).delete(lock, false)
    IndexStore.writeIndexTable(postingsOf(Seq("gamma" -> Seq(3L))), dir)
    assert(spark.read.format("graft-index").load(dir)
      .select("word").collect().map(_.getString(0)).toSet === Set("gamma"))
  }

  test("label-store commit: loser fails before any table write; both tables stay coherent") {
    val docs = Tables(spark, testdataDir, "documents")
    val day0 = docs.where($"doc_id" < 200)
    val day1 = docs.where($"doc_id" >= 200 && $"doc_id" < 260)
    try {
      SketchStore.save(day0, "lk_sketch")
      LabelStore.save(
        graft.operators.Dedup.dedupClustersScale(day0, 0.9), "lk_labels")
      val labelsBefore = spark.table("lk_labels").collect().map(_.toString).sorted
      val bandsBefore = spark.table("lk_sketch_bands").count()
      val updated = LabelStore.update(spark, "lk_labels", "lk_sketch", day1, 0.9)
        .localCheckpoint(true)
      // another committer holds the store lease: commit must fail with
      // NOTHING written — neither the sketch append nor the labels
      val lock = new Path(
        new Path(spark.sessionState.conf.warehousePath),
        "_graft_locks/lk_labels.lock")
      fs(lock).mkdirs(lock.getParent)
      fs(lock).create(lock, true).close()
      intercept[StoreLock.ConcurrentWriteException] {
        LabelStore.commit(spark, "lk_labels", "lk_sketch", day1, updated)
      }
      assert(spark.table("lk_labels").collect().map(_.toString).sorted
        === labelsBefore, "loser's labels became visible")
      assert(spark.table("lk_sketch_bands").count() === bandsBefore,
        "loser's sketches became visible")
      // winner done, lease released: the SAME commit retried converges
      fs(lock).delete(lock, false)
      LabelStore.commit(spark, "lk_labels", "lk_sketch", day1, updated)
      assert(spark.table("lk_labels").count() === labelsBefore.length + day1.count())
      assert(spark.table("lk_sketch_bands").count() > bandsBefore)
    } finally Seq("lk_labels", "lk_sketch_bands", "lk_sketch_sets")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("graft-index publish under hammering: N racing writers, artifact always ONE dataset") {
    // the stress form of the race: four threads each try five
    // overwrites of the same table with their own dataset; losers must
    // fail cleanly, and at EVERY point the artifact is exactly one
    // writer's rows (never a mix), with no staging residue at the end
    val dir = java.nio.file.Files.createTempDirectory("graft_race_n").toString
    IndexStore.writeIndexTable(postingsOf(Seq("seed" -> Seq(1L))), dir)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val wrote = new java.util.concurrent.atomic.AtomicInteger(0)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        (0 until 5).foreach { i =>
          try {
            IndexStore.writeIndexTable(
              postingsOf(Seq(s"writer${t}word$i" -> Seq(t.toLong, 10L + i))), dir)
            wrote.incrementAndGet()
          } catch {
            case e: Throwable
              if causes(e).exists(_.isInstanceOf[StoreLock.ConcurrentWriteException]) =>
                failures.incrementAndGet()
            case e: Throwable => unexpected.add(e)
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(unexpected.isEmpty, s"non-lease failure: ${unexpected.peek()}")
    assert(wrote.get() >= 1, "no writer ever won")
    // single-dataset invariant: the surviving artifact is exactly one
    // writer's one-word dataset
    val words = spark.read.format("graft-index").load(dir)
      .select("word").collect().map(_.getString(0))
    assert(words.length === 1, s"mixed artifact: ${words.toSeq}")
    assert(words.head.matches("writer\\dword\\d"))
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_graft_staging")), "staging residue")
    assert(!new java.io.File(dir, "_GRAFT_LOCK").exists(), "lease leaked")
  }

  test("artifact store: a waiting loser serves the winner's artifact instead of double-building") {
    import graft.sources.ArtifactStore
    val root = java.nio.file.Files.createTempDirectory("graft_art").toString
    spark.conf.set("spark.graft.artifactDir", root)
    try {
      val key = Tables(spark, testdataDir, "documents").limit(50)
      // first build creates the artifact and reveals its keyed dir
      val r1 = ArtifactStore.loadOrBuild("lk_probe", key, "p=1")(
        key.select($"doc_id", ($"doc_id" * 2).as("v")))
      assert(r1.count() === 50)
      val dir = new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("lk_probe-"))
        .head.getPath
      // simulate ANOTHER DRIVER mid-build: artifact gone, its lease
      // held; the winner finishes 400 ms later (artifact and its
      // completion marker restored, lease released); our loadOrBuild
      // must WAIT then SERVE — the build lambda must never run
      val winner = spark.read.parquet(dir).localCheckpoint(true)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
      val lock = new Path(dir + ".lock")
      fs(lock).create(lock, true).close()
      val t = new Thread(() => {
        Thread.sleep(400)
        winner.write.mode("overwrite").parquet(dir)
        val done = new Path(dir, ArtifactStore.DoneMarker)
        fs(done).create(done, true).close()
        fs(lock).delete(lock, false)
      })
      t.start()
      val misses0 = ArtifactStore.misses.get()
      val served = ArtifactStore.loadOrBuild("lk_probe", key, "p=1")(
        fail("double build: the waiting loser re-built the artifact"))
      t.join()
      assert(served.count() === 50)
      assert(ArtifactStore.misses.get() === misses0, "miss counted on a served wait")
    } finally spark.conf.unset("spark.graft.artifactDir")
  }
}
