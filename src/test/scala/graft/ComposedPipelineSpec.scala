package graft

import graft.streaming.{ComposedPipeline, FeedSource}
import org.apache.spark.sql.functions._

/** The composed production pipeline (feed source → transformWithState
  * sessionization on RocksDB → exactly-once CDC apply into snapshot
  * generations) with a crash injected in the at-least-once window —
  * after a batch's generation published, before Spark committed the
  * batch — and a restart from the checkpoint. The end-state must be
  * bit-identical to a clean run's: the re-executed batch's apply must
  * SKIP (its generation is the processed marker), never double-apply.
  * DriverRestartSpec runs the same pipeline in a forked driver JVM and
  * SIGKILLs it mid-replay. */
class ComposedPipelineSpec extends SparkSpec {

  import FeedFixture.seedFeed

  test("crash between generation publish and batch commit: restart " +
      "skips the re-apply and the snapshot equals a clean run's") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_composed_").toString
    val feedDir = s"$work/feed"
    val n = seedFeed(feedDir)
    val cap = 250L // forces a multi-batch replay (~8 batches/partition)

    // crash leg: fail after batch 3's generation landed
    val s1 = ComposedPipeline.run(spark, feedDir, s"$work/snap_crash",
      s"$work/ckpt_crash", cap, crashAfterBatch = Some(3L))
    assert(s1.crashed, "the injected crash must fire")
    val gensAtCrash = ComposedPipeline.generationIds(spark, s"$work/snap_crash")
    // restart from the same checkpoint: drains the log; batch 3 is
    // re-executed (it never committed) and its apply must skip
    val s2 = ComposedPipeline.run(spark, feedDir, s"$work/snap_crash",
      s"$work/ckpt_crash", cap)
    assert(!s2.crashed && s2.processedLag == 0L,
      s"restart must drain the feed (lag ${s2.processedLag})")
    if (gensAtCrash.contains(3L))
      assert(s2.skippedReapplies >= 1,
        "the re-executed batch must take the skip path, not double-apply")

    // clean leg: same feed, fresh dirs — the parity oracle
    val sc = ComposedPipeline.run(spark, feedDir, s"$work/snap_clean",
      s"$work/ckpt_clean", cap)
    assert(!sc.crashed && sc.processedLag == 0L)

    val crashFinal =
      ComposedPipeline.latestSnapshot(spark, s"$work/snap_crash").get
    val cleanFinal =
      ComposedPipeline.latestSnapshot(spark, s"$work/snap_clean").get
    // exactly-once: no (user, session) applied twice anywhere
    assert(crashFinal.groupBy("user_id", "session_seq").count()
      .where(col("count") > 1).isEmpty,
      "a session row was applied more than once across the crash")
    // and the crash/restart path converges to the clean run's table
    assert(crashFinal.count() == cleanFinal.count() &&
      crashFinal.exceptAll(cleanFinal).isEmpty &&
      cleanFinal.exceptAll(crashFinal).isEmpty,
      "crash/restart snapshot must equal the clean run's")
    // the fixture's first session per user must have closed: 40 users
    // × session 1 at least (session 2 closes via the late tail)
    assert(cleanFinal.where(col("session_seq") === 1).count() == 40)
    assert(n > 0 && s1.batches + s2.batches >= sc.batches,
      "sanity: the crash path re-ran at least the uncommitted batch")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(work))
  }

  test("live tail + crash BEFORE the apply: appends racing the stream, " +
      "state committed but no generation — restart converges to parity") {
    // The two r16 additions composed (VERDICT r15 next #7): the feed
    // is appended DURING the run by a writer thread (production shape,
    // vs the pre-written-log replay), and the crash fires in the
    // OTHER at-least-once window — after the batch's state partitions
    // committed, before its generation published. Restart must
    // re-execute the batch against rolled-back state and apply for
    // real (no marker to skip on), still bit-converging to a clean run
    // over the same final feed.
    val work = java.nio.file.Files
      .createTempDirectory("graft_tail_").toString
    val feedDir = s"$work/feed"
    val base = java.sql.Timestamp.valueOf("2024-01-01 08:00:00").getTime
    val parts = 2
    val recs = ((0 until 40).flatMap { u =>
      (0 until 50).map { i =>
        val ts = base + (if (i < 25) i * 60000L
          else 2 * 3600000L + i * 60000L)
        (ts, u.toLong, i.toLong, if (i % 7 == 0) "purchase" else "click")
      }
    } :+ ((base + 12 * 3600000L, 999L, 9999L, "view")))
      .sortBy(r => (r._1, r._3))
    // wave-slice by TIME so each wave appends per partition in ts
    // order (the sessionizer's per-user arrival assumption holds
    // across waves exactly as it would for a real time-ordered feed)
    val waves = recs.grouped(math.max(1, recs.size / 6)).toSeq
    def appendWave(w: Seq[(Long, Long, Long, String)]): Unit =
      w.groupBy(r => (r._2 % parts).toInt).toSeq.sortBy(_._1).foreach {
        case (p, rs) => FeedSource.append(feedDir, p, rs.map(r =>
          (r._1, r._2.toString, s"${r._2 * 1000 + r._3},${r._4},1.5")))
      }
    appendWave(waves.head)
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val writer = new Thread(() => {
      try waves.tail.foreach { w => Thread.sleep(150L); appendWave(w) }
      finally writing.set(false)
    })
    writer.start()
    val s1 =
      try ComposedPipeline.run(spark, feedDir, s"$work/snap_crash",
        s"$work/ckpt_crash", 250L,
        crashBeforeApply = Some(2L),
        tailWhile = Some(() => writing.get()))
      finally writer.join() // the writer finishes even across the crash
    assert(s1.crashed, "the injected pre-apply crash must fire")
    // the crashed batch committed state but published NO generation —
    // the window this test exists for
    assert(!ComposedPipeline.generationIds(spark, s"$work/snap_crash")
      .contains(2L),
      "batch 2 must not have published before the pre-apply crash")
    // restart (writer done): batch 2 re-executes against rolled-back
    // state, applies for real, and the feed fully drains
    val s2 = ComposedPipeline.run(spark, feedDir, s"$work/snap_crash",
      s"$work/ckpt_crash", 250L)
    assert(!s2.crashed && s2.processedLag == 0L,
      s"restart must drain the tailed feed (lag ${s2.processedLag})")
    // clean leg over the SAME final feed — the parity oracle
    val sc = ComposedPipeline.run(spark, feedDir, s"$work/snap_clean",
      s"$work/ckpt_clean", 250L)
    assert(!sc.crashed && sc.processedLag == 0L)
    val crashFinal =
      ComposedPipeline.latestSnapshot(spark, s"$work/snap_crash").get
    val cleanFinal =
      ComposedPipeline.latestSnapshot(spark, s"$work/snap_clean").get
    assert(crashFinal.groupBy("user_id", "session_seq").count()
      .where(col("count") > 1).isEmpty,
      "a session row was applied more than once across the crash")
    assert(crashFinal.count() == cleanFinal.count() &&
      crashFinal.exceptAll(cleanFinal).isEmpty &&
      cleanFinal.exceptAll(crashFinal).isEmpty,
      "tailed crash/restart snapshot must equal the clean run's")
    assert(cleanFinal.where(col("session_seq") === 1).count() == 40)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(work))
  }

  test("pointer-commit CDC on a copy-rename object store: crash in the " +
      "at-least-once window, restart skips on the pointer, parity with " +
      "the rename-mode run") {
    // The rename-free publish (r18) composed with the streaming
    // pipeline: generations commit by create-if-absent POINTER files
    // (Snapshot.publishPointer), and the whole run executes against
    // the objstore:// double — a store whose rename is a real
    // copy+delete, i.e. S3 semantics. Nothing in the sink's commit
    // path renames, so exactly-once holds where publishAtomic's
    // rename protocol demonstrably corrupts (PointerPublishSpec's
    // motivating failures). Checkpoint stays on the local FS — the
    // production shape is exactly that split: HDFS-grade checkpoint,
    // object-store data sink.
    ObjectStoreFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val work = java.nio.file.Files
      .createTempDirectory("graft_ptrpipe_").toString
    val feedDir = s"$work/feed"
    seedFeed(feedDir)
    val cap = 250L
    val snapCrash = s"objstore://$work/snap_crash"
    val snapClean = s"objstore://$work/snap_clean"

    // crash leg: fail after batch 3's generation pointer committed
    val s1 = ComposedPipeline.run(spark, feedDir, snapCrash,
      s"$work/ckpt_crash", cap, crashAfterBatch = Some(3L),
      pointerCommit = true)
    assert(s1.crashed, "the injected crash must fire")
    val gensAtCrash = ComposedPipeline.pointerGenerationIds(spark, snapCrash)
    val s2 = ComposedPipeline.run(spark, feedDir, snapCrash,
      s"$work/ckpt_crash", cap, pointerCommit = true)
    assert(!s2.crashed && s2.processedLag == 0L,
      s"restart must drain the feed (lag ${s2.processedLag})")
    if (gensAtCrash.contains(3L))
      assert(s2.skippedReapplies >= 1,
        "the re-executed batch must skip on its pointer, not double-apply")

    // clean pointer-mode leg on the same store
    val sc = ComposedPipeline.run(spark, feedDir, snapClean,
      s"$work/ckpt_clean", cap, pointerCommit = true)
    assert(!sc.crashed && sc.processedLag == 0L)
    // and a RENAME-mode clean leg on the local FS — cross-protocol
    // parity: same feed, same sessions, either commit protocol
    val sr = ComposedPipeline.run(spark, feedDir, s"$work/snap_rename",
      s"$work/ckpt_rename", cap)
    assert(!sr.crashed && sr.processedLag == 0L)

    val crashFinal =
      ComposedPipeline.latestSnapshotPointer(spark, snapCrash).get
    val cleanFinal =
      ComposedPipeline.latestSnapshotPointer(spark, snapClean).get
    val renameFinal =
      ComposedPipeline.latestSnapshot(spark, s"$work/snap_rename").get
    assert(crashFinal.groupBy("user_id", "session_seq").count()
      .where(col("count") > 1).isEmpty,
      "a session row was applied more than once across the crash")
    for ((other, tag) <- Seq((cleanFinal, "clean pointer"),
        (renameFinal, "rename-mode"))) {
      assert(crashFinal.count() == other.count() &&
        crashFinal.exceptAll(other).isEmpty &&
        other.exceptAll(crashFinal).isEmpty,
        s"pointer crash/restart snapshot must equal the $tag run's")
    }
    // structure: visibility is ONLY pointers + objects — no generation
    // dir ever appears at the root, so no reader can resolve one
    val fs = new org.apache.hadoop.fs.Path(snapCrash)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootChildren = fs.listStatus(
      new org.apache.hadoop.fs.Path(snapCrash)).map(_.getPath.getName).toSet
    assert(rootChildren == Set(graft.engine.Snapshot.PointersDir,
      graft.engine.Snapshot.ObjectsDir),
      s"pointer root must hold only _pointers/_objects, got $rootChildren")
    // the post-commit crash leaves no orphan: every staged object is
    // referenced by the pointer that committed it
    assert(graft.engine.Snapshot.gcOrphanObjects(spark, snapCrash, 0L).isEmpty,
      "a post-commit crash must leave no unreferenced object dirs")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(work))
  }
}
