package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path

import graft.engine.Snapshot

/** The rename-free pointer-commit protocol (VERDICT r17 missing #1 /
  * next #1), proven on a store WITHOUT atomic rename: the whole
  * atomicity story used to ride `FileContext.rename(Rename.NONE)`,
  * which the reference's actual sink (S3, backup.sh:218-220) does not
  * provide — there "rename" is a non-atomic client-side copy. On the
  * [[ObjectStoreFileSystem]] double (copy-rename, atomic conditional
  * create) this spec demonstrates BOTH halves:
  *
  *  1. the rename-commit protocol really is broken there — two racers
  *     both "win" and interleave files (corruption made visible), and
  *     a mid-rename reader observes a partial generation;
  *  2. the pointer-commit protocol ([[Snapshot.publishPointer]]) holds
  *     — exactly one winner, no partial visibility at any instant,
  *     orphaned staging reclaimed by GC, retention + time travel
  *     intact.
  *
  * CrossProcessPublishSpec additionally runs the pointer race across
  * two separate JVM PROCESSES on the same double.
  */
class PointerPublishSpec extends SparkSpec {

  private def installObjstore(): Unit =
    ObjectStoreFileSystem.install(spark.sparkContext.hadoopConfiguration)

  private def payload(tag: String) =
    spark.range(0, 500).selectExpr("id", s"'$tag' AS publisher")

  private def parquetParts(dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1
    else fs.listStatus(p).count(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  private def objectDirs(root: String): Seq[String] = {
    val p = new Path(s"$root/${Snapshot.ObjectsDir}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
  }

  test("pointer publish round-trip: commit, list, resolve, read, " +
      "immutability, loser staging cleaned") {
    val work = java.nio.file.Files.createTempDirectory("graft_ptr_rt_")
    try {
      val root = work.toString
      val gen = "db_2026_08_16_100000"
      val rt = Snapshot.publishPointer(spark, payload("first"), root, gen)
      assert(rt.verified && rt.originalRows == 500)
      assert(Snapshot.pointerGenerations(spark, root) == Seq(gen))
      assert(Snapshot.pointerGenerations(spark, root, Some("db")) == Seq(gen))
      assert(Snapshot.pointerGenerations(spark, root, Some("other")).isEmpty)
      val back = Snapshot.readPointer(spark, root, gen)
      assert(back.count() == 500)
      assert(back.select("publisher").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("first"))
      val obj = Snapshot.resolvePointer(spark, root, gen).get
      assert(Snapshot.readManifest(spark, obj).exists(_.rowCount == 500L))
      // immutable: a second publish of the same generation loses at the
      // pre-flight and leaves no second object behind
      intercept[Snapshot.SnapshotExistsException] {
        Snapshot.publishPointer(spark, payload("second"), root, gen)
      }
      assert(objectDirs(root).size == 1,
        s"loser must clean its staged object: ${objectDirs(root)}")
      // and the committed content is untouched
      assert(Snapshot.readPointer(spark, root, gen)
        .select("publisher").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("first"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("no partial visibility: a staged-but-uncommitted object (crashed " +
      "publisher) is invisible to readers and reclaimed by GC — with a " +
      "grace window protecting in-flight publishes") {
    val work = java.nio.file.Files.createTempDirectory("graft_ptr_gc_")
    try {
      val root = work.toString
      val gen = "db_2026_08_16_100000"
      Snapshot.publishPointer(spark, payload("committed"), root, gen)
      // simulate a publisher that crashed after staging, before commit:
      // a full verified object dir with NO pointer
      val orphan = s"$root/${Snapshot.ObjectsDir}/db_2026_08_16_110000__deadbeef"
      payload("crashed").write.parquet(orphan)
      assert(Snapshot.resolvePointer(spark, root, "db_2026_08_16_110000").isEmpty,
        "an uncommitted object must not resolve")
      assert(Snapshot.pointerGenerations(spark, root) == Seq(gen),
        "an uncommitted object must not list as a generation")
      // GC with a generous grace keeps it (could be an in-flight publish)
      assert(Snapshot.gcOrphanObjects(spark, root, 3600_000L).isEmpty)
      assert(objectDirs(root).size == 2)
      // GC past the grace reclaims exactly the orphan
      val gced = Snapshot.gcOrphanObjects(spark, root, 0L)
      assert(gced == Seq("db_2026_08_16_110000__deadbeef"), gced.toString)
      assert(objectDirs(root).size == 1)
      // the committed generation is never GC'd and still reads whole
      assert(Snapshot.readPointer(spark, root, gen).count() == 500)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("MOTIVATING FAILURE: on a copy-rename store, the rename-commit " +
      "protocol lets two racers both 'win' and interleaves their files") {
    installObjstore()
    val work = java.nio.file.Files.createTempDirectory("graft_ptr_broken_")
    try {
      val dest = s"objstore://$work/gen_corrupt"
      // hold both racers' commit renames open until BOTH have passed
      // the dest-exists check — the window S3's eventual copy loses to
      val barrier = new CyclicBarrier(2)
      ObjectStoreFileSystem.renameGate = Some(ObjectStoreFileSystem.RenameGate(
        dstMatch = _.endsWith("/gen_corrupt"),
        beforeCopy = () => { barrier.await(120, TimeUnit.SECONDS); () }))
      try {
        val a = Future(Snapshot.publishAtomic(spark, payload("racer_a"), dest))
        val b = Future(Snapshot.publishAtomic(spark, payload("racer_b"), dest))
        // BOTH publishes "succeed" — the protocol's invariant is already
        // gone (on an atomic-rename store exactly one would)
        Await.result(a, 180.seconds)
        Await.result(b, 180.seconds)
      } finally ObjectStoreFileSystem.renameGate = None
      val rows = spark.read.parquet(dest).count()
      val tags = spark.read.parquet(dest).select("publisher").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      // the corruption, made explicit: both payloads interleaved under
      // one generation, and the manifest (last-copier-wins) lies about it
      assert(rows == 1000L, s"expected interleaved 2x500 rows, got $rows")
      assert(tags == Seq("racer_a", "racer_b"), tags.toString)
      assert(Snapshot.readManifest(spark, dest).exists(_.rowCount == 500L),
        "manifest claims one publisher's 500 rows over interleaved 1000")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("MOTIVATING FAILURE: on a copy-rename store, a mid-rename reader " +
      "observes a visible-but-partial generation") {
    installObjstore()
    val work = java.nio.file.Files.createTempDirectory("graft_ptr_partial_")
    try {
      val dest = s"objstore://$work/gen_partial"
      val paused = new CountDownLatch(1)
      val resume = new CountDownLatch(1)
      ObjectStoreFileSystem.renameGate = Some(ObjectStoreFileSystem.RenameGate(
        dstMatch = _.endsWith("/gen_partial"),
        afterEachFile = n => if (n == 1) {
          paused.countDown()
          resume.await(120, TimeUnit.SECONDS); ()
        }))
      val partsSeenMidRename =
        try {
          val pub = Future(Snapshot.publishAtomic(spark, payload("p"), dest))
          assert(paused.await(120, TimeUnit.SECONDS), "rename never started")
          // the reader's view, one file into the copy: the generation
          // path EXISTS (visibility granted) but its data is not there
          val fs = new Path(dest)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          assert(fs.exists(new Path(dest)),
            "mid-copy the destination is already visible")
          val partial = parquetParts(dest)
          resume.countDown()
          Await.result(pub, 180.seconds)
          partial
        } finally ObjectStoreFileSystem.renameGate = None
      val finalParts = parquetParts(dest)
      assert(finalParts > 0)
      assert(partsSeenMidRename < finalParts,
        s"expected a partial generation mid-rename: saw $partsSeenMidRename " +
          s"of $finalParts parquet parts")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("pointer commit on the same copy-rename store: exactly one " +
      "winner, winner's object whole and uniform, no partial visibility, " +
      "GC leaves only the winner") {
    installObjstore()
    val work = java.nio.file.Files.createTempDirectory("graft_ptr_win_")
    try {
      val root = s"objstore://$work/snaproot"
      val gen = "db_2026_08_16_120000"
      // no pointer yet -> invisible, at every instant before commit
      assert(Snapshot.resolvePointer(spark, root, gen).isEmpty)
      val ready = new CyclicBarrier(2)
      def racer(tag: String) = Future {
        ready.await(120, TimeUnit.SECONDS)
        try { Snapshot.publishPointer(spark, payload(tag), root, gen); 1 }
        catch { case _: Snapshot.SnapshotExistsException => 0 }
      }
      val wins = Await.result(
        Future.sequence(Seq(racer("racer_a"), racer("racer_b"))), 300.seconds)
      assert(wins.sum == 1, s"exactly one pointer commit must win: $wins")
      val back = Snapshot.readPointer(spark, root, gen)
      assert(back.count() == 500)
      assert(back.select("publisher").distinct().collect().length == 1,
        "committed object must be one publisher's whole payload")
      // loser's staged object self-cleaned; GC confirms only the
      // winner's (referenced) object survives
      Snapshot.gcOrphanObjects(spark, root, 0L)
      assert(objectDirs(root).size == 1, objectDirs(root).toString)
      val obj = Snapshot.resolvePointer(spark, root, gen).get
      assert(Snapshot.readManifest(spark, obj).exists(_.rowCount == 500L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("pointer retention + time travel: expire keeps the newest, " +
      "unpublishes pointer before object, asOf resolves through pointers") {
    val work = java.nio.file.Files.createTempDirectory("graft_ptr_exp_")
    try {
      val root = work.toString
      val gens = Seq("db_2026_08_14_100000", "db_2026_08_15_100000",
        "db_2026_08_16_100000")
      gens.foreach(g => Snapshot.publishPointer(spark, payload(g), root, g))
      // time travel before expiry: mid-window cutoff resolves gen 2
      val asOf = java.time.Instant.parse("2026-08-15T18:00:00Z")
      val mid = Snapshot.readPointerAsOf(spark, root, "db", asOf)
      assert(mid.select("publisher").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("db_2026_08_15_100000"))
      val expired = Snapshot.expirePointer(spark, root, keep = 1)
      assert(expired == gens.take(2), expired.toString)
      assert(Snapshot.pointerGenerations(spark, root) == Seq(gens.last))
      // expired generations are fully gone: pointer AND object
      assert(Snapshot.resolvePointer(spark, root, gens.head).isEmpty)
      assert(objectDirs(root).size == 1)
      // the survivor still reads whole
      assert(Snapshot.readPointer(spark, root, gens.last).count() == 500)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("pointer retention: a resolve racing the sweep wins — pointer " +
      "and object both survive") {
    val work = java.nio.file.Files.createTempDirectory("graft_ptr_race_")
    try {
      val root = work.toString
      val gens = Seq("db_2026_08_14_100000", "db_2026_08_15_100000")
      gens.foreach(g => Snapshot.publishPointer(spark, payload(g), root, g))
      // the racing reader resolves the candidate from the sweep's own
      // onExpire hook: after it was ranked expirable, before the
      // re-check. The pause puts that resolve clearly after the sweep
      // started, beyond the filesystem's timestamp granularity.
      val expired = Snapshot.expirePointer(spark, root, keep = 1,
        onExpire = g => {
          Thread.sleep(50)
          Snapshot.resolvePointer(spark, root, g)
        })
      assert(expired.isEmpty, s"expiry must stand down: $expired")
      assert(Snapshot.pointerGenerations(spark, root) == gens)
      assert(objectDirs(root).size == 2, objectDirs(root).toString)
      assert(Snapshot.readPointer(spark, root, gens.head).count() == 500)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }
}
