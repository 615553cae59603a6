package graft

import java.nio.file.{Files, Paths}

/** Cross-process atomic publish (VERDICT r16 missing #3; pointer mode
  * r18): the single-JVM racing-publishers specs prove thread-level
  * atomicity, but production contention is two separate DRIVER
  * PROCESSES — no shared JVM locks, only the filesystem's commit
  * primitive on the shared store between them. This spec forks two
  * real JVMs ([[RacePublish]]) against the same generation, releases
  * them through a file barrier so both hit the commit together, and
  * checks the contract:
  *
  *  - exactly one exits 0 (won) and one exits 42 (lost with
  *    SnapshotExistsException) — never two winners, never two losers;
  *  - the published generation holds EXACTLY the winner's payload
  *    (uniform publisher tag matching the winning process);
  *  - the generation's manifest is present and row-accurate;
  *  - the loser's staging is cleaned up.
  *
  * Two commit protocols, two substrates:
  *  - rename commit ([[graft.engine.Snapshot.publishAtomic]]) on the
  *    local FS, whose rename IS atomic;
  *  - pointer commit ([[graft.engine.Snapshot.publishPointer]]) on the
  *    `objstore://` double, whose rename is a NON-ATOMIC copy — the
  *    exactly-one-winner property must come entirely from the atomic
  *    create-if-absent of the pointer file (S3 conditional-PUT model).
  */
class CrossProcessPublishSpec extends SparkSpec {

  private def forkRacer(
      mode: String, tag: String, ready: String, go: String,
      dest: Seq[String]): Process =
    ForkedJvm.start("graft.RacePublish", Seq(mode, tag, ready, go) ++ dest)

  /** Fork two racers, release them together, return (exitA, exitB). */
  private def race(
      work: java.nio.file.Path, mode: String,
      dest: Seq[String]): (Int, Int) = {
    val ready1 = s"$work/ready_a"
    val ready2 = s"$work/ready_b"
    val go = s"$work/go"
    val p1 = forkRacer(mode, "racer_a", ready1, go, dest)
    val p2 = forkRacer(mode, "racer_b", ready2, go, dest)
    // both racers staged and session-warm -> release them together
    val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    while ((!Files.exists(Paths.get(ready1)) ||
        !Files.exists(Paths.get(ready2)))
        && System.nanoTime() < deadline) Thread.sleep(50L)
    assert(Files.exists(Paths.get(ready1)) && Files.exists(Paths.get(ready2)),
      "racer JVMs did not reach the barrier in 180 s")
    Files.createFile(Paths.get(go))
    (p1.waitFor(), p2.waitFor())
  }

  test("two separate JVMs racing publishAtomic: one wins, one loses, " +
      "winner's data + manifest intact, loser's staging cleaned") {
    val work = Files.createTempDirectory("graft_xproc_publish_")
    try {
      val dest = s"$work/gen_42"
      val (c1, c2) = race(work, "classic", Seq(dest))
      assert(Set(c1, c2) == Set(0, 42),
        s"expected exactly one winner (0) and one loser (42), got $c1/$c2")
      val winnerTag = if (c1 == 0) "racer_a" else "racer_b"
      // winner's payload, whole and uniform
      val pub = spark.read.parquet(dest)
      assert(pub.count() == 500)
      val tags = pub.select("publisher").distinct()
        .collect().map(_.getString(0)).toSeq
      assert(tags == Seq(winnerTag),
        s"generation must hold exactly the winner's rows, got $tags")
      // manifest committed atomically with the data
      val mf = graft.engine.Snapshot.readManifest(spark, dest)
      assert(mf.exists(_.rowCount == 500L),
        s"manifest missing or wrong after cross-process publish: $mf")
      // loser's staging is gone
      val residue = Files.list(work).toArray.map(_.toString)
        .filter(_.contains(".__staging__"))
      assert(residue.isEmpty, s"staging residue: ${residue.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
  }

  test("two separate JVMs racing publishPointer on the no-atomic-rename " +
      "objstore double: one wins, one loses, winner's object uniform, " +
      "loser's object reclaimed") {
    val work = Files.createTempDirectory("graft_xproc_pointer_")
    graft.ObjectStoreFileSystem.install(
      spark.sparkContext.hadoopConfiguration)
    try {
      val root = s"objstore://$work/snaproot"
      val gen = "db_2026_08_16_120000"
      val (c1, c2) = race(work, "pointer", Seq(root, gen))
      assert(Set(c1, c2) == Set(0, 42),
        s"expected exactly one winner (0) and one loser (42), got $c1/$c2")
      val winnerTag = if (c1 == 0) "racer_a" else "racer_b"
      // the committed object holds exactly the winner's 500 rows
      val pub = graft.engine.Snapshot.readPointer(spark, root, gen)
      assert(pub.count() == 500)
      val tags = pub.select("publisher").distinct()
        .collect().map(_.getString(0)).toSeq
      assert(tags == Seq(winnerTag),
        s"generation must hold exactly the winner's rows, got $tags")
      val obj = graft.engine.Snapshot.resolvePointer(spark, root, gen).get
      val mf = graft.engine.Snapshot.readManifest(spark, obj)
      assert(mf.exists(_.rowCount == 500L),
        s"manifest missing or wrong after cross-process pointer publish: $mf")
      // the loser deleted its own staged object on the loss path — at
      // most the winner's object remains after a zero-grace GC
      val gced = graft.engine.Snapshot.gcOrphanObjects(spark, root, 0L)
      val objs = new java.io.File(s"$work/snaproot/_objects").listFiles()
      assert(objs != null && objs.length == 1,
        s"exactly the winner's object must remain, got " +
          s"${Option(objs).map(_.map(_.getName).toSeq)} (gc removed $gced)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
  }
}
