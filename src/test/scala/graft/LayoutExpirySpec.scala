package graft

import org.apache.spark.sql.functions._

/** Layout expiry under CONCURRENT USE (r15 — VERDICT r14 next #8): the
  * safety net for an `expire` racing an in-flight attach. Three pinned
  * guarantees, in order of line of defense:
  *
  *  1. attach-wins: a marker touched between the sweep's listing and
  *     the delete makes the delete STAND DOWN (the TOCTOU re-check in
  *     LayoutUse.expireRoot) — at worst the catalog entry is dropped,
  *     which the next attach re-creates over the intact files;
  *  2. loud-error: if the files ARE gone under a reader that resolved
  *     its listing before the delete, execution FAILS — never a
  *     silent empty result (rests on the session default
  *     `spark.sql.files.ignoreMissingFiles=false`, pinned here: that
  *     conf flipped to true converts this exact race into silently
  *     wrong answers engine-wide);
  *  3. attach-heals: a post-expiry attach of the same identity
  *     rebuilds the layout and answers correctly.
  */
class LayoutExpirySpec extends SparkSpec {

  private def withBucketRoot(f: java.nio.file.Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-exp")
    spark.conf.set(graft.engine.Bucketed.DirConf, dir.toString)
    try f(dir)
    finally {
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_bkt_"))
        .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
      spark.conf.unset(graft.engine.Bucketed.DirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("attach racing the sweep wins: a marker touched after the " +
      "listing makes the delete stand down") {
    val root = java.nio.file.Files.createTempDirectory("graft-race")
    try {
      // two layouts of one logical name; A is idle beyond any grace
      def mk(n: String): java.io.File = {
        val d = new java.io.File(root.toFile, n)
        assert(d.mkdirs())
        java.nio.file.Files.writeString(d.toPath.resolve("part-0.parquet"),
          "x")
        d
      }
      val a = mk("lay_old_aaaaaaaaaaaa")
      mk("lay_new_bbbbbbbbbbbb")
      val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
      assert(a.setLastModified(old))
      // the racing attach: touch A's use marker from the sweep's own
      // onDelete hook — i.e. AFTER the listing ranked A as idle
      // garbage, BEFORE the delete (the exact TOCTOU interleaving)
      val deleted = graft.engine.LayoutUse.expireRoot(
        spark, root.toString,
        n => Some(n.split("_")(1)).map(_ => "lay"), // one logical name
        keep = 1, minIdleMs = 24L * 3600 * 1000,
        onDelete = name =>
          graft.engine.LayoutUse.touch(spark, s"$root/$name"))
      assert(deleted.isEmpty,
        s"delete must stand down for a just-touched layout: $deleted")
      assert(a.exists(), "the raced layout's files must survive")
      // same sweep WITHOUT the racing touch reclaims it
      val deleted2 = graft.engine.LayoutUse.expireRoot(
        spark, root.toString,
        n => Some("lay"), keep = 1, minIdleMs = 24L * 3600 * 1000,
        onDelete = _ => ())
      // the touch above renewed A's marker, so it is no longer idle —
      // force idleness again to prove the stand-down was the touch,
      // not an accident of ranking
      if (deleted2.isEmpty) {
        val marker = new java.io.File(a, graft.engine.LayoutUse.LastUsedFile)
        assert(marker.setLastModified(old))
        assert(a.setLastModified(old))
        val deleted3 = graft.engine.LayoutUse.expireRoot(
          spark, root.toString,
          n => Some("lay"), keep = 1, minIdleMs = 24L * 3600 * 1000,
          onDelete = _ => ())
        assert(deleted3 == Seq("lay_old_aaaaaaaaaaaa"))
      }
      assert(!a.exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("attach racing a graceless sweep wins: the idle horizon is fixed " +
      "when the sweep starts") {
    val root = java.nio.file.Files.createTempDirectory("graft-race0")
    try {
      def mk(n: String): java.io.File = {
        val d = new java.io.File(root.toFile, n)
        assert(d.mkdirs())
        java.nio.file.Files.writeString(d.toPath.resolve("part-0.parquet"), "x")
        d
      }
      val a = mk("lay_old_aaaaaaaaaaaa")
      mk("lay_new_bbbbbbbbbbbb")
      assert(a.setLastModified(
        System.currentTimeMillis() - 30L * 24 * 3600 * 1000))
      // At minIdleMs = 0 only a use after the sweep started protects a
      // layout. The pause puts the racing attach clearly after the
      // sweep's start, beyond the filesystem's timestamp granularity.
      val deleted = graft.engine.LayoutUse.expireRoot(
        spark, root.toString, _ => Some("lay"),
        keep = 1, minIdleMs = 0,
        onDelete = name => {
          Thread.sleep(50)
          graft.engine.LayoutUse.touch(spark, s"$root/$name")
        })
      assert(deleted.isEmpty,
        s"delete must stand down for a layout attached mid-sweep: $deleted")
      assert(a.exists(), "the raced layout's files must survive")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("reader over an expired layout fails LOUDLY, never silently " +
      "empty; the next attach heals") {
    withBucketRoot { root =>
      // the conf the loud-failure guarantee rests on: missing files
      // must fail the scan, not vanish from it
      assert(spark.conf.get("spark.sql.files.ignoreMissingFiles",
        "false") == "false",
        "ignoreMissingFiles must stay false: flipping it converts an " +
          "expiry race into silently wrong (empty) results")
      val srcDir = java.nio.file.Files.createTempDirectory("graft-exp-src")
      try {
        val srcPath = s"$srcDir/t"
        spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v")
          .write.parquet(srcPath)
        def src = spark.read.parquet(srcPath)
        // in-flight reader: attached BEFORE the expiry
        val attached = graft.engine.Bucketed
          .table(spark, srcDir.toString, "race", src, "k")
        assert(attached.count() == 2000)
        // source mutates in place → new identity; the old layout is
        // now abandoned and a graceless sweep reclaims it
        spark.range(0, 2000).selectExpr("id AS k", "id * 3 AS v")
          .write.mode("overwrite").parquet(srcPath)
        graft.engine.Bucketed
          .table(spark, srcDir.toString, "race", src, "k").count()
        val deleted = graft.engine.Bucketed.expire(spark, keep = 1,
          minIdleMs = 0)
        assert(deleted.size == 1, s"expected one reclaim, got $deleted")
        // the in-flight reader's next action must FAIL (its files are
        // gone) — a silent 0-row result here is the disaster case
        val e = intercept[Exception] {
          val n = attached.count()
          assert(n != 0L,
            "expired layout returned silently EMPTY instead of failing")
          n
        }
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.toString).mkString(" | ")
        assert(chain.contains("FileNotFound")
          || chain.contains("does not exist")
          || chain.contains("TABLE_OR_VIEW_NOT_FOUND")
          || chain.contains("FILE_NOT_EXIST"),
          s"failure must name the vanished layout, got: $chain")
        // attach-heals: the same identity rebuilds and answers
        val healed = graft.engine.Bucketed
          .table(spark, srcDir.toString, "race", src, "k")
        assert(healed.agg(sum(col("v"))).head().getLong(0) == 1999L * 3000)
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(srcDir.toFile)
    }
  }
}
