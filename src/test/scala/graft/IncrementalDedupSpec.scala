package graft

import graft.queries.IncrementalDedup
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class IncrementalDedupSpec extends SparkSpec {

  /** Today's batch gram view — the shape buildIndex emits. */
  private def batchView = engine.Tables.documents(spark, sf)
    .where(col("doc_id") % 10 === 0)
    .select(col("doc_id"),
      graft.functions.GramHashes(spark, col("text"), 5).as("bg"))
    .where(size(col("bg")) > 0)
    .select(col("doc_id"), size(col("bg")).cast("long").as("n"), col("bg"))

  test("persisted gram index: load == inline; probe reads the artifact") {
    // r11 (VERDICT r10 missing #1): the incremental near-dup must probe
    // a publish-once postings index, never recompute the base corpus.
    // Claims, each observable (the PqSpec C110 pattern):
    //  1. with the index published, the query returns exactly the
    //     inline-built result (bit-identical rows);
    //  2. the index is one manifest-carrying generation of gram arrays;
    //     no postings table is stored (postings derive at read time);
    //  3. query time READS the artifact: planting an index with one
    //     base doc removed deletes exactly that doc's pairs — impossible
    //     if the query rebuilt the index from the corpus;
    //  4. a torn generation (manifest stripped) fails loudly.
    val inline = q("q_dedup_incremental_near").collect().toSeq
    assert(inline.nonEmpty, "fixture must produce incremental pairs")
    // the fixture has both pair classes — batch x base and batch x batch
    def isBatch(id: Long) = id % 10 == 0
    assert(inline.exists(r => isBatch(r.getLong(0)) != isBatch(r.getLong(1))),
      "need a batch x base pair")
    assert(inline.exists(r => isBatch(r.getLong(0)) && isBatch(r.getLong(1))),
      "need a batch x batch pair")

    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      val first = q("q_dedup_incremental_near").collect().toSeq
      assert(first == inline, "publish-first invocation changed results")
      assert(java.nio.file.Files.exists(dir.resolve("ngram_docs")
        .resolve("gen_base").resolve("_graft_manifest.json")),
        "ngram_docs/gen_base must be a manifest-carrying generation")
      assert(!java.nio.file.Files.exists(dir.resolve("ngram_postings")),
        "postings are derived from ngram_docs, never stored")
      // second invocation loads (no rebuild) and is identical
      assert(q("q_dedup_incremental_near").collect().toSeq == inline)

      // 3: plant an index missing one base doc that has a pair — its
      // pairs must vanish from the output
      val crossPair = inline.find(r =>
        isBatch(r.getLong(0)) != isBatch(r.getLong(1))).get
      val victim =
        if (isBatch(crossPair.getLong(0))) crossPair.getLong(1)
        else crossPair.getLong(0)
      val (docs, _) = IncrementalDedup.buildIndex(spark, sf)
      val dir2 = java.nio.file.Files.createTempDirectory("graft-gramidx2")
      try {
        graft.engine.Snapshot.publishAtomic(spark,
          docs.where(col("doc_id") =!= victim), s"$dir2/ngram_docs/gen_base")
        spark.conf.set(IncrementalDedup.IndexDirConf, dir2.toString)
        val planted = q("q_dedup_incremental_near").collect().toSeq
        assert(planted.forall(r =>
          r.getLong(0) != victim && r.getLong(1) != victim),
          s"doc $victim was removed from the index but still pairs — " +
            "the query rebuilt from the corpus instead of reading")
        assert(planted ==
          inline.filterNot(r =>
            r.getLong(0) == victim || r.getLong(1) == victim),
          "only the victim's pairs may differ")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(dir2.toFile)
      }

      // 4: torn generation — manifest stripped — must fail loudly
      val dir3 = java.nio.file.Files.createTempDirectory("graft-gramidx3")
      try {
        graft.engine.Snapshot.publishAtomic(spark, docs,
          s"$dir3/ngram_docs/gen_base")
        java.nio.file.Files.delete(java.nio.file.Paths.get(
          s"$dir3/ngram_docs/gen_base/_graft_manifest.json"))
        spark.conf.set(IncrementalDedup.IndexDirConf, dir3.toString)
        val e = intercept[IllegalArgumentException] {
          q("q_dedup_incremental_near").collect()
        }
        assert(e.getMessage.contains("manifest"))
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(dir3.toFile)
      }
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("advanceIndex folds a batch as a delta generation, exactly once") {
    // the daily maintenance step: probe today, fold tonight — the fold
    // publishes ONLY the batch's rows (a new gen_<label> dir), and the
    // reader unions generations, so tomorrow's index covers base+today
    // without rewriting yesterday's postings
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-adv")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      // first use publishes gen_base (base corpus only)
      q("q_dedup_incremental_near").collect()
      val batch = batchView
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1", batch)
      // the same label folds exactly once (retry-safe no-op)
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1", batch)
      assert(java.nio.file.Files.exists(
        dir.resolve("ngram_docs").resolve("gen_day1")
          .resolve("_graft_manifest.json")))
      // the unioned index now equals a from-scratch index over the
      // WHOLE corpus: every doc exactly once
      val (idxDocs, idxPost) = IncrementalDedup.indexFor(spark, sf)
      val expectDocs = engine.Tables.documents(spark, sf)
        .select(col("doc_id"),
          graft.functions.GramHashes(spark, col("text"), 5).as("bg"))
        .where(size(col("bg")) > 0)
      assert(idxDocs.count() == expectDocs.count(), "every doc exactly once")
      assert(idxDocs.select("doc_id").distinct().count() == idxDocs.count(),
        "no doc folded twice")
      assert(idxPost.count() ==
        expectDocs.select(explode(col("bg"))).count())
      // reserved/unsafe labels refuse loudly
      intercept[IllegalArgumentException] {
        IncrementalDedup.advanceIndex(spark, dir.toString, "base", batch)
      }
      intercept[IllegalArgumentException] {
        IncrementalDedup.advanceIndex(spark, dir.toString, "../evil", batch)
      }
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("compaction folds live generations without changing any reader result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-cmp")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      val baseline = q("q_dedup_incremental_near").collect().toSeq // gen_base
      // two delta folds: half of the batch docs each, disjoint
      val batch = batchView
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1",
        batch.where(col("doc_id") % 20 === 0))
      IncrementalDedup.advanceIndex(spark, dir.toString, "day2",
        batch.where(col("doc_id") % 20 =!= 0))
      val (d3, p3) = IncrementalDedup.indexFor(spark, sf)
      val (docsBefore, postsBefore) = (d3.count(), p3.count())
      val advanced = q("q_dedup_incremental_near").collect().toSeq

      IncrementalDedup.compactIndex(spark, dir.toString)
      // one live compacted gen replaces the three inputs; dirs remain
      // until pruned, and the reader subtracts them
      val (d4, p4) = IncrementalDedup.indexFor(spark, sf)
      assert(d4.count() == docsBefore && p4.count() == postsBefore,
        "compaction changed index content")
      assert(q("q_dedup_incremental_near").collect().toSeq == advanced,
        "compaction changed query results")
      // a compaction publisher killed after its verified stage leaves a
      // manifest-carrying staging copy of the compacted generation with
      // no _replaces.json yet; serving it beside the generations it
      // copied would count every row twice
      val docsDir = dir.resolve("ngram_docs")
      val compacted = docsDir.toFile.list().filter(_.startsWith("gen_zcompact-")).head
      val crashed = docsDir.resolve(s"$compacted.__staging__deadbeef")
      org.apache.commons.io.FileUtils.copyDirectory(
        docsDir.resolve(compacted).toFile, crashed.toFile)
      java.nio.file.Files.delete(crashed.resolve("_replaces.json"))
      val (d5, p5) = IncrementalDedup.indexFor(spark, sf)
      assert(d5.count() == docsBefore && p5.count() == postsBefore,
        "a crashed compaction's staging dir was served as a generation")
      assert(q("q_dedup_incremental_near").collect().toSeq == advanced,
        "a crashed compaction's staging dir changed query results")
      assert(!java.nio.file.Files.exists(dir.resolve("_commits")),
        "a generation's rename is its commit; no marker is written")
      // compaction is retry-safe: same live set → publish-once no-op
      IncrementalDedup.compactIndex(spark, dir.toString)
      assert(IncrementalDedup.indexFor(spark, sf)._1.count() == docsBefore)

      // prune deletes the superseded dirs; results still identical
      IncrementalDedup.pruneIndex(spark, dir.toString)
      assert(!java.nio.file.Files.exists(
        dir.resolve("ngram_docs").resolve("gen_base")),
        "prune must delete superseded generations")
      assert(q("q_dedup_incremental_near").collect().toSeq == advanced,
        "prune changed query results")
      // folding the PROBED batch into the index must not change the
      // probe at all: the query treats the batch as authoritative for
      // its doc_ids and excludes their index copies — without that, a
      // post-fold run double-joins every batch doc and emits
      // duplicated pair rows (r11 review finding)
      assert(advanced == baseline,
        "post-fold probe diverged from pre-fold (duplicate join paths?)")
      val ids = advanced.map(r => (r.getLong(0), r.getLong(1)))
      assert(ids.distinct.size == ids.size, "duplicated pair rows")
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a fold is one rename: a generation published directly is served once") {
    // A fold is one publishAtomic of ngram_docs/gen_<label>, so that
    // rename is its only visibility event: no second table exists whose
    // absence could tear it. Doing exactly the fold's one rename by hand
    // must serve the batch in full, postings included, and the label's
    // retry must publish nothing more.
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-tear")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      val baseline = q("q_dedup_incremental_near").collect().toSeq // base
      val docsRoot = s"$dir/ngram_docs"
      assert(IncrementalDedup.liveGens(spark, docsRoot).size == 1)
      val (d0, p0) = IncrementalDedup.indexFor(spark, sf)
      val (docsCount0, postsCount0) = (d0.count(), p0.count())
      val batch = batchView

      graft.engine.Snapshot.publishAtomic(spark, batch, s"$docsRoot/gen_day1")
      assert(IncrementalDedup.liveGens(spark, docsRoot).size == 2,
        "the renamed generation must be live")
      val (d1, p1) = IncrementalDedup.indexFor(spark, sf)
      val (docsCount1, postsCount1) = (d1.count(), p1.count())
      assert(docsCount1 == docsCount0 + batch.count(),
        "docs must grow by the batch's rows")
      assert(postsCount1 ==
        postsCount0 + batch.select(explode(col("bg"))).count(),
        "postings must grow by the batch's exploded grams")
      // the probe treats the batch as authoritative for its doc_ids
      assert(q("q_dedup_incremental_near").collect().toSeq == baseline)

      // the label's retry is a no-op: no dir, no rows, no marker
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1", batch)
      assert(dir.resolve("ngram_docs").toFile.list().sorted.toSeq ==
        Seq("gen_base", "gen_day1"), "the retry published a generation")
      val (d2, p2) = IncrementalDedup.indexFor(spark, sf)
      assert(d2.count() == docsCount1 && p2.count() == postsCount1,
        "the retry changed what indexFor serves")
      assert(dir.toFile.list().sorted.toSeq ==
        Seq("_source.json", "ngram_docs"),
        "the index dir holds one table and the source record")
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("an index layout with stored postings and commit markers loads") {
    // Index dirs written before postings were derived also hold an
    // ngram_postings/gen_<label> beside each docs generation and one
    // _commits/<label> marker per fold. The reader takes every docs
    // generation as whole, including a fold whose postings half never
    // landed, and never reads, lists or deletes the other entries.
    val inline = q("q_dedup_incremental_near").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-leg")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      q("q_dedup_incremental_near").collect() // publishes gen_base
      val batch = batchView
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1",
        batch.where(col("doc_id") % 20 === 0))
      for (label <- Seq("base", "day1")) {
        val gen = spark.read.parquet(s"$dir/ngram_docs/gen_$label")
        graft.engine.Snapshot.publishAtomic(spark,
          gen.select(explode(col("bg")).as("g"), col("doc_id"), col("n")),
          s"$dir/ngram_postings/gen_$label")
        java.nio.file.Files.createDirectories(dir.resolve("_commits"))
        java.nio.file.Files.createFile(dir.resolve("_commits").resolve(label))
      }
      // a fold torn in that layout: docs down, no postings, no marker
      val day2 = batch.where(col("doc_id") % 20 =!= 0)
      graft.engine.Snapshot.publishAtomic(spark, day2,
        s"$dir/ngram_docs/gen_day2")

      val (idxDocs, idxPost) = IncrementalDedup.indexFor(spark, sf)
      val expectDocs = engine.Tables.documents(spark, sf)
        .select(col("doc_id"),
          graft.functions.GramHashes(spark, col("text"), 5).as("bg"))
        .where(size(col("bg")) > 0)
      assert(idxDocs.count() == expectDocs.count(),
        "every docs generation must be served, the torn fold included")
      assert(idxPost.count() == expectDocs.select(explode(col("bg"))).count())
      assert(idxPost.inputFiles.forall(!_.contains("ngram_postings")),
        "stored postings must not be read")
      assert(q("q_dedup_incremental_near").collect().toSeq == inline,
        "results must equal the inline run's")
      // the torn fold's retry is a no-op
      IncrementalDedup.advanceIndex(spark, dir.toString, "day2", day2)
      assert(IncrementalDedup.indexFor(spark, sf)._1.count() ==
        expectDocs.count())
      // and the other layout's entries are left as they were
      assert(dir.resolve("ngram_postings").toFile.list().sorted.toSeq ==
        Seq("gen_base", "gen_day1"))
      assert(dir.resolve("_commits").toFile.list().sorted.toSeq ==
        Seq("base", "day1"))
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a folded label stays spent after compact + prune") {
    // A compaction's _replaces.json names every label folded into it,
    // its inputs' own lists included, so a label compacted away stays
    // named by the live generation after prune deletes its dir and
    // any intermediate compaction. Re-folding it must publish nothing:
    // its rows are already in the compacted generation.
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-prn")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      val baseline = q("q_dedup_incremental_near").collect().toSeq
      val batch = batchView
      val (day1, day2) = (batch.where(col("doc_id") % 20 === 0),
        batch.where(col("doc_id") % 20 =!= 0))
      val gens = dir.resolve("ngram_docs")
      def counts() = {
        val (d, p) = IncrementalDedup.indexFor(spark, sf)
        (d.count(), p.count())
      }
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1", day1)
      IncrementalDedup.compactIndex(spark, dir.toString)
      IncrementalDedup.pruneIndex(spark, dir.toString)
      assert(!java.nio.file.Files.exists(gens.resolve("gen_day1")),
        "prune must delete the folded generation")
      val live = IncrementalDedup.liveGens(spark, s"$dir/ngram_docs")
      assert(live.size == 1 && live.head.contains("zcompact-"))
      val c1 = counts()

      IncrementalDedup.advanceIndex(spark, dir.toString, "day1", day1)
      assert(!java.nio.file.Files.exists(gens.resolve("gen_day1")),
        "a spent label published a generation")
      assert(counts() == c1, "a spent label changed what indexFor serves")

      // a second compaction replaces the first, and prune deletes it:
      // day1 must still be spent
      IncrementalDedup.advanceIndex(spark, dir.toString, "day2", day2)
      IncrementalDedup.compactIndex(spark, dir.toString)
      IncrementalDedup.pruneIndex(spark, dir.toString)
      assert(gens.toFile.list().count(_.startsWith("gen_")) == 1,
        "prune must leave one generation")
      val c2 = counts()
      for (label <- Seq("day1", "day2"))
        IncrementalDedup.advanceIndex(spark, dir.toString, label,
          if (label == "day1") day1 else day2)
      assert(gens.toFile.list().count(_.startsWith("gen_")) == 1,
        "a spent label published a generation after a second compaction")
      assert(counts() == c2)
      assert(q("q_dedup_incremental_near").collect().toSeq == baseline)
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("auto-compaction: a fold crossing the threshold compacts exactly " +
      "once, including under retry") {
    // VERDICT r13 next #6: the r13 curve shows first-pass planning cost
    // growing with generation count; the policy trigger was manual.
    // Conf-gated: advanceIndex compacts when the live-gen count reaches
    // the threshold; the digest-named publish-once target plus the
    // post-compact count of 1 make retries no-ops.
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-ac")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      spark.conf.set(IncrementalDedup.AutoCompactConf, "3")
      val baseline = q("q_dedup_incremental_near").collect().toSeq
      val batch = batchView
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1",
        batch.where(col("doc_id") % 20 === 0)) // 2 gens < 3: no compact
      assert(IncrementalDedup.liveGens(spark, s"$dir/ngram_docs").size == 2,
        "below threshold must not compact")
      IncrementalDedup.advanceIndex(spark, dir.toString, "day2",
        batch.where(col("doc_id") % 20 =!= 0)) // 3 gens = threshold
      val live = IncrementalDedup.liveGens(spark, s"$dir/ngram_docs")
      assert(live.size == 1 && live.head.contains("zcompact-"),
        "crossing the threshold must compact to one live generation")
      def zcompactDirs() =
        dir.resolve("ngram_docs").toFile.list()
          .count(_.startsWith("gen_zcompact-"))
      assert(zcompactDirs() == 1)
      // retry of the same fold: publishes no-op, no second compaction
      IncrementalDedup.advanceIndex(spark, dir.toString, "day2",
        batch.where(col("doc_id") % 20 =!= 0))
      assert(zcompactDirs() == 1, "retry must not re-compact")
      assert(IncrementalDedup.liveGens(spark, s"$dir/ngram_docs").size == 1)
      // the probe result is unchanged through the whole lifecycle
      assert(q("q_dedup_incremental_near").collect().toSeq == baseline)
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      spark.conf.unset(IncrementalDedup.AutoCompactConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("bucketed postings co-locate the candidate join: bit-identical results, " +
      "zero-exchange index side under the no-broadcast regime") {
    // SCALE.md r11 claimed "a cluster deployment buckets the postings
    // by g so the candidate join co-locates without re-sharding the
    // index"; this proves it locally (r11 verdict task #5). The
    // regime that matters is a batch too big to broadcast (the 100 TB
    // default): broadcast thresholds off, key semi-filter off — the
    // plain probe then shuffles the corpus-scale postings on g, while
    // the bucketed copy's scan already satisfies the join's
    // distribution and only the batch side exchanges.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    def collectAll[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] =
      (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++
        unwrap(p).flatMap(collectAll(_)(f))
    def withConf[A](kvs: (String, String)*)(body: => A): A = {
      val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-bkt")
    val bktRoot = java.nio.file.Files.createTempDirectory("graft-bkt-post")
    try {
      withConf(
        IncrementalDedup.IndexDirConf -> dir.toString,
        graft.engine.Bucketed.DirConf -> bktRoot.toString) {
        val plain = q("q_dedup_incremental_near").collect().toSeq
        val bucketed = withConf(
          IncrementalDedup.BucketPostingsConf -> "true") {
          q("q_dedup_incremental_near").collect().toSeq
        }
        assert(bucketed == plain,
          "bucketed-postings probe diverged from the plain probe")
        // plan pin under the no-broadcast regime
        withConf(
          IncrementalDedup.BucketPostingsConf -> "true",
          IncrementalDedup.ProbeKeyBroadcastConf -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val df = q("q_dedup_incremental_near")
          df.collect()
          val plan = df.queryExecution.executedPlan
          val joins = collectAll(plan) {
            case j: SortMergeJoinExec => (j: SparkPlan)
            case j: ShuffledHashJoinExec => (j: SparkPlan)
          }
          // the candidate join whose one side reads the bucketed copy
          // DIRECTLY (higher joins contain the bucketed scan
          // transitively, along with the probe's own exchanges — only
          // the lowest join is the co-location claim)
          val idxJoins = joins.filter(j => unwrap(j).exists(side =>
            collectAll(side) { case f: FileSourceScanExec => f }
              .exists(_.bucketedScan) &&
              collectAll(side) {
                case x: SortMergeJoinExec => (x: SparkPlan)
                case x: ShuffledHashJoinExec => (x: SparkPlan)
              }.isEmpty))
          assert(idxJoins.nonEmpty,
            s"no shuffle-family join reads the bucketed postings:\n$plan")
          idxJoins.foreach { j =>
            val sides = unwrap(j)
            val (idxSide, batchSide) = sides.partition(side =>
              collectAll(side) { case f: FileSourceScanExec => f }
                .exists(_.bucketedScan))
            assert(idxSide.forall(side =>
              collectAll(side) { case e: ShuffleExchangeExec => e }.isEmpty),
              s"index side of the candidate join still shuffles:\n$j")
            assert(batchSide.exists(side =>
              collectAll(side) { case e: ShuffleExchangeExec => e }.nonEmpty),
              s"expected the batch side to exchange to the bucket count:\n$j")
          }
        }
      }
    } finally {
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_bkt_"))
        .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(bktRoot.toFile)
    }
  }

  test("a recorded index input mutated in place fails loudly, never serves stale") {
    // r12 verdict wrong #2, applied with this artifact's lifecycle: the
    // gram index is MAINTAINED (advanceIndex folds batches), so source
    // changes are expected as NEW files — but a recorded input mutated
    // in place means already-indexed grams no longer describe the
    // corpus. That must be an error, not a silent stale serve (and not
    // an auto-rebuild, which would discard folded generations).
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-docsrc")
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-src")
    try {
      // the sf0.001 fixture table is a single parquet file
      org.apache.commons.io.FileUtils.copyFile(
        new java.io.File(s"$sf/documents.parquet"),
        new java.io.File(s"$srcRoot/documents.parquet"))
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      // first use publishes base and records the source inputs
      IncrementalDedup.indexFor(spark, srcRoot.toString)._1.count()
      assert(java.nio.file.Files.exists(dir.resolve("_source.json")),
        "base publish must record its source inputs")
      // untouched source: loads fine
      IncrementalDedup.indexFor(spark, srcRoot.toString)._1.count()
      // mutate the recorded input IN PLACE (append a byte: same path,
      // new length/mtime)
      val part = srcRoot.resolve("documents.parquet")
      java.nio.file.Files.write(part, Array[Byte](0),
        java.nio.file.StandardOpenOption.APPEND)
      val e = intercept[IllegalStateException] {
        IncrementalDedup.indexFor(spark, srcRoot.toString)
      }
      assert(e.getMessage.contains("mutated in place"), e.getMessage)
      // deleting a recorded input is the same staleness class
      java.nio.file.Files.delete(part)
      val e2 = intercept[IllegalStateException] {
        IncrementalDedup.indexFor(spark, srcRoot.toString)
      }
      assert(e2.getMessage.contains("deleted"), e2.getMessage)
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(srcRoot.toFile)
    }
  }

  test("batch prefix probe is exact: pairs match a brute-force batch check") {
    // independent truth: brute-force jaccard over (batch x all) pairs
    // via the same gram kernel, no prefix filter, no index machinery
    val grams = engine.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.GramHashes(spark, col("text"), 5).as("bg"))
      .where(size(col("bg")) > 0)
    val a = grams.select(col("doc_id").as("a_id"), col("bg").as("a_bg"))
    val b = grams.select(col("doc_id").as("b_id"), col("bg").as("b_bg"))
    val brute = a.crossJoin(b)
      .where(col("a_id") < col("b_id") &&
        (col("a_id") % 10 === 0 || col("b_id") % 10 === 0))
      .select(col("a_id"), col("b_id"),
        graft.functions.SortedIntersectCount(
          spark, col("a_bg"), col("b_bg")).as("c"),
        size(col("a_bg")).cast("long").as("na"),
        size(col("b_bg")).cast("long").as("nb"))
      .withColumn("j",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .where(col("j") >= 0.8)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = q("q_dedup_incremental_near")
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("loading a folded index lists each table root once and the commit " +
      "markers at most once per table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gramidx-list")
    try {
      spark.conf.set(IncrementalDedup.IndexDirConf, dir.toString)
      IncrementalDedup.indexFor(spark, sf)
      val batch = batchView
      IncrementalDedup.advanceIndex(spark, dir.toString, "day1", batch)
      CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
      spark.conf.set(IncrementalDedup.IndexDirConf,
        s"${CountingFileSystem.Scheme}://$dir")
      CountingFileSystem.listings.clear()
      val (idxDocs, idxPost) = IncrementalDedup.indexFor(spark, sf)
      val listed = CountingFileSystem.listings.asScala.toMap
        .map { case (name, n) => name -> n.get() }
      assert(listed.get("ngram_docs").contains(1),
        s"the one table root must be listed once: $listed")
      assert(!listed.contains("ngram_postings") && !listed.contains("_commits"),
        s"no postings table or commit markers are listed: $listed")
      assert(idxDocs.inputFiles.nonEmpty && idxPost.inputFiles.nonEmpty)
    } finally {
      spark.conf.unset(IncrementalDedup.IndexDirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}

/** Local-disk filesystem under scheme `countfs` that counts
  * `listStatus` calls by the listed directory's name. */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = CountingFileSystem.Scheme
  override def getUri: java.net.URI = CountingFileSystem.NameUri
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFileSystem.listings.computeIfAbsent(f.getName,
      _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"
  val NameUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  val listings = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]

  def install(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
}
