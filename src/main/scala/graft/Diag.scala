package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{DedupOps, IncrementalDedup}

/** The engine's measurement toolbox — ONE ad-hoc diagnostic main (not
  * part of the driver contract), consolidated r15 from the nine
  * per-investigation `Diag*` objects that had accumulated since r7
  * (VERDICT r14 next #7). SCALE.md's methodology references name the
  * modes; a retired mode (semantic, textscan, incr) lives on as its
  * SCALE.md record.
  *
  *   runMain graft.Diag ngram       [sfDir] [t]
  *     candidate-pair volume per stage of the ngram prefix filter +
  *     sampled jaccard deciles (attributes candidate-gen vs re-score)
  *   runMain graft.Diag ngramstages <sfDir> [t] [sym|con|both]
  *     per-stage ROW COUNTS of the ngram candidate machinery (each
  *     stage counted in its own job: volumes, not wall artifacts)
  *   runMain graft.Diag compact     <sfDir> [nBatches] [indexDir]
  *     compaction-under-load: probe latency vs live generation count,
  *     before/after compactIndex + pruneIndex
  *   runMain graft.Diag fuzzy       [sizes...]
  *     FastSS hot-block scaling (doubling ratio; quadratic reads 4×)
  *   runMain graft.Diag skew        [sfDir] [hotPct] [iters]
  *     AQE-skew-split vs manual-salt vs unmitigated A/B with the
  *     skew=true honesty flag
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val rest = args.drop(1)
    mode match {
      case "ngram" => ngram(rest)
      case "ngramstages" => ngramStages(rest)
      case "compact" => compact(rest)
      case "fuzzy" => fuzzy(rest)
      case "skew" => skew(rest)
      case "qprofile" => qprofile(rest)
      case other => sys.error(
        s"unknown Diag mode '$other' — one of: ngram " +
          "ngramstages compact fuzzy skew qprofile " +
          "(see scaladoc)")
    }
  }

  /** Candidate-pair volume per prefix-filter stage (ex-Diag, r7). */
  private def ngram(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/repo/testdata-sf1"
    val t = if (args.length > 1) args(1).toDouble else 0.4
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-diag")
    val grams = queries.DedupOps.ngramGrams(spark, sfDir).cache()
    println(s"docs: ${grams.count()}")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // Count the candidate STREAM (no cache — the arrays it carries OOM
    // the block store at sf1/t=0.4), then the scored pipeline.
    timed(s"rawPairs(t=$t) count") {
      println("candidates: " + queries.DedupOps
        .ngramRawPairs(spark, grams, 512, t, symmetric = true)
        .select("a_id").count())
    }
    timed("score+filter") {
      println("pairs: " + queries.DedupOps.ngramPairs(spark, grams, 512, t)
        .count())
    }
    // Overlap distribution of a 1/64 hash-sample of the surviving
    // candidates: how close does the candidate mass come to the
    // threshold?  Decides whether a cheap exact upper bound (bucketed
    // histogram min-sum) would prune it before arrays ship.
    timed("sampled candidate jaccard deciles") {
      val scored = queries.DedupOps
        .ngramRawPairs(spark, grams, 512, t, symmetric = true)
        .where(pmod(xxhash64(col("a_id"), col("b_id")), lit(64)) === 0)
        .select(
          graft.functions.SortedIntersectCount(spark,
            col("a_bg"), col("b_bg")).cast("double").as("c"),
          size(col("a_bg")).cast("double").as("na"),
          size(col("b_bg")).cast("double").as("nb"))
        .select((col("c") / (col("na") + col("nb") - col("c"))).as("j"),
          col("na"), col("nb"))
      scored.select(
        count(lit(1)).as("n"),
        avg(col("na")).as("avg_n"),
        expr("percentile_approx(j, array(0.1,0.25,0.5,0.75,0.9,0.99), 10000)")
          .as("j_deciles")).show(false)
    }
    grams.unpersist()
    spark.stop()
  }

  /** Per-stage row counts for the ngram candidate machinery
    * (ex-Diag3, r7 — attributes superlinear growth to a stage). */
  private def ngramStages(args: Array[String]): Unit = {
    val sfDir = args(0)
    val t = if (args.length > 1) args(1).toDouble else 0.8
    val mode = if (args.length > 2) args(2) else "both"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-diag3")
    val grams = queries.DedupOps.ngramGrams(spark, sfDir).cache()
    println(s"docs: ${grams.count()}  sf=$sfDir  t=$t")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  [$label] ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val probe: (String, DataFrame) => Unit = (stage, df) =>
      counts(stage) = timed(s"count $stage")(df.count())
    if (mode == "sym" || mode == "both") {
      counts.clear()
      timed("SYMMETRIC end-to-end (probed)") {
        val n = queries.DedupOps
          .ngramRawPairs(spark, grams, 512, t, symmetric = true, probe)
          .count()
        counts("raw_pairs_out") = n
      }
      counts.foreach { case (k, v) => println(f"  sym  $k%-16s $v%12d") }
      timed("SYMMETRIC steady (no probe)") {
        queries.DedupOps
          .ngramRawPairs(spark, grams, 512, t, symmetric = true).count()
      }
    }
    if (mode == "con" || mode == "both") {
      counts.clear()
      timed("CONTAINMENT end-to-end (probed)") {
        val n = queries.DedupOps
          .ngramRawPairs(spark, grams, 512, t, symmetric = false, probe)
          .count()
        counts("raw_pairs_out") = n
      }
      counts.foreach { case (k, v) => println(f"  con  $k%-16s $v%12d") }
    }
    spark.stop()
  }

  /** Compaction-under-load probe (ex-DiagCompact, r11 task #6):
    * steady probe latency vs live generation count, before/after
    * compactIndex + pruneIndex. Results are invariant across every
    * fold/compact/prune step by construction (the probe treats the
    * batch as authoritative); only the index-scan cost varies —
    * exactly the variable under measurement. */
  private def compact(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 20
    val idxDir =
      if (args.length > 2) args(2)
      else java.nio.file.Files
        .createTempDirectory("graft_diagcompact_").toString
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-diagcompact")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(IncrementalDedup.IndexDirConf, idxDir)

    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      Bench.materialize(
        SparkEntry.queries("q_dedup_incremental_near")(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    def gensLive: Int =
      IncrementalDedup.liveGens(spark, s"$idxDir/ngram_docs").size
    def steady(label: String): Unit = {
      val warm = probeOnce()
      val t = probeOnce()
      println(f"[diagcompact] $label gens=$gensLive probe=$t%.2f s " +
        f"(warm pass $warm%.2f)")
    }

    val batchAll = DedupOps.ngramGrams(spark, sfDir)
      .where(col("doc_id") % IncrementalDedup.BatchMod === 0)
      .where(size(col("bg")) > 0)
      .select(col("doc_id"), size(col("bg")).cast("long").as("n"),
        col("bg"))

    steady("base-only") // first pass publishes gen_base
    (1 to nBatches).foreach { i =>
      val slice = batchAll.where(
        expr(s"(doc_id div ${IncrementalDedup.BatchMod}) % $nBatches")
          === (i - 1))
      val tf = System.nanoTime()
      IncrementalDedup.advanceIndex(spark, idxDir, f"day$i%02d", slice)
      println(f"[diagcompact] fold day$i%02d: ${
        (System.nanoTime() - tf) / 1e9}%.1f s")
      if (i == 1 || i % 5 == 0) steady(s"after-fold-$i")
    }
    val tc = System.nanoTime()
    IncrementalDedup.compactIndex(spark, idxDir)
    println(f"[diagcompact] compact: ${(System.nanoTime() - tc) / 1e9}%.1f s")
    steady("post-compact")
    IncrementalDedup.pruneIndex(spark, idxDir)
    steady("post-prune")
    spark.stop()
  }

  /** FastSS hot-block scaling probe (ex-DiagFuzzy, r11): one 16-char
    * prefix block holds n names (past FuzzyBlockCap, so the
    * deletion-neighborhood path engages); true pairs grow linearly in
    * n, so a sub-quadratic wall trend is the machinery's. */
  private def fuzzy(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toInt)
      else Seq(4000, 8000, 16000, 32000)
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-diagfuzzy")
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- sizes) {
      // hot prefix fills the whole 16-char blk; ~2% of names are 1-sub
      // twins of the previous name (same length, last digit bumped)
      val named = spark.range(0, n).select(
        col("id"),
        concat(lit("hotprefix_block_"),
          when(col("id") % 50 === 1,
            format_string("%08d", col("id") - 1))
            .otherwise(format_string("%08d", col("id"))),
          when(col("id") % 50 === 1, lit("x")).otherwise(lit("y")))
          .as("name"))
        .withColumn("blk", substring(col("name"), 1, 16))
      (1 to 2).foreach { iter =>
        val t0 = System.nanoTime()
        val pairs = queries.DedupOps.fuzzyNamePairs(named, cap = 1000).count()
        println(f"[diagfuzzy] n=$n iter$iter: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s ($pairs pairs)")
      }
    }
    spark.stop()
  }

  /** AQE-skew-join vs manual-salt A/B (ex-DiagSkew, r14 — the probe
    * whose measurements re-scoped q_join_skew_salt to the
    * stream-static niche). Prints iter-2 steady-state wall per
    * variant, whether the AQE run's FINAL plan carries a `skew=true`
    * SMJ (the honesty flag), and result equality across all three. */
  private def skew(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("testdata-sf5")
    val hotPct = if (args.length > 1) args(1).toInt else 30
    val iters = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-diagskew")
    val calib = Calib.seconds()
    println(f"[diagskew] calib_sec: $calib%.3f sf=$sfDir hotPct=$hotPct")

    // Hot key: hotPct% of fact rows collapse onto orderkey 1 — the dim
    // row for key 1 matches ~hotPct% of the fact. Deterministic remap.
    def fact: DataFrame = graft.engine.Tables.lineitem(spark, sfDir)
      .withColumn("l_orderkey",
        when(pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(100))
          < hotPct, lit(1L)).otherwise(col("l_orderkey")))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    def dim: DataFrame = graft.engine.Tables.orders(spark, sfDir)
      .withColumnRenamed("o_orderkey", "l_orderkey")
      .select("l_orderkey", "o_orderpriority")

    def agg(joined: DataFrame): DataFrame = joined
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))

    def withConf[A](kvs: (String, String)*)(body: => A): A = {
      val prev = kvs.map { case (k, _) =>
        k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // Force the shuffle-join path: the orders dim broadcasts at small
    // SFs, which would measure a broadcast join three times instead of
    // the skew question.
    val noBroadcast = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    // Thresholds scaled to the local fixture (defaults assume ~256 MB
    // cluster partitions): split anything 2x the median and > 16 MB,
    // advising ~16 MB splits. The advisory size is set in BOTH variants
    // so off-vs-aqe isolates the skew split itself, not AQE's
    // small-partition coalescing.
    val common = noBroadcast ++ Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")
    val skewOff = common :+
      ("spark.sql.adaptive.skewJoin.enabled" -> "false")
    val skewOn = common :+
      ("spark.sql.adaptive.skewJoin.enabled" -> "true")

    def time(label: String, confs: Seq[(String, String)])(
        mk: => DataFrame): (Double, DataFrame) = {
      var last: DataFrame = null
      var sec = 0.0
      (1 to iters).foreach { i =>
        withConf(confs: _*) {
          val df = mk
          val t0 = System.nanoTime()
          Bench.materialize(df)
          sec = (System.nanoTime() - t0) / 1e9
          last = df
          println(f"[diagskew] $label iter$i: $sec%.2f s (/calib ${
            sec / calib}%.2f)")
        }
      }
      (sec, last)
    }

    val (tOff, dfOff) =
      time("off ", skewOff)(agg(fact.join(dim, "l_orderkey")))
    val (tAqe, dfAqe) =
      time("aqe ", skewOn)(agg(fact.join(dim, "l_orderkey")))
    // Honesty flag: did the AQE run actually split the hot partition?
    // NOTE the capture path: Bench.materialize goes through df.write,
    // which executes a SEPARATE QueryExecution — the DataFrame's own
    // executedPlan would still be the un-executed AdaptiveSparkPlan
    // (isFinalPlan=false, no AQEShuffleRead nodes). collect() executes
    // the DataFrame's own QE (output here is a 5-row aggregate), so
    // the final adaptive plan is inspectable afterwards.
    val aqePlan = withConf(skewOn: _*) {
      val df = agg(fact.join(dim, "l_orderkey"))
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    aqePlan.linesIterator
      .filter(l => l.contains("AQEShuffleRead") || l.contains("SortMergeJoin"))
      .foreach(l => println(s"[diagskew] plan: ${l.trim.take(120)}"))
    val skewFired =
      aqePlan.contains("skew=true") || aqePlan.contains("skewed")
    val (tSalt, dfSalt) = time("salt", skewOff)(
      agg(graft.engine.Skew.saltedJoin(fact, dim, Seq("l_orderkey"), 8)))

    val rOff = dfOff.collect().sortBy(_.getString(0)).toSeq
    def eq(r: Seq[org.apache.spark.sql.Row]) =
      r.map(x => (x.getString(0), x.getLong(1))) ==
        rOff.map(x => (x.getString(0), x.getLong(1)))
    println(s"[diagskew] results equal: aqe=${
      eq(dfAqe.collect().sortBy(_.getString(0)).toSeq)} salt=${
      eq(dfSalt.collect().sortBy(_.getString(0)).toSeq)}")
    println(f"[diagskew] SUMMARY sf=$sfDir hotPct=$hotPct " +
      f"off=$tOff%.2f aqe=$tAqe%.2f (skewFired=$skewFired) " +
      f"salt=$tSalt%.2f calib=$calib%.3f")
    spark.stop()
  }

  /** Per-stage time attribution for ONE declared query (r18, the
    * optimization round's microscope): runs `<name>` `iters` times
    * (default 2 — iter1 is cold, read iter2+) with a SparkListener
    * accumulating per-stage wall span, summed executor run time, task
    * count and shuffle bytes, then prints the iteration's stages
    * sorted by wall span. Stage names carry the callsite so a hot
    * stage maps straight to the operator that spawned it.
    *
    *   runMain graft.Diag qprofile <name> [sfDir] [iters]
    */
  private def qprofile(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters =
      if (args.length > 2 && args(2) != "nodes") args(2).toInt else 2
    // `nodes`: after the timed iterations, execute the query once via
    // collect() (so the DataFrame's OWN QueryExecution runs — the noop
    // write executes a separate one) and print every physical node's
    // SQLMetrics: numOutputRows plus any time metrics. This is the
    // operator-level view the stage listener can't give.
    val nodes = args.contains("nodes")
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-qprofile")
    spark.sparkContext.setLogLevel("ERROR")
    case class St(name: String, submitted: Long, completed: Long,
      runMs: Long, tasks: Int, shufR: Long, shufW: Long, input: Long)
    val stages = scala.collection.concurrent.TrieMap.empty[Int, St]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages(i.stageId) = St(
          i.name.takeWhile(_ != '\n'),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          m.executorRunTime, i.numTasks,
          m.shuffleReadMetrics.remoteBytesRead
            + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to iters).foreach { i =>
      stages.clear()
      val t0 = System.nanoTime()
      Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      // Let the async listener bus drain before reading the map.
      Thread.sleep(300)
      val total = stages.values.toSeq
      println(f"[qprofile] $name iter$i wall $wall%.2f s, ${total.size} " +
        f"stages, ${total.map(_.tasks).sum} tasks, " +
        f"stage-span sum ${total.map(s => s.completed - s.submitted).sum / 1e3}%.2f s, " +
        f"exec-run sum ${total.map(_.runMs).sum / 1e3}%.2f s")
      total.toSeq.sortBy(s => -(s.completed - s.submitted)).take(14)
        .foreach { s =>
          println(f"[qprofile]   span ${(s.completed - s.submitted) / 1e3}%6.3f" +
            f" run ${s.runMs / 1e3}%7.3f t=${s.tasks}%3d " +
            f"in=${s.input / 1024}%8dK sr=${s.shufR / 1024}%6dK " +
            f"sw=${s.shufW / 1024}%6dK  ${s.name.take(90)}")
        }
    }
    if (nodes) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan,
          depth: Int): Unit = {
        val ms = p.metrics.map { case (k, m) => s"$k=${m.value}" }
          .filter(s => s.contains("numOutputRows") || s.contains("time")
            || s.contains("Time")).take(4).mkString(" ")
        println(s"[qnodes] ${"  " * depth}${p.nodeName}  $ms")
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
            Seq(r.child)
          case other => other.children
        }
        kids.foreach(walk(_, depth + 1))
      }
      walk(df.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
