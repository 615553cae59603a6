package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.engine.{Snapshot, Tables}
import graft.streaming.ComposedPipeline

/** One benchmark run in one fresh JVM: set up a session, run one untimed
  * warm round whose outputs are kept for the correctness checks, then
  * repeat whole timed rounds until `--seconds` have passed, and write
  * every timing, count and span to `--result` (JSON). `run.py` builds
  * the classes, prepares the inputs, launches this, and checks outputs.
  *
  * Usage: perfbench.Main --workload analytics|curation|cdc --seed N
  *   --seconds S --trace 0|1 --cpus N --data DIR --work DIR --result FILE
  *   [--inputs DIR --users-mod M --users-rem R --batch-records N]
  */
object Main {
  final case class OpResult(round: Int, name: String, latencyS: Double, ok: Boolean)

  final class Ctx(val spark: SparkSession, val opts: Map[String, String],
      val tracer: Tracer) {
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val data: String = opt("data")
    val work: String = opt("work")
    def roundDir(r: Int): String = s"$work/r$r"

    def tag(round: Int, phase: String): Unit = {
      spark.sparkContext.setLocalProperty(TaskTotals.RoundKey, round.toString)
      spark.sparkContext.setLocalProperty(TaskTotals.PhaseKey, phase)
    }

    /** Times `body` as one operation; a throw counts the operation as
      * failed and is reported on stderr. */
    def op(round: Int, name: String)(body: => Unit): OpResult = {
      val t0 = System.nanoTime()
      val ok =
        try { tracer.span("op", round, name)(body); true }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed in round $round: $e")
          e.printStackTrace()
          false
        }
      OpResult(round, name, (System.nanoTime() - t0) / 1e9, ok)
    }
  }

  /** Runs `tasks` on `n` threads and returns their results in order. */
  def concurrently[A](n: Int, tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  trait Workload {
    /** Runs one whole round; `warm` keeps the outputs the checks read. */
    def round(ctx: Ctx, r: Int, warm: Boolean): Seq[OpResult]
    /** Extra facts for the checks, gathered after the warm round. */
    def facts: Map[String, Any] = Map.empty
  }

  /** A fixed list of declared queries, in a seed-shuffled order. Each
    * operation is the build (`SparkEntry.queries`, eager jobs included)
    * and the execution (`Bench.materialize`) of one query. The warm round
    * writes each result as parquet for the oracle compare instead, and
    * runs `cpus` queries at a time: most of a cold query is JIT and code
    * generation on otherwise idle cores, so this shortens set-up without
    * changing what the timed rounds find warm. */
  final class Queries(names: Seq[String], seed: Long) extends Workload {
    private val order = new scala.util.Random(seed).shuffle(names)
    def round(ctx: Ctx, r: Int, warm: Boolean): Seq[OpResult] =
      if (warm) concurrently(ctx.opt("cpus").toInt, order.map(n => () => one(ctx, r, n, warm)))
      else order.map(n => one(ctx, r, n, warm))

    private def one(ctx: Ctx, r: Int, n: String, warm: Boolean): OpResult =
      ctx.op(r, n) {
        ctx.tag(r, "build")
        val df = ctx.tracer.span("queries.build", r, n) {
          graft.SparkEntry.queries(n)(ctx.spark, ctx.data)
        }
        // The returned DataFrame was analyzed while it was built; its own
        // tracker holds that phase (executed writes re-plan, not re-analyze).
        if (ctx.tracer.on) df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => ctx.tracer.external("plans.analysis",
            p.startTimeMs.toDouble, p.endTimeMs.toDouble, Set("queries.build")))
        ctx.tag(r, "exec")
        ctx.tracer.span("exec", r, n) {
          if (warm) df.write.mode("overwrite").parquet(s"${ctx.roundDir(r)}/$n")
          else graft.Bench.materialize(df)
        }
      }
    override def facts: Map[String, Any] = Map(
      "queries" -> order,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
  }

  /** The reference's dataflow with writes: extract with the non-empty
    * guard, publish, round-trip verify, diff against a changed generation,
    * merge a changelog, then the composed streaming CDC pipeline (feed
    * replay → RocksDB sessionization → one snapshot generation per
    * micro-batch). The seeded changelog and changed generation come from
    * `--inputs`; the replayed users are those with
    * `user_id % users-mod == users-rem`. */
  final class Cdc(ctx0: Ctx, progress: BatchProgress) extends Workload {
    private val inputs = ctx0.opt("inputs")
    private val usersMod = ctx0.opt("users-mod").toLong
    private val usersRem = ctx0.opt("users-rem").toLong
    private val batchRecords = ctx0.opt("batch-records").toLong
    private val got = mutable.LinkedHashMap.empty[String, Any]

    /** The orders chain, the lineitem chain and the streaming chain share
      * no data; the warm round runs them side by side, timed rounds one
      * after the other. */
    def round(ctx: Ctx, r: Int, warm: Boolean): Seq[OpResult] = {
      val chains = Seq[() => Seq[OpResult]](() => orders(ctx, r, warm),
        () => lineitem(ctx, r), () => streaming(ctx, r, warm))
      (if (warm) concurrently(chains.size, chains) else chains.map(_())).flatten
    }

    private def step(ctx: Ctx, r: Int, name: String, layer: String)(
        body: => Unit): OpResult =
      ctx.op(r, name) { ctx.tag(r, name); ctx.tracer.span(layer, r, name)(body) }

    private def record(kv: (String, Any)*): Unit = got.synchronized(got ++= kv)

    /** Extract → publish → diff against the changed generation → merge the
      * changelog and publish the merged generation. */
    private def orders(ctx: Ctx, r: Int, warm: Boolean): Seq[OpResult] = {
      val s = ctx.spark
      val w = ctx.roundDir(r)
      def step(name: String, layer: String)(body: => Unit) =
        this.step(ctx, r, name, layer)(body)
      Seq(
        step("extract_orders", "engine.extract") {
          Snapshot.write(Tables.orders(s, ctx.data), s"$w/extract/orders")
        },
        step("publish", "engine.publish") {
          val rt = Snapshot.publishAtomic(s, s.read.parquet(s"$w/extract/orders"),
            s"$w/gen_base")
          require(rt.verified, s"publish did not verify: $rt")
        },
        step("diff", "engine.diff") {
          val inc = Snapshot.incremental(s.read.parquet(s"$w/gen_base"),
            s.read.parquet(s"$inputs/current.parquet"))
          if (warm) record("inserted" -> inc.inserted,
            "deleted" -> inc.deleted, "unchanged" -> inc.unchanged)
        },
        step("merge", "engine.merge") {
          val merged = Snapshot.applyChangelog(s.read.parquet(s"$w/gen_base"),
            s.read.parquet(s"$inputs/changes.parquet"), Seq("o_orderkey"), "op")
          val rt = Snapshot.publishAtomic(s, merged, s"$w/gen_merged")
          require(rt.verified, s"merged publish did not verify: $rt")
        })
    }

    /** Extract → round-trip verify. */
    private def lineitem(ctx: Ctx, r: Int): Seq[OpResult] = {
      val s = ctx.spark
      val w = ctx.roundDir(r)
      Seq(
        step(ctx, r, "extract_lineitem", "engine.extract") {
          Snapshot.write(Tables.lineitem(s, ctx.data), s"$w/extract/lineitem")
        },
        step(ctx, r, "verify", "engine.verify") {
          val rt = Snapshot.roundTripVerify(s,
            s.read.parquet(s"$w/extract/lineitem"), s"$w/lineitem_rt")
          require(rt.verified, s"round trip did not verify: $rt")
        })
    }

    private def streaming(ctx: Ctx, r: Int, warm: Boolean): Seq[OpResult] = {
      val s = ctx.spark
      val w = ctx.roundDir(r)
      def step(name: String, layer: String)(body: => Unit) =
        this.step(ctx, r, name, layer)(body)
      val replay = step("replay", "streaming.replay") {
        val ev = Tables.events(s, ctx.data)
          .where(col("user_id") % usersMod === usersRem)
        val n = ComposedPipeline.replayToFeed(ev, s"$w/feed", 4)
        if (warm) record("replayed" -> n)
      }
      val before = progress.all.size
      val run = step("pipeline", "streaming.run") {
        val st = ComposedPipeline.run(s, s"$w/feed", s"$w/snap", s"$w/ckpt",
          batchRecords)
        require(!st.crashed && st.processedLag == 0L,
          s"pipeline did not drain its feed: $st")
        if (warm) record("batches" -> st.batches,
          "generations" -> st.generations, "processed_lag" -> st.processedLag,
          "snap" -> s"$w/snap/gen_${ComposedPipeline.generationIds(s, s"$w/snap").max}")
      }
      // Micro-batches are operations of their own; the pipeline call is one
      // only when it failed before reporting any.
      org.apache.spark.ListenerDrain(s.sparkContext)
      val batches = progress.all.drop(before).map(p =>
        OpResult(r, s"batch_${p.batchId}",
          p.durationMs.getOrDefault("triggerExecution", 0L) / 1e3, run.ok))
      replay +: (if (batches.isEmpty) Seq(run) else batches)
    }
    override def facts: Map[String, Any] = got.synchronized(got.toMap)
  }

  private val Analytics = Seq(
    "q_agg_unpivot", "q_agg_grouping_sets", "q_join_anti", "q_join_broadcast",
    "q_join_asof_nearest", "q_window_rank", "q_sql_subquery", "q_fn_hash",
    "q_fn_string", "q_union_all", "q_intersect", "q_sort_limit",
    "q_scan_project_filter", "q_ref_status_last")

  private val Curation = Seq(
    "q_dedup_minhash", "q_dedup_near", "q_dedup_simhash_pairs",
    "q_dedup_embedding", "q_sim_lsh_topk", "q_text_bpe_tokens")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      val walk = Files.walk(f.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally walk.close()
    }
  }

  private def dataFiles(p: String): (Long, Long) = {
    val f = new File(p)
    if (!f.exists()) (0L, 0L)
    else {
      val walk = Files.walk(f.toPath)
      try {
        val files = walk.filter(x => Files.isRegularFile(x) &&
          x.getFileName.toString.startsWith("part-")).toArray
        (files.length.toLong, files.map(x => Files.size(x.asInstanceOf[java.nio.file.Path])).sum)
      } finally walk.close()
    }
  }

  /** Lets the warm round's queued JIT compilations finish (until the
    * total compilation time stops growing for 0.5 s, at most 4 s) and
    * starts the timed pass from a collected heap, so that every run's
    * first timed round starts from a like state. */
  private def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 4000000000L
    var last = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        System.nanoTime() - quietSince < 500000000L) {
      Thread.sleep(100)
      val t = jit.getTotalCompilationTime
      if (t != last) { last = t; quietSince = System.nanoTime() }
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val tracer = new Tracer
    val spark = graft.Sessions.local(opts("cpus"), s"perfbench-$workload")
    val sc = spark.sparkContext
    val tasks = new TaskTotals
    sc.addSparkListener(tasks)
    val phases = new PlanPhases
    if (trace) spark.listenerManager.register(phases)
    val progress = new BatchProgress
    spark.streams.addListener(progress)
    val ctx = new Ctx(spark, opts, tracer)
    val wl: Workload = workload match {
      case "analytics" => new Queries(Analytics, seed)
      case "curation" => new Queries(Curation, seed)
      case "cdc" => new Cdc(ctx, progress)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Warm round: JIT, codegen and first reads land here, not in a timed
    // round; its outputs stay on disk for the checks.
    val warm = wl.round(ctx, 0, warm = true)
    settle()
    val readyMs = System.currentTimeMillis()

    final case class Round(r: Int, traced: Boolean, startMs: Double,
        endMs: Double, ops: Seq[OpResult], files: (Long, Long))
    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    // Whole rounds only, so every run attempts the same operations in the
    // same proportions. A traced run alternates traced and untraced
    // rounds (at least one of each) to measure its own overhead.
    while (rounds.isEmpty || (trace && rounds.size < 2) ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      val r = rounds.size + 1
      tracer.on = trace && r % 2 == 1
      val start = tracer.nowMs
      val ops = wl.round(ctx, r, warm = false)
      val end = tracer.nowMs
      tracer.on = false
      rounds += Round(r, trace && r % 2 == 1, start, end, ops,
        dataFiles(ctx.roundDir(r)))
      deleteTree(ctx.roundDir(r))
    }
    org.apache.spark.ListenerDrain(sc)

    val timedOps = rounds.flatMap(_.ops)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "ready_ms" -> readyMs,
      "rounds" -> rounds.size,
      "attempted" -> timedOps.size, "failed" -> timedOps.count(!_.ok),
      "warm_failed" -> warm.filterNot(_.ok).map(_.name),
      "wall_s" -> median(rounds.map(x => (x.endMs - x.startMs) / 1e3).toSeq),
      "cpu_s" -> median(rounds.map(x => tasks.round(x.r).cpuNs / 1e9).toSeq),
      "job_p50_s" -> median(timedOps.filter(_.ok).map(_.latencyS).toSeq),
      "round_wall_s" -> rounds.map(x => (x.endMs - x.startMs) / 1e3),
      "ops" -> timedOps.map(o => Map("round" -> o.round, "name" -> o.name,
        "s" -> o.latencyS, "ok" -> o.ok)),
      "facts" -> wl.facts)

    if (trace) {
      val traced = rounds.filter(_.traced).toSeq
      // Spark-timed children: planning phases and micro-batches.
      progress.all.foreach { p =>
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tracer.external("streaming.batch", st,
          st + p.durationMs.getOrDefault("triggerExecution", 0L),
          Set("streaming.run"))
      }
      val execParents = Set("op", "queries.build", "exec", "engine.extract",
        "engine.publish", "engine.verify", "engine.diff", "engine.merge",
        "streaming.replay", "streaming.run", "streaming.batch")
      phases.all.foreach(ph => tracer.external(s"plans.${ph.name}",
        ph.startMs.toDouble, ph.endMs.toDouble, execParents))
      val spans = tracer.all
      val self = tracer.selfMs
      def spanSum(r: Int, name: String): Double =
        spans.filter(s => s.round == r && s.name == name).map(_.durMs).sum
      def med(f: Round => Double): Double = median(traced.map(f))
      def progIn(x: Round) = progress.all.filter { p =>
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        st >= x.startMs && st <= x.endMs
      }
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        p.durationMs.getOrDefault(k, 0L).toDouble
      val mb = 1024.0 * 1024.0
      val untracedWall = median(rounds.filterNot(_.traced).map(x => x.endMs - x.startMs).toSeq)
      val tracedWall = median(traced.map(x => x.endMs - x.startMs))
      val perLayer = mutable.LinkedHashMap[String, Double](
        "queries.build_ms" -> med(x => spanSum(x.r, "queries.build")),
        "queries.eager_jobs" -> med(x => tasks.round(x.r).eagerJobs.toDouble),
        "plans.analysis_ms" -> med(x => spanSum(x.r, "plans.analysis")),
        "plans.optimization_ms" -> med(x => spanSum(x.r, "plans.optimization")),
        "plans.planning_ms" -> med(x => spanSum(x.r, "plans.planning")),
        "exec.jobs" -> med(x => tasks.round(x.r).jobs.toDouble),
        "exec.stages" -> med(x => tasks.round(x.r).stages.toDouble),
        "exec.single_task_stages" -> med(x => tasks.round(x.r).singleTaskStages.toDouble),
        "exec.run_ms" -> med(x => tasks.round(x.r).runMs.toDouble),
        "exec.cpu_ms" -> med(x => tasks.round(x.r).cpuNs / 1e6),
        "exec.gc_ms" -> med(x => tasks.round(x.r).gcMs.toDouble),
        "exec.shuffle_write_mb" -> med(x => tasks.round(x.r).shuffleWrite / mb),
        "exec.shuffle_read_mb" -> med(x => tasks.round(x.r).shuffleRead / mb),
        "exec.shuffle_fetch_wait_ms" -> med(x => tasks.round(x.r).fetchWaitMs.toDouble),
        "exec.spill_mb" -> med(x => tasks.round(x.r).spill / mb),
        "engine.input_mb" -> med(x => tasks.round(x.r).inputBytes / mb),
        "engine.input_rows" -> med(x => tasks.round(x.r).inputRows.toDouble),
        "engine.extract_ms" -> med(x => spanSum(x.r, "engine.extract")),
        "engine.publish_ms" -> med(x => spanSum(x.r, "engine.publish")),
        "engine.verify_ms" -> med(x => spanSum(x.r, "engine.verify")),
        "engine.diff_ms" -> med(x => spanSum(x.r, "engine.diff")),
        "engine.merge_ms" -> med(x => spanSum(x.r, "engine.merge")),
        "engine.written_mb" -> med(x => x.files._2 / mb),
        "engine.files_written" -> med(x => x.files._1.toDouble),
        "streaming.replay_ms" -> med(x => spanSum(x.r, "streaming.replay")),
        "streaming.batch_p50_ms" -> med(x => median(progIn(x).map(dur(_, "triggerExecution")))),
        "streaming.add_batch_ms" -> med(x => progIn(x).map(dur(_, "addBatch")).sum),
        "streaming.plan_ms" -> med(x => progIn(x).map(dur(_, "queryPlanning")).sum),
        "streaming.state_rows_peak" -> med(x => progIn(x).flatMap(_.stateOperators
          .map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0)),
        "streaming.state_mb_peak" -> med(x => progIn(x).flatMap(_.stateOperators
          .map(_.memoryUsedBytes / mb)).maxOption.getOrElse(0.0)))
      perLayer ++= Kernels.nsPerRow(spark, ctx.data)
      perLayer("trace.overhead_pct") = (tracedWall / untracedWall - 1.0) * 100.0
      out("per_layer") = perLayer.toMap
      // Self time per span name, per traced round.
      val n = math.max(1, traced.size).toDouble
      out("self_ms") = spans.groupBy(_.name).map { case (k, ss) =>
        k -> ss.map(s => self(s.id)).sum / n }
      val spanFile = opts("result") + ".spans.jsonl"
      Files.write(Paths.get(spanFile), spans.map(s => Json(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "round" -> s.round,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id)))).mkString("", "\n", "\n").getBytes("UTF-8"))
      out("spans_file") = spanFile
    }
    Files.write(Paths.get(opts("result")), Json(out.toMap).getBytes("UTF-8"))
    spark.stop()
  }
}
