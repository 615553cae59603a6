package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine.Generations

/** The production streaming story COMPOSED, one job (r15 — VERDICT r14
  * missing #3): until now the three pieces were each verified alone
  * (feed-source replay r13, transformWithState+RocksDB sessionization
  * r14, CDC apply spec-only). What a user deploys is their
  * composition:
  *
  *   graft-feed source (offset-managed, admission-controlled)
  *     → [[StreamingJobs.sessionizeTws]] on RocksDB keyed state
  *       → foreachBatch CDC apply into IMMUTABLE SNAPSHOT GENERATIONS
  *
  * with a crash anywhere in the chain and a restart from the
  * checkpoint. The composition is where the exactly-once story can
  * actually break: Spark's foreachBatch sink is AT-LEAST-ONCE (the
  * batch re-executes after a crash between the sink call and the
  * commit-log write), so the generation apply must be idempotent on
  * `batchId` or a crash double-applies a changelog.
  *
  * The discipline that makes it exactly-once END TO END:
  *   - the feed source replays a re-run batch from the SAME offset
  *     range (offsets land in the checkpoint WAL before the sink
  *     runs), so a retried batchId carries identical rows;
  *   - state rolls back to the last committed version on restart, so
  *     sessionizeTws re-emits the same closed sessions for that batch;
  *   - each non-empty batch publishes `gen_<batchId>` via
  *     [[graft.engine.Snapshot.publishAtomic]] — create-if-absent
  *     rename, so the RETRY of a batch whose generation already
  *     landed SKIPS (loses the publish race to its own first attempt)
  *     instead of double-applying. The generation dir is the
  *     processed-marker, data and marker in one atomic rename — the
  *     same derived-watermark discipline as
  *     [[graft.engine.JdbcExtract.watermark]].
  *
  * Each generation is the FULL merged snapshot (base = previous
  * generation, changelog = this batch's closed sessions via
  * [[graft.engine.Snapshot.applyChangelog]]), so any generation is a
  * consistent point-in-time table and retention/time-travel apply
  * unchanged. ComposedPipelineSpec pins crash-run ≡ clean-run
  * bit-parity with the skip path actually taken; DriverRestartSpec
  * SIGKILLs a forked driver running [[run]] mid-replay and requires the
  * restarted driver to drain to the clean run's table.
  */
object ComposedPipeline {

  /** Thrown by the injected fault: a crash AFTER the batch's
    * generation published but BEFORE Spark wrote the batch's commit
    * log — the exact window where at-least-once re-execution happens. */
  final class InjectedCrash(batchId: Long)
    extends RuntimeException(s"injected crash after batch $batchId")

  final case class RunStats(
      batches: Int, peakStateRows: Long, peakStateBytes: Long,
      emittedSessions: Long, generations: Int, skippedReapplies: Int,
      processedLag: Long, wallSec: Double, crashed: Boolean)

  private val GenRe = "^gen_(\\d+)$".r

  /** Published batch ids of one layout, in batch order. */
  private def ids(
      s: SparkSession, root: String, layout: Generations.Layout): Seq[Long] =
    Generations.names(s, root, layout, GenRe.matches)
      .map(_.stripPrefix("gen_").toLong).sorted

  /** Generation `id`'s data; a pointer read attaches its object dir. A
    * known `schema` spares the footer-reading job that infers it. */
  private def read(
      s: SparkSession, root: String, layout: Generations.Layout,
      id: Long, schema: Option[StructType] = None): DataFrame =
    if (layout == Generations.Pointer)
      graft.engine.Snapshot.readPointer(s, root, s"gen_$id", schema)
    else schema.fold(s.read)(s.read.schema).parquet(s"$root/gen_$id")

  /** Published generation ids under `root`. */
  def generationIds(s: SparkSession, root: String): Seq[Long] =
    ids(s, root, Generations.Rename)

  /** Latest published snapshot under `root`, if any. */
  def latestSnapshot(s: SparkSession, root: String): Option[DataFrame] =
    generationIds(s, root).lastOption.map(read(s, root, Generations.Rename, _))

  /** Published generation ids under a POINTER-MODE root
    * ([[graft.engine.Snapshot.publishPointer]]). */
  def pointerGenerationIds(s: SparkSession, root: String): Seq[Long] =
    ids(s, root, Generations.Pointer)

  /** Latest pointer-committed snapshot under `root`, if any. */
  def latestSnapshotPointer(
      s: SparkSession, root: String): Option[DataFrame] =
    pointerGenerationIds(s, root).lastOption.map(read(s, root, Generations.Pointer, _))

  /** This batch's closed sessions upserted into the previous
    * generation — or alone, for the first one. */
  private def merged(prev: Option[DataFrame], sessions: DataFrame): DataFrame = {
    val changes = sessions.withColumn("op", lit("U"))
    prev.fold(changes.drop("op"))(p => graft.engine.Snapshot.applyChangelog(
      p, changes, Seq("user_id", "session_seq"), "op"))
  }

  /** Idempotent per-batch CDC apply: merge this batch's closed
    * sessions into the previous generation and publish `gen_<batchId>`
    * through `publish`, which commits in `layout`: a rename generation
    * ([[graft.engine.Snapshot.publishAtomic]], or
    * [[graft.engine.Bucketed.publishGeneration]] for the bucketed
    * serving shape, which a consumer joins on `user_id` with zero
    * exchange and zero sort via [[servedSnapshot]]), or a pointer
    * generation ([[graft.engine.Snapshot.publishPointer]], the commit
    * that stays atomic on stores whose rename is a non-atomic copy). A
    * re-executed batch (its generation already visible) is a no-op; a
    * racing retry loses the commit and self-cleans its staging. Returns
    * true when this call published. One listing per batch; `sessions`
    * is non-empty (the caller has counted it). */
  private def applyGeneration(
      s: SparkSession, root: String, layout: Generations.Layout,
      sessions: DataFrame, batchId: Long)(
      publish: (DataFrame, String) => Any): Boolean = {
    val done = ids(s, root, layout)
    if (done.contains(batchId)) return false // retry of a done batch
    try {
      // every generation holds the batches' columns (merged keeps them)
      publish(merged(done.lastOption.map(read(s, root, layout, _,
        Some(sessions.schema))), sessions), s"gen_$batchId")
      true
    } catch { case _: graft.engine.Snapshot.SnapshotExistsException => false }
  }

  /** The latest generation attached as a bucketed serving table —
    * valid only for roots maintained by `run` with a `bucketServe` of
    * the same bucket count. */
  def servedSnapshot(
      s: SparkSession, root: String, buckets: Int): Option[DataFrame] =
    generationIds(s, root).lastOption.map { id =>
      val dest = s"$root/gen_$id"
      graft.engine.Bucketed.attachGeneration(
        s, dest, s.read.parquet(dest).schema, "user_id", buckets)
    }

  /** Replay a batch events table into a feed log PARTITIONED BY USER
    * (the key is the user id, so per-user arrival order is the
    * per-partition offset order sessionization assumes), events
    * encoded on the feed value ("event_id,event_type,value" — the
    * segment-line split keeps the tail intact). Driver-light: one
    * ts-ordered toLocalIterator pass, segment-buffered appends. */
  def replayToFeed(
      ev: DataFrame, feedDir: String, parts: Int,
      segSize: Int = 250000): Long = {
    val bufs = Array.fill(parts)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)])
    var replayed = 0L
    val it = ev
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val user = r.getLong(2)
      val p = (user % parts).toInt
      bufs(p) += ((r.getTimestamp(1).getTime, user.toString,
        s"${r.getLong(0)},${r.getString(3)},${r.getDouble(4)}"))
      if (bufs(p).size >= segSize) {
        FeedSource.append(feedDir, p, bufs(p).toSeq)
        replayed += bufs(p).size
        bufs(p).clear()
      }
    }
    bufs.zipWithIndex.foreach { case (b, p) =>
      if (b.nonEmpty) {
        FeedSource.append(feedDir, p, b.toSeq)
        replayed += b.size
      }
    }
    replayed
  }

  /** Run the composed job over an existing feed log until drained.
    *
    * @param crashAfterBatch inject [[InjectedCrash]] after the apply
    *   of this batchId (post-publish, pre-commit) — the caller then
    *   calls run() again with the same dirs to model the restart.
    * @param crashBeforeApply inject [[InjectedCrash]] AFTER the
    *   batch's stateful plan fully executed (every state-store
    *   partition committed while draining the batch) but BEFORE its
    *   generation published — the OTHER half of the at-least-once
    *   window (r16): on restart the batch re-executes against
    *   rolled-back state and must re-emit identical rows, and the
    *   apply runs for real (no generation marker exists), so parity
    *   here proves the state rollback, not just the skip path.
    * @param tailWhile when set, the run LIVE-TAILS a feed that is
    *   still being appended to: it keeps draining for as long as the
    *   callback returns true (writer active), then drains once more —
    *   the production shape where appends race the stream, vs the
    *   pre-written-log replay (r16). Admission control
    *   (`maxBatchRecords`) stays active throughout.
    * @param bucketServe when set, generations publish BUCKETED by
    *   `user_id` into this many buckets
    *   ([[graft.engine.Bucketed.publishGeneration]]) — the
    *   streaming-maintained serving table; read it back with
    *   [[servedSnapshot]]. Default keeps the plain-parquet shape.
    * @param pointerCommit when true, generations commit via the
    *   rename-free pointer protocol
    *   ([[graft.engine.Snapshot.publishPointer]]) — the
    *   object-store-safe shape; read the result back with
    *   [[latestSnapshotPointer]]. Mutually exclusive with
    *   `bucketServe` (a bucketed serving layout is a catalog-attached
    *   directory contract, not an object commit).
    * @return telemetry incl. whether the injected crash fired. */
  def run(
      s: SparkSession, feedDir: String, snapRoot: String, ckptDir: String,
      maxBatchRecords: Long,
      crashAfterBatch: Option[Long] = None,
      crashBeforeApply: Option[Long] = None,
      tailWhile: Option[() => Boolean] = None,
      bucketServe: Option[Int] = None,
      pointerCommit: Boolean = false): RunStats = {
    require(!(pointerCommit && bucketServe.nonEmpty),
      "pointerCommit and bucketServe are mutually exclusive")
    // the commit every batch of this run publishes by
    val (layout, publish): (Generations.Layout, (DataFrame, String) => Any) =
      bucketServe match {
        case Some(b) => (Generations.Rename, (df, gen) =>
          graft.engine.Bucketed.publishGeneration(
            s, df, s"$snapRoot/$gen", "user_id", b))
        case None if pointerCommit => (Generations.Pointer, (df, gen) =>
          graft.engine.Snapshot.publishPointer(s, df, snapRoot, gen))
        case None => (Generations.Rename, (df, gen) =>
          graft.engine.Snapshot.publishAtomic(s, df, s"$snapRoot/$gen"))
      }
    import s.implicits._
    // transformWithState requires the RocksDB provider (state-v2
    // runtime); set it for the run and restore the caller's choice.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    var skipped = 0
    var applied = 0
    // rows each batch emitted, by batch id: the foreachBatch sink
    // reports no output count of its own (-1 in the progress)
    val emittedById = scala.collection.concurrent.TrieMap.empty[Long, Long]
    // Telemetry accumulates in a listener, not only q.recentProgress:
    // recentProgress retains just the last ~100 updates, so a long
    // replay silently undercounts batches and peak state
    // (ADVICE r15). The listener sees every update; recentProgress is
    // still merged at the end because listener delivery is async and
    // the tail may not have been posted yet — keying by (queryId,
    // batchId) makes the union exact with no double counting.
    val progById = scala.collection.mutable.HashMap
      .empty[(java.util.UUID, Long),
        org.apache.spark.sql.streaming.StreamingQueryProgress]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progById.synchronized {
          progById((e.progress.id, e.progress.batchId)) = e.progress
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // Everything below runs under try/finally: a non-injected failure
    // must still stop the query, drop the listener, and restore the
    // caller's provider conf (ADVICE r15 — a rethrow used to leak all
    // three into subsequent tests/modes).
    try {
    s.streams.addListener(listener)
    val events = s.readStream.format("graft-feed")
      .option("maxBatchRecords", maxBatchRecords.toString)
      .load(feedDir)
      // feed value carries "event_id,event_type,value" (split limit 3
      // on the segment line keeps embedded commas intact); key is the
      // user id — also the feed partitioner, so per-user order is the
      // per-partition order sessionization assumes
      .select(col("ts"), col("key").cast("long").as("user_id"),
        split(col("value"), ",", 3).as("v"))
      .select(element_at(col("v"), 1).cast("long").as("event_id"),
        col("ts"), col("user_id"),
        element_at(col("v"), 2).as("event_type"),
        element_at(col("v"), 3).cast("double").as("value"))
      .as[StreamingJobs.Event]
    val sessions = StreamingJobs.sessionizeTws(events).toDF()
    val t0 = System.nanoTime()
    val q = sessions.writeStream
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // Drain EVERY partition before deciding anything (found by the
        // sf5 crash/restart replay): Spark 4.x validates that all
        // state-store partitions committed for the batch, so a
        // re-executed batch whose generation already exists must still
        // process the full DataFrame — gating the only action behind
        // the dir check (or an isEmpty/limit-style probe) commits 0 of
        // N state partitions and the restart dies with
        // STATE_STORE_COMMIT_VALIDATION_FAILED. persist() keeps the
        // decide-then-apply path one computation of the stateful plan.
        batch.persist()
        try {
          val n = batch.count()
          emittedById(id) = n
          // count() ran the stateful plan: state partitions are
          // committed for this batch — crashing HERE leaves committed
          // state but no generation (the pre-publish window)
          if (crashBeforeApply.contains(id)) throw new InjectedCrash(id)
          if (n > 0) {
            if (applyGeneration(s, snapRoot, layout, batch, id)(publish))
              applied += 1
            else skipped += 1
          }
        } finally batch.unpersist()
        if (crashAfterBatch.contains(id)) throw new InjectedCrash(id)
      }
      .start()
    val crashed =
      try {
        try {
          tailWhile match {
            case None => q.processAllAvailable()
            case Some(writerActive) =>
              // live tail: drain, let the writer land more segments,
              // repeat; one final drain after the writer stops closes
              // the race between its last append and our last check
              while (writerActive()) {
                q.processAllAvailable(); Thread.sleep(20L)
              }
              q.processAllAvailable()
          }
          false
        }
        catch { case e: Throwable =>
          val root = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).toSeq
          if (root.exists(_.isInstanceOf[InjectedCrash])) true else throw e
        }
      } finally { try q.stop() catch { case _: Throwable => () } }
    // Union: listener map (full history) + recentProgress tail (the
    // last ~100, synchronously complete after stop) — see above.
    val progress = progById.synchronized {
      q.recentProgress.foreach(p => progById((p.id, p.batchId)) = p)
      progById.toSeq.collect { case ((id, _), p) if id == q.id => p }
        .sortBy(_.batchId)
    }
    var peakRows = 0L
    var peakBytes = 0L
    progress.foreach { p =>
      val so = p.stateOperators.headOption
      peakRows = math.max(peakRows, so.map(_.numRowsTotal).getOrElse(0L))
      peakBytes = math.max(peakBytes, so.map(_.memoryUsedBytes).getOrElse(0L))
      System.err.println(s"[composed] batch=${p.batchId} " +
        s"in=${p.numInputRows} " +
        s"stateRows=${so.map(_.numRowsTotal).getOrElse(0L)} " +
        s"out=${emittedById.getOrElse(p.batchId, 0L)} " +
        s"watermark=${Option(p.eventTime.get("watermark")).getOrElse("-")}")
    }
    val logEnd = FeedSource.endOffsets(feedDir).values.sum
    val processed = progress.flatMap(p =>
      p.sources.headOption.flatMap(src => Option(src.endOffset))
        .map(j => FeedSource.parseOffsets(j).values.sum))
      .maxOption.getOrElse(0L)
    RunStats(progress.size, peakRows, peakBytes, emittedById.values.sum,
      ids(s, snapRoot, layout).size,
      skipped, logEnd - processed,
      (System.nanoTime() - t0) / 1e9, crashed)
    } finally {
      s.streams.removeListener(listener)
      prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
  }
}
