package graft

import graft.engine.{JobConfig, Retry, Snapshot, Tables}
import org.scalatest.funsuite.AnyFunSuite

class RetrySpec extends AnyFunSuite {
  test("retry succeeds after k failures with doubling backoff") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = Retry.retry(attempts = 9, baseDelayMs = 2000, sleeps += _) { () =>
      calls += 1
      if (calls < 4) sys.error(s"boom $calls") else "ok"
    }
    assert(out == "ok" && calls == 4)
    assert(sleeps.toSeq == Seq(2000L, 4000L, 8000L))
  }

  test("retry exhausts attempts and rethrows the last failure") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.retry(attempts = 3, baseDelayMs = 1, _ => ()) { () =>
        calls += 1; sys.error(s"fail $calls")
      }
    }
    assert(calls == 3 && e.getMessage == "fail 3")
  }

  test("pollUntil logs transitions only and stops at terminal state") {
    val states = Iterator("CREATED", "CREATED", "IN_PROGRESS", "IN_PROGRESS",
      "SUCCESS")
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val end = Retry.pollUntil[String](intervalMs = 1, maxPolls = 10,
      sleep = _ => (), onTransition = seen += _)(() => states.next()) {
      s => s == "SUCCESS" || s == "ERROR"
    }
    assert(end == "SUCCESS")
    assert(seen.toSeq == Seq("CREATED", "IN_PROGRESS", "SUCCESS"))
  }

  test("pollUntil without terminal state throws") {
    intercept[IllegalStateException] {
      Retry.pollUntil[String](intervalMs = 1, maxPolls = 3, sleep = _ => ())(
        () => "creating")(_ == "available")
    }
  }

  test("withCleanup always runs cleanup and keeps the primary failure") {
    var cleaned = 0
    assert(Retry.withCleanup(() => cleaned += 1)(42) == 42 && cleaned == 1)
    val e = intercept[RuntimeException] {
      Retry.withCleanup(() => { cleaned += 1; sys.error("cleanup boom") }) {
        sys.error("body boom")
      }
    }
    assert(e.getMessage == "body boom" && cleaned == 2)
    assert(e.getSuppressed.exists(_.getMessage == "cleanup boom"))
  }

  test("randomCredential is alphanumeric and unique") {
    val a = Retry.randomCredential()
    val b = Retry.randomCredential()
    assert(a.forall(_.isLetterOrDigit) && a.length >= 32 && a != b)
  }
}

class JobConfigSpec extends AnyFunSuite {
  private val base = Map(
    "DB_ENGINE" -> "postgres", "DB_ENGINE_VERSION" -> "12.8",
    "SERVICE_NAME" -> "orders-service", "BACKUP_DIR" -> "/tmp/snap")

  test("parses with defaults (ATTEMPTS=9, TIMEOUT=2s)") {
    val c = JobConfig(base)
    assert(c.attempts == 9 && c.timeoutMs == 2000L && !c.useBackupsAccount)
    assert(c.majorVersion == 12)
  }

  test("missing required key fails") {
    intercept[IllegalArgumentException] { JobConfig(base - "DB_ENGINE") }
  }

  test("service names >=30 chars trim to 29 for the 63-char id limit") {
    val long = "a" * 35
    val c = JobConfig(base + ("SERVICE_NAME" -> long))
    assert(c.trimmedServiceName.length == 29)
    assert(c.restoreInstanceName == s"postgres-${"a" * 29}-auto-restore")
    assert(JobConfig(base).trimmedServiceName == "orders-service")
  }

  test("credential config (A25/A26) validates dependent fields together") {
    // IAM auth needs username + region at parse time
    intercept[IllegalArgumentException] {
      JobConfig(base + ("IAM_AUTH_ENABLED" -> "true"))
    }
    val iam = JobConfig(base ++ Map("IAM_AUTH_ENABLED" -> "true",
      "RDS_IAM_AUTH_USERNAME" -> "svc", "AWS_REGION" -> "us-east-1"))
    assert(iam.iamAuthEnabled && iam.region.contains("us-east-1"))
    // cross-account profile needs the role to assume
    intercept[IllegalArgumentException] {
      JobConfig(base + ("USE_BACKUPS_ACCOUNT" -> "true"))
    }
  }

  test("sinkConf maps role + KMS key to the standard S3A keys") {
    val c = JobConfig(base ++ Map("USE_BACKUPS_ACCOUNT" -> "true",
      "BACKUPS_ROLE_ARN" -> "arn:aws:iam::0:role/prod-backup",
      "KMS_KEY_ID" -> "key-1"))
    val conf = c.sinkConf
    assert(conf("fs.s3a.assumed.role.arn") == "arn:aws:iam::0:role/prod-backup")
    assert(conf("fs.s3a.server-side-encryption-algorithm") == "SSE-KMS")
    assert(conf("fs.s3a.server-side-encryption.key") == "key-1")
    // without the account flag the role keys stay absent
    val plain = JobConfig(base + ("KMS_KEY_ID" -> "key-1")).sinkConf
    assert(!plain.contains("fs.s3a.assumed.role.arn"))
    assert(plain.contains("fs.s3a.server-side-encryption.key"))
  }
}

class NotifySpec extends AnyFunSuite {
  import graft.engine.Notify

  test("check-in GETs the configured URL once and succeeds on 2xx") {
    val hits = scala.collection.mutable.ArrayBuffer[String]()
    Notify.checkIn("https://monitor.example/ping", u => { hits += u; 200 })
    assert(hits.toSeq == Seq("https://monitor.example/ping"))
  }

  test("check-in fails loudly on non-2xx and on transport errors") {
    intercept[Notify.CheckInFailedException] {
      Notify.checkIn("https://monitor.example/ping", _ => 503)
    }
    intercept[Notify.CheckInFailedException] {
      Notify.checkIn("https://monitor.example/ping",
        _ => throw new java.io.IOException("no route"))
    }
  }
}

class AsyncJobSpec extends SparkSpec {
  import graft.engine.AsyncJob

  test("submit -> poll -> success carries the result and the lifecycle") {
    val transitions = scala.collection.mutable.ArrayBuffer[AsyncJob.Lifecycle]()
    val h = AsyncJob.submit(spark, "t-ok") { () =>
      Tables.nation(spark, sf).count()
    }
    val n = h.await(intervalMs = 10, sleep = Thread.sleep,
      onTransition = transitions += _)
    assert(n == 25L)
    assert(transitions.last == AsyncJob.Success)
    assert(h.status() == AsyncJob.Success)
  }

  test("failed body surfaces as Error and await rethrows it") {
    val h = AsyncJob.submit(spark, "t-fail") { () =>
      sys.error("backup task failed")
    }
    val e = intercept[RuntimeException] { h.await(intervalMs = 10) }
    assert(e.getMessage == "backup task failed")
    assert(h.status().isInstanceOf[AsyncJob.Error])
  }

  test("duplicate live task id is rejected, id is reusable after finish") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val h = AsyncJob.submit(spark, "t-dup") { () => gate.await(); 1 }
    intercept[AsyncJob.DuplicateTaskException] {
      AsyncJob.submit(spark, "t-dup") { () => 2 }
    }
    gate.countDown()
    assert(h.await(intervalMs = 10) == 1)
    // terminal task released the id
    assert(AsyncJob.submit(spark, "t-dup") { () => 3 }.await(intervalMs = 10) == 3)
  }

  test("cancel mid-run sticks: a finishing body cannot overwrite Cancelled") {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val h = AsyncJob.submit(spark, "t-cancel") { () =>
      entered.countDown(); release.await(); 42
    }
    entered.await()
    h.cancel()
    assert(h.status() == AsyncJob.Cancelled)
    release.countDown()
    h.thread.join(5000)
    // the body ran to completion, but its CAS(InProgress -> Success) lost
    assert(h.status() == AsyncJob.Cancelled)
  }

  test("cancel after completion is a no-op: Success is terminal") {
    val h = AsyncJob.submit(spark, "t-late-cancel") { () => 7 }
    assert(h.await(intervalMs = 10) == 7)
    h.cancel()
    assert(h.status() == AsyncJob.Success)
  }
}

class SnapshotSpec extends SparkSpec {
  test("round trip write->read is content-equal both directions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_test_").toString
    val rt = Snapshot.roundTripVerify(
      spark, Tables.nation(spark, sf), s"$dir/nation")
    assert(rt.verified && rt.originalRows == 25)
  }

  test("verifyContent digest mismatch falls back to exact missing/extra counts") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_test_").toString
    val nation = Tables.nation(spark, sf)
    Snapshot.write(nation, s"$dir/nation")
    // expected side differs: one row dropped, one row mutated
    val expected = nation.where(col("n_nationkey") =!= 3)
      .unionByName(nation.where(col("n_nationkey") === 3)
        .withColumn("n_name", lit("MUTATED")))
      .where(col("n_nationkey") =!= 7)
    val rt = Snapshot.verifyContent(spark, expected, s"$dir/nation")
    assert(!rt.verified)
    assert(rt.missing == 1L)  // MUTATED row absent from the snapshot
    assert(rt.extra == 2L)    // snapshot's original key-3 row + key-7 row
  }

  test("compact rewrites a fragmented snapshot into sized files, content-equal") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_test_").toString
    val li = Tables.lineitem(spark, sf)
    li.repartition(20).write.mode("overwrite").parquet(s"$dir/frag")
    val before = new java.io.File(s"$dir/frag")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 20)
    val c = Snapshot.compact(spark, s"$dir/frag", s"$dir/compacted",
      targetBytes = 1L << 30)
    assert(c.files >= 20 && c.targetFiles == 1) // >=: counts _SUCCESS too
    val after = new java.io.File(s"$dir/compacted")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 1)
    // content equality is asserted inside compact (digest); double-check rows
    assert(spark.read.parquet(s"$dir/compacted").count() == li.count())
    // refuses to clobber its input
    intercept[IllegalArgumentException] {
      Snapshot.compact(spark, s"$dir/frag", s"$dir/frag")
    }
  }

  test("incremental diff classifies inserts, deletes, unchanged") {
    import org.apache.spark.sql.functions._
    val prev = Tables.nation(spark, sf)
    val cur = Tables.nation(spark, sf)
      .where(col("n_nationkey") =!= 3 && col("n_nationkey") =!= 7)
      .unionByName(Tables.nation(spark, sf).where(col("n_nationkey") === 7)
        .withColumn("n_name", lit("RENAMED")))
    val inc = Snapshot.incremental(prev, cur)
    assert(inc.deleted == 2)   // key 3 removed + key 7's old row
    assert(inc.inserted == 1)  // key 7's renamed row
    assert(inc.unchanged == 23)
  }

  test("metadata snapshot writes schema + row count without copying data") {
    val dest = java.nio.file.Files.createTempDirectory("graft_meta_")
      .resolve("nation.meta.json").toString
    Snapshot.writeMeta(Tables.nation(spark, sf), dest)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(dest))
    assert(txt.contains("\"rowCount\": 25"))
    assert(txt.contains("n_nationkey") && txt.contains("ddl"))
  }

  test("snapshot delete removes the sink (A5 cleanup analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_del_")
      .resolve("t").toString
    Snapshot.write(Tables.region(spark, sf), dir)
    assert(spark.read.parquet(dir).count() == 5)
    assert(Snapshot.delete(spark, dir))
    assert(!new java.io.File(dir).exists())
  }

  test("retention expires oldest generations by name, keeps the newest") {
    val root = java.nio.file.Files.createTempDirectory("graft_ret_").toString
    val names = Seq("2023_01_01_000000", "2023_06_15_120000",
      "2024_02_29_235959", "2024_03_01_000001").map("db_" + _)
    names.foreach(n =>
      Snapshot.write(Tables.region(spark, sf), s"$root/$n"))
    // A stray staging dir must be neither counted toward `keep` nor
    // deleted — it sorts first, the exact victim of an unfiltered drop.
    new java.io.File(root, "_tmp_staging").mkdir()
    val expired = Snapshot.expireGenerations(spark, root, keep = 2)
    assert(expired == names.take(2), "oldest two (lexicographic = chrono)")
    val left = new java.io.File(root).listFiles().map(_.getName).sorted
    assert(left.toSeq == "_tmp_staging" +: names.drop(2))
    // survivors still readable; keep must be >= 1; missing root is a no-op
    assert(spark.read.parquet(s"$root/${names.last}").count() == 5)
    intercept[IllegalArgumentException] {
      Snapshot.expireGenerations(spark, root, keep = 0)
    }
    assert(Snapshot.expireGenerations(spark, s"$root/_absent", 3).isEmpty)
    Snapshot.delete(spark, root)
  }

  test("time travel reads the latest generation at or before the cutoff") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_tt_").toString
    val at = Seq("2024-01-10T00:00:00Z", "2024-02-10T00:00:00Z",
      "2024-03-10T00:00:00Z").map(java.time.Instant.parse)
    at.zipWithIndex.foreach { case (t, i) =>
      Snapshot.write(
        Tables.nation(spark, sf).where(col("n_nationkey") < 10 + i),
        s"$root/${Snapshot.snapshotName("db", t)}")
    }
    // A sibling database whose name EXTENDS "db" ("db_1_…" startsWith
    // "db_" and sorts below any "db_2024…" cutoff) must never be read
    // as a generation of "db". Write it with a different row count so
    // a wrong pick is visible.
    Snapshot.write(
      Tables.nation(spark, sf).where(col("n_nationkey") < 3),
      s"$root/${Snapshot.snapshotName("db_1", at.head)}")
    def rowsAsOf(s: String) = Snapshot.readAsOf(
      spark, root, "db", java.time.Instant.parse(s)).count()
    assert(rowsAsOf("2024-02-20T00:00:00Z") == 11) // gen 2
    assert(rowsAsOf("2024-02-10T00:00:00Z") == 11) // boundary inclusive
    assert(rowsAsOf("2025-01-01T00:00:00Z") == 12) // latest
    intercept[Snapshot.EmptySnapshotException] {
      rowsAsOf("2023-12-31T00:00:00Z") // before the first generation
    }
    Snapshot.delete(spark, root)
  }

  test("atomic publish: verified-then-visible, immutable dest, staging always cleaned") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_pub_").toString
    val dest = s"$root/${Snapshot.snapshotName("db",
      java.time.Instant.parse("2024-05-01T00:00:00Z"))}"
    val rt = Snapshot.publishAtomic(spark, Tables.nation(spark, sf), dest)
    assert(rt.verified && rt.originalRows == 25)
    assert(spark.read.parquet(dest).count() == 25)
    // staging gone after success (unique-suffixed names: glob check)
    def stagingDirs() = new java.io.File(root).listFiles()
      .filter(_.getName.contains("__staging__"))
    assert(stagingDirs().isEmpty)
    // the staging name must be invisible to retention even mid-publish
    assert(!Snapshot.expireGenerations(spark, root, keep = 1)
      .exists(_.contains("__staging__")))
    // generations are immutable: re-publish fails, dest untouched
    intercept[Snapshot.SnapshotExistsException] {
      Snapshot.publishAtomic(spark, Tables.region(spark, sf), dest)
    }
    assert(spark.read.parquet(dest).count() == 25)
    // a failing publish (empty source) leaves no dest and no staging
    val dest2 = s"$root/db_2024_06_01_000000"
    intercept[Snapshot.EmptySnapshotException] {
      Snapshot.publishAtomic(spark,
        Tables.nation(spark, sf).where(col("n_nationkey") < 0), dest2)
    }
    assert(!new java.io.File(dest2).exists())
    assert(stagingDirs().isEmpty)
    Snapshot.delete(spark, root)
  }

  test("publish writes a manifest; pruning skips generations from stats alone") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_mani_").toString
    // two generations with disjoint n_nationkey ranges
    val lowGen = s"$root/db_2024_01_01_000000"
    val highGen = s"$root/db_2024_02_01_000000"
    Snapshot.publishAtomic(spark,
      Tables.nation(spark, sf).where(col("n_nationkey") < 10), lowGen)
    Snapshot.publishAtomic(spark,
      Tables.nation(spark, sf).where(col("n_nationkey") >= 10), highGen)
    // manifest landed atomically with the generation and carries the
    // A15 non-empty answer + per-column stats without any parquet read
    val m = Snapshot.readManifest(spark, lowGen)
    assert(m.nonEmpty && m.get.rowCount == 10)
    val stats = m.get.columns("n_nationkey")
    assert(stats.min == "0" && stats.max == "9")
    assert(m.get.columns.contains("n_name")) // string stats too
    // manifest-driven skip: a range entirely above lowGen's max keeps
    // only highGen — and deleting lowGen's PARQUET (manifest intact)
    // proves the pruning decision never opened the data files
    new java.io.File(lowGen).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    assert(Snapshot.generationsInRange(
      spark, root, Some("db"), "n_nationkey", 15L, 20L)
      == Seq("db_2024_02_01_000000"))
    // overlap keeps both; a column with no stats keeps both (no prune
    // without proof)
    assert(Snapshot.generationsInRange(
      spark, root, Some("db"), "n_nationkey", 5L, 15L).size == 2)
    assert(Snapshot.generationsInRange(
      spark, root, Some("db"), "no_such_col", 0L, 1L).size == 2)
    Snapshot.delete(spark, root)
  }

  test("atomic publish: two racing publishers — one wins, loser fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_race_").toString
    val dest = s"$root/db_2024_07_01_000000"
    // Two concurrent publishers, same generation, different content
    // (25-row nation vs 5-row region) so the winner is identifiable.
    // Unique staging names mean they cannot collide pre-commit; the
    // create-if-absent commit rename admits exactly one.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq(
      Future(scala.util.Try {
        Snapshot.publishAtomic(spark, Tables.nation(spark, sf), dest); 25L
      }),
      Future(scala.util.Try {
        Snapshot.publishAtomic(spark, Tables.region(spark, sf), dest); 5L
      }))
    val outcomes = Await.result(Future.sequence(attempts), 5.minutes)
    val wins = outcomes.collect { case scala.util.Success(n) => n }
    val losses = outcomes.collect { case scala.util.Failure(e) => e }
    assert(wins.size == 1, s"exactly one publisher must win, got $outcomes")
    assert(losses.forall(_.isInstanceOf[Snapshot.SnapshotExistsException]),
      s"loser must fail with SnapshotExistsException, got $losses")
    // winner's generation is intact and matches the winner's content
    assert(spark.read.parquet(dest).count() == wins.head)
    // both stagings cleaned on every exit path
    assert(new java.io.File(root).listFiles()
      .filter(_.getName.contains("__staging__")).isEmpty)
    Snapshot.delete(spark, root)
  }

  test("events.ts µs truncation: fixture post-epoch; div-vs-floor divergence pinned") {
    import org.apache.spark.sql.functions.{col, min}
    import org.apache.spark.sql.types.LongType
    // When the fixture encodes ts as raw int64 nanos, Tables.events
    // truncates with `ts div 1000` (toward zero); DuckDB's nanos→µs
    // cast floors. They agree iff ts >= 0, so the oracle coupling
    // silently depends on the fixture staying post-epoch — assert that
    // here so a future fixture with pre-1970 rows fails THIS test
    // instead of becoming an oracle mystery. For the TIMESTAMP(µs)
    // encoding no truncation happens and the check is vacuous; assert
    // instead that normalization lands on TimestampType.
    val raw = spark.read.parquet(s"$sf/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        val minRaw = raw.select(min(col("ts"))).head.getLong(0)
        assert(minRaw > 0L,
          "fixture gained pre-epoch events: div-1000 (toward zero) and " +
            "DuckDB's floor cast diverge for negative nanos — switch " +
            "Tables.events to floorDiv AND re-verify the oracle")
      case _ =>
        assert(engine.Tables.events(spark, sf).schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampType)
    }
    // the divergence itself, pinned as documentation:
    assert(-1500L / 1000L == -1L && Math.floorDiv(-1500L, 1000L) == -2L)
  }

  test("log lines carry the UTC ISO prefix and coded failures rethrow") {
    val at = java.time.Instant.parse("2024-01-05T10:47:33Z")
    assert(graft.engine.Log.line("starting backup", at)
      == "2024-01-05T10:47:33Z : starting backup")
    val e = intercept[graft.engine.Log.CodedException] {
      graft.engine.Log.fail("Error dump file has no data", 2)
    }
    assert(e.code == 2)
  }

  /** Rows read by the tasks of the jobs `body` starts, and the number
    * of SQL actions that succeeded meanwhile. */
  private def passes(body: => Unit): (Long, Int) = {
    import org.apache.spark.scheduler._
    val key = "graft.spec.passes"
    val tag = java.util.UUID.randomUUID().toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rows = new java.util.concurrent.atomic.AtomicLong
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val queries = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { actions.incrementAndGet(); () }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(tasks)
    spark.listenerManager.register(queries)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.ListenerBusDrain(sc)
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(tasks)
    }
    (rows.get, actions.get)
  }

  private def parquetRows(dir: String, n: Long): org.apache.spark.sql.DataFrame = {
    spark.range(0, n, 1, 4).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("publishAtomic, publishGeneration and roundTripVerify read the source " +
      "once and the written files once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_passes_").toString
    val src = parquetRows(s"$dir/src", 400L)
    val (published, _) = passes {
      assert(Snapshot.publishAtomic(spark, src, s"$dir/db_2024_08_01_000000").verified)
    }
    assert(published == 2 * 400L,
      s"publish read $published rows: expected the source once and the staged files once")
    val (bucketed, _) = passes {
      graft.engine.Bucketed.publishGeneration(spark, src, s"$dir/gen_1", "id", 4)
    }
    assert(bucketed == 2 * 400L,
      s"bucketed publish read $bucketed rows: expected the source once and the staged files once")
    val (roundTripped, _) = passes {
      assert(Snapshot.roundTripVerify(spark, src, s"$dir/rt").verified)
    }
    assert(roundTripped == 2 * 400L,
      s"round trip read $roundTripped rows: expected the source once and the written files once")
    Snapshot.delete(spark, dir)
  }

  test("incremental runs a single aggregation that reads each generation once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_passes_").toString
    val prev = parquetRows(s"$dir/prev", 300L)
    val cur = parquetRows(s"$dir/cur", 200L)
    var inc: Snapshot.Incremental = null
    val (read, actions) = passes { inc = Snapshot.incremental(prev, cur) }
    assert(inc == Snapshot.Incremental(inserted = 0L, deleted = 100L, unchanged = 200L))
    assert(actions == 1, s"incremental ran $actions actions")
    assert(read == 300L + 200L, s"incremental read $read rows")
    Snapshot.delete(spark, dir)
  }

  test("a part file lost while the staged write commits is caught: no " +
      "generation, no staging, the exact missing count") {
    import java.nio.file.{Files, Paths}
    ObjectStoreFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val work = Files.createTempDirectory("graft_lost_part_")
    val lost = Files.createDirectory(work.resolve("lost"))
    val dest = s"objstore://$work/db_2024_08_01_000000"
    val src = spark.range(0, 400, 1, 4).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
    // the job commit renames each part file into the staging dir; on this
    // copy-rename store the gate moves the first one away once copied
    @volatile var renaming: String = null
    val dropped = new java.util.concurrent.atomic.AtomicBoolean(false)
    ObjectStoreFileSystem.renameGate = Some(ObjectStoreFileSystem.RenameGate(
      dstMatch = { d =>
        val hit = d.contains("__staging__") && !d.contains("_temporary") &&
          new org.apache.hadoop.fs.Path(d).getName.startsWith("part-")
        if (hit) renaming = d
        hit
      },
      afterEachFile = _ => if (dropped.compareAndSet(false, true)) {
        val f = Paths.get(new org.apache.hadoop.fs.Path(renaming).toUri.getPath)
        Files.move(f, lost.resolve(f.getFileName))
        ()
      }))
    val e =
      try intercept[IllegalArgumentException] {
        Snapshot.publishAtomic(spark, src, dest)
      } finally ObjectStoreFileSystem.renameGate = None
    assert(dropped.get, "no part file was renamed into staging")
    val missing = spark.read.parquet(lost.toString).count()
    assert(missing > 0L && missing < 400L)
    assert(e.getMessage.contains(s"missing=$missing extra=0"), e.getMessage)
    assert(!Files.exists(work.resolve("db_2024_08_01_000000")))
    val left = work.toFile.listFiles().map(_.getName).toSeq
    assert(!left.exists(_.contains("__staging__")), left.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("write reads its source once and counts what it wrote; an empty source still throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_write_").toString
    val src = parquetRows(s"$dir/src", 400)
    var n = -1L
    val (rows, actions) = passes { n = Snapshot.write(src, s"$dir/out") }
    assert(n == 400L)
    assert(rows == 400L && actions == 1,
      s"write read $rows rows in $actions actions; expected 400 in 1")
    assert(spark.read.parquet(s"$dir/out").count() == 400L)
    intercept[Snapshot.EmptySnapshotException] {
      Snapshot.write(src.where(org.apache.spark.sql.functions.lit(false)),
        s"$dir/empty")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("empty snapshot fails with the exit-code-2 analog") {
    import org.apache.spark.sql.functions.lit
    val empty = Tables.nation(spark, sf).where(lit(false))
    val dir = java.nio.file.Files.createTempDirectory("graft_test_").toString
    intercept[Snapshot.EmptySnapshotException] {
      Snapshot.write(empty, s"$dir/empty")
    }
  }
}

class GateSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("observe-based gate measures on the action's own pass and matches a direct aggregate") {
    val docs = engine.Tables.documents(spark, sf)
    val (gated, obs) = engine.Gate.observed(
      docs, "corpus_ingest", engine.Gate.corpusMetrics)
    // the ACTION is the pipeline's own write (noop sink) — no second
    // aggregation job runs for the metrics
    Bench.materialize(gated)
    val row = engine.Gate.require_(obs, m =>
      m("null_ids") == 0L && m("n_rows").asInstanceOf[Long] > 0)
    val direct = docs.agg(
      count(lit(1)), count(when(col("doc_id").isNull, 1)),
      count(when(length(col("text")) === 0, 1)),
      sum(col("n_chars")).cast("long")).head()
    assert(row("n_rows") == direct.getLong(0))
    assert(row("null_ids") == direct.getLong(1))
    assert(row("empty_docs") == direct.getLong(2))
    assert(row("total_chars") == direct.getLong(3))
  }

  test("gate rejection carries the metric row; observation is per-run") {
    val docs = engine.Tables.documents(spark, sf)
    val (gated, obs) = engine.Gate.observed(
      docs, "reject_gate", engine.Gate.corpusMetrics)
    Bench.materialize(gated)
    val e = intercept[IllegalStateException] {
      engine.Gate.require_(obs, _ => false)
    }
    assert(e.getMessage.contains("reject_gate")
      && e.getMessage.contains("n_rows"))
  }

  test("streaming gate observes every micro-batch on its own pass; a " +
      "violating batch fails loudly with its batch id") {
    // r14: the per-batch form — one observed row per micro-batch in
    // QueryProgress.observedMetrics, computed by the batch's own
    // tasks. Three batches stream a documents-shaped feed; batch
    // metrics must sum to the direct whole-input aggregate, and a
    // rule violated only by the batch carrying an empty doc must name
    // THAT batch.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("doc_id", "text", "n_chars")
    val gated = engine.Gate.observedStream(
      df, "stream_ingest", engine.Gate.corpusMetrics)
    val q = gated.writeStream.format("noop").outputMode("append").start()
    try {
      mem.addData((1L, "alpha", 5L), (2L, "beta", 4L))
      q.processAllAvailable()
      mem.addData((3L, "gamma", 5L))
      q.processAllAvailable()
      mem.addData((4L, "", 0L), (5L, "delta", 5L)) // the bad batch
      q.processAllAvailable()
      // telemetry path: all three batch rows, summing to the input
      val rows = engine.Gate.requireStream(q, "stream_ingest",
        m => m("n_rows").asInstanceOf[Long] > 0)
      assert(rows.size == 3)
      assert(rows.map(_("n_rows").asInstanceOf[Long]).sum == 5L)
      assert(rows.map(_("total_chars").asInstanceOf[Long]).sum == 19L)
      // gate path: the empty-doc rule must reject exactly the batch
      // that carried it, naming the batch id and metrics
      val e = intercept[IllegalStateException] {
        engine.Gate.requireStream(q, "stream_ingest",
          m => m("empty_docs").asInstanceOf[Long] == 0L)
      }
      assert(e.getMessage.contains("batch 2") &&
        e.getMessage.contains("empty_docs"),
        e.getMessage)
    } finally q.stop()
  }
}
