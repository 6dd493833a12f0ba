package graft.store

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset

/** Parquet-directory backend: the shared AdminStoreContract plus the
  * durability mechanics only this backend has — swap-rename crash
  * recovery and the cross-process writer lock (an RDBMS backend gets
  * both from its database). */
class AdminStoreSpec extends AdminStoreContract {
  protected def newStore() =
    new AdminStore(TestSpark.spark, TestSpark.tmpDir("admin"))
  private def newParquetStore(): AdminStore =
    new AdminStore(TestSpark.spark, TestSpark.tmpDir("admin"))

  /** Spark jobs launched by `f` on this thread, counted by a listener that
    * keys on a local property only this call sets (other threads' jobs are
    * not counted). */
  private def sparkJobs(f: => Any): Int = {
    val sc = TestSpark.spark.sparkContext
    val key = "graft.test.jobcount"
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try f
    finally {
      sc.setLocalProperty(key, null)
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  private def id(s: String) = s.padTo(32, '0')

  test("admin reads declare their schema: no schema-inference jobs") {
    val st = newParquetStore()
    def job(j: String, b: String, ts: Instant) = JobRow(id(j), id(b), j,
      Some(1L), Some(false), None, running = false, skipped = false, None, ts)
    // two runs of one batch, two jobs each, no tests
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z")),
      batchRow("b2", "nightly", t("2024-01-02T00:00:00Z"))))
    st.appendJobs(Seq(job("j1", "b1", t("2024-01-01T00:00:00Z")),
      job("j2", "b1", t("2024-01-01T00:01:00Z")),
      job("j3", "b2", t("2024-01-02T00:00:00Z")),
      job("j4", "b2", t("2024-01-02T00:01:00Z"))))
    assert(sparkJobs(st.jobs.collect()) == 1)
    assert(sparkJobs(st.lastSuccessfulTs("j3")) == 2)
    val latestThenPrevious =
      sparkJobs { st.latestBatch("nightly"); st.previousBatch("nightly") }
    val delta = sparkJobs(st.batchDelta("nightly"))
    info(s"batchDelta: $delta Spark jobs; latestBatch + previousBatch: $latestThenPrevious")
    assert(delta < latestThenPrevious)
    val d = st.batchDelta("nightly").get
    assert(d.current.id == id("b2") && d.previous.map(_.id).contains(id("b1")))
    assert(d.commonJobs.isEmpty) // the two runs share no job name
  }

  test("declared schemas round-trip every table, through append and the retention rewrite") {
    val st = newParquetStore()
    val old = t("2024-01-01T00:00:00Z")
    val ts = t("2024-03-01T10:20:30.123456Z") // microsecond precision
    val cutoff = t("2024-02-01T00:00:00Z")
    // per table: a row the retention pass deletes, a row with every Option
    // None and a row with every Option Some
    def roundTrip[T](table: String, rows: Seq[T])(append: Seq[T] => Unit,
        read: => Dataset[T]): Unit = {
      append(rows)
      assert(read.collect().toSet == rows.toSet, table)
      assert(st.deleteOlderThan(table, cutoff) == 1, table)
      assert(read.collect().toSet == rows.tail.toSet, table)
    }
    roundTrip(st.BATCHES, Seq(
      BatchRow(id("b0"), "nightly", None, None, None, running = false, old),
      BatchRow(id("b1"), "nightly", None, None, None, running = true, ts),
      BatchRow(id("b2"), "nightly", Some(7L), Some(true), Some("boom"),
        running = false, ts)))(st.appendBatches, st.batches)
    roundTrip(st.JOBS, Seq(
      JobRow(id("j0"), id("b0"), "job", None, None, None, running = false,
        skipped = false, None, old),
      JobRow(id("j1"), id("b1"), "job", None, None, None, running = true,
        skipped = false, None, ts),
      JobRow(id("j2"), id("b2"), "job", Some(9L), Some(false), Some("msg"),
        running = false, skipped = true, Some("why"), ts)))(st.appendJobs, st.jobs)
    roundTrip(st.JOB_TEST_RESULTS, Seq(
      JobTestRow(id("t0"), id("j0"), "check", test_passed = true, None, old),
      JobTestRow(id("t1"), id("j1"), "check", test_passed = true, None, ts),
      JobTestRow(id("t2"), id("j2"), "check", test_passed = false, Some("0 rows"),
        ts)))(st.appendJobTests, st.jobTestResults)
    def logs(p: String) = Seq(LogRow(id(s"${p}0"), id("b0"), "INFO", "old", old),
      LogRow(id(s"${p}1"), id("b1"), "INFO", "first", ts),
      LogRow(id(s"${p}2"), id("b2"), "ERROR", "second", ts))
    roundTrip(st.BATCH_LOG, logs("l"))(st.appendBatchLog, st.batchLog)
    roundTrip(st.JOB_LOG, logs("m"))(st.appendJobLog, st.jobLog)
  }

  test("swapWrite survives a stale .old backup from a simulated crash") {
    val st = newParquetStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    // simulate a crash that left the set-aside copy behind
    val stale = new java.io.File(s"${st.root}/batches.old/junk")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.writeString(stale.toPath, "leftover")
    // the next rewrite must clean it up and swap normally
    st.upsertBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:05:00Z"))))
    assert(!stale.getParentFile.exists(), "stale .old dir must be removed")
    assert(st.batches.count() == 1)
    assert(st.latestBatch("nightly").get.executionMillis.contains(5L))
  }

  test("swapWrite garbage-collects orphaned .tmp dirs from prior crashes") {
    val st = newParquetStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    // simulate crash debris: uniquely-named tmp dirs a failed/interrupted
    // swap left behind (these are never reused, so only a sweep removes them)
    val root = new java.io.File(st.root)
    val junk1 = new java.io.File(root, "batches.tmp111/part-junk")
    val junk2 = new java.io.File(root, "batches.tmp222/part-junk")
    Seq(junk1, junk2).foreach { f =>
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, "dead")
    }
    st.upsertBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:05:00Z"))))
    val leftover = root.listFiles().map(_.getName).filter(_.startsWith("batches.tmp"))
    assert(leftover.isEmpty, s"orphaned tmp dirs not collected: ${leftover.mkString(",")}")
    assert(st.batches.count() == 1)
  }

  test("crash between swap renames is recovered: .old restores as the live table") {
    val st = newParquetStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    st.upsertBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:05:00Z"))))
    // simulate a crash AFTER dst -> .old but BEFORE tmp -> dst: the live
    // dir is gone and only the backup generation remains
    val live = new java.io.File(s"${st.root}/batches")
    val old = new java.io.File(s"${st.root}/batches.old")
    assert(live.renameTo(old))
    // any read must transparently restore the backup — no history lost
    assert(st.batches.count() == 1)
    assert(st.latestBatch("nightly").get.executionMillis.contains(5L))
    assert(live.exists() && !old.exists())
  }

  test("writer lock: a root locked by another process rejects writes until reclaimed") {
    val root = TestSpark.tmpDir("adminlock")
    val st = new AdminStore(TestSpark.spark, root)
    // simulate a FOREIGN process holding the root: its _LOCK with its token
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_LOCK"), "other-process-token")
    val err = intercept[IllegalStateException] {
      st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    }
    assert(err.getMessage.contains("locked by another writer process"))
    assert(!st.batches.collect().exists(_.name == "nightly")) // nothing landed
    // operator reclaims the crashed writer's lock -> writes flow again
    AdminStore.forceUnlock(TestSpark.spark, root)
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    assert(st.batches.count() == 1)
    // our own lock file now exists and carries this process's hold
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_LOCK")))
    // a SECOND in-process store on the same root shares the hold: no error
    val st2 = new AdminStore(TestSpark.spark, root)
    st2.appendBatches(Seq(batchRow("b2", "nightly", t("2024-01-02T00:00:00Z"))))
    assert(st.batches.count() == 2)
    // close releases the file; the next write re-acquires cleanly
    st.close()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_LOCK")))
    st2.appendBatches(Seq(batchRow("b3", "nightly", t("2024-01-03T00:00:00Z"))))
    assert(st.batches.count() == 3)
  }

  test("writer lock diagnostics: holder token, process, and age surface to the operator") {
    val root = TestSpark.tmpDir("adminlockinfo")
    val st = new AdminStore(TestSpark.spark, root)
    // a foreign holder with the full 3-line payload, acquired 2 min ago
    val acquired = Instant.now().minusSeconds(120)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_LOCK"),
      s"other-process-token\n$acquired\n12345@otherhost")
    val err = intercept[IllegalStateException] {
      st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    }
    // the message carries everything the operator needs to judge staleness
    assert(err.getMessage.contains("other-process-token"))
    assert(err.getMessage.contains("12345@otherhost"))
    assert(err.getMessage.contains("s ago"))
    // the probe API exposes the same parsed view
    val holder = AdminStore.lockHolder(TestSpark.spark, root).get
    assert(holder.token == "other-process-token")
    assert(holder.acquiredAt.contains(acquired))
    assert(holder.process.contains("12345@otherhost"))
    // legacy single-line lock files still parse (token-only)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_LOCK"), "bare-token")
    val bare = AdminStore.lockHolder(TestSpark.spark, root).get
    assert(bare.token == "bare-token" && bare.acquiredAt.isEmpty)
    AdminStore.forceUnlock(TestSpark.spark, root)
    assert(AdminStore.lockHolder(TestSpark.spark, root).isEmpty)
  }

  test("crash-restore triggered by a reader releases the writer lock afterwards") {
    val root = TestSpark.tmpDir("adminreadrestore")
    val st = new AdminStore(TestSpark.spark, root)
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    st.close()
    // simulate a crash mid-swap: live dir missing, .old backup present
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root, "batches"),
      java.nio.file.Paths.get(root, "batches.old"))
    val reader = new AdminStore(TestSpark.spark, root)
    assert(reader.batches.count() == 1) // restored through the read gate
    // the transient hold taken for the restore is gone: the legitimate
    // writer process is not locked out by a mere reader
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_LOCK")))
  }
}
