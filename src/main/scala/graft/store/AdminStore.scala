package graft.store

import java.time.Instant

import graft.model._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Flat admin-table rows (DTO layer). Mirrors admin_orm.py:34-93: five
  * relational tables — batches, jobs, job_test_results, batch_log, job_log —
  * with FK columns instead of nesting; nesting is reconstructed with joins
  * when a BatchStatus is materialized (the reference does the same through
  * ORM relationships, admin_orm.py:105-129). */
final case class BatchRow(
    id: String, name: String, execution_millis: Option[Long],
    execution_error_occurred: Option[Boolean],
    execution_error_message: Option[String],
    running: Boolean, ts: Instant)

final case class JobRow(
    id: String, batch_id: String, job_name: String,
    execution_millis: Option[Long], execution_error_occurred: Option[Boolean],
    execution_error_message: Option[String], running: Boolean,
    skipped: Boolean, skipped_reason: Option[String], ts: Instant)

final case class JobTestRow(
    id: String, job_id: String, test_name: String, test_passed: Boolean,
    test_failure_message: Option[String], ts: Instant)

final case class LogRow(
    id: String, parent_id: String, log_level: String, message: String,
    ts: Instant)

/** Admin bookkeeping store over parquet tables under `root`.
  *
  * Write discipline (SURVEY.md §7 hard parts): parquet has no MERGE, so
  * upsert/retention are read → rewrite-to-temp → atomic-ish swap. Writing to
  * a temp dir first means we never overwrite a table that is feeding the
  * plan that computes its replacement. Reads are always fresh (no caching):
  * every read lists the table's current files, so a report or a later run
  * sees every prior write. The runner itself never reads its own batch
  * back — its pre-handlers decide from the results it persisted
  * (BatchRunner.preHandlerErrors). Every read declares its table's schema
  * (the case-class encoder's), so no read launches a schema-inference job.
  *
  * Scale note: admin tables grow with runs × jobs, not with data volume —
  * the rewrite-based upsert is O(table) but the table is tiny relative to
  * the data plane. Log appends are buffered per job/batch (Loggers.scala),
  * never row-at-a-time files.
  *
  * Writer safety: the reference delegates concurrent-writer correctness to
  * its RDBMS (SERIALIZABLE sessions, tests/conftest.py:75) while
  * run_batches_in_parallel spreads batches over OS processes
  * (batch_runner.py:36-46). A directory store has no transaction manager,
  * so the contract here is SINGLE WRITER PROCESS, enforced: the first
  * mutation creates `root/_LOCK` (create-if-absent) holding this process's
  * token + acquisition timestamp, then READS THE FILE BACK and proceeds only
  * if its own token is what the lock actually holds — bare create-if-absent
  * is atomic on HDFS but check-then-create on LocalFileSystem and object
  * stores, so the read-back is what arbitrates a create/create race there
  * (it narrows the window to the verify instant; on HDFS the create alone is
  * decisive). A store whose root is held by a DIFFERENT process fails fast
  * — with the holder's age in the message, so the operator can tell a
  * crashed holder from a live one — instead of interleaving swapWrite
  * renames. All in-process instances share the token (and the per-root
  * ioLock below), so in-JVM parallel batches stay fully supported.
  * `close()` releases the file; after a writer crash the stale lock is
  * reclaimed explicitly via `AdminStore.forceUnlock` (the operator step a
  * lost RDBMS session never needs — the documented cost of a file-based
  * store). A read-only process can transiently acquire the lock when a read
  * triggers crash-restore (see `exists`), but releases it as soon as the
  * restore completes.
  */
final class AdminStore(val spark: SparkSession, val root: String)
    extends AdminStoreApi {
  import spark.implicits._

  protected def sync[T](f: => T): T = ioLock.synchronized(f)

  /** Canonical identity of the admin root, so two stores built from
    * different spellings of one directory share the same locks. */
  private val rootKey = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** All store I/O serializes on this driver-side lock: concurrent parquet
    * appends into one directory share the _temporary staging dir (one job's
    * commit/abort can clobber another's files), and a reader racing a
    * swapWrite could observe a half-renamed table. Shared JVM-wide per root
    * so every in-process instance over one directory serializes on the same
    * monitor. Admin I/O is tiny and infrequent, so the lock costs nothing;
    * batch parallelism (BatchRunner.runInParallel) is about the data-plane
    * stages, which don't touch this lock. */
  private val ioLock = AdminStore.ioLockFor(rootKey)

  private def lockPath = new Path(s"$root/_LOCK")

  /** Acquire the cross-process writer lock for this root (idempotent per
    * JVM). Create-if-absent of the `_LOCK` file followed by a read-back
    * verification (see the class doc: the read-back, not the create, is
    * what arbitrates races on filesystems where create-if-absent is
    * check-then-create). A hold by another process is a fail-fast error,
    * not a wait — admin writes are driver bookkeeping, and a second writer
    * process is a deployment mistake. */
  private def ensureWriterLock(): Unit = {
    if (AdminStore.heldRoots.contains(rootKey)) return
    var attempt = 0
    while (!AdminStore.heldRoots.contains(rootKey)) {
      attempt += 1
      val payload = AdminStore.lockPayload()
      try {
        val out = fs.create(lockPath, false)
        try {
          out.write(payload.getBytes("UTF-8"))
          out.close()
        } catch {
          case e: java.io.IOException =>
            // Our own write/close failed after the create succeeded. Clean
            // up the partial lock so it doesn't demand forceUnlock later —
            // but ONLY if the file provably holds our (possibly truncated)
            // payload: under the LocalFS create race another process may
            // have won and written a valid lock we must not delete. An
            // unreadable file stays put (can't prove ownership).
            try out.close() catch { case _: java.io.IOException => () }
            // non-empty prefix only: an EMPTY read-back could be another
            // process's just-created, not-yet-written lock (the LocalFS
            // race) — deleting it would orphan that process's verified
            // hold. An empty file of our own is left for forceUnlock;
            // losing that corner beats deleting a live writer's lock.
            if (AdminStore.readRaw(fs, lockPath)
                .exists(r => r.nonEmpty && payload.startsWith(r)))
              fs.delete(lockPath, false)
            throw e
        }
      } catch {
        // Held (or lost a create race): fall through and read the holder.
        // Anything else — permission, disk, connectivity — propagates.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
        case _: java.nio.file.FileAlreadyExistsException        => ()
      }
      // Verify-after-create: trust only what the lock file actually holds.
      // ONE existence snapshot for the None branches: probing twice could
      // see the lock vanish between the two guards and fall through to the
      // terminal "kept vanishing" error on the very first attempt.
      val holderRead = AdminStore.readLock(fs, lockPath)
      val lockPresent = holderRead.isEmpty && fs.exists(lockPath)
      holderRead match {
        case Some(holder) if holder.token == AdminStore.processToken =>
          AdminStore.heldRoots.add(rootKey)
        case Some(holder) =>
          throw new IllegalStateException(
            s"admin root '$root' is locked by another writer process " +
              s"(_LOCK holder ${holder.describe(Instant.now())}). The admin " +
              s"store is single-writer per process; close the other store, " +
              s"or if that process crashed, reclaim with " +
              s"AdminStore.forceUnlock.")
        case None if !lockPresent && attempt < 3 =>
          // the lock vanished between create and read-back (a concurrent
          // close()/forceUnlock released it): acquire again
          ()
        case None if lockPresent =>
          // present but unreadable: an IO problem, not a foreign hold —
          // don't claim "locked by another process" and don't delete what
          // we can't prove we own
          throw new IllegalStateException(
            s"cannot confirm _LOCK ownership for admin root '$root': the " +
              s"lock file cannot be read back. Resolve the I/O issue (or " +
              s"remove a corrupt lock with AdminStore.forceUnlock).")
        case None =>
          // vanished on every attempt: rapid acquire/release churn by
          // other processes, not an IO fault and not a file to forceUnlock
          throw new IllegalStateException(
            s"could not acquire _LOCK for admin root '$root': the lock " +
              s"file kept vanishing between create and read-back — another " +
              s"process is rapidly acquiring and releasing this root.")
      }
    }
  }

  /** Release this process's writer lock on the root (no-op if not held).
    * Later writes from still-live instances simply re-acquire. Deletes the
    * file only if it provably still holds THIS process's token — if an
    * operator ran forceUnlock and another writer acquired in between, a
    * blind delete would destroy the new writer's live lock and silently
    * re-open the two-writer window (the same provable-ownership discipline
    * as the ensureWriterLock partial-write cleanup). */
  private def releaseWriterLock(): Unit =
    if (AdminStore.heldRoots.remove(rootKey) &&
        AdminStore.readLock(fs, lockPath)
          .exists(_.token == AdminStore.processToken))
      fs.delete(lockPath, false)

  def close(): Unit = ioLock.synchronized { releaseWriterLock() }

  private def path(table: String) = s"$root/$table"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Table existence WITH crash recovery: a crash between swapWrite's two
    * renames leaves the live dir missing and the `.old` backup present —
    * restore the backup here (the gate every read and write passes
    * through) so no generation is ever lost. A `.old` found NEXT TO a
    * live dir is the superseded generation (crash after the new table
    * moved in) and is cleaned up by the next swapWrite instead. */
  private def exists(table: String): Boolean = {
    val dst = new Path(path(table))
    if (!fs.exists(dst)) ioLock.synchronized {
      val old = new Path(s"${path(table)}.old")
      if (!fs.exists(dst) && fs.exists(old)) {
        // the restore is a mutation: never interleave it with a live
        // writer process's own swap. A READ-ONLY process that merely
        // triggered crash recovery must not keep the writer lock it
        // acquired for the restore — release it right after, or it would
        // lock out the legitimate writer until this process exits.
        val wasWriter = AdminStore.heldRoots.contains(rootKey)
        ensureWriterLock()
        try {
          if (!fs.rename(old, dst))
            throw new IllegalStateException(s"failed to restore $old -> $dst")
          spark.catalog.refreshByPath(dst.toString)
        } finally if (!wasWriter) releaseWriterLock()
      }
    }
    fs.exists(dst)
  }

  private def schemaOf(table: String): StructType = table match {
    case BATCHES          => Encoders.product[BatchRow].schema
    case JOBS             => Encoders.product[JobRow].schema
    case JOB_TEST_RESULTS => Encoders.product[JobTestRow].schema
    case BATCH_LOG | JOB_LOG => Encoders.product[LogRow].schema
    case other => throw new IllegalArgumentException(s"unknown admin table '$other'")
  }

  /** The one parquet read of an admin table, with its declared schema. */
  private def read(table: String): DataFrame =
    spark.read.schema(schemaOf(table)).parquet(path(table))

  private def readOr[T: Encoder](table: String): Dataset[T] =
    if (exists(table)) read(table).as[T]
    else spark.emptyDataset[T]

  def batches: Dataset[BatchRow] = readOr[BatchRow](BATCHES)
  def jobs: Dataset[JobRow] = readOr[JobRow](JOBS)
  def jobTestResults: Dataset[JobTestRow] = readOr[JobTestRow](JOB_TEST_RESULTS)
  def batchLog: Dataset[LogRow] = readOr[LogRow](BATCH_LOG)
  def jobLog: Dataset[LogRow] = readOr[LogRow](JOB_LOG)

  def appendBatches(rows: Seq[BatchRow]): Unit = append(BATCHES, rows.toDS().toDF())
  def appendJobs(rows: Seq[JobRow]): Unit = append(JOBS, rows.toDS().toDF())
  def appendJobTests(rows: Seq[JobTestRow]): Unit =
    append(JOB_TEST_RESULTS, rows.toDS().toDF())
  def appendBatchLog(rows: Seq[LogRow]): Unit = append(BATCH_LOG, rows.toDS().toDF())
  def appendJobLog(rows: Seq[LogRow]): Unit = append(JOB_LOG, rows.toDS().toDF())

  private def append(table: String, df: DataFrame): Unit = ioLock.synchronized {
    ensureWriterLock()
    df.coalesce(1).write.mode(SaveMode.Append).parquet(path(table))
    spark.catalog.refreshByPath(path(table))
  }

  def upsertBatches(rows: Seq[BatchRow]): Unit = ioLock.synchronized {
    upsert(BATCHES, rows.map(_.id), batches.toDF(), rows.toDS().toDF())
  }
  def upsertJobs(rows: Seq[JobRow]): Unit = ioLock.synchronized {
    upsert(JOBS, rows.map(_.id), jobs.toDF(), rows.toDS().toDF())
  }

  // NOTE: `current` must be constructed inside the ioLock (the file listing
  // happens at DataFrame creation; a concurrent swap between listing and
  // execution would leave it pointing at deleted files).
  private def upsert(table: String, ids: Seq[String], current: DataFrame,
      fresh: DataFrame): Unit = ioLock.synchronized {
    if (!exists(table)) { append(table, fresh); return }
    val kept = current.filter(!col("id").isin(ids: _*))
    swapWrite(table, kept.unionByName(fresh))
  }

  /** Retention rewrite: keep rows with ts >= cutoff. */
  def deleteOlderThan(table: String, cutoff: Instant): Long = ioLock.synchronized {
    if (!exists(table)) return 0L
    val df = read(table)
    val cutoffLit = lit(java.sql.Timestamp.from(cutoff))
    val n = df.filter(col("ts") < cutoffLit).count()
    if (n > 0) swapWrite(table, df.filter(col("ts") >= cutoffLit))
    n
  }

  def deleteBatchesOlderThan(cutoff: Instant): Long = ioLock.synchronized {
    if (!exists(BATCHES)) return 0L
    val cutoffLit = lit(java.sql.Timestamp.from(cutoff))
    val old = batches.toDF().filter(col("ts") < cutoffLit).select("id")
    val n = old.count()
    if (n == 0) return 0L
    val oldIds = old.as[String].collect().toSeq
    val oldJobIds =
      if (exists(JOBS))
        jobs.toDF().filter(col("batch_id").isin(oldIds: _*))
          .select("id").as[String].collect().toSeq
      else Nil
    if (exists(JOB_TEST_RESULTS) && oldJobIds.nonEmpty)
      swapWrite(JOB_TEST_RESULTS,
        jobTestResults.toDF().filter(!col("job_id").isin(oldJobIds: _*)))
    if (exists(JOBS))
      swapWrite(JOBS, jobs.toDF().filter(!col("batch_id").isin(oldIds: _*)))
    swapWrite(BATCHES, batches.toDF().filter(col("ts") >= cutoffLit))
    n
  }

  /** Rewrite `table` from a plan that reads the table itself: write to a
    * temp dir, then swap directories. Never overwrite-in-place mid-read.
    * Durability: the old generation is renamed ASIDE (not deleted) before
    * the new one moves in, so a crash at any point leaves either the old or
    * the new table on disk — the closest a directory store gets to the
    * reference's transactional RDBMS upsert. The `.old` copy is removed
    * only after the swap succeeds; a stale one from a prior crash is
    * cleaned up on the next write. */
  private def swapWrite(table: String, df: DataFrame): Unit = {
    ensureWriterLock()
    // GC tmp dirs orphaned by a previous crash (between write and rename)
    // or a failed swap (tmp is intentionally kept then). They are uniquely
    // named, so without this sweep crash loops would accumulate dead data
    // forever — same discipline as the stale .old delete below.
    Option(fs.globStatus(new Path(s"${path(table)}.tmp*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
    val tmp = new Path(s"${path(table)}.tmp${System.nanoTime()}")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val dst = new Path(path(table))
    val old = new Path(s"${path(table)}.old")
    fs.delete(old, true) // stale backup from a previous crash, if any
    val hadOld = fs.exists(dst) && {
      if (!fs.rename(dst, old))
        throw new IllegalStateException(s"failed to set aside $dst -> $old")
      true
    }
    if (!fs.rename(tmp, dst)) {
      if (hadOld) fs.rename(old, dst) // restore; leaves tmp for inspection
      throw new IllegalStateException(s"failed to swap $tmp -> $dst")
    }
    fs.delete(old, true)
    // drop Spark's cached file listing for the old generation of the table
    spark.catalog.refreshByPath(dst.toString)
  }

  // Read queries (latestBatch/previousBatch/hydrate/lastSuccessfulTs/
  // latestTestResults/earliestBatchLogTs/batchDelta) are inherited from
  // AdminStoreApi — shared with the JDBC backend.
}

object AdminStore {
  /** Writer identity of this JVM: every in-process store shares it, so the
    * `_LOCK` file excludes other PROCESSES only (in-process writers already
    * serialize on the per-root ioLock). */
  private val processToken: String = java.util.UUID.randomUUID().toString

  /** Parsed `_LOCK` contents: line 1 = holder token, line 2 = acquisition
    * instant (ISO-8601), line 3 = pid@host. Lines 2-3 are diagnostics for
    * the operator deciding whether a holder crashed; only the token
    * arbitrates. Older single-line lock files parse as token-only. */
  final case class LockInfo(token: String, acquiredAt: Option[Instant],
      process: Option[String]) {
    def describe(now: Instant): String = {
      val age = acquiredAt.map { ts =>
        s", acquired $ts (${java.time.Duration.between(ts, now).toSeconds}s ago)"
      }.getOrElse(", acquisition time unknown")
      s"$token${process.map(p => s" [$p]").getOrElse("")}$age"
    }
  }

  private def lockPayload(): String = {
    val proc = java.lang.ProcessHandle.current().pid().toString + "@" +
      java.net.InetAddress.getLocalHost.getHostName
    s"$processToken\n${Instant.now()}\n$proc"
  }

  private def readRaw(fs: FileSystem, lockPath: Path): Option[String] =
    try {
      val in = fs.open(lockPath)
      Some(try new String(in.readAllBytes(), "UTF-8") finally in.close())
    } catch { case _: java.io.IOException => None }

  private def readLock(fs: FileSystem, lockPath: Path): Option[LockInfo] =
    readRaw(fs, lockPath).map { raw =>
      val lines = raw.split("\n", -1)
      LockInfo(
        lines.headOption.getOrElse(""),
        lines.lift(1).flatMap(s => scala.util.Try(Instant.parse(s)).toOption),
        lines.lift(2).filter(_.nonEmpty))
    }

  /** The current `_LOCK` holder of `root`, if any — the operator-facing
    * probe for deciding whether a hold is stale before `forceUnlock`. */
  def lockHolder(spark: SparkSession, root: String): Option[LockInfo] = {
    val p = new Path(s"$root/_LOCK")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) readLock(fs, p) else None
  }

  private val ioLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def ioLockFor(rootKey: String): Object =
    ioLocks.computeIfAbsent(rootKey, _ => new Object)

  /** Roots whose `_LOCK` this process currently holds. */
  private val heldRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Reclaim a root after a writer crash left its `_LOCK` behind. Explicit
    * and unconditional by design — the operator asserts the old writer is
    * dead, exactly like clearing a stale RDBMS advisory lock. */
  def forceUnlock(spark: SparkSession, root: String): Unit = {
    val p = new Path(s"$root/_LOCK")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    heldRoots.remove(
      fs.makeQualified(new Path(root)).toString)
  }
}
