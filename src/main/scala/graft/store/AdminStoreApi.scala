package graft.store

import java.time.Instant

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Backend-neutral admin-store surface. The reference keeps its admin
  * tables behind a SQLAlchemy engine URI (batch_runner.py:57) so one
  * runner works against SQLite in tests and Postgres in production; this
  * trait is that seam for the Spark runner — the parquet directory store
  * ([[AdminStore]]) and the RDBMS store ([[JdbcAdminStore]]) implement the
  * same mutation surface, and every repository READ query (the reference's
  * repository layer, sqlalchemy_*_repository.py) is written once here
  * against the `batches`/`jobs`/... Datasets, so the two backends cannot
  * drift semantically.
  *
  * Concurrency: every public operation passes through [[sync]] — the
  * backend supplies the mutual-exclusion regime (the parquet store's
  * per-root JVM lock + cross-process `_LOCK` file; the JDBC store's
  * connection monitor, with transactional isolation delegated to the
  * RDBMS exactly as the reference does). */
trait AdminStoreApi {
  val spark: SparkSession
  import spark.implicits._

  final val BATCHES = "batches"
  final val JOBS = "jobs"
  final val JOB_TEST_RESULTS = "job_test_results"
  final val BATCH_LOG = "batch_log"
  final val JOB_LOG = "job_log"

  // ---- backend-specific: reads, mutations, locking ----

  def batches: Dataset[BatchRow]
  def jobs: Dataset[JobRow]
  def jobTestResults: Dataset[JobTestRow]
  def batchLog: Dataset[LogRow]
  def jobLog: Dataset[LogRow]

  def appendBatches(rows: Seq[BatchRow]): Unit
  def appendJobs(rows: Seq[JobRow]): Unit
  def appendJobTests(rows: Seq[JobTestRow]): Unit
  def appendBatchLog(rows: Seq[LogRow]): Unit
  def appendJobLog(rows: Seq[LogRow]): Unit

  /** Merge-by-PK (repo.update semantics, sqlalchemy_batch_repository.py
    * and test_batch_repository.py:60-102): replace rows whose `id`
    * appears in `rows`, keep the rest. */
  def upsertBatches(rows: Seq[BatchRow]): Unit
  def upsertJobs(rows: Seq[JobRow]): Unit

  /** Retention delete: drop rows with ts < cutoff
    * (delete_old_entries, sqlalchemy_batch_log_repository.py:29-36).
    * Returns the number of rows deleted. */
  def deleteOlderThan(table: String, cutoff: Instant): Long

  /** Cascade delete of batches (+ child jobs, test results) older than
    * the cutoff — explicit cascade like
    * sqlalchemy_batch_repository.py:31-41. */
  def deleteBatchesOlderThan(cutoff: Instant): Long

  def close(): Unit

  /** Serialize one store operation (reentrant). */
  protected def sync[T](f: => T): T

  // ---- Read queries (the reference's repository surface, §2.B shapes),
  //      shared verbatim by every backend ----

  private def byNameDesc(df: DataFrame, nameCol: String, name: String): DataFrame =
    // case-insensitive match = ilike without wildcards
    // (sqlalchemy_job_repository.py:35)
    df.filter(lower(col(nameCol)) === name.toLowerCase)
      .orderBy(col("ts").desc, col("id").desc)

  /** The `n` most recent runs of a batch, newest first. */
  private def latestRuns(name: String, n: Int): Seq[BatchRow] =
    byNameDesc(batches.toDF(), "name", name).as[BatchRow].take(n).toSeq

  /** Latest run of a batch (get_latest, sqlalchemy_batch_repository.py:47-56). */
  def latestBatch(name: String): Option[BatchStatus] = sync {
    latestRuns(name, 1).headOption.map(hydrate)
  }

  /** Stored state of one batch run, by id (fresh read). */
  def batchById(id: String): Option[BatchStatus] = sync {
    batches.filter(_.id == id).collect().headOption.map(hydrate)
  }

  /** Previous run — OFFSET 1 because the current in-progress row is already
    * inserted (sqlalchemy_batch_repository.py:76-86). */
  def previousBatch(name: String): Option[BatchStatus] = sync {
    latestRuns(name, 2).lift(1).map(hydrate)
  }

  /** Reconstruct the nested BatchStatus from the flat tables (the join +
    * collect form of the ORM relationships, admin_orm.py:105-129). */
  def hydrate(b: BatchRow): BatchStatus = {
    val jobRows = jobs.filter(_.batch_id == b.id).collect().toSeq
    val jobIds = jobRows.map(_.id)
    val tests =
      if (jobIds.isEmpty) Map.empty[String, Seq[JobTestRow]]
      else jobTestResults.toDF().filter(col("job_id").isin(jobIds: _*))
        .as[JobTestRow].collect().toSeq.groupBy(_.job_id)
    val results = jobRows.sortBy(_.ts).map { j =>
      val status: JobStatus =
        if (j.running) JobStatus.InProgress
        else if (j.skipped) JobStatus.Skipped(j.skipped_reason.getOrElse(""))
        else if (j.execution_error_occurred.contains(true))
          JobStatus.Failed(j.execution_error_message.getOrElse(""))
        else JobStatus.Successful
      JobResult(j.id, j.batch_id, j.job_name, status, j.execution_millis,
        tests.getOrElse(j.id, Nil).sortBy(_.test_name).map(t =>
          JobTestResult(t.id, t.job_id, t.test_name, t.test_passed,
            t.test_failure_message, t.ts)),
        j.ts)
    }
    BatchStatus(b.id, b.name, results, b.execution_millis,
      b.execution_error_message, b.running, b.ts)
  }

  /** Last successful run ts of a job: flag-filtered max
    * (get_last_successful_ts, sqlalchemy_job_repository.py:67-82). */
  def lastSuccessfulTs(jobName: String): Option[Instant] = sync {
    maxTs(jobs.toDF()
      .filter(lower(col("job_name")) === jobName.toLowerCase)
      .filter(!col("running") && !col("skipped") &&
        col("execution_error_occurred") === false), max(col("ts")))
  }

  /** Test results of the most recent non-skipped run of a job
    * (latest_test_results, batch_runner.py:411-443). */
  def latestTestResults(jobName: String): Seq[JobTestRow] = sync {
    val latestJob = jobs.toDF()
      .filter(lower(col("job_name")) === jobName.toLowerCase)
      .filter(!col("running") && !col("skipped"))
      .orderBy(col("ts").desc, col("id").desc)
      .as[JobRow].take(1).headOption
    latestJob.map(j => jobTestResults.filter(_.job_id == j.id).collect().toSeq)
      .getOrElse(Nil)
  }

  /** Earliest log ts (get_earliest, sqlalchemy_batch_log_repository.py:42-51). */
  def earliestBatchLogTs: Option[Instant] = sync {
    maxTs(batchLog.toDF(), min(col("ts")))
  }

  private def maxTs(df: DataFrame, aggCol: org.apache.spark.sql.Column): Option[Instant] =
    df.agg(aggCol).collect().headOption
      .flatMap(r => Option(r.getTimestamp(0)).map(_.toInstant))

  /** Regression delta between the latest two runs
    * (get_latest_batch_delta, sqlalchemy_batch_repository.py:58-74). Both
    * runs come from one sorted read under one lock, so a same-name batch
    * appended in between cannot make "previous" the old "current". */
  def batchDelta(name: String): Option[BatchDelta] = sync {
    val runs = latestRuns(name, 2)
    runs.headOption.map(cur => BatchDelta(hydrate(cur), runs.lift(1).map(hydrate)))
  }

  /** Execution-TIME regression report: jobs whose latest completed run
    * took more than `factor`× the median of its prior completed runs —
    * the runtime analogue of `batchDelta`'s test-result regressions (the
    * reference records execution_millis on every run precisely so an
    * operator can ask this; this query closes that loop). Jobs with no
    * history or no latest millis are skipped; the prior median is the
    * lower median (exact, no interpolation). Runs per job are
    * driver-scale (admin bookkeeping), so the collect mirrors the other
    * repository reads. Returns (job_name, latest_millis, baseline_median,
    * factor_x100) sorted by worst regression first. */
  def slowJobs(factor: Double = 2.0): Seq[(String, Long, Long, Long)] = sync {
    val done = jobs.toDF()
      .filter(!col("running") && !col("skipped") &&
        col("execution_error_occurred") === false &&
        col("execution_millis").isNotNull)
      .orderBy(col("ts").desc, col("id").desc)
      .as[JobRow].collect()
    done.groupBy(_.job_name.toLowerCase).toSeq.flatMap { case (_, runs) =>
      val latest = runs.head
      val prior = runs.tail.flatMap(_.execution_millis)
      if (prior.isEmpty || latest.execution_millis.isEmpty) None
      else {
        val base = prior.sorted.apply((prior.length - 1) / 2)
        val cur = latest.execution_millis.get
        if (base >= 0 && cur > factor * base)
          Some((latest.job_name, cur, base,
            if (base == 0) Long.MaxValue else cur * 100L / base))
        else None
      }
    }.sortBy(t => (-t._4, t._1))
  }
}

object AdminStoreApi {
  /** Build the store a config's admin URI names — the reference's
    * create-engine-from-URI dispatch (batch_runner.py:57): a `jdbc:` URI
    * is the RDBMS store, anything else a parquet directory root. */
  def forUri(spark: SparkSession, uri: String): AdminStoreApi =
    if (uri.startsWith("jdbc:")) new JdbcAdminStore(spark, uri)
    else new AdminStore(spark, uri)
}
