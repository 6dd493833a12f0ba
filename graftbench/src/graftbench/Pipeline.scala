package graftbench

import graft.examples.TrainingDataPipeline
import graft.model.{Batch, BatchStatus, JobStatus}
import graft.runner.BatchRunner
import graft.store.{AdminStore, AdminStoreApi}

/** `pipeline`: the 7-job training-data curation batch run through
  * BatchRunner and a parquet AdminStore, followed by the operator report
  * over the same store. The corpus comes from the seed; every batch writes
  * to a fresh output directory; the admin root is fresh per process. In
  * set-up one cold batch and report warm the JVM, codegen and the corpus
  * memos, followed (traced runs only) by the admin retention batch. The
  * measure phase is one warm batch (a second one would not fit the
  * benchmark's time budget) and then the report, repeated a number of
  * times fixed by `--seconds`; the report's reads are the workload's
  * steps. */
object Pipeline {
  val Jobs: Seq[String] = Seq("dedup_documents", "quality_filter", "featurize",
    "chunk_pack", "publish_corpus", "profile_corpus", "split_corpus")
  val Documents = 100L
  /** The measure phase runs one report per this many seconds of
    * `--seconds` (a warm batch takes about 13 s on 4 cores, a report 3 s,
    * so 20 s hold the batch and two reports). */
  val ReportEveryS = 10.0

  def run(r: Run): Result = {
    val spark = r.spark
    val data = s"${r.opts.runDir}/data/corpus"
    DataGen.documents(spark, data, r.opts.seed, Documents)
    r.phase("data")
    val plain: AdminStoreApi = new AdminStore(spark, s"${r.opts.runDir}/admin")
    val store = r.tracer.fold(plain)(new TracedStore(plain, _))
    val runner = new BatchRunner(spark, store)
    val expect = new Report.Expect

    /** A checked batch into a fresh output dir. */
    def batch(k: Int): Option[BatchStatus] = {
      val b0 = TrainingDataPipeline.batch(data, s"${r.opts.runDir}/out/batch_$k")
      val b = r.tracer.fold(b0)(t => b0.copy(jobs = b0.jobs.map(new TracedJob(_, t))))
      r.attempt(s"pipeline batch $k")(r.span("batch", b.name)(runner.run(b)))
        .filter { st => expect.add(st); checkBatch(r, b, st, k) }
    }
    /** A checked report after `st`: the latency of each of its reads. */
    def report(st: BatchStatus): Option[Seq[Double]] =
      r.span("report", "report")(Report.run(r, store, expect, st))

    batch(-1).foreach(report)
    // the admin retention batch, once per traced process: its store.delete*
    // calls are per-layer metrics only, so untraced set-up skips it
    if (r.opts.trace)
      r.attempt("retention pass")(r.span("batch", "admin")(
        BatchRunner.runAdmin(spark, store))).foreach { a =>
        expect.add(a)
        r.check(a.brokenJobs.isEmpty, s"retention batch broke: ${a.brokenJobs}")
      }
    r.phase("warm-up")
    r.startMeasure()
    val (sample, st) = r.timed(batch(0))
    r.endMeasure()
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reports = st.toSeq.flatMap(st => r.measure(r.unitsFor(ReportEveryS, 1)) { _ =>
      report(st).map(reads ++= _).isDefined
    })
    store.close()
    Result(unitS = sample.wall, cpuS = sample.cpu, units = st.size,
      steps = reads.toSeq, reports = reports.size, batches = st.toSeq,
      adminRoot = Some(s"${r.opts.runDir}/admin"), dataDir = data,
      samples = Map("report_reads" -> reads.toSeq, "report_wall" -> reports.map(_.wall)))
  }

  /** The batch must run every job, pass every data test and break
    * nothing. */
  private def checkBatch(r: Run, b: Batch, st: BatchStatus, k: Int): Boolean =
    r.check(st.brokenJobs.isEmpty, s"pipeline batch $k broken jobs: ${st.brokenJobs}") &&
      r.check(st.jobResults.map(_.jobName) == b.jobs.map(_.name) &&
        st.jobResults.forall(_.status == JobStatus.Successful),
        s"pipeline batch $k did not run every job: " +
          st.jobResults.map(j => s"${j.jobName}=${j.status}").mkString(", ")) &&
      r.check(st.jobResults.flatMap(_.testResults).size == 9 &&
        st.jobResults.flatMap(_.testResults).forall(_.passed),
        s"pipeline batch $k data tests: " + st.jobResults.flatMap(_.testResults)
          .map(t => s"${t.testName}=${t.passed}").mkString(", "))
}
