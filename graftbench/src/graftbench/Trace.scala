package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.model._
import graft.store._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}

/** One timed call. `parent` is 0 for a trace root (a batch or a query
  * pass); `kind` is the layer: batch, job.run, job.test, store, query. */
final case class Span(trace: Long, id: Long, parent: Long, kind: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span also sets the Spark local property
  * [[Tracer.LayerKey]] to `kind:name` for its duration, so the
  * [[LayerListener]] can charge every Spark task to the call that
  * launched it without reading any global. Spans are written out once, at
  * the end of the run. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  /** Nanoseconds spent inside the tracer's own bookkeeping. */
  val selfNs = new AtomicLong(0)

  def span[T](kind: String, name: String)(body: => T): T = {
    val b0 = System.nanoTime()
    val stack = open.get()
    val trace = stack.headOption.map(_._1).getOrElse(ids.incrementAndGet())
    val parent = stack.headOption.map(_._2).getOrElse(0L)
    val id = ids.incrementAndGet()
    val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
    sc.setLocalProperty(Tracer.LayerKey, s"$kind:$name")
    open.set((trace, id) :: stack)
    val t0 = System.nanoTime()
    selfNs.addAndGet(t0 - b0)
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(stack)
      sc.setLocalProperty(Tracer.LayerKey, prevLayer)
      done.synchronized { done += Span(trace, id, parent, kind, name, t0, t1) }
      selfNs.addAndGet(System.nanoTime() - t1)
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Self time of every span: its duration minus its direct children's. */
  def selfTimes(ss: Seq[Span]): Seq[(Span, Double)] = {
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.map(s => s -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)
  }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(Json.render(Map("trace" -> s.trace, "id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally out.close()
  }
}

object Tracer {
  val LayerKey = "graftbench.layer"
}

/** Per-layer Spark accounting: jobs, stages, tasks, task CPU, shuffle and
  * spill, keyed on the [[Tracer.LayerKey]] local property the launching
  * thread carried when its job was submitted ("none" outside any span). */
final class LayerListener extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill = new AtomicLong(0)
  }
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(layer: String): Acc = accs.computeIfAbsent(layer, _ => new Acc)
  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(Tracer.LayerKey))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = layerOf(e.properties)
    e.stageIds.foreach(stageLayer.put(_, layer))
    acc(layer).jobs.incrementAndGet()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val layer = layerOf(e.properties)
    stageLayer.put(e.stageInfo.stageId, layer)
    acc(layer).stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageLayer.getOrDefault(e.stageId, "none"))
    a.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def reset(): Unit = accs.clear()

  /** layer -> (jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite,
    * spill), after every queued event has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Seq[Long]] = {
    org.apache.spark.GraftbenchBus.drain(sc)
    accs.asScala.map { case (k, a) => k -> Seq(a.jobs, a.stages, a.tasks,
      a.cpuNs, a.shuffleRead, a.shuffleWrite, a.spill).map(_.get) }.toMap
  }
}

/** Timing decorator over any admin store: every public operation runs
  * inside a `store` span named after the operation and delegates to the
  * wrapped store, which keeps its own locking. */
final class TracedStore(inner: AdminStoreApi, tracer: Tracer) extends AdminStoreApi {
  val spark: SparkSession = inner.spark
  protected def sync[T](f: => T): T = f
  private def t[T](op: String)(f: => T): T = tracer.span("store", op)(f)

  def batches: Dataset[BatchRow] = inner.batches
  def jobs: Dataset[JobRow] = inner.jobs
  def jobTestResults: Dataset[JobTestRow] = inner.jobTestResults
  def batchLog: Dataset[LogRow] = inner.batchLog
  def jobLog: Dataset[LogRow] = inner.jobLog

  def appendBatches(rows: Seq[BatchRow]): Unit = t("appendBatches")(inner.appendBatches(rows))
  def appendJobs(rows: Seq[JobRow]): Unit = t("appendJobs")(inner.appendJobs(rows))
  def appendJobTests(rows: Seq[JobTestRow]): Unit = t("appendJobTests")(inner.appendJobTests(rows))
  def appendBatchLog(rows: Seq[LogRow]): Unit = t("appendBatchLog")(inner.appendBatchLog(rows))
  def appendJobLog(rows: Seq[LogRow]): Unit = t("appendJobLog")(inner.appendJobLog(rows))
  def upsertBatches(rows: Seq[BatchRow]): Unit = t("upsertBatches")(inner.upsertBatches(rows))
  def upsertJobs(rows: Seq[JobRow]): Unit = t("upsertJobs")(inner.upsertJobs(rows))
  def deleteOlderThan(table: String, cutoff: Instant): Long =
    t("deleteOlderThan")(inner.deleteOlderThan(table, cutoff))
  def deleteBatchesOlderThan(cutoff: Instant): Long =
    t("deleteBatchesOlderThan")(inner.deleteBatchesOlderThan(cutoff))
  def close(): Unit = inner.close()

  override def batchById(id: String): Option[BatchStatus] = t("batchById")(inner.batchById(id))
  override def lastSuccessfulTs(jobName: String): Option[Instant] =
    t("lastSuccessfulTs")(inner.lastSuccessfulTs(jobName))
  override def latestTestResults(jobName: String): Seq[JobTestRow] =
    t("latestTestResults")(inner.latestTestResults(jobName))
  override def latestBatch(name: String): Option[BatchStatus] =
    t("latestBatch")(inner.latestBatch(name))
  override def previousBatch(name: String): Option[BatchStatus] =
    t("previousBatch")(inner.previousBatch(name))
  override def batchDelta(name: String): Option[BatchDelta] =
    t("batchDelta")(inner.batchDelta(name))
  override def slowJobs(factor: Double): Seq[(String, Long, Long, Long)] =
    t("slowJobs")(inner.slowJobs(factor))
}

object TracedStore {
  val Ops: Seq[String] = Seq("appendBatches", "appendJobs", "appendJobTests",
    "appendBatchLog", "appendJobLog", "upsertBatches", "upsertJobs",
    "batchById", "lastSuccessfulTs", "latestTestResults", "latestBatch",
    "previousBatch", "batchDelta", "slowJobs", "deleteOlderThan",
    "deleteBatchesOlderThan")
}

/** Timing wrapper over a job: `run` and `test` each run inside a span,
  * every other knob is forwarded, and compensation substitutes come back
  * wrapped too. */
final class TracedJob(inner: JobSpec, tracer: Tracer) extends JobSpec {
  def name: String = inner.name
  override def dependencies: Seq[String] = inner.dependencies
  override def maxRetries: Int = inner.maxRetries
  override def minSecondsBetweenRefreshes: Long = inner.minSecondsBetweenRefreshes
  override def minSecondsBetweenTests: Long = inner.minSecondsBetweenTests
  override def timeoutSeconds: Option[Long] = inner.timeoutSeconds
  def run(spark: SparkSession, logger: JobLogger): JobStatus =
    tracer.span("job.run", name)(inner.run(spark, logger))
  override def test(spark: SparkSession, logger: JobLogger): Seq[SimpleTestResult] =
    tracer.span("job.test", name)(inner.test(spark, logger))
  override def onExecutionError(errorMessage: String): Option[JobSpec] =
    inner.onExecutionError(errorMessage).map(new TracedJob(_, tracer))
  override def onTestFailure(results: Seq[JobTestResult]): Option[JobSpec] =
    inner.onTestFailure(results).map(new TracedJob(_, tracer))
}
