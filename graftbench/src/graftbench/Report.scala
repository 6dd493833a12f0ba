package graftbench

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.mutable.ArrayBuffer

import graft.model._
import graft.store.{AdminStoreApi, JobRow}

/** The operator report over the latest batch: `latestBatch`,
  * `batchDelta`, `slowJobs` and `lastSuccessfulTs` of every job of the
  * batch. Every answer is checked against [[Expect]]. Returns the wall
  * seconds of each read when every read succeeded and matched. */
object Report {
  def run(r: Run, store: AdminStoreApi, expect: Expect,
      last: BatchStatus): Option[Seq[Double]] = {
    val name = last.name
    val lat = ArrayBuffer.empty[Double]
    def read[T](what: String)(f: => T): Option[T] = r.attempt(what) {
      val t0 = System.nanoTime()
      val v = f
      lat += (System.nanoTime() - t0) / 1e9
      v
    }
    val latest = read("latestBatch")(store.latestBatch(name))
    val delta = read("batchDelta")(store.batchDelta(name))
    val slow = read("slowJobs")(store.slowJobs())
    val lastOk = last.jobResults.map(j =>
      j.jobName -> read("lastSuccessfulTs")(store.lastSuccessfulTs(j.jobName)))
    val checks = Seq(
      latest.forall(l => r.check(l.exists(_.id == last.id),
        s"latestBatch: ${l.map(_.id)} != ${last.id}")),
      delta.forall(d => r.check(d.exists(d => d.current.id == last.id &&
        d.previous.isDefined == expect.hasPrevious(name) &&
        d.newlyBrokenJobs.isEmpty && d.newlyFixedJobs.isEmpty &&
        d.commonJobs == (if (expect.hasPrevious(name)) last.jobNames else Set.empty)),
        s"batchDelta($name): " + d.map(d => (d.current.id == last.id,
          d.previous.map(_.id), d.newlyBrokenJobs, d.newlyFixedJobs,
          d.commonJobs)))),
      slow.forall(s => r.check(s == expect.slowJobs(2.0),
        s"slowJobs: $s != ${expect.slowJobs(2.0)}")),
      lastOk.forall { case (j, v) => v.forall(ts => r.check(
        ts == expect.lastSuccessfulTs(j),
        s"lastSuccessfulTs($j): $ts != ${expect.lastSuccessfulTs(j)}")) })
    val ok = checks.forall(identity) && latest.isDefined && delta.isDefined &&
      slow.isDefined && lastOk.forall(_._2.isDefined)
    if (ok) Some(lat.toSeq) else None
  }

  /** Independent statement of what the report must answer: every batch
    * the benchmark ran, as the runner returned it, evaluated with the
    * documented semantics of each read. Timestamps compare at the
    * store's microsecond precision. */
  final class Expect {
    private val jobs = ArrayBuffer.empty[JobRow]
    private val names = ArrayBuffer.empty[String]

    /** Whether a batch of this name ran before the latest one. */
    def hasPrevious(name: String): Boolean = names.count(_ == name) > 1

    def add(st: BatchStatus): Unit = { names += st.name; st.jobResults.foreach { j =>
      val (err, skipped) = j.status match {
        case JobStatus.Failed(_) => (true, false)
        case JobStatus.Skipped(_) => (false, true)
        case _ => (false, false)
      }
      jobs += JobRow(j.id, j.batchId, j.jobName, j.executionMillis, Some(err),
        None, running = false, skipped = skipped, None,
        j.ts.truncatedTo(ChronoUnit.MICROS))
    } }

    private def done: Seq[JobRow] = jobs.toSeq.filter(j => !j.running &&
      !j.skipped && j.execution_error_occurred.contains(false))

    def lastSuccessfulTs(name: String): Option[Instant] =
      done.filter(_.job_name.equalsIgnoreCase(name)).map(_.ts).maxOption

    def slowJobs(factor: Double): Seq[(String, Long, Long, Long)] =
      done.filter(_.execution_millis.isDefined).groupBy(_.job_name.toLowerCase)
        .toSeq.flatMap { case (_, runs) =>
          val byRecency = runs.sortBy(j => (j.ts, j.id)).reverse
          val cur = byRecency.head.execution_millis.get
          val prior = byRecency.tail.flatMap(_.execution_millis).sorted
          if (prior.isEmpty) None
          else {
            val base = prior((prior.size - 1) / 2)
            if (cur > factor * base)
              Some((byRecency.head.job_name, cur, base,
                if (base == 0) Long.MaxValue else cur * 100L / base))
            else None
          }
        }.sortBy(t => (-t._4, t._1))
  }
}
