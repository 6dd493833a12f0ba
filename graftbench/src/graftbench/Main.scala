package graftbench

import scala.util.control.NonFatal

import graft.model.JobStatus

/** What a workload hands back for the result line. `unitS` is the
  * workload's unit time (a batch, or the sum of per-query medians over the
  * passes) and `cpuS` the process CPU time of a unit; `steps` are the
  * latencies the step percentiles are taken over (report reads, or
  * per-query medians). */
final case class Result(unitS: Double, cpuS: Double, units: Int,
    steps: Seq[Double], batches: Seq[graft.model.BatchStatus],
    adminRoot: Option[String], dataDir: String, reports: Int = 0,
    queryMedians: Map[String, Double] = Map.empty,
    samples: Map[String, Seq[Double]] = Map.empty)

/** One benchmark process: `--workload pipeline|query_mix`.
  * Prints one JSON line: the end-to-end metrics, the per-layer metrics
  * when traced, and the operation counts. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
    val r = new Run(opts, spark)
    r.phase("session")
    val res: Option[Result] = try Some(opts.workload match {
      case "pipeline" => Pipeline.run(r)
      case "query_mix" => QueryMix.run(r)
      case w => sys.error(s"unknown workload $w")
    }) catch {
      case NonFatal(e) =>
        r.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    val layers = res.filter(_ => opts.trace).map(Layers(r, _)).getOrElse(Map.empty)
    r.tracer.foreach(_.write(s"${opts.runDir}/spans.jsonl"))
    val e2e = res.map(x => Map(
      "setup_s" -> r.setupS,
      "unit_s" -> x.unitS,
      "step_p50_s" -> Stats.quantile(x.steps, 0.5),
      "step_p90_s" -> Stats.quantile(x.steps, 0.9),
      "cpu_s" -> x.cpuS,
      "peak_rss_mb" -> r.peakRssMb)).getOrElse(Map.empty)
    println(Json.render(Map(
      "attempted" -> math.max(1L, r.attempted), "failed" -> r.failed,
      "errors" -> r.errors.toSeq, "units" -> res.map(_.units).getOrElse(0),
      "steps" -> res.map(_.steps.size).getOrElse(0),
      "reports" -> res.map(_.reports).getOrElse(0),
      "samples" -> res.map(_.samples).getOrElse(Map.empty),
      "e2e" -> e2e, "layers" -> layers)))
    spark.stop()
  }
}

/** The per-layer metrics of a traced run. Times and counts are per
  * measured unit (per batch on `pipeline`, per pass on `query_mix`),
  * except the `store.delete*` ops of the once-per-process
  * retention pass and the end-of-run store and memo totals. */
object Layers {
  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.ops.Relational.all.keySet,
    "Dedup" -> graft.ops.Dedup.all.keySet,
    "Similarity" -> graft.ops.Similarity.all.keySet,
    "TextOps" -> graft.ops.TextOps.all.keySet,
    "Analysis" -> graft.ops.Analysis.all.keySet,
    "Curation" -> graft.ops.Curation.all.keySet,
    "Sampling" -> graft.ops.Sampling.all.keySet,
    "Multimodal" -> graft.ops.Multimodal.all.keySet,
    "StreamOps" -> graft.streaming.StreamOps.all.keySet)

  /** The operator module each pipeline job mostly exercises. */
  val JobModule: Map[String, String] = Map(
    "dedup_documents" -> "Dedup", "quality_filter" -> "TextOps",
    "featurize" -> "TextOps", "chunk_pack" -> "TextOps",
    "publish_corpus" -> "Relational", "profile_corpus" -> "Analysis",
    "split_corpus" -> "Sampling")

  private def moduleOf(layer: String): Option[String] = layer.split(":", 2) match {
    case Array("query", q) => Modules.find(_._2.contains(q)).map(_._1)
    case Array("job.run" | "job.test", j) => JobModule.get(j)
    case _ => None
  }

  def apply(r: Run, res: Result): Map[String, Double] = {
    val tracer = r.tracer.get
    val all = tracer.spans
    val measured = all.drop(r.measureSpanStart)
    val self = tracer.selfTimes(measured)
    val per = math.max(1, res.units).toDouble
    val nBatches = math.max(1, res.batches.size).toDouble
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // store calls count per batch when a batch made them and per report
    // when the operator report did
    val byId = measured.map(s => s.id -> s).toMap
    val nReports = math.max(1, res.reports).toDouble
    def rootKind(s: Span): String = byId.get(s.parent).fold(s.kind)(rootKind)
    for (op <- TracedStore.Ops) {
      val (calls, secs) =
        if (op.startsWith("delete")) {
          val ss = all.filter(s => s.kind == "store" && s.name == op)
          (ss.size.toDouble, ss.map(_.seconds).sum)
        } else {
          val ss = measured.filter(s => s.kind == "store" && s.name == op).groupBy(rootKind)
          def part(kind: String, div: Double) = ss.get(kind).fold((0.0, 0.0))(xs =>
            (xs.size / div, xs.map(_.seconds).sum / div))
          val (b, rep) = (part("batch", nBatches), part("report", nReports))
          (b._1 + rep._1, b._2 + rep._2)
        }
      m(s"store.$op.calls") = calls
      m(s"store.$op.s") = secs
    }
    val layerSums = r.layers
    def sumWhere(p: String => Boolean, i: Int): Double =
      layerSums.collect { case (k, v) if p(k) => v(i).toDouble }.sum
    m("store.spark_jobs") = sumWhere(_.startsWith("store:"), 0) / per
    val (files, bytes) = res.adminRoot.map(diskUsage).getOrElse((0L, 0L))
    m("store.files") = files.toDouble
    m("store.bytes") = bytes.toDouble
    m("store.bytes_per_row") = res.adminRoot.map { root =>
      val rows = Seq("batches", "jobs", "job_test_results", "batch_log", "job_log")
        .map(t => s"$root/$t").filter(p => new java.io.File(p).exists)
        .map(p => r.spark.read.parquet(p).count()).sum
      if (rows == 0) 0.0 else bytes.toDouble / rows
    }.getOrElse(0.0)

    // batch wall = store + job run + job test + runner self, from self times
    val underBatch = self.filter { case (s, _) => rootKind(s) == "batch" }
    def selfOf(kind: String) = underBatch.collect { case (s, t) if s.kind == kind => t }.sum
    m("batch.wall_s") = measured.filter(_.kind == "batch").map(_.seconds).sum / nBatches
    m("batch.store_s") = selfOf("store") / nBatches
    m("batch.job_run_s") = selfOf("job.run") / nBatches
    m("batch.job_test_s") = selfOf("job.test") / nBatches
    m("runner.self_s") = selfOf("batch") / nBatches
    val results = res.batches.flatMap(_.jobResults)
    m("runner.jobs_run") = results.count(j => !j.skipped) / nBatches
    m("runner.jobs_skipped") = results.count(_.skipped) / nBatches
    val runs = measured.count(_.kind == "job.run")
    m("runner.retries") = math.max(0, runs - results.count(_.status == JobStatus.Successful)) / nBatches

    for (j <- Pipeline.Jobs) {
      m(s"job.$j.run_s") = measured.filter(s => s.kind == "job.run" && s.name == j)
        .map(_.seconds).sum / nBatches
      m(s"job.$j.test_s") = measured.filter(s => s.kind == "job.test" && s.name == j)
        .map(_.seconds).sum / nBatches
    }
    for (q <- QueryMix.Basket) m(s"query.$q.s") = res.queryMedians.getOrElse(q, 0.0)
    for ((mod, _) <- Modules) {
      m(s"ops.$mod.task_cpu_s") = sumWhere(k => moduleOf(k).contains(mod), 3) / 1e9 / per
      m(s"ops.$mod.shuffle_mb") = (sumWhere(k => moduleOf(k).contains(mod), 4) +
        sumWhere(k => moduleOf(k).contains(mod), 5)) / 1e6 / per
    }

    val builds = graft.MemoLedger.buildsSnapshot(res.dataDir)
    m("memo.builds") = builds.size.toDouble
    m("memo.build_s") = builds.values.map(_.sec).sum
    m("memo.backed_queries") = graft.MemoLedger.readsSnapshot.values.flatten.toSet.size.toDouble

    m("spark.jobs") = sumWhere(_ => true, 0) / per
    m("spark.stages") = sumWhere(_ => true, 1) / per
    m("spark.tasks") = sumWhere(_ => true, 2) / per
    m("spark.task_cpu_s") = sumWhere(_ => true, 3) / 1e9 / per
    m("spark.shuffle_read_mb") = sumWhere(_ => true, 4) / 1e6 / per
    m("spark.shuffle_write_mb") = sumWhere(_ => true, 5) / 1e6 / per
    m("spark.spill_mb") = sumWhere(_ => true, 6) / 1e6 / per
    m("jvm.gc_s") = r.gcS / per
    m("error_rate") = r.failed.toDouble / math.max(1L, r.attempted)
    m("trace.unit_s") = res.unitS
    m("trace.overhead_s") = r.traceSelfS / per
    m.toMap
  }

  private def diskUsage(root: String): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new java.io.File(root))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}
