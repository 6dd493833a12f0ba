package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark process. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, runDir: String, launchNs: Long, expected: String,
    writeExpected: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("run-dir"), need("launch-ns").toLong,
      kv.getOrElse("expected", ""), kv.get("write-expected").contains("1"))
  }
}

/** State shared by every workload: the session, the optional tracing
  * machinery, operation accounting and the measure-phase counters. */
final class Run(val opts: Opts, val spark: SparkSession) {
  val tracer: Option[Tracer] =
    if (opts.trace) Some(new Tracer(spark.sparkContext)) else None
  val listener: Option[LayerListener] =
    if (opts.trace) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  /** Runs one operation; an exception counts as a failed operation and
    * yields None, so it is never recorded as a timing. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(f)
    catch {
      case NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def fail(what: String): Unit = synchronized { failed += 1; errors += what.take(500) }

  /** An output check: a mismatch counts as a failed operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  def span[T](kind: String, name: String)(f: => T): T =
    tracer.fold(f)(_.span(kind, name)(f))

  private def nowNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Logs a set-up milestone (seconds since launch) to stderr. */
  def phase(name: String): Unit =
    System.err.println(f"graftbench phase $name%s at ${(nowNs - opts.launchNs) / 1e9}%.2f s")

  var setupS = 0.0
  private var gc0, trace0, span0 = 0L
  var gcS = 0.0
  var traceSelfS = 0.0
  /** Index into the tracer's spans where the measure phase starts. */
  def measureSpanStart: Int = span0.toInt
  var layers: Map[String, Seq[Long]] = Map.empty

  /** Ends set-up: stamps setup_s and zeroes the measure-phase counters. */
  def startMeasure(): Unit = {
    listener.foreach { l => org.apache.spark.GraftbenchBus.drain(spark.sparkContext); l.reset() }
    span0 = tracer.map(_.spans.size.toLong).getOrElse(0L)
    trace0 = tracer.map(_.selfNs.get).getOrElse(0L)
    setupS = (nowNs - opts.launchNs) / 1e9
    gc0 = gcMs
  }

  /** Closes the per-unit accounting (GC, tracer bookkeeping, the Spark
    * work per layer) over the measured units. */
  def endMeasure(): Unit = {
    gcS = (gcMs - gc0) / 1e3
    traceSelfS = tracer.map(t => (t.selfNs.get - trace0) / 1e9).getOrElse(0.0)
    layers = listener.map(_.snapshot(spark.sparkContext)).getOrElse(Map.empty)
  }

  /** Wall and CPU seconds of `f`, with its result. */
  def timed[T](f: => T): (Sample, T) = {
    val w0 = System.nanoTime(); val c0 = cpuNs
    val out = f
    (Sample((System.nanoTime() - w0) / 1e9, (cpuNs - c0) / 1e9), out)
  }

  /** Runs `unit` (which says whether it succeeded) `n` times; returns a
    * sample of every unit that succeeded. Callers derive `n` from
    * `--seconds` ([[unitsFor]]) rather than watch a clock, so every run
    * takes its statistics over the same number of units however fast the
    * host is that minute. */
  def measure(n: Int)(unit: Int => Boolean): Seq[Sample] =
    (0 until n).flatMap { k =>
      val (s, ok) = timed(unit(k))
      if (ok) Some(s) else None
    }

  /** How many units of about `unitS` seconds (on 4 cores) fill the
    * `--seconds` measure phase; at least `min`. */
  def unitsFor(unitS: Double, min: Int): Int =
    math.max(min, math.round(opts.seconds / unitS).toInt)

  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}

/** One measured unit: its wall seconds and the process CPU seconds
  * spent while it ran. */
final case class Sample(wall: Double, cpu: Double)

/** Order statistics over measured samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default); 0 on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Runs independent set-up tasks on four threads; rethrows the first
  * failure. */
object Parallel {
  def run(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}
