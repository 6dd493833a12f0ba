package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import graft.{MemoLedger, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row}

/** `query_mix`: a fixed basket of declared queries, one or two per cost
  * class and at least one per operator module, run in at least two
  * passes (each query's time is the median over the passes), each materialized through
  * the `noop` sink so the whole optimized plan runs (a `count()` lets the
  * optimizer drop the final Sort, Windows and unused projections). The
  * fixture tables come from a fixed data seed so every output can be
  * checked against the row count and content hash stored with the
  * benchmark; `--seed` shuffles the order of every pass. No runner, no
  * admin store. */
object QueryMix {
  val Basket: Seq[String] = Seq(
    "q01_scan_project",                                   // scan/project
    "e1_exact_dedup",                                     // aggregation
    "q17_window_rank",                                    // windows
    "q19a_region_revenue",                                // joins
    "q48_merge_upsert",                                   // merge
    "e1_cdc_chunks",                                      // native kernels
    "e3_bpe_apply",                                       // text, memo read
    "e9_pagerank",                                        // fixpoint loop
    "e2_cosine_topk", "e7_curated",                       // memo reads
    "e4c_sessions",                                       // streaming
    "e5_image_neardup", "e6_global_shuffle")              // other

  /** About how long a warm pass takes on 4 cores: sizes the measure
    * phase to `--seconds`. */
  val PassS = 5.0

  /** Seed of the fixture tables; the stored expectations are for it. */
  val DataSeed = 42L

  /** Row count and an order-insensitive 64-bit content hash of a result:
    * the wrapping sum of two independent 32-bit hashes of each row. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    var acc = 0L
    rows.foreach { row =>
      val s = row.toString
      acc += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    (rows.length.toLong, java.lang.Long.toHexString(acc))
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n, h) = l.split("\t")
      q -> (n.toLong, h)
    }.toMap
    finally src.close()
  }

  def run(r: Run): Result = {
    val spark = r.spark
    val data = s"${r.opts.runDir}/data/sf"
    DataGen.all(spark, data, DataSeed)
    r.phase("data")
    val expected = if (r.opts.writeExpected) Map.empty[String, (Long, String)]
      else readExpected(r.opts.expected)
    val queries = SparkEntry.queries

    def df(q: String): DataFrame = queries(q)(spark, data)

    // set-up: one checked execution of every query (four at a time)
    // builds its memos, compiles its stages and verifies its output
    val got = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
    Parallel.run(Basket.map(q => () => {
      MemoLedger.currentQuery = q
      r.attempt(s"$q (check)")(r.span("query", q)(fingerprint(df(q).collect())))
        .foreach(got.put(q, _))
    }))
    MemoLedger.currentQuery = ""
    for (q <- Basket; v <- Option(got.get(q)))
      r.check(r.opts.writeExpected || expected.get(q).contains(v),
        s"$q output $v != expected ${expected.get(q)}")
    if (r.opts.writeExpected) {
      val out = new java.io.PrintWriter(r.opts.expected, "UTF-8")
      try {
        out.println("# query\trows\tcontent hash (graftbench QueryMix.fingerprint, data seed 42)")
        for (q <- Basket; (n, h) <- Option(got.get(q))) out.println(s"$q\t$n\t$h")
      } finally out.close()
    }

    r.phase("warm-up")
    r.startMeasure()
    val lat = Basket.map(_ -> ArrayBuffer.empty[Double]).toMap
    // at least three passes, so each query's median leaves out its first,
    // coldest execution
    val passes = r.measure(r.unitsFor(PassS, 3)) { pass =>
      val order = new scala.util.Random(r.opts.seed * 1000003L + pass).shuffle(Basket)
      r.span("pass", s"pass_$pass") {
        order.map { q =>
          MemoLedger.currentQuery = q
          val t0 = System.nanoTime()
          val ok = r.attempt(q)(r.span("query", q)(
            df(q).write.format("noop").mode("overwrite").save())).isDefined
          MemoLedger.currentQuery = ""
          if (ok) lat(q) += (System.nanoTime() - t0) / 1e9
          ok
        }.forall(identity)
      }
    }
    r.endMeasure()
    val medians = lat.map { case (q, xs) => q -> Stats.median(xs.toSeq) }
    // the steps are the per-query medians: with a few passes a single slow
    // execution would otherwise decide the upper percentiles
    Result(unitS = medians.values.sum, cpuS = Stats.median(passes.map(_.cpu)),
      units = passes.size, steps = medians.values.toSeq, batches = Nil,
      adminRoot = None, dataDir = data, queryMedians = medians,
      samples = lat.map { case (q, xs) => q -> xs.toSeq } +
        ("pass_wall" -> passes.map(_.wall)) + ("pass_cpu" -> passes.map(_.cpu)))
  }
}
