package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The decks: which registered queries each closed-loop workload runs. */
object Decks {
  /** `graft.report` queries from six of its seven modules (all but the
    * three-query AsOf), each near the median cost of the 116. */
  val report: Seq[String] = Seq(
    "calibration_bins", "merge_upsert", "q3_shipping", "rate_anomaly",
    "report_metrics", "sliding_window_agg")

  /** `graft.ext` curation pipelines from the heavy list, each with
    * staged or fenced intermediate tables. */
  val curation: Seq[String] = Seq("dedup_minhash_lsh", "simhash_pairs", "graph_components")

  /** Passes a run of `seconds` makes over a deck: three per 10 s (18
    * report requests, 9 curation pipelines). A fixed amount of work,
    * whatever the program's speed; none for a run of 0 s, which only
    * sets up and checks. */
  def passes(seconds: Double): Int =
    if (seconds <= 0) 0 else math.max(1, math.round(seconds * 0.3).toInt)
}

/** Committed expected outputs: `<name>\t<value>` lines. */
object Expected {
  def table(benchDir: String, file: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(benchDir, "expected", file)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
  }
}

/** Samples heap use in the background; the peak of one phase. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile var peakBytes = 0L
  @volatile private var running = true
  override def run(): Unit = while (running) {
    peakBytes = math.max(peakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    Thread.sleep(20)
  }
  def finish(): Double = { running = false; join(); peakBytes / 1048576.0 }
}

/** One benchmark run: set up the session several times, run the
  * workload's measured phase (and, with `--trace 1`, a traced repeat
  * plus the layer micro-benchmarks), check every output, and print one
  * `PERFBENCH_RESULT` line that `run.py` turns into the result. */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The warm-up action `graft.Bench` uses. */
  private def warmup(spark: SparkSession, data: String): Unit = {
    graft.model.Tables.region(spark, data).count()
    graft.model.Tables.events(spark, data).limit(10).count()
  }

  private val born = System.nanoTime()
  /** Progress on stderr, seconds since start. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $what")

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(args: Array[String]): Unit = println(run(args))

  /** One run; returns its `PERFBENCH_RESULT` line. */
  def run(args: Array[String]): String = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

    // set-up: the first from JVM start, then twice more from a stopped session
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to 3).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) ManagementFactory.getRuntimeMXBean.getStartTime
               else System.currentTimeMillis()
      spark = session(cores, a("work"))
      warmup(spark, a("data"))
      setups += (System.currentTimeMillis() - t0) / 1000.0
    }
    log(s"set-up ${setups.mkString(" ")} s")
    val ctx = Ctx(spark, a("data"), a("work"), a("bench"), seed, cores)
    val micro = new Micro(ctx)
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val view = ArrayBuffer.empty[(String, Double, String)]
    values("setup_s") = Stats.median(setups.toSeq)
    view += (("setup.cold_s", setups.head, "s"))

    var attempted = 0
    var failed = 0
    def e2e(ph: Phase, batchS: Double): Unit = {
      view += (("samples", ph.okMs.size.toDouble, "count"))
      values("latency_p50_ms") = Stats.pct(ph.okMs, 0.5)
      values("latency_p90_ms") = Stats.pct(ph.okMs, 0.9)
      values("throughput_per_s") = ph.throughput
      values("batch_s") = batchS
      attempted += ph.samples.size
      failed += ph.failed
    }
    /** A traced repeat of `phase`, with the tracer's layer metrics. The
      * tracing overhead compares the later half of each phase's samples
      * when `warming`, since the traced phase runs on a warmer JVM. */
    def traced(untraced: Phase, warming: Boolean)(phase: Option[Tracer] => Phase): Unit = {
      val t = new Tracer(spark)
      val heap = new HeapSampler
      heap.start()
      val ph = phase(Some(t))
      values ++= t.layerMetrics(ph.wallMs, cores)
      values("mem.heap_peak_mb") = heap.finish()
      def steady(p: Phase) = if (warming) p.okMs.drop(p.okMs.size / 2) else p.okMs
      values("trace.overhead_frac") = Stats.median(steady(ph)) / Stats.median(steady(untraced)) - 1
      attempted += ph.samples.size
      failed += ph.failed
      t.close()
      t.writeSpans(Paths.get(a("spans")))
    }

    workload match {
      case "report_mix" | "curation_batch" =>
        val curation = workload == "curation_batch"
        val deck = if (curation) Decks.curation else Decks.report
        val loop = new QueryLoop(ctx, deck, clearEach = curation)
        if (trace) values ++= micro.tables()
        val wrong = loop.check(Expected.table(ctx.benchDir, "fingerprints.tsv")).toSet
        attempted += loop.deckSize
        log("checked")
        // one untimed pass more: the first pass after the check ran about
        // a quarter slower than the next ones while the JIT caught up
        if (seconds > 0) {
          val warm = loop.run(1, None, "w")
          attempted += warm.samples.size
          failed += warm.failed + warm.samples.count(x => x.ok && wrong(x.name))
        }
        val ph = loop.run(Decks.passes(seconds), None, "q")
        log(s"measured ${ph.samples.size} requests, passes ${ph.batches.mkString(" ")} s")
        e2e(ph, Stats.median(ph.batches))
        // every request of a query with a wrong result returned a wrong result
        failed += wrong.size + ph.samples.count(x => x.ok && wrong(x.name))
        if (trace) {
          traced(ph, warming = true)(t => loop.run(Decks.passes(seconds), t, "t"))
          values("staged.reuse_ratio") = loop.stagedReuseRatio
          values("staged.storage_peak_bytes") = loop.storagePeakBytes
          if (curation) values ++= micro.kernels()
          log("traced")
        }
        if (curation) view += (("curation.wall_s", values("batch_s"), "s"))
        else view ++= Seq(("report.latency_p50_ms", values("latency_p50_ms"), "ms"),
          ("report.latency_p90_ms", values("latency_p90_ms"), "ms"), ("report.qps", ph.throughput, "1/s"))

      case "log_ingest" =>
        val ing = new LogIngest(ctx)
        // two backfills into fresh directories, the first in a cold JVM
        val backfillS = Stats.median(Seq(ing.backfill("backfill0"), ing.backfill("backfill1"))) / 1000
        attempted += 2
        failed += ing.backfillsFailed
        log(s"backfill $backfillS s")
        ing.prime()
        attempted += 2
        log("primed")
        val ph = ing.openLoop(seconds, None)
        log(s"measured ${ph.samples.size} rotations, backlog ${ing.backlogMax}")
        e2e(ph, backfillS)
        if (trace) {
          traced(ph, warming = false)(t => ing.openLoop(seconds, t))
          values("stream.start_ms") = Stats.mean(ing.startMs.toSeq)
          values("ingest.generator_lag_s") = ing.generatorLagS
          values("ingest.backlog_max") = ing.backlogMax
          values("etl.out_bytes_per_in_byte") = ing.backfillBytesRatio
          values ++= micro.parse()
          log("traced")
        }
        failed += ing.wrongRotations().size
        log("checked")
        view ++= Seq(("ingest.freshness_p50_s", values("latency_p50_ms") / 1000, "s"),
          ("ingest.lines_per_s", ph.throughput, "1/s"), ("ingest.backfill_s", backfillS, "s"))

      case other =>
        spark.stop()
        throw new IllegalArgumentException(s"unknown workload: $other")
    }
    view += (("ops.failed_ratio", failed.toDouble / math.max(attempted, 1), "ratio"))

    graft.util.Staged.clearSession(spark)
    spark.stop()
    val vs = values.map { case (k, v) => s""""$k":${json(v)}""" }.mkString("{", ",", "}")
    val vw = view.map { case (k, v, u) => s"""["$k",${json(v)},"$u"]""" }.mkString("[", ",", "]")
    s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"values":$vs,"view":$vw}"""
  }
}
