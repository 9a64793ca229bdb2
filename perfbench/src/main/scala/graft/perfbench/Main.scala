package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import Harness._

/** Benchmark entry point (run through `perfbench/run.py`, which builds
  * this package and pins the JVM).
  *
  * {{{
  * Main --workload marts|curation|ingest --seed N --seconds S --trace 0|1
  *      --work DIR --out RECORD.json [--tiny] [--pin FILE]
  * }}}
  *
  * Set-up (fresh session, input generation, store and index
  * initialisation, warm-up) runs [[Setups]] times and `setup_s` is the
  * median. With `--trace 0` the whole window is measured untraced. With
  * `--trace 1` the window is split: an untraced half, then a traced half
  * whose spans give the per-layer metrics; the tracing overhead is the
  * traced half's end-to-end result minus the untraced half's.
  *
  * The last line of standard output is the result object
  * `{"correct", "attempted", "failed", "metrics"}`; the full record
  * (environment, input sizes, every metric, spans) goes to `--out`. */
object Main {
  val Cores = 4
  val Setups = 3

  /** End-to-end metrics gated by BENCHMARK.json, with units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "ops_per_s" -> "1/s", "op_p50_s" -> "s", "peak_heap_mb" -> "MB")

  def session(work: String, conf: Map[String, String]): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v) }
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.graft.scratch.dir", s"$work/scratch")
      // a no-data micro-batch would rewrite the events warehouse outside
      // the drop the ingest writer is waiting for
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    // --tiny is a flag; every other option takes a value
    def parse(xs: List[String]): Map[String, String] = xs match {
      case "--tiny" :: rest => parse(rest) + ("tiny" -> "1")
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => sys.error(s"cannot parse arguments at ${other.head}")
    }
    val opt = parse(args.toList)
    val name = opt("workload")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val tiny = opt.contains("tiny")
    val work = new java.io.File(opt("work")).getAbsolutePath
    val out = opt("out")
    val pinFile = opt.get("pin")

    val wl: Workload = name match {
      // the lane checks are pinned at sf 0.01, so a tiny run is the same
      case "marts" => new Marts(0.01, "perfbench/marts_expected.tsv")
      case "curation" =>
        if (tiny) new Curation(baseDocs = 400, replicas = 2, nVecs = 800,
          queries = 8)
        else new Curation(baseDocs = 1000, replicas = 2, nVecs = 1500,
          queries = 16)
      case "ingest" =>
        // enough pre-generated drops for every tick the window can hold
        val period = 4.0
        val ticks = (seconds / period).toInt + 3
        if (tiny) new Ingest(periodS = period, cdcRows = 40, keys = 400,
          vecs0 = 600, arriving = 20, events = 200, maxTicks = ticks)
        else new Ingest(periodS = period, cdcRows = 200, keys = 4000,
          vecs0 = 2000, arriving = 100, events = 2000, maxTicks = ticks)
      case other => sys.error(s"unknown workload $other")
    }

    var spark: SparkSession = null
    var inputs: Map[String, Any] = Map.empty
    val setupTimes = (0 until (if (pinFile.isDefined) 1 else Setups)).map {
      _ =>
        if (spark != null) { wl.teardown(); spark.stop() }
        deleteTree(new java.io.File(work))
        val (info, t) = timed {
          spark = logged("session")(session(work, wl.sessionConf))
          wl.setup(spark, work, seed)
        }
        inputs = info
        t
    }

    inputs ++= wl.inputDigests(spark)

    pinFile.foreach { f =>
      val rows = wl match {
        case m: Marts => m.pin(spark)
        case _ => sys.error("--pin applies to the marts workload only")
      }
      Files.writeString(Paths.get(f), rows.map { case (l, r, h) =>
        s"$l\t$r\t$h" }.mkString("# lane\trows\thash\n", "\n", "\n"))
      println(s"pinned ${rows.size} lanes to $f")
      spark.stop()
      return
    }

    def runPhase(tr: Tracer, sec: Double): Phase = {
      val ph = new Phase
      Heap.fullGc(); Heap.reset()
      tr.start()
      ph.startMs = System.currentTimeMillis().toDouble
      wl.measure(spark, tr, sec, ph)
      // a workload that checks state after its window closes sets endMs
      if (ph.endMs == 0) ph.endMs = System.currentTimeMillis().toDouble
      tr.stop()
      // workloads force full collections at their own checkpoints
      ph.extra("peak_heap_mb") = Heap.peakMb
      ph
    }
    def e2e(ph: Phase): Map[String, Double] = {
      val n = ph.latencies.size
      val base = Map(
        "setup_s" -> median(setupTimes),
        "ops_per_s" -> n / ph.wallS,
        "op_p50_s" -> median(ph.latencies.toSeq),
        "fail_ratio" -> ph.failed.toDouble / math.max(1L, ph.attempted),
        "ops" -> n.toDouble, "wall_s" -> ph.wallS)
      val p90 = if (n >= 100) Map("op_p90_s" ->
        quantile(ph.latencies.toSeq, 0.9)) else Map.empty[String, Double]
      base ++ p90 ++ ph.extra.filter(!_._1.contains('.'))
    }

    val untracedPh = runPhase(new Tracer(spark, false),
      if (traced) seconds / 2 else seconds)
    val untraced = e2e(untracedPh)
    val tracedRun = if (!traced) None else {
      val tr = new Tracer(spark, true)
      val ph = runPhase(tr, seconds / 2)
      Some((tr, ph))
    }
    wl.teardown()

    val phases = Seq(untracedPh) ++ tracedRun.map(_._2)
    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "tiny" -> tiny, "nproc" -> Cores,
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "heap_pinned" -> sys.props.getOrElse("perfbench.heap", ""),
      "jdk" -> sys.props("java.version"), "spark" -> spark.version,
      "git_commit" -> sys.props.getOrElse("perfbench.commit", ""),
      "source_digest" -> sys.props.getOrElse("perfbench.digest", ""),
      "inputs" -> inputs, "facts" -> wl.facts, "outputs" -> wl.outputs,
      "setup_runs_s" -> setupTimes,
      "end_to_end" -> untraced,
      "checks" -> Map("attempted" -> attempted, "failed" -> failed,
        "failures" -> phases.flatMap(_.failures)))
    val layer = tracedRun.map { case (tr, ph) =>
      val m = tr.metrics(ph.extra.toMap, Cores)
      val te = e2e(ph)
      record("per_layer") = m
      record("traced_end_to_end") = te
      record("tracing_overhead") = untraced.collect {
        case (k, v) if te.contains(k) => k -> (te(k) - v) }
      record("top_level_coverage") = tr.topLevelCoverage(ph.startMs, ph.endMs)
      record("spans") = tr.spanRecords
      m
    }
    Files.writeString(Paths.get(out), json(record) + "\n")
    spark.stop()

    val metrics = layer match {
      case Some(m) => Tracer.LayerMetrics.map { case (k, u) =>
        k -> Map("value" -> m.getOrElse(k, 0.0), "unit" -> u) }
      case None => EndToEnd.map { case (k, u) =>
        k -> Map("value" -> untraced(k), "unit" -> u) }
    }
    println(json(scala.collection.mutable.LinkedHashMap(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> math.max(1L, attempted), "failed" -> failed,
      "metrics" -> scala.collection.mutable.LinkedHashMap(metrics: _*))))
  }
}
