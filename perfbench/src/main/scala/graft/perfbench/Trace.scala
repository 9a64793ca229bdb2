package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing, done from outside the program.
  *
  * Around each layer call the harness sets its own Spark local property
  * [[Tracer.Prop]] to a fresh span id (job groups are left alone). Local
  * properties are inherited by threads created inside the call, so the
  * sides `graft.operators.Par.two` runs on new threads carry the tag.
  * Three listeners fold the engine's events by tag:
  *  - a `SparkListener` maps jobs and stages to spans and sums task
  *    metrics (cpu, tasks, shuffle records, spill, failures);
  *  - a `QueryExecutionListener` reads `QueryPlanningTracker` phases and
  *    the file-scan metrics of each executed plan;
  *  - a `StreamingQueryListener` sums micro-batch durations.
  * `graft.store.ManifestStore.phaseHook` reports commit phases.
  *
  * When disabled, [[span]] runs its body and records nothing, and no
  * listener or hook is installed. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int, op: Long,
      startMs: Double, endMs: Double)

  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  final class Acc {
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    var cpuNs, runMs, tasks, shuffleRecords, spillBytes, failed = 0L
  }
  private val acc = mutable.Map.empty[Int, Acc]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val allJobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val counters = mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit =
    counters.synchronized { counters(k) += v }

  /** Runs `f` as span `name` of operation `op`. */
  def span[T](name: String, op: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val parent = Option(sc.getLocalProperty(Prop)).fold(0)(_.toInt)
      val id = ids.incrementAndGet()
      nameOf.put(id, name)
      sc.setLocalProperty(Prop, id.toString)
      val s0 = System.currentTimeMillis().toDouble
      val n0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, parent, op, s0,
          s0 + (System.nanoTime() - n0) / 1e6))
        sc.setLocalProperty(Prop, if (parent == 0) null else parent.toString)
      }
    }

  private def accOf(span: Int): Acc = acc.getOrElseUpdate(span, new Acc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(Prop))).fold(0)(_.toInt)
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(st => stageSpan(st) = span)
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan(x.toLong) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (span, t0) =>
        accOf(span).jobs += ((t0, e.time))
        allJobs += ((t0, e.time))
      }
    }
    // the execution's QueryExecution rides the end event in a field the
    // sql package keeps to itself; its accessor is public bytecode
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        val qe = end.getClass.getMethod("qe").invoke(end)
        if (qe != null) Tracer.this.synchronized(
          foldScans(end.executionId, qe.asInstanceOf[QueryExecution]))
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
      val a = accOf(stageSpan.getOrElse(e.stageId, 0))
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** File-scan metrics of one finished SQL execution, folded into the
    * span whose jobs ran it. */
  private def foldScans(executionId: Long, qe: QueryExecution): Unit = {
    val name = spanName(execSpan.getOrElse(executionId, 0))
    val scans = walkPlan(qe.executedPlan).collect {
      case f: FileSourceScanExec => f
    }
    def metric(k: String) =
      scans.map(_.metrics.get(k).fold(0L)(_.value)).sum.toDouble
    // every file scan is served by the source layer, whichever span ran
    // the query
    add("sources.read.files_scanned", metric("numFiles"))
    add("sources.read#scan_bytes", metric("filesSize"))
    add(s"$name#scan_bytes", metric("filesSize"))
    add(s"$name#scan_rows", metric("numOutputRows"))
  }

  private val qeListener = new QueryExecutionListener {
    private def fold(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def sec(k: String) = ph.get(k).fold(0.0)(_.durationMs / 1e3)
      add("plans.analysis_s", sec("analysis"))
      add("plans.optimize_s", sec("optimization"))
      add("plans.physical_s", sec("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      fold(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = fold(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      if (p.numInputRows == 0) add("streaming.empty_batches", 1)
      val d = p.durationMs.asScala
      def sec(k: String) = d.get(k).fold(0.0)(_.doubleValue / 1e3)
      add("streaming.add_batch_s", sec("addBatch"))
      add("streaming.planning_s", sec("queryPlanning"))
      add("streaming.wal_commit_s", sec("walCommit"))
      add("streaming.commit_offsets_s", sec("commitOffsets"))
    }
  }

  private val phaseNames = Map("lease" -> "store.lease_s",
    "manifestRead" -> "store.manifest_read_s",
    "keyCollect" -> "store.key_collect_s",
    "stageWrite" -> "store.stage_write_s", "publish" -> "store.publish_s")

  private var gc0 = 0.0
  // span id -> name, filled when a span opens (the QE listener may fold
  // a query whose span is still running)
  private val nameOf = new java.util.concurrent.ConcurrentHashMap[Int, String]

  private def spanName(id: Int): String =
    if (id == 0) "untagged" else Option(nameOf.get(id)).getOrElse("unknown")

  /** Installs the listeners and hook; spans recorded from here on. */
  def start(): Unit = if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    graft.store.ManifestStore.phaseHook = (phase, ns) =>
      phaseNames.get(phase).foreach(k => add(k, ns / 1e9))
    gc0 = gcSeconds()
  }

  /** Removes the listeners and hook, after draining the listener bus. */
  def stop(): Unit = if (enabled) {
    drain(spark)
    graft.store.ManifestStore.phaseHook = (_, _) => ()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    add("spark.gc_s", gcSeconds() - gc0)
  }

  /** Per-layer metrics over the spans recorded between start and stop.
    * `extra` holds the layer counters the workloads measure themselves. */
  def metrics(extra: Map[String, Double], cores: Int): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val out = mutable.LinkedHashMap.empty[String, Double]
    synchronized {
      for (name <- SpanNames) {
        val inst = all.filter(_.name == name)
        var wall, gap, cpu, tasks, sh, spill = 0.0
        inst.foreach { s =>
          val accs = subtree(s).flatMap(c => acc.get(c.id))
          wall += (s.endMs - s.startMs) / 1e3
          val covered = union(accs.flatMap(_.jobs)
            .map { case (a, b) => (math.max(a.toDouble, s.startMs),
              math.min(b.toDouble, s.endMs)) }
            .filter { case (a, b) => b > a })
          gap += math.max(0.0, (s.endMs - s.startMs) - covered) / 1e3
          accs.foreach { a =>
            cpu += a.cpuNs / 1e9; tasks += a.tasks
            sh += a.shuffleRecords; spill += a.spillBytes / 1048576.0
          }
        }
        out(s"$name.wall_s") = wall; out(s"$name.gap_s") = gap
        out(s"$name.cpu_s") = cpu; out(s"$name.tasks") = tasks
        out(s"$name.shuffle_records") = sh; out(s"$name.spill_mb") = spill
      }
      val runMs = acc.values.map(_.runMs).sum.toDouble
      val jobWall = union(allJobs.map { case (a, b) =>
        (a.toDouble, b.toDouble) }.toSeq)
      out("spark.slot_util") =
        if (jobWall > 0) runMs / (jobWall * cores) else 0.0
      out("spark.tasks_failed") = acc.values.map(_.failed).sum.toDouble
    }
    counters.synchronized {
      out("spark.gc_s") = counters("spark.gc_s")
      Seq("plans.analysis_s", "plans.optimize_s", "plans.physical_s",
        "store.lease_s", "store.manifest_read_s", "store.key_collect_s",
        "store.stage_write_s", "store.publish_s", "streaming.batches",
        "streaming.empty_batches", "streaming.add_batch_s",
        "streaming.planning_s", "streaming.wal_commit_s",
        "streaming.commit_offsets_s").foreach(k => out(k) = counters(k))
      out("operators.query.scan_mb") =
        counters("operators.query#scan_bytes") / 1048576.0
      out("sources.read.files_scanned") = counters("sources.read.files_scanned")
      val hits = extra.getOrElse("ann_probe_hits", 0.0)
      out("operators.ann_probe.scored_per_hit") =
        if (hits > 0) counters("operators.ann_probe#scan_rows") / hits else 0.0
      out("sources.read.scan_mb") =
        counters("sources.read#scan_bytes") / 1048576.0
    }
    extra.foreach { case (k, v) => if (out.contains(k) || k.contains('.'))
      out(k) = v }
    out.toMap
  }

  /** Recorded spans, oldest first, with self time (wall minus the walls
    * of direct children). */
  def spanRecords: Seq[Map[String, Any]] = {
    val all = spans.asScala.toSeq.sortBy(_.id)
    val childWall = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endMs - c.startMs).sum }
    all.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_s" -> math.max(0.0,
          (s.endMs - s.startMs - childWall.getOrElse(s.id, 0.0)) / 1e3))
    }
  }

  /** Share of [t0, t1] (epoch ms) covered by top-level spans. */
  def topLevelCoverage(t0: Double, t1: Double): Double = {
    val tops = spans.asScala.toSeq.filter(_.parent == 0)
      .map(s => (math.max(s.startMs, t0), math.min(s.endMs, t1)))
      .filter { case (a, b) => b > a }
    if (t1 > t0) union(tops) / (t1 - t0) else 0.0
  }
}

object Tracer {
  val Prop = "graft.bench.span"

  /** The fifteen layer spans, each reported with six measures. */
  val SpanNames: Seq[String] = Seq("operators.query", "operators.quality",
    "operators.minhash", "operators.span_scrub", "operators.semdedup",
    "operators.index_build", "operators.ann_probe", "multimodal.features",
    "ingest.parse", "store.replace", "store.merge", "store.maintain_ivf",
    "store.maintain_lsh", "store.vacuum", "sources.read")
  val Measures: Seq[(String, String)] = Seq("wall_s" -> "s", "gap_s" -> "s",
    "cpu_s" -> "s", "tasks" -> "count", "shuffle_records" -> "count",
    "spill_mb" -> "MB")

  /** Every per-layer metric name with its unit, in report order. */
  val LayerMetrics: Seq[(String, String)] =
    SpanNames.flatMap(n => Measures.map { case (m, u) => (s"$n.$m", u) }) ++
      Seq("plans.analysis_s" -> "s", "plans.optimize_s" -> "s",
        "plans.physical_s" -> "s", "operators.query.scan_mb" -> "MB",
        "operators.minhash.verify_ratio" -> "ratio",
        "operators.ann_probe.scored_per_hit" -> "ratio",
        "store.lease_s" -> "s", "store.manifest_read_s" -> "s",
        "store.key_collect_s" -> "s", "store.stage_write_s" -> "s",
        "store.publish_s" -> "s", "store.bytes_written_mb" -> "MB",
        "store.versions" -> "count", "store.live_entries" -> "count",
        "sources.read.files_scanned" -> "count",
        "sources.read.scan_mb" -> "MB", "streaming.batches" -> "count",
        "streaming.empty_batches" -> "count",
        "streaming.add_batch_s" -> "s", "streaming.planning_s" -> "s",
        "streaming.wal_commit_s" -> "s",
        "streaming.commit_offsets_s" -> "s", "ingest.queue_s" -> "s",
        "ingest.gen_late_s" -> "s", "spark.slot_util" -> "ratio",
        "spark.tasks_failed" -> "count", "spark.gc_s" -> "s")

  /** Length of the union of intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0; var end = Double.NegativeInfinity
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3

  /** Walks an executed plan including the trees adaptive execution
    * keeps behind stage boundaries. */
  def walkPlan(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => walkPlan(a.executedPlan)
      case q: QueryStageExec => walkPlan(q.plan)
      case r: ReusedExchangeExec => walkPlan(r.child)
      case _ => p.children.flatMap(walkPlan)
    })
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }
}
