package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** What one measured phase of a workload produced. */
final class Phase {
  /** Latency in seconds of each client operation completed: a curation
    * job step, an ingest reader round, a marts lane. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  /** Output checks: attempted and failed, with the first few failures. */
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-defined metrics (end-to-end extras and layer counters). */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  var startMs = 0.0
  var endMs = 0.0
  def wallS: Double = (endMs - startMs) / 1e3

  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }
  def latency(s: Double): Unit = synchronized { latencies += s }
  /** Adds `v` to the running total `k` (writer and reader threads share a
    * phase). */
  def add(k: String, v: Double): Unit =
    synchronized { extra(k) = extra.getOrElse(k, 0.0) + v }
}

/** A benchmark workload: set up in a fresh session, then measure. */
trait Workload {
  /** Generates inputs, initialises stores and indexes, warms up.
    * Returns the input sizes to record. */
  def setup(s: SparkSession, work: String, seed: Long): Map[String, Any]
  /** Runs client operations for about `seconds`, into `ph`. */
  def measure(s: SparkSession, tr: Tracer, seconds: Double, ph: Phase): Unit
  /** Stops what setup started (streams, threads). */
  def teardown(): Unit = ()
  /** Workload-specific facts for the record (e.g. the tick rate). */
  def facts: Map[String, Any] = Map.empty
  /** Session settings the workload pins on top of the common ones. */
  def sessionConf: Map[String, String] = Map.empty
  /** Content digests of the generated inputs, taken after set-up and
    * outside its timing. */
  def inputDigests(s: SparkSession): Map[String, Any] = Map.empty
  /** Output fingerprints that must not depend on tracing or timing. */
  def outputs: Map[String, Any] = Map.empty
}

object Harness {
  /** Runs `df` into the `noop` sink with an [[Observation]] counting rows
    * and summing a per-row xxhash64 in the same pass. Returns
    * (rows, order-insensitive content hash). */
  def sink(df: DataFrame): (Long, Long) = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*)
        .cast("decimal(38,0)")).cast("string").as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val h = Option(m("h")).map(x => BigInt(x.toString).toLong).getOrElse(0L)
    (m("rows").asInstanceOf[Long], h)
  }

  /** Runs `f`, logging its wall time to standard error under `what`. */
  def logged[T](what: String)(f: => T): T = {
    val (r, sec) = timed(f)
    System.err.println(f"[setup] $what%s $sec%.3f")
    r
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of regular files under `f`, checksum side files excluded. */
  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum)
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  /** Bytes written through Hadoop's local file system so far. */
  def hadoopBytesWritten(): Long = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
    Option(st.get("file")).flatMap(x =>
      Option(x.getLong("bytesWritten"))).fold(0L)(_.longValue)
  }

  /** Tracks the heap in use right after full collections forced at the
    * workloads' checkpoints. */
  object Heap {
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def peakMb: Double = peak / 1048576.0
    /** Three full collections, so Spark's context cleaner can release
      * the blocks and broadcasts the first one made unreachable; the heap
      * pools' usage after the last one folds into the peak. */
    def fullGc(): Unit = {
      import scala.jdk.CollectionConverters._
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
      val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      peak = math.max(peak, used)
    }
  }

  // ---- minimal JSON rendering for the result record ----
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case xs: Array[_] => json(xs.toSeq)
    case p: Product if p.productArity == 2 =>
      json(Seq(p.productElement(0), p.productElement(1)))
    case x => json(x.toString)
  }
}
