package graft.perfbench

import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.WeatherIngest
import graft.models.WeatherModels
import graft.operators.Similarity
import graft.store.{ManifestStore, PartitionedStore}
import graft.streaming.HourlyStream
import Harness._

/** `ingest`: an open-loop writer applies hourly drops on a fixed
  * schedule while one closed-loop reader queries what has landed.
  *
  * Each tick (one event-time hour, every `periodS` seconds of wall time)
  * delivers three drops, applied in order by one writer thread:
  *  1. a weather JSON payload: `WeatherIngest.parse`, then
  *     `ManifestStore.replacePartitions` (the reference's day overwrite);
  *  2. a document CDC batch with tombstones (`ManifestStore.mergeInto`)
  *     plus arriving embeddings (`Similarity.maintainIvfIndex` and
  *     `maintainLshIndex`);
  *  3. an events file, picked up by a running
  *     `HourlyStream.continuousDailyUpsert`.
  * `ManifestStore.vacuum` runs on every store each [[VacuumEvery]] ticks.
  * A drop's freshness runs from its due time until it is visible: the
  * commit returned, or the micro-batch that consumed it finished.
  *
  * The reader loops over: `readTable` -> `WeatherModels.daily` (checked
  * against the weather of the version it read), `PartitionedStore.read`
  * -> daily events (checked against the events consumed), and IVF and
  * LSH probes (each query must come back at rank 1). The events
  * warehouse is a plain hive tree without snapshot isolation, so its
  * reads hold a lock the writer takes while a drop is being consumed.
  * After the window the final state is replayed and compared. */
final class Ingest(periodS: Double, cdcRows: Int, keys: Int, vecs0: Int,
    arriving: Int, events: Int, maxTicks: Int) extends Workload {
  import Ingest._

  private var s: SparkSession = _
  private var seed = 0L
  private var root = ""
  private def wRoot = s"$root/weather"
  private def dRoot = s"$root/docs"
  private def ivfRoot = s"$root/ivf"
  private def lshRoot = s"$root/lsh"
  private def srcDir = s"$root/events-src"
  private def whDir = s"$root/events-wh"
  private var stream: StreamingQuery = _
  private var trained: Array[(Int, Array[Double])] = _
  private val docs = mutable.Map.empty[Long, String]
  private val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private val lock = new ReentrantReadWriteLock()
  @volatile private var consumed = 0L
  private var tick = 0
  private var busyS = 0.0
  /** Every drop, generated at set-up: tick -> (weather JSON, CDC rows,
    * arriving vectors, staged events file). */
  private var drops: Map[Int, (String, Seq[(Long, Int, String, String)],
    Array[(Long, Array[Float])], java.io.File)] = Map.empty
  /** Every vector that is or will be indexed, for score checks. */
  private var known: Map[Long, Array[Float]] = Map.empty

  /** Reader results by what they read: the weather daily mart per store
    * version, and the events total per events consumed. */
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Long]
  override def outputs: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    results.asScala.toMap
  }

  // the status store keeps every finished execution, job and stage; capped,
  // so the heap after a window does not grow with how many reads it held
  override def sessionConf: Map[String, String] = Map(
    "spark.sql.ui.retainedExecutions" -> "20",
    "spark.ui.retainedJobs" -> "50", "spark.ui.retainedStages" -> "50")

  override def facts: Map[String, Any] = Map(
    "tick_period_s" -> periodS, "ticks_per_s" -> 1.0 / periodS,
    "cdc_rows_per_tick" -> cdcRows, "arriving_vectors_per_tick" -> arriving,
    "events_per_tick" -> events, "vacuum_every_ticks" -> VacuumEvery,
    "vacuum_keep_last" -> KeepLast)

  def setup(sp: SparkSession, work: String, seed: Long): Map[String, Any] = {
    s = sp; this.seed = seed; root = s"$work/ingest"
    val ss = s; import ss.implicits._
    tick = 0; consumed = 0L; docs.clear(); vecs.clear(); results.clear()
    val (json, _, _) = Gen.weatherPayload(seed, 0, Day0)
    logged("weather store")(ManifestStore.create(s, wRoot, parsed(json), "day"))
    val initial = (0L until keys).map { id =>
      val text = Gen.Vocab.indices.take(3 + (id % 7).toInt)
        .map(j => Gen.Vocab((id.toInt * 7 + j) % Gen.Vocab.length))
        .mkString(" ")
      docs(id) = text
      (id, (id % 8).toInt, text)
    }
    logged("docs store")(ManifestStore.create(s, dRoot,
      initial.toDF("doc_id", "part", "text"), "part"))
    val base = Gen.vectorFrame(s, seed, s.range(vecs0).toDF()).cache()
    trained = Curation.centroids(base)
    logged("ivf build")(Similarity.buildIvfIndex(s, ivfRoot,
      Curation.assign(base, trained), trained))
    logged("lsh build")(Similarity.buildLshIndex(s, base, lshRoot,
      planes = LshPlanes))
    vecs ++= base.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    base.unpersist()
    // every drop of the run, generated up front from the seed
    val arrIds = (0L until maxTicks.toLong * arriving).map(_ + vecs0)
    val arrVecs = logged("arriving vectors")(Gen.vectors(s, seed, arrIds))
    known = (vecs.toSeq ++ arrVecs).toMap
    val staged = s"$root/events-staged"
    logged("staged events")((0 to maxTicks)
      .map(t => Gen.eventRows(s, seed, t, events, Day0)
        .withColumn("tick", lit(t))).reduce(_.unionByName(_))
      .repartition(col("tick")).write.partitionBy("tick").parquet(staged))
    def fileOf(t: Int) = new java.io.File(s"$staged/tick=$t").listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    drops = (1 to maxTicks).map { t =>
      t -> ((Gen.weatherPayload(seed, t, Day0)._1,
        Gen.cdcRows(seed, t, cdcRows, keys),
        arrVecs.slice((t - 1) * arriving, t * arriving), fileOf(t)))
    }.toMap
    new java.io.File(srcDir).mkdirs()
    deliverEvents(0, fileOf(0))
    stream = HourlyStream.continuousDailyUpsert(s, srcDir, whDir,
      s"$root/checkpoint", Trigger.ProcessingTime("100 milliseconds"))
    logged("stream first batch")(stream.processAllAvailable())
    consumed = events.toLong
    Map("initial_docs" -> keys, "initial_vectors" -> vecs0,
      "pregenerated_ticks" -> maxTicks,
      "events_file_bytes" -> fileOf(1).length(),
      "weather_payload_bytes" -> drops(1)._1.length)
  }

  override def inputDigests(sp: SparkSession): Map[String, Any] = Map(
    "digest_drops" -> scala.util.hashing.MurmurHash3.orderedHash(
      drops.toSeq.sortBy(_._1).map { case (t, (json, cdc, vs, _)) =>
        (t, json, cdc, vs.map { case (id, v) => (id, v.toSeq) }.toSeq) }),
    "digest_events" -> Gen.digest(s.read.parquet(s"$root/events-staged")))

  private def parsed(json: String): DataFrame = {
    val ss = s; import ss.implicits._
    WeatherIngest.parse(Seq(json).toDF("payload"))
      .withColumn("day", date_format(col("time"), "yyyy-MM-dd"))
  }

  /** Renames a staged events file into the stream's source directory. */
  private def deliverEvents(t: Int, f: java.io.File): Long = {
    val dest = new java.io.File(srcDir, f"events-$t%05d.parquet")
    java.nio.file.Files.move(f.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    dest.length()
  }

  /** One tick: deliver and apply the three drops generated at set-up.
    * Freshness samples go to `fresh`; input bytes are returned. */
  private def writerTick(tr: Tracer, ph: Phase, dueNs: Long,
      fresh: mutable.ArrayBuffer[Double]): Long = {
    tick += 1
    val t = tick
    val since = (x: Long) => (x - dueNs) / 1e9
    tr.span("ingest.tick", t) {
      val start = System.nanoTime()
      val (json, cdc, newVecs, eventsFile) = drops(t)
      ph.add("gen_late_sum", math.max(0.0, since(start)))
      var inBytes = json.length.toLong +
        cdc.map(r => 24L + r._3.length).sum + newVecs.length * (8L + 4 * Gen.Dim)
      def applied(startNs: Long, what: String): Unit = {
        ph.add("queue_sum", since(startNs))
        ph.add("drops", 1)
        fresh += since(System.nanoTime())
        System.err.println(f"[drop] $t%d $what%s " +
          f"${(System.nanoTime() - startNs) / 1e9}%.3f")
      }

      // 1. weather day overwrite
      val w0 = System.nanoTime()
      val df = tr.span("ingest.parse", t)(parsed(json).localCheckpoint())
      tr.span("store.replace", t)(
        ManifestStore.replacePartitions(s, wRoot, df, "day"))
      applied(w0, "weather")

      // 2. document CDC and arriving embeddings
      val d0 = System.nanoTime()
      val ss = s; import ss.implicits._
      val arr = s.createDataFrame(
        java.util.Arrays.asList(newVecs.map { case (id, v) =>
          org.apache.spark.sql.Row(id, v.toSeq) }: _*), VectorSchema)
      tr.span("store.merge", t)(ManifestStore.mergeInto(s, dRoot,
        cdc.toDF("doc_id", "part", "text", "_op"), "doc_id",
        deleteWhen = Some(col("_op") === "D"), envelope = Seq("_op")))
      cdc.foreach { case (id, _, text, op) =>
        if (op == "D") docs.remove(id) else docs(id) = text }
      tr.span("store.maintain_ivf", t)(
        Similarity.maintainIvfIndex(s, ivfRoot, arr, trained))
      tr.span("store.maintain_lsh", t)(
        Similarity.maintainLshIndex(s, lshRoot, arr, planes = LshPlanes))
      vecs.synchronized { vecs ++= newVecs }
      applied(d0, "docs")

      // 3. events drop, consumed by the running stream
      val e0 = System.nanoTime()
      lock.writeLock().lock()
      try {
        inBytes += deliverEvents(t, eventsFile)
        stream.processAllAvailable()
        consumed += events
      } finally lock.writeLock().unlock()
      applied(e0, "events")

      if (t % VacuumEvery == 0) {
        tr.span("store.vacuum", t)(Seq(wRoot, dRoot, ivfRoot, lshRoot)
          .foreach(r => ManifestStore.vacuum(s, r, KeepLast)))
      }
      busyS += (System.nanoTime() - start) / 1e9
      inBytes
    }
  }

  /** One reader round of four queries, each checked. */
  private def readerRound(tr: Tracer, ph: Phase, rnd: scala.util.Random,
      op: Long): Unit = {
    def q[T](f: => T): T = f
    // weather daily mart at a pinned version: the source resolves the
    // snapshot, the model aggregates it
    val v = ManifestStore.currentVersion(s, wRoot).get
    val daily = q {
      val hourly = tr.span("sources.read", op)(
        ManifestStore.read(s, wRoot, version = Some(v)))
      tr.span("operators.query", op)(WeatherModels.daily(hourly).collect())
        .map(r => (r.getDate(0).toLocalDate, r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    }
    results.put(s"weather_v$v", daily.hashCode.toLong)
    val want = expectedDaily(seed, (v - 1).toInt)
    ph.check(daily.size == want.size && daily.zip(want).forall {
      case (a, b) => a._1 == b._1 && close(a._2, b._2) && a._3 == b._3 &&
        a._4 == b._4 && close(a._5, b._5) },
      s"weather daily at v$v: ${daily.take(2)} vs ${want.take(2)}")

    // daily events between drops
    lock.readLock().lock()
    try {
      val expect = consumed
      val got = q {
        val wh = tr.span("sources.read", op)(PartitionedStore.read(s, whDir))
        tr.span("operators.query", op)(wh.groupBy(col("date"))
          .agg(sum(col("n_events")).as("n")).collect())
          .map(_.getLong(1)).sum
      }
      results.put(s"events_after_$expect", got)
      ph.check(got == expect, s"events warehouse holds $got, consumed $expect")
    } finally lock.readLock().unlock()

    // ANN probes: each query is an indexed vector and must rank first
    val snapshot = vecs.synchronized(vecs.toArray)
    val qs = Seq.fill(ProbeQueries)(snapshot(rnd.nextInt(snapshot.length)))
      .distinctBy(_._1)
    val ss = s; import ss.implicits._
    val qdf = qs.map { case (id, v) => (id, v.toSeq) }.toDF("q_id", "q_emb")
    for ((kind, span) <- Seq("ivf" -> "operators.ann_probe",
        "lsh" -> "operators.ann_probe")) {
      val res = q(tr.span(span, op) {
        Curation.topOf(
          if (kind == "ivf") Similarity.probeIvfIndex(s, ivfRoot, qdf,
            trained, k = 10, nProbe = 4)
          else Similarity.probeLshIndex(s, lshRoot, qdf, k = 10,
            planes = LshPlanes))
      })
      qs.foreach { case (id, v) =>
        val got = res.getOrElse(id, Nil)
        // every indexed query is its own best IVF hit; LSH excludes it
        ph.check((kind == "lsh" || got.headOption.exists(_._1 == id)) &&
          Curation.scoresExact(v, got, x =>
            known.getOrElse(x, Array.fill(Gen.Dim)(Float.NaN))),
          s"$kind probe $id: ${got.take(3)}")
        val exact = Curation.topK(v, snapshot, 11)
          .filter(x => kind == "ivf" || x != id).take(10)
        ph.add("recall_sum",
          got.take(10).count(h => exact.contains(h._1)) / 10.0)
        ph.add("recall_n", 1)
        ph.add("ann_probe_hits", got.size)
      }
    }
  }

  def measure(sp: SparkSession, tr: Tracer, seconds: Double,
      ph: Phase): Unit = {
    val fresh = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val endNs = t0 + (seconds * 1e9).toLong
    val bytes0 = hadoopBytesWritten()
    val tick0 = tick
    busyS = 0.0
    var inBytes = 0L
    @volatile var writerError: Option[Throwable] = None
    val writer = new Thread(() => {
      try {
        var k = 0
        var due = t0
        while (due < endNs) {
          val wait = (due - System.nanoTime()) / 1000000L
          if (wait > 0) Thread.sleep(wait)
          inBytes += writerTick(tr, ph, due, fresh)
          k += 1
          due = t0 + (k * periodS * 1e9).toLong
        }
      } catch { case e: Throwable => writerError = Some(e) }
    }, "perfbench-ingest-writer")
    writer.start()
    val rnd = new scala.util.Random(seed * 31 + tick)
    // one client operation is a whole round: the dashboard refresh. A
    // fixed count (two per 4 s of window, about the writer's two ticks)
    // rather than "until the writer is done", which made the count, and
    // with it the share of rounds run under writes, flip between runs
    val rounds = math.max(2, math.ceil(seconds / 2).toInt)
    (1 to rounds).foreach { r =>
      val (_, sec) = timed(tr.span("ingest.read_round", r.toLong)(
        readerRound(tr, ph, rnd, r.toLong)))
      ph.latency(sec)
    }
    ph.endMs = System.currentTimeMillis().toDouble
    writer.join()
    Heap.fullGc()
    writerError.foreach(e => ph.check(false, s"writer failed: $e"))
    val wall = (System.nanoTime() - t0) / 1e9
    val ticks = tick - tick0
    val written = (hadoopBytesWritten() - bytes0).toDouble
    finalChecks(ph)

    val drops = ph.extra.getOrElse("drops", 1.0)
    ph.extra("ticks") = ticks
    ph.extra("writer_busy_share") = busyS / wall
    ph.extra("freshness_p50_s") = Harness.median(fresh.toSeq)
    ph.extra("freshness_p90_s") = quantile(fresh.toSeq, 0.9)
    ph.extra("freshness_samples") = fresh.size
    ph.extra("write_amp") = written / math.max(1L, inBytes)
    // the compacted rewrite costs seconds, so only traced runs pay it
    if (tr.enabled) ph.extra("space_amp") = spaceAmp()
    ph.extra("ann_recall_at_10") = ph.extra.getOrElse("recall_sum", 0.0) /
      math.max(1.0, ph.extra.getOrElse("recall_n", 0.0))
    ph.extra("ingest.queue_s") = ph.extra.getOrElse("queue_sum", 0.0) / drops
    ph.extra("ingest.gen_late_s") =
      ph.extra.getOrElse("gen_late_sum", 0.0) / math.max(1, ticks)
    ph.extra("store.bytes_written_mb") = written / 1048576.0
    val roots = Seq(wRoot, dRoot, ivfRoot, lshRoot)
    ph.extra("store.versions") =
      roots.map(r => ManifestStore.versions(s, r).size).sum
    ph.extra("store.live_entries") = (Seq(wRoot -> "default",
      dRoot -> "default", ivfRoot -> "default", lshRoot -> "postings",
      lshRoot -> "vectors")).map { case (r, tb) =>
        ManifestStore.tableEntries(s, r, tb).size }.sum
  }

  /** Replays the generated drops and compares every store's live state. */
  private def finalChecks(ph: Phase): Unit = {
    val wRows = ManifestStore.read(s, wRoot).select("time",
      "temperature_2m", "relative_humidity_2m").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getDouble(1),
        r.getDouble(2))).toSet
    ph.check(wRows == expectedHours(seed, tick),
      s"weather store differs from the replay of $tick ticks")
    val dRows = ManifestStore.read(s, dRoot).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ph.check(dRows == docs.toMap,
      s"docs store: ${dRows.size} rows vs ${docs.size} replayed")
    val nv = vecs.size.toLong
    ph.check(ManifestStore.read(s, ivfRoot).count() == nv,
      s"ivf index size differs from $nv vectors")
    ph.check(ManifestStore.readTable(s, lshRoot, "vectors").count() == nv,
      s"lsh index size differs from $nv vectors")
    val src = s.read.parquet(s"$srcDir/events-*.parquet")
      .groupBy(to_date(col("ts")).as("d"), col("event_type")).count()
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        r.getLong(2)).toMap
    val wh = PartitionedStore.read(s, whDir)
      .select(col("date").cast("string"), col("event_type"),
        col("n_events")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    ph.check(src == wh, s"events warehouse differs from the source files")
  }

  /** Bytes under the store roots over a compacted rewrite of their live
    * rows (one parquet write per table). */
  private def spaceAmp(): Double = {
    val out = s"$root/compacted"
    Seq(ManifestStore.read(s, wRoot), ManifestStore.read(s, dRoot),
      ManifestStore.read(s, ivfRoot),
      ManifestStore.readTable(s, lshRoot, "postings"),
      ManifestStore.readTable(s, lshRoot, "vectors"),
      PartitionedStore.read(s, whDir)).zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$i") }
    val live = Seq(wRoot, dRoot, ivfRoot, lshRoot, whDir)
      .map(r => du(new java.io.File(r))).sum
    val compact = du(new java.io.File(out))
    deleteTree(new java.io.File(out))
    live.toDouble / math.max(1L, compact)
  }

  override def teardown(): Unit = {
    if (stream != null) { stream.stop(); stream = null }
  }
}

object Ingest {
  val Day0: java.time.LocalDate = java.time.LocalDate.of(2024, 3, 1)
  // a run applies two ticks, so retention has to run on the second
  val VacuumEvery = 2
  val KeepLast = 2
  val ProbeQueries = 4
  /** Hyperplanes per LSH band: 2 gives 4 buckets a band, so a commit
    * rewrites 32 posting partitions instead of the default's 128. */
  val LshPlanes = 2
  val VectorSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Every hourly reading the weather store holds after tick `t`. */
  def expectedHours(seed: Long, t: Int): Set[(String, Double, Double)] =
    (0 to t / 24).flatMap { d =>
      val last = if (d < t / 24) d * 24 + 23 else t
      val (_, day, hours) = Gen.weatherPayload(seed, last, Day0)
      hours.map { case (hr, temp, rh) =>
        (day.atTime(hr, 0).toInstant(java.time.ZoneOffset.UTC).toString,
          temp, rh) }
    }.toSet

  /** `WeatherModels.daily` over the store after tick `t`:
    * (day, avg, max, min temperature, avg humidity), by day. */
  def expectedDaily(seed: Long, t: Int)
      : Seq[(java.time.LocalDate, Double, Double, Double, Double)] =
    (0 to t / 24).map { d =>
      val last = if (d < t / 24) d * 24 + 23 else t
      val (_, day, hours) = Gen.weatherPayload(seed, last, Day0)
      val temps = hours.map(_._2); val rhs = hours.map(_._3)
      (day, temps.sum / temps.size, temps.max, temps.min, rhs.sum / rhs.size)
    }
}
