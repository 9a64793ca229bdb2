package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Similarity-search invariants: exact top-k, LSH bucket consistency. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ivf centroid seeding: the hash-threshold pool reproduces the " +
      "exact min-k-by-hash seeds without a corpus-wide rank") {
    import org.apache.spark.sql.functions.xxhash64
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val seeded = Similarity.ivfCentroids(emb, 16)
      .map { case (id, v) => (id, v.toSeq) }.toSeq
    // the reference semantics: global min-16 by raw xxhash64 — the
    // threshold-sampled pool must admit all 16 and change nothing
    val full = emb.orderBy(xxhash64($"vec_id")).limit(16)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    assert(seeded === full)
  }

  test("kmeans|| seeding (round 12): deterministic, k centroids out, " +
      "corpus clustering cost no worse than the hash-sample seed set, " +
      "and the adaptive SemDeDup closed form is unchanged") {
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val k = Similarity.semDedupAdaptiveK(emb)
    val a = Similarity.kmeansParCentroids(emb, k)
    val b = Similarity.kmeansParCentroids(emb, k)
    assert(a.length === k)
    // hash-uniform sampling + deterministic reduce: bit-stable rerun
    assert(a.map { case (i, v) => (i, v.toSeq) }.toSeq ===
      b.map { case (i, v) => (i, v.toSeq) }.toSeq)
    // the seeding's whole point: corpus k-means cost (sum of 1 - cosine
    // to the nearest center) must not be WORSE than the naive
    // hash-sample seed set it replaces (driver replay — the fixture
    // corpus is small enough to price exactly)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).toArray)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      if (nx == 0 || ny == 0) 0.0 else d / math.sqrt(nx * ny)
    }
    def costOf(cents: Array[(Long, Array[Float])]): Double =
      vecs.map(v => cents.map(c => 1.0 - cos(v, c._2)).min).sum
    val naive = Similarity.ivfCentroids(emb, k)
    val parCost = costOf(a)
    val naiveCost = costOf(naive)
    assert(parCost <= naiveCost * 1.0001,
      s"kmeans|| cost $parCost must not exceed hash-sample cost $naiveCost")
    // planted recall through the swapped seeding: survivors are exactly
    // the original corpus (centroid-set independence — the gate's claim)
    val surv = Similarity.semDedupAdaptivePlanted(spark, TestSpark.sf)
      .collect().map(_.getLong(0)).sorted.toSeq
    val orig = emb.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(surv === orig)
  }

  test("adaptive-k sweep (round 13): clustering cost AND candidate-" +
      "pair volume are monotone non-increasing in k — the trade the " +
      "seeding buys is structural, not asserted") {
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val kHat = Similarity.semDedupAdaptiveK(emb)
    assert(kHat > 16) // the sweep points are genuinely distinct
    val ks = Seq(16, kHat, 4 * kHat)
    val stats = ks.map(k => Similarity.semDedupClusterStats(emb,
      Similarity.kmeansParCentroids(emb, k)))
    val objectives = stats.map(_._1)
    val pairs = stats.map(_._2)
    // per-step monotonicity is EMPIRICAL, not structural: the three
    // seedings are independent kmeans|| runs, so a local optimum can
    // nudge one step slightly the wrong way if data, seeding, or
    // parallelism ever shift — allow 2% jitter per step and keep the
    // LOAD-BEARING claims strict: the endpoints must genuinely move
    objectives.zip(objectives.tail).foreach { case (lo, hi) =>
      assert(hi <= lo * 1.02,
        s"k-means objective must not increase in k: $objectives") }
    pairs.zip(pairs.tail).foreach { case (lo, hi) =>
      assert(hi <= math.max((lo * 1.02).toLong, lo + 1),
        s"pair volume must not increase in k: $pairs") }
    // the endpoint claims are what the adaptive-k trade actually buys:
    // 4k-hat clusters fit strictly better AND bound the verify join
    // (the N^1.5 term) strictly tighter than k=16
    assert(objectives.last < objectives.head)
    assert(pairs.last < pairs.head)
  }

  test("brute-force top-k: k rows, descending, cosine in [-1,1]") {
    val out = Similarity.bruteForceTopK(spark, TestSpark.sf, 0L, 10).collect()
    assert(out.length === 10)
    val sims = out.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(sims.forall(s => s >= -1.000001 && s <= 1.000001))
    assert(!out.exists(_.getLong(0) == 0L))
  }

  test("identical vectors share an LSH bucket and rank first (cos 1.0)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sim_").toString
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    // plant vec 9999 = copy of vec 0
    val dup = emb.filter($"vec_id" === 0L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(9999L))
    emb.union(dup).write.parquet(s"$dir/embeddings.parquet")
    val top = Similarity.lshTopK(spark, dir, Seq(0L), k = 5, planes = 8)
      .collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(1) === 9999L)
    // floor-truncated cosine of an identical vector: 1.0 or 0.999999
    // (self-dot/(sqrt*sqrt) can land one ulp under 1)
    assert(top.head.getDouble(2) >= 0.999999)
  }

  test("LSH top-k agrees with brute force restricted to the same bucket") {
    val lsh = Similarity.lshTopK(spark, TestSpark.sf, Seq(0L), k = 5, planes = 4)
      .collect()
    assert(lsh.nonEmpty)
    val brute = Similarity.bruteForceTopK(spark, TestSpark.sf, 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every LSH score must equal the exact score for that vector
    lsh.foreach { r =>
      assert(math.abs(brute(r.getLong(1)) - r.getDouble(2)) < 1e-9)
    }
  }

  test("near-dup pairs: planted duplicate detected at cos >= 0.9") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sim_").toString
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val dup = emb.filter($"vec_id" === 7L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(8888L))
    emb.union(dup).write.parquet(s"$dir/embeddings.parquet")
    val pairs = Similarity.embeddingNearDupPairs(spark, dir, 0.9).collect()
    assert(pairs.exists(r => r.getLong(0) == 7L && r.getLong(1) == 8888L))
  }

  test("IVF: planted duplicate shares the query's cell and ranks first") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    // an identical vector gets identical centroid similarities -> same cell
    val dup = emb.filter($"vec_id" === 3L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(7777L))
    emb.union(dup).write.parquet(s"$dir/embeddings.parquet")
    val top = Similarity.ivfTopK(spark, dir, Seq(3L), k = 5).collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(1) === 7777L)
    assert(top.head.getDouble(2) >= 0.999999)
  }

  test("IVF scores are exact within the probed cells") {
    val ivf = Similarity.ivfTopK(spark, TestSpark.sf, Seq(0L, 1L), k = 5)
      .collect()
    assert(ivf.nonEmpty)
    assert(ivf.count(_.getLong(0) == 0L) <= 5)
    val brute = Similarity.bruteForceTopK(spark, TestSpark.sf, 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.filter(_.getLong(0) == 0L).foreach { r =>
      assert(math.abs(brute(r.getLong(1)) - r.getDouble(2)) < 1e-9)
    }
  }

  test("recall gates: banded LSH and IVF clear their floors at k=10") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    // measured at current params on sf0.01: lsh 0.4..1.0 (mean .64),
    // ivf 0.2..0.7 (mean .46) — floors sit under the observed minima so
    // a regression in banding/probing trips them, noise does not
    val lsh = Similarity.lshRecallAtK(spark, TestSpark.sf, qids)
      .collect().map(_.getDouble(1))
    assert(lsh.length === qids.length)
    assert(lsh.forall(_ >= 0.2), s"per-query LSH recall floor: ${lsh.mkString(",")}")
    assert(lsh.sum / lsh.length >= 0.4, s"mean LSH recall floor: ${lsh.mkString(",")}")
    val ivf = Similarity.ivfRecallAtK(spark, TestSpark.sf, qids)
      .collect().map(_.getDouble(1))
    assert(ivf.length === qids.length)
    assert(ivf.forall(_ >= 0.1), s"per-query IVF recall floor: ${ivf.mkString(",")}")
    assert(ivf.sum / ivf.length >= 0.3, s"mean IVF recall floor: ${ivf.mkString(",")}")
  }

  test("recall of a planted identical vector is perfect for both ANN paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rec_").toString
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val dup = emb.filter($"vec_id" === 5L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(6666L))
    emb.union(dup).write.parquet(s"$dir/embeddings.parquet")
    // an identical copy is the rank-1 exact neighbor; both approximate
    // paths must surface it (all band signatures / home cell coincide)
    val lsh = Similarity.lshTopK(spark, dir, Seq(5L), k = 1).collect()
    assert(lsh.head.getLong(1) === 6666L)
    val ivf = Similarity.ivfTopK(spark, dir, Seq(5L), k = 1).collect()
    assert(ivf.head.getLong(1) === 6666L)
  }

  test("materialized IVF index: probe prunes to nProbe cell partitions") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfidx_").toString
    Similarity.writeIvfIndex(spark, TestSpark.sf, idx)
    // cell= dirs exist on disk (the prunable layout)
    val dirs = new java.io.File(s"$idx/vectors").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(dirs > 4, s"expected many cell partitions, got $dirs")
    val q = graft.Tables.load(spark, TestSpark.sf, "embeddings")
      .filter($"vec_id" === 0L).head.getSeq[Float](1).toArray
    val probe = Similarity.ivfProbeIndexed(spark, idx, q, k = 11, nProbe = 4)
    val rows = probe.collect()
    // the scan must prune on the cell partition column
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[.*cell.*"),
      s"expected cell PartitionFilters in:\n${plan.take(1500)}")
    // ...and prune to EXACTLY nProbe of the cell partitions: the 100 TB
    // probe cost is nProbe/cells of one scan, from layout alone
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 4,
      s"expected 4 selected cell partitions, got " +
        s"${scans.head.selectedPartitions.partitionCount} of $dirs")
    // rank 1 is the query vector itself (it lives in a probed cell)
    assert(rows.head.getLong(0) === 0L && rows.head.getDouble(1) >= 0.999999)
    // dropping self, the result IS the in-memory IVF top-k (same
    // centroids, same probed cells, same scores)
    val mem = Similarity.ivfTopK(spark, TestSpark.sf, Seq(0L), k = 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(rows.tail.map(_.getLong(0)).toSet === mem.keySet)
    rows.tail.foreach(r => assert(mem(r.getLong(0)) === r.getDouble(1)))
  }

  test("batch probe lane: query-relation probes equal the driver-Seq " +
      "lane row-for-row, broadcast-join with dynamic partition pruning, " +
      "and the query relation is never collected") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfb_").toString
    Similarity.writeIvfIndex(spark, TestSpark.sf, idx)
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val qDf = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val batch = Similarity.ivfProbeIndexedBatch(spark, idx, qDf,
      k = 10, nProbe = 4)
    val rowsBatch = batch.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val qSeq = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val rowsMulti = Similarity.ivfProbeIndexedMulti(spark, idx,
      qSeq.toSeq, k = 10, nProbe = 4).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // bit-exact lane equality: same probed cells (distributed vs driver
    // centroid ranking), same t6 scores, same rank order
    assert(rowsBatch === rowsMulti)
    val plan = batch.queryExecution.executedPlan.toString
    // the probe side broadcasts and the index scan is pruned at RUNTIME
    // by the broadcast's distinct cells — the shape that keeps a 1e6-
    // query batch at (probed cells / cells) of one index scan
    assert(plan.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin in:\n${plan.take(1500)}")
    assert(plan.contains("dynamicpruning"),
      s"expected dynamicpruning PartitionFilters in:\n${plan.take(1500)}")
    // no collect of the query relation: the query side is the embeddings
    // FILE SCAN feeding the plan directly, never a driver-side local
    // relation re-parallelized
    assert(!plan.contains("LocalTableScan"),
      "query relation must not pass through the driver")
    // (string count, not a tree collect: AQE wraps the join stages so
    // FileSourceScanExec nodes are not reachable by plan.collect here)
    val nScans = "FileScan parquet".r.findAllIn(plan).size
    assert(nScans >= 2,
      s"expected index scan + query-relation scan, got $nScans")
  }

  test("driver-Seq probe lane is the batch plan: ONE broadcast join, " +
      "no per-query union branches") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfm_").toString
    Similarity.writeIvfIndex(spark, TestSpark.sf, idx)
    val qSeq = graft.Tables.load(spark, TestSpark.sf, "embeddings")
      .filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val multi = Similarity.ivfProbeIndexedMulti(spark, idx, qSeq.toSeq,
      k = 10, nProbe = 4)
    assert(multi.count() === 50)
    val optimized = multi.queryExecution.optimizedPlan
    val unions = optimized.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty,
      "the Seq lane must not build per-query union branches anymore")
    val joins = optimized.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 1,
      s"expected exactly one probe join, got ${joins.size}")
  }

  test("LSH batch lane: query-relation top-k equals the driver-Seq lane " +
      "row-for-row, and the query relation is never collected") {
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val qDf = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val batch = Similarity.lshTopKBatchOn(emb, qDf, k = 10)
    val rowsBatch = batch.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val rowsSeq = Similarity.lshTopK(spark, TestSpark.sf,
      Seq(0L, 1L, 2L, 3L, 4L), k = 10).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rowsBatch === rowsSeq)
    val plan = batch.queryExecution.executedPlan.toString
    // the probes flow from the embeddings FILE SCAN through distributed
    // band signatures — never through a driver-side local relation
    assert(!plan.contains("LocalTableScan"),
      "query relation must not pass through the driver")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast candidate join in:\n${plan.take(1200)}")
  }

  test("bulk-probe fallback: broadcastProbes=false yields bit-identical " +
      "rows through shuffled joins on the IVF and LSH batch lanes") {
    // the past-broadcast-capacity scenario: auto-broadcast disabled so
    // neither the planner nor AQE can pick a broadcast join — the lanes
    // must run as shuffles on the same equi-keys and change NOTHING
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val qDf = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfs_").toString
    Similarity.writeIvfIndex(spark, TestSpark.sf, idx)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ivfB = rowsOf(Similarity.ivfProbeIndexedBatch(spark, idx, qDf,
      k = 10, nProbe = 4).select("q_id", "vec_id", "cos_sim"))
    val lshB = rowsOf(Similarity.lshTopKBatchOn(emb, qDf, k = 10)
      .select("q_id", "vec_id", "cos_sim"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ivfS = Similarity.ivfProbeIndexedBatch(spark, idx, qDf,
        k = 10, nProbe = 4, broadcastProbes = false)
      val lshS = Similarity.lshTopKBatchOn(emb, qDf, k = 10,
        broadcastProbes = false)
      assert(rowsOf(ivfS.select("q_id", "vec_id", "cos_sim")) === ivfB)
      assert(rowsOf(lshS.select("q_id", "vec_id", "cos_sim")) === lshB)
      // no broadcast anywhere: the probe relation was never forced
      // through the driver-assembled exchange
      Seq(ivfS, lshS).foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"hint must be withheld when broadcastProbes=false:\n${
            plan.take(1200)}")
      }
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bulk-probe fallback covers the stored lanes too: IVF-PQ and " +
      "materialized-LSH probes shuffle when broadcastProbes=false") {
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val qDf = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val pqIdx = java.nio.file.Files.createTempDirectory("graft_pqs_").toString
    Similarity.writeIvfPqIndex(spark, TestSpark.sf, pqIdx)
    val lshIdx = java.nio.file.Files.createTempDirectory("graft_lshs_").toString
    Similarity.writeLshIndex(spark, TestSpark.sf, lshIdx)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val pqB = rowsOf(Similarity.ivfPqProbeIndexedBatch(spark, TestSpark.sf,
      pqIdx, qDf, k = 5).select("q_id", "vec_id"))
    val lshB = rowsOf(Similarity.lshProbeIndexed(spark, lshIdx, qDf, k = 5)
      .select("q_id", "vec_id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pqS = Similarity.ivfPqProbeIndexedBatch(spark, TestSpark.sf,
        pqIdx, qDf, k = 5, broadcastProbes = false)
      val lshS = Similarity.lshProbeIndexed(spark, lshIdx, qDf, k = 5,
        broadcastProbes = false)
      assert(rowsOf(pqS.select("q_id", "vec_id")) === pqB)
      assert(rowsOf(lshS.select("q_id", "vec_id")) === lshB)
      Seq(pqS, lshS).foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"hint must be withheld when broadcastProbes=false:\n${
            plan.take(1200)}")
      }
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("materialized LSH index: probe reads only the probed (band, " +
      "bucket) partitions and equals the in-memory batch lane") {
    val idx = java.nio.file.Files.createTempDirectory("graft_lshidx_").toString
    Similarity.writeLshIndex(spark, TestSpark.sf, idx)
    // band=/bucket= hive dirs exist (the prunable layout)
    val bandDirs = new java.io.File(s"$idx/postings").listFiles()
      .count(_.getName.startsWith("band="))
    assert(bandDirs === 8, s"expected 8 band partitions, got $bandDirs")
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val qDf = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val probe = Similarity.lshProbeIndexed(spark, idx, qDf, k = 10)
    val rowsStored = probe.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val rowsMem = Similarity.lshTopKBatchOn(emb, qDf, k = 10)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rowsStored === rowsMem,
      "stored-index probe must equal the in-memory lane row-for-row")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected DPP on the postings scan in:\n${plan.take(1500)}")
    assert(!plan.contains("LocalTableScan"),
      "query relation must not pass through the driver")
  }

  test("RP batch lane: query-relation top-k equals the driver-Seq lane " +
      "row-for-row, and the query relation is never collected") {
    val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
    val qDf = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val batch = graft.operators.Projection.rpTopKBatchOn(emb, qDf, k = 10)
    val rowsBatch = batch.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val rowsSeq = graft.operators.Projection.rpTopK(spark, TestSpark.sf,
      Seq(0L, 1L, 2L, 3L, 4L), k = 10).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rowsBatch === rowsSeq)
    val plan = batch.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      "query relation must not pass through the driver")
  }

  test("PQ batch probe lane: query-relation ADC equals the driver-array " +
      "lane per query, with broadcast join + dynamic partition pruning") {
    val idx = java.nio.file.Files.createTempDirectory("graft_pqb_").toString
    try {
      Similarity.writeIvfPqIndex(spark, TestSpark.sf, idx)
      val emb = graft.Tables.load(spark, TestSpark.sf, "embeddings")
      val qDf = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      val batch = Similarity.ivfPqProbeIndexedBatch(spark, TestSpark.sf,
        idx, qDf, k = 10, nProbe = 3)
      val byQ = batch.collect().toSeq
        .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2),
          r.getDouble(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      (0L until 5L).foreach { qid =>
        val single = Similarity.ivfPqProbeIndexed(spark, TestSpark.sf,
          idx, qid, k = 10, nProbe = 3).collect().toSeq
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        assert(byQ(qid) === single,
          s"query $qid: batch lane diverges from the driver-array lane")
      }
      val plan = batch.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") &&
        plan.contains("dynamicpruning") &&
        !plan.contains("LocalTableScan"),
        s"expected DPP broadcast probe without a query collect:\n" +
          plan.take(1200))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(idx)).iterator()
        .asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("ann_ivf_batch lifecycle gate: planted copies at rank 1 via the " +
      "query-relation lane (shares ann_ivf_indexed's closed-form oracle)") {
    val rows = Similarity.annIvfBatchPlanted(spark, TestSpark.sf).collect()
    assert(rows.length === 5)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong)
      assert(r.getLong(1) === i.toLong + graft.operators.Dedup.PlantOffset)
      assert(r.getInt(2) === 1)
      assert(r.getBoolean(3))
    }
  }

  test("semdedup over trained cells: planted copies dropped, originals " +
      "survive — recall on exact duplicates is centroid-set-invariant") {
    val out = Similarity.semDedupTrainedPlanted(spark, TestSpark.sf)
      .collect().map(_.getLong(0)).toSet
    val orig = graft.Tables.load(spark, TestSpark.sf, "embeddings")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(out === orig,
      "survivors must be exactly the original corpus (copies dropped)")
  }

  test("IVF lifecycle (train -> build -> probe): every planted probe " +
      "recovers its copy at rank 1, and the scratch index is removed") {
    val got = Similarity.ivfIndexedPlanted(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(got.toSeq === (0L until 5L).map(q =>
      (q, q + graft.operators.Dedup.PlantOffset, 1, true)))
    // lifecycle cleans its scratch: no graft-ivf- dirs left behind
    val tmp = new java.io.File(
      System.getProperty("java.io.tmpdir")).listFiles()
    assert(tmp == null ||
      !tmp.exists(_.getName.startsWith("graft-ivf-")),
      "lifecycle must delete its scratch index directory")
  }

  test("IVF-PQ compaction gate equals a from-scratch rebuild of the " +
      "planted corpus probed through the identical batch lane") {
    import spark.implicits._
    val sf = TestSpark.sf
    val gate = Similarity.ivfPqCompactManifestPlanted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getInt(4))).toSeq
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" < 5)
        .select($"vec_id" + graft.operators.Dedup.PlantOffset, $"embedding")
        .toDF("vec_id", "embedding"))
    val cents = Similarity.collectCentroids(
      Similarity.labelCentroids(spark, sf), "label")
    val cb = Similarity.pqCodebooks(spark, sf)
    val root = java.nio.file.Files
      .createTempDirectory("graft_pqc_rebuild_").toString
    Similarity.writeIvfPqIndexOn(planted, cents, cb, root)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val rebuilt = Similarity.ivfPqProbeIndexedBatch(spark, sf, root,
      queries, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getInt(4))).toSeq
    assert(gate === rebuilt,
      "compaction must be row-for-row equivalent to a full rebuild")
    assert(gate.map(_._1).distinct === Seq(0L, 1L, 2L, 3L, 4L))
    assert(gate.groupBy(_._1).values.forall(_.map(_._5).sorted == (1 to 10)),
      "each query must carry a dense rank 1..10")
  }

  test("cosine: ragged lengths and null elements propagate NULL") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect()
    assert(math.abs(df(0).getDouble(0) - 1.0) < 1e-12)
    assert(df(1).isNullAt(0), "length mismatch must yield NULL, not a truncated sim")
    assert(df(2).isNullAt(0), "null element must propagate NULL")
  }

  test("norms: positive, oracle-rounded") {
    val out = Similarity.norms(spark, TestSpark.sf).collect()
    assert(out.length === 500)
    assert(out.forall(_.getDouble(1) > 0))
  }

  test("kmeans assignment: total, label-closed, and argmax-optimal") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val labels = emb.select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    val rows = Similarity.kmeansAssign(spark, TestSpark.sf).collect()
    // every vector assigned exactly once, to a real cluster id
    assert(rows.length === emb.count())
    assert(rows.forall(r => labels.contains(r.getInt(2))))
    assert(rows.forall(r => r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0))
    // argmax optimality: the assigned cluster's cosine is at least the
    // own-label centroid's cosine (recomputed independently in Scala)
    val cents = Similarity.labelCentroids(spark, TestSpark.sf).collect()
      .groupBy(_.getInt(0))
      .map { case (l, rs) => l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    def cos(a: Array[Float], c: Array[Double]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0
      a.indices.foreach { i =>
        xy += a(i) * c(i); xx += a(i).toDouble * a(i); yy += c(i) * c(i)
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getInt(2)))
      .toMap
    rows.foreach { r =>
      val (v, label) = vecs(r.getLong(0))
      val ownSim = cos(v, cents(label))
      assert(r.getDouble(3) >= math.floor(ownSim * 1e6) / 1e6 - 1e-9,
        s"vec ${r.getLong(0)}: assigned ${r.getDouble(3)} < own-label $ownSim")
    }
  }

  test("pq: codebook seeds self-encode at error 0; codes stay in range") {
    val rows = Similarity.pqCodes(spark, TestSpark.sf).collect()
    rows.foreach { r =>
      val codes = Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(codes.forall(c => c >= 0 && c < Similarity.PqK))
      assert(r.getDouble(5) >= 0.0)
      if (r.getLong(0) < Similarity.PqK) {
        assert(codes.forall(_ === r.getLong(0).toInt),
          s"seed ${r.getLong(0)} must encode to its own index")
        assert(r.getDouble(5) === 0.0)
      }
    }
  }

  test("pq adc: distances to codebook seeds are the EXACT L2^2 distances") {
    // seeds' codes are exact, so ADC reconstructs the true squared
    // distance to the query for them — recompute independently in Scala
    val vecs = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 8)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2sq(a: Array[Float], b: Array[Float]): Double = {
      // same per-subspace index-order folds, summed left-to-right
      (0 until Similarity.PqM).map { j =>
        var s = 0.0
        (0 until Similarity.PqSub).foreach { i =>
          val d = a(j * 16 + i).toDouble - b(j * 16 + i).toDouble
          s += d * d
        }
        s
      }.reduceLeft(_ + _)
    }
    val adc = Similarity.pqAdcTopK(spark, TestSpark.sf, k = 2000).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (1L until 8L).foreach { c =>
      val expect = math.floor(l2sq(vecs(0L), vecs(c)) * 1e6) / 1e6
      assert(adc(c) === expect, s"seed $c adc=${adc(c)} exact=$expect")
    }
  }

  test("ivf-pq: equals the full ADC ranking restricted to the probed " +
      "cells, and probes exactly nProbe cells") {
    import org.apache.spark.sql.functions._
    // independent probe-cell ranking: centroids from the labelCentroids
    // aggregate, cosine recomputed with a plain Scala fold
    val cents = Similarity.labelCentroids(spark, TestSpark.sf).collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    val q = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") === 0L).select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val xy = a.zip(b).map { case (x, y) => x * y }.sum
      xy / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(y => y * y).sum))
    }
    val probed = cents.toSeq.map { case (l, c) => (l, cos(q, c)) }
      .sortBy { case (l, s) => (-s, l) }.take(3).map(_._1).toSet
    assert(probed.size === 3)
    val home = Similarity.kmeansAssign(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // full-scan ADC ranking, filtered to the probed home cells, is the
    // expected relation (IVF pruning must not change surviving scores)
    val full = Similarity.pqAdcTopK(spark, TestSpark.sf, k = 100000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expect = full.filter { case (id, _) => probed(home(id)) }.take(10)
    val got = Similarity.ivfPqTopK(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.map(g => (g._1, g._3)).toSeq === expect.toSeq)
    assert(got.forall(g => probed(g._2) && home(g._1) == g._2))
  }

  test("materialized IVF-PQ index: no embedding column stored, probe " +
      "prunes to nProbe cell partitions, result equals the in-memory " +
      "compose") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
    Similarity.writeIvfPqIndex(spark, TestSpark.sf, idx)
    // the index stores ids + codes + the cell partition key ONLY — the
    // 12-bits-per-vector payload that makes billion-vector ANN fit RAM
    val stored = spark.read.parquet(s"$idx/codes")
    assert(stored.columns.sorted.toSeq ===
      Seq("c0", "c1", "c2", "c3", "cell", "vec_id"))
    val probe = Similarity.ivfPqProbeIndexed(spark, TestSpark.sf, idx)
    val rows = probe.collect()
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 3,
      s"expected 3 selected cell partitions, got " +
        s"${scans.head.selectedPartitions.partitionCount}")
    val mem = Similarity.ivfPqTopK(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSeq === mem.toSeq)
  }

  test("filtered search: per-label groups complete, descending, and " +
      "consistent with the unfiltered top-1") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.filteredTopK(spark, TestSpark.sf).collect()
    val labels = Tables.load(spark, TestSpark.sf, "embeddings")
      .select("label").distinct().count()
    assert(rows.length === labels * 3)
    rows.groupBy(_.getInt(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // the global best neighbor must be rank 1 inside its own label
    val best = Similarity.bruteForceTopK(spark, TestSpark.sf, k = 1)
      .collect()(0)
    val bestLabel = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") === best.getLong(0))
      .select("label").collect()(0).getInt(0)
    val inGroup = rows.find(r =>
      r.getInt(0) == bestLabel && r.getInt(1) == 1).get
    assert(inGroup.getLong(2) === best.getLong(0))
  }

  test("filtered index probe: label predicate reaches PushedFilters and " +
      "the gate relation is label-pure") {
    // the pushdown half: a label-bearing cell-partitioned index scan
    // must carry the label predicate as a parquet pushed filter (row
    // groups skip on min/max stats before any vector bytes are read)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivff_").toString
    graft.Tables.load(spark, TestSpark.sf, "embeddings")
      .withColumn("cell",
        org.apache.spark.sql.functions.pmod($"vec_id",
          org.apache.spark.sql.functions.lit(4L)))
      .write.partitionBy("cell").parquet(s"$idx/vectors")
    val probe = spark.read.parquet(s"$idx/vectors")
      .filter($"cell".isin(0L, 1L) && $"label" === 3)
      .select($"vec_id")
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 2,
      "cell predicate must prune partitions")
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(label"),
      s"label must push to parquet: ${scans.head.metadata("PushedFilters")}")
    // the contract half: closed-form gate rows, label-pure top-k
    val rows = Similarity.ivfFilteredPlanted(spark, TestSpark.sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + 1000000L)
      assert(r.getBoolean(3) && r.getBoolean(4))
    }
  }

  test("probe monotonicity gate holds and recall genuinely varies " +
      "across nProbe (the gate is not vacuous)") {
    val rows = Similarity.ivfProbeMonotone(spark, TestSpark.sf).collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getBoolean(1) && r.getBoolean(2)))
    // non-vacuity: some step must be a STRICT increase somewhere, or the
    // gate would pass trivially on constant recall
    val r1 = Similarity.ivfRecallAtK(spark, TestSpark.sf,
      Seq(0L, 1L, 2L, 3L, 4L), 10, 16, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r4 = Similarity.ivfRecallAtK(spark, TestSpark.sf,
      Seq(0L, 1L, 2L, 3L, 4L), 10, 16, 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1.exists { case (q, v) => r4(q) > v },
      s"expected a strict recall gain from nProbe 1 -> 4: $r1 vs $r4")
  }

  test("source similarity: full pair triangle, symmetric-by-construction, " +
      "bounded, and deterministic across partitionings") {
    val rows = Similarity.sourceSimilarity(spark, TestSpark.sf).collect()
    // 20 sources -> 190 unordered pairs, each exactly once, a < b
    assert(rows.length === 190)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
    }
    // partitioning invariance: the decimal-sum lanes must produce
    // identical bits under a different shuffle layout
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    val again =
      try Similarity.sourceSimilarity(spark, TestSpark.sf).collect()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("power iteration step: matches an independent driver-side " +
      "matvec, v1 is unit, and the norm reconciles") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.powerIterStep(spark, TestSpark.sf).collect()
      .sortBy(_.getInt(0))
    val d = rows.length
    assert(d === 64)
    // independent reference on raw doubles (the operator floors per-row
    // t6 contributions, so agreement is to flooring granularity: N rows
    // of <=1e-6 floor error per component)
    val xs = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val tol = xs.length * 1e-6 + 1e-9
    // centering values replicate the operator's decimal-mean exactly:
    // per-value HALF_UP truncation to 6 decimals (Spark's decimal
    // cast), exact sum, double division, t6 floor
    val mu = Array.tabulate(d) { i =>
      val s = xs.map(x => BigDecimal(x(i))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      math.floor(s.toDouble / xs.length * 1e6) / 1e6
    }
    val v0 = Array.fill(d)(0.125)
    val y = Array.fill(d)(0.0)
    xs.foreach { x =>
      val sProj = (0 until d).map(i => (x(i) - mu(i)) * v0(i)).sum
      (0 until d).foreach(i => y(i) += (x(i) - mu(i)) * sProj)
    }
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - y(r.getInt(0))) < tol,
        s"pos ${r.getInt(0)}: ${r.getDouble(1)} vs ${y(r.getInt(0))}")
    }
    // v1 is (numerically) unit norm and parallel to y
    val v1n = math.sqrt(rows.map(r => r.getDouble(2) * r.getDouble(2)).sum)
    assert(math.abs(v1n - 1.0) < 1e-4, s"|v1| = $v1n")
    val norm = rows.head.getDouble(3)
    assert(rows.forall(_.getDouble(3) === norm))
    val yn = math.sqrt(rows.map(r => r.getDouble(1) * r.getDouble(1)).sum)
    assert(math.abs(norm - yn) < 1e-4)
  }

  test("abtt whiten: Pythagoras holds against the near-unit direction " +
      "and projections match an independent recompute") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.abttWhiten(spark, TestSpark.sf).collect()
    val xs = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    assert(rows.length === xs.size)
    // direction + mean replayed from the shipped operators themselves
    val v1 = Similarity.powerIterStep(spark, TestSpark.sf).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(2))
    val mu = {
      val d = xs.values.head.length
      Array.tabulate(d) { i =>
        val s = xs.values.map(x => BigDecimal(x(i))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
        math.floor(s.toDouble / xs.size * 1e6) / 1e6
      }
    }
    val v1n2 = v1.map(w => w * w).sum // t6-floored, so NEAR unit
    assert(math.abs(v1n2 - 1.0) < 1e-3)
    rows.foreach { r =>
      val c = xs(r.getLong(0)).zip(mu).map { case (x, m) => x - m }
      val proj = c.zip(v1).map { case (a, b) => a * b }.sum
      assert(math.abs(r.getDouble(1) - proj) < 1e-5,
        s"vec ${r.getLong(0)}: proj ${r.getDouble(1)} vs $proj")
      // exact expansion: ||c - p*v||^2 = ||c||^2 - p^2*(2 - |v|^2),
      // using c·v = p — holds for ANY v, unit or not
      val c2 = c.map(x => x * x).sum
      val resid2 = r.getDouble(2) * r.getDouble(2)
      val expect2 = c2 - proj * proj * (2.0 - v1n2)
      assert(math.abs(resid2 - expect2) < math.abs(c2) * 1e-4 + 1e-6,
        s"vec ${r.getLong(0)}: resid^2 $resid2 vs $expect2")
      assert(r.getDouble(2) <= math.sqrt(c2) + 1e-6,
        "removing a component can never grow the norm")
    }
  }

  test("kmeans step: membership accounting matches the assignment") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val step = Similarity.kmeansStep(spark, TestSpark.sf).collect()
    // 64 component rows per surviving cluster, constant member count
    // within a cluster
    val byCluster = step.groupBy(_.getInt(0))
    byCluster.foreach { case (cl, rs) =>
      assert(rs.length === 64, s"cluster $cl has ${rs.length} components")
      assert(rs.map(_.getLong(2)).distinct.length === 1,
        s"cluster $cl member count varies across components")
    }
    // member counts sum to the corpus size (every vector lands somewhere)
    assert(byCluster.values.map(_.head.getLong(2)).sum === emb.count())
    // and agree cluster-by-cluster with the assignment query
    val assigned = Similarity.kmeansAssign(spark, TestSpark.sf).collect()
      .groupBy(_.getInt(2)).view.mapValues(_.length.toLong).toMap
    byCluster.foreach { case (cl, rs) =>
      assert(assigned(cl) === rs.head.getLong(2))
    }
  }

  test("kmeans iterate: round 1 IS kmeansStep; later rounds keep the " +
      "membership invariants and never lose vectors") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val one = Similarity.kmeansIterate(spark, TestSpark.sf, rounds = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val step = Similarity.kmeansStep(spark, TestSpark.sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(one === step, "rounds = 1 must reduce to the single Lloyd step")
    val two = Similarity.kmeansIterate(spark, TestSpark.sf, rounds = 2)
      .collect()
    val byCluster = two.groupBy(_.getInt(0))
    byCluster.foreach { case (cl, rs) =>
      assert(rs.length === 64, s"cluster $cl has ${rs.length} components")
      assert(rs.map(_.getLong(2)).distinct.length === 1)
    }
    assert(byCluster.values.map(_.head.getLong(2)).sum === emb.count(),
      "every vector must land in exactly one round-2 cluster")
  }

  test("semdedup: planted copies are dropped, originals survive, and the " +
      "natural corpus is untouched at the same threshold") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val survivors = Similarity.semDedupPlanted(spark, TestSpark.sf)
      .collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === all,
      "planted-corpus survivors must be exactly the original corpus")
    // the library entry at the paper's threshold regime drops nothing on
    // this near-isotropic corpus (max within-cluster cosine ~0.51)
    assert(Similarity.semDedup(spark, TestSpark.sf).count() === emb.count())
  }

  test("hard negatives: every mined negative carries a different label " +
      "and is the true wrong-label cosine argmax chain") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.hardNegatives(spark, TestSpark.sf).collect()
    assert(rows.length === 8 * 3)
    for (anchor <- 0L until 8L) {
      val mine = rows.filter(_.getLong(0) == anchor).sortBy(_.getInt(1))
      assert(mine.map(_.getInt(1)).toSeq === Seq(1, 2, 3))
      // wrong-label only
      assert(mine.forall(r => labels(r.getLong(2)) != labels(anchor)))
      // scores descend with rank
      val sims = mine.map(_.getDouble(4))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("planted ANN gates: the exact duplicate surfaces at rank 1 with " +
      "cosine 1.0 for every probe, on both the LSH and IVF paths") {
    for (gate <- Seq(
        Similarity.lshTopKPlanted(spark, TestSpark.sf),
        Similarity.ivfTopKPlanted(spark, TestSpark.sf))) {
      val rows = gate.collect()
      assert(rows.length === 5)
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("q_id") === i.toLong)
        assert(r.getAs[Long]("vec_id") === i.toLong + 1000000L)
        assert(r.getAs[Int]("rn") === 1)
        assert(r.getAs[Boolean]("is_exact"))
      }
    }
  }
}
