package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.multimodal.Multimodal
import Harness._

/** `curation`: one closed-loop client runs the LLM-data curation job over
  * a generated corpus directory, one job per iteration:
  * quality scoring and filter, MinHash pairs and clusters, span scrub,
  * SemDeDup, decoded image features, IVF and LSH index builds, and a
  * batch of IVF and LSH probes. Each step is one client operation.
  *
  * Checks are closed-form: every planted near-duplicate document pair is
  * found by MinHash, every planted vector copy is dropped by SemDeDup,
  * an IVF probe returns its query first and the planted copy next (LSH
  * excludes the query, so the copy comes first), every probe score is the
  * exact cosine, and every other step's output hash repeats across
  * iterations. */
final class Curation(baseDocs: Int, replicas: Int, nVecs: Int,
    queries: Int) extends Workload {

  private var dir = ""
  private var work = ""
  private var info: Gen.CorpusInfo = _
  private var trained: Array[(Int, Array[Double])] = _
  private var exact: Map[Long, Seq[Long]] = Map.empty
  private var queryDf: DataFrame = _
  private var queryIds: Seq[Long] = Nil
  private var vecById: Map[Long, Array[Float]] = Map.empty
  private var iteration = 0
  private val firstHash = scala.collection.mutable.Map.empty[String, (Long, Long)]

  // sorters spill past 4096 records, as they would on a corpus larger
  // than executor memory, so the spill path is part of what is measured
  override def sessionConf: Map[String, String] =
    Map("spark.shuffle.spill.numElementsForceSpillThreshold" -> "4096")

  override def outputs: Map[String, Any] =
    firstHash.toSeq.sortBy(_._1).map { case (k, (r, h)) => k -> Seq(r, h) }
      .toMap

  def setup(s: SparkSession, work: String, seed: Long): Map[String, Any] = {
    this.work = work
    dir = s"$work/corpus"
    info = Gen.corpus(s, dir, seed, baseDocs, replicas, nVecs)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    trained = Curation.centroids(emb)
    // queries: planted originals (copy must rank 2nd) and plain vectors
    queryIds = (info.plantedVecPairs.map(_._1).take(queries / 2) ++
      (0L until nVecs).filter(i => !Gen.plantedVec(i))
        .take(queries - queries / 2)).sorted
    val all = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    val byId = all.toMap
    exact = queryIds.map(q => q -> Curation.topK(byId(q), all, 11)).toMap
    vecById = byId
    import s.implicits._
    queryDf = queryIds.map(q => (q, byId(q).toSeq)).toDF("q_id", "q_emb")
      .cache()
    queryDf.count()
    firstHash.clear()
    iteration = 0
    Map("documents" -> info.docs, "embeddings" -> info.vecs,
      "base_docs" -> baseDocs, "replicas" -> replicas,
      "planted_doc_pairs" -> info.plantedDocPairs.size,
      "planted_vec_pairs" -> info.plantedVecPairs.size,
      "probe_queries" -> queryIds.size,
      "corpus_bytes" -> du(new java.io.File(dir)))
  }

  override def inputDigests(s: SparkSession): Map[String, Any] = Map(
    "digest_documents" -> Gen.digest(s.read.parquet(s"$dir/documents.parquet")),
    "digest_embeddings" -> Gen.digest(s.read.parquet(s"$dir/embeddings.parquet")))

  def measure(s: SparkSession, tr: Tracer, seconds: Double,
      ph: Phase): Unit = {
    val t0 = System.nanoTime()
    var jobs = 0
    var dupFound, dupPlanted = 0L
    var recallSum, recallN = 0.0
    var hits = 0L
    while (jobs == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      iteration += 1
      val op = iteration.toLong
      def step[T](span: String)(f: => T): T = {
        val (r, sec) = timed(tr.span(span, op)(f))
        ph.latency(sec)
        System.err.println(f"[step] $span%s $sec%.3f")
        r
      }
      def stable(name: String, got: (Long, Long)): Unit = {
        val want = firstHash.getOrElseUpdate(name, got)
        ph.check(got == want && got._1 > 0,
          s"$name: $got differs from first iteration $want")
      }
      tr.span("curation.job", op) {
        stable("quality", step("operators.quality")(sink(
          TextAnalysis.qualityScores(s, dir)
            .filter(col("quality") >= 0.2))))

        val pairs = step("operators.minhash") {
          val p = Dedup.minhashPairs(s, dir, 0.8).select("doc_a", "doc_b")
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          import s.implicits._
          sink(Dedup.connectedComponents(p.toSeq.toDF("doc_a", "doc_b")))
          p.toSet
        }
        val found = info.plantedDocPairs.count(pairs.contains)
        dupFound += found; dupPlanted += info.plantedDocPairs.size
        ph.check(found == info.plantedDocPairs.size,
          s"minhash found $found of ${info.plantedDocPairs.size} planted")

        stable("span_scrub", step("operators.span_scrub")(sink(
          Dedup.spanScrub(s, dir))))

        val (kept, copiesKept) = step("operators.semdedup") {
          val r = Similarity.semDedup(s, dir, 0.95)
            .agg(count(lit(1)), sum(when(col("vec_id") >= Gen.PlantBase, 1)
              .otherwise(0)))
            .head()
          (r.getLong(0), r.getLong(1))
        }
        val dropped = info.plantedVecPairs.size - copiesKept
        dupFound += dropped; dupPlanted += info.plantedVecPairs.size
        ph.check(copiesKept == 0 && kept == nVecs,
          s"semdedup kept $kept vectors, $copiesKept planted copies")

        stable("features", step("multimodal.features")(sink(
          Multimodal.decodedFeatures(s, dir))))

        val ivfRoot = s"$work/index-$op/ivf"
        val lshRoot = s"$work/index-$op/lsh"
        step("operators.index_build") {
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
          Similarity.buildIvfIndex(s, ivfRoot,
            Curation.assign(emb, trained), trained)
          Similarity.buildLshIndex(s, emb, lshRoot)
        }

        val (ivf, lsh) = step("operators.ann_probe") {
          (Curation.topOf(Similarity.probeIvfIndex(s, ivfRoot, queryDf,
            trained, k = 10, nProbe = 4)),
            Curation.topOf(Similarity.probeLshIndex(s, lshRoot, queryDf,
              k = 10)))
        }
        for ((kind, res) <- Seq("ivf" -> ivf, "lsh" -> lsh); q <- queryIds) {
          val got = res.getOrElse(q, Nil)
          hits += got.size
          // IVF returns the query itself at rank 1; LSH excludes it
          val self = if (kind == "ivf") Seq(q) else Nil
          val copy = if (Gen.plantedVec(q)) Seq(q + Gen.PlantBase) else Nil
          val lead = self ++ copy
          ph.check(got.map(_._1).take(lead.size) == lead &&
            Curation.scoresExact(vecById(q), got, vecById),
            s"$kind probe q=$q top=${got.take(3)}")
          val want = exact(q).filter(id => kind == "ivf" || id != q).take(10)
          recallSum += got.take(10).count(h => want.contains(h._1)) / 10.0
          recallN += 1
        }
        deleteTree(new java.io.File(s"$work/index-$op"))
      }
      jobs += 1
      Heap.fullGc()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ph.endMs = System.currentTimeMillis().toDouble
    ph.extra("jobs") = jobs
    ph.extra("docs_per_s") = info.docs * jobs / wall
    ph.extra("dup_recall") = dupFound.toDouble / math.max(1L, dupPlanted)
    ph.extra("ann_recall_at_10") = recallSum / math.max(1.0, recallN)
    ph.extra("ann_probe_hits") = hits.toDouble
    if (tr.enabled) {
      // candidate volume for the verify ratio, outside the job spans
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val cands = Dedup.minhashCandidates(docs).count()
      val verified = Dedup.minhashPairs(s, dir, 0.8).count()
      ph.extra("operators.minhash.verify_ratio") =
        verified.toDouble / math.max(1L, cands)
    }
  }
}

object Curation {
  /** Per-label centroids, collected to driver metadata. */
  def centroids(emb: DataFrame): Array[(Int, Array[Double])] =
    Similarity.labelCentroidsOn(emb).collect()
      .groupBy(_.getAs[Int]("label"))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("c")) }
      .toArray.sortBy(_._1)

  /** (vec_id, embedding, cell) with cell = the max-cosine centroid. */
  def assign(emb: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      array_min(array(cents.map { case (l, v) =>
        struct((-Similarity.cosine(col("embedding"), typedlit(v)))
          .as("neg"), lit(l).as("cell"))
      }.toSeq: _*)).getField("cell").as("cell"))

  /** Query id -> (hit id, score), ordered by descending score. */
  def topOf(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, hs) =>
        q -> hs.sortBy(h => (-h._3, h._2)).map(h => (h._2, h._3)).toSeq }

  /** Every reported score is the exact cosine of query and hit (to the
    * 1e-6 floor the operators apply), in non-increasing order. */
  def scoresExact(q: Array[Float], hits: Seq[(Long, Double)],
      vec: Long => Array[Float]): Boolean =
    hits.forall { case (id, sc) => math.abs(cosine(q, vec(id)) - sc) <= 2e-6 } &&
      hits.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine, ties broken by id. */
  def topK(q: Array[Float], all: Array[(Long, Array[Float])],
      k: Int): Seq[Long] =
    all.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSeq
}
