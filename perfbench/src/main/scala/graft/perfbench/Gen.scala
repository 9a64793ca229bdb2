package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, column salt) through `xxhash64`, so the same seed gives
  * the same rows under any partitioning, and [[digest]] of a generated
  * table is a stable fingerprint of the input.
  *
  *  - [[warehouse]]: the TPC-H-shaped star schema plus `events`, in the
  *    column layout of the repo's test warehouses (NTZ timestamps, the
  *    same categorical domains), scaled by `sf`.
  *  - [[corpus]]: `documents` and `embeddings` for the curation job, with
  *    planted near-duplicate documents and vectors. Documents follow the
  *    replica scheme of `graft.tools.ScaleRehearsal`: a base corpus is
  *    replicated, and replica r > 0 salts every third token with a
  *    seeded per-replica tag, so near-dups stay near-dups inside a
  *    replica while no shingle is shared across replicas.
  *  - the ingest drops ([[weatherPayload]], [[cdcRows]], [[eventRows]],
  *    [[vectors]]), one set per tick, all generated at set-up. */
object Gen {
  val Vocab: Array[String] = ("batch part spark line column order small " +
    "sort fast value scan hash slow group agg filter query big key window " +
    "row table stream merge data vector join index shard commit page cache " +
    "node task stage plan cost rank score token").split(" ")
  val Dim = 64
  val Clusters = 16
  /** Replica id stride and planted-copy offset for corpus ids. */
  val Stride = 10000000L
  val PlantBase = 5000000L

  /** Uniform long in [0, n) from (seed, id, salt). */
  def ri(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))
  /** Uniform double in [0, 1). */
  def u(seed: Long, id: Column, salt: Int): Column =
    ri(seed, id, salt, 1000000L).cast("double") / 1e6
  private def pick(seed: Long, id: Column, salt: Int,
      xs: Seq[String]): Column =
    element_at(typedlit(xs), (ri(seed, id, salt, xs.size) + 1).cast("int"))
  private def money(c: Column): Column = round(c, 2)

  /** Order-insensitive content digest of a frame: row count and the sum
    * of per-row xxhash64 over every column. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")).cast("string"))
      .head()
    val s = Option(r.getString(1)).getOrElse("0")
    (r.getLong(0), BigInt(s).toLong)
  }

  // ---- warehouse ----

  def warehouse(s: SparkSession, dir: String, sf: Double,
      seed: Long): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val id = col("id")
    def ntz(start: String, offsetDays: Column): Column =
      date_add(to_date(lit(start)), offsetDays.cast("int"))
        .cast("timestamp_ntz")
    import s.implicits._
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> regions.zipWithIndex.map { case (r, i) => (i, r) }
        .toDF("r_regionkey", "r_name"),
      "nation" -> (0 until 25).map(i => (i, s"NATION_$i", i % 5))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> s.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        ri(seed, id, 11, 25).cast("int").as("c_nationkey"),
        money(u(seed, id, 12) * 10999.98 - 999.99).as("c_acctbal"),
        pick(seed, id, 13, Seq("MACHINERY", "AUTOMOBILE", "BUILDING",
          "HOUSEHOLD", "FURNITURE")).as("c_mktsegment")),
      "supplier" -> s.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        ri(seed, id, 21, 25).cast("int").as("s_nationkey"),
        money(u(seed, id, 22) * 10999.98 - 999.99).as("s_acctbal")),
      "part" -> s.range(nPart).select(id.as("p_partkey"),
        concat_ws(" ",
          pick(seed, id, 31, Seq("small", "red", "blue", "hot", "cold",
            "old", "new", "big")),
          pick(seed, id, 32, Seq("ring", "widget", "bolt", "gear", "rod",
            "plate", "anvil", "nut"))).as("p_name"),
        concat(lit("Brand#"), (ri(seed, id, 33, 25) + 1).cast("string"))
          .as("p_brand"),
        pick(seed, id, 34, Seq("PROMO", "ECONOMY", "STANDARD", "LARGE",
          "SMALL", "MEDIUM")).as("p_type"),
        (ri(seed, id, 35, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000).cast("double") / 10.0)
          .as("p_retailprice")),
      "orders" -> s.range(nOrd).select(id.as("o_orderkey"),
        ri(seed, id, 41, nCust).as("o_custkey"),
        pick(seed, id, 42, Seq("P", "O", "F")).as("o_orderstatus"),
        money(u(seed, id, 43) * 500000.0 + 900.0).as("o_totalprice"),
        ntz("1995-01-01", ri(seed, id, 44, 2404)).as("o_orderdate"),
        pick(seed, id, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> s.range(nLine).select(
        ri(seed, id, 51, nOrd).as("l_orderkey"),
        ri(seed, id, 52, nPart).as("l_partkey"),
        ri(seed, id, 53, nSupp).as("l_suppkey"),
        (ri(seed, id, 54, 7) + 1).cast("int").as("l_linenumber"),
        (ri(seed, id, 55, 50) + 1).cast("double").as("l_quantity"),
        money(u(seed, id, 56) * 104096.0 + 901.82).as("l_extendedprice"),
        (ri(seed, id, 57, 11).cast("double") / 100.0).as("l_discount"),
        (ri(seed, id, 58, 9).cast("double") / 100.0).as("l_tax"),
        pick(seed, id, 59, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, id, 60, Seq("F", "O")).as("l_linestatus"),
        ntz("1995-01-02", ri(seed, id, 61, 2498)).as("l_shipdate")),
      "events" -> eventFrame(s, seed, s.range(nEv).select(id),
        "2024-01-01 00:00:00", 30L * 86400L))
    val c = corpus(s, dir, seed, n(50000).toInt, 1, n(20000).toInt)
    tables.map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> df.count()
    }.toMap ++ Map("documents" -> c.docs, "embeddings" -> c.vecs)
  }

  /** `events` rows for the ids in `ids`, with timestamps spread over
    * `spanSec` seconds from `start` (UTC, NTZ as in the test data). */
  def eventFrame(s: SparkSession, seed: Long, ids: DataFrame,
      start: String, spanSec: Long): DataFrame = {
    val id = col("id")
    ids.select(id.as("event_id"),
      (unix_micros(to_timestamp(lit(start))) +
        ri(seed, id, 71, spanSec * 1000000L)).as("us"),
      ri(seed, id, 72, 150).as("user_id"),
      pick(seed, id, 73, Seq("click", "signup", "error", "view",
        "purchase")).as("event_type"),
      money(u(seed, id, 74) * 490.0 + 0.01).as("value"),
      format_string("{\"k\": %d}", ri(seed, id, 75, 100)).as("props"))
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  // ---- curation corpus ----

  /** Ids of the base documents that get a planted near-duplicate copy:
    * every 25th base doc, all of which are generated with >= 20 tokens. */
  def plantedDoc(baseId: Long): Boolean = baseId % 25 == 7
  def plantedVec(id: Long): Boolean = id % 40 == 3

  private def docText(seed: Long, id: Column, nTok: Column): Column =
    array_join(transform(sequence(lit(0), nTok - 1), i =>
      element_at(typedlit(Vocab.toSeq),
        (pmod(xxhash64(lit(seed), lit(81), id, i), lit(Vocab.length.toLong))
          + 1).cast("int"))), " ")

  /** Writes `documents` (base docs × replicas, plus planted copies) and
    * `embeddings` (nVecs vectors plus planted copies) under `dir`.
    * Returns row counts and the planted pairs. */
  def corpus(s: SparkSession, dir: String, seed: Long, baseDocs: Int,
      replicas: Int, nVecs: Int): CorpusInfo = {
    val id = col("id")
    val planted = col("id") % 25 === 7
    // planted originals get >= 20 tokens, so dropping the last token
    // keeps word-3-shingle Jaccard >= 17/18
    val nTok = when(planted, ri(seed, id, 82, 60) + 20)
      .otherwise(ri(seed, id, 82, 90) + 5).cast("int")
    val base = s.range(baseDocs).select(id, docText(seed, id, nTok).as("text"),
      pick(seed, id, 83, Seq("en", "en", "en", "zh", "es", "fr", "de"))
        .as("lang"),
      format_string("src%d", ri(seed, id, 84, 20)).as("source"))
    val copies = base.filter(planted).select(
      (id + PlantBase).as("id"),
      regexp_replace(col("text"), " [a-z]+$", "").as("text"),
      col("lang"), col("source"))
    val withCopies = base.unionByName(copies)
    val salts = (0 until replicas).map(r =>
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.productHash((seed, r)).toLong
          & 0xffffffL))
    val docs = (0 until replicas).map { r =>
      val text =
        if (r == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          (t, i) => when(i % 3 === 2, concat(t, lit(s"zq${salts(r)}")))
            .otherwise(t)), " ")
      withCopies.select((col("id") + lit(r * Stride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"))
    }.reduce(_.unionByName(_))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(8, col("doc_id"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vectorFrame(s, seed, s.range(nVecs).select(id))
      .unionByName(plantedVectors(s, seed, nVecs))
      .repartition(4, col("vec_id"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val plantedDocs = for {
      r <- 0 until replicas; b <- 0 until baseDocs if plantedDoc(b)
    } yield (b + r * Stride, b + PlantBase + r * Stride)
    val plantedVecs = (0 until nVecs).filter(i => plantedVec(i.toLong))
      .map(i => (i.toLong, i + PlantBase))
    CorpusInfo(
      docs = replicas.toLong * baseDocs + plantedDocs.size,
      vecs = nVecs.toLong + plantedVecs.size,
      plantedDocPairs = plantedDocs, plantedVecPairs = plantedVecs)
  }

  final case class CorpusInfo(docs: Long, vecs: Long,
      plantedDocPairs: Seq[(Long, Long)], plantedVecPairs: Seq[(Long, Long)])

  /** Seeded clustered vectors: a unit cluster centre scaled by 0.6 plus
    * uniform noise per component, cluster id as `label`. */
  def vectorFrame(s: SparkSession, seed: Long, ids: DataFrame): DataFrame = {
    val id = col("id")
    val label = ri(seed, id, 91, Clusters)
    val comps = (0 until Dim).map { j =>
      val centre = u(seed, label, 1000 + j) - 0.5
      (centre * 0.6 + (u(seed, id, 2000 + j) - 0.5) * 0.8).cast("float")
    }
    ids.select(id.as("vec_id"), array(comps: _*).as("embedding"),
      label.cast("int").as("label"))
  }

  /** Copies of the planted vectors at `PlantBase + id`, each component
    * nudged by at most 5e-4 (cosine to the original > 0.9999). */
  private def plantedVectors(s: SparkSession, seed: Long,
      nVecs: Int): DataFrame =
    vectorFrame(s, seed, s.range(nVecs).toDF().filter(col("id") % 40 === 3))
      .select((col("vec_id") + PlantBase).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + ((pmod(xxhash64(lit(seed), col("vec_id"), i), lit(1000L))
            .cast("double") / 1e6 - 5e-4)).cast("float"))).as("embedding"),
        col("label"))

  /** Driver-side copy of vectors, for exact top-k and drop generation. */
  def vectors(s: SparkSession, seed: Long,
      ids: Seq[Long]): Array[(Long, Array[Float])] = {
    import s.implicits._
    vectorFrame(s, seed, ids.toDF("id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  }

  // ---- ingest drops ----

  /** Hash-derived uniform double in [0, 1) for driver-side generation. */
  def h(seed: Long, a: Long, b: Long, salt: Int): Double = {
    val x = scala.util.hashing.MurmurHash3.productHash((seed, a, b, salt))
    (x.toLong & 0xffffffffL).toDouble / 4294967296.0
  }

  /** Weather payload for tick `t`: the reference's hourly JSON shape
    * covering hours 0..(t mod 24) of day t / 24 from `day0` — the
    * day-so-far overwrite the hourly pipeline performs. */
  def weatherPayload(seed: Long, t: Int, day0: java.time.LocalDate)
      : (String, java.time.LocalDate, Seq[(Int, Double, Double)]) = {
    val day = day0.plusDays(t / 24)
    val hours = (0 to t % 24).map { hr =>
      val temp = math.round((10 + 15 * h(seed, day.toEpochDay, hr, 1)) *
        10) / 10.0
      val rh = math.round((40 + 55 * h(seed, day.toEpochDay, hr, 2)) *
        10) / 10.0
      (hr, temp, rh)
    }
    val times = hours.map { case (hr, _, _) => f"\"${day}T$hr%02d:00\"" }
    val json = s"""{"latitude": -23.5505, "longitude": -46.6333, """ +
      s""""hourly": {"time": [${times.mkString(", ")}], """ +
      s""""temperature_2m": [${hours.map(_._2).mkString(", ")}], """ +
      s""""relative_humidity_2m": [${hours.map(_._3).mkString(", ")}]}, """ +
      s""""_meta": {"lat": "-23.5505", "lon": "-46.6333", """ +
      s""""ingested_at": "${day}T${"%02d".format(t % 24)}:59:00Z"}}"""
    (json, day, hours)
  }

  /** Document CDC batch for tick `t`: `n` rows over a key space of
    * `keys` doc ids; op "D" (tombstone) for one row in eight, else
    * "U" (upsert). Rows are (doc_id, part, text, op). */
  def cdcRows(seed: Long, t: Int, n: Int,
      keys: Int): Seq[(Long, Int, String, String)] =
    (0 until n).map { i =>
      val id = (h(seed, t, i, 3) * keys).toLong
      val len = 5 + (h(seed, t, i, 4) * 30).toInt
      val text = (0 until len).map(j =>
        Vocab((h(seed, t * 1000L + i, j, 5) * Vocab.length).toInt))
        .mkString(" ")
      val op = if (h(seed, t, i, 6) < 0.125) "D" else "U"
      (id, (id % 8).toInt, text, op)
    }.groupBy(_._1).values.map(_.last).toSeq.sortBy(_._1)

  /** Event rows for tick `t` (one hour of event time from `day0`). */
  def eventRows(s: SparkSession, seed: Long, t: Int, n: Int,
      day0: java.time.LocalDate): DataFrame =
    eventFrame(s, seed, s.range(t.toLong * n + 10000000L,
      (t + 1L) * n + 10000000L).toDF("id"),
      s"${day0.plusDays(t / 24)} ${"%02d".format(t % 24)}:00:00", 3600L)
}
