package graft.perfbench

import org.apache.spark.sql.SparkSession

import Harness._

/** `marts`: one closed-loop client runs the read-only relational and
  * model lanes of `graft.SparkEntry.queries` over a generated warehouse,
  * each into the `noop` sink, in whole passes whose lane order the seed
  * shuffles. Every lane's row count and content hash is checked against
  * `perfbench/marts_expected.tsv`. */
final class Marts(sf: Double, expectedFile: String) extends Workload {
  import Marts._

  private var dir = ""
  private lazy val expected: Map[String, (Long, Long)] = {
    val f = new java.io.File(expectedFile)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> ((a(1).toLong, a(2).toLong)))
      .toMap
  }
  private var seed = 0L

  private val seen = scala.collection.mutable.Map.empty[String, (Long, Long)]
  override def outputs: Map[String, Any] =
    seen.toSeq.sortBy(_._1).map { case (k, (r, h)) => k -> Seq(r, h) }.toMap

  def setup(s: SparkSession, work: String, seed: Long): Map[String, Any] = {
    this.seed = seed
    dir = s"$work/warehouse"
    // the warehouse is fixed: the seed only orders the lanes
    val rows = Gen.warehouse(s, dir, sf, WarehouseSeed)
    Warmup.foreach(l => sink(graft.SparkEntry.queries(l)(s, dir)))
    Map("warehouse_sf" -> sf, "warehouse_rows" -> rows,
      "lanes" -> Lanes.size)
  }

  override def inputDigests(s: SparkSession): Map[String, Any] =
    Seq("lineitem", "orders", "events").map(t =>
      s"digest_$t" -> Gen.digest(s.read.parquet(s"$dir/$t.parquet"))).toMap

  def measure(s: SparkSession, tr: Tracer, seconds: Double,
      ph: Phase): Unit = {
    val rnd = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    var pass = 0
    var op = 0L
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      rnd.shuffle(Lanes).foreach { lane =>
        op += 1
        val fn = graft.SparkEntry.queries(lane)
        val ((rows, hash), sec) = timed(tr.span("operators.query", op)(
          sink(fn(s, dir))))
        ph.latency(sec)
        System.err.println(f"[lane] $lane%s $sec%.3f")
        seen(lane) = (rows, hash)
        val want = expected.get(lane)
        ph.check(want.contains((rows, hash)),
          s"$lane: rows=$rows hash=$hash expected=$want")
      }
      pass += 1
      Heap.fullGc()
    }
    ph.extra("passes") = pass
  }

  /** Runs each lane once and returns (lane, rows, hash) — the source of
    * `marts_expected.tsv`. */
  def pin(s: SparkSession): Seq[(String, Long, Long)] =
    Lanes.sorted.map { l =>
      val (r, h) = sink(graft.SparkEntry.queries(l)(s, dir))
      (l, r, h)
    }
}

object Marts {
  val WarehouseSeed = 42L
  /** TPC-H lanes (q13 is `custdist`), the reference's staging and mart
    * models, and the window, join and set lanes. */
  val Lanes: Seq[String] = Seq(
    "q1_pricing", "q2_min_cost", "q3_shipping", "q4_priority", "q5_region",
    "q6_forecast", "q7_volume", "q8_mktshare", "q9_profit", "q10_returns",
    "q11_important_stock", "q12_late", "custdist", "q14_promo",
    "q15_top_supplier", "q16_supplier_cnt", "q17_small_qty",
    "q18_large_orders", "q19_disjunct", "q20_promotable", "q21_waiting",
    "q22_opportunity",
    "stg_hourly", "mart_daily", "sql_mart", "pivot_daily", "rollup_events",
    "cube_flags",
    "win_running", "win_lag", "win_rank", "join_left", "join_semi",
    "join_anti", "set_union", "set_intersect", "set_except")
  private val Warmup = Seq("q1_pricing", "q3_shipping", "mart_daily")
}
