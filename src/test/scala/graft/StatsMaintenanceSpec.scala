package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.models.Catalog

/** Stats maintenance after lifecycle mutations (round-9 verdict item
  * 6): `CboSpec` proves ANALYZE stats flip plan decisions; this spec
  * proves the dual hazard — catalog stats DO NOT follow the data, so a
  * lifecycle that rewrites partitions leaves the CBO planning on the
  * pre-mutation cardinalities — and pins the repo's closing of it:
  * [[Catalog.refreshStatsAfterMutation]], called after a mutation of a
  * catalog-registered path, restores exactly the decision fresh-stats
  * planning makes.
  *
  * AQE stays off for the planning assertions (the CboSpec discipline):
  * runtime re-planning would mask the compile-time decision, and at
  * real scale the compile-time decision schedules the first stage. */
class StatsMaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a partition-overwrite mutation leaves catalog stats stale (the " +
      "planner still broadcasts the grown table); " +
      "refreshStatsAfterMutation restores the fresh-stats decision") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_stats_store_").toString
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    // day-0 store: a tiny slice, registered + ANALYZEd -> the CBO
    // rightly sees a broadcast-sized table
    docs.filter(col("doc_id") < 20).write.mode("overwrite").parquet(store)
    spark.sql("DROP TABLE IF EXISTS stats_docs")
    spark.sql(
      s"CREATE TABLE stats_docs USING parquet LOCATION '$store'")
    try {
      spark.sql("ANALYZE TABLE stats_docs COMPUTE STATISTICS")
      val smallBytes = spark.table("stats_docs")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      def joinPlan: String = Tables.load(spark, TestSpark.sf, "lineitem")
        .join(spark.table("stats_docs"),
          col("l_orderkey") === col("doc_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .queryExecution.sparkPlan.toString
      // lifecycle mutation through the store path: the table grows ~25x
      // (the compaction/incremental-merge shape — the catalog is not in
      // the write path)
      (1 to 25).map(i => docs.withColumn("doc_id",
          col("doc_id") + lit(i * 1000000L)))
        .reduce(_.unionByName(_))
        .write.mode("append").parquet(store)
      spark.catalog.refreshTable("stats_docs") // file listing, not stats
      val grownRows = spark.table("stats_docs").count()
      assert(grownRows > 10000, s"mutation must have grown the table: $grownRows")
      withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" ->
          (smallBytes * 4).toString) {
        // STALE: stored stats still describe the 20-row table, so the
        // planner broadcasts a table that is now 25x the threshold
        val stale = joinPlan
        assert(stale.contains("BroadcastHashJoin"),
          s"stale stats should still (wrongly) broadcast:\n${stale.take(1200)}")
        // the lifecycle's required follow-up
        Catalog.refreshStatsAfterMutation(spark, "stats_docs")
        val refreshed = joinPlan
        assert(refreshed.contains("SortMergeJoin") &&
          !refreshed.contains("BroadcastHashJoin"),
          s"refreshed stats must stop the broadcast:\n${refreshed.take(1200)}")
        // ...and it matches FRESH planning: a new table over the same
        // post-mutation files, ANALYZEd from scratch, plans the same way
        spark.sql("DROP TABLE IF EXISTS stats_docs_fresh")
        spark.sql("CREATE TABLE stats_docs_fresh USING parquet " +
          s"LOCATION '$store'")
        try {
          spark.sql("ANALYZE TABLE stats_docs_fresh COMPUTE STATISTICS")
          val fresh = Tables.load(spark, TestSpark.sf, "lineitem")
            .join(spark.table("stats_docs_fresh"),
              col("l_orderkey") === col("doc_id"))
            .groupBy(col("source")).agg(count(lit(1)).as("n"))
            .queryExecution.sparkPlan.toString
          assert(fresh.contains("SortMergeJoin"),
            s"fresh planning reference:\n${fresh.take(1200)}")
          val refreshedStats = spark.table("stats_docs")
            .queryExecution.optimizedPlan.stats
          val freshStats = spark.table("stats_docs_fresh")
            .queryExecution.optimizedPlan.stats
          assert(refreshedStats.sizeInBytes === freshStats.sizeInBytes,
            "refreshed estimate must equal fresh-stats planning's")
        } finally spark.sql("DROP TABLE IF EXISTS stats_docs_fresh")
      }
    } finally spark.sql("DROP TABLE IF EXISTS stats_docs")
  }

  test("refreshStatsAfterMutation quotes identifiers: a reserved-word " +
      "table name and column list ANALYZE without a parse error") {
    // `select` is catalog-legal (alphanumeric) but reserved in SQL text:
    // pre-fix this interpolated raw into `ANALYZE TABLE select` and
    // failed to parse; backtick-quoting makes any catalog-legal name
    // (and any caller-supplied string) a NAME, never SQL text
    spark.sql("DROP TABLE IF EXISTS `select`")
    // a dropped-table location can survive an aborted earlier run; the
    // managed-table create refuses to reuse it
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "select")
    if (loc.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(loc)
    try {
      spark.sql("CREATE TABLE `select` USING parquet AS " +
        "SELECT 1L AS doc_id, 'a' AS `order`")
      Catalog.refreshStatsAfterMutation(spark, "select",
        columns = Seq("order"))
      val t = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("select"))
      assert(t.stats.flatMap(_.rowCount).contains(BigInt(1)))
      assert(t.stats.exists(_.colStats.contains("order")),
        "column ANALYZE must have produced column stats for `order`")
    } finally spark.sql("DROP TABLE IF EXISTS `select`")
  }
}
