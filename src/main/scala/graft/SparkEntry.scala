package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{FullCopy, IncrementalSync}

/** One registered query: the Spark plan over a scale-factor dir and the
  * DuckDB SQL that must produce the same rows. */
final case class Query(name: String,
    plan: (SparkSession, String) => DataFrame, oracleSql: String)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `Query` in `all` exercises a library operator (graft.operators /
  * graft.clean / graft.dedup / ...) against the test data; its
  * `oracleSql` is ANSI SQL that DuckDB evaluates over the same
  * parquet tables. Aggregates are computed in DECIMAL on both sides (double
  * summation order is engine-dependent; decimal summation is not) and the
  * FINAL compared column is cast to DOUBLE: the driver reads Spark's parquet
  * with decimals preserved but DuckDB's result laundered to float64, so a
  * decimal output hash-mismatches whenever a value has trailing zeros
  * (Decimal('42.00') vs 42.0). Decimal->double is correctly rounded in both
  * engines, so the doubles are bit-identical. Likewise DuckDB sum(int) is
  * HUGEINT (-> float64): oracles cast integer sums back to BIGINT.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- q1_agg
  // Pricing-summary style aggregation (reference has only COUNT/MAX aggs —
  // fast_etl.py:359-367,405-413 — this is their GROUP BY generalization and
  // the bench headline). Decimal sums => exact, engine-independent.
  private def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  private val q1AggSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ----------------------------------------------------------- q_full_copy
  // S1+P1+P2+P4: destination-driven projection, case-insensitive, with an
  // ignore list and a dest column absent from the source (skipped).
  private def qFullCopy(s: SparkSession, dir: String): DataFrame =
    FullCopy.align(
      Tables.load(s, dir, "lineitem", parallelize = false),
      destColumns = Seq("L_ORDERKEY", "l_partkey", "l_quantity",
        "l_shipdate", "l_extendedprice", "col_only_at_dest"),
      columnsToIgnore = Seq("l_extendedprice"))

  private val qFullCopySql =
    """SELECT l_orderkey AS "L_ORDERKEY", l_partkey, l_quantity, l_shipdate
      |FROM lineitem""".stripMargin

  // -------------------------------------------------------- q_source_query
  // S2: arbitrary-SQL source (fast_etl.py:300-304) — same text runs on both
  // engines; Spark evaluates it over registered views.
  private val sourceQuerySql =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority""".stripMargin

  private def qSourceQuery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(sourceQuerySql)
  }

  // ----------------------------------------------------------- q_key_range
  // S3/P6: key-interval partitioned scan semantics — BETWEEN predicate
  // pushed to the scan (maps to JDBC partitionColumn bounds at the source).
  private def qKeyRange(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem", parallelize = false)
      .filter(col("l_orderkey").between(100, 2000))

  private val qKeyRangeSql =
    "SELECT * FROM lineitem WHERE l_orderkey BETWEEN 100 AND 2000"

  // ------------------------------------------------------ q_watermark_inc
  // P5+A2: high-watermark increment — max(date) at "destination" (orders
  // before 1995), strictly-greater filter at the source (fast_etl.py:405-427).
  private def qWatermarkInc(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val dest = orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val wm = IncrementalSync.watermark(dest, "o_orderdate")
    IncrementalSync.increment(orders, "o_orderdate", wm)
  }

  private val qWatermarkIncSql =
    """SELECT * FROM orders WHERE o_orderdate >
      |  (SELECT max(o_orderdate) FROM orders
      |   WHERE o_orderdate < TIMESTAMP '1998-01-01')""".stripMargin

  // -------------------------------------------------- q_merge_incremental
  // J1+J2 (sync_db_2_db merge, fast_etl.py:437-450): stale destination
  // (simulated) updated+extended by an increment in one anti-join + union.
  private def qMergeIncremental(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val dest = orders
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, lit(-1.0)).otherwise(col("o_totalprice")))
    val inc = orders.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    IncrementalSync.mergeBatch(dest, inc, Seq("o_orderkey"))
  }

  private val qMergeIncrementalSql =
    """WITH dest AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 10 = 0 THEN -1.0 ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-07-01'),
      |inc AS (
      |  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |SELECT * FROM dest d
      |WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = d.o_orderkey)
      |UNION ALL SELECT * FROM inc""".stripMargin

  // -------------------------------------------------- q_exclusion_delete
  // J3/K15 (fast_etl.py:612-633): drop destination rows whose key is in the
  // exclusion registry — left-anti join instead of chunked DELETEs.
  private def qExclusionDelete(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val excl = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey"))
    IncrementalSync.applyExclusions(customer, excl, Seq("c_custkey"))
  }

  private val qExclusionDeleteSql =
    """SELECT * FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_orderstatus = 'F' AND o.o_custkey = c.c_custkey)""".stripMargin

  // ------------------------------------------------- q_dedup_keep_first
  // A4/W1 (patchwork.py:380-412 DuplicatedRowCleaner): keep the first row
  // per key under an explicit deterministic ordering (pandas' implicit file
  // order replaced by (o_orderdate, o_orderkey)).
  private def qDedupKeepFirst(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  private val qDedupKeepFirstSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |      FROM orders) WHERE rn = 1""".stripMargin

  // ---------------------------------------------------- q_mapping_join
  // J4 (patchwork.py:879-897 GSheetMappingCleaner): canonical-value mapping
  // via broadcast left join + coalesce fallback.
  private def qMappingJoin(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val nation = t(s, dir, "nation")
    customer.join(broadcast(nation),
        customer("c_nationkey") === nation("n_nationkey"), "left")
      .select(customer("c_custkey"), customer("c_name"), customer("c_nationkey"),
        coalesce(nation("n_name"), lit("desconhecido")).as("nation_name"))
  }

  private val qMappingJoinSql =
    """SELECT c_custkey, c_name, c_nationkey,
      |  COALESCE(n_name, 'desconhecido') AS nation_name
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  // ------------------------------------------------------------- registry
  private val own: Seq[Query] = Seq(
    Query("q1_agg", q1Agg, q1AggSql),
    Query("q_full_copy", qFullCopy, qFullCopySql),
    Query("q_source_query", qSourceQuery, sourceQuerySql),
    Query("q_key_range", qKeyRange, qKeyRangeSql),
    Query("q_watermark_inc", qWatermarkInc, qWatermarkIncSql),
    Query("q_merge_incremental", qMergeIncremental, qMergeIncrementalSql),
    Query("q_exclusion_delete", qExclusionDelete, qExclusionDeleteSql),
    Query("q_dedup_keep_first", qDedupKeepFirst, qDedupKeepFirstSql),
    Query("q_mapping_join", qMappingJoin, qMappingJoinSql),
  )

  /** Every registered query, in registration order. Built on first use,
    * which fails if two entries share a name. */
  lazy val all: Seq[Query] = distinctNames(Seq(own, QueriesClean.all,
    QueriesText.all, QueriesTextDedup.all, QueriesTextObjectives.all,
    QueriesOps.all, QueriesExtra.all, QueriesEvents.all,
    QueriesLifecycle.all, QueriesFunnel.all, QueriesScale.all,
    QueriesOverlap.all, QueriesSpatial.all, QueriesProjection.all,
    QueriesMatch.all, QueriesStats.all, QueriesAgreement.all,
    QueriesInference.all, QueriesSeq.all, QueriesNb.all, QueriesRank.all,
    QueriesQuality.all, QueriesRelational.all, QueriesWeb.all,
    QueriesPrivacy.all, QueriesModel.all, QueriesGraph.all,
    QueriesInfo.all).flatten)

  /** `qs` unchanged, or an error naming every name registered twice. */
  private[graft] def distinctNames(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** `all` keyed by name, for callers that look one query up. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.plan).toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracleSql).toMap
}
