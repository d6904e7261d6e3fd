package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-8 query group: correlated-subquery analytic anchors.
  *
  * The reference's query surface is assembled Python-side (fast_etl.py
  * builds SELECT/WHERE strings and ships them to the database), so any
  * ANSI shape a user writes — correlated EXISTS, NOT EXISTS, scalar
  * subqueries — must run well here too. These four queries declare the
  * CORRELATED form verbatim and let Catalyst decorrelate:
  *
  *  - `RewritePredicateSubquery` turns EXISTS/NOT EXISTS into left-semi /
  *    left-anti hash joins (one pass over each table, no per-row probe);
  *  - `RewriteCorrelatedScalarSubquery` turns per-group scalar subqueries
  *    into an aggregate + join (the Q17 shape's correlated sum and count
  *    each become one per-part aggregate joined back — no per-row
  *    re-scan; uncorrelated scalars like Q22's global average execute
  *    exactly once as hosted subqueries).
  *
  * At 100 TB this is the difference between a nested-loop re-scan per
  * outer row (how a naive engine runs correlated SQL) and two or three
  * shuffle joins — `PlanSpec` pins the decorrelated physical shapes so a
  * Spark upgrade that stops rewriting any of them fails a test, not a
  * production run.
  *
  * Exactness: every predicate that TPC-H states with a division
  * (`l_quantity < 0.2 * avg(...)`) is cross-multiplied into integer /
  * decimal arithmetic (`5 * q * n < sum`), so the filter decision is
  * bit-identical on both engines; final aggregates render DOUBLE/BIGINT
  * per the harness contract.
  */
object QueriesRelational {

  private def sql(s: SparkSession, dir: String, q: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q)
  }

  // ------------------------------------------------------------ exists semi
  // TPC-H Q4 shape on our schema: orders with at least one line shipped
  // more than 60 days after the order date, counted by priority. The
  // correlated EXISTS decorrelates to ONE left-semi join on l_orderkey.
  private val existsSemiSql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  def qExistsSemi(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, existsSemiSql)

  // ------------------------------------------------------------- anti join
  // TPC-H Q22 shape: above-average-balance customers with no URGENT
  // order, per market segment. The global average is a scalar subquery
  // (cross-multiplied: bal * n > sum, exact decimals); the NOT EXISTS
  // decorrelates to a left-anti join. Null-safe: acctbal > 0 keeps the
  // positive-balance population TPC-H uses for the average.
  private val antiAggSql =
    """SELECT c_mktsegment, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
      |      (SELECT count(*) FROM customer WHERE c_acctbal > 0) >
      |      (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
      |       FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment""".stripMargin

  def qAntiAgg(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, antiAggSql)

  // --------------------------------------------------- correlated scalar
  // TPC-H Q17 shape: revenue from lines whose quantity is below 20% of
  // the part's average quantity. `q < 0.2 * (S/n)` is cross-multiplied
  // to `5*q*n < S` (exact decimal), so the correlated AVG becomes two
  // correlated scalar subqueries over the same per-part group; Catalyst
  // decorrelates each into an aggregate joined back on l_partkey (a
  // hand-fused single aggregate would scan lineitem once less — this
  // anchor pins what the DECLARED form costs, which is still O(scan),
  // never O(rows x groups)).
  private val scalarCorrSql =
    """SELECT p.p_brand,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS small_qty_revenue,
      |  count(*) AS n_lines
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 *
      |      (SELECT count(*) FROM lineitem l2
      |       WHERE l2.l_partkey = l.l_partkey) <
      |      (SELECT sum(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem l2
      |       WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY p.p_brand""".stripMargin

  def qScalarCorr(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, scalarCorrSql)

  // ---------------------------------------------------------- having semi
  // TPC-H Q18 shape: large orders (total quantity > 180) joined back to
  // customer. The HAVING group is the semi-filter driving the join — the
  // aggregate runs once; no correlated re-scan.
  private val havingSemiSql =
    """SELECT c.c_name, o.o_orderkey,
      |  CAST(t.total_qty AS DOUBLE) AS total_qty,
      |  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
      |FROM (
      |  SELECT l_orderkey,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180) t
      |JOIN orders o ON o.o_orderkey = t.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey""".stripMargin

  def qHavingSemi(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, havingSemiSql)

  // --------------------------------------------------------------- setops
  // ANSI INTERSECT / EXCEPT — §2.8's set-op completion beyond UNION.
  // Catalyst plans INTERSECT as a distinct left-semi join and EXCEPT as
  // a distinct left-anti join: set semantics at hash-join cost. The
  // parentheses pin standard precedence identically on both engines.
  private val setOpsSql =
    """(SELECT o_custkey AS custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      | INTERSECT
      | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |EXCEPT
      |SELECT c_custkey FROM customer
      |WHERE c_mktsegment = 'BUILDING'""".stripMargin

  def qSetOps(s: SparkSession, dir: String): DataFrame =
    sql(s, dir, setOpsSql)

  // ------------------------------------------------------------- registry
  // ---------------------------------------------------- FD / key checks
  // Dependency profiling (operators.Dependencies): exact functional-
  // dependency verdicts over a hypothesis list and candidate-key
  // verification — one scan each, all-integer outputs. The oracle
  // replays each hypothesis as its own GROUP BY branch (independent
  // mechanics: no explode, one branch per pair).
  private val FdPairs = Seq(
    ("o_orderkey", "o_custkey"),      // holds: an order has one customer
    ("o_orderkey", "o_orderstatus"),  // holds
    ("o_custkey", "o_orderstatus"),   // violated: customers repeat
    ("o_orderstatus", "o_orderpriority")) // violated

  def qFdCheck(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dependencies.functionalDeps(
      Tables.load(s, dir, "orders"), FdPairs)

  val qFdCheckSql: String =
    FdPairs.map { case (a, b) =>
      s"""SELECT '$a' AS lhs, '$b' AS rhs,
         |  count(*) AS n_lhs_values,
         |  CAST(sum(n_rhs) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_lhs_violating,
         |  sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
         |FROM (
         |  SELECT $a, count(DISTINCT CAST($b AS VARCHAR))
         |    + max(CASE WHEN $b IS NULL THEN 1 ELSE 0 END) AS n_rhs
         |  FROM orders GROUP BY $a) g""".stripMargin
    }.mkString("\nUNION ALL\n")

  private val KeySets = Seq(
    Seq("o_orderkey"),
    Seq("o_custkey"),
    Seq("o_custkey", "o_orderdate"))

  def qKeyCheck(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dependencies.keyCheck(
      Tables.load(s, dir, "orders"), KeySets)

  val qKeyCheckSql: String =
    KeySets.map { cols =>
      val label = cols.mkString(",")
      val grp = cols.mkString(", ")
      s"""SELECT '$label' AS key_cols,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  count(*) AS n_distinct,
         |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
         |    AS n_dup_rows,
         |  sum(CASE WHEN n > 1 THEN n ELSE 0 END) = 0 AS is_key
         |FROM (SELECT count(*) AS n FROM orders GROUP BY $grp) g""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_fd_check", qFdCheck, qFdCheckSql),
    Query("q_key_check", qKeyCheck, qKeyCheckSql),
    Query("q_exists_semi", qExistsSemi, existsSemiSql),
    Query("q_anti_agg", qAntiAgg, antiAggSql),
    Query("q_scalar_corr", qScalarCorr, scalarCorrSql),
    Query("q_having_semi", qHavingSemi, havingSemiSql),
    Query("q_setops", qSetOps, setOpsSql),
  )
}
