package graft

/** DuckDB oracle SQL — TPC-H shapes expressed directly in SQL.
  * Split verbatim out of SparkEntry.baseOracleSql in r14; graded
  * against the Spark queries by the driver's sorted-column hash.
  */
private[graft] object OraclesTpchSql {
  import OracleDsl._

  val sql: Map[String, String] = Map(
    "sql_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
           AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
         GROUP BY 1, 2, 3""",

    "sql_tpch_q10" ->
      """SELECT c_custkey, c_name,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
             / 100.0 AS revenue,
           c_acctbal
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal
         ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "sql_tpch_q14" ->
      """WITH l AS (SELECT
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS cents,
             p_type
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01')
         SELECT
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           floor(1000000.0 * sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                 / sum(cents) + 0.5) / 10000 AS promo_pct
         FROM l""",

    "sql_tpch_q8" ->
      """WITH v AS (SELECT
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS cents,
             n2.n_name AS supp_nation
           FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
             AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01')
         SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN cents ELSE 0 END) AS BIGINT) AS nation_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           floor(1000000.0 * sum(CASE WHEN supp_nation = 'NATION_1' THEN cents ELSE 0 END)
                 / sum(cents) + 0.5) / 10000 AS mkt_share_pct
         FROM v GROUP BY o_year""",

    "sql_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
             / 100.0 AS profit
         FROM lineitem JOIN part ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY n_name, year(o_orderdate)""",

    "sql_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
               GROUP BY c_custkey) AS c_orders
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",

    "sql_tpch_q17" ->
      """SELECT
           CAST(sum(cents) AS BIGINT) AS total_cents,
           floor(sum(cents) / 7.0 + 0.5) / 100.0 AS avg_yearly
         FROM (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
               FROM lineitem JOIN part ON p_partkey = l_partkey
               WHERE p_brand = 'Brand#1' AND p_type = 'SMALL'
                 AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = p_partkey)) AS small_qty""",

    "sql_tpch_q22" ->
      """WITH avg_bal AS (
           SELECT sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) * 1.0 / count(*) AS avg_cents
           FROM customer WHERE c_acctbal > 0.0)
         SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
           count(*) AS numcust,
           CAST(sum(cents) AS BIGINT) AS totacctbal_cents
         FROM (SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
               FROM customer CROSS JOIN avg_bal
               WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) > avg_cents
                 AND NOT EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey
                                   AND o_orderdate >= '2000-01-01')) AS rich_idle
         GROUP BY c_nationkey % 5 ORDER BY cntrycode""",

    "sql_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "sql_tpch_q18" ->
      """SELECT o_orderkey, o_orderdate::VARCHAR AS orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
         GROUP BY o_orderkey, o_orderdate, o_totalprice""",

    "sql_tpch_q5" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY n_name""",

  )
}
