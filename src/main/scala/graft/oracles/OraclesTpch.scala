package graft

/** Portable TPC-H query corpus: CTE-prefixed ANSI SQL run verbatim
  * on BOTH engines (split out of SparkEntry in r14).
  */
private[graft] object OraclesTpch {
  /** Deterministic derivation CTEs that reconstruct the TPC-H columns
    * the 7-table testdata lacks (partsupp, l_commitdate/l_receiptdate/
    * l_shipmode/l_shipinstruct, p_mfgr/p_container, s_address/s_phone/
    * s_comment), so q2/q4/q11/q12/q16/q19/q20/q21 can run with their
    * LITERAL spec structure instead of schema-adapted stand-ins
    * (VERDICT r8 item 4). Every derivation is a pure key-modulo
    * function computed identically by Spark and DuckDB from the same
    * SQL text — the single-source-of-truth property of [[portableTpch]]
    * is preserved, and cross-engine portability of each construct
    * (inline VALUES, window row_number/count, `||`, CASE over fixed
    * INTERVAL literals, CAST AS STRING) is pinned by the oracle gate
    * itself. Scale note: these CTEs are test scaffolding that makes the
    * spec shapes runnable on this corpus — `sup`'s global row_number is
    * a single-partition sort of the SUPPLIER dim (the broadcast-side
    * table by assumption), and `partsupp` is part×4 with a broadcast
    * join; both scan-linear in the fact tables' terms.
    */
  val tpchSupCte: String =
    """sup AS (
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
               row_number() OVER (ORDER BY s_suppkey) - 1 AS sidx,
               'Address#' || CAST(s_suppkey AS STRING) AS s_address,
               '27-' || CAST(s_suppkey % 900 + 100 AS STRING) || '-' ||
                 CAST(s_suppkey * 7 % 9000 + 1000 AS STRING) AS s_phone,
               CASE WHEN s_suppkey % 13 = 2
                    THEN 'wake Customer slyly Complaints about the even deposits'
                    ELSE 'blithely regular requests haggle carefully' END AS s_comment
        FROM supplier)"""

  /** partsupp: 4 suppliers per part, TPC-H-style, with ps_suppkey drawn
    * from the ACTUAL supplier key domain via the sup index (so it also
    * works on DataGen key-shifted replicas); ps_supplycost is integer
    * cents per the money protocol. The supplier count is hoisted into a
    * 1-row cross join so the bucket key is computed entirely on the
    * probe side — with `% sup.scnt` inline, the join condition
    * referenced sup on BOTH sides and Spark planned a
    * BroadcastNestedLoopJoin: |part|·4 × |supplier| comparisons,
    * invisible at sf0.01 and quadratic at sf3 (q11 98s → the r9
    * 3-point scaling sweep caught it). With the scalar hoisted it is a
    * plain broadcast hash equi-join on sidx.
    */
  val tpchPartsuppCte: String =
    """partsupp AS (
        SELECT ps_partkey, sup.s_suppkey AS ps_suppkey, ps_availqty, ps_supplycost
        FROM (SELECT p_partkey AS ps_partkey,
                     (p_partkey * 4 + g.i) % sc.n AS sidx_key,
                     (p_partkey * 13 + g.i * 7) % 9999 + 1 AS ps_availqty,
                     (p_partkey * 31 + g.i * 17) % 100000 + 100 AS ps_supplycost
              FROM part
              CROSS JOIN (VALUES (0), (1), (2), (3)) AS g(i)
              CROSS JOIN (SELECT count(*) AS n FROM supplier) AS sc)
        JOIN sup ON sup.sidx = sidx_key)"""

  /** lineitem + commit/receipt dates (fixed-interval offsets from
    * shipdate, branch by key modulo — ~50% of lines arrive after the
    * commit date, matching the spec's intent for q4/q12/q21) and
    * shipmode/shipinstruct over the spec value domains.
    */
  val tpchLineitemCte: String =
    """lineitem_d AS (
        SELECT lineitem.*,
          CASE (l_orderkey * 3 + l_linenumber) % 5
            WHEN 0 THEN l_shipdate - INTERVAL 10 DAY
            WHEN 1 THEN l_shipdate + INTERVAL 5 DAY
            WHEN 2 THEN l_shipdate + INTERVAL 12 DAY
            WHEN 3 THEN l_shipdate + INTERVAL 25 DAY
            ELSE l_shipdate + INTERVAL 40 DAY END AS l_commitdate,
          CASE (l_orderkey + l_linenumber * 7) % 4
            WHEN 0 THEN l_shipdate + INTERVAL 3 DAY
            WHEN 1 THEN l_shipdate + INTERVAL 8 DAY
            WHEN 2 THEN l_shipdate + INTERVAL 18 DAY
            ELSE l_shipdate + INTERVAL 30 DAY END AS l_receiptdate,
          CASE (l_orderkey * 5 + l_linenumber) % 7
            WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
            WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
            ELSE 'FOB' END AS l_shipmode,
          CASE (l_orderkey + l_linenumber) % 4
            WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'
            WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END AS l_shipinstruct
        FROM lineitem)"""

  /** part + p_mfgr (5 manufacturers keyed off partkey, dbgen-style) and
    * p_container over the spec's 5×8 container grid.
    */
  val tpchPartCte: String =
    """part_d AS (
        SELECT part.*,
          'Manufacturer#' || CAST(p_partkey % 5 + 1 AS STRING) AS p_mfgr,
          CASE p_partkey % 5 WHEN 0 THEN 'SM' WHEN 1 THEN 'MED' WHEN 2 THEN 'LG'
            WHEN 3 THEN 'JUMBO' ELSE 'WRAP' END || ' ' ||
          CASE (p_partkey * 3) % 8 WHEN 0 THEN 'CASE' WHEN 1 THEN 'BOX'
            WHEN 2 THEN 'BAG' WHEN 3 THEN 'JAR' WHEN 4 THEN 'PKG'
            WHEN 5 THEN 'PACK' WHEN 6 THEN 'CAN' ELSE 'DRUM' END AS p_container
        FROM part)"""

  /** Builds one WITH block from derivation CTEs + query-specific CTEs,
    * then the query body — keeps each [[portableTpch]] entry's body the
    * literal TPC-H text (modulo the _d table-name suffixes and the
    * integer-cents money protocol).
    */
  def tpchSql(ctes: Seq[String], body: String): String =
    ctes.mkString("WITH ", ", ", "\n") + body

  /** TPC-H shapes whose SQL is engine-portable verbatim: registered as
    * Spark queries AND as their own DuckDB oracles from one source of
    * truth (no drift possible). Together with the hand-built
    * q5/q6/q7/q8/q9/q10/q13/q14/q17/q18/q22 this completes all 22
    * TPC-H query shapes. q2/q4/q11/q12/q16/q19/q20/q21 run the
    * LITERAL spec structure over the derivation CTEs above (predicate
    * constants adapted to this corpus's value domains so each query is
    * non-degenerate). Money follows the integer-cents protocol; every
    * ratio output is computed in doubles (never Spark DECIMAL division).
    */
  val portableTpch: Map[String, (Seq[String], String)] = Map(

    // Q1: the canonical partial-agg benchmark — nine aggregates over a
    // date-filtered scan, one shuffle of (flag,status) groups. Every
    // input is fixed to integer cents per ROW and summed exactly, so no
    // output depends on an engine's summation order (a round() of a
    // double sum lands either side of a .xx5 tie depending on it);
    // each average is one IEEE division of two exact integers, rounded
    // by the floor(x + 0.5) protocol.
    "sql_tpch_q1" -> (Seq("lineitem") ->
      """WITH l AS (SELECT l_returnflag, l_linestatus,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS disc_price_c,
             CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5)
               AS BIGINT) AS charge_c,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_c
           FROM lineitem
           WHERE l_shipdate <= '1998-09-02')
         SELECT l_returnflag, l_linestatus,
           CAST(sum(qty_c) AS DOUBLE) / 100 AS sum_qty,
           CAST(sum(price_c) AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(disc_price_c) AS DOUBLE) / 100 AS sum_disc_price,
           CAST(sum(charge_c) AS DOUBLE) / 100 AS sum_charge,
           floor(CAST(sum(qty_c) AS DOUBLE) / count(*) + 0.5) / 100 AS avg_qty,
           floor(CAST(sum(price_c) AS DOUBLE) / count(*) + 0.5) / 100 AS avg_price,
           floor(CAST(sum(disc_c) AS DOUBLE) / count(*) + 0.5) / 100 AS avg_disc,
           count(*) AS count_order
         FROM l
         GROUP BY l_returnflag, l_linestatus"""),

    // Q3: shipping-priority top 10 — revenue in exact integer cents
    // (the q1 protocol), so the LIMIT's ranking cannot flip with
    // summation order either.
    "sql_tpch_q3" -> (Seq("customer", "orders", "lineitem") ->
      """SELECT l_orderkey,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
             AS DOUBLE) / 100 AS revenue,
           CAST(o_orderdate AS STRING) AS orderdate,
           o_orderpriority AS priority
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, orderdate, l_orderkey LIMIT 10"""),

    // Q2 LITERAL: min-cost supplier per part, correlated min subquery
    // over partsupp re-restricted to the region — decorrelates to one
    // aggregate + self-join, no per-row probe. Constants adapted to the
    // corpus domain (p_type has no BRASS; ends-with LIKE preserved).
    "sql_tpch_q2" -> (Seq("part", "supplier", "nation", "region") ->
      tpchSql(Seq(tpchSupCte, tpchPartsuppCte, tpchPartCte),
        """SELECT s_acctbal, s_name, n_name, p_partkey, p_mfgr,
             s_address, s_phone, s_comment
         FROM part_d, sup, partsupp, nation, region
         WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
           AND p_size = 20 AND p_type LIKE '%DARD'
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND ps_supplycost = (
             SELECT min(ps_supplycost)
             FROM partsupp, sup, nation, region
             WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
               AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
               AND r_name = 'ASIA')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""")),

    // Q4 LITERAL: priority count of orders with at least one line
    // received after its commit date — correlated EXISTS = left semi
    // hash join against the derived lineitem.
    "sql_tpch_q4" -> (Seq("orders", "lineitem") ->
      tpchSql(Seq(tpchLineitemCte),
        """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem_d
                       WHERE l_orderkey = o_orderkey
                         AND l_commitdate < l_receiptdate)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Q11 LITERAL: partsupp stock value per part for one nation's
    // suppliers, kept above a fraction of the global total — the
    // HAVING scalar subquery recomputes the same aggregate (spec
    // shape); sums are exact integer cents·qty, the fraction multiply
    // is a double on values < 2^53 so both engines agree bit-exactly.
    // Fraction 0.003 (spec: 0.0001/SF) sized to this corpus so the
    // filter genuinely splits the groups.
    "sql_tpch_q11" -> (Seq("part", "supplier", "nation") ->
      tpchSql(Seq(tpchSupCte, tpchPartsuppCte),
        """SELECT ps_partkey,
           CAST(sum(ps_supplycost * ps_availqty) AS BIGINT) AS value_cents
         FROM partsupp, sup, nation
         WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_name = 'NATION_1'
         GROUP BY ps_partkey
         HAVING sum(ps_supplycost * ps_availqty) > (
           SELECT sum(ps_supplycost * ps_availqty) * 0.003
           FROM partsupp, sup, nation
           WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_name = 'NATION_1')
         ORDER BY value_cents DESC, ps_partkey""")),

    // Q12 LITERAL: shipmode receipt-discipline pivot — the canonical
    // conditional-count over a fact-fact join, with the spec's full
    // commit/receipt/ship ordering predicate.
    "sql_tpch_q12" -> (Seq("orders", "lineitem") ->
      tpchSql(Seq(tpchLineitemCte),
        """SELECT l_shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders JOIN lineitem_d ON o_orderkey = l_orderkey
         WHERE l_shipmode IN ('MAIL', 'SHIP')
           AND l_commitdate < l_receiptdate
           AND l_shipdate < l_commitdate
           AND l_receiptdate >= '1996-01-01' AND l_receiptdate < '1997-01-01'
         GROUP BY l_shipmode ORDER BY l_shipmode""")),

    // Q15: top supplier by quarterly revenue — the view + scalar-max
    // pattern; the revenue CTE is evaluated once per consumer side
    // (aggregate reuse), max compared in exact integer cents.
    "sql_tpch_q15" -> (Seq("supplier", "lineitem") ->
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS total_cents
           FROM lineitem
           WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, CAST(total_cents AS BIGINT) AS total_cents
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_cents = (SELECT max(total_cents) FROM revenue)
         ORDER BY s_suppkey"""),

    // Q16 LITERAL: distinct-supplier counts per part attribute over
    // partsupp, excluding complaint suppliers via NOT IN — the
    // null-aware anti join shape (the subquery's LIKE hits the
    // deterministic complaint fraction baked into sup.s_comment).
    "sql_tpch_q16" -> (Seq("part", "supplier") ->
      tpchSql(Seq(tpchSupCte, tpchPartsuppCte),
        """SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
         FROM partsupp JOIN part ON p_partkey = ps_partkey
         WHERE p_brand <> 'Brand#21' AND p_type NOT LIKE 'MEDIUM%'
           AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
           AND ps_suppkey NOT IN (
             SELECT s_suppkey FROM sup
             WHERE s_comment LIKE '%Customer%Complaints%')
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // Q19 LITERAL: disjunction of brand×container×size×quantity blocks
    // with the spec's shipmode/shipinstruct conjuncts — Catalyst
    // extracts the common conjuncts (shipmode IN, shipinstruct =) into
    // the scan and plans ONE hash join over the union of ranges, not
    // three scans. Brand/size windows adapted to the corpus domain so
    // every block is non-empty.
    "sql_tpch_q19" -> (Seq("lineitem", "part") ->
      tpchSql(Seq(tpchLineitemCte, tpchPartCte),
        """SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS revenue_cents
         FROM lineitem_d JOIN part_d ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12'
                AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
                AND l_quantity >= 1 AND l_quantity <= 21
                AND p_size BETWEEN 1 AND 15
                AND l_shipmode IN ('AIR', 'REG AIR')
                AND l_shipinstruct = 'DELIVER IN PERSON')
            OR (p_brand = 'Brand#23'
                AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
                AND l_quantity >= 10 AND l_quantity <= 30
                AND p_size BETWEEN 1 AND 25
                AND l_shipmode IN ('AIR', 'REG AIR')
                AND l_shipinstruct = 'DELIVER IN PERSON')
            OR (p_brand = 'Brand#15'
                AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
                AND l_quantity >= 20 AND l_quantity <= 40
                AND p_size BETWEEN 1 AND 35
                AND l_shipmode IN ('AIR', 'REG AIR')
                AND l_shipinstruct = 'DELIVER IN PERSON')""")),

    // Q20 LITERAL: suppliers of 'red' parts holding more stock than
    // half a year's shipments — nested IN over partsupp with the
    // correlated 0.5·sum(l_quantity) scalar subquery; quantities are
    // integral so the double threshold is exact. Pairs with no 1996
    // shipments compare against NULL and drop, in both engines alike.
    "sql_tpch_q20" -> (Seq("supplier", "lineitem", "part", "nation") ->
      tpchSql(Seq(tpchSupCte, tpchPartsuppCte),
        """SELECT s_name, s_address
         FROM sup, nation
         WHERE s_suppkey IN (
             SELECT ps_suppkey FROM partsupp
             WHERE ps_partkey IN (
                 SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
               AND ps_availqty > (
                 SELECT 0.5 * sum(l_quantity) FROM lineitem
                 WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                   AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'))
           AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
         ORDER BY s_name""")),

    // Q21 LITERAL: the EXISTS + NOT EXISTS pair over the derived
    // lineitem — semi join and anti join against the same subplan, the
    // q21 signature shape; late = l_receiptdate > l_commitdate per
    // spec (the derivation makes that true for ~50% of lines).
    "sql_tpch_q21" -> (Seq("supplier", "lineitem", "orders", "nation") ->
      tpchSql(Seq(tpchLineitemCte),
        """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem_d l1, orders, nation
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
           AND l1.l_receiptdate > l1.l_commitdate
           AND EXISTS (SELECT 1 FROM lineitem_d l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem_d l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_receiptdate > l3.l_commitdate)
           AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
         GROUP BY s_name ORDER BY numwait DESC, s_name"""))
  )

}
