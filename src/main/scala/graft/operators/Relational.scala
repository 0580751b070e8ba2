package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY.md §2 B/C/D/F/G/H).
  *
  * The reference has no filter/projection/join/sort primitives
  * (SURVEY.md §2 B3/B4/D/F/G are ABSENT there) — clients emulate them inside
  * `map`/`reduce` (MapReduceClient.h:74,83). Here each is the idiomatic
  * declarative Spark form so Catalyst gets pushdown, pruning and join
  * selection for free.
  *
  * Scale notes (100 TB):
  *  - Filters/projections are pushed to the parquet scan (verified via
  *    `.explain`: PushedFilters + pruned ReadSchema).
  *  - Dimension tables (nation/region/customer/supplier/part at TPC-H scale
  *    proportions) are broadcast — fact-table joins need no shuffle of the
  *    big side. `broadcast()` hints where the dimension is guaranteed small;
  *    AQE re-plans the rest at runtime.
  *  - Aggregations are algebraic (sum/count/avg/min/max) → map-side partial
  *    aggregation shrinks shuffle volume to O(groups), not O(rows).
  *  - Top-k uses orderBy+limit → TakeOrderedAndProject (no global sort).
  */
object Relational extends QueryPack {
  import graft.Portable.{round2, round4}

  val queries: Map[String, Q] = Map(
    // C4/C: TPC-H Q1-shaped aggregation — multiple algebraic aggregates.
    "q1_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2024-06-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round2(sum("l_quantity")).as("sum_qty"),
          round2(sum("l_extendedprice")).as("sum_base_price"),
          round2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          round4(avg("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // B3/B4: filter + projection, pushed down to the parquet scan.
    "q_filter_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
        .orderBy("l_orderkey", "l_linenumber")),

    // D: 4-way equi-join (fact ⋈ fact ⋈ dim ⋈ dim), revenue by nation.
    // nation is broadcast explicitly; customer joins via AQE-selected
    // strategy (broadcast at these SFs, sort-merge at 100 TB proportions).
    "q3_join" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")),

    // D: left semi join — customers that have at least one urgent order.
    "q_semi_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    // D: left anti join — customers with no orders at all.
    "q_anti_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // D: left outer join + null handling.
    "q_outer_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          round2(coalesce(sum("o_totalprice"), lit(0.0))).as("total_spent"))
        .orderBy("c_custkey")),

    // F: top-k — TakeOrderedAndProject, distributed heap not global sort.
    "q_topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), round2(col("o_totalprice")).as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(25)),

    // C: distinct (dropDuplicates ≡ group-by-all-columns).
    "q_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
        .orderBy("o_orderstatus", "o_orderpriority")),

    // C: exact count distinct (shuffle-expand then merge; HLL variant is
    // exposed separately without an oracle since estimates are engine-
    // specific).
    "q_count_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")),

    // C: rollup — hierarchical grouping sets (region → nation → total).
    // Routed through the SQL surface: Dataset.rollup's Expand duplicates
    // grouping attributes and trips the ambiguous-self-join analyzer check
    // when the input is a join; the view boundary (SubqueryAlias) avoids it
    // and also exercises spark.sql(...) as a first-class entry point.
    "q_rollup" -> ((s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        .createOrReplaceTempView("q_rollup_base")
      s.sql("""SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
                      FLOOR(SUM(c_acctbal)*100 + 0.5)/100 AS acctbal
               FROM q_rollup_base GROUP BY ROLLUP(r_name, n_name)
               ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")
    }),

    // G: set operations — union / intersect / except on nation keys drawn
    // from two sides of the schema.
    "q_setops" -> ((s, d) => {
      val custNations = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val suppNations = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      val u = custNations.union(suppNations).distinct()
        .withColumn("op", lit("union"))
      val i = custNations.intersect(suppNations)
        .withColumn("op", lit("intersect"))
      val e = custNations.distinct().except(suppNations)
        .withColumn("op", lit("except"))
      u.union(i).union(e).orderBy("op", "nationkey")
    }),

    // H: scalar string/math/date functions, all codegen builtins.
    "q_scalar_funcs" -> ((s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_up"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type_pfx"),
          (col("p_size") % 7).as("size_mod"),
          round4(sqrt(col("p_retailprice"))).as("price_sqrt"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")),

    // H: date functions over orders.
    "q_date_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mon"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day_str"))
        .orderBy("o_orderkey")),

    // C: conditional aggregation (FILTER-clause semantics) — several
    // differently-filtered aggregates in ONE pass over the fact table
    // instead of N filtered scans. All integer accumulators, so partial
    // aggregation is order-independent and oracle-exact.
    "q_conditional_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_all"),
          count(when(col("l_quantity") >= 25, 1)).as("n_heavy"),
          sum(when(col("l_discount") > 0.05,
            floor(col("l_quantity")).cast("long")).otherwise(0L)).as("qty_discounted"),
          countDistinct(when(col("l_linenumber") === 1, col("l_partkey")))
            .as("parts_first_line"))
        .orderBy("l_returnflag")),

    // G: schema-evolution union — unionByName with allowMissingColumns
    // aligns by column NAME (different column order, one side missing a
    // column → null-filled), the union a pipeline needs when a source adds
    // a field mid-stream. DuckDB's UNION ALL BY NAME is the exact twin.
    "q_union_by_name" -> ((s, d) => {
      val a = Tables.customer(s, d).select(
        col("c_custkey").as("key"), col("c_name").as("name"),
        lit("customer").as("src"))
      val b = Tables.supplier(s, d).select(
        lit("supplier").as("src"), col("s_name").as("name"),
        col("s_suppkey").as("key"), col("s_nationkey").as("nationkey"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy("src")
        .agg(
          count(lit(1)).as("n"),
          min("key").as("min_key"),
          max("key").as("max_key"),
          count(col("nationkey")).as("n_nation"))
        .orderBy("src")
    })
  )

  def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                FLOOR((SUM(l_quantity))*100 + 0.5)/100 AS sum_qty,
                FLOOR((SUM(l_extendedprice))*100 + 0.5)/100 AS sum_base_price,
                FLOOR((SUM(l_extendedprice * (1 - l_discount)))*100 + 0.5)/100 AS sum_disc_price,
                FLOOR((AVG(l_quantity))*10000 + 0.5)/10000 AS avg_qty,
                CAST(COUNT(*) AS BIGINT) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-06-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
                FLOOR((l_extendedprice * (1 - l_discount))*100 + 0.5)/100 AS net_price
         FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "q3_join" ->
      """SELECT n_name,
                FLOOR((SUM(l_extendedprice * (1 - l_discount)))*100 + 0.5)/100 AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q_outer_join" ->
      """SELECT c_custkey,
                CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
                FLOOR((COALESCE(SUM(o_totalprice), 0))*100 + 0.5)/100 AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, FLOOR((o_totalprice)*100 + 0.5)/100 AS price
         FROM orders ORDER BY price DESC, o_orderkey LIMIT 25""",
    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY o_orderstatus, o_orderpriority""",
    "q_count_distinct" ->
      """SELECT l_returnflag,
                CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_rollup" ->
      """SELECT r_name, n_name,
                CAST(COUNT(*) AS BIGINT) AS n_cust,
                FLOOR((SUM(c_acctbal))*100 + 0.5)/100 AS acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q_setops" ->
      """WITH cn AS (SELECT c_nationkey AS nationkey FROM customer),
              sn AS (SELECT s_nationkey AS nationkey FROM supplier)
         SELECT nationkey, op FROM (
           SELECT DISTINCT nationkey, 'union' AS op FROM (SELECT * FROM cn UNION ALL SELECT * FROM sn)
           UNION ALL
           SELECT nationkey, 'intersect' AS op FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
           UNION ALL
           SELECT nationkey, 'except' AS op FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
         ) ORDER BY op, nationkey""",
    "q_scalar_funcs" ->
      """SELECT p_partkey,
                UPPER(p_brand) AS brand_up,
                CAST(LENGTH(p_name) AS INT) AS name_len,
                SUBSTRING(p_type, 1, 5) AS type_pfx,
                CAST(p_size % 7 AS INT) AS size_mod,
                FLOOR((SQRT(p_retailprice))*10000 + 0.5)/10000 AS price_sqrt,
                CONCAT_WS('|', p_brand, p_type) AS brand_type
         FROM part ORDER BY p_partkey""",
    "q_date_funcs" ->
      """SELECT o_orderkey,
                CAST(YEAR(o_orderdate) AS INT) AS yr,
                CAST(MONTH(o_orderdate) AS INT) AS mon,
                CAST(DAY(o_orderdate) AS INT) AS dom,
                STRFTIME(o_orderdate, '%Y-%m-%d') AS day_str
         FROM orders ORDER BY o_orderkey""",
    "q_conditional_agg" ->
      """SELECT l_returnflag,
                CAST(COUNT(*) AS BIGINT) AS n_all,
                CAST(COUNT(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_heavy,
                CAST(COALESCE(SUM(CAST(FLOOR(l_quantity) AS BIGINT))
                       FILTER (WHERE l_discount > 0.05), 0) AS BIGINT) AS qty_discounted,
                CAST(COUNT(DISTINCT l_partkey) FILTER (WHERE l_linenumber = 1) AS BIGINT)
                  AS parts_first_line
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_union_by_name" ->
      """WITH u AS (
           SELECT c_custkey AS key, c_name AS name, 'customer' AS src FROM customer
           UNION ALL BY NAME
           SELECT 'supplier' AS src, s_name AS name, s_suppkey AS key,
                  s_nationkey AS nationkey FROM supplier)
         SELECT src, CAST(COUNT(*) AS BIGINT) AS n,
                MIN(key) AS min_key, MAX(key) AS max_key,
                CAST(COUNT(nationkey) AS BIGINT) AS n_nation
         FROM u GROUP BY src ORDER BY src"""
  )
}
