package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Core relational operator coverage (SURVEY.md §2.1–§2.8) as named queries,
  * each paired with a DuckDB oracle in [[CoreQueries.oracles]].
  *
  * Numeric determinism contract: any SUM/AVG over double columns is computed
  * as an exact decimal sum (per-value cast to DECIMAL(28,6), order-independent)
  * then cast to double for output, so Spark's arbitrary partition merge order
  * and DuckDB's single-threaded fold produce bit-identical results. Per-row
  * double arithmetic (both engines IEEE-754, same expression shape) is left
  * in double. Every query ends with a deterministic ORDER BY on a unique key.
  */
object CoreQueries {
  private val D = DecimalType(28, 6)
  /** Order-independent exact sum of a double expression, output as double. */
  private def dsum(c: Column): Column = sum(c.cast(D)).cast("double")
  /** avg as exact-sum / count — identical fold in both engines. */
  private def davg(c: Column): Column =
    sum(c.cast(D)).cast("double") / count(c).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scan + filter + hash agg + sort (TPC-H Q1 shape; full_scan,
    // operator_group, sum/min/max/count/avg kernels, operator_sort) ---
    "q1_tpch_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-06-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // --- predicate vocabulary: BETWEEN / IN / LIKE / IS NULL / AND-OR-NOT
    // (operator_match + simple_predicate) ---
    "q2_predicates" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(
          col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "N") &&
          !col("l_linestatus").like("O%") &&
          col("l_shipdate").isNotNull &&
          (col("l_discount") < 0.03 || col("l_tax") > 0.06))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // order by every output column so ties are identical rows.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
    }),

    // --- equi join (hash/broadcast path) + group (operator_hash_join) ---
    // No broadcast hint: customer is scale-proportional, so AQE decides
    // broadcast-vs-shuffle by measured size (hint would OOM at 100x).
    "q3_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // --- non-equi theta join (nested-loop path in the reference;
    // BroadcastNestedLoopJoin in Spark) ---
    "q4_theta_join" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("a_key"),
        col("n_regionkey").as("a_region"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("b_key"),
        col("n_regionkey").as("b_region"))
      n1.join(n2, col("a_region") < col("b_region"))
        .groupBy(col("a_region"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("a_region"))
    }),

    // --- left outer join with NULL padding ---
    "q5_left_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // --- full outer join ---
    "q6_full_join" -> ((s, dir) => {
      val lo = t(s, dir, "orders").filter(col("o_totalprice") < 1000)
        .select(col("o_custkey")).distinct()
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey")).distinct()
      lo.select(col("o_custkey").as("k")).withColumn("lo", lit(1))
        .join(hi.select(col("o_custkey").as("k")).withColumn("hi", lit(1)),
          Seq("k"), "full")
        .select(col("k"), coalesce(col("lo"), lit(0)).as("lo"),
          coalesce(col("hi"), lit(0)).as("hi"))
        .orderBy(col("k"))
    }),

    // --- right outer join (NULL padding on the left side; §2.3 row) ---
    "q29_right_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big"))
        .orderBy(col("c_custkey"))
    }),

    // --- cross join (comma join) ---
    "q7_cross_join" -> ((s, dir) => {
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // --- left semi join (EXISTS) ---
    "q8_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // --- left anti join (NOT EXISTS) ---
    "q9_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // --- SELECT DISTINCT (operator_distinct) ---
    "q10_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // --- COUNT(DISTINCT x) ---
    "q11_count_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),

    // --- UNION set semantics (dedup) + UNION ALL (operator_union) ---
    "q12_union" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .filter(col("o_totalprice") > 340000).select(col("o_custkey"))
      a.union(b).distinct().orderBy(col("o_custkey"))
    }),
    "q13_union_all" -> ((s, dir) => {
      val a = t(s, dir, "nation").select(col("n_regionkey").as("k"))
      val b = t(s, dir, "region").select(col("r_regionkey").as("k"))
      a.union(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    // --- INTERSECT / EXCEPT (reserved-but-unimplemented in the reference;
    // first-class here) ---
    "q14_intersect" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      a.intersect(b).orderBy(col("o_custkey"))
    }),
    "q15_except" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey"))
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      a.except(b).orderBy(col("c_custkey"))
    }),

    // --- GROUP BY + HAVING ---
    "q16_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .filter(col("n") >= 5)
        .orderBy(col("o_custkey"))
    }),

    // --- ORDER BY multi-key asc/desc + LIMIT + OFFSET ---
    "q17_sort_limit_offset" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(10).limit(20)
    }),

    // --- CASE WHEN / COALESCE / NULLIF projection ---
    "q18_case_coalesce" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("band"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
            lit("none")).as("seg"))
        .orderBy(col("c_custkey"))
    }),

    // --- scalar subquery ---
    "q19_scalar_subquery" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // exact decimal avg, same fold as the oracle's
      val cutoff = o.agg(davg(col("o_totalprice")).as("a"))
      o.join(broadcast(cutoff))
        .filter(col("o_totalprice") > col("a") * 1.8)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // --- IN (subquery) --- (no broadcast hint: the filtered key set is
    // selective but still scale-proportional; AQE decides by size)
    "q20_in_subquery" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      l.join(big, l("l_orderkey") === big("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // --- non-recursive CTE (inlined twice) ---
    "q21_cte" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH big AS (SELECT o_custkey, o_totalprice FROM orders
                     WHERE o_totalprice > 350000)
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer JOIN big ON c_custkey = o_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // --- window functions (rank within group; exceeds reference §2.5) ---
    "q22_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      val src = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
      // two-phase heap prune (custom operator) replaces the full-partition
      // window sort; the ranking window then runs over ≤3 rows per key
      graft.plans.TopKPerKey.topK(src, Seq("l_returnflag"),
          Seq("l_orderkey" -> true, "l_linenumber" -> true), 3)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_returnflag"), col("rn"), col("l_orderkey"),
          col("l_linenumber"))
        .orderBy(col("l_returnflag"), col("rn"))
    }),

    // --- ROLLUP grouping sets ---
    "q23_rollup" -> ((s, dir) => {
      t(s, dir, "customer")
        .rollup(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          grouping(col("c_mktsegment")).cast("int").as("g"))
        .orderBy(col("g"), col("c_mktsegment"))
    }),

    // --- CUBE grouping sets (all four combinations of two keys) ---
    "q33_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("int").as("gs"),
          grouping(col("o_orderpriority")).cast("int").as("gp"))
        .orderBy(col("gs"), col("gp"), col("o_orderstatus"),
          col("o_orderpriority"))
    }),

    // --- EXCEPT ALL / INTERSECT ALL (bag semantics, multiplicity-aware;
    // the reference rejects set ops entirely — first-class here) ---
    "q34_except_all" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").select(col("l_returnflag"))
      val b = t(s, dir, "lineitem").filter(col("l_quantity") > 10)
        .select(col("l_returnflag"))
      a.exceptAll(b)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q35_intersect_all" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").filter(col("l_quantity") <= 30)
        .select(col("l_returnflag"))
      val b = t(s, dir, "lineitem").filter(col("l_quantity") > 10)
        .select(col("l_returnflag"))
      a.intersectAll(b)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // --- PG DISTINCT ON (the reference's vendored PG grammar accepts
    // it): first row per group under an explicit order — here each
    // customer's highest-value order, ties broken by o_orderkey. Spark
    // spells it as a rank-limited window (WindowGroupLimit pushes k=1
    // below the exchange); the oracle uses native DISTINCT ON ---
    "q37_distinct_on" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"))
    }),

    // --- null-safe equality (IS [NOT] DISTINCT FROM / <=>): both sides
    // NULL compares TRUE under null-safe, NULL under plain `=` — the
    // counts differ exactly by the both-NULL rows ---
    "q38_null_safe_eq" -> ((s, dir) => {
      val a = when(col("value") > 50, col("event_type"))
      val b = when(col("value") > 50, col("event_type"))
      t(s, dir, "events")
        .select(a.as("a"), b.as("b"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("a") <=> col("b"), 1L).otherwise(0L))
            .as("n_nullsafe_eq"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L))
            .as("n_plain_eq"))
    }),

    // --- ILIKE (case-insensitive LIKE, PG dialect): lowercase names
    // match an uppercase pattern; the plain LIKE column shows the
    // case-sensitive difference ---
    "q39_ilike" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("p_name").ilike("%SMALL%"), 1L).otherwise(0L))
            .as("n_ilike"),
          sum(when(col("p_name").like("%SMALL%"), 1L).otherwise(0L))
            .as("n_like"))
        .orderBy(col("p_type"))
    }),

    // --- padding/translate/split_part string family (PG-dialect
    // functions the reference's grammar exposes; all codegen'd
    // built-ins here) ---
    "q40_string_pad" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("pad_l"),
          rpad(col("p_type"), 10, ".").as("pad_r"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
          // coalesce to '' matches split_part's missing-delimiter
          // semantics exactly (PG/DuckDB return '', Spark's element_at
          // past the array end returns NULL — ADVICE r9; without this
          // the equivalence held only because p_brand always has '#')
          coalesce(element_at(split(col("p_brand"), "#"), 2), lit(""))
            .as("brand_num"))
        .orderBy(col("p_partkey"))
    }),

    // --- string function library ---
    "q24_string_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_name").like("%re%"))
        .select(
          col("p_partkey"),
          substring(col("p_name"), 2, 6).as("sub"),
          length(col("p_name")).cast("bigint").as("len"),
          upper(col("p_brand")).as("up"),
          lower(col("p_type")).as("lo"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("rr"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("cc"))
        .orderBy(col("p_partkey"))
    }),

    // --- math scalar library (round/ceil/floor/abs/mod/sqrt; pow as x*x) ---
    "q25_math_funcs" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("r1"),
          ceil(col("l_discount") * 100).cast("double").as("ce"),
          floor(col("l_tax") * 100).cast("double").as("fl"),
          abs(col("l_quantity") - 25).as("ab"),
          (col("l_partkey") % 7).as("md"),
          sqrt(col("l_quantity")).as("sq"),
          (col("l_quantity") * col("l_quantity")).as("p2"))
        // full-column sort: the synthetic key set has duplicates, so the
        // LIMIT boundary must be decided on entire rows to be deterministic
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("r1"),
          col("ce"), col("fl"), col("ab"), col("md"), col("sq"), col("p2"))
        .limit(500)
    }),

    // --- date/time functions ---
    "q26_datetime" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("y"),
          month(col("o_orderdate")).cast("int").as("m"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy(col("y"), col("m"))
    }),

    // --- tumbling event-time window aggregation (the batch shape of the
    // Structured Streaming pipeline in graft.streaming) ---
    "q28_tumbling_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("t"), "1 hour"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(col("window.start").as("h"), col("n"), col("total"))
        .orderBy(col("h"))
    }),

    // --- window-function vocabulary: lag/lead/first_value + framed
    // moving sum (decimal-exact so the frame fold matches DuckDB) ---
    "q30_window_vocab" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
        .withColumn("first_key", first(col("o_orderkey")).over(w))
        .withColumn("mov_sum",
          sum(col("o_totalprice").cast(D))
            .over(w.rowsBetween(-2, 0)).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
          col("next_key"), col("first_key"), col("mov_sum"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // --- string library, second batch: left/right/reverse/lpad/replace/
    // position/trim ---
    "q31_string_vocab" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          expr("left(p_name, 4)").as("l4"),
          expr("right(p_name, 3)").as("r3"),
          reverse(col("p_brand")).as("rev"),
          lpad(col("p_brand"), 12, "*").as("pad"),
          regexp_replace(col("p_type"), "O", "0").as("repl"),
          instr(col("p_name"), "re").cast("bigint").as("pos"),
          trim(col("p_name")).as("tr"))
        .orderBy(col("p_partkey"))
        .limit(500)
    }),

    // --- datetime library, second batch: quarter/last_day/date_add/
    // datediff/dayofyear ---
    "q32_datetime_vocab" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          quarter(col("o_orderdate")).cast("int").as("q"),
          last_day(col("o_orderdate")).as("ld"),
          date_add(col("o_orderdate"), 7).as("plus7"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate"))
            .cast("bigint").as("dd"),
          dayofyear(col("o_orderdate")).cast("int").as("doy"))
        .orderBy(col("o_orderkey"))
        .limit(500)
    }),

    // --- JSON path navigation over a JSON string column (the reference's
    // jsonb ->/->> surface; see graft.functions.Jsonb for the DSL) ---
    "q27_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy((col("k") % 10).as("kmod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("kmod"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q1_tpch_agg" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1999-06-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q2_predicates" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      FROM lineitem
      WHERE l_quantity BETWEEN 10 AND 20
        AND l_returnflag IN ('A','N')
        AND NOT (l_linestatus LIKE 'O%')
        AND l_shipdate IS NOT NULL
        AND (l_discount < 0.03 OR l_tax > 0.06)
      ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""",
    "q3_join_agg" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q4_theta_join" -> """
      SELECT a.n_regionkey AS a_region, COUNT(*) AS n_pairs
      FROM nation a JOIN nation b ON a.n_regionkey < b.n_regionkey
      GROUP BY a.n_regionkey ORDER BY a_region""",
    "q5_left_join" -> """
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey""",
    "q6_full_join" -> """
      WITH lo AS (SELECT DISTINCT o_custkey AS k, 1 AS lo FROM orders WHERE o_totalprice < 1000),
           hi AS (SELECT DISTINCT o_custkey AS k, 1 AS hi FROM orders WHERE o_totalprice > 400000)
      SELECT COALESCE(lo.k, hi.k) AS k, COALESCE(lo.lo, 0) AS lo, COALESCE(hi.hi, 0) AS hi
      FROM lo FULL OUTER JOIN hi ON lo.k = hi.k
      ORDER BY k""",
    "q7_cross_join" -> """
      SELECT r_name, n_name FROM region, nation
      ORDER BY r_name, n_name""",
    "q29_right_join" -> """
      SELECT c_custkey, COUNT(o_orderkey) AS n_big
      FROM (SELECT * FROM orders WHERE o_totalprice > 300000) o
      RIGHT JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey ORDER BY c_custkey""",
    "q8_semi_join" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_totalprice > 300000)
      ORDER BY c_custkey""",
    "q9_anti_join" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_totalprice > 250000)
      ORDER BY c_custkey""",
    "q10_distinct" -> """
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""",
    "q11_count_distinct" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
             COUNT(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q12_union" -> """
      SELECT o_custkey FROM orders WHERE o_totalprice > 350000
      UNION
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 340000
      ORDER BY o_custkey""",
    "q13_union_all" -> """
      SELECT k, COUNT(*) AS n FROM (
        SELECT n_regionkey AS k FROM nation
        UNION ALL
        SELECT r_regionkey AS k FROM region) u
      GROUP BY k ORDER BY k""",
    "q14_intersect" -> """
      SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey""",
    "q15_except" -> """
      SELECT c_custkey FROM customer
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
      ORDER BY c_custkey""",
    "q16_having" -> """
      SELECT o_custkey, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
      FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5
      ORDER BY o_custkey""",
    "q17_sort_limit_offset" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 20 OFFSET 10""",
    "q18_case_coalesce" -> """
      SELECT c_custkey,
        CASE WHEN c_acctbal < 0 THEN 'neg'
             WHEN c_acctbal < 5000 THEN 'mid'
             ELSE 'high' END AS band,
        COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'none') AS seg
      FROM customer ORDER BY c_custkey""",
    "q19_scalar_subquery" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_totalprice > (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(o_totalprice) AS DOUBLE) FROM orders) * 1.8
      ORDER BY o_orderkey""",
    "q20_in_subquery" -> """
      SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q21_cte" -> """
      WITH big AS (SELECT o_custkey, o_totalprice FROM orders
                   WHERE o_totalprice > 350000)
      SELECT c_mktsegment, COUNT(*) AS n
      FROM customer JOIN big ON c_custkey = o_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q22_window_topk" -> """
      SELECT l_returnflag, CAST(rn AS INT) AS rn, l_orderkey, l_linenumber FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag
                             ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem) x
      WHERE rn <= 3 ORDER BY l_returnflag, rn""",
    "q23_rollup" -> """
      SELECT c_mktsegment, COUNT(*) AS n,
        CAST(GROUPING(c_mktsegment) AS INT) AS g
      FROM customer GROUP BY ROLLUP(c_mktsegment)
      ORDER BY g, c_mktsegment""",
    "q33_cube" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(GROUPING(o_orderstatus) AS INT) AS gs,
        CAST(GROUPING(o_orderpriority) AS INT) AS gp
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY gs, gp, o_orderstatus, o_orderpriority""",
    "q34_except_all" -> """
      SELECT l_returnflag, COUNT(*) AS n FROM (
        SELECT l_returnflag FROM lineitem
        EXCEPT ALL
        SELECT l_returnflag FROM lineitem WHERE l_quantity > 10) x
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q40_string_pad" -> """
      SELECT p_partkey,
        lpad(p_brand, 12, '*') AS pad_l,
        rpad(p_type, 10, '.') AS pad_r,
        translate(p_name, 'aeiou', 'AEIOU') AS tr,
        split_part(p_brand, '#', 2) AS brand_num
      FROM part WHERE p_partkey < 300
      ORDER BY p_partkey""",
    "q37_distinct_on" -> """
      SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
      FROM orders WHERE o_custkey < 200
      ORDER BY o_custkey, o_totalprice DESC, o_orderkey""",
    "q38_null_safe_eq" -> """
      WITH x AS (
        SELECT CASE WHEN value > 50 THEN event_type END AS a,
               CASE WHEN value > 50 THEN event_type END AS b
        FROM events)
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
          AS BIGINT) AS n_nullsafe_eq,
        CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
          AS n_plain_eq
      FROM x""",
    "q39_ilike" -> """
      SELECT p_type, COUNT(*) AS n,
        CAST(SUM(CASE WHEN p_name ILIKE '%SMALL%' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_ilike,
        CAST(SUM(CASE WHEN p_name LIKE '%SMALL%' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_like
      FROM part GROUP BY p_type ORDER BY p_type""",
    "q35_intersect_all" -> """
      SELECT l_returnflag, COUNT(*) AS n FROM (
        SELECT l_returnflag FROM lineitem WHERE l_quantity <= 30
        INTERSECT ALL
        SELECT l_returnflag FROM lineitem WHERE l_quantity > 10) x
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q24_string_funcs" -> """
      SELECT p_partkey,
        substring(p_name, 2, 6) AS sub,
        CAST(length(p_name) AS BIGINT) AS len,
        upper(p_brand) AS up,
        lower(p_type) AS lo,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS rr,
        p_brand || '#' || p_type AS cc
      FROM part WHERE p_name LIKE '%re%'
      ORDER BY p_partkey""",
    "q25_math_funcs" -> """
      SELECT l_orderkey, l_linenumber,
        round(l_extendedprice, 1) AS r1,
        CAST(ceil(l_discount * 100) AS DOUBLE) AS ce,
        CAST(floor(l_tax * 100) AS DOUBLE) AS fl,
        abs(l_quantity - 25) AS ab,
        l_partkey % 7 AS md,
        sqrt(l_quantity) AS sq,
        l_quantity * l_quantity AS p2
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, r1, ce, fl, ab, md, sq, p2
      LIMIT 500""",
    "q26_datetime" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS y,
             CAST(month(o_orderdate) AS INT) AS m,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
      FROM orders GROUP BY 1, 2 ORDER BY y, m""",
    "q28_tumbling_window" -> """
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
      FROM events GROUP BY 1 ORDER BY h""",
    "q27_json_extract" -> """
      SELECT k % 10 AS kmod, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k FROM (
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events) x
      GROUP BY 1 ORDER BY kmod""",
    "q30_window_vocab" -> """
      SELECT o_custkey, o_orderkey,
        lag(o_totalprice, 1) OVER w AS prev_price,
        lead(o_orderkey, 1) OVER w AS next_key,
        first_value(o_orderkey) OVER w AS first_key,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey""",
    "q31_string_vocab" -> """
      SELECT p_partkey,
        left(p_name, 4) AS l4,
        right(p_name, 3) AS r3,
        reverse(p_brand) AS rev,
        lpad(p_brand, 12, '*') AS pad,
        regexp_replace(p_type, 'O', '0', 'g') AS repl,
        CAST(strpos(p_name, 're') AS BIGINT) AS pos,
        trim(p_name) AS tr
      FROM part ORDER BY p_partkey LIMIT 500""",
    "q32_datetime_vocab" -> """
      SELECT o_orderkey,
        CAST(quarter(o_orderdate) AS INT) AS q,
        last_day(CAST(o_orderdate AS DATE)) AS ld,
        CAST(o_orderdate + INTERVAL 7 DAY AS DATE) AS plus7,
        date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS dd,
        CAST(dayofyear(o_orderdate) AS INT) AS doy
      FROM orders ORDER BY o_orderkey LIMIT 500"""
  )
}
