package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables, Ws}

/** Relational operator coverage (SURVEY.md §2.1–§2.7) over the synthetic
  * TPC-H-ish tables. Each query is the Spark-first re-expression of one
  * operator family observed in the reference (ids cited per query).
  *
  * Determinism rules (so the DuckDB oracle hash-matches bit-for-bit):
  *   - money columns are 2-decimal doubles; aggregate them as integer cents
  *     (`round(x*100)::long`) so partial-aggregation order cannot perturb
  *     the sum (reference publishes exact coverage counts the same way,
  *     `runners.py:1498-1531`);
  *   - quantities are integral doubles, so `sum` is exact in any order;
  *   - every query ends in an explicit ORDER BY over a unique key.
  *
  * Scale notes: joins against `nation`/`region`/`part`/`supplier` are
  * broadcast (the reference's DuckDB lookup tables map to broadcast hash
  * join build sides, `tagger.py:161-205`); big-table aggregations are
  * partial (map-side combine) by construction under Catalyst.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** 2-decimal double -> exact integer cents (order-insensitive to sum). */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** q09/q68: the top 3 lineitems per `l_returnflag` by extended price
    * (ties by order key, then line number), as one window. A hot group
    * (at 100 TB a single returnflag can be most of the table) does not
    * serialize on one task: the `rank <= 3` filter over `row_number`
    * plans a partial `WindowGroupLimit` before the exchange, so each map
    * partition ships at most 3 rows per group.
    */
  private[operators] def topKPerGroup(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    lineitem
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("l_returnflag", "rank", "l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_returnflag", "rank")
  }

  /** The q09/q68 oracle: the same single window per group. */
  private val TopKOracle: String =
    """SELECT l_returnflag, rank, l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
      |  FROM lineitem) t
      |WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- A1/A2/A3: grouped aggregation with count / distinct / exact sums
    //      (reference: match-coverage rollups, runners.py:123-146)
    QueryDef(
      "q01_groupby_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
            count(lit(1)).as("n_rows"),
            countDistinct(col("l_orderkey")).as("n_orders"))
          .orderBy("l_returnflag", "l_linestatus"),
      // CAST the outer sum: DuckDB sum(BIGINT) yields HUGEINT (pandas
      // float64) while Spark emits int64 — values identical, hash differs.
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
             |  count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ---- P1/P4/P6/P8: filter + projection with derived column
    //      (reference: prepare.py:63-117 derived projections; filters §2.2)
    QueryDef(
      "q02_filter_project",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp")
            && col("l_discount").between(0.05, 0.07))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1.0 - l_discount) AS disc_price
             |FROM lineitem
             |WHERE l_shipdate < TIMESTAMP '1998-01-01' AND l_discount BETWEEN 0.05 AND 0.07
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- J1/J2: left equi-join on a key (reference: runners.py:79-104)
    QueryDef(
      "q03_join_left",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(c, col("o_custkey") === col("c_custkey"), "left")
          .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- J3: multiway broadcast equi-join + aggregation
    //      (reference lookup joins vs small catalogs, lookup.py:102-107)
    QueryDef(
      "q04_join_multiway",
      (s, dir) =>
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("p_brand"), col("s_nationkey"))
          .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy("p_brand", "s_nationkey"),
      Some("""SELECT p_brand, s_nationkey, count(*) AS n_rows, sum(l_quantity) AS sum_qty
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ---- J4: semi-join (batched IN-list lookup, lookup.py:254-277)
    QueryDef(
      "q05_semi_join",
      (s, dir) => {
        val big = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        t(s, dir, "customer")
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- U2: anti-join (add-only-if-absent, build_unified_reference.py:186-256)
    QueryDef(
      "q06_anti_join",
      (s, dir) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- A6: DISTINCT projection (tagger.py:234-236)
    QueryDef(
      "q07_distinct",
      (s, dir) =>
        t(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment"),
      Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")),

    // ---- D2: keyed dedup keep-first with explicit precedence order
    //      (pandas drop_duplicates keep='first' -> row_number window,
    //       build_unified_reference.py:425-459)
    QueryDef(
      "q08_dedup_keep_first",
      (s, dir) => {
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
        // "keep first" needs a total precedence order — the same trap as the
        // reference's order-dependent drop_duplicates (SURVEY §7.4 risk 4).
        val w = Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
        t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("l_orderkey", "l_partkey", "l_quantity")
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_partkey, l_quantity FROM (
             |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
             |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
             |  FROM lineitem) t
             |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- D3/D6: per-group top-k candidate ranking (scoring.py:294-387)
    QueryDef("q09_topk_per_group",
      (s, dir) => topKPerGroup(t(s, dir, "lineitem")), Some(TopKOracle)),

    // ---- U1: UNION ALL by name (run_drugs_all.py:340)
    QueryDef(
      "q10_union",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_name").as("name"), lit("customer").as("src"))
          .unionByName(
            t(s, dir, "supplier").select(col("s_name").as("name"), lit("supplier").as("src")))
          .orderBy("src", "name"),
      Some("""SELECT c_name AS name, 'customer' AS src FROM customer
             |UNION ALL SELECT s_name AS name, 'supplier' AS src FROM supplier
             |ORDER BY src, name""".stripMargin)),

    // ---- G1-G3: explode/split generator (prepare.py:118-123, tagger.py:839-856)
    QueryDef(
      "q11_explode_split",
      (s, dir) =>
        t(s, dir, "part")
          .select(explode(split(col("p_type"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .orderBy("word"),
      Some("""SELECT word, count(*) AS cnt FROM (
             |  SELECT unnest(string_split(p_type, ' ')) AS word FROM part) t
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A1: value_counts histogram (runners.py:126)
    QueryDef(
      "q12_value_counts",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS cnt FROM orders
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A4/A5: GROUP BY + ordered STRING_AGG of a distinct set
    //      (synonyms pipe-join, build_unified_reference.py:296-306)
    QueryDef(
      "q13_string_agg",
      (s, dir) =>
        t(s, dir, "nation")
          .groupBy("n_regionkey")
          .agg(
            array_join(array_sort(collect_set(col("n_name"))), "|").as("names"),
            countDistinct(col("n_name")).as("n_names"))
          .orderBy("n_regionkey"),
      Some("""SELECT n_regionkey, string_agg(DISTINCT n_name, '|' ORDER BY n_name) AS names,
             |  count(DISTINCT n_name) AS n_names
             |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- J5: prefix join (LIKE 'tok%' fallback lookup, lookup.py:117-137);
    //      the token dictionary is broadcast, as in the reference.
    QueryDef(
      "q14_prefix_join",
      (s, dir) => {
        import s.implicits._
        val toks = Seq("key", "agg", "row", "data", "batch", "window").toDF("token")
        t(s, dir, "documents")
          .join(broadcast(toks), col("text").startsWith(col("token")))
          .select(col("token"), col("doc_id"))
          .orderBy("token", "doc_id")
      },
      Some("""SELECT t.token AS token, d.doc_id AS doc_id
             |FROM documents d
             |JOIN (VALUES ('key'),('agg'),('row'),('data'),('batch'),('window')) t(token)
             |  ON d.text LIKE t.token || '%'
             |ORDER BY token, doc_id""".stripMargin)),

    // ---- J6: fuzzy similarity join via normalized Levenshtein ratio
    //      (rapidfuzz fuzz.ratio>=85, lookup.py:164-220 -> built-in levenshtein)
    QueryDef(
      "q15_fuzzy_join",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val a = n.select(col("n_name").as("name_a"))
        val b = n.select(col("n_name").as("name_b"))
        a.crossJoin(b)
          .filter(col("name_a") < col("name_b"))
          .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
          .withColumn("sim",
            lit(1.0) - col("lev").cast("double")
              / greatest(length(col("name_a")), length(col("name_b"))).cast("double"))
          .filter(col("sim") >= 0.4)
          .select("name_a", "name_b", "lev", "sim")
          .orderBy("name_a", "name_b")
      },
      Some("""SELECT name_a, name_b, lev, sim FROM (
             |  SELECT a.n_name AS name_a, b.n_name AS name_b,
             |    levenshtein(a.n_name, b.n_name) AS lev,
             |    1.0 - CAST(levenshtein(a.n_name, b.n_name) AS DOUBLE)
             |      / CAST(greatest(length(a.n_name), length(b.n_name)) AS DOUBLE) AS sim
             |  FROM nation a, nation b WHERE a.n_name < b.n_name) t
             |WHERE sim >= 0.4 ORDER BY name_a, name_b""".stripMargin)),

    // ---- A10: last-N per group (metrics tail display, runners.py:1549-1567)
    QueryDef(
      "q16_window_lastn",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("event_type", "rn", "event_id", "user_id")
          .orderBy("event_type", "rn")
      },
      Some("""SELECT event_type, rn, event_id, user_id FROM (
             |  SELECT *, row_number() OVER (PARTITION BY event_type
             |    ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin)),

    // ---- J9: two-catalog precedence lookup with coalesce
    //      (labs matcher: Labs > Diagnostics > Unmatched, match_labs.py:57-108)
    QueryDef(
      "q17_coalesce_precedence",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val catA = n.filter(col("n_nationkey") < 10)
          .select(col("n_nationkey").as("a_key"), col("n_name").as("a_name"))
        val catB = n.select(col("n_nationkey").as("b_key"), col("n_name").as("b_name"))
        t(s, dir, "customer")
          .join(broadcast(catA), col("c_nationkey") === col("a_key"), "left")
          .join(broadcast(catB), col("c_nationkey") === col("b_key"), "left")
          .select(
            col("c_custkey"),
            coalesce(col("a_name"), col("b_name"), lit("UNKNOWN")).as("standard_name"),
            when(col("a_key").isNotNull, "catalog_a")
              .when(col("b_key").isNotNull, "catalog_b")
              .otherwise("unmatched").as("match_source"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |  coalesce(a.a_name, b.b_name, 'UNKNOWN') AS standard_name,
             |  CASE WHEN a.a_key IS NOT NULL THEN 'catalog_a'
             |       WHEN b.b_key IS NOT NULL THEN 'catalog_b'
             |       ELSE 'unmatched' END AS match_source
             |FROM customer c
             |LEFT JOIN (SELECT n_nationkey AS a_key, n_name AS a_name FROM nation
             |           WHERE n_nationkey < 10) a ON c.c_nationkey = a.a_key
             |LEFT JOIN (SELECT n_nationkey AS b_key, n_name AS b_name FROM nation) b
             |  ON c.c_nationkey = b.b_key
             |ORDER BY c_custkey""".stripMargin)),

    // ---- A2/A9: conditional aggregation + coverage percentages
    //      (match-coverage masks, runners.py:124-125, 249-252)
    QueryDef(
      "q18_conditional_agg",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            count(when(col("o_totalprice") > 100000, 1)).as("n_big"))
          .withColumn("pct_big",
            col("n_big").cast("double") * 100 / col("n").cast("double"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, n, n_big,
             |  CAST(n_big AS DOUBLE) * 100 / CAST(n AS DOUBLE) AS pct_big
             |FROM (SELECT o_orderstatus, count(*) AS n,
             |        count(CASE WHEN o_totalprice > 100000 THEN 1 END) AS n_big
             |      FROM orders GROUP BY 1) t
             |ORDER BY o_orderstatus""".stripMargin)),

    // ---- P5: range anti-filter (exclude ITEM_NUMBER in [1540,1896],
    //      prepare_labs.py:41-44)
    QueryDef(
      "q19_range_antifilter",
      (s, dir) =>
        t(s, dir, "events")
          .filter(!col("user_id").between(100, 200))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
             |FROM events WHERE NOT (user_id BETWEEN 100 AND 200)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- D5/D6: deterministic sort + limit (match_labs.py:112, lookup.py:121)
    QueryDef(
      "q20_sort_limit",
      (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
          .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- J11: engineered component-key join (sorted pipe-joined key,
    //      build_unified_reference.py:486-500)
    QueryDef(
      "q21_component_key",
      (s, dir) => {
        val toks = split(trim(col("text")), Ws.Plus)
        t(s, dir, "documents")
          .select(
            array_join(array_sort(array_distinct(slice(toks, 1, 3))), "|").as("component_key"),
            col("doc_id"))
          .groupBy("component_key")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .orderBy("component_key")
      },
      Some("""SELECT component_key, count(*) AS n_docs, min(doc_id) AS first_doc
             |FROM (SELECT doc_id,
             |        array_to_string(list_sort(list_distinct(
             |          string_split_regex(trim(text), '[ \t\n\f\r]+')[1:3])), '|') AS component_key
             |      FROM documents) t
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A9: single-row metrics rollup (runners.py:1396-1423)
    QueryDef(
      "q22_metrics_rollup",
      (s, dir) =>
        t(s, dir, "documents")
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("lang") === "en", 1)).as("n_en"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .withColumn("pct_en",
            col("n_en").cast("double") * 100 / col("n_docs").cast("double")),
      Some("""SELECT n_docs, n_en, min_chars, max_chars,
             |  CAST(n_en AS DOUBLE) * 100 / CAST(n_docs AS DOUBLE) AS pct_en
             |FROM (SELECT count(*) AS n_docs,
             |        count(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
             |        min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |      FROM documents) t""".stripMargin)),

    // ---- q68: q09's top-k under a second name
    QueryDef("q68_topk_salted",
      (s, dir) => topKPerGroup(t(s, dir, "lineitem")), Some(TopKOracle))
  )
}
