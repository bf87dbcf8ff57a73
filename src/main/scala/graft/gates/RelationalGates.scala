package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries._
import graft.core.Tables
import graft.functions.Curies
import graft.ops.TextAnalysis

/** Plain relational gates: projections and filters (`p*`), joins (`j*`),
  * aggregates (`a*`), field functions (`f*`), sorts and limits (`o*`) and
  * set operations (`u*`), plus the profiling, ranking and expectation
  * operators of `ops.Profile`, `ops.Rank` and `ops.Expectations`. */
object RelationalGates {

  val gates: Seq[Gate] = Seq(
    // --- P-series: projections / filters -----------------------------------
    Gate("p1_projection", (s, d) =>
      t(s, d, "customer").select("c_custkey", "c_name"),
      "SELECT c_custkey, c_name FROM customer"),
    Gate("p2_point_lookup", (s, d) =>
      t(s, d, "region").filter(col("r_regionkey") === 2).select("r_name"),
      "SELECT r_name FROM region WHERE r_regionkey = 2"),
    Gate("p3_eq_filter", (s, d) =>
      t(s, d, "orders").filter(col("o_orderstatus") === "P")
        .select("o_orderkey", "o_custkey"),
      "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'P'"),
    Gate("p4_in_list", (s, d) =>
      t(s, d, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment"),
      ("SELECT c_custkey, c_mktsegment FROM customer " +
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')")),
    Gate("p5_substring_or", (s, d) =>
      t(s, d, "part")
        .filter(col("p_name").contains("ring") || col("p_brand").contains("#1"))
        .select("p_partkey", "p_name", "p_brand"),
      ("SELECT p_partkey, p_name, p_brand FROM part " +
        "WHERE contains(p_name, 'ring') OR contains(p_brand, '#1')")),
    Gate("p6_ci_search", (s, d) =>
      t(s, d, "part")
        .filter(lower(col("p_name")).contains("ring") ||
          col("p_type").contains("ECO"))
        .select("p_partkey", "p_name", "p_type"),
      ("SELECT p_partkey, p_name, p_type FROM part " +
        "WHERE contains(lower(p_name), 'ring') OR contains(p_type, 'ECO')")),
    Gate("p7_notnull", (s, d) =>
      t(s, d, "orders").filter(col("o_orderdate").isNotNull)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n")),
      ("SELECT o_orderstatus, count(*) AS n FROM orders " +
        "WHERE o_orderdate IS NOT NULL GROUP BY o_orderstatus")),
    Gate("p9_anti_membership", (s, d) =>
      t(s, d, "part").filter(!col("p_type").isin("PROMO", "ECONOMY"))
        .select("p_partkey", "p_type"),
      ("SELECT p_partkey, p_type FROM part " +
        "WHERE p_type NOT IN ('PROMO', 'ECONOMY')")),
    Gate("p11_substr_exclusion", (s, d) =>
      t(s, d, "part").filter(!col("p_name").contains("box"))
        .select("p_partkey", "p_name"),
      "SELECT p_partkey, p_name FROM part WHERE NOT contains(p_name, 'box')"),
    Gate("p12_class_filter", (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority"),
      ("SELECT o_orderkey, o_orderpriority FROM orders " +
        "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')")),
    Gate("p13_prefix_filter", (s, d) =>
      t(s, d, "customer")
        .filter(col("c_name").startsWith("Customer#00000001") &&
          col("c_nationkey") === 9)
        .select("c_custkey", "c_name"),
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE starts_with(c_name, 'Customer#00000001') AND c_nationkey = 9")),
    Gate("j3_broadcast_lookup", (s, d) =>
      t(s, d, "orders").alias("o")
        .join(broadcast(t(s, d, "customer").alias("c")),
          col("o.o_custkey") === col("c.c_custkey"), "left")
        .select(col("o_orderkey"), col("c_mktsegment")),
      ("SELECT o_orderkey, c_mktsegment FROM orders " +
        "LEFT JOIN customer ON o_custkey = c_custkey")),
    Gate("j4_semi_join", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE c_custkey IN (SELECT o_custkey FROM orders)")),
    Gate("j5_anti_join", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)")),

    // --- A-series: aggregations --------------------------------------------
    Gate("a1_count", (s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n")),
      "SELECT count(*) AS n FROM lineitem"),
    Gate("a2_summarize", (s, d) =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem")
        .map(n => t(s, d, n).agg(count(lit(1)).as("n"))
          .select(lit(n).as("tbl"), col("n")))
        .reduce(_ unionByName _),
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem")
        .map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM $n")
        .mkString(" UNION ALL ")),
    Gate("a3_relation_count", (s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n"))
        .unionByName(t(s, d, "orders").agg(count(lit(1)).as("n")))
        .agg(sum("n").as("n_edges")),
      // CAST: DuckDB sum() yields HUGEINT whose value-hash differs from
      // Spark's bigint even when equal.
      ("SELECT CAST(sum(n) AS BIGINT) AS n_edges " +
        "FROM (SELECT count(*) AS n FROM lineitem " +
        "UNION ALL SELECT count(*) AS n FROM orders)")),
    Gate("a14_content_hash", (s, d) =>
      t(s, d, "supplier")
        .agg(md5(concat_ws("|",
          sort_array(collect_list(concat(col("s_name"), lit(":"),
            col("s_nationkey")))))).as("ns_hash")),
      ("SELECT md5(array_to_string(list_sort(" +
        "list(s_name || ':' || s_nationkey)), '|')) AS ns_hash FROM supplier")),

    // --- O-series: sorts / limits ------------------------------------------
    Gate("o1_sort_desc", (s, d) =>
      Tables.events(s, d)
        .orderBy(col("ts").desc, col("event_id").asc).limit(50)
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s")),
      ("SELECT event_id, event_type, " +
        "strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM events " +
        "ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id LIMIT 50")),
    Gate("o2_top1", (s, d) =>
      Tables.events(s, d)
        .orderBy(col("ts").desc, col("event_id").asc).limit(1)
        .select(col("event_id"), col("event_type")),
      ("SELECT event_id, event_type FROM events " +
        "ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id LIMIT 1")),
    Gate("o3_limit_search", (s, d) =>
      t(s, d, "part").filter(col("p_name").contains("ring"))
        .orderBy("p_partkey").limit(10)
        .select("p_partkey", "p_name"),
      ("SELECT p_partkey, p_name FROM part WHERE contains(p_name, 'ring') " +
        "ORDER BY p_partkey LIMIT 10")),

    // --- U1: union with provenance -----------------------------------------
    Gate("u1_union_sources", (s, d) => {
      val a = t(s, d, "lineitem").select(
        lit("lineitem").as("source"),
        concat(lit("p:"), col("l_partkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))
      val b = t(s, d, "orders").select(
        lit("orders").as("source"),
        concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("o:"), col("o_orderkey")).as("dst"))
      a.unionByName(b).groupBy("source").agg(count(lit(1)).as("n"))
    },
      ("SELECT source, count(*) AS n FROM (" +
        "SELECT 'lineitem' AS source FROM lineitem " +
        "UNION ALL SELECT 'orders' AS source FROM orders) GROUP BY source")),

    // --- F-series: scalar functions ----------------------------------------
    Gate("f1_first_prefix", (s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Curies.firstWithPrefix(
          concat_ws("|", col("c_mktsegment"),
            concat(lit(" pubmed:"), col("c_custkey")), col("c_name")),
          "pubmed:").as("pmid")),
      ("SELECT c_custkey, list_filter(list_transform(" +
        "string_split(c_mktsegment || '| pubmed:' || c_custkey || '|' || c_name, '|'), " +
        "x -> trim(x)), x -> starts_with(x, 'pubmed:'))[1] AS pmid " +
        "FROM customer")),
    Gate("f2_first_id", (s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Curies.firstIdWithPrefix(
          concat_ws("|", col("c_name"),
            concat(lit("intact-miscore:0."), pmod(col("c_custkey"), lit(100)))),
          "intact-miscore:").as("score")),
      ("SELECT c_custkey, regexp_replace(list_filter(list_transform(" +
        "string_split(c_name || '|intact-miscore:0.' || (c_custkey % 100), '|'), " +
        "x -> trim(x)), x -> starts_with(x, 'intact-miscore:'))[1], " +
        "'^intact-miscore:', '') AS score FROM customer")),
    Gate("f5_xref_list", (s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
          explode(Curies.xrefList(concat_ws("|",
            concat(lit("hgnc:"), col("c_custkey")),
            col("c_name"),
            concat(lit("uniprot:U"), col("c_nationkey"))))).as("x"))
        .select(col("c_custkey"), col("x.prefix").as("prefix"),
          col("x.identifier").as("identifier")),
      """WITH raw AS (
        |  SELECT c_custkey,
        |    'hgnc:' || c_custkey || '|' || c_name || '|uniprot:U' || c_nationkey
        |    AS xs
        |  FROM customer
        |), ex AS (
        |  SELECT c_custkey,
        |    unnest(list_filter(list_transform(string_split(xs, '|'),
        |      x -> trim(x)), x -> regexp_matches(x, '^[^:]+:'))) AS x
        |  FROM raw
        |)
        |SELECT c_custkey,
        |  regexp_extract(x, '^([^:]*):(.*)$', 1) AS prefix,
        |  regexp_extract(x, '^([^:]*):(.*)$', 2) AS identifier
        |FROM ex
        |""".stripMargin),
    Gate("f6_pmid_strict", (s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"),
          when(pmod(col("c_custkey"), lit(3)) === 0,
            concat(lit("pubmed:"), col("c_custkey")))
            .otherwise(concat(lit("doi:"), col("c_custkey"))).as("raw"))
        .filter(col("raw").startsWith("pubmed:"))
        .select(col("c_custkey"),
          Curies.stripPrefix(col("raw"), "pubmed:").as("pmid")),
      ("SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS pmid FROM customer " +
        "WHERE c_custkey % 3 = 0")),
    Gate("f10_strip_prefix", (s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Curies.stripPrefix(col("c_name"), "Customer#").as("stripped")),
      ("SELECT c_custkey, CASE WHEN starts_with(c_name, 'Customer#') " +
        "THEN substr(c_name, 10) ELSE c_name END AS stripped FROM customer")),
    Gate("f11_identifiers_url", (s, d) =>
      t(s, d, "nation").select(col("n_nationkey"),
        Curies.identifiersOrgUrl(lit("nation"), col("n_name")).as("url")),
      ("SELECT n_nationkey, 'https://identifiers.org/nation:' || n_name " +
        "AS url FROM nation")),

    // A7: namespace incremental update — anti-join on identifier, null
    // names skipped (namespace_manager.py:272-296).
    Gate("a7_ns_update", (s, d) => {
      val sk = col("s_suppkey")
      val models = t(s, d, "supplier").select(
        concat(lit("I"), sk).as("identifier"),
        when(pmod(sk, lit(7)) === 0, lit(null).cast("string"))
          .otherwise(col("s_name")).as("name"),
        lit("GRP").as("encoding"))
      val existing = t(s, d, "supplier").filter(pmod(sk, lit(2)) === 0)
        .select(concat(lit("I"), sk).as("identifier"))
      models.join(existing, Seq("identifier"), "left_anti")
        .filter(col("name").isNotNull)
    },
      ("SELECT 'I' || s_suppkey AS identifier, s_name AS name, " +
        "'GRP' AS encoding FROM supplier " +
        "WHERE s_suppkey % 2 <> 0 AND s_suppkey % 7 <> 0")),

    // J9: namespace-entry backref — entries filtered by namespace FK.
    Gate("j9_ns_backref", (s, d) =>
      t(s, d, "supplier")
        .select(concat(lit("_NS"), pmod(col("s_suppkey"), lit(3)))
          .as("namespace_url"),
          concat(lit("I"), col("s_suppkey")).as("identifier"),
          col("s_name").as("name"))
        .filter(col("namespace_url") === "_NS1")
        .select("identifier", "name"),
      ("SELECT 'I' || s_suppkey AS identifier, s_name AS name " +
        "FROM supplier WHERE s_suppkey % 3 = 1")),

    // A10: dictionary-encode-then-ground — distinct values grounded once,
    // broadcast-joined back (hmdd.py:35-54).
    Gate("a10_distinct_ground", (s, d) => {
      val raw = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
      val grounded = raw.select("p_brand").distinct()
        .withColumn("grounded", upper(col("p_brand")))
      raw.join(broadcast(grounded), "p_brand")
        .groupBy("grounded").agg(count(lit(1)).as("n"))
    },
      ("SELECT upper(p_brand) AS grounded, count(*) AS n FROM part " +
        "GROUP BY 1")),

    // A12: dedup via dict keys.
    Gate("a12_dict_dedup", (s, d) =>
      t(s, d, "part").select(col("p_brand").as("brand"),
        col("p_type").as("ptype")).dropDuplicates(),
      "SELECT DISTINCT p_brand AS brand, p_type AS ptype FROM part"),

    // F12: filename from URL.
    Gate("f12_name_from_url", (s, d) =>
      t(s, d, "region").select(col("r_regionkey"),
        Curies.nameFromUrl(concat(lit("https://example.org/data/"),
          col("r_name"), lit(".tsv.gz"))).as("fname")),
      ("SELECT r_regionkey, r_name || '.tsv.gz' AS fname FROM region")),

    // F15: display capitalization (python str.capitalize semantics).
    Gate("f15_capitalize", (s, d) => {
      val low = lower(col("n_name"))
      t(s, d, "nation").select(col("n_nationkey"),
        concat(upper(substring(low, 1, 1)), substring(low, 2, 1000000))
          .as("display"))
    },
      ("SELECT n_nationkey, upper(substr(lower(n_name), 1, 1)) || " +
        "substr(lower(n_name), 2) AS display FROM nation")),

    // O5: sorted display with explicit position (7 rows — display op).
    Gate("o5_sorted_display", (s, d) => {
      val counts = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")
        .map(n => t(s, d, n).agg(count(lit(1)).as("n"))
          .select(lit(n).as("tbl"), col("n")))
        .reduce(_ unionByName _)
      counts.withColumn("pos", row_number().over(Window.orderBy("tbl")))
    },
      ("SELECT tbl, n, CAST(row_number() OVER (ORDER BY tbl) AS INT) " +
        "AS pos FROM (" +
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")
          .map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM $n")
          .mkString(" UNION ALL ") + ")")),

    // O6: first-row probe.
    Gate("o6_first_row", (s, d) =>
      t(s, d, "orders").orderBy("o_orderkey").limit(1)
        .select("o_orderkey", "o_orderstatus"),
      ("SELECT o_orderkey, o_orderstatus FROM orders " +
        "ORDER BY o_orderkey LIMIT 1")),

    // P8: dropna after scan (rows with any null dropped).
    Gate("p8_dropna", (s, d) =>
      t(s, d, "orders").select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("P")).as("status"),
        nullif(col("o_orderpriority"), lit("1-URGENT")).as("priority"))
        .na.drop(),
      ("SELECT o_orderkey, o_orderstatus AS status, " +
        "o_orderpriority AS priority FROM orders " +
        "WHERE o_orderstatus <> 'P' AND o_orderpriority <> '1-URGENT'")),

    // P10: post-mapping null filter (keep only grounded rows).
    Gate("p10_postmap_null", (s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")
          .filter(pmod(col("n_nationkey"), lit(2)) === 0)
          .select(col("n_nationkey").as("nk"), col("n_name").as("mapped"))),
          col("c_nationkey") === col("nk"), "left")
        .filter(col("mapped").isNotNull)
        .select("c_custkey", "mapped"),
      ("SELECT c_custkey, n_name AS mapped FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE n_nationkey % 2 = 0")),

    // P14: populated-check predicate.
    Gate("p14_populated", (s, d) =>
      t(s, d, "lineitem").agg((count(lit(1)) > 0).as("populated")),
      "SELECT count(*) > 0 AS populated FROM lineitem"),

    // --- Sketch profile error contract ---------------------------------------
    // The one-pass HLL++/KLL profile must sit within its advertised error
    // of the exact answers on every key — checked per key, reported as
    // hard booleans.
    Gate("a15_sketch_profile", (s, d) => {
      val ev = t(s, d, "events")
      val approx = graft.ops.Profile.sketchProfile(
        ev, "event_type", "user_id", "value")
      // DISCRETE exact order statistics (sorted-element-at-rank), not the
      // interpolating percentile(): the sketch's contract is an ELEMENT
      // whose rank is within eps·n of the target, so comparing against
      // the interpolated midpoint adds a half-gap discretization error
      // that dwarfs the sketch error on small groups (p95 over a
      // ~200-row group sat 2.5% from the interpolated value while being
      // the rank-exact answer — the sf0.001 scale probe caught it).
      val exact = ev.groupBy("event_type").agg(
        countDistinct("user_id").as("nd_exact"),
        expr("element_at(array_sort(collect_list(value)), " +
          "cast(ceil(0.50 * count(value)) as int))").as("p50_exact"),
        expr("element_at(array_sort(collect_list(value)), " +
          "cast(ceil(0.95 * count(value)) as int))").as("p95_exact"))
      approx.join(exact, "event_type").agg(
        max(abs(col("n_distinct_approx") - col("nd_exact")) /
          col("nd_exact")).as("nd_err"),
        max(abs(col("p50_approx") - col("p50_exact")) /
          abs(col("p50_exact"))).as("p50_err"),
        max(abs(col("p95_approx") - col("p95_exact")) /
          abs(col("p95_exact"))).as("p95_err")
        // HLL++'s 5% rsd is ONE standard deviation, not a hard bound —
        // a key can legitimately land past 1 sigma, so the gate allows
        // 3x rsd (the sketch is deterministic per corpus, but the bound
        // must hold for ANY corpus it is pointed at). The
        // quantile sketch's accuracy=1e4 gives eps=1e-4 rank error;
        // 2% value slack is generous for any non-pathological values.
      ).select((col("nd_err") < 0.15).as("distinct_within_rsd"),
        (col("p50_err") < 0.02).as("p50_within_eps"),
        (col("p95_err") < 0.02).as("p95_within_eps"))
    },
      ("SELECT true AS distinct_within_rsd, true AS p50_within_eps, " +
        "true AS p95_within_eps")),

    // --- Salted two-phase aggregation (value-exact oracle) -------------------
    // The skew tools were unit-tested only; this registers them against
    // the exact answers: bucket-disjointness must make the salted
    // countDistinct sum and the flattened salted collect_set EQUAL their
    // single-phase forms, not approximate them.
    Gate("a16_salted_agg", (s, d) => {
      val ev = t(s, d, "events")
      val counts = graft.core.Skew.saltedCountDistinct(
        ev, Seq("event_type"), "user_id", "n_users")
      val sets = graft.core.Skew.saltedCollectSet(
        ev, Seq("event_type"), "user_id", "users")
      counts.join(sets, "event_type").select(col("event_type"),
        col("n_users"),
        concat_ws(",", transform(col("users"), _.cast("string")))
          .as("users"))
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users
        |FROM events GROUP BY event_type
        |""".stripMargin),

    // --- Exact per-key heavy hitters ----------------------------------------
    // Top-10 corpus words per document language: one (key, value)
    // hash-aggregation then the bounded-heap top-k — no per-key window
    // funnel. Value-exact vs the DuckDB row_number window; the
    // (count DESC, value ASC) tie order makes ranks engine-independent.
    Gate("a20_heavy_hitters", (s, d) => {
      val words = t(s, d, "documents").select(col("lang"),
        explode(split(graft.ops.TextAnalysis.normalized(col("text")), " "))
          .as("word"))
        .filter(length(col("word")) > 0)
      graft.ops.Profile.topKFrequent(words, "lang", "word", k = 10)
    },
      (s"""WITH ex AS (
        |  SELECT lang, unnest(string_split(${normSql}, ' '))
        |    AS word
        |  FROM documents
        |), g AS (
        |  SELECT lang, word, count(*) AS n FROM ex
        |  WHERE len(word) > 0 GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, word, n, row_number() OVER (
        |    PARTITION BY lang ORDER BY n DESC, word ASC) AS rank
        |  FROM g
        |)
        |SELECT lang, rank, word AS value, n FROM r WHERE rank <= 10
        |""").stripMargin),

    // --- Salted skew join -----------------------------------------------------
    // The explicit skew-join rewrite: probe rows salt by row identity,
    // the build side replicates bucket-count×, the join runs on
    // (key, salt). Value-exact vs the PLAIN join — the whole point of
    // the rewrite is that the result is indistinguishable. The events
    // feed is the natural skew corpus (150 users over the whole event
    // stream).
    Gate("j13_salted_join", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.core.Skew.saltedJoin(ev, dim, "user_id", "event_id",
        saltBuckets = 8)
    },
      """SELECT e.user_id, e.event_id, e.value, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |""".stripMargin),

    // --- Events load-path timestamp invariant -------------------------------
    Gate("o7_events_ts", (s, d) => {
      graft.core.Tables.events(s, d).agg(
        date_format(min(col("ts")).cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"),
        date_format(max(col("ts")).cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
        count(lit(1)).as("n"))
    },
      """SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
        |  count(*) AS n
        |FROM events
        |""".stripMargin),

    // --- EXCEPT / INTERSECT set operations ----------------------------------
    // Completes the §2.7 set-op family beside u1's UNION: clickers who
    // never purchased (EXCEPT) and clickers who did (INTERSECT), labeled
    // and unioned — distinct semantics in both engines.
    Gate("u2_except_intersect", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      def users(kind: String) = ev.filter(col("event_type") === kind)
        .select(col("user_id"))
      users("click").except(users("purchase"))
        .withColumn("set_label", lit("click_only"))
        .unionByName(users("click").intersect(users("purchase"))
          .withColumn("set_label", lit("both")))
    },
      """SELECT user_id, 'click_only' AS set_label FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'both' FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |""".stripMargin),

    // --- Equi-depth binning + rank statistics -------------------------------
    // ntile(10) and percent_rank per event type over integer cents, the
    // ordering made unique by (cents, event_id) so both window functions
    // are deterministic; percent_rank is a single division of exact ints.
    // Summarized per (type, bin): counts + cent bounds + the bin's top
    // percent_rank — the equi-depth histogram every profiler needs.
    Gate("o10_ntile", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("cents").asc, col("event_id").asc)
      ev.withColumn("bin", ntile(10).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), min("cents").as("lo"),
          max("cents").as("hi"), max("pr").as("top_pr"))
    },
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), r AS (
        |  SELECT event_type, cents,
        |    ntile(10) OVER w AS bin,
        |    percent_rank() OVER w AS pr
        |  FROM e WINDOW w AS (PARTITION BY event_type
        |    ORDER BY cents, event_id)
        |)
        |SELECT event_type, bin, count(*) AS n, min(cents) AS lo,
        |  max(cents) AS hi, max(pr) AS top_pr
        |FROM r GROUP BY 1, 2
        |""".stripMargin),

    // --- ROLLUP multi-level aggregation -------------------------------------
    // Customer counts + balance cents by (nation, segment) with subtotal
    // and grand-total levels — the nation dim broadcasts, cents keep the
    // sums integer-exact across the NULL-marked rollup levels.
    Gate("a24_rollup", (s, d) => {
      val cust = graft.core.Tables.load(s, d, "customer")
      val nat = graft.core.Tables.load(s, d, "nation")
      // GROUP BY ROLLUP via SQL over the joined view: the DataFrame
      // `.rollup` API after ANY join trips Spark 4.1's
      // ambiguous-self-join check (the Expand duplicates grouping attrs);
      // the SQL form plans the identical Aggregate(Expand) without the
      // false positive, and the broadcast hint survives the temp view
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .createOrReplaceTempView("graft_rollup_in")
      s.sql("""SELECT n_name, c_mktsegment, count(*) AS n_cust,
        sum(cents) AS bal_cents
        FROM graft_rollup_in GROUP BY ROLLUP (n_name, c_mktsegment)""")
    },
      """SELECT n_name, c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |""".stripMargin),

    // --- PIVOT: per-user event-type counts as columns -----------------------
    // The explicit value list keeps the pivot a single pass (no
    // distinct-values pre-query); absent combinations fill 0 so the
    // frame matches the CASE-sum oracle exactly.
    Gate("a25_pivot", (s, d) =>
      graft.core.Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L),
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view
        |FROM events GROUP BY 1
        |""".stripMargin),

    // --- Mergeable sketch states across persisted snapshots -----------------
    // The telemetry-rollup posture: two disjoint "snapshots" each persist
    // a per-key HLL state table once; corpus cardinalities then come from
    // UNIONING the state files and merging — the raw snapshots are never
    // rescanned. Counts must sum exactly; the merged estimate must land
    // within the 5% HLL contract of the exact distinct count per key.
    Gate("a26_sketch_merge", (s, d) => {
      val base = layoutMemo(s.sparkContext, s"$d#hllstates") {
        val p = s"/tmp/graft_hll_${sfTag(d)}"
        val ev = graft.core.Tables.events(s, d)
        graft.ops.Profile.hllStates(
          ev.filter(col("event_id") % 2 === 0), "event_type", "user_id")
          .write.mode("overwrite").parquet(s"$p/s0")
        graft.ops.Profile.hllStates(
          ev.filter(col("event_id") % 2 === 1), "event_type", "user_id")
          .write.mode("overwrite").parquet(s"$p/s1")
        p
      }
      val states = s.read.parquet(s"$base/s0")
        .unionByName(s.read.parquet(s"$base/s1"))
      val merged = graft.ops.Profile.mergeHllStates(states, "event_type")
      val exact = graft.core.Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("d_exact"),
          count(lit(1)).as("n_exact"))
      merged.join(exact, "event_type")
        .agg(
          min(col("n") === col("n_exact")).as("merge_counts_exact"),
          min(abs(col("n_distinct_approx") - col("d_exact")) <=
            col("d_exact") * lit(0.05) + lit(1.0))
            .as("merge_estimate_within_5pct"))
    },
      ("SELECT true AS merge_counts_exact, " +
        "true AS merge_estimate_within_5pct")),

    // --- Data-quality expectation suite -------------------------------------
    // The ingest-time validation report over events: completeness,
    // uniqueness, bounds, domain membership, row count — ONE aggregation
    // pass — plus the referential-integrity probe against customer.
    // Failing checks are part of the gate (the narrowed domain and the
    // tight bounds yield passed=false rows), so the fail path is
    // oracle-pinned too, with exact fractions on both sides.
    Gate("a29_expectations", (s, d) => {
      import graft.ops.Expectations
      val ev = graft.core.Tables.events(s, d)
      Expectations.run(ev, Seq(
          Expectations.notNull("event_id"),
          Expectations.notNull("user_id"),
          Expectations.unique("event_id"),
          Expectations.bounds("value", 0.0, 500.0),
          Expectations.bounds("value", 0.0, 100.0),
          Expectations.valuesIn("event_type",
            Seq("view", "click", "purchase", "error")),
          Expectations.rowCountBetween(1L, 100000000L)))
        .unionByName(Expectations.foreignKey(ev, "user_id",
          t(s, d, "customer"), "c_custkey"))
    },
      """SELECT 'not_null(event_id)' AS "check",
        |  CAST(count(event_id) AS DOUBLE) / count(*) AS metric,
        |  count(event_id) = count(*) AS passed FROM events
        |UNION ALL
        |SELECT 'not_null(user_id)',
        |  CAST(count(user_id) AS DOUBLE) / count(*),
        |  count(user_id) = count(*) FROM events
        |UNION ALL
        |SELECT 'unique(event_id)',
        |  CAST(count(DISTINCT event_id) AS DOUBLE) / count(event_id),
        |  count(DISTINCT event_id) = count(event_id) FROM events
        |UNION ALL
        |SELECT 'bounds(value,0.0,500.0)',
        |  CAST(count(*) FILTER (value BETWEEN 0 AND 500) AS DOUBLE)
        |    / count(value),
        |  count(*) FILTER (value BETWEEN 0 AND 500) = count(value)
        |FROM events
        |UNION ALL
        |SELECT 'bounds(value,0.0,100.0)',
        |  CAST(count(*) FILTER (value BETWEEN 0 AND 100) AS DOUBLE)
        |    / count(value),
        |  count(*) FILTER (value BETWEEN 0 AND 100) = count(value)
        |FROM events
        |UNION ALL
        |SELECT 'values_in(event_type)',
        |  CAST(count(*) FILTER (event_type IN
        |    ('view', 'click', 'purchase', 'error')) AS DOUBLE)
        |    / count(event_type),
        |  count(*) FILTER (event_type IN
        |    ('view', 'click', 'purchase', 'error')) = count(event_type)
        |FROM events
        |UNION ALL
        |SELECT 'row_count(1,100000000)', CAST(count(*) AS DOUBLE),
        |  count(*) BETWEEN 1 AND 100000000 FROM events
        |UNION ALL
        |SELECT 'foreign_key(user_id->c_custkey)',
        |  CAST((SELECT count(*) FROM events e
        |    LEFT JOIN customer c ON e.user_id = c.c_custkey
        |    WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL)
        |    AS DOUBLE),
        |  (SELECT count(*) FROM events e
        |    LEFT JOIN customer c ON e.user_id = c.c_custkey
        |    WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL) = 0
        |""".stripMargin),

    // --- Group-wise top-k without a window funnel -----------------------------
    // Top-3 orders per customer by (totalprice, orderkey) descending —
    // the native TopKRowsAgg runs as ObjectHashAggregate with map-side
    // partials (only k-row buffers shuffle), where the row_number window
    // the oracle uses funnels every order of a customer through one
    // task. orderkey is unique, so the tie-break is total and the
    // result partitioning-independent.
    Gate("o11_topk_per_group", (s, d) =>
      graft.ops.Rank.topKPerGroup(
        t(s, d, "orders").select("o_custkey", "o_totalprice",
          "o_orderkey", "o_orderdate"),
        Seq("o_custkey"), Seq("o_totalprice", "o_orderkey"), k = 3,
        ascending = false),
      """SELECT o_custkey, o_totalprice, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_totalprice, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders) t WHERE rn <= 3
        |""".stripMargin),

    // --- Expectation trail: metric drift across the report history ----------
    // The alerting face of continuous monitoring: the per-batch report
    // rows (batch 0 = the error-free slice, batch 1 = the full feed)
    // with each check's previous value, exact metric delta, and the
    // pass-flip flag — the domain check FLIPS when the error rows enter
    // the feed, so both the null and live flip paths are exercised.
    // One window keyed by check; value-exact vs the lag() SQL.
    Gate("a29_expect_trail", (s, d) => {
      import graft.ops.Expectations
      val ev = graft.core.Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      val checks = Seq(
        Expectations.notNull("user_id"),
        Expectations.bounds("value", 0.0, 500.0),
        Expectations.valuesIn("event_type",
          Seq("view", "click", "purchase", "signup")))
      val b0 = ev.filter(col("event_type") =!= "error")
      val reports = Expectations.run(b0, checks)
        .withColumn("batch_id", lit(0L))
        .unionByName(Expectations.run(ev, checks)
          .withColumn("batch_id", lit(1L)))
      Expectations.trail(reports)
    },
      """WITH b0 AS (SELECT * FROM events WHERE event_type <> 'error'),
        |r AS (
        |  SELECT 'not_null(user_id)' AS chk, 0 AS bid,
        |    CAST(count(user_id) AS DOUBLE) / count(*) AS metric,
        |    count(user_id) = count(*) AS passed FROM b0
        |  UNION ALL
        |  SELECT 'not_null(user_id)', 1,
        |    CAST(count(user_id) AS DOUBLE) / count(*),
        |    count(user_id) = count(*) FROM events
        |  UNION ALL
        |  SELECT 'bounds(value,0.0,500.0)', 0,
        |    CAST(count(*) FILTER (value BETWEEN 0 AND 500) AS DOUBLE)
        |      / count(value),
        |    count(*) FILTER (value BETWEEN 0 AND 500) = count(value)
        |  FROM b0
        |  UNION ALL
        |  SELECT 'bounds(value,0.0,500.0)', 1,
        |    CAST(count(*) FILTER (value BETWEEN 0 AND 500) AS DOUBLE)
        |      / count(value),
        |    count(*) FILTER (value BETWEEN 0 AND 500) = count(value)
        |  FROM events
        |  UNION ALL
        |  SELECT 'values_in(event_type)', 0,
        |    avg(CASE WHEN event_type IN ('view', 'click', 'purchase',
        |      'signup') THEN CAST(1 AS DOUBLE) ELSE 0 END),
        |    count(*) FILTER (event_type IN ('view', 'click', 'purchase',
        |      'signup')) = count(event_type)
        |  FROM b0
        |  UNION ALL
        |  SELECT 'values_in(event_type)', 1,
        |    avg(CASE WHEN event_type IN ('view', 'click', 'purchase',
        |      'signup') THEN CAST(1 AS DOUBLE) ELSE 0 END),
        |    count(*) FILTER (event_type IN ('view', 'click', 'purchase',
        |      'signup')) = count(event_type)
        |  FROM events
        |)
        |SELECT chk AS "check", CAST(bid AS BIGINT) AS batch_id, metric,
        |  lag(metric) OVER w AS prev_metric,
        |  metric - lag(metric) OVER w AS delta,
        |  coalesce(passed <> lag(passed) OVER w, false) AS flipped,
        |  passed
        |FROM r
        |WINDOW w AS (PARTITION BY chk ORDER BY bid)
        |""".stripMargin),

    // --- Exact group-wise quantiles ------------------------------------------
    // The precise face of the a15 sketch profile: per-returnflag
    // continuous quantiles of the (quantized, low-cardinality) quantity
    // domain — one map-side-combinable hash aggregation, no window, no
    // global sort; value-comparable with ANSI percentile_cont.
    Gate("o12_group_quantiles", (s, d) =>
      graft.ops.Rank.groupQuantiles(
        t(s, d, "lineitem").select("l_returnflag", "l_quantity"),
        Seq("l_returnflag"), "l_quantity", Seq(0.25, 0.5, 0.9)),
      """SELECT l_returnflag, CAST(0.25 AS DOUBLE) AS p,
        |  quantile_cont(l_quantity, 0.25) AS q
        |FROM lineitem GROUP BY 1
        |UNION ALL
        |SELECT l_returnflag, CAST(0.5 AS DOUBLE),
        |  quantile_cont(l_quantity, 0.5)
        |FROM lineitem GROUP BY 1
        |UNION ALL
        |SELECT l_returnflag, CAST(0.9 AS DOUBLE),
        |  quantile_cont(l_quantity, 0.9)
        |FROM lineitem GROUP BY 1
        |""".stripMargin),

    // --- Equi-width histogram --------------------------------------------------------
    // Fixed-bin value distribution per event type: bin = floor(v/25) —
    // IEEE division + floor, exact counts, no quantization step.
    Gate("a42_histogram", (s, d) =>
      graft.ops.Profile.equiWidthHistogram(
        graft.core.Tables.events(s, d), "event_type", "value",
        binWidth = 25.0),
      """SELECT event_type,
        |  CAST(floor(value / 25.0) AS BIGINT) AS bin,
        |  CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS bin_lo,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2, 3
        |""".stripMargin),

    // --- Per-group exact mode -----------------------------------------------------------
    // "Typical value" profiling: most frequent user per event type,
    // ties to the smallest id — one orderable-struct MIN, no window.
    Gate("o16_mode", (s, d) =>
      graft.ops.Rank.modeBy(graft.core.Tables.events(s, d),
        keys = Seq("event_type"), valueCol = "user_id"),
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, user_id) AS rn
        |  FROM c
        |)
        |SELECT event_type, user_id AS mode, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1
        |""".stripMargin),

    // --- Percent-rank normalization ----------------------------------------------------
    // Distribution-free per-flag feature scaling: integer rank, one
    // IEEE division — even the float is engine-bit-identical.
    Gate("o15_pct_rank", (s, d) =>
      graft.ops.Rank.percentRankBy(t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity"),
        keys = Seq("l_returnflag"), valueCol = "l_quantity"),
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  percent_rank() OVER (
        |    PARTITION BY l_returnflag ORDER BY l_quantity) AS pr
        |FROM lineitem
        |""".stripMargin),

    // --- Per-group quantile winsorization -----------------------------------------
    // Feature clipping at exact per-flag [p5, p95] bounds: one
    // aggregation to the group-sized bounds frame, broadcast back, the
    // corpus never shuffles. Same percentile/quantile_cont parity as
    // o12.
    Gate("o14_winsorize", (s, d) =>
      graft.ops.Rank.winsorize(t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity"),
        keys = Seq("l_returnflag"), valueCol = "l_quantity",
        lo = 0.05, hi = 0.95),
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_quantity, 0.05) AS q_lo,
        |    quantile_cont(l_quantity, 0.95) AS q_hi
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  l.l_quantity, b.q_lo, b.q_hi,
        |  least(greatest(CAST(l.l_quantity AS DOUBLE), b.q_lo), b.q_hi)
        |    AS clipped
        |FROM lineitem l JOIN b USING (l_returnflag)
        |""".stripMargin),

    // --- Misra–Gries heavy hitters ---------------------------------------------------
    // Bounded-memory dominant-token profile over the corpus token
    // stream. The summary's estimates legitimately vary with merge
    // order, so the gate checks the INVARIANTS that hold for every
    // order (the s_lsh_recall posture): never over-counts, error
    // within n/(k+1), every guaranteed-heavy token present, ≤ k
    // counters.
    Gate("o18_heavy_hitters", (s, d) => {
      val k = 32
      val toks = docTokens(t(s, d, "documents"))
      val hits = graft.ops.Profile.heavyHitters(
          toks.withColumn("g", lit(1)), Seq("g"), "tok", k)
        .select(explode(col("hits")).as("h"))
        .select(col("h.item").as("tok"), col("h.est").as("est"))
      mgInvariants(hits, toks, k)
    },
      ("SELECT true AS nonempty, true AS never_over, " +
        "true AS within_bound, true AS size_ok, true AS heavy_present")),

    // --- CUBE multi-level aggregation -----------------------------------------
    // Customer counts + balance cents across ALL 2² grouping levels of
    // (nation, segment); GROUPING() markers ride along so NULL-marked
    // subtotal rows stay distinguishable from null group values. The
    // nation dim broadcasts; cents keep every sum integer-exact.
    Gate("a48_cube", (s, d) => {
      val cust = graft.core.Tables.load(s, d, "customer")
      val nat = graft.core.Tables.load(s, d, "nation")
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .createOrReplaceTempView("graft_cube_in")
      s.sql("""SELECT n_name, c_mktsegment,
        CAST(grouping(n_name) AS BIGINT) AS g_nation,
        CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
        count(*) AS n_cust, sum(cents) AS bal_cents
        FROM graft_cube_in GROUP BY CUBE (n_name, c_mktsegment)""")
    },
      """SELECT n_name, c_mktsegment,
        |  CAST(grouping(n_name) AS BIGINT) AS g_nation,
        |  CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
        |  count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)
        |""".stripMargin),

    // --- Explicit GROUPING SETS -----------------------------------------------
    // A non-hierarchical set list CUBE/ROLLUP cannot express: per-nation,
    // per-segment, and grand-total — but NOT the (nation, segment)
    // cross — in one pass over the fact side (one Expand, one shuffle;
    // three separate GROUP BYs would scan and shuffle three times).
    Gate("a49_grouping_sets", (s, d) => {
      val cust = graft.core.Tables.load(s, d, "customer")
      val nat = graft.core.Tables.load(s, d, "nation")
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .createOrReplaceTempView("graft_gsets_in")
      s.sql("""SELECT n_name, c_mktsegment,
        CAST(grouping(n_name) AS BIGINT) AS g_nation,
        CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
        count(*) AS n_cust, sum(cents) AS bal_cents
        FROM graft_gsets_in
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""")
    },
      """SELECT n_name, c_mktsegment,
        |  CAST(grouping(n_name) AS BIGINT) AS g_nation,
        |  CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
        |  count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        |""".stripMargin))
}
