package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.compath.PathwayStore
import graft.core.Tables
import graft.ops.TextAnalysis
import graft.sources.Intact

/** Inputs and helpers shared by the gate families in [[graft.gates]], the
  * CLI and the benchmark: table loading, scratch-path helpers, the
  * synthetic ComPath/IntAct inputs, the shared co-purchase graph, and the
  * SQL fragments more than one family's oracles splice in.
  *
  * Gate conventions (the oracle comparison):
  *  - every computed column is aliased identically in the Spark plan and
  *    the oracle SQL (the comparator sorts columns by name before hashing);
  *  - row order is irrelevant (the comparator sorts rows), but
  *    LIMIT-style queries order on a unique key first so the *row set* is
  *    deterministic;
  *  - doubles appear only where both engines produce bit-identical values:
  *    exact integer-valued sums, min/max, single divisions of exact longs,
  *    or sums of 2-decimal values rounded back to 2 decimals;
  *  - timestamps are exported as formatted strings.
  */
object Queries {
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Scratch-path and sink-name tag of an sf dir: `/x/sf0.01` → `sf0_01`. */
  private[graft] def sfTag(d: String): String =
    new java.io.File(d).getName.replace(".", "_")

  private[graft] def rmrf(s: SparkSession, path: String): Unit =
    graft.core.Fs.delete(s, path)

  /** The ComPath store conformed over the TPC-H-ish tables:
    * pathways ≙ part, proteins ≙ supplier, membership ≙ lineitem — a
    * genuine M:N (each part ships from many suppliers and vice versa). */
  def pathwayStore(s: SparkSession, dir: String): PathwayStore = PathwayStore(
    pathways = t(s, dir, "part").select(
      col("p_partkey").as("pathway_id"),
      col("p_partkey").cast("string").as("identifier"),
      col("p_name").as("name")),
    proteins = t(s, dir, "supplier").select(
      col("s_suppkey").as("protein_id"),
      concat(lit("HGNC:"), col("s_suppkey")).as("hgnc_id"),
      col("s_name").as("hgnc_symbol")),
    membership = t(s, dir, "lineitem").select(
      col("l_partkey").as("pathway_id"),
      col("l_suppkey").as("protein_id")))

  // ==========================================================================
  // Synthetic source inputs for the ETL/dispatch pipelines (G1-G3):
  // deterministic MITAB/CSV frames derived from the sf tables, with the
  // grounding dims derived by modular rules both sides can reproduce.
  // ==========================================================================

  private[graft] def mi(id: String, label: String) = s"""psi-mi:"MI:$id"($label)"""

  /** 14 interaction types covering every G1 dispatch class, indexed by
    * l_orderkey % 14 (12 = omit-list, 13 = unknown/reject). */
  private[graft] val g1Relations: Seq[String] = Seq(
    mi("0217", "phosphorylation reaction"),
    mi("0883", "gtpase reaction"),
    mi("0701", "dna strand elongation"),
    mi("0572", "dna cleavage"),
    mi("0902", "rna cleavage"),
    mi("0570", "protein cleavage"),
    mi("1355", "lipid cleavage"),
    mi("0199", "deformylation reaction"),
    mi("0197", "deacetylation reaction"),
    mi("0915", "physical association"),
    mi("0407", "direct interaction"),
    mi("0195", "covalent binding"),
    mi("1110", "predicted interaction"),
    mi("9999", "bogus"))

  private[graft] def caseOn(key: Column, values: Seq[String]): Column =
    values.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (v, i)) => when(key === i, lit(v)).otherwise(acc)
    }

  private[graft] def intactSynthRaw(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(
        when(pmod(col("l_partkey"), lit(7)) === 0,
          concat(lit("uniprotkb:P"), col("l_partkey")))
          .when(pmod(col("l_partkey"), lit(7)) === 1,
            concat(lit("chebi:\"CHEBI:"), col("l_partkey"), lit("\"")))
          .when(pmod(col("l_partkey"), lit(7)) === 2,
            concat(lit("chembl target:CHEMBL"), col("l_partkey"), lit("x")))
          .when(pmod(col("l_partkey"), lit(7)) === 3,
            concat(lit("intact:I"), col("l_partkey")))
          .when(pmod(col("l_partkey"), lit(7)) === 4,
            concat(lit("intenz:EC"), col("l_partkey")))
          .when(pmod(col("l_partkey"), lit(7)) === 5,
            concat(lit("intact:EBI-"), col("l_partkey")))
          .otherwise(concat(lit("genbank:X"), col("l_partkey")))
          .as("interactor_a"),
        concat(lit("uniprotkb:Q"), col("l_suppkey")).as("interactor_b"),
        caseOn(pmod(col("l_orderkey"), lit(14)), g1Relations)
          .as("interaction_type"),
        when(pmod(col("l_orderkey"), lit(3)) === 0,
          concat(lit("imex:IM-1|pubmed:"), col("l_orderkey")))
          .when(pmod(col("l_orderkey"), lit(3)) === 1,
            concat(lit("pubmed:"), col("l_orderkey")))
          .otherwise(lit("doi:x")).as("publication"),
        when(pmod(col("l_linenumber"), lit(13)) === 0,
          lit(null).cast("string"))
          .otherwise(lit(mi("0018", "two hybrid"))).as("detection_method"),
        lit(mi("0469", "intact")).as("source_database"),
        concat(lit("intact-miscore:0."), pmod(col("l_orderkey"), lit(100)))
          .as("confidence"))

  private[graft] def intactSynthMappings(s: SparkSession,
                                         d: String): Intact.Mappings = {
    val part = t(s, d, "part"); val supp = t(s, d, "supplier")
    val pU2e = part.filter(pmod(col("p_partkey"), lit(3)) =!= 0)
      .select(concat(lit("P"), col("p_partkey")).as("u"),
        (col("p_partkey") + 100000).cast("string").as("e"))
    val sU2e = supp.filter(pmod(col("s_suppkey"), lit(4)) =!= 0)
      .select(concat(lit("Q"), col("s_suppkey")).as("u"),
        (col("s_suppkey") + 200000).cast("string").as("e"))
    val pMn = part.select(concat(lit("P"), col("p_partkey")).as("u"),
      concat(lit("MNE_P"), col("p_partkey")).as("m"))
    val sMn = supp.select(concat(lit("Q"), col("s_suppkey")).as("u"),
      concat(lit("MNE_Q"), col("s_suppkey")).as("m"))
    val names = pU2e.select(col("e"), concat(lit("G"), col("e")).as("nm"))
      .unionByName(sU2e.select(col("e"), concat(lit("G"), col("e")).as("nm")))
    Intact.Mappings(
      uniprotToEntrez = pU2e.unionByName(sU2e),
      uniprotMnemonic = pMn.unionByName(sMn),
      ncbigeneNames = names,
      chebiNames = part.filter(pmod(col("p_partkey"), lit(2)) === 0)
        .select(col("p_partkey").cast("string").as("c"),
          concat(lit("CHEB_"), col("p_partkey")).as("nm")),
      complexportal = part.filter(pmod(col("p_partkey"), lit(2)) === 1)
        .select(concat(lit("I"), col("p_partkey")).as("i"),
          concat(lit("CPX-"), col("p_partkey")).as("cp")),
      reactome = part.filter(pmod(col("p_partkey"), lit(4)) === 2)
        .select(concat(lit("I"), col("p_partkey")).as("i"),
          concat(lit("R-"), col("p_partkey")).as("r")))
  }

  // ==========================================================================
  // DuckDB oracles
  // ==========================================================================

  private[graft] val normSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Shingle CTEs shared by the dedup oracles (word 3-gram, sorted distinct
    * — mirrors TextAnalysis.wordShingles). */
  private[graft] val shingleCte =
    s"""WITH norm AS (
       |  SELECT doc_id, $normSql AS t FROM documents
       |), words AS (
       |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |         ELSE list_distinct(list_transform(range(len(w) - 2),
       |                i -> array_to_string(w[i+1:i+3], ' ')))
       |    END AS s
       |  FROM words
       |), ex AS (
       |  SELECT doc_id, unnest(s) AS shingle FROM sh
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
       |)""".stripMargin

  /** Run `body` against a CHILD session (shared SparkContext + catalog,
    * isolated SQLConf) whose shuffle-partition count is scoped to `n`. The
    * MemoryStream gate feeds are dimension-sized by construction, but a
    * streaming query's STATE STORE is partitioned by this setting at query
    * start — 32 state-store commits per micro-batch for a 2k-row harness
    * feed is pure fixed overhead. (A production stream sizes this to its
    * real key cardinality.) A child session, not a set/restore on the
    * caller's conf: mutating the session-global value would silently
    * re-plan any concurrently-running query on 8 partitions and the
    * restore would race. */
  private[graft] def withShufflePartitions[A](s: SparkSession, n: Int)
                                             (body: SparkSession => A): A =
    withScopedConf(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** [[withShufflePartitions]] generalized to arbitrary SQLConf pairs —
    * same child-session isolation contract (shared SparkContext +
    * catalog, scoped conf; no set/restore race on the caller). */
  private[graft] def withScopedConf[A](s: SparkSession,
                                       conf: (String, String)*)
                                      (body: SparkSession => A): A = {
    val scoped = s.newSession()
    conf.foreach { case (k, v) => scoped.conf.set(k, v) }
    body(scoped)
  }

  /** Co-purchase part graph for the k-core gate, spilled to temp parquet
    * so operators read a file scan of the dimension-sized graph, not the
    * lineitem self-join constructing it (same posture as `coSupplyEdges`).
    * Parts are linked when they co-occur in ≥ 2 orders (co-occurrence at
    * all is near-complete on this corpus; repetition is the sparsifier). */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val a = li.select(col("ok"), col("pk").as("p1"))
    val b = li.select(col("ok"), col("pk").as("p2"))
    val out = s"/tmp/graft_copurchase_${sfTag(d)}"
    a.join(b, Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("p1").as("src"), col("p2").as("dst"))
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
  }

  /** The shared k19/w_stream_cdc changelog: every order becomes one
    * change row (seq = o_orderkey + 1: orderkey 0 exists in the corpus
    * and sequences must be positive); BOTH gates must keep this
    * identical because they share one oracle. */
  private[graft] def cdcBase(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  private[graft] def cdcChanges(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(
      when(col("o_orderkey") % 7 === 3, col("o_custkey") + 1000000)
        .otherwise(col("o_custkey")).as("c_custkey"),
      concat(lit("n"), col("o_orderkey")).as("c_name"),
      col("o_totalprice").as("c_acctbal"),
      when(col("o_orderkey") % 7 === 0, "D")
        .when(col("o_orderkey") % 7 === 3, "I")
        .otherwise("U").as("op"),
      (col("o_orderkey") + 1).cast("long").as("seq"))

  private[graft] lazy val cdcOracle: String =
      """WITH b AS (
        |  SELECT c_custkey, c_name, c_acctbal, CAST(0 AS BIGINT) AS seq,
        |    'I' AS op
        |  FROM customer
        |), ch AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 3 THEN o_custkey + 1000000
        |           ELSE o_custkey END AS c_custkey,
        |    'n' || o_orderkey AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CAST(o_orderkey + 1 AS BIGINT) AS seq,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'D'
        |         WHEN o_orderkey % 7 = 3 THEN 'I'
        |         ELSE 'U' END AS op
        |  FROM orders
        |), u AS (
        |  SELECT * FROM b UNION ALL SELECT * FROM ch
        |), w AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY seq DESC) AS rn
        |  FROM u
        |)
        |SELECT c_custkey, c_name, c_acctbal FROM w
        |WHERE rn = 1 AND op <> 'D'
        |""".stripMargin
  /** Components of supplier→nation ∪ nation→region ∪ customer→nation —
    * shared verbatim by the batch-fold (`a28_cc_index_persist`) and
    * streaming (`w_stream_cc`) faces of the persisted label index. */
  private[graft] val ccUnionOracle: String =
      """WITH edges AS (
        |  SELECT 's:' || s_suppkey AS src, 'n:' || s_nationkey AS dst
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'n:' || n_nationkey, 'r:' || n_regionkey FROM nation
        |  UNION ALL
        |  SELECT 'c:' || c_custkey, 'n:' || c_nationkey FROM customer
        |), und AS (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM edges
        |    UNION SELECT dst AS u, src AS v FROM edges)
        |  WHERE u <> v
        |), vertices AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |), walk AS (
        |  WITH RECURSIVE walk(n, comp) AS (
        |    SELECT node, node FROM vertices
        |    UNION
        |    SELECT e.v, walk.comp FROM walk JOIN und e ON walk.n = e.u
        |  )
        |  SELECT n, comp FROM walk
        |)
        |SELECT n AS node, min(comp) AS comp FROM walk GROUP BY n
        |""".stripMargin

  private[graft] def anomalySql(filter: String): String =
    s"""WITH b AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(floor(value * 1000) AS BIGINT) AS q
       |  FROM events$filter
       |), w AS (
       |  SELECT user_id, event_id, q,
       |    CAST(count(*) OVER win AS BIGINT) AS cnt,
       |    CAST(coalesce(sum(q) OVER win, 0) AS BIGINT) AS s,
       |    CAST(coalesce(sum(q * q) OVER win, 0) AS BIGINT) AS ss
       |  FROM b
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
       |)
       |SELECT user_id, event_id, q, cnt, s, ss,
       |  cnt >= 8 AND
       |    (cnt * q - s) * (cnt * q - s) > 9 * (cnt * ss - s * s)
       |    AS is_outlier
       |FROM w
       |""".stripMargin

  private[graft] val gramSql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), e AS (
      |  SELECT vec_id, unnest(qv) AS qx,
      |    CAST(unnest(generate_series(1, len(qv))) - 1 AS INT) AS i
      |  FROM q
      |)
      |SELECT a.i AS i, b.i AS j,
      |  CAST(sum(a.qx * b.qx) AS BIGINT) AS s_xy,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
      |GROUP BY 1, 2
      |""".stripMargin

  /** Whitespace token stream of a documents frame — the shared feed of
    * both heavy-hitters faces. */
  private[graft] def docTokens(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)

  /** The Misra–Gries contract as one boolean row — holds for EVERY
    * merge order, which is what makes an order-dependent summary
    * gateable: `hits(tok, est)` vs the exact counts of `toks`. */
  private[graft] def mgInvariants(hits: DataFrame, toks: DataFrame,
                           k: Int): DataFrame = {
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_true"))
    val total = toks.count()
    val under = hits.join(exact, Seq("tok"), "left")
      .agg(
        (count(lit(1)) > 0).as("nonempty"),
        (coalesce(sum(when(col("n_true").isNull ||
          col("est") > col("n_true"), 1L)), lit(0L)) === 0L)
          .as("never_over"),
        (coalesce(sum(when(
          (col("n_true") - col("est")) * (k + 1) > total, 1L)),
          lit(0L)) === 0L).as("within_bound"),
        (count(lit(1)) <= k).as("size_ok"))
    val missedHeavy = exact
      .filter(col("n_true") * (k + 1) > total)
      .join(hits.select("tok"), Seq("tok"), "left_anti")
      .agg((count(lit(1)) === 0L).as("heavy_present"))
    under.crossJoin(missedHeavy)
  }

  private[graft] def seasonalSql(filter: String): String =
    s"""WITH b AS (
       |  SELECT event_type, event_id,
       |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
       |    CAST(floor(value * 1000) AS BIGINT) AS q
       |  FROM events$filter
       |), p AS (
       |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
       |  FROM b GROUP BY 1, 2
       |)
       |SELECT b.event_type, b.event_id, b.hod, b.q, p.n, p.s, p.ss,
       |  (p.n >= 8 AND
       |   (CAST(p.n AS HUGEINT) * b.q - p.s)
       |     * (CAST(p.n AS HUGEINT) * b.q - p.s)
       |   > 9 * (CAST(p.n AS HUGEINT) * p.ss
       |     - CAST(p.s AS HUGEINT) * p.s)) AS is_outlier
       |FROM b JOIN p USING (event_type, hod)
       |""".stripMargin

  /** The scalar-fold EWMA oracle shared by the batch and stream faces
    * (rationale for the scalar — not struct — folds in the object doc):
    * the stream face emits no ts column and runs on the every-20th
    * subset. */
  private[graft] def ewmaSql(filter: String, withTs: Boolean): String = {
    val tsOut = if (withTs) "unnest(tss) AS ts, " else ""
    s"""WITH l AS (
      |  SELECT user_id,
      |    list(value ORDER BY ts, event_id) AS xs,
      |    list(ts ORDER BY ts, event_id) AS tss,
      |    list(event_id ORDER BY ts, event_id) AS ids
      |  FROM events$filter GROUP BY user_id
      |), m AS (
      |  SELECT user_id, xs, tss, ids, list_transform(xs, (e, i) ->
      |    list_reduce(xs[1:i], (acc, x) -> acc + 0.25 * (x - acc)))
      |    AS ms
      |  FROM l
      |), w AS (
      |  SELECT user_id, xs, tss, ids, ms, list_transform(xs, (e, i) ->
      |    CASE WHEN i = 1 THEN 0.0
      |         ELSE (e - ms[i-1]) * (0.25 * (e - ms[i-1])) END) AS ws
      |  FROM m
      |), v AS (
      |  SELECT user_id, xs, tss, ids, ms, list_transform(ws, (e, i) ->
      |    list_reduce(list_prepend(0.0, ws[2:i]),
      |      (acc, x) -> 0.75 * (acc + x))) AS vs
      |  FROM w
      |)
      |SELECT user_id, ${tsOut}unnest(ids) AS event_id,
      |  unnest(xs) AS value, unnest(ms) AS ewma, unnest(vs) AS ewvar
      |FROM v
      |""".stripMargin
  }
}
