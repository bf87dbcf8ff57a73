package graft
package gates

import java.nio.charset.{Charset, StandardCharsets}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries._
import graft.bel.{Exporters, Graph, NamespaceFiles, NamespaceSpec, NamespaceStore}
import graft.compath.PathwayQueries
import graft.core.Tables
import graft.sources.{Biogrid, Go, Intact, Tfregulons}

/** Source ETL and BEL gates: the per-source readers and BEL dispatch
  * (`sources`, `etl`), the ComPath pathway store and enrichment
  * (`compath`), namespace and export formats (`bel.Namespaces`,
  * `bel.Exporters`, `bel.Graph`) and the multimodal decoders. */
object SourceGates {
  private def pq(s: SparkSession, dir: String) =
    new PathwayQueries(pathwayStore(s, dir))

  /** Flagship enrichment symbol set (supplier names; deterministic). */
  private val enrichSymbols: Seq[String] =
    Seq(3, 7, 11, 19, 23, 42, 57, 64, 88, 91).map(i => f"Supplier#$i%09d")
  private val enrichSymbolsSql = enrichSymbols.map(x => s"'$x'").mkString(", ")

  /** BEL-style qualified edge set derived from lineitem: one edge per
    * (part, supplier) interaction with a synthetic citation and a
    * one-entry annotations map. */
  private def belEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      concat(lit("p:"), col("l_partkey")).as("src"),
      concat(lit("s:"), col("l_suppkey")).as("dst"),
      lit("interacts").as("relation"),
      concat(lit("pubmed:"), pmod(col("l_orderkey"), lit(1000))).as("citation"),
      lit(null).cast("string").as("evidence"),
      map(lit("flag"), col("l_returnflag")).as("annotations"))

  private def enrichOracle(asString: Boolean): String = {
    val geneSet =
      if (asString)
        "array_to_string(list_sort(list(DISTINCT s_name)), ',') AS gene_set"
      else "list_sort(list(DISTINCT s_name)) AS gene_set"
    s"""WITH matched AS (
       |  SELECT s_suppkey FROM supplier WHERE s_name IN ($enrichSymbolsSql)
       |), per AS (
       |  SELECT l_partkey AS pid, count(DISTINCT l_suppkey) AS mapped_proteins
       |  FROM lineitem
       |  WHERE l_suppkey IN (SELECT s_suppkey FROM matched)
       |  GROUP BY l_partkey
       |), sets AS (
       |  SELECT l_partkey AS pid, count(DISTINCT l_suppkey) AS pathway_size,
       |    $geneSet
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY l_partkey
       |)
       |SELECT per.pid AS pathway_id, CAST(per.pid AS VARCHAR) AS identifier,
       |  p_name AS name, mapped_proteins, pathway_size, gene_set
       |FROM per
       |JOIN sets ON per.pid = sets.pid
       |JOIN part ON per.pid = p_partkey
       |""".stripMargin
  }
  // ==========================================================================
  // G4 + S14 + J8: PID NDEx CX synthetic aspects
  // ==========================================================================

  /** CX `nodes` aspect from part: 5 reference classes — curated family,
    * CHEBI, uniprot, member-expanded family, unmapped (hprd). */
  private def cxNodes(s: SparkSession, d: String): DataFrame = {
    val pk = col("p_partkey")
    t(s, d, "part").select(
      pk.as("node_id"),
      when(pmod(pk, lit(5)) === 0, lit("RAS Family"))
        .when(pmod(pk, lit(5)) === 1, concat(lit("CHEBI:"), pk))
        .when(pmod(pk, lit(5)) === 2, concat(lit("uniprot:U"), pk))
        .when(pmod(pk, lit(5)) === 3, concat(lit("pfam:F"), pk))
        .otherwise(concat(lit("hprd:"), pk)).as("reference"),
      concat(lit("L"), pk).as("label"))
  }

  private def cxNodeAttributes(s: SparkSession, d: String): DataFrame = {
    val pk = col("p_partkey")
    val members = t(s, d, "part").filter(pmod(pk, lit(5)) === 3).select(
      pk.as("po"), lit("member").as("name"),
      lit(null).cast("string").as("value_str"),
      array(concat(lit("hgnc.symbol:S"), pk),
        concat(lit("hgnc.symbol:S"), pk + 1),
        lit("x:junk")).as("value_list"))
    val types = t(s, d, "part").select(
      pk.as("po"), lit("type").as("name"), lit("protein").as("value_str"),
      lit(null).cast("array<string>").as("value_list"))
    members.unionByName(types)
  }

  /** hgnc symbol→id dim (J8 grounding input): keys S<k> for k % 3 != 0. */
  private def cxHgnc(s: SparkSession, d: String): DataFrame = {
    val pk = col("p_partkey")
    t(s, d, "part").filter(pmod(pk, lit(3)) =!= 0)
      .select(concat(lit("S"), pk).as("sym"), concat(lit("H"), pk).as("hid"))
  }

  private def cxChebi(s: SparkSession, d: String): DataFrame = {
    val pk = col("p_partkey")
    t(s, d, "part").filter(pmod(pk, lit(2)) === 0)
      .select(pk.cast("string").as("k"), concat(lit("CH"), pk).as("nm"))
  }

  /** CX `edges` aspect from lineitem; suppkeys land inside the partkey
    * space so both endpoints resolve against the same node set. */
  private def cxEdges(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("edge_id"),
      col("l_partkey").as("s"), col("l_suppkey").as("t"),
      caseOn(pmod(col("l_orderkey"), lit(4)), Seq(
        "in-complex-with", "controls-phosphorylation-of",
        "chemical-affects", "bogus-type")).as("interaction"))

  private def cxEdgeAttributes(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").filter(pmod(col("l_orderkey"), lit(3)) === 0).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("po"),
      lit("citation").as("name"),
      array(concat(lit("pubmed:"), col("l_orderkey")),
        concat(lit("pubmed:"), col("l_orderkey") + 1)).as("value_list"))

  // ==========================================================================
  // S11: OBO — deterministic ontology text built from `nation`, parsed by
  // the real parser; the oracle reproduces the expected frames from the
  // same table.
  // ==========================================================================

  private def oboText(s: SparkSession, d: String): String = {
    val rows = t(s, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .collect()
      .sortBy(_.getInt(0))
    val stanzas = rows.map { r =>
      val k = r.getInt(0); val nm = r.getString(1); val rk = r.getInt(2)
      val obsolete = if (k % 7 == 3) "is_obsolete: true\n" else ""
      val partOf =
        if (k % 2 == 0) s"relationship: part_of GR:R$rk ! region\n" else ""
      s"[Term]\nid: GR:$k\nname: $nm\nnamespace: nation\n" +
        s"is_a: GR:R$rk ! region\n$obsolete$partOf"
    }
    "format-version: 1.2\n\n" + stanzas.mkString("\n")
  }

  private def writeText(path: String, content: String,
                        cs: Charset = StandardCharsets.UTF_8): String = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, content.getBytes(cs))
    path
  }

  private def writeZip(path: String, member: String, content: String): Unit = {
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    try {
      zos.putNextEntry(new java.util.zip.ZipEntry(member))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  /** Collect a one-string-column frame as sorted lines (file fixtures are
    * dimension-sized; sorting makes the file byte-deterministic). */
  private def lines(df: DataFrame): Seq[String] =
    df.orderBy(col(df.columns.head)).collect().map(_.getString(0)).toSeq

  private def supplierModels(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier").select(
      concat(lit("I"), col("s_suppkey")).as("identifier"),
      col("s_name").as("name"), lit("GRP").as("encoding"))

  private val graftSpec = NamespaceSpec("graft", "graft", "GRAFT", "_GRAFT")

  val gates: Seq[Gate] = Seq(
    // --- J-series: joins ---------------------------------------------------
    Gate("j1_pathway_protein", (s, d) =>
      pq(s, d).pathwayToProtein("name", "hgnc_symbol")
        .toDF("pathway", "protein"),
      ("SELECT p_name AS pathway, s_name AS protein FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey")),
    Gate("j7_edge_index", (s, d) => {
      val edges = t(s, d, "lineitem").select(
        concat(lit("p:"), col("l_partkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst")).distinct()
      Graph.indexedEdgeList(edges)._2
    },
      """WITH edges AS (
        |  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        |  FROM lineitem
        |), nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |), idx AS (
        |  SELECT node, row_number() OVER (ORDER BY node) - 1 AS node_index
        |  FROM nodes
        |)
        |SELECT s.node_index AS src_index, d.node_index AS dst_index
        |FROM edges JOIN idx s ON edges.src = s.node
        |JOIN idx d ON edges.dst = d.node
        |""".stripMargin),
    Gate("o4_node_index", (s, d) => {
      val edges = t(s, d, "lineitem").select(
        concat(lit("p:"), col("l_partkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))
      Graph.indexedEdgeList(edges)._1
    },
      """WITH edges AS (
        |  SELECT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        |  FROM lineitem
        |), nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |)
        |SELECT node, row_number() OVER (ORDER BY node) - 1 AS node_index
        |FROM nodes
        |""".stripMargin),
    Gate("a4_sizes_having", (s, d) =>
      pq(s, d).pathwaySizes().filter(col("pathway_size") > 3),
      ("SELECT l_partkey AS pathway_id, " +
        "count(DISTINCT l_suppkey) AS pathway_size FROM lineitem " +
        "GROUP BY l_partkey HAVING count(DISTINCT l_suppkey) > 3")),
    Gate("a5_degrees", (s, d) => pq(s, d).geneDegrees(),
      ("SELECT l_suppkey AS protein_id, " +
        "count(DISTINCT l_partkey) AS n_pathways FROM lineitem " +
        "GROUP BY l_suppkey HAVING count(DISTINCT l_partkey) > 0")),
    // gene_set is surfaced as a comma-joined string: the computation is the
    // array plan (PathwayQueries.enrich), but the oracle comparator
    // cannot hash array cells, so the oracle-facing form is scalar.
    Gate("a6_enrich", (s, d) =>
      pq(s, d).enrich(enrichSymbols)
        .withColumn("gene_set", concat_ws(",", col("gene_set"))),
      enrichOracle(asString = true)),
    Gate("a8_gene_sets", (s, d) =>
      pq(s, d).geneSets()
        .withColumn("gene_set", concat_ws(",", col("gene_set"))),
      ("SELECT CAST(l_partkey AS VARCHAR) AS identifier, " +
        "array_to_string(list_sort(list(DISTINCT s_name)), ',') AS gene_set " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY l_partkey")),
    Gate("a9_distinct_symbols", (s, d) => pq(s, d).allHgncSymbols(),
      ("SELECT DISTINCT s_name AS hgnc_symbol FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey")),
    Gate("a13_graph_stats", (s, d) =>
      Graph.stats(belEdges(s, d), withComponents = true),
      """WITH edges AS (
        |  SELECT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst,
        |         'pubmed:' || (l_orderkey % 1000) AS citation
        |  FROM lineitem
        |), und AS (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM edges
        |    UNION SELECT dst AS u, src AS v FROM edges)
        |  WHERE u <> v
        |), vertices AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |), cc AS (
        |  WITH RECURSIVE walk(n, comp) AS (
        |    SELECT node, node FROM vertices
        |    UNION
        |    SELECT e.v, walk.comp FROM walk JOIN und e ON walk.n = e.u
        |  )
        |  SELECT n, min(comp) AS comp FROM walk GROUP BY n
        |)
        |SELECT
        |  (SELECT count(*) FROM vertices) AS nodes,
        |  (SELECT count(*) FROM edges) AS edges,
        |  (SELECT count(DISTINCT citation) FROM edges) AS citations,
        |  (SELECT count(DISTINCT comp) FROM cc) AS components,
        |  CAST((SELECT count(*) FROM edges) AS DOUBLE) /
        |    (CAST((SELECT count(*) FROM vertices) AS DOUBLE) *
        |     (CAST((SELECT count(*) FROM vertices) AS DOUBLE) - 1))
        |    AS density
        |""".stripMargin),
    // --- G1-G3: source ETL + relation dispatch over synthetic inputs -------
    Gate("g1_intact_bel", (s, d) => {
      val (edges, _) = Intact.toBel(
        Intact.processed(intactSynthRaw(s, d), intactSynthMappings(s, d)))
      edges.select(
        col("src_function"), col("src_namespace"), col("src_identifier"),
        col("src_name"), col("relation"), col("dst_function"),
        col("dst_namespace"), col("dst_identifier"), col("dst_name"),
        element_at(col("dst_variants"), 1).getField("kind").as("v_kind"),
        element_at(col("dst_variants"), 1).getField("namespace").as("v_ns"),
        element_at(col("dst_variants"), 1).getField("identifier").as("v_id"),
        element_at(col("dst_variants"), 1).getField("name").as("v_name"),
        col("citation"), col("evidence"),
        col("subject_modifier").getField("name").as("subj_name"),
        col("object_modifier").getField("kind").as("obj_kind"),
        element_at(col("annotations"), "psi-mi").as("psi_mi"),
        element_at(col("annotations"), "intact-detection").as("detection"),
        element_at(col("annotations"), "intact-confidence").as("score"))
    },
      s"""WITH src AS (
         |  SELECT l_partkey pk, l_suppkey sk, l_orderkey ok
         |  FROM lineitem
         |  WHERE l_linenumber % 13 <> 0 AND l_orderkey % 14 NOT IN (12, 13)
         |    AND l_partkey % 7 NOT IN (5, 6)
         |), res AS (
         |  SELECT *,
         |    CASE WHEN pk % 7 = 1 THEN 'Abundance'
         |         WHEN pk % 7 = 3 AND pk % 2 = 1 THEN 'NamedComplexAbundance'
         |         ELSE 'Protein' END AS src_function,
         |    CASE pk % 7
         |      WHEN 0 THEN CASE WHEN pk % 3 <> 0 THEN 'ncbigene'
         |                       ELSE 'uniprot' END
         |      WHEN 1 THEN 'chebi'
         |      WHEN 2 THEN 'chembl.target'
         |      WHEN 3 THEN CASE WHEN pk % 2 = 1 THEN 'complexportal'
         |                       WHEN pk % 4 = 2 THEN 'reactome'
         |                       ELSE 'intact' END
         |      WHEN 4 THEN 'eccode' END AS src_namespace,
         |    CASE pk % 7
         |      WHEN 0 THEN CASE WHEN pk % 3 <> 0
         |                       THEN CAST(pk + 100000 AS VARCHAR)
         |                       ELSE 'P' || pk END
         |      WHEN 1 THEN CAST(pk AS VARCHAR)
         |      WHEN 2 THEN 'CHEMBL' || pk
         |      WHEN 3 THEN CASE WHEN pk % 2 = 1 THEN 'CPX-' || pk
         |                       WHEN pk % 4 = 2 THEN 'R-' || pk
         |                       ELSE 'I' || pk END
         |      WHEN 4 THEN 'EC' || pk END AS src_identifier,
         |    CASE pk % 7
         |      WHEN 0 THEN CASE WHEN pk % 3 <> 0 THEN 'G' || (pk + 100000)
         |                       ELSE 'MNE_P' || pk END
         |      WHEN 1 THEN CASE WHEN pk % 2 = 0 THEN 'CHEB_' || pk END
         |      END AS src_name,
         |    CASE WHEN sk % 4 <> 0 THEN 'ncbigene' ELSE 'uniprot' END
         |      AS dst_namespace,
         |    CASE WHEN sk % 4 <> 0 THEN CAST(sk + 200000 AS VARCHAR)
         |         ELSE 'Q' || sk END AS dst_identifier0,
         |    CASE WHEN sk % 4 <> 0 THEN 'G' || (sk + 200000)
         |         ELSE 'MNE_Q' || sk END AS dst_name
         |  FROM src
         |), disp AS (
         |  SELECT *,
         |    CASE WHEN ok % 14 IN (0, 1, 2) THEN 'increases'
         |         WHEN ok % 14 = 9 THEN 'association'
         |         WHEN ok % 14 = 10 THEN 'regulates'
         |         WHEN ok % 14 = 11 THEN 'binds'
         |         ELSE 'decreases' END AS relation,
         |    CASE WHEN ok % 14 IN (2, 3) THEN 'Gene'
         |         WHEN ok % 14 = 4 THEN 'Rna'
         |         ELSE 'Protein' END AS dst_function,
         |    CASE WHEN ok % 14 IN (3, 4) THEN src_identifier
         |         ELSE dst_identifier0 END AS dst_identifier,
         |    CASE WHEN ok % 14 = 2 THEN 'gmod'
         |         WHEN ok % 14 IN (0, 1, 6, 7, 8) THEN 'pmod' END AS v_kind,
         |    CASE WHEN ok % 14 IN (0, 8) THEN 'bel'
         |         WHEN ok % 14 IN (1, 2, 6, 7) THEN 'go' END AS v_ns,
         |    CASE ok % 14 WHEN 1 THEN '0003924' WHEN 2 THEN '0022616'
         |         WHEN 6 THEN '0016042' WHEN 7 THEN '0018256' END AS v_id,
         |    CASE ok % 14 WHEN 0 THEN 'Ph' WHEN 1 THEN 'GTPase activity'
         |         WHEN 2 THEN 'DNA strand elongation'
         |         WHEN 6 THEN 'lipid catabolic process'
         |         WHEN 7 THEN 'protein formylation'
         |         WHEN 8 THEN 'Ac' END AS v_name,
         |    CASE ok % 14 WHEN 1 THEN 'GTPase activity' END AS subj_name,
         |    CASE WHEN ok % 14 = 6 THEN 'activity' END AS obj_kind,
         |    CASE ok % 14
         |      WHEN 0 THEN '${g1Relations(0)}' WHEN 1 THEN '${g1Relations(1)}'
         |      WHEN 2 THEN '${g1Relations(2)}' WHEN 3 THEN '${g1Relations(3)}'
         |      WHEN 4 THEN '${g1Relations(4)}' WHEN 5 THEN '${g1Relations(5)}'
         |      WHEN 6 THEN '${g1Relations(6)}' WHEN 7 THEN '${g1Relations(7)}'
         |      WHEN 8 THEN '${g1Relations(8)}' WHEN 9 THEN '${g1Relations(9)}'
         |      WHEN 10 THEN '${g1Relations(10)}'
         |      WHEN 11 THEN '${g1Relations(11)}' END AS psi_mi,
         |    CASE WHEN ok % 3 IN (0, 1) THEN 'pubmed:' || ok
         |         ELSE 'database:intact' END AS citation
         |  FROM res
         |)
         |SELECT DISTINCT src_function, src_namespace, src_identifier,
         |  src_name, relation, dst_function, dst_namespace, dst_identifier,
         |  dst_name, v_kind, v_ns, v_id, v_name, citation,
         |  'From IntAct' AS evidence, subj_name, obj_kind, psi_mi,
         |  'psi-mi:"MI:0018"(two hybrid)' AS detection,
         |  'intact-miscore:0.' || (ok % 100) AS score
         |FROM disp
         |""".stripMargin),
    Gate("g1_intact_rejects", (s, d) => {
      val (_, rejects) = Intact.toBel(
        Intact.processed(intactSynthRaw(s, d), intactSynthMappings(s, d)))
      rejects.agg(count(lit(1)).as("n_rejects"))
    },
      ("SELECT count(*) AS n_rejects FROM lineitem " +
        "WHERE l_linenumber % 13 <> 0 AND l_orderkey % 14 = 13 " +
        "AND l_partkey % 7 NOT IN (5, 6)")),
    Gate("g1_unhandled_tally", (s, d) =>
      Intact.unhandledTally(intactSynthRaw(s, d)),
      ("SELECT 'genbank' AS prefix, count(*) AS n FROM lineitem " +
        "WHERE l_partkey % 7 = 6")),
    Gate("g2_biogrid_bel", (s, d) => {
      val raw = t(s, d, "orders").select(
        when(pmod(col("o_custkey"), lit(4)) === 0,
          concat(lit("ncbigene:"), col("o_custkey")))
          .when(pmod(col("o_custkey"), lit(4)) === 1,
            concat(lit("biogrid:"), col("o_custkey")))
          .when(pmod(col("o_custkey"), lit(4)) === 2, lit("uniprot:P0DTD2"))
          .otherwise(concat(lit("uniprot:QX"), col("o_custkey")))
          .as("interactor_a"),
        concat(lit("ncbigene:"), col("o_orderkey")).as("interactor_b"),
        caseOn(pmod(col("o_orderkey"), lit(3)), Seq(
          mi("0794", "synthetic genetic interaction defined by inequality"),
          mi("0915", "physical association"),
          mi("0407", "direct interaction"))).as("interaction_type"),
        concat(lit("pubmed:"), col("o_orderkey") + 10).as("publication"),
        lit("m").as("detection_method"), lit("biogrid").as("source_database"),
        lit("sc").as("confidence"))
      val mappings = Biogrid.Mappings(
        t(s, d, "customer").filter(pmod(col("c_custkey"), lit(3)) =!= 0)
          .select(col("c_custkey").cast("string").as("b"),
            (col("c_custkey") + 7000000).cast("string").as("n")))
      Biogrid.toBel(Biogrid.processed(raw, mappings)).select(
        "src_function", "src_identifier", "relation", "dst_identifier",
        "citation", "src", "dst")
    },
      """WITH r AS (
        |  SELECT
        |    CASE o_custkey % 4
        |      WHEN 0 THEN CAST(o_custkey AS VARCHAR)
        |      WHEN 1 THEN CASE WHEN o_custkey % 3 <> 0
        |                       THEN CAST(7000000 + o_custkey AS VARCHAR) END
        |      WHEN 2 THEN '1489679' END AS src_identifier,
        |    CAST(o_orderkey AS VARCHAR) AS dst_identifier,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'Gene' ELSE 'Protein' END
        |      AS src_function,
        |    CASE WHEN o_orderkey % 3 = 2 THEN 'binds' ELSE 'association' END
        |      AS relation,
        |    substr('pubmed:' || (o_orderkey + 10), 8, 1) AS citation
        |  FROM orders
        |)
        |SELECT DISTINCT src_function, src_identifier, relation,
        |  dst_identifier, citation,
        |  src_function || '(ncbigene:' || src_identifier || ')' AS src,
        |  src_function || '(ncbigene:' || dst_identifier || ')' AS dst
        |FROM r WHERE src_identifier IS NOT NULL
        |""".stripMargin),
    Gate("g3_tfregulons_bel", (s, d) => {
      val raw = t(s, d, "lineitem").select(
        concat(lit("TF"), col("l_suppkey")).as("tf_hgnc_symbol"),
        concat(lit("TG"), col("l_partkey")).as("target_hgnc_symbol"),
        (pmod(col("l_orderkey"), lit(3)) - 1).cast("int").as("effect"),
        caseOn(pmod(col("l_orderkey"), lit(5)),
          Seq("A", "B", "C", "D", "E")).as("score"),
        concat(col("l_orderkey"), lit(","), col("l_orderkey") + 1)
          .as("pmids"))
      val hgnc = t(s, d, "supplier")
        .filter(pmod(col("s_suppkey"), lit(10)) =!= 7)
        .select(concat(lit("TF"), col("s_suppkey")).as("sym"),
          concat(lit("H"), col("s_suppkey")).as("id"))
        .unionByName(t(s, d, "part")
          .filter(pmod(col("p_partkey"), lit(5)) =!= 0)
          .select(concat(lit("TG"), col("p_partkey")).as("sym"),
            concat(lit("HP"), col("p_partkey")).as("id")))
      Tfregulons.toBel(Tfregulons.processed(raw, hgnc))
        .select("src", "relation", "dst", "citation", "evidence")
    },
      """WITH f AS (
        |  SELECT l_suppkey sk, l_partkey pk, l_orderkey ok FROM lineitem
        |  WHERE (l_orderkey % 5) IN (0, 1, 2) AND l_suppkey % 10 <> 7
        |    AND l_partkey % 5 <> 0
        |), q AS (
        |  SELECT *,
        |    'Protein(hgnc:H' || sk || ' ! TF' || sk || ')' AS tfp,
        |    'Rna(hgnc:HP' || pk || ' ! TG' || pk || ')' AS tgtr,
        |    'Gene(hgnc:HP' || pk || ' ! TG' || pk || ')' AS tgtg,
        |    CASE WHEN ok % 3 = 2 THEN 'directlyIncreases'
        |         ELSE 'directlyDecreases' END AS drel,
        |    CASE WHEN ok % 3 = 2 THEN 'increases' ELSE 'decreases' END AS irel
        |  FROM f WHERE ok % 3 <> 1
        |), c AS (
        |  SELECT *, CAST(ok AS VARCHAR) AS cit FROM q
        |  UNION ALL SELECT *, CAST(ok + 1 AS VARCHAR) AS cit FROM q
        |)
        |SELECT DISTINCT 'complex(' || tfp || ', ' || tgtg || ')' AS src,
        |  drel AS relation, tgtr AS dst, cit AS citation,
        |  'From TFregulons' AS evidence FROM c
        |UNION
        |SELECT DISTINCT tfp, irel, tgtr, cit, 'From TFregulons' FROM c
        |UNION
        |SELECT DISTINCT tgtg, 'transcribedTo', tgtr,
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM q
        |""".stripMargin),
    Gate("g6_go_assoc", (s, d) => {
      val assoc = t(s, d, "customer").select(
        when(pmod(col("c_custkey"), lit(3)) === 2,
          concat(lit("MGI:"), col("c_custkey")))
          .otherwise(concat(lit("UniProtKB:P"), col("c_custkey")))
          .as("source_id"),
        col("c_name").as("source_name"),
        when(pmod(col("c_custkey"), lit(2)) === 0, "9606")
          .otherwise("10090").as("taxonomy_id"),
        concat(lit("GO:"), pmod(col("c_custkey"), lit(40))).as("target_id"),
        lit("lbl").as("target_label"), lit(false).as("negated"))
      val u2h = t(s, d, "customer")
        .filter(pmod(col("c_custkey"), lit(5)) =!= 0)
        .select(concat(lit("P"), col("c_custkey")).as("u"),
          concat(lit("H"), col("c_custkey")).as("h"))
      val h2n = t(s, d, "customer")
        .select(concat(lit("H"), col("c_custkey")).as("h"),
          concat(lit("N"), col("c_custkey")).as("n"))
      val goNames = s.range(0, 40).filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id").cast("string").as("g"),
          concat(lit("GOTERM_"), col("id")).as("nm"))
      Go.toBel(Go.processed(assoc, u2h, h2n), goNames)
        .select("src", "relation", "dst", "citation")
    },
      ("SELECT DISTINCT " +
        "'Protein(ncbigene:N' || c_custkey || ' ! ' || c_name || ')' AS src, " +
        "'association' AS relation, " +
        "'BiologicalProcess(go:' || (c_custkey % 40) || " +
        "CASE WHEN (c_custkey % 40) % 2 = 0 " +
        "THEN ' ! GOTERM_' || (c_custkey % 40) ELSE '' END || ')' AS dst, " +
        "'' AS citation FROM customer " +
        "WHERE c_custkey % 3 <> 2 AND c_custkey % 2 = 0 " +
        "AND c_custkey % 5 <> 0")),
    Gate("f8_hmdd_ground", (s, d) => {
      val raw = t(s, d, "part").select(
        when(pmod(col("p_partkey"), lit(4)) === 0,
          concat(lit("d "), col("p_partkey")))
          .when(pmod(col("p_partkey"), lit(4)) === 1,
            concat(col("p_partkey"), lit(", d")))
          .when(pmod(col("p_partkey"), lit(4)) === 2,
            concat(col("p_partkey"), lit(", b, c")))
          .otherwise(concat(lit("unknown"), col("p_partkey")))
          .as("disease"))
      val dict = t(s, d, "part")
        .filter(pmod(col("p_partkey"), lit(3)) =!= 0)
        .select(concat(lit("d "), col("p_partkey")).as("name"),
          lit("mondo").as("prefix"),
          col("p_partkey").cast("string").as("identifier"),
          concat(lit("L"), col("p_partkey")).as("label"))
        .unionByName(t(s, d, "part")
          .filter(pmod(col("p_partkey"), lit(4)) === 2)
          .select(concat(lit("c b "), col("p_partkey")).as("name"),
            lit("doid").as("prefix"),
            concat(lit("R"), col("p_partkey")).as("identifier"),
            concat(lit("L2_"), col("p_partkey")).as("label")))
      graft.sources.Hmdd.groundWithRetry(raw, dict)
    },
      """WITH raw AS (
        |  SELECT p_partkey AS pk,
        |    CASE pk % 4
        |      WHEN 0 THEN 'd ' || pk
        |      WHEN 1 THEN pk || ', d'
        |      WHEN 2 THEN pk || ', b, c'
        |      ELSE 'unknown' || pk END AS raw
        |  FROM part
        |)
        |SELECT raw,
        |  CASE WHEN pk % 4 IN (0, 1) AND pk % 3 <> 0 THEN 'mondo'
        |       WHEN pk % 4 = 2 THEN 'doid' END AS prefix,
        |  CASE WHEN pk % 4 IN (0, 1) AND pk % 3 <> 0
        |         THEN CAST(pk AS VARCHAR)
        |       WHEN pk % 4 = 2 THEN 'R' || pk END AS identifier,
        |  CASE WHEN pk % 4 IN (0, 1) AND pk % 3 <> 0 THEN 'L' || pk
        |       WHEN pk % 4 = 2 THEN 'L2_' || pk END AS label
        |FROM raw
        |""".stripMargin),
    Gate("g5_rhea", (s, d) => {
      val rxns = t(s, d, "orders")
        .select(pmod(col("o_orderkey"), lit(500)).cast("string")
          .as("reaction_id"))
        .distinct()
        .withColumn("equation", concat(lit("EQ_"), col("reaction_id")))
      val parts = t(s, d, "lineitem").select(
        pmod(col("l_orderkey"), lit(500)).cast("string").as("reaction_id"),
        when(pmod(col("l_linenumber"), lit(2)) === 0, "L").otherwise("R")
          .as("side"),
        concat(lit("c"), pmod(col("l_partkey"), lit(100)))
          .as("compound_name"),
        when(pmod(col("l_partkey"), lit(5)) === 0,
          lit(null).cast("string"))
          .otherwise(col("l_partkey").cast("string")).as("chebi_id"),
        when(pmod(col("l_partkey"), lit(3)) === 0,
          concat(lit("rp"), col("l_partkey")))
          .otherwise(lit(null).cast("string")).as("reactive_part"))
      graft.sources.Rhea.reactions(rxns, parts)
        .select(col("reaction_id"), col("name"),
          concat_ws("|", col("reactants")).as("reactants"),
          concat_ws("|", col("products")).as("products"))
    },
      """WITH parts AS (
        |  SELECT CAST(l_orderkey % 500 AS VARCHAR) AS rid,
        |    CASE WHEN l_linenumber % 2 = 0 THEN 'L' ELSE 'R' END AS side,
        |    'c' || (l_partkey % 100) AS compound,
        |    CASE WHEN l_partkey % 5 = 0 THEN NULL
        |         ELSE CAST(l_partkey AS VARCHAR) END AS chebi,
        |    CASE WHEN l_partkey % 3 = 0 THEN 'rp' || l_partkey END AS rp
        |  FROM lineitem
        |), nodes AS (
        |  SELECT rid, side, compound,
        |    CASE WHEN chebi IS NOT NULL THEN
        |      'a(chebi:' || chebi || ' ! ' || coalesce(rp, compound) || ')'
        |    END AS node
        |  FROM parts
        |), perc AS (
        |  SELECT rid, side, min(node) AS node FROM nodes
        |  GROUP BY rid, side, compound
        |  HAVING count(DISTINCT node) = 1
        |), perr AS (
        |  SELECT rid,
        |    array_to_string(list_sort(list(node) FILTER (side = 'L')), '|')
        |      AS reactants,
        |    array_to_string(list_sort(list(node) FILTER (side = 'R')), '|')
        |      AS products
        |  FROM perc GROUP BY rid
        |), rxns AS (
        |  SELECT DISTINCT CAST(o_orderkey % 500 AS VARCHAR) AS rid
        |  FROM orders
        |)
        |SELECT rxns.rid AS reaction_id, 'EQ_' || rxns.rid AS name,
        |  coalesce(reactants, '') AS reactants,
        |  coalesce(products, '') AS products
        |FROM rxns LEFT JOIN perr ON rxns.rid = perr.rid
        |""".stripMargin),
    Gate("g7_bel_edges", (s, d) => pq(s, d).toBelEdges("graft"),
      ("SELECT DISTINCT 'hgnc:' || s_name AS src, 'partOf' AS relation, " +
        "'graft:' || l_partkey AS dst FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey")),
    Gate("g8_edge_identity", (s, d) =>
      Graph.dedupEdges(belEdges(s, d)).agg(count(lit(1)).as("n_edges")),
      ("SELECT count(*) AS n_edges FROM (SELECT DISTINCT " +
        "'p:' || l_partkey, 's:' || l_suppkey, " +
        "'pubmed:' || (l_orderkey % 1000), l_returnflag FROM lineitem)")),

    // lshTopK is gated by s_lsh_recall (twin-recovery
    // recall vs brute force ≥ 0.95, oracle-checked) — the raw approximate
    // top-k had no oracle by construction.

    // --- Multimodal binary-column plumbing ---------------------------------
    Gate("mm_metadata", (s, d) =>
      graft.ops.Multimodal.metadata(
        graft.ops.Multimodal.withBinaryContent(t(s, d, "documents"))),
      ("SELECT doc_id, 'application/x-' || source AS mime, " +
        "octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5, " +
        "sha256(text) AS content_sha256, " +
        "CASE WHEN substring(text, 1, 1) = 't' THEN 't-class' " +
        "WHEN substring(text, 1, 1) = 'a' THEN 'a-class' " +
        "ELSE 'other' END AS sniffed FROM documents")),
    Gate("mm_frames", (s, d) =>
      graft.ops.Multimodal.frameSample(
        graft.ops.Multimodal.withBinaryContent(t(s, d, "documents")),
        frameBytes = 256, maxFrames = 4),
      // NOTE: this oracle frames by CHARACTERS (DuckDB cannot substring/md5
      // BLOBs) while the operator frames the utf-8 payload by BYTES. They
      // agree because the test corpus is pure ASCII at every sf (verified:
      // octet_length(encode(text)) == length(text) for all rows). A non-ASCII
      // corpus would need a byte-capable oracle engine.
      """WITH f AS (
        |  SELECT doc_id, text,
        |    least(CAST(ceil(length(text) / 256.0) AS INT), 4) AS nf
        |  FROM documents WHERE length(text) > 0
        |), ex AS (
        |  SELECT doc_id, text, CAST(unnest(range(nf)) AS INT) AS frame_idx
        |  FROM f
        |)
        |SELECT doc_id, frame_idx,
        |  length(substring(text, frame_idx * 256 + 1, 256)) AS frame_bytes,
        |  md5(substring(text, frame_idx * 256 + 1, 256)) AS frame_md5
        |FROM ex
        |""".stripMargin),
    // features are integer-valued; surfaced as a ';'-joined bigint string
    // (the oracle comparator cannot hash array cells).
    // MIXED corpus: odd doc_ids carry utf-8 text payloads (byte-stat
    // fallback features), even doc_ids carry REAL binary-PPM blobs that
    // must route through the magic-byte dispatch to the netpbm codec —
    // the oracle recomputes the pixel-derived features arithmetically,
    // so a dispatch or decode bug on either path breaks the hash.
    Gate("mm_features", (s, d) => {
      val docs = t(s, d, "documents")
      val textSide = graft.ops.Multimodal.withBinaryContent(
          docs.filter(col("doc_id") % 2 === 1))
        .select(col("doc_id"), col("content"))
      val ppmSide = graft.ops.Multimodal.ppmEncode(
        docs.filter(col("doc_id") % 2 === 0))
      graft.ops.Multimodal.decodeFeatures(textSide.unionByName(ppmSide))
        .select(col("doc_id"),
          concat_ws(";", transform(col("features"),
            x => x.cast("bigint").cast("string"))).as("features"))
    },
      """WITH txt AS (
        |  SELECT doc_id, array_to_string([CAST(length(text) AS BIGINT),
        |    CAST(ascii(substring(text, 1, 1)) AS BIGINT),
        |    CAST(ascii(substring(text, length(text), 1)) AS BIGINT),
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)],
        |    ';') AS features
        |  FROM documents WHERE doc_id % 2 = 1
        |), dims AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 2 = 0
        |), px AS (
        |  SELECT doc_id, w, h, CAST(unnest(range(w * h)) AS BIGINT) AS k
        |  FROM dims
        |), ppm AS (
        |  SELECT doc_id, array_to_string([CAST(max(w) AS BIGINT),
        |    CAST(max(h) AS BIGINT),
        |    CAST(sum((doc_id * 31 + k * 7) % 256)
        |       + sum((doc_id * 31 + k * 7 + 53) % 256)
        |       + sum((doc_id * 31 + k * 7 + 106) % 256) AS BIGINT),
        |    CAST(max(w) * max(h) AS BIGINT)], ';') AS features
        |  FROM px GROUP BY doc_id
        |)
        |SELECT doc_id, features FROM txt
        |UNION ALL SELECT doc_id, features FROM ppm
        |""".stripMargin),
    Gate("g4_pid_bel", (s, d) =>
      graft.sources.Pid.toBel(
        cxEdges(s, d), cxEdgeAttributes(s, d),
        graft.sources.Pid.resolveNodes(cxNodes(s, d), cxNodeAttributes(s, d),
          cxHgnc(s, d), cxChebi(s, d)),
        networkUuid = "test-uuid"),
      """WITH hgnc AS (
        |  SELECT 'S' || p_partkey AS sym, 'H' || p_partkey AS hid
        |  FROM part WHERE p_partkey % 3 <> 0
        |), chebi AS (
        |  SELECT CAST(p_partkey AS VARCHAR) AS k, 'CH' || p_partkey AS nm
        |  FROM part WHERE p_partkey % 2 = 0
        |), fam_m AS (
        |  SELECT p_partkey AS node_id,
        |    unnest(['S' || p_partkey, 'S' || (p_partkey + 1)]) AS m
        |  FROM part WHERE p_partkey % 5 = 3
        |), fam AS (
        |  SELECT node_id, list_sort(list(DISTINCT
        |    'Protein(hgnc:' || hid || ' ! ' || m || ')')) AS terms
        |  FROM fam_m JOIN hgnc ON m = sym GROUP BY node_id
        |), plain AS (
        |  SELECT p_partkey AS node_id,
        |    CASE
        |      WHEN p_partkey % 5 = 0 THEN ['Protein(fplx:RAS)']
        |      WHEN p_partkey % 5 = 1 THEN ['Abundance(chebi:' || p_partkey
        |        || coalesce(' ! ' || nm, '') || ')']
        |      WHEN p_partkey % 5 = 2 THEN ['Protein(hgnc:U' || p_partkey
        |        || ' ! L' || p_partkey || ')']
        |    END AS terms
        |  FROM part LEFT JOIN chebi ON CAST(p_partkey AS VARCHAR) = k
        |  WHERE p_partkey % 5 IN (0, 1, 2)
        |), terms AS (
        |  SELECT * FROM plain UNION ALL SELECT * FROM fam
        |), e AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS edge_id,
        |    l_partkey AS s, l_suppkey AS t,
        |    CASE l_orderkey % 4 WHEN 0 THEN 'in-complex-with'
        |      WHEN 1 THEN 'controls-phosphorylation-of'
        |      WHEN 2 THEN 'chemical-affects' ELSE 'bogus-type' END
        |      AS interaction,
        |    CASE WHEN l_orderkey % 3 = 0
        |      THEN [CAST(l_orderkey AS VARCHAR),
        |            CAST(l_orderkey + 1 AS VARCHAR)]
        |      ELSE ['ndex:test-uuid'] END AS cits
        |  FROM lineitem
        |), joined AS (
        |  SELECT e.edge_id, e.interaction,
        |    CASE WHEN e.interaction = 'in-complex-with' THEN 'binds'
        |         ELSE 'regulates' END AS relation,
        |    st.terms AS src_terms, tt.terms AS dst_terms, e.cits
        |  FROM e
        |  JOIN terms st ON e.s = st.node_id
        |  JOIN terms tt ON e.t = tt.node_id
        |  WHERE e.interaction <> 'bogus-type'
        |), ex1 AS (
        |  SELECT edge_id, interaction, relation, unnest(src_terms) AS src,
        |    dst_terms, cits FROM joined
        |), ex2 AS (
        |  SELECT edge_id, interaction, relation, src,
        |    unnest(dst_terms) AS dst, cits FROM ex1
        |), ex3 AS (
        |  SELECT edge_id, interaction, relation, src, dst,
        |    unnest(cits) AS citation FROM ex2
        |)
        |SELECT DISTINCT src, relation,
        |  CASE WHEN interaction = 'controls-phosphorylation-of'
        |    THEN regexp_replace(dst, '\)$', ', pmod(Ph))') ELSE dst END
        |    AS dst,
        |  citation, CAST(edge_id AS VARCHAR) AS evidence,
        |  CASE WHEN interaction = 'chemical-affects' THEN 'activity' END
        |    AS object_modifier
        |FROM ex3
        |""".stripMargin),

    Gate("s11_obo_terms", (s, d) => {
      val (terms, _) = graft.etl.Obo.parse(oboText(s, d))
      import s.implicits._
      terms.toDF()
    },
      ("SELECT 'GR:' || n_nationkey AS term_id, n_name AS name, " +
        "'nation' AS namespace, n_nationkey % 7 = 3 AS obsolete FROM nation")),
    Gate("s11_obo_edges", (s, d) => {
      val (_, edges) = graft.etl.Obo.parse(oboText(s, d))
      import s.implicits._
      edges.toDF()
    },
      ("SELECT 'GR:' || n_nationkey AS child_id, 'is_a' AS relation, " +
        "'GR:R' || n_regionkey AS parent_id FROM nation " +
        "UNION ALL " +
        "SELECT 'GR:' || n_nationkey, 'part_of', 'GR:R' || n_regionkey " +
        "FROM nation WHERE n_nationkey % 2 = 0")),

    // K9 + S17 round-trip: export triples TSV with the real sink, then
    // scan it back with the real 3-col reader.
    Gate("s17_triples", (s, d) => {
      val edges = t(s, d, "lineitem").select(
        concat(lit("p:"), col("l_partkey")).as("src"),
        lit("interacts").as("relation"),
        concat(lit("s:"), col("l_suppkey")).as("dst")).distinct()
      val dir = s"/tmp/graft_triples_${new java.io.File(d).getName}"
      Exporters.triples(edges, dir)
      s.read.option("sep", "\t")
        .schema("head STRING, relation STRING, tail STRING").csv(dir)
    },
      ("SELECT DISTINCT 'p:' || l_partkey AS head, " +
        "'interacts' AS relation, 's:' || l_suppkey AS tail FROM lineitem")),

    Gate("s10_circrna_scan", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey").as("circrna_id"),
        concat(lit("G"), col("o_custkey")).as("gene_symbol"),
        lit("human").as("species"),
        col("o_orderstatus").as("disease"),
        col("o_orderpriority").as("method"),
        concat(lit("PMID:"), col("o_orderkey")).as("pmid"),
        year(col("o_orderdate")).as("pub_year"),
        col("o_totalprice").as("expression_score"))
        .na.drop(),
      ("SELECT o_orderkey AS circrna_id, 'G' || o_custkey AS gene_symbol, " +
        "'human' AS species, o_orderstatus AS disease, " +
        "o_orderpriority AS method, 'PMID:' || o_orderkey AS pmid, " +
        "CAST(year(o_orderdate) AS INT) AS pub_year, " +
        "o_totalprice AS expression_score FROM orders")),

    // K3: .belns file content (header + sorted name|encoding lines), via
    // the real writer, surfaced as one row per line.
    Gate("k3_belns_lines", (s, d) => {
      val models = t(s, d, "supplier").select(
        concat(lit("I"), col("s_suppkey")).as("identifier"),
        col("s_name").as("name"), lit("GRP").as("encoding"))
      val spec = NamespaceSpec("graft", "graft", "GRAFT", "_GRAFT")
      val content = NamespaceFiles.belns(spec, models, useNames = true)
      import s.implicits._
      content.stripSuffix("\n").split("\n", -1).toSeq.toDF("line")
    },
      ("SELECT unnest(['[Namespace]', 'Keyword=GRAFT', 'NameString=graft', " +
        "'QueryValueURL=_GRAFT', '', '[Values]']) AS line " +
        "UNION ALL SELECT s_name || '|GRP' FROM supplier")),

    // K10: gene-set TSV export shape — exploded (identifier, symbol).
    Gate("k10_gene_sets_tsv", (s, d) =>
      new PathwayQueries(pathwayStore(s, d)).geneSets()
        .select(col("identifier"),
          explode(col("gene_set")).as("hgnc_symbol")),
      ("SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS identifier, " +
        "s_name AS hgnc_symbol FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey")),

    // --- S6: IntAct MITAB — real reader incl. nullValue '-' ---------------
    Gate("s6_intact_mitab", (s, d) => {
      val k = col("s_suppkey")
      val body = lines(t(s, d, "supplier").select(concat_ws("\t",
        concat(lit("uniprotkb:P"), k),
        concat(lit("intact:EBI-"), k),
        lit("psi-mi:\"MI:0915\"(physical association)"),
        concat(lit("pubmed:"), k),
        lit("psi-mi:\"MI:0084\"(phage display)"),
        lit("psi-mi:\"MI:0469\"(IntAct)"),
        when(pmod(k, lit(5)) === 0, lit("-"))
          .otherwise(concat(lit("intact-miscore:0."), pmod(k, lit(10))))
      ).as("l")))
      val header = "interactor_a\tinteractor_b\tinteraction_type\t" +
        "publication\tdetection_method\tsource_database\tconfidence"
      val path = writeText(s"/tmp/graft_s6_${sfTag(d)}.tsv",
        (header +: body).mkString("", "\n", "\n"))
      graft.sources.Intact.readMitab(s, path)
    },
      """SELECT 'uniprotkb:P' || s_suppkey AS interactor_a,
        |  'intact:EBI-' || s_suppkey AS interactor_b,
        |  'psi-mi:"MI:0915"(physical association)' AS interaction_type,
        |  'pubmed:' || s_suppkey AS publication,
        |  'psi-mi:"MI:0084"(phage display)' AS detection_method,
        |  'psi-mi:"MI:0469"(IntAct)' AS source_database,
        |  CASE WHEN s_suppkey % 5 = 0 THEN NULL
        |    ELSE 'intact-miscore:0.' || (s_suppkey % 10) END AS confidence
        |FROM supplier
        |""".stripMargin),

    // --- S7: BioGRID MITAB — no nullValue, '-' stays literal --------------
    Gate("s7_biogrid_mitab", (s, d) => {
      val k = col("c_custkey")
      val body = lines(t(s, d, "customer").select(concat_ws("\t",
        concat(lit("entrez gene/locuslink:"), k),
        concat(lit("entrez gene/locuslink:"), k + 7),
        lit("psi-mi:\"MI:0407\"(direct interaction)"),
        concat(lit("pubmed:"), pmod(k, lit(1000))),
        lit("psi-mi:\"MI:0018\"(two hybrid)"),
        lit("psi-mi:\"MI:0463\"(biogrid)"),
        lit("-")
      ).as("l")))
      val header = "interactor_a\tinteractor_b\tinteraction_type\t" +
        "publication\tdetection_method\tsource_database\tconfidence"
      val path = writeText(s"/tmp/graft_s7_${sfTag(d)}.tsv",
        (header +: body).mkString("", "\n", "\n"))
      graft.sources.Biogrid.readMitab(s, path)
    },
      """SELECT 'entrez gene/locuslink:' || c_custkey AS interactor_a,
        |  'entrez gene/locuslink:' || (c_custkey + 7) AS interactor_b,
        |  'psi-mi:"MI:0407"(direct interaction)' AS interaction_type,
        |  'pubmed:' || (c_custkey % 1000) AS publication,
        |  'psi-mi:"MI:0018"(two hybrid)' AS detection_method,
        |  'psi-mi:"MI:0463"(biogrid)' AS source_database,
        |  '-' AS confidence
        |FROM customer
        |""".stripMargin),

    // --- S8: TFregulons CSV — quoted pmids field, int effect --------------
    Gate("s8_tfregulons_csv", (s, d) => {
      val k = col("s_suppkey")
      val body = lines(t(s, d, "supplier").select(concat_ws(",",
        concat(lit("TF"), k),
        concat(lit("TG"), k),
        pmod(k, lit(3)) - 1,
        when(pmod(k, lit(4)) === 0, "A").when(pmod(k, lit(4)) === 1, "B")
          .when(pmod(k, lit(4)) === 2, "C").otherwise("D"),
        concat(lit("\""), k, lit(","), k + 1, lit("\""))
      ).as("l")))
      val path = writeText(s"/tmp/graft_s8_${sfTag(d)}.csv",
        ("tf,target,effect,score,pmids" +: body).mkString("", "\n", "\n"))
      graft.sources.Tfregulons.readCsv(s, path)
    },
      ("SELECT 'TF' || s_suppkey AS tf_hgnc_symbol, " +
        "'TG' || s_suppkey AS target_hgnc_symbol, " +
        "CAST(s_suppkey % 3 - 1 AS INT) AS effect, " +
        "CASE s_suppkey % 4 WHEN 0 THEN 'A' WHEN 1 THEN 'B' " +
        "WHEN 2 THEN 'C' ELSE 'D' END AS score, " +
        "s_suppkey || ',' || (s_suppkey + 1) AS pmids FROM supplier")),

    // --- S9: HMDD TSV — latin-1 bytes decoded by the reader ---------------
    Gate("s9_hmdd_tsv", (s, d) => {
      val k = col("n_nationkey")
      val body = lines(t(s, d, "nation").select(concat_ws("\t",
        lit("circulation"),
        concat(lit("hsa-mir-"), k),
        col("n_name"),
        k * 10,
        concat(lit("Désc "), k) // é = 0xE9 in ISO-8859-1
      ).as("l")))
      val path = writeText(s"/tmp/graft_s9_${sfTag(d)}.tsv",
        ("category\tmir\tdisease\tpmid\tdescription" +: body)
          .mkString("", "\n", "\n"),
        StandardCharsets.ISO_8859_1)
      graft.sources.Hmdd.readTsv(s, path)
    },
      ("SELECT 'circulation' AS category, " +
        "'hsa-mir-' || n_nationkey AS mir, n_name AS disease, " +
        "CAST(n_nationkey * 10 AS VARCHAR) AS pmid, " +
        "'Désc ' || n_nationkey AS description FROM nation")),

    // --- S4: zipped-CSV landing — member extract then schema'd scan -------
    Gate("s4_zip_csv", (s, d) => {
      val body = lines(t(s, d, "region").select(
        concat_ws(",", col("r_regionkey"), col("r_name")).as("l")))
      val zip = s"/tmp/graft_s4_${sfTag(d)}.zip"
      val extract = s"/tmp/graft_s4_extract_${sfTag(d)}.csv"
      writeZip(zip, "data/regions.csv",
        ("region_id,region_name" +: body).mkString("", "\n", "\n"))
      rmrf(s, extract) // re-exercise the extraction every run
      graft.etl.Readers.zippedCsv(s, zip, "data/regions.csv", extract,
        StructType(Seq(StructField("region_id", IntegerType),
          StructField("region_name", StringType))))
    },
      ("SELECT CAST(r_regionkey AS INT) AS region_id, " +
        "r_name AS region_name FROM region")),

    // --- J5: enrich pathway nodes already in a graph ----------------------
    Gate("j5_graph_enrich", (s, d) => {
      val k = col("p_partkey")
      val graphNodes = t(s, d, "part").select(
        when(pmod(k, lit(3)) === 0, lit("GRAFT")).otherwise(lit("other"))
          .as("namespace"),
        when(pmod(k, lit(7)) === 1, lit(null).cast("string"))
          .otherwise(k.cast("string")).as("identifier"))
      pq(s, d).enrichPathways(graphNodes, "graft")
    },
      ("SELECT DISTINCT 'hgnc:' || s_name AS src, 'partOf' AS relation, " +
        "'graft:' || l_partkey AS dst FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE l_partkey % 3 = 0 AND l_partkey % 7 <> 1")),

    // --- J6: enrich pathways containing the graph's proteins --------------
    Gate("j6_protein_enrich", (s, d) => {
      val ids = t(s, d, "supplier")
        .filter(pmod(col("s_suppkey"), lit(4)) === 2)
        .select(concat(lit("HGNC:"), col("s_suppkey")).as("hgnc_id"))
      pq(s, d).enrichProteins(ids, "graft")
    },
      ("SELECT DISTINCT 'hgnc:' || s_name AS src, 'partOf' AS relation, " +
        "'graft:' || l_partkey AS dst FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE l_partkey IN (SELECT DISTINCT l_partkey FROM lineitem " +
        "WHERE l_suppkey % 4 = 2)")),

    // --- K4: annotation file lines (real writer) --------------------------
    Gate("k4_annotation_lines", (s, d) => {
      val content =
        NamespaceFiles.annotation(graftSpec, supplierModels(s, d))
      import s.implicits._
      content.stripSuffix("\n").split("\n", -1).toSeq.toDF("line")
    },
      ("SELECT unnest(['[AnnotationDefinition]', 'Keyword=GRAFT', " +
        "'DescriptionString=graft', '', '[Values]']) AS line " +
        "UNION ALL SELECT s_name || '|GRP' FROM supplier")),

    // --- K5: identifier→name mapping JSON lines (real writer) -------------
    Gate("k5_mapping_lines", (s, d) => {
      val content = NamespaceFiles.mappingJson(supplierModels(s, d))
      import s.implicits._
      content.split("\n", -1).toSeq.toDF("line")
    },
      """WITH m AS (
        |  SELECT 'I' || s_suppkey AS id, s_name AS name FROM supplier
        |), mm AS (
        |  SELECT id, name, row_number() OVER (ORDER BY id DESC) AS rn
        |  FROM m
        |)
        |SELECT '  "' || id || '": "' || name || '"' ||
        |  CASE WHEN rn = 1 THEN '' ELSE ',' END AS line FROM mm
        |UNION ALL SELECT unnest(['{', '}']) AS line
        |""".stripMargin),

    // --- K6: md5-guarded directory export — write then skip ---------------
    Gate("k6_md5_guard", (s, d) => {
      val dir = s"/tmp/graft_k6_${sfTag(d)}"
      rmrf(s, dir)
      val store = new NamespaceStore(s, s"$dir/store")
      val models = supplierModels(s, d)
      val first = NamespaceFiles.writeDirectory(store, graftSpec, models, dir)
      val second = NamespaceFiles.writeDirectory(store, graftSpec, models, dir)
      import s.implicits._
      Seq((first, second)).toDF("first_write", "second_write")
    },
      "SELECT true AS first_write, false AS second_write"),

    // --- K12: namespace store round-trip: make → update → drop ------------
    Gate("k12_ns_roundtrip", (s, d) => {
      val base = s"/tmp/graft_nsstore_${sfTag(d)}"
      rmrf(s, base)
      val store = new NamespaceStore(s, base,
        clock = () => "2026-01-01T00:00:00Z")
      val k = col("s_suppkey")
      // make: even keys only
      store.upload(graftSpec,
        supplierModels(s, d).filter(pmod(k, lit(2)) === 0))
      // update: full batch, null names skipped; anti-join adds odd keys
      // whose key % 7 != 0
      store.upload(graftSpec,
        t(s, d, "supplier").select(
          concat(lit("I"), k).as("identifier"),
          when(pmod(k, lit(7)) === 0, lit(null).cast("string"))
            .otherwise(col("s_name")).as("name"),
          lit("GRP").as("encoding")),
        doUpdate = true)
      // a second namespace made then dropped — must not leak into the
      // output (exercises drop's rewrite-without)
      val other = NamespaceSpec.forModule("other")
      store.upload(other, supplierModels(s, d).limit(3))
      store.drop(other)
      store.entries(graftSpec.url).select("identifier", "name", "encoding")
    },
      ("SELECT 'I' || s_suppkey AS identifier, s_name AS name, " +
        "'GRP' AS encoding FROM supplier " +
        "WHERE s_suppkey % 2 = 0 OR s_suppkey % 7 <> 0")),

    // --- G6 subhierarchy: is_a/part_of edges (go.py:108-122) --------------
    Gate("g6_go_hierarchy", (s, d) => {
      val k = col("n_nationkey")
      val hierarchy = t(s, d, "nation").select(
        lit("go").as("child_prefix"),
        concat(lit("C"), k).as("child_id"),
        col("n_name").as("child_name"),
        lit("go").as("parent_prefix"),
        concat(lit("P"), col("n_regionkey")).as("parent_id"),
        concat(lit("R"), col("n_regionkey")).as("parent_name"),
        when(pmod(k, lit(3)) === 0, "is_a")
          .when(pmod(k, lit(3)) === 1, "part_of")
          .otherwise("regulates").as("relation"))
      graft.sources.Go.hierarchyToBel(hierarchy)
    },
      ("SELECT DISTINCT 'BiologicalProcess(go:C' || n_nationkey || ' ! ' " +
        "|| n_name || ')' AS src, " +
        "CASE WHEN n_nationkey % 3 = 0 THEN 'isA' ELSE 'partOf' END " +
        "AS relation, " +
        "'BiologicalProcess(go:P' || n_regionkey || ' ! R' || n_regionkey " +
        "|| ')' AS dst FROM nation WHERE n_nationkey % 3 IN (0, 1)")),

    // --- HMDD full miRNA→disease edge build (hmdd.py:70-101) --------------
    Gate("g9_hmdd_bel", (s, d) => {
      val k = col("p_partkey")
      val raw = t(s, d, "part").select(
        lit("circulation").as("category"),
        when(pmod(k, lit(2)) === 0, concat(lit("hsa-mir-"), k))
          .otherwise(concat(lit("mirX"), k)).as("mir"),
        when(pmod(k, lit(4)) === 0, concat(lit("d "), k))
          .when(pmod(k, lit(4)) === 1, concat(k, lit(", d")))
          .when(pmod(k, lit(4)) === 2, concat(k, lit(", b, c")))
          .otherwise(concat(lit("unknown"), k)).as("disease"),
        k.cast("string").as("pmid"),
        concat(lit("desc "), k).as("description"))
      val mirbase = t(s, d, "part").filter(pmod(k, lit(3)) =!= 1)
        .select(concat(lit("hsa-mir-"), k).as("name"),
          lit("mirbase").as("prefix"),
          concat(lit("MI"), k).as("identifier"),
          concat(lit("hsa-mir-"), k).as("label"))
      val diseaseDict = t(s, d, "part").filter(pmod(k, lit(3)) =!= 0)
        .select(concat(lit("d "), k).as("name"),
          lit("mondo").as("prefix"),
          k.cast("string").as("identifier"),
          concat(lit("L"), k).as("label"))
        .unionByName(t(s, d, "part").filter(pmod(k, lit(4)) === 2)
          .select(concat(lit("c b "), k).as("name"),
            lit("doid").as("prefix"),
            concat(lit("R"), k).as("identifier"),
            concat(lit("L2_"), k).as("label")))
      graft.sources.Hmdd.toBel(raw, mirbase, diseaseDict)
        .select("src", "relation", "dst", "citation", "evidence")
    },
      """SELECT DISTINCT
        |  'MicroRna(mirbase:MI' || p_partkey || ' ! hsa-mir-' || p_partkey
        |    || ')' AS src,
        |  'regulates' AS relation,
        |  CASE WHEN p_partkey % 4 = 0
        |    THEN 'Pathology(mondo:' || p_partkey || ' ! L' || p_partkey
        |      || ')'
        |    ELSE 'Pathology(doid:R' || p_partkey || ' ! L2_' || p_partkey
        |      || ')' END AS dst,
        |  'pubmed:' || p_partkey AS citation,
        |  'desc ' || p_partkey AS evidence
        |FROM part
        |WHERE p_partkey % 2 = 0 AND p_partkey % 3 <> 1
        |  AND ((p_partkey % 4 = 0 AND p_partkey % 3 <> 0)
        |    OR p_partkey % 4 = 2)
        |""".stripMargin),

    // --- K7: nodelink dump — real writer, then read the JSON back --------
    Gate("k7_nodelink", (s, d) => {
      val edges = t(s, d, "lineitem").select(
        concat(lit("p:"), col("l_partkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"),
        lit("interacts").as("relation")).distinct()
      val dir = s"/tmp/graft_k7_${sfTag(d)}"
      rmrf(s, dir)
      graft.bel.Exporters.nodelink(edges, dir)
      val nodes = s.read
        .schema(StructType(Seq(StructField("id", StringType))))
        .json(s"$dir/nodes")
        .select(lit("node").as("kind"), col("id").as("a"),
          lit("").as("b"), lit("").as("rel"))
      val links = s.read
        .schema(StructType(Seq(StructField("source", StringType),
          StructField("target", StringType),
          StructField("relation", StringType))))
        .json(s"$dir/links")
        .select(lit("link").as("kind"), col("source").as("a"),
          col("target").as("b"), col("relation").as("rel"))
      nodes.unionByName(links)
    },
      """WITH edges AS (
        |  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        |  FROM lineitem
        |)
        |SELECT 'node' AS kind, node AS a, '' AS b, '' AS rel FROM (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))
        |UNION ALL
        |SELECT 'link' AS kind, src AS a, dst AS b, 'interacts' AS rel
        |FROM edges
        |""".stripMargin),

    // --- S3: schema'd CSV scan — non-default sep + nullValue --------------
    Gate("s3_csv_reader", (s, d) => {
      val body = lines(t(s, d, "nation").select(concat_ws(";",
        col("n_nationkey"), col("n_name"),
        when(col("n_regionkey") === 0, "NA").otherwise(col("n_regionkey"))
      ).as("l")))
      val path = writeText(s"/tmp/graft_s3_${sfTag(d)}.csv",
        ("k;name;region" +: body).mkString("", "\n", "\n"))
      graft.etl.Readers.csv(s, path,
        StructType(Seq(StructField("k", IntegerType),
          StructField("name", StringType),
          StructField("region", StringType))),
        sep = ";", nullValue = "NA")
    },
      ("SELECT CAST(n_nationkey AS INT) AS k, n_name AS name, " +
        "CASE WHEN n_regionkey = 0 THEN NULL " +
        "ELSE CAST(n_regionkey AS VARCHAR) END AS region FROM nation")),

    // --- S5: schema'd JSON-lines scan -------------------------------------
    Gate("s5_json_reader", (s, d) => {
      val body = lines(t(s, d, "region").select(concat(
        lit("{\"rid\":"), col("r_regionkey"),
        lit(",\"rname\":\""), col("r_name"), lit("\"}")).as("l")))
      val path = writeText(s"/tmp/graft_s5_${sfTag(d)}.json",
        body.mkString("", "\n", "\n"))
      graft.etl.Readers.json(s, path,
        StructType(Seq(StructField("rid", LongType),
          StructField("rname", StringType))))
    },
      ("SELECT CAST(r_regionkey AS BIGINT) AS rid, r_name AS rname " +
        "FROM region")),

    // --- S1/S2 + S18: landing-cache and derived-artifact contracts --------
    Gate("s1_s18_cache", (s, d) => {
      val dir = s"/tmp/graft_s1_${sfTag(d)}"
      rmrf(s, dir)
      var fetches = 0
      val landing = s"$dir/landed.txt"
      def fetch(p: String): Unit = { fetches += 1; writeText(p, "payload"); () }
      val first = graft.etl.Readers.ensureLanded(s, landing, fetch)
      val second = graft.etl.Readers.ensureLanded(s, landing, fetch)
      var builds = 0
      val artifact = s"$dir/artifact"
      def build(): DataFrame = {
        builds += 1
        t(s, d, "region").select(col("r_regionkey"))
      }
      val n1 = graft.etl.Readers.cachedOrBuild(s, artifact)(() => build()).count()
      val n2 = graft.etl.Readers.cachedOrBuild(s, artifact)(() => build()).count()
      import s.implicits._
      Seq((first, second, fetches, builds, n1 == n2))
        .toDF("first_fetch", "second_fetch", "n_fetches", "n_builds",
          "stable_rows")
    },
      ("SELECT true AS first_fetch, false AS second_fetch, " +
        "CAST(1 AS INT) AS n_fetches, CAST(1 AS INT) AS n_builds, " +
        "true AS stable_rows")),

    // --- K13: ER diagram from StructType metadata -------------------------
    Gate("k13_er_diagram", (s, d) => {
      val store = pathwayStore(s, d)
      import graft.bel.Exporters.ErRelation
      val text = graft.bel.Exporters.erDiagram(
        Seq("pathway" -> store.pathways.schema,
          "protein" -> store.proteins.schema,
          "membership" -> store.membership.schema),
        Seq(ErRelation("membership", "pathway_id", "pathway", "pathway_id"),
          ErRelation("membership", "protein_id", "protein", "protein_id")),
        Map("pathway" -> "pathway_id", "protein" -> "protein_id"))
      import s.implicits._
      text.stripSuffix("\n").split("\n", -1).toSeq
        .zipWithIndex.map { case (l, i) => (i, l) }.toDF("lineno", "line")
    },
      {
      val lines = Seq(
        "[membership]",
        "  pathway_id {label:\"bigint\"}",
        "  protein_id {label:\"bigint\"}",
        "",
        "[pathway]",
        "  *pathway_id {label:\"bigint\"}",
        "  identifier {label:\"string\"}",
        "  name {label:\"string\"}",
        "",
        "[protein]",
        "  *protein_id {label:\"bigint\"}",
        "  hgnc_id {label:\"string\"}",
        "  hgnc_symbol {label:\"string\"}",
        "",
        "pathway 1--* membership",
        "",
        "protein 1--* membership")
      lines.zipWithIndex
        .map { case (l, i) => s"(${i}, '${l.replace("'", "''")}')" }
        .mkString(
          "SELECT CAST(i AS INT) AS lineno, l AS line FROM (VALUES ",
          ", ", ") t(i, l)")
    }),

    // --- Real multimodal codec: binary-PPM decode gate --------------------
    // ppmEncode builds REAL netpbm P6 blobs whose pixels are a pure
    // function of doc_id; decodePpm then parses the actual format (magic,
    // comment line, dimensions, maxval, raster) inside the batched
    // mapPartitions. The oracle recomputes the expected per-channel sums
    // arithmetically, never seeing the bytes — a header-offset or
    // channel-interleave bug in the decoder breaks the hash.
    Gate("mm_decode_ppm", (s, d) =>
      graft.ops.Multimodal.decodePpm(
        graft.ops.Multimodal.ppmEncode(t(s, d, "documents"))),
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, CAST(unnest(range(w * h)) AS BIGINT) AS k
        |  FROM dims
        |)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sum((doc_id * 31 + k * 7) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((doc_id * 31 + k * 7 + 53) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((doc_id * 31 + k * 7 + 106) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3
        |""".stripMargin),

    // --- PPM corrupt-blob side output ---------------------------------------
    // Every 7th blob gets its magic overwritten, every 7th+1 loses its
    // raster tail; the reject stream must carry exactly those doc_ids with
    // the stable reason codes the oracle predicts, and no clean row may
    // leak into it.
    Gate("mm_decode_rejects", (s, d) => {
      import graft.ops.Multimodal
      val blobs = Multimodal.ppmEncode(t(s, d, "documents"))
      val corrupted = blobs.withColumn("content",
        when(col("doc_id") % 7 === 0,
          concat(lit("X".getBytes("US-ASCII")),
            col("content").substr(lit(2), length(col("content")))))
          .when(col("doc_id") % 7 === 1,
            col("content").substr(lit(1), length(col("content")) - 10))
          .otherwise(col("content")))
      Multimodal.decodePpmRejects(corrupted)
    },
      ("SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'bad_magic' " +
        "ELSE 'truncated' END AS reason FROM documents WHERE doc_id % 7 <= 1")),

    // --- Real PPM downscale, verified through the real decoder --------------
    // resize -> decode composition over real P6 bytes: nearest-neighbor
    // 2x subsampling keeps pixels at even (row, col), so the oracle can
    // recompute the resized image's per-channel sums arithmetically from
    // the pixel formula — a header re-encode or stride bug breaks the
    // hash.
    Gate("mm_resize_ppm", (s, d) =>
      graft.ops.Multimodal.decodePpm(
        graft.ops.Multimodal.resizePpm(
          graft.ops.Multimodal.ppmEncode(t(s, d, "documents")), factor = 2)),
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, CAST(unnest(range(w * h)) AS BIGINT) AS k
        |  FROM dims
        |), kept AS (
        |  SELECT doc_id,
        |    CAST((w + 1) // 2 AS INT) AS width,
        |    CAST((h + 1) // 2 AS INT) AS height,
        |    doc_id * 31 + k * 7 AS base
        |  FROM px WHERE (k % w) % 2 = 0 AND (k // w) % 2 = 0
        |)
        |SELECT doc_id, width, height,
        |  CAST(sum(base % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((base + 53) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((base + 106) % 256) AS BIGINT) AS sum_b
        |FROM kept GROUP BY 1, 2, 3
        |""".stripMargin),

    // --- Perceptual image near-dup pairs (dHash through the real decoder) ---
    // Image-dataset dedup: synthetic P6 corpus + exact-duplicate twins
    // under shifted ids; every planted twin must pair at Hamming 0 (the
    // banding is pigeonhole-complete), everything emitted must sit within
    // the radius, and the pair set must be non-vacuous. Hash values are
    // engine-internal, so the gate is a hard boolean invariant — the
    // d_simhash_pairs discipline. The corpus is CAPPED at 500 base
    // images: the synthetic generator's image space is tiny (4-8 × 3-6
    // px), so at larger corpora thousands of documents collapse onto the
    // same hash and the identical-hash groups make the PAIR SET itself
    // quadratic — a property of the synthetic corpus, not the operator;
    // the invariants under test are size-independent.
    Gate("mm_dhash_pairs", (s, d) => {
      val ids = graft.core.Tables.load(s, d, "documents")
        .select(col("doc_id"))
        .filter(col("doc_id") < 500)
      val base = graft.ops.Multimodal.ppmEncode(ids)
      val twins = base.select((col("doc_id") + 2000000L).as("doc_id"),
        col("content"))
      val pairs = graft.ops.Multimodal.imageNearDupPairs(
        base.unionByName(twins), maxHamming = 2)
      pairs.agg(
        sum(when(col("id_b") === col("id_a") + 2000000L &&
          col("hamming") === 0, 1L).otherwise(0L)).as("planted0"),
        max("hamming").as("maxham"),
        count(lit(1)).as("n_pairs"))
        .crossJoin(ids.agg(count(lit(1)).as("n_docs")))
        .select(
          (col("planted0") === col("n_docs")).as("planted_all_recovered"),
          (col("maxham") <= 2).as("pairs_within_radius"),
          (col("n_pairs") >= col("n_docs")).as("nonvacuous"))
    },
      ("SELECT true AS planted_all_recovered, " +
        "true AS pairs_within_radius, true AS nonvacuous")),

    // --- Real audio codec: RIFF/WAVE 16-bit PCM decode gate ------------------
    // wavEncode builds REAL RIFF/WAVE PCM clips whose samples are a pure
    // function of doc_id (with a LIST chunk between fmt and data, so the
    // decoder must walk the chunk grammar); decodeWav parses the actual
    // container inside the batched mapPartitions and emits exact integer
    // sample statistics. The oracle recomputes peak/Σ|s|/Σs² arithmetically
    // from the sample formula, never seeing the bytes — a header-offset,
    // endianness, or interleave bug breaks the hash.
    Gate("mm_decode_wav", (s, d) =>
      graft.ops.Multimodal.decodeWav(
        graft.ops.Multimodal.wavEncode(t(s, d, "documents"))),
      """WITH spec AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS n_channels,
        |    16 + doc_id % 9 AS frames
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, n_channels, frames,
        |    CAST(unnest(range(frames * n_channels)) AS BIGINT) AS i
        |  FROM spec
        |), sm AS (
        |  SELECT doc_id, n_channels, frames,
        |    ((doc_id * 131 + (i // n_channels) * 17 + (i % n_channels) * 71)
        |      % 65536) - 32768 AS s
        |  FROM px
        |)
        |SELECT doc_id, n_channels, CAST(8000 AS INT) AS sample_rate,
        |  CAST(frames AS INT) AS n_frames,
        |  CAST(max(abs(s)) AS BIGINT) AS peak,
        |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq
        |FROM sm GROUP BY 1, 2, 3, 4
        |""".stripMargin),

    // The corrupt-blob side output: every 7th clip loses its magic,
    // every 7th+1 its sample tail, every 7th+2 gets its fmt audioFormat
    // patched to non-PCM; the reject stream must carry exactly those
    // doc_ids with the stable reason codes the oracle predicts, and no
    // clean row may leak into it.
    Gate("mm_wav_rejects", (s, d) => {
      import graft.ops.Multimodal
      val blobs = Multimodal.wavEncode(t(s, d, "documents"))
      val corrupted = blobs.withColumn("content",
        when(col("doc_id") % 7 === 0,
          concat(lit("X".getBytes("US-ASCII")),
            col("content").substr(lit(2), length(col("content")))))
          .when(col("doc_id") % 7 === 1,
            col("content").substr(lit(1), length(col("content")) - 10))
          .when(col("doc_id") % 7 === 2,
            concat(col("content").substr(lit(1), lit(20)),
              lit(Array(3.toByte)),
              col("content").substr(lit(22),
                length(col("content")) - 21)))
          .otherwise(col("content")))
      Multimodal.decodeWavRejects(corrupted)
    },
      ("SELECT doc_id, CASE doc_id % 7 WHEN 0 THEN 'bad_magic' " +
        "WHEN 1 THEN 'truncated' ELSE 'bad_fmt' END AS reason " +
        "FROM documents WHERE doc_id % 7 <= 2")),

    // --- Windowed audio energy -------------------------------------------------------
    // parseWav's exact statistics folded per 8-frame window (the
    // silence-trim / clipping-scan profile): same container walk, same
    // sample formula oracle, now time-localized; the tail window is
    // short and must say so.
    Gate("mm_wav_energy", (s, d) =>
      graft.ops.Multimodal.wavEnergyWindows(
        graft.ops.Multimodal.wavEncode(t(s, d, "documents")),
        windowFrames = 8),
      """WITH spec AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS n_channels,
        |    16 + doc_id % 9 AS frames
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, n_channels,
        |    CAST(unnest(range(frames * n_channels)) AS BIGINT) AS i
        |  FROM spec
        |), sm AS (
        |  SELECT doc_id,
        |    CAST((i // n_channels) // 8 AS INT) AS win,
        |    i // n_channels AS frame,
        |    ((doc_id * 131 + (i // n_channels) * 17 + (i % n_channels)
        |      * 71) % 65536) - 32768 AS s
        |  FROM px
        |)
        |SELECT doc_id, win,
        |  CAST(count(DISTINCT frame) AS INT) AS n_frames,
        |  CAST(max(abs(s)) AS BIGINT) AS peak,
        |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq
        |FROM sm GROUP BY 1, 2
        |""".stripMargin))
}
