package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bel.Terms
import graft.functions.Curies

/** GO gene-association source (S13 + P13 + F9/F10 + G6; reference
  * sources/go.py:44-122). The REST fetch is a driver-side landing step;
  * everything from the flattened JSON on is relational. */
object Go {

  val assocSchema: StructType = StructType(Seq(
    StructField("source_id", StringType),
    StructField("source_name", StringType),
    StructField("taxonomy_id", StringType),
    StructField("target_id", StringType),
    StructField("target_label", StringType),
    StructField("negated", BooleanType)))

  /** go.py:75-86: human-only + UniProtKB-only filters, prefix strips,
    * uniprot→hgnc (drop missing) and hgnc→ncbigene (strict — the
    * reference indexes the xref dict directly and would KeyError;
    * surfaced as an inner join + [[validateXrefs]]). */
  def processed(assoc: DataFrame, uniprotToHgnc: DataFrame,
                hgncToNcbigene: DataFrame): DataFrame =
    assoc
      .filter(col("taxonomy_id") === "9606" &&
        col("source_id").startsWith("UniProtKB:"))
      .withColumn("uniprot_id",
        Curies.stripPrefix(col("source_id"), "UniProtKB:"))
      .drop("source_id", "taxonomy_id")
      .join(broadcast(uniprotToHgnc.toDF("u_key", "hgnc_id")),
        col("uniprot_id") === col("u_key"), "left")
      .drop("u_key")
      .filter(col("hgnc_id").isNotNull)
      .join(broadcast(hgncToNcbigene.toDF("h_key", "ncbigene_id")),
        col("hgnc_id") === col("h_key"), "inner")
      .drop("h_key")
      .withColumn("target_id", Curies.stripPrefix(col("target_id"), "GO:"))

  /** The strict hgnc→ncbigene contract: rows lost to the inner join are
    * what the reference would have crashed on. */
  def validateXrefs(processedRows: Long, inputRows: Long): Unit =
    require(processedRows == inputRows,
      s"hgnc ids without ncbigene xref: ${inputRows - processedRows}")

  /** G6 associations (go.py:95-105): protein -association-> bioprocess
    * with empty citation/evidence. */
  def toBel(processed: DataFrame, goNames: DataFrame): DataFrame = {
    val withNames = processed
      .join(broadcast(goNames.toDF("go_key", "go_name")),
        col("target_id") === col("go_key"), "left")
    val edges = withNames.select(
      lit("Protein").as("src_function"),
      lit("ncbigene").as("src_namespace"),
      col("ncbigene_id").as("src_identifier"),
      col("source_name").as("src_name"),
      Terms.noVariants.as("src_variants"),
      lit("association").as("relation"),
      lit("BiologicalProcess").as("dst_function"),
      lit("go").as("dst_namespace"),
      col("target_id").as("dst_identifier"),
      col("go_name").as("dst_name"),
      Terms.noVariants.as("dst_variants"),
      lit("").as("citation"), lit("").as("evidence"),
      lit(null).cast("map<string,string>").as("annotations"),
      Terms.noModifier.as("subject_modifier"),
      Terms.noModifier.as("object_modifier"))
    graft.bel.Graph.dedupEdges(edges
      .withColumn("src", Terms.termString(col("src_function"),
        col("src_namespace"), col("src_identifier"), col("src_name")))
      .withColumn("dst", Terms.termString(col("dst_function"),
        col("dst_namespace"), col("dst_identifier"), col("dst_name"))))
  }

  /** G6 subhierarchy (go.py:108-122): is_a/part_of edges between
    * BiologicalProcess terms. `hierarchy` columns:
    * (child_prefix, child_id, child_name, parent_prefix, parent_id,
    * parent_name, relation ∈ {is_a, part_of}). */
  def hierarchyToBel(hierarchy: DataFrame): DataFrame = {
    val rel = when(col("relation") === "is_a", "isA")
      .when(col("relation") === "part_of", "partOf")
    val edges = hierarchy
      .filter(col("relation").isin("is_a", "part_of"))
      .select(
        Terms.termString(lit("BiologicalProcess"), col("child_prefix"),
          col("child_id"), col("child_name")).as("src"),
        rel.as("relation"),
        Terms.termString(lit("BiologicalProcess"), col("parent_prefix"),
          col("parent_id"), col("parent_name")).as("dst"))
    edges.dropDuplicates()
  }
}
