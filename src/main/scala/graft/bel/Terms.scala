package graft.bel

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Flat columnar encoding of BEL terms on edge rows (the engine's analogue
  * of pybel DSL nodes; SURVEY §1.1). A qualified edge row carries:
  *
  *   src_function, src_namespace, src_identifier, src_name, src_variants,
  *   relation, dst_* (same shape), citation, evidence, annotations,
  *   subject_modifier, object_modifier
  *
  * variants: array<struct<kind,namespace,identifier,name>> (pmod/gmod —
  * reference intact.py:318-395); modifiers: struct<kind,namespace,
  * identifier,name> (activity — intact.py:300-316).
  */
object Terms {

  /** A modification variant struct (pmod/gmod). Default-namespace BEL
    * codes ('Ph', 'Ub', …) carry namespace='bel' and a null identifier. */
  def variant(kind: String, namespace: String, identifier: String,
              name: String): Column =
    struct(lit(kind).as("kind"), lit(namespace).as("namespace"),
      lit(identifier).as("identifier"), lit(name).as("name"))

  val noVariants: Column =
    lit(null).cast("array<struct<kind:string,namespace:string," +
      "identifier:string,name:string>>")

  val noModifier: Column =
    lit(null).cast("struct<kind:string,namespace:string," +
      "identifier:string,name:string>")

  def activity(namespace: String = null, identifier: String = null,
               name: String = null): Column =
    struct(lit("activity").as("kind"), lit(namespace).as("namespace"),
      lit(identifier).as("identifier"), lit(name).as("name"))

  /** Canonical BEL-ish term string for node identity / display, e.g.
    * `p(ncbigene:5594 ! MAPK1, pmod(Ph))`. Used as the `src`/`dst` key the
    * Graph utilities operate on.
    *
    * `variantSuffix` is a SCALAR string column (see [[variantSuffix1]] /
    * [[variantsSuffix]]) rather than the variants array: rendering the
    * array inline would need `transform`, a non-codegen higher-order
    * function — and because projection collapse folds term rendering into
    * the surrounding mega-Project, one such expression knocks the entire
    * ETL stage out of whole-stage codegen. */
  def termString(function: Column, namespace: Column, identifier: Column,
                 name: Column, variantSuffix: Column = lit("")): Column = {
    val core = concat(namespace, lit(":"), coalesce(identifier, lit("")),
      when(name.isNotNull, concat(lit(" ! "), name)).otherwise(lit("")))
    concat(function, lit("("), core, coalesce(variantSuffix, lit("")),
      lit(")"))
  }

  private def variantBody(ns: Column, id: Column, name: Column): Column =
    when(ns === "bel", name)
      .otherwise(concat_ws(":", ns, coalesce(id, name)))

  /** Suffix for a single optional variant given as flat columns — pure
    * scalar expressions, stays inside whole-stage codegen. */
  def variantSuffix1(kind: Column, ns: Column, id: Column,
                     name: Column): Column =
    when(kind.isNotNull,
      concat(lit(", "), kind, lit("("), variantBody(ns, id, name), lit(")")))
      .otherwise(lit(""))

  /** Suffix for a dynamic variants array (interpreted `transform` — keep
    * OUT of hot projections; prefer [[variantSuffix1]] when the variant
    * count is statically bounded). */
  def variantsSuffix(variants: Column): Column =
    when(variants.isNotNull && size(variants) > 0,
      concat(lit(", "), concat_ws(", ", transform(variants, v =>
        concat(v.getField("kind"), lit("("),
          variantBody(v.getField("namespace"), v.getField("identifier"),
            v.getField("name")),
          lit(")"))))))
      .otherwise(lit(""))
}
