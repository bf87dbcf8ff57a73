package graft.etl

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Landing-zone + reader utilities (S1-S5, S10, S17, S18; reference
  * downloading.py + utils.ensure_path + io/pykeen.py).
  *
  * Zero-egress: `ensureLanded` only enforces the cache contract (skip
  * when the landing file exists — utils.py:48-94); the actual fetch is an
  * injected function so tests/fixtures stand in for the network. */
object Readers {

  /** S1/S2 cached-landing contract: call `fetch` only when `path` is
    * absent; returns whether a fetch happened. */
  def ensureLanded(spark: SparkSession, path: String,
                   fetch: String => Unit): Boolean = {
    val hp = new HPath(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) false else { fetch(path); true }
  }

  /** S18: skip a derived-artifact job when its output already exists
    * (io/automate.py:40-44,57-60). */
  def cachedOrBuild(spark: SparkSession, outPath: String)
                   (build: () => DataFrame): DataFrame = {
    val hp = new HPath(outPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp) && fs.listStatus(hp).nonEmpty)
      spark.read.parquet(outPath)
    else {
      val df = build()
      df.write.mode("overwrite").parquet(outPath)
      spark.read.parquet(outPath)
    }
  }

  /** S3: csv/tsv with explicit schema (downloading.py:68-92 — the
    * reference's make_df_getter kwargs become reader options). */
  def csv(spark: SparkSession, path: String, schema: StructType,
          sep: String = ",", header: Boolean = true,
          encoding: String = "UTF-8", nullValue: String = null): DataFrame = {
    var r = spark.read.option("sep", sep).option("header", header.toString)
      .option("encoding", encoding)
    if (nullValue != null) r = r.option("nullValue", nullValue)
    r.schema(schema).csv(path)
  }

  /** S4 (downloading.py:95-122, make_zipped_df_getter): extract one named
    * member from a landed zip archive into the landing zone — skipped when
    * the extract already exists, same cache contract as [[ensureLanded]] —
    * then scan it with the schema'd [[csv]] reader. Zip entries are not
    * splittable, so the member is extracted once driver-side (the zip is a
    * landed local file by the S1 contract); the scan of the extracted file
    * is distributed as usual. */
  def zippedCsv(spark: SparkSession, zipFile: String, memberPath: String,
                extractTo: String, schema: StructType, sep: String = ",",
                header: Boolean = true, encoding: String = "UTF-8",
                nullValue: String = null): DataFrame = {
    ensureLanded(spark, extractTo, { dest =>
      val zf = new java.util.zip.ZipFile(zipFile)
      try {
        val entry = zf.getEntry(memberPath)
        require(entry != null, s"member $memberPath not found in $zipFile")
        val in = zf.getInputStream(entry)
        val hp = new HPath(dest)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(hp, true)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192)
        finally { in.close(); out.close() }
      } finally zf.close()
    })
    csv(spark, extractTo, schema, sep, header, encoding, nullValue)
  }

  /** S5: JSON-lines scan with explicit schema (downloading.py:48-65,
    * make_json_getter — the reference json.loads a landed file; here the
    * scan is distributed and never schema-inferred). */
  def json(spark: SparkSession, path: String,
           schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S17: PyKEEN 3-column triples TSV (io/pykeen.py:39-50). */
  def triples(spark: SparkSession, path: String): DataFrame =
    csv(spark, path,
      StructType(Seq(StructField("head", StringType),
        StructField("relation", StringType),
        StructField("tail", StringType))),
      sep = "\t", header = false)

  /** S10: circRNADisease TSV slice (sources/circrnadisease.py:10-25). */
  val circRnaSchema: StructType = StructType(Seq(
    "circrna_name", "circrna_id", "disease", "method", "species",
    "expression_pattern", "pmid", "title").map(StructField(_, StringType)))
}
