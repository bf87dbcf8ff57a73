package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.bel.{Exporters, NamespaceFiles, NamespaceSpec, NamespaceStore}
import graft.core.{GraftSession, SourceContext, SourceRegistry}
import graft.gates.{DedupGates, GraphGates, TemporalGates, TextGates}
import graft.sources._

/** The aggregate CLI (reference cli.py:34-233): drive every registered
  * source uniformly — populate / drop / summarize / actions / sheet /
  * belns — against a warehouse directory.
  *
  * Usage:
  *   graft.Cli populate  --warehouse W --sf-dir D [--source NAME]
  *   graft.Cli summarize --warehouse W --sf-dir D [--source NAME]
  *   graft.Cli drop      --warehouse W --sf-dir D --source NAME
  *   graft.Cli actions   --warehouse W
  *   graft.Cli sheet     --warehouse W --sf-dir D --out DIR   (K10 TSV)
  *   graft.Cli belns     --warehouse W --sf-dir D --out DIR   (K3/K6)
  *   graft.Cli edgelist  --warehouse W --sf-dir D --out DIR   (K8)
  *
  * LLM-pipeline extension layer (mirrors the registered t_curate_v2 /
  * s_ivfadc_recall operators). Corpus commands read the harness layout by
  * default but accept ANY parquet with the same columns via `--docs PATH`
  * (documents-shaped: doc_id, text, …), `--emb PATH` (embeddings-shaped:
  * vec_id, embedding, …) or `--input PATH` (profile):
  *   graft.Cli curate-v2 [--docs P | --sf-dir D] --out DIR
  *   graft.Cli ivfadc    [--emb P  | --sf-dir D] --out DIR [--k K] [--nprobe P]
  *   graft.Cli search    [--docs P | --sf-dir D] --terms a,b,c [--top N]
  *   graft.Cli dup-spans [--docs P | --sf-dir D] --out DIR [--ngram N]
  *   graft.Cli chunk     [--docs P | --sf-dir D] --out DIR [--size N] [--overlap M]
  *   graft.Cli profile   [--input P --key K --id I --value V | --sf-dir D --table T]
  *   graft.Cli bpe-train [--docs P | --sf-dir D] [--merges N]
  *   graft.Cli hybrid-search [--docs P --emb P | --sf-dir D] --terms a,b [--qvec ID] [--top N]
  *   graft.Cli pagerank  [--edges P | --sf-dir D] [--weight COL] [--iterations N] [--top N]
  *   graft.Cli semantic-dedup [--emb P | --sf-dir D] --out DIR [--k K] [--tau T]
  *   graft.Cli kcore     [--edges P | --sf-dir D] [--k K] [--top N]
  *   graft.Cli index-build [--docs P | --sf-dir D] --out DIR
  *   graft.Cli dedup-incremental [--docs P] --index DIR --out DIR
  *                       [--threshold T] [--append 1]
  *   graft.Cli bpe-encode [--docs P | --sf-dir D] --out DIR [--merges N]
  *   graft.Cli quality-filter [--docs P] --out DIR [--min-words N]
  *   graft.Cli top-values [--input P] --key K --value V [--k N]
  *   graft.Cli lm-score  [--docs P] [--ref P] [--bigram 1] --out DIR
  *   graft.Cli funnel    [--input P | --sf-dir D] [--stages a,b,c]
  *   graft.Cli bfs       [--edges P | --sf-dir D] [--seeds 1,2] [--max-depth N]
  *   graft.Cli scd2      [--input P | --sf-dir D] [--key K] [--ts T] [--attr A] --out DIR
  *   graft.Cli cosine-pairs [--docs P | --sf-dir D] --out DIR [--num N] [--den D] [--df-cap C] [--ngram G]
  *   graft.Cli walks     [--edges P | --sf-dir D] --out DIR [--steps N] [--window W]
  *   graft.Cli neg-samples [--triples P] [--entities P] --out DIR [--k K] [--buckets B]
  *   graft.Cli prepare-training [--docs P | --sf-dir D] --out DIR [--seq-len N] [--shards K] [--merges M] [--lang L] [--min-words W]
  *   graft.Cli compact   [--input P] --out DIR [--files N] [--sort-by a,b]
  *   graft.Cli zorder    [--input P] --out DIR [--files N] [--col-a A] [--col-b B] [--bits N] [--curve morton|hilbert]
  *   graft.Cli export-jsonl [--input P] --out DIR [--shards K]
  *   graft.Cli drift     --a P --b P [--group COL]
  *   graft.Cli asof      --left P --right P --out DIR [--keys a,b] [--ts T] [--right-ts T] [--direction backward|forward|nearest] [--tolerance N] [--strict 1]
  *   graft.Cli resample  [--input P | --sf-dir D] --out DIR [--keys a,b] [--ts T] [--step-us N]
  *   graft.Cli cc-incremental --delta P (--index P | --base P) --out DIR
  *   graft.Cli cc-index  --path DIR (--init BASE.parquet | --fold DELTA.parquet) [--buckets N]
  *   graft.Cli expect    [--input P | --sf-dir D] [--not-null a,b] [--unique a,b] [--bounds col:lo:hi[;col:lo:hi...]]
  *   graft.Cli ppr       [--edges P | --sf-dir D] [--seeds node[=w],node[=w]] [--iterations N] [--top N]
  *   graft.Cli ivf-rebuild --path DIR [--nlist N] [--max-drift T] [--refine-iterations N]
  *   graft.Cli curate-batch [--input P] --out DIR [--index DIR] [--min-words N] [--batch-id N]
  *   graft.Cli lpa       [--edges P | --sf-dir D] [--iterations N] [--top N]
  *   graft.Cli resolve   [--input P] --out DIR [--id COL] [--col COL] [--max-dist N]
  *   graft.Cli standardize [--emb P | --sf-dir D] --out DIR
  *   graft.Cli modularity [--edges P | --sf-dir D] [--labels P] [--iterations N]
  *   graft.Cli pca       [--input P | --sf-dir D] [--k K] [--whiten 1] [--out DIR]
  *   graft.Cli sample    [--input P | --sf-dir D] [--k K] [--weight COL]
  *   graft.Cli transitions [--input P | --sf-dir D]
  *   graft.Cli anomalies [--input P | --sf-dir D] [--n N] [--sigmas K] [--top N]
  *   graft.Cli ktruss    [--input P | --sf-dir D] [--k K] [--rounds N]
  *   graft.Cli assortativity [--input P | --sf-dir D]
  *   graft.Cli wav-energy [--input P] [--window N] [--top N]
  *   graft.Cli winsorize [--input P | --sf-dir D] [--keys a,b] [--value V] [--lo F] [--hi F]
  *   graft.Cli gram-maintain [--input P | --sf-dir D] --out DIR [--batch N]
  *   graft.Cli classify  [--input P | --sf-dir D]
  *   graft.Cli histogram [--input P | --sf-dir D] [--key K] [--value V] [--width W]
  */
object Cli {

  private def registry(sfDir: String): SourceRegistry = {
    val r = new SourceRegistry
    r.register(new CompathSource("compath",
      ctx => Queries.pathwayStore(ctx.spark, sfDir)))
    r.register(new IntactSource(
      ctx => Queries.intactSynthRaw(ctx.spark, sfDir),
      ctx => Queries.intactSynthMappings(ctx.spark, sfDir)))
    r
  }

  /** `--key value` pairs. A flag without a value is an error: pairing
    * it with the next flag would drop that flag and shift every later
    * pair. */
  private[graft] def options(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect {
      case Seq(k, v) if k.startsWith("--") =>
        if (v.startsWith("--"))
          throw new IllegalArgumentException(s"$k needs a value, got flag $v")
        k.drop(2) -> v
      case Seq(k) if k.startsWith("--") =>
        throw new IllegalArgumentException(s"$k needs a value")
    }.toMap

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("help")
    val opts = options(args.drop(1))
    val warehouse = opts.getOrElse("warehouse", "/tmp/graft-warehouse")
    val sfDir = opts.getOrElse("sf-dir", "/root/testdata/sf0.001")
    // documents/embeddings-shaped inputs default to the harness layout but
    // accept ANY parquet path with the same columns — the curation and
    // retrieval commands are usable against a real corpus, not just the
    // test tables
    def docsPath = opts.getOrElse("docs", s"$sfDir/documents.parquet")
    def embPath = opts.getOrElse("emb", s"$sfDir/embeddings.parquet")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // embedding posture: only stop the session this run created — a host
    // JVM (or the test suite) that already owns one keeps it
    val preExisting = SparkSession.getDefaultSession.nonEmpty
    lazy val spark: SparkSession = {
      val s = GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    def ctx(module: String) = new SourceContext(spark, warehouse, module)
    val reg = registry(sfDir)
    def selected = opts.get("source") match {
      case Some(n) => reg.get(n).toSeq
      case None => reg.all
    }

    cmd match {
      case "populate" => // cli.py:68-107
        selected.foreach { s =>
          println(s"populating ${s.moduleName}")
          ctx(s.moduleName).populateWithProvenance(s)
        }
      case "summarize" => // cli.py:126-143, sorted output
        selected.foreach { s =>
          println(s"${s.moduleName.capitalize}")
          s.summarize(ctx(s.moduleName)).toSeq.sorted.foreach {
            case (t, n) => println(s"  $t: $n")
          }
        }
      case "drop" => // cli.py:110-123
        selected.foreach { s =>
          println(s"dropping ${s.moduleName}")
          ctx(s.moduleName).drop(s)
        }
      case "actions" => // O1: newest-first provenance listing
        ctx("_cli").actions.ls()
          .select(col("resource"), col("action"),
            date_format(col("created"), "yyyy-MM-dd HH:mm:ss").as("created"))
          .collect()
          .foreach(r => println(r.mkString("\t")))
      case "sheet" => // cli.py:146-160 / compath export_gene_sets (K10)
        val out = opts.getOrElse("out", s"$warehouse/_sheets")
        val cs = reg.get("compath").get.asInstanceOf[CompathSource]
        val q = cs.queries(ctx("compath"))
        Exporters.geneSetsTsv(q.geneSets(), s"$out/compath_gene_sets")
        println(s"wrote $out/compath_gene_sets")
      case "belns" => // K3/K6: md5-guarded namespace file export
        val out = opts.getOrElse("out", s"$warehouse/_belns")
        val store = new NamespaceStore(spark, s"$warehouse/_namespaces")
        val spec = NamespaceSpec.forModule("compath")
        val models = ctx("compath").read("pathways")
          .select(col("identifier"), col("name"), lit("B").as("encoding"))
        store.upload(spec, models)
        val changed = NamespaceFiles.writeDirectory(store, spec, models, out)
        println(s"belns export changed=$changed -> $out")
      case "edgelist" => // K8
        val out = opts.getOrElse("out", s"$warehouse/_export")
        val cs = reg.get("compath").get.asInstanceOf[CompathSource]
        val edges = cs.queries(ctx("compath")).toBelEdges("compath")
        Exporters.edgelist(edges, out)
        println(s"wrote $out/node_list + $out/edgelist")
      case "nodelink" => // K7 (cli.py:302-328 write path): gzip'd JSON dump
        val out = opts.getOrElse("out", s"$warehouse/_export/nodelink")
        val cs = reg.get("compath").get.asInstanceOf[CompathSource]
        Exporters.nodelink(
          cs.queries(ctx("compath")).toBelEdges("compath"), out)
        println(s"wrote $out/nodes + $out/links")
      case "triples" => // K9 (io/automate.py:30-46): KG-embedding TSV
        val out = opts.getOrElse("out", s"$warehouse/_export/triples")
        val cs = reg.get("compath").get.asInstanceOf[CompathSource]
        Exporters.triples(
          cs.queries(ctx("compath")).toBelEdges("compath"), out)
        println(s"wrote $out")
      case "er" => // K13 (cli.py:236-254): per-source ER diagram text
        val out = opts.getOrElse("out", s"$warehouse/_er")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
        val store = Queries.pathwayStore(spark, sfDir)
        import graft.bel.Exporters.ErRelation
        val text = Exporters.erDiagram(
          Seq("pathway" -> store.pathways.schema,
            "protein" -> store.proteins.schema,
            "membership" -> store.membership.schema),
          Seq(ErRelation("membership", "pathway_id", "pathway", "pathway_id"),
            ErRelation("membership", "protein_id", "protein", "protein_id")),
          Map("pathway" -> "pathway_id", "protein" -> "protein_id"))
        val f = java.nio.file.Paths.get(out, "compath_erd.er")
        java.nio.file.Files.writeString(f, text)
        println(s"wrote $f")
      case "curate-v2" => // the t_curate_v2 pipeline as a batch job
        val out = opts.getOrElse("out", s"$warehouse/_curated")
        TextGates.curated(spark.read.parquet(docsPath))
          .select("doc_id", "n_tokens", "dup_word_frac")
          .write.mode("overwrite").parquet(out)
        println(s"curated ${spark.read.parquet(out).count()} documents -> $out")
      case "ivfadc" => // build a persisted IVFADC index, run a query batch
        val out = opts.getOrElse("out", s"$warehouse/_ivfadc")
        val k = opts.getOrElse("k", "4").toInt
        val nProbe = opts.getOrElse("nprobe", "2").toInt
        val emb = spark.read.parquet(embPath)
        graft.ops.IvfIndex.build(emb, out, nList = 8, pqM = 8, pqK = 16)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding"))
        val hits = graft.ops.IvfIndex.topKAdc(spark, out, queries, k = k,
          nProbe = nProbe).orderBy("query_id", "rank").collect()
        hits.foreach(r => println(r.mkString("\t")))
        println(s"index at $out (nList=8, pqM=8); ${hits.length} hits")
      case "search" => // BM25 ranking over the document corpus (t_bm25)
        val terms = opts.getOrElse("terms", "spark,vector")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val n = opts.getOrElse("top", "10").toInt
        val docs = spark.read.parquet(docsPath)
        graft.ops.TextSearch.bm25(docs, terms)
          .orderBy(col("bm25").desc, col("doc_id")).limit(n)
          .collect().foreach(r => println(r.mkString("\t")))
      case "dup-spans" => // substring-level duplicate spans (d_dup_spans)
        val out = opts.getOrElse("out", s"$warehouse/_dup_spans")
        val n = opts.getOrElse("ngram", "5").toInt
        val docs = spark.read.parquet(docsPath)
        val spans = graft.ops.Dedup.duplicateSpans(docs, n = n)
        spans.write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} spans -> $out")
      case "chunk" => // sliding-window document chunking (t_chunk)
        val out = opts.getOrElse("out", s"$warehouse/_chunks")
        val size = opts.getOrElse("size", "40").toInt
        val overlap = opts.getOrElse("overlap", "10").toInt
        val docs = spark.read.parquet(docsPath)
        graft.ops.TextAnalysis.chunk(docs, size, overlap)
          .write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} chunks -> $out")
      case "bpe-train" => // BPE merge learning (t_bpe_train)
        val n = opts.getOrElse("merges", "40").toInt
        val docs = spark.read.parquet(docsPath)
        val merges = graft.ops.Bpe.train(docs, numMerges = n)
        merges.zipWithIndex.foreach { case ((a, b), i) =>
          println(s"$i\t$a\t$b")
        }
        println(s"learned ${merges.length} merges")
      case "hybrid-search" => // BM25 + embedding cosine, RRF-fused
        val terms = opts.getOrElse("terms", "spark,vector")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val qid = opts.getOrElse("qvec", "0").toLong
        val n = opts.getOrElse("top", "10").toInt
        val docs = spark.read.parquet(docsPath)
        val emb = spark.read.parquet(embPath)
        val qv = emb.filter(col("vec_id") === qid)
          .select(lit(0L).as("query_id"), col("embedding"))
        val dense = graft.ops.Similarity.bruteForceTopK(emb, qv, k = 50)
          .select(col("query_id"), col("id"), col("cosine").as("score"))
        val sparse = graft.ops.TextSearch.bm25(docs, terms)
          .select(lit(0L).as("query_id"), col("doc_id").as("id"),
            col("bm25").as("score"))
        graft.ops.TextSearch.rrfFuse(Seq(sparse, dense))
          .orderBy(col("rrf").desc, col("id")).limit(n)
          .collect().foreach(r => println(r.mkString("\t")))
      case "pagerank" => // graph centrality (a17/a32 family)
        val iters = opts.getOrElse("iterations", "8").toInt
        val n = opts.getOrElse("top", "10").toInt
        val edges = opts.get("edges") match {
          case Some(p) => spark.read.parquet(p) // (src, dst[, weight])
          case None => GraphGates.dimensionEdges(spark, sfDir)
        }
        val ranks = opts.get("weight") match {
          case Some(wc) => graft.bel.PageRank.runWeighted(edges, wc, iters)
          case None => graft.bel.PageRank.run(edges, iters)
        }
        ranks.orderBy(col("rank").desc, col("node")).limit(n)
          .collect().foreach(r => println(r.mkString("\t")))
      case "ppr" => // personalized (seed-restart) PageRank (a30_ppr)
        val iters = opts.getOrElse("iterations", "8").toInt
        val n = opts.getOrElse("top", "10").toInt
        val edges = opts.get("edges") match {
          case Some(p) => spark.read.parquet(p) // (src, dst)
          case None => GraphGates.reversedDimensionEdges(spark, sfDir)
        }
        // --seeds "node[=w],node[=w]" (weight optional, default 1).
        // '=' separates the weight so node names containing ':' (the
        // harness's own naming, e.g. "r:0") parse unambiguously —
        // splitting on ':' would turn a weightless "r:0" into node "r"
        // with weight 0
        import spark.implicits._
        val seeds = opts.getOrElse("seeds", "r:0=3,r:1=1").split(",")
          .map(_.trim).filter(_.nonEmpty).map { s =>
            s.split("=") match {
              case Array(node, w) => (node, w.toDouble)
              case _ => (s, 1.0)
            }
          }.toSeq.toDF("node", "weight")
        // --weight <col> composes the seed restart with edge-weighted
        // transitions (a35_ppr_weighted — same shared power loop)
        val ranks = opts.get("weight") match {
          case Some(wc) => graft.bel.PageRank.runPersonalizedWeighted(
            edges, seeds, wc, iters)
          case None => graft.bel.PageRank.runPersonalized(edges, seeds,
            iters)
        }
        ranks.orderBy(col("rank").desc, col("node")).limit(n)
          .collect().foreach(r => println(r.mkString("\t")))
      case "lpa" => // label-propagation communities (a31_lpa)
        val iters = opts.getOrElse("iterations", "5").toInt
        val n = opts.getOrElse("top", "20").toInt
        val edges = opts.get("edges") match {
          case Some(p) => spark.read.parquet(p) // (src, dst)
          case None => GraphGates.dimensionEdges(spark, sfDir)
        }
        val labels = graft.bel.LabelPropagation.run(edges, iters)
        labels.groupBy("label").agg(count(lit(1)).as("size"))
          .orderBy(col("size").desc, col("label")).limit(n)
          .collect().foreach(r => println(r.mkString("\t")))
      case "modularity" => // community-quality score (a33_modularity)
        val edges = opts.get("edges") match {
          case Some(p) => spark.read.parquet(p)
          case None => GraphGates.dimensionEdges(spark, sfDir)
        }
        val labels = opts.get("labels") match {
          case Some(p) => spark.read.parquet(p) // (node, label)
          case None => graft.bel.LabelPropagation.run(edges,
            opts.getOrElse("iterations", "5").toInt)
        }
        val per = graft.bel.Modularity.perCommunity(edges, labels)
        per.orderBy(col("q_c").desc, col("label")).limit(20)
          .collect().foreach(r => println(r.mkString("\t")))
        val q = per.agg(sum("q_c")).collect()(0).getDouble(0)
        println(f"Q = $q%.6f")
      case "resolve" => // fuzzy-match entity resolution (j18_er_entities)
        // NOT "er" — that name is taken by the K13 ER-diagram export
        // above, which would shadow this case (first match wins)
        val out = opts.getOrElse("out", s"$warehouse/_entities")
        val in = spark.read.parquet(opts.getOrElse("input", docsPath))
        val (idc, sc) = (opts.getOrElse("id", "doc_id"),
          opts.getOrElse("col", "text"))
        val recs = in.select(col(idc).cast("long").as("id"),
          col(sc).cast("string").as("s"))
        DedupGates.resolveEntities(recs,
            maxDist = opts.getOrElse("max-dist", "2").toInt)
          .write.mode("overwrite").parquet(out)
        val back = spark.read.parquet(out)
        println(s"${back.count()} records -> " +
          s"${back.select("entity_id").distinct().count()} entities -> $out")
      case "standardize" => // per-dim z-score scaling (s_embed_standardize)
        val out = opts.getOrElse("out", s"$warehouse/_standardized")
        graft.ops.Similarity.standardize(spark.read.parquet(embPath)
            .select("vec_id", "embedding"))
          .write.mode("overwrite").parquet(out)
        println(s"standardized ${spark.read.parquet(out).count()} " +
          s"vectors -> $out")
      case "semantic-dedup" => // SemDeDup-style pruning (d_semantic_prune)
        val out = opts.getOrElse("out", s"$warehouse/_semantic")
        val k = opts.getOrElse("k", "8").toInt
        val tau = opts.getOrElse("tau", "0.97").toDouble
        val emb = spark.read.parquet(embPath)
          .withColumn("embedding",
            graft.functions.Vectors.toDouble(col("embedding")))
        val kept = graft.ops.Dedup.semanticSurvivorsAuto(emb, k, tau)
        kept.write.mode("overwrite").parquet(out)
        println(s"kept ${spark.read.parquet(out).count()} of " +
          s"${emb.count()} vectors -> $out")
      case "kcore" => // dense-subgraph extraction (a19_kcore)
        val k = opts.getOrElse("k", "3").toInt
        val n = opts.getOrElse("top", "20").toInt
        val edges = opts.get("edges").map(spark.read.parquet(_))
          .getOrElse(Queries.coPurchaseEdges(spark, sfDir))
        val core = graft.bel.KCore.run(edges, k)
        core.orderBy(col("core_deg").desc, col("node")).limit(n)
          .collect().foreach(r => println(r.mkString("\t")))
        println(s"${core.count()} nodes in the $k-core")
      case "index-build" => // fingerprint + minhash snapshot indexes
        val out = opts.getOrElse("out", s"$warehouse/_dedup_index")
        val docs = spark.read.parquet(docsPath)
        graft.ops.Dedup.writeFingerprintIndex(docs, s"$out/exact")
        graft.ops.Dedup.writeMinHashIndex(docs, s"$out/minhash")
        println(s"indexed ${spark.read.parquet(s"$out/exact").count()} " +
          s"distinct fingerprints -> $out/{exact,minhash}")
      case "dedup-incremental" => // probe a new batch against the indexes
        val idx = opts.getOrElse("index", s"$warehouse/_dedup_index")
        val out = opts.getOrElse("out", s"$warehouse/_dedup_fresh")
        val threshold = opts.getOrElse("threshold", "0.8").toDouble
        val batch = spark.read.parquet(docsPath)
        val fresh = graft.ops.Dedup
          .incrementalSurvivors(spark, s"$idx/exact", batch)
        fresh.write.mode("overwrite").parquet(out)
        val near = graft.ops.Dedup.incrementalNearDups(spark,
          s"$idx/minhash", batch, threshold = threshold)
        println(s"${spark.read.parquet(out).count()} novel docs -> $out; " +
          s"${near.count()} near-dup pairs vs index at >= $threshold")
        if (opts.contains("append")) {
          val n = graft.ops.Dedup
            .appendToFingerprintIndex(spark, s"$idx/exact", batch)
          println(s"appended $n fingerprints to $idx/exact")
        }
      case "bpe-encode" => // per-document subword streams (t_bpe_encode)
        val out = opts.getOrElse("out", s"$warehouse/_bpe_tokens")
        val n = opts.getOrElse("merges", "40").toInt
        val docs = spark.read.parquet(docsPath)
        val merges = graft.ops.Bpe.train(docs, numMerges = n)
        graft.ops.Bpe.encode(docs, merges)
          .write.mode("overwrite").parquet(out)
        println(s"encoded ${spark.read.parquet(out).count()} documents " +
          s"with ${merges.length} merges -> $out")
      case "quality-filter" => // Gopher rule bundle (t_gopher_rules)
        val out = opts.getOrElse("out", s"$warehouse/_quality")
        val minWords = opts.getOrElse("min-words", "50").toInt
        val docs = spark.read.parquet(docsPath)
        val scored = graft.ops.TextAnalysis
          .gopherRules(docs, minWords = minWords)
        scored.filter(col("keep")).write.mode("overwrite").parquet(out)
        val kept = spark.read.parquet(out).count()
        println(s"kept $kept of ${docs.count()} documents -> $out")
      case "top-values" => // exact heavy hitters (a20_heavy_hitters)
        val keyC = opts.getOrElse("key", "lang")
        val valueC = opts.getOrElse("value", "source")
        val k = opts.getOrElse("k", "10").toInt
        val df = spark.read.parquet(opts.getOrElse("input", docsPath))
        graft.ops.Profile.topKFrequent(df, keyC, valueC, k)
          .orderBy(col(keyC), col("rank"))
          .collect().foreach(r => println(r.mkString("\t")))
      case "lm-score" => // unigram / bigram LM quality (t_lm_score/_bigram)
        val out = opts.getOrElse("out", s"$warehouse/_lm_scores")
        val docs = spark.read.parquet(docsPath)
        val ref = opts.get("ref").map(spark.read.parquet(_)).getOrElse(docs)
        val scored =
          if (opts.contains("bigram"))
            graft.ops.TrainingPrep.lmScoreBigram(docs, ref,
              vocabSize = 5000, bigramSize = 20000)
          else graft.ops.TrainingPrep.lmScore(docs, ref, vocabSize = 5000)
        scored.write.mode("overwrite").parquet(out)
        println(s"scored ${spark.read.parquet(out).count()} documents -> $out")
      case "funnel" => // ordered event-sequence conversion (a22_funnel)
        val stages = opts.getOrElse("stages", "view,click,purchase")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        graft.ops.Funnel.reach(ev, stages,
          keyCol = opts.getOrElse("key", "user_id"),
          tsCol = opts.getOrElse("ts", "ts"),
          typeCol = opts.getOrElse("type", "event_type"))
          .orderBy("stage").collect()
          .foreach(r => println(r.mkString("\t")))
      case "bfs" => // hop distances + the σ/betweenness/weighted faces
        val edges = opts.get("edges").map(spark.read.parquet(_))
          .getOrElse(Queries.coPurchaseEdges(spark, sfDir))
        val seeds = opts.get("seeds") match {
          case Some(csv) =>
            import spark.implicits._
            csv.split(",").map(_.trim.toLong).toSeq.toDF("seed")
          case None => edges.select(col("src").as("seed")).limit(10)
        }
        // --stat hops (default) | sigma (a36) | betweenness (a38);
        // --weight <col> switches to the weighted faces — min-plus
        // costs (a37), or weighted Brandes (a46) when combined with
        // --stat betweenness (weighted σ alone has no display face;
        // it is internal to the betweenness folds)
        (opts.get("weight"), opts.getOrElse("stat", "hops")) match {
          case (Some(wc), "betweenness") =>
            graft.bel.Bfs.weightedBetweenness(edges, seeds, wc,
              rounds = opts.getOrElse("rounds", "6").toInt)
              .orderBy(col("betweenness").desc, col("node"))
              .limit(opts.getOrElse("top", "20").toInt).collect()
              .foreach(r => println(r.mkString("\t")))
          case (Some(_), st) if st != "hops" =>
            println(s"bfs: --weight supports --stat betweenness (a46) " +
              s"or costs (no --stat), not '$st'")
            sys.exit(2)
          case (Some(wc), _) =>
            graft.bel.Bfs.weightedHops(edges, seeds, wc,
              maxHops = opts.getOrElse("max-depth", "20").toInt)
              .orderBy(col("cost"), col("node"))
              .limit(opts.getOrElse("top", "20").toInt).collect()
              .foreach(r => println(r.mkString("\t")))
          case (None, "sigma") =>
            graft.bel.Bfs.pathCounts(edges, seeds,
              maxDepth = opts.getOrElse("max-depth", "4").toInt)
              .orderBy(col("sigma").desc, col("seed"), col("node"))
              .limit(opts.getOrElse("top", "20").toInt).collect()
              .foreach(r => println(r.mkString("\t")))
          case (None, "betweenness") =>
            graft.bel.Bfs.landmarkBetweenness(edges, seeds,
              maxDepth = opts.getOrElse("max-depth", "4").toInt)
              .orderBy(col("betweenness").desc, col("node"))
              .limit(opts.getOrElse("top", "20").toInt).collect()
              .foreach(r => println(r.mkString("\t")))
          case _ =>
            graft.bel.Bfs.hops(edges, seeds,
              maxDepth = opts.getOrElse("max-depth", "20").toInt)
              .groupBy("hops").agg(count(lit(1)).as("nodes"))
              .orderBy("hops").collect()
              .foreach(r => println(r.mkString("\t")))
        }
      case "scd2" => // dimension-history intervals (w_scd2_intervals)
        val out = opts.getOrElse("out", s"$warehouse/_scd2")
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        val keyC = opts.getOrElse("key", "user_id")
        val tsC = opts.getOrElse("ts", "ts")
        val attrC = opts.getOrElse("attr", "event_type")
        val one = ev.groupBy(col(keyC), col(tsC))
          .agg(min(attrC).as(attrC))
        graft.ops.Temporal.scd2(one, Seq(keyC), tsC, attrC)
          .write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} intervals -> $out")
      case "cosine-pairs" => // lexical near-dup pairs (d_cosine_pairs)
        val out = opts.getOrElse("out", s"$warehouse/_cosine_pairs")
        graft.ops.TextSearch.cosinePairs(spark.read.parquet(docsPath),
          num = opts.getOrElse("num", "1").toLong,
          den = opts.getOrElse("den", "2").toLong,
          dfCap = opts.getOrElse("df-cap", "50").toLong,
          ngram = opts.getOrElse("ngram", "3").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} pairs -> $out")
      case "drift" => // snapshot drift report (t_drift_report)
        val a = spark.read.parquet(opts.getOrElse("a", docsPath))
        val b = spark.read.parquet(opts.getOrElse("b", docsPath))
        graft.ops.TextAnalysis.driftReport(a, b,
          groupCol = opts.getOrElse("group", "lang"))
          .orderBy(opts.getOrElse("group", "lang")).collect()
          .foreach(r => println(r.mkString("\t")))
      case "asof" => // point-in-time enrichment (j10/j14 family)
        val out = opts.getOrElse("out", s"$warehouse/_asof")
        val l = spark.read.parquet(opts("left"))
        val r = spark.read.parquet(opts("right"))
        val keys = opts.getOrElse("keys", "user_id")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val tol = opts.get("tolerance").map(_.toLong)
        val joined = opts.getOrElse("direction", "backward") match {
          case "nearest" => graft.ops.Temporal.asOfJoinNearest(l, r, keys,
            leftTs = opts.getOrElse("ts", "ts"),
            rightTs = opts.getOrElse("right-ts", "ts"), tolerance = tol)
          case dir => graft.ops.Temporal.asOfJoin(l, r, keys,
            leftTs = opts.getOrElse("ts", "ts"),
            rightTs = opts.getOrElse("right-ts", "ts"), tolerance = tol,
            forward = dir == "forward",
            strict = opts.contains("strict"))
        }
        joined.write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} rows -> $out")
      case "resample" => // fixed-grid forward-fill (j16_resample_ffill)
        val out = opts.getOrElse("out", s"$warehouse/_resampled")
        val in = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(TemporalGates.userObservations(
            graft.core.Tables.events(spark, sfDir)))
        val keys = opts.getOrElse("keys", "user_id")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        graft.ops.Temporal.resampleFfill(in, keys,
          tsCol = opts.getOrElse("ts", "ts_us"),
          stepUs = opts.getOrElse("step-us", "3600000000").toLong)
          .write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} grid rows -> $out")
      case "cc-incremental" => // fold a delta into CC labels (a28)
        val out = opts.getOrElse("out", s"$warehouse/_cc_labels")
        val delta = spark.read.parquet(opts("delta"))
        val index = opts.get("index").map(spark.read.parquet(_))
          .getOrElse(graft.bel.ConnectedComponents.run(
            spark.read.parquet(opts("base"))))
        graft.bel.IncrementalCC.fold(index, delta)
          .write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} labels -> $out")
      case "cc-index" => // persisted bucket-partitioned label index (a28)
        val path = opts("path")
        val buckets = opts.getOrElse("buckets", "64").toInt
        (opts.get("init"), opts.get("fold")) match {
          case (Some(basePath), _) =>
            graft.bel.IncrementalCC.writeIndex(
              graft.bel.ConnectedComponents.run(
                spark.read.parquet(basePath)), path, buckets)
            println(s"indexed ${graft.bel.IncrementalCC
              .readIndex(spark, path).count()} labels -> $path")
          case (None, Some(deltaPath)) =>
            val touched = graft.bel.IncrementalCC.foldIndex(spark, path,
              spark.read.parquet(deltaPath), buckets)
            println(s"folded $deltaPath: $touched bucket(s) rewritten")
          case _ =>
            println("cc-index needs --init BASE.parquet or --fold DELTA.parquet")
            sys.exit(2)
        }
      case "ivf-rebuild" => // staleness-driven index maintenance (s_ivf_rebuild)
        val path = opts("path")
        val nList = opts.getOrElse("nlist", "16").toInt
        val iters = opts.getOrElse("refine-iterations", "3").toInt
        opts.get("max-drift") match {
          case Some(th) =>
            graft.ops.IvfIndex.rebuildIfStale(spark, path, nList,
              th.toDouble, iters) match {
              case Some(rb) => println(s"rebuilt ${rb.nRows} rows: fit " +
                f"${rb.fitBefore}%.4f -> ${rb.fitAfter}%.4f")
              case None =>
                val (n, fit) = graft.ops.IvfIndex.currentFit(spark, path)
                println(f"healthy: $n rows, fit $fit%.4f (drift under $th)")
            }
          case None =>
            val rb = graft.ops.IvfIndex.rebuild(spark, path, nList, iters)
            println(s"rebuilt ${rb.nRows} rows: fit " +
              f"${rb.fitBefore}%.4f -> ${rb.fitAfter}%.4f")
        }
      case "curate-batch" => // one batch through the e2e chain (w_curate_e2e)
        import graft.ops.{Expectations, TextAnalysis}
        val in = spark.read.parquet(opts.getOrElse("input", docsPath))
          .select("doc_id", "text")
        val out = opts.getOrElse("out", s"$warehouse/_curated")
        val idxPath = opts.getOrElse("index", s"$out/idx")
        val minWords = opts.getOrElse("min-words", "10").toInt
        val batchId = opts.getOrElse("batch-id", "0").toLong
        val m = graft.streaming.CuratePipeline.curateBatch(spark, in,
          batchId, Seq(Expectations.notNull("text"),
            Expectations.rowCountBetween(1L, Long.MaxValue)),
          df => df.filter(
            TextAnalysis.tokenCount(col("text")) >= minWords),
          idxPath, out)
        println(s"batch ${m.batchId}: ${m.nIn} in, ${m.nCurated} past " +
          s"rules, ${m.nAccepted} accepted -> $out")
      case "expect" => // data-quality expectation report (a29_expectations)
        import graft.ops.Expectations
        val in = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        val checks = Seq.newBuilder[Expectations.Check]
        opts.get("not-null").foreach(_.split(",").foreach(c =>
          checks += Expectations.notNull(c.trim)))
        opts.get("unique").foreach(_.split(",").foreach(c =>
          checks += Expectations.unique(c.trim)))
        // one or more col:lo:hi specs, ';'-separated (the opts parser
        // keeps only the last occurrence of a repeated flag)
        for (spec <- opts.get("bounds").toSeq
             .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)) {
          spec.split(":") match {
            case Array(c, lo, hi) =>
              checks += Expectations.bounds(c, lo.toDouble, hi.toDouble)
            case _ =>
              println(s"bad --bounds '$spec' (want col:lo:hi, " +
                "';'-separated for several)")
              sys.exit(2)
          }
        }
        val built = checks.result()
        val suite = if (built.nonEmpty) built
          else Seq(Expectations.rowCountBetween(1L, Long.MaxValue))
        Expectations.run(in, suite).collect()
          .foreach(r => println(r.mkString("\t")))
      case "compact" => // small-file hygiene (k16_compacted)
        val in = opts.getOrElse("input", docsPath)
        val out = opts.getOrElse("out", s"$warehouse/_compacted")
        val sortCols = opts.getOrElse("sort-by", "doc_id")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val back = graft.ops.Layout.compact(spark, in, out,
          opts.getOrElse("files", "2").toInt, sortCols)
        println(s"compacted ${back.count()} rows -> $out")
      case "zorder" => // multi-dimensional clustering (k18/k20/k21 layouts)
        val in = opts.getOrElse("input", docsPath)
        val out = opts.getOrElse("out", s"$warehouse/_zordered")
        // --cols a,b,c... (N-column interleave) wins over --col-a/--col-b
        val cols = opts.get("cols")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq(opts.getOrElse("col-a", "doc_id"),
            opts.getOrElse("col-b", "n_chars")))
        val files = opts.getOrElse("files", "2").toInt
        val bits = opts.getOrElse("bits", "8").toInt
        val curve = opts.getOrElse("curve", "morton")
        val back = curve match {
          case "hilbert" =>
            graft.ops.Layout.hilbertCompactN(spark, in, out, files, cols,
              bits)
          case "morton" =>
            graft.ops.Layout.zorderCompactN(spark, in, out, files, cols,
              bits)
          case other => sys.error(
            s"unknown --curve '$other' (morton|hilbert)")
        }
        println(s"$curve-clustered ${back.count()} rows -> $out")
      case "export-jsonl" => // loader-facing shards (k17_jsonl_export)
        val out = opts.getOrElse("out", s"$warehouse/_jsonl")
        val back = graft.ops.Layout.exportJsonl(
          spark.read.parquet(opts.getOrElse("input", docsPath)), out,
          opts.getOrElse("shards", "3").toInt)
        println(s"exported ${back.count()} rows -> $out")
      case "prepare-training" => // the full curate→dedup→BPE→pack chain
        val out = opts.getOrElse("out", s"$warehouse/_training")
        val budget = opts.getOrElse("seq-len", "256").toInt
        val shards = opts.getOrElse("shards", "8").toInt
        val merges = opts.getOrElse("merges", "60").toInt
        import graft.ops.{Bpe, TrainingPrep}
        val curated = TextGates.curated(spark.read.parquet(docsPath),
            minTokens = opts.getOrElse("min-words", "10").toInt,
            lang = opts.getOrElse("lang", "en"))
          .select("doc_id", "text")
        val m = Bpe.train(curated.select(col("text")),
          numMerges = merges, topWords = 20000)
        TrainingPrep.packTokens(curated, m, budgetTokens = budget,
          shards = shards)
          .write.mode("overwrite").parquet(out)
        val rows = spark.read.parquet(out)
        println(s"wrote ${rows.count()} packed (shard, bin) rows " +
          s"covering ${rows.agg(sum("n_tokens")).head.getLong(0)} " +
          s"tokens -> $out")
      case "walks" => // deterministic embedding walks (g10/g12)
        val out = opts.getOrElse("out", s"$warehouse/_walks")
        val edges = opts.get("edges").map(spark.read.parquet(_))
          .getOrElse(Queries.coPurchaseEdges(spark, sfDir))
        val w = graft.bel.RandomWalks.walks(edges,
          steps = opts.getOrElse("steps", "4").toInt)
        val result = opts.get("window") match {
          case Some(win) =>
            graft.bel.RandomWalks.skipGramPairs(w, win.toInt)
          case None => w
        }
        result.write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} rows -> $out")
      case "neg-samples" => // KG negative sampling (g11)
        val out = opts.getOrElse("out", s"$warehouse/_negatives")
        val triples = opts.get("triples").map(spark.read.parquet(_))
          .getOrElse {
            graft.core.Tables.load(spark, sfDir, "lineitem")
              .select(col("l_orderkey").as("s"), lit("contains").as("r"),
                col("l_partkey").as("o")).distinct()
          }
        val entities = opts.get("entities").map(spark.read.parquet(_))
          .getOrElse(triples.select(col("o").as("e")))
        graft.bel.NegativeSampling.corruptObjects(triples, entities,
          k = opts.getOrElse("k", "2").toInt,
          buckets = opts.getOrElse("buckets", "16").toInt)
          .write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} negatives -> $out")
      case "profile" => // sketch-based corpus profile (a15_sketch_profile)
        val table = opts.getOrElse("table", "events")
        val (key, id, value) =
          if (opts.contains("key")) (opts("key"), opts("id"), opts("value"))
          else table match {
            case "events" => ("event_type", "user_id", "value")
            case "documents" => ("lang", "doc_id", "n_chars")
            case other => sys.error(
              s"unknown table '$other': pass --key/--id/--value for custom inputs")
          }
        val df = spark.read.parquet(opts.getOrElse("input", s"$sfDir/$table.parquet"))
        graft.ops.Profile.sketchProfile(df, key, id, value)
          .orderBy(key).collect()
          .foreach(r => println(r.mkString("\t")))
      case "compact-ingest" => // streaming-append maintenance (k22)
        val out = opts.getOrElse("out", s"$warehouse/_curated")
        val idxPath = opts.getOrElse("index", s"$out/idx")
        val files = opts.getOrElse("files", "8").toInt
        val (nc, ni) = graft.streaming.CuratePipeline.compactIngest(
          spark, idxPath, out, files,
          opts.getOrElse("id-col", "doc_id"))
        println(s"compacted corpus -> $nc files, index -> $ni files")
      case "snapshot-diff" => // dataset versioning (k23_snapshot_diff)
        val oldP = opts.getOrElse("old", docsPath)
        val newP = opts.getOrElse("new",
          sys.error("snapshot-diff needs --new <path>"))
        val keys = opts.getOrElse("keys", "doc_id")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val oldDf = spark.read.parquet(oldP)
        val cmp = opts.get("compare")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(oldDf.columns.toSeq.filterNot(keys.contains))
        val diff = graft.ops.Cdc.snapshotDiff(oldDf,
          spark.read.parquet(newP), keys, cmp)
        opts.get("out") match {
          case Some(o) =>
            diff.write.mode("overwrite").parquet(o)
            println(s"wrote ${spark.read.parquet(o).count()} changes -> $o")
          case None =>
            diff.groupBy("change").agg(count(lit(1)).as("n"))
              .orderBy("change").collect()
              .foreach(r => println(r.mkString("\t")))
        }
      case "quantiles" => // exact group quantiles (o12_group_quantiles)
        val in = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.load(spark, sfDir, "lineitem"))
        val keys = opts.getOrElse("keys", "l_returnflag")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val value = opts.getOrElse("value", "l_quantity")
        val ps = opts.getOrElse("ps", "0.25,0.5,0.9")
          .split(",").map(_.trim.toDouble).toSeq
        graft.ops.Rank.groupQuantiles(in, keys, value, ps)
          .orderBy(keys.map(col) :+ col("p"): _*).collect()
          .foreach(r => println(r.mkString("\t")))
      case "wav-features" => // audio decode features (mm_decode_wav)
        val in = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.ops.Multimodal.wavEncode(
            spark.read.parquet(docsPath)))
        val feats = graft.ops.Multimodal.decodeWav(in)
        val rejects = graft.ops.Multimodal.decodeWavRejects(in)
        feats.orderBy("doc_id")
          .limit(opts.getOrElse("top", "10").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
        println(s"${feats.count()} decoded, ${rejects.count()} rejected")
      case "psl-domain" => // registrable domains (t_url_domain_psl)
        val hosts = opts.get("input").map(spark.read.parquet(_))
          .getOrElse {
            import spark.implicits._
            opts.getOrElse("hosts", "www.example.co.uk,pages.github.io")
              .split(",").map(_.trim).filter(_.nonEmpty).toSeq.toDF("host")
          }
        val suffixes = opts.get("suffixes").map(spark.read.parquet(_))
          .getOrElse {
            import spark.implicits._
            Seq("com", "org", "net", "uk", "co.uk", "ac.uk", "io",
              "github.io", "jp", "ac.jp", "us", "ma.us", "k12.ma.us",
              "pvt.k12.ma.us").toDF("suffix")
          }
        graft.ops.TextAnalysis.urlDomainWithSuffixes(hosts, suffixes)
          .orderBy("host").collect()
          .foreach(r => println(r.mkString("\t")))
      case "pca" => // embedding PCA / whitening (s_pca_gram, s_pca_invariants)
        val vecs = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.load(spark, sfDir, "embeddings"))
        val k = opts.getOrElse("k", "8").toInt
        val model = graft.ops.Pca.fit(vecs)
        println(s"dim=${model.dim} top-$k eigvals: " +
          model.eigvals.take(k).map(v => f"$v%.6g").mkString(", "))
        val out = if (opts.contains("whiten"))
          graft.ops.Pca.whiten(vecs, model, k)
        else graft.ops.Pca.project(vecs, model, k)
        opts.get("out") match {
          case Some(o) =>
            out.write.mode("overwrite").parquet(o)
            println(s"wrote ${spark.read.parquet(o).count()} vectors -> $o")
          case None => out.limit(3).collect()
            .foreach(r => println(r.mkString("\t")))
        }
      case "sample" => // weighted priority sampling (o13_weighted_sample)
        val docsDf = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.load(spark, sfDir, "documents"))
        val k = opts.getOrElse("k", "25").toInt
        val w = opts.getOrElse("weight", "n_chars")
        graft.ops.TrainingPrep.prioritySample(docsDf, k, col(w))
          .orderBy("doc_id").collect()
          .foreach(r => println(r.mkString("\t")))
      case "transitions" => // Markov transition matrix (a39_transitions)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        graft.ops.Funnel.transitionCounts(ev)
          .orderBy("from_type", "to_type").collect()
          .foreach(r => println(r.mkString("\t")))
      case "classify" => // nearest-centroid labeling (s_centroid_classify)
        val vecsDf = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.load(spark, sfDir, "embeddings"))
        // one job for both counts — the assignment scan runs once
        val st = graft.ops.Similarity.centroidClassify(vecsDf)
          .agg(count(lit(1)).as("n"),
            sum(when(col("label") === col("label_pred"), 1L)
              .otherwise(0L)).as("agree"))
          .collect()(0)
        println(s"${st.getLong(1)} / ${st.getLong(0)} assigned to " +
          "their own class")
      case "histogram" => // equi-width distribution (a42_histogram)
        val in = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        graft.ops.Profile.equiWidthHistogram(in,
            opts.getOrElse("key", "event_type"),
            opts.getOrElse("value", "value"),
            opts.getOrElse("width", "25.0").toDouble)
          .orderBy(col(opts.getOrElse("key", "event_type")), col("bin"))
          .collect().foreach(r => println(r.mkString("\t")))
      case "winsorize" => // per-group quantile clipping (o14_winsorize)
        val in = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.load(spark, sfDir, "lineitem")
            .select("l_orderkey", "l_returnflag", "l_quantity"))
        val keys = opts.getOrElse("keys", "l_returnflag")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        graft.ops.Rank.winsorize(in, keys,
            opts.getOrElse("value", "l_quantity"),
            lo = opts.getOrElse("lo", "0.05").toDouble,
            hi = opts.getOrElse("hi", "0.95").toDouble)
          .limit(opts.getOrElse("top", "10").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
      case "gram-maintain" => // streaming PCA upkeep (w_stream_pca)
        val vecsDf = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.load(spark, sfDir, "embeddings"))
        val out = opts.getOrElse("out", "/tmp/graft_gram_index")
        graft.streaming.PcaStream.writeDelta(vecsDf, out,
          batchId = opts.getOrElse("batch", "-1").toLong)
        val g = graft.streaming.PcaStream.readGram(spark, out)
        println(s"${g.count()} moment cells in $out")
      case "ktruss" => // cohesive-subgraph extraction (a40_ktruss)
        val ed = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(Queries.coPurchaseEdges(spark, sfDir))
        if (opts.contains("decompose")) {
          graft.bel.KTruss.trussness(ed,
              maxK = opts.getOrElse("max-k", "16").toInt,
              maxRounds = opts.getOrElse("rounds", "50").toInt)
            .groupBy("trussness").agg(count(lit(1)).as("edges"))
            .orderBy("trussness").collect()
            .foreach(r => println(r.mkString("\t")))
        } else {
          val truss = graft.bel.KTruss.run(ed,
            k = opts.getOrElse("k", "3").toInt,
            maxRounds = opts.getOrElse("rounds", "50").toInt)
          println(s"${truss.count()} edges in the " +
            s"${opts.getOrElse("k", "3")}-truss")
        }
      case "assortativity" => // degree mixing (a41_assortativity)
        val ed = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(Queries.coPurchaseEdges(spark, sfDir))
        graft.bel.Assortativity.degreeAssortativity(ed).collect()
          .foreach(r => println(r.mkString("\t")))
      case "wav-energy" => // windowed audio energy (mm_wav_energy)
        val in = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.ops.Multimodal.wavEncode(
            spark.read.parquet(docsPath)))
        graft.ops.Multimodal.wavEnergyWindows(in,
            windowFrames = opts.getOrElse("window", "8").toInt)
          .orderBy("doc_id", "win")
          .limit(opts.getOrElse("top", "12").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
      case "anomalies" => // rolling z-score outliers (w_anomaly_zscore)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        // one window job total: persist the flags, reuse for the
        // listing and both counts
        val flagged = graft.ops.Anomaly.flagOutliers(ev,
          n = opts.getOrElse("n", "20").toInt,
          k = opts.getOrElse("sigmas", "3").toInt).persist()
        try {
          val hits = flagged.filter(col("is_outlier"))
          hits.orderBy("user_id", "event_id")
            .limit(opts.getOrElse("top", "10").toInt).collect()
            .foreach(r => println(r.mkString("\t")))
          println(s"${hits.count()} outliers of ${flagged.count()} events")
        } finally flagged.unpersist()
      case "scc" => // strongly connected components (a45_scc)
        val ed = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(GraphGates.sccEdges(spark, sfDir))
        val scc = graft.bel.Scc.run(ed).persist()
        try {
          scc.groupBy("component").agg(count(lit(1)).as("members"))
            .orderBy(col("members").desc)
            .limit(opts.getOrElse("top", "10").toInt).collect()
            .foreach(r => println(r.mkString("\t")))
          println(s"${scc.select("component").distinct().count()} SCCs " +
            s"over ${scc.count()} nodes")
        } finally scc.unpersist()
      case "hits" => // hubs and authorities (a47_hits)
        val ed = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(Queries.coPurchaseEdges(spark, sfDir))
        val ha = graft.bel.Hits.run(ed,
          iterations = opts.getOrElse("iterations", "8").toInt).persist()
        try {
          println("top authorities:")
          ha.orderBy(col("authority").desc, col("node"))
            .limit(opts.getOrElse("top", "10").toInt).collect()
            .foreach(r => println(r.mkString("\t")))
          println("top hubs:")
          ha.orderBy(col("hub").desc, col("node"))
            .limit(opts.getOrElse("top", "10").toInt).collect()
            .foreach(r => println(r.mkString("\t")))
        } finally ha.unpersist()
      case "seasonal-anomalies" => // hour-of-day baselines (w_seasonal_*)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        val flagged = graft.ops.Anomaly.flagSeasonal(ev,
          graft.ops.Temporal.seasonalProfile(ev),
          k = opts.getOrElse("sigmas", "3").toInt).persist()
        try {
          val hits = flagged.filter(col("is_outlier"))
          hits.orderBy("event_type", "event_id")
            .limit(opts.getOrElse("top", "10").toInt).collect()
            .foreach(r => println(r.mkString("\t")))
          println(s"${hits.count()} seasonal outliers of " +
            s"${flagged.count()} events")
        } finally flagged.unpersist()
      case "heavy-hitters" => // Misra-Gries summary (o18; top-values is exact)
        val docs = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(spark.read.parquet(docsPath))
        val toks = Queries.docTokens(docs)
        graft.ops.Profile.heavyHitters(toks.withColumn("g", lit(1)),
            Seq("g"), "tok", opts.getOrElse("k", "32").toInt)
          .select(explode(col("hits")).as("h"))
          .select(col("h.item"), col("h.est"))
          .limit(opts.getOrElse("top", "20").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
      case "containment-pairs" => // near-superset dedup (d_containment_pairs)
        val docs = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(spark.read.parquet(docsPath))
        graft.ops.Dedup.containmentPairs(docs,
            n = opts.getOrElse("n", "3").toInt,
            threshold = opts.getOrElse("threshold", "0.9").toDouble)
          .orderBy(col("c_a_in_b").desc, col("id_a"), col("id_b"))
          .limit(opts.getOrElse("top", "20").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
      case "group-sample" => // per-group uniform k-sample (o17)
        val docs = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        graft.ops.TrainingPrep.groupSample(docs,
            keys = opts.getOrElse("keys", "event_type").split(",").toSeq,
            k = opts.getOrElse("k", "5").toInt,
            idCol = opts.getOrElse("id", "event_id")).collect()
          .foreach(r => println(r.mkString("\t")))
      case "gaps" => // missing-data intervals (j22_gaps)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        val g = graft.ops.Temporal.gaps(ev,
          minGapSeconds = opts.getOrElse("min-gap", "7200").toLong,
          keyCol = opts.getOrElse("key", "user_id")).persist()
        try {
          g.orderBy(col("gap_s").desc)
            .limit(opts.getOrElse("top", "10").toInt).collect()
            .foreach(r => println(r.mkString("\t")))
          println(s"${g.count()} gaps")
        } finally g.unpersist()
      case "neardup-ingest" => // streaming near-dup index fold (w_stream_neardup)
        val batch = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(spark.read.parquet(docsPath))
        val index = opts.getOrElse("index", "/tmp/graft_cli_mhidx")
        val out = opts.getOrElse("out", "/tmp/graft_cli_neardup_out")
        val n = graft.streaming.NearDupStream.nearDupBatch(
          spark, index, out, batch,
          batchId = opts.get("batch-id").map(_.toLong),
          threshold = opts.getOrElse("threshold", "0.8").toDouble)
        println(s"$n accepted (novel) documents; index: $index")
      case "stream-quantiles" => // KLL fold-at-read profile (w_stream_quantiles)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        val index = opts.getOrElse("index", "/tmp/graft_cli_kll")
        opts.get("batch-id").foreach { bid =>
          graft.streaming.ProfileStream.writeQuantileDelta(ev, index,
            bid.toLong, opts.getOrElse("key", "event_type"),
            opts.getOrElse("value", "value"))
        }
        // fold-at-read needs at least one landed delta: without
        // --batch-id on a fresh index, say so instead of dying with a
        // raw PATH_NOT_FOUND from the parquet scan
        if (!graft.core.Fs.exists(spark, index))
          System.err.println(s"stream-quantiles: no KLL index at $index " +
            "— pass --batch-id <id> to land this input's delta first " +
            "(or --index <path> to read an existing one)")
        else
          graft.streaming.ProfileStream.readQuantiles(spark, index,
              opts.getOrElse("key", "event_type")).collect()
            .foreach(r => println(r.mkString("\t")))
      case "cube" => // multi-level aggregation (a48_cube / a49_grouping_sets)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        val dims = opts.getOrElse("keys", "event_type,user_id").split(",")
        ev.createOrReplaceTempView("graft_cli_cube_in")
        spark.sql(s"""SELECT ${dims.mkString(", ")},
            ${dims.map(d => s"grouping($d) AS g_$d").mkString(", ")},
            count(*) AS n
          FROM graft_cli_cube_in GROUP BY CUBE (${dims.mkString(", ")})""")
          .orderBy(dims.map(col).toIndexedSeq: _*)
          .limit(opts.getOrElse("top", "20").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
      case "downsample" => // OHLC time buckets (j23_downsample)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        graft.ops.Temporal.downsample(ev,
            bucketSeconds = opts.getOrElse("bucket", "3600").toLong,
            keyCol = opts.getOrElse("key", "event_type"))
          .orderBy(col(opts.getOrElse("key", "event_type")),
            col("bucket_start"))
          .limit(opts.getOrElse("top", "20").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
      case "ewma" => // time-decay rolling stats (w_ewma)
        val ev = opts.get("input").map(spark.read.parquet(_))
          .getOrElse(graft.core.Tables.events(spark, sfDir))
        graft.ops.Temporal.ewma(ev,
            alpha = opts.getOrElse("alpha", "0.25").toDouble,
            keyCol = opts.getOrElse("key", "user_id"))
          .orderBy(col(opts.getOrElse("key", "user_id")), col("ts"))
          .limit(opts.getOrElse("top", "20").toInt).collect()
          .foreach(r => println(r.mkString("\t")))
      case other =>
        println(s"unknown command: $other")
        println("commands: populate summarize drop actions sheet belns " +
          "edgelist nodelink triples er curate-v2 ivfadc search dup-spans " +
          "chunk profile bpe-train bpe-encode hybrid-search pagerank " +
          "semantic-dedup kcore index-build dedup-incremental " +
          "quality-filter top-values lm-score funnel bfs scd2 " +
          "cosine-pairs walks neg-samples prepare-training compact " +
          "zorder export-jsonl drift asof resample cc-incremental expect " +
          "compact-ingest snapshot-diff quantiles wav-features psl-domain " +
          "pca sample transitions anomalies ktruss assortativity " +
          "wav-energy winsorize gram-maintain classify histogram " +
          "scc hits seasonal-anomalies heavy-hitters containment-pairs " +
          "group-sample gaps neardup-ingest stream-quantiles cube ewma " +
          "downsample")
        if (other != "help") sys.exit(2)
    }
    if (cmd != "help" && !preExisting) spark.stop()
  }
}
