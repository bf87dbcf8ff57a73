package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries._
import graft.core.Tables
import graft.ops.Similarity

/** Similarity-search gates: brute-force and ANN top-k, IVF indexes and
  * their maintenance, product quantization, PCA (`ops.Similarity`,
  * `ops.IvfIndex`, `ops.ProductQuantization`, `ops.Pca`) and BM25 /
  * cosine text retrieval (`ops.TextSearch`). */
object SimilarityGates {
  /** One IVF index build per (session, sf dir) — index once, query many. */
  private val ivfIndexMemo = new GateMemo[SparkSession, Unit]

  private val ivfadcMemo = new GateMemo[SparkSession, Unit]

  /** Clustered corpus in the regime ANN serves (same construction as
    * s_lsh_recall / d_embed_pairs): every base vector gets a perturbed
    * twin, so each query's true nearest non-self neighbor IS its twin. */
  private def twinCorpus(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"),
      graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
    val twins = base.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"),
        x => x + lit(0.001) * sin(col("vec_id") * 7)).as("embedding"))
    base.unionByName(twins)
  }

  /** (staleness of a same-distribution append, staleness of a shifted
    * append) — memoized per (session, sf dir): two index builds per run. */
  private val stalenessMemo = new GateMemo[SparkSession, (Double, Double)]

  private val ivfBenchMemo = new GateMemo[SparkSession, Unit]

  private val ivfRebuildMemo =
    new GateMemo[SparkSession, (Boolean, Boolean, Boolean, Boolean)]

  /** Memoized brute mutual-NN truth pairs per (session, sf dir) — the
    * eventsFeed/ivfBenchMemo harness discipline: the truth side of the
    * honest-recall gate is a deterministic O(N²) pass whose result
    * never changes within a session, so bench reruns pay it once. */
  private val mutualTruthMemo = new GateMemo[SparkSession, Seq[(Long, Long)]]

  private def mutualTruthPairs(s: SparkSession, d: String,
                               corpus: DataFrame): Seq[(Long, Long)] = {
    mutualTruthMemo(s, d) {
      import s.implicits._
      graft.ops.Similarity.mutualTopOne(corpus)
        .select("a", "b").as[(Long, Long)].collect().toSeq
    }
  }

  private val bruteTopKSql: String =
    """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 8
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos_raw
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, id, cos_raw, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos_raw DESC, id) AS BIGINT)
        |    AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, id, round(cos_raw, 6) AS cosine FROM ranked
        |WHERE rank <= 4
        |""".stripMargin

  /** One row `(n_hit, n_true)`: how many of the `truth` (query_id, id)
    * pairs `got` recovers. */
  private def recallCounts(truth: DataFrame, got: DataFrame): DataFrame =
    truth.join(got, Seq("query_id", "id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))

  val gates: Seq[Gate] = Seq(
    // simHash itself is gated by d_simhash_invariant
    // (perturbed-twin Hamming + distinctness, oracle-checked) — the raw
    // engine-hash dump had no oracle by construction.

    // --- Similarity over embeddings ----------------------------------------
    Gate("s_brute_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(emb, queriesDf, k = 4)
        .withColumn("cosine", round(col("cosine"), 6))
    },
      bruteTopKSql),

    // --- IVF ANN in exact mode (nProbe == nList ⇒ brute force) ------------
    Gate("s_ivf_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.ivfTopK(emb, queriesDf, k = 4,
        nList = 8, nProbe = 8)
        .withColumn("cosine", round(col("cosine"), 6))
    },
      // exact mode: IVF with nProbe == nList scores every pair, so the
      // brute-force oracle pins it exactly
      bruteTopKSql),

    // --- Persisted IVF index: partition-pruned probing, exact-mode oracle -
    // Built on 3/4 of the corpus, GROWN to full via IvfIndex.append — the
    // exact-mode oracle then also gates the incremental-append path (a
    // dropped/duplicated/rewritten row would break the brute-force hash).
    Gate("s_ivf_index_topk", (s, d) => {
      val path = s"/tmp/graft_ivfidx_${sfTag(d)}"
      ivfIndexMemo(s, d) {
        val emb = t(s, d, "embeddings")
        graft.ops.IvfIndex.build(emb.filter(col("vec_id") % 4 =!= 0), path,
          nList = 8)
        graft.ops.IvfIndex.append(s, path,
          emb.filter(col("vec_id") % 4 === 0))
        ()
      }
      val queriesDf = t(s, d, "embeddings").filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.IvfIndex.topK(s, path, queriesDf, k = 4, nProbe = 8)
        .withColumn("cosine", round(col("cosine"), 6))
    },
      // exact mode (nProbe == nList): every cell probed ⇒ brute-force oracle
      bruteTopKSql),

    // --- Quality gate for LSH ANN (was `no_oracle` s_lsh_topk) -----------
    // Test corpus embeddings are random (nearest non-self cosine ≈ 0.5), which
    // is NOT the regime LSH serves — so the gate synthesizes the near-dup
    // regime exactly like d_embed_pairs: every vector gets a perturbed
    // twin, the true top-1 of each query IS its twin, and lshTopK must
    // recover ≥ 95% of brute-force's top-1 picks. Probed recall on the
    // test corpora: 16/16 at sf0.01 and sf0.1.
    Gate("s_lsh_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val base = emb.select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
      val twins = base.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.001) * sin(col("vec_id") * 7)).as("embedding"))
      val corpus = base.unionByName(twins)
      val qs = base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val brute = graft.ops.Similarity.bruteForceTopK(corpus, qs, k = 1)
        .select("query_id", "id")
      val lsh = graft.ops.Similarity.lshTopK(corpus, qs, k = 1)
        .select("query_id", "id")
      recallCounts(brute, lsh).select(
        (col("n_hit").cast("double") / col("n_true") >= 0.95)
          .as("recall_ok"))
    },
      "SELECT true AS recall_ok"),

    // --- Refined-IVF recall gate ------------------------------------------
    // nProbe << nList so cell assignment actually decides recall; the gate
    // holds because a twin sits ~1e-3 from its query and therefore in the
    // query's own top-probed Voronoi cell under EITHER centroid set.
    Gate("s_ivf_refined_recall", (s, d) => {
      val corpus = twinCorpus(t(s, d, "embeddings"))
      val qs = corpus.filter(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val truth = graft.ops.Similarity.bruteForceTopK(corpus, qs, k = 1)
        .select("query_id", "id")
      def hits(refineIterations: Int): DataFrame =
        truth.join(
          graft.ops.Similarity.ivfTopK(corpus, qs, k = 1,
            nList = 8, nProbe = 2, refineIterations = refineIterations)
            .select("query_id", "id"),
          Seq("query_id", "id"), "left_semi")
          .agg(count(lit(1)).as("n"))
      val refined = hits(3).select(col("n").as("n_refined"))
      val unrefined = hits(0).select(col("n").as("n_unrefined"))
      val total = truth.agg(count(lit(1)).as("n_true"))
      refined.crossJoin(unrefined).crossJoin(total).select(
        (col("n_refined") >= col("n_unrefined")).as("refined_not_worse"),
        (col("n_refined").cast("double") / col("n_true") >= 0.95)
          .as("refined_recall_ok"))
    },
      "SELECT true AS refined_not_worse, true AS refined_recall_ok"),

    // --- IVFADC recall gate -----------------------------------------------
    // The full composition: build a persisted index carrying PQ codes
    // (grown via append so the appended-row encode path is exercised
    // too), then query through partition-pruned ADC + exact re-rank.
    // Twin top-1 recovery ≥ 0.9 at nProbe << nList.
    Gate("s_ivfadc_recall", (s, d) => {
      val corpus = twinCorpus(t(s, d, "embeddings"))
      val path = s"/tmp/graft_ivfadc_${sfTag(d)}"
      ivfadcMemo(s, d) {
        rmrf(s, path)
        graft.ops.IvfIndex.build(corpus.filter(col("vec_id") % 5 =!= 0),
          path, nList = 8, pqM = 8, pqK = 16)
        graft.ops.IvfIndex.append(s, path,
          corpus.filter(col("vec_id") % 5 === 0))
        ()
      }
      val qs = corpus.filter(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val truth = graft.ops.Similarity.bruteForceTopK(corpus, qs, k = 1)
        .select("query_id", "id")
      val got = graft.ops.IvfIndex.topKAdc(s, path, qs, k = 1, nProbe = 2,
        rerankFrom = 32).select("query_id", "id")
      recallCounts(truth, got).select(
        (col("n_hit").cast("double") / col("n_true") >= 0.9)
          .as("ivfadc_recall_ok"))
    },
      "SELECT true AS ivfadc_recall_ok"),

    // --- Product-quantization recall gate ---------------------------------
    // PQ-ADC with exact re-rank must recover each query's true nearest
    // neighbor (its planted twin) and encode every row to exactly M
    // codes. Code VALUES depend on the trained codebooks — invariant-
    // gated, like the other approximate ops.
    Gate("s_pq_recall", (s, d) => {
      import graft.ops.ProductQuantization
      val corpus = twinCorpus(t(s, d, "embeddings"))
      val qs = corpus.filter(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val truth = graft.ops.Similarity.bruteForceTopK(corpus, qs, k = 1)
        .select("query_id", "id")
      val cb = ProductQuantization.train(corpus, m = 8, k = 16,
        iterations = 4)
      val pq = ProductQuantization.adcTopK(corpus, cb, qs, k = 1,
        rerankFrom = 32).select("query_id", "id")
      val codesOk = ProductQuantization.encode(corpus, cb)
        .agg(min(size(col("codes"))).as("mn"),
          max(size(col("codes"))).as("mx"))
      recallCounts(truth, pq).crossJoin(codesOk).select(
        (col("n_hit").cast("double") / col("n_true") >= 0.9)
          .as("pq_recall_ok"),
        (col("mn") === 8 && col("mx") === 8).as("pq_codes_ok"))
    },
      "SELECT true AS pq_recall_ok, true AS pq_codes_ok"),

    // --- Radius similarity search (value-exact oracle) -----------------------
    // Everything with cosine >= 0.25 of each probe vector (p99 of the
    // synthetic pair distribution is ~0.29, so the band is selective but
    // populated); exact cosine on both engines, rounded 6dp.
    Gate("s_radius_search", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.radiusSearch(emb, queriesDf, threshold = 0.25)
        .withColumn("cosine", round(col("cosine"), 6))
    },
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 8
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos_raw
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        |)
        |SELECT query_id, id, round(cos_raw, 6) AS cosine FROM scored
        |WHERE cos_raw >= 0.25
        |""".stripMargin),

    // --- IVF-probed radius search, exact mode (value-exact oracle) -----------
    // nProbe == nList: every cell probed, so the probed plan must equal
    // brute-force radius search exactly — same oracle SQL. Recall at
    // nProbe < nList is the standard IVF tradeoff (gated for top-k by
    // s_ivf_refined_recall).
    Gate("s_ivf_radius", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queriesDf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.ivfRadiusSearch(emb, queriesDf,
        threshold = 0.25, nList = 8, nProbe = 8)
        .withColumn("cosine", round(col("cosine"), 6))
    },
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 8
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos_raw
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        |)
        |SELECT query_id, id, round(cos_raw, 6) AS cosine FROM scored
        |WHERE cos_raw >= 0.25
        |""".stripMargin),

    // --- BM25 full-text ranking (value-exact oracle) -------------------------
    // Every formula input (tf, df, dl, N, avgdl) is integer-derived, so
    // the 4-dp score is engine-independent — the oracle recomputes the
    // whole Okapi pipeline in SQL.
    Gate("t_bm25", (s, d) =>
      graft.ops.TextSearch.bm25(t(s, d, "documents"),
        Seq("spark", "vector", "stream")),
      """WITH norm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |    AS t
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, t, len(string_split(t, ' ')) AS dl FROM norm
        |), stats AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM d
        |), ex AS (
        |  SELECT doc_id, dl, unnest(string_split(t, ' ')) AS word FROM d
        |), tf AS (
        |  SELECT doc_id, dl, word, count(*) AS tf FROM ex
        |  WHERE word IN ('spark', 'vector', 'stream') GROUP BY 1, 2, 3
        |), idf AS (
        |  SELECT word, ln(1 + (n - count(*) + 0.5) / (count(*) + 0.5)) AS idf
        |  FROM tf, stats GROUP BY word, n
        |)
        |SELECT doc_id, count(*) AS n_terms_hit,
        |  round(sum(idf * tf * 2.2 /
        |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
        |FROM tf JOIN idf USING (word), stats
        |GROUP BY doc_id
        |""".stripMargin),

    // --- Hybrid retrieval: reciprocal-rank fusion ----------------------------
    // One query, two incommensurable rankers — BM25 over the document
    // text and exact cosine over the aligned embedding (doc_id ≡ vec_id
    // in the corpus) — fused rank-wise. Value-exact oracle: both ranked
    // CTE lists use the same (score desc, id) tie-break as the operator,
    // and 1/(60+rank) sums over ≤2 terms are order-free IEEE doubles.
    Gate("s_rrf_fusion", (s, d) => {
      import graft.ops.{Similarity, TextSearch}
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(lit(0L).as("query_id"), col("embedding"))
      val dense = Similarity.bruteForceTopK(emb, qv, k = 50)
        .select(col("query_id"), col("id"), col("cosine").as("score"))
      val sparse = TextSearch.bm25(t(s, d, "documents"),
        Seq("spark", "vector", "stream"))
        .select(lit(0L).as("query_id"), col("doc_id").as("id"),
          col("bm25").as("score"))
      TextSearch.rrfFuse(Seq(sparse, dense))
    },
      """WITH norm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |    AS t
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, t, len(string_split(t, ' ')) AS dl FROM norm
        |), stats AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |  FROM d
        |), ex AS (
        |  SELECT doc_id, dl, unnest(string_split(t, ' ')) AS word FROM d
        |), tf AS (
        |  SELECT doc_id, dl, word, count(*) AS tf FROM ex
        |  WHERE word IN ('spark', 'vector', 'stream') GROUP BY 1, 2, 3
        |), idf AS (
        |  SELECT word, ln(1 + (n - count(*) + 0.5) / (count(*) + 0.5)) AS idf
        |  FROM tf, stats GROUP BY word, n
        |), bm AS (
        |  SELECT doc_id AS id, round(sum(idf * tf * 2.2 /
        |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        |  FROM tf JOIN idf USING (word), stats GROUP BY doc_id
        |), bmr AS (
        |  SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank
        |  FROM bm
        |), q AS (
        |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        |), scored AS (
        |  SELECT e.vec_id AS id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS c
        |  FROM q, embeddings e WHERE e.vec_id <> 0
        |), dr AS (
        |  SELECT id, row_number() OVER (ORDER BY c DESC, id) AS rank
        |  FROM scored
        |), u AS (
        |  SELECT id, rank FROM bmr
        |  UNION ALL SELECT id, rank FROM dr WHERE rank <= 50
        |)
        |SELECT CAST(0 AS BIGINT) AS query_id, id, count(*) AS n_lists,
        |  sum(CAST(1 AS DOUBLE) / (60 + rank)) AS rrf
        |FROM u GROUP BY id
        |""".stripMargin),

    // --- Index staleness is monotone in drift --------------------------------
    // The index is built on a CLUSTERED corpus (8 tight Voronoi-friendly
    // clusters derived from anchor vectors — the regime an IVF index
    // serves; on an isotropic corpus mean-assign-cosine is ~0.2 for ANY
    // distribution, so no drift metric could move). Appending more
    // in-cluster members must read ≈ no drift; appending the RAW
    // isotropic vectors (off this index's manifold) must read decisively
    // stale — rebuild triggers hang off this separation.
    Gate("s_ivf_staleness", (s, d) => {
      import s.implicits._
      val (same, shifted) = stalenessMemo(s, d) {
        val emb = t(s, d, "embeddings").select(col("vec_id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
        val anchors = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("k"), col("embedding").as("anchor")))
        // cluster key from vec_id div 2: independent of the even/odd
        // build/append split below, so BOTH halves cover all 8 clusters
        // (a plain vec_id % 8 would send even ids to even clusters only —
        // the "in-distribution" append would then be genuine drift)
        val clustered = emb.filter(col("vec_id") >= 8)
          .withColumn("k", expr("(vec_id div 2) % 8"))
          .join(anchors, "k")
          .select(col("vec_id"),
            zip_with(col("anchor"), col("embedding"),
              (a, x) => a + lit(0.05) * x).as("embedding"))
        val base = clustered.filter(col("vec_id") % 2 === 0)
        val addIn = clustered.filter(col("vec_id") % 2 === 1)
        val addOff = emb.filter(col("vec_id") >= 8 && col("vec_id") % 2 === 1)
        val tag = sfTag(d)
        def stalenessOf(suffix: String, rows: DataFrame): Double = {
          val path = s"/tmp/graft_staleness_${tag}_$suffix"
          rmrf(s, path)
          graft.ops.IvfIndex.build(base, path, nList = 8)
          graft.ops.IvfIndex.append(s, path, rows).staleness
        }
        (stalenessOf("same", addIn), stalenessOf("off", addOff))
      }
      Seq((same, shifted)).toDF("st_same", "st_off").select(
        (col("st_off") > col("st_same") + 0.3).as("drift_separates"),
        (abs(col("st_same")) < 0.05).as("in_dist_near_zero"))
    },
      "SELECT true AS drift_separates, true AS in_dist_near_zero"),

    // --- Count-vector cosine near-dup pairs ---------------------------------
    // Word-trigram tf vectors (the sparse unit for this corpus's 31-word
    // vocabulary), df cap 50, cosine ≥ 1/2 — the planted near-dup
    // families pair up; every emitted measure is an integer so the gate
    // is value-exact, not approximate.
    Gate("d_cosine_pairs", (s, d) =>
      graft.ops.TextSearch.cosinePairs(
        graft.core.Tables.load(s, d, "documents"),
        num = 1, den = 2, dfCap = 50, ngram = 3),
      """WITH t AS (
        |  SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws) - 2),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM t
        |), tf AS (
        |  SELECT g, doc_id, count(*) AS tf FROM u GROUP BY 1, 2
        |), keep AS (
        |  SELECT g FROM tf GROUP BY g HAVING count(*) <= 50
        |), k AS (
        |  SELECT tf.* FROM tf SEMI JOIN keep USING (g)
        |), norms AS (
        |  SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
        |  FROM k GROUP BY 1
        |), dots AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM k a JOIN k b USING (g)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT d1, d2, dot, na.n2 AS n1sq, nb.n2 AS n2sq
        |FROM dots
        |JOIN norms na ON na.doc_id = d1
        |JOIN norms nb ON nb.doc_id = d2
        |WHERE 4 * dot * dot >= na.n2 * nb.n2
        |""".stripMargin),

    // --- Bench-scale IVF recall@10 -------------------------------------------
    // The persisted IVF index queried over the RAW embeddings corpus (no
    // planted twins): recall@10 >= 0.9 for 32 queries at the STATED
    // budget nList = 16 / nProbe = 12 / 3 refine iterations, truth from
    // the exact brute-force scan. The corpus is near-uniform (intra-
    // label fraction of true top-10 neighbors is ~0.11, measured), so
    // this budget is what honest 0.9 recall costs on it — the gate
    // exists to catch centroid-count/probe-budget rot that the planted-
    // twin invariant gates cannot see (measured margin: recall 0.93 at
    // both sf0.01 and sf0.1).
    Gate("s_ivf_bench_recall", (s, d) => {
      val corpus = t(s, d, "embeddings").select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
      val path = s"/tmp/graft_ivfbench_${sfTag(d)}"
      ivfBenchMemo(s, d) {
          rmrf(s, path)
          graft.ops.IvfIndex.build(corpus, path, nList = 16,
            refineIterations = 3)
          ()
        }
      val qs = corpus.filter(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val truth = graft.ops.Similarity.bruteForceTopK(corpus, qs, k = 10)
        .select("query_id", "id")
      val got = graft.ops.IvfIndex.topK(s, path, qs, k = 10, nProbe = 12)
        .select("query_id", "id")
      recallCounts(truth, got).select(
        (col("n_hit").cast("double") / col("n_true") >= 0.9)
          .as("recall_ok"),
        (col("n_true") === 320).as("truth_complete"))
    },
      "SELECT true AS recall_ok, true AS truth_complete"),

    // --- IVF index maintenance: staleness-triggered rebuild -----------------
    // Clustered corpus (16 anchor cells); the index is built on cells
    // 0–7 only, then an append arrives entirely from cells 8–15 — real
    // distribution drift against the frozen centroids. The gate pins the
    // full maintenance loop: drift is DETECTED (append staleness over
    // the stated 0.1), the threshold TRIGGERS rebuildIfStale (layout
    // drift > 0.05), the rebuild RESTORES fit (positive improvement),
    // and recall@10 at the bench budget (nProbe 12 of nList 16) still
    // holds on the grown corpus vs brute-force truth.
    // (an 8-partition withShufflePartitions scoping was MEASURED NEUTRAL
    // here — 9.3 s vs 10.3 s single runs, within machine noise: the cost
    // is the ~10 sequential build/fit/rebuild/recall jobs, not exchange
    // width — so the gate keeps session defaults, the a28 discipline)
    Gate("s_ivf_rebuild", (s, d) => {
      import s.implicits._
      val (drift, fired, restored, recallOk) =
        ivfRebuildMemo(s, d) {
          val emb = t(s, d, "embeddings").select(col("vec_id"),
            graft.functions.Vectors.toDouble(col("embedding"))
              .as("embedding"))
          val anchors = broadcast(emb.filter(col("vec_id") < 16)
            .select((col("vec_id") % 16).as("k"),
              col("embedding").as("anchor")))
          val clustered = emb.filter(col("vec_id") >= 16)
            .withColumn("k", expr("(vec_id div 2) % 16"))
            .join(anchors, "k")
            .select(col("k"), col("vec_id"),
              zip_with(col("anchor"), col("embedding"),
                (a, x) => a + lit(0.05) * x).as("embedding"))
          val base = clustered.filter(col("k") < 8)
            .select("vec_id", "embedding")
          val newCells = clustered.filter(col("k") >= 8)
            .select("vec_id", "embedding")
          val path = s"/tmp/graft_ivfrebuild_${sfTag(d)}"
          rmrf(s, path)
          graft.ops.IvfIndex.build(base, path, nList = 8,
            refineIterations = 2)
          val st = graft.ops.IvfIndex.append(s, path, newCells)
          val rb = graft.ops.IvfIndex.rebuildIfStale(s, path, nList = 16,
            maxDrift = 0.05, refineIterations = 2)
          val corpus = base.unionByName(newCells)
          // TakeOrdered: a bare limit over a shuffle-derived frame is
          // not stable across the several independent actions below
          val qs = corpus.filter(col("vec_id") % 97 === 0)
            .orderBy("vec_id").limit(16)
            .select(col("vec_id").as("query_id"), col("embedding"))
          val truth = graft.ops.Similarity
            .bruteForceTopK(corpus, qs, k = 10).select("query_id", "id")
          val got = graft.ops.IvfIndex
            .topK(s, path, qs, k = 10, nProbe = 12)
            .select("query_id", "id")
          val nHit = truth.join(got, Seq("query_id", "id"), "left_semi")
            .count().toDouble
          val nTrue = truth.count().toDouble
          (st.staleness > 0.1, rb.nonEmpty,
            rb.exists(_.improvement > 0.0), nHit / nTrue >= 0.9)
        }
      Seq((drift, fired, restored, recallOk)).toDF("drift_detected",
        "rebuild_fired", "fit_restored", "recall_ok_after")
    },
      ("SELECT true AS drift_detected, true AS rebuild_fired, " +
        "true AS fit_restored, true AS recall_ok_after")),

    // --- Embedding standardization ------------------------------------------
    // Per-dimension z-score over the corpus (the pre-PQ/IVF feature
    // scaling step): one posexplode aggregation for (mu, sigma) per
    // dimension, then a narrow transform against the broadcast-literal
    // stats. Gate emits EXPLODED (vec_id, dim, z) rows so the compare
    // sorts on the integer (dim, vec_id) prefix, never on float keys;
    // the 1e-9 relative tolerance absorbs the engines' accumulation-
    // order ulps in mu/sigma.
    Gate("s_embed_standardize", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding"))
      graft.ops.Similarity.standardize(emb)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "z")))
    },
      """WITH x AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
        |    unnest(generate_series(1, len(embedding))) AS dimp
        |  FROM embeddings
        |), st AS (
        |  SELECT dimp, avg(e) AS mu, stddev_pop(e) AS sigma
        |  FROM x GROUP BY 1
        |)
        |SELECT x.vec_id, CAST(x.dimp - 1 AS INT) AS dim,
        |  CASE WHEN st.sigma = 0 THEN 0.0
        |    ELSE (x.e - st.mu) / st.sigma END AS z
        |FROM x JOIN st USING (dimp)
        |""".stripMargin),

    // --- PCA: the distributed stage, integer-exact ---------------------------
    // One explode + one map-side-combined hash aggregation produce the
    // d(d+1)/2 quantized second-moment cells — the ONLY corpus-sized
    // work in a PCA fit. floor-quantization (never half-up rounding)
    // keeps the BIGINT sums engine-identical.
    Gate("s_pca_gram", (s, d) =>
      graft.ops.Pca.gramExact(t(s, d, "embeddings")),
      gramSql),

    // --- PCA: the eigensolve stage, invariant-gated ---------------------------
    // The driver-side Jacobi eigensolve is not SQL-expressible; its
    // defining properties are: components orthonormal, spectrum sorted
    // and PSD-nonnegative, trace preserved (Σλ = Σ per-dim variance),
    // and — the whole point of the operator — the whitened corpus has
    // identity covariance. All four checked against the live corpus,
    // the s_lsh_recall boolean posture.
    Gate("s_pca_invariants", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val model = graft.ops.Pca.fit(emb)
      val dm = model.dim
      val comps = model.components
      def dot(a: Array[Double], b: Array[Double]): Double =
        a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
      val orthoOk = (0 until dm).forall(i => (i until dm).forall { j =>
        math.abs(dot(comps(i), comps(j)) - (if (i == j) 1.0 else 0.0)) <
          1e-8
      })
      val eigSortedOk =
        model.eigvals.zip(model.eigvals.tail).forall { case (a, b) =>
          a >= b - 1e-12
        } && model.eigvals.last > -1e-8
      // trace: Σ eigvals == Σ per-dimension population variance
      val varSum = emb
        .select(posexplode(graft.functions.Vectors.toDouble(
          col("embedding"))).as(Seq("dim", "e")))
        .groupBy("dim").agg(var_pop("e").as("v"))
        .agg(sum("v")).collect()(0).getDouble(0)
      val traceOk =
        math.abs(model.eigvals.sum - varSum) <= 1e-6 * math.abs(varSum)
      // whitening: covariance of the whitened top-8 corpus ≈ I
      val wcov = graft.ops.Pca
        .covariance(graft.ops.Pca.whiten(emb, model, k = 8))
        .collect()
      val whitenOk = wcov.nonEmpty && wcov.forall { r =>
        val expect = if (r.getInt(1) == r.getInt(0)) 1.0 else 0.0
        math.abs(r.getDouble(2) - expect) < 1e-6
      }
      Seq((orthoOk, eigSortedOk, traceOk, whitenOk))
        .toDF("ortho_ok", "eig_sorted_ok", "trace_ok", "whiten_ok")
    },
      ("SELECT true AS ortho_ok, true AS eig_sorted_ok, " +
        "true AS trace_ok, true AS whiten_ok")),

    // --- Incremental Gram maintenance -------------------------------------------
    // fold(gram(evens), gram(odds)) must equal gram(corpus) BIT-EXACTLY
    // (moment sums are pure integer additions) — the streaming upkeep
    // path for covariance/PCA: the persisted index is the KB-sized cell
    // matrix, each ingest batch folds in, the corpus never re-scans.
    // Oracle = the s_pca_gram SQL verbatim over the full corpus.
    Gate("s_pca_gram_fold", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.ops.Pca.foldGram(
        graft.ops.Pca.gramExact(emb.filter(col("vec_id") % 2 === 0)),
        graft.ops.Pca.gramExact(emb.filter(col("vec_id") % 2 === 1)))
    },
      // pure integer addition is associative: the folded halves must hit
      // the full-corpus sums bit-for-bit
      gramSql),

    // --- Whitened-PQ composition --------------------------------------------------
    // The reason Pca exists in an ANN stack (whitened residuals
    // quantize better — Jégou PQ §V): the s_pq_recall harness run in
    // WHITENED space end-to-end — whiten the twin corpus (top-32 axes),
    // truth = brute force on the whitened vectors, PQ trained and
    // probed there too; recall ≥ 0.9 pins the composition plumbing
    // (fit → whiten → train → ADC) and that whitening kept the planted
    // twins nearest (the 1e-3 perturbation survives the 1/√λ scaling
    // because the test corpus spectrum is near-flat).
    Gate("s_pq_whitened_recall", (s, d) => {
      import graft.ops.{Pca, ProductQuantization}
      val corpus = twinCorpus(t(s, d, "embeddings"))
      val model = Pca.fit(corpus)
      val white = Pca.whiten(corpus, model, k = 32)
      val qs = white.filter(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val truth = graft.ops.Similarity.bruteForceTopK(white, qs, k = 1)
        .select("query_id", "id")
      val cb = ProductQuantization.train(white, m = 8, k = 16,
        iterations = 4)
      val pq = ProductQuantization.adcTopK(white, cb, qs, k = 1,
        rerankFrom = 32).select("query_id", "id")
      recallCounts(truth, pq).select(
        (col("n_hit").cast("double") / col("n_true") >= 0.9)
          .as("whitened_recall_ok"))
    },
      "SELECT true AS whitened_recall_ok"),

    // --- Nearest-centroid classification -----------------------------------------
    // Rocchio weak labeling with EXACT arithmetic: centroids stay
    // integer (sum, count) pairs, the squared-euclidean argmin
    // multiplies through by n_c², ties break by label — assignment is
    // deterministic in any IEEE engine, never a float-mean coin flip.
    // One aggregation to the 10×64 centroid frame; assignment is a
    // narrow broadcast-literal HOF pass.
    Gate("s_centroid_classify", (s, d) =>
      graft.ops.Similarity.centroidClassify(t(s, d, "embeddings")),
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS INT) AS label,
        |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT)
        |      AS i,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 100000)
        |      AS BIGINT) AS q
        |  FROM embeddings
        |), c AS (
        |  SELECT label AS cl, i, CAST(sum(q) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2
        |), dist AS (
        |  SELECT e.vec_id, c.cl,
        |    CAST(sum((c.n * e.q - c.s) * (c.n * e.q - c.s)) AS DOUBLE)
        |      / CAST(max(c.n) * max(c.n) AS DOUBLE) AS cost
        |  FROM e JOIN c ON c.i = e.i
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT vec_id, cl,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cost, cl)
        |      AS rn
        |  FROM dist
        |)
        |SELECT v.vec_id, CAST(v.label AS INT) AS label,
        |  r.cl AS label_pred
        |FROM embeddings v JOIN r ON r.vec_id = v.vec_id AND r.rn = 1
        |""".stripMargin),

    // --- Mutual nearest neighbors --------------------------------------------------------
    // Reciprocal top-1 matching on the planted-twin corpus: every
    // vector's cosine NN is its twin BY CONSTRUCTION, so the matcher
    // must recover (almost exactly) the planted pair set and nothing
    // else — the s_lsh_recall invariant posture (float argmax is not
    // hash-gateable; its defining property is). The REGISTERED path is
    // the ANN composition (IVF-probed top-1 → reciprocal semi-join, no
    // corpus broadcast, no nested-loop product); a twin sits ~1e-3 from
    // its query and therefore inside the query's own top-probed Voronoi
    // cell (the s_ivf_refined_recall argument), so the invariant holds
    // at nProbe << nList. Honest
    // recall vs the brute pairs on the RAW corpus is s_mutual_nn_ann.
    Gate("s_mutual_nn", (s, d) => {
      val corpus = twinCorpus(t(s, d, "embeddings"))
      val planted = t(s, d, "embeddings").count()
      // ONE aggregation over ONE evaluation of the top-1 pass
      graft.ops.Similarity.mutualTopOneAnn(corpus, nList = 16, nProbe = 4)
        .agg(
          sum(when(col("b") === col("a") + 1000000L, 1L).otherwise(0L))
            .as("n_hit"),
          sum(when(col("b") =!= col("a") + 1000000L, 1L).otherwise(0L))
            .as("n_extra"))
        .select(
          (col("n_hit").cast("double") / planted >= 0.95).as("mutual_ok"),
          (col("n_extra").cast("double") / planted <= 0.05)
            .as("precision_ok"))
    },
      "SELECT true AS mutual_ok, true AS precision_ok"),

    // --- Mutual-NN honest recall (ANN vs brute pairs) -------------------------------
    // Pair-level recall AND precision of the registered ANN path over
    // the RAW near-uniform corpus (no planted twins): truth = the
    // exact |N|² mutual pairs (gate-harness cost, the
    // s_ivf_bench_recall truth posture), candidate = mutualTopOneAnn
    // at the STATED budget nList=16 / nProbe=13 / 3 refine iterations
    // (what honest ≥0.9 pair recall costs on this corpus — a pair
    // needs BOTH endpoints' top-1 probed). truth_nonempty pins the
    // gate against vacuous emptiness. (An a17-style AQE-off scoping was
    // MEASURED WORSE here — 6.6 s vs 3.7 s min-of-3: the 3M-candidate
    // probe join gains more from AQE's partition coalescing than it
    // pays in re-planning jobs, the a28 trade.)
    Gate("s_mutual_nn_ann", (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "embeddings").select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
      val truth = mutualTruthPairs(s, d, corpus).toDF("a", "b")
      val got = graft.ops.Similarity.mutualTopOneAnn(corpus,
          nList = 16, nProbe = 13, refineIterations = 3)
        .select(col("a"), col("b"), lit(1L).as("__g"))
      // ONE full-outer pass computes all three counts over ONE
      // evaluation of the ANN pipeline (separate count branches would
      // re-run it per aggregate subtree)
      truth.withColumn("__t", lit(1L))
        .join(got, Seq("a", "b"), "full_outer")
        .agg(
          coalesce(sum(col("__t") * col("__g")), lit(0L)).as("n_hit"),
          coalesce(sum(col("__t")), lit(0L)).as("n_true"),
          coalesce(sum(col("__g")), lit(0L)).as("n_got"))
        .select(
          (col("n_hit").cast("double") / col("n_true") >= 0.9)
            .as("recall_ok"),
          (col("n_hit").cast("double") / col("n_got") >= 0.9)
            .as("precision_ok"),
          (col("n_true") > 0).as("truth_nonempty"))
    },
      ("SELECT true AS recall_ok, true AS precision_ok, " +
        "true AS truth_nonempty")))
}
