package graft
package gates

import org.apache.spark.SparkContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Queries._
import graft.core.Tables
import graft.ops.{Dedup, TextAnalysis}

/** Text gates: normalization, language id, quality and repetition
  * metrics, decontamination, tokenization and BPE (`ops.TextAnalysis`,
  * `ops.Bpe`, `ops.Unigram`), and the training-data preparation chain
  * (`ops.TrainingPrep`). */
object TextGates {
  /** Language-ID oracle: per-language marker scores, argmax with the same
    * tie-break as TextAnalysis.langId (higher score, then lexicographically
    * first language code — the CASE checks languages in sorted order).
    * The curation-pipeline oracles embed it as a subquery. */
  private val langIdSql: String = {
    def hits(words: Seq[String]): String =
      words.map { w =>
        if (w.exists(_ > '⹿'))
          s"len(regexp_extract_all(text, '$w'))"
        else
          s"len(regexp_extract_all(text, '\\b$w\\b'))"
      }.mkString(" + ")
    val scores = TextAnalysis.langMarkers.toSeq.sortBy(_._1)
      .map { case (lang, ws) => s"${hits(ws)} AS s_$lang" }
      .mkString(",\n    ")
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id, $scores FROM documents
       |), m AS (
       |  SELECT doc_id, $best AS m, * FROM scored
       |)
       |SELECT doc_id,
       |  CASE WHEN m <= 0 THEN 'und' $cases END AS lang_pred
       |FROM m
       |""".stripMargin
  }

  /** BPE merge table for the encode gate, memoized per (SparkContext,
    * sf dir) — training re-runs ~2 s of corpus scan otherwise. Small
    * table by design: the round-trip invariant holds for ANY merges. */
  private val bpeMergesMemo = new GateMemo[SparkContext, Seq[(String, String)]]

  private def bpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    bpeMergesMemo(s.sparkContext, d) {
      graft.ops.Bpe.train(t(s, d, "documents").select(col("text")),
        numMerges = 60, topWords = 20000)
    }

  /** The t_curate_v2 chain: quality and repetition filters, exact-dup
    * survivors, then language id. Returns the passing rows of `docs`
    * with their quality metric columns; the gate and the `curate-v2`
    * and `prepare-training` commands select from it. */
  private[graft] def curated(docs: DataFrame, minTokens: Int = 10,
                             lang: String = "en"): DataFrame = {
    val quality = TextAnalysis.qualityMetrics(docs)
      .filter(col("n_tokens") >= minTokens && col("alpha_ratio") >= 0.5)
    val rep = TextAnalysis.repetitionMetrics(quality)
      .filter(col("dup_word_frac") <= 0.5 &&
        col("max_word_freq_frac") <= 0.12)
    val survivors = Dedup.exactSurvivors(docs)
      .select(col("survivor_id").as("doc_id"))
    rep.join(survivors, Seq("doc_id"), "left_semi")
      .filter(TextAnalysis.langId(col("text")) === lang)
  }

  val gates: Seq[Gate] = Seq(
    Gate("f7_normalize_ws", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      s"SELECT doc_id, md5($normSql) AS fp FROM documents"),

    // --- Text analysis over documents --------------------------------------
    Gate("t_token_count", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe")),
      ("SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN 0 ELSE " +
        "len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens, " +
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) " +
        "AS n_bpe FROM documents")),
    Gate("t_lang_id", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred")),
      langIdSql),
    Gate("t_quality", (s, d) =>
      TextAnalysis.qualityMetrics(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "mean_token_len", "punct_ratio",
          "stopword_ratio", "alpha_ratio"),
      ("SELECT doc_id, n_tokens, " +
        "round(CAST(n_chars_m AS DOUBLE) / nullif(n_tokens, 0), 3) AS mean_token_len, " +
        "round(CAST(n_punct AS DOUBLE) / nullif(n_chars_m, 0), 4) AS punct_ratio, " +
        "round(CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0), 4) AS stopword_ratio, " +
        "round(CAST(n_alpha AS DOUBLE) / nullif(n_chars_m, 0), 4) AS alpha_ratio " +
        "FROM (SELECT doc_id, " +
        "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE " +
        "len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens, " +
        "len(text) AS n_chars_m, " +
        "len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS n_punct, " +
        "len(regexp_extract_all(text, '\\bthe\\b')) + " +
        "len(regexp_extract_all(text, '\\ba\\b')) + " +
        "len(regexp_extract_all(text, '\\bof\\b')) + " +
        "len(regexp_extract_all(text, '\\band\\b')) + " +
        "len(regexp_extract_all(text, '\\bis\\b')) AS n_stop, " +
        "len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha " +
        "FROM documents)")),

    // --- End-to-end corpus curation: the LLM ops composed -----------------
    // quality filter → exact-dedup survivors → language filter — one
    // declarative plan, each stage an operator this engine already gates
    // individually. The pipeline a training-data pass actually runs.
    Gate("t_curate_pipeline", (s, d) => {
      val docs = t(s, d, "documents")
      val quality = graft.ops.TextAnalysis.qualityMetrics(docs)
        .filter(col("n_tokens") >= 10 && col("alpha_ratio") >= 0.5)
      val survivors = graft.ops.Dedup.exactSurvivors(docs)
        .select(col("survivor_id").as("doc_id"))
      quality.join(survivors, Seq("doc_id"), "left_semi")
        .filter(graft.ops.TextAnalysis.langId(col("text")) === "en")
        .select("doc_id", "n_tokens")
    },
      s"""WITH qm AS (
         |  SELECT doc_id, text,
         |    CASE WHEN len(trim(text)) = 0 THEN 0 ELSE
         |      len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |    round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
         |      / nullif(len(text), 0), 4) AS alpha_ratio
         |  FROM documents
         |), surv AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
         |)
         |SELECT qm.doc_id, qm.n_tokens
         |FROM qm
         |JOIN surv ON qm.doc_id = surv.doc_id
         |JOIN (${langIdSql}) lang ON qm.doc_id = lang.doc_id
         |WHERE qm.n_tokens >= 10 AND qm.alpha_ratio >= 0.5
         |  AND lang.lang_pred = 'en'
         |""".stripMargin),

    // --- PII/noise redaction (value-exact oracle) -------------------------
    // Markers are appended to every row so the URL/email/digit patterns
    // are exercised on the whole corpus, not just rows that happen to
    // contain them; both engines apply the same ASCII patterns.
    Gate("t_redact", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.redact(concat(col("text"),
          lit(" contact user@example.com via https://example.com/a?b=1" +
            " ref 12345678 ok 123")))
          .as("redacted")),
      ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "text || ' contact user@example.com via https://example.com/a?b=1" +
        " ref 12345678 ok 123', " +
        "'\\bhttps?://[^\\s]+', '<URL>', 'g'), " +
        "'\\b[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}\\b', '<EMAIL>', 'g'), " +
        "'\\b[0-9]{6,}\\b', '<NUM>', 'g') AS redacted FROM documents")),

    // --- Benchmark decontamination (probe-shingle semi-join) --------------
    // The n-gram contamination check a training pipeline runs against an
    // eval set: docs 0-4 stand in for the benchmark; every other doc is
    // scored by how many distinct probe 3-grams it contains. The probe
    // side is DISTINCT + broadcast (eval sets are dimension-sized); the
    // corpus side is one explode + broadcast-hash join, no shuffle of
    // the corpus.
    Gate("t_contamination", (s, d) => {
      import graft.ops.TextAnalysis
      val sh = t(s, d, "documents").select(col("doc_id"),
        explode(TextAnalysis.wordShingles(col("text"), 3)).as("shingle"))
      val probe = sh.filter(col("doc_id") < 5).select("shingle").distinct()
      sh.filter(col("doc_id") >= 5)
        .join(broadcast(probe), Seq("shingle"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit"))
    },
      s"""${shingleCte},
         |probe AS (
         |  SELECT DISTINCT shingle FROM ex WHERE doc_id < 5
         |)
         |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |FROM ex e JOIN probe p USING (shingle)
         |WHERE e.doc_id >= 5
         |GROUP BY 1
         |""".stripMargin),

    // --- Curation pipeline v2: + repetition filter ------------------------
    // The t_curate_pipeline chain (quality → exact-dedup → lang) extended
    // with the Gopher-style repetition cut — one declarative plan end-to-end;
    // thresholds chosen to split the synthetic corpus meaningfully
    // (dup_word_frac median ≈ 0.54, max_word_freq_frac median ≈ 0.09).
    Gate("t_curate_v2", (s, d) =>
      curated(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "dup_word_frac"),
      s"""WITH qm AS (
         |  SELECT doc_id, text,
         |    CASE WHEN len(trim(text)) = 0 THEN 0 ELSE
         |      len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |    round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
         |      / nullif(len(text), 0), 4) AS alpha_ratio
         |  FROM documents
         |), norm AS (
         |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
         |    AS t
         |  FROM documents
         |), words AS (
         |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
         |), ex AS (
         |  SELECT doc_id, unnest(w) AS word FROM words
         |), wc AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(c) - count(*) AS BIGINT) AS ndup, max(c) AS mx
         |  FROM (SELECT doc_id, word, count(*) AS c FROM ex GROUP BY 1, 2)
         |  GROUP BY 1
         |), rep AS (
         |  SELECT doc_id, round(ndup * 1.0 / n, 4) AS dup_word_frac,
         |    round(mx * 1.0 / n, 4) AS mxf
         |  FROM wc
         |), surv AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
         |)
         |SELECT qm.doc_id, qm.n_tokens, rep.dup_word_frac
         |FROM qm
         |JOIN rep USING (doc_id)
         |JOIN surv ON qm.doc_id = surv.doc_id
         |JOIN (${langIdSql}) lang ON qm.doc_id = lang.doc_id
         |WHERE qm.n_tokens >= 10 AND qm.alpha_ratio >= 0.5
         |  AND rep.dup_word_frac <= 0.5 AND rep.mxf <= 0.12
         |  AND lang.lang_pred = 'en'
         |""".stripMargin),

    // --- Repetition quality signals (value-exact oracle) ------------------
    Gate("t_repetition", (s, d) =>
      graft.ops.TextAnalysis.repetitionMetrics(
        t(s, d, "documents").select(col("doc_id"), col("text")))
        .drop("text"),
      """WITH norm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |    AS t
        |  FROM documents
        |), words AS (
        |  SELECT doc_id, string_split(t, ' ') AS w FROM norm
        |), ex AS (
        |  SELECT doc_id, unnest(w) AS word FROM words
        |), wc AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c) - count(*) AS BIGINT) AS ndup, max(c) AS mx
        |  FROM (SELECT doc_id, word, count(*) AS c FROM ex GROUP BY 1, 2)
        |  GROUP BY 1
        |), bg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS b
        |  FROM words, unnest(range(1, len(w))) AS t(i)
        |), bgc AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb,
        |    CAST(sum(c) - count(*) AS BIGINT) AS nbdup
        |  FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT w.doc_id, CAST(w.n AS INT) AS n_words,
        |  round(w.ndup * 1.0 / w.n, 4) AS dup_word_frac,
        |  coalesce(round(b.nbdup * 1.0 / nullif(b.nb, 0), 4), 0.0)
        |    AS dup_bigram_frac,
        |  round(w.mx * 1.0 / w.n, 4) AS max_word_freq_frac
        |FROM wc w LEFT JOIN bgc b USING (doc_id)
        |""".stripMargin),

    // --- Winnowing fingerprint gate ---------------------------------------
    // Gates the MOSS winnowing guarantee on the real corpus: a document
    // with an inserted prefix must keep most of its selected fingerprints
    // (every shared substring ≥ w+k-1 chars shares a fingerprint), while
    // unrelated adjacent-id documents stay near-disjoint. Fingerprint
    // VALUES are engine hashes (xxhash64) — invariant-gated like
    // d_simhash_invariant, not value-dumped.
    Gate("t_winnow_invariant", (s, d) => {
      import graft.ops.TextAnalysis
      def jacc(a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column) =
        size(array_intersect(a, b)).cast("double") / size(array_union(a, b))
      val fp = t(s, d, "documents").filter(length(col("text")) >= 100)
        .select(col("doc_id"),
          TextAnalysis.winnowFingerprints(col("text")).as("fp"),
          TextAnalysis.winnowFingerprints(
            concat(lit("xyzzy quux "), col("text"))).as("fp_shift"))
      val shifted = fp.agg(
        min(jacc(col("fp"), col("fp_shift"))).as("min_shift"))
      val nextDoc = fp.select((col("doc_id") - 1).as("doc_id"),
        col("fp").as("fp_next"))
      val cross = fp.join(nextDoc, "doc_id")
        .agg(avg(jacc(col("fp"), col("fp_next"))).as("avg_cross"))
      shifted.crossJoin(cross).select(
        (col("min_shift") >= 0.6).as("shift_overlap_ok"),
        (col("avg_cross") <= 0.2).as("cross_low_ok"))
    },
      "SELECT true AS shift_overlap_ok, true AS cross_low_ok"),

    // --- Deterministic train/val/test split (value-exact oracle) ------------
    // Leakage-free reproducible assignment by id hash — md5 hex is
    // byte-identical across engines, so the oracle recomputes every
    // label exactly.
    Gate("d_hash_split", (s, d) =>
      graft.ops.TrainingPrep.hashSplit(t(s, d, "documents"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split"),
      """WITH u AS (
        |  SELECT doc_id,
        |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':split'),
        |      1, 8))::BIGINT % 1000000) / 1000000.0 AS u
        |  FROM documents
        |)
        |SELECT doc_id, CASE WHEN u < 0.8 THEN 'train'
        |  WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        |FROM u
        |""".stripMargin),

    // --- Deterministic domain-mixing resampler (value-exact oracle) ---------
    // src0 upsampled 2.5x, src1 downsampled to 0.5x, src2 dropped, the
    // rest kept at 1x — every copy count is a pure function of
    // (source weight, md5(doc_id)), so the oracle reproduces the exact
    // multiset.
    Gate("d_mix_resample", (s, d) =>
      graft.ops.TrainingPrep.resampleBySource(t(s, d, "documents"),
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0)),
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
        |      WHEN 'src2' THEN 0.0 ELSE 1.0 END AS wt,
        |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':resample'),
        |      1, 8))::BIGINT % 1000000) / 1000000.0 AS u
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, source,
        |    CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END
        |      AS INT) AS n
        |  FROM w
        |)
        |SELECT doc_id, source, CAST(unnest(range(1, n + 1)) AS INT) AS copy
        |FROM n WHERE n > 0
        |""".stripMargin),

    // --- Unigram LM quality score (value-exact oracle) ----------------------
    // CCNet-style reference-model scoring, self-referenced here; the
    // vocabulary cap is set well below the corpus vocabulary so the OOV
    // floor path is exercised on real rows.
    Gate("t_lm_score", (s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.TrainingPrep.lmScore(docs, docs, vocabSize = 500)
    },
      """WITH norm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |    AS t
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, unnest(string_split(t, ' ')) AS word FROM norm
        |), wc AS (
        |  SELECT word, count(*) AS c FROM ex GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS total FROM wc
        |), top AS (
        |  SELECT word, ln(c / total) AS logp FROM wc, tot
        |  ORDER BY c DESC, word ASC LIMIT 500
        |)
        |SELECT doc_id, count(*) AS n_words,
        |  round(avg(-coalesce(logp, ln(1.0 / total))), 4) AS lm_score
        |FROM ex LEFT JOIN top USING (word), tot
        |GROUP BY doc_id
        |""".stripMargin),

    // --- Sequence packing (value-exact oracle) -------------------------------
    // Per-shard greedy contiguous packing into 512-token bins via
    // windowed prefix sums — partitioned by shard, never a global
    // single-partition window.
    Gate("t_pack", (s, d) =>
      graft.ops.TrainingPrep.packSequences(t(s, d, "documents"),
        budgetTokens = 512, shards = 8),
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0 ELSE
        |      len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
        |    AS cum
        |  FROM t
        |)
        |SELECT doc_id, shard,
        |  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS bin, n_tokens
        |FROM c
        |""".stripMargin),

    // --- Sliding-window chunking (value-exact oracle) ------------------------
    // 40-token windows advancing by 30 (10-token overlap): chunk count,
    // boundaries and the reassembled chunk text are all exact functions
    // of the whitespace token array, recomputed verbatim by the oracle.
    Gate("t_chunk", (s, d) =>
      graft.ops.TextAnalysis.chunk(t(s, d, "documents"),
        chunkTokens = 40, overlap = 10),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
        |  FROM toks WHERE len(tk) > 0
        |), k AS (
        |  SELECT doc_id, tk, n,
        |    CASE WHEN n <= 40 THEN 0
        |      ELSE CAST(ceil((n - 40) / 30.0) AS BIGINT) END AS last_ix
        |  FROM n
        |), ix AS (
        |  SELECT doc_id, tk, n, unnest(range(0, last_ix + 1)) AS i FROM k
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_ix,
        |  array_to_string(tk[(i * 30 + 1):(i * 30 + 40)], ' ')
        |    AS chunk_text,
        |  CAST(least(40, n - i * 30) AS BIGINT) AS n_tokens
        |FROM ix
        |""".stripMargin),

    // --- Per-source document cap (value-exact oracle) ------------------------
    // Domain-cap curation: best 20 docs per source by (n_chars desc,
    // doc_id asc) through the bounded-heap top-k aggregate — map-side
    // capped partials, no per-source window funnel.
    Gate("d_source_cap", (s, d) =>
      graft.ops.TrainingPrep.capPerSource(t(s, d, "documents"),
        k = 20, score = col("n_chars")),
      """SELECT source, CAST(rn AS BIGINT) AS rank, doc_id,
        |  CAST(n_chars AS DOUBLE) AS score
        |FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |)
        |WHERE rn <= 20
        |""".stripMargin),

    // --- Deterministic pre-training shuffle (value-exact oracle) -------------
    // Shard and in-shard position are pure functions of (doc_id, seed)
    // through the md5 draw, so the oracle reproduces the full permutation
    // byte-exactly.
    Gate("d_shuffle_shards", (s, d) =>
      graft.ops.TrainingPrep.shuffleShards(t(s, d, "documents"),
        shards = 8),
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':shuffle') AS hx
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, hx,
        |    (('0x' || substring(hx, 1, 8))::BIGINT % 8) AS shard
        |  FROM h
        |)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
        |    AS BIGINT) AS pos
        |FROM s
        |""".stripMargin),

    // --- Quantile-band filter (invariant gate) -------------------------------
    // Keep the middle [0.25, 0.75] of the n_chars distribution through
    // the sketch-threshold path; the gate bounds the sketch against the
    // EXACT percentiles: thresholds must land inside the exact [p24,p26]
    // / [p74,p76] rank neighborhoods (the rank-error contract with two
    // orders of magnitude of slack) and the surviving fraction must be
    // ~half the corpus.
    Gate("t_quality_band", (s, d) => {
      val docs = t(s, d, "documents")
      val band = graft.ops.TrainingPrep.quantileBand(docs, col("n_chars"),
        lo = 0.25, hi = 0.75)
      // ONE combined action for every check input (band stats crossJoined
      // with corpus stats + exact percentiles) on top of the operator's
      // own single threshold pass
      val row = band
        .agg(count(lit(1)).cast("double").as("kept"),
          min(col("n_chars").cast("double")).as("band_lo"),
          max(col("n_chars").cast("double")).as("band_hi"))
        .crossJoin(docs.agg(count(lit(1)).cast("double").as("total"),
          expr("percentile(n_chars, array(0.24, 0.26, 0.74, 0.76))")
            .as("p")))
        .collect().head
      val ex = row.getSeq[Double](4)
      val frac = row.getDouble(0) / row.getDouble(3)
      import s.implicits._
      Seq((
        row.getDouble(1) >= ex(0) && row.getDouble(1) <= ex(1),
        row.getDouble(2) >= ex(2) && row.getDouble(2) <= ex(3),
        frac >= 0.45 && frac <= 0.56
      )).toDF("lo_within_exact_neighborhood", "hi_within_exact_neighborhood",
        "kept_fraction_near_half")
    },
      ("SELECT true AS lo_within_exact_neighborhood, " +
        "true AS hi_within_exact_neighborhood, " +
        "true AS kept_fraction_near_half")),

    // --- Vocabulary builder (value-exact oracle) -----------------------------
    // Top-100 words with probability and cumulative coverage under the
    // lm_score normalization; counts are integers and both engines round
    // the same divisions to 6dp, so the whole curve is value-exact.
    Gate("t_vocab", (s, d) =>
      graft.ops.TrainingPrep.vocabulary(t(s, d, "documents"), topV = 100),
      """WITH norm AS (
        |  SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents
        |), ex AS (
        |  SELECT unnest(string_split(t, ' ')) AS word FROM norm
        |), wc AS (
        |  SELECT word, count(*) AS n FROM ex GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS total FROM wc
        |), top AS (
        |  SELECT word, n, row_number() OVER (ORDER BY n DESC, word ASC)
        |    AS rn
        |  FROM wc ORDER BY n DESC, word ASC LIMIT 100
        |)
        |SELECT CAST(rn AS BIGINT) AS rank, word, n,
        |  round(n / total, 6) AS p,
        |  round(sum(n) OVER (ORDER BY rn) / total, 6) AS coverage
        |FROM top, tot
        |""".stripMargin),

    // --- BPE tokenizer training ----------------------------------------------
    // Trains a 40-merge BPE table on the documents corpus and checks the
    // contracts that make a tokenizer usable, as hard booleans:
    // round-trip losslessness over EVERY distinct corpus word (checked
    // distributed), compression (the merged segmentation has strictly
    // fewer tokens than the char baseline), partitioning-independence of
    // the learned table (same merges from a 7-partition re-shuffle), and
    // the exact merge count. The per-merge EXACTNESS of the algorithm is
    // pinned by BpeSpec against the ACL'16 reference example.
    Gate("t_bpe_train", (s, d) => {
      import s.implicits._
      import graft.ops.{Bpe, TextAnalysis}
      val docs = t(s, d, "documents")
      val merges = Bpe.train(docs, numMerges = 40)
      val ranks = merges.zipWithIndex.toMap
      val sums = Bpe.tokenCounts(docs, merges)
        .agg(sum("n_bpe_tokens")).collect().head.getLong(0)
      val base = Bpe.tokenCounts(docs, Seq.empty)
        .agg(sum("n_bpe_tokens")).collect().head.getLong(0)
      val rt = udf((w: String) =>
        Bpe.decodeString(Bpe.segmentWord(w, ranks).mkString) == w + " ")
      val lossless = docs
        .select(explode(split(TextAnalysis.normalized(col("text")), " "))
          .as("word"))
        .filter(length(col("word")) > 0).distinct()
        .agg(min(rt(col("word")))).collect().head.getBoolean(0)
      val deterministic =
        Bpe.train(docs.repartition(7), numMerges = 40) == merges
      Seq((merges.length.toLong, sums < base, lossless, deterministic))
        .toDF("n_merges", "compresses", "roundtrip_lossless",
          "deterministic")
    },
      ("SELECT CAST(40 AS BIGINT) AS n_merges, true AS compresses, " +
        "true AS roundtrip_lossless, true AS deterministic")),

    // --- Bloom-filter decontamination contract -------------------------------
    // The scale face of t_contamination: when the eval probe set is too
    // big to broadcast exactly, a fixed-size mergeable bloom replaces the
    // exact hash set. The gate pins BOTH halves of the bloom contract
    // against the exact broadcast semi-join on the same shingle-hash
    // substrate: (a) no false negatives — every exact hit is flagged,
    // per document, with at-least-equal multiplicity; (b) over-flagging
    // stays within 5x the ~1%-sized filter's nominal false-positive rate.
    Gate("t_bloom_contamination", (s, d) => {
      import graft.ops.TextAnalysis
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") < 5)
      val corpus = docs.filter(col("doc_id") >= 5)
      val bloom = TextAnalysis.shingleBloom(probes, n = 3,
        expectedItems = 20000L, numBits = 200000L)
      val flagged = TextAnalysis.bloomContaminated(corpus, bloom, n = 3)
      val ch = corpus.select(col("doc_id"),
        explode(TextAnalysis.wordShingleHashes(col("text"), 3)).as("h"))
      val ph = probes.select(
        explode(TextAnalysis.wordShingleHashes(col("text"), 3)).as("h"))
        .distinct()
      val exact = ch.join(broadcast(ph), Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      val noFn = exact.join(flagged, Seq("doc_id"), "left")
        .agg(coalesce(min(coalesce(col("n_flagged") >= col("n_hit"),
          lit(false))), lit(true)).as("no_false_negatives"))
      val rate = exact.agg(sum("n_hit").as("e"))
        .crossJoin(flagged.agg(sum("n_flagged").as("b")))
        .crossJoin(ch.agg(count(lit(1)).as("n_tested")))
        .select(((col("b") - col("e")) /
          greatest(col("n_tested") - col("e"), lit(1L)) <= 0.05)
          .as("fp_rate_bounded"))
      noFn.crossJoin(rate)
    },
      "SELECT true AS no_false_negatives, true AS fp_rate_bounded"),

    // --- BPE encode: ordered token streams, round-trip + count-consistent ---
    // The token VALUES are merge-table-dependent engine artifacts, so the
    // gate checks the two properties that pin the encode exactly:
    // reassembling the stream (</w> → space) reproduces the normalized
    // text byte-for-byte (md5-compared), and the stream length equals the
    // independently-gated tokenCounts path.
    Gate("t_bpe_encode", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val merges = bpeMerges(s, d)
      val enc = graft.ops.Bpe.encode(docs, merges)
      val cnt = graft.ops.Bpe.tokenCounts(docs, merges)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_cnt"))
      enc.join(cnt, "doc_id")
        .select(col("doc_id"),
          (col("n_bpe_tokens") === col("n_cnt")).as("counts_agree"),
          md5(trim(graft.ops.Bpe.decodeTokens(col("tokens"))))
            .as("detok_fp"))
    },
      (s"SELECT doc_id, true AS counts_agree, md5(${normSql}) " +
        s"AS detok_fp FROM documents WHERE length(${normSql}) > 0")),

    // --- Deterministic token masking ----------------------------------------
    // Masked-objective prep at 15%: every (doc, position) coin is the
    // shared salted-md5 draw, so both engines mask the exact same
    // positions — masked text, token and mask counts all value-exact.
    Gate("t_mask_tokens", (s, d) =>
      graft.ops.TrainingPrep.maskTokens(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        rate = 0.15),
      (s"""WITH norm AS (
        |  SELECT doc_id, ${normSql} AS t FROM documents
        |), w AS (
        |  SELECT doc_id, string_split(t, ' ') AS ws FROM norm
        |  WHERE len(t) > 0
        |), ex AS (
        |  SELECT doc_id, unnest(ws) AS word,
        |    generate_subscripts(ws, 1) AS pos
        |  FROM w
        |), m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN (('0x' || substring(md5(CAST(doc_id AS VARCHAR) ||
        |        ':' || CAST(pos AS VARCHAR) || ':mask'), 1, 8))::BIGINT
        |        % 1000000) / 1000000.0 < 0.15
        |      THEN '<mask>' ELSE word END AS word
        |  FROM ex
        |)
        |SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS masked_text,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN word = '<mask>' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked
        |FROM m GROUP BY 1
        |""").stripMargin),

    // --- Deterministic per-key uniform sample -------------------------------
    // 5 stable "random" docs per source: the salted-md5 draw order makes
    // the sample reproducible across runs and dataset versions; the
    // bounded-heap top-k keeps it window-free.
    Gate("d_sample_per_key", (s, d) =>
      graft.ops.TrainingPrep.samplePerKey(
        t(s, d, "documents").select(col("doc_id"), col("source")), k = 5),
      """WITH h AS (
        |  SELECT source, doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':sample') AS hx
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY ('0x' || substring(hx, 1, 8))::BIGINT ASC,
        |      doc_id ASC) AS rank
        |  FROM h
        |)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
        |FROM r WHERE rank <= 5
        |""".stripMargin),

    // --- Contamination overlap report ---------------------------------------
    // The fraction-valued sibling of t_contamination (same probe split):
    // every corpus doc reports (n_shingles, n_hit, hit_frac), zeros
    // included — the shape partial-overlap policies threshold on.
    Gate("t_contamination_frac", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.ops.TextAnalysis.contaminationReport(
        docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5))
    },
      (s"""${shingleCte},
        |probe AS (
        |  SELECT DISTINCT shingle FROM ex WHERE doc_id < 5
        |), hits AS (
        |  SELECT e.doc_id, count(*) AS n_hit
        |  FROM ex e JOIN probe USING (shingle)
        |  WHERE e.doc_id >= 5 GROUP BY 1
        |)
        |SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_shingles,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(s.n AS DOUBLE)
        |    AS hit_frac
        |FROM sizes s LEFT JOIN hits h USING (doc_id)
        |WHERE s.doc_id >= 5
        |""").stripMargin),

    // --- Interpolated bigram LM score ---------------------------------------
    // Self-referenced corpus (the t_lm_score posture) with dimension-
    // sized caps; 0.7/0.3 interpolation, first word unigram-only.
    Gate("t_lm_bigram", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.ops.TrainingPrep.lmScoreBigram(docs, docs,
        vocabSize = 500, bigramSize = 2000)
    },
      (s"""WITH norm AS (
        |  SELECT doc_id, ${normSql} AS t FROM documents
        |), w AS (
        |  SELECT doc_id, string_split(t, ' ') AS ws FROM norm
        |  WHERE len(t) > 0
        |), ex AS (
        |  SELECT doc_id, unnest(ws) AS word FROM w
        |), wc AS (
        |  SELECT word, count(*) AS c FROM ex GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS total FROM wc
        |), univ AS (
        |  SELECT word, c / total AS p_uni FROM wc, tot
        |  ORDER BY c DESC, word ASC LIMIT 500
        |), p2 AS (
        |  SELECT doc_id, z[1] AS prev, z[2] AS cur FROM (
        |    SELECT doc_id,
        |      unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
        |    FROM w WHERE len(ws) >= 2)
        |), bc AS (
        |  SELECT prev, cur, count(*) AS nb FROM p2 GROUP BY 1, 2
        |), bigv AS (
        |  SELECT bc.prev, bc.cur,
        |    CAST(nb AS DOUBLE) / CAST(wc.c AS DOUBLE) AS p_bi
        |  FROM bc JOIN wc ON wc.word = bc.prev
        |  ORDER BY nb DESC, bc.prev ASC, bc.cur ASC LIMIT 2000
        |), rows_ AS (
        |  SELECT doc_id, NULL AS prev, ws[1] AS cur FROM w
        |  UNION ALL
        |  SELECT doc_id, prev, cur FROM p2
        |), scored AS (
        |  SELECT r.doc_id,
        |    CASE WHEN r.prev IS NULL
        |      THEN coalesce(u.p_uni, 1.0 / t.total)
        |      ELSE 0.7 * coalesce(b.p_bi, 0.0) +
        |        (1.0 - 0.7) * coalesce(u.p_uni, 1.0 / t.total) END AS p
        |  FROM rows_ r
        |  LEFT JOIN univ u ON u.word = r.cur
        |  LEFT JOIN bigv b ON b.prev = r.prev AND b.cur = r.cur
        |  CROSS JOIN tot t
        |)
        |SELECT doc_id, count(*) AS n_words,
        |  round(avg(-ln(p)), 4) AS lm_bi_score
        |FROM scored GROUP BY 1
        |""").stripMargin),

    // --- Gopher quality-rule bundle -----------------------------------------
    // Integer-arithmetic rule booleans, value-exact per document. The
    // corpus median sits near the 50-word floor, so ok_word_count (and
    // therefore keep) splits the corpus — the gate is non-vacuous on
    // both sides of every threshold that the corpus exercises.
    Gate("t_gopher_rules", (s, d) =>
      graft.ops.TextAnalysis.gopherRules(
        t(s, d, "documents").select(col("doc_id"), col("text")))
        .drop("text"),
      (s"""WITH m AS (
        |  SELECT doc_id, ${normSql} AS nrm, text FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CASE WHEN len(nrm) = 0 THEN 0
        |         ELSE len(string_split(nrm, ' ')) END AS n_words,
        |    len(replace(nrm, ' ', '')) AS sum_len,
        |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    len(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(l, '^\\s*[-*]'))) AS n_bullet,
        |    len(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS n_ellipsis,
        |    len(list_filter(string_split(nrm, ' '),
        |      w -> regexp_matches(w, '[a-z]'))) AS n_alpha_words,
        |    len(regexp_extract_all(nrm, '\\bthe\\b')) +
        |      len(regexp_extract_all(nrm, '\\ba\\b')) +
        |      len(regexp_extract_all(nrm, '\\bof\\b')) +
        |      len(regexp_extract_all(nrm, '\\band\\b')) +
        |      len(regexp_extract_all(nrm, '\\bis\\b')) AS n_stop
        |  FROM m
        |)
        |SELECT doc_id,
        |  n_words >= 50 AND n_words <= 100000 AS ok_word_count,
        |  n_words > 0 AND sum_len >= 3 * n_words
        |    AND sum_len <= 10 * n_words AS ok_mean_word_len,
        |  10 * n_symbols <= n_words AS ok_symbol_ratio,
        |  10 * n_bullet <= 9 * n_lines AS ok_bullet_ratio,
        |  10 * n_ellipsis <= 3 * n_lines AS ok_ellipsis_ratio,
        |  5 * n_alpha_words >= 4 * n_words AS ok_alpha_words,
        |  n_stop >= 2 AS ok_stopwords,
        |  (n_words >= 50 AND n_words <= 100000) AND
        |    (n_words > 0 AND sum_len >= 3 * n_words
        |      AND sum_len <= 10 * n_words) AND
        |    (10 * n_symbols <= n_words) AND
        |    (10 * n_bullet <= 9 * n_lines) AND
        |    (10 * n_ellipsis <= 3 * n_lines) AND
        |    (5 * n_alpha_words >= 4 * n_words) AND
        |    (n_stop >= 2) AS keep
        |FROM c
        |""").stripMargin),

    // --- Materialized token packing -----------------------------------------
    // The loader-facing rows: per (shard, bin) the concatenated token
    // stream of its id-ordered docs. Value-exact trick: with ZERO merges
    // every word segments to chars + </w>, so a doc's token count is
    // exactly len(normalized)+1 — DuckDB can re-derive the prefix-sum
    // bins without implementing BPE, and the packed stream reassembles
    // (</w> → space) to the space-joined normalized texts, md5-compared
    // per bin. Merge-table-dependent segmentation is t_bpe_encode's gate;
    // this one pins the packing plumbing end-to-end.
    // The doc_list column makes any future mismatch self-localizing:
    // a bin whose membership drifts shows WHICH ids moved, separating a
    // bin-assignment bug from a stream-content one.
    Gate("t_pack_ids", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.ops.TrainingPrep.packTokens(docs, Seq.empty,
        budgetTokens = 1024, shards = 8)
        .select(col("shard"), col("bin"),
          md5(trim(graft.ops.Bpe.decodeTokens(col("tokens"))))
            .as("content_fp"),
          col("n_tokens"),
          size(col("doc_ids")).cast("long").as("n_docs"),
          concat_ws(",", transform(col("doc_ids"),
            x => x.cast("string"))).as("doc_list"))
    },
      (s"""WITH norm AS (
        |  SELECT doc_id, ${normSql} AS t FROM documents
        |), d AS (
        |  SELECT doc_id, t, len(t) + 1 AS n, doc_id % 8 AS shard
        |  FROM norm WHERE len(t) > 0
        |), c AS (
        |  SELECT doc_id, t, n, shard,
        |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        |  FROM d
        |)
        |SELECT shard, CAST((cum - n) // 1024 AS BIGINT) AS bin,
        |  md5(string_agg(t, ' ' ORDER BY doc_id)) AS content_fp,
        |  CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_docs,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    AS doc_list
        |FROM c GROUP BY 1, 2
        |""").stripMargin),

    // --- Unicode NFC normalization (native expression) ----------------------
    // The corpus text is ASCII (the fast pass-through path), so the gate
    // splices decomposed sequences — combining acute/ring/diaeresis —
    // into every row; the normalized output must match DuckDB's
    // nfc_normalize byte-for-byte (hash-compared). NFC is the form both
    // engines implement; NFKC/NFKD share the same kernel and are
    // spec-pinned against java.text.Normalizer directly.
    Gate("t_unicode_nfc", (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.normalizeUnicode(
          concat(substring(col("text"), 1, 32),
            lit(" cafe\u0301 A\u030A nai\u0308ve #"),
            col("doc_id").cast("string")), "NFC").as("norm_text")),
      ("SELECT doc_id, nfc_normalize(substr(text, 1, 32) || ' cafe' || " +
        "chr(769) || ' A' || chr(778) || ' nai' || chr(776) || 've #' || " +
        "CAST(doc_id AS VARCHAR)) AS norm_text FROM documents")),

    // --- Corpus drift report between snapshots ------------------------------
    // "The new crawl landed — did the distribution move?" Snapshot A =
    // even doc ids, snapshot B = odd; per language: vocab sizes, words
    // new/vanished, token volumes, L1 count-vector distance — all exact
    // integers, one full-outer equi-join on (lang, word).
    Gate("t_drift_report", (s, d) => {
      val docs = graft.core.Tables.load(s, d, "documents")
      graft.ops.TextAnalysis.driftReport(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    },
      (s"""WITH ca AS (
        |  SELECT g, w, count(*) AS ca FROM (
        |    SELECT lang AS g, unnest(string_split(
        |      ${normSql}, ' ')) AS w
        |    FROM documents WHERE doc_id % 2 = 0)
        |  GROUP BY 1, 2
        |), cb AS (
        |  SELECT g, w, count(*) AS cb FROM (
        |    SELECT lang AS g, unnest(string_split(
        |      ${normSql}, ' ')) AS w
        |    FROM documents WHERE doc_id % 2 = 1)
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT coalesce(ca.g, cb.g) AS g,
        |    coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
        |  FROM ca FULL JOIN cb ON ca.g = cb.g AND ca.w = cb.w
        |)
        |SELECT g AS lang,
        |  CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_a,
        |  CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_b,
        |  CAST(sum(CASE WHEN ca = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_words,
        |  CAST(sum(CASE WHEN cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vanished_words,
        |  CAST(sum(ca) AS BIGINT) AS tokens_a,
        |  CAST(sum(cb) AS BIGINT) AS tokens_b,
        |  CAST(sum(abs(ca - cb)) AS BIGINT) AS l1
        |FROM j GROUP BY 1
        |""").stripMargin),

    // --- Corpus n-gram counts ------------------------------------------------
    // The Web-1T job: every word trigram over the corpus with its
    // occurrence count, tail pruned below minCount. One explode + one
    // map-side-combined hash aggregation; the oracle regenerates the
    // grams positionally in DuckDB over the identical normalized
    // tokenization.
    Gate("t_ngram_counts", (s, d) =>
      graft.ops.TextAnalysis.ngramCounts(
        t(s, d, "documents").select("text"), "text", n = 3,
        minCount = 2L),
      """WITH w AS (
        |  SELECT list_filter(string_split(lower(trim(regexp_replace(
        |    text, '\s+', ' ', 'g'))), ' '), x -> x <> '') AS tk
        |  FROM documents
        |), g AS (
        |  SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i
        |  FROM w WHERE len(tk) >= 3
        |)
        |SELECT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM g GROUP BY 1 HAVING count(*) >= 2
        |""".stripMargin),

    // --- URL parsing / registrable domain ------------------------------------
    // The crawl-curation key extraction: each doc gets a deterministic
    // URL exercising userinfo, ports, mixed-case hosts, ccTLD public
    // suffixes (co.uk), empty paths and fragments; scheme/host/domain/
    // path must come back normalized. The accessor chains are RE2-safe
    // by construction, so the oracle runs them verbatim.
    Gate("t_url_parse", (s, d) => {
      import graft.ops.TextAnalysis._
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("http")),
        lit("://"),
        when(col("doc_id") % 7 === 0, lit("crawler:pw@")).otherwise(lit("")),
        lit("sub"), (col("doc_id") % 13).cast("string"),
        when(col("doc_id") % 3 === 0, lit(".example.com"))
          .when(col("doc_id") % 3 === 1, lit(".data.co.uk"))
          .otherwise(lit(".Archive.ORG")),
        when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(""))
          .otherwise(concat(lit("/p/"), (col("doc_id") % 11).cast("string"),
            lit(".html"))),
        lit("?q="), col("doc_id").cast("string"), lit("#frag"))
      t(s, d, "documents").select(col("doc_id"),
        urlScheme(url).as("scheme"), urlHost(url).as("host"),
        urlDomain(urlHost(url)).as("domain"), urlPath(url).as("path"))
    },
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
        |    || '://'
        |    || (CASE WHEN doc_id % 7 = 0 THEN 'crawler:pw@' ELSE '' END)
        |    || 'sub' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '.example.com'
        |             WHEN doc_id % 3 = 1 THEN '.data.co.uk'
        |             ELSE '.Archive.ORG' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN ''
        |        ELSE '/p/' || CAST(doc_id % 11 AS VARCHAR) || '.html' END)
        |    || '?q=' || CAST(doc_id AS VARCHAR) || '#frag' AS url
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_replace(regexp_replace(
        |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        |      '^[^@/]*@', ''), ':[0-9]*$', '')) AS host,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p
        |  FROM u
        |), dm AS (
        |  SELECT doc_id, scheme, host,
        |    CASE WHEN p = '' THEN '/' ELSE p END AS path,
        |    CASE WHEN regexp_matches(host,
        |        '\.(co|com|org|net|ac|gov|edu)\.[a-z][a-z]$')
        |      THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
        |      ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS d
        |  FROM h
        |)
        |SELECT doc_id, scheme, host,
        |  CASE WHEN len(d) > 0 THEN d ELSE host END AS domain, path
        |FROM dm
        |""".stripMargin),

    // --- HTML/markup strip ---------------------------------------------------
    // The text-extraction step a web crawl runs before every other text
    // operator: each corpus doc is wrapped in deterministic HTML
    // scaffolding (script block with a literal '<' inside, style block,
    // per-doc attrs, entities) and stripped — script/style content must
    // vanish wholesale, tags become spaces, entities decode (&amp;
    // last), whitespace collapses. The chain is RE2-safe by design, so
    // the oracle runs the IDENTICAL regex pipeline in DuckDB.
    Gate("t_html_strip", (s, d) => {
      import graft.ops.TextAnalysis
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = " +
          "1 < 2 && y;</script><style>.a{color:red}</style>" +
          "</head><body id=\"b"),
        (col("doc_id") % 5).cast("string"),
        lit("\"><h1>T&amp;C &lt;terms&gt;</h1><p>"), col("text"),
        lit("</p><br/><div>&nbsp;&#39;footer&#39; &copy; 2020" +
          "</div></body></html>"))
      val clean = TextAnalysis.stripMarkup(html)
      docs.select(col("doc_id"), md5(clean).as("clean_fp"),
        length(clean).cast("long").as("n_clean"))
    },
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><script type="text/javascript">var x = 1 < 2 && y;</script><style>.a{color:red}</style></head><body id="b'
        |    || CAST(doc_id % 5 AS VARCHAR)
        |    || '"><h1>T&amp;C &lt;terms&gt;</h1><p>' || text
        |    || '</p><br/><div>&nbsp;&#39;footer&#39; &copy; 2020</div></body></html>'
        |      AS html
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(html,
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM h
        |), s2 AS (
        |  SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id, replace(replace(replace(replace(replace(replace(
        |    t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
        |  FROM s2
        |), s4 AS (
        |  SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS t
        |  FROM s3
        |)
        |SELECT doc_id, md5(t) AS clean_fp, CAST(len(t) AS BIGINT) AS n_clean
        |FROM s4
        |""".stripMargin),

    // --- Registrable domain via a broadcast public-suffix list ---------------
    // The production form of t_url_parse's heuristic: an injected
    // suffix fixture including multi-label suffixes the list-free rule
    // gets WRONG (pvt.k12.ma.us, github.io), longest-literal-match via
    // a broadcast join over staged label-suffix candidates, heuristic
    // fallback for unlisted hosts, host-is-a-suffix edge. The oracle
    // mirrors the candidate/longest-match/fallback logic in SQL over
    // the same VALUES fixture.
    Gate("t_url_domain_psl", (s, d) => {
      import s.implicits._
      val m = col("doc_id") % 8
      val x = (col("doc_id") % 50).cast("string")
      val hosts = t(s, d, "documents").select(
        when(m === 0, concat(lit("s"), x, lit(".pvt.k12.ma.us")))
          .when(m === 1, concat(lit("s"), x, lit(".co.uk")))
          .when(m === 2, concat(lit("s"), x, lit(".github.io")))
          .when(m === 3, concat(lit("www.s"), x, lit(".com")))
          .when(m === 4, lit("co.uk"))
          .when(m === 5, lit("localhost"))
          .when(m === 6, concat(lit("s"), x, lit(".ac.jp")))
          .otherwise(lit("internal.example")).as("host"))
      val suffixes = Seq("com", "org", "net", "uk", "co.uk", "ac.uk",
        "us", "ma.us", "k12.ma.us", "pvt.k12.ma.us", "jp", "ac.jp",
        "io", "github.io", "au", "com.au").toDF("suffix")
      graft.ops.TextAnalysis.urlDomainWithSuffixes(hosts, suffixes)
    },
      """WITH hosts AS (
        |  SELECT DISTINCT CASE doc_id % 8
        |    WHEN 0 THEN 's' || (doc_id % 50) || '.pvt.k12.ma.us'
        |    WHEN 1 THEN 's' || (doc_id % 50) || '.co.uk'
        |    WHEN 2 THEN 's' || (doc_id % 50) || '.github.io'
        |    WHEN 3 THEN 'www.s' || (doc_id % 50) || '.com'
        |    WHEN 4 THEN 'co.uk'
        |    WHEN 5 THEN 'localhost'
        |    WHEN 6 THEN 's' || (doc_id % 50) || '.ac.jp'
        |    ELSE 'internal.example' END AS host
        |  FROM documents
        |), sfx AS (
        |  SELECT * FROM (VALUES ('com'),('org'),('net'),('uk'),('co.uk'),
        |    ('ac.uk'),('us'),('ma.us'),('k12.ma.us'),('pvt.k12.ma.us'),
        |    ('jp'),('ac.jp'),('io'),('github.io'),('au'),('com.au'))
        |    AS t(suffix)
        |), lab AS (
        |  SELECT host, string_split(host, '.') AS labels,
        |    len(string_split(host, '.')) AS n
        |  FROM hosts
        |), cand AS (
        |  SELECT host, n, k,
        |    array_to_string(labels[n - k + 1 : n], '.') AS cand
        |  FROM lab, (SELECT unnest(range(1, 6)) AS k) ks
        |  WHERE k <= least(n, 5)
        |), m AS (
        |  SELECT host, max(k) AS k
        |  FROM cand JOIN sfx ON cand.cand = sfx.suffix
        |  GROUP BY host
        |), heur AS (
        |  SELECT host, CASE WHEN length(d) > 0 THEN d ELSE host END AS h
        |  FROM (
        |    SELECT host, CASE WHEN regexp_matches(host,
        |        '\.(co|com|org|net|ac|gov|edu)\.[a-z][a-z]$')
        |      THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
        |      ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS d
        |    FROM hosts)
        |)
        |SELECT l.host,
        |  CASE WHEN m.k IS NULL THEN heur.h
        |    WHEN m.k >= l.n THEN l.host
        |    ELSE array_to_string(l.labels[l.n - m.k : l.n], '.')
        |  END AS registrable_domain
        |FROM lab l
        |LEFT JOIN m ON m.host = l.host
        |JOIN heur ON heur.host = l.host
        |""".stripMargin),

    // --- Leakage-safe split under duplication --------------------------------------
    // Exact copies draw their split from the cluster's min-id
    // representative, so a re-crawled duplicate of a test document can
    // never land in train — the contamination mode plain per-id
    // splitting has. The documents corpus HAS exact duplicates
    // (d_exact_dedup's clusters), so the rep ≠ id path is live.
    Gate("d_safe_split", (s, d) =>
      graft.ops.TrainingPrep.leakageSafeSplit(t(s, d, "documents"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "cluster_rep", "split"),
      (s"""WITH reps AS (
         |  SELECT md5(${normSql}) AS fp, min(doc_id) AS rep
         |  FROM documents GROUP BY 1
         |), j AS (
         |  SELECT d.doc_id, r.rep AS cluster_rep,
         |    (('0x' || substring(md5(CAST(r.rep AS VARCHAR) || ':split'),
         |      1, 8))::BIGINT % 1000000) / 1000000.0 AS u
         |  FROM documents d
         |  JOIN reps r ON md5(${normSql.replace("text", "d.text")})
         |    = r.fp
         |)
         |SELECT doc_id, cluster_rep, CASE WHEN u < 0.8 THEN 'train'
         |  WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM j
         |""").stripMargin),

    // --- Sentence segmentation --------------------------------------------------------
    // Rule-based segmenter ([.!?]+\s+ — RE2-safe, oracle runs it
    // verbatim); indices assigned before the whitespace-fragment drop
    // so they're stable positions; exact word counts per sentence.
    // Terminator markers are APPENDED to every row (the t_redact
    // posture — the synthetic corpus has no sentence punctuation, so
    // the raw table would never exercise the split): multi-terminator
    // runs, double spaces, and a trailing "? " whose empty fragment
    // must drop while keeping earlier indices.
    Gate("t_sentences", (s, d) =>
      graft.ops.TextAnalysis.sentences(
        t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(". Second one!! Third?  Fourth bit? ")).as("text"))),
      """WITH sp AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      text || '. Second one!! Third?  Fourth bit? ',
        |      '[.!?]+\s+') AS ss
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, unnest(ss) AS sentence,
        |    CAST(unnest(generate_series(1, len(ss))) - 1 AS INT)
        |      AS sent_idx
        |  FROM sp
        |)
        |SELECT doc_id, sent_idx, sentence,
        |  CAST(len(string_split_regex(trim(sentence), '\s+')) AS BIGINT)
        |    AS n_words
        |FROM ex WHERE trim(sentence) <> ''
        |""".stripMargin),

    // --- Weighted sampling without replacement --------------------------------
    // 25 documents sampled proportional to length via priority sampling:
    // q = w·10⁶/draw, top-k, ties by id. The sample SET is exact vs the
    // oracle (IEEE division of exact integers); output keeps the integer
    // witnesses (w, draw), never the float priority.
    Gate("o13_weighted_sample", (s, d) =>
      graft.ops.TrainingPrep.prioritySample(
        t(s, d, "documents"), k = 25, weight = col("n_chars")),
      """WITH dr AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':priority'),
        |      1, 8))::BIGINT % 1000000) + 1 AS draw
        |  FROM documents
        |)
        |SELECT doc_id, w, CAST(draw AS BIGINT) AS draw
        |FROM dr
        |ORDER BY w * 1000000.0 / draw DESC, doc_id
        |LIMIT 25
        |""".stripMargin),

    // --- Deterministic per-group uniform sample --------------------------------------
    // k smallest md5 draws per group through the bounded-heap top-k
    // aggregate (groups × k rows cross the exchange, never the corpus);
    // same draw discipline as o13's priority sample, so the SQL oracle
    // reproduces the selection set exactly.
    Gate("o17_group_sample", (s, d) =>
      graft.ops.TrainingPrep.groupSample(
        t(s, d, "lineitem").select(col("l_returnflag"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("lid")),
        keys = Seq("l_returnflag"), k = 20, idCol = "lid"),
      """WITH b AS (
        |  SELECT l_returnflag, l_orderkey * 10 + l_linenumber AS lid
        |  FROM lineitem
        |), dr AS (
        |  SELECT l_returnflag, lid,
        |    ('0x' || substring(md5(CAST(lid AS VARCHAR) ||
        |      ':group-sample'), 1, 8))::BIGINT AS draw
        |  FROM b
        |), r AS (
        |  SELECT l_returnflag, lid, draw,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY draw, lid) AS rn
        |  FROM dr
        |)
        |SELECT l_returnflag, CAST(draw AS BIGINT) AS draw,
        |  CAST(lid AS BIGINT) AS lid
        |FROM r WHERE rn <= 20
        |""".stripMargin))
}
