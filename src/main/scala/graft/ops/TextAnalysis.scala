package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting. All pure
  * `functions._` chains — codegen'd, no UDFs, fully pushdown-friendly.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish pre-token count: letter runs, digit runs, and single
    * non-alphanumeric marks (the GPT-2-style pre-tokenizer shape). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Markup strip for crawled documents — the text-extraction step a
    * web corpus runs BEFORE every other text operator (the
    * trafilatura/jusText role, reduced to the deterministic core): drop
    * script/style blocks wholesale (their content is code, not text — a
    * naive tag-strip would leak `var x = 1 < 2;` into the corpus),
    * replace remaining tags with spaces (so `</p><p>` never glues two
    * words), decode the common entities, and collapse whitespace.
    * Deliberately regex-only and RE2-safe (lazy `.*?`, inline `(?is)`,
    * NO backreferences), so the exact same chain runs in any engine —
    * the `t_html_strip` gate executes it in DuckDB verbatim. Known
    * engine boundary: `\s` includes vertical tab (0x0B) under Java but
    * not RE2 — text carrying raw VTs collapses differently across
    * engines (the corpus has none; normalize VTs first if yours does).
    * Codegen'd end-to-end; unknown entities pass through untouched. */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    // &amp; decodes LAST: the standard order that keeps "&amp;lt;" from
    // double-decoding into a bare "<"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Canonical whitespace-collapsed lowercase form used for fingerprints
    * and exact dedup. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Unicode normalization (NFC | NFD | NFKC | NFKD) — run BEFORE
    * tokenization/fingerprinting so canonically-equivalent byte sequences
    * (decomposed vs precomposed accents, fullwidth vs ASCII forms under
    * NFKC) dedupe and tokenize identically. Native codegen'd expression
    * with a zero-copy pass-through for already-normalized (e.g. pure
    * ASCII) rows — see [[graft.functions.UnicodeNormalizeExpr]]. */
  def normalizeUnicode(text: Column, form: String = "NFKC"): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.UnicodeNormalizeExpr(
        org.apache.spark.sql.graft.ColumnShim.expression(text), form))

  /** Document fingerprint: md5 of the normalized text (hex string —
    * byte-identical across engines, so oracle-checkable). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Marker-word languages for the n-gram/stopword heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "de", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Marker occurrence count. Latin-script markers are word-bounded; CJK
    * markers use plain substring counts — Java's `\b` is `\w`-based and CJK
    * codepoints are non-word chars, so `\b的\b` can never match in running
    * Chinese text. */
  private[graft] def markerHits(text: Column, words: Seq[String]): Column =
    words.map { w =>
      val pat = if (w.exists(_ > '⹿')) w else s"\\b${w}\\b"
      size(regexp_extract_all(text, lit(pat), lit(0)))
    }.reduce(_ + _)

  /** Language-ID heuristic: score = stopword-marker hit count per language;
    * returns the argmax language, 'und' when nothing matched. Deterministic
    * tie-break: higher score wins, then lexicographic language code. */
  def langId(text: Column): Column = {
    // argmax over (score, rank) structs; rank negated so that on score ties
    // the lexicographically-first language code wins.
    val ranked = langMarkers.keys.toSeq.sorted.zipWithIndex.toMap
    val scored2 = langMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(markerHits(text, words).as("score"),
        lit(-ranked(lang)).as("rank"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored2: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality metrics (length / punctuation / stopword ratios — the
    * classic pre-training quality signals), rounded for stability. */
  def qualityMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nTok = tokenCount(t)
    val nChar = length(t)
    df.withColumn("n_tokens", nTok)
      .withColumn("n_chars_measured", nChar)
      .withColumn("mean_token_len",
        round(nChar.cast("double") / nullif(nTok, lit(0)).cast("double"), 3))
      .withColumn("punct_ratio",
        round(size(regexp_extract_all(t, lit("[\\.,;:!\\?]"), lit(0)))
          .cast("double") / nullif(nChar, lit(0)).cast("double"), 4))
      .withColumn("stopword_ratio",
        round(markerHits(t, langMarkers("en")).cast("double") /
          nullif(nTok, lit(0)).cast("double"), 4))
      .withColumn("alpha_ratio",
        round(size(regexp_extract_all(t, lit("[A-Za-z]"), lit(0)))
          .cast("double") / nullif(nChar, lit(0)).cast("double"), 4))
  }

  /** Per-document contamination REPORT against an eval/benchmark probe
    * set: distinct word n-gram shingle count, hit count, and hit
    * fraction — the decision-ready shape for partial-overlap policies
    * ("drop above 10% overlap", "flag 1–10%") where the plain hit flag
    * (`t_contamination`) can't discriminate. Uncontaminated documents
    * appear with n_hit = 0, so the report covers the whole corpus.
    *
    * Scale shape: the probe shingle set broadcasts (eval sets are
    * dimension-sized by definition — when they aren't, use the bloom
    * path [[bloomContaminated]]); the corpus is ONE narrow
    * explode → broadcast-left-join → per-doc aggregation pass, never
    * shuffled on the shingle. */
  def contaminationReport(corpus: DataFrame, probes: DataFrame,
                          n: Int = 3, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val sh = corpus.select(col(idCol),
      explode(wordShingles(col(textCol), n)).as("shingle"))
    val probe = probes
      .select(explode(wordShingles(col(textCol), n)).as("shingle"))
      .distinct()
      .withColumn("hit", lit(1L))
    sh.join(broadcast(probe), Seq("shingle"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .withColumn("hit_frac",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models", table A1 filter heuristics) as boolean columns
    * plus a conjunctive `keep` — the canonical pre-training filter
    * bundle beyond [[qualityMetrics]]'s raw ratios: word-count window,
    * mean word length in [3, 10], symbol-to-word ratio (`#`/`...`)
    * ≤ 0.1, ≤ 90% bullet-started and ≤ 30% ellipsis-ended lines, ≥ 80%
    * of words containing a letter, and ≥ 2 stopword hits.
    *
    * Every ratio threshold is evaluated in INTEGER arithmetic
    * (`10·symbols ≤ words` instead of `symbols/words ≤ 0.1`), so the
    * booleans are exact in any engine — no float-division boundary
    * cases — and the whole bundle is one codegen'd projection. */
  def gopherRules(df: DataFrame, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val norm = normalized(t)
    val words = filter(split(norm, " "), w => length(w) > 0)
    val nWords = size(words).cast("long")
    // total word chars = normalized length minus separator spaces
    val sumLen = length(regexp_replace(norm, " ", "")).cast("long")
    val nSymbols = size(regexp_extract_all(t, lit("#|\\.\\.\\."), lit(0)))
      .cast("long")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-*]")))
      .cast("long")
    val nEllipsis = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$")))
      .cast("long")
    val nAlphaWords = size(filter(words, w => w.rlike("[a-z]")))
      .cast("long")
    val nStop = markerHits(norm, langMarkers("en")).cast("long")
    val rules = Seq(
      "ok_word_count" ->
        (nWords >= minWords.toLong && nWords <= maxWords.toLong),
      "ok_mean_word_len" ->
        (nWords > 0 && sumLen >= lit(3L) * nWords &&
          sumLen <= lit(10L) * nWords),
      "ok_symbol_ratio" -> (lit(10L) * nSymbols <= nWords),
      "ok_bullet_ratio" -> (lit(10L) * nBullet <= lit(9L) * nLines),
      "ok_ellipsis_ratio" -> (lit(10L) * nEllipsis <= lit(3L) * nLines),
      "ok_alpha_words" -> (lit(5L) * nAlphaWords >= lit(4L) * nWords),
      "ok_stopwords" -> (nStop >= 2L))
    val out = rules.foldLeft(df) { case (acc, (name, c)) =>
      acc.withColumn(name, c)
    }
    out.withColumn("keep",
      rules.map(r => col(r._1)).reduce(_ && _))
  }

  private def bound(e: Column)(body: Column => Column): Column =
    graft.functions.Exprs.bound(e)(body)

  /** PII / noise redaction — the standard scrub pass before training:
    * URLs, email addresses, and long digit runs (ids, phone numbers)
    * are replaced with stable placeholder tokens. Patterns are
    * case-sensitive ASCII (identical semantics under Java regex and
    * RE2-family engines — no engine-specific flags), applied URL-first
    * so an address inside a URL is not half-rewritten. Pure codegen'd
    * `regexp_replace` chain. */
  def redact(text: Column): Column = {
    val urls = regexp_replace(text, "\\bhttps?://[^\\s]+", "<URL>")
    val emails = regexp_replace(urls,
      "\\b[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}\\b", "<EMAIL>")
    regexp_replace(emails, "\\b[0-9]{6,}\\b", "<NUM>")
  }

  /** Repetition quality signals — the tie-free core of the Gopher /
    * MassiveText repetition filters (Rae et al. 2021): highly repetitive
    * documents (boilerplate, keyword stuffing, degenerate generations)
    * are the classic pre-training rejects. All metrics are duplication
    * FRACTIONS, so they are deterministic across engines (no
    * most-frequent-item tie-breaking):
    *
    *  - `dup_word_frac`: fraction of word occurrences beyond each word's
    *    first — (n - distinct)/n;
    *  - `dup_bigram_frac`: same over adjacent word bigrams (0 for
    *    single-word docs);
    *  - `max_word_freq_frac`: occurrences of the most frequent word / n —
    *    computed as the longest equal-run of the SORTED word array via a
    *    single `aggregate` fold (O(n log n), no per-distinct-word rescan).
    *
    * One narrow pass per row; no explode, no shuffle. Dispatches to the
    * native codegen'd [[graft.functions.RepetitionStatsExpr]] (single
    * hash pass per row); the composed HOF form survives as
    * [[repetitionMetricsComposed]] for property-testing bit-equality. */
  def repetitionMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val metrics = org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.RepetitionStatsExpr(
        org.apache.spark.sql.graft.ColumnShim.expression(col(textCol))))
    df.withColumn("_rep", metrics)
      .select(df.columns.map(col) :+ col("_rep.n_words") :+
        col("_rep.dup_word_frac") :+ col("_rep.dup_bigram_frac") :+
        col("_rep.max_word_freq_frac"): _*)
  }

  /** The `functions`-composed repetition family — reference
    * implementation the native expression is property-tested against. */
  def repetitionMetricsComposed(df: DataFrame,
                                textCol: String = "text"): DataFrame = {
    val round4 = (c: Column) => round(c, 4)
    val metrics = bound(split(normalized(col(textCol)), " ")) { words =>
      val n = size(words)
      val nDup = (n - size(array_distinct(words))).cast("double")
      val bigrams = when(n < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), n - 1),
          i => concat_ws(" ", element_at(words, i), element_at(words, i + 1))))
      val bgDup = bound(bigrams) { bg =>
        val nb = size(bg)
        when(nb < 1, lit(0.0)).otherwise(
          (nb - size(array_distinct(bg))).cast("double") / nb)
      }
      // longest equal-run of the sorted array == max occurrence count
      val maxFreq = bound(array_sort(words)) { sorted =>
        aggregate(sorted,
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc.getField("prev"),
              acc.getField("run") + 1).otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best"))
      }
      struct(n.as("n_words"),
        round4(nDup / n).as("dup_word_frac"),
        round4(bgDup).as("dup_bigram_frac"),
        round4(maxFreq.cast("double") / n).as("max_word_freq_frac"))
    }
    df.withColumn("_rep", metrics)
      .select(df.columns.map(col) :+ col("_rep.n_words") :+
        col("_rep.dup_word_frac") :+ col("_rep.dup_bigram_frac") :+
        col("_rep.max_word_freq_frac"): _*)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03
    * — the MOSS algorithm). Hash every k-char gram of the normalized
    * text, slide a w-hash window, select each window's MINIMUM hash.
    * The winnowing guarantee: any substring match of length ≥ w + k - 1
    * between two documents shares at least one selected fingerprint, so
    * partial overlap / contamination is detectable from plain set
    * intersection — no positional alignment, unlike the whole-document
    * [[fingerprint]]. Selected density ≈ 2/(w+1) of all grams. Returns a
    * sorted distinct `array<bigint>`. Texts shorter than k or w collapse
    * to a single whole-text / min-gram fingerprint.
    *
    * Dispatches to the native codegen'd
    * [[graft.functions.WinnowExpr]] (monotonic-deque window minima, O(1)
    * amortized per gram); the composed HOF form survives as
    * [[winnowFingerprintsComposed]] for property-testing bit-equality. */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.WinnowExpr(
        org.apache.spark.sql.graft.ColumnShim.expression(text), k, w))

  /** The `functions`-composed winnowing family — reference implementation
    * the native expression is property-tested against (per-window
    * `slice`+`array_min`, O(w) per gram). */
  def winnowFingerprintsComposed(text: Column, k: Int = 8,
                                 w: Int = 4): Column =
    bound(normalized(text)) { t =>
      val nGrams = length(t) - (k - 1)
      bound(when(nGrams < 1, array(xxhash64(t)))
        .otherwise(transform(sequence(lit(1), nGrams),
          i => xxhash64(t.substr(i, lit(k)))))) { grams =>
        val nWins = size(grams) - (w - 1)
        array_sort(array_distinct(
          when(nWins < 1, array(array_min(grams)))
            .otherwise(transform(sequence(lit(1), nWins),
              j => array_min(slice(grams, j, lit(w)))))))
      }
    }

  /** Word n-gram shingles (sorted distinct) — the dedup/Jaccard substrate. */
  def wordShingles(text: Column, n: Int): Column =
    bound(split(normalized(text), " ")) { words =>
      val count = size(words)
      array_sort(array_distinct(
        when(count < n, array(concat_ws(" ", words)))
          .otherwise(transform(sequence(lit(0), count - n),
            i => concat_ws(" ", slice(words, i + 1, lit(n)))))))
    }

  /** Sorted distinct 64-bit shingle HASHES — the hot-path form of
    * [[wordShingles]] the dedup pipelines run on. Each n-gram is hashed
    * straight off the word array (one xxhash64 over n word references),
    * never materialized as a string, and the distinct/sort work on longs.
    * Set semantics (and therefore Jaccard values) are identical up to
    * 64-bit hash collisions: within any one document pair's union (~10³
    * shingles) the collision probability is ~10⁶/2⁶⁴ ≈ 1e-13, and a single
    * collision shifts Jaccard by ≤1/|union|.
    *
    * Dispatches to the native codegen'd
    * [[graft.functions.WordShingleHashesExpr]] (one compiled pass per
    * row); the interpreted HOF form survives as
    * [[wordShingleHashesComposed]] for property-testing bit-equality. */
  def wordShingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.WordShingleHashesExpr(
        org.apache.spark.sql.graft.ColumnShim.expression(text), n))

  /** One mergeable Bloom filter over the probe set's shingle hashes —
    * the decontamination scale path when the benchmark/eval probe set is
    * too large to broadcast as an exact hash set (`t_contamination`'s
    * shape). The aggregation is Spark's own `BloomFilterAggregate`
    * (the engine's runtime-filter sketch, constructed directly — it is
    * not registered as a public SQL function): per-partition partial
    * blooms OR-merge through the normal partial-aggregation path, and
    * only the FIXED-SIZE filter ever reaches the driver, regardless of
    * probe cardinality. Deterministic: bloom insertion is commutative,
    * so the result is partitioning-independent.
    *
    * Size `numBits ≈ 10 × expectedItems` for ~1% false positives; false
    * NEGATIVES are structurally impossible for inserted elements. */
  def shingleBloom(probes: DataFrame, n: Int, expectedItems: Long,
                   numBits: Long, textCol: String = "text"): Array[Byte] = {
    import org.apache.spark.sql.graft.ColumnShim
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(
      ColumnShim.expression(col("h")),
      Literal(expectedItems), Literal(numBits))
    probes
      .select(explode(wordShingleHashes(col(textCol), n)).as("h"))
      .agg(ColumnShim.column(agg.toAggregateExpression()).as("bf"))
      .collect().head.getAs[Array[Byte]](0)
  }

  /** Per-document count of shingles the probe bloom flags — the bloom
    * face of `t_contamination`. The corpus side stays one narrow
    * explode + codegen'd `BloomFilterMightContain` predicate (the filter
    * rides the plan as one binary literal in the references array — no
    * join at all, where the exact path needs a broadcast hash join) +
    * one map-side-combined groupBy. Guarantees: every truly contaminated
    * shingle is flagged (no false negatives); over-flagging is bounded
    * by the filter's false-positive rate. */
  def bloomContaminated(corpus: DataFrame, bloom: Array[Byte], n: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    corpus
      .select(col(idCol), explode(wordShingleHashes(col(textCol), n)).as("h"))
      .filter(ColumnShim.column(BloomFilterMightContain(
        Literal(bloom), ColumnShim.expression(col("h")))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_flagged"))
  }

  /** Per-ROW contamination flag: true when any shingle of `text` hits the
    * probe bloom. A pure stateless predicate (narrow, codegen'd, no
    * aggregation), so it composes into Structured Streaming unchanged —
    * the stream face of decontamination needs no state store at all. */
  def bloomContaminatedFlag(text: Column, bloom: Array[Byte],
                            n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    exists(wordShingleHashes(text, n), h =>
      ColumnShim.column(BloomFilterMightContain(
        Literal(bloom), ColumnShim.expression(h))))
  }

  /** Sliding-window document chunking (the RAG / context-window prep
    * step): split each document into overlapping windows of
    * `chunkTokens` whitespace tokens, advancing by `chunkTokens −
    * overlap` per chunk. A document of ≤ `chunkTokens` tokens is one
    * chunk; empty/whitespace-only documents emit no chunks; the final
    * chunk may be short (token-level padding is the tokenizer's job
    * downstream).
    *
    * Scale shape: a pure narrow `functions._` chain — split →
    * `explode(sequence(...))` fan-out → `slice`/`array_join` — fully
    * codegen'd, no shuffle, no UDF. One document's chunks stay in the
    * partition holding its row (explode is per-row), so the fan-out per
    * task is bounded by document length, not corpus size; documents
    * themselves spread with the scan.
    *
    * Tokenization splits on the explicit class `[ \t\n\f\r]+` — exactly
    * RE2's `\s`, so the DuckDB oracle's `string_split_regex(text,
    * '\s+')` sees the identical token array (Java's `\s` additionally
    * matches vertical tab, which RE2's does not); empty tokens from
    * leading/trailing whitespace are filtered instead of trimmed, again
    * matching on both engines.
    * Output: (idCol, chunk_ix 0.., chunk_text, n_tokens). */
  def chunk(docs: DataFrame, chunkTokens: Int, overlap: Int,
            idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val toks = filter(split(col(textCol), "[ \\t\\n\\f\\r]+"), t => t =!= "")
    docs
      .select(col(idCol), toks.as("toks"), size(toks).as("n"))
      .filter(col("n") > 0)
      .select(col(idCol), col("toks"), col("n"),
        explode(sequence(lit(0L),
          when(col("n") <= chunkTokens, lit(0L))
            .otherwise(ceil((col("n") - chunkTokens) /
              lit(stride.toDouble))))).as("chunk_ix"))
      .select(col(idCol), col("chunk_ix"),
        array_join(slice(col("toks"),
          (col("chunk_ix") * stride + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens.toLong),
          col("n") - col("chunk_ix") * stride).as("n_tokens"))
  }

  /** The `functions`-composed shingle-hash family — reference
    * implementation the native expression is property-tested against. */
  /** Corpus drift report between two snapshots — the observability pass
    * a pipeline runs when a new crawl lands ("did the word distribution
    * move, and where?") before re-tuning curation thresholds. Per group
    * (e.g. language): vocabulary sizes, words new in / vanished from the
    * new snapshot, total token volumes, and the L1 distance between the
    * raw count vectors — every measure an INTEGER over exact counts, so
    * the report is engine-bit-exact, never a sketch.
    *
    * Scale shape: each snapshot is tokenized once into (group, word)
    * counts (map-side combined), the two count frames meet by ONE
    * full-outer equi-join on (group, word), and the report is a final
    * hash-aggregation per group. Nothing all-pairs; vocabulary-sized
    * frames after the first aggregation.
    *
    * Output: (groupCol, vocab_a, vocab_b, new_words, vanished_words,
    * tokens_a, tokens_b, l1). */
  def driftReport(a: DataFrame, b: DataFrame, groupCol: String = "lang",
                  textCol: String = "text"): DataFrame = {
    def counts(df: DataFrame): DataFrame = df
      .select(col(groupCol).as("g"), split(normalized(col(textCol)), " ")
        .as("__ws"))
      .select(col("g"), explode(col("__ws")).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    val ca = counts(a).withColumnRenamed("c", "ca")
    val cb = counts(b).withColumnRenamed("c", "cb")
    ca.join(cb, Seq("g", "w"), "full_outer")
      .select(col("g"), col("w"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .groupBy(col("g").as(groupCol))
      .agg(
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_b"),
        sum(when(col("ca") === 0, 1L).otherwise(0L)).as("new_words"),
        sum(when(col("cb") === 0, 1L).otherwise(0L)).as("vanished_words"),
        sum("ca").as("tokens_a"),
        sum("cb").as("tokens_b"),
        sum(abs(col("ca") - col("cb"))).as("l1"))
  }

  def wordShingleHashesComposed(text: Column, n: Int): Column =
    bound(split(normalized(text), " ")) { words =>
      val count = size(words)
      array_sort(array_distinct(
        when(count < n, array(xxhash64(words)))
          .otherwise(transform(sequence(lit(0), count - n),
            i => xxhash64((1 to n).map(j => element_at(words, i + j)): _*)))))
    }

  /** Corpus word n-gram frequency table — the classic "count every
    * 5-gram over the crawl" job (Brants & Franz's Web 1T n-grams; also
    * the contamination-check input). Tokens are [[normalized]]-form
    * words; each document contributes `max(0, len - n + 1)` grams; the
    * output keeps grams occurring at least `minCount` times.
    *
    * Scale shape: the gram array is staged in its own projection before
    * `explode` (the measured generator-child staging rule), and the
    * count is ONE hash aggregation with map-side partials — the
    * explode's fan-out never crosses the shuffle un-combined. At 100 TB
    * the reduce side is vocabulary-sized (gram-space), not corpus-sized;
    * `minCount` prunes the long tail after the partial merge. */
  def ngramCounts(df: DataFrame, textCol: String = "text", n: Int = 3,
                  minCount: Long = 2L): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(minCount >= 1, s"minCount must be positive, got $minCount")
    // native codegen'd gram materialization (one normalize+split per
    // row); the composed transform/element_at form re-normalized the
    // whole document once PER GRAM after CollapseProject inlined the
    // shared word array into the lambda — see WordNgramsExpr's scaladoc
    val grams = df.select(
      org.apache.spark.sql.graft.ColumnShim.column(
        graft.functions.WordNgramsExpr(
          org.apache.spark.sql.graft.ColumnShim.expression(col(textCol)),
          n)).as("__grams"))
    grams.select(explode(col("__grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** URL scheme, lowercased (`""` when the value is not an absolute
    * URL). All four URL accessors are RE2-safe regex chains — the same
    * expressions run verbatim as the DuckDB oracle — and codegen'd. */
  def urlScheme(url: Column): Column =
    lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** URL host, lowercased, with userinfo (`user:pw@`) and `:port`
    * stripped — the per-site key a crawl curation pipeline groups on
    * (source caps, robots lookups, domain-level quality priors). */
  def urlHost(url: Column): Column = {
    val auth = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    lower(regexp_replace(regexp_replace(auth, "^[^@/]*@", ""),
      ":[0-9]*$", ""))
  }

  /** URL path (`/` when absent; query/fragment excluded). */
  def urlPath(url: Column): Column = {
    val p = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    when(p === "", lit("/")).otherwise(p)
  }

  /** Registrable-domain HEURISTIC from a [[urlHost]] value: the last two
    * labels, or the last three when the second-level label is a common
    * public-suffix word under a 2-letter ccTLD (`co.uk`, `com.au`,
    * `ac.jp`, …). NOT the full Mozilla public-suffix list — at
    * production scale broadcast-join the PSL instead; this is the
    * list-free approximation for when the PSL isn't shipped. Hosts with
    * fewer labels than the rule wants (bare `localhost`, or a host that
    * IS a suffix) fall back to the host itself. */
  def urlDomain(host: Column): Column = {
    val three = regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    val two = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    val d = when(
      host.rlike("\\.(co|com|org|net|ac|gov|edu)\\.[a-z][a-z]$"), three)
      .otherwise(two)
    when(length(d) > 0, d).otherwise(host)
  }

  /** Registrable domain via an INJECTED public-suffix list — the
    * production form [[urlDomain]]'s scaladoc promises: `suffixes` is a
    * one-column frame of literal suffixes (ship the Mozilla PSL,
    * wildcard rules pre-expanded upstream — this operator does longest
    * LITERAL match, no `*`/`!` grammar), and the registrable domain is
    * the longest matching suffix plus one label. The F8/F9
    * grounding-dict posture: per DISTINCT host, every label-suffix up
    * to 5 labels deep (the PSL's practical depth) is generated in a
    * STAGED projection (complex generator children measured ~7× slower
    * inline), equi-joined against the BROADCAST suffix list, and the
    * longest match folds with one max — never a per-row driver lookup,
    * never a regex scan of the list.
    *
    * Fallbacks keep the operator total: a host matching NO suffix falls
    * back to the [[urlDomain]] heuristic; a host that IS a suffix (or
    * whose every label matched) returns itself — the heuristic's
    * behavior on both edges. Returns `(host, registrable_domain)` for
    * every distinct non-null host in `hosts`'s first column; callers
    * join it back to the corpus (domain is a per-host fact — computing
    * it per document row would redo the work once per duplicate). */
  def urlDomainWithSuffixes(hosts: DataFrame,
                            suffixes: DataFrame): DataFrame = {
    val hostCol = hosts.columns.head
    val suffixCol = suffixes.columns.head
    val staged = hosts.select(col(hostCol).as("host")).distinct()
      .filter(col("host").isNotNull)
      .withColumn("__labels", split(col("host"), "\\."))
      .withColumn("__n", size(col("__labels")))
      .withColumn("__kmax", least(col("__n"), lit(5)))
    val cands = staged
      .select(col("host"),
        explode(sequence(lit(1), col("__kmax"))).as("__k"),
        col("__labels"))
      .select(col("host"), col("__k"),
        expr("array_join(slice(__labels, -__k, __k), '.')").as("__cand"))
    val matched = cands
      .join(broadcast(suffixes.select(col(suffixCol).as("__cand"))
        .distinct()), Seq("__cand"))
      .groupBy("host").agg(max("__k").as("__k"))
    staged.join(matched, Seq("host"), "left")
      .select(col("host"),
        when(col("__k").isNull, urlDomain(col("host")))
          .when(col("__k") >= col("__n"), col("host"))
          .otherwise(expr(
            "array_join(slice(__labels, -(__k + 1), __k + 1), '.')"))
          .as("registrable_domain"))
  }

  /** Sentence segmentation: split on terminator runs followed by
    * whitespace (`[.!?]+\s+`) — the rule-based segmenter sentence-level
    * curation starts from (per-sentence dedup, quality stats,
    * pack-by-sentence). The pattern is RE2-safe, so the SQL oracle runs
    * it VERBATIM (the t_url_parse discipline); a terminator at
    * end-of-text stays attached to its sentence (no trailing split),
    * and whitespace-only fragments are dropped AFTER indexing so
    * `sent_idx` stays the stable position in the raw split — a
    * re-segmentation never renumbers surviving sentences. One
    * explode, no shuffle. Output: (idCol, sent_idx, sentence,
    * n_words). */
  def sentences(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol),
        split(col(textCol), "[.!?]+\\s+").as("__ss"))
      .select(col(idCol),
        posexplode(col("__ss")).as(Seq("sent_idx", "sentence")))
      .filter(trim(col("sentence")) =!= "")
      .withColumn("n_words",
        size(split(trim(col("sentence")), "\\s+")).cast("long"))
}
