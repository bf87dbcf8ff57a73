package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries._
import graft.bel.ConnectedComponents
import graft.core.Tables
import graft.ops.{Dedup, TextAnalysis}

/** Deduplication gates: exact, MinHash, SimHash, embedding and
  * containment dedup, incremental indexes, duplicate spans (`ops.Dedup`)
  * and fuzzy joins / entity resolution (`ops.FuzzyJoin`). */
object DedupGates {
  private val jaccardSql =
    s"""$shingleCte,
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |  CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes na ON na.doc_id = id_a
       |JOIN sizes nb ON nb.doc_id = id_b
       |WHERE CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) >= 0.8
       |""".stripMargin

  /** The cross-snapshot dedup scenario shared by the incremental gates:
    * PRIOR snapshot = docs with id % 3 ≠ 0; the new BATCH carries its own
    * novel docs (% 3 = 0), re-crawls of prior docs under new ids
    * (% 6 = 1, shifted +1e6 — must be dropped by the index probe), and
    * an in-batch duplicate of every novel doc (shifted +2e6 — must lose
    * within-batch survivor selection to the smaller original id). */
  private def incPrior(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"))

  private def incBatch(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") % 6 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }

  /** Writes the fingerprint index of the prior snapshot; returns its path. */
  private def fingerprintIndex(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_fpidx_${sfTag(d)}"
    rmrf(s, path)
    graft.ops.Dedup.writeFingerprintIndex(incPrior(s, d), path)
    path
  }

  /** Writes the MinHash index of the prior snapshot (near-dup twin of
    * [[fingerprintIndex]]); returns its path. */
  private def minHashIndex(s: SparkSession, d: String): String = {
    val path = s"/tmp/graft_mhidx_${sfTag(d)}"
    rmrf(s, path)
    graft.ops.Dedup.writeMinHashIndex(incPrior(s, d), path)
    path
  }

  private val incBatchSql =
    """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 6 = 1
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 3 = 0
      |""".stripMargin

  /** 40 distinct lowercase filler words appended to every 25th document
    * to plant near-superset pairs (prefix contained, resemblance
    * diluted); shared verbatim with the SQL oracle's feed. */
  private val containmentTail: String =
    (1 to 40).map(i => s" graftpad$i").mkString

  /** [[shingleCte]] re-rooted on the planted containment feed,
    * then Broder's directed containments from the same intersection
    * counts the Jaccard oracle uses. */
  private def containmentOracle: String = {
    val feed = "SELECT doc_id, text FROM documents UNION ALL " +
      s"SELECT doc_id + 1000000, text || '$containmentTail' " +
      "FROM documents WHERE doc_id % 25 = 0"
    s"""WITH feed AS ($feed),
       |${shingleCte.replace("FROM documents", "FROM feed")
            .stripPrefix("WITH ")},
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b, CAST(c AS BIGINT) AS n_common,
       |  CAST(c AS DOUBLE) / na.n AS c_a_in_b,
       |  CAST(c AS DOUBLE) / nb.n AS c_b_in_a
       |FROM inter
       |JOIN sizes na ON na.doc_id = id_a
       |JOIN sizes nb ON nb.doc_id = id_b
       |WHERE greatest(CAST(c AS DOUBLE) / na.n,
       |               CAST(c AS DOUBLE) / nb.n) >= 0.9
       |""".stripMargin
  }

  /** Fuzzy-match entity resolution over records `(id, s)`: records within
    * edit distance `maxDist` are linked, and each connected group maps to
    * its smallest id. Returns `(id, entity_id)` for every record; shared
    * by j18_er_entities and the `resolve` command. */
  private[graft] def resolveEntities(recs: DataFrame,
                                     maxDist: Int): DataFrame = {
    val pairs = graft.ops.FuzzyJoin.fuzzyPairs(recs, "id", "s",
      maxDist = maxDist)
    val cc = graft.bel.ConnectedComponents.run(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    val canon = cc.groupBy("component").agg(min("node").as("ent"))
    val matched = cc.join(canon, "component")
      .select(col("node").as("id"), col("ent"))
    recs.select("id").join(matched, Seq("id"), "left")
      .select(col("id"), coalesce(col("ent"), col("id")).as("entity_id"))
  }

  val gates: Seq[Gate] = Seq(
    // --- Dedup over documents ----------------------------------------------
    Gate("d_exact_dedup", (s, d) =>
      Dedup.exactSurvivors(t(s, d, "documents")),
      (s"SELECT md5($normSql) AS fingerprint, min(doc_id) AS survivor_id, " +
        "count(*) AS n_copies FROM documents GROUP BY 1")),
    Gate("d_jaccard_pairs", (s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), n = 3, threshold = 0.8),
      jaccardSql),
    Gate("d_minhash_pairs", (s, d) =>
      Dedup.minHashPairs(t(s, d, "documents"), n = 3, threshold = 0.8),
      jaccardSql),

    // --- Embedding-cosine near-dup: LSH bands + exact verify --------------
    // The test corpus embeddings are random (max pair cosine ≈ 0.51), so the
    // near-dup regime is synthesized inside the query, as the G-series does
    // for raw inputs: each vector gets a deterministically perturbed twin
    // (+0.001·sin(7·id) on every dim) and the operator must recover
    // exactly the (i, i+1000000) twin pairs at threshold 0.99.
    Gate("d_embed_pairs", (s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
      val perturbed = base.select(
        (col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.001) * sin(col("vec_id") * 7)).as("embedding"))
      // The gate pins PAIR RECOVERY; the cosine column is dropped because
      // 500 near-identical doubles cannot be sorted consistently across
      // engines (summation-order noise larger than any sort-quantization
      // bucket and smaller than none).
      graft.ops.Dedup.embeddingPairs(base.unionByName(perturbed),
        threshold = 0.99)
        .select("id_a", "id_b")
    },
      """WITH b AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> x + 0.001 * sin(vec_id * 7)) AS v
        |  FROM embeddings
        |), u AS (
        |  SELECT * FROM b UNION ALL SELECT * FROM p
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |""".stripMargin),

    // --- Quality gate for SimHash (was `no_oracle` d_simhash) -------------
    // Perturbed-twin invariant: appending ONE token (one extra shingle)
    // must move the 64-bit fingerprint far less than chance — probed max
    // twin Hamming is 13 (sf0.01) / 17 (sf0.1) vs ~32 for random pairs,
    // so the gate pins ≤ 24. Discrimination: ≥ 90% of documents keep
    // distinct fingerprints (probed 499/500 and 4982/5000) — a collapsed
    // or near-constant hash fails.
    Gate("d_simhash_invariant", (s, d) => {
      val docs = t(s, d, "documents")
      def sh(df: DataFrame): DataFrame = df.select(col("doc_id"),
        graft.ops.Dedup.simHash(
          graft.ops.TextAnalysis.wordShingleHashes(col("text"), 3)).as("h"))
      val base = sh(docs)
      val twin = sh(docs.select(col("doc_id"),
        concat(col("text"), lit(" graftmarker")).as("text")))
      val twinOk = base.withColumnRenamed("h", "h1")
        .join(twin.withColumnRenamed("h", "h2"), "doc_id")
        .select(bit_count(col("h1").bitwiseXOR(col("h2"))).as("ham"))
        .agg((max("ham") <= 24).as("twins_close"))
      val distinctOk = base.agg(
        (countDistinct(col("h")).cast("double") / count(lit(1)) >= 0.9)
          .as("discriminative"))
      twinOk.crossJoin(distinctOk)
    },
      "SELECT true AS twins_close, true AS discriminative"),

    // --- Near-dup clusters + survivor per cluster -------------------------
    // The actual dedup deliverable: LSH pairs closed under transitivity by
    // distributed connected components, min-id survivor per component.
    Gate("d_neardup_survivors", (s, d) =>
      graft.ops.Dedup.nearDupSurvivors(t(s, d, "documents"),
        n = 3, threshold = 0.8),
      s"""WITH pairs AS (${jaccardSql}),
         |und AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b AS u, id_a AS v FROM pairs
         |), verts AS (
         |  SELECT DISTINCT u AS n FROM und
         |), walk AS (
         |  WITH RECURSIVE w(n, comp) AS (
         |    SELECT n, n FROM verts
         |    UNION
         |    SELECT e.v, w.comp FROM w JOIN und e ON w.n = e.u
         |  )
         |  SELECT n, min(comp) AS comp FROM w GROUP BY n
         |)
         |SELECT d.doc_id, coalesce(walk.comp, d.doc_id) AS survivor_id
         |FROM documents d LEFT JOIN walk ON d.doc_id = walk.n
         |""".stripMargin),

    // --- Embedding-space near-dup survivors (same twin construction as
    // d_embed_pairs) — each perturbed twin must map to its
    // base vector, every base vector to itself.
    Gate("d_embed_survivors", (s, d) => {
      val base = t(s, d, "embeddings").select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
      val perturbed = base.select(
        (col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.001) * sin(col("vec_id") * 7)).as("embedding"))
      graft.ops.Dedup.embeddingNearDupSurvivors(
        base.unionByName(perturbed), threshold = 0.99)
    },
      // sound because d_embed_pairs already pins the pair set to EXACTLY the
      // (i, i+1e6) twins (hash-equal to the exact all-pairs cosine oracle at
      // τ=0.99; max base-pair cosine ≈ 0.51), so components are the twin
      // pairs and the survivor is always the base id.
      ("SELECT vec_id, vec_id AS survivor_id FROM embeddings " +
        "UNION ALL " +
        "SELECT vec_id + 1000000 AS vec_id, vec_id AS survivor_id " +
        "FROM embeddings")),

    // --- Policy-based exact-dedup survivors -------------------------------
    // "Keep the best copy": per duplicate cluster the longest text wins
    // (smallest id on ties) — the quality-aware complement to
    // d_exact_dedup's min-id policy. Value-exact oracle via the same
    // md5-fingerprint clusters with a row_number policy ordering.
    Gate("d_survivor_policy", (s, d) =>
      graft.ops.Dedup.exactSurvivorsBy(t(s, d, "documents"),
        length(col("text"))),
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |      AS fingerprint,
        |    length(text) AS score
        |  FROM documents
        |), r AS (
        |  SELECT fingerprint, doc_id, score,
        |    row_number() OVER (PARTITION BY fingerprint
        |      ORDER BY score DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY fingerprint) AS n_copies
        |  FROM f
        |)
        |SELECT fingerprint, doc_id AS survivor_id,
        |  CAST(score AS DOUBLE) AS score, CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1
        |""".stripMargin),

    // --- SimHash Hamming-band pairs: deterministic completeness gate --------
    // Corpus = documents + exact-duplicate twins (Hamming 0 by
    // construction) + one-token-appended twins (small but varying
    // Hamming). Soundness: every emitted pair is within the radius
    // (re-verified here from scratch fingerprints). Completeness: every
    // planted twin pair that IS within the radius must be emitted — the
    // band pigeonhole makes this exact, so the gate is a hard boolean,
    // not a recall estimate. Non-vacuity: the exact twins guarantee at
    // least |documents| planted in-radius pairs.
    Gate("d_simhash_pairs", (s, d) => {
      import graft.ops.{Dedup, TextAnalysis}
      val maxHamming = 3
      val docs = t(s, d, "documents").select("doc_id", "text")
      val corpus = docs
        .unionByName(docs.select((col("doc_id") + 2000000).as("doc_id"),
          col("text")))
        .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graftmarker")).as("text")))
      val got = Dedup.simHashPairs(corpus, n = 3, maxHamming = maxHamming)
      val fp = docs.select(col("doc_id"),
        Dedup.simHash(TextAnalysis.wordShingleHashes(col("text"), 3)).as("fp"))
      val fpTwin = corpus.filter(col("doc_id") >= 1000000)
        .select(col("doc_id"),
          Dedup.simHash(TextAnalysis.wordShingleHashes(col("text"), 3)).as("fp"))
      val planted = fp.alias("a")
        .join(fpTwin.alias("b"),
          col("b.doc_id") % 1000000 === col("a.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("ham"))
        .filter(col("ham") <= maxHamming)
      val missing = planted.join(got, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      val nPlanted = planted.agg(count(lit(1)).as("n_planted"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      // soundness is INDEPENDENTLY recomputed: fingerprint the corpus
      // from scratch and re-derive every emitted pair's Hamming distance
      // — taking max(got.hamming) would test the operator against its
      // own filter (hamming <= radius by construction) and catch nothing
      val fpAll = corpus.select(col("doc_id"),
        Dedup.simHash(TextAnalysis.wordShingleHashes(col("text"), 3))
          .as("fp"))
      val sound = got
        .join(fpAll.select(col("doc_id").as("id_a"), col("fp").as("fa")),
          "id_a")
        .join(fpAll.select(col("doc_id").as("id_b"), col("fp").as("fb")),
          "id_b")
        .agg(coalesce(max(bit_count(col("fa").bitwiseXOR(col("fb")))),
          lit(0)).as("max_ham"),
          coalesce(min(bit_count(col("fa").bitwiseXOR(col("fb")))
            === col("hamming")), lit(true)).as("ham_reported_ok"))
      missing.crossJoin(nPlanted).crossJoin(nDocs).crossJoin(sound).select(
        (col("n_missing") === 0).as("planted_all_recovered"),
        (col("n_planted") >= col("n_docs")).as("planted_nonvacuous"),
        (col("max_ham") <= maxHamming && col("ham_reported_ok"))
          .as("pairs_within_radius"))
    },
      ("SELECT true AS planted_all_recovered, true AS planted_nonvacuous, " +
        "true AS pairs_within_radius")),

    // --- Corpus-wide line-level dedup (value-exact oracle) -------------------
    // No document in the synthetic corpus contains a newline, so the gate
    // CONSTRUCTS line-dedup pressure deterministically: doc g of the
    // derived corpus has 4 lines = the texts of source docs g..g+3, so
    // every text appears as a line in up to 4 derived docs and only its
    // first (id, ix) occurrence may survive. The oracle replicates the
    // construction and the first-occurrence rule exactly.
    Gate("d_line_dedup", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val bounds = docs.agg(min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
      val lines = docs
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), lit(3L))).as("off"))
        .select((col("doc_id") - col("off")).as("gid"),
          col("off").as("ix"), col("text").as("line"))
        .crossJoin(broadcast(bounds))
        .filter(col("gid") >= col("lo") && col("gid") <= col("hi") - 3)
      val multi = lines.groupBy("gid")
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("ix"), col("line")))),
          x => x.getField("line"))).as("text"))
        .select(col("gid").as("doc_id"), col("text"))
      graft.ops.Dedup.dedupLines(multi)
    },
      """WITH b AS (
        |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
        |), lines AS (
        |  SELECT d.doc_id - off AS gid, off AS ix, d.text AS line
        |  FROM documents d, unnest(range(0, 4)) AS t(off), b
        |  WHERE d.doc_id - off >= b.lo AND d.doc_id - off <= b.hi - 3
        |), sv AS (
        |  -- encode (gid, ix) lexicographically, OFFSET BY lo so the
        |  -- encoding stays non-negative and // and % decode exactly
        |  -- (truncating division would misdecode negative ids)
        |  SELECT line, min((gid - b.lo) * 4 + ix) AS v
        |  FROM lines, b WHERE len(line) >= 1 GROUP BY line
        |), k AS (
        |  SELECT l.gid, l.ix, l.line,
        |    (sv.line IS NULL OR
        |     (l.gid = sv.v // 4 + b.lo AND l.ix = sv.v % 4)) AS keep
        |  FROM lines l LEFT JOIN sv USING (line), b
        |)
        |SELECT gid AS doc_id,
        |  coalesce(string_agg(CASE WHEN keep THEN line END,
        |    chr(10) ORDER BY ix), '') AS text,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dropped
        |FROM k GROUP BY gid
        |""".stripMargin),

    // --- Substring-level duplicate spans (value-exact oracle) ----------------
    // Corpus = documents + whole-document twins for the even half, so the
    // interval merge is exercised on full-document spans while natural
    // cross-document 5-gram repeats yield partial spans. The oracle
    // recomputes positions from string grams; the engine runs on 64-bit
    // gram hashes — identical output up to hash collisions.
    Gate("d_dup_spans", (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      graft.ops.Dedup.duplicateSpans(corpus, n = 5)
    },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0
        |), norm AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |      ' ') AS w
        |  FROM corpus
        |), p AS (
        |  SELECT doc_id, w, CAST(unnest(range(len(w) - 4)) AS BIGINT) AS pos
        |  FROM norm WHERE len(w) >= 5
        |), g AS (
        |  SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + 5], ' ')
        |    AS gram
        |  FROM p
        |), dup AS (
        |  SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2
        |), m AS (
        |  SELECT doc_id, pos FROM g JOIN dup USING (gram)
        |), s AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER win IS NULL
        |      OR pos > lag(pos) OVER win + 5 THEN 1 ELSE 0 END AS new_span
        |  FROM m WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |), sp AS (
        |  SELECT doc_id, pos,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM s
        |)
        |SELECT doc_id, min(pos) AS span_start,
        |  max(pos) + 4 AS span_end, count(*) AS n_grams
        |FROM sp GROUP BY doc_id, span_id
        |""".stripMargin),

    // --- The CUT step over duplicate spans (value-exact oracle) --------------
    // Same twin-union corpus as d_dup_spans; the oracle removes the union
    // of per-gram cover intervals, which equals the union of the merged
    // spans (two grams merge exactly when their intervals overlap or
    // touch), so it never needs the window-merge — an independent
    // formulation of the same semantics.
    Gate("d_cut_spans", (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      graft.ops.Dedup.cutSpans(corpus, n = 5)
    },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0
        |), norm AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |      ' ') AS w
        |  FROM corpus
        |), p AS (
        |  SELECT doc_id, w, CAST(unnest(range(len(w) - 4)) AS BIGINT) AS pos
        |  FROM norm WHERE len(w) >= 5
        |), g AS (
        |  SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + 5], ' ')
        |    AS gram
        |  FROM p
        |), dup AS (
        |  SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, pos + o.o AS cpos
        |  FROM g JOIN dup USING (gram), (
        |    SELECT CAST(unnest(range(5)) AS BIGINT) AS o) o
        |), words AS (
        |  SELECT doc_id, unnest(w) AS word,
        |    CAST(unnest(range(len(w))) AS BIGINT) AS wp
        |  FROM norm
        |), kept AS (
        |  SELECT wd.doc_id,
        |    string_agg(wd.word, ' ' ORDER BY wd.wp) AS clean_text,
        |    count(*) AS n_kept
        |  FROM words wd LEFT JOIN cov c
        |    ON wd.doc_id = c.doc_id AND wd.wp = c.cpos
        |  WHERE c.cpos IS NULL
        |  GROUP BY wd.doc_id
        |)
        |SELECT n.doc_id, coalesce(k.clean_text, '') AS clean_text,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  len(n.w) - coalesce(k.n_kept, 0) AS n_removed
        |FROM norm n LEFT JOIN kept k USING (doc_id)
        |""".stripMargin),

    // --- Blocked edit-distance (fuzzy) self-join -----------------------------
    // Entity resolution over 24-char document prefixes: originals plus a
    // deterministically perturbed twin each (one char deleted at an
    // id-dependent position — the same arithmetic in both engines). The
    // operator blocks by PassJoin partition signatures and verifies only
    // co-bucketed pairs; the oracle is the brute cross product + DuckDB
    // levenshtein, so completeness of the blocking is value-exact: every
    // pair the cross product finds, the blocked join must find.
    Gate("j12_fuzzy_join", (s, d) => {
      val base = t(s, d, "documents").select(
        col("doc_id").cast("long").as("id"),
        substring(col("text"), 1, 24).as("s"))
      val pfx = (col("id") % 12 + 2).cast("int")
      val pert = base.select((col("id") + 1000000L).as("id"),
        concat(col("s").substr(lit(1), pfx),
          col("s").substr(pfx + 2, lit(100))).as("s"))
      graft.ops.FuzzyJoin.fuzzyPairs(base.unionByName(pert), "id", "s",
        maxDist = 2)
    },
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, substr(text, 1, 24) AS s
        |  FROM documents
        |), pert AS (
        |  SELECT b.id + 1000000 AS id,
        |    substr(b.s, 1, CAST(b.id % 12 + 2 AS INT)) ||
        |      substr(b.s, CAST(b.id % 12 + 4 AS INT)) AS s
        |  FROM base b
        |), u AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM u a JOIN u b
        |  ON (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.id < b.id))
        |WHERE levenshtein(a.s, b.s) <= 2
        |""".stripMargin),

    // --- Cross-snapshot incremental exact dedup -----------------------------
    // Probe the new batch against the persisted prior-snapshot index:
    // novel docs survive (with within-batch dedup applied), re-crawled
    // prior content is dropped by ONE anti-join on the fingerprint.
    Gate("d_incremental_exact", (s, d) =>
      graft.ops.Dedup.incrementalSurvivors(s, fingerprintIndex(s, d),
        incBatch(s, d)),
      (s"""WITH prior AS (
        |  SELECT DISTINCT md5(${normSql}) AS f FROM documents
        |  WHERE doc_id % 3 <> 0
        |), batch AS (
        |  $incBatchSql
        |), g AS (
        |  SELECT md5(${normSql}) AS fingerprint,
        |    min(doc_id) AS survivor_id, count(*) AS n_copies
        |  FROM batch GROUP BY 1
        |)
        |SELECT fingerprint, survivor_id, n_copies FROM g
        |WHERE fingerprint NOT IN (SELECT f FROM prior)
        |""").stripMargin),

    // --- Cross-snapshot near-dup probe (MinHash index) ----------------------
    // The near-dup twin of d_incremental_exact: the batch (novel docs
    // plus a lightly-perturbed twin of every indexed %6=1 doc) probes the
    // prior snapshot's MinHash index; output is every exact-verified
    // (batch, indexed) pair at Jaccard ≥ 0.8. Value-exact vs the DuckDB
    // brute-force cross product — so the gate also proves banding recall
    // on this corpus (a missed band collision would drop a pair the
    // oracle finds).
    Gate("d_incremental_minhash", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(docs.filter(col("doc_id") % 6 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("xq "), col("text")).as("text")))
      graft.ops.Dedup.incrementalNearDups(s, minHashIndex(s, d), batch)
    },
      s"""WITH u AS (
        |  SELECT doc_id, text, 'b' AS side FROM documents
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'xq ' || text, 'b' FROM documents
        |  WHERE doc_id % 6 = 1
        |  UNION ALL
        |  SELECT doc_id, text, 'p' FROM documents WHERE doc_id % 3 <> 0
        |), norm AS (
        |  SELECT doc_id, side, ${normSql} AS t FROM u
        |), words AS (
        |  SELECT doc_id, side, string_split(t, ' ') AS w FROM norm
        |), sh AS (
        |  SELECT doc_id, side,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(range(len(w) - 2),
        |                i -> array_to_string(w[i+1:i+3], ' ')))
        |    END AS s
        |  FROM words
        |), ex AS (
        |  SELECT doc_id, side, unnest(s) AS shingle FROM sh
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id, b.doc_id AS index_id, count(*) AS c
        |  FROM ex a JOIN ex b
        |    ON a.shingle = b.shingle AND a.side = 'b' AND b.side = 'p'
        |  GROUP BY 1, 2
        |)
        |SELECT id, index_id,
        |  CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = id
        |JOIN sizes nb ON nb.doc_id = index_id
        |WHERE CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) >= 0.8
        |""".stripMargin),

    // --- Index append is sound and idempotent -------------------------------
    // After folding the batch's survivors into the index, (a) the append
    // count equals the first probe's survivor count, and (b) a second
    // probe of the SAME batch returns nothing — the invariant that makes
    // snapshot-over-snapshot dedup chains safe to re-run.
    Gate("d_incremental_append", (s, d) => {
      import s.implicits._
      val path = s"/tmp/graft_fpidx_app_${sfTag(d)}"
      rmrf(s, path)
      graft.ops.Dedup.writeFingerprintIndex(incPrior(s, d), path)
      val batch = incBatch(s, d)
      val n1 = graft.ops.Dedup
        .incrementalSurvivors(s, path, batch).count()
      val nApp = graft.ops.Dedup
        .appendToFingerprintIndex(s, path, batch)
      val n2 = graft.ops.Dedup
        .incrementalSurvivors(s, path, batch).count()
      Seq((nApp == n1 && n1 > 0, n2 == 0L))
        .toDF("append_matches_first", "second_probe_empty")
    },
      "SELECT true AS append_matches_first, true AS second_probe_empty"),

    // --- SemDeDup-style semantic dedup --------------------------------------
    // Cluster-scoped cosine pruning (the dedup flavor the family was
    // missing): base corpus + deterministically perturbed twins (the
    // d_embed_pairs construction), 16 fixed seed centroids, twins land in
    // their base's cluster at cosine ≈ 1 and must be pruned; far pairs
    // survive. Assignment argmax and the dominance rule are the same IEEE
    // arithmetic in both engines (the cosine loop is sequential in both),
    // so the gate is value-exact on the survivor set.
    Gate("d_semantic_prune", (s, d) => {
      val base = graft.core.Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("embedding"))
      // sequenced withColumn, NOT a single select: in a single select
      // Spark 4 lateral-resolves `vec_id` inside the transform lambda to
      // the sibling `vec_id + 1000000` alias, while DuckDB resolves the
      // input column — the two engines would perturb with different ids
      val perturbed = base
        .withColumn("embedding", transform(col("embedding"),
          x => x + lit(0.001) * sin(col("vec_id") * 7)))
        .withColumn("vec_id", col("vec_id") + 1000000)
      val centroids = base.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      graft.ops.Dedup.semanticSurvivors(
        base.unionByName(perturbed), centroids, tau = 0.99)
    },
      """WITH b AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), p AS (
        |  -- inner subquery: DuckDB resolves a sibling alias LATERALLY, so
        |  -- an un-nested `sin(vec_id * 7)` would see vec_id + 1000000
        |  -- while Spark's transform sees the input column
        |  SELECT vec_id + 1000000 AS vec_id, v FROM (
        |    SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> x + 0.001 * sin(vec_id * 7)) AS v
        |    FROM embeddings)
        |), u AS (
        |  SELECT * FROM b UNION ALL SELECT * FROM p
        |), c AS (
        |  SELECT vec_id AS cid, v AS cv FROM b WHERE vec_id < 16
        |), assigned AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT u.vec_id, u.v, c.cid,
        |      row_number() OVER (PARTITION BY u.vec_id
        |        ORDER BY list_cosine_similarity(u.v, c.cv) DESC, c.cid ASC)
        |        AS rn
        |    FROM u CROSS JOIN c)
        |  WHERE rn = 1
        |)
        |SELECT a.vec_id AS id, CAST(a.cid AS BIGINT) AS cell
        |FROM assigned a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM assigned o
        |  WHERE o.cid = a.cid AND o.vec_id < a.vec_id
        |    AND list_cosine_similarity(o.v, a.v) >= 0.99)
        |""".stripMargin),

    // --- Behavioral-sequence fuzzy join -------------------------------------
    // Users as trajectories: each user's first 8 event-type initials in
    // (ts, event_id) order form a compact behavior string; the PassJoin
    // fuzzy join finds user pairs within edit distance 2 — "who behaves
    // alike" without a cross product. Composition of the sequence
    // build (one sort-under-aggregation, the Bpe.encode discipline)
    // with j12's operator; value-exact vs DuckDB levenshtein over the
    // same ordered string_agg.
    Gate("j19_seq_fuzzy", (s, d) => {
      val ev = graft.core.Tables.events(s, d)
      val traj = ev
        .groupBy("user_id")
        .agg(substring(concat_ws("",
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("c"))))
            .getField("c")), 1, 8).as("s"))
      graft.ops.FuzzyJoin.fuzzyPairs(traj, "user_id", "s", maxDist = 2)
    },
      """WITH traj AS (
        |  SELECT user_id AS id,
        |    substr(string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY ts, event_id), 1, 8) AS s
        |  FROM events GROUP BY user_id
        |)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM traj a JOIN traj b
        |  ON (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.id < b.id))
        |WHERE levenshtein(a.s, b.s) <= 2
        |""".stripMargin),

    // --- Entity resolution: fuzzy match -> clusters -> canonical ids --------
    // The batch ER composition the fuzzy join exists for: PassJoin
    // candidate pairs at edit distance <= 2 (j12's corpus: every doc
    // plus a deletion-perturbed twin) become match edges, connected
    // components merge transitive match chains, and every record maps
    // to its cluster's min id as the canonical entity (unmatched
    // records stay their own entity). Each stage is its own gated
    // operator; this pins the composition — the oracle recomputes the
    // whole chain from levenshtein + a recursive CTE.
    Gate("j18_er_entities", (s, d) => {
      val base = t(s, d, "documents").select(
        col("doc_id").cast("long").as("id"),
        substring(col("text"), 1, 24).as("s"))
      val pfx = (col("id") % 12 + 2).cast("int")
      val pert = base.select((col("id") + 1000000L).as("id"),
        concat(col("s").substr(lit(1), pfx),
          col("s").substr(pfx + 2, lit(100))).as("s"))
      resolveEntities(base.unionByName(pert), maxDist = 2)
    },
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, substr(text, 1, 24) AS s
        |  FROM documents
        |), pert AS (
        |  SELECT b.id + 1000000 AS id,
        |    substr(b.s, 1, CAST(b.id % 12 + 2 AS INT)) ||
        |      substr(b.s, CAST(b.id % 12 + 4 AS INT)) AS s
        |  FROM base b
        |), u AS (SELECT * FROM base UNION ALL SELECT * FROM pert
        |), pairs AS (
        |  SELECT a.id AS a_id, b.id AS b_id
        |  FROM u a JOIN u b
        |    ON (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.id < b.id))
        |  WHERE levenshtein(a.s, b.s) <= 2
        |), und AS (
        |  SELECT DISTINCT eu, ev FROM (
        |    SELECT a_id AS eu, b_id AS ev FROM pairs
        |    UNION SELECT b_id, a_id FROM pairs)
        |  WHERE eu <> ev
        |), verts AS (
        |  SELECT DISTINCT eu AS n0 FROM und
        |), walk AS (
        |  WITH RECURSIVE walk(n, comp) AS (
        |    SELECT n0, n0 FROM verts
        |    UNION
        |    SELECT e.ev, walk.comp FROM walk JOIN und e ON walk.n = e.eu
        |  )
        |  SELECT n, comp FROM walk
        |), ent AS (
        |  SELECT n AS id, min(comp) AS entity_id FROM walk GROUP BY n
        |)
        |SELECT u.id, coalesce(e.entity_id, u.id) AS entity_id
        |FROM u LEFT JOIN ent e ON e.id = u.id
        |""".stripMargin),

    // --- Containment (near-superset) dedup pairs -------------------------------------
    // Broder containment over the df-capped inverted index: every 25th
    // document gets a planted EXTENSION (its text + a fixed 40-word
    // tail) — prefix shingles are all present in the extension, so
    // c_a_in_b = 1.0 while resemblance drops with the tail — the case
    // Jaccard dedup structurally misses. The oracle reproduces the
    // planted feed and both directed containments exactly.
    Gate("d_containment_pairs", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val feed = docs.unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(containmentTail)).as("text")))
      graft.ops.Dedup.containmentPairs(feed, n = 3, threshold = 0.9)
    },
      containmentOracle))
}
