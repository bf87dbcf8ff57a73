package graft

import org.apache.spark.sql.functions._

/** CLI smoke tests for the corpus-path overrides: the curation/retrieval
  * commands must run against ANY documents-shaped parquet (--docs), not
  * just the harness table layout — and must NOT stop a pre-existing
  * session (embedding posture). */
class CliSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String): String = {
    val path = s"$dir/corpus.parquet"
    // distinct words per doc (the curation filters drop repetitive text)
    // with enough English stopword markers for the langId heuristic
    (0 until 60).map { i =>
      (i.toLong,
        s"this is sample document number ex$i and it contains several " +
          s"common english words plus a few unique tokens token$i marker$i",
        "en", "unit-test", 120L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(path)
    path
  }

  test("curate-v2 --docs runs over an arbitrary parquet path") {
    val dir = tmpDir("clidocs")
    val docs = writeDocs(dir)
    val out = s"$dir/curated"
    Cli.main(Array("curate-v2", "--docs", docs, "--out", out))
    val n = spark.read.parquet(out).count()
    assert(n > 0, s"expected curated rows from $docs")
    // the shared test session must survive the CLI run
    assert(!spark.sparkContext.isStopped)
  }

  test("chunk --docs writes chunks for an arbitrary corpus") {
    val dir = tmpDir("clichunk")
    val docs = writeDocs(dir)
    val out = s"$dir/chunks"
    Cli.main(Array("chunk", "--docs", docs, "--out", out,
      "--size", "10", "--overlap", "2"))
    assert(spark.read.parquet(out).count() > 0)
  }

  test("profile --input with explicit columns reads a custom parquet") {
    val dir = tmpDir("cliprof")
    val path = s"$dir/custom.parquet"
    Seq((1L, "a", 1.5), (2L, "a", 2.5), (3L, "b", 9.0))
      .toDF("row_id", "grp", "score").write.parquet(path)
    // prints to stdout; the assertion is that it resolves columns and runs
    Cli.main(Array("profile", "--input", path,
      "--key", "grp", "--id", "row_id", "--value", "score"))
    assert(!spark.sparkContext.isStopped)
  }

  test("index-build + dedup-incremental run the snapshot-dedup chain") {
    val dir = tmpDir("cliidx")
    val prior = writeDocs(dir)
    val idx = s"$dir/idx"
    Cli.main(Array("index-build", "--docs", prior, "--out", idx))
    assert(spark.read.parquet(s"$idx/exact").count() == 60)
    // batch: re-crawls of two indexed docs (new ids) + one novel doc
    val batchPath = s"$dir/batch.parquet"
    spark.read.parquet(prior).limit(2)
      .select((col("doc_id") + 500).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .unionByName(Seq((999L,
        "a genuinely novel document with words appearing nowhere else",
        "en", "unit-test", 60L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(batchPath)
    val fresh = s"$dir/fresh"
    Cli.main(Array("dedup-incremental", "--docs", batchPath,
      "--index", idx, "--out", fresh, "--append", "1"))
    val survivors = spark.read.parquet(fresh)
      .select("survivor_id").as[Long].collect().toSet
    assert(survivors == Set(999L))
    // --append folded the novel fingerprint in
    assert(spark.read.parquet(s"$idx/exact").count() == 61)
  }

  test("kcore --edges peels an arbitrary edge parquet") {
    val dir = tmpDir("clikcore")
    val path = s"$dir/edges.parquet"
    // K4 plus a tail: 3-core = the K4
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst").write.parquet(path)
    Cli.main(Array("kcore", "--edges", path, "--k", "3"))
    assert(!spark.sparkContext.isStopped)
  }

  test("bpe-encode writes token streams for an arbitrary corpus") {
    val dir = tmpDir("clibpe")
    val docs = writeDocs(dir)
    val out = s"$dir/tokens"
    Cli.main(Array("bpe-encode", "--docs", docs, "--out", out,
      "--merges", "10"))
    val enc = spark.read.parquet(out)
    assert(enc.count() == 60)
    assert(enc.columns.toSet == Set("doc_id", "tokens", "n_bpe_tokens"))
  }

  test("quality-filter keeps passing docs; lm-score --bigram writes scores") {
    val dir = tmpDir("cliqual")
    val docs = writeDocs(dir)
    val out = s"$dir/kept"
    Cli.main(Array("quality-filter", "--docs", docs, "--out", out,
      "--min-words", "10"))
    assert(spark.read.parquet(out).count() > 0)
    val scores = s"$dir/scores"
    Cli.main(Array("lm-score", "--docs", docs, "--bigram", "1",
      "--out", scores))
    val sc = spark.read.parquet(scores)
    assert(sc.count() === 60)
    assert(sc.columns.contains("lm_bi_score"))
  }

  test("top-values prints exact heavy hitters for custom columns") {
    val dir = tmpDir("clitop")
    val docs = writeDocs(dir)
    Cli.main(Array("top-values", "--input", docs,
      "--key", "lang", "--value", "source", "--k", "3"))
    assert(!spark.sparkContext.isStopped)
  }

  test("funnel --input runs over an arbitrary event parquet") {
    val dir = tmpDir("clifunnel")
    val path = s"$dir/ev.parquet"
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "a"))
      .toDF("uid", "t", "kind").write.parquet(path)
    Cli.main(Array("funnel", "--input", path, "--stages", "a,b",
      "--key", "uid", "--ts", "t", "--type", "kind"))
    assert(!spark.sparkContext.isStopped)
  }

  test("bfs --edges --seeds reports the hop histogram") {
    val dir = tmpDir("clibfs")
    val path = s"$dir/edges.parquet"
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").write.parquet(path)
    Cli.main(Array("bfs", "--edges", path, "--seeds", "1"))
    assert(!spark.sparkContext.isStopped)
  }

  test("scd2 --input writes intervals for custom columns") {
    val dir = tmpDir("cliscd2")
    val path = s"$dir/ev.parquet"
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "b"))
      .toDF("uid", "t", "st").write.parquet(path)
    val out = s"$dir/intervals"
    Cli.main(Array("scd2", "--input", path, "--key", "uid", "--ts", "t",
      "--attr", "st", "--out", out))
    assert(spark.read.parquet(out).count() === 2)
  }

  test("cosine-pairs --docs writes integer-exact pair measures") {
    val dir = tmpDir("clicos")
    val path = s"$dir/docs.parquet"
    Seq((1L, "a b c d e"), (2L, "a b c d x"), (3L, "q r s t u"))
      .toDF("doc_id", "text").write.parquet(path)
    val out = s"$dir/pairs"
    Cli.main(Array("cosine-pairs", "--docs", path, "--out", out,
      "--num", "1", "--den", "2", "--df-cap", "10", "--ngram", "2"))
    val rows = spark.read.parquet(out)
    assert(rows.columns.sorted === Array("d1", "d2", "dot", "n1sq", "n2sq"))
    assert(rows.count() === 1) // docs 1-2 share 3 of 4 bigrams
  }

  test("walks --edges --window writes skip-gram pairs") {
    val dir = tmpDir("cliwalks")
    val path = s"$dir/edges.parquet"
    Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      .write.parquet(path)
    val out = s"$dir/pairs"
    Cli.main(Array("walks", "--edges", path, "--out", out,
      "--steps", "3", "--window", "1"))
    assert(spark.read.parquet(out).count() > 0)
  }

  test("neg-samples --triples --entities writes deterministic negatives") {
    val dir = tmpDir("clineg")
    val tp = s"$dir/triples.parquet"
    Seq((1L, "r", 10L), (2L, "r", 11L)).toDF("s", "r", "o")
      .write.parquet(tp)
    val ep = s"$dir/entities.parquet"
    (10L to 19L).toDF("e").write.parquet(ep)
    val out = s"$dir/neg"
    Cli.main(Array("neg-samples", "--triples", tp, "--entities", ep,
      "--out", out, "--k", "2", "--buckets", "2"))
    val rows = spark.read.parquet(out)
    assert(rows.count() > 0)
    assert(rows.columns.contains("neg_o"))
  }

  test("prepare-training chains curate -> dedup -> BPE -> pack into " +
    "loader-shaped (shard, bin) rows") {
    val dir = tmpDir("clipreptrain")
    val docs = writeDocs(dir)
    val out = s"$dir/training"
    Cli.main(Array("prepare-training", "--docs", docs, "--out", out,
      "--seq-len", "64", "--shards", "2", "--merges", "20"))
    val rows = spark.read.parquet(out)
    assert(rows.count() > 0)
    assert(rows.columns.toSet ===
      Set("shard", "bin", "doc_ids", "tokens", "n_tokens"))
    // every bin's token stream is non-empty and within a doc of budget
    assert(rows.filter(size(col("tokens")) === 0).count() === 0)
  }

  test("compact / zorder / export-jsonl rewrite arbitrary parquet layouts") {
    val dir = tmpDir("clilayout")
    val in = s"$dir/in"
    (0 until 80).map(i => (i.toLong, s"t$i", i.toLong % 40))
      .toDF("doc_id", "text", "n_chars").repartition(6).write.parquet(in)
    Cli.main(Array("compact", "--input", in, "--out", s"$dir/c",
      "--files", "2", "--sort-by", "doc_id"))
    assert(spark.read.parquet(s"$dir/c").count() === 80)
    Cli.main(Array("zorder", "--input", in, "--out", s"$dir/z",
      "--files", "2"))
    assert(spark.read.parquet(s"$dir/z").count() === 80)
    Cli.main(Array("export-jsonl", "--input", in, "--out", s"$dir/j",
      "--shards", "2"))
    assert(spark.read.json(s"$dir/j").count() === 80)
  }

  test("drift and asof run over arbitrary parquet pairs") {
    val dir = tmpDir("clidrift")
    val a = s"$dir/a"
    Seq((1L, "en", "alpha beta")).toDF("doc_id", "lang", "text")
      .write.parquet(a)
    val b = s"$dir/b"
    Seq((2L, "en", "alpha gamma")).toDF("doc_id", "lang", "text")
      .write.parquet(b)
    Cli.main(Array("drift", "--a", a, "--b", b))
    val l = s"$dir/l"
    Seq((1L, 100L, "obs")).toDF("user_id", "ts", "tag").write.parquet(l)
    val r = s"$dir/r"
    Seq((1L, 90L, 7.0)).toDF("user_id", "ts", "v").write.parquet(r)
    val out = s"$dir/joined"
    Cli.main(Array("asof", "--left", l, "--right", r, "--out", out,
      "--direction", "nearest"))
    val row = spark.read.parquet(out).collect().head
    assert(row.getAs[Long]("r_ts") === 90L)
  }

  test("resample and cc-incremental run over arbitrary parquet inputs") {
    val dir = tmpDir("cliresample")
    val obs = s"$dir/obs.parquet"
    Seq((1L, 95L, 10.0), (1L, 130L, 20.0), (1L, 247L, 30.0))
      .toDF("k", "t", "v").write.parquet(obs)
    val out = s"$dir/grid"
    Cli.main(Array("resample", "--input", obs, "--out", out,
      "--keys", "k", "--ts", "t", "--step-us", "100"))
    assert(spark.read.parquet(out).count() === 2) // grid 100, 200
    val base = s"$dir/base.parquet"
    Seq(("a", "b"), ("c", "d")).toDF("src", "dst").write.parquet(base)
    val delta = s"$dir/delta.parquet"
    Seq(("b", "c")).toDF("src", "dst").write.parquet(delta)
    val labOut = s"$dir/labels"
    Cli.main(Array("cc-incremental", "--base", base, "--delta", delta,
      "--out", labOut))
    val labels = spark.read.parquet(labOut)
    assert(labels.count() === 4)
    assert(labels.select("component").distinct().count() === 1)
    assert(!spark.sparkContext.isStopped)
  }

  test("semantic-dedup --emb runs the auto path over an arbitrary parquet") {
    val dir = tmpDir("clisem")
    val path = s"$dir/vectors.parquet"
    val out = s"$dir/kept"
    import org.apache.spark.sql.functions._
    (0 until 40).map { i =>
      val a = math.toRadians(if (i % 2 == 0) i * 0.05 else 90.0 + i * 0.05)
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label").write.parquet(path)
    Cli.main(Array("semantic-dedup", "--emb", path, "--out", out,
      "--k", "2", "--tau", "0.9999"))
    val kept = spark.read.parquet(out).count()
    assert(kept > 0 && kept < 40, s"expected pruning, kept $kept of 40")
  }

  test("snapshot-diff / quantiles / psl-domain / wav-features / " +
    "compact-ingest run over arbitrary inputs") {
    val dir = tmpDir("clir11")
    val oldP = s"$dir/old"
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.parquet(oldP)
    val newP = s"$dir/new"
    Seq((2L, "b2"), (3L, "c")).toDF("doc_id", "text").write.parquet(newP)
    val diffOut = s"$dir/diff"
    Cli.main(Array("snapshot-diff", "--old", oldP, "--new", newP,
      "--out", diffOut))
    assert(spark.read.parquet(diffOut)
      .as[(Long, String)].collect().toMap ===
      Map(1L -> "removed", 2L -> "changed", 3L -> "added"))
    val vals = s"$dir/vals"
    (1 to 50).map(i => (i % 2L, i.toLong)).toDF("k", "v")
      .write.parquet(vals)
    Cli.main(Array("quantiles", "--input", vals, "--keys", "k",
      "--value", "v", "--ps", "0.5"))
    Cli.main(Array("psl-domain", "--hosts",
      "x.pvt.k12.ma.us,pages.github.io"))
    val docs = writeDocs(dir)
    Cli.main(Array("wav-features", "--docs", docs, "--top", "3"))
    // curate a batch, then compact its layout in place
    val curated = s"$dir/curated"
    Cli.main(Array("curate-batch", "--input", docs, "--out", curated,
      "--min-words", "3"))
    Cli.main(Array("compact-ingest", "--out", curated, "--files", "1"))
    assert(spark.read.parquet(s"$curated/corpus").count() === 60L)
    // the bfs faces over a custom edge parquet
    val edges = s"$dir/edges"
    Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 9L))
      .toDF("src", "dst", "w").write.parquet(edges)
    Cli.main(Array("bfs", "--edges", edges, "--seeds", "1",
      "--stat", "sigma"))
    Cli.main(Array("bfs", "--edges", edges, "--seeds", "1",
      "--stat", "betweenness"))
    Cli.main(Array("bfs", "--edges", edges, "--seeds", "1",
      "--weight", "w"))
    assert(!spark.sparkContext.isStopped)
  }

  test("neardup-ingest / stream-quantiles / cube / ewma run over " +
    "arbitrary inputs") {
    val dir = tmpDir("clir13")
    val docs = writeDocs(dir)
    val idx = s"$dir/mhidx"
    val out = s"$dir/ndout"
    // two folds: the second batch re-ingests the same corpus and must
    // accept nothing (every doc self-matches its indexed signature)
    Cli.main(Array("neardup-ingest", "--input", docs, "--index", idx,
      "--out", out, "--batch-id", "0"))
    Cli.main(Array("neardup-ingest", "--input", docs, "--index", idx,
      "--out", out, "--batch-id", "1"))
    assert(spark.read.parquet(idx).count() > 0)
    val ev = s"$dir/ev"
    (1 to 200).map(i => (i.toLong,
      new java.sql.Timestamp(i * 60000L), (i % 4).toLong,
      s"t${i % 3}", i / 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(ev)
    Cli.main(Array("stream-quantiles", "--input", ev,
      "--index", s"$dir/kll", "--batch-id", "0"))
    Cli.main(Array("cube", "--input", ev, "--keys", "event_type",
      "--top", "5"))
    Cli.main(Array("ewma", "--input", ev, "--alpha", "0.25", "--top", "5"))
    assert(!spark.sparkContext.isStopped)
  }

  test("a flag without a value throws instead of swallowing the next flag") {
    val dir = tmpDir("cliflags")
    val wh = s"$dir/wh"
    val out = s"$dir/out"
    // pairing `--append --out X` as append = "--out" would drop the
    // output path and write to the warehouse default
    val swallowed = intercept[IllegalArgumentException] {
      Cli.main(Array("dedup-incremental", "--warehouse", wh,
        "--append", "--out", out))
    }
    assert(swallowed.getMessage.contains("--append"))
    val trailing = intercept[IllegalArgumentException] {
      Cli.main(Array("dedup-incremental", "--warehouse", wh,
        "--out", out, "--append"))
    }
    assert(trailing.getMessage.contains("--append"))
    assert(!new java.io.File(wh).exists() && !new java.io.File(out).exists())
  }
}
