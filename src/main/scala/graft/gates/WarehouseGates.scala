package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries._
import graft.core.{SourceContext, Tables}

/** Warehouse gates: table lifecycle and incremental merge, bucketing,
  * file layouts and compaction (`ops.Layout`), CDC and snapshot diffs
  * (`ops.Cdc`). */
object WarehouseGates {
  val gates: Seq[Gate] = Seq(
    // --- K1/K2: DDL + batch write + drop lifecycle with provenance --------
    Gate("k1_k2_table_lifecycle", (s, d) => {
      val wh = s"/tmp/graft_k1k2_${sfTag(d)}"
      rmrf(s, wh)
      val ctx = new SourceContext(s, wh, "toy")
      val toy = new graft.core.Source {
        override def moduleName: String = "toy"
        override def tables: Seq[String] = Seq("model")
        // the reference's canonical 5-row toy source (tests/constants.py:17)
        override def populate(c: SourceContext): Unit = {
          import c.spark.implicits._
          c.write("model",
            (1 to 5).map(i => (s"MODEL:$i", i.toString * 5))
              .toDF("test_id", "name"))
        }
      }
      val before = toy.isPopulated(ctx)
      ctx.populateWithProvenance(toy)
      val after = toy.isPopulated(ctx)
      val n = ctx.read("model").count()
      ctx.drop(toy)
      val dropped = !ctx.exists("model")
      val acts = ctx.actions.ls().select("action").collect()
        .map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
      import s.implicits._
      Seq((before, after, n, dropped,
        acts.getOrElse("populate", 0), acts.getOrElse("drop", 0)))
        .toDF("before_populate", "after_populate", "n_rows", "dropped",
          "n_populate_actions", "n_drop_actions")
    },
      ("SELECT false AS before_populate, true AS after_populate, " +
        "CAST(5 AS BIGINT) AS n_rows, true AS dropped, " +
        "CAST(1 AS INT) AS n_populate_actions, " +
        "CAST(1 AS INT) AS n_drop_actions")),

    // --- J1 over co-bucketed warehouse tables -----------------------------
    // The §4.3 partitioning story made real: membership and pathway tables
    // written bucketed by the join key join with NO exchange on either
    // side (BucketingSpec pins the plan; this query pins the results).
    Gate("j1_bucketed_join", (s, d) => {
      val tag = sfTag(d)
      graft.core.Bucketing.writeBucketed(
        t(s, d, "lineitem").select(
          col("l_partkey").as("pathway_id"),
          col("l_suppkey").as("protein_id")),
        s"bkt_membership_$tag", s"/tmp/graft_bkt_$tag/membership",
        "pathway_id", buckets = 8)
      graft.core.Bucketing.writeBucketed(
        t(s, d, "part").select(
          col("p_partkey").as("pathway_id"), col("p_name").as("name")),
        s"bkt_pathways_$tag", s"/tmp/graft_bkt_$tag/pathways",
        "pathway_id", buckets = 8)
      graft.core.Bucketing.read(s, s"bkt_membership_$tag")
        .join(graft.core.Bucketing.read(s, s"bkt_pathways_$tag"),
          "pathway_id")
        .select(col("name").as("pathway"), col("protein_id"))
    },
      ("SELECT p_name AS pathway, l_suppkey AS protein_id FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey")),

    // --- §7.6 incremental populate: batch face of the streamed merge ------
    // Bucketed target (production shape): the per-batch anti-join reads the
    // existing keys through the bucketed catalog scan and shuffles only the
    // incoming batch (plan pinned in StreamingSpec).
    Gate("k1_incremental_merge", (s, d) => {
      val tag = sfTag(d)
      val wh = s"/tmp/graft_incmerge_$tag"
      rmrf(s, wh)
      val ctx = new SourceContext(s, wh, s"inc_$tag")
      s.sql(s"DROP TABLE IF EXISTS ${ctx.catalogName("entries")}")
      val sup = t(s, d, "supplier").select(
        concat(lit("I"), col("s_suppkey")).as("identifier"),
        col("s_name").as("name"))
      def merge(batch: DataFrame): Long =
        graft.streaming.IncrementalPopulate.mergeBatch(
          ctx, "inc", "entries", Seq("identifier"), batch, buckets = 8)
      // three overlapping batches; anti-join must land each key once
      merge(sup.filter(pmod(col("identifier").substr(lit(2), lit(10))
        .cast("long"), lit(2)) === 0))
      merge(sup.filter(pmod(col("identifier").substr(lit(2), lit(10))
        .cast("long"), lit(3)) === 0))
      merge(sup)
      ctx.read("entries").select("identifier", "name")
    },
      "SELECT 'I' || s_suppkey AS identifier, s_name AS name FROM supplier"),

    // --- Partition-pruned layout: write partitionBy, read one partition -----
    // The lang='en' read must touch only the en/ directory (the spec pins
    // PartitionFilters); the gate value-checks the partition-column
    // round-trip against the unpartitioned oracle scan.
    Gate("k15_partitioned_layout", (s, d) => {
      val p = s"/tmp/graft_part_layout_${sfTag(d)}"
      graft.core.Tables.load(s, d, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(p)
      s.read.parquet(p).filter(col("lang") === "en")
        .groupBy("source").agg(count(lit(1)).as("n"),
          sum("n_chars").as("chars"))
    },
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT)
        |  AS chars
        |FROM documents WHERE lang = 'en' GROUP BY 1
        |""".stripMargin),

    // --- Compaction: N sorted files, content row-for-row preserved ----------
    // Small-file hygiene as an operator: the documents directory rewritten
    // as 2 doc_id-sorted files (row-group stats tighten); the gate re-reads
    // the compacted layout and must hash-match the original table exactly.
    Gate("k16_compacted", (s, d) => {
      val p = s"/tmp/graft_compacted_${sfTag(d)}"
      graft.ops.Layout.compact(s, s"$d/documents.parquet", p,
        numFiles = 2, Seq("doc_id"))
      s.read.parquet(p)
        .select("doc_id", "text", "lang", "source", "n_chars")
    },
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // --- Z-order (Morton) clustered layout ----------------------------------
    // Multi-dimensional compaction: documents range-partitioned and
    // sorted by the (doc_id, n_chars) bit-interleave, so min/max stats
    // prune range predicates on EITHER column. The gate re-reads the
    // clustered layout and re-derives every row's Morton code — content
    // AND the interleave arithmetic are value-exact vs the oracle.
    Gate("k18_zorder_layout", (s, d) => {
      val p = s"/tmp/graft_zorder_${sfTag(d)}"
      graft.ops.Layout.zorderCompact(s, s"$d/documents.parquet", p,
        numFiles = 2, "doc_id", "n_chars")
      s.read.parquet(p)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"),
          graft.ops.Layout.mortonCode(col("doc_id").bitwiseAND(lit(255)),
            col("n_chars").bitwiseAND(lit(255))).as("z"))
    },
      {
      val terms = (0 until 8).map { i =>
        s"(((((doc_id & 255) >> $i) & 1) << ${2 * i}) | " +
          s"((((n_chars & 255) >> $i) & 1) << ${2 * i + 1}))"
      }.mkString(" | ")
      "SELECT doc_id, text, lang, source, n_chars, " +
        s"CAST($terms AS BIGINT) AS z FROM documents"
    }),

    // --- JSONL export: loader-facing gzipped shards, schema-pinned ----------
    // The interchange sink training loaders consume; the gate re-reads the
    // shards with the PINNED schema (JSON carries no types) and must
    // hash-match the source projection — a lossy or re-typed round-trip
    // fails the gate.
    Gate("k17_jsonl_export", (s, d) => {
      val p = s"/tmp/graft_jsonl_${sfTag(d)}"
      graft.ops.Layout.exportJsonl(
        graft.core.Tables.load(s, d, "documents")
          .select("doc_id", "lang", "text"),
        p, shards = 3)
      s.read.schema("doc_id BIGINT, lang STRING, text STRING").json(p)
    },
      "SELECT doc_id, lang, text FROM documents"),

    // --- CDC apply: upsert + delete tombstones ------------------------------
    // The lakehouse MERGE semantics over the customer snapshot: every
    // order becomes a change row (key o_custkey; op by o_orderkey % 7 —
    // 0 delete, 3 insert-under-new-key, else update; seq = o_orderkey+1,
    // globally unique and positive so last-writer-wins is engine-
    // independent). One shuffle, struct-max winner (plan-pinned);
    // oracle = the row_number formulation DuckDB-side.
    Gate("k19_cdc_apply", (s, d) =>
      graft.ops.Cdc.applySnapshot(cdcBase(s, d), cdcChanges(s, d),
        Seq("c_custkey")),
      cdcOracle),

    // --- 3-column Z-order layout --------------------------------------------
    // lineitem's (l_orderkey, l_partkey, l_suppkey) triple through the
    // N-column interleave: content preserved row-for-row (hash-compared
    // against the plain projection) and the emitted z column bit-exact
    // vs the DuckDB shift/mask expression — the same contract as k18,
    // one dimension up.
    Gate("k20_zorder3_layout", (s, d) => {
      val base = s"/tmp/graft_zorder3_${sfTag(d)}"
      rmrf(s, base)
      t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .write.parquet(s"$base/in")
      graft.ops.Layout.zorderCompactN(s, s"$base/in", s"$base/out",
        numFiles = 2, Seq("l_orderkey", "l_partkey", "l_suppkey"))
      s.read.parquet(s"$base/out").select(col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"),
        graft.ops.Layout.mortonCodeN(Seq(
          col("l_orderkey").bitwiseAND(lit(255)),
          col("l_partkey").bitwiseAND(lit(255)),
          col("l_suppkey").bitwiseAND(lit(255))), 8).as("z"))
    },
      {
      val terms = (0 until 8).flatMap { i =>
        Seq(
          s"(((((l_orderkey & 255) >> $i) & 1) << ${3 * i}))",
          s"(((((l_partkey & 255) >> $i) & 1) << ${3 * i + 1}))",
          s"(((((l_suppkey & 255) >> $i) & 1) << ${3 * i + 2}))")
      }.mkString(" | ")
      "SELECT l_orderkey, l_partkey, l_suppkey, " +
        s"CAST($terms AS BIGINT) AS z FROM lineitem"
    }),

    // --- Hilbert-curve layout ------------------------------------------------
    // The same lineitem key triple through the Hilbert interleave
    // (liquid-clustering's curve): content must survive the rewrite
    // row-for-row (oracle hash vs the plain projection), and the code
    // itself is cross-checked IN-GATE at data scale — bijectivity means
    // #distinct codes == #distinct masked cells, asserted on every
    // build (the unit-step adjacency + exhaustive encode/decode
    // round-trip live in LayoutSpec; no SQL engine can express the
    // Gray-code transform, so the per-row code has no DuckDB oracle).
    Gate("k21_hilbert_layout", (s, d) => {
      val base = s"/tmp/graft_hilbert3_${sfTag(d)}"
      rmrf(s, base)
      t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .write.parquet(s"$base/in")
      val back = graft.ops.Layout.hilbertCompactN(s, s"$base/in",
        s"$base/out", numFiles = 2,
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
      val cells = Seq("l_orderkey", "l_partkey", "l_suppkey")
        .map(c => col(c).bitwiseAND(lit(255)))
      val agg = back
        .withColumn("__h", graft.ops.Layout.hilbertCodeN(cells, 8))
        .agg(countDistinct(col("__h")).as("codes"),
          countDistinct(cells.head, cells.tail: _*).as("cells"))
        .head()
      require(agg.getLong(0) == agg.getLong(1),
        s"hilbert code not injective on the data: ${agg.getLong(0)} " +
          s"codes for ${agg.getLong(1)} cells")
      s.read.parquet(s"$base/out").select("l_orderkey", "l_partkey", "l_suppkey")
    },
      "SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem"),

    // --- Ingest small-file compaction ----------------------------------------
    // The OPTIMIZE-style maintenance the streaming-append layout needs
    // at 100 TB (one small file set per micro-batch): the curate chain
    // runs two batches, compactIngest folds corpus partitions into the
    // batch_id=-1 archive (N sorted files) and rewrites the fingerprint
    // index to N fingerprint-sorted files. The gate pins the FULL loop:
    // the compacted corpus still equals the batch-chain oracle, file
    // counts are bounded, a replayed pre-compaction batch lands NOTHING
    // (fingerprints all indexed, its partition gone), and a genuinely
    // new post-compaction batch still appends beside the archive.
    Gate("k22_compact_ingest", (s, d) => {
      import s.implicits._
      import graft.streaming.CuratePipeline
      val docs = t(s, d, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 10 === 0)
      val b0 = docs.filter(col("doc_id") % 20 === 0)
      val b1 = docs.filter(col("doc_id") % 20 =!= 0)
      val base = s"/tmp/graft_compact_${sfTag(d)}"
      rmrf(s, base)
      val checks = Seq(graft.ops.Expectations.notNull("text"))
      def rules(in: DataFrame): DataFrame =
        in.filter(graft.ops.TextAnalysis.tokenCount(col("text")) >= 5)
      val (idx, out) = (s"$base/idx", s"$base/out")
      CuratePipeline.curateBatch(s, b0, 0L, checks, rules, idx, out)
      CuratePipeline.curateBatch(s, b1, 1L, checks, rules, idx, out)
      def ids() = CuratePipeline.corpus(s, out)
        .select("doc_id").as[Long].collect().toSet
      val want = graft.ops.Dedup.exactSurvivors(rules(docs))
        .select("survivor_id").as[Long].collect().toSet
      val (nc, ni) = CuratePipeline.compactIngest(s, idx, out,
        numFiles = 4)
      val compacted = ids()
      val replay = CuratePipeline.curateBatch(s, b1, 1L, checks,
        rules, idx, out)
      val replayed = ids()
      val fresh = Seq((9000000001L, "six brand new tokens never seen"))
        .toDF("doc_id", "text")
      val m2 = CuratePipeline.curateBatch(s, fresh, 2L, checks,
        rules, idx, out)
      Seq((compacted == want,
        nc <= 4L && ni <= 4L,
        replay.nAccepted == 0L && replayed == want,
        m2.nAccepted == 1L && ids() == (want + 9000000001L))).toDF(
        "chain_equals_batch", "files_bounded", "replay_lands_nothing",
        "new_batch_appends")
    },
      ("SELECT true AS chain_equals_batch, true AS files_bounded, " +
        "true AS replay_lands_nothing, true AS new_batch_appends")),

    // --- Snapshot diff (dataset versioning) ----------------------------------
    // Two corpus versions → the delta-sized change feed: docs % 13 == 0
    // vanish (removed), % 13 == 1 get edited text (changed), % 13 == 2
    // reappear under new ids (added). Each side reduces to
    // (key, xxhash64(content)) BEFORE the one full-outer join, so the
    // shuffle ships 8-byte digests, never document payloads.
    Gate("k23_snapshot_diff", (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 1,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.ops.Cdc.snapshotDiff(docs, newSnap, Seq("doc_id"),
        Seq("text"))
    },
      """SELECT doc_id, 'removed' AS change FROM documents
        |WHERE doc_id % 13 = 0
        |UNION ALL
        |SELECT doc_id, 'changed' FROM documents WHERE doc_id % 13 = 1
        |UNION ALL
        |SELECT doc_id + 1000000, 'added' FROM documents
        |WHERE doc_id % 13 = 2
        |""".stripMargin))
}
