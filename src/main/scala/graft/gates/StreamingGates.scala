package graft
package gates

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

import graft.Queries._
import graft.core.{SourceContext, Tables}
import graft.ops.{Dedup, TextAnalysis}

/** Streaming gates: every `streaming` operator driven through a
  * MemoryStream or file source with deterministic micro-batches, plus the
  * batch faces of the event-stream operators. */
object StreamingGates {
  private type FeedRow = (Long, java.sql.Timestamp, Long, String, Double)

  /** Canonical driver-side events feed — (event_id, ts, user_id,
    * event_type, value) with ts cast to TIMESTAMP. The MemoryStream gates
    * are harness-side feeds over a dimension-sized table by contract and
    * derive their subsets driver-side from this one scan. */
  private def eventsFeed(s: SparkSession, d: String): Seq[FeedRow] = {
    import s.implicits._
    graft.core.Tables.events(s, d)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[FeedRow]
      .collect().toSeq
  }

  /** One micro-batch half of the w_stream_expect oracle — must mirror
    * the gate's check list exactly. */
  private def expectHalfSql(half: String, batchId: Int): String =
    s"""SELECT CAST($batchId AS BIGINT) AS batch_id,
       |  'not_null(user_id)' AS "check",
       |  CAST(count(user_id) AS DOUBLE) / count(*) AS metric,
       |  count(user_id) = count(*) AS passed FROM $half
       |UNION ALL
       |SELECT $batchId, 'bounds(value,0.0,500.0)',
       |  CAST(count(*) FILTER (value BETWEEN 0 AND 500) AS DOUBLE)
       |    / count(value),
       |  count(*) FILTER (value BETWEEN 0 AND 500) = count(value)
       |FROM $half
       |UNION ALL
       |SELECT $batchId, 'values_in(event_type)',
       |  CAST(count(*) FILTER (event_type IN
       |    ('view', 'click', 'purchase', 'error')) AS DOUBLE)
       |    / count(event_type),
       |  count(*) FILTER (event_type IN
       |    ('view', 'click', 'purchase', 'error')) = count(event_type)
       |FROM $half
       |UNION ALL
       |SELECT $batchId, 'row_count(1,100000000)', CAST(count(*) AS DOUBLE),
       |  count(*) BETWEEN 1 AND 100000000 FROM $half""".stripMargin

  /** Runs `out` into the in-memory table `sink` (dropping a stale one
    * first), lets `feed` add micro-batches to the running query, stops it
    * and returns the table. */
  private def intoMemory(ss: SparkSession, out: Dataset[_], sink: String,
                         mode: String = "append")
                        (feed: StreamingQuery => Unit): DataFrame = {
    ss.catalog.dropTempView(sink)
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode(mode).start()
    try feed(q) finally q.stop()
    ss.table(sink)
  }

  val gates: Seq[Gate] = Seq(
    // --- Streaming-shaped: stateful sessionization (batch face) ------------
    Gate("w_sessionize", (s, d) =>
      graft.streaming.EventStreams.sessionizeBatch(Tables.events(s, d))
        .withColumn("session_start",
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")),
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |), l AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM e
        |), m AS (
        |  SELECT *, CASE WHEN prev IS NULL OR
        |    CAST(floor(epoch(ts)) AS BIGINT) -
        |    CAST(floor(epoch(prev)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l
        |), s AS (
        |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM m
        |)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S')
        |    AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, seq
        |""".stripMargin),

    // --- Events: windowed aggregation (batch shape of the stream op) -------
    Gate("w_tumbling_hour", (s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 2).as("sum_value")),
      ("SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), " +
        "'%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events " +
        "GROUP BY 1, 2")),

    // --- Watermarked streaming dedup --------------------------------------
    // Every event arrives twice in one micro-batch and the whole feed is
    // then replayed in a second batch; dropDuplicatesWithinWatermark must
    // land each key exactly once (bounded state — watermark-evicted keys
    // re-arrive only as late rows, which the operator drops). Oracle =
    // the distinct row set itself.
    Gate("w_stream_dedup", (s, d) => withShufflePartitions(s, 8) { ss =>
      import ss.implicits._
      val tag = sfTag(d)
      // 1-in-20 deterministic subset of the events feed:
      // dimension-sized by construction, so collectable to feed the
      // MemoryStream (the stream SOURCE is the test harness; the dedup
      // itself stays distributed)
      val rows = eventsFeed(ss, d).filter(_._1 % 20 == 0)
      val mem = MemoryStream[FeedRow](ss)
      val out = graft.streaming.EventStreams.dedupStream(
        mem.toDS().toDF("event_id", "ts", "user_id", "event_type", "value"),
        Seq("event_id"))
      val sink = s"w_stream_dedup_$tag"
      intoMemory(ss, out, sink) { q =>
        mem.addData(rows ++ rows: _*)
        q.processAllAvailable()
        mem.addData(rows: _*)
        q.processAllAvailable()
      }.select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    },
      ("SELECT event_id, strftime(CAST(ts AS TIMESTAMP), " +
        "'%Y-%m-%d %H:%M:%S') AS ts, user_id, event_type, value " +
        "FROM events WHERE event_id % 20 = 0")),

    // --- Stream face of the tumbling-window aggregation -------------------
    // Same subset as w_stream_dedup, fed in two time-ordered batches;
    // complete-mode memory sink = the final window table, oracle = the
    // batch w_tumbling_hour SQL over the subset. Both faces of §2.10's
    // windowed aggregation are now oracle-checked.
    Gate("w_stream_windows", (s, d) => withShufflePartitions(s, 8) { ss =>
      import ss.implicits._
      val tag = sfTag(d)
      val rows = eventsFeed(ss, d).filter(_._1 % 20 == 0)
        .map(r => (r._2, r._4, r._5)).sortBy(_._1.getTime)
      val mem = MemoryStream[(java.sql.Timestamp, String, Double)](ss)
      val out = graft.streaming.EventStreams.windowedCounts(
        mem.toDS().toDF("ts", "event_type", "value"))
      val sink = s"w_stream_windows_$tag"
      intoMemory(ss, out, sink, "complete") { q =>
        val (h1, h2) = rows.splitAt(rows.length / 2)
        mem.addData(h1: _*)
        q.processAllAvailable()
        mem.addData(h2: _*)
        q.processAllAvailable()
      }.select(
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    },
      ("SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), " +
        "'%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events " +
        "WHERE event_id % 20 = 0 GROUP BY 1, 2")),

    // --- Stream face of sessionization ------------------------------------
    // Real events in batch 1; two far-future sentinel batches then march
    // the watermark forward so every real session hits its event-time
    // timeout and is EMITTED (append mode only ever emits closed
    // sessions). Sentinel users are filtered out; oracle = the batch
    // w_sessionize SQL over the subset.
    Gate("w_stream_sessions", (s, d) => withShufflePartitions(s, 8) { ss =>
      import ss.implicits._
      import graft.streaming.EventStreams.Event
      val tag = sfTag(d)
      // second-truncated feed: the stream sessionizer compares millisecond
      // gaps, the SQL oracle compares floor-second epochs — on whole-
      // second timestamps the two predicates are identical (the batch
      // face w_sessionize casts to long seconds for the same reason)
      val real = eventsFeed(ss, d).filter(_._1 % 50 == 0)
        .map(r => Event(r._1,
          new java.sql.Timestamp(r._2.getTime / 1000L * 1000L),
          r._3, r._4, r._5))
      val maxTs = real.map(_.ts.getTime).max
      def sentinel(days: Int): Event = Event(-days.toLong,
        new java.sql.Timestamp(maxTs + days * 86400000L), -1L, "s", 0.0)
      val mem = MemoryStream[Event](ss)
      val out = graft.streaming.EventStreams.sessionizeStream(mem.toDS())
      val sink = s"w_stream_sessions_$tag"
      intoMemory(ss, out, sink) { q =>
        mem.addData(real: _*)
        q.processAllAvailable()
        mem.addData(sentinel(10))
        q.processAllAvailable()
        mem.addData(sentinel(20))
        q.processAllAvailable()
      }.filter(col("user_id") >= 0).select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
    },
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |  WHERE event_id % 50 = 0
        |), l AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM e
        |), m AS (
        |  SELECT *, CASE WHEN prev IS NULL OR
        |    CAST(floor(epoch(ts)) AS BIGINT) -
        |    CAST(floor(epoch(prev)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS ns
        |  FROM l
        |), s AS (
        |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM m
        |)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S')
        |    AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, seq
        |""".stripMargin),

    // --- Stream face of the incremental merge -----------------------------
    Gate("w_incremental_populate", (s, d) => withShufflePartitions(s, 8) { ss =>
      import ss.implicits._
      val tag = sfTag(d)
      val wh = s"/tmp/graft_incstream_$tag"
      rmrf(ss, wh)
      val ctx = new SourceContext(ss, wh, s"incs_$tag")
      ss.sql(s"DROP TABLE IF EXISTS ${ctx.catalogName("entries")}")
      val sup = t(ss, d, "supplier").select(
        concat(lit("I"), col("s_suppkey")).as("identifier"),
        col("s_name").as("name"))
      // supplier is dimension-sized by contract — collectable to feed the
      // MemoryStream (the stream SOURCE is the test harness; the merge
      // itself stays distributed)
      val rows = sup.as[(String, String)].collect().toSeq
      def keyOf(r: (String, String)): Long = r._1.stripPrefix("I").toLong
      val mem = MemoryStream[(String, String)](ss)
      val q = graft.streaming.IncrementalPopulate.run(
        mem.toDS().toDF("identifier", "name"), ctx, "incs", "entries",
        keyCols = Seq("identifier"), checkpoint = s"$wh/_ckpt", buckets = 8)
      try {
        // three overlapping micro-batches; the anti-join must land each
        // key exactly once across the whole stream
        mem.addData(rows.filter(keyOf(_) % 2 == 0): _*)
        q.processAllAvailable()
        mem.addData(rows.filter(keyOf(_) % 3 == 0): _*)
        q.processAllAvailable()
        mem.addData(rows: _*)
        q.processAllAvailable()
      } finally q.stop()
      ctx.read("entries").select("identifier", "name")
    },
      "SELECT 'I' || s_suppkey AS identifier, s_name AS name FROM supplier"),

    // --- File-based stream source gate --------------------------------------
    // The production streaming entry point: real parquet files, not a
    // MemoryStream. One micro-batch ingests every existing file; the
    // complete-mode window table must equal the batch aggregation over the
    // same data (w_tumbling_hour's shape, full corpus).
    Gate("w_file_stream", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        val tag = sfTag(d)
        val out = graft.streaming.EventStreams.windowedCounts(
          graft.streaming.EventStreams.readStream(ss, d))
        val sink = s"w_file_stream_$tag"
        intoMemory(ss, out, sink, "complete")(_.processAllAvailable()).select(
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("sum_value"))
      },
      ("SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), " +
        "'%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2")),

    // --- Stream-stream interval join ----------------------------------------
    // The §2.10 face no other gate covers: a JOIN between two streams.
    // Clicks and errors (disjoint event subsets) feed two MemoryStreams in
    // two batches each; every (click, same-user error within the trailing
    // day) pair must appear exactly once. Inner joins emit matches as
    // they arrive, so the append sink after processAllAvailable holds the
    // complete pair set. Oracle = the identical range-bounded equi-join in
    // DuckDB over unix-micros longs (Spark's INTERVAL arithmetic on
    // µs-truncated timestamps IS µs-integer arithmetic, so the boundary
    // predicates agree exactly).
    Gate("w_stream_join", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val tag = sfTag(d)
        def feed(kind: String) = eventsFeed(ss, d)
          .filter(_._4 == kind).map(r => (r._1, r._2, r._3))
        val memL = MemoryStream[(Long, java.sql.Timestamp, Long)](ss)
        val memR = MemoryStream[(Long, java.sql.Timestamp, Long)](ss)
        val out = graft.streaming.EventStreams.intervalJoin(
          memL.toDS().toDF("event_id", "ts", "user_id"),
          memR.toDS().toDF("event_id", "ts", "user_id"),
          lookbackMinutes = 24 * 60)
        val sink = s"w_stream_join_$tag"
        intoMemory(ss, out, sink) { q =>
          val clicks = feed("click"); val errors = feed("error")
          val (l1, l2) = clicks.splitAt(clicks.length / 2)
          val (r1, r2) = errors.splitAt(errors.length / 2)
          memL.addData(l1: _*); memR.addData(r1: _*)
          q.processAllAvailable()
          memL.addData(l2: _*); memR.addData(r2: _*)
          q.processAllAvailable()
        }.select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("r_event_id"),
          unix_micros(col("r_ts")).as("r_ts_us"))
      },
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, event_id AS r_event_id, epoch_us(ts) AS r_ts_us
        |  FROM events WHERE event_type = 'error'
        |)
        |SELECT l.user_id, l.event_id, l.ts_us, r.r_event_id, r.r_ts_us
        |FROM l JOIN r ON l.user_id = r.user_id
        |  AND r.r_ts_us BETWEEN l.ts_us - 86400000000 AND l.ts_us
        |""".stripMargin),

    // --- Stream face of bloom decontamination --------------------------------
    // bloomContaminatedFlag is a stateless per-row predicate, so the
    // decontaminating curation filter runs in Structured Streaming with
    // NO state store. The gate pins stream/batch equivalence: the
    // append-mode survivors must equal the identical batch plan's
    // survivors exactly (same bloom bytes ⇒ same false positives ⇒ a
    // set-level guarantee, not a statistical one).
    Gate("w_stream_curate", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        import graft.ops.TextAnalysis
        val tag = sfTag(d)
        val docs = t(ss, d, "documents")
        val probes = docs.filter(col("doc_id") < 5)
        val bloom = TextAnalysis.shingleBloom(probes, n = 3,
          expectedItems = 20000L, numBits = 200000L)
        def curate(in: org.apache.spark.sql.DataFrame) = in
          .filter(TextAnalysis.tokenCount(col("text")) >= 10)
          .filter(!TextAnalysis.bloomContaminatedFlag(col("text"), bloom, 3))
          .select("doc_id")
        // 1-in-10 deterministic subset feeds the MemoryStream harness
        val feed = docs.filter(col("doc_id") >= 5 && col("doc_id") % 10 === 0)
          .select("doc_id", "text")
        val rows = feed.as[(Long, String)].collect().toSeq
        val mem = MemoryStream[(Long, String)](ss)
        val sink = s"w_stream_curate_$tag"
        val stream =
          intoMemory(ss, curate(mem.toDS().toDF("doc_id", "text")), sink) { q =>
            val (h1, h2) = rows.splitAt(rows.length / 2)
            mem.addData(h1: _*)
            q.processAllAvailable()
            mem.addData(h2: _*)
            q.processAllAvailable()
          }
        val batch = curate(feed)
        val symDiff = stream.unionByName(batch)
          .groupBy("doc_id").agg(count(lit(1)).as("c"))
          .filter(col("c") =!= 2)
          .agg(count(lit(1)).as("n_diff"))
        symDiff.crossJoin(stream.agg(count(lit(1)).as("n_stream"))).select(
          (col("n_diff") === 0).as("stream_equals_batch"),
          (col("n_stream") > 0).as("survivors_nonempty"))
      },
      "SELECT true AS stream_equals_batch, true AS survivors_nonempty"),

    // --- Streaming dedup against the persisted fingerprint index ------------
    // The continuous-ingest curation loop: batch 1 seeds the index with
    // its survivors; batch 2 carries fresh docs, re-crawls of batch-1
    // content under new ids (must be dropped by the index probe), and its
    // own internal duplicates. Output = every accepted doc id, value-exact
    // vs the pure-SQL first-occurrence chain. Feeds are id-sorted so a
    // micro-batch split cannot reorder first-occurrence winners.
    Gate("w_stream_dedup_index", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val base = s"/tmp/graft_sdedup_${sfTag(d)}"
        rmrf(ss, base)
        val docs = t(ss, d, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1)
        val b1 = docs.filter(_._1 % 2 == 0)
        val b2 = (docs.filter(_._1 % 2 == 1) ++
          b1.filter(_._1 % 4 == 0)
            .map { case (i, txt) => (i + 1000000L, txt) }).sortBy(_._1)
        val mem = MemoryStream[(Long, String)](ss)
        val q = graft.streaming.DedupStream.run(
          mem.toDS().toDF("doc_id", "text"),
          s"$base/idx", s"$base/out", s"$base/ckpt")
        try {
          mem.addData(b1: _*)
          q.processAllAvailable()
          mem.addData(b2: _*)
          q.processAllAvailable()
        } finally q.stop()
        ss.read.parquet(s"$base/out").select("doc_id")
      },
      (s"""WITH sub AS (
        |  SELECT doc_id, md5(${normSql}) AS f FROM documents
        |  WHERE doc_id % 5 = 0
        |), b1 AS (
        |  SELECT doc_id, f FROM sub WHERE doc_id % 2 = 0
        |), b2 AS (
        |  SELECT doc_id, f FROM sub WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, f FROM b1 WHERE doc_id % 4 = 0
        |), s1 AS (
        |  SELECT f, min(doc_id) AS doc_id FROM b1 GROUP BY f
        |), s2 AS (
        |  SELECT f, min(doc_id) AS doc_id FROM b2 GROUP BY f
        |)
        |SELECT doc_id FROM s1
        |UNION ALL
        |SELECT doc_id FROM s2 WHERE f NOT IN (SELECT f FROM s1)
        |""").stripMargin),

    // --- Stream-static enrichment (broadcast dimension join) ----------------
    // The §2.10 face none of the other stream gates cover: each
    // micro-batch joins against a STATIC dimension table (the streaming
    // twin of j3's broadcast lookup). The dimension is broadcast once —
    // no shuffle of the stream side, no state store for the join itself.
    Gate("w_stream_enrich", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val tag = sfTag(d)
        val rows = eventsFeed(ss, d).filter(_._1 % 20 == 0)
        val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String,
          Double)](ss)
        val dim = t(ss, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val out = graft.streaming.EventStreams.enrich(
          mem.toDS().toDF("event_id", "ts", "user_id", "event_type",
            "value"),
          dim, "user_id", "c_custkey")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        val sink = s"w_stream_enrich_$tag"
        intoMemory(ss, out, sink, "complete") { q =>
          val (h1, h2) = rows.splitAt(rows.length / 2)
          mem.addData(h1: _*)
          q.processAllAvailable()
          mem.addData(h2: _*)
          q.processAllAvailable()
        }
      },
      """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2)
        |  AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_id % 20 = 0
        |GROUP BY 1
        |""".stripMargin),

    // --- Streaming left-outer interval join ---------------------------------
    // The outer twin of w_stream_join: clicks keep a null-padded row when
    // no error precedes them within 24 h. Outer emission is watermark-
    // driven, so a far-future sentinel on BOTH feeds pushes the watermark
    // past every real row before the sink is read; sentinels filter out.
    Gate("w_stream_join_outer", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val tag = sfTag(d)
        def feed(kind: String) = eventsFeed(ss, d)
          .filter(_._4 == kind).map(r => (r._1, r._2, r._3))
        val memL = MemoryStream[(Long, java.sql.Timestamp, Long)](ss)
        val memR = MemoryStream[(Long, java.sql.Timestamp, Long)](ss)
        val out = graft.streaming.EventStreams.intervalJoin(
          memL.toDS().toDF("event_id", "ts", "user_id"),
          memR.toDS().toDF("event_id", "ts", "user_id"),
          lookbackMinutes = 24 * 60, joinType = "left_outer")
        val sink = s"w_stream_join_outer_$tag"
        intoMemory(ss, out, sink) { q =>
          val clicks = feed("click"); val errors = feed("error")
          val maxTs = (clicks ++ errors).map(_._2.getTime).max
          val sentinel = (-1L,
            new java.sql.Timestamp(maxTs + 30L * 86400000L), -1L)
          memL.addData(clicks: _*); memR.addData(errors: _*)
          q.processAllAvailable()
          memL.addData(sentinel); memR.addData(sentinel)
          q.processAllAvailable()
        }
          .filter(col("user_id") =!= -1L)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("r_event_id"),
            unix_micros(col("r_ts")).as("r_ts_us"))
      },
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id AS r_user_id, event_id AS r_event_id,
        |    epoch_us(ts) AS r_ts_us
        |  FROM events WHERE event_type = 'error'
        |)
        |SELECT l.user_id, l.event_id, l.ts_us, r.r_event_id, r.r_ts_us
        |FROM l LEFT JOIN r ON l.user_id = r.r_user_id
        |  AND r.r_ts_us BETWEEN l.ts_us - 86400000000 AND l.ts_us
        |""".stripMargin),

    // --- Streaming CDC maintenance ------------------------------------------
    // The k19 changelog delivered as TWO seq-ordered micro-batches
    // through CdcStream's versioned-snapshot foreachBatch fold; the
    // final snapshot must equal the one-shot batch apply (folds
    // compose), so the k19 oracle is reused verbatim.
    Gate("w_stream_cdc", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val tag = sfTag(d)
        val base = cdcBase(ss, d)
        val changes = cdcChanges(ss, d)
          .as[(Long, String, Double, String, Long)]
          .collect().sortBy(_._5)
        val path = s"/tmp/graft_cdcstream_$tag"
        rmrf(ss, path); rmrf(ss, s"$path-ckpt")
        val mem = MemoryStream[(Long, String, Double, String, Long)](ss)
        val q = graft.streaming.CdcStream.run(
          mem.toDS().toDF("c_custkey", "c_name", "c_acctbal", "op", "seq"),
          path, base, Seq("c_custkey"), s"$path-ckpt")
        try {
          val (h1, h2) = changes.splitAt(changes.length / 2)
          mem.addData(h1: _*); q.processAllAvailable()
          mem.addData(h2: _*); q.processAllAvailable()
        } finally q.stop()
        graft.streaming.CdcStream.currentView(ss, path).get
      },
      cdcOracle),

    // --- Streaming expectation monitoring -----------------------------------
    // The a29 suite run per micro-batch: events delivered as two
    // parity-split batches (even event_ids then odd — a split the
    // oracle can reproduce), each scored by the same single-pass suite,
    // reports appended with the batch id. Value-exact per batch: the
    // narrowed domain check fails in BOTH batches with each half's own
    // exact fraction.
    Gate("w_stream_expect", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        import graft.ops.Expectations
        val tag = sfTag(d)
        val feed = eventsFeed(ss, d)
          .map(e => (e._1, e._3, e._4, e._5)) // (event_id, user_id, type, value)
        val path = s"/tmp/graft_expectstream_$tag"
        rmrf(ss, path); rmrf(ss, s"$path-ckpt")
        val mem = MemoryStream[(Long, Long, String, Double)](ss)
        val checks = Seq(
          Expectations.notNull("user_id"),
          Expectations.bounds("value", 0.0, 500.0),
          Expectations.valuesIn("event_type",
            Seq("view", "click", "purchase", "error")),
          Expectations.rowCountBetween(1L, 100000000L))
        val q = graft.streaming.ExpectStream.run(
          mem.toDS().toDF("event_id", "user_id", "event_type", "value"),
          checks, path, s"$path-ckpt")
        try {
          mem.addData(feed.filter(_._1 % 2 == 0): _*)
          q.processAllAvailable()
          mem.addData(feed.filter(_._1 % 2 == 1): _*)
          q.processAllAvailable()
        } finally q.stop()
        // batch_id rides back as the (int-inferred) partition column
        ss.read.parquet(path)
          .withColumn("batch_id", col("batch_id").cast("long"))
      },
      (s"""WITH h0 AS (SELECT * FROM events WHERE event_id % 2 = 0),
        |h1 AS (SELECT * FROM events WHERE event_id % 2 = 1)
        |${expectHalfSql("h0", 0)}
        |UNION ALL
        |${expectHalfSql("h1", 1)}
        |""").stripMargin),

    // --- Streaming as-of enrichment -----------------------------------------
    // Clicks enriched with the latest same-user error state at or before
    // each click — the streaming face of the complete j10 batch as-of
    // matrix. Two MemoryStreams feed the tagged union in two
    // time-ordered batches plus the watermark-advancing sentinel (the
    // w_stream_join_outer flush discipline); every click must emit
    // EXACTLY once with its final backward match. Error feed
    // pre-aggregated per (user, µs) to max event_id — the j10 tie
    // discipline, making the winner engine-independent. Oracle: DuckDB
    // native ASOF LEFT JOIN on the same µs longs.
    Gate("w_stream_asof", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val tag = sfTag(d)
        def feed(kind: String) = eventsFeed(ss, d)
          .filter(_._4 == kind).map(r => (r._1, r._2, r._3))
        val memL = MemoryStream[(Long, java.sql.Timestamp, Long)](ss)
        val memR = MemoryStream[(Long, java.sql.Timestamp, Long)](ss)
        val out = graft.streaming.AsOfStream.asOfEnrich(
          memL.toDS().toDF("event_id", "ts", "user_id"),
          memR.toDS().toDF("event_id", "ts", "user_id"))
        val sink = s"w_stream_asof_$tag"
        intoMemory(ss, out, sink) { q =>
          val clicks = feed("click")
          // (user, µs)-unique error feed: ties resolve to max event_id
          // before the stream ever sees them
          val errors = feed("error")
            .groupBy(e => (e._3, e._2.getTime, e._2.getNanos))
            .values.map(_.maxBy(_._1)).toSeq
          val maxTs = (clicks ++ errors).map(_._2.getTime).max
          val cut = (clicks ++ errors).map(_._2.getTime).min +
            (maxTs - (clicks ++ errors).map(_._2.getTime).min) / 2
          // two batches split at a COMMON time boundary so nothing is
          // ever below the post-batch watermark (no late drops), then
          // the sentinel forces every pending match final
          memL.addData(clicks.filter(_._2.getTime < cut): _*)
          memR.addData(errors.filter(_._2.getTime < cut): _*)
          q.processAllAvailable()
          memL.addData(clicks.filter(_._2.getTime >= cut): _*)
          memR.addData(errors.filter(_._2.getTime >= cut): _*)
          q.processAllAvailable()
          val sentinel = (-1L,
            new java.sql.Timestamp(maxTs + 30L * 86400000L), -1L)
          memL.addData(sentinel); memR.addData(sentinel)
          q.processAllAvailable()
        }
          .filter(col("user_id") =!= -1L)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("r_event_id"),
            unix_micros(col("r_ts")).as("r_ts_us"))
      },
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id, epoch_us(ts) AS r_ts_us,
        |    max(event_id) AS r_event_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |)
        |SELECT l.user_id, l.event_id, l.ts_us, r.r_event_id, r.r_ts_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.r_ts_us
        |""".stripMargin),

    // --- Streaming connected-components maintenance -------------------------
    // The stream face of the persisted label index: two edge batches
    // (supplier stars, then the nation→region + customer→nation deltas)
    // fold through CcStream's foreachBatch; the on-disk index after the
    // stream must equal the from-scratch components of the union graph.
    // Shares a28_cc_index_persist's oracle verbatim — identical
    // semantics across the faces is the point (the k19/w_stream_cdc
    // discipline).
    Gate("w_stream_cc", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val b1 = t(ss, d, "supplier").select(
            concat(lit("s:"), col("s_suppkey")).as("src"),
            concat(lit("n:"), col("s_nationkey")).as("dst"))
          .as[(String, String)].collect().toSeq
        val b2 = (t(ss, d, "nation").select(
            concat(lit("n:"), col("n_nationkey")).as("src"),
            concat(lit("r:"), col("n_regionkey")).as("dst"))
          .as[(String, String)].collect() ++
          t(ss, d, "customer").select(
            concat(lit("c:"), col("c_custkey")).as("src"),
            concat(lit("n:"), col("c_nationkey")).as("dst"))
          .as[(String, String)].collect()).toSeq
        val base = s"/tmp/graft_ccstream_${sfTag(d)}"
        rmrf(ss, base)
        val mem = MemoryStream[(String, String)](ss)
        val q = graft.streaming.CcStream.run(
          mem.toDS().toDF("src", "dst"), s"$base/idx", s"$base/ckpt",
          buckets = 16)
        try {
          mem.addData(b1: _*); q.processAllAvailable()
          mem.addData(b2: _*); q.processAllAvailable()
        } finally q.stop()
        val folded = graft.bel.IncrementalCC.readIndex(ss, s"$base/idx")
        val canon = folded.groupBy("component").agg(min("node").as("comp"))
        folded.join(canon, "component").select("node", "comp")
      },
      ccUnionOracle),

    // --- End-to-end continuous curation -------------------------------------
    // ONE foreachBatch chain per micro-batch: expectations report →
    // curate rules (length floor + bloom decontamination) → dedup-index
    // probe → append survivors + metrics. Two time-ordered batches; the
    // second re-sends duplicate twins of first-batch content (+1e6 ids).
    // Booleans pin: corpus == the equivalent batch chain (rules then
    // exact survivors over the whole feed), twins never land, every
    // batch's report is complete, and the metrics trail sums to the
    // corpus. Each stage is its own gated primitive; this pins the
    // COMPOSITION a production ingest runs.
    Gate("w_curate_e2e", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        import graft.ops.{Expectations, TextAnalysis}
        val docs = t(ss, d, "documents")
        val probes = docs.filter(col("doc_id") < 5)
        val bloom = TextAnalysis.shingleBloom(probes, n = 3,
          expectedItems = 20000L, numBits = 200000L)
        def rules(in: DataFrame): DataFrame = in
          .filter(TextAnalysis.tokenCount(col("text")) >= 10)
          .filter(!TextAnalysis.bloomContaminatedFlag(col("text"),
            bloom, 3))
        val checks = Seq(Expectations.notNull("text"),
          Expectations.rowCountBetween(1L, 100000000L))
        val feed = docs
          .filter(col("doc_id") >= 5 && col("doc_id") % 10 === 0)
          .select("doc_id", "text")
        val rows = feed.as[(Long, String)].collect().sortBy(_._1)
        val b1 = rows.filter(_._1 % 20 == 0)
        val b2 = (rows.filter(_._1 % 20 != 0) ++
          b1.map { case (i, txt) => (i + 1000000L, txt) }).sortBy(_._1)
        val base = s"/tmp/graft_curate_e2e_${sfTag(d)}"
        rmrf(ss, base)
        val mem = MemoryStream[(Long, String)](ss)
        val q = graft.streaming.CuratePipeline.run(
          mem.toDS().toDF("doc_id", "text"), checks, rules,
          s"$base/idx", s"$base/out", s"$base/ckpt")
        try {
          mem.addData(b1: _*); q.processAllAvailable()
          mem.addData(b2: _*); q.processAllAvailable()
        } finally q.stop()
        val corpusIds = graft.streaming.CuratePipeline
          .corpus(ss, s"$base/out")
          .select("doc_id").as[Long].collect().toSet
        val want = graft.ops.Dedup.exactSurvivors(rules(feed))
          .select("survivor_id").as[Long].collect().toSet
        val reports = graft.streaming.CuratePipeline
          .reports(ss, s"$base/out")
        val repOk = reports.count() == 2L * checks.length &&
          reports.filter(!col("passed")).count() == 0L
        val accSum = graft.streaming.CuratePipeline
          .metrics(ss, s"$base/out")
          .agg(sum("n_accepted")).as[Long].head()
        Seq((corpusIds == want, corpusIds.forall(_ < 1000000L),
          repOk, accSum == corpusIds.size.toLong)).toDF("stream_equals_batch",
          "twins_dropped", "reports_complete", "metrics_consistent")
      },
      ("SELECT true AS stream_equals_batch, true AS twins_dropped, " +
        "true AS reports_complete, true AS metrics_consistent")),

    // --- Streaming windowed top-k --------------------------------------------
    // The o11 native bounded top-k aggregate running INSIDE a
    // watermarked streaming aggregation: per (hour, event_type) the 3
    // largest events, the TopKRowsAgg buffer as the state store's
    // per-key state (≤ k rows regardless of volume — streaming windows
    // don't even admit rank functions). Two time-ordered batches,
    // complete-mode sink; oracle = the batch row_number SQL.
    Gate("w_stream_topk", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val tag = sfTag(d)
        val rows = eventsFeed(ss, d)
          .filter(_._1 % 20 == 0).sortBy(_._2.getTime)
        val mem = MemoryStream[FeedRow](ss)
        val out = graft.streaming.EventStreams.topKPerWindowStream(
          mem.toDS().toDF("event_id", "ts", "user_id", "event_type",
            "value"), k = 3)
        val sink = s"w_stream_topk_$tag"
        intoMemory(ss, out, sink, "complete") { q =>
          val (h1, h2) = rows.splitAt(rows.length / 2)
          mem.addData(h1: _*)
          q.processAllAvailable()
          mem.addData(h2: _*)
          q.processAllAvailable()
        }.select(
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("value"), col("user_id"))
      },
      """WITH e AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type, value
        |  FROM events WHERE event_id % 20 = 0
        |), r AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, value,
        |    user_id,
        |    row_number() OVER (
        |      PARTITION BY date_trunc('hour', ts), event_type
        |      ORDER BY value DESC, user_id DESC, ts DESC,
        |        event_id DESC) AS rn
        |  FROM e
        |)
        |SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  value, user_id
        |FROM r WHERE rn <= 3
        |""".stripMargin),

    // --- Streaming covariance/PCA maintenance ---------------------------------------
    // The CcStream posture for linear algebra: two embedding
    // micro-batches each land their KB-sized quantized moment-cell
    // partition (provenance-keyed batch_id overwrite = replay-
    // idempotent); the read-time fold must equal the batch gram of the
    // full corpus BIT-EXACTLY — same SQL oracle as s_pca_gram.
    Gate("w_stream_pca", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val rows = t(ss, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect().toSeq
        val path = s"/tmp/graft_pca_stream_${sfTag(d)}"
        graft.core.Fs.delete(ss, path)
        val mem = MemoryStream[(Long, Seq[Float])](ss)
        val q = graft.streaming.PcaStream.maintainGram(
          mem.toDS().toDF("vec_id", "embedding"), path)
        try {
          val (h1, h2) = rows.partition(_._1 % 2 == 0)
          mem.addData(h1: _*); q.processAllAvailable()
          mem.addData(h2: _*); q.processAllAvailable()
        } finally q.stop()
        graft.streaming.PcaStream.readGram(ss, path)
      },
      // read-time fold across batch partitions ≡ the one-shot gram
      gramSql),

    // --- Markov transitions (streaming face) -------------------------------------
    // The a39 matrix from watermark-sealed state: a pair is final when
    // its LATER event seals, so the observation feed equals the batch
    // lead-window pairs; counts compose downstream over the sink (the
    // batch face's own aggregation shape). Same feed/flush discipline
    // as w_stream_anomaly.
    Gate("w_stream_transitions", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val rows = eventsFeed(ss, d)
          .filter(_._1 % 20 == 0)
          .map(r => (r._1, r._2, r._3, r._4)) // (event_id, ts, user, type)
        val mem =
          MemoryStream[(Long, java.sql.Timestamp, Long, String)](ss)
        val out = graft.streaming.TransitionStream.transitionsStream(
          mem.toDS().toDF("event_id", "ts", "user_id", "event_type"))
        val sink = s"w_stream_transitions_${sfTag(d)}"
        val counts = intoMemory(ss, out, sink) { q =>
          val times = rows.map(_._2.getTime)
          val cut = times.min + (times.max - times.min) / 2
          mem.addData(rows.filter(_._2.getTime < cut): _*)
          q.processAllAvailable()
          mem.addData(rows.filter(_._2.getTime >= cut): _*)
          q.processAllAvailable()
          mem.addData((-1L,
            new java.sql.Timestamp(times.max + 30L * 86400000L), -1L, "x"))
          q.processAllAvailable()
        }.filter(col("user_id") =!= -1L)
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
        counts.withColumn("from_total",
          sum("n").over(org.apache.spark.sql.expressions.Window
            .partitionBy("from_type")))
      },
      """WITH seq AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events WHERE event_id % 20 = 0
        |)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS from_total
        |FROM seq WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |""".stripMargin),

    // --- Rolling z-score outliers (streaming face) ------------------------------
    // The same flags from watermark-sealed state: two time-ordered
    // batches split at a common boundary (nothing below the post-batch
    // watermark), then the far-future sentinel seals every window — the
    // w_stream_asof flush discipline. Every 20th event keeps the feed
    // micro-batch-sized; the oracle is the batch window SQL over the
    // same subset.
    Gate("w_stream_anomaly", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val rows = eventsFeed(ss, d)
          .filter(_._1 % 20 == 0)
          .map(r => (r._1, r._2, r._3, r._5)) // (event_id, ts, user, value)
        val mem =
          MemoryStream[(Long, java.sql.Timestamp, Long, Double)](ss)
        val out = graft.streaming.AnomalyStream.flagOutliersStream(
          mem.toDS().toDF("event_id", "ts", "user_id", "value"))
        val sink = s"w_stream_anomaly_${sfTag(d)}"
        intoMemory(ss, out, sink) { q =>
          val times = rows.map(_._2.getTime)
          val cut = times.min + (times.max - times.min) / 2
          mem.addData(rows.filter(_._2.getTime < cut): _*)
          q.processAllAvailable()
          mem.addData(rows.filter(_._2.getTime >= cut): _*)
          q.processAllAvailable()
          mem.addData((-1L,
            new java.sql.Timestamp(times.max + 30L * 86400000L), -1L, 0.0))
          q.processAllAvailable()
        }.filter(col("user_id") =!= -1L)
      },
      anomalySql(" WHERE event_id % 20 = 0")),

    // --- Seasonal anomaly flags — streaming face -------------------------------------
    // Two loops, the production shape: (1) the profile-maintenance
    // stream lands two time-split micro-batches as provenance-keyed
    // moment partitions (the w_stream_pca replay discipline) whose
    // read-time fold must equal the batch profile bit-exactly;
    // (2) the scoring stream is STATELESS — the folded profile
    // broadcasts into a stream-static join, no state store, no
    // watermark, every row emits immediately. Every 20th event keeps
    // the feed micro-batch-sized; the oracle is the batch SQL over
    // the same subset.
    Gate("w_stream_seasonal", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val rows = eventsFeed(ss, d)
          .filter(_._1 % 20 == 0)
          .map(r => (r._1, r._2, r._4, r._5)) // (event_id, ts, type, value)
        val path = s"/tmp/graft_seasonal_stream_${sfTag(d)}"
        graft.core.Fs.delete(ss, path)
        val memP =
          MemoryStream[(Long, java.sql.Timestamp, String, Double)](ss)
        val qP = graft.streaming.SeasonalStream.maintainProfile(
          memP.toDS().toDF("event_id", "ts", "event_type", "value"), path)
        try {
          val times = rows.map(_._2.getTime)
          val cut = times.min + (times.max - times.min) / 2
          memP.addData(rows.filter(_._2.getTime < cut): _*)
          qP.processAllAvailable()
          memP.addData(rows.filter(_._2.getTime >= cut): _*)
          qP.processAllAvailable()
        } finally qP.stop()
        val profile = graft.streaming.SeasonalStream.readProfile(ss, path)
        val memS =
          MemoryStream[(Long, java.sql.Timestamp, String, Double)](ss)
        val out = graft.streaming.SeasonalStream.scoreStream(
          memS.toDS().toDF("event_id", "ts", "event_type", "value"),
          profile)
        val sink = s"w_stream_seasonal_${sfTag(d)}"
        intoMemory(ss, out, sink) { q =>
          memS.addData(rows: _*)
          q.processAllAvailable()
        }.select("event_type", "event_id", "hod", "q", "n",
          "s", "ss", "is_outlier")
      },
      seasonalSql(" WHERE event_id % 20 = 0")),

    // --- Misra–Gries heavy hitters (streaming face) -----------------------------------
    // The PcaStream/SeasonalStream provenance discipline applied to MG:
    // each micro-batch lands its own ≤ k-counter summary partition;
    // the read-time sum+compact fold is a valid MG summary of the
    // whole stream (mergeable summaries), so the SAME contract
    // booleans must hold vs exact counts of the full feed.
    Gate("w_stream_hh", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val k = 32
        val docs = t(ss, d, "documents")
          .select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().toSeq
        val path = s"/tmp/graft_hh_stream_${sfTag(d)}"
        graft.core.Fs.delete(ss, path)
        val mem = MemoryStream[(Long, String)](ss)
        val q = graft.streaming.HeavyHittersStream.maintainSummary(
          docTokens(mem.toDS().toDF("doc_id", "text")), path, "tok", k)
        try {
          val (h1, h2) = docs.partition(_._1 % 2 == 0)
          mem.addData(h1: _*); q.processAllAvailable()
          mem.addData(h2: _*); q.processAllAvailable()
        } finally q.stop()
        val hits = graft.streaming.HeavyHittersStream
          .readSummary(ss, path, k)
          .withColumnRenamed("item", "tok")
        mgInvariants(hits, docTokens(t(ss, d, "documents")), k)
      },
      ("SELECT true AS nonempty, true AS never_over, " +
        "true AS within_bound, true AS size_ok, true AS heavy_present")),

    // --- Streaming cardinality profile -------------------------------------------------
    // The fold-at-read family completed for sketches: two time-split
    // micro-batches land per-key HLL states; the read-time union must
    // equal a ONE-SHOT profile of the whole feed EXACTLY (HLL registers
    // are per-bucket maxima — order-independent and idempotent), the
    // exact row counts must sum, and the estimate must sit inside the
    // a15 error contract vs the true distinct count.
    Gate("w_stream_profile", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val rows = eventsFeed(ss, d)
          .map(r => (r._1, r._2, r._3, r._4)) // (event_id, ts, user, type)
        val path = s"/tmp/graft_profile_stream_${sfTag(d)}"
        graft.core.Fs.delete(ss, path)
        val mem =
          MemoryStream[(Long, java.sql.Timestamp, Long, String)](ss)
        val q = graft.streaming.ProfileStream.maintainStates(
          mem.toDS().toDF("event_id", "ts", "user_id", "event_type"),
          path, keyCol = "event_type", idCol = "user_id")
        try {
          val (h1, h2) = rows.partition(_._1 % 2 == 0)
          mem.addData(h1: _*); q.processAllAvailable()
          mem.addData(h2: _*); q.processAllAvailable()
        } finally q.stop()
        val folded = graft.streaming.ProfileStream
          .readEstimates(ss, path, "event_type")
          .select(col("event_type"), col("n_distinct_approx").as("f_est"),
            col("n").as("f_n"))
        val ev = graft.core.Tables.events(ss, d)
        val exact = ev.groupBy("event_type")
          .agg(count(lit(1)).as("e_n"),
            countDistinct("user_id").as("e_d"))
        folded.join(
            graft.ops.Profile.mergeHllStates(
              graft.ops.Profile.hllStates(ev, "event_type", "user_id"),
              "event_type")
              .select(col("event_type"),
                col("n_distinct_approx").as("o_est")),
            Seq("event_type"))
          .join(exact, Seq("event_type"))
          .agg(
            (count(lit(1)) > 0).as("nonempty"),
            (sum(when(col("f_n") =!= col("e_n"), 1L)).isNull ||
              coalesce(sum(when(col("f_n") =!= col("e_n"), 1L)),
                lit(0L)) === 0L).as("counts_exact"),
            (coalesce(sum(when(col("f_est") =!= col("o_est"), 1L)),
              lit(0L)) === 0L).as("fold_equals_oneshot"),
            (coalesce(sum(when(
              abs(col("f_est") - col("e_d").cast("double")) >
                col("e_d").cast("double") * 0.1, 1L)),
              lit(0L)) === 0L).as("within_error"))
      },
      ("SELECT true AS nonempty, true AS counts_exact, " +
        "true AS fold_equals_oneshot, true AS within_error")),

    // --- Streaming near-dup (MinHash) index maintenance ----------------------
    // The continuous-ingest near-dedup loop: batch 1 seeds the banded
    // signature index with its blanket survivors; batch 2 carries fresh
    // docs, near-dup re-posts of indexed batch-1 content under new ids
    // ("xq " prefix, must be dropped by the index probe) and in-batch
    // near-dups of its own docs ("zz " prefix, must lose the
    // dominated-by-earlier blanket). Output = every accepted doc id,
    // value-exact vs the pure-SQL chain (blanket b1 → index → blanket b2
    // → probe). Whether a planted twin crosses the 0.8 threshold is
    // decided by the SAME exact-Jaccard arithmetic on both sides (one
    // division of exact ints), so the survivor set is engine-exact; the
    // banding only GENERATES candidates (miss prob ~5e-10 at 32/3 —
    // recall on this corpus is proven brute-force by the
    // d_incremental_minhash gate).
    Gate("w_stream_neardup", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val base = s"/tmp/graft_sneardup_${sfTag(d)}"
        rmrf(ss, base)
        val docs = t(ss, d, "documents")
          .select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1)
        val b1 = docs.filter(_._1 % 2 == 0)
        val b2 = (docs.filter(_._1 % 2 == 1) ++
          b1.filter(_._1 % 10 == 0)
            .map { case (i, txt) => (i + 1000000L, "xq " + txt) } ++
          docs.filter(x => x._1 % 2 == 1 && x._1 % 10 == 1)
            .map { case (i, txt) => (i + 2000000L, "zz " + txt) })
          .sortBy(_._1)
        val mem = MemoryStream[(Long, String)](ss)
        val q = graft.streaming.NearDupStream.run(
          mem.toDS().toDF("doc_id", "text"),
          s"$base/idx", s"$base/out", s"$base/ckpt", threshold = 0.8)
        try {
          mem.addData(b1: _*)
          q.processAllAvailable()
          mem.addData(b2: _*)
          q.processAllAvailable()
        } finally q.stop()
        ss.read.parquet(s"$base/out").select("doc_id")
      },
      s"""WITH u AS (
        |  SELECT doc_id AS id, text, 1 AS b FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, 2 FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'xq ' || text, 2 FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'zz ' || text, 2 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 10 = 1
        |), norm AS (
        |  SELECT id, b, ${normSql} AS t FROM u
        |), words AS (
        |  SELECT id, b, string_split(t, ' ') AS w FROM norm
        |), sh AS (
        |  SELECT id, b,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(range(len(w) - 2),
        |                i -> array_to_string(w[i+1:i+3], ' ')))
        |    END AS s
        |  FROM words
        |), ex AS (
        |  SELECT id, unnest(s) AS shingle FROM sh
        |), sizes AS (
        |  SELECT id, count(*) AS n FROM ex GROUP BY id
        |), inter AS (
        |  SELECT a.id AS ia, c.id AS ib, count(*) AS cnt
        |  FROM ex a JOIN ex c ON a.shingle = c.shingle AND a.id < c.id
        |  GROUP BY 1, 2
        |), nd AS (
        |  SELECT ia, ib FROM inter
        |  JOIN sizes na ON na.id = ia
        |  JOIN sizes nb ON nb.id = ib
        |  WHERE CAST(cnt AS DOUBLE) / CAST(na.n + nb.n - cnt AS DOUBLE)
        |        >= 0.8
        |), acc1 AS (
        |  SELECT o.id FROM u o WHERE o.b = 1 AND NOT EXISTS (
        |    SELECT 1 FROM nd JOIN u a ON nd.ia = a.id AND a.b = 1
        |    WHERE nd.ib = o.id)
        |), acc2 AS (
        |  SELECT o.id FROM u o WHERE o.b = 2
        |  AND NOT EXISTS (
        |    SELECT 1 FROM nd JOIN u a ON nd.ia = a.id AND a.b = 2
        |    WHERE nd.ib = o.id)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM nd JOIN acc1 ON
        |      (nd.ia = o.id AND nd.ib = acc1.id) OR
        |      (nd.ib = o.id AND nd.ia = acc1.id))
        |)
        |SELECT id AS doc_id FROM acc1
        |UNION ALL
        |SELECT id AS doc_id FROM acc2
        |""".stripMargin),

    // --- Streaming quantile profile (KLL fold-at-read) -----------------------
    // Two time-split micro-batches land per-key KLL sketch states; the
    // read-time merge must satisfy the a15 rank contract against the
    // WHOLE feed: each returned percentile is an ELEMENT whose exact
    // rank sits within 1% of the target (k = 2048 bounds normalized
    // rank error well under that; ties handled with the standard
    // [rank<, rank<=] interval). Counts must sum exactly.
    Gate("w_stream_quantiles", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val rows = eventsFeed(ss, d)
          .map(r => (r._1, r._4, r._5)) // (event_id, event_type, value)
        val path = s"/tmp/graft_quantile_stream_${sfTag(d)}"
        rmrf(ss, path)
        val mem = MemoryStream[(Long, String, Double)](ss)
        val q = graft.streaming.ProfileStream.maintainQuantileStates(
          mem.toDS().toDF("event_id", "event_type", "value"),
          path, keyCol = "event_type", valueCol = "value")
        try {
          val (h1, h2) = rows.partition(_._1 % 2 == 0)
          mem.addData(h1: _*); q.processAllAvailable()
          mem.addData(h2: _*); q.processAllAvailable()
        } finally q.stop()
        val folded = graft.streaming.ProfileStream
          .readQuantiles(ss, path, "event_type")
        val ev = graft.core.Tables.events(ss, d)
          .select(col("event_type"), col("value"))
        def rankBand(p: org.apache.spark.sql.Column, target: Double) = {
          // tie-safe: the element's rank INTERVAL [count(<)/n, count(<=)/n]
          // must intersect [target - 0.01, target + 0.01]
          val lo = coalesce(sum(when(col("value") < p, 1L)), lit(0L))
            .cast("double") / count(lit(1))
          val hi = coalesce(sum(when(col("value") <= p, 1L)), lit(0L))
            .cast("double") / count(lit(1))
          lo <= target + 0.01 && hi >= target - 0.01
        }
        ev.join(broadcast(folded), Seq("event_type"))
          .groupBy("event_type")
          .agg(first("n").as("f_n"), count(lit(1)).as("e_n"),
            rankBand(col("p50_approx"), 0.5).as("ok50"),
            rankBand(col("p95_approx"), 0.95).as("ok95"))
          .agg(
            (count(lit(1)) > 0).as("nonempty"),
            (coalesce(sum(when(col("f_n") =!= col("e_n"), 1L)), lit(0L))
              === 0L).as("counts_exact"),
            (coalesce(sum(when(!col("ok50"), 1L)), lit(0L)) === 0L)
              .as("p50_within_rank_eps"),
            (coalesce(sum(when(!col("ok95"), 1L)), lit(0L)) === 0L)
              .as("p95_within_rank_eps"))
      },
      ("SELECT true AS nonempty, true AS counts_exact, " +
        "true AS p50_within_rank_eps, true AS p95_within_rank_eps")),

    // --- Stream-time quality band (the KLL index's consumer) -------------------
    // The composition w_stream_quantiles exists for: per-batch KLL states of the n_chars distribution fold at
    // read into [p25, p75] thresholds, and the corpus filters by the
    // folded band — t_quality_band's invariant contract (thresholds
    // inside the exact [p24,p26]/[p74,p76] rank neighborhoods, kept
    // fraction near half), now derivable WHILE ingesting instead of
    // from a batch scan.
    Gate("w_stream_band", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val docs = t(ss, d, "documents")
        val rows = docs.select(col("doc_id"), col("n_chars").cast("double"))
          .as[(Long, Double)].collect().sortBy(_._1)
        val path = s"/tmp/graft_band_stream_${sfTag(d)}"
        rmrf(ss, path)
        val mem = MemoryStream[(Long, Double)](ss)
        val q = graft.streaming.ProfileStream.maintainQuantileStates(
          mem.toDS().toDF("doc_id", "n_chars").withColumn("g", lit(1)),
          path, keyCol = "g", valueCol = "n_chars")
        try {
          val (h1, h2) = rows.partition(_._1 % 2 == 0)
          mem.addData(h1: _*); q.processAllAvailable()
          mem.addData(h2: _*); q.processAllAvailable()
        } finally q.stop()
        val thr = graft.streaming.ProfileStream
          .readQuantiles(ss, path, "g", Seq(0.25, 0.75)).head
        val (lo, hi) = (thr.getDouble(1), thr.getDouble(2))
        val row = docs.filter(col("n_chars").cast("double").between(lo, hi))
          .agg(count(lit(1)).cast("double").as("kept"))
          .crossJoin(docs.agg(count(lit(1)).cast("double").as("total"),
            expr("percentile(n_chars, array(0.24, 0.26, 0.74, 0.76))")
              .as("p")))
          .collect().head
        val ex = row.getSeq[Double](2)
        val frac = row.getDouble(0) / row.getDouble(1)
        Seq((lo >= ex(0) && lo <= ex(1), hi >= ex(2) && hi <= ex(3),
          frac >= 0.45 && frac <= 0.56))
          .toDF("lo_within_exact_neighborhood",
            "hi_within_exact_neighborhood", "kept_fraction_near_half")
      },
      ("SELECT true AS lo_within_exact_neighborhood, " +
        "true AS hi_within_exact_neighborhood, " +
        "true AS kept_fraction_near_half")),

    // --- EWMA, streaming face ----------------------------------------------------
    // Same recurrence folded under the watermark seal (the
    // AnomalyStream finality discipline): a row's stats are final when
    // the watermark passes its timestamp, sealed state is exactly TWO
    // doubles per key. Every-20th event keeps the feed micro-batch-
    // sized; a far-future sentinel seals the tail; bit-equal to the
    // batch oracle on the same subset.
    Gate("w_stream_ewma", (s, d) =>
      withShufflePartitions(s, 8) { ss =>
        import ss.implicits._
        val rows = eventsFeed(ss, d)
          .filter(_._1 % 20 == 0)
          .map(r => (r._1, r._2, r._3, r._5)) // (event_id, ts, user, value)
        val mem =
          MemoryStream[(Long, java.sql.Timestamp, Long, Double)](ss)
        val out = graft.streaming.EwmaStream.ewmaStream(
          mem.toDS().toDF("event_id", "ts", "user_id", "value"),
          alpha = 0.25)
        val sink = s"w_stream_ewma_${sfTag(d)}"
        intoMemory(ss, out, sink) { q =>
          val times = rows.map(_._2.getTime)
          val cut = times.min + (times.max - times.min) / 2
          mem.addData(rows.filter(_._2.getTime < cut): _*)
          q.processAllAvailable()
          mem.addData(rows.filter(_._2.getTime >= cut): _*)
          q.processAllAvailable()
          mem.addData((-1L,
            new java.sql.Timestamp(times.max + 30L * 86400000L), -1L, 0.0))
          q.processAllAvailable()
        }.filter(col("user_id") =!= -1L)
          .select("user_id", "event_id", "value", "ewma", "ewvar")
      },
      ewmaSql(filter = " WHERE event_id % 20 = 0", withTs = false)
  ))
}
