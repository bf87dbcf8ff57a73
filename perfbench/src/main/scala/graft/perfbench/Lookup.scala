package graft.perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Queries
import graft.compath.PathwayQueries
import graft.core.{ActionLog, SourceContext}
import graft.functions.Curies
import graft.ops.{IvfIndex, TextSearch}
import graft.sources.CompathSource

/** Closed-loop lookups: two client threads share one session and each
  * sends its next lookup when the previous one returns. The mix is seeded;
  * keys are Zipf-drawn from 64 per type, so some repeat. Results are kept
  * and checked after the timed part against references built in set-up. */
final class Lookup(c: Ctx) extends Workload {
  import c.{spark, tracer}
  import Lookup._

  private final class State(val dir: String, val wh: String,
                            val pq: PathwayQueries, val log: ActionLog,
                            val edges: String,
                            val lastAction: Map[String, (String, Long)]) {
    def bm25 = s"$dir/bm25"
    def ivf = s"$dir/ivf"
  }
  private var st: State = _
  private var keys: Map[String, IndexedSeq[String]] = _
  private var refs: Refs = _
  private val done = new ConcurrentLinkedQueue[Done]()

  /** What the checks compare against: input rows, the generated log's
    * last action per resource, and answers computed in set-up. */
  private final class Refs(
    val suppliers: Array[(String, String)],
    val pathways: Array[(String, String)],
    val lastAction: Map[String, (String, Long)],
    val neighbours: Map[String, Seq[String]],
    val docs: Array[(Long, Array[String])],
    val vecs: Map[Long, Array[Float]],
    val enrich: Map[Int, Seq[String]]) {
    val parts: Map[String, String] = pathways.toMap
  }

  def setup(dir: String): Unit = {
    var t0 = System.nanoTime()
    def phase(what: String): Unit = {
      val t = System.nanoTime()
      c.log(f"  setup $what: ${(t - t0) / 1e9}%.3f s")
      t0 = t
    }
    val data = new Data(spark, c.seed, c.sf)
    val in = s"$dir/in"
    data.write(in, Set("part", "supplier", "lineitem", "documents", "embeddings"))
    phase("inputs")
    val wh = s"$dir/wh"
    val compath = new CompathSource("compath", _ => Queries.pathwayStore(spark, in))
    val cctx = new SourceContext(spark, wh, "compath")
    cctx.populateWithProvenance(compath)
    val edgesPath = s"$wh/bel/edges"
    compath.queries(cctx).toBelEdges("compath").write.mode("overwrite").parquet(edgesPath)
    phase("populate")

    val rng = new scala.util.Random(c.seed)
    val logPath = s"$wh/_provlog"
    val logRows = (0 until LogRows).map { i =>
      val res = if (i < KeysPerType) f"res$i%02d" else f"res${rng.nextInt(KeysPerType)}%02d"
      Row(res, Seq(ActionLog.Populate, ActionLog.Drop, ActionLog.PopulateFailed)(rng.nextInt(3)),
        new Timestamp(1600000000000L + i * 1000L + rng.nextInt(1000)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(logRows, LogFiles), ActionLog.schema)
      .write.mode("overwrite").parquet(logPath)
    phase("provenance log")
    val lastAction = logRows.groupBy(_.getString(0)).map { case (r, rows) =>
      val top = rows.maxBy(_.getTimestamp(2).getTime)
      r -> (top.getString(1), top.getTimestamp(2).getTime)
    }

    val docs = spark.read.parquet(s"$in/documents.parquet")
    TextSearch.writeBm25Index(spark, docs, s"$dir/bm25")
    val emb = spark.read.parquet(s"$in/embeddings.parquet")
    IvfIndex.build(emb, s"$dir/ivf", IvfCells)
    phase("indexes")

    st = new State(dir, wh, compath.queries(cctx), new ActionLog(spark, logPath),
      edgesPath, lastAction)
  }

  /** Keys and reference answers, from the last set-up's inputs. This is
    * the benchmark's own work, so it is not part of the set-up time. */
  private def prepare(): Unit = {
    val in = s"${st.dir}/in"
    val data = new Data(spark, c.seed, c.sf)
    val rng = new scala.util.Random(c.seed)
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val emb = spark.read.parquet(s"$in/embeddings.parquet")
    val partRows = spark.read.parquet(s"$in/part.parquet").select("p_partkey", "p_name")
      .collect().map(r => r.getLong(0).toString -> r.getString(1))
    val suppRows = spark.read.parquet(s"$in/supplier.parquet").select("s_suppkey", "s_name")
      .collect().map(r => (s"HGNC:${r.getLong(0)}", r.getString(1)))
    // exactly KeysPerType keys; a smaller domain repeats its keys
    def sample[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val s = rng.shuffle(xs)
      IndexedSeq.tabulate(KeysPerType)(i => s(i % s.size))
    }
    val byId = sample(partRows.map(_._1).toIndexedSeq)
    val search = (0 until KeysPerType).map { i =>
      if (i % 2 == 0) "P" + suppRows(rng.nextInt(suppRows.length))._2.dropRight(1)
      else "W" + data.nameWords(rng.nextInt(data.nameWords.size))
    }
    val nodes = sample(suppRows.map(r => s"$NodePrefix:${r._2}").toIndexedSeq)
    val words = data.vocab.filterNot(Set("the", "a"))
    val bm = (0 until KeysPerType).map(_ => rng.shuffle(words).take(2).mkString(" "))
    val vecIds = spark.read.parquet(s"$in/embeddings.parquet").select("vec_id")
      .collect().map(_.getLong(0))
    val ann = sample(vecIds.toIndexedSeq).map(_.toString)
    val enrichSets = (0 until KeysPerType).map(_ =>
      rng.shuffle(suppRows.map(_._2).toIndexedSeq).take(10).sorted.mkString(","))
    val km = Map(
      "compath.by_id" -> byId, "compath.search" -> search,
      "core.provenance" -> (0 until KeysPerType).map(i => f"res$i%02d"),
      "bel.neighbours" -> nodes, "ops.bm25" -> bm, "ops.ann" -> ann,
      "compath.enrich" -> enrichSets)

    // references: plain Spark over the same inputs, or computed in memory
    val nb = spark.read.parquet(st.edges)
      .filter(col(NodeCol).isin(nodes: _*))
      .select(col(NodeCol), col(OtherCol)).collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSeq.sorted }
    val docRows = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+"))
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    keys = km
    refs = new Refs(suppRows, partRows, st.lastAction, nb,
      docRows, vecs, enrichReference(in, enrichSets))
  }

  /** The registry's a6_enrich oracle SQL, for every key set at once. */
  private def enrichReference(in: String, sets: Seq[String]): Map[Int, Seq[String]] = {
    Seq("part", "supplier", "lineitem").foreach(t =>
      spark.read.parquet(s"$in/$t.parquet").createOrReplaceTempView(s"ref_$t"))
    import spark.implicits._
    sets.zipWithIndex.flatMap { case (s, i) => s.split(",").map(x => (i, x)) }
      .toDF("key", "sym").createOrReplaceTempView("ref_keys")
    spark.sql(
      """WITH matched AS (
        |  SELECT key, s_suppkey FROM ref_supplier JOIN ref_keys ON s_name = sym
        |), per AS (
        |  SELECT key, l_partkey AS pid, count(DISTINCT l_suppkey) AS mapped_proteins
        |  FROM ref_lineitem JOIN matched ON l_suppkey = s_suppkey
        |  GROUP BY key, l_partkey
        |), sets AS (
        |  SELECT l_partkey AS pid, count(DISTINCT l_suppkey) AS pathway_size,
        |    array_join(array_sort(collect_set(s_name)), ',') AS gene_set
        |  FROM ref_lineitem JOIN ref_supplier ON l_suppkey = s_suppkey
        |  GROUP BY l_partkey
        |)
        |SELECT key, concat_ws('|', per.pid, p_name, mapped_proteins,
        |  pathway_size, gene_set) AS r
        |FROM per JOIN sets ON per.pid = sets.pid
        |JOIN ref_part ON per.pid = p_partkey
        |""".stripMargin).collect()
      .groupBy(_.getInt(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSeq.sorted }
  }

  /** Plan, then collect: the plan span is the `plans` layer's share. */
  private def frame(tpe: String, df: => DataFrame): Array[Row] = {
    val d = df
    tracer.span(s"$tpe.plan", "plans")(d.queryExecution.executedPlan)
    val rows = d.collect()
    tracer.note("rows", rows.length.toDouble)
    rows
  }

  private def op(tpe: String, key: String): Any = {
    val s = st
    tpe match {
      case "compath.by_id" => s.pq.getPathwayById(key)
      case "compath.search" =>
        if (key.startsWith("P")) frame(tpe, s.pq.searchProteins(key.tail))
        else frame(tpe, s.pq.searchPathways(key.tail))
      case "core.provenance" => s.log.last(key)
      case "bel.neighbours" =>
        val (prefix, id) = key.splitAt(key.indexOf(':'))
        frame(tpe, spark.read.parquet(s.edges)
          .filter(Curies.curiePrefix(col(NodeCol)) === prefix &&
            Curies.curieIdentifier(col(NodeCol)) === id.tail)
          .select(NodeCol, OtherCol))
      case "ops.bm25" => frame(tpe, TextSearch.bm25FromIndex(spark, s.bm25, key.split(" ").toSeq))
      case "ops.ann" =>
        val q = spark.createDataFrame(java.util.List.of(
          Row(key.toLong, refs.vecs(key.toLong).toSeq)), QuerySchema)
        frame(tpe, IvfIndex.topK(spark, s.ivf, q, AnnK, AnnProbes))
      case "compath.enrich" => frame(tpe, s.pq.enrich(key.split(",").toSeq))
    }
  }

  def warm(): Unit = {
    prepare()
    Mix.foreach { case (tpe, _) => op(tpe, keys(tpe).head) }
  }

  def run(deadlineMs: Double): Unit = {
    val deck = Mix.flatMap { case (t, share) => Seq.fill(share)(t) }
    val zipf = (1 to KeysPerType).map(r => 1.0 / math.pow(r, ZipfS)).scanLeft(0.0)(_ + _).tail
    val clients = (0 until Clients).map { ci =>
      new Thread(() => {
        val rng = new scala.util.Random(c.seed * 101 + ci)
        // each client deals the mix from a shuffled deck of 100 op types,
        // so any run holds the shares almost exactly
        var hand = Iterator.empty[String]
        while (Clock.nowMs < deadlineMs) {
          if (!hand.hasNext) hand = rng.shuffle(deck).iterator
          val tpe = hand.next()
          val u = rng.nextDouble() * zipf.last
          val key = zipf.indexWhere(_ >= u)
          val t0 = System.nanoTime()
          val out = try Right(tracer.span(tpe, LayerOf(tpe))(op(tpe, keys(tpe)(key))))
            catch { case e: Exception => Left(e) }
          done.add(Done(tpe, key, (System.nanoTime() - t0) / 1e6, out))
        }
      }, s"perfbench-client-$ci")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  private def ops = done.asScala.toSeq
  def latenciesMs: Seq[Double] = ops.map(_.ms)
  def warehouseBytes: Long = Host.duBytes(st.wh) +
    Host.duBytes(st.bm25) + Host.duBytes(st.ivf)

  def check(): (Int, Int) = {
    val bad = ops.filterNot(d => d.out.fold(
      e => { c.log(s"FAILED: ${d.tpe} threw $e"); false },
      out => verify(d.tpe, keys(d.tpe)(d.key), d.key, out) match {
        case None => true
        case Some(why) => c.log(s"FAILED: ${d.tpe}(${keys(d.tpe)(d.key)}): $why"); false
      }))
    (ops.size, bad.size)
  }

  private def verify(tpe: String, key: String, idx: Int, out: Any): Option[String] = {
    val r = refs
    def need(ok: Boolean, why: => String) = if (ok) None else Some(why)
    (tpe, out) match {
      case ("compath.by_id", o: Option[_]) =>
        val row = o.asInstanceOf[Option[Row]]
        need(row.exists(_.getAs[String]("name") == r.parts(key)),
          s"got $row, expected name ${r.parts(key)}")
      case ("compath.search", rows: Array[Row]) =>
        // proteins answer (protein_id, hgnc_id, hgnc_symbol), pathways
        // (pathway_id, identifier, name); compare on symbol / identifier
        val (q, proteins) = (key.tail, key.startsWith("P"))
        val matches =
          if (proteins)
            r.suppliers.filter { case (id, sym) => sym.contains(q) || id.contains(q) }.map(_._2).toSet
          else r.pathways.filter { case (id, n) =>
            n.toLowerCase.contains(q.toLowerCase) || id.contains(q) }.map(_._1).toSet
        val got = rows.map(x => x.get(if (proteins) 2 else 1).toString)
        val want = math.min(SearchLimit, matches.size)
        need(got.length == want && got.distinct.length == got.length && got.forall(matches),
          s"${got.length} rows, expected $want matching")
      case ("core.provenance", o: Option[_]) =>
        val got = o.asInstanceOf[Option[(String, Timestamp)]].map { case (a, t) => (a, t.getTime) }
        need(got == r.lastAction.get(key), s"got $got, expected ${r.lastAction.get(key)}")
      case ("bel.neighbours", rows: Array[Row]) =>
        val got = rows.map(x => String.valueOf(x.get(1))).toSeq.sorted
        need(got == r.neighbours.getOrElse(key, Nil), s"${got.size} neighbours, expected ${r.neighbours.getOrElse(key, Nil).size}")
      case ("ops.bm25", rows: Array[Row]) =>
        val ref = bm25Ref(key.split(" ").toSeq)
        val got = rows.map(x => x.getLong(0) -> x.getAs[Double]("bm25")).toMap
        need(got.keySet == ref.keySet &&
          got.forall { case (id, s) => math.abs(s - ref(id)) <= 2e-4 },
          s"${got.size} scored docs vs reference ${ref.size}, or scores differ")
      case ("ops.ann", rows: Array[Row]) =>
        // IVF answers from the probed cells only, so small cells can give
        // fewer than k hits; every hit must be a distinct non-self vector
        // with its exact cosine
        val q = r.vecs(key.toLong)
        val ids = rows.map(_.getAs[Long]("id"))
        need(rows.nonEmpty && rows.length <= AnnK && ids.distinct.length == ids.length &&
          rows.forall(x => x.getAs[Long]("id") != key.toLong &&
            math.abs(x.getAs[Double]("cosine") - cosine(q, r.vecs(x.getAs[Long]("id")))) <= 1e-6),
          s"${rows.length} hits, duplicate or self hits, or a cosine mismatch")
      case ("compath.enrich", rows: Array[Row]) =>
        val got = rows.map { x =>
          Seq(x.get(0), x.get(2), x.get(3), x.get(4), x.getSeq[String](5).mkString(",")).mkString("|")
        }.toSeq.sorted
        need(got == r.enrich.getOrElse(idx, Nil) &&
          rows.forall(x => x.getLong(3) <= x.getLong(4)),
          s"${got.size} pathways vs reference ${r.enrich.getOrElse(idx, Nil).size}")
      case (t, o) => Some(s"unexpected result ${o.getClass} for $t")
    }
  }

  /** In-memory BM25 over the documents (k1 1.2, b 0.75, Lucene idf). */
  private def bm25Ref(terms: Seq[String]): Map[Long, Double] = {
    val docs = refs.docs
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum / n
    val df = terms.map(t => t -> docs.count(_._2.contains(t))).toMap
    docs.flatMap { case (id, ws) =>
      val parts = terms.distinct.flatMap { t =>
        val tf = ws.count(_ == t)
        if (tf == 0) None
        else {
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          Some(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ws.length / avgdl)))
        }
      }
      if (parts.isEmpty) None else Some(id -> BigDecimal(parts.sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (d, na, nb) = (0.0, 0.0, 0.0)
    a.indices.foreach { i => d += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble }
    d / math.sqrt(na * nb)
  }

  def report: Seq[(String, Double, String)] = {
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    val repeats = ops.count(d => !seen.add(d.tpe -> keys(d.tpe)(d.key)))
    val lat = latenciesMs
    Seq(
      ("lookup_p50_ms", Stats.median(lat), "ms"),
      ("lookup_p90_ms", Stats.quantile(lat, 0.90), "ms"),
      ("lookup_p95_ms", Stats.quantile(lat, 0.95), "ms"),
      ("lookup_ops", lat.size.toDouble, "count"),
      ("lookup_repeat_share", repeats.toDouble / math.max(1, lat.size), "ratio")) ++
      Mix.map(_._1).map(t => (s"$t.p50_ms", {
        val x = ops.filter(_.tpe == t).map(_.ms); if (x.isEmpty) 0.0 else Stats.median(x)
      }, "ms"))
  }

  def layers(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val desc = Tracer.descendants(spans)
    Mix.map(_._1).flatMap { t =>
      val calls = spans.filter(s => s.kind == "call" && s.name == t)
      // Option-returning lookups return at most one row
      val readPerRow = calls.flatMap { s =>
        val rows = s.attrs.getOrElse("rows", 1.0)
        val read = desc(s.id).filter(_.kind == "job").map(_.attrs("input_records")).sum
        if (rows > 0) Some(read / rows) else None
      }
      val plans = spans.filter(_.name == s"$t.plan").map(_.dur)
      Layers.ofCalls(spans, t, t) ++
        (if (plans.isEmpty) Nil else Seq((s"$t.plan_ms", Stats.median(plans), "ms"))) ++
        (if (readPerRow.isEmpty) Nil
         else Seq((s"$t.rows_read_per_row_returned", Stats.median(readPerRow), "ratio")))
    }
  }
}

object Lookup {
  /** One completed lookup: type, key index, latency, result or error. */
  final case class Done(tpe: String, key: Int, ms: Double,
                        out: Either[Throwable, Any])
  val Clients = 2
  val KeysPerType = 64
  val ZipfS = 1.1
  val LogRows = 2000
  val LogFiles = 40
  val IvfCells = 16
  val AnnK = 10
  val AnnProbes = 4
  val SearchLimit = 100
  /** bel.neighbours reads the ComPath BEL export: `hgnc:<symbol>
    * partOf compath:<pathway>`; a node's neighbours are its pathways. */
  val NodeCol = "src"
  val OtherCol = "dst"
  val NodePrefix = "hgnc"
  /** Op type and share in percent. The fast types (by_id, search) hold
    * 32%, so p50 falls in the middle of the provenance/neighbours cluster,
    * not on a class boundary; p95 falls inside the slow cluster (bm25,
    * enrich, ann). */
  val Mix: Seq[(String, Int)] = Seq(
    "compath.by_id" -> 16, "compath.search" -> 16, "core.provenance" -> 28,
    "bel.neighbours" -> 15, "ops.bm25" -> 8, "ops.ann" -> 7,
    "compath.enrich" -> 10)
  val LayerOf: Map[String, String] = Mix.map { case (t, _) => t -> t.takeWhile(_ != '.') }.toMap
  val QuerySchema: StructType = StructType(Seq(
    StructField("query_id", LongType), StructField("embedding", ArrayType(FloatType))))
}
