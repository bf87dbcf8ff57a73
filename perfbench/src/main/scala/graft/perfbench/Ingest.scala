package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.bel.Exporters
import graft.core.{Source, SourceContext, Tables}
import graft.sources._
import graft.streaming.IncrementalPopulate

/** Source input frames shaped like the registry's g2/g3 gates (BioGRID
  * MITAB over orders, TF-regulon CSV over lineitem); IntAct and the
  * pathway store come from the registry itself. */
object Inputs {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)
  private def mi(id: String, label: String) = s"""psi-mi:"MI:$id"($label)"""
  private def caseOn(key: Column, values: Seq[String]): Column =
    values.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (v, i)) => when(key === i, lit(v)).otherwise(acc)
    }

  def biogridRaw(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(
      when(pmod(col("o_custkey"), lit(4)) === 0,
        concat(lit("ncbigene:"), col("o_custkey")))
        .when(pmod(col("o_custkey"), lit(4)) === 1,
          concat(lit("biogrid:"), col("o_custkey")))
        .when(pmod(col("o_custkey"), lit(4)) === 2, lit("uniprot:P0DTD2"))
        .otherwise(concat(lit("uniprot:QX"), col("o_custkey")))
        .as("interactor_a"),
      concat(lit("ncbigene:"), col("o_orderkey")).as("interactor_b"),
      caseOn(pmod(col("o_orderkey"), lit(3)), Seq(
        mi("0794", "synthetic genetic interaction defined by inequality"),
        mi("0915", "physical association"),
        mi("0407", "direct interaction"))).as("interaction_type"),
      concat(lit("pubmed:"), col("o_orderkey") + 10).as("publication"),
      lit("m").as("detection_method"), lit("biogrid").as("source_database"),
      lit("sc").as("confidence"))

  def biogridMappings(s: SparkSession, d: String): Biogrid.Mappings =
    Biogrid.Mappings(
      t(s, d, "customer").filter(pmod(col("c_custkey"), lit(3)) =!= 0)
        .select(col("c_custkey").cast("string").as("b"),
          (col("c_custkey") + 7000000).cast("string").as("n")))

  def tfRaw(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(
      concat(lit("TF"), col("l_suppkey")).as("tf_hgnc_symbol"),
      concat(lit("TG"), col("l_partkey")).as("target_hgnc_symbol"),
      (pmod(col("l_orderkey"), lit(3)) - 1).cast("int").as("effect"),
      caseOn(pmod(col("l_orderkey"), lit(5)),
        Seq("A", "B", "C", "D", "E")).as("score"),
      concat(col("l_orderkey"), lit(","), col("l_orderkey") + 1).as("pmids"))

  def tfHgnc(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier").filter(pmod(col("s_suppkey"), lit(10)) =!= 7)
      .select(concat(lit("TF"), col("s_suppkey")).as("sym"),
        concat(lit("H"), col("s_suppkey")).as("id"))
      .unionByName(t(s, d, "part")
        .filter(pmod(col("p_partkey"), lit(5)) =!= 0)
        .select(concat(lit("TG"), col("p_partkey")).as("sym"),
          concat(lit("HP"), col("p_partkey")).as("id")))

  /** The four source adapters over the tables in `d`. */
  def sources(s: SparkSession, d: String): Seq[Source] = Seq(
    new IntactSource(_ => Queries.intactSynthRaw(s, d),
      _ => Queries.intactSynthMappings(s, d)),
    new BiogridSource(_ => biogridRaw(s, d), _ => biogridMappings(s, d)),
    new TfregulonsSource(_ => tfRaw(s, d), _ => tfHgnc(s, d)),
    new CompathSource("compath", _ => Queries.pathwayStore(s, d)))
}

/** One ingest cycle populates the four sources into a fresh warehouse,
  * summarizes them, exports the IntAct BEL graph three ways, merges seeded
  * delta batches into a bucketed table and drops the sources. Each cycle
  * reads a copy of the inputs with its own seeded ~1% of fact rows
  * dropped, so no earlier output or memo can answer it. A run measures
  * whole cycles only; at the default size that is one cycle. */
final class Ingest(c: Ctx) extends Workload {
  import c.{spark, tracer}

  private val Batches = 3
  private val BatchKeys = 200
  private val MergeBuckets = 4
  private var base = ""
  private var cycleNo = 0
  private var lastWhBytes = 0L
  private var lastCounts = Map.empty[String, Map[String, Long]]
  private val cycleMs = ArrayBuffer.empty[Double]
  private val stepMs = ArrayBuffer.empty[(String, Double)]
  private val checksums = ArrayBuffer.empty[Long]
  private var attempted, failed = 0

  def setup(dir: String): Unit = {
    base = s"$dir/in"
    new Data(spark, c.seed, c.sf).write(base,
      Set("part", "supplier", "customer", "orders", "lineitem"))
  }

  /** No warm-up: populate runs as a fresh process per invocation (the
    * CLI's shape), so the first cycle after set-up is what users pay. */
  def warm(): Unit = ()

  /** Whole cycles only: a cycle starts if the last one would still fit. */
  def run(deadlineMs: Double): Unit =
    while (cycleMs.isEmpty || Clock.nowMs + cycleMs.last <= deadlineMs)
      cycle()

  def latenciesMs: Seq[Double] = cycleMs.toSeq
  override def activeS(wallS: Double): Double = cycleMs.sum / 1000
  def check(): (Int, Int) = (attempted, failed)
  def warehouseBytes: Long = lastWhBytes

  private def fail(msg: String): Unit = { failed += 1; c.log(s"FAILED: $msg") }

  /** The delta batch `b`: BatchKeys keys, half already merged by earlier
    * batches of this cycle (none for the first), half new. */
  private def batch(sub: Long, b: Int): (DataFrame, Set[String]) = {
    import spark.implicits._
    val rng = new scala.util.Random(sub * 31 + b)
    val fresh = (0 until (if (b == 0) BatchKeys else BatchKeys / 2))
      .map(i => f"E$sub%d-$b%d-$i%04d")
    val old = if (b == 0) Nil
      else (0 until BatchKeys / 2).map(_ => f"E$sub%d-0-${rng.nextInt(BatchKeys)}%04d")
    val rows = rng.shuffle(fresh ++ old).map(k => (k, s"name of $k"))
    (rows.toDF("identifier", "name"), fresh.toSet)
  }

  private def cycle(): Unit = {
    val k = cycleNo; cycleNo += 1
    val sub = c.seed * 1000003L + k
    val dir = s"${c.work}/cycle$k"
    val in = s"$dir/in"
    val wh = s"$dir/wh"
    val sum = Data.perturb(spark, base, in, sub)
    val deltas = (0 until Batches).map(batch(sub, _))
    val sources = Inputs.sources(spark, in)
    def ctx(s: Source) = new SourceContext(spark, wh, s.moduleName)
    val delta = new SourceContext(spark, wh, "delta")
    spark.sql(s"DROP TABLE IF EXISTS ${delta.catalogName("entries")}")

    var total = 0.0
    /** One timed step; an exception counts as a failed op. */
    def step[T](name: String, layer: String)(body: => T): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = try Some(tracer.span(name, layer)(body))
        catch { case e: Exception => fail(s"$name threw $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      total += ms
      stepMs += name -> ms
      r
    }
    def expect(ok: Boolean, what: => String): Unit =
      if (!ok) fail(s"cycle $k: $what")

    sources.foreach { s =>
      step(s"sources.${s.moduleName}.populate", "sources") {
        ctx(s).populateWithProvenance(s)
      }
    }
    val counts = step("core.summarize", "core") {
      sources.map(s => s.moduleName -> s.summarize(ctx(s))).toMap
    }
    counts.foreach { m =>
      lastCounts = m
      val lines = spark.read.parquet(s"$in/lineitem.parquet").count()
      expect(m("compath")("membership") == lines,
        s"compath membership ${m("compath")("membership")} != lineitem $lines")
      expect(m("compath")("pathways") == spark.read.parquet(s"$in/part.parquet").count(),
        "compath pathways != part rows")
      expect(m.values.forall(_.values.forall(_ > 0)), s"empty table in $m")
    }

    val intact = ctx(sources.head)
    val edges = intact.read("edges")
    val exp = s"$wh/_export"
    step("bel.nodelink", "bel") { Exporters.nodelink(edges, s"$exp/nodelink") }
    step("bel.triples", "bel") { Exporters.triples(edges, s"$exp/triples") }
    step("bel.edgelist", "bel") { Exporters.edgelist(edges, s"$exp/edgelist") }
    val e = spark.read.parquet(intact.pathOf("edges"))
    val ends = e.select(col("src").as("n")).union(e.select(col("dst")))
      .distinct().count()
    val nEdges = e.count()
    expect(spark.read.json(s"$exp/nodelink/nodes").count() == ends,
      "nodelink node count != distinct endpoints")
    expect(spark.read.json(s"$exp/nodelink/links").count() == nEdges,
      "nodelink link count != edge count")
    expect(spark.read.option("sep", "\t").csv(s"$exp/triples").count() == nEdges,
      "triples count != edge count")
    expect(spark.read.option("sep", " ").option("header", "true")
      .csv(s"$exp/edgelist/node_list").count() == ends,
      "edgelist node_list != distinct endpoints")

    var expectKeys = Set.empty[String]
    deltas.zipWithIndex.foreach { case ((df, fresh), b) =>
      val n = step("streaming.merge_batch", "streaming") {
        val n = IncrementalPopulate.mergeBatch(delta, "delta", "entries",
          Seq("identifier"), df, buckets = MergeBuckets)
        tracer.note("rows_appended", n.toDouble)
        n
      }
      expectKeys ++= fresh
      n.foreach(v => expect(v == fresh.size, s"batch $b merged $v rows, seeded ${fresh.size} new keys"))
    }
    val got = delta.read("entries").select("identifier").collect().map(_.getString(0))
    expect(got.length == expectKeys.size && got.toSet == expectKeys,
      s"merged table holds ${got.length} keys, expected ${expectKeys.size}")
    step("core.actionlog.append", "core") {
      delta.actions.append("ingest", s"cycle $k")
    }

    lastWhBytes = Host.duBytes(wh)
    step("core.drop", "core") { sources.foreach(s => ctx(s).drop(s)) }
    sources.foreach { s =>
      expect(!s.tables.exists(ctx(s).exists), s"${s.moduleName} tables survive drop")
      expect(ctx(s).actions.last(s.moduleName).map(_._1).contains("drop"),
        s"${s.moduleName} last action is not drop")
    }
    c.log(f"ingest cycle $k: input checksum $sum%d, ${total / 1000}%.3f s")
    cycleMs += total
    checksums += sum
    Host.rm(dir)
  }

  def report: Seq[(String, Double, String)] = Seq(
    ("ingest_cycle_s", Stats.median(cycleMs.toSeq) / 1000, "s"),
    ("distinct_input_checksums", checksums.distinct.size.toDouble, "count")) ++
    stepMs.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) =>
      (s"$n.step_ms", Stats.median(xs.map(_._2).toSeq), "ms") }

  def layers(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val names = Seq("sources.intact.populate", "sources.biogrid.populate",
      "sources.tfregulons.populate", "sources.compath.populate",
      "core.summarize", "bel.nodelink", "bel.triples", "bel.edgelist",
      "streaming.merge_batch", "core.actionlog.append", "core.drop")
    names.flatMap(n => Layers.ofCalls(spans, n, n, secondsUnit = !n.contains("merge") && !n.contains("append"))) ++
      Layers.attr(spans, "streaming.merge_batch", "rows_appended")
        .map(v => ("streaming.merge_batch.rows_appended", v, "count")) ++
      lastCounts.toSeq.sortBy(_._1).map { case (m, t) =>
        (s"sources.$m.rows_out", t.values.sum.toDouble, "count") }
  }
}
