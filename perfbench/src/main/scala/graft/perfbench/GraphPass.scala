package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.Queries
import graft.bel.{Bfs, ConnectedComponents, KCore, PageRank}
import graft.core.SourceContext
import graft.sources.IntactSource

/** One graph pass over the IntAct BEL edges (`src`, `dst` distinct):
  * connected components, PageRank, the 3-core and BFS hops from seeded
  * nodes. Each pass drops its own seeded ~1% of edges first, so no earlier
  * result can answer it. Every result is checked against an in-memory
  * reference (union-find, peeling, BFS) or an exact invariant. */
final class GraphPass(c: Ctx) extends Workload {
  import c.{spark, tracer}

  private val K = 3
  private val MaxDepth = 20
  private val BfsSeeds = 3
  private var baseEdges = ""
  private var passNo = 0
  private var whBytes = 0L
  private val passMs = ArrayBuffer.empty[Double]
  private val checksums = ArrayBuffer.empty[Long]
  private var attempted, failed = 0

  def setup(dir: String): Unit = {
    val in = s"$dir/in"
    new Data(spark, c.seed, c.sf).write(in, Set("part", "supplier", "lineitem"))
    val wh = s"$dir/wh"
    val intact = new IntactSource(_ => Queries.intactSynthRaw(spark, in),
      _ => Queries.intactSynthMappings(spark, in))
    new SourceContext(spark, wh, "intact").populateWithProvenance(intact)
    baseEdges = s"$dir/edges"
    spark.read.parquet(s"$wh/intact/edges").select("src", "dst").distinct()
      .write.mode("overwrite").parquet(baseEdges)
    whBytes = Host.duBytes(wh)
  }

  def warm(): Unit = pass(timed = false)

  /** Whole passes only: a pass starts if the last one would still fit. */
  def run(deadlineMs: Double): Unit =
    while (passMs.isEmpty || Clock.nowMs + passMs.last <= deadlineMs)
      pass(timed = true)

  def latenciesMs: Seq[Double] = passMs.toSeq
  override def activeS(wallS: Double): Double = passMs.sum / 1000
  def check(): (Int, Int) = (attempted, failed)
  def warehouseBytes: Long = whBytes

  private def fail(msg: String): Unit = { failed += 1; c.log(s"FAILED: $msg") }

  private def pass(timed: Boolean): Unit = {
    val k = passNo; passNo += 1
    val sub = c.seed * 7919L + k
    val path = s"${c.work}/pass$k"
    spark.read.parquet(baseEdges)
      .filter(pmod(xxhash64(lit(sub), col("src"), col("dst")), lit(100L)) =!= 0)
      .write.mode("overwrite").parquet(path)
    val edgeList = spark.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sum = edgeList.map { case (a, b) => (a + "\u0000" + b).hashCode.toLong }.sum
    val rng = new scala.util.Random(sub)
    val seeds = Seq.fill(BfsSeeds)(edgeList(rng.nextInt(edgeList.length))._1).distinct
    import spark.implicits._
    val seedDf = seeds.toDF("seed")

    var total = 0.0
    def step(name: String)(body: => Array[Row]): Option[Array[Row]] = {
      if (timed) attempted += 1
      val t0 = System.nanoTime()
      val r = try Some(tracer.span(name, "bel")(body))
        catch { case e: Exception => fail(s"$name threw $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      total += ms
      r
    }
    def e = spark.read.parquet(path)
    val cc = step("bel.cc")(ConnectedComponents.run(e).collect())
    val pr = step("bel.pagerank")(PageRank.run(e).collect())
    val kc = step("bel.kcore")(KCore.run(e, K).collect())
    val bfs = step("bel.bfs")(Bfs.hops(e, seedDf, MaxDepth).collect())
    Host.rm(path)
    c.log(f"graph pass $k${if (timed) "" else " (warm-up)"}: input checksum $sum%d, ${edgeList.length}%d edges, ${total / 1000}%.3f s")
    if (timed) {
      passMs += total
      checksums += sum
      verify(k, edgeList, seeds, cc, pr, kc, bfs)
    }
  }

  private def verify(k: Int, edges: Array[(String, String)], seeds: Seq[String],
                     cc: Option[Array[Row]], pr: Option[Array[Row]],
                     kc: Option[Array[Row]], bfs: Option[Array[Row]]): Unit = {
    def expect(ok: Boolean, what: => String): Unit =
      if (!ok) fail(s"pass $k: $what")
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
    val adj = mutable.Map.empty[String, mutable.Set[String]]
    edges.foreach { case (a, b) => if (a != b) {
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    } }

    cc.foreach { rows =>
      val label = rows.map(r => r.getString(0) -> r.get(1)).toMap
      expect(label.keySet == nodes, "cc node set != endpoints")
      expect(edges.forall { case (a, b) => label.get(a) == label.get(b) },
        "cc: an edge's endpoints carry different labels")
      // union-find reference: same number of components
      val parent = mutable.Map.empty[String, String]
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      expect(nodes.map(find).size == label.values.toSet.size,
        "cc component count differs from union-find")
    }
    pr.foreach { rows =>
      val mass = rows.map(_.getAs[Double]("rank")).sum
      expect(math.abs(mass - 1.0) <= 1e-9, f"pagerank mass $mass%.12f != 1")
      expect(rows.length == nodes.size, "pagerank node count != endpoints")
    }
    kc.foreach { rows =>
      // reference k-core by peeling
      val deg = mutable.Map(adj.view.mapValues(_.size).toSeq: _*)
      val alive = mutable.Set(adj.keys.toSeq: _*)
      val queue = mutable.Queue(deg.collect { case (n, d) if d < K => n }.toSeq: _*)
      while (queue.nonEmpty) {
        val n = queue.dequeue()
        if (alive.remove(n)) adj(n).foreach { m =>
          if (alive(m)) { deg(m) -= 1; if (deg(m) < K) queue += m } }
      }
      val got = rows.map(r => r.getAs[String]("node") -> r.getAs[Long]("core_deg")).toMap
      expect(got.keySet == alive, s"k-core has ${got.size} nodes, reference ${alive.size}")
      expect(got.forall { case (n, d) => d >= K && adj.get(n).exists(_.count(alive) == d) },
        "k-core degree below k or not the induced degree")
    }
    bfs.foreach { rows =>
      val ref = mutable.Map(seeds.map(_ -> 0): _*)
      var frontier = seeds
      var d = 0
      while (frontier.nonEmpty && d < MaxDepth) {
        d += 1
        frontier = frontier.flatMap(n => adj.getOrElse(n, Nil)).filterNot(ref.contains).distinct
        frontier.foreach(ref(_) = d)
      }
      val got = rows.map(r => r.getString(0) -> r.getAs[Number]("hops").intValue).toMap
      expect(got == ref.toMap, s"bfs hops differ from reference (${got.size} vs ${ref.size} nodes)")
    }
  }

  def report: Seq[(String, Double, String)] = Seq(
    ("graph_pass_s", Stats.median(passMs.toSeq) / 1000, "s"),
    ("distinct_input_checksums", checksums.distinct.size.toDouble, "count"))

  def layers(spans: Seq[Span]): Seq[(String, Double, String)] =
    Seq("cc", "pagerank", "kcore", "bfs").flatMap(a =>
      Layers.ofCalls(spans, s"bel.$a", s"bel.$a", secondsUnit = true))
}
