package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The canonical 5-row toy source (reference tests/constants.py:15-97) and
  * the populate / provenance / drop contract around it
  * (tests/test_manager.py:106-155, tests/test_actions.py:16-50). */
class TestSource extends Source {
  val moduleName = "test"
  val tables = Seq("test_model")
  var failNext = false
  def populate(ctx: SourceContext): Unit = {
    if (failNext) throw new RuntimeException("boom")
    import ctx.spark.implicits._
    // 5 deterministic rows: ('MODEL:i', 'iiiii') — constants.py:17-19
    val df = (0 until 5)
      .map(i => (i.toLong, s"MODEL:$i", s"$i$i$i$i$i"))
      .toDF("id", "test_id", "name")
    ctx.write("test_model", df)
  }
}

class TestSourceSpec extends SparkSpec {

  private def freshCtx(src: Source): SourceContext =
    new SourceContext(spark, tmpDir("wh"), src.moduleName)

  test("populate writes exactly 5 golden rows") {
    val src = new TestSource
    val ctx = freshCtx(src)
    ctx.populateWithProvenance(src)
    assert(ctx.read("test_model").count() === 5)
    val names = ctx.read("test_model").select("name")
      .collect().map(_.getString(0)).sorted
    assert(names === Array("00000", "11111", "22222", "33333", "44444"))
  }

  test("isPopulated flips false -> true across populate") {
    val src = new TestSource
    val ctx = freshCtx(src)
    assert(!src.isPopulated(ctx))
    ctx.populateWithProvenance(src)
    assert(src.isPopulated(ctx))
  }

  test("point lookup is one-or-none (constants.py:60-62)") {
    val src = new TestSource
    val ctx = freshCtx(src)
    ctx.populateWithProvenance(src)
    val hit = ctx.read("test_model").filter(col("test_id") === "MODEL:3")
      .collect()
    assert(hit.length === 1 && hit.head.getAs[String]("name") === "33333")
    val miss = ctx.read("test_model").filter(col("test_id") === "MODEL:9")
      .collect()
    assert(miss.isEmpty)
  }

  test("populate appends one 'populate' action row (test_actions.py:16-28)") {
    val src = new TestSource
    val ctx = freshCtx(src)
    ctx.populateWithProvenance(src)
    val acts = ctx.actions.ls().collect()
    assert(acts.length === 1)
    assert(acts.head.getAs[String]("resource") === "test")
    assert(acts.head.getAs[String]("action") === ActionLog.Populate)
  }

  test("failed populate appends 'populate_failed' and rethrows") {
    val src = new TestSource
    src.failNext = true
    val ctx = freshCtx(src)
    intercept[RuntimeException] { ctx.populateWithProvenance(src) }
    val acts = ctx.actions.ls().collect()
    assert(acts.length === 1)
    assert(acts.head.getAs[String]("action") === ActionLog.PopulateFailed)
  }

  test("drop removes tables and appends 'drop' (test_actions.py:30-38)") {
    val src = new TestSource
    val ctx = freshCtx(src)
    ctx.populateWithProvenance(src)
    ctx.drop(src)
    assert(!ctx.exists("test_model"))
    val actions = ctx.actions.ls().select("action")
      .collect().map(_.getString(0)).sorted
    assert(actions === Array(ActionLog.Drop, ActionLog.Populate))
  }

  test("ActionLog.last returns the newest action for a resource") {
    val src = new TestSource
    val ctx = freshCtx(src)
    ctx.populateWithProvenance(src)
    ctx.drop(src)
    val last = ctx.actions.last("TEST") // case-insensitive resource match
    assert(last.map(_._1) === Some(ActionLog.Drop))
  }

  test("empty action log has the declared schema (ADVICE fix)") {
    val ctx = new SourceContext(spark, tmpDir("wh"), "empty")
    val ls = ctx.actions.ls()
    assert(ls.columns.toSeq === Seq("resource", "action", "created"))
    assert(ls.count() === 0)
  }

  test("summarize returns per-table counts") {
    val src = new TestSource
    val ctx = freshCtx(src)
    ctx.populateWithProvenance(src)
    assert(src.summarize(ctx) === Map("test_model" -> 5L))
  }

  test("registry registers, sorts and iterates") {
    val r = new SourceRegistry
    r.register(new TestSource)
    assert(r.names === Seq("test"))
    assert(r.get("test").isDefined && r.get("nope").isEmpty)
  }

  test("registry rejects a second source with the same module name") {
    val r = new SourceRegistry
    val first = new TestSource
    r.register(first)
    val e = intercept[IllegalArgumentException](r.register(new TestSource))
    assert(e.getMessage.contains("test"))
    assert(r.get("test").exists(_ eq first))
  }
}
