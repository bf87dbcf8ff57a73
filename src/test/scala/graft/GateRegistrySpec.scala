package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gate, Gates}

/** The gate registry against a golden file of every gate name and the
  * sha256 of its oracle SQL (`gate_oracles.sha256`, one `name sha` line
  * per gate, sorted by name). Building the registry needs no Spark
  * session: gate builds are only called by the harness. */
class GateRegistrySpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val golden: Seq[String] = {
    val in = getClass.getResourceAsStream("/gate_oracles.sha256")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    finally in.close()
  }

  test("Gates.all reproduces the golden names and oracle SQL exactly") {
    val got = Gates.all.sortBy(_.name).map(g => s"${g.name} ${sha256(g.oracleSql)}")
    assert(got == golden)
    assert(golden.size == 286)
  }

  test("SparkEntry maps are derived from the registry") {
    assert(SparkEntry.queries.keySet == Gates.all.map(_.name).toSet)
    assert(SparkEntry.oracleSql == Gates.all.map(g => g.name -> g.oracleSql).toMap)
  }

  test("building the registry with a repeated name throws") {
    val g = Gate("x1_dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      Gates.registry(Seq(g, Gate("x2_other", g.build, "SELECT 2"), g))
    }
    assert(e.getMessage.contains("x1_dup"))
    assert(Gates.registry(Seq(g)) == Seq(g))
  }
}
