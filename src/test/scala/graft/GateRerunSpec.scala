package graft

import graft.gates.Gates

/** Gates that write a scratch path, a catalog table, an index or a stream
  * sink and checkpoint, each built twice in one session: the second build
  * must clear what the first left behind and return the same rows. */
class GateRerunSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private val names = Seq(
    "w_stream_dedup_index", "w_stream_cc", "w_curate_e2e",
    "w_stream_neardup",
    "d_incremental_append", "d_incremental_exact", "d_incremental_minhash",
    "j18_er_entities",
    "a28_cc_index_persist", "a26_sketch_merge",
    "j1_bucketed_join", "k15_partitioned_layout", "k16_compacted",
    "k17_jsonl_export", "k18_zorder_layout", "k20_zorder3_layout",
    "k21_hilbert_layout", "k22_compact_ingest",
    "s_ivf_index_topk", "s_ivfadc_recall", "s_ivf_staleness",
    "s_ivf_bench_recall", "s_ivf_rebuild")

  /** The build's rows as strings, sorted: the oracle compare ignores row
    * order, so this does too. */
  private def rows(name: String): Seq[String] = {
    val gate = Gates.all.find(_.name == name).getOrElse(fail(s"no gate $name"))
    gate.build(spark, sfDir).collect().map(_.toString).sorted.toSeq
  }

  names.foreach { name =>
    test(s"$name returns the same rows when built twice in one session") {
      val first = rows(name)
      assert(first.nonEmpty)
      assert(rows(name) == first)
    }
  }
}
