package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Differential tests for the regime-gated scale twins: each `*_scale` /
  * `*_distributed` entry forces the large-corpus branch (per-occurrence
  * minhash, semi-join + shuffle-hash verify, distributed pointer-jumping
  * components, bloom or plain shuffle-hash decontamination) by passing
  * the forced regime to the impl, and must return row-for-row the same
  * result as its small-regime base entry — the two branches of every gate
  * are interchangeable by construction, and the oracle harness re-proves
  * both against the same DuckDB SQL at sf0.01.
  */
class ScaleRegimeSpec extends SparkTestBase {

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq

  private def assertTwin(base: String, scale: String): Unit = {
    val (b, s) = (rows(base), rows(scale))
    assert(b.nonEmpty, s"$base returned no rows — twin comparison is vacuous")
    assert(b == s, s"$scale diverges from $base")
  }

  test("minhash scale regime matches the dictionary regime") {
    assertTwin("dedup_minhash_lsh", "dedup_minhash_lsh_scale")
  }

  test("ngram scale verify matches the broadcast verify") {
    assertTwin("dedup_ngram_jaccard", "dedup_ngram_jaccard_scale")
  }

  test("distributed components match the driver union-find") {
    assertTwin("dedup_groups", "dedup_groups_distributed")
  }

  test("canonical selection over distributed components matches the driver union-find") {
    assertTwin("dedup_canonical", "dedup_canonical_distributed")
  }

  test("decontaminate bloom-prefilter regime matches the broadcast regime") {
    assertTwin("text_decontaminate", "text_decontaminate_scale")
  }

  test("decontaminate giant-benchmark shuffle regime matches the broadcast regime") {
    assertTwin("text_decontaminate", "text_decontaminate_shuffle")
  }
}
