package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window

/** Semantics + plan-shape checks for the curation operators (CurateOps).
  * Values are oracle-checked by the driver; these tests pin the
  * invariants the oracle can't see: contamination must cover exactly the
  * benchmark members and their injected copies, the train-prep splits
  * must partition the deduped survivors, the LM/KL scores must be
  * rerun-deterministic, and no plan may contain an un-partitioned window.
  */
class CurateOpsSpec extends SparkTestBase {

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  private def noGlobalWindows(d: DataFrame): Unit = {
    val global = d.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty,
      s"plan must not contain un-partitioned windows: ${global.map(_.windowExpressions)}")
  }

  test("decontaminate flags the benchmark members and their injected copies") {
    val rows = run("text_decontaminate").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // every benchmark doc (doc_id % 17 == 3 in the base range) shares all
    // of its own grams with the benchmark, so it must flag — unless it is
    // too short to have any 13-gram (then it trivially cannot overlap).
    // The dup-injection offset mirrors corpusSql: max(doc_id) + 1.
    val offset = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(org.apache.spark.sql.functions.max("doc_id")).collect()(0).getLong(0) + 1
    val bench = rows.keys.filter(k => k < offset && k % 17 == 3)
    assert(bench.nonEmpty)
    val nGrams = run("text_decontaminate").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    bench.foreach { k =>
      assert(rows(k) || nGrams(k) == 0, s"benchmark doc $k must be contaminated")
    }
    // injected copies of benchmark members are verbatim contamination
    bench.filter(_ % 10 == 0).foreach { k =>
      rows.get(k + offset).foreach(flag =>
        assert(flag || nGrams(k) == 0, s"copy of benchmark doc $k must be contaminated"))
    }
  }

  test("train prep splits partition the deduped survivors") {
    val rows = run("pipeline_train_prep").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("test", "train", "valid"))
    val total = rows.map(_.getLong(1)).sum
    assert(total > 0 && total <= 1100, s"survivors must be a subset of the corpus, got $total")
    // digests must be distinct across splits (membership-sensitive)
    assert(rows.map(_.getLong(4)).distinct.length == 3)
  }

  test("lm bigram scores are rerun-deterministic and doc-window-bounded") {
    val d = run("text_lm_bigram")
    noGlobalWindows(d)
    val a = d.collect().map(_.toString).toSeq
    val b = run("text_lm_bigram").collect().map(_.toString).toSeq
    assert(a == b, "LM scores must be bit-identical across reruns")
    assert(a.nonEmpty)
  }

  test("source KL is rerun-deterministic and non-negative") {
    val rows = run("text_source_kl").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0,
        s"KL(source || corpus) must be non-negative, got ${r.getDouble(4)} for ${r.getString(0)}")
    }
    val again = run("text_source_kl").collect().map(_.toString).toSeq
    assert(again == rows.map(_.toString).toSeq)
  }

  test("heavy hitters ranks exactly the per-source top-k by count") {
    val d = run("text_heavy_hitters")
    noGlobalWindows(d)
    val rows = d.collect()
    assert(rows.nonEmpty)
    // per source: ranks are 1..k, counts non-increasing along the rank
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).toSeq == (1 to sorted.length),
        s"ranks for $src must be dense from 1")
      val counts = sorted.map(_.getLong(3)).toSeq
      assert(counts == counts.sorted.reverse, s"counts for $src must be non-increasing")
      assert(sorted.length <= 10)
    }
    // the salted partial phase is exact: it must agree with a direct
    // single-window ranking computed here over the same counts
    val direct = {
      import org.apache.spark.sql.expressions.{Window => W}
      import org.apache.spark.sql.functions._
      val toks = spark.table("documents").select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val bi = toks.withColumn("w1",
        lag("tok", 1).over(W.partitionBy("doc_id").orderBy("pos")))
        .where(col("w1").isNotNull)
        .select(col("source"), col("w1"), col("tok").as("w2"))
      val bc = bi.groupBy("source", "w1", "w2").agg(count(lit(1)).as("n"))
      bc.withColumn("rnk", row_number().over(
          W.partitionBy("source").orderBy(col("n").desc, col("w1"), col("w2"))))
        .where(col("rnk") <= 10)
        .orderBy("source", "rnk").collect().map(_.toString).toSeq
    }
    assert(rows.map(_.toString).toSeq == direct,
      "two-phase top-k must equal the direct single-window ranking")
  }

  test("dsir covers every document once, selected == (log_weight > 0), deterministic") {
    val d = run("text_dsir_select")
    noGlobalWindows(d)
    val rows = d.collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs.toInt, "one weight row per raw document")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getLong(1) > 0, "every doc has at least its unigram features")
    }
    // `selected` is a weight threshold: a non-degenerate split where
    // every selected doc outweighs every unselected one
    val (sel, unsel) = rows.partition(_.getBoolean(3))
    assert(sel.nonEmpty && unsel.nonEmpty, "mean-split must be non-degenerate")
    assert(sel.map(_.getDouble(2)).min > unsel.map(_.getDouble(2)).max,
      "selection must be a pure threshold on log_weight")
    // The estimator's defining property: TARGET-source documents must on
    // average score higher under log(p_tgt/p_raw) than the rest of the
    // corpus (the empirical target distribution is fitted ON them — mean
    // target score tracks KL(p_tgt || p_raw) >= 0 plus a positive
    // own-sample bias, while non-target docs absorb the complementary
    // negative mass). If this inverts, the ratio table is flipped.
    val srcOf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (tgt, rest) = rows.partition(r => srcOf(r.getLong(0)) == "src0")
    assert(tgt.nonEmpty && rest.nonEmpty)
    val meanTgt = tgt.map(_.getDouble(2)).sum / tgt.length
    val meanRest = rest.map(_.getDouble(2)).sum / rest.length
    assert(meanTgt > meanRest,
      s"target docs must out-score the rest: $meanTgt vs $meanRest")
    val again = run("text_dsir_select").collect().map(_.toString).toSeq
    assert(again == rows.map(_.toString).toSeq, "weights must be rerun-deterministic")
  }

  // independent reference: classic Sennrich BPE over the word-count
  // dictionary — count EVERY adjacent pair occurrence, tie-break by the
  // pair's joined string ascending, apply greedily left-to-right.
  // Returns the merge table and each word's final symbolization.
  private def refBpe(wordCounts: Map[String, Long], k: Int)
      : (Seq[(Int, String, String, String, Long)], Map[String, Vector[String]]) = {
    var dict: Map[String, (Vector[String], Long)] =
      wordCounts.map { case (w, c) => w -> (w.map(_.toString).toVector, c) }
    val merges = (1 to k).map { step =>
      val pairCounts = dict.values.toSeq
        .flatMap { case (syms, c) => syms.zip(syms.tail).map(p => p -> c) }
        .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).sum }
      val (best, c) = pairCounts.toSeq
        .minBy { case ((l, r), n) => (-n, l + "  " + r) }
      def merge(syms: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && (syms(i), syms(i + 1)) == best) {
            out += syms(i) + syms(i + 1); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
      dict = dict.map { case (w, (s, n)) => w -> (merge(s), n) }
      (step, best._1, best._2, best._1 + best._2, c)
    }
    (merges, dict.map { case (w, (s, _)) => w -> s })
  }

  private def wordCounts: Map[String, Long] = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("bpe merge table equals an independent in-memory trainer") {
    val rows = run("text_bpe_train").collect()
    assert(rows.length == 6)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 6))
    rows.foreach(r => assert(r.getString(3) == r.getString(1) + r.getString(2)))
    val counts = rows.map(_.getLong(4)).toSeq
    assert(counts == counts.sorted.reverse, "best-pair counts are non-increasing")
    val (expect, _) = refBpe(wordCounts, 6)
    val got = rows.map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got == expect, s"merge table must match the reference trainer:\n$got\n$expect")
  }

  test("bpe driver regime equals the forced distributed SQL chain") {
    // gate to 0 -> the unrolled SQL chain; both regimes must be
    // row-identical for train AND tokenize
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    assert(rows(run("text_bpe_train")) == rows(CurateOps.bpeTrainImpl(spark, sfDir, gate = 0)))
    assert(rows(run("text_bpe_tokenize")) ==
      rows(CurateOps.bpeTokenizeImpl(spark, sfDir, gate = 0)))
  }

  test("bpe tokenize counts match the reference symbolization per document") {
    val (_, finalDict) = refBpe(wordCounts, 6)
    val rows = run("text_bpe_tokenize").collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ").toSeq
      val nWs = toks.length.toLong
      val nBpe = toks.map(t => finalDict(t).length.toLong).sum
      assert(r.getLong(1) == nWs, s"ws count for doc ${r.getLong(0)}")
      assert(r.getLong(2) == nBpe, s"bpe count for doc ${r.getLong(0)}")
      assert(r.getDouble(3) == nBpe.toDouble / nWs, s"fertility for doc ${r.getLong(0)}")
      assert(r.getLong(2) >= r.getLong(1), "every word is at least one symbol")
    }
  }
}
