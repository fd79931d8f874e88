package graft

import graft.operators.TextAnalysis

/** BM25 and unigram-surprisal scoring semantics on a corpus small enough
  * to recompute by hand: discriminative terms must outrank ubiquitous
  * ones, and the micro-bits fixed-point arithmetic must match an exact
  * independent recomputation.
  */
class TextScoringSpec extends SparkSpec {

  import spark.implicits._

  // "common" appears in every doc; each doc also has its own rare terms
  private lazy val corpus = Seq(
    (1L, "common alpha alpha beta"),
    (2L, "common gamma delta delta"),
    (3L, "common epsilon zeta zeta"),
    (4L, "common common common eta")).toDF("doc_id", "text")

  test("bm25: a doc-specific term outranks the everywhere term") {
    val rows = TextAnalysis.bm25TopK(corpus).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    // doc 1's top term must be one of its own rare terms, never "common"
    // (df = N makes idf = ln(1 + 0.5/(N+0.5)) ≈ 0 — BM25's floor)
    assert(byDoc(1L).minBy(_.getInt(1)).getString(2) != "common")
    // within each doc, scores are non-increasing in rank
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    // idf >= 0 always (the RSJ +1 form): no negative scores even at df=N
    assert(rows.forall(_.getDouble(3) >= 0.0))
  }

  test("unigram surprisal: rare-token docs cost more bits per token") {
    val rows = TextAnalysis.unigramSurprisal(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 4 is mostly the corpus's most frequent token — cheapest
    val bpt = rows.view.mapValues(_.getLong(3)).toMap
    assert(bpt(4L) == bpt.values.min, bpt.toString)
    assert(bpt(1L) > bpt(4L), bpt.toString)
  }

  test("stratified sampling hits per-language fractions deterministically") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val rates = Map("en" -> 0.25, "es" -> 0.5, "de" -> 0.75)
    val out = TextAnalysis.stratifiedSample(docs, rates).collect()
    // decision is exactly u < rate, row by row
    out.foreach { r =>
      assert((r.getDouble(2) < r.getDouble(3)) == (r.getInt(4) == 1), r.toString)
    }
    // per-language empirical rate lands near its target (fixed hash draw
    // — this is a determinism+sanity band, not a statistical test)
    val byLang = out.groupBy(_.getString(1))
    rates.foreach { case (lang, rate) =>
      byLang.get(lang).foreach { rs =>
        val emp = rs.count(_.getInt(4) == 1).toDouble / rs.length
        assert(math.abs(emp - rate) < 0.15, s"$lang: empirical $emp vs $rate")
      }
    }
    // unlisted languages take the default rate 1.0 — all sampled
    byLang.filterNot { case (l, _) => rates.contains(l) }.foreach { case (_, rs) =>
      assert(rs.forall(_.getInt(4) == 1))
    }
    // deterministic: a second run is identical
    val again = TextAnalysis.stratifiedSample(docs, rates).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("bigram surprisal: micro-bits match an exact recomputation; short docs zero out") {
    val docs = Seq(
      (1L, "a b a b a b"), (2L, "a b c"), (3L, "solo"), (4L, "")).toDF("doc_id", "text")
    // independent sequential reference
    val toks = Map(1L -> Seq("a", "b", "a", "b", "a", "b"),
      2L -> Seq("a", "b", "c"), 3L -> Seq("solo"), 4L -> Seq.empty[String])
    val bgs = toks.view.mapValues(ws => ws.zip(ws.drop(1))).toMap
    val cbg = bgs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val cl = bgs.values.flatten.groupBy(_._1).view.mapValues(_.size).toMap
    def micro(bg: (String, String)): Long =
      math.round(math.log(cl(bg._1).toDouble / cbg(bg)) / math.log(2.0) * 1e6)
    val rows = TextAnalysis.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size == 4) // short docs present, not dropped
    bgs.foreach { case (d, pairs) =>
      assert(rows(d).getLong(1) == pairs.size, s"doc $d n_bigrams")
      assert(rows(d).getLong(2) == pairs.map(micro).sum, s"doc $d micro_bits")
    }
    assert(rows(3L).isNullAt(3) && rows(4L).isNullAt(3)) // no mean over 0 bigrams
  }

  test("bigram surprisal separates word-salad that unigram cannot see") {
    // ten docs share one fixed word order; the eleventh has the SAME
    // token multiset scrambled — identical unigram score by construction,
    // but its bigrams are corpus-rare
    val patterned = (1L to 10L).map(i => (i, "the quick fox jumps over dog"))
    val scrambled = Seq((11L, "fox the dog quick jumps over"))
    val docs = (patterned ++ scrambled).toDF("doc_id", "text")
    val uni = TextAnalysis.unigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(uni(11L) == uni(1L), "same multiset must score identically on unigram")
    val bi = TextAnalysis.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(bi(11L) > bi(1L),
      s"scrambled doc must be bigram-surprising: ${bi(11L)} vs ${bi(1L)}")
  }

  test("lmFilter keeps exactly the docs inside the surprisal band, score attached") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"lang", $"source", $"text")
    val scored = TextAnalysis.unigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val (lo, hi) = (4800000L, 5000000L)
    val kept = TextAnalysis.lmFilter(docs, lo, hi).collect()
    val expect = scored.filter { case (_, b) => b >= lo && b <= hi }.keySet
    assert(kept.map(_.getLong(0)).toSet == expect)
    assert(kept.nonEmpty && kept.length < scored.size, "band must actually filter")
    kept.foreach(r => assert(r.getLong(3) == scored(r.getLong(0))))
  }

  test("unigram surprisal micro-bits match an exact recomputation") {
    val texts = Map(
      1L -> "common alpha alpha beta", 2L -> "common gamma delta delta",
      3L -> "common epsilon zeta zeta", 4L -> "common common common eta")
    val toks = texts.view.mapValues(_.split(" ").toSeq).toMap
    val counts = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = toks.values.map(_.size).sum.toDouble
    def micro(w: String): Long =
      math.round(math.log(total / counts(w)) / math.log(2.0) * 1e6)
    val rows = TextAnalysis.unigramSurprisal(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    toks.foreach { case (d, ws) =>
      assert(rows(d).getLong(1) == ws.size)
      assert(rows(d).getLong(2) == ws.map(micro).sum,
        s"doc $d: ${rows(d).getLong(2)} vs ${ws.map(micro).sum}")
    }
  }

  test("winsorize: outliers clamp to the per-group band, in-band rows pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one group with a fat tail: values 1..99 plus an outlier 10000
    val docs = ((1 to 99).map(i => (i.toLong, "en", i)) :+ (100L, "en", 10000))
      .toDF("doc_id", "lang", "n_chars")
    val got = graft.operators.TextAnalysis.winsorize(docs, pLo = 0.05, pHi = 0.95)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (lo, hi, _) = got(50L)
    assert(lo > 1 && hi < 10000, s"bounds not interior: [$lo, $hi]")
    // the outlier clamps to hi; the bottom value clamps to lo
    assert(got(100L)._3 == hi, s"outlier not clamped: ${got(100L)}")
    assert(got(1L)._3 == lo)
    // a mid value inside the band is untouched
    assert(got(50L)._3 == 50.0)
  }
}
