package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Degenerate-input edges for the round-6 operators: empty corpora,
  * all-unique corpora, sub-threshold sizes. The rule: degrade to empty
  * results, never throw. */
class Round6EdgeSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyEmb =
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("semanticDedup on empty / single-vector input") {
    assert(Similarity.semanticDedupCells(emptyEmb).count() == 0)
    val one = Seq((7L, Array.fill(16)(1.0f))).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedupCells(one).collect()
    assert(r.length == 1 && r.head.getLong(1) == 7L && r.head.getInt(2) == 1)
  }

  test("heavyHitters: empty corpus, threshold above every count") {
    assert(TextAnalysis.heavyHitters(emptyDocs, minCount = 1).count() == 0)
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(TextAnalysis.heavyHitters(docs, minCount = 2).count() == 0)
  }

  test("suffixArraySpans: doc shorter than the gram width never flags") {
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    // 2 tokens < l=3: no grams exist, so no offenders and no sample
    assert(Dedup.suffixArraySpans(docs, l = 3, minLen = 3).count() == 0)
  }

  test("bpeEncode: single-char words and empty text") {
    val docs = Seq((1L, "a b c a"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rows = graft.operators.Bpe
      .bpeEncode(docs, graft.operators.Bpe.DemoMerges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) == ((4L, 4L))) // each 1-char word is one subword c_
    assert(rows(2L) == ((0L, 0L)) && rows(3L) == ((0L, 0L)))
  }

  test("propsRollup: missing keys and malformed JSON degrade to NULL, not a crash") {
    val events = Seq(
      (1L, "click", """{"k": 10}"""),
      (2L, "click", """{"k": 32}"""),
      (3L, "click", """{"other": 5}"""), // no k
      (4L, "view", "not json at all"),   // malformed
      (5L, "view", null.asInstanceOf[String]))
      .toDF("event_id", "event_type", "props")
    val got = graft.scan.Scans.propsRollup(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.get(2), r.get(3))).toMap
    // counts include every row; sum/max skip unparseable payloads
    assert(got("click") == ((3L, 42L, 32L)), got.toString)
    assert(got("view") == ((2L, null, null)), got.toString)
  }

  test("propsRollup: VALID json with a non-integer k degrades to NULL, no ANSI throw") {
    // {"k": "abc"} passes json_valid — without the integer-pattern
    // guard the ANSI cast throws and one bad payload kills the job;
    // fractional strings are also excluded (TRY_CAST rounds on one
    // engine and nulls on the other — the guard is the portable form)
    val events = Seq(
      (1L, "click", """{"k": "abc"}"""),
      (2L, "click", """{"k": 3.5}"""),
      (3L, "click", """{"k": -7}"""))
      .toDF("event_id", "event_type", "props")
    val got = graft.scan.Scans.propsRollup(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.get(2), r.get(3))).toMap
    assert(got("click") == ((3L, -7L, -7L)), got.toString)
  }

  test("cohortRetention: no signups at all -> empty triangle") {
    val events = Seq((1L, 9L, "2024-01-01 10:00:00", "click"))
      .toDF("event_id", "user_id", "t", "event_type")
      .select($"event_id", $"user_id",
        org.apache.spark.sql.functions.to_timestamp($"t").as("ts"),
        $"event_type")
    assert(graft.operators.Temporal.cohortRetention(events).count() == 0)
  }

  test("splitLeakage / apply: empty corpus and no-eval-split corpus degrade to empty/identity") {
    val emptySplits = Seq.empty[(Long, String)].toDF("doc_id", "split")
    assert(Dedup.splitLeakage(emptyDocs, emptySplits).count() == 0)
    assert(Dedup.splitLeakageApply(emptyDocs, emptySplits).count() == 0)
    // duplicates exist but everything is train: no leaks, apply keeps all
    val t = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val splits = Seq((1L, "train"), (2L, "train")).toDF("doc_id", "split")
    assert(Dedup.splitLeakage(docs, splits).count() == 0)
    assert(Dedup.splitLeakageApply(docs, splits).count() == 2)
  }

  test("knnGraph / knnClassify / hardNegatives: empty and singleton inputs never throw") {
    val embL = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.knnGraph(embL).count() == 0)
    assert(Similarity.knnClassify(embL).count() == 0)
    assert(Similarity.hardNegatives(embL).count() == 0)
    // a single vector: alone in its bucket -> graph and classify abstain;
    // no different-label candidate -> no negatives
    val one = Seq((0L, Array.fill(8)(1.0f), 5)).toDF("vec_id", "embedding", "label")
    assert(Similarity.knnGraph(one).count() == 0)
    assert(Similarity.knnClassify(one).count() == 0)
    assert(Similarity.hardNegatives(one).count() == 0)
  }

  test("tokenizerFertility: empty corpus -> empty card; all-empty lang -> zero row") {
    val empty3 = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(graft.operators.Bpe.tokenizerFertility(empty3).count() == 0)
    val d = Seq((1L, "", "xx"), (2L, null.asInstanceOf[String], "xx"))
      .toDF("doc_id", "text", "lang")
    val r = graft.operators.Bpe.tokenizerFertility(d).collect()
    assert(r.length == 1 && r.head.getString(0) == "xx" &&
      r.head.getLong(1) == 0L && r.head.getLong(3) == 0L)
  }
}
