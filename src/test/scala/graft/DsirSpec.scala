package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** DSIR importance resampling (Xie et al. 2023): hashed-n-gram
  * importance weights steer selection toward a target domain. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  // two "domains" with disjoint vocabulary: legalese vs recipe-speak
  private val legal = "whereas the party of the first part hereby agrees " +
    "to indemnify and hold harmless the aforementioned party"
  private val recipe = "whisk the eggs with sugar then fold in flour and " +
    "bake the batter until golden and fragrant"

  test("docs matching the target domain outweigh off-domain docs") {
    val target = Seq((100L, legal), (101L, legal + " pursuant to clause"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, legal),                       // on-target
      (2L, recipe),                      // off-target
      (3L, legal + " " + recipe)         // mixed
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.dsirWeights(raw, target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w = rows.map(r => r._1 -> r._3).toMap
    // sequence-level weights are SUMS of per-gram log-ratios (the DSIR
    // form): the mixed doc carries ALL the off-domain mass plus the
    // on-domain grams, so it ranks below the pure on-target doc — and
    // per-gram (length-normalized) it sits strictly between the two
    assert(w(1L) > w(3L) && w(1L) > w(2L),
      s"on-target doc must outweigh both: on=${w(1L)} mixed=${w(3L)} off=${w(2L)}")
    // the gap to the off-domain doc is the signal selection rides on —
    // it must be decisive, not a rounding artifact (micro-nats: ≥ 10 nats
    // of log-likelihood ratio across a ~30-gram doc)
    assert(w(1L) - w(2L) > 10000000L,
      s"weight gap too small to select on: on=${w(1L)} off=${w(2L)}")
    val perGram = rows.map(r => r._1 -> r._3.toDouble / r._2).toMap
    assert(perGram(1L) > perGram(3L) && perGram(3L) > perGram(2L),
      s"per-gram order violated: on=${perGram(1L)} mixed=${perGram(3L)} off=${perGram(2L)}")
  }

  test("zero-gram documents surface with zero weight, not a dropped row") {
    val target = Seq((100L, legal)).toDF("doc_id", "text")
    val raw = Seq((1L, legal), (2L, "12345 !!! ???")).toDF("doc_id", "text")
    val rows = TextAnalysis.dsirWeights(raw, target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 2)
    val empty = rows.find(_._1 == 2L).get
    assert(empty._2 == 0L && empty._3 == 0L, empty.toString)
  }

  test("empty target corpus yields finite (smoothed) weights for every doc") {
    val raw = Seq((1L, legal), (2L, recipe)).toDF("doc_id", "text")
    val rows = TextAnalysis.dsirWeights(raw, raw.where(lit(false)))
      .collect()
    assert(rows.length == 2)
    // with nt = 0 every bucket's target prob is the uniform 1/B — the
    // weights are defined and the raw-side model still discriminates
    assert(rows.forall(r => math.abs(r.getLong(2)) < 100000000L))
  }

  test("Gumbel top-k selection is deterministic and ranks by exact integer key") {
    val target = Seq((100L, legal)).toDF("doc_id", "text")
    val raw = (1L to 30L).map(i =>
      (i, if (i % 3 == 0) legal else recipe)).toDF("doc_id", "text")
    val a = TextAnalysis.dsirSelect(raw, target, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(4)))
    val b = TextAnalysis.dsirSelect(raw, target, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(4)))
    assert(a.toSeq == b.toSeq, "selection is not reproducible")
    assert(a.length == 10 && a.map(_._1).toSeq == (1 to 10))
    // a different seed must change the draw (the noise is real, not a
    // constant): at least one selected id differs
    val c = TextAnalysis.dsirSelect(raw, target, k = 10, seed = 8)
      .collect().map(_.getLong(1)).toSet
    assert(c != a.map(_._2).toSet || {
      // same set is possible but the ranking keys must differ somewhere
      val ag = a.map(_._3).toSet
      val cg = TextAnalysis.dsirSelect(raw, target, k = 10, seed = 8)
        .collect().map(_.getLong(4)).toSet
      ag != cg
    }, "seed does not reach the Gumbel draw")
    // selection leans toward on-target docs: legal docs (i % 3 == 0) hold
    // 10 of 30 slots but should dominate the top-10 ∝ exp(logw)
    val legalHits = a.count(_._2 % 3 == 0)
    assert(legalHits >= 7, s"only $legalHits/10 selected docs are on-target")
  }

  test("persisted model: fit-then-score equals the in-query weights row-for-row") {
    val root = java.nio.file.Files.createTempDirectory("dsir_model_").toString
    val target = Seq((100L, legal)).toDF("doc_id", "text")
    val raw = Seq((1L, legal), (2L, recipe), (3L, legal + " " + recipe),
      (4L, "")).toDF("doc_id", "text")
    val v = graft.operators.DsirModel.fit(raw, target, root)
    assert(v == 1L)
    val scored = graft.operators.DsirModel.score(spark, root, raw)
      .collect().map(_.toString).toSeq
    val inQuery = TextAnalysis.dsirWeights(raw, target)
      .collect().map(_.toString).toSeq
    assert(scored == inQuery, "persisted scoring diverged from dsirWeights")
    // the frozen model scores NEW docs it never saw at fit time
    val novel = Seq((9L, recipe + " extra words")).toDF("doc_id", "text")
    val n = graft.operators.DsirModel.score(spark, root, novel).collect()
    assert(n.length == 1 && n.head.getLong(1) > 0)
  }

  test("unseen grams carry the smoothed default, not a silent drop") {
    val root = java.nio.file.Files.createTempDirectory("dsir_novel_").toString
    graft.operators.DsirModel.fit(
      Seq((1L, legal), (2L, recipe)).toDF("doc_id", "text"),
      Seq((100L, legal)).toDF("doc_id", "text"), root)
    // two ALL-novel docs (no gram appears in either fit corpus): every
    // gram must COUNT (n_grams = unigrams + bigrams) and score the same
    // per-gram smoothed constant — the old inner join dropped them all
    // and scored (0, 0), indistinguishable from an empty doc
    val gib = Seq((1L, "zzzz qqqq"), (2L, "xxxx yyyy wwww"))
      .toDF("doc_id", "text")
    val rows = graft.operators.DsirModel.score(spark, root, gib)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (n1, w1) = rows(1L)
    val (n2, w2) = rows(2L)
    assert(n1 == 3L && n2 == 5L,
      s"unseen grams dropped from n_grams: $rows")
    assert(w1 != 0L && w2 != 0L, s"unseen grams scored zero: $rows")
    // same per-gram constant (cross-multiplied to stay in integers)
    assert(w1 * n2 == w2 * n1, s"default is not a constant per gram: $rows")
  }

  test("refit bumps the version; scoreAt pins the old model") {
    val root = java.nio.file.Files.createTempDirectory("dsir_refit_").toString
    val raw = Seq((1L, legal), (2L, recipe)).toDF("doc_id", "text")
    val v1 = graft.operators.DsirModel.fit(raw,
      Seq((100L, legal)).toDF("doc_id", "text"), root)
    val s1 = graft.operators.DsirModel.score(spark, root, raw)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // refit toward the OTHER domain: current-version scores must flip
    val v2 = graft.operators.DsirModel.fit(raw,
      Seq((200L, recipe)).toDF("doc_id", "text"), root)
    assert(v2 == v1 + 1)
    val s2 = graft.operators.DsirModel.score(spark, root, raw)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s1(1L) > s1(2L) && s2(2L) > s2(1L),
      s"refit did not retarget: v1=$s1 v2=$s2")
    // the pinned read still serves the old regime after the refit
    val pinned = graft.operators.DsirModel.scoreAt(spark, root, raw, v1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pinned == s1, "scoreAt(v1) diverged from the pre-refit scores")
  }

  test("a DSIR meta without the totals is refused, files untouched") {
    import graft.streaming.StateCommit
    val raw = Seq((1L, legal), (2L, recipe)).toDF("doc_id", "text")
    // the pre-totals meta carried only `buckets`: as the pre-fold t-less
    // table beside model/, and as a folded meta without nt/nr
    val layouts = Seq[(String, org.apache.spark.sql.DataFrame) => Unit](
      (dir, folded) => {
        folded.where(col("t") === "model").select("bucket", "micro")
          .write.parquet(dir.replace("/meta", "/model"))
        folded.where(col("t") === "meta").select("buckets").write.parquet(dir)
      },
      (dir, folded) =>
        folded.select("t", "bucket", "micro", "buckets").write.parquet(dir))
    for (rewrite <- layouts) {
      val root = java.nio.file.Files.createTempDirectory("dsir_old_").toString
      val v = graft.operators.DsirModel.fit(raw,
        Seq((100L, legal)).toDF("doc_id", "text"), root)
      val dir = StateCommit.tableDir(root, v, "meta")
      val folded = spark.read.parquet(dir).localCheckpoint()
      val meta = new org.apache.hadoop.fs.Path(dir)
      meta.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(meta, true)
      rewrite(dir, folded)
      assertRefused(root) {
        graft.operators.DsirModel.score(spark, root, raw).collect()
      }
    }
  }
}
