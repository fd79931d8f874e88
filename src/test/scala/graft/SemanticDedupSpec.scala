package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** [[Similarity.semanticDedupCells]] — SemDeDup survivors over the
  * cell-local embedding-cosine near-dup graph: cluster collapse, canonical-min
  * survivor policy, singleton passthrough, and the composition property
  * that every dropped vector's cluster IS a surviving id.
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  // 3 tight clusters of 4 near-identical vectors each (tiny deterministic
  // perturbations — cosine ~0.9999) + 4 well-separated singletons.
  // Centers are sinusoids of DISTINCT frequencies (same-frequency,
  // phase-shifted centers have cosine = cos(Δphase) — an earlier fixture
  // aliased two "distinct" centers to cosine 1.0); max cross-center
  // |cos| here is 0.24, and every sign-hashed coordinate (j < 8) sits at
  // |x| ≥ 0.25, so the ±0.01 perturbation can't flip an LSH bucket bit.
  private def fixture = {
    def center(c: Int): Array[Float] =
      Array.tabulate(16)(j => (math.sin((c + 1) * (j + 0.7)) * 10).toFloat)
    val clustered = (0 until 12).map { i =>
      val c = i % 3
      val p = center(c).zipWithIndex.map { case (v, j) =>
        v + (math.cos(i * 13 + j) * 0.01).toFloat
      }
      (i.toLong, p)
    }
    val singles = (0 until 4).map(s => ((12 + s).toLong, center(4 + s)))
    (clustered ++ singles).toDF("vec_id", "embedding")
  }

  test("near-identical embeddings collapse; min id survives; singletons pass") {
    val rows = Similarity.semanticDedupCells(fixture, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byId = rows.map(t => t._1 -> t).toMap
    // cluster c's members are ids {c, c+3, c+6, c+9}; min = c survives
    (0 until 3).foreach { c =>
      Seq(c, c + 3, c + 6, c + 9).foreach { m =>
        assert(byId(m.toLong)._2 == c.toLong, s"member $m: ${byId(m.toLong)}")
      }
      assert(byId(c.toLong)._3 == 1 && byId((c + 9).toLong)._3 == 0)
    }
    (12 until 16).foreach { s =>
      assert(byId(s.toLong) == ((s.toLong, s.toLong, 1)), byId(s.toLong))
    }
    assert(rows.count(_._3 == 1) == 3 + 4)
  }

  test("every dropped vector's cluster is a surviving id (apply-safety)") {
    val rows = Similarity.semanticDedupCells(fixture, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val survivors = rows.filter(_._3 == 1).map(_._1).toSet
    rows.filter(_._3 == 0).foreach { case (id, cluster, _) =>
      assert(survivors.contains(cluster), s"dropped $id -> orphan cluster $cluster")
    }
  }

  test("deep paraphrase chain: fixpoint collapses depth >> 3 into one cluster") {
    // A 13-vector PATH in embedding space: dims 0-7 are a shared positive
    // base, dims 8+k/9+k an overlapping two-dim window. Consecutive
    // cosine = (s+w²)/(s+2w²) = 0.6, two-apart = s/(s+2w²) = 0.2 with
    // s = 8·0.25² = 0.5, w = 1 — so at threshold 0.5 the pair graph is
    // EXACTLY the path v0—v1—…—v12 (diameter 12). The subject is the
    // clustering depth, not candidate recall: 13 vectors train the
    // 8-cell floor of the quantizer, and probing all 8 cells makes every
    // pair a candidate.
    val n = 12
    def vec(k: Int): Array[Float] = {
      val a = Array.fill(8 + n + 2)(0f)
      (0 until 8).foreach(j => a(j) = 0.25f)
      a(8 + k) = 1f; a(9 + k) = 1f
      a
    }
    val chain = (0 to n).map(k => (k.toLong, vec(k))).toDF("vec_id", "embedding")
    // fixpoint (default): the whole chain collapses to min id 0
    val fixed = Similarity.semanticDedupCells(chain, probes = 8, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed == (0 to n).map(k => k.toLong -> 0L).toMap, fixed.toString)
    // the old 3-round cap demonstrably splits this chain (non-vacuous:
    // the silent under-dedup this round's fixpoint port fixes)
    val capped = Similarity.semanticDedupCells(chain, probes = 8,
      threshold = 0.5, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.values.toSet.size > 1, "cap did not split — deepen the fixture")
  }

  test("priority survivor policy: the curated-source member beats the min id") {
    // docs table keyed vec_id ≡ doc_id: member 9 of cluster 0 (ids
    // 0,3,6,9) carries the curated source; everyone else is crawl
    val docs = (0 until 16).map(i =>
      (i.toLong, if (i == 9) "curated" else "crawl")).toDF("doc_id", "source")
    val rows = Similarity.semanticDedupByPriorityCells(
      fixture, docs, Map("curated" -> 0), defaultRank = 1, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = rows.map(t => t._2 -> t).toMap
    // cluster 0's survivor is 9 (curated), NOT the min id 0
    assert(byCluster(0L) == ((9L, 0L, "curated")), byCluster(0L).toString)
    // clusters with no curated member keep their min id
    assert(byCluster(1L)._1 == 1L && byCluster(2L)._1 == 2L)
    // exactly one survivor per cluster; singletons survive themselves
    assert(rows.length == 3 + 4)
    (12 until 16).foreach(s => assert(byCluster(s.toLong)._1 == s.toLong))
  }

  test("cells clustering strategies agree: union-find gate vs cell-contraction + loop") {
    // the gated corpus at the gated threshold: default conf resolves the
    // pair graph through the single-task union-find; conf=0 pushes it
    // down the big-graph path (per-cell contraction, then the condensed
    // closure through the distributed round loop). Exact components both
    // ways — the rows must be identical.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    def run() = Similarity.semanticDedupCells(emb, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val viaUnionFind = run()
    spark.conf.set("spark.graft.components.localEdges", "0")
    val viaContraction =
      try run()
      finally spark.conf.unset("spark.graft.components.localEdges")
    assert(viaUnionFind.nonEmpty &&
      viaUnionFind.count(_._3 == 0) > 0, "vacuous fixture: nothing clustered")
    assert(viaContraction == viaUnionFind)
  }

  test("threshold gates the graph: at cos >= 1.1 nothing clusters") {
    val rows = Similarity.semanticDedupCells(fixture, threshold = 1.1).collect()
    assert(rows.forall(r => r.getLong(0) == r.getLong(1) && r.getInt(2) == 1))
  }

  test("deterministic across runs") {
    def run() = Similarity.semanticDedupCells(fixture, threshold = 0.99)
      .collect().map(_.toString).toSeq
    assert(run() == run())
  }

  test("incremental: a copy of a corpus vector flags, an isolated vector abstains") {
    // one re-ingested copy per cluster (members 3, 4, 5 -> ids 103-105)
    // plus one isolated vector: each copy sees its whole 4-member cluster
    // among its candidates and flags at cosine ~1; the isolated vector
    // has no corpus neighbour above the threshold
    val all = fixture
    val corpus = all.where(col("vec_id") < 12)
    val incoming = all.where(col("vec_id") === 12)
      .unionByName(all.where(col("vec_id").between(3, 5))
        .select((col("vec_id") + 100).as("vec_id"), col("embedding")))
    val r = Similarity.semanticDedupIncrementalCells(incoming, corpus,
        threshold = 0.99)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(12L, 103L, 104L, 105L), r.keySet.toString)
    (103L to 105L).foreach { id =>
      assert(r(id).getInt(3) == 1 && r(id).getDouble(2) > 0.999, r(id).toString)
      assert(r(id).getLong(1) >= 4L, s"$id should see its whole cluster: ${r(id)}")
    }
    assert(r(12L).getInt(3) == 0, s"isolated vector misflagged: ${r(12L)}")
  }

  test("cells incremental: copy flags, singleton abstains, batch-split invariant") {
    // corpus = the 3 clusters; incoming = a near-copy of vector 0 plus
    // the well-separated singletons (ids 12-15)
    val all = fixture
    val corpus = all.where(col("vec_id") < 12)
    val incoming = all.where(col("vec_id") >= 12)
      .unionByName(all.where(col("vec_id") === 0)
        .select((col("vec_id") + 100).as("vec_id"), col("embedding")))
    val r = Similarity.semanticDedupIncrementalCells(incoming, corpus,
        threshold = 0.99)
      .collect().map(x => x.getLong(0) -> x).toMap
    // the re-ingested copy finds its cluster at cosine ~1
    assert(r(100L).getInt(3) == 1 && r(100L).getDouble(2) > 0.999, r(100L).toString)
    assert(r(100L).getLong(1) >= 4L, "should see its whole cluster as candidates")
    // singletons: no corpus member passes the threshold
    (12L to 15L).foreach { id =>
      assert(r(id).getInt(3) == 0, s"singleton $id misflagged: ${r(id)}")
    }
    // batch-splitting invariance is STRUCTURAL: the quantizer trains on
    // the corpus alone, so how the incoming stream is batched cannot
    // change any verdict
    val half1 = Similarity.semanticDedupIncrementalCells(
      incoming.where(col("vec_id") % 2 === 0), corpus, threshold = 0.99).collect()
    val half2 = Similarity.semanticDedupIncrementalCells(
      incoming.where(col("vec_id") % 2 =!= 0), corpus, threshold = 0.99).collect()
    val together = (half1 ++ half2).map(x => x.getLong(0) -> x.toString).toMap
    r.foreach { case (id, row) =>
      assert(together(id) == row.toString, s"batch split changed verdict for $id")
    }
  }

  test("cells incremental ≡ batch verdicts on a replayed corpus") {
    // the round-13 verdict's done-criterion: replaying the whole corpus
    // through the incremental probe must reproduce the BATCH path's dup
    // verdicts — members of multi-member clusters flag (their mates are
    // cell-local candidates under the same quantizer), singletons abstain
    val all = fixture
    val batch = Similarity.semanticDedupCells(all, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val clusterSizes = batch.groupBy(_._2).view.mapValues(_.size).toMap
    val inc = Similarity.semanticDedupIncrementalCells(all, all,
        threshold = 0.99)
      .collect().map(x => x.getLong(0) -> x.getInt(3)).toMap
    assert(batch.exists(t => clusterSizes(t._2) > 1), "vacuous: no clusters")
    batch.foreach { case (id, cluster) =>
      val expectDup = if (clusterSizes(cluster) > 1) 1 else 0
      assert(inc(id) == expectDup,
        s"vector $id: batch cluster $cluster (size ${clusterSizes(cluster)}) " +
          s"but incremental is_dup=${inc(id)}")
    }
  }

  test("replay safety: a batch already folded into the corpus never self-matches") {
    val all = fixture
    // at-least-once replay shape: the corpus snapshot already contains
    // the batch's own rows (same vec_ids)
    val r = Similarity.semanticDedupIncrementalCells(all, all,
        threshold = 0.99)
      .collect().map(x => x.getLong(0) -> x).toMap
    // singletons have no cell-mate once self is excluded: they must
    // abstain, not flag themselves at cos 1.0
    (12L to 15L).foreach { id =>
      assert(r(id).getInt(3) == 0, s"replayed singleton $id self-matched: ${r(id)}")
    }
    // cluster members still flag -- via their OTHER cluster-mates (>= 3
    // candidates; cell-mates from another cluster may add more)
    (0L to 11L).foreach { id =>
      assert(r(id).getInt(3) == 1 && r(id).getDouble(2) > 0.999,
        s"cluster member $id lost its mates: ${r(id)}")
      assert(r(id).getLong(1) >= 3L, s"$id should see its 3 mates: ${r(id)}")
    }
  }

  test("cells incremental replay safety: no self-match at cos 1.0") {
    // partial replay: only some of the batch's rows were already folded
    // into the corpus snapshot — the replayed singletons still abstain,
    // the replayed cluster members still flag through their mates
    val all = fixture
    val replayed = all.where(col("vec_id").isin(0L, 5L, 12L, 13L))
    val r = Similarity.semanticDedupIncrementalCells(replayed, all,
        threshold = 0.99)
      .collect().map(x => x.getLong(0) -> x).toMap
    Seq(12L, 13L).foreach { id =>
      assert(r(id).getInt(3) == 0, s"replayed singleton $id self-matched: ${r(id)}")
    }
    Seq(0L, 5L).foreach { id =>
      assert(r(id).getInt(3) == 1 && r(id).getDouble(2) > 0.999,
        s"cluster member $id lost its mates: ${r(id)}")
    }
  }
}
