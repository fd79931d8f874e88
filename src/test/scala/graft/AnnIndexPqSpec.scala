package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.{AnnIndexPq, Similarity}
import graft.streaming.StateCommit

/** Persisted IVF-PQ index: row-for-row parity with the in-query
  * operator, file-level pruning (unprobed cells are never read — not
  * merely filtered), id-keyed upsert, atomic publication.
  */
class AnnIndexPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Catalog.embeddings(spark, sfDir)

  private def queries(n: Int) = emb.where(col("vec_id") < n)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  private def freshRoot() =
    Files.createTempDirectory("graft_pqidx_spec_").toString

  test("drift: quiet under a stationary feed, fires under a shifted distribution, resets on rebuild") {
    val root = freshRoot()
    AnnIndexPq.build(emb.where(col("vec_id") < 400), root)
    assert(AnnIndexPq.driftReport(spark, root).isEmpty,
      "a fresh build has no upserts to judge — report must be None")

    // stationary: held-out vectors from the SAME distribution — the
    // generalization gap stays under the ratio
    AnnIndexPq.upsert(spark, root,
      emb.where(col("vec_id") >= 400 && col("vec_id") < 450))
    val quiet = AnnIndexPq.driftReport(spark, root)
    assert(quiet.isDefined && !quiet.get.drifted,
      s"stationary upsert flagged as drift: $quiet")
    assert(quiet.get.nRecent == 50, quiet.toString)

    // shifted: scaled + offset embeddings land far from every persisted
    // code — quantization error explodes past any reasonable ratio
    val shifted = emb.where(col("vec_id") >= 450 && col("vec_id") < 500)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * lit(4.0) + lit(7.0)).cast("float"))
          .as("embedding"))
    AnnIndexPq.upsert(spark, root, shifted)
    val loud = AnnIndexPq.driftReport(spark, root)
    assert(loud.isDefined && loud.get.drifted,
      s"shifted upsert not flagged: $loud")
    assert(loud.get.recentMeanErrNano > loud.get.buildMeanErrNano,
      loud.toString)

    // retrain resets the monitor
    AnnIndexPq.build(emb.where(col("vec_id") < 500), root)
    assert(AnnIndexPq.driftReport(spark, root).isEmpty,
      "rebuild must reset the drift log")
  }

  test("a CDC batch with TWO versions of one vec_id encodes ONCE — the seq winner") {
    // round-11 review: duplicate ids within one upsert batch each
    // encoded into the new generation (the anti-join removes only
    // prior-generation rows), so the id answered twice per query
    val root = freshRoot()
    AnnIndexPq.build(emb.where(col("vec_id") < 400), root)
    val v1 = emb.where(col("vec_id") === 400)
      .select(lit(9000L).as("vec_id"), lit(1L).as("seq"), col("embedding"))
    val v2 = emb.where(col("vec_id") === 401)
      .select(lit(9000L).as("vec_id"), lit(2L).as("seq"), col("embedding"))
    AnnIndexPq.upsert(spark, root, v1.unionByName(v2), seqCol = "seq")
    // reference: the same upsert with only the winning version
    val ref = freshRoot()
    AnnIndexPq.build(emb.where(col("vec_id") < 400), ref)
    AnnIndexPq.upsert(spark, ref,
      emb.where(col("vec_id") === 401)
        .select(lit(9000L).as("vec_id"), col("embedding")))
    // probe with the WINNER's embedding under a foreign qid (search
    // drops qid==cid self-matches): pre-fix, both versions' code rows
    // joined the LUT and the groupBy SUMMED them — id 9000's ADC
    // distance doubled and its rank sank
    val q = emb.where(col("vec_id") === 401)
      .select(lit(8999L).as("qid"), col("embedding").as("qe"))
    def hits(r: String) = AnnIndexPq.search(spark, r, q, nProbes = 8, k = 10)
      .collect().map(_.toString).toSeq
    val got = hits(root)
    assert(got == hits(ref),
      "dup-id batch diverged from the last-version-only upsert")
    assert(got.exists(_.contains("9000")),
      "fixture too weak: the upserted id never surfaced in the top-k")
  }

  test("search equals the in-query ivfPqTopK row-for-row") {
    val root = freshRoot()
    AnnIndexPq.build(emb, root)
    val got = AnnIndexPq.search(spark, root, queries(8), nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    val want = Similarity.ivfPqTopK(emb, nQueries = 8, nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    assert(got == want, s"persisted search diverged: ${got.length} vs ${want.length} rows")
    assert(want.nonEmpty, "in-query operator returned nothing — parity is vacuous")
  }

  test("unprobed cells are never read: deleting one from disk cannot break a search") {
    val root = freshRoot()
    AnnIndexPq.build(emb, root)
    val one = queries(1) // a single query probes nProbes cells at most
    val before = AnnIndexPq.search(spark, root, one, nProbes = 1, k = 3)
      .collect().map(_.toString).toSeq
    // find a cell the query does NOT probe, and remove its directory
    val probedCids = before.length // sanity only
    val v = AnnIndexPq.version(spark, root)
    val gen = s"$root/gen-$v"
    val dirs = new java.io.File(gen).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName)
    assert(dirs.length >= 2, s"need >=2 cells to stage the proof, got ${dirs.toSeq}")
    // the probed cell is whichever the search read; deleting each
    // OTHER cell must leave the result identical
    val probedCell = {
      // recompute the probe the same way search does: nearest coarse cell
      val coarse = StateCommit.metaTable(spark, root, v, AnnIndexPq.metaSchema, "coarse")
      val r = one.crossJoin(broadcast(coarse))
        .select(col("ccell"),
          expr("aggregate(zip_with(qe, cce, (x, c) -> (double(x) - c) * (double(x) - c)), 0D, (acc, x) -> acc + x)").as("d2"))
        .orderBy("d2").limit(1).collect()
      s"cell=${r.head.get(0)}"
    }
    val victim = dirs.find(_ != probedCell).get
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$gen/$victim"))
    val after = AnnIndexPq.search(spark, root, one, nProbes = 1, k = 3)
      .collect().map(_.toString).toSeq
    assert(after == before,
      s"search touched the deleted unprobed cell $victim (probed $probedCell, $probedCids rows)")
  }

  test("upsert: new vectors become searchable; re-upsert replaces, never duplicates") {
    val root = freshRoot()
    val part1 = emb.where(col("vec_id") % 5 =!= 0 || col("vec_id") < 16)
    val part2 = emb.where(col("vec_id") % 5 === 0 && col("vec_id") >= 16)
    AnnIndexPq.build(part1, root)
    AnnIndexPq.upsert(spark, root, part2)
    val (_, m, _, _) = AnnIndexPq.params(spark, root)
    // every vector posts exactly m code rows, once
    val counts = {
      val v = AnnIndexPq.version(spark, root)
      val entries = StateCommit.metaTable(spark, root, v,
        AnnIndexPq.metaSchema, "manifest")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      entries.groupBy(_._2).map { case (g, es) =>
        spark.read.option("basePath", s"$root/gen-$g")
          .parquet(es.map(e => s"$root/gen-$g/cell=${e._1}"): _*)
      }.reduce(_.unionByName(_))
    }
    val bad = counts.groupBy("vec_id").count().where(col("count") =!= m).count()
    assert(bad == 0, s"$bad vectors with != $m code rows after upsert")
    // an upserted vector is findable: query its own embedding
    val probe = part2.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pid = probe.select("qid").as[Long].head()
    val hits = AnnIndexPq.search(spark, root, probe, nProbes = 2, k = 5)
      .select("cid").as[Long].collect().toSet
    assert(!hits.contains(pid), "self-match leaked through the exclusion")
    // re-upsert the same batch: still exactly m rows per vector
    AnnIndexPq.upsert(spark, root, part2)
    val bad2 = {
      val v = AnnIndexPq.version(spark, root)
      val entries = StateCommit.metaTable(spark, root, v,
        AnnIndexPq.metaSchema, "manifest")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      entries.groupBy(_._2).map { case (g, es) =>
        spark.read.option("basePath", s"$root/gen-$g")
          .parquet(es.map(e => s"$root/gen-$g/cell=${e._1}"): _*)
      }.reduce(_.unionByName(_))
        .groupBy("vec_id").count().where(col("count") =!= m).count()
    }
    assert(bad2 == 0, "re-upsert duplicated code rows")
  }

  test("delete removes victims from search; compact preserves probes on one generation") {
    val root = freshRoot()
    AnnIndexPq.build(emb, root)
    val q = queries(4)
    val hitsBefore = AnnIndexPq.search(spark, root, q, nProbes = 2, k = 5)
      .select("cid").as[Long].collect().toSet
    assert(hitsBefore.nonEmpty, "no hits before delete — test is vacuous")
    val victim = hitsBefore.head
    AnnIndexPq.delete(spark, root, Seq(victim).toDF("vec_id"))
    val hitsAfter = AnnIndexPq.search(spark, root, q, nProbes = 2, k = 5)
      .select("cid").as[Long].collect().toSet
    assert(!hitsAfter.contains(victim), s"deleted vector $victim still surfaced")
    // absent-id delete is a no-op
    val vBefore = AnnIndexPq.version(spark, root)
    AnnIndexPq.delete(spark, root, Seq(999999L).toDF("vec_id"))
    assert(AnnIndexPq.version(spark, root) == vBefore, "absent-id delete bumped the version")
    val resBefore = AnnIndexPq.search(spark, root, q, nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    AnnIndexPq.compact(spark, root)
    val resAfter = AnnIndexPq.search(spark, root, q, nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    assert(resAfter == resBefore, "compaction changed probe results")
    val v = AnnIndexPq.version(spark, root)
    val gens = StateCommit.metaTable(spark, root, v, AnnIndexPq.metaSchema, "manifest")
      .collect().map(_.getLong(1)).toSet
    assert(gens == Set(v), s"compaction left multiple live generations: $gens")
  }

  test("publication is atomic: an unreferenced generation is invisible") {
    val root = freshRoot()
    AnnIndexPq.build(emb, root)
    val v = AnnIndexPq.version(spark, root)
    val before = AnnIndexPq.search(spark, root, queries(4), nProbes = 2, k = 3)
      .collect().map(_.toString).toSeq
    // a crashed mutation: generation data lands, pointer never swings
    emb.limit(10).select(col("vec_id"), lit(0).as("blk"),
        lit(0L).as("code"), lit(99L).as("cell"))
      .write.partitionBy("cell").parquet(s"$root/gen-${v + 1}")
    assert(AnnIndexPq.version(spark, root) == v)
    val after = AnnIndexPq.search(spark, root, queries(4), nProbes = 2, k = 3)
      .collect().map(_.toString).toSeq
    assert(after == before, "reader saw an uncommitted generation")
  }

  test("exact re-rank: top-k is the exact-cosine order of the ADC pool, recall never drops") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("pqrr").toString
    graft.operators.AnnIndexPq.build(emb, root)
    val qs = queries(8)
    val adc = graft.operators.AnnIndexPq.search(spark, root, qs, nProbes = 2, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val rer = graft.operators.AnnIndexPq.searchRerank(spark, root, qs, emb,
      nProbes = 2, k = 5, poolK = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    // the re-ranked list is ordered by exact cosine desc within each query
    rer.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(x => (-x._3, x._2)).toSeq ==
        sorted.map(x => (-x._3, x._2)).sortBy(identity).toSeq,
        s"re-rank not in exact-cosine order: ${sorted.mkString(", ")}")
    }

    // recall vs the exact cosine top-5 (brute force) never drops
    val q = qs.select(col("qid"), col("qe"))
    val exact = emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        { graft.expressions.GraftFunctions.ensureRegistered(spark)
          round(graft.expressions.GraftFunctions.cosineSim(
            col("embedding"), col("qe")), 6).as("cos") })
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid"))))
      .where(col("rn") <= 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def recall(got: Seq[(Long, Long)]): Double = {
      val truth = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val mine = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val per = truth.map { case (k2, t) =>
        mine.getOrElse(k2, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }
    val (ra, rr) = (recall(adc.toSeq), recall(rer.map(x => x._1 -> x._2).toSeq))
    assert(rr >= ra, s"re-rank lowered recall: adc=$ra rerank=$rr")
  }

  test("searchAt: a retained pre-upsert snapshot answers exactly what it answered when current") {
    val root = freshRoot()
    AnnIndexPq.build(emb.where(col("vec_id") % 2 === 0), root)
    val v1 = AnnIndexPq.version(spark, root)
    val q = queries(4)
    val before = AnnIndexPq.search(spark, root, q, nProbes = 8, k = 10)
      .collect().map(_.toString).toSeq
    AnnIndexPq.upsert(spark, root, emb.where(col("vec_id") % 2 =!= 0))
    val now = AnnIndexPq.search(spark, root, q, nProbes = 8, k = 10)
      .collect().map(_.toString).toSeq
    assert(now != before, "fixture too weak: upsert did not move the ranking")
    val atV1 = AnnIndexPq.searchAt(spark, root, q, v1, nProbes = 8, k = 10)
      .collect().map(_.toString).toSeq
    assert(atV1 == before, "pre-upsert snapshot drifted")
    intercept[IllegalArgumentException] {
      AnnIndexPq.searchAt(spark, root, q, v1 + 100, nProbes = 8, k = 10)
    }
  }
}
