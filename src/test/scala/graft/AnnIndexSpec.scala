package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.{AnnIndex, Similarity}

/** Persisted IVF index: build-once/query-many must agree row-for-row
  * with the in-query operator (same trained quantizer), probing more
  * cells must not lose recall, and — the point of persisting — the
  * probe-cell predicate must prune at the PARTITION level, not per-row.
  */
class AnnIndexSpec extends SparkSpec {

  private lazy val emb = Catalog.embeddings(spark, sfDir)
  private lazy val root = {
    val dir = Files.createTempDirectory("graft_ann").toString
    AnnIndex.build(emb, dir, nCells = 8)
    dir
  }

  private def queries(n: Int) = emb.where(col("vec_id") < n)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  test("search(nProbes=1) equals the in-query ivfKmeansTopK row-for-row") {
    val got = AnnIndex.search(spark, root, queries(8), nProbes = 1, k = 5)
      .collect().map(_.toString).toSeq
    val want = Similarity.ivfKmeansTopK(emb, nCentroids = 8, nQueries = 8, k = 5)
      .collect().map(_.toString).toSeq
    assert(got == want,
      s"persisted path diverged from in-query path:\n${got.take(5)}\nvs\n${want.take(5)}")
  }

  test("more probes never lose recall vs brute force") {
    val truth = Similarity.bruteForceTopK(emb, nQueries = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbes: Int): Double = {
      val got = AnnIndex.search(spark, root, queries(8), nProbes, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val r1 = recall(1); val r2 = recall(2)
    assert(r2 >= r1, s"recall dropped with more probes: $r1 -> $r2")
    assert(r2 > 0.3, s"2-probe recall implausibly low: $r2")
  }

  test("probe cells prune at the partition level (PartitionFilters, not a row filter)") {
    val cells = AnnIndex.vectors(spark, root)
      .select("cell").distinct().limit(2).collect().map(_.get(0)).toSeq
    val p = AnnIndex.vectors(spark, root).where(col("cell").isin(cells: _*))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell"), s"cell predicate missing from PartitionFilters\n$p")
    // and it must NOT degrade to a post-scan data filter on cell
    val dataFilters = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(!dataFilters.contains("cell"), s"cell leaked into data filters\n$p")
    // the full search plan keeps the same pruning
    val sp = AnnIndex.search(spark, root, queries(4), nProbes = 1, k = 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(sp.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), sp)
  }

  test("an index rebuilt over the same corpus is byte-stable (deterministic build)") {
    val dir2 = Files.createTempDirectory("graft_ann2").toString
    AnnIndex.build(emb, dir2, nCells = 8)
    val a = AnnIndex.search(spark, root, queries(8), nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    val b = AnnIndex.search(spark, dir2, queries(8), nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("upsert: new vectors become searchable; same-id re-upsert replaces, never duplicates") {
    val dir = Files.createTempDirectory("graft_ann_up").toString
    val base = emb.where(col("vec_id") < 40)
    AnnIndex.build(base, dir, nCells = 8)
    val batch = emb.where(col("vec_id") >= 40 && col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.upsert(spark, dir, batch)
    // contents = base ∪ batch, assigned against the SAME persisted centroids
    val cents = AnnIndex.centroids(spark, dir)
    val want = Similarity.assignCells(base.unionByName(emb.where(col("vec_id") >= 40 && col("vec_id") < 50)), cents)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"index contents diverged after upsert")
    // replay the same batch: byte-identical state (id-keyed replace)
    AnnIndex.upsert(spark, dir, batch)
    val got2 = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == got, "re-applied upsert changed the index")
    // and the upserted vectors are actually searchable
    val hits = AnnIndex.search(spark, dir,
        emb.where(col("vec_id") >= 40 && col("vec_id") < 42)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        nProbes = 2, k = 3)
      .collect()
    assert(hits.nonEmpty, "upserted vectors found no neighbors")
  }

  test("a CDC batch with TWO versions of one vec_id lands ONCE — seq orders the winner") {
    // round-11 review: duplicate ids within one upsert batch both
    // landed in the new generation (the anti-join removes only
    // prior-generation copies) — the vector then answered twice
    val dir = Files.createTempDirectory("graft_ann_dup").toString
    AnnIndex.build(emb.where(col("vec_id") < 40), dir, nCells = 8)
    // two versions of id 1000: v1 carries doc 40's embedding, v2 (the
    // winner by seq) carries doc 41's
    val e40 = emb.where(col("vec_id") === 40)
      .select(lit(1000L).as("vec_id"), lit(1L).as("seq"), col("embedding"))
    val e41 = emb.where(col("vec_id") === 41)
      .select(lit(1000L).as("vec_id"), lit(2L).as("seq"), col("embedding"))
    AnnIndex.upsert(spark, dir, e40.unionByName(e41), seqCol = "seq")
    val mine = AnnIndex.vectors(spark, dir).where(col("vec_id") === 1000L)
      .select("embedding").collect()
    assert(mine.length == 1, s"dup-id batch landed ${mine.length} rows")
    val wantEmb = emb.where(col("vec_id") === 41)
      .select("embedding").head().getSeq[Float](0)
    assert(mine.head.getSeq[Float](0) == wantEmb,
      "the seq-max version did not win the collapse")
  }

  test("delete: victims vanish (including a fully-emptied cell); absent ids are no-ops") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ann_del").toString
    AnnIndex.build(emb.where(col("vec_id") < 60), dir, nCells = 8)
    val before = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // pick one whole cell to empty + a couple of ids from another cell
    val byCell = before.groupBy(_._2)
    val (cellToEmpty, emptyMembers) = byCell.minBy(_._2.length)
    val otherIds = before.filter(_._2 != cellToEmpty).take(2).map(_._1)
    val victims = (emptyMembers.map(_._1) ++ otherIds).distinct
    AnnIndex.delete(spark, dir, victims.toSeq.toDF("vec_id"))
    val after = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.toSet -- before.filter(r => victims.contains(r._1)),
      "delete left or lost the wrong rows")
    assert(!after.exists(_._2 == cellToEmpty), "emptied cell still has rows")
    // replay + unknown ids: both no-ops
    AnnIndex.delete(spark, dir, (victims ++ Seq(999999L)).toSeq.toDF("vec_id"))
    val after2 = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after2 == after)
  }

  test("streaming ingest converges to the batch upsert, replay included") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ann_stream").toString
    val ckpt = Files.createTempDirectory("graft_ann_ck").toString
    AnnIndex.build(emb.where(col("vec_id") < 40), dir, nCells = 8)
    val rows = emb.where(col("vec_id") >= 40 && col("vec_id") < 56)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val vectors = input.toDF()
      .select(col("_1").as("vec_id"), col("_2").cast("array<float>").as("embedding"))
    // two uneven micro-batches, each drained through the operator's
    // own upsert
    input.addData(rows.take(5).toIndexedSeq)
    drain(vectors, ckpt)(AnnIndex.upsert(spark, dir, _))
    input.addData(rows.drop(5).toIndexedSeq)
    drain(vectors, ckpt)(AnnIndex.upsert(spark, dir, _))
    // converged contents = one-shot batch upsert over a fresh copy
    val dir2 = Files.createTempDirectory("graft_ann_batch").toString
    AnnIndex.build(emb.where(col("vec_id") < 40), dir2, nCells = 8)
    AnnIndex.upsert(spark, dir2,
      emb.where(col("vec_id") >= 40 && col("vec_id") < 56)
        .select(col("vec_id"), col("embedding")))
    def contents(d: String) = AnnIndex.vectors(spark, d)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contents(dir) == contents(dir2),
      "streamed index diverged from batch upsert")
    // replaying batch 1's rows (at-least-once) is a no-op
    AnnIndex.upsert(spark, dir, emb.where(col("vec_id") >= 40 && col("vec_id") < 45)
      .select(col("vec_id"), col("embedding")))
    assert(contents(dir) == contents(dir2))
  }

  test("compact: crowded cells collapse to one file each; contents unchanged") {
    val dir = Files.createTempDirectory("graft_ann_cmp").toString
    AnnIndex.build(emb.where(col("vec_id") < 40), dir, nCells = 8)
    // three upserts -> touched cells accumulate files
    (0 until 3).foreach { i =>
      AnnIndex.upsert(spark, dir,
        emb.where(col("vec_id") >= 40 + i * 5 && col("vec_id") < 45 + i * 5)
          .select(col("vec_id"), col("embedding")))
    }
    // per-cell parquet file counts of the committed snapshot
    def filesPerCell: Map[String, Int] = AnnIndex.vectors(spark, dir)
      .select(col("cell").cast("string"), input_file_name()).distinct()
      .groupBy("cell").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(filesPerCell.values.exists(_ > 1), "fixture never fragmented — test is vacuous")
    val before = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    AnnIndex.compact(spark, dir)
    assert(filesPerCell.values.forall(_ == 1),
      s"cells still fragmented: $filesPerCell")
    val after = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "compaction changed index contents")
    // idempotent: nothing crowded -> no-op
    AnnIndex.compact(spark, dir)
    assert(filesPerCell.values.forall(_ == 1))
  }

  test("a crashed mutation is invisible until its pointer swap (atomic publication)") {
    val dir = Files.createTempDirectory("graft_ann_torn").toString
    AnnIndex.build(emb.where(col("vec_id") < 40), dir, nCells = 8)
    def contents = AnnIndex.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val before = contents
    val beforeSearch = AnnIndex.search(spark, dir, q, nProbes = 2, k = 3)
      .collect().map(_.toString).toSeq
    assert(AnnIndex.version(spark, dir) == 1L)
    // simulate a writer that crashed AFTER its data-generation and
    // snapshot writes but BEFORE the pointer swap: a half-written
    // gen-2 (3 rows only) plus snap-2 tables referencing it
    val batch = emb.where(col("vec_id") >= 40 && col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    val partial = Similarity.assignCells(batch, AnnIndex.centroids(spark, dir))
      .limit(3)
    partial.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/gen-2")
    AnnIndex.centroids(spark, dir).write.mode("overwrite")
      .parquet(s"$dir/snap-2/centroids")
    // readers still resolve CURRENT -> snapshot 1: nothing torn
    assert(AnnIndex.version(spark, dir) == 1L, "uncommitted snapshot became visible")
    assert(contents == before, "reader saw rows from an uncommitted generation")
    val midSearch = AnnIndex.search(spark, dir, q, nProbes = 2, k = 3)
      .collect().map(_.toString).toSeq
    assert(midSearch == beforeSearch, "search saw a torn index")
    // the replay overwrites the partial generation and commits atomically
    AnnIndex.upsert(spark, dir, batch)
    assert(AnnIndex.version(spark, dir) == 2L)
    val wantAfter = Similarity.assignCells(
        emb.where(col("vec_id") < 50).select(col("vec_id"), col("embedding")),
        AnnIndex.centroids(spark, dir))
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contents == wantAfter, "replay after torn write did not converge")
  }

  test("multi-probe recall vs brute force is high and monotone (nProbes 2..4)") {
    val truth = Similarity.bruteForceTopK(emb, nQueries = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbes: Int): Double = {
      val got = AnnIndex.search(spark, root, queries(16), nProbes, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val rs = (1 to 4).map(p => p -> recall(p))
    rs.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra, s"recall dropped: nProbes=$pa:$ra -> nProbes=$pb:$rb")
    }
    // quality contract for the multi-probe path, not just
    // correctness-by-construction: half the probe budget must already
    // recover most of the exact top-k on this corpus
    assert(rs.toMap.apply(4) >= 0.8,
      s"4-probe recall too low: ${rs.toMap.apply(4)} (full curve: $rs)")
    // probing every cell IS brute force (sanity ceiling)
    val all = AnnIndex.search(spark, root, queries(16), nProbes = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == truth, "probing all cells diverged from brute force")
  }

  test("searchAt: a retained pre-delete snapshot still serves the deleted vector") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ann_tt").toString
    AnnIndex.build(emb.where(col("vec_id") < 60), dir, nCells = 8)
    val v1 = AnnIndex.version(spark, dir)
    val q = queries(4)
    val before = AnnIndex.search(spark, dir, q, nProbes = 8, k = 10)
      .collect().map(_.toString).toSeq
    // delete every pre-delete top hit's id — the ranking must move
    val victims = AnnIndex.search(spark, dir, q, nProbes = 8, k = 1)
      .select("cid").distinct().as[Long].collect().toSeq
    AnnIndex.delete(spark, dir, victims.toDF("vec_id"))
    val now = AnnIndex.search(spark, dir, q, nProbes = 8, k = 10)
      .collect().map(_.toString).toSeq
    assert(now != before, "fixture too weak: delete did not move the ranking")
    // time travel: the retained v1 answers exactly as it did when current
    val atV1 = AnnIndex.searchAt(spark, dir, q, v1, nProbes = 8, k = 10)
      .collect().map(_.toString).toSeq
    assert(atV1 == before, "pre-delete snapshot drifted")
    // outside the retention horizon: loud failure, never a silent fallback
    intercept[IllegalArgumentException] {
      AnnIndex.searchAt(spark, dir, q, v1 + 100, nProbes = 8, k = 10)
    }
  }
}
