package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, CdcBatch, DsirModel, LexIndex,
  SemDedupIndex, Stage, TextAnalysis}
import graft.streaming.{AvailableNow, StreamingCuration}

/** Dev measurement main (round-16 stretch ask #8): the COMPOSED
  * steady-state curation pipeline a real training-data ingest runs,
  * end to end over the 100× fixture in micro-batches — every stage an
  * operator this engine already ships, chained in ONE `foreachBatch`:
  *
  *   ingest → exact/LSH dedup verdict + state fold (StreamingCuration)
  *          → semantic near-dup probe + index fold (SemDedupIndex)
  *          → quality filter (TextAnalysis.filterByQuality)
  *          → DSIR importance scoring (persisted DsirModel)
  *          → lexical + ANN index maintenance (LexIndex.upsertBatch /
  *            AnnIndex.upsert)
  *
  * Seed slice (doc_id % 10 == 9) trains everything once (semdedup
  * quantizer, DSIR model, initial lex/ann indexes); the remaining 90%
  * streams through a file source one parquet file per trigger. Prints
  * per-batch, per-stage wall-clock + surviving-row counts, and final
  * state sizes — the SCALE.md §Round-16 table.
  *
  * CRASH DRILL (`drill` arg, default on): on the middle batch's FIRST
  * delivery the pipeline throws AFTER the semdedup index fold but
  * BEFORE quality/DSIR/lex/ann — the worst spot: two stateful folds
  * committed, three sinks unwritten, streaming checkpoint not
  * advanced. The restarted stream redelivers the batch; convergence is
  * asserted per stage contract: curation's applyBatch is
  * batch-id-idempotent, the semdedup re-probe is verdict-identical
  * (own-id exclusion) and its re-upsert tombstone-masks its
  * predecessor, lex's in-snapshot watermark refuses the double apply
  * and the drill run must end with the SAME final state a no-drill run
  * reaches.
  *
  * `runMain graft.PipelineDemo <sfDir> [nBatches] [drill|nodrill]`
  */
object PipelineDemo {

  private final case class StageTimes(id: Long, nIn: Long, nDedup: Long,
    nSem: Long, nQual: Long, tDedup: Double, tSem: Double, tQual: Double,
    tDsir: Double, tIndex: Double)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf10")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val drill = !args.lift(2).contains("nodrill")
    val spark = LocalSession("graft-pipeline-demo")

    val work = java.nio.file.Files.createTempDirectory("graft_pipe_")
    def p(sub: String) = s"$work/$sub"
    val docs = graft.catalog.Catalog.documents(spark, dir)
    val embs = graft.catalog.Catalog.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val corpus = docs.join(embs, Seq("doc_id"))

    // ---- seed: one-time training over the held-out 10% slice ----
    val t0 = System.nanoTime()
    val seed = corpus.where(col("doc_id") % 10 === 9).localCheckpoint()
    SemDedupIndex.build(
      seed.select(col("doc_id").as("vec_id"), col("embedding")), p("sdd"))
    val seedDocs = seed.drop("embedding")
    DsirModel.fit(seedDocs,
      seedDocs.join(TextAnalysis.filterByQuality(seedDocs, 0.5)
        .select("doc_id"), Seq("doc_id")), p("dsir"))
    LexIndex.build(spark, seedDocs, p("lex"))
    AnnIndex.build(
      seed.select(col("doc_id").as("vec_id"), col("embedding")), p("ann"))
    val tSeed = (System.nanoTime() - t0) / 1e9
    println(f"seed: ${seed.count()} rows; one-time training+builds " +
      f"$tSeed%.1f s (semdedup quantizer, DSIR model, lex, ann)")

    // ---- feed: the remaining 90% as one parquet file per batch ----
    val feed = corpus.where(col("doc_id") % 10 =!= 9).localCheckpoint()
    val feedSchema = feed.schema
    (0 until nBatches).foreach { b =>
      feed.where(floor(pmod(col("doc_id"), lit(10L * nBatches)) / 10) === b)
        .coalesce(1).write.mode("overwrite").parquet(p(s"feedtmp/$b"))
      val src = new java.io.File(p(s"feedtmp/$b")).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p("feed")))
      java.nio.file.Files.move(src.toPath,
        java.nio.file.Paths.get(p(s"feed/b$b.parquet")))
    }

    val times = scala.collection.mutable.ListBuffer[StageTimes]()
    val drillBatch = nBatches / 2
    val drillMarker = java.nio.file.Paths.get(p("drill_thrown"))

    def t(f: => Unit): Double = {
      val s0 = System.nanoTime(); f; (System.nanoTime() - s0) / 1e9
    }

    def runBatch(raw: DataFrame, id: Long): Unit = {
      val b = raw.localCheckpoint()
      val nIn = b.count()
      // 1. exact + LSH near-dup verdict against accumulated state
      val tDedup = t(StreamingCuration.applyBatch(p("cur"),
        b.select("doc_id", "text"), id))
      val surv1 = b.join(
        spark.read.parquet(s"${p("cur")}/verdicts/batch_id=$id")
          .where(col("status") === "new").select("doc_id"),
        Seq("doc_id")).localCheckpoint()
      val nDedup = surv1.count()
      // 2. semantic near-dup probe, then fold batch into the index
      var surv2: DataFrame = null
      val tSem = t {
        val vecs = Stage.snap(CdcBatch.collapse(
          surv1.select(col("doc_id").as("vec_id"), col("embedding")),
          "vec_id"), materialize = true)
        SemDedupIndex.probe(spark, p("sdd"), vecs, threshold = 0.8)
          .write.mode("overwrite").parquet(s"${p("out/sem")}/batch_id=$id")
        SemDedupIndex.upsertCollapsed(spark, p("sdd"), vecs)
        surv2 = surv1.join(
          spark.read.parquet(s"${p("out/sem")}/batch_id=$id")
            .where(col("is_dup") === 0)
            .select(col("vec_id").as("doc_id")),
          Seq("doc_id")).localCheckpoint()
      }
      val nSem = surv2.count()
      if (drill && id == drillBatch &&
          !java.nio.file.Files.exists(drillMarker)) {
        // record the pre-crash counts so the post-restart run can be
        // checked verdict-identical against THIS delivery
        java.nio.file.Files.writeString(drillMarker, s"$nIn,$nDedup,$nSem")
        throw new RuntimeException(
          s"DRILL: crash mid-pipeline on batch $id (post-semdedup-fold, " +
            "pre-quality/DSIR/index)")
      }
      // 3. quality filter
      var surv3: DataFrame = null
      val tQual = t {
        surv3 = surv2.join(
          TextAnalysis.filterByQuality(surv2.drop("embedding"), 0.5)
            .select("doc_id"), Seq("doc_id")).localCheckpoint()
      }
      val nQual = surv3.count()
      // 4. DSIR importance scores for the survivors (selection at
      // release reads these; the model is frozen at seed time)
      val tDsir = t(if (nQual > 0) DsirModel.score(spark, p("dsir"),
        surv3.select("doc_id", "text"))
        .write.mode("overwrite").parquet(s"${p("out/dsir")}/batch_id=$id"))
      // 5. index maintenance: lexical (watermark-refused on replay) + ANN
      val tIndex = t(if (nQual > 0) {
        LexIndex.upsertBatch(spark, surv3.drop("embedding"), p("lex"), id)
        AnnIndex.upsert(spark, p("ann"),
          surv3.select(col("doc_id").as("vec_id"), col("embedding")))
      })
      times.synchronized { times += StageTimes(id, nIn, nDedup, nSem, nQual,
        tDedup, tSem, tQual, tDsir, tIndex) }
      println(f"batch $id: in=$nIn dedup->$nDedup sem->$nSem " +
        f"qual->$nQual | dedup=$tDedup%.1f sem=$tSem%.1f " +
        f"qual=$tQual%.1f dsir=$tDsir%.1f index=$tIndex%.1f s")
    }

    def startStream() = AvailableNow.foreachBatch(
      spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", 1).parquet(p("feed")),
      p("ckpt"))(runBatch)

    val tStream0 = System.nanoTime()
    // restart ONLY the planted drill crash: walk the cause chain for the
    // DRILL marker (null-safe — a genuine stream failure, nodrill runs
    // included, must propagate with its real error, not be mislabeled
    // "as drilled" and silently re-run into the measurement table)
    def isDrill(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(t => Option(t.getMessage).exists(_.contains("DRILL:")))
    try startStream().awaitTermination()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if isDrill(e) =>
        println("stream failed as drilled: " +
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .take(8).flatMap(t => Option(t.getMessage)).toSeq.lastOption
            .getOrElse("<no message>"))
        println("restarting from the checkpoint — the drilled batch " +
          "must redeliver and every stage must converge")
        startStream().awaitTermination()
    }
    val tStream = (System.nanoTime() - tStream0) / 1e9

    // ---- convergence + state-size report ----
    val semVerdicts = spark.read.parquet(p("out/sem"))
    val perBatchVerdicts = semVerdicts.groupBy("batch_id").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val curVerdicts = StreamingCuration.verdicts(spark, p("cur"))
    val shas = StreamingCuration.shaState(spark, p("cur")).count()
    val sigs = StreamingCuration.sigState(spark, p("cur")).count()
    val sddN = SemDedupIndex.vectors(spark, p("sdd")).count()
    val lexV = LexIndex.buildEra(spark, p("lex"))
    val annN = AnnIndex.vectors(spark, p("ann")).count()
    val processed = times.map(_.id).toSet
    assert(processed == (0L until nBatches.toLong).toSet ||
      processed.size >= nBatches,
      s"batches processed: $processed")
    if (drill) {
      // the drilled batch ran twice: its first delivery recorded its
      // pre-crash counts in the marker; the completed redelivery must
      // agree on every one of them (verdict-identical replay)
      val first = java.nio.file.Files.readString(drillMarker)
        .split(",").map(_.toLong).toSeq
      val second = times.find(_.id == drillBatch)
        .map(r => Seq(r.nIn, r.nDedup, r.nSem))
        .getOrElse(sys.error(s"drilled batch $drillBatch never completed"))
      assert(first == second,
        s"redelivered batch diverged pre-crash: $first vs $second")
      println(s"drill: batch $drillBatch crashed post-semdedup-fold, " +
        s"redelivered, and converged — (in, dedup-survivors, " +
        s"sem-survivors) $first identical across deliveries")
    }
    println(f"stream: ${times.size} batch-runs in $tStream%.1f s " +
      f"(includes drill restart)")
    val done = times.groupBy(_.id).map(_._2.last).toSeq.sortBy(_.id)
    val avg = (f: StageTimes => Double) => done.map(f).sum / done.size
    println(f"per-batch amortized (final runs): dedup=${avg(_.tDedup)}%.1f " +
      f"sem=${avg(_.tSem)}%.1f qual=${avg(_.tQual)}%.1f " +
      f"dsir=${avg(_.tDsir)}%.1f index=${avg(_.tIndex)}%.1f s")
    println(s"state: curation shas=$shas sigs=$sigs; semdedup " +
      s"vectors=$sddN; lex era=$lexV; ann vectors=$annN; " +
      s"curation verdicts=${curVerdicts.count()}; " +
      s"sem verdict rows/batch=${perBatchVerdicts.toSeq.sortBy(_._1)}")
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    spark.stop()
  }
}
