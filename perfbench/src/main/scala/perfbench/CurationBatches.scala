package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, DsirModel, LexIndex, SemDedupIndex,
  TextAnalysis}
import graft.streaming.StreamingCuration

/** `curation_batches`: set-up builds the seed indexes (semantic dedup,
  * DSIR model, lexical, ANN) on the `doc_id % 10 == 9` slice of a seeded
  * corpus, as `PipelineDemo` does. Each cycle feeds one micro-batch of
  * the rest through exact/LSH dedup → semantic dedup probe + fold →
  * quality filter → DSIR scoring → lexical and ANN upserts (write op),
  * then runs a fixed seeded query set against the lexical, ANN and
  * semantic-dedup indexes (read op). Functions are called directly: no
  * streaming source, no crash drill. */
final class CurationBatches(spark: SparkSession, env: Env) extends Workload {
  val nDocs: Int = 3000
  val BatchSize = 150
  val K = 5
  val NQueries = 8

  private val sc = spark.sparkContext
  private val ss = spark; import ss.implicits._
  private val docs = Inputs.corpus(nDocs, env.seed)
  private val seedDocs = docs.filter(_.id % 10 == 9)
  private val feed = docs.filter(_.id % 10 != 9).grouped(BatchSize).toIndexedSeq
  private val base = env.path("curation")
  private def p(sub: String) = s"$base/$sub"
  /** Normalized texts already in the exact-dedup state, as the engine
    * keys them (lower case, whitespace collapsed, trimmed). */
  private val seenTexts = scala.collection.mutable.Set[String]()
  private def norm(text: String) =
    text.toLowerCase.replaceAll("\\s+", " ").trim
  private var fedBytes = 0L
  /** Survivor counts (in, after dedup, after semdedup, after quality). */
  val survivors = scala.collection.mutable.ArrayBuffer[Seq[Long]]()

  private def docBytes(ds: Seq[Inputs.Doc]): Long =
    ds.map(d => d.text.getBytes("UTF-8").length + d.emb.length * 4L).sum

  def setup(): Unit = {
    val seed = Inputs.corpusFrame(spark, seedDocs).localCheckpoint()
    val seedVecs = seed.select(col("doc_id").as("vec_id"), col("embedding"))
    SemDedupIndex.build(seedVecs, p("sdd"))
    val seedText = seed.drop("embedding")
    DsirModel.fit(seedText, seedText.join(
      TextAnalysis.filterByQuality(seedText, 0.5).select("doc_id"),
      Seq("doc_id")), p("dsir"))
    LexIndex.build(spark, seedText, p("lex"))
    AnnIndex.build(seedVecs, p("ann"))
    // the seed slice is already ingested: its keys seed the dedup state
    // (batch 0), so feed batches are judged against it from the first one
    StreamingCuration.applyBatch(p("cur"), seedText.select("doc_id", "text"), 0)
    seenTexts ++= seedDocs.map(d => norm(d.text))
    fedBytes = docBytes(seedDocs)
  }

  override def exhausted(c: Int): Boolean = c >= feed.size

  private def t[T](w: String, name: String, traced: Boolean, rec: Recorder)(
      f: => T): T = {
    val t0 = System.nanoTime()
    val out = Windows.within(sc, w)(f)
    if (traced) rec.add(name, (System.nanoTime() - t0) / 1e9)
    out
  }

  def write(c: Int, traced: Boolean, rec: Recorder): Double = {
    val batch = Inputs.corpusFrame(spark, feed(c)).localCheckpoint()
    val id = c + 1L
    val idx0 = if (traced) Seq("lex", "ann", "sdd").map(r => Disk.bytes(p(r))).sum
      else 0L
    val t0 = System.nanoTime()
    val nIn = batch.count()
    t("dedup", "curation.dedup_s", traced, rec)(StreamingCuration.applyBatch(
      p("cur"), batch.select("doc_id", "text"), id))
    val verdicts = spark.read.parquet(s"${p("cur")}/verdicts/batch_id=$id")
    val surv1 = batch.join(verdicts.where(col("status") === "new")
      .select("doc_id"), Seq("doc_id")).localCheckpoint()
    val n1 = surv1.count()
    val vecs = surv1.select(col("doc_id").as("vec_id"), col("embedding"))
    val surv2 = t("semdedup_probe", "semdedup.probe_s", traced, rec) {
      SemDedupIndex.probe(spark, p("sdd"), vecs, threshold = 0.8)
        .write.mode("overwrite").parquet(s"${p("out/sem")}/batch_id=$id")
      surv1.join(spark.read.parquet(s"${p("out/sem")}/batch_id=$id")
        .where(col("is_dup") === 0).select(col("vec_id").as("doc_id")),
        Seq("doc_id")).localCheckpoint()
    }
    t("semdedup_upsert", "semdedup.upsert_s", traced, rec)(
      SemDedupIndex.upsert(spark, p("sdd"), vecs))
    val n2 = surv2.count()
    val surv3 = t("quality", "quality.s", traced, rec)(surv2.join(
      TextAnalysis.filterByQuality(surv2.drop("embedding"), 0.5)
        .select("doc_id"), Seq("doc_id")).localCheckpoint())
    val n3 = surv3.count()
    if (n3 > 0) {
      t("dsir", "dsir.s", traced, rec)(
        DsirModel.score(spark, p("dsir"), surv3.select("doc_id", "text"))
          .write.mode("overwrite").parquet(s"${p("out/dsir")}/batch_id=$id"))
      t("lex_upsert", "lex.upsert_s", traced, rec)(
        LexIndex.upsertBatch(spark, surv3.drop("embedding"), p("lex"), id))
      t("ann_upsert", "ann.upsert_s", traced, rec)(AnnIndex.upsert(spark,
        p("ann"), surv3.select(col("doc_id").as("vec_id"), col("embedding"))))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    fedBytes += docBytes(feed(c))
    survivors += Seq(nIn, n1, n2, n3)
    println(s"batch $c survivors: in=$nIn dedup=$n1 semdedup=$n2 quality=$n3")
    if (traced) {
      rec.add("curation.survivor_ratio", n1.toDouble / nIn)
      rec.add("semdedup.survivor_ratio", if (n1 == 0) 0.0 else n2.toDouble / n1)
      rec.add("index.bytes_written",
        (Seq("lex", "ann", "sdd").map(r => Disk.bytes(p(r))).sum - idx0).toDouble)
    }
    // exactly the documents whose text the state already holds (the seed
    // slice or an earlier batch) are exact duplicates; copies within one
    // batch are judged against the state only, so they stay new
    val expectExact = feed(c).filter(d => seenTexts(norm(d.text)))
      .map(_.id).toSet
    seenTexts ++= feed(c).map(d => norm(d.text))
    val judged = Windows.within(sc, Census.CheckWindow)(
      verdicts.where(col("status") === "exact_dup")
        .select("doc_id").as[Long].collect().toSet)
    Check(nIn == feed(c).size, s"batch $c: $nIn of ${feed(c).size} docs read")
    Check(expectExact.nonEmpty && judged == expectExact,
      s"batch $c: exact_dup missed ${expectExact -- judged}, wrongly flagged " +
        s"${judged -- expectExact} (expected ${expectExact.size})")
    wall
  }

  /** The fixed query set: term pairs for the lexical index and vectors
    * near seeded documents for the vector indexes (qids outside the doc
    * id range, so no query is its own hit). */
  private lazy val (lexQueries, vecQueries) = {
    val r = new scala.util.Random(env.seed * 31 + 5)
    val lq = (0 until NQueries).map(q => q.toLong ->
      Seq.fill(2)(Inputs.Vocab(r.nextInt(Inputs.Vocab.size))))
    val vq = (0 until NQueries).map { q =>
      val d = seedDocs(r.nextInt(seedDocs.size))
      (1000000000L + q, d.emb.map(x => (x + 0.05 * r.nextGaussian()).toFloat).toSeq)
    }
    (lq, vq.toDF("qid", "qe").localCheckpoint())
  }

  def read(c: Int, traced: Boolean, rec: Recorder): Double = {
    val (lq, vq) = (lexQueries, vecQueries)
    val t0 = System.nanoTime()
    val lex = t("lex_search", "lex.search_s", traced, rec)(
      LexIndex.searchMany(spark, p("lex"), lq, k = K).collect())
    val ann = t("ann_search", "ann.search_s", traced, rec)(
      AnnIndex.search(spark, p("ann"), vq, nProbes = 2, k = K).collect())
    val sem = t("semdedup_search", "semdedup.search_s", traced, rec)(
      SemDedupIndex.searchTopK(spark, p("sdd"), vq, k = K).collect())
    val wall = (System.nanoTime() - t0) / 1e9
    def perQuery(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.length }
    for ((name, rows, n) <- Seq(("lexical", lex, lq.size),
        ("ann", ann, NQueries), ("semdedup", sem, NQueries))) {
      val hits = perQuery(rows)
      Check(hits.size == n && hits.values.forall(_ == K),
        s"$name query set after batch $c: hits per query $hits, expected $K each")
    }
    wall
  }

  def finish(): Unit = Check(survivors.nonEmpty, "no batch completed")

  def spaceAmp(): Double = Disk.bytes(base) / fedBytes.toDouble
}
