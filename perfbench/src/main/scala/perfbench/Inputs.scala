package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table the engine reads is made here
  * from the workload seed and written under the run's work root, so a
  * run needs nothing outside its checkout and the same seed always gives
  * the same bytes. The shapes match the engine's catalog contract
  * (`graft.catalog.Catalog.expectedColumns`): `part` and `nation` feed the
  * product catalog, and (doc_id, text, …, embedding) rows feed curation.
  */
object Inputs {

  private val Adjectives = Seq("small", "red", "large", "blue", "smooth",
    "brushed", "matte", "green", "heavy", "light", "compact", "classic")
  private val Nouns = Seq("ring", "widget", "bolt", "panel", "lamp", "chair",
    "valve", "hinge", "cable", "frame", "gear", "bracket", "sleeve", "plate")
  private val Types = Seq("ECONOMY ANODIZED STEEL", "STANDARD POLISHED BRASS",
    "PROMO BURNISHED COPPER", "LARGE PLATED TIN", "MEDIUM BRUSHED NICKEL",
    "SMALL POLISHED STEEL")

  /** Words the curation documents draw from: a small shared vocabulary
    * (every lexical query matches many documents) plus stop words so the
    * quality score spreads around its threshold. */
  val Vocab: IndexedSeq[String] = IndexedSeq("key", "agg", "row", "scan",
    "slow", "fast", "table", "value", "part", "hash", "merge", "batch",
    "spark", "sort", "line", "window", "order", "data", "column", "join",
    "small", "customer", "query", "filter", "stream", "group", "big",
    "index", "vector", "chunk", "store", "delta")
  private val Stop = IndexedSeq("the", "a", "of", "and", "to", "in", "is")
  private val Langs = IndexedSeq("en", "en", "en", "fr", "es", "de", "zh")

  private val PartSchema = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))
  private val NationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  /** Writes `part` (nParts rows; even keys fan out into three variations
    * in the catalog, so products = 2.5 × nParts) and `nation` under
    * `dir`. */
  def writeCatalog(spark: SparkSession, dir: String, nParts: Int,
      seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    val parts = (0 until nParts).map { k =>
      val words = 2 + rnd.nextInt(4)
      Row(k.toLong,
        Seq.fill(words)(pick(Adjectives)).mkString(" ") + " " + pick(Nouns),
        s"Brand#${1 + rnd.nextInt(55)}", pick(Types), 1 + rnd.nextInt(50),
        math.round(900.0 + rnd.nextDouble() * 1100.0) / 1.0)
    }
    write(spark, parts, PartSchema, s"$dir/part.parquet")
    val nations = (0 until 25).map(k => Row(k, s"NATION_$k", k % 5))
    write(spark, nations, NationSchema, s"$dir/nation.parquet")
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("embedding", ArrayType(FloatType))))

  val Dim = 64
  private val Clusters = 10

  /** One curation document row. */
  final case class Doc(id: Long, text: String, lang: String, source: String,
      emb: Array[Float]) {
    def row: Row = Row(id, text, lang, source, text.length.toLong,
      emb.toSeq)
  }

  /** The curation corpus: `nDocs` documents whose 64-dim embeddings sit
    * around ten seeded centroids. About 8% are planted exact copies of
    * an earlier document (same text, a perturbed vector) and 6% near
    * copies (one word swapped, a tightly perturbed vector), so every
    * dedup stage has verdicts to give. Ids ending in 9 form the seed
    * slice the curation workload ingests first. */
  def corpus(nDocs: Int, seed: Long): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedc0deL)
    val centroids = IndexedSeq.fill(Clusters)(unit(Array.fill(Dim)(
      rnd.nextGaussian().toFloat)))
    def around(c: Array[Float], spread: Double): Array[Float] =
      unit(c.map(x => (x + spread * rnd.nextGaussian()).toFloat))
    def freshText(): String = {
      val n = 25 + rnd.nextInt(50)
      Seq.fill(n)(if (rnd.nextDouble() < 0.25) Stop(rnd.nextInt(Stop.size))
        else Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val docs = scala.collection.mutable.ArrayBuffer[Doc]()
    def exactCopy(id: Long, o: Doc): Doc =
      Doc(id, o.text, o.lang, o.source, around(o.emb, 0.01))
    for (id <- 0L until nDocs.toLong) {
      val u = rnd.nextDouble()
      val d =
        // every 25th id re-sends a seed-slice document (ids ending in 9),
        // so each feed batch carries copies it must judge exact dups
        if (docs.size > 50 && id % 25 == 3) {
          val seeds = docs.filter(_.id % 10 == 9)
          exactCopy(id, seeds(rnd.nextInt(seeds.size)))
        } else if (docs.size > 50 && u < 0.04)
          exactCopy(id, docs(rnd.nextInt(docs.size)))
        else if (docs.size > 50 && u < 0.10) {
          val o = docs(rnd.nextInt(docs.size))
          val w = o.text.split(" ")
          w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.size))
          Doc(id, w.mkString(" "), o.lang, o.source, around(o.emb, 0.02))
        } else Doc(id, freshText(), Langs(rnd.nextInt(Langs.size)),
          s"src${rnd.nextInt(20)}",
          around(centroids(rnd.nextInt(Clusters)), 0.35))
      docs += d
    }
    docs.toIndexedSeq
  }

  def corpusFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(_.row), 4), CorpusSchema)

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
}
