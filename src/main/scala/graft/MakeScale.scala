package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Scale-dataset generator — the committed, reproducible form of the
  * round-10/11 curve datasets (SCALE.md documented the recipe but the
  * generator itself was session-local; `graft.ScaleCurve` needs it
  * re-runnable every round).
  *
  * `runMain graft.MakeScale <srcDir> <outDir> [factor]`
  *
  * Relational tables scale as `factor` KEY-SHIFTED replicas: replica r
  * shifts every key column by r × (max base key + 1), so join
  * selectivity, per-key fan-outs and per-group densities are preserved
  * EXACTLY while the key domains tile disjointly; non-key attribute
  * columns (flags, segments, brands, prices, dates) are untouched, so
  * group-key domains don't grow.
  *
  * documents/embeddings are NOT replicated — exact copies would hand
  * the dedup family artificial replica cliques and the ANN family
  * duplicate vectors, distorting exactly the workloads the curve
  * watches. Instead they are RESAMPLED from the base corpus's empirical
  * distributions: each new document keeps a base doc's (lang, source,
  * word count) envelope but draws its words from the corpus unigram
  * distribution; each new vector keeps a base row's label and draws
  * each coordinate from that label's per-dimension gaussian. All draws
  * are seeded by the output row id — reruns are byte-identical.
  *
  * Driver-side state is BOUNDED: per-doc envelopes (|docs| rows), the
  * vocab CDF (|vocab| words), per-(label, dim) moments (L×64 rows) —
  * never the corpus text itself. Generation is mapPartitions over a
  * range, embarrassingly parallel. */
object MakeScale {

  private val KeyFamilies: Map[String, Seq[(String, String)]] = Map(
    // table -> (column, family); family offset = max(primary domain) + 1
    "region" -> Seq("r_regionkey" -> "region"),
    "nation" -> Seq("n_nationkey" -> "nation", "n_regionkey" -> "region"),
    "customer" -> Seq("c_custkey" -> "customer", "c_nationkey" -> "nation"),
    "supplier" -> Seq("s_suppkey" -> "supplier", "s_nationkey" -> "nation"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "orders", "o_custkey" -> "customer"),
    "lineitem" -> Seq("l_orderkey" -> "orders", "l_partkey" -> "part",
      "l_suppkey" -> "supplier"),
    "events" -> Seq("event_id" -> "event", "user_id" -> "user"))

  private val FamilySource: Map[String, (String, String)] = Map(
    "region" -> ("region", "r_regionkey"),
    "nation" -> ("nation", "n_nationkey"),
    "customer" -> ("customer", "c_custkey"),
    "supplier" -> ("supplier", "s_suppkey"),
    "part" -> ("part", "p_partkey"),
    "orders" -> ("orders", "o_orderkey"),
    "event" -> ("events", "event_id"),
    "user" -> ("events", "user_id"))

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // getOrCreate may return a pre-existing session (a test harness's):
    // only a session THIS main created is its to stop
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = LocalSession("graft-make-scale")
    if (preExisting) {
      // a pre-existing session keeps its own master/parallelism — the
      // LocalSession configs were silently ignored (round-12 review).
      // Apply the runtime-settable ones so generation is still
      // deterministic (UTC + fixed shuffle width), and SAY what's in
      // effect instead of printing as if the builder had configured it.
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      spark.conf.set("spark.sql.shuffle.partitions", LocalSession.cpus.toString)
      println(s"MakeScale: reusing ambient session " +
        s"(master=${spark.sparkContext.master}) — builder master/config " +
        "ignored; timezone + shuffle partitions re-applied at runtime")
    }

    val offsets: Map[String, Long] = FamilySource.map { case (fam, (t, c)) =>
      fam -> (spark.read.parquet(s"$src/$t.parquet")
        .agg(max(col(c).cast("long"))).head().getLong(0) + 1L)
    }
    println(s"key-family offsets: $offsets")

    KeyFamilies.foreach { case (table, fams) =>
      val base = spark.read.parquet(s"$src/$table.parquet")
      val famOf = fams.toMap
      val replicas = (0 until factor).map { r =>
        base.select(base.schema.fields.map { f =>
          famOf.get(f.name) match {
            case Some(fam) =>
              (col(f.name).cast("long") + lit(r * offsets(fam)))
                .cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }.toSeq: _*)
      }
      replicas.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"$table: ${base.count()} x $factor replicas")
    }

    writeDocuments(spark, src, out, factor)
    writeEmbeddings(spark, src, out, factor)
    println(s"scale dataset at $out (factor $factor of $src)")
    if (!preExisting) spark.stop()
  }

  private def writeDocuments(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val base = spark.read.parquet(s"$src/documents.parquet")
    // bounded envelopes: (lang, source, n_words) per base doc, id-ordered
    val envelopes = base
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), "\\s+")).as("nw"))
      .orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getString(2), r.getInt(3)))
    // vocab CDF over the corpus unigram distribution
    val vocab = base
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy("w").collect().map(r => (r.getString(0), r.getLong(1)))
    val words = vocab.map(_._1)
    val cdf = vocab.map(_._2).scanLeft(0L)(_ + _).tail
    val total = cdf.last
    val bEnv = spark.sparkContext.broadcast(envelopes)
    val bWords = spark.sparkContext.broadcast(words)
    val bCdf = spark.sparkContext.broadcast(cdf)
    val n = envelopes.length
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = spark.range(n.toLong * factor).rdd.map { id =>
      val (lang, source, nw) = bEnv.value((id % n).toInt)
      val rnd = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
      val sb = new StringBuilder
      var i = 0
      while (i < nw) {
        if (i > 0) sb.append(' ')
        val u = (rnd.nextDouble() * total).toLong
        val idx = {
          val p = java.util.Arrays.binarySearch(bCdf.value, u + 1)
          if (p >= 0) p else -(p + 1)
        }
        sb.append(bWords.value(math.min(idx, bWords.value.length - 1)))
        i += 1
      }
      val text = sb.toString
      Row(id, text, lang, source, text.length.toLong)
    }
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"documents: $n envelopes -> ${n * factor} resampled docs, vocab ${words.length}")
  }

  private def writeEmbeddings(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val base = spark.read.parquet(s"$src/embeddings.parquet")
    val labels = base.select(col("vec_id"), col("label"))
      .orderBy("vec_id").collect().map(_.getInt(1))
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    // per-(label, dim) gaussian moments — L x dim rows, bounded
    val moments = base
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(avg(col("col").cast("double")).as("m"),
        coalesce(stddev_pop(col("col").cast("double")), lit(0.0)).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    val bLabels = spark.sparkContext.broadcast(labels)
    val bMoments = spark.sparkContext.broadcast(moments)
    val n = labels.length
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val rows = spark.range(n.toLong * factor).rdd.map { id =>
      val label = bLabels.value((id % n).toInt)
      val rnd = new java.util.Random(id * 2654435761L + 40503L)
      val v = Array.tabulate(dim) { d =>
        val (m, s) = bMoments.value((label, d))
        (m + s * rnd.nextGaussian()).toFloat
      }
      Row(id, v.toSeq, label)
    }
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"embeddings: ${n * factor} resampled vectors, dim $dim")
  }
}
