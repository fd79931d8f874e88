package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.store.{ParquetVectorStore, RetryingStore, VectorStoreWriter}

/** T6 semantics: transient failures retry on the 250/750 ms schedule and
  * succeed; non-transient failures propagate with no retry; exhaustion
  * after MaxAttempts propagates the last error.
  */
class RetryingStoreSpec extends SparkSpec {

  private final class ScriptedStore(inner: ParquetVectorStore, var failures: List[String])
      extends VectorStoreWriter {
    var calls = 0
    override def upsert(p: DataFrame): Int = {
      calls += 1
      failures match {
        case msg :: rest => failures = rest; throw new RuntimeException(msg)
        case Nil => inner.upsert(p)
      }
    }
    override def deleteByIds(ids: DataFrame): Int = {
      calls += 1
      inner.deleteByIds(ids)
    }
    override def replace(ids: DataFrame, p: DataFrame): Int = {
      calls += 1
      failures match {
        case msg :: rest => failures = rest; throw new RuntimeException(msg)
        case Nil => inner.replace(ids, p)
      }
    }
    override def deleteByProduct(p: Long, s: Int): Int = inner.deleteByProduct(p, s)
    override def purgeSite(s: Int): Int = inner.purgeSite(s)
    override def read(): DataFrame = inner.read()
    override def count(): Long = inner.count()
    override def currentVersion: Int = inner.currentVersion
  }

  private def payloadDf = {
    val inner = new ParquetVectorStore(spark,
      Files.createTempDirectory("graft-retry").resolve("s").toString)
    import org.apache.spark.sql.functions._
    (inner, spark.range(3).select(
      concat(lit("v-"), col("id")).as("id"),
      array(lit(1.0f)).as("values"), lit(1).as("site_id"),
      col("id").as("product_id"), lit("sku").as("sku"), lit("u").as("url"),
      lit("t").as("updated_at"), lit("f").as("fingerprint"),
      array(lit("title")).as("fields")))
  }

  test("transient failures retry on the reference backoff, then succeed") {
    val (inner, df) = payloadDf
    val scripted = new ScriptedStore(inner, List("HTTP 429", "read timeout"))
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val store = new RetryingStore(scripted, slept.append(_))
    store.upsert(df)
    assert(scripted.calls == 3)
    assert(slept.toSeq == Seq(250L, 750L))
    assert(inner.count() == 3)
  }

  test("a transient failure inside replace retries the whole fused op") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (inner, raw) = payloadDf
    // ids in the store's format, so the delete routes to its bucket
    val df = raw.withColumn("id",
      format_string("site-1:product-%d:chunk-0", col("product_id")))
    inner.upsert(df)
    val v = inner.currentVersion
    val ids = Seq("site-1:product-0:chunk-0").toDF("id")
    val ups = df.where("product_id > 0").withColumn("sku", lit("NEW"))
    val scripted = new ScriptedStore(inner, List("HTTP 429"))
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    new RetryingStore(scripted, slept.append(_)).replace(ids, ups)
    // two replace calls and nothing else: no half-op was retried alone
    assert(scripted.calls == 2 && slept.toSeq == Seq(250L))
    assert(inner.currentVersion == v + 1)
    // the same store as an uninterrupted run
    val (ref, _) = payloadDf
    ref.upsert(df)
    ref.replace(ids, ups)
    def rows(s: ParquetVectorStore) = s.read().collect().map(_.toString).sorted.toSeq
    assert(rows(inner) == rows(ref) && rows(inner).length == 2)
  }

  test("non-transient failure propagates immediately, no retry") {
    val (inner, df) = payloadDf
    val scripted = new ScriptedStore(inner, List("dimension mismatch"))
    val store = new RetryingStore(scripted, _ => fail("must not sleep"))
    intercept[RuntimeException](store.upsert(df))
    assert(scripted.calls == 1 && inner.count() == 0)
  }

  test("exhaustion after MaxAttempts propagates the last transient error") {
    val (inner, df) = payloadDf
    val scripted = new ScriptedStore(inner,
      List("HTTP 429", "HTTP 429", "HTTP 429"))
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val store = new RetryingStore(scripted, slept.append(_))
    val e = intercept[RuntimeException](store.upsert(df))
    assert(e.getMessage == "HTTP 429")
    assert(scripted.calls == 3 && slept.toSeq == Seq(250L, 750L))
  }
}
