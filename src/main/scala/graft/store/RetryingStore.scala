package graft.store

import org.apache.spark.sql.DataFrame

import graft.scan.RetryPolicy

/** T6 — write-side retry decorator: transient failures (as classified by
  * [[RetryPolicy.isTransient]], the reference's P7 predicate) retry up to
  * MaxAttempts with the reference's exponential backoff
  * (0.25·3^(k−1) s — `includes/adapters/class-pinecone-adapter.php:348-381`);
  * non-transient errors propagate immediately. The sleeper is injected so
  * tests assert the schedule without waiting on wall-clock.
  */
final class RetryingStore(
    inner: VectorStoreWriter,
    sleeper: Long => Unit = ms => Thread.sleep(ms))
  extends VectorStoreWriter with Serializable {

  private def withRetry[A](op: => A): A = {
    var attempt = 1
    while (true) {
      try return op
      catch {
        case e: Throwable
            if attempt < RetryPolicy.MaxAttempts &&
              RetryPolicy.isTransient("", Option(e.getMessage).getOrElse("")) =>
          sleeper(RetryPolicy.httpBackoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def upsert(payloads: DataFrame): Int = withRetry(inner.upsert(payloads))
  override def deleteByIds(ids: DataFrame): Int = withRetry(inner.deleteByIds(ids))
  /** One op: a transient failure retries the whole fused delete+upsert. */
  override def replace(ids: DataFrame, payloads: DataFrame): Int =
    withRetry(inner.replace(ids, payloads))
  override def deleteByProduct(p: Long, s: Int): Int =
    withRetry(inner.deleteByProduct(p, s))
  override def purgeSite(s: Int): Int = withRetry(inner.purgeSite(s))
  override def read(): DataFrame = inner.read()
  override def count(): Long = inner.count()
  override def currentVersion: Int = inner.currentVersion
}
