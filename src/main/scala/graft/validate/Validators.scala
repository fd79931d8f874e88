package graft.validate

import org.apache.spark.sql.SparkSession

import graft.embed.{Embedder, GraftEmbedError}
import graft.store.{EnsureStoreVectorStore, ParquetVectorStore}
import graft.streaming.StateCommit.exists

/** One validation outcome — the reference returns `{ok, message}` pairs
  * (`includes/class-validators.php:20,77`); `code` adds the
  * machine-readable discriminator its message strings carry implicitly
  * ("embedding length was X (expected Y)" vs "validation failed
  * (HTTP N)"). */
final case class ValidationResult(ok: Boolean, code: String, message: String)

/** Connection validators (reference `includes/class-validators.php:20-139`).
  *
  * `validate_openai` (`:20-69`) makes ONE minimal embeddings call with the
  * literal input "ping" and asserts the returned vector's length equals
  * the configured dimension — it validates the model/dimension PAIR, not
  * just reachability. `validate_pinecone` (`:77-139`) checks the
  * controller endpoint, then (when an index is named) that the index
  * exists, surfacing its dimension when the API exposes it.
  *
  * The engine's analogs: the embedder stands in for the OpenAI endpoint
  * (same ping + length check, same typed failure), and the Parquet store
  * root stands in for the controller/index pair — reachability = the
  * directory + a parseable manifest, index detail = the stored vectors'
  * dimension, which must match the configured one.
  */
object Validators {

  /** validate_openai analog: embed "ping", check length == configured
    * dimension (`class-validators.php:53-66`). `expectedDim` is the
    * configured dimension (the reference's `Options::get_dimension()`),
    * which can legitimately disagree with the model's locked dimension —
    * surfacing exactly that misconfiguration is the check's purpose. */
  def validateEmbedder(embedder: Embedder, expectedDim: Int): ValidationResult =
    try {
      val v = embedder.embedBatch(Seq("ping")).head
      if (v.length != expectedDim)
        ValidationResult(ok = false, "dim_mismatch",
          s"embedder responded, but embedding length was ${v.length} " +
            s"(expected $expectedDim). Check your model/dimension.")
      else
        ValidationResult(ok = true, "ok",
          s"embedder connection looks good (model ${embedder.model}, dimension $expectedDim).")
    } catch {
      case e: GraftEmbedError => ValidationResult(ok = false, e.code, e.msg)
    }

  /** validate_pinecone analog over the Pinecone-shaped local store:
    * "controller reachable" = the root exists and its committed meta parses;
    * "index detail" = the stored vectors' dimension, asserted against the
    * configured one (`class-validators.php:109-135`). An empty store is
    * OK — the reference reports success with "no index specified yet"
    * when there is nothing to check a dimension against. `expectedDim` =
    * None skips only the dimension comparison (no configured dimension
    * exists, e.g. an invalid model name with no explicit override — the
    * reachability half must still run and must not invent a default to
    * compare against). */
  def validateStore(spark: SparkSession, root: String,
      expectedDim: Option[Int]): ValidationResult = {
    if (!exists(spark, root))
      return ValidationResult(ok = false, "store_unreachable",
        s"store root $root does not exist — nothing has been synced there.")
    try {
      val store = new ParquetVectorStore(spark, root)
      // a legacy layout or an unreadable commit pointer throws at
      // currentVersion, a bucket-count or mode mismatch at read(), which
      // parses the committed meta
      val version = store.currentVersion
      val sample = store.read().select("values").head(1)
      if (sample.isEmpty)
        ValidationResult(ok = true, "ok",
          s"store reachable (v$version). No vectors yet.")
      else {
        val dim = sample.head.getSeq[Float](0).length
        expectedDim match {
          case Some(exp) if dim != exp =>
            ValidationResult(ok = false, "store_dim_mismatch",
              s"store vectors have dimension $dim (expected $exp). " +
                "Re-sync after changing model/dimension.")
          case Some(_) =>
            ValidationResult(ok = true, "ok",
              s"store OK (v$version, dimension $dim).")
          case None =>
            ValidationResult(ok = true, "ok",
              s"store reachable (v$version, dimension $dim); no configured " +
                "dimension to check against.")
        }
      }
    } catch {
      // bucket-count/mode mismatch, legacy layout, unreadable pointer or
      // meta
      case e: Exception =>
        ValidationResult(ok = false, "store_invalid",
          s"store at $root is not readable: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
    }
  }

  /** The second adapter's validation (OpenAI-VS-shaped): the ensure-store
    * id must exist (the reference caches `_STORE_ID` on first use —
    * an adapter dir without it was never ensured), then the nested data
    * store validates like the primary. */
  def validateEnsureStore(spark: SparkSession, root: String,
      expectedDim: Option[Int]): ValidationResult =
    try {
      val vs = new EnsureStoreVectorStore(spark, root)
      if (!vs.storeExists)
        return ValidationResult(ok = false, "store_unreachable",
          s"adapter at $root has no _STORE_ID — ensure-store never ran.")
      // the nested data store is created lazily on first WRITE — an ensured
      // adapter with no data dir yet is a valid empty store
      val innerResult =
        if (!exists(spark, s"$root/data"))
          ValidationResult(ok = true, "ok", "ensured, no vectors yet.")
        else validateStore(spark, s"$root/data", expectedDim)
      innerResult.copy(message = s"store ${vs.ensureStore()}: ${innerResult.message}")
    } catch {
      // unreadable _STORE_ID (permissions, torn write): a typed FAIL, not
      // a stack trace — same contract as the primary-store path
      case e: Exception =>
        ValidationResult(ok = false, "store_invalid",
          s"adapter at $root is not readable: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
    }
}
