package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level scalar functions (SURVEY §2.7). All are compositions of
  * built-in codegen'd `org.apache.spark.sql.functions` — no UDFs — so they
  * stay inside whole-stage codegen and push down through Catalyst.
  */
object Functions {

  /** F1 `plain()`: strip HTML tags, collapse whitespace, trim
    * (reference `includes/class-field-normalizer.php:450-455`). */
  def stripHtml(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", ""), "\\s+", " "))

  /** F4 `label: value` section line
    * (reference `includes/class-field-normalizer.php:69-78`). */
  def labelValue(label: String, value: Column): Column =
    concat(lit(label), lit(": "), value)

  /** F8 chunk hash: sha256(product_sha + "\n" + index + "\n" + text)
    * (reference `includes/class-fingerprint.php:49-53`). */
  def chunkSha(productSha: Column, index: Column, text: Column): Column =
    sha2(concat_ws("\n", productSha, index.cast("string"), text), 256)

  /** F14 approx token count: ceil(bytes / charsPerToken)
    * (reference `includes/class-chunker.php:95-99` — byte-length based). */
  def approxTokens(text: Column, charsPerToken: Double = 4.0): Column =
    ceil(octet_length(text) / lit(charsPerToken)).cast("int")

  /** Deterministic 32-bit value in [0, 2^32) derived from a sha256 of the
    * input — the primitive under the local embedder, minhash and simhash
    * (hex→int is expressible in both Spark `conv` and DuckDB `::UBIGINT`,
    * which is what makes these operators oracle-checkable). */
  def sha32(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 8), 16, 10).cast("long")

  /** F15 slug prettifier: `royal-blue`/`matte_black` → `Royal Blue` /
    * `Matte Black` (reference `ucwords(replace(_,-, ' '))`,
    * `includes/class-variation-rollup.php:156-183`). PHP's ucwords
    * UPPERCASES first letters but PRESERVES the rest of each word
    * (`ROYAL-BLUE` → `ROYAL BLUE`), so this is a word-wise transform,
    * not `initcap` (which lowercases tails). One definition shared by
    * term sections and the attribute rollup so the SQL mirror
    * (SparkEntry.prettySql) tracks a single expression. */
  def prettySlug(c: Column): Column =
    array_join(transform(split(translate(c, "_", "-"), "-"),
      w => concat(upper(w.substr(lit(1), lit(1))), w.substr(lit(2), length(w)))), " ")

  /** Sorted-distinct-join with cap: renders a value set the way the
    * variation rollup does (`includes/class-variation-rollup.php:112-152`):
    * natural sort, cap at `cap`, `(+N more)` suffix. Input: an unsorted
    * array column of strings. */
  def renderValueSet(values: Column, cap: Int): Column = {
    val sorted = array_sort(array_distinct(values))
    val n = size(sorted)
    when(n > cap,
      concat(array_join(slice(sorted, 1, cap), ", "),
        lit(" (+"), (n - cap).cast("string"), lit(" more)")))
      .otherwise(array_join(sorted, ", "))
  }

  /** Cosine similarity between two float-array columns, computed in double
    * precision end-to-end (cast before multiply so Spark and the DuckDB
    * oracle agree to ~1e-15). Zero-norm inputs return 0.0, the
    * [[graft.expressions.CosineSimilarity]] contract — the raw 0/0 NaN
    * would rank ABOVE every real cosine in a desc ordering. */
  def cosine(a: Column, b: Column): Column = {
    def d(c: Column) = transform(c, x => x.cast("double"))
    val dot = aggregate(zip_with(d(a), d(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val na2 = aggregate(transform(d(a), x => x * x), lit(0.0), (acc, x) => acc + x)
    val nb2 = aggregate(transform(d(b), x => x * x), lit(0.0), (acc, x) => acc + x)
    when(na2 === 0.0 || nb2 === 0.0, lit(0.0))
      .otherwise(dot / (sqrt(na2) * sqrt(nb2)))
  }
}
