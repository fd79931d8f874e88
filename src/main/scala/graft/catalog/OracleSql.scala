package graft.catalog

/** DuckDB-dialect SQL mirror of [[Catalog]]. The driver registers the raw
  * parquet tables (`part`, `lineitem`, …, `documents`, `embeddings`,
  * `events`) and runs each oracle query; results must hash-match the Spark
  * side. Every derived table here must stay semantically identical to the
  * corresponding [[Catalog]] method.
  */
object OracleSql {

  val Base = Catalog.Base

  /** Shared WITH-prologue defining the derived catalog tables. Appended in
    * front of each oracle query that needs them. */
  val prologue: String =
    s"""WITH parents AS (
       |  SELECT
       |    CAST(p_partkey AS BIGINT) AS product_id,
       |    CAST(0 AS BIGINT) AS parent_id,
       |    'product' AS post_type,
       |    CASE WHEN p_partkey % 10 = 0 THEN 'draft'
       |         WHEN p_partkey % 10 = 1 THEN 'private'
       |         ELSE 'publish' END AS post_status,
       |    TIMESTAMP '$Base' + INTERVAL (p_partkey) MINUTE AS post_modified_gmt,
       |    p_name AS title,
       |    '<p>' || p_type || '</p>' AS description,
       |    'SKU-' || p_partkey AS sku,
       |    printf('%.2f', p_retailprice) AS price,
       |    p_brand AS brand,
       |    CAST(p_size AS INT) AS psize,
       |    CAST(NULL AS VARCHAR) AS attr_size,
       |    1 AS site_id
       |  FROM part
       |), variations AS (
       |  SELECT
       |    CAST(1000000 + p_partkey * 10 + i AS BIGINT) AS product_id,
       |    CAST(p_partkey AS BIGINT) AS parent_id,
       |    'product_variation' AS post_type,
       |    CASE WHEN (p_partkey + i) % 7 = 0 THEN 'draft' ELSE 'publish' END
       |      AS post_status,
       |    TIMESTAMP '$Base' + INTERVAL (p_partkey * 10 + i) MINUTE
       |      AS post_modified_gmt,
       |    p_name || ' - v' || i AS title,
       |    '<p>variant ' || i || '</p>' AS description,
       |    'SKU-' || p_partkey || '-' || i AS sku,
       |    printf('%.2f', p_retailprice + i) AS price,
       |    p_brand AS brand,
       |    CAST(p_size + i AS INT) AS psize,
       |    CASE WHEN i = 1 THEN 'S' WHEN i = 2 THEN 'M' ELSE 'L' END
       |      AS attr_size,
       |    1 AS site_id
       |  FROM part, UNNEST(generate_series(1, 3)) t(i)
       |  WHERE p_partkey % 2 = 0
       |), products AS (
       |  SELECT * FROM parents UNION ALL SELECT * FROM variations
       |), sync_state AS (
       |  SELECT
       |    1 AS site_id,
       |    CAST(p_partkey AS BIGINT) AS product_id,
       |    'local' AS target,
       |    CAST(ci AS INT) AS chunk_index,
       |    'site-1:product-' || p_partkey || ':chunk-' || ci AS vector_id,
       |    sha256('p' || p_partkey) AS product_sha,
       |    sha256('c' || p_partkey || ':' || ci) AS chunk_sha,
       |    'text-embedding-3-small' AS model,
       |    3072 AS dimension,
       |    CASE WHEN p_partkey % 9 = 0 THEN 'error' ELSE 'synced' END AS status,
       |    TIMESTAMP '$Base' + INTERVAL (p_partkey - 10) MINUTE AS updated_at,
       |    TIMESTAMP '$Base' + INTERVAL (p_partkey +
       |      (CASE WHEN p_partkey % 2 = 0 THEN 10 ELSE -10 END)) MINUTE
       |      AS last_synced_at
       |  FROM part, UNNEST(generate_series(0, p_partkey % 3)) t(ci)
       |  WHERE p_partkey % 3 = 0
       |)
       |""".stripMargin

  /** Shared unigram-LM scoring chain
    * ([[graft.operators.TextAnalysis.unigramSurprisal]]): defines `scored`
    * (doc_id, n_tokens, micro_bits, micro_bpt). ONE definition feeds both
    * the ta_unigram gate and the ta_lm_filter gate — the scoring math
    * cannot silently fork between them. */
  val unigramScored: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
      |  FROM documents
      |), cw AS (
      |  SELECT token, COUNT(*) AS cw FROM tok GROUP BY token
      |), tot AS (SELECT COUNT(*) AS t FROM tok),
      |micro AS (
      |  SELECT doc_id,
      |    CAST(round(ln(CAST(t AS DOUBLE) / cw) / ln(2.0) * 1000000.0, 0)
      |      AS BIGINT) AS m
      |  FROM tok JOIN cw USING (token), tot
      |), scored AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(m) AS BIGINT) AS micro_bits,
      |    CAST(round(CAST(SUM(m) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS micro_bpt
      |  FROM micro GROUP BY doc_id
      |)
      |""".stripMargin

  /** DuckDB oracle for BPE merge training ([[graft.operators.Bpe.bpeMerges]]).
    *
    * The trainer's loop is bounded (`nMerges` rounds), so it unrolls into a
    * chain of CTE pairs — per round, one pair-count/argmax CTE (`b{k}`) and
    * one vocab-rewrite CTE (`v{k}`). The greedy left-to-right merge is a
    * `list_reduce` fold: append each symbol unless the accumulator's tail
    * equals the chosen left and the symbol equals the chosen right, in which
    * case replace the tail with the merged token. The fold is equivalent to
    * the sequential two-pointer scan because a just-merged tail (`l || r`)
    * can never itself equal `l`, so no double-merge chain is possible.
    * Every CTE is MATERIALIZED: `v{k}` is referenced twice (by `b{k+1}` and
    * `v{k+1}`), and inlining would re-evaluate the chain exponentially.
    * Tie-breaks mirror the Spark side: count desc, then (left, right)
    * lexicographic — binary collation on both engines, tokens are [a-z_].
    */
  def bpeMerges(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH v0 AS MATERIALIZED (
      |  SELECT string_split(w, '')[:-2] || [string_split(w, '')[-1] || '_'] AS syms, n
      |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS n
      |        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |              FROM documents)
      |        GROUP BY w))""".stripMargin
    for (k <- 1 to nMerges) {
      sb ++= s""", b$k AS MATERIALIZED (
      |  SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(syms[:-2]) AS l, unnest(syms[2:]) AS r, n FROM v${k - 1})
      |  GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
      if (k < nMerges) sb ++= s""", v$k AS MATERIALIZED (
      |  SELECT list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
      |      CASE WHEN acc[-1] = b.l AND x[1] = b.r
      |           THEN acc[:-2] || [b.l || b.r] ELSE acc || x END) AS syms, n
      |  FROM v${k - 1}, b$k b)""".stripMargin
    }
    val sel = (1 to nMerges).map { k =>
      s"SELECT CAST($k AS INTEGER) AS rank, l AS lhs, r AS rhs, " +
        s"l || r AS merged, cnt AS weight FROM b$k"
    }.mkString(" UNION ALL ")
    sb ++= s"\nSELECT * FROM ($sel) ORDER BY rank"
    sb.toString
  }

  /** DuckDB oracle for the BPE segmenter ([[graft.operators.Bpe.bpeEncode]])
    * over a FIXED merge table: per word, the rank-ordered merge
    * applications unroll into nested `list_reduce` folds (same fold as
    * [[bpeMerges]], with the chosen pair a literal), all row-local inside
    * one `list_transform` over the document's word list — no joins, no
    * unnest. Merge tokens are [a-z_] so literal splicing is injection-safe.
    */
  /** The per-word segmentation expression shared by [[bpeEncode]] and
    * [[bpeFertility]]: rank-ordered merges unrolled into nested
    * `list_reduce` folds over the word's character list. */
  private def bpeEncodeExpr(merges: Seq[(String, String)]): String = {
    var expr = "string_split(w, '')[:-2] || [string_split(w, '')[-1] || '_']"
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      expr = s"list_reduce(list_transform($expr, s$i -> [s$i]), " +
        s"(a$i, x$i) -> CASE WHEN a$i[-1] = '$l' AND x$i[1] = '$r' " +
        s"THEN a$i[:-2] || ['$l$r'] ELSE a$i || x$i END)"
    }
    expr
  }

  def bpeEncode(merges: Seq[(String, String)]): String = {
    val expr = bpeEncodeExpr(merges)
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |         regexp_extract_all(lower(text), '[a-z]+') AS words
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, len(words) AS n_words,
       |         list_transform(words, w -> $expr) AS encs
       |  FROM d)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(coalesce(list_sum(list_transform(encs, e -> len(e))), 0) AS BIGINT)
       |    AS n_subwords,
       |  array_to_string(flatten(encs)[:8], ' ') AS subwords_preview
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for per-language tokenizer fertility
    * ([[graft.operators.Bpe.tokenizerFertility]]): the [[bpeEncode]]
    * segmentation chain aggregated per lang, fertility as integer basis
    * points with the zero-word guard mirrored. */
  def bpeFertility(merges: Seq[(String, String)]): String = {
    val expr = bpeEncodeExpr(merges)
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       |         regexp_extract_all(lower(text), '[a-z]+') AS words
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, lang, len(words) AS n_words,
       |         list_transform(words, w -> $expr) AS encs
       |  FROM d
       |), agg AS (
       |  SELECT lang,
       |    CAST(SUM(n_words) AS BIGINT) AS n_words,
       |    CAST(SUM(coalesce(list_sum(list_transform(encs, e -> len(e))), 0))
       |      AS BIGINT) AS n_subwords
       |  FROM e GROUP BY lang)
       |SELECT lang, n_words, n_subwords,
       |  CASE WHEN n_words = 0 THEN 0
       |       ELSE n_subwords * 10000 // n_words END AS fertility_bps
       |FROM agg ORDER BY lang""".stripMargin
  }
}
