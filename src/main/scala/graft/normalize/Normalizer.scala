package graft.normalize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Functions.stripHtml

/** Selection-driven field normalization (reference
  * `includes/class-field-normalizer.php:30-86`): project the selected
  * fields, strip HTML, compose `label: value` lines, drop empty sections
  * (P2, `class-field-normalizer.php:70-77`), join with newlines.
  *
  * The projection IS the logical-plan input (SURVEY §1.1 "field selection
  * map") — Catalyst column pruning pushes it into the parquet scan.
  *
  * Row order: `normalize`, `metaSections`, `composeFull` and `fingerprint`
  * return rows sorted by `product_id`. `acfRender`, `acfRenderLookup` and
  * `termSections` are inputs to `composeFull`, which orders each
  * product's lines itself, so they return their rows in no particular
  * order; a caller that lists them sorts at the call site.
  */
object Normalizer {

  /** One section: `label: value`, or NULL when the value is empty
    * (empty sections vanish from the composed text via concat_ws). */
  private def section(label: String, value: org.apache.spark.sql.Column) =
    when(value.isNotNull && length(value) > 0,
      concat(lit(label), lit(": "), value))

  /** The core-field catalog in the reference's render order
    * (`class-field-normalizer.php:44-66`): selection key → rendered
    * section. Selection picks WHICH of these flow; render order is always
    * the catalog's (the reference iterates its field list, not the
    * user's). */
  private val coreCatalog: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "title" -> section("Title", stripHtml(col("title"))),
    "description" -> section("Description", stripHtml(col("description"))),
    "sku" -> section("SKU", col("sku")),
    "price" -> section("Price", col("price")),
    "brand" -> section("Brand", col("brand")),
    "size" -> section("Size", col("attr_size")))

  /** Every core key, in render order — the default (full) selection
    * (derived, so the two can't drift). */
  val DefaultCore: Seq[String] = coreCatalog.map(_._1)

  /** Normalized text per product over the canonical catalog columns,
    * sorted by `product_id`. */
  def normalize(products: DataFrame): DataFrame =
    normalize(products, DefaultCore)

  /** P1 selection-driven core text: project ONLY the selected core
    * fields (reference options blob → normalizer,
    * `includes/class-options.php:368-421` applied
    * `class-field-normalizer.php:44-66`). The selection IS the logical
    * plan input — deselected columns are never referenced, so Catalyst
    * prunes them out of the parquet scan. Unknown keys are ignored (the
    * reference skips unknown option entries). Rows sorted by
    * `product_id`. */
  def normalize(products: DataFrame, core: Seq[String]): DataFrame = {
    val chosen = core.toSet
    val sections = coreCatalog.collect { case (k, c) if chosen(k) => c }
    require(sections.nonEmpty,
      s"selection has no known core fields (got $core; known ${coreCatalog.map(_._1)})")
    products.select(
      col("product_id"),
      concat_ws("\n", sections: _*).as("text"))
      .orderBy("product_id")
  }

  /** Meta-key blacklist P4 (reference hardcoded ignore list,
    * `includes/class-field-discovery.php:149-155`). */
  val MetaBlacklist: Seq[String] = Seq("_edit_lock", "_thumbnail_id")

  /** P3/P4 meta-visibility rule, shared by every path that reads meta
    * (metaSections and composeFull must never disagree on which keys are
    * indexed). */
  def visibleMeta(meta: DataFrame, showPrivate: Boolean): DataFrame =
    meta
      .where(!col("key").isin(MetaBlacklist: _*))
      .where(if (showPrivate) lit(true) else !col("key").startsWith("_"))

  /** Custom-meta sections from long-format (product_id, key, value) rows:
    * P4 blacklist, P3 private-key predicate (`key[0]=='_'` excluded unless
    * `showPrivate` — `class-field-normalizer.php:220-224`), then F10 KV
    * flatten (`"k: v; k2: v2"`, `class-field-normalizer.php:489-516`) and
    * F6 compact-JSON render (`class-field-normalizer.php:305-316`), both
    * over key-sorted entries so output is deterministic (SURVEY §1.3).
    * Rows sorted by `product_id`. */
  def metaSections(meta: DataFrame, showPrivate: Boolean = false): DataFrame = {
    val visible = visibleMeta(meta, showPrivate)
    visible.groupBy("product_id")
      .agg(array_sort(collect_list(struct(col("key"), col("value")))).as("kvs"))
      .select(
        col("product_id"),
        array_join(transform(col("kvs"),
          e => concat(e.getField("key"), lit(": "), e.getField("value"))), "; ")
          .as("meta_line"),
        to_json(map_from_entries(col("kvs"))).as("meta_json"))
      .orderBy("product_id")
  }

  /** F11 ACF type-directed render (reference 16-way switch,
    * `includes/class-field-normalizer.php:327-444`; the id→lookup types
    * — taxonomy/post_object/relationship/image — are dimension-table
    * joins in our model, see SURVEY §2.7 F11): scalar types pass
    * through, `true_false` → "true"/"false", `checkbox` multi-values
    * join `", "` (F5), `group` kv-rows render `"k: v; k2: v2"` (F10).
    * One (product_id, field_name, rendered) row per input row, in no
    * particular order. */
  def acfRender(acf: DataFrame): DataFrame =
    acf.select(
      col("product_id"), col("field_name"),
      when(col("field_type") === "true_false",
        when(col("value") === "1", "true").otherwise("false"))
        .when(col("field_type") === "checkbox",
          array_join(split(col("value"), "\\|"), ", "))
        .when(col("field_type") === "group",
          array_join(transform(split(col("value"), "\\|"),
            kv => concat_ws(": ", split(kv, "=").getItem(0),
              split(kv, "=").getItem(1))), "; "))
        .otherwise(col("value")).as("rendered"))

  /** F11 (full matrix) — the id-lookup + nested ACF types the scalar
    * [[acfRender]] can't express (reference
    * `includes/class-field-normalizer.php:327-444`; discovery BFS over
    * repeater/flexible sub-fields `includes/class-acf-integration.php:
    * 76-109`):
    *
    *   - taxonomy → term name; post_object/relationship → post title;
    *     image/gallery → alt-else-caption-else-url; file → url — all
    *     DIMENSION JOINS: refs posexplode out of the `|`-packed value,
    *     join the dims, and re-assemble in input order via a
    *     sort-by-position collect (multi-value fields preserve authoring
    *     order, as the reference's loops do).
    *   - repeater rows (`k=v,k2=v2|…`) and flexible_content layouts
    *     (`layout:k=v,…|…`) unpack row-locally into `k: v; k2: v2` lines
    *     (nested F10), ` / `-joined across rows.
    *   - wysiwyg strips HTML (F1); select passes through.
    *
    * Scale posture: the dims (terms, titles, attachments) are
    * catalog-dimension-sized — Catalyst auto-broadcasts them at these
    * stats and falls back to shuffle equi-joins if a dim outgrows the
    * threshold; the single groupBy carries narrow (id, pos, item) rows.
    *
    * One (product_id, field_name, rendered) row per field, in no
    * particular order.
    */
  def acfRenderLookup(acf: DataFrame, postTitles: DataFrame, terms: DataFrame,
      attachments: DataFrame): DataFrame = {
    val joinTypes = Seq("taxonomy", "post_object", "relationship", "image",
      "gallery", "file")
    val localTypes = Seq("wysiwyg", "select", "repeater", "flexible_content")

    def kvLine(row: org.apache.spark.sql.Column) =
      array_join(transform(split(row, ","),
        kv => concat_ws(": ", element_at(split(kv, "="), 1),
          element_at(split(kv, "="), 2))), "; ")

    val local = acf.where(col("field_type").isin(localTypes: _*))
      .select(col("product_id"), col("field_name"),
        when(col("field_type") === "wysiwyg",
          graft.functions.Functions.stripHtml(col("value")))
          .when(col("field_type") === "select", col("value"))
          .when(col("field_type") === "repeater",
            array_join(transform(split(col("value"), "\\|"), kvLine(_)), " / "))
          .otherwise( // flexible_content
            array_join(transform(split(col("value"), "\\|"), row =>
              concat(regexp_extract(row, "^([^:]+):(.*)$", 1), lit(" — "),
                kvLine(regexp_extract(row, "^([^:]+):(.*)$", 2)))), " / "))
          .as("rendered"))

    val refs = acf.where(col("field_type").isin(joinTypes: _*))
      .select(col("product_id"), col("field_name"), col("field_type"),
        posexplode(split(col("value"), "\\|")))
      .select(col("product_id"), col("field_name"), col("field_type"),
        col("pos"), col("col").cast("bigint").as("ref_id"))
    val imagePref =
      when(col("alt") =!= "", col("alt"))
        .when(col("caption") =!= "", col("caption"))
        .otherwise(col("url"))
    val joined = refs
      .join(terms, refs("ref_id") === terms("term_id"), "left_outer")
      .join(postTitles, refs("ref_id") === postTitles("ref_pid"), "left_outer")
      .join(attachments, refs("ref_id") === attachments("attachment_id"), "left_outer")
      .select(col("product_id"), col("field_name"), col("pos"),
        when(col("field_type") === "taxonomy", col("term_name"))
          .when(col("field_type").isin("post_object", "relationship"),
            col("ref_title"))
          .when(col("field_type") === "file", col("url"))
          .otherwise(imagePref).as("item"))
      .groupBy("product_id", "field_name")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("pos").as("p"), col("item").as("v")))),
          s => s.getField("v")), ", ").as("rendered"))

    local.unionByName(joined)
  }

  /** S4/F5/F15 taxonomy sections from long-format (product_id, taxonomy,
    * term) rows: `pa_*` attribute slugs prettify to Title Case words
    * (reference `ucwords(replace(_,-, ' '))`,
    * `includes/class-variation-rollup.php:156-183`), plain taxonomies pass
    * through; per-(product, taxonomy) terms sort and join `", "`
    * (`includes/class-field-normalizer.php:157-178`). One (product_id,
    * taxonomy, label, terms) row per pair, in no particular order. */
  def termSections(terms: DataFrame): DataFrame = {
    val isAttr = col("taxonomy").startsWith("pa_")
    // label: ucwords-style (first letter up, tail preserved) on the
    // stripped slug — matching the F15 value prettifier's semantics
    val stripped = regexp_replace(col("taxonomy"), "^pa_", "")
    terms
      .select(col("product_id"), col("taxonomy"),
        when(isAttr, concat(upper(stripped.substr(lit(1), lit(1))),
          stripped.substr(lit(2), length(stripped))))
          .otherwise(col("taxonomy")).as("label"),
        when(isAttr, graft.functions.Functions.prettySlug(col("term")))
          .otherwise(col("term")).as("v"))
      .groupBy("product_id", "taxonomy", "label")
      .agg(array_join(array_sort(collect_list(col("v"))), ", ").as("terms"))
  }

  /** The reference's FULL normalized text (`build_preview`,
    * `includes/class-field-normalizer.php:30-86`): core sections + one
    * `key: value` line per visible meta key + one `Label: terms` line per
    * taxonomy + one `field: rendered` line per ACF field (scalar AND
    * lookup types), newline-joined in deterministic order (core first,
    * then meta sorted by key, terms by taxonomy, ACF by field name —
    * SURVEY §1.3's determinism rule).
    *
    * Scale posture: four narrow per-product aggregations joined on
    * product_id; each side is pre-reduced to one row per product before
    * its join, so the fan-in never multiplies rows. Each block orders its
    * lines with an `array_sort`, so its input needs no sort; the only
    * range sort is the final one by `product_id`. */
  def composeFull(products: DataFrame, meta: DataFrame, terms: DataFrame,
      acfRendered: DataFrame, showPrivate: Boolean = false): DataFrame =
    composeFull(products, meta, terms, acfRendered,
      graft.model.Selection(core = DefaultCore, showPrivateMeta = showPrivate))

  /** P1 FOR REAL: the whole document is selection-driven. `sel.core`
    * picks the core sections; `sel.meta` (when non-empty) restricts meta
    * to the selected keys; `sel.tax` / `sel.attributes` (when non-empty)
    * restrict taxonomies (plain / `pa_*` respectively); `sel.acf` (when
    * non-empty) restricts ACF fields. Empty list = "all discovered", the
    * reference's default-on behavior for unlisted sections.
    *
    * Each restriction is a WHERE on the long-format input BEFORE its
    * per-product aggregation — a filter Catalyst pushes into that scan —
    * never post-hoc text surgery. */
  def composeFull(products: DataFrame, meta: DataFrame, terms: DataFrame,
      acfRendered: DataFrame, sel: graft.model.Selection): DataFrame = {
    def lines(df: DataFrame, order: org.apache.spark.sql.Column,
        line: org.apache.spark.sql.Column) =
      df.groupBy("product_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(order.as("o"), line.as("l")))),
          s => s.getField("l")), "\n").as("block"))
    val metaSel =
      if (sel.meta.isEmpty) meta
      else meta.where(col("key").isin(sel.meta.keys.toSeq: _*))
    val termsSel =
      if (sel.tax.isEmpty && sel.attributes.isEmpty) terms
      else terms.where(col("taxonomy").isin((sel.tax ++ sel.attributes): _*))
    val acfSel =
      if (sel.acf.isEmpty) acfRendered
      else acfRendered.where(col("field_name").isin(sel.acf: _*))
    val metaLines = lines(visibleMeta(metaSel, sel.showPrivateMeta),
      col("key"), concat(col("key"), lit(": "), col("value")))
      .withColumnRenamed("block", "meta_block")
    val termLines = lines(termSections(termsSel),
      col("taxonomy"), concat(col("label"), lit(": "), col("terms")))
      .withColumnRenamed("block", "term_block")
    val acfLines = lines(acfSel,
      col("field_name"), concat(col("field_name"), lit(": "), col("rendered")))
      .withColumnRenamed("block", "acf_block")
    normalize(products, sel.core)
      .join(metaLines, Seq("product_id"), "left_outer")
      .join(termLines, Seq("product_id"), "left_outer")
      .join(acfLines, Seq("product_id"), "left_outer")
      .select(col("product_id"),
        concat_ws("\n", col("text"), col("meta_block"), col("term_block"),
          col("acf_block")).as("text"))
      .orderBy("product_id")
  }

  /** F7 product fingerprint: sha256 binding {text, chunking config, model,
    * dimension} (reference `includes/class-fingerprint.php:23-44`). Rows
    * sorted by `product_id`. */
  def fingerprint(normalized: DataFrame,
      config: String = "size=800,overlap=100,model=text-embedding-3-small,dim=3072"
  ): DataFrame =
    normalized.select(
      col("product_id"),
      sha2(concat(col("text"), lit("|"), lit(config)), 256).as("product_sha"))
      .orderBy("product_id")
}
