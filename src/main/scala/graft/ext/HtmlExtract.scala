package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTML → text extraction: the ingest step every CommonCrawl-shaped
  * pipeline runs BEFORE quality filtering (C4 / Gopher / CCNet all start
  * from extracted text, not markup). Tag stripping plus a block-level
  * text-density boilerplate rule — the classic content-extraction
  * heuristic (Kohlschütter et al. WSDM'10 "Boilerplate Detection Using
  * Shallow Text Features" line; public algorithm): navigation chrome,
  * link farms, and footers are markup-dense and text-sparse, article
  * bodies are the opposite.
  *
  * Pipeline (all ROW-LOCAL regexp projections — zero shuffle until the
  * per-doc reassembly aggregate, which is keyed on the id the corpus is
  * already laid out by):
  *   1. drop `<script>`/`<style>` element bodies (code is not text);
  *   2. split on block-level tag boundaries (`p`, `div`, `li`, `nav`,
  *      `footer`, headings, …) — each segment is one candidate block;
  *   3. per block, strip remaining inline tags, collapse whitespace;
  *   4. keep a block iff it has ≥ [[MinWords]] words, text density
  *      (stripped chars / raw segment chars) ≥ [[MinDensity]], and no
  *      boilerplate phrase (rights/privacy/cookie/copyright — the C4
  *      §2.2 phrase filters);
  *   5. reassemble kept blocks in document order (sorted-struct fold ≡
  *      the oracle's `string_agg ORDER BY`).
  *
  * Every regexp is shared Java-regex/RE2 syntax (no backreferences, no
  * lookaround), so a DuckDB oracle replays the extraction byte-for-byte;
  * `text_md5` pins the reassembled text at byte level.
  *
  * Output: (doc, n_blocks, kept_blocks, n_chars, text_md5) plus the
  * extracted `text` column — feed it straight into
  * [[TextAnalysis.qualityScore]] / Gopher gates. */
object HtmlExtract {

  /** Block-keep thresholds: minimum words and minimum text density. */
  private val MinWords = 5
  private val MinDensity = 0.55

  /** Block-boundary tags. `[^>]*` eats attributes; `(?i)` both engines. */
  val BlockSplitRe: String =
    "(?i)</?(?:p|div|li|ul|ol|nav|aside|footer|header|h[1-6]|br|table|tr|td|section|article)[^>]*>"

  /** Script/style ELEMENT removal (body included, not just the tags). */
  val ScriptStyleRe: String =
    "(?i)<(?:script|style)[^>]*>[\\s\\S]*?</(?:script|style)>"

  /** C4-style boilerplate phrases. */
  val BoilerRe: String =
    "(?i)(all rights reserved|privacy policy|terms of (use|service)|cookie|copyright)"

  /** Per-block frame: (doc, bidx, txt, words, density) for every block
    * with non-empty stripped text. Exposed for diagnostics/specs. */
  def blocks(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val noScript = regexp_replace(col(htmlCol), ScriptStyleRe, " ")
    df.select(col(idCol).as("doc"),
        posexplode(split(noScript, BlockSplitRe)).as(Seq("bidx", "raw")))
      .withColumn("txt", trim(regexp_replace(
        regexp_replace(col("raw"), "<[^>]*>", " "), "\\s+", " ")))
      .where(col("txt") =!= "")
      .select(col("doc"), col("bidx"), col("txt"),
        size(split(col("txt"), " ")).as("words"),
        (length(col("txt")).cast("double") /
          greatest(length(col("raw")), lit(1))).as("density"))
  }

  /** Extraction with per-doc accounting; see object doc. */
  def extract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val b = blocks(df, idCol, htmlCol)
      .withColumn("keep", col("words") >= MinWords &&
        col("density") >= MinDensity &&
        not(col("txt").rlike(BoilerRe)))
    // collect_list skips nulls, so the when(keep) struct keeps exactly
    // the kept blocks; sort_array on (bidx, txt) restores doc order
    b.groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(col("keep").cast("long")).as("kept_blocks"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("keep"),
            struct(col("bidx"), col("txt"))))),
          s => s.getField("txt"))).as("text"))
      .select(col("doc"), col("n_blocks"), col("kept_blocks"),
        length(col("text")).cast("long").as("n_chars"),
        when(col("kept_blocks") > 0, md5(col("text"))).as("text_md5"),
        col("text"))
  }
}
