package graft.normalize

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization as pure Column expressions (whole-stage codegen; no
  * UDFs), re-expressing the reference's `clean_text` / `preprocess_text`
  * semantics (scripts/convert-text.py:62-87, conver_test.py:113-129):
  * HTML-entity unescape, "'s" separation, punctuation padded with spaces,
  * lowercase, whitespace collapse. The learned lemmatizer (spaCy, model-bound)
  * is replaced by deterministic normalization per the frozen-scorer design.
  *
  * CRITICAL INVARIANT: the raw `text` column is NEVER modified — every
  * normalization lands in a derived column; sha256(text) must be identical
  * across all stage outputs (verified per snapshot).
  */
object Normalize {

  /** Common HTML entities, unescaped via a regexp chain. NOTE: this Column
    * form covers only the frequent-entity subset (a regexp_replace chain
    * cannot decode arbitrary numeric references); the production kernel
    * ([[normText]] → TextNorm) matches the reference's full `html.unescape`
    * semantics — every `&#NNNN;`/`&#xHH;` numeric reference plus the HTML4
    * named set — and is golden-tested against it in NormalizeSpec. This chain
    * stays as documentation + the equivalence cross-check on entity-free
    * corpora. */
  def unescapeHtml(c: Column): Column = {
    val steps: Seq[(String, String)] = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    steps.foldLeft(c) { case (acc, (from, to)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(from), to)
    }
  }

  /** Punctuation classes padded with spaces (convert-text.py:70-85 pads each
    * listed punctuation char so it tokenizes separately). */
  private val punctClass = """([!"#$%&()*+,\-./:;<=>?@\[\]^_`{|}~])"""

  /** Full normalization chain: unescape → 's split → pad punct → lower →
    * collapse whitespace → trim. Implemented as ONE single-pass codegen
    * expression (graft.functions.TextNorm) — the regexp_replace chain form
    * below ([[normTextRegex]]) is semantically identical but re-scans the
    * string once per rule. Idempotent (property-tested). */
  def normText(c: Column): Column = graft.functions.GraftFunctions.norm_text(c)

  /** Reference chain spelled in builtin expressions (kept for documentation
    * and as the cross-check in NormalizeSpec). */
  def normTextRegex(c: Column): Column = {
    val unescaped = unescapeHtml(c)
    // reference parity (conver_test.py:85 replace("'s", " 's")): lowercase
    // s only, no word-boundary — identical rule in the fused kernel
    val possessive = regexp_replace(unescaped, "'s", " 's")
    val padded = regexp_replace(possessive, punctClass, " $1 ")
    val lowered = lower(padded)
    trim(regexp_replace(lowered, "\\s+", " "))
  }

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Title proxy: the first n normalized tokens joined (the reference scores
    * title/description attributes separately — conver_test.py:56-70; our page
    * schema has a single text field, so the leading tokens play the title). */
  def title(c: Column, n: Int = 8): Column = concat_ws(" ", slice(tokens(c), 1, n))

  /** Normalized-text prefix for bounded-cost edit-distance scoring. */
  def prefix(c: Column, chars: Int = 200): Column = substring(normText(c), 1, chars)

  /** Dirty-numeric extraction, the reference's str_to_num semantics
    * (scripts/helpers.py:42-46: strip every char outside [0-9.], parse float).
    * Extracts the value following the "price" marker in the fixture corpus. */
  def price(c: Column): Column = {
    val raw = regexp_extract(c, "(?i)price[^0-9]{0,4}([0-9][0-9,.]*)", 1)
    val cleaned = regexp_replace(raw, "[^0-9.]", "")
    // guarded cast: dirty numerics degrade to the 0 sentinel, never fail
    // (ANSI mode is on; sentinel semantics per train_deeper.py:226 num_nan_val=0)
    when(cleaned.rlike("^[0-9]+(\\.[0-9]+)?$"), cleaned.cast("double")).otherwise(lit(0.0))
  }

  /** P7 missingness indicator for [[price]]: 1 when no parseable price field
    * exists (the 0.0 the sentinel cast produces is otherwise
    * indistinguishable from data). The reference feeds exactly such *_isna
    * indicators to its classifier (Deeper.py:139-149, num_nan_val=0 at
    * train_deeper.py:226); the scorer uses it to zero the numeric
    * similarities instead of letting two sentinel zeros score exp(0) = 1 —
    * a fake perfect match between two UNPRICED records. */
  def priceIsna(c: Column): Column = {
    val raw = regexp_extract(c, "(?i)price[^0-9]{0,4}([0-9][0-9,.]*)", 1)
    val cleaned = regexp_replace(raw, "[^0-9.]", "")
    when(cleaned.rlike("^[0-9]+(\\.[0-9]+)?$"), 0).otherwise(1)
  }

  /** Normalized URL domain (north-star composite blocking key component). */
  def domain(url: Column): Column = lower(parse_url(url, lit("HOST")))
}
