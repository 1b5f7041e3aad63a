package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md
  * §7.1 module 7; VERDICT r1 "LLM-data-pipeline operators" rank 0).
  *
  * Everything here is a narrow, per-row column expression built from
  * codegen'd/eval'd built-ins — no UDFs, no shuffles, no driver
  * round-trips — so each op scales linearly with input splits at
  * 100 TB. The normalization/tokenization contract is deliberately
  * SQL-replicable (lower → split on `[^a-z0-9]+` → drop empties) so
  * every downstream hash (dedup, fingerprints) can be verified by an
  * independent engine.
  */
object TextOps {

  /** Lowercase alphanumeric tokens of a text column. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= lit(""))

  /** UNICODE tokens (round 18, VERDICT r17 #4): lowercase words split
    * on anything outside the Unicode letter/number classes — the
    * splitter the byte-level tokenizer alphabet contracts to, so
    * non-Latin text survives tokenization instead of dissolving into
    * the ASCII splitter's separators. `\p{L}\p{N}` is RE2-compatible;
    * DuckDB's regexp engine replays the identical classes, and both
    * engines' `lower` implement Unicode simple case folding. */
  def tokensU(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => t =!= lit(""))

  /** Canonical normalized form: tokens re-joined on single spaces —
    * whitespace/punctuation/case-insensitive content identity. */
  def normalized(text: Column): Column = concat_ws(" ", tokens(text))

  /** Mojibake repair table (VERDICT r12 #8): the common UTF-8-read-as-
    * cp1252/Latin-1 double encodings, each repaired to the character
    * the original bytes meant: e.g. U+2019 (right quote) encodes as
    * E2 80 99, which cp1252 renders as U+00E2 U+20AC U+2122 ("â€™").
    * The chain runs TWO passes (VERDICT r13 #5): a triple-encoded
    * sequence (e.g. U+2019 whose double encoding was itself re-read as
    * cp1252) reduces to the double-encoded form in pass one and to the
    * intended character in pass two; anything beyond triple encoding
    * — unseen in practice — remains the known bound of literal repair.
    * Normalized output is stable under further passes for inputs of
    * at most triple encoding (idempotence spec-pinned). */
  val MojibakeRepairs: Seq[(String, String)] = Seq(
    "â€™" -> "’", // right single quote
    "â€˜" -> "‘", // left single quote
    "â€œ" -> "“", // left double quote
    "â€”" -> "—", // em dash
    "â€“" -> "–", // en dash
    "â€¦" -> "…", // ellipsis
    "Ã©" -> "é", // é
    "Ã¨" -> "è", // è
    "Ã¡" -> "á", // á
    "Ã¤" -> "ä", // ä
    "Ã¶" -> "ö", // ö
    "Ã¼" -> "ü", // ü
    "Ã±" -> "ñ", // ñ
    "Ã§" -> "ç", // ç
    "Ã¢" -> "â", // â (also the triple-encoding intermediate lead)
    "â‚¬" -> "€", // €
    "â„¢" -> "™", // ™
    "Â " -> " ") // nbsp (mapped to space below)

  /** UNICODE/MOJIBAKE NORMALIZATION (VERDICT r12 #8) — the web-scrape
    * mile between [[htmlExtract]] and everything downstream, as one
    * chain of codegen'd column expressions (idempotent end to end —
    * spec-pinned normalize ∘ normalize = normalize):
    *  1. mojibake repair ([[MojibakeRepairs]], literal replaces);
    *  2. Unicode NFC ([[graft.functions.NfcNormalize]] — native
    *     Catalyst expression; DuckDB's `nfc_normalize` replays it);
    *  3. control-char strip (C0 except \\t \\n \\r, plus DEL);
    *  4. CRLF / lone CR → LF;
    *  5. exotic spaces (NBSP, figure, narrow NBSP) → space;
    *  6. space/tab runs → one space; trim.
    * Every regex is RE2-compatible (`\\x{...}` classes, no lookarounds)
    * so the oracle replays the identical patterns. */
  def normalizeText(text: Column): Column = {
    def repairOnce(c0: Column): Column =
      MojibakeRepairs.foldLeft(c0) { case (c, (bad, good)) =>
        call_function("replace", c, lit(bad), lit(good))
      }
    // bounded SECOND pass: repairs triple encodings (VERDICT r13 #5)
    val repaired = repairOnce(repairOnce(text))
    val nfc = graft.functions.GraftFunctions.nfc(repaired)
    val noCtl = regexp_replace(nfc,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val lf = regexp_replace(noCtl, "\\r\\n|\\r", "\n")
    val sp = regexp_replace(lf, "[\\x{00A0}\\x{2007}\\x{202F}]", " ")
    trim(regexp_replace(sp, "[ \\t]+", " "))
  }

  /** Word n-gram shingles over a token array. Callers must filter
    * `size(toks) >= n` first (Spark's `sequence` runs descending when
    * stop < start; the oracle engine's is empty — keep both off that
    * edge). */
  def shingles(toks: Column, n: Int = 3): Column =
    transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*))

  /** Count of tokens drawn from a fixed word list (with multiplicity). */
  def wordListHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  /** Per-language function-word lists for the n-gram/stopword language
    * heuristic. Tiny on purpose: language ID at pipeline scale is a
    * cheap first-pass filter, not a classifier. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "es" -> Seq("el", "los", "las", "una", "y", "que", "por"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "nicht"),
    "fr" -> Seq("le", "les", "des", "et", "dans", "pour", "pas"))

  /** Greedy argmax over marker-hit counts; 'unk' when nothing hits.
    * The CASE chain shape must stay mirrored in the oracle SQL. */
  def langGuess(hits: Seq[(String, Column)]): Column = {
    val fallback: Column = lit("unk")
    hits.zipWithIndex.reverse.foldLeft(fallback) {
      case (els, ((lang, h), idx)) =>
        val laterMax = hits.drop(idx + 1).map(_._2)
        val cond = laterMax.foldLeft(h > 0)((c, other) => c && h >= other)
        when(cond, lit(lang)).otherwise(els)
    }
  }

  /** 32-bit SimHash of a token array, computed entirely with nested
    * higher-order functions — O(32·n_tokens) per row, zero shuffles
    * (the classic explode-tokens→group-by formulation costs a full
    * shuffle of the corpus; this costs none). Token weight = term
    * frequency. Bit j of a token's md5 drives a ±1 vote; majority sets
    * the output bit. */
  def simhash32(toksColName: String): Column = expr(
    s"""aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) -> acc +
       |  CASE WHEN aggregate($toksColName, 0, (a, t) -> a +
       |    CASE WHEN (cast(conv(substring(md5(t), (j div 4) + 1, 1), 16, 10) as int)
       |               & shiftleft(1, 3 - (j % 4))) != 0
       |         THEN 1 ELSE -1 END) >= 0
       |       THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"""
      .stripMargin)

  /** Bottom-k document sketch: the k lexicographically-smallest shingle
    * md5s, joined and re-hashed — a compact content fingerprint whose
    * collision ⇒ near-identical shingle sets (winnowing-style). */
  def bottomKFingerprint(shingles: Column, k: Int = 4): Column =
    md5(concat_ws("|", slice(array_sort(transform(array_distinct(shingles), s => md5(s))), 1, k)))

  // ----------------------------------------------------------------
  // HTML → text extraction (VERDICT r11 #3): the first mile of a
  // web-scraped training pipeline. Pure regex/higher-order-function
  // expressions — whole-stage-codegen'd, shuffle-free, and replayable
  // verbatim in DuckDB (the `text_html_extract` oracle). The density
  // rule is the classic boilerplate heuristic (Kohlschütter et al.,
  // "Boilerplate Detection using Shallow Text Features", WSDM 2010):
  // navigation/footer/promo blocks are short and link-dense, prose is
  // long and link-sparse.
  // ----------------------------------------------------------------

  /** Block-level element boundaries the page is split on. */
  val HtmlBlockSplitRe = "</p>|</div>|</nav>|</footer>|</li>|</h[1-6]>|<br[^>]*>"

  /** Remove invisible content wholesale: script and style elements
    * contribute code, not text. */
  def htmlDropInvisible(html: Column): Column =
    regexp_replace(
      regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " ")

  /** One block's visible text: tags stripped, the common entities
    * decoded (`&amp;` LAST so `&amp;lt;` decodes once, not twice),
    * whitespace normalized. */
  def htmlBlockText(raw: Column): Column = {
    val noTags = regexp_replace(raw, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&nbsp;" -> " ",
        "&quot;" -> "\"", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Characters of anchor text inside a block — the numerator of the
    * link-density rule. */
  def htmlLinkChars(raw: Column): Column =
    aggregate(regexp_extract_all(raw, lit("<a[^>]*>([^<]*)</a>"), lit(1)),
      lit(0), (acc, x) => acc + length(x))

  /** Full extraction: page html → struct(n_blocks, n_kept, extracted).
    * Blocks with no visible text are not counted; a block is KEPT when
    * it is long enough (`minLen`) and its link density is below 1/2.
    * Composes ahead of the corpus-clean/dedup pipeline: run this on
    * scraped pages, then feed `extracted` where those operators take
    * `text`. */
  def htmlExtract(html: Column, minLen: Int = 40): Column = {
    val blocks = filter(
      transform(split(htmlDropInvisible(html), HtmlBlockSplitRe),
        b => struct(htmlBlockText(b).as("t"), htmlLinkChars(b).as("lc"))),
      s => length(s("t")) > 0)
    val kept = filter(blocks,
      s => length(s("t")) >= minLen && s("lc") * 2 < length(s("t")))
    struct(
      size(blocks).cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_kept"),
      array_join(transform(kept, s => s("t")), " ").as("extracted"))
  }
}
