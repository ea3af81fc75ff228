package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus analysis for training-data pipelines: token statistics,
  * quality scoring, n-gram language identification, and content
  * fingerprinting. All pure Catalyst expressions (regexp / higher-order
  * array functions / md5) — per-document work with no shuffle except the
  * final aggregation a query asks for, so throughput scales linearly with
  * executors.
  */
object TextAnalysis {

  /** Whitespace token array; empty/blank text → empty array. Splitting on
    * `\s+` runs can produce empty strings only at the array edges (leading
    * or trailing whitespace; Spark's `trim` strips only ' ', so a doc
    * starting with a tab would otherwise keep an empty first token) —
    * `array_remove` drops them in one pass, no pre-trim or blank guard
    * needed. This split-based tokenizer is the CANONICAL one: it yields
    * exactly the tokens of the one-pass kernels
    * ([[graft.functions.TextKernels.repetitionStats]]/`langId`, which scan
    * ASCII-whitespace runs and never emit empties — Java's `\s` class is
    * the same six ASCII bytes), so counts from either path agree. */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer segments ("BPE-ish"): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * residual whitespace. Counts these segments — the standard cheap
    * proxy for LLM token counts (true BPE merges only ever split these
    * further by a roughly constant factor). Pure regexp, codegen'd, and
    * expressible identically in the SQL oracle. */
  private val BpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Characters that are ASCII punctuation. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  /** How many tokens appear in `words` (a small static vocabulary). */
  def vocabHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit(_)): _*)))

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic. Deterministic and engine-portable. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"),
    "es" -> Seq("el", "la", "de", "que", "los", "es", "una"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和")
  )

  /** Character-trigram profiles per language — the Cavnar–Trenkle-style
    * signal that, unlike whole-token stopwords, still fires on SHORT and
    * MIXED documents (a single word like "hund" carries "und"; "Der" is
    * caught after case folding). Grams are exactly 3 chars over the
    * normalized text INCLUDING its single spaces, so word-boundary grams
    * ("he ", " th") count without padding. zh keeps an empty trigram
    * profile (its function words are single CJK chars the whitespace
    * tokenizer handles no worse than before) — zh scoring stays
    * stopword-only, the documented limitation. */
  val langTrigrams: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", " th", "he ", "ing", " of", "and", " is", " to", "ed ", " in"),
    "de" -> Seq("der", "die", "und", "ich", "sch", "ein", "cht", " ge", "das", " zu"),
    "fr" -> Seq(" le", "les", " la", "est", "une", "que", " et", "ent", " du", "au "),
    "es" -> Seq(" el", "los", " y ", "una", "ado", " un", "nte", "ión", " co", "es "),
    "zh" -> Seq()
  )

  /** Per-language (name, trigram profile, stopwords) — the profile
    * scorer's model, zipped by declaration order. */
  private lazy val langProfiles: Seq[(String, Seq[String], Seq[String])] = {
    val sw = langStopwords.toMap
    langTrigrams.map { case (l, tgs) => (l, tgs, sw(l)) }
  }

  /** Predicted language — N-GRAM PROFILE scoring with the old stopword
    * heuristic folded in as the tie-break: per language,
    * `score = 1000 · (char-trigram profile hits) + (stopword token hits)`
    * over the NORMALIZED text (lowercased, whitespace collapsed, trimmed
    * — the [[fingerprint]] normalization, so the SQL oracle replays it
    * with the same regexes); winner is the first declared language at
    * the max positive score, "und" when nothing scores. One
    * custom-expression pass ([[graft.functions.TextHashExpressions
    * .LangIdProfile]]) after a codegen'd normalization — still a single
    * map-side operator. Compared to the stopword-only heuristic this
    * classifies short/capitalized/inflected documents the token matcher
    * missed, and case folding means "The" finally counts. */
  def langId(text: Column): Column = {
    val norm = regexp_replace(
      lower(regexp_replace(text, "^\\s+|\\s+$", "")), "\\s+", " ")
    graft.functions.TextHashExpressions.langIdProfile(norm, langProfiles)
  }

  /** Engine-exact 6-dp quantizer for NON-NEGATIVE doubles:
    * `floor(x·10⁶ + 0.5)/10⁶`. Every step is a correctly-rounded IEEE
    * op (multiply, add, floor-exact, divide), so ANY engine computes the
    * bit-identical result — unlike `round(x, 6)`, whose half-up
    * semantics sit on knife edges where engines legitimately disagree
    * (Spark rounds the exact binary value, DuckDB's scale-multiply can
    * cross the halfway double within 1 ulp — the ngramScore sf0.1
    * incident). Integer-ratio quotients TERMINATE at exact halfway
    * decimals often enough to matter, so every quantized quotient in
    * the quality family goes through this. */
  private[graft] def quant6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  private val qualityColumns = Seq("doc_id", "n_chars", "n_tokens", "n_punct",
    "avg_token_len", "punct_ratio", "quality_score")

  /** Quality features + a composite score in [0,1]: rewards mid-length
    * documents and word-like content, penalizes punctuation soup. The
    * formula is arbitrary but fixed — the operator contract is the feature
    * extraction, which is what the oracle verifies.
    *
    * `extra` columns ride the same single map-side pass (each evaluated
    * against the input row, aliased to its name) — a caller who needs,
    * say, a language id NEXT TO the quality features gets one corpus
    * scan instead of two map-only scans glued by a doc-keyed join. Their
    * names must not collide with the operator's own output columns: a
    * clash would either duplicate a column or be silently overwritten. */
  def qualityFeatures(df: DataFrame, id: Column, text: Column,
                      extra: Seq[(String, Column)] = Nil): DataFrame = {
    val clashes = extra.map(_._1).filter(qualityColumns.contains)
    require(clashes.isEmpty,
      s"qualityFeatures: extra columns ${clashes.mkString(", ")} clash with " +
        s"its output columns (${qualityColumns.mkString(", ")})")
    val toks = tokens(text)
    df.select(Seq(
        id.as("doc_id"),
        length(text).as("n_chars"),
        size(toks).as("n_tokens"),
        punctCount(text).as("n_punct")) ++
        extra.map { case (n, c) => c.as(n) }: _*)
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          quant6((col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens")))
          .otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0,
          quant6(col("n_punct").cast("double") / col("n_chars"))).otherwise(lit(0.0)))
      .withColumn("quality_score",
        quant6(least(col("n_tokens").cast("double") / 100.0, lit(1.0))
          * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0)))))
  }

  /** Codepoint-entropy quality features — the two-tailed signal the
    * length/punct heuristics miss: Shannon entropy (nats) of each
    * document's codepoint histogram, ≈0 for degenerate repetition
    * ("aaaa…"), ≈ln(alphabet) for random/encoded junk, prose in
    * between. One kernel pass per row ([[graft.functions
    * .TextHashExpressions.CharEntropy]]), no shuffle; per-codepoint
    * terms are 6-decimal-rounded and summed exactly in codepoint order,
    * so the SQL oracle replays the identical arithmetic. */
  def entropyFeatures(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        graft.functions.TextHashExpressions.charEntropy(text).as("e"))
      .select(col("doc_id"), col("e.n_cp").as("n_cp"),
        col("e.n_distinct_cp").as("n_distinct_cp"),
        round(col("e.entropy"), 6).as("char_entropy"))

  /** Unicode normalization (UAX #15; default NFC) — run BEFORE any
    * hashing/dedup key derivation: composed é and e + COMBINING ACUTE
    * are byte-different but canonically identical, and an un-normalized
    * corpus silently splits such duplicates across every exact and
    * near-dup key downstream. One codegen'd kernel pass with an
    * isNormalized fast path (ASCII text copies nothing). */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.functions.TextHashExpressions.unicodeNormalize(text, form)

  /** Version of the [[fingerprint]] ALGORITHM, stamped into every
    * persisted docs-index store ([[graft.sources.IndexStore.buildDocs]])
    * and checked at load: v1 was lowercase+whitespace-collapse only, v2
    * added the NFC-first normalization — fingerprints of non-ASCII text
    * differ between the two, so a store built under one version silently
    * stops matching composition-variant re-crawls under the other. Bump
    * this on ANY change to the fingerprint transform chain. */
  val fingerprintAlgoVersion: Int = 2

  /** Content fingerprint: md5 hex of NFC-normalized, whitespace-collapsed
    * lowercase text. Identical-content detection that survives case,
    * whitespace, AND codepoint-composition noise — two crawls of one page
    * that differ only in composed-vs-decomposed accents must fingerprint
    * identically ([[normalizeUnicode]] runs FIRST; on ASCII text its
    * isNormalized fast path costs nothing). Full-whitespace trim (not
    * `trim`, which strips only ' ') so leading tabs/newlines don't leak a
    * space into the normalized form. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(
      lower(regexp_replace(normalizeUnicode(text), "^\\s+|\\s+$", "")),
      "\\s+", " ").cast("binary"))

  /** Canonicalized URL for crawl-scale dedup: two fetches of the same page
    * that differ only in scheme, `www.`, host case, a trailing slash,
    * tracking parameters, parameter order, or a fragment normalize to one
    * key. Rules (each reproducible with anchored regexes + list ops in any
    * engine — no URL parser, so the semantics are the documented string
    * transforms, not RFC 3986):
    *
    *  1. trim; drop the fragment (`#…`)
    *  2. scheme unified to `https://`, leading `www.` dropped
    *  3. host (first path-free segment) lowercased; path case preserved
    *  4. trailing slashes stripped from the path
    *  5. query parameters: drop `utm_*`, `gclid=*`, `fbclid=*` and empties,
    *     sort the rest byte-wise, rejoin; `?` dropped when none survive
    *
    * Per-row expression tree, shuffle-free; the grouping a dedup asks for
    * afterwards shuffles the already-short canonical key. */
  def normalizeUrl(url: Column): Column = {
    val noFrag = substring_index(trim(url), "#", 1)
    val base = substring_index(noFrag, "?", 1)
    val query = coalesce(get(split(noFrag, "\\?", 2), lit(1)), lit(""))
    val rest = regexp_replace(
      regexp_replace(base, "^[Hh][Tt][Tt][Pp][Ss]?://", ""), "^[Ww]{3}\\.", "")
    val host = lower(substring_index(rest, "/", 1))
    val path = regexp_replace(regexp_replace(rest, "^[^/]*", ""), "/+$", "")
    val kept = filter(split(query, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("gclid=") ||
        p.startsWith("fbclid=") || p === ""))
    val sortedQ = array_join(array_sort(kept), "&")
    concat(lit("https://"), host, path,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Email / phone / IPv4 patterns valid in both Java regex and RE2, so the
    * exact same redaction is expressible in any engine's regexp_replace
    * (RE2 rules out lookaround — patterns must work without it).
    *
    * PhoneRe matches 7–15 digits with at most ONE space/hyphen between
    * consecutive digits (optionally +-prefixed) — the E.164 length band.
    * Known false-positive class, accepted by contract: digit runs that
    * LOOK like phone numbers still match — a year list ("2018 2019 2020")
    * or a separator-free numeric ID is structurally indistinguishable
    * without lookahead.
    *
    * LongNumRe catches the runs PhoneRe deliberately excludes: 16+ digits
    * (single space/hyphen separators allowed) — the credit-card / account
    * number shape. It runs BEFORE PhoneRe so a long run is consumed
    * whole as `<NUM>` instead of PhoneRe matching its first 15 digits and
    * leaking the tail (a 16-digit PAN must never surface as `<PHONE>6`). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?\\d(?:[ -]?\\d){6,14}"
  val LongNumRe = "\\+?\\d(?:[ -]?\\d){15,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.)(?:\\d{1,3}\\.)(?:\\d{1,3}\\.)\\d{1,3}\\b"

  /** PII scrub: emails, then IPv4 literals, then 16+-digit runs (card /
    * account shape → `<NUM>`), then phone-like digit runs. Order matters
    * (an email may contain digits; an IP looks like a short phone; a long
    * run must be consumed whole before the bounded phone pattern can
    * match a prefix of it) and is part of the operator contract. Pure
    * per-row regexp — codegen'd, shuffle-free. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        LongNumRe, "<NUM>"),
      PhoneRe, "<PHONE>")

  /** A UTF-8 string as it looks after the classic double-encoding
    * defect: its UTF-8 bytes misread as windows-1252, each byte
    * becoming one character. `mojify("é") == "Ã©"`,
    * `mojify("—") == "â€”"` — the forms web corpora actually contain
    * (ftfy's core case). Uses ftfy's SLOPPY-windows-1252 convention for
    * the five bytes cp1252 leaves undefined (0x81 8D 8F 90 9D → the C1
    * controls): Java's strict decoder would map all five to U+FFFD,
    * which is LOSSY — `Á Í Ï Ð Ý` and `”` would collapse onto
    * identical mojibake forms and become unrepairable. The sloppy
    * mapping keeps every byte distinct, which is exactly why real-world
    * mojibake (produced by latin-1-ish decoders) is repairable at
    * all. */
  private[graft] def mojify(s: String): String =
    s.getBytes("UTF-8").map { b =>
      val i = b & 0xFF
      if (i == 0x81 || i == 0x8D || i == 0x8F || i == 0x90 || i == 0x9D)
        i.toChar
      else new String(Array(b), "windows-1252").charAt(0)
    }.mkString

  /** The curated repair table: (mojibake form → original character),
    * longest-form-first, keys verified pairwise distinct at init.
    * Coverage is the Latin-1 accented letters (2-byte UTF-8 → `Ã`-led
    * digraphs) plus the windows-1252 punctuation block (3-byte UTF-8 →
    * `â`-led trigraphs: curly quotes, dashes, ellipsis, euro, bullet).
    * The classes cannot overlap (every trigraph starts `â`, every
    * digraph `Ã`, and no trigraph tail contains `Ã`), so replace order
    * cannot change the result — still fixed, as part of the contract.
    *
    * DELIBERATELY single-pass (one replace per entry, no fixpoint) —
    * ftfy's decode-once semantics. Documented boundaries of the
    * curated-table approach: C2-led digraphs (`Â°`, `Â·`, NBSP) are
    * excluded because `Â` also appears as a passthrough byte inside
    * doubly-corrupted sequences, so a table rule for it would corrupt
    * them; consequently DOUBLE-mojified text is out of contract (one
    * application repairs one clean level). */
  val MojibakeTable: Seq[(String, String)] = {
    val targets =
      "àáâãäåæçèéêëìíîïðñòóôõöøùúûüýþÿ" +
        "ÀÁÂÃÄÅÆÇÈÉÊËÌÍÎÏÐÑÒÓÔÕÖØÙÚÛÜÝÞß" +
        "‘’“”–—…€•™"
    val table = targets.map(c => (mojify(c.toString), c.toString))
      .sortBy { case (m, t) => (-m.length, t) }
    require(table.map(_._1).distinct.size == table.size,
      "MojibakeTable: duplicate mojibake keys — a target set change " +
        "introduced two characters whose corrupted forms collide")
    table
  }

  /** Repair double-encoded (mojibake) text: every [[MojibakeTable]]
    * form replaced by its original character, longest first — pure
    * per-row chained `replace`, codegen'd, shuffle-free, and exactly
    * replayable in any engine with literal replace (the oracle builds
    * its SQL from the same table). */
  def fixMojibake(text: Column): Column =
    MojibakeTable.foldLeft(text) { case (c, (m, t)) =>
      org.apache.spark.sql.functions.replace(c, lit(m), lit(t))
    }

  /** HTML → text extraction, the CommonCrawl-style first stage of a web
    * pretraining pipeline, as a REGEX-DEFINED contract (valid in both
    * Java regex and RE2, like the PII patterns — no lookaround): drop
    * `<script>`/`<style>` elements with their CONTENT, drop comments,
    * strip remaining tags, decode the six ubiquitous entities
    * (`&lt; &gt; &quot; &#39; &nbsp;` then `&amp;` LAST so `&amp;lt;`
    * decodes to the literal `&lt;`, not `<`), and collapse whitespace
    * runs. This is deliberately a markup STRIPPER, not a browser: no
    * nesting-aware parsing, no CSS visibility, no charset sniffing —
    * the documented trade every large-scale extraction pipeline's fast
    * path makes, and what makes the operator reproducible by any
    * engine's regexp_replace (the DuckDB oracle runs the same
    * patterns). Pure per-row regexp chain — codegen'd, shuffle-free,
    * embarrassingly parallel at 100 TB. */
  def stripHtml(text: Column): Column = {
    // the element openers must NOT match a self-closing tag
    // (`<script src="a.js"/>`) — a plain `[^>]*>` would consume the `/`
    // and the lazy close would then swallow every visible character up
    // to the NEXT real close tag; `(?:>|[^>]*[^/>]>)` accepts a bare
    // `<script>` or an attribute tail ending in a non-/ character, and
    // the generic tag strip below handles the self-closing form
    val noScript = regexp_replace(text,
      "(?is)<script\\b(?:>|[^>]*[^/>]>).*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b(?:>|[^>]*[^/>]>).*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val ent = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(noTags, "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&#39;|&apos;", "'"),
      "&nbsp;", " ")
    val amp = regexp_replace(ent, "&amp;", "&")
    trim(regexp_replace(amp, "[ \\t\\n\\f\\r\\x0B]+", " "))
  }

  /** Split each document into fixed-size token windows with `overlap`
    * tokens shared between consecutive chunks — the standard shaping step
    * for LLM training/context windows. Chunk i covers tokens
    * `[i·(size-overlap), i·(size-overlap)+size)`; every token is covered,
    * the tail chunk may be short, and the chunk count is
    * `max(1, ceil((n-overlap)/step))` so a tail that would contribute no
    * NEW tokens (pure suffix of the previous chunk) is never emitted —
    * emitting it would duplicate trailing tokens in the training data.
    * Per-row generate + explode: output rows ≈ n_tokens/step per doc, no
    * shuffle — at corpus scale this is a map-only stage whose output feeds
    * whatever partitioning the trainer wants next. */
  def chunkByTokens(df: DataFrame, id: Column, text: Column,
                    chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    val nChunks = greatest(lit(1),
      ceil((col("n") - overlap).cast("double") / step).cast("int"))
    df.select(id.as("doc_id"), tokens(text).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("toks"), i * step + 1, lit(chunkSize)), " ")))
        .as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_tokens", size(split(col("chunk_text"), " ")))
  }

  /** Gopher-style repetition signals per document: duplicate-token ratio,
    * top-token fraction, top-bigram count. One custom-expression pass
    * ([[graft.functions.TextHashExpressions.RepetitionStats]]) computes the
    * four underlying counts per row — shuffle-free, unlike the
    * explode+groupBy+window formulation that re-keys the whole token stream
    * (at corpus scale that shuffle is the size of the corpus itself). */
  def repetitionFeatures(df: DataFrame, id: Column, text: Column): DataFrame = {
    val r = graft.functions.TextHashExpressions.repetitionStats(text)
    df.select(id.as("doc_id"), r.as("r"))
      .select(
        col("doc_id"),
        col("r.n_tokens").cast("long").as("n_tokens"),
        col("r.n_distinct").cast("long").as("n_distinct"),
        when(col("r.n_tokens") > 0,
          round(lit(1.0) - col("r.n_distinct").cast("double") / col("r.n_tokens"), 6))
          .otherwise(lit(0.0)).as("dup_token_ratio"),
        col("r.top_token").cast("long").as("top_token_n"),
        when(col("r.n_tokens") > 0,
          round(col("r.top_token").cast("double") / col("r.n_tokens"), 6))
          .otherwise(lit(0.0)).as("top_token_frac"),
        col("r.top_bigram").cast("long").as("top_bigram_n"))
  }

  /** Top-`k` TF-IDF terms per document — the canonical corpus-global
    * statistic: a per-document count joined against a vocabulary-sized
    * document-frequency table. Score = tf × ln(N / df), rounded to 6
    * decimals so the ranking (and any cross-engine comparison) is immune
    * to last-ulp libm differences; ties break on the token string.
    * Returns (doc_id, rk, token, tf, tfidf), rk ∈ [1, k].
    *
    * Scale: one corpus shuffle keyed (doc_id, token) with map-side
    * partial counts builds TF; DF is a second aggregation of the
    * ALREADY-distinct (doc, token) pairs, so it never re-reads text; the
    * TF⋈DF join shuffles on token (the DF side is vocabulary-sized —
    * broadcastable for bounded vocabularies, and Spark's AQE picks that up
    * from runtime stats). The per-doc top-k runs as a rank-limited window
    * (WindowGroupLimit prunes to k rows per doc BEFORE the final sort).
    * N is computed as a 1-row aggregate cross-joined in (broadcast), not a
    * driver-side count. */
  def tfIdf(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(id.as("doc_id"), explode(tokens(text)).as("token"))
    // TF pinned once (the bm25Postings discipline): the DF aggregation
    // and the scoring join are different physical subtrees, so without
    // the materialization the tokenize + explode + partial aggregate
    // over all text would execute twice (ReuseExchange cannot share
    // them) — "one corpus pass" is this checkpoint.
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")).localCheckpoint(true)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("tfidf"))
  }

  /** BM25 keyword search over the corpus — rank documents against a
    * bag-of-terms query with the Okapi scoring function (Lucene's
    * non-negative IDF variant): per matched term,
    * `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`, summed over the query's
    * terms. This is the retrieval half of a quality/contamination
    * triage loop ("which documents talk about X") that pure TF-IDF
    * ranking doesn't give. Corpus statistics (N, avgdl) are computed
    * over documents with ≥ 1 token — blank documents can never match and
    * would only dilute avgdl.
    *
    * Returns the top `k` as `(rk, doc_id, n_terms_hit, bm25)`; the score
    * is the exact DECIMAL sum of per-term scores rounded to 6 decimals,
    * so ranking and value are engine-independent (the registered DuckDB
    * oracle holds it to hash equality); ties break on doc_id.
    *
    * Shape at 100 TB: one corpus pass builds (doc, token) TF partials;
    * the QUERY-TERM filter lands on that frame before any join, so
    * everything downstream is candidate-sized (documents containing ≥ 1
    * query term). Per-term DF is an aggregate of the filtered frame
    * (≤ |terms| rows, broadcast); document length joins in doc-keyed
    * (the one corpus-sized exchange, fixed-width); N/avgdl is a 1-row
    * broadcast. The final top-k is a rank-limited sort —
    * TakeOrderedAndProject, never a global sort. */
  def bm25Search(docs: DataFrame, id: Column, text: Column,
                 queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search needs at least one query term")
    val tf = bm25Postings(docs, id, text)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    val qtf = tf.filter(col("token").isin(queryTerms.distinct: _*))
    bm25Score(qtf, dl, stats, k, k1, b)
  }

  /** The one postings derivation (shared with the persisted
    * [[graft.sources.TextIndexStore]]'s build AND append, so the
    * tokenization/TF half of the pipeline can no more diverge between
    * store and in-query than the scorer can): `(doc_id, token, tf)`,
    * checkpointed — the qtf and dl consumers are different physical
    * subtrees, so without the materialization the tokenize + explode +
    * partial aggregate over all text would execute twice (ReuseExchange
    * cannot share them); the "one corpus pass" contract is this
    * checkpoint. */
  private[graft] def bm25Postings(docs: DataFrame, id: Column,
                                  text: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(tokens(text)).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)

  /** The one BM25 scorer (shared with the persisted
    * [[graft.sources.TextIndexStore]], so store and in-query ranking can
    * never diverge): score `qtf` (doc_id, token, tf) postings already
    * filtered to the query's terms, against `dl` (doc_id, dl) and the
    * 1-row `stats` (n_docs, total_tokens). */
  private[graft] def bm25Score(qtf: DataFrame, dl: DataFrame,
                               stats: DataFrame, k: Int,
                               k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dft = qtf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val idf = log(lit(1.0)
      + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") * (lit(k1) + lit(1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    qtf.join(broadcast(dft), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("s", round(idf * norm, 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        round(sum(col("s")).cast("double"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
      .select(row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .as("rk"),
        col("doc_id"), col("n_terms_hit"), col("bm25"))
      .orderBy(col("rk"))
  }

  /** LM-quality proxy (the CCNet-style perplexity filter, with the
    * corpus's own unigram distribution standing in for the external LM):
    * per document, the average negative log-probability of its tokens
    * under corpus unigram frequencies. High = rare-token-heavy (OCR
    * noise, gibberish); low = stopword/boilerplate-heavy; the useful
    * training band is the middle. Per-token -ln p is rounded to 6
    * decimals and summed as DECIMAL, so the aggregate is exact and
    * engine-independent (float summation order never shows).
    *
    * Shape at 100 TB: token explode is map-side; the frequency table is
    * vocabulary-sized (Zipf: far smaller than the corpus) and joins the
    * token stream by broadcast when it fits, degrading planner-chosen to
    * a token-keyed shuffle join when it does not; the per-doc rollup is
    * one id-keyed aggregation. */
  def unigramLogProb(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = docs.select(id.as("doc_id"), explode(tokens(text)).as("token"))
    // frequency table pinned once: the 1-row total and the scoring join
    // both consume it, and unpinned each re-ran the corpus explode +
    // token aggregation — with the pin the model costs ONE corpus pass
    // and scoring the other (the ngramTrain two-pass contract). The pin
    // is vocabulary-sized, never corpus-sized.
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val total = freq.agg(sum(col("c")).as("total"))
    // no forced hint: the planner broadcasts a vocabulary that fits and
    // degrades to a token-keyed shuffle join when it does not — exactly
    // the contract above (the 1-row total is always broadcast)
    val scored = tok
      .join(freq.crossJoin(broadcast(total)), "token")
      .withColumn("nl", round(-log(col("c").cast("double") / col("total")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    scored.groupBy(col("doc_id"))
      // average UNROUNDED — the ngramScore knife-edge rationale: the
      // DECIMAL sum is engine-exact and the quotient correctly rounded,
      // while a display round can flip on half-boundary doubles
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("nl")).cast("double") / count(lit(1))).as("avg_neg_logp"))
  }

  /** Cross-corpus boilerplate removal (the CCNet/RefinedWeb paragraph
    * filter): drop every paragraph — a `sep`-delimited segment — that
    * occurs in at least `minDocs` DISTINCT documents (nav bars, cookie
    * banners, license footers), and reassemble each document from its
    * surviving paragraphs in order. Documents whose every paragraph is
    * boilerplate vanish from the output.
    *
    * Shape at 100 TB: paragraphs explode map-side; the frequency
    * aggregation exchanges (64-bit paragraph hash, id) rows only; the
    * boilerplate set — normally tiny, it is the paragraphs repeated
    * across ≥ `minDocs` documents — broadcasts into a hash-keyed ANTI
    * join, so the only exchange that ever carries paragraph text is the
    * final doc-keyed reassembly, which is output-sized. The broadcast is
    * GUARDED, not assumed: the set is counted first (one job over
    * hash-only exchanges), and above `maxBroadcastParagraphs` — a
    * template-saturated corpus where "boilerplate" is most of the data —
    * the hint is dropped and the planner's join runs instead (paragraph
    * text then shuffles once on the hash key). The boilerplate set is
    * pinned once (it is the count's AND the join's input), so the guard
    * count reads materialized partitions instead of re-running the
    * corpus frequency aggregation.
    *
    * Paragraph identity is (xxhash64, length), not the string — this
    * DROPS data on a key collision (a unique paragraph silently deleted,
    * unlike a count perturbation), so the hash is strengthened with the
    * length: a false drop needs a 64-bit collision between same-length
    * paragraphs, pushing the birthday bound past 10^9 distinct
    * paragraphs per length class (expected false drops ≈ n²/2^65 per
    * class — effectively zero at corpus scale). The exchanges stay
    * fixed-width; swapping the key for `para` itself is the exact-
    * semantics escape hatch at string-width exchange cost. */
  def stripBoilerplate(docs: DataFrame, id: Column, text: Column,
                       sep: String = "\n", minDocs: Int = 3,
                       maxBroadcastParagraphs: Long = 10 * 1000 * 1000): DataFrame = {
    val paras = docs.select(id.as("doc_id"),
        posexplode_outer(split(text, java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .withColumn("ph", xxhash64(col("para")))
      .withColumn("plen", length(col("para")))
    // PINNED: the broadcast-guard count and the anti join both consume
    // this frame, and unpinned each re-ran the corpus paragraph explode
    // + frequency aggregation (a second full pass). The pin is
    // boilerplate-set-sized — the paragraphs repeated across ≥ minDocs
    // documents, two longs per row — and spills past memory like every
    // localCheckpoint, so even a template-saturated corpus only pays
    // its own boilerplate volume, once.
    val boilerplate = paras.groupBy(col("ph"), col("plen"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("ph"), col("plen"))
      .localCheckpoint(true)
    val broadcastSafe = boilerplate.count() <= maxBroadcastParagraphs
    if (!broadcastSafe)
      System.err.println(
        s"[graft] stripBoilerplate: boilerplate set exceeds " +
          s"$maxBroadcastParagraphs paragraphs — dropping the broadcast " +
          "hint; paragraph text will shuffle once on the hash key")
    paras.join(if (broadcastSafe) broadcast(boilerplate) else boilerplate,
        Seq("ph", "plen"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("para")))),
        x => x.getField("para")), sep).as("clean_text"))
  }

  /** The word-frequency table BPE training runs on — ONE corpus scan
    * (whitespace tokens, lowercase-letter words of length ≥ 2). Its
    * cost at 2M docs is recorded in BENCH_NOTES.md, "Round 13, wave
    * 5-6" (the `bpe` probe). */
  private def bpeWordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(tokens(text)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Distributed BPE MERGE TRAINING — learn the first `nMerges` byte-pair
    * merge rules from the corpus (the classic Sennrich et al. algorithm;
    * [[bpeTokens]] only counts pre-tokenizer segments, this learns the
    * merges themselves).
    *
    * The published scaling trick makes this tractable: the corpus is
    * scanned ONCE into a word-frequency table, and every merge iteration
    * runs on that vocabulary-sized table (≤ a few million distinct words
    * at 100 TB, vs the corpus's trillions of tokens). Per iteration: one
    * adjacent-pair aggregate weighted by word frequency (partial+final,
    * map-side combine), a 1-row argmax collect (freq DESC, then pair
    * lexicographic — deterministic), and a map-only merge application.
    * `nMerges` sequential rounds is the EXACT classical algorithm; the
    * word table is re-materialized every `checkpointEvery` rounds so the
    * replace-chain lineage stays bounded.
    *
    * Word sequences are carried as `||`-double-separated symbol strings
    * (`"low" → "||l||o||w||"`) and a merge (a,b)→ab is
    * `replace(s, "|a||b|", "|ab|")`: each match consumes one of the two
    * separator bars on each side, so replace-all's left-to-right
    * non-overlapping scan applies the merge GREEDILY and chained
    * occurrences (`[a,b,a,b]`) all merge in one pass — and because this
    * is a plain literal string replace, the DuckDB oracle replays the
    * identical operation character for character. Training is restricted
    * to lowercase-letter words of length ≥ 2 (symbols can therefore
    * never contain `|`; standard letters-only BPE demo corpus contract).
    *
    * Stops early if every word has collapsed to one symbol. Output:
    * `(rank, left, right, freq)` — freq is the classical sliding pair
    * count at selection time. */
  def bpeTrain(docs: DataFrame, text: Column, nMerges: Int,
               checkpointEvery: Int = 8): DataFrame =
    bpeTrainLoop(
      bpeWordCounts(docs, text)
        .select(concat(lit("||"),
          regexp_replace(col("w"), "(.)", "$1||")).as("s"), col("freq")),
      nMerges, checkpointEvery)

  /** The word-frequency table BYTE-LEVEL training runs on: EVERY
    * whitespace token (no letters-only filter, no length floor — the
    * byte alphabet has no out-of-contract input), its UTF-8 bytes as
    * two-char lowercase-hex base symbols. */
  private[graft] def bpeWordCountsBytes(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** BYTE-LEVEL BPE training: identical pair-count/argmax/merge loop as
    * [[bpeTrain]], over the 256-symbol lowercase-hex byte alphabet — so
    * every token of any script participates and the trained tokenizer
    * has NO OOV path (the GPT-2 byte-fallback property). Output schema
    * matches [[bpeTrain]]; symbols are even-length hex strings. */
  def bpeTrainBytes(docs: DataFrame, text: Column, nMerges: Int,
                    checkpointEvery: Int = 8): DataFrame =
    bpeTrainLoop(
      bpeWordCountsBytes(docs, text)
        .select(concat(lit("||"), regexp_replace(
          lower(hex(col("w").cast("binary"))), "(..)", "$1||")).as("s"),
          col("freq")),
      nMerges, checkpointEvery)

  /** The shared training loop: `words0` is the (s, freq) word table in
    * the double-separator symbol encoding (`||sym1||sym2||…||`), any
    * '|'-free symbol alphabet. One localCheckpoint up front — iterations
    * never rescan the corpus. */
  private def bpeTrainLoop(words0Raw: DataFrame, nMerges: Int,
                           checkpointEvery: Int): DataFrame = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    val spark = words0Raw.sparkSession
    val words0 = words0Raw
      .localCheckpoint(true) // one corpus scan; iterations never rescan
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      val top = words
        .select(split(trim(col("s"), "|"), "\\|\\|").as("syms"), col("freq"))
        .filter(size(col("syms")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"), col("freq"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("freq")).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, f))
        words = words.select(
          replace(col("s"), lit(s"|$l||$r|"), lit(s"|$l$r|")).as("s"),
          col("freq"))
        // never on the final round — that table is never read again
        if (k % checkpointEvery == 0 && k < nMerges)
          words = words.localCheckpoint(true)
        k += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "freq")
  }

  /** PRODUCTION-DEPTH BPE training — the same merges as [[bpeTrain]],
    * bit-identical, at a wall cost that does NOT grow one-Spark-job-per-
    * merge. The classic loop re-aggregates the whole word table every
    * round (fine for 8–16 merges; a 32k-merge production vocabulary would
    * be ~32k vocabulary-sized jobs). This trainer runs the corpus-sized
    * work ONCE — the distributed word-frequency aggregation — then trains
    * on the collected vocabulary-shaped table with DELTA-UPDATED pair
    * counts (Sennrich et al.'s priority-queue formulation: a merge only
    * touches the words that contain its pair, and only their pair counts
    * change), so per-merge cost shrinks as merges get rarer instead of
    * re-scanning the vocabulary. This is how production tokenizer
    * trainers (SentencePiece, the GPT-2 reference) are actually shaped:
    * distributed counting, vocabulary-local training.
    *
    * EXACTNESS: selection order (pair freq DESC, then (left,right)
    * lexicographic — all symbols are ASCII, so driver string compare ==
    * engine binary compare), sliding pair counting, and greedy
    * left-to-right non-overlapping merge application all replicate
    * [[bpeTrainLoop]] operation for operation; BpeFastTrainSpec pins
    * merge-list equality (ranks, symbols, AND selection-time freqs)
    * against the classic loop, and the `text_bpe_train_fast` oracle
    * replays the classic loop in DuckDB at a depth beyond the other
    * training queries.
    *
    * 100 TB shape: the one corpus scan is map-side partial agg + one
    * shuffle on the word; the collected table is VOCABULARY-shaped, and
    * its driver footprint is MEASURED before collecting — over
    * `maxTableBytes` the call fails by name citing the `minWordFreq`
    * lever (frequency-pruning the word table is the standard production
    * move; with the default `minWordFreq = 1` the result is exactly the
    * classic loop's). */
  def bpeTrainFast(docs: DataFrame, text: Column, nMerges: Int,
                   minWordFreq: Long = 1L,
                   maxTableBytes: Long = 2L << 30): DataFrame =
    bpeTrainFastFrom(bpeWordCounts(docs, text), byteLevel = false,
      nMerges, minWordFreq, maxTableBytes)

  /** Byte-level twin of [[bpeTrainFast]] — bit-identical to
    * [[bpeTrainBytes]] (hex byte alphabet, every whitespace token). */
  def bpeTrainBytesFast(docs: DataFrame, text: Column, nMerges: Int,
                        minWordFreq: Long = 1L,
                        maxTableBytes: Long = 2L << 30): DataFrame =
    bpeTrainFastFrom(bpeWordCountsBytes(docs, text), byteLevel = true,
      nMerges, minWordFreq, maxTableBytes)

  private def bpeTrainFastFrom(wc: DataFrame, byteLevel: Boolean,
                               nMerges: Int, minWordFreq: Long,
                               maxTableBytes: Long): DataFrame = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    require(minWordFreq >= 1, s"need minWordFreq >= 1, got $minWordFreq")
    val spark = wc.sparkSession
    val pruned =
      if (minWordFreq > 1) wc.filter(col("freq") >= minWordFreq) else wc
    // Measured driver-footprint guard (the ngramTrain pattern): count +
    // symbol mass in ONE aggregate before anything is collected. The
    // per-row/per-symbol constants are deliberately heavy — each word
    // carries a String, a symbol array, and pair-map entries.
    val m = pruned.agg(count(lit(1)).as("rows"),
      coalesce(sum(if (byteLevel) octet_length(col("w"))
                   else length(col("w"))), lit(0L)).as("syms")).head()
    val (rows, syms) = (m.getLong(0), m.getLong(1))
    val est = rows * 160L + syms * 200L
    if (est > maxTableBytes)
      throw new IllegalArgumentException(
        s"bpeTrainFast: the word-frequency table ($rows words, $syms " +
          s"symbols, ~$est B on the driver) exceeds maxTableBytes " +
          s"($maxTableBytes B). Raise minWordFreq (currently " +
          s"$minWordFreq) to frequency-prune the long tail — the " +
          "standard production-tokenizer move — or raise maxTableBytes " +
          "if the driver heap genuinely has room")
    val collected = pruned.select(col("w"), col("freq").cast("long")).collect()
    val words = new Array[Array[String]](collected.length)
    val freqs = new Array[Long](collected.length)
    var i = 0
    while (i < collected.length) {
      val w = collected(i).getString(0)
      words(i) =
        if (byteLevel) {
          val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Array.tabulate(b.length)(j => HexSyms(b(j) & 0xff))
        } else Array.tabulate(w.length)(j => CharSyms(w.charAt(j) - 'a'))
      freqs(i) = collected(i).getLong(1)
      i += 1
    }
    import spark.implicits._
    bpeTrainLocalLoop(words, freqs, nMerges)
      .toDF("rank", "left", "right", "freq")
  }

  private val HexSyms: Array[String] = Array.tabulate(256)(b => f"$b%02x")
  private val CharSyms: Array[String] =
    Array.tabulate(26)(c => ('a' + c).toChar.toString)

  /** The driver-side exact Sennrich loop with delta-updated pair counts
    * and a lazy-deletion priority queue. Invariants that make it
    * bit-identical to [[bpeTrainLoop]]:
    *
    *  - pair counts are SLIDING (overlapping) adjacent counts weighted
    *    by word frequency — exactly the explode-and-sum aggregate;
    *  - selection is (count DESC, left ASC, right ASC); symbols are
    *    ASCII so Java and engine orderings coincide;
    *  - application is greedy left-to-right non-overlapping, the
    *    literal-replace semantics (`rd += 2` on a match);
    *  - the heap always holds an entry carrying each live pair's
    *    CURRENT count (every changed pair is re-pushed once per round),
    *    so a popped entry is valid iff it matches the live count —
    *    stale entries drain harmlessly. */
  private[graft] def bpeTrainLocalLoop(words: Array[Array[String]],
                                       freqs: Array[Long],
                                       nMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val wlen = Array.tabulate(words.length)(i => words(i).length)
    val cnt = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // max-heap: higher count first; ties — LOWER (l, r) first
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val cl = y._2.compareTo(x._2)
          if (cl != 0) cl else y._3.compareTo(x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    var i = 0
    while (i < words.length) {
      val ws = words(i)
      var j = 0
      while (j < wlen(i) - 1) {
        val p = (ws(j), ws(j + 1))
        cnt.update(p, cnt.getOrElse(p, 0L) + freqs(i))
        occ.getOrElseUpdate(p, mutable.HashSet.empty[Int]).add(i)
        j += 1
      }
      i += 1
    }
    cnt.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      var sel: (String, String, Long) = null
      while (sel == null && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (cnt.getOrElse((l, r), 0L) == c) sel = (l, r, c)
      }
      if (sel == null) exhausted = true
      else {
        val (l, r, f) = sel
        merges += ((k, l, r, f))
        val touched = occ((l, r)).toArray // copy — sets mutate below
        val changed = mutable.HashSet.empty[(String, String)]
        val oldMult = mutable.HashMap.empty[(String, String), Int]
        val newMult = mutable.HashMap.empty[(String, String), Int]
        var t = 0
        while (t < touched.length) {
          val wi = touched(t)
          val ws = words(wi)
          val n = wlen(wi)
          val fw = freqs(wi)
          oldMult.clear(); newMult.clear()
          var j = 0
          while (j < n - 1) {
            val p = (ws(j), ws(j + 1))
            oldMult.update(p, oldMult.getOrElse(p, 0) + 1)
            j += 1
          }
          // greedy left-to-right non-overlapping merge, in place
          var w = 0
          var rd = 0
          while (rd < n) {
            if (rd < n - 1 && ws(rd) == l && ws(rd + 1) == r) {
              ws(w) = l + r; rd += 2
            } else { ws(w) = ws(rd); rd += 1 }
            w += 1
          }
          wlen(wi) = w
          j = 0
          while (j < w - 1) {
            val p = (ws(j), ws(j + 1))
            newMult.update(p, newMult.getOrElse(p, 0) + 1)
            j += 1
          }
          oldMult.foreach { case (p, om) =>
            val nm = newMult.getOrElse(p, 0)
            if (nm != om) {
              cnt.update(p, cnt.getOrElse(p, 0L) + (nm - om) * fw)
              changed.add(p)
              if (nm == 0) occ.get(p).foreach(_.remove(wi))
            }
          }
          newMult.foreach { case (p, nm) =>
            val om = oldMult.getOrElse(p, 0)
            if (om != nm) {
              if (om == 0) {
                cnt.update(p, cnt.getOrElse(p, 0L) + nm * fw)
                changed.add(p)
              }
              occ.getOrElseUpdate(p, mutable.HashSet.empty[Int]).add(wi)
            }
          }
          t += 1
        }
        changed.foreach { p =>
          val c = cnt.getOrElse(p, 0L)
          if (c <= 0L) { cnt.remove(p); occ.remove(p) }
          else heap.enqueue((c, p._1, p._2))
        }
        k += 1
      }
    }
    merges.toSeq
  }

  /** Collect a trained merge table ([[bpeTrain]] output) to the driver in
    * rank order — the model hand-off between training and [[bpeEncode]].
    * Model-sized by construction (bpeTrain emits ≤ nMerges rows), but
    * capped by name anyway so a mistakenly-passed corpus frame fails with
    * a message, not a driver OOM. */
  /** SentencePiece-UNIGRAM training, frequency-initialized: candidate
    * pieces are every substring (length 1..maxPieceLen) of the corpus's
    * `[a-z]+` whitespace tokens, counted over word OCCURRENCES
    * (overlapping matches count); single characters are always
    * retained, longer pieces need `minCount`. Scores are unigram-LM
    * log-probabilities `ln(cnt/total)` quantized ONCE to integer
    * MICRO-NATS (`floor(x·1e6 + 0.5)` — the engine-exact quantizer
    * convention), so every downstream Viterbi comparison is exact Long
    * arithmetic. This is the frequency-initialization stage of the
    * published algorithm WITHOUT the EM refinement loop — documented
    * scope: segmentations are optimal for THESE scores, and the scores
    * are the classic initialization, not the EM fixpoint.
    *
    * Returns `(piece, cnt, logp_micro)`. Execution: one token explode +
    * two bounded explodes over (position, length) — piece rows are
    * O(Σ word-occurrence length · maxPieceLen) before the first
    * aggregate's map-side combine; everything after is
    * vocabulary-sized. */
  def unigramTrain(docs: DataFrame, text: Column, maxPieceLen: Int = 4,
                   minCount: Long = 2L): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val words = docs.select(explode(tokens(text)).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val keep = words
      .select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("f"), col("i"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .where(col("i") + col("l") - 1 <= length(col("w")))
      .select(expr("substring(w, i, l)").as("piece"), col("f"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      .where(length(col("piece")) === 1 || col("cnt") >= minCount)
      .localCheckpoint()
    renormalizedModel(keep)
  }

  /** Driver hand-off of [[unigramTrain]]'s table for the segmentation
    * kernel, guarded like [[bpeMerges]]. */
  def unigramPieces(model: DataFrame,
                    maxPieces: Int = 1 << 20): Seq[(String, Long)] = {
    val rows = model.select(col("piece"), col("logp_micro").cast("long"))
      .limit(maxPieces + 1).collect()
    require(rows.length <= maxPieces,
      s"unigramPieces: more than $maxPieces pieces — is this really a " +
        "trained unigram table?")
    rows.map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** UNIGRAM Viterbi segmentation to
    * `struct<logp_micro: bigint, n_pieces: bigint>` per document —
    * exact Long DP over the micro-nat scores, best score then FEWEST
    * pieces (the deterministic tie-break); OOV contract and algorithm
    * in [[graft.functions.TextKernels.unigramSegment]]. Map-side,
    * per-doc cost O(len · maxLen) hash probes independent of
    * vocabulary size. */
  def unigramSegment(text: Column, pieces: Seq[(String, Long)],
                     maxLen: Int = 4): Column =
    graft.functions.TextHashExpressions.unigramSegment(text, pieces, maxLen)

  /** The best segmentation's PIECE ARRAY per document — the tokenizer's
    * actual output under the unigram model; path uniqueness contract in
    * [[graft.functions.TextKernels.unigramSegmentPieces]]. */
  def unigramSegmentPieces(text: Column, pieces: Seq[(String, Long)],
                           maxLen: Int = 4): Column =
    graft.functions.TextHashExpressions.unigramSegmentPieces(text, pieces,
      maxLen)

  /** Vocabulary id assignment for the unigram model: pieces ranked by
    * `(cnt DESC, piece ASC)` get ids `0..V−1` — the deterministic
    * ordering both engines reproduce. Input is [[unigramTrain]]'s
    * frame (it carries `cnt`). */
  def unigramVocab(model: DataFrame,
                   maxPieces: Int = 1 << 20): Seq[(String, Int)] = {
    val rows = model.select(col("piece"), col("cnt").cast("long"))
      .limit(maxPieces + 1).collect()
    require(rows.length <= maxPieces,
      s"unigramVocab: more than $maxPieces pieces — is this really a " +
        "trained unigram table?")
    rows.map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy { case (p, c) => (-c, p) }
      .zipWithIndex.map { case ((p, _), i) => (p, i) }
  }

  /** Best-path segmentation straight to VOCABULARY IDS per document —
    * the loader hand-off, mirroring [[bpeEncodeIds]]: unseen pieces and
    * OOV passthrough tokens map to −1. Map-side kernel, both hash
    * tables build once per expression. */
  def unigramSegmentIds(text: Column, pieces: Seq[(String, Long)],
                        vocab: Seq[(String, Int)],
                        maxLen: Int = 4): Column =
    graft.functions.TextHashExpressions.unigramSegmentIds(text, pieces,
      vocab, maxLen)

  /** BYTE-level unigram Viterbi segmentation to
    * `struct<logp_micro, n_pieces>` — [[unigramSegment]]'s
    * production-alphabet twin over [[unigramTrainBytes]] models: every
    * whitespace token of any script segments over its UTF-8 bytes,
    * allocation-free piece probes, no OOV path. */
  def unigramSegmentBytes(text: Column, pieces: Seq[(String, Long)],
                          maxLen: Int = 8): Column =
    graft.functions.TextHashExpressions.unigramSegmentBytes(text, pieces,
      maxLen)

  /** The byte-level best path as lowercase-hex piece strings. */
  def unigramSegmentBytesPieces(text: Column, pieces: Seq[(String, Long)],
                                maxLen: Int = 8): Column =
    graft.functions.TextHashExpressions.unigramSegmentBytesPieces(text,
      pieces, maxLen)

  /** The byte-level best path with SentencePiece-style token-start
    * markers (`_` prefix on each token's first hex piece) — the
    * INVERTIBLE form; [[unigramDetokBytes]] is its inverse up to
    * whitespace normalization. */
  def unigramSegmentBytesPiecesMarked(text: Column,
                                      pieces: Seq[(String, Long)],
                                      maxLen: Int = 8): Column =
    graft.functions.TextHashExpressions.unigramSegmentBytesPiecesMarked(
      text, pieces, maxLen)

  /** Marked hex pieces back to the whitespace-normalized text: bytes
    * concatenate across the whole stream before the ONE UTF-8 decode —
    * pieces split multi-byte characters freely. */
  def unigramDetokBytes(pieces: Column): Column =
    graft.functions.TextHashExpressions.unigramDetokBytes(pieces)

  /** Byte-level best path straight to vocabulary ids ([[unigramVocab]]
    * ranking); −1 only for pieces outside the vocabulary (unreachable
    * when the vocabulary is the trained table itself). */
  def unigramSegmentBytesIds(text: Column, pieces: Seq[(String, Long)],
                             vocab: Seq[(String, Int)],
                             maxLen: Int = 8): Column =
    graft.functions.TextHashExpressions.unigramSegmentBytesIds(text, pieces,
      vocab, maxLen)

  /** One HARD-EM re-estimation round for the unigram model: segment
    * every corpus word under the CURRENT piece scores (Viterbi, the
    * deterministic path), count the pieces actually used (weighted by
    * word occurrence frequency), and re-normalize to fresh micro-nat
    * scores. Pieces the optimal segmentations never use drop out — the
    * standard EM pruning; what survives is scored `ln(cnt/total)`
    * quantized exactly like [[unigramTrain]], so the output frame is a
    * drop-in replacement model. This is the hard-EM (Viterbi-EM)
    * variant, not forward-backward soft counts — soft E-steps sum in
    * probability space and cannot be engine-exact; the hard E-step is
    * pure exact-Long path extraction + integer counting (documented
    * trade).
    *
    * Execution: the word-frequency aggregate (one token explode), then
    * a MAP-SIDE segmentation of the vocabulary-sized word table and a
    * vocabulary-sized count — the corpus is scanned once regardless of
    * EM rounds chained. */
  def unigramEmStep(docs: DataFrame, text: Column,
                    pieces: Seq[(String, Long)],
                    maxLen: Int = 4): DataFrame = {
    val words = docs.select(explode(tokens(text)).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val cnts = words
      .select(col("f"),
        explode(unigramSegmentPieces(col("w"), pieces, maxLen)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      .localCheckpoint()
    renormalizedModel(cnts)
  }

  /** BYTE-level unigram training, frequency-initialized — the
    * PRODUCTION-alphabet twin of [[unigramTrain]] (the
    * [[bpeTrainBytes]] move): candidate pieces are every 1..maxPieceLen
    * BYTE substring of every whitespace token's UTF-8 encoding, any
    * script, any case, astral planes included — so the trained model
    * has NO OOV path (all seen single bytes are always retained; unseen
    * bytes can only appear on out-of-corpus text and take the UNK
    * fallback). Pieces are lowercase-HEX strings (the repo's byte
    * alphabet convention); scores are micro-nat `ln(cnt/total)`
    * quantized once, exactly as the char-level family.
    *
    * Execution: one token explode + word-frequency aggregate, then two
    * bounded explodes over (byte position, length) — piece rows are
    * O(Σ distinct-word bytes · maxPieceLen) before the first
    * aggregate's map-side combine; everything after is
    * vocabulary-sized. */
  def unigramTrainBytes(docs: DataFrame, text: Column, maxPieceLen: Int = 8,
                        minCount: Long = 2L): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val words = docs.select(explode(tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(lower(hex(col("w").cast("binary"))).as("hw"),
        octet_length(col("w")).as("nb"), col("f"))
    val keep = words
      .select(col("hw"), col("nb"), col("f"),
        explode(sequence(lit(1), col("nb"))).as("i"))
      .select(col("hw"), col("nb"), col("f"), col("i"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .where(col("i") + col("l") - 1 <= col("nb"))
      .select(expr("substring(hw, 2 * i - 1, 2 * l)").as("piece"), col("f"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      .where(length(col("piece")) === 2 || col("cnt") >= minCount)
      .localCheckpoint()
    renormalizedModel(keep)
  }

  /** One HARD-EM round for the BYTE-level model — [[unigramEmStep]]'s
    * production-alphabet twin: EVERY whitespace token Viterbi-segments
    * over its UTF-8 bytes under the current scores (the deterministic
    * longest-piece backward walk), occurrence-weighted piece counts
    * re-normalize to fresh micro-nat scores. Same drop-out pruning and
    * quantization as the char-level step; same one-corpus-scan
    * execution (the segmentation runs map-side over the
    * vocabulary-sized word table). */
  def unigramEmStepBytes(docs: DataFrame, text: Column,
                         pieces: Seq[(String, Long)],
                         maxLen: Int = 8): DataFrame = {
    val words = docs.select(explode(tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val cnts = words
      .select(col("f"),
        explode(graft.functions.TextHashExpressions
          .unigramSegmentBytesPieces(col("w"), pieces, maxLen)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      .localCheckpoint()
    renormalizedModel(cnts)
  }

  /** Vocabulary PRUNING to a target size — the lever a tokenizer team
    * actually ships with (SentencePiece seeds a large candidate table
    * and prunes between EM rounds until the target): keep EVERY
    * single-byte piece (they are the no-OOV fallback and must never
    * leave) plus the top multi-byte pieces by `(cnt DESC, piece ASC)`
    * until `targetVocab` rows, then re-normalize the kept counts to
    * fresh micro-nat scores. Engine-exact: integer counts, the
    * deterministic ordering both engines reproduce, the family's
    * quantizer. Input/output is the standard model frame, so the
    * result chains straight into [[unigramEmStepBytes]] or the
    * segmentation kernels. Fails by name when the target cannot even
    * hold the single-byte alphabet. */
  def unigramPruneToVocab(model: DataFrame, targetVocab: Int): DataFrame =
    renormalizedModel(
      pruneRetain(model, targetVocab, "cnt", "unigramPruneToVocab"))

  /** The SHARED retention core of the prune variants: every
    * single-byte piece (the no-OOV fallback) plus the top multi-byte
    * pieces by `(countCol DESC, piece ASC)` until `targetVocab` rows —
    * one definition so the hard and soft families can never drift on
    * the retention rule (the soft-vs-hard A/B probe compares exactly
    * these vocabularies). */
  private def pruneRetain(model: DataFrame, targetVocab: Int,
                          countCol: String, caller: String): DataFrame = {
    require(targetVocab >= 1, s"targetVocab must be >= 1: $targetVocab")
    val singles = model.filter(length(col("piece")) === 2)
      .localCheckpoint(true)
    val nSingles = singles.count()
    require(targetVocab >= nSingles,
      s"$caller: targetVocab=$targetVocab cannot hold the " +
        s"$nSingles single-byte pieces — the no-OOV fallback is not " +
        "prunable; raise the target past the alphabet size")
    singles.unionByName(
        model.filter(length(col("piece")) > 2)
          .orderBy(col(countCol).desc, col("piece"))
          .limit((targetVocab - nSingles).toInt))
      .localCheckpoint()
  }

  /** [[unigramPruneToVocab]] for a SOFT-EM model
    * ([[unigramTrainBytesSoft]]'s `(piece, ecount, logp_micro)` frame)
    * — the soft→deployment bridge: soft EM keeps EVERY init piece
    * (single-byte completability gives every occurrence a positive
    * posterior), so the vocabulary-size lever must be applied at prune
    * time. Same retention rule with EXPECTED counts in place of
    * Viterbi counts (singles always kept, top multi-byte by
    * `(ecount DESC, piece ASC)`), scores renormalized over the kept
    * expected mass in the family's micro-nat quantizer. Expected
    * counts are float-summed, so this is NOT engine-exact like the
    * hard family — the probe/spec contract is combinatorial (vocab
    * membership, singles retention) plus bounded float agreement. */
  def unigramPruneSoftToVocab(model: DataFrame,
                              targetVocab: Int): DataFrame = {
    val kept = pruneRetain(model, targetVocab, "ecount",
      "unigramPruneSoftToVocab")
    val tot = broadcast(kept.agg(sum(col("ecount")).as("__T")))
    kept.crossJoin(tot)
      .select(col("piece"), col("ecount"),
        floor(log(col("ecount") / col("__T")) * 1000000.0 + 0.5)
          .cast("long").as("logp_micro"))
  }

  /** PRODUCTION-DEPTH byte-level unigram training — the
    * [[bpeTrainFast]] move applied to the unigram family: ONE
    * distributed word-frequency scan, a MEASURED driver-footprint guard,
    * then frequency initialization plus `emRounds` hard-EM rounds on the
    * collected vocabulary-shaped word table, all driver-local. Each
    * stage is BIT-IDENTICAL to the distributed formulation
    * ([[unigramTrainBytes]] then chained [[unigramEmStepBytes]]):
    * the substring counting weights by the same word frequencies, the
    * retention rule and micro-nat quantization replicate the exact
    * float op order (`floor(ln(cnt/T)·1e6 + 0.5)` in IEEE doubles),
    * and the EM E-step calls the SAME
    * [[graft.functions.TextKernels.unigramSegmentBytesPieces]] kernel
    * the distributed expression wraps — UnigramBytesSpec pins frame
    * equality at every stage. Per-round cost is vocabulary-shaped
    * (segment each distinct word once), not corpus-shaped, which is how
    * SentencePiece itself trains: distributed counting, local EM.
    *
    * 100 TB shape: the corpus-sized work is the one word-count
    * aggregate (map-side partial agg + one shuffle on the word); the
    * collected table is vocabulary-shaped and its driver footprint is
    * measured BEFORE collecting — over `maxTableBytes` the call fails
    * by name citing the `minWordFreq` lever, the standard
    * frequency-pruning move (with the default `minWordFreq = 1` the
    * result is exactly the distributed formulation's). */
  def unigramTrainBytesFast(docs: DataFrame, text: Column,
                            maxPieceLen: Int = 8, minCount: Long = 2L,
                            emRounds: Int = 0, minWordFreq: Long = 1L,
                            maxTableBytes: Long = 2L << 30,
                            targetVocab: Int = 0): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(emRounds >= 0, s"emRounds must be >= 0, got $emRounds")
    require(minWordFreq >= 1, s"minWordFreq must be >= 1, got $minWordFreq")
    require(targetVocab >= 0, s"targetVocab must be >= 0: $targetVocab")
    val spark = docs.sparkSession
    val (wordBytes, freqs) = guardedWordTable(docs, text, maxPieceLen,
      minWordFreq, maxTableBytes, "unigramTrainBytesFast")
    var model = unigramInitLocal(wordBytes, freqs, maxPieceLen, minCount)
    // vocabulary-size control, the SentencePiece lever: prune ONCE
    // after frequency initialization (singles always kept — the no-OOV
    // fallback); hard-EM rounds then refine the pruned table, their
    // natural drop-out shrinking support further. Bit-identical to
    // [[unigramPruneToVocab]] on the same frame (spec-pinned).
    if (targetVocab > 0)
      model = pruneLocal(model, targetVocab, "unigramTrainBytesFast")
    var round = 0
    while (round < emRounds) {
      model = unigramEmLocal(wordBytes, freqs, model, maxPieceLen)
      round += 1
    }
    import spark.implicits._
    model.toDF("piece", "cnt", "logp_micro")
  }

  /** Driver-exact twin of [[unigramPruneToVocab]]: same retention rule
    * (all singles + top multi-byte by `(cnt DESC, piece ASC)` — hex
    * pieces are ASCII, so String order == engine binary order), same
    * renormalization. */
  private def pruneLocal(model: Seq[(String, Long, Long)],
                         targetVocab: Int,
                         caller: String): Seq[(String, Long, Long)] = {
    val singles = model.filter(_._1.length == 2)
    // fail citing the API the caller actually invoked (the
    // guardedWordTable convention), not this private twin's public
    // sibling
    require(targetVocab >= singles.size,
      s"$caller: targetVocab=$targetVocab cannot hold the " +
        s"${singles.size} single-byte pieces — the no-OOV fallback is " +
        "not prunable; raise the target past the alphabet size")
    val multi = model.filter(_._1.length > 2)
      .sortBy { case (p, c, _) => (-c, p) }
      .take(targetVocab - singles.size)
    val kept = singles ++ multi
    val t = kept.iterator.map(_._2).sum
    kept.map { case (p, c, _) => (p, c, microNat(c, t)) }
  }

  /** SOFT-EM byte-level unigram training — the PUBLISHED SentencePiece
    * E-step: per word, FORWARD-BACKWARD in log space computes every
    * in-table piece occurrence's posterior probability under the
    * current model, and the M-step re-normalizes the
    * occurrence-frequency-weighted EXPECTED counts. Same one-scan /
    * measured-guard / driver-local shape as [[unigramTrainBytesFast]];
    * the E-step is `O(len · maxLen)` per distinct word per round.
    *
    * Exactness contract (and why this is the family's one
    * spec-verified-not-oracle-replayed trainer): soft counts sum in
    * PROBABILITY space — log-sum-exp over alternative segmentations —
    * which no integer quantization makes engine-exact, so this mode is
    * pinned by UnigramBytesSpec instead of a DuckDB replay:
    * brute-force posterior equality on enumerable words, the EM
    * likelihood-monotonicity guarantee across rounds, agreement with
    * hard-EM in the peaked limit, and the exact support identity (every
    * init-table piece keeps positive expected count — single-byte
    * completability means every occurrence has nonzero posterior — so
    * soft EM NEVER drops pieces, where hard EM prunes; the registered
    * query checks that identity in BIGINTs). Output:
    * `(piece, ecount: double, logp_micro)` — scores re-quantized to
    * micro-nats each round so the segmentation kernels consume the
    * model unchanged.
    *
    * Returns the final model; [[unigramTrainBytesSoftDiag]] exposes the
    * per-round corpus log-likelihood for monitoring (EM guarantees it
    * non-decreasing; the spec asserts it). */
  def unigramTrainBytesSoft(docs: DataFrame, text: Column,
                            maxPieceLen: Int = 8, minCount: Long = 2L,
                            emRounds: Int = 1, minWordFreq: Long = 1L,
                            maxTableBytes: Long = 2L << 30): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    unigramTrainBytesSoftDiag(docs, text, maxPieceLen, minCount, emRounds,
      minWordFreq, maxTableBytes)._1
      .toDF("piece", "ecount", "logp_micro")
  }

  /** [[unigramTrainBytesSoft]] plus diagnostics: `(model rows,
    * llPerRound, expectedPieces)` where `llPerRound(i)` is the corpus
    * log-likelihood `Σ_w freq·log P(w)` under the model each round
    * STARTED from, and `expectedPieces` is `Σ_w freq·E[#pieces in w]`
    * under the final E-step — the numbers the registered query's
    * attestations check. */
  def unigramTrainBytesSoftDiag(docs: DataFrame, text: Column,
                                maxPieceLen: Int = 8, minCount: Long = 2L,
                                emRounds: Int = 1, minWordFreq: Long = 1L,
                                maxTableBytes: Long = 2L << 30)
      : (Seq[(String, Double, Long)], Seq[Double], Double) = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(emRounds >= 1, s"emRounds must be >= 1, got $emRounds")
    require(minWordFreq >= 1, s"minWordFreq must be >= 1, got $minWordFreq")
    val (wordBytes, freqs) = guardedWordTable(docs, text, maxPieceLen,
      minWordFreq, maxTableBytes, "unigramTrainBytesSoft")
    var model = unigramInitLocal(wordBytes, freqs, maxPieceLen, minCount)
      .map { case (p, c, lp) => (p, c.toDouble, lp) }
    val lls = new scala.collection.mutable.ArrayBuffer[Double]()
    var ePieces = 0.0
    var round = 0
    while (round < emRounds) {
      val (next, ll, ep) =
        unigramSoftEmLocal(wordBytes, freqs, model, maxPieceLen)
      lls += ll
      ePieces = ep
      model = next
      round += 1
    }
    (model, lls.toSeq, ePieces)
  }

  /** One forward-backward soft-EM round. `model` rows are
    * `(hexPiece, anyCount, logp_micro)`; scores enter the DP as nats
    * (`logp_micro / 1e6`), missing single bytes take the UNK fallback
    * exactly like the Viterbi kernels, so every word has positive
    * total probability. Returns `(newModel, corpusLL, expectedPieces)`.
    * Iteration order is fixed (word order, then position, then piece
    * length), so the doubles are bit-reproducible run to run. */
  private[graft] def unigramSoftEmLocal(words: Array[Array[Byte]],
                                 freqs: Array[Long],
                                 model: Seq[(String, Double, Long)],
                                 maxLen: Int)
      : (Seq[(String, Double, Long)], Double, Double) = {
    val table = new graft.functions.UnigramByteTable(
      model.map { case (p, _, lp) => (p, lp) }, maxLen)
    val unkNats = graft.functions.TextKernels.UnigramUnkMicro / 1e6
    val ec = new java.util.LinkedHashMap[String, java.lang.Double]()
    var ll = 0.0
    var ePieces = 0.0
    def lse(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val mx = math.max(a, b); mx + math.log1p(math.exp(-math.abs(a - b))) }
    var wi = 0
    while (wi < words.length) {
      val b = words(wi)
      val n = b.length
      val f = freqs(wi).toDouble
      // piece log-prob at (start s, length k), UNK fallback for k=1
      def lp(s: Int, k: Int): Double = {
        val pm = table.score(b, s, k)
        if (pm != Long.MinValue) pm / 1e6
        else if (k == 1) unkNats
        else Double.NaN // caller skips
      }
      val alpha = new Array[Double](n + 1)
      val beta = new Array[Double](n + 1)
      java.util.Arrays.fill(alpha, Double.NegativeInfinity)
      java.util.Arrays.fill(beta, Double.NegativeInfinity)
      alpha(0) = 0.0
      var i = 1
      while (i <= n) {
        var k = 1
        val kMax = if (i < maxLen) i else maxLen
        while (k <= kMax) {
          val l = lp(i - k, k)
          if (!l.isNaN && alpha(i - k) != Double.NegativeInfinity)
            alpha(i) = lse(alpha(i), alpha(i - k) + l)
          k += 1
        }
        i += 1
      }
      beta(n) = 0.0
      i = n - 1
      while (i >= 0) {
        var k = 1
        val kMax = if (n - i < maxLen) n - i else maxLen
        while (k <= kMax) {
          val l = lp(i, k)
          if (!l.isNaN && beta(i + k) != Double.NegativeInfinity)
            beta(i) = lse(beta(i), l + beta(i + k))
          k += 1
        }
        i -= 1
      }
      val z = alpha(n)
      ll += f * z
      // expected counts: every in-table occurrence's posterior
      i = 0
      while (i < n) {
        var k = 1
        val kMax = if (n - i < maxLen) n - i else maxLen
        while (k <= kMax) {
          val l = lp(i, k)
          if (!l.isNaN && alpha(i) != Double.NegativeInfinity &&
              beta(i + k) != Double.NegativeInfinity) {
            val post = math.exp(alpha(i) + l + beta(i + k) - z)
            if (post > 0.0) {
              val key = graft.functions.TextKernels.hexOf(b, i, k).toString
              val prev = ec.get(key)
              val add = f * post
              ec.put(key, java.lang.Double.valueOf(
                if (prev == null) add else prev.doubleValue + add))
              ePieces += add
            }
          }
          k += 1
        }
        i += 1
      }
      wi += 1
    }
    // UNDERFLOW FLOOR: an occurrence sitting ~745+ nats below its
    // word's total makes exp() underflow to exactly 0.0, which would
    // silently drop the piece and break the support identity the
    // registered query pins in BIGINTs. Every model piece occurs in
    // some corpus word by construction (its count came from these
    // words), so re-seed the missing/zeroed ones at the smallest
    // positive double — the probability-space analogue of Laplace's
    // never-zero rule, negligible in the normalizer.
    model.foreach { case (p, _, _) =>
      val cur = ec.get(p)
      if (cur == null || cur.doubleValue == 0.0)
        ec.put(p, java.lang.Double.valueOf(java.lang.Double.MIN_VALUE))
    }
    var total = 0.0
    val it0 = ec.values.iterator
    while (it0.hasNext) total += it0.next().doubleValue
    val out = new scala.collection.mutable.ArrayBuffer[(String, Double, Long)](ec.size)
    val it = ec.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.doubleValue
      out += ((e.getKey, c,
        java.lang.Math.floor(
          java.lang.Math.log(c / total) * 1000000.0 + 0.5).toLong))
    }
    (out.toSeq, ll, ePieces)
  }

  /** `(piece, cnt)` frame → the model frame: broadcast total + the
    * family's micro-nat quantization — ONE implementation shared by
    * the init, EM, and prune paths (char and byte), so a quantization
    * tweak can never update one and strand the spec-pinned
    * bit-equalities between them. */
  private def renormalizedModel(kept: DataFrame): DataFrame = {
    val tot = broadcast(kept.agg(sum(col("cnt")).as("__T")))
    kept.crossJoin(tot)
      .select(col("piece"), col("cnt").cast("long").as("cnt"),
        floor(log(col("cnt").cast("double") / col("__T").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("logp_micro"))
  }

  /** The measured-guard word-table hand-off shared by both byte-level
    * fast trainers: one distributed word-count scan, minWordFreq
    * pruning, the driver footprint MEASURED before anything collects
    * (words + freqs + the substring-count map — each byte position can
    * open up to maxPieceLen distinct-piece entries, ~48 B apiece
    * amortized across words sharing pieces), failure BY NAME citing the
    * minWordFreq lever. One implementation so the two trainers' guards
    * can never drift. */
  private def guardedWordTable(docs: DataFrame, text: Column,
                               maxPieceLen: Int, minWordFreq: Long,
                               maxTableBytes: Long, caller: String)
      : (Array[Array[Byte]], Array[Long]) = {
    val wc = bpeWordCountsBytes(docs, text)
    val pruned =
      if (minWordFreq > 1) wc.filter(col("freq") >= minWordFreq) else wc
    val m = pruned.agg(count(lit(1)).as("rows"),
      coalesce(sum(octet_length(col("w"))), lit(0L)).as("syms")).head()
    val (rows, syms) = (m.getLong(0), m.getLong(1))
    val est = rows * 120L + syms * (48L * maxPieceLen)
    if (est > maxTableBytes)
      throw new IllegalArgumentException(
        s"$caller: the word-frequency table ($rows words, " +
          s"$syms bytes, ~$est B on the driver) exceeds maxTableBytes " +
          s"($maxTableBytes B). Raise minWordFreq (currently " +
          s"$minWordFreq) to frequency-prune the long tail — the " +
          "standard production-tokenizer move — or raise maxTableBytes " +
          "if the driver heap genuinely has room")
    collectWordTable(pruned)
  }

  /** Collect the word table in CANONICAL (word) order — collect()
    * returns rows in partition order, which varies with the input
    * partitioning; the hard-EM path is immune (exact integer counting
    * is order-free) but the soft-EM doubles accumulate in word order,
    * so the order must be pinned for bit-reproducibility. */
  private def collectWordTable(pruned: DataFrame)
      : (Array[Array[Byte]], Array[Long]) = {
    val collected = pruned.select(col("w"), col("freq").cast("long"))
      .collect().sortBy(_.getString(0))
    val wordBytes = new Array[Array[Byte]](collected.length)
    val freqs = new Array[Long](collected.length)
    var i = 0
    while (i < collected.length) {
      wordBytes(i) = collected(i).getString(0)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      freqs(i) = collected(i).getLong(1)
      i += 1
    }
    (wordBytes, freqs)
  }

  /** Driver-exact micro-nat quantization — the same IEEE op order as the
    * distributed `floor(log(cnt/T) * 1e6 + 0.5)` column. */
  @inline private def microNat(cnt: Long, total: Long): Long =
    java.lang.Math.floor(
      java.lang.Math.log(cnt.toDouble / total.toDouble) * 1000000.0 + 0.5)
      .toLong

  /** Frequency initialization on the collected word table — replicates
    * [[unigramTrainBytes]]'s counting (overlapping substrings weighted
    * by word frequency, single bytes always retained, `minCount` for
    * longer) bit for bit. */
  private def unigramInitLocal(words: Array[Array[Byte]], freqs: Array[Long],
                               maxPieceLen: Int, minCount: Long)
      : Seq[(String, Long, Long)] = {
    val cnt = new java.util.HashMap[String, java.lang.Long]()
    var wi = 0
    while (wi < words.length) {
      val b = words(wi)
      val f = freqs(wi)
      var s = 0
      while (s < b.length) {
        var l = 1
        val lMax = math.min(maxPieceLen, b.length - s)
        while (l <= lMax) {
          val key = graft.functions.TextKernels.hexOf(b, s, l).toString
          val prev = cnt.get(key)
          cnt.put(key,
            java.lang.Long.valueOf(if (prev == null) f else prev.longValue + f))
          l += 1
        }
        s += 1
      }
      wi += 1
    }
    finishModel(cnt, keepSingles = true, minCount)
  }

  /** One driver-local hard-EM round — the SAME kernel DP the distributed
    * [[unigramEmStepBytes]] expression wraps, then occurrence-weighted
    * counting and re-normalization. */
  private def unigramEmLocal(words: Array[Array[Byte]], freqs: Array[Long],
                             model: Seq[(String, Long, Long)],
                             maxPieceLen: Int): Seq[(String, Long, Long)] = {
    val table = new graft.functions.UnigramByteTable(
      model.map { case (p, _, lp) => (p, lp) }, maxPieceLen)
    val cnt = new java.util.HashMap[String, java.lang.Long]()
    var wi = 0
    while (wi < words.length) {
      val pieces = graft.functions.TextKernels.unigramSegmentBytesPieces(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(words(wi)), table)
      val f = freqs(wi)
      var pi = 0
      val n = pieces.numElements
      while (pi < n) {
        val key = pieces.getUTF8String(pi).toString
        val prev = cnt.get(key)
        cnt.put(key,
          java.lang.Long.valueOf(if (prev == null) f else prev.longValue + f))
        pi += 1
      }
      wi += 1
    }
    // EM keeps every piece the optimal paths actually used (drop-out
    // pruning happened by the paths not using it) — no minCount here,
    // matching unigramEmStepBytes
    finishModel(cnt, keepSingles = true, minCount = 1L)
  }

  private def finishModel(cnt: java.util.HashMap[String, java.lang.Long],
                          keepSingles: Boolean, minCount: Long)
      : Seq[(String, Long, Long)] = {
    val kept = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val it = cnt.entrySet.iterator
    var total = 0L
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.longValue
      if ((keepSingles && e.getKey.length == 2) || c >= minCount) {
        kept += ((e.getKey, c))
        total += c
      }
    }
    val t = total
    kept.map { case (p, c) => (p, c, microNat(c, t)) }.toSeq
  }

  def bpeMerges(model: DataFrame, maxMerges: Int = 1 << 20): Seq[(String, String)] = {
    val rows = model.select(col("rank").cast("int"), col("left"), col("right"))
      .orderBy(col("rank")).limit(maxMerges + 1).collect()
    require(rows.length <= maxMerges,
      s"bpeMerges: more than $maxMerges merge rows — is this really a " +
        "trained merge table?")
    rows.map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** BPE MERGE APPLICATION (tokenizer encode): the flat subword-symbol
    * array of each document under a trained merge list — what turns a
    * corpus into actual tokenizer output for packing/counting, map-side
    * with per-doc cost independent of merge-table size
    * ([[graft.functions.TextKernels.bpeEncode]] has the algorithm and the
    * equivalence argument vs sequential replace-all). Whitespace tokens
    * outside the `[a-z]{2,}` training contract pass through unchanged as
    * single OOV symbols. Null text → null. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextHashExpressions.bpeEncode(text, merges)

  /** Trained-tokenizer token count per document — [[bpeEncode]] length,
    * the real-tokenizer replacement for the whitespace [[tokenCount]] in
    * packing/budgeting. */
  def bpeEncodeCount(text: Column, merges: Seq[(String, String)]): Column =
    size(bpeEncode(text, merges))

  /** [[bpeEncode]] with SentencePiece-style word-start marking: each
    * whitespace token's FIRST symbol is prefixed with U+2581, so the
    * flat subword sequence carries word boundaries and
    * [[bpeDetokenize]] reconstructs the whitespace-normalized text
    * exactly — the loader-facing encode/decode pair. Input containing a
    * literal U+2581 detokenizes imperfectly (the standard SentencePiece
    * marker-collision caveat, documented in the kernel). */
  def bpeEncodeMarked(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextHashExpressions.bpeEncode(text, merges, marked = true)

  /** Inverse of [[bpeEncodeMarked]]: concatenate the subwords, turn each
    * word-start marker back into a space, drop the leading one — yields
    * the WHITESPACE-NORMALIZED text (single spaces; original whitespace
    * runs are not preserved, the same normalization [[tokens]] applies).
    * `detok(encodeMarked(t)) == array_join(tokens(t), ' ')` is the
    * certified round trip. */
  def bpeDetokenize(tokens: Column): Column =
    ltrim(translate(array_join(tokens, ""), "▁", " "), " ")

  /** Token-id vocabulary of a trained merge list: the 26 base letters at
    * ids 0–25, then each merge's OUTPUT symbol in rank order at
    * id 25 + rank — the training-deterministic id space a loader embeds
    * against. Two different merges can in principle produce the same
    * output string ((a,bc) and (ab,c) both yield "abc"); the symbol
    * keeps its FIRST (lowest-rank) id, so the mapping is a function. */
  def bpeVocab(merges: Seq[(String, String)]): Seq[(String, Int)] = {
    val base = ('a' to 'z').map(c => (c.toString, c - 'a'))
    val seen = scala.collection.mutable.LinkedHashMap[String, Int](base: _*)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      val sym = l + r
      if (!seen.contains(sym)) seen(sym) = 26 + i
    }
    seen.toSeq
  }

  /** [[bpeEncode]] to token IDS (`array<int>`): one kernel pass
    * (tokenize → merge loop → O(1) hashed [[bpeVocab]]-identical id
    * probe per symbol — [[graft.functions.TextKernels.bpeEncodeIds]];
    * the previous plan-literal `element_at` map scanned linearly per
    * symbol). OOV passthrough tokens map to -1, surfacing the
    * out-of-vocabulary positions for the caller's fallback policy
    * (byte-fallback vs skip is a tokenizer-design choice the engine
    * does not make silently). */
  def bpeEncodeIds(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextHashExpressions.bpeEncodeIds(text, merges,
      byteLevel = false)

  /** The SEQUENTIAL-REPLACE formulation of merge application — the
    * bpeTrain double-separator encoding with one greedy literal
    * `replace` per rank, exactly what the DuckDB oracle replays. Kept as
    * the cross-check for the kernel ([[bpeEncode]]'s min-rank loop must
    * agree on every document; the BpeSpec pins this on the corpus) — NOT
    * the production path, since its per-doc cost grows with nMerges. */
  private[graft] def bpeEncodeViaReplace(text: Column,
                                         merges: Seq[(String, String)]): Column =
    flatten(transform(tokens(text), t => {
      val sep = concat(lit("||"), regexp_replace(t, "(.)", "$1||"))
      val merged = merges.foldLeft(sep) { case (c, (l, r)) =>
        replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
      }
      when(t.rlike("^[a-z]+$"), split(trim(merged, "|"), "\\|\\|"))
        .otherwise(array(t))
    }))

  // ---- byte-level tokenizer family (GPT-2-style byte fallback) ----

  /** BYTE-LEVEL merge application: the flat hex-symbol array of each
    * document under a [[bpeTrainBytes]] merge list. EVERY whitespace
    * token is encoded — emoji, CJK-B, digits, binary-ish junk — because
    * the 256-symbol byte alphabet has no out-of-vocabulary input; the
    * char-level [[bpeEncode]]'s OOV passthrough (and its BMP caveat)
    * does not exist here. Map-side, per-doc cost independent of
    * merge-table size (same kernel loop). Null text → null. */
  def bpeEncodeBytes(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextHashExpressions.bpeEncodeBytes(text, merges)

  /** Trained byte-level-tokenizer token count per document. */
  def bpeEncodeBytesCount(text: Column, merges: Seq[(String, String)]): Column =
    size(bpeEncodeBytes(text, merges))

  /** [[bpeEncodeBytes]] with the word-start marker on each token's first
    * symbol. Unlike the char-level marker, U+2581 CANNOT collide with
    * input here (output symbols are pure hex), so
    * `bpeDetokenizeBytes(bpeEncodeBytesMarked(t)) ==
    * array_join(tokens(t), ' ')` holds for EVERY input, non-BMP
    * included — no caveat. */
  def bpeEncodeBytesMarked(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextHashExpressions.bpeEncodeBytes(text, merges,
      marked = true)

  /** Inverse of [[bpeEncodeBytesMarked]]: concatenate the hex symbols,
    * split words at the markers, UTF-8-decode each word's byte string,
    * join with single spaces — the whitespace-normalized text, exactly. */
  def bpeDetokenizeBytes(toks: Column): Column = {
    val hexWords = ltrim(translate(array_join(toks, ""), "▁", " "), " ")
    array_join(
      transform(split(hexWords, " "), w => unhex(w).cast("string")), " ")
  }

  /** Token-id vocabulary of a byte-level merge list: the 256 base byte
    * symbols at ids 0–255 (hex "00" → 0 … "ff" → 255, the GPT-2 base
    * layout), then each merge's output symbol at id 255 + rank;
    * colliding outputs keep their first (lowest-rank) id. */
  def bpeVocabBytes(merges: Seq[(String, String)]): Seq[(String, Int)] = {
    val base = (0 until 256).map(b => (f"$b%02x", b))
    val seen = scala.collection.mutable.LinkedHashMap[String, Int](base: _*)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      val sym = l + r
      if (!seen.contains(sym)) seen(sym) = 256 + i
    }
    seen.toSeq
  }

  /** [[bpeEncodeBytes]] to token IDS: every symbol is in
    * [[bpeVocabBytes]] by construction (base bytes + merge outputs), so
    * unlike the char-level [[bpeEncodeIds]] there is NO -1/OOV id — the
    * whole point of the byte alphabet. One kernel pass with an O(1)
    * open-hashed symbol→id probe per surviving symbol
    * ([[graft.functions.TextKernels.bpeEncodeIds]]); this replaced the
    * r15 literal CASE walk (3.62 s) and the r16 merge-only literal map
    * (1.74 s) — the map literal's `element_at` scans linearly per
    * lookup (deltas in BENCH_NOTES). */
  def bpeEncodeIdsBytes(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextHashExpressions.bpeEncodeIds(text, merges,
      byteLevel = true)

  /** Sequential-replace cross-check for the byte-level kernel — the
    * [[bpeEncodeViaReplace]] construction over hex symbols, every token
    * encoded (no OOV branch). Spec-only, cost grows with nMerges. */
  private[graft] def bpeEncodeBytesViaReplace(text: Column,
                                              merges: Seq[(String, String)]): Column =
    flatten(transform(tokens(text), t => {
      val sep = concat(lit("||"), regexp_replace(
        lower(hex(t.cast("binary"))), "(..)", "$1||"))
      val merged = merges.foldLeft(sep) { case (c, (l, r)) =>
        replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
      }
      split(trim(merged, "|"), "\\|\\|")
    }))

  /** Trained n-gram LM frequency tables: unigram / bigram / trigram
    * counts plus the 1-row corpus-token total. All vocabulary-shaped
    * (never corpus-row-shaped once pruned), lazily derived — a caller
    * scoring MANY batches against one model should pin the tables
    * (localCheckpoint) so the corpus scan is not replayed per batch (the
    * shape priced in BENCH_NOTES.md, "Round 15", ngramScore join-regime
    * price). `broadcastHint=true` records
    * [[ngramTrain]]'s measured verdict that every table fits the
    * broadcast threshold; [[ngramScore]] then pins the five model joins
    * as explicit broadcasts (a pinned/checkpointed table loses its size
    * estimate, so the hint — not the planner's guess — carries the
    * measurement). `false` = the deliberate `allowShuffle` regime. */
  final case class NgramModel(uni: DataFrame, bi: DataFrame,
                              tri: DataFrame, total: DataFrame,
                              broadcastHint: Boolean = true)

  /** Per-document token/context grams, extracted map-side from the token
    * array (no per-doc window shuffle): one output row per token with its
    * one- and two-back predecessors (null at document start). */
  private def ngramGrams(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), tokens(text).as("ts"))
      // blank docs MUST drop before sequence(): sequence(1, 0) counts
      // DOWN ([1, 0]), which would fabricate out-of-range element_at
      // calls rather than an empty gram list
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ts"))), i => struct(
          element_at(col("ts"), i).as("cur"),
          when(i > lit(1), element_at(col("ts"), i - 1)).as("p1"),
          when(i > lit(2), element_at(col("ts"), i - 2)).as("p2")))).as("g"))
      .select(col("doc_id"), col("g.cur"), col("g.p1"), col("g.p2"))

  /** Train the stupid-backoff trigram LM ([[ngramScore]]): unigram,
    * bigram and trigram frequency tables. `minCount` prunes bi/trigram
    * types below the threshold (the KenLM-style singleton prune — at
    * corpus scale the singleton tail IS most of the trigram type mass,
    * and backoff absorbs pruned entries by construction); unigrams are
    * never pruned, so every in-vocabulary context keeps its denominator
    * count.
    *
    * The SHUFFLE-REGIME GUARD (BENCH_NOTES.md, "Round 15", prices this
    * cliff: an unpruned wide-vocab trigram table turns the five
    * [[ngramScore]] model joins from broadcasts into shuffles of the
    * gram stream — 3.4–7.3× slower at 200–500k docs and an OOM cliff if
    * the corpus-shaped table is ever materialized). Two phases, neither
    * of which materializes a table:
    *
    *  1. PRE-SCREEN — one MAP-SIDE pass over the gram stream
    *     (approx_count_distinct of the bi/tri keys + average token
    *     length; partial aggregation, no shuffle, one small result row).
    *     Estimated UNPRUNED footprints under the session's
    *     `spark.sql.autoBroadcastJoinThreshold` prove the model safe at
    *     ANY minCount (pruning only shrinks); with `minCount == 1` the
    *     unpruned estimate IS the pruned size, so an over-threshold
    *     estimate fails by name directly.
    *  2. EXACT CHECK — only when the pre-screen is suspicious AND
    *     pruning could still save the model (`minCount > 1`): one union
    *     job aggregates the pruned bi/tri type tables' exact row counts
    *     and character mass (aggregation spills where materialization
    *     would OOM) and decides by measurement.
    *
    * Past the threshold the failure is BY NAME with the `minCount` lever
    * in the message; pass `allowShuffle = true` to deliberately train an
    * over-threshold model, which [[ngramScore]] then joins WITHOUT
    * broadcast hints — the priced shuffle regime, entered loudly. A
    * session that DISABLED auto-broadcast (a non-positive threshold,
    * e.g. "-1" — parsed with Spark's own leading-minus semantics) is
    * honored the same way: the model trains unhinted and the joins run
    * in the planner's shuffle regime, which is what the user asked for.
    * On the common pruned path the guard's whole cost is the one
    * map-side pre-screen scan. */
  def ngramTrain(corpus: DataFrame, text: Column, minCount: Int = 1,
                 allowShuffle: Boolean = false): NgramModel = {
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    val g = ngramGrams(corpus, lit(0L), text)

    // Spark's own ConfigHelpers.byteFromString semantics: a leading '-'
    // negates (JavaUtils.byteStringAsBytes alone throws on "-1", the
    // standard broadcast-DISABLE value). A non-positive threshold means
    // the user disabled auto-broadcast — honored below, never defaulted.
    val threshold = {
      val conf = corpus.sparkSession.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
      if (conf.startsWith("-"))
        -org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf.substring(1))
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    }
    // UnsafeRow-ish: ~48 B/row fixed + 2 B/char, deliberately heavy — a
    // broadcast HashedRelation costs more than its serialized rows
    def estBytes(types: Long, chars: Long) = types * 48L + chars * 2L

    def fail(which: Seq[(String, Long, Long)], exact: Boolean): Unit =
      throw new IllegalArgumentException(
        s"ngramTrain: model table(s) ${which.map(_._1).mkString("/")} " +
          s"exceed the broadcast threshold ($threshold B): " +
          which.map { case (t, n, b) =>
            s"$t ~$b B ($n ${if (exact) "types" else "estimated types"})"
          }.mkString(", ") +
          " — the ngramScore joins would silently enter the measured " +
          "shuffle regime (3.4–7.3× slower, OOM cliff; see the " +
          s"ngram_join_regime probe in BENCH_NOTES.md). Raise minCount (currently $minCount) " +
          "to prune the singleton tail, or pass allowShuffle = true to " +
          "deliberately train an over-threshold model")

    var hinted = true
    var needExact = false
    if (threshold <= 0) {
      // the session disabled auto-broadcast: honor it — no hints, no
      // broadcast-sized guard; the joins run in the planner's shuffle
      // regime, which is what a user who set "-1" asked for
      hinted = false
    } else if (!allowShuffle) {
      // phase 1: approx pre-screen on the RAW gram stream — partial
      // (map-side) aggregation into one small row, no shuffle of the
      // grams and NOTHING built or pinned yet, so an over-threshold
      // corpus fails here without ever paying the type-table shuffle
      // or its checkpoint (the guard's documented contract). The
      // distinct sets are the same as the type table's, so the HLL
      // estimates are unchanged; avg over occurrences IS the
      // occurrence-weighted length.
      val pre = g.agg(
        approx_count_distinct(col("cur")).as("u"),
        approx_count_distinct(struct(col("p1"), col("cur"))).as("b"),
        approx_count_distinct(struct(col("p2"), col("p1"), col("cur"))).as("t"),
        coalesce(avg(length(col("cur"))), lit(0.0)).as("len")).head()
      val avgLen = pre.getDouble(3)
      def approx(types: Long, toks: Int) =
        estBytes(types, (types * toks * avgLen).toLong)
      val est = Seq(("uni", pre.getLong(0), approx(pre.getLong(0), 1)),
        ("bi", pre.getLong(1), approx(pre.getLong(1), 2)),
        ("tri", pre.getLong(2), approx(pre.getLong(2), 3)))
      val overApprox = est.filter(_._3 > threshold)
      if (overApprox.nonEmpty) {
        // uni is never pruned and the minCount=1 tables cannot shrink:
        // for those the estimate is already the verdict
        val hopeless = overApprox.filter { case (t, _, _) =>
          t == "uni" || minCount == 1 }
        if (hopeless.nonEmpty) fail(hopeless, exact = false)
        needExact = true
      }
    } else {
      // deliberate mode: no measurement, no hints — the planner decides
      // from its own estimates and large tables shuffle-join
      hinted = false
    }

    if (needExact) {
      // phase 2: pruning might still save bi/tri — measure exactly
      // (one union job over throwaway PRUNED type aggregates built
      // straight from the gram stream: aggregation spills where a
      // materialized unpruned table would OOM, and nothing is pinned
      // until the verdict is in)
      def footprint(df: DataFrame, name: String, strCols: Seq[String]) =
        df.agg(count(lit(1)).as("rows"),
          coalesce(sum(strCols.map(c => length(col(c))).reduce(_ + _)),
            lit(0L)).as("chars"))
          .select(lit(name).as("t"), col("rows"), col("chars"))
      val biChk = g.filter(col("p1").isNotNull)
        .groupBy(col("p1"), col("cur")).agg(count(lit(1)).as("c2"))
        .filter(col("c2") >= minCount)
      val triChk = g.filter(col("p2").isNotNull)
        .groupBy(col("p2"), col("p1"), col("cur")).agg(count(lit(1)).as("c3"))
        .filter(col("c3") >= minCount)
      val exact = footprint(biChk, "bi", Seq("p1", "cur"))
        .unionByName(footprint(triChk, "tri", Seq("p2", "p1", "cur")))
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          estBytes(r.getLong(1), r.getLong(2))))
      val overExact = exact.filter(_._3 > threshold)
      if (overExact.nonEmpty) fail(overExact.toSeq, exact = true)
    }

    // Guard passed (or the deliberate/disabled modes): ONE corpus pass
    // into the unpruned trigram-TYPE table (null p1/p2 kept as grouping
    // values) — a sufficient statistic for every model table, which are
    // re-aggregations of it. Pinned eagerly: without the pin each model
    // table re-executed the corpus explode independently — the measured
    // plan ran SEVEN corpus passes per trained model where two suffice
    // (this one + the scoring pass). The pinned frame is
    // trigram-type-shaped (vocabulary class), never corpus-shaped, and
    // it is only built AFTER the guard has fully decided — an
    // over-threshold corpus never pays this shuffle or its checkpoint.
    val t0 = g.groupBy(col("p2"), col("p1"), col("cur"))
      .agg(count(lit(1)).as("n")).localCheckpoint(true)
    val uni = t0.groupBy(col("cur")).agg(sum(col("n")).as("c1"))
    val total = uni.agg(sum(col("c1")).as("total"))
    val bi = t0.filter(col("p1").isNotNull)
      .groupBy(col("p1"), col("cur")).agg(sum(col("n")).as("c2"))
      .filter(col("c2") >= minCount)
    val tri = t0.filter(col("p2").isNotNull)
      .groupBy(col("p2"), col("p1"), col("cur")).agg(sum(col("n")).as("c3"))
      .filter(col("c3") >= minCount)
    NgramModel(uni, bi, tri, total, broadcastHint = hinted)
  }

  /** N-gram LM quality score (the KenLM/CCNet-style perplexity gate):
    * per document, the average negative log-probability of its tokens
    * under a STUPID-BACKOFF trigram model (Brants et al. 2007 — scores,
    * not normalized probabilities, which is what the corpus-quality
    * filter needs):
    *
    *   S(w | p2 p1) = c3(p2,p1,w)/c2(p2,p1)   if the trigram survives
    *                = α · S(w | p1)            otherwise
    *   S(w | p1)    = c2(p1,w)/c1(p1)          if the bigram survives
    *                = α · S(w)                 otherwise
    *   S(w)         = c1(w)/total, or 1/total for OOV (one pseudo-count)
    *
    * Document position 1 scores S(w), position 2 scores S(w|p1), the
    * rest score S(w|p2 p1) — so a doc's first tokens never fabricate
    * context. Per-token −ln S is rounded to 6 decimals and summed as
    * DECIMAL (fixed-order, engine-exact); divisions are exact-integer
    * IEEE divisions, identical in any engine.
    *
    * Shape at 100 TB: gram extraction is map-side; the five model joins
    * are each against a type-count-sized table BROADCAST BY MEASURED
    * VERDICT — [[ngramTrain]] measured every table under the session
    * threshold before materializing it, or failed by name citing the
    * `minCount` lever (the knob that keeps the trigram table
    * vocabulary-shaped rather than corpus-shaped: singleton pruning
    * typically drops the majority of trigram TYPES while backoff keeps
    * every token scoreable). An `allowShuffle`-trained model enters the
    * shuffle regime deliberately and unhinted. The per-doc rollup is
    * one id-keyed aggregation; per-doc cost is model-size-independent
    * once the model tables are built. */
  def ngramScore(docs: DataFrame, id: Column, text: Column,
                 model: NgramModel, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"need 0 < alpha < 1, got $alpha")
    val g = ngramGrams(docs, id, text)
    // A trained model is checkpointed (size estimate lost), so the
    // measured under-threshold verdict from ngramTrain is pinned here as
    // explicit broadcast hints — the plan the measurement proved safe,
    // not whatever the estimate-blind planner would pick. An
    // allowShuffle-trained over-threshold model joins unhinted: the
    // deliberate, loudly-entered shuffle regime.
    val hint: DataFrame => DataFrame =
      if (model.broadcastHint) broadcast else identity
    val uniP = hint(model.uni.select(col("cur").as("p1"), col("c1").as("c1p")))
    val biCtx = hint(model.bi.select(col("p1").as("p2"), col("cur").as("p1"),
      col("c2").as("c2ctx")))
    val scored = g
      .join(hint(model.uni), Seq("cur"), "left")
      .crossJoin(broadcast(model.total))
      .join(uniP, Seq("p1"), "left")
      .join(hint(model.bi), Seq("p1", "cur"), "left")
      .join(biCtx, Seq("p2", "p1"), "left")
      .join(hint(model.tri), Seq("p2", "p1", "cur"), "left")
    val pUni = when(col("c1").isNotNull,
        col("c1").cast("double") / col("total"))
      .otherwise(lit(1.0) / col("total")) // OOV floor: one pseudo-count
    // context survives whenever the bigram does (c2 >= minCount implies
    // c1(p1) >= minCount and unigrams are unpruned), so c1p/c2ctx are
    // never null where the branch that divides by them is taken
    val sb = when(col("c2").isNotNull, col("c2").cast("double") / col("c1p"))
      .otherwise(lit(alpha) * pUni)
    val p = when(col("p2").isNotNull,
        when(col("c3").isNotNull, col("c3").cast("double") / col("c2ctx"))
          .otherwise(lit(alpha) * sb))
      .when(col("p1").isNotNull, sb)
      .otherwise(pUni)
    scored
      .withColumn("nl", round(-log(p), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy(col("doc_id"))
      // the average stays UNROUNDED: the DECIMAL sum is engine-exact and
      // cast + division are correctly-rounded IEEE ops, so the raw
      // quotient is bit-identical in any engine — while a 6-dp display
      // round sits on knife edges where engines legitimately disagree
      // (Spark rounds the exact binary double, DuckDB its shortest
      // decimal repr; sf0.1 doc 3444's 3.4255714999999998 flipped
      // between 3.425571 and 3.425572)
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("nl")).cast("double") / count(lit(1)))
          .as("avg_neg_logp"))
  }

  /** Self-scored convenience form: train on `docs`, score `docs` — the
    * corpus-quality-report shape ([[unigramLogProb]] with real context). */
  def ngramLogProb(docs: DataFrame, id: Column, text: Column,
                   minCount: Int = 1, alpha: Double = 0.4,
                   allowShuffle: Boolean = false): DataFrame =
    ngramScore(docs, id, text,
      ngramTrain(docs, text, minCount, allowShuffle), alpha)

  /** Trained naive-Bayes quality model ([[nbTrain]]/[[nbScore]]): one
    * vocabulary-shaped token table with per-class counts and a one-row
    * totals frame (class token totals, vocabulary size, class document
    * priors). Both stay DataFrames so the planner broadcasts them when
    * they fit and shuffle-joins when they do not. */
  final case class NbModel(tok: DataFrame, totals: DataFrame)

  /** Train the model-based quality classifier — the "classifier filter"
    * stage of GPT-3/LLaMA/FineWeb-style corpus pipelines, where a model
    * trained on curated-vs-crawl labels gates what enters the training
    * set. Multinomial naive Bayes over the canonical whitespace tokens:
    * ONE token-keyed aggregate produces per-class token counts, one
    * doc-level aggregate the class priors — nothing iterative, nothing
    * driver-sided, so training cost is one corpus scan at any size.
    * A null label poisons by name in-column (a document must be on one
    * side of the classifier), the same convention as the sampling
    * guards. */
  def nbTrain(corpus: DataFrame, label: Column, text: Column): NbModel = {
    val lab = when(label.isNull, raise_error(lit(
        "nbTrain: the label column contains nulls — every training " +
          "document must be on one side of the classifier; filter or " +
          "impute labels first")).cast("boolean"))
      .otherwise(label.cast("boolean"))
    val docs = corpus.select(lab.as("y"), tokens(text).as("ts"))
    // materialize the model ONCE (the scd2Merge idiom): both tables are
    // referenced by several scoring branches, and lazy frames would
    // replay the corpus scan per reference (~6 scans in the composed
    // self-train query). The checkpoint is vocabulary-sized / one row —
    // model-sized, never corpus-sized — so train is exactly two corpus
    // passes (token counts + doc priors) at any scale.
    val tok = docs.select(col("y"), explode(col("ts")).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("c_neg"))
      .localCheckpoint(true)
    val totals = tok
      .agg(sum(col("c_pos")).as("tot_pos"), sum(col("c_neg")).as("tot_neg"),
        count(lit(1)).as("vocab"))
      .crossJoin(docs.agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("n_neg")))
      .localCheckpoint(true)
    NbModel(tok, totals)
  }

  /** Score documents under an [[nbTrain]] model: per token the Laplace-1
    * log-likelihood ratio
    *
    *   llr(w) = ln( ((c_pos(w)+1)/(tot_pos+V)) / ((c_neg(w)+1)/(tot_neg+V)) )
    *
    * (an out-of-vocabulary token gets the pure-smoothing ratio), rounded
    * to 6 decimals and summed as DECIMAL — the [[ngramScore]] fixed-order
    * idiom, so the result is engine-exact; divisions are exact-integer
    * IEEE divisions. The document score adds the (identically rounded)
    * class-prior log ratio; `predict_pos` is its sign.
    *
    * Shape at 100 TB: token extraction is map-side, the model join is
    * against the vocabulary-shaped count table (broadcast when it fits),
    * and the rollup is one id-keyed aggregation — per-doc cost is
    * model-size-independent, the same scaling story as [[ngramScore]].
    * Documents with no tokens have no evidence and are dropped (the
    * [[ngramScore]] convention). */
  def nbScore(docs: DataFrame, id: Column, text: Column,
              model: NbModel): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val g = docs.select(id.as("doc_id"), explode(tokens(text)).as("token"))
    val scored = g.join(model.tok, Seq("token"), "left")
      .crossJoin(broadcast(model.totals))
    val pPos = (coalesce(col("c_pos"), lit(0L)) + lit(1L)).cast("double") /
      (col("tot_pos") + col("vocab")).cast("double")
    val pNeg = (coalesce(col("c_neg"), lit(0L)) + lit(1L)).cast("double") /
      (col("tot_neg") + col("vocab")).cast("double")
    val prior = round(log((col("n_pos") + lit(1L)).cast("double") /
      (col("n_neg") + lit(1L)).cast("double")), 6).cast(dec)
    scored
      .withColumn("llr", round(log(pPos / pNeg), 6).cast(dec))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("llr")).as("s"))
      .crossJoin(broadcast(model.totals.select(col("n_pos"), col("n_neg"))))
      .select(col("doc_id"), col("n_tokens"),
        round((col("s") + prior).cast("double"), 6).as("score"),
        (col("s") + prior > lit(0).cast(dec)).as("predict_pos"))
  }

  /** Self-trained convenience form: train on the labeled corpus, score
    * the same corpus — the calibration-report shape. */
  def nbQuality(docs: DataFrame, id: Column, label: Column,
                text: Column): DataFrame =
    nbScore(docs, id, text, nbTrain(docs, label, text))

  /** HELD-OUT evaluation of a trained classifier — the calibration
    * report an operator reads before trusting a model with admission
    * decisions: score `docs` (carrying TRUE labels) under `model` and
    * roll up the one-row confusion matrix with the derived
    * precision / recall / accuracy (engine-exact [[quant6]] quotients;
    * null when the denominator is empty — never a fabricated 0 or 1).
    * Token-less documents carry no evidence and are out of scope (the
    * [[nbScore]] convention). One map-side scoring pass against the
    * broadcast model tables + one 1-row aggregate — evaluation costs
    * one scan of the held-out slice regardless of model or corpus
    * size. */
  def nbEval(docs: DataFrame, id: Column, label: Column, text: Column,
             model: NbModel): DataFrame = {
    val scored = nbScore(docs, id, text, model)
      .join(docs.select(id.as("doc_id"), label.as("y")), Seq("doc_id"))
    scored
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predict_pos") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("predict_pos") && !col("y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("predict_pos") && !col("y"), 1L).otherwise(0L)).as("tn"),
        sum(when(!col("predict_pos") && col("y"), 1L).otherwise(0L)).as("fn"))
      .select(col("n_docs"), col("tp"), col("fp"), col("tn"), col("fn"),
        when(col("tp") + col("fp") > 0, quant6(
          col("tp").cast("double") / (col("tp") + col("fp"))))
          .as("precision"),
        when(col("tp") + col("fn") > 0, quant6(
          col("tp").cast("double") / (col("tp") + col("fn"))))
          .as("recall"),
        when(col("n_docs") > 0, quant6(
          (col("tp") + col("tn")).cast("double") / col("n_docs")))
          .as("accuracy"))
  }
}
