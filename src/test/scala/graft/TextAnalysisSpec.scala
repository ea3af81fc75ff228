package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("stripHtml: script/style content vanishes, tags strip, entities decode, ws collapses") {
    def strip(s: String): String = Seq(s).toDF("t")
      .select(TextAnalysis.stripHtml(col("t")).as("o")).as[String].head()
    // element CONTENT of script/style must vanish, not just the tags
    assert(strip("<p>a</p><script>var x = '<b>not text</b>';</script><p>b</p>") == "a b")
    assert(strip("x<style type=\"text/css\">p { color: red }</style>y") == "x y")
    assert(strip("a<!-- <p>commented out</p> -->b") == "a b")
    // case-insensitive, attribute-laden, multiline
    assert(strip("<SCRIPT>\nalert(1)\n</SCRIPT>ok") == "ok")
    assert(strip("<a href=\"u\" onclick=\"f()\">link</a>") == "link")
    // the six entities; &amp; decodes LAST so a double-escaped entity
    // yields the literal entity text, per HTML semantics
    assert(strip("&lt;tag&gt; &quot;q&quot; &#39;a&#39; &apos;b&apos; x&nbsp;y &amp; z")
      == "<tag> \"q\" 'a' 'b' x y & z")
    assert(strip("&amp;lt;") == "&lt;", "double-escape must not double-decode")
    // whitespace collapse + trim
    assert(strip("  <p>\n a \t b \n</p>  ") == "a b")
    // plain text is untouched
    assert(strip("no markup here") == "no markup here")
    // an UNCLOSED script: the element pattern cannot match (lazy .*?
    // needs the close tag), so the generic tag strip removes just the
    // tag and the content survives — defined, lossless-ish, no throw
    assert(strip("a<script>orphan") == "a orphan")
    // a SELF-CLOSING script must not become an opener that swallows the
    // visible text up to the next real close tag
    assert(strip("<script src=\"a.js\"/><p>hello</p><script>x()</script>")
      == "hello")
    assert(strip("x<style scoped/>y") == "x y")
  }

  test("token count: empty, single, multi, extra whitespace") {
    val df = Seq("", "   ", "one", "two words", "  padded   out  ").toDF("text")
    val got = df.select(TextAnalysis.tokenCount(col("text"))).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 1, 2, 2))
  }

  test("tokenizer is canonical: split path == kernel path on leading/odd whitespace") {
    // Leading tab/newline used to give the split tokenizer an empty first
    // token (Spark's `trim` strips only ' '), diverging from the one-pass
    // kernel. Both paths must agree on every whitespace shape.
    val docs = Seq("\tstarts with tab", "\n\nnewlines first", "\u000Bvertical tab",
      " normal lead", "tab\tinside", "trailing tab\t", "\t", "", "a\r\nb")
    val df = docs.toDF("text")
    val split = df.select(TextAnalysis.tokenCount(col("text"))).as[Int].collect().toSeq
    val kernel = df.select(
        graft.functions.TextHashExpressions.repetitionStats(col("text"))
          .getField("n_tokens")).as[Int].collect().toSeq
    assert(split == kernel, s"split=$split kernel=$kernel")
    assert(split == Seq(3, 2, 2, 2, 2, 2, 0, 0, 2))
    // and no empty tokens survive in the arrays themselves
    val toks = df.select(TextAnalysis.tokens(col("text"))).as[Seq[String]].collect()
    assert(toks.forall(_.forall(_.nonEmpty)))
  }

  test("langId: trigram profiles beat stopwords on short/mixed/capitalized docs") {
    def lang(texts: String*): Seq[String] =
      texts.toDF("text").select(TextAnalysis.langId(col("text")))
        .as[String].collect().toSeq
    // the old stopword fixtures still classify identically
    assert(lang(
      "the cat and the dog is in a house",
      "der hund und die katze ist ein tier",
      "le chat et la maison est une idee",
      "xyzzy qwerty plugh") == Seq("en", "de", "fr", "und"))
    // SHORT docs with zero exact stopword tokens — the trigram signal:
    // "hund" carries "und", "singing" carries "ing", "quelque" carries "que"
    assert(lang("hund", "singing", "quelque chose") == Seq("de", "en", "fr"))
    // CAPITALIZED text now case-folds before matching (the stopword-only
    // heuristic returned "und" for all of these)
    assert(lang("Der Hund.", "THE CAT", "Les Maisons") == Seq("de", "en", "fr"))
    // MIXED doc: the language with more trigram mass wins, not und
    assert(lang("das ist ein schönes the haus und garten") == Seq("de"))
    // head-to-head: en's boundary grams ("the", "he ") outweigh de's "der"
    assert(lang("the der") == Seq("en"))
    // zh stays stopword-scored (empty trigram profile, documented)
    assert(lang("的 是 了") == Seq("zh"))
    // null → und, blank → und
    assert(Seq((0, null.asInstanceOf[String]), (1, "  ")).toDF("id", "text")
      .orderBy(col("id"))
      .select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq ==
      Seq("und", "und"))
  }

  test("langId windows are CODEPOINT-correct: astral chars are one " +
       "position, astral profile grams are legal, neighborhoods never " +
       "split surrogates") {
    import graft.functions.{TextKernels, TrigramTable}
    import org.apache.spark.unsafe.types.UTF8String
    def lang(texts: String*): Seq[String] =
      texts.toDF("text").select(TextAnalysis.langId(col("text")))
        .as[String].collect().toSeq
    // emoji / CJK-Ext-B interleaved English still scores en — the
    // trigram window walks codepoints, so BMP grams land exactly as a
    // codepoint replay would place them
    assert(lang("the 😀 cat and 𠀀 the dog is here",
      "singing 🤖🤖 loudly") == Seq("en", "en"))
    // an ASTRAL profile gram (4 UTF-16 units, 3 codepoints) builds and
    // fires on matching text — impossible under UTF-16-unit windows
    val tg = TrigramTable.build(Array(Array("😀🤖x")))
    val hit = TextKernels.langIdProfile(UTF8String.fromString("aa 😀🤖x bb"),
      tg, Array(new java.util.HashSet[UTF8String]()),
      Array(UTF8String.fromString("emo")), UTF8String.fromString("und"))
    assert(hit.toString == "emo")
    // a 4-codepoint string is rejected by name
    val e = intercept[IllegalArgumentException](
      TrigramTable.build(Array(Array("abcd"))))
    assert(e.getMessage.contains("3 codepoints"))
    // deletion neighborhood: astral chars delete as ONE unit — every
    // member is a well-formed string (no lone surrogates), and the
    // 1-neighborhood of a😀b has exactly the 4 codepoint deletions
    val nbh = Seq("a😀b").toDF("k")
      .select(graft.functions.TextHashExpressions
        .deletionNeighborhood(col("k"), 1))
      .as[Seq[String]].head().toSet
    assert(nbh == Set("a😀b", "😀b", "ab", "a😀"), nbh.toString)
    // a lone surrogate surfaces as a codepoint in the D800–DFFF gap
    assert(nbh.forall(s => s.codePoints().toArray.forall(
      cp => cp < 0xD800 || cp > 0xDFFF)))
  }

  test("normalizeUnicode: NFC composes, NFD decomposes, NFKC folds compatibility") {
    val acute = new String(Character.toChars(0x0301)) // COMBINING ACUTE
    def norm(s: String, form: String): String =
      Seq(s).toDF("t")
        .select(TextAnalysis.normalizeUnicode(col("t"), form)).as[String].head()
    // canonical composition: e + combining acute fuses to one codepoint
    assert(norm("caf" + "e" + acute, "NFC") == "café")
    assert(norm("caf" + "e" + acute, "NFC").length == 4)
    // already-composed text is unchanged (the isNormalized fast path)
    assert(norm("café", "NFC") == "café")
    assert(norm("plain ascii", "NFC") == "plain ascii")
    // NFD is the inverse direction
    assert(norm("café", "NFD") == "caf" + "e" + acute)
    // compatibility folding: the fi LIGATURE survives NFC, splits under NFKC
    assert(norm("ﬁne", "NFC") == "ﬁne")
    assert(norm("ﬁne", "NFKC") == "fine")
    // unknown form fails at CONSTRUCTION, by name
    val e = intercept[IllegalArgumentException](
      TextAnalysis.normalizeUnicode(col("t"), "NFX"))
    assert(e.getMessage.contains("unknown Unicode form"), e.getMessage)
    // null stays null
    assert(Seq((0, null.asInstanceOf[String])).toDF("id", "t")
      .select(TextAnalysis.normalizeUnicode(col("t"))).head().isNullAt(0))
  }

  test("charEntropy: hand-computed distributions, zeros, unicode, null") {
    def ent(texts: String*): Seq[(Long, Long, Double)] =
      TextAnalysis.entropyFeatures(
          texts.zipWithIndex.map(_.swap).toDF("id", "text"),
          col("id"), col("text"))
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // uniform over 2 symbols = ln 2 (quantized: 2 x round6(0.5·ln2) = .693148)
    assert(ent("", "aaaa", "ab", "abab", "aab") == Seq(
      (0L, 0L, 0.0),          // empty
      (4L, 1L, 0.0),          // degenerate repetition: zero entropy
      (2L, 2L, 0.693148),
      (4L, 2L, 0.693148),     // same distribution, more mass
      (3L, 2L, 0.636514)))    // 2/3,1/3 mix
    // codepoints, not bytes: two-byte é counts once
    assert(ent("héé") == Seq((3L, 2L, 0.636514)))
    // null text -> zeros, never null
    assert(Seq((0, null.asInstanceOf[String])).toDF("id", "text")
      .select(graft.functions.TextHashExpressions.charEntropy(col("text")))
      .head().getStruct(0).getLong(0) == 0L)
  }

  test("fingerprint is whitespace/case-insensitive, content-sensitive") {
    val df = Seq(
      ("a", "Hello  World"),
      ("b", "hello world"),
      ("c", " hello   WORLD  "),
      ("d", "hello worlds")).toDF("id", "text")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("text")))
      .as[(String, String)].collect().toMap
    assert(fps("a") == fps("b") && fps("b") == fps("c"))
    assert(fps("d") != fps("a"))
    // codepoint-composition noise collapses too: composed vs decomposed
    // accents fingerprint identically (NFC runs first)
    val acute = new String(Character.toChars(0x0301))
    val ufps = Seq(("x", "Café du Monde"), ("y", "cafe" + acute + " du monde"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.fingerprint(col("text")))
      .as[(String, String)].collect().toMap
    assert(ufps("x") == ufps("y"), "NFC must collapse composition variants")
  }

  test("repetition features: counts, ratios, edge cases") {
    val df = Seq(
      ("1", "a b c d"),                 // all distinct
      ("2", "a a a a"),                 // one token repeated
      ("3", "go stop go stop go"),      // top bigram "go stop" x2, "stop go" x2
      ("4", ""),                        // empty
      ("5", "  x \t y\n x  "),          // mixed whitespace, x twice
      ("6", "solo")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionFeatures(df, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    def r(i: Int) = (rows(i).getAs[Long]("n_tokens"), rows(i).getAs[Long]("n_distinct"),
      rows(i).getAs[Long]("top_token_n"), rows(i).getAs[Long]("top_bigram_n"))
    assert(r(0) == ((4L, 4L, 1L, 1L)))
    assert(r(1) == ((4L, 1L, 4L, 3L)))          // "a a" appears 3x
    assert(r(2) == ((5L, 2L, 3L, 2L)))
    assert(r(3) == ((0L, 0L, 0L, 0L)))
    assert(rows(3).getAs[Double]("dup_token_ratio") == 0.0)
    assert(r(4) == ((3L, 2L, 2L, 1L)))
    assert(r(5) == ((1L, 1L, 1L, 0L)))          // no bigram from one token
    assert(rows(1).getAs[Double]("dup_token_ratio") == 0.75)
    assert(rows(1).getAs[Double]("top_token_frac") == 1.0)
  }

  test("chunking: full coverage, overlap, short tail, empty doc dropped") {
    val df = Seq(
      ("1", (1 to 10).map(i => s"t$i").mkString(" ")),  // 10 tokens
      ("2", "a b"),                                     // single short chunk
      ("3", "")                                         // no chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkByTokens(df, col("doc_id"), col("text"),
        chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id")
      .as[(String, Int, String, Int)].collect()
    // step = 3, nChunks = ceil((10-1)/3) = 3: [t1..t4],[t4..t7],[t7..t10]
    // — a 4th chunk [t10] would add no new tokens and is not emitted
    val doc1 = got.filter(_._1 == "1")
    assert(doc1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(doc1.map(_._4).toSeq == Seq(4, 4, 4))
    assert(got.filter(_._1 == "2").map(_._3).toSeq == Seq("a b"))
    assert(!got.exists(_._1 == "3"))
  }

  test("URL normalization: variants of one page collapse to one key") {
    def norm(u: String): String = Seq(u).toDF("u")
      .select(TextAnalysis.normalizeUrl(col("u"))).as[String].head()
    val canonical = "https://ex.com/A/b?a=1&b=2"
    assert(norm("HTTP://WWW.Ex.COM/A/b?b=2&a=1") == canonical)
    assert(norm("https://ex.com/A/b/?utm_source=f&a=1&b=2#frag") == canonical)
    assert(norm("https://ex.com/A/b?a=1&gclid=xyz&b=2") == canonical)
    // path case preserved, host case folded
    assert(norm("https://EX.com/A/b?a=1&b=2") == canonical)
    assert(norm("https://ex.com/a/B") != norm("https://ex.com/A/b"))
    // no query, bare host, trailing slashes
    assert(norm("http://www.site.org/") == "https://site.org")
    assert(norm("  https://site.org/p///  ") == "https://site.org/p")
    // all params tracking -> '?' dropped entirely
    assert(norm("https://s.io/x?utm_a=1&utm_b=2") == "https://s.io/x")
  }

  test("PII redaction replaces emails, IPs, and phones with typed tags") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "call +1 555 123 4567 today",
      "server 192.168.1.200 up",
      "nothing sensitive here",
      "combo a@b.io and 10.0.0.1 and 555-123-9876").toDF("text")
    val got = df.select(TextAnalysis.redactPii(col("text"))).as[String].collect().toSeq
    assert(got == Seq(
      "mail <EMAIL> now",
      "call <PHONE> today",
      "server <IP> up",
      "nothing sensitive here",
      "combo <EMAIL> and <IP> and <PHONE>"))
  }

  test("PII redaction consumes 16+-digit runs whole — no partial-tail leak") {
    val df = Seq(
      "card 4111111111111111 on file",            // 16 digits, card shape
      "acct 1234 5678 9012 3456 789 end",         // 19 digits with spaces
      "id +12345678901234567890 x",               // +-prefixed 20 digits
      "call +1 555 123 4567 today"                // 11 digits: still a phone
    ).toDF("text")
    val got = df.select(TextAnalysis.redactPii(col("text"))).as[String].collect().toSeq
    assert(got == Seq(
      "card <NUM> on file",
      "acct <NUM> end",
      "id <NUM> x",
      "call <PHONE> today"))
    // the old failure mode: no trailing digits may survive a redaction tag
    assert(!got.exists(_.matches(".*<(NUM|PHONE)>\\d.*")))
  }

  test("plan guard: tfIdf top-k prunes to k per doc before the sort (WindowGroupLimit)") {
    // The scaladoc claims the rank-limited window prunes to k rows per
    // doc BEFORE sorting the full (doc, token) frame; WindowGroupLimit is
    // the physical node that does it. If a rewrite loses the rk <= k
    // pattern the node disappears and the sort goes corpus-sized.
    val docs = Tables(spark, sfDir).documents
    val plan = TextAnalysis.tfIdf(docs, col("doc_id"), col("text"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in tfIdf plan:\n$plan")
  }

  test("bm25Search: hand-computed Okapi scores, ranking, k-limit, blank docs excluded") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian"),
      (4L, "apple cherry")).toDF("doc_id", "text")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=4 docs, total=10 tokens, avgdl=2.5; df(apple)=df(cherry)=2
    // idf = ln(1 + (4-2+0.5)/(2+0.5)) = ln 2 for both terms
    val idf = math.log(2.0)
    def norm(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5))
    val s1 = r6(idf * norm(2, 3))               // doc 1: apple tf=2
    val s2 = r6(idf * norm(1, 2))               // doc 2: cherry tf=1
    val s4 = r6(r6(idf * norm(1, 2)) * 2)       // doc 4: both terms, exact sum
    val got = TextAnalysis.bm25Search(docs, col("doc_id"), col("text"),
        Seq("apple", "cherry"), k = 10)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1, 4L, 2L, s4), (2, 1L, 1L, s1), (3, 2L, 1L, s2)),
      s"got $got, expected doc4 > doc1 > doc2 with scores ($s4, $s1, $s2)")
    // k truncates the ranking, keeping the best
    val k1 = TextAnalysis.bm25Search(docs, col("doc_id"), col("text"),
      Seq("apple", "cherry"), k = 1).as[(Int, Long, Long, Double)].collect()
    assert(k1.toSeq == Seq((1, 4L, 2L, s4)))
    // a blank document joins neither N nor avgdl: scores are unchanged
    val withBlank = docs.union(Seq((9L, "   ")).toDF("doc_id", "text"))
    val gotB = TextAnalysis.bm25Search(withBlank, col("doc_id"), col("text"),
      Seq("apple", "cherry"), k = 10).as[(Int, Long, Long, Double)].collect()
    assert(gotB.toSeq == got, "blank doc must not perturb corpus statistics")
    // duplicate query terms are not double-counted
    val gotD = TextAnalysis.bm25Search(docs, col("doc_id"), col("text"),
      Seq("apple", "apple", "cherry"), k = 10)
      .as[(Int, Long, Long, Double)].collect()
    assert(gotD.toSeq == got, "duplicate query terms must collapse")
  }

  test("plan guard: bm25Search top-k is a rank-limited sort, not a global sort") {
    val docs = Tables(spark, sfDir).documents
    val plan = TextAnalysis.bm25Search(docs, col("doc_id"), col("text"),
      Seq("spark", "merge"), k = 20).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in bm25 plan:\n$plan")
  }

  test("tfIdf: scores, ranking, and k-limit on a hand-computed corpus") {
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(df, col("doc_id"), col("text"), k = 5)
      .orderBy("doc_id", "rk")
      .as[(Long, Int, String, Long, Double)].collect().toSeq
    def s(tf: Long, df_ : Long) = // tf * ln(3/df), rounded to 6 dp
      BigDecimal(tf * math.log(3.0 / df_))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 1, "apple", 2L, s(2, 1)),   // rare + frequent-in-doc wins
      (1L, 2, "banana", 1L, s(1, 2)),
      (2L, 1, "cherry", 1L, s(1, 1)),
      (2L, 2, "banana", 1L, s(1, 2)),
      (3L, 1, "durian", 3L, s(3, 1))))
    // k truncates per doc
    val k1 = TextAnalysis.tfIdf(df, col("doc_id"), col("text"), k = 1)
    assert(k1.count() == 3 && k1.agg(max("rk")).head().getInt(0) == 1)
  }

  test("quality features on edge-case docs") {
    val df = Seq(("1", ""), ("2", "!!! ??? ..."), ("3", ("word " * 200).trim))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.qualityFeatures(df, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Double]("quality_score") == 0.0)      // empty
    assert(rows(1).getAs[Double]("quality_score") == 0.0)      // punct soup
    assert(rows(2).getAs[Double]("quality_score") == 1.0)      // long clean text
    // an `extra` column named like an output column fails by name
    // instead of duplicating (n_tokens) or being overwritten (punct_ratio)
    Seq("n_tokens", "punct_ratio").foreach { clash =>
      val e = intercept[IllegalArgumentException](TextAnalysis.qualityFeatures(
        df, col("doc_id"), col("text"), extra = Seq(clash -> lit(1))))
      assert(e.getMessage.contains(clash), e.getMessage)
    }
  }

  test("unigram logprob: rare tokens score higher; decimal sum is partitioning-invariant") {
    val docs = Seq(
      (1L, "the the the the the the the the the the"),  // all common
      (2L, "the the the the the the the the the zyzzyva") // one rare token
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(2L) > got(1L), s"rare token must raise avg -logp: $got")
    // p(the) = 19/20 for doc1: avg -ln p is exactly -ln(0.95) rounded
    assert(math.abs(got(1L) - BigDecimal(-math.log(19.0 / 20))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // same result whatever the input partitioning (decimal sum is exact,
    // no float-order dependence)
    val corpus = Tables(spark, sfDir).documents
    val a = TextAnalysis.unigramLogProb(corpus, col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(_.getDouble(2)).toSeq
    val b = TextAnalysis.unigramLogProb(corpus.repartition(13, col("source")),
        col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(_.getDouble(2)).toSeq
    assert(a == b)
  }

  test("ngram logprob: hand-computed stupid backoff, OOV floor, singleton prune") {
    // corpus: a:4 b:4 c:3 d:1 (total 12); bigrams (a,b):4 (b,c):3 (c,a):2
    // (b,d):1; trigrams (a,b,c):3 (b,c,a):2 (c,a,b):2 (a,b,d):1
    val corpus = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "a b d")
    ).toDF("doc_id", "text")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    // self-scored, no pruning: every position hand-traced
    val self = TextAnalysis.ngramLogProb(corpus, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc1: -ln(4/12), then S(b|a)=4/4, then trigram MLEs 3/4, 2/3, 1, ...
    val d1 = Seq(4.0 / 12, 1.0, 3.0 / 4, 2.0 / 3, 1.0, 3.0 / 4, 2.0 / 3, 1.0, 3.0 / 4)
    assert(self(1L)._1 == 9L)
    assert(math.abs(self(1L)._2 - d1.map(p => r6(-math.log(p))).sum / 9) < 1e-9)
    // doc2: unigram, bigram MLE 1.0, trigram MLE 1/4
    val d2 = Seq(4.0 / 12, 1.0, 1.0 / 4)
    assert(math.abs(self(2L)._2 - d2.map(p => r6(-math.log(p))).sum / 3) < 1e-9)

    // scoring fresh docs against the trained model: backoff chain + OOV
    val model = TextAnalysis.ngramTrain(corpus, col("text"))
    val y = Seq((10L, "b a zzz d")).toDF("doc_id", "text")
    val gotY = TextAnalysis.ngramScore(y, col("doc_id"), col("text"), model)
      .head()
    // pos1 unigram b: 4/12; pos2 bigram (b,a) missing -> 0.4*(4/12);
    // pos3 trigram+bigram missing, zzz OOV -> 0.4*(0.4*(1/12));
    // pos4 trigram missing, bigram (zzz,d) missing -> 0.4*(0.4*(1/12))
    val py = Seq(4.0 / 12, 0.4 * (4.0 / 12), 0.4 * (0.4 * (1.0 / 12)),
      0.4 * (0.4 * (1.0 / 12)))
    assert(gotY.getLong(1) == 4L)
    assert(math.abs(gotY.getDouble(2) - py.map(p => r6(-math.log(p))).sum / 4) < 1e-9)

    // minCount=2 prunes (b,d) and (a,b,d): doc2's "d" now backs all the
    // way off to the alpha^2 unigram path even though it is in-vocabulary
    val pruned = TextAnalysis.ngramLogProb(corpus, col("doc_id"), col("text"),
        minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val d2p = Seq(4.0 / 12, 1.0, 0.4 * (0.4 * (1.0 / 12)))
    assert(math.abs(pruned(2L) - d2p.map(p => r6(-math.log(p))).sum / 3) < 1e-9)
    // doc1's trigrams all survive minCount=2 -> unchanged
    assert(math.abs(pruned(1L) - self(1L)._2) < 1e-9)

    // blank docs vanish (no phantom grams from the descending sequence)
    val blank = Seq((20L, "  "), (21L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.ngramScore(blank, col("doc_id"), col("text"), model)
      .count() == 0)

    // decimal sum: partitioning-invariant on the real corpus
    val docs = Tables(spark, sfDir).documents
    val a = TextAnalysis.ngramLogProb(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(_.getDouble(2)).toSeq
    val b = TextAnalysis.ngramLogProb(docs.repartition(13, col("source")),
        col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(_.getDouble(2)).toSeq
    assert(a == b)
  }

  test("ngramTrain shuffle-regime guard: over-threshold model fails by " +
       "name citing minCount; allowShuffle enters deliberately unhinted") {
    // wide-vocab fixture (the ngram_join_regime derivation): hash-random
    // trigrams, so unpruned bi/tri tables are corpus-shaped
    val wide = spark.range(3000L)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("tok"),
            pmod(xxhash64(col("id"), i), lit(50000))))).as("text"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100KB")
    try {
      val e = intercept[Exception] {
        TextAnalysis.ngramTrain(wide, col("text"), minCount = 1)
      }
      assert(messageChain(e).contains("ngramTrain") &&
        messageChain(e).contains("minCount (currently 1)") &&
        messageChain(e).contains("allowShuffle"), messageChain(e))
      // the deliberate path trains, marks the model unhinted, and scores
      val m = TextAnalysis.ngramTrain(wide, col("text"), minCount = 1,
        allowShuffle = true)
      assert(!m.broadcastHint)
      val scored = TextAnalysis.ngramScore(
        wide.filter(col("doc_id") < 50), col("doc_id"), col("text"), m)
      assert(scored.count() == 50)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // an under-threshold model keeps the hinted broadcast plan: all five
    // model joins are BroadcastHashJoins in the executed plan
    val small = TextAnalysis.ngramTrain(wide.limit(100), col("text"),
      minCount = 2)
    assert(small.broadcastHint)
    val sc = TextAnalysis.ngramScore(wide.filter(col("doc_id") < 20),
      col("doc_id"), col("text"), small)
    sc.collect() // finalize the adaptive plan before counting joins
    val bhj = sc.queryExecution.executedPlan.toString
      .split("BroadcastHashJoin").length - 1
    assert(bhj >= 5, s"expected >= 5 broadcast joins, got $bhj:\n" +
      sc.queryExecution.executedPlan)
  }

  test("ngramTrain honors a disabled broadcast threshold (-1): trains " +
       "unhinted instead of crashing or defaulting to 10MB") {
    val docs = spark.range(40L)
      .select(col("id").as("doc_id"),
        concat(lit("the quick fox jumps over dog "), col("id")).as("text"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // "-1" is the standard broadcast-DISABLE value; bare byteStringAsBytes
    // throws NumberFormatException on it — this test pins the negation fix
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val m = TextAnalysis.ngramTrain(docs, col("text"))
      assert(!m.broadcastHint,
        "a broadcast-disabled session must not produce a hinted model")
      val scored = TextAnalysis.ngramScore(docs, col("doc_id"),
        col("text"), m)
      assert(scored.count() == 40)
      scored.collect()
      // and the executed plan must respect the disable: no broadcast joins
      val bhj = scored.queryExecution.executedPlan.toString
        .split("BroadcastHashJoin").length - 1
      assert(bhj == 0, s"user disabled broadcasting but plan has $bhj " +
        s"broadcast joins:\n${scored.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("plan guard: boilerplate filter is a broadcast anti join; only reassembly shuffles text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables(spark, sfDir).documents
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = TextAnalysis.stripBoilerplate(docs, col("doc_id"), col("text"))
        .queryExecution.executedPlan
      val anti = root.collect {
        case j: BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(anti.nonEmpty, s"boilerplate set must broadcast into an anti join:\n$root")
      // the frequency agg exchanges hashes; the single text-carrying
      // exchange is the output-sized doc-keyed reassembly
      val textShuffles = root.collect { case e: ShuffleExchangeLike => e }
        .count(_.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]
          .output.exists(a => a.dataType.toString.toLowerCase.contains("string")))
      assert(textShuffles <= 1,
        s"expected at most one text-carrying exchange (reassembly), got $textShuffles:\n$root")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("boilerplate paragraphs stripped, order kept, all-boilerplate docs vanish") {
    val bp = "subscribe now"
    val docs = Seq(
      (1L, s"unique one\n$bp\nunique two"),
      (2L, s"$bp\nanother body"),
      (3L, s"third body\n$bp"),
      (4L, bp),                               // nothing survives
      (5L, "kept alone\nkept alone")          // repeats WITHIN one doc only
    ).toDF("doc_id", "text")
    val got = TextAnalysis.stripBoilerplate(docs, col("doc_id"), col("text"),
        sep = "\n", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "unique one\nunique two",
      2L -> "another body",
      3L -> "third body",
      5L -> "kept alone\nkept alone"), s"got $got")
    // over-cap guard: dropping the broadcast hint returns the same result
    val fallback = TextAnalysis.stripBoilerplate(docs, col("doc_id"), col("text"),
        sep = "\n", minDocs = 3, maxBroadcastParagraphs = 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fallback == got)
  }

  test("bpeTrain: hand merges, chained adjacency, tie-break, early stop, filters") {
    def train(texts: Seq[String], n: Int) =
      TextAnalysis.bpeTrain(texts.zipWithIndex.map(_.swap).toDF("id", "text"),
          col("text"), nMerges = n)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    // frequencies drive selection; exhaustion stops early (2 of 4 asked)
    assert(train(Seq("ab ab ab", "cd"), 4) ==
      Seq((1, "a", "b", 3L), (2, "c", "d", 1L)))
    // chained adjacency: greedy left-to-right merge inside one pass —
    // "aaaa" must become [aa, aa] after merge 1, then [aaaa] after 2
    // (the property the double-separator replace encoding must deliver)
    assert(train(Seq("aaaa aaaa"), 3) ==
      Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)))
    // equal-frequency tie breaks lexicographically on (left, right)
    assert(train(Seq("xz xy"), 1) == Seq((1, "x", "y", 1L)))
    // non-letter / single-char words never train; sub-symbol merges chain
    val lw = train(Seq("low low lower Upper x1 a"), 6)
    assert(lw.take(2) == Seq((1, "l", "o", 3L), (2, "lo", "w", 3L)), lw.toString)
    assert(lw.forall(m => !m._2.contains("U") && !m._3.contains("1")), lw.toString)
  }

  test("bpeEncode: hand merges, rank order, OOV passthrough, null, bad table by name") {
    def enc(texts: Seq[String], merges: Seq[(String, String)]): Seq[Seq[String]] =
      texts.zipWithIndex.map(_.swap).toDF("id", "text").orderBy(col("id"))
        .select(TextAnalysis.bpeEncode(col("text"), merges))
        .collect().map(_.getSeq[String](0)).toSeq
    // hand-tokenized merges: lowest gets low+e+s+t, lower gets low+er
    assert(enc(Seq("low lower lowest"), Seq("l" -> "o", "lo" -> "w", "e" -> "r")) ==
      Seq(Seq("low", "low", "er", "low", "e", "s", "t")))
    // rank order decides conflicts: (a,b) first eats the b that (b,c) wanted
    assert(enc(Seq("abc"), Seq("a" -> "b", "b" -> "c")) == Seq(Seq("ab", "c")))
    assert(enc(Seq("abc"), Seq("b" -> "c", "a" -> "b")) == Seq(Seq("a", "bc")))
    // chained occurrences merge greedily left-to-right within one rank
    assert(enc(Seq("aaaa aaa"), Seq("a" -> "a", "aa" -> "aa")) ==
      Seq(Seq("aaaa", "aa", "a")))
    // OOV passthrough: mixed case, digits, apostrophes, non-ASCII bytes —
    // exactly the tokens training skipped stay single opaque symbols
    assert(enc(Seq("Low lo9w l'ow héllo low"), Seq("l" -> "o", "lo" -> "w")) ==
      Seq(Seq("Low", "lo9w", "l'ow", "héllo", "low")))
    // empty and blank docs encode to empty arrays
    assert(enc(Seq("", " \t "), Seq("a" -> "b")) == Seq(Seq(), Seq()))
    // null text stays null
    assert(Seq((0, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextAnalysis.bpeEncode(col("text"), Seq("a" -> "b")))
      .head().isNullAt(0))
    // marked encode: first symbol of each word carries U+2581; detok
    // reconstructs the whitespace-NORMALIZED text exactly
    val mm = Seq("l" -> "o", "lo" -> "w")
    val markedDf = Seq((0, " low\t lower  x9 ")).toDF("id", "text")
      .select(TextAnalysis.bpeEncodeMarked(col("text"), mm).as("toks"))
    assert(markedDf.head().getSeq[String](0) ==
      Seq("▁low", "▁low", "e", "r", "▁x9"))
    assert(markedDf.select(TextAnalysis.bpeDetokenize(col("toks")))
      .head().getString(0) == "low lower x9")
    // the documented marker-collision caveat: a literal U+2581 in the
    // input reads as a word break after detok (imperfect, never wrong-silent)
    assert(Seq((0, "a▁b")).toDF("id", "text")
      .select(TextAnalysis.bpeDetokenize(
        TextAnalysis.bpeEncodeMarked(col("text"), mm)))
      .head().getString(0) == "a b")
    // token ids: letters 0-25, merge outputs 25+rank, OOV -> -1
    val m = Seq("l" -> "o", "lo" -> "w")
    assert(TextAnalysis.bpeVocab(m).takeRight(2) == Seq("lo" -> 26, "low" -> 27))
    // colliding outputs keep the lowest-rank id (the mapping stays a function)
    assert(TextAnalysis.bpeVocab(Seq("a" -> "bc", "ab" -> "c"))
      .count(_._1 == "abc") == 1)
    assert(Seq((0, "low lower x9")).toDF("id", "text")
      .select(TextAnalysis.bpeEncodeIds(col("text"), m))
      .head().getSeq[Int](0) == Seq(27, 27, 4, 17, -1))
    // a merge symbol outside the letters-only contract fails by name
    val e = intercept[Exception](enc(Seq("x"), Seq("A" -> "b")))
    assert(messageChain(e).contains("bpeTable"), messageChain(e))
    val e2 = intercept[Exception](enc(Seq("x"), Seq("a" -> "b", "a" -> "b")))
    assert(messageChain(e2).contains("duplicate merge pair"), messageChain(e2))
    // a hand-authored table whose member is not derivable from earlier
    // merges breaks the min-rank/sequential-replace equivalence — the
    // table builder rejects it by name instead of silently diverging
    val e3 = intercept[Exception](enc(Seq("x"), Seq("bc" -> "d", "b" -> "c")))
    assert(messageChain(e3).contains("lower-ranked merge"), messageChain(e3))
    // while a properly-derived multi-letter member is accepted
    enc(Seq("bcd"), Seq("b" -> "c", "bc" -> "d"))
  }

  test("bpeEncode on the corpus: kernel == sequential-replace reference; " +
       "detokenize round trip; count feeds packSequencesBy") {
    val docs = Tables(spark, sfDir).documents
    val merges = TextAnalysis.bpeMerges(
      TextAnalysis.bpeTrain(docs, col("text"), nMerges = 12))
    assert(merges.size == 12)
    val both = docs.select(col("doc_id"),
      TextAnalysis.bpeEncode(col("text"), merges).as("fast"),
      TextAnalysis.bpeEncodeViaReplace(col("text"), merges).as("ref"),
      TextAnalysis.tokens(col("text")).as("toks"))
    // (1) the min-rank kernel and the rank-sequential replace-all
    // formulation (the one the DuckDB oracle replays) agree exactly;
    // (2) concatenating a doc's symbols reconstructs its tokens — no
    // byte is ever lost or invented by the encoder
    val bad = both.filter(
      col("fast") =!= col("ref") ||
        array_join(col("fast"), "") =!= array_join(col("toks"), "")).count()
    assert(bad == 0, "kernel / reference / round-trip disagreement")
    // the encoded count is a valid packing budget: every sequence from
    // packSequencesBy is exactly seqLen except each shard's last
    val packed = graft.operators.Sampling.packSequencesBy(
      docs, col("doc_id"), TextAnalysis.bpeEncodeCount(col("text"), merges),
      nShards = 2, seqLen = 64, salt = "spec")
    val seqTotals = packed.groupBy(col("shard"), col("seq_id"))
      .agg(sum(col("n_toks")).as("n"))
    val maxSeq = seqTotals.groupBy(col("shard"))
      .agg(max(col("seq_id")).as("last"))
    val short = seqTotals.join(maxSeq, "shard")
      .filter(col("seq_id") < col("last") && col("n") =!= 64).count()
    assert(short == 0, "a non-final sequence is not exactly seqLen")
  }

  test("nbQuality: hand-computed Laplace llr, OOV, priors, null poison") {
    // pos: d1 "apple banana apple", d2 "banana cherry"
    // neg: d3 "spam spam", d4 "spam junk cherry"
    // counts: pos {apple 2, banana 2, cherry 1} tot 5;
    //         neg {spam 3, junk 1, cherry 1} tot 5; vocab 5; priors 2/2
    // llr: apple/banana ln3=1.098612, cherry 0, spam ln(1/4)=-1.386294,
    //      junk ln(1/2)=-0.693147, OOV ln(1/1)=0; prior ln(3/3)=0
    val corpus = Seq(
      (1L, true, "apple banana apple"), (2L, true, "banana cherry"),
      (3L, false, "spam spam"), (4L, false, "spam junk cherry"))
      .toDF("id", "y", "text")
    val got = TextAnalysis.nbQuality(corpus, col("id"), col("y"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      1L -> ((3L, 3.295836, true)),   // 3 * ln 3
      2L -> ((2L, 1.098612, true)),   // ln 3 + 0
      3L -> ((2L, -2.772588, false)), // 2 * ln(1/4)
      4L -> ((3L, -2.079441, false))  // ln(1/4) + ln(1/2) + 0
    ), got.toString)
    // scoring a FRESH doc against the trained model: OOV contributes the
    // pure-smoothing ratio (0 here, symmetric totals)
    val model = TextAnalysis.nbTrain(corpus, col("y"), col("text"))
    val fresh = TextAnalysis.nbScore(
        Seq((9L, "apple spam zzz")).toDF("id", "text"),
        col("id"), col("text"), model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    assert(fresh == Seq((9L, 3L, -0.287682, false)), fresh.toString)
    // unbalanced priors enter the score: drop d2 -> priors 1/2,
    // prior term ln(2/3) = -0.405465; "cherry" llr = ln((1/8)/(2/10))
    // = -0.470004 -> score -0.875469
    val m2 = TextAnalysis.nbTrain(corpus.filter(col("id") =!= 2L),
      col("y"), col("text"))
    val ch = TextAnalysis.nbScore(Seq((9L, "cherry")).toDF("id", "text"),
        col("id"), col("text"), m2)
      .collect().map(r => (r.getDouble(2), r.getBoolean(3))).toSeq
    assert(ch == Seq((-0.875469, false)), ch.toString)
    // a null label poisons by name when the training aggregate runs
    val withNull = Seq((1L, Some(true), "a b"), (2L, Option.empty[Boolean], "c"))
      .toDF("id", "y", "text")
    def msg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        ++ Iterator(t.toString)).mkString(" | ")
    val e = intercept[Exception] {
      TextAnalysis.nbQuality(withNull, col("id"), col("y"), col("text"))
        .collect()
    }
    assert(msg(e).contains("nbTrain"), msg(e))
    // an empty-token doc has no evidence and is dropped, not scored
    val empty = TextAnalysis.nbScore(
        Seq((7L, "   ")).toDF("id", "text"), col("id"), col("text"), model)
      .collect()
    assert(empty.isEmpty)
  }

  test("nbEval: hand-computed confusion matrix, quant6 quotients, null " +
       "on empty denominators, token-less docs out of scope") {
    val train = Seq(
      (1L, true, "apple banana apple"), (2L, true, "banana cherry"),
      (3L, false, "spam spam"), (4L, false, "spam junk cherry"))
      .toDF("id", "y", "text")
    val model = TextAnalysis.nbTrain(train, col("y"), col("text"))
    // held out: apple->pos (TP), spam->neg (TN), spam but labeled
    // pos (FN), apple but labeled neg (FP x2), blank (dropped)
    val held = Seq(
      (10L, true, "apple apple"), (11L, false, "spam"),
      (12L, true, "spam junk"), (13L, false, "apple"),
      (14L, false, "banana apple"), (15L, true, "   "))
      .toDF("id", "y", "text")
    val r = TextAnalysis.nbEval(held, col("id"), col("y"), col("text"),
      model).collect()
    assert(r.length == 1)
    val row = r(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4)) == ((5L, 1L, 2L, 1L, 1L)),
      row.toString)
    // precision 1/3, recall 1/2, accuracy 2/5 — quant6'd
    assert(row.getDouble(5) == 0.333333 && row.getDouble(6) == 0.5 &&
      row.getDouble(7) == 0.4, row.toString)
    // an all-negative-predicted slice: precision null, not fabricated
    val r2 = TextAnalysis.nbEval(
      Seq((20L, false, "spam spam"), (21L, true, "junk")).toDF("id", "y", "text"),
      col("id"), col("y"), col("text"), model).collect()(0)
    assert(r2.isNullAt(5) && r2.getDouble(6) == 0.0 && r2.getDouble(7) == 0.5,
      r2.toString)
  }

  test("fixMojibake: repairs the double-encoding round trip, leaves " +
       "clean text alone, single-pass on double corruption") {
    import graft.operators.TextAnalysis.{fixMojibake, mojify}
    val phrase = "café — \u201cquoted\u201d …costs €5• naïve Ñandú ÀÉÎÕÜ ß’s"
    val corrupt = mojify(phrase)
    assert(corrupt != phrase && corrupt.contains("Ã©"), corrupt)
    val out = Seq((1L, corrupt), (2L, "plain ascii text stays put"),
        (3L, mojify(corrupt)))
      .toDF("id", "text")
      .select(col("id"), fixMojibake(col("text")).as("clean"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == phrase, out(0).getString(1))
    assert(out(1).getString(1) == "plain ascii text stays put")
    // double-mojified text is OUT OF CONTRACT (decode-once semantics;
    // the C2 passthrough bytes a second corruption level introduces are
    // deliberately not table rules) -- one pass repairs one level and
    // must not pretend otherwise
    assert(out(2).getString(1) != phrase, "double corruption is not repaired in one pass")
    // the five letters whose UTF-8 second byte is cp1252-undefined are
    // the sloppy-mapping regression guard: each must round-trip
    Seq("\u00c1", "\u00cd", "\u00cf", "\u00d0", "\u00dd", "\u201d").foreach { ch =>
      val fixed = Seq(Tuple1(mojify(ch))).toDF("text")
        .select(fixMojibake(col("text"))).collect()(0).getString(0)
      assert(fixed == ch, s"sloppy-cp1252 round trip broke for $ch: $fixed")
    }
  }

  test("unigram tokenizer: hand-computed train table, Viterbi optimum, " +
       "fewest-pieces tie-break, OOV and unseen-char penalties") {
    import graft.operators.TextAnalysis
    // corpus: "ab ab b" -> words ab(f2), b(f1); pieces a(2) b(3) ab(2),
    // total 7
    val docs = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val table = TextAnalysis.unigramTrain(docs, col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def micro(c: Long) = math.floor(math.log(c.toDouble / 7.0) * 1e6 + 0.5).toLong
    assert(table == Map("a" -> (2L, micro(2)), "b" -> (3L, micro(3)),
      "ab" -> (2L, micro(2))), table.toString)
    // Viterbi on "ab": [ab] (one ln(2/7)) beats [a, b]
    val seg = Seq(Tuple1("ab")).toDF("text")
      .select(TextAnalysis.unigramSegment(col("text"),
        table.toSeq.map { case (p, (_, m)) => (p, m) }).as("s"))
      .select(col("s.logp_micro"), col("s.n_pieces")).collect()(0)
    assert(seg.getLong(0) == micro(2) && seg.getLong(1) == 1L, seg.toString)
    // exact score tie -> fewest pieces wins
    val tiePieces = Seq(("a", -1000000L), ("b", -1000000L), ("ab", -2000000L))
    val tie = Seq(Tuple1("ab")).toDF("text")
      .select(TextAnalysis.unigramSegment(col("text"), tiePieces).as("s"))
      .select(col("s.logp_micro"), col("s.n_pieces")).collect()(0)
    assert(tie.getLong(0) == -2000000L && tie.getLong(1) == 1L, tie.toString)
    // non-lowercase token: one OOV piece at the UNK penalty; unseen
    // lowercase char: per-char UNK inside the DP
    val oov = Seq(Tuple1("Ab9 az")).toDF("text")
      .select(TextAnalysis.unigramSegment(col("text"), tiePieces).as("s"))
      .select(col("s.logp_micro"), col("s.n_pieces")).collect()(0)
    // "Ab9" -> (-20e6, 1); "az" -> a(-1e6) + z(-20e6), 2 pieces
    assert(oov.getLong(0) == -41000000L && oov.getLong(1) == 3L, oov.toString)
    // blank scores (0, 0)
    val blank = Seq(Tuple1("   ")).toDF("text")
      .select(TextAnalysis.unigramSegment(col("text"), tiePieces).as("s"))
      .select(col("s.logp_micro"), col("s.n_pieces")).collect()(0)
    assert(blank.getLong(0) == 0L && blank.getLong(1) == 0L)
  }

  test("unigram hard-EM: path consistency with the scorer, hand-checked " +
       "re-estimation, EM pruning") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val pieces = TextAnalysis.unigramPieces(
      TextAnalysis.unigramTrain(docs, col("text")))
    val tab = pieces.toMap
    // the emitted path's length and table-score sum must equal the
    // scorer's (n_pieces, logp_micro) on every doc
    val both = docs.select(
      TextAnalysis.unigramSegment(col("text"), pieces).as("s"),
      TextAnalysis.unigramSegmentPieces(col("text"), pieces).as("p"))
      .collect()(0)
    val path = both.getSeq[String](1)
    assert(path.length.toLong == both.getStruct(0).getLong(1), path.toString)
    assert(path.map(tab).sum == both.getStruct(0).getLong(0), path.toString)
    // hand EM: "ab" segments as [ab] (f 2), "b" as [b] (f 1) ->
    // counts ab=2, b=1, total 3; 'a' is pruned (never on a best path)
    val em = TextAnalysis.unigramEmStep(docs, col("text"), pieces)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def m(c: Long, t: Long) =
      math.floor(math.log(c.toDouble / t) * 1e6 + 0.5).toLong
    assert(em == Map("ab" -> (2L, m(2, 3)), "b" -> (1L, m(1, 3))),
      em.toString)
  }

  test("unigramSegmentIds: rank-ordered vocab, path ids match pieces, " +
       "OOV and unseen map to -1") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val model = TextAnalysis.unigramTrain(docs, col("text"))
    val pieces = TextAnalysis.unigramPieces(model)
    val vocab = TextAnalysis.unigramVocab(model).toMap
    // counts: a=2, ab=2, b=3 -> rank: b(0), a(1), ab(2) by (cnt desc, piece)
    assert(vocab == Map("b" -> 0, "a" -> 1, "ab" -> 2), vocab.toString)
    val ids = Seq(Tuple1("ab b Zed xq")).toDF("text")
      .select(TextAnalysis.unigramSegmentIds(col("text"), pieces,
        vocab.toSeq).as("ids")).collect()(0).getSeq[Int](0)
    // "ab" -> [ab]=2; "b" -> [b]=0; "Zed" OOV -> -1; "xq" lowercase but
    // unseen chars -> two -1 pieces
    assert(ids == Seq(2, 0, -1, -1, -1), ids.toString)
  }
}
