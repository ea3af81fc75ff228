package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The text-hash kernels as static JVM methods, callable both from
  * interpreted `eval` and from generated code (top-level Scala objects get
  * static forwarders, so codegen emits a plain
  * `graft.functions.TextKernels.shingleMinhash(...)` call). Keeping the
  * kernels out of generated source — instead of transliterating the loops
  * to Java strings — keeps them JIT-friendly and in one audited place,
  * while the calling expressions still participate in whole-stage codegen
  * (no CodegenFallback `eval` boxing on the surrounding operators).
  *
  * All return `null` (never throw) for texts with fewer than `ngram`
  * tokens, matching the expressions' nullability contract.
  */
object TextKernels {

  private val SEED1 = 42L
  private val SEED2 = 0x9747b28cL

  /** Byte offsets where each token starts, plus a sentinel end. For text
    * with tokens t0..tm split on single spaces, token j spans
    * [starts(j), starts(j+1) - 1) and the n-gram from j spans
    * [starts(j), starts(j+n) - 1). */
  private def tokenStarts(base: AnyRef, offset: Long, len: Int): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, offset + i) == ' ') spaces += 1
      i += 1
    }
    val starts = new Array[Int](spaces + 2)
    starts(0) = 0
    var s = 1
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, offset + i) == ' ') {
        starts(s) = i + 1; s += 1
      }
      i += 1
    }
    starts(s) = len + 1   // sentinel: "start of the token after the last"
    starts
  }

  /** Visit every word `ngram`-shingle of `text` as (byteStart, byteLen). */
  @inline private def foreachShingle(text: UTF8String, ngram: Int)
                                    (f: (AnyRef, Long, Int) => Unit): Int = {
    val base = text.getBaseObject
    val offset = text.getBaseOffset
    val len = text.numBytes()
    if (len == 0) return 0
    val starts = tokenStarts(base, offset, len)
    val nTokens = starts.length - 1
    val nShingles = nTokens - ngram + 1
    var j = 0
    while (j < nShingles) {
      val s = starts(j)
      val e = starts(j + ngram) - 1   // strip the trailing separator
      f(base, offset + s, e - s)
      j += 1
    }
    math.max(nShingles, 0)
  }

  /** `array<long>` MinHash signature of the word-`ngram` shingle set, or
    * null. Kirsch–Mitzenmacher double hashing: two XXH64 per shingle. */
  def shingleMinhash(text: UTF8String, ngram: Int, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = foreachShingle(text, ngram) { (base, off, len) =>
      val h1 = XXH64.hashUnsafeBytes(base, off, len, SEED1)
      val h2 = XXH64.hashUnsafeBytes(base, off, len, SEED2)
      var k = 0
      var h = h1
      while (k < numHashes) {
        if (h < mins(k)) mins(k) = h
        h += h2
        k += 1
      }
    }
    if (n <= 0) null else new GenericArrayData(mins)
  }

  /** Boxed 64-bit SimHash of the word-`ngram` shingle multiset, or null. */
  def simhash64(text: UTF8String, ngram: Int): java.lang.Long = {
    val sums = new Array[Int](64)
    val n = foreachShingle(text, ngram) { (base, off, len) =>
      val h = XXH64.hashUnsafeBytes(base, off, len, SEED1)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
    }
    if (n <= 0) null
    else {
      var out = 0L
      var b = 0
      while (b < 64) {
        if (sums(b) >= 0) out |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(out)
    }
  }

  /** Distinct word-`ngram` shingle strings (insertion order), or null. */
  def shingles(text: UTF8String, ngram: Int): ArrayData = {
    val bytes = text.getBytes   // one copy; views below share it
    val out = new java.util.LinkedHashSet[UTF8String]()
    val textOffset = text.getBaseOffset
    val n = foreachShingle(text, ngram) { (_, off, len) =>
      out.add(UTF8String.fromBytes(bytes, (off - textOffset).toInt, len))
    }
    if (n <= 0) null
    else {
      val arr = new Array[Any](out.size)
      val it = out.iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      new GenericArrayData(arr)
    }
  }

  /** XXH64 of the word-`ngram` window at EVERY position (non-distinct,
    * document order), or null when the text has fewer than `ngram`
    * tokens. The positional multiset is what span-level dedup needs —
    * which positions of which documents repeat across the corpus — and
    * hashing in the kernel means downstream operators shuffle fixed-width
    * longs, never window strings. */
  def spanHashes(text: UTF8String, ngram: Int): ArrayData = {
    var arr = new Array[Long](16)
    var n = 0
    val total = foreachShingle(text, ngram) { (base, off, len) =>
      if (n == arr.length) {
        val na = new Array[Long](n * 2)
        System.arraycopy(arr, 0, na, 0, n)
        arr = na
      }
      arr(n) = XXH64.hashUnsafeBytes(base, off, len, SEED1)
      n += 1
    }
    if (total <= 0) null
    else new GenericArrayData(java.util.Arrays.copyOf(arr, n))
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0B

  /** PROFILE language id in one pass — char-trigram profile hits weighted
    * 1000 plus stopword token hits as the built-in tie-break, argmax with
    * first-declared-wins ties, "und" when nothing scores. `norm` is the
    * ALREADY-NORMALIZED text (lowercased, whitespace collapsed to single
    * spaces, trimmed — the caller builds that declaratively so the SQL
    * oracle can replay it with the same regexes the fingerprint op uses).
    *
    * Trigram windows are every 3 consecutive CODEPOINTS of `norm`
    * including the single spaces, so boundary grams ("he ", " th") carry
    * word-edge signal without padding. Codepoints — not UTF-16 units —
    * are the window unit, so emoji/CJK-Ext-B text scores exactly like a
    * codepoint replay (the SQL oracle's unit) and astral profile grams
    * are legal. Scores are Long: a trigram-dense giant document must
    * not wrap Int. */
  def langIdProfile(norm: UTF8String,
                    tg: TrigramTable,
                    swSets: Array[java.util.HashSet[UTF8String]],
                    names: Array[UTF8String], und: UTF8String): UTF8String = {
    val nLangs = names.length
    val scores = new Array[Long](nLangs)
    // stopword token hits over the single-space-separated norm bytes
    val bytes = norm.getBytes
    val len = bytes.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      while (i < len && !isWs(bytes(i))) i += 1
      if (i > s) {
        val tok = UTF8String.fromBytes(bytes, s, i - s)
        var l = 0
        while (l < nLangs) {
          if (swSets(l).contains(tok)) scores(l) += 1L
          l += 1
        }
      }
    }
    // char-trigram profile hits, weight 1000: a rolling packed-long
    // CODEPOINT window (21-bit fields — astral chars are one position,
    // not a surrogate pair) probed once per position against the single
    // combined table — no per-position substring, no per-language probe
    val str = norm.toString
    val n = str.length
    var packed = 0L
    var seen = 0
    var p = 0
    while (p < n) {
      val cp = str.codePointAt(p)
      p += Character.charCount(cp)
      packed = TrigramTable.roll(packed, cp)
      seen += 1
      if (seen >= 3) {
        var m = tg.lookup(packed)
        if (m != 0) {
          var l = 0
          while (m != 0) {
            if ((m & 1) != 0) scores(l) += 1000L
            m >>>= 1
            l += 1
          }
        }
      }
    }
    var best = 0L
    var l = 0
    while (l < nLangs) {
      if (scores(l) > best) best = scores(l)
      l += 1
    }
    if (best == 0L) und
    else {
      var w = 0
      while (scores(w) != best) w += 1
      names(w)
    }
  }

  /** Repetition statistics in one pass: (n_tokens, n_distinct,
    * top_token_count, top_bigram_count) as an InternalRow. Tokens split on
    * ASCII-whitespace runs (same scan as [[langIdProfile]]); bigrams are adjacent
    * token pairs. The standard corpus-quality repetition signals
    * (duplicate-token ratio, top-n-gram fraction) derive from these counts
    * declaratively. Empty/blank text → all zeros, never null. */
  def repetitionStats(text: UTF8String): InternalRow = {
    val bytes = text.getBytes   // one copy; token views share it
    val len = bytes.length
    val tokCounts = new java.util.HashMap[UTF8String, Int]()
    val bigramCounts = new java.util.HashMap[UTF8String, Int]()
    var nTokens = 0
    var prevStart = -1
    var prevEnd = -1
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      while (i < len && !isWs(bytes(i))) i += 1
      if (i > s) {
        nTokens += 1
        val tok = UTF8String.fromBytes(bytes, s, i - s)
        tokCounts.merge(tok, 1, (a, b) => a + b)
        if (prevStart >= 0) {
          // bigram "prev cur" as a single byte run with one space
          val bg = new Array[Byte]((prevEnd - prevStart) + 1 + (i - s))
          System.arraycopy(bytes, prevStart, bg, 0, prevEnd - prevStart)
          bg(prevEnd - prevStart) = ' '
          System.arraycopy(bytes, s, bg, prevEnd - prevStart + 1, i - s)
          bigramCounts.merge(UTF8String.fromBytes(bg), 1, (a, b) => a + b)
        }
        prevStart = s
        prevEnd = i
      }
    }
    var topTok = 0
    val it = tokCounts.values().iterator()
    while (it.hasNext) { val c = it.next(); if (c > topTok) topTok = c }
    var topBg = 0
    val it2 = bigramCounts.values().iterator()
    while (it2.hasNext) { val c = it2.next(); if (c > topBg) topBg = c }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, tokCounts.size(), topTok, topBg))
  }

  /** Boxed exact Jaccard of the two texts' distinct shingle sets, or null
    * when either side has fewer than `ngram` tokens. */
  def shingleJaccard(a: UTF8String, b: UTF8String, ngram: Int): java.lang.Double = {
    val setA = new java.util.HashSet[UTF8String]()
    val bytesA = a.getBytes
    val offA = a.getBaseOffset
    val na = foreachShingle(a, ngram) { (_, off, len) =>
      setA.add(UTF8String.fromBytes(bytesA, (off - offA).toInt, len))
    }
    if (na <= 0) return null
    val setB = new java.util.HashSet[UTF8String]()
    val bytesB = b.getBytes
    val offB = b.getBaseOffset
    val nb = foreachShingle(b, ngram) { (_, off, len) =>
      setB.add(UTF8String.fromBytes(bytesB, (off - offB).toInt, len))
    }
    if (nb <= 0) return null
    var inter = 0
    val it = setB.iterator()
    while (it.hasNext) if (setA.contains(it.next())) inter += 1
    val uni = setA.size + setB.size - inter
    java.lang.Double.valueOf(inter.toDouble / uni)
  }

  /** The deletion neighborhood of `key`: every distinct string reachable by
    * deleting at most `maxDist` characters (the key itself included — zero
    * deletions). Two strings within edit distance d always share a member
    * of their d-deletion neighborhoods (align the edit script and delete
    * the substituted/inserted characters from each side), which is what
    * makes the neighborhood an LSH-style band key for edit-distance joins
    * ([[graft.operators.FuzzyJoin]]). Size is O(L^maxDist), so this is for
    * KEYS (names, titles, normalized URLs), not documents.
    *
    * Deletions operate on CODEPOINTS — an astral-plane character
    * (emoji, CJK Ext-B) is one deletable unit, never a split surrogate
    * pair — so neighborhoods agree with any engine's codepoint-level
    * replay on every input. */
  def deletionNeighborhood(key: UTF8String, maxDist: Int): ArrayData = {
    val s = key.toString
    val seen = new java.util.LinkedHashSet[String]()
    seen.add(s)
    var frontier: List[String] = s :: Nil
    var d = 0
    while (d < maxDist && frontier.nonEmpty) {
      var next: List[String] = Nil
      frontier.foreach { t =>
        var i = 0
        while (i < t.length) {
          val cc = Character.charCount(t.codePointAt(i))
          val v = t.substring(0, i) + t.substring(i + cc)
          if (seen.add(v)) next = v :: next
          i += cc
        }
      }
      frontier = next
      d += 1
    }
    val arr = new Array[Any](seen.size)
    val it2 = seen.iterator()
    var i = 0
    while (it2.hasNext) { arr(i) = UTF8String.fromString(it2.next()); i += 1 }
    new GenericArrayData(arr)
  }

  /** Unicode normalization (java.text.Normalizer — the JDK implements
    * the standard UAX #15 algorithm, so any compliant engine produces
    * identical output; DuckDB's `nfc_normalize` replays the NFC form in
    * the oracle). The canonical pre-dedup/fingerprint step: visually
    * identical strings with different codepoint sequences (composed é
    * vs e + COMBINING ACUTE) must collapse BEFORE hashing, or every
    * downstream exact/near-dup key silently misses them. */
  def normalize(text: UTF8String, form: String): UTF8String = {
    val f = form match {
      case "NFC" => java.text.Normalizer.Form.NFC
      case "NFD" => java.text.Normalizer.Form.NFD
      case "NFKC" => java.text.Normalizer.Form.NFKC
      case "NFKD" => java.text.Normalizer.Form.NFKD
      case other => throw new IllegalArgumentException(
        s"normalize: unknown Unicode form '$other' (NFC|NFD|NFKC|NFKD)")
    }
    val s = text.toString
    // fast path: already-normalized text (ASCII always is) copies nothing
    if (java.text.Normalizer.isNormalized(s, f)) text
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }

  /** Codepoint-distribution statistics in one pass:
    * `(n_cp, n_distinct_cp, entropy)` as an InternalRow — Shannon
    * entropy in nats of the text's codepoint histogram, the classic
    * two-tailed corpus-quality signal (≈0 flags repetitive/degenerate
    * boilerplate, ≈ln(alphabet) flags random/encoded junk; prose sits in
    * between). Per-codepoint terms `−p·ln p` are rounded to 6 decimals
    * (BigDecimal.valueOf — the shortest-decimal rounding Spark's own
    * `round` uses) and summed EXACTLY in ascending-codepoint order, so
    * any engine replays the identical arithmetic (the ngram-logprob
    * convention: DECIMAL fixed-order sums, never float accumulation).
    * Empty/blank text → all zeros, never null. */
  def charEntropy(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = scala.collection.mutable.HashMap.empty[Int, Long]
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts(cp) = counts.getOrElse(cp, 0L) + 1L
      i += Character.charCount(cp)
      n += 1
    }
    var sum = java.math.BigDecimal.ZERO
    if (n > 0L) {
      val keys = counts.keys.toArray
      java.util.Arrays.sort(keys)
      var k = 0
      while (k < keys.length) {
        val p = counts(keys(k)).toDouble / n
        sum = sum.add(java.math.BigDecimal.valueOf(-p * math.log(p))
          .setScale(6, java.math.RoundingMode.HALF_UP))
        k += 1
      }
    }
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    r.setLong(0, n)
    r.setLong(1, counts.size.toLong)
    r.setDouble(2, sum.doubleValue)
    r
  }

  /** Build the pair→rank lookup a [[bpeEncode]] expression holds: key is
    * `left + ' ' + right`, value the 1-based merge rank (sequence
    * order). Validates the letters-only training contract by name — a
    * merge symbol outside `[a-z]+` could collide with the passthrough
    * tokens and silently re-segment them. */
  def bpeTable(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    // Derivability fence: the min-rank kernel is provably equivalent to
    // sequential replace-all ONLY when each merge member is a single
    // base symbol or the OUTPUT of a strictly lower-ranked merge (the
    // invariant bpeTrain's counting necessarily produces). A
    // hand-authored table violating it — e.g. [("bc","d"),("b","c")] —
    // would make the two formulations silently diverge, so reject it by
    // name here instead.
    val derivable = new java.util.HashSet[String]()
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(l.nonEmpty && r.nonEmpty && (l + r).forall(c => c >= 'a' && c <= 'z'),
        s"bpeTable: merge symbols must be nonempty lowercase letters " +
          s"(the bpeTrain contract), got ('$l','$r') at rank ${i + 1}")
      Seq(l, r).foreach { s =>
        require(s.length == 1 || derivable.contains(s),
          s"bpeTable: merge member '$s' at rank ${i + 1} is neither a " +
            "single letter nor the output of a lower-ranked merge — such " +
            "a table breaks the min-rank/sequential-replace equivalence " +
            "(bpeTrain never produces one; re-derive the table from " +
            "training instead of hand-authoring it)")
      }
      derivable.add(l + r)
      val prev = m.put(l + " " + r, Integer.valueOf(i + 1))
      require(prev == null,
        s"bpeTable: duplicate merge pair ('$l','$r') — ranks would be ambiguous")
    }
    m
  }

  /** BPE MERGE APPLICATION (tokenizer encode) — apply a trained merge
    * table ([[graft.operators.TextAnalysis.bpeTrain]] output) to one
    * document, emitting the flat subword-symbol sequence.
    *
    * Tokens split on ASCII-whitespace runs (same scan as [[langIdProfile]]).
    * Lowercase-letter words take the classical encoder loop: start from
    * single characters, repeatedly find the LOWEST-RANK adjacent pair
    * present (one O(len) scan with O(1) hash lookups) and merge all its
    * left-to-right non-overlapping occurrences, until no trained pair
    * remains. Any other token (mixed case, digits, punctuation, non-ASCII
    * bytes) passes through unchanged as a single OOV symbol — the same
    * tokens training skipped.
    *
    * This is provably identical to applying the merges SEQUENTIALLY in
    * rank order with greedy replace-all (the bpeTrain/DuckDB-oracle
    * formulation): a pair's two symbols are each produced by strictly
    * lower-ranked merges, so later merges can only CONSUME existing
    * adjacencies, never create an occurrence of an earlier pair — the
    * min-rank-present loop therefore fires the same merges in the same
    * order, restricted to ranks that still apply. Per-word cost is
    * O(len²) hash probes — INDEPENDENT of merge-table size, unlike the
    * chained-replace formulation's O(nMerges · len) (measured by the
    * `bpe_encode` probe, BENCH_NOTES.md "Round 15"). */
  def bpeEncode(text: UTF8String,
                ranks: java.util.HashMap[String, Integer]): ArrayData =
    bpeEncode(text, ranks, marked = false)

  /** [[bpeEncode]] with SentencePiece-style word-start marking: the
    * FIRST symbol of every whitespace token is prefixed with U+2581
    * ("\u2581", the visible low line), so the flat symbol sequence keeps
    * word boundaries and [[graft.operators.TextAnalysis.bpeDetokenize]]
    * can reconstruct the (whitespace-normalized) text exactly. The
    * marker only annotates OUTPUT — merging is unaffected. Contract:
    * input text containing a literal U+2581 detokenizes imperfectly
    * (the marker reads as a word break), the same collision every
    * SentencePiece pipeline documents. */
  def bpeEncode(text: UTF8String, ranks: java.util.HashMap[String, Integer],
                marked: Boolean): ArrayData = {
    val bytes = text.getBytes   // one copy; OOV token views share it
    val len = bytes.length
    val out = new java.util.ArrayList[AnyRef]()
    val mark = "\u2581"
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      var lower = true
      while (i < len && !isWs(bytes(i))) {
        val b = bytes(i)
        if (b < 'a' || b > 'z') lower = false
        i += 1
      }
      val n = i - s
      if (n > 0) {
        if (!lower || n < 2) {
          val tok = UTF8String.fromBytes(bytes, s, n)
          out.add(if (marked) UTF8String.fromString(mark + tok.toString) else tok)
        }
        else {
          val syms = new Array[String](n)
          var t = 0
          while (t < n) { syms(t) = String.valueOf(bytes(s + t).toChar); t += 1 }
          val count = mergeLoop(syms, n, ranks)
          var k = 0
          while (k < count) {
            out.add(UTF8String.fromString(
              if (marked && k == 0) mark + syms(0) else syms(k)))
            k += 1
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** The shared min-rank merge loop of both encoders: repeatedly find
    * the LOWEST-RANK adjacent pair present (one O(count) scan with O(1)
    * hash lookups) and merge all its left-to-right non-overlapping
    * occurrences in place, until no trained pair remains. Returns the
    * surviving symbol count; `syms(0 until result)` is the encoding.
    * Per-word cost is O(len²) hash probes — INDEPENDENT of merge-table
    * size (measured by the `bpe_encode` probe, BENCH_NOTES.md
    * "Round 15"). */
  private def mergeLoop(syms: Array[String], n: Int,
                        ranks: java.util.HashMap[String, Integer]): Int = {
    var count = n
    var done = false
    while (!done && count >= 2) {
      var bestRank = Integer.MAX_VALUE
      var bl: String = null
      var br: String = null
      var j = 0
      while (j < count - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r.intValue < bestRank) {
          bestRank = r.intValue; bl = syms(j); br = syms(j + 1)
        }
        j += 1
      }
      if (bl == null) done = true
      else {
        var w = 0
        var rd = 0
        while (rd < count) {
          if (rd < count - 1 && syms(rd) == bl && syms(rd + 1) == br) {
            syms(w) = bl + br; rd += 2
          } else { syms(w) = syms(rd); rd += 1 }
          w += 1
        }
        count = w
      }
    }
    count
  }

  /** Per-byte lowercase-hex symbols — the byte-level BPE base alphabet
    * (256 two-char strings). Hex keeps every symbol printable, '|'-free
    * (the training separator encoding stays valid) and replayable in any
    * SQL engine (`lower(hex(...))`), which a raw-byte or GPT-2
    * byte-to-unicode alphabet would not be. */
  private val HexSym: Array[String] =
    Array.tabulate(256)(b => f"$b%02x")

  /** Pair→rank table for BYTE-LEVEL merges: symbols are nonempty
    * even-length lowercase-hex strings (whole bytes), and each member
    * must be a single byte or the output of a strictly lower-ranked
    * merge — the same derivability fence as [[bpeTable]], which is what
    * makes the min-rank kernel provably equal to sequential
    * replace-all. */
  def bpeTableBytes(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    val derivable = new java.util.HashSet[String]()
    def hexOk(s: String) = s.nonEmpty && s.length % 2 == 0 &&
      s.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(hexOk(l) && hexOk(r),
        s"bpeTableBytes: merge symbols must be nonempty even-length " +
          s"lowercase-hex byte strings (the bpeTrainBytes contract), got " +
          s"('$l','$r') at rank ${i + 1}")
      Seq(l, r).foreach { s =>
        require(s.length == 2 || derivable.contains(s),
          s"bpeTableBytes: merge member '$s' at rank ${i + 1} is neither " +
            "a single byte nor the output of a lower-ranked merge — such " +
            "a table breaks the min-rank/sequential-replace equivalence")
      }
      derivable.add(l + r)
      val prev = m.put(l + " " + r, Integer.valueOf(i + 1))
      require(prev == null,
        s"bpeTableBytes: duplicate merge pair ('$l','$r') — ranks would " +
          "be ambiguous")
    }
    m
  }

  /** BYTE-LEVEL BPE merge application: every whitespace token — emoji,
    * CJK, digits, binary-ish junk, anything — is decomposed into its
    * UTF-8 bytes as lowercase-hex base symbols and merged with the SAME
    * min-rank loop as the char-level [[bpeEncode]]; there is NO OOV
    * passthrough, because a 256-symbol base alphabet encodes any input
    * (the GPT-2 byte-fallback property). `marked` prefixes each token's
    * first symbol with U+2581; unlike the char-level marker this CANNOT
    * collide with input (output symbols are pure hex), so the marked
    * round trip is exact on every input, non-BMP included. */
  def bpeEncodeBytes(text: UTF8String,
                     ranks: java.util.HashMap[String, Integer],
                     marked: Boolean): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val out = new java.util.ArrayList[AnyRef]()
    val mark = "\u2581"
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      while (i < len && !isWs(bytes(i))) i += 1
      val n = i - s
      if (n > 0) {
        val syms = new Array[String](n)
        var t = 0
        while (t < n) { syms(t) = HexSym(bytes(s + t) & 0xff); t += 1 }
        val count = mergeLoop(syms, n, ranks)
        var k = 0
        while (k < count) {
          out.add(UTF8String.fromString(
            if (marked && k == 0) mark + syms(0) else syms(k)))
          k += 1
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Symbol→token-id table for the ids kernels: the whole vocabulary —
    * base alphabet at its fixed ids (bytes 0–255 as hex, or letters
    * 'a'–'z' at 0–25) plus each merge's OUTPUT symbol at base + rank,
    * first (lowest) rank winning a collision — as ONE O(1) hash lookup
    * per symbol. Replaces the plan-literal map the previous ids path
    * walked LINEARLY per symbol (`element_at` on a map literal scans;
    * measured at 1.3–1.7 s/query on the bench — BENCH_NOTES r16/r17). */
  def bpeIdTable(merges: Seq[(String, String)],
                 byteLevel: Boolean): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2 + 512)
    if (byteLevel) {
      var b = 0
      while (b < 256) { m.put(HexSym(b), Integer.valueOf(b)); b += 1 }
    } else {
      var c = 'a'
      while (c <= 'z') { m.put(c.toString, Integer.valueOf(c - 'a')); c = (c + 1).toChar }
    }
    val base = if (byteLevel) 256 else 26
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.putIfAbsent(l + r, Integer.valueOf(base + i))
    }
    m
  }

  /** Merge application straight to TOKEN IDS: the same tokenize+mergeLoop
    * as [[bpeEncode]]/[[bpeEncodeBytes]] (per `byteLevel`), with each
    * surviving symbol resolved through ONE [[bpeIdTable]] hash probe —
    * no intermediate string array crosses the expression boundary and no
    * per-symbol linear scan. Symbols outside the table (char-level OOV
    * passthrough tokens only; the byte alphabet has no such symbol) map
    * to -1, the documented OOV id. */
  def bpeEncodeIds(text: UTF8String,
                   ranks: java.util.HashMap[String, Integer],
                   ids: java.util.HashMap[String, Integer],
                   byteLevel: Boolean): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val out = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      var lower = true
      while (i < len && !isWs(bytes(i))) {
        val b = bytes(i)
        if (b < 'a' || b > 'z') lower = false
        i += 1
      }
      val n = i - s
      if (n > 0) {
        if (!byteLevel && (!lower || n < 2)) {
          // char-level OOV passthrough: one symbol, one lookup
          val v = ids.get(UTF8String.fromBytes(bytes, s, n).toString)
          out.add(if (v == null) Integer.valueOf(-1) else v)
        } else {
          val syms = new Array[String](n)
          var t = 0
          while (t < n) {
            syms(t) = if (byteLevel) HexSym(bytes(s + t) & 0xff)
                      else String.valueOf(bytes(s + t).toChar)
            t += 1
          }
          val count = mergeLoop(syms, n, ranks)
          var k = 0
          while (k < count) {
            val v = ids.get(syms(k))
            out.add(if (v == null) Integer.valueOf(-1) else v)
            k += 1
          }
        }
      }
    }
    val arr = new Array[Int](out.size)
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k).intValue; k += 1 }
    new GenericArrayData(arr)
  }

  /** SentencePiece-UNIGRAM Viterbi segmentation, reduced to the two
    * numbers a pipeline consumes per document: the total segmentation
    * log-probability in integer MICRO-NATS and the piece count. All DP
    * arithmetic is exact Long addition of pre-quantized per-piece
    * scores (floor(ln(p)*1e6 + 0.5), computed once at training), so the
    * maximization is bit-exact on any engine — there is no float
    * anywhere in the per-document path.
    *
    * Contract (mirrored by the DuckDB oracle's recursive-CTE DP):
    * whitespace tokens matching `[a-z]+` run the Viterbi DP over pieces
    * of length 1..maxLen from the trained table; the best segmentation
    * maximizes (score, then FEWEST pieces) — the deterministic
    * tie-break that replaces SentencePiece's unspecified one. A
    * character absent from the table scores [[UnigramUnkMicro]] as a
    * single-char piece; any other token (mixed case, digits, non-ASCII)
    * is one OOV piece at the same penalty — the same OOV contract as
    * [[bpeEncode]]. Null-free: empty/blank text scores (0, 0).
    *
    * Cost: O(len · maxLen) hash probes per word, independent of
    * vocabulary size. */
  val UnigramUnkMicro: Long = -20000000L

  /** The shared forward Viterbi fill of [[unigramSegment]] and
    * [[unigramSegmentPieces]] — fills score/np for positions 1..n of
    * the lowercase word at bytes[s, s+n): best (score, fewest pieces)
    * per prefix, UNK fallback for unseen single chars. One
    * implementation so the scorer and the path extractor can never
    * drift (the spec pins their consistency). */
  private def viterbiFill(bytes: Array[Byte], s: Int, n: Int,
                          table: java.util.HashMap[String, java.lang.Long],
                          maxLen: Int, score: Array[Long],
                          np: Array[Int]): Unit = {
    var pos = 1
    while (pos <= n) {
      var bestS = Long.MinValue
      var bestN = 0
      var k = 1
      val kMax = if (pos < maxLen) pos else maxLen
      while (k <= kMax) {
        val piece = new String(bytes, s + pos - k, k,
          java.nio.charset.StandardCharsets.US_ASCII)
        val pm = table.get(piece)
        val cand: Long =
          if (pm != null) score(pos - k) + pm.longValue
          else if (k == 1) score(pos - k) + UnigramUnkMicro
          else Long.MinValue
        if (cand != Long.MinValue) {
          val candN = np(pos - k) + 1
          if (cand > bestS || (cand == bestS && candN < bestN)) {
            bestS = cand; bestN = candN
          }
        }
        k += 1
      }
      score(pos) = bestS; np(pos) = bestN
      pos += 1
    }
  }


  def unigramSegment(text: UTF8String,
                     table: java.util.HashMap[String, java.lang.Long],
                     maxLen: Int): InternalRow = {
    val bytes = text.getBytes
    val len = bytes.length
    var totalScore = 0L
    var totalPieces = 0L
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      var lower = true
      while (i < len && !isWs(bytes(i))) {
        val b = bytes(i)
        if (b < 'a' || b > 'z') lower = false
        i += 1
      }
      val n = i - s
      if (n > 0) {
        if (!lower) { totalScore += UnigramUnkMicro; totalPieces += 1 }
        else {
          val score = new Array[Long](n + 1)
          val np = new Array[Int](n + 1)
          viterbiFill(bytes, s, n, table, maxLen, score, np)
          totalScore += score(n); totalPieces += np(n)
        }
      }
    }
    InternalRow(totalScore, totalPieces)
  }

  /** [[unigramSegment]]'s PATH-emitting form: the actual piece sequence
    * of the best segmentation, for every whitespace token in order —
    * lowercase words via the same exact-Long Viterbi DP, any other
    * token passed through whole as one OOV piece (the [[bpeEncode]]
    * contract). The path is made UNIQUE by a third tie-break layer on
    * top of (score, fewest pieces): walking BACKWARD from the word end,
    * take the LONGEST piece whose predecessor state reproduces the
    * stored optimum exactly ((score, count) equality in Longs — no
    * tolerance). This is the hand-off the hard-EM re-estimation step
    * counts ([[graft.operators.TextAnalysis.unigramEmStep]]); its
    * length always equals [[unigramSegment]]'s n_pieces and its scores
    * sum to logp_micro (spec-pinned). */
  def unigramSegmentPieces(text: UTF8String,
                           table: java.util.HashMap[String, java.lang.Long],
                           maxLen: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      var lower = true
      while (i < len && !isWs(bytes(i))) {
        val b = bytes(i)
        if (b < 'a' || b > 'z') lower = false
        i += 1
      }
      val n = i - s
      if (n > 0) {
        if (!lower) out.add(UTF8String.fromBytes(bytes, s, n))
        else {
          val score = new Array[Long](n + 1)
          val np = new Array[Int](n + 1)
          viterbiFill(bytes, s, n, table, maxLen, score, np)
          // backward walk: longest piece reproducing the stored optimum
          val rev = new java.util.ArrayList[AnyRef]()
          var p = n
          while (p > 0) {
            var chosen = 1
            var k = if (p < maxLen) p else maxLen
            var done = false
            while (!done && k >= 1) {
              val piece = new String(bytes, s + p - k, k,
                java.nio.charset.StandardCharsets.US_ASCII)
              val pm = table.get(piece)
              val cand: Long =
                if (pm != null) score(p - k) + pm.longValue
                else if (k == 1) score(p - k) + UnigramUnkMicro
                else Long.MinValue
              if (cand == score(p) && np(p - k) + 1 == np(p)) {
                chosen = k; done = true
              }
              k -= 1
            }
            rev.add(UTF8String.fromBytes(bytes, s + p - chosen, chosen))
            p -= chosen
          }
          var r = rev.size - 1
          while (r >= 0) { out.add(rev.get(r)); r -= 1 }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** [[unigramSegmentPieces]] mapped to VOCABULARY IDS — the loader
    * hand-off, mirroring [[bpeEncodeIds]]: each best-path piece looked
    * up in the id table (rank by (count DESC, piece ASC) at training),
    * unseen pieces and OOV passthrough tokens → −1. */
  def unigramSegmentIds(text: UTF8String,
                        table: java.util.HashMap[String, java.lang.Long],
                        ids: java.util.HashMap[String, Integer],
                        maxLen: Int): ArrayData = {
    val pieces = unigramSegmentPieces(text, table, maxLen)
    val n = pieces.numElements
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = ids.get(pieces.getUTF8String(i).toString)
      out(i) = if (v == null) Integer.valueOf(-1) else v
      i += 1
    }
    new GenericArrayData(out)
  }

  // ---- BYTE-level unigram (production alphabet) ------------------------

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of `bytes[start, start+len)` — the byte-level piece
    * representation (the [[graft.operators.TextAnalysis.bpeTrainBytes]]
    * alphabet convention: even-length hex strings). */
  def hexOf(bytes: Array[Byte], start: Int, len: Int): UTF8String = {
    val out = new Array[Byte](len * 2)
    var i = 0
    while (i < len) {
      val b = bytes(start + i) & 0xff
      out(i * 2) = HexDigits(b >>> 4).toByte
      out(i * 2 + 1) = HexDigits(b & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The shared forward Viterbi fill of the BYTE-level segmenters — DP
    * over BYTE positions 1..n of the token at bytes[s, s+n), pieces
    * probed allocation-free through [[UnigramByteTable]]. Identical
    * optimization contract to [[viterbiFill]]: best (score, fewest
    * pieces) per prefix, [[UnigramUnkMicro]] fallback for a single byte
    * absent from the table — so EVERY token of any script segments
    * totally (the GPT-2 byte-fallback property; with all seen single
    * bytes retained at training there is no OOV path at all). */
  private def viterbiFillBytes(bytes: Array[Byte], s: Int, n: Int,
                               table: UnigramByteTable, score: Array[Long],
                               np: Array[Int]): Unit = {
    val maxLen = table.maxLen
    var pos = 1
    while (pos <= n) {
      var bestS = Long.MinValue
      var bestN = 0
      var k = 1
      val kMax = if (pos < maxLen) pos else maxLen
      while (k <= kMax) {
        val pm = table.score(bytes, s + pos - k, k)
        val cand: Long =
          if (pm != Long.MinValue) score(pos - k) + pm
          else if (k == 1) score(pos - k) + UnigramUnkMicro
          else Long.MinValue
        if (cand != Long.MinValue) {
          val candN = np(pos - k) + 1
          if (cand > bestS || (cand == bestS && candN < bestN)) {
            bestS = cand; bestN = candN
          }
        }
        k += 1
      }
      score(pos) = bestS; np(pos) = bestN
      pos += 1
    }
  }

  /** BYTE-level unigram Viterbi segmentation to
    * `(logp_micro, n_pieces)` per document — [[unigramSegment]]'s
    * production-alphabet twin: every whitespace token (any script,
    * any case, astral planes included) runs the exact-Long DP over its
    * UTF-8 BYTES; there is no regex gate and no whole-token OOV
    * passthrough. Cost O(len · maxLen) allocation-free probes. */
  def unigramSegmentBytes(text: UTF8String,
                          table: UnigramByteTable): InternalRow = {
    val bytes = text.getBytes
    val len = bytes.length
    var totalScore = 0L
    var totalPieces = 0L
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      while (i < len && !isWs(bytes(i))) i += 1
      val n = i - s
      if (n > 0) {
        val score = new Array[Long](n + 1)
        val np = new Array[Int](n + 1)
        viterbiFillBytes(bytes, s, n, table, score, np)
        totalScore += score(n); totalPieces += np(n)
      }
    }
    InternalRow(totalScore, totalPieces)
  }

  /** [[unigramSegmentBytes]]'s PATH-emitting form: the best
    * segmentation's pieces as lowercase-HEX strings (the training
    * alphabet, so the hard-EM count explode joins the model frame
    * directly). Path uniqueness: the [[unigramSegmentPieces]] backward
    * walk — longest piece whose predecessor state reproduces the stored
    * optimum exactly. */
  /** ONE shared tokenize + Viterbi + backward walk for both byte-level
    * piece emitters — the path semantics (longest piece reproducing the
    * stored optimum) live in exactly one place, so the marked and
    * unmarked streams (and through them the detok round trip) can never
    * drift. Emits each token's hex pieces in order; `markTokenStart`
    * prefixes each token's FIRST piece with `_`. */
  private def segmentBytesWalk(text: UTF8String, table: UnigramByteTable,
                               markTokenStart: Boolean): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val maxLen = table.maxLen
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val s = i
      while (i < len && !isWs(bytes(i))) i += 1
      val n = i - s
      if (n > 0) {
        val score = new Array[Long](n + 1)
        val np = new Array[Int](n + 1)
        viterbiFillBytes(bytes, s, n, table, score, np)
        val rev = new java.util.ArrayList[AnyRef]()
        var p = n
        while (p > 0) {
          var chosen = 1
          var k = if (p < maxLen) p else maxLen
          var done = false
          while (!done && k >= 1) {
            val pm = table.score(bytes, s + p - k, k)
            val cand: Long =
              if (pm != Long.MinValue) score(p - k) + pm
              else if (k == 1) score(p - k) + UnigramUnkMicro
              else Long.MinValue
            if (cand == score(p) && np(p - k) + 1 == np(p)) {
              chosen = k; done = true
            }
            k -= 1
          }
          rev.add(hexOf(bytes, s + p - chosen, chosen))
          p -= chosen
        }
        var r = rev.size - 1
        while (r >= 0) {
          val piece = rev.get(r).asInstanceOf[UTF8String]
          out.add(if (markTokenStart && r == rev.size - 1)
            UTF8String.concat(UTF8String.fromString("_"), piece)
          else piece)
          r -= 1
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  def unigramSegmentBytesPieces(text: UTF8String,
                                table: UnigramByteTable): ArrayData =
    segmentBytesWalk(text, table, markTokenStart = false)

  /** [[unigramSegmentBytesPieces]] with TOKEN-START MARKERS — the
    * SentencePiece "▁" convention in the hex alphabet: the first piece
    * of every whitespace token carries a leading `_` (not a hex digit,
    * so unambiguous), which makes the flat piece stream INVERTIBLE —
    * concatenate the pieces' bytes, re-inserting one space before each
    * marked piece after the first, and the whitespace-normalized text
    * comes back exactly (detok contract; pieces may split multi-byte
    * UTF-8 sequences, which is why decode happens once after the byte
    * concat, never per piece). */
  def unigramSegmentBytesPiecesMarked(text: UTF8String,
                                      table: UnigramByteTable): ArrayData =
    segmentBytesWalk(text, table, markTokenStart = true)

  /** The detokenizer for [[unigramSegmentBytesPiecesMarked]] output:
    * bytes concatenate across the whole stream FIRST (pieces split
    * multi-byte characters freely), one space re-inserted before each
    * marked piece after the first, then ONE UTF-8 decode — the inverse
    * of tokenize-then-segment up to whitespace normalization. */
  def unigramDetokBytes(pieces: ArrayData): UTF8String = {
    val n = pieces.numElements
    val buf = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < n) {
      var hex = pieces.getUTF8String(i).toString
      if (hex.nonEmpty && hex.charAt(0) == '_') {
        if (buf.size > 0) buf.write(' ')
        hex = hex.substring(1)
      }
      var j = 0
      while (j < hex.length - 1) {
        buf.write((Character.digit(hex.charAt(j), 16) << 4) |
          Character.digit(hex.charAt(j + 1), 16))
        j += 2
      }
      i += 1
    }
    UTF8String.fromBytes(buf.toByteArray)
  }

  /** [[unigramSegmentBytesPieces]] mapped to VOCABULARY IDS — the
    * loader hand-off: each best-path hex piece looked up in the id
    * table (rank by (count DESC, piece ASC) at training); a piece
    * absent from the vocabulary maps to −1 (unreachable when the
    * vocabulary is the training table itself — byte fallback means no
    * OOV — but the contract stays total). */
  def unigramSegmentBytesIds(text: UTF8String, table: UnigramByteTable,
                             ids: java.util.HashMap[String, Integer])
      : ArrayData = {
    val pieces = unigramSegmentBytesPieces(text, table)
    val n = pieces.numElements
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = ids.get(pieces.getUTF8String(i).toString)
      out(i) = if (v == null) Integer.valueOf(-1) else v
      i += 1
    }
    new GenericArrayData(out)
  }
}




/** BYTE-level unigram piece table: hex-string pieces (the
  * [[graft.operators.TextAnalysis.unigramTrainBytes]] model rows)
  * compiled into allocation-free probe structures for the Viterbi hot
  * loop. Pieces of 1..8 BYTES — the overwhelming majority of any real
  * vocabulary — live in per-length open-addressed long tables (the k
  * bytes packed big-endian are injective at fixed k, so the length is
  * the table index and the packed value is the whole key); pieces of
  * 9..maxLen bytes fall back to a HashMap keyed by the raw bytes
  * (ISO-8859-1 is the 1:1 byte↔char charset, so the key is exact).
  * Probe cost per (position, length): one pack loop + one
  * open-addressed lookup, no allocation for k ≤ 8. */
final class UnigramByteTable(pieces: Seq[(String, Long)], val maxLen: Int)
    extends Serializable {
  require(maxLen >= 1, s"UnigramByteTable: maxLen must be >= 1, got $maxLen")

  private val packedCap = new Array[Int](9) // capacity mask per length 1..8
  private val packedKeys = new Array[Array[Long]](9)
  private val packedUsed = new Array[Array[Boolean]](9)
  private val packedVals = new Array[Array[Long]](9)
  private val longPieces = new java.util.HashMap[String, java.lang.Long]()

  locally {
    val byLen = new Array[java.util.ArrayList[(Array[Byte], Long)]](9)
    var li = 1
    while (li <= 8) { byLen(li) = new java.util.ArrayList(); li += 1 }
    pieces.foreach { case (hex, pm) =>
      require(hex.length >= 2 && hex.length % 2 == 0,
        s"UnigramByteTable: piece '$hex' is not even-length hex")
      val k = hex.length / 2
      val b = new Array[Byte](k)
      var i = 0
      while (i < k) {
        val hi = Character.digit(hex.charAt(i * 2), 16)
        val lo = Character.digit(hex.charAt(i * 2 + 1), 16)
        require(hi >= 0 && lo >= 0 && !Character.isUpperCase(hex.charAt(i * 2))
          && !Character.isUpperCase(hex.charAt(i * 2 + 1)),
          s"UnigramByteTable: piece '$hex' is not lowercase hex")
        b(i) = ((hi << 4) | lo).toByte
        i += 1
      }
      if (k <= 8) byLen(k).add((b, pm))
      else longPieces.put(
        new String(b, java.nio.charset.StandardCharsets.ISO_8859_1),
        java.lang.Long.valueOf(pm))
    }
    li = 1
    while (li <= 8) {
      val group = byLen(li)
      var cap = 16
      while (cap < group.size * 2) cap <<= 1
      packedCap(li) = cap - 1
      packedKeys(li) = new Array[Long](cap)
      packedUsed(li) = new Array[Boolean](cap)
      packedVals(li) = new Array[Long](cap)
      var gi = 0
      while (gi < group.size) {
        val (b, pm) = group.get(gi)
        var key = 0L
        var bi = 0
        while (bi < li) { key = (key << 8) | (b(bi) & 0xffL); bi += 1 }
        var slot = UnigramByteTable.mix(key) & packedCap(li)
        while (packedUsed(li)(slot) && packedKeys(li)(slot) != key)
          slot = (slot + 1) & packedCap(li)
        packedKeys(li)(slot) = key
        packedVals(li)(slot) = pm
        packedUsed(li)(slot) = true
        gi += 1
      }
      li += 1
    }
  }

  /** The micro-nat score of the k-byte piece at `bytes[start, start+k)`,
    * or `Long.MinValue` when absent. */
  def score(bytes: Array[Byte], start: Int, k: Int): Long =
    if (k <= 8) {
      var key = 0L
      var i = 0
      while (i < k) { key = (key << 8) | (bytes(start + i) & 0xffL); i += 1 }
      val mask = packedCap(k)
      var slot = UnigramByteTable.mix(key) & mask
      while (packedUsed(k)(slot)) {
        if (packedKeys(k)(slot) == key) return packedVals(k)(slot)
        slot = (slot + 1) & mask
      }
      Long.MinValue
    } else {
      val v = longPieces.get(new String(bytes, start, k,
        java.nio.charset.StandardCharsets.ISO_8859_1))
      if (v == null) Long.MinValue else v.longValue
    }
}

object UnigramByteTable {
  /** murmur3's 64-bit finalizer — spreads packed byte keys across the
    * table so linear probing stays O(1) at 50% load. */
  @inline private[functions] def mix(x0: Long): Int = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    (x & 0x7fffffffL).toInt
  }
}

/** All language trigram profiles as ONE open-addressed primitive map:
  * 3 CODEPOINTS packed into a 63-bit long key (21 bits each — every
  * Unicode plane, not just the BMP) → bitmask of the languages whose
  * profile contains the gram. One allocation-free probe per text
  * position replaces nLangs boxed `String.substring` + HashSet probes
  * (the r15 verdict's flagged hot loop). Sentinel key -1 is
  * unreachable (packed keys have a zero top bit). */
final class TrigramTable private (keys: Array[Long], masks: Array[Int],
                                  capMask: Int) extends Serializable {
  def lookup(key: Long): Int = {
    var i = TrigramTable.slot(key, capMask)
    while (true) {
      val k = keys(i)
      if (k == key) return masks(i)
      if (k == -1L) return 0
      i = (i + 1) & capMask
    }
    0 // unreachable
  }
}

object TrigramTable {
  @inline private def slot(key: Long, capMask: Int): Int = {
    val h = key * 0x9E3779B97F4A7C15L
    ((h ^ (h >>> 32)).toInt) & capMask
  }

  @inline def pack(cp0: Int, cp1: Int, cp2: Int): Long =
    (cp0.toLong << 42) | (cp1.toLong << 21) | cp2.toLong

  /** The rolling-window update [[graft.functions.TextKernels
    * .langIdProfile]] uses: shift one 21-bit codepoint field in, keep
    * the low 63 bits (exactly three fields) — after three updates the
    * window equals [[pack]] of the last three codepoints. */
  @inline def roll(packed: Long, cp: Int): Long =
    ((packed << 21) | cp.toLong) & 0x7FFFFFFFFFFFFFFFL

  /** Build from per-language 3-CODEPOINT gram profiles (≤ 32
    * languages — the hit mask is an Int). Grams may contain astral
    * characters (emoji, CJK Ext-B): codepoints, not UTF-16 units, are
    * the gram unit. */
  def build(profiles: Array[Array[String]]): TrigramTable = {
    require(profiles.length <= 32,
      s"TrigramTable: at most 32 languages per table, got ${profiles.length}")
    val total = profiles.map(_.length).sum
    var cap = 8
    while (cap < total * 2 + 1) cap <<= 1
    val keys = Array.fill(cap)(-1L)
    val masks = new Array[Int](cap)
    val capMask = cap - 1
    var l = 0
    while (l < profiles.length) {
      profiles(l).foreach { g =>
        require(g.codePointCount(0, g.length) == 3,
          s"TrigramTable: profile grams must be exactly 3 codepoints, got '$g'")
        val cp0 = g.codePointAt(0)
        val i1 = Character.charCount(cp0)
        val cp1 = g.codePointAt(i1)
        val i2 = i1 + Character.charCount(cp1)
        val key = pack(cp0, cp1, g.codePointAt(i2))
        var i = slot(key, capMask)
        while (keys(i) != -1L && keys(i) != key) i = (i + 1) & capMask
        keys(i) = key
        masks(i) |= 1 << l
      }
      l += 1
    }
    new TrigramTable(keys, masks, capMask)
  }
}
