package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ChatPrep, TextAnalysis}
import graft.queries.PipelineQueries.{blankSql, tokensSql}

/** SFT / chat-conversation prep queries over `documents`, each with a
  * DuckDB oracle.
  *
  * The driver tables carry no conversation store, so every query first
  * DERIVES one deterministically from `documents.text`: the token list
  * is cut into four contiguous quarters (integer boundaries
  * `floor(k·n/4)`), which become `user q0 / assistant q1 / user q2 /
  * assistant q3`, with a fixed system prompt prepended on every third
  * doc — the same slicing both engines replay exactly
  * (`slice`/`list_slice` on the shared whitespace tokenizer). Planted
  * defects (an empty assistant turn on `doc_id % 11`, a broken role
  * alternation on `doc_id % 13`, a shared assistant answer on
  * `doc_id % 17`) make the validation and dedup outputs non-trivial.
  *
  * Everything except the dedup canonical is a pure projection — see
  * [[graft.operators.ChatPrep]] for the execution contract.
  */
object ChatQueries {

  /** Fixed system prompt for the derived conversations (27 chars). */
  private val SysPrompt = "you are a helpful assistant"

  private val EmptyTurns =
    "CAST(array() AS array<struct<role: STRING, content: STRING>>)"

  /** Token-quarter slicing: `(doc_id, q0..q3)` for docs with >= 4
    * tokens (every sf doc has >= 10). Boundary k is `floor(k·n/4)`. */
  private def quarters(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    def bnd(k: Int): Column =
      floor((col("__n") * lit(k)) / lit(4.0)).cast("int")
    def seg(k: Int): Column =
      array_join(slice(col("__toks"), bnd(k) + 1, bnd(k + 1) - bnd(k)), " ")
    docs
      .select(col("doc_id"), toks.as("__toks"), size(toks).as("__n"))
      .where(col("__n") >= 4)
      .select(col("doc_id"), seg(0).as("q0"), seg(1).as("q1"),
        seg(2).as("q2"), seg(3).as("q3"))
  }

  /** Assemble the turns array, with the query-specific plants. Its cost
    * on a 1M-doc corpus is recorded in BENCH_NOTES.md, "Round 17
    * continuation: SFT chat-data family" (the `chat_scale` probe). */
  private[graft] def convs(docs: DataFrame, plantInvalid: Boolean,
                           plantDup: Boolean): DataFrame = {
    val q = quarters(docs)
    val dup = pmod(col("doc_id"), lit(17)) === 0
    val a1 =
      if (plantDup) when(dup, lit("the answer is 42")).otherwise(col("q1"))
      else col("q1")
    val a2base =
      if (plantDup) when(dup, lit("thanks for asking")).otherwise(col("q3"))
      else col("q3")
    val a2 =
      if (plantInvalid)
        when(pmod(col("doc_id"), lit(11)) === 0, lit("")).otherwise(a2base)
      else a2base
    val role3 =
      if (plantInvalid)
        when(pmod(col("doc_id"), lit(13)) === 0, lit("assistant"))
          .otherwise(lit("user"))
      else lit("user")
    q.select(col("doc_id").as("conv_id"),
      concat(
        when(pmod(col("doc_id"), lit(3)) === 0,
          array(struct(lit("system").as("role"),
            lit(SysPrompt).as("content"))))
          .otherwise(expr(EmptyTurns)),
        array(
          struct(lit("user").as("role"), col("q0").as("content")),
          struct(lit("assistant").as("role"), a1.as("content")),
          struct(role3.as("role"), col("q2").as("content")),
          struct(lit("assistant").as("role"), a2.as("content"))))
        .as("turns"))
  }

  /** Fixed planted prompt shared by every 17th pair (prompt dedup). */
  private val FixedPrompt = "what is the answer"

  /** Derived preference pairs: prompt = optional system + `user q0 /
    * assistant q1 / user q2` (a multi-turn prefix ending in user),
    * chosen = q3, rejected = q1. Plants: identical branches
    * (`doc_id % 19`: rejected := q3), an empty rejected response
    * (`doc_id % 11`), a broken prompt alternation (`doc_id % 13`, via
    * an assistant role on the q2 turn), and one shared FIXED prompt on
    * `doc_id % 17` — the prompt-dedup cluster. */
  private[graft] def prefPairs(docs: DataFrame): DataFrame = {
    val q = quarters(docs)
    val fixed = pmod(col("doc_id"), lit(17)) === 0
    val broken = pmod(col("doc_id"), lit(13)) === 0 && !fixed
    val normalPrompt = concat(
      when(pmod(col("doc_id"), lit(3)) === 0,
        array(struct(lit("system").as("role"),
          lit(SysPrompt).as("content"))))
        .otherwise(expr(EmptyTurns)),
      array(
        struct(lit("user").as("role"), col("q0").as("content")),
        struct(lit("assistant").as("role"), col("q1").as("content")),
        struct(when(broken, lit("assistant")).otherwise(lit("user"))
          .as("role"), col("q2").as("content"))))
    val fixedPrompt = array(
      struct(lit("user").as("role"), lit(FixedPrompt).as("content")))
    q.select(col("doc_id").as("pair_id"),
      when(fixed, fixedPrompt).otherwise(normalPrompt).as("prompt_turns"),
      col("q3").as("chosen"),
      when(pmod(col("doc_id"), lit(19)) === 0, col("q3"))
        .when(pmod(col("doc_id"), lit(11)) === 0, lit(""))
        .otherwise(col("q1")).as("rejected"))
  }

  def all: Seq[Query] = Seq(
    // Template render: turns -> the model-input string. Pure projection
    // (one string fold per conversation, no exchange).
    Query("chat_render",
      s"""$quartersCte,
          r AS (
           SELECT doc_id AS conv_id,
             CAST(CASE WHEN has_sys THEN 5 ELSE 4 END AS BIGINT) AS n_turns,
             CAST(2 AS BIGINT) AS n_assistant,
             (CASE WHEN has_sys
                   THEN '<|system|>$SysPrompt<|end|>' ELSE '' END
              || '<|user|>' || q0 || '<|end|>'
              || '<|assistant|>' || q1 || '<|end|>'
              || '<|user|>' || q2 || '<|end|>'
              || '<|assistant|>' || q3 || '<|end|>') AS rendered
           FROM s)
         SELECT conv_id, n_turns, n_assistant, rendered,
           CAST(length(rendered) AS BIGINT) AS n_chars
         FROM r ORDER BY conv_id""") { (s, dir) =>
      val t = Tables(s, dir)
      ChatPrep.render(convs(t.documents, plantInvalid = false,
          plantDup = false), col("conv_id"), col("turns"))
        .orderBy(col("conv_id"))
    },

    // Structural admission over conversations with planted defects:
    // an empty assistant turn (doc_id % 11) and a broken alternation
    // (doc_id % 13). Reason precedence is part of the contract.
    Query("chat_validate",
      s"""$quartersCte
         SELECT doc_id AS conv_id,
           CAST(CASE WHEN has_sys THEN 5 ELSE 4 END AS BIGINT) AS n_turns,
           (doc_id % 13 <> 0 AND doc_id % 11 <> 0) AS valid,
           CASE WHEN doc_id % 13 = 0 THEN 'role_alternation'
                WHEN doc_id % 11 = 0 THEN 'empty_content'
                ELSE NULL END AS reason
         FROM s ORDER BY conv_id""") { (s, dir) =>
      val t = Tables(s, dir)
      ChatPrep.validate(convs(t.documents, plantInvalid = true,
          plantDup = false), col("conv_id"), col("turns"))
        .orderBy(col("conv_id"))
    },

    // Loss-mask character spans of the assistant turns within the
    // rendered string — one aggregate fold, output-sized explode.
    Query("chat_mask_spans",
      // Closed-form span arithmetic: per-turn rendered length is
      // length(role) + length(content) + 11; the assistant content starts
      // 4 + length(role) after the turn start. The system turn totals
      // 11 + 6 + 27 = 44.
      s"""$quartersCte,
          l AS (
           SELECT doc_id, has_sys,
             CAST(CASE WHEN has_sys THEN 44 ELSE 0 END AS BIGINT) AS off0,
             CAST(length(q0) AS BIGINT) AS l0,
             CAST(length(q1) AS BIGINT) AS l1,
             CAST(length(q2) AS BIGINT) AS l2,
             CAST(length(q3) AS BIGINT) AS l3
           FROM s),
          spans AS (
           SELECT doc_id AS conv_id,
             CAST(CASE WHEN has_sys THEN 2 ELSE 1 END AS BIGINT) AS turn_idx,
             off0 + l0 + 28 AS start_char,
             off0 + l0 + 28 + l1 AS end_char
           FROM l
           UNION ALL
           SELECT doc_id AS conv_id,
             CAST(CASE WHEN has_sys THEN 4 ELSE 3 END AS BIGINT) AS turn_idx,
             off0 + l0 + 28 + l1 + l2 + 35 AS start_char,
             off0 + l0 + 28 + l1 + l2 + 35 + l3 AS end_char
           FROM l)
         SELECT conv_id, turn_idx, start_char, end_char
         FROM spans ORDER BY conv_id, turn_idx""") { (s, dir) =>
      val t = Tables(s, dir)
      ChatPrep.assistantSpans(convs(t.documents, plantInvalid = false,
          plantDup = false), col("conv_id"), col("turns"))
        .orderBy(col("conv_id"), col("turn_idx"))
    },

    // TOKEN-space loss masks under the trained BPE tokenizer: special
    // tokens atomic, content tokenized standalone — the offsets a
    // training loader actually uses. One fold per conversation; the
    // tokenizer kernel runs once per turn.
    Query("chat_token_spans",
      // BPE training replayed via the shared CTEs (the published 8-round
      // loop), then per-word token counts summed over each quarter's
      // token-index range; span arithmetic mirrors the atomic-special-
      // token contract: each turn occupies 2 + count(content) positions.
      (chatBpeCtes +
        s"""
         SELECT conv_id, turn_idx, start_tok, end_tok
         FROM cspans ORDER BY conv_id, turn_idx""")) { (s, dir) =>
      val t = Tables(s, dir)
      val merges = PipelineQueries.trainedMerges(s, dir)
      ChatPrep.assistantTokenSpans(
          convs(Tables.spread(t.documents), plantInvalid = false,
            plantDup = false),
          col("conv_id"), col("turns"),
          c => TextAnalysis.bpeEncodeCount(c, merges).cast("long"))
        .orderBy(col("conv_id"), col("turn_idx"))
    },

    // The full SFT loader map: pack whole conversations into fixed
    // 256-token training sequences (real BPE totals, deterministic
    // shards), then shift every assistant loss-mask span into packed-
    // sequence coordinates — spans straddling a cut split per side.
    Query("chat_pack_masks",
      // Packing replayed exactly as pack_bpe_sequences' oracle (md5
      // shard, (hh, id)-ordered running offsets, bin explode) on the
      // per-conversation totals from the shared chat CTEs, then the
      // piece × span intersection in sequence coordinates.
      (chatBpeCtes +
        s""",
         ph AS (SELECT conv_id, n,
                  md5(CAST(conv_id AS VARCHAR) || 'r17c') AS hh
                FROM ctot WHERE n > 0),
         psh AS (SELECT conv_id, n, hh,
                   CAST(CAST(('0x' || substr(hh, 1, 8)) AS BIGINT) % 4
                     AS INT) AS shard
                 FROM ph),
         pp AS (SELECT conv_id, n, shard,
                  CAST(coalesce(sum(n) OVER (PARTITION BY shard
                    ORDER BY hh, conv_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS strt
                FROM psh),
         pe AS (SELECT shard, conv_id, n, strt, b AS seq_id
                FROM pp, unnest(range(strt // 256,
                  (strt + n - 1) // 256 + 1)) AS u(b)),
         pieces AS (SELECT shard, CAST(seq_id AS BIGINT) AS seq_id,
                      conv_id,
                      greatest(0, seq_id * 256 - strt) AS tok_start,
                      least(n, (seq_id + 1) * 256 - strt)
                        - greatest(0, seq_id * 256 - strt) AS n_toks,
                      greatest(0, strt - seq_id * 256) AS seq_pos
                    FROM pe)
         SELECT pi.shard, pi.seq_id, pi.conv_id, sp.turn_idx,
           CAST(pi.seq_pos
             + greatest(0, sp.start_tok - pi.tok_start) AS BIGINT)
             AS mask_start,
           CAST(pi.seq_pos
             + least(pi.n_toks, sp.end_tok - pi.tok_start) AS BIGINT)
             AS mask_end
         FROM pieces pi JOIN cspans sp USING (conv_id)
         WHERE sp.start_tok < pi.tok_start + pi.n_toks
           AND sp.end_tok > pi.tok_start
         ORDER BY shard, seq_id, conv_id, turn_idx, mask_start""")) { (s, dir) =>
      val t = Tables(s, dir)
      val merges = PipelineQueries.trainedMerges(s, dir)
      val count: Column => Column =
        c => TextAnalysis.bpeEncodeCount(c, merges).cast("long")
      val cs = convs(Tables.spread(t.documents), plantInvalid = false,
        plantDup = false)
      val totals = cs.select(col("conv_id"),
        aggregate(col("turns"), lit(0L),
          (acc, t0) => acc + lit(2L) + count(t0.getField("content")))
          .as("__tot"))
      val packMap = graft.operators.Sampling.packSequencesPosBy(
        totals, col("conv_id"), col("__tot"),
        nShards = 4, seqLen = 256, salt = "r17c")
      val spans = ChatPrep.assistantTokenSpans(cs, col("conv_id"),
        col("turns"), count)
      ChatPrep.packedAssistantMasks(packMap, spans)
        .orderBy(col("shard"), col("seq_id"), col("conv_id"),
          col("turn_idx"), col("mask_start"))
    },

    // Conversation-level NEAR-dup on assistant content: every 20th
    // conversation gets a twin whose answers differ only by an appended
    // postscript — the "same answer, light rephrase" class exact dedup
    // misses. Composes the MinHash-LSH pair machinery over the derived
    // assistant text; the oracle is the brute-force shingle jaccard.
    Query("chat_neardup",
      // Brute-force 3-gram shingle jaccard over the derived assistant
      // text + planted twins — the dedup_minhash_lsh oracle shape.
      (quartersCte +
        s""",
          at AS (SELECT doc_id AS conv_id, q1 || ' ' || q3 AS text FROM s),
          uni AS (SELECT conv_id, text FROM at
                  UNION ALL
                  SELECT conv_id + 100000, text || ' postscript thanks'
                  FROM at WHERE conv_id % 20 = 0),
          tt AS (SELECT conv_id, string_split(text, ' ') AS toks FROM uni),
          dd AS (SELECT conv_id,
                   list_distinct([toks[i] || ' ' || toks[i+1] || ' '
                                  || toks[i+2]
                                  for i in range(1, len(toks) - 1)]) AS sh
                 FROM tt WHERE len(toks) >= 3)
         SELECT a.conv_id AS id_a, b.conv_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             AS jaccard
         FROM dd a JOIN dd b ON a.conv_id < b.conv_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             >= 0.8
         ORDER BY id_a, id_b""")) { (s, dir) =>
      val t = Tables(s, dir)
      val at = convs(t.documents, plantInvalid = false, plantDup = false)
        .select(col("conv_id"),
          ChatPrep.assistantText(col("turns")).as("text"))
      val twins = at.filter(pmod(col("conv_id"), lit(20)) === 0)
        .select((col("conv_id") + 100000).as("conv_id"),
          concat(col("text"), lit(" postscript thanks")).as("text"))
      // pin the derived assistant-text frame: the LSH stages scan their
      // input several times (signatures, candidate verification), and
      // re-running the tokenize+slice derivation per scan cost ~4x the
      // documents-based twin of this query
      val corpus = at.unionByName(twins).localCheckpoint()
      graft.operators.Dedup
        .minhashLshPairs(corpus, col("conv_id"), col("text"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // The FLAGSHIP SFT funnel, one row: mojibake repair -> conversation
    // derivation (all plants active) -> structural validation ->
    // assistant-content dedup -> real-tokenizer totals -> packing ->
    // packed loss masks. The Spark side runs every operator for real;
    // the oracle predicts each stage's aggregate closed-form (n_seqs =
    // per-shard ceil(total/seqLen) because pieces tile contiguously;
    // masked tokens = span totals because packedAssistantMasks
    // preserves them exactly — the invariant the spec and the 1M-conv
    // probe pin).
    Query("chat_funnel", {
      // Every stage predicted closed-form on the FIXED corpus: the train
      // CTEs replay on the raw documents (trainedMerges' corpus), token
      // counts on the repaired+planted text, validity and dup plants by
      // congruence, per-shard sequence counts as ceil(total/256) (pieces
      // tile contiguously from 0), masked tokens as the span-total
      // identity that packedAssistantMasks preserves by contract.
      val rounds = 8
      val sep = """'||' || regexp_replace(t, '(.)', '\1||', 'g')"""
      val chained = (1 to rounds).foldLeft(sep) { (c, k) =>
        s"replace($c, '|' || m$k.l || '||' || m$k.r || '|', " +
          s"'|' || m$k.l || m$k.r || '|')"
      }
      val ms = (1 to rounds).map("m" + _).mkString(", ")
      val corrupted = TextAnalysis.mojify(" café — “quoted” …costs €5•")
      val fixed = TextAnalysis.MojibakeTable.foldLeft(
        s"CASE WHEN doc_id % 3 = 0 THEN text ELSE text || '$corrupted' END") {
        case (acc, (m, t)) => s"replace($acc, '$m', '$t')"
      }
      PipelineQueries.bpeTrainCtes(rounds) +
        s""",
           fx AS (SELECT doc_id, $fixed AS text FROM documents),
           ftk AS MATERIALIZED (SELECT doc_id, $tokensSql AS toks,
                     len($tokensSql) AS n
                   FROM fx WHERE NOT $blankSql),
           xw AS (SELECT unnest(['you', 'are', 'a', 'helpful',
                    'assistant', 'the', 'answer', 'is', '42', 'thanks',
                    'for', 'asking']) AS w),
           fvocab AS (SELECT DISTINCT t FROM (
                        SELECT unnest(toks) AS t FROM ftk
                        UNION ALL SELECT w FROM xw)),
           wcnt AS MATERIALIZED (
                    SELECT t,
                      CASE WHEN regexp_matches(t, '^[a-z]+$$')
                           THEN len(string_split(trim($chained, '|'), '||'))
                           ELSE 1 END AS c
                    FROM fvocab, $ms),
           ftok AS (SELECT doc_id, unnest(toks) AS t,
                      unnest(range(1, n + 1)) AS i, n
                    FROM ftk WHERE n >= 4),
           fenc AS (SELECT doc_id, i, n, w.c AS c
                    FROM ftok JOIN wcnt w USING (t)),
           fsum AS (SELECT doc_id,
                      sum(CASE WHEN i <= floor(n / 4.0)
                               THEN c ELSE 0 END) AS c0,
                      sum(CASE WHEN i > floor(n / 4.0)
                                AND i <= floor(n * 2 / 4.0)
                               THEN c ELSE 0 END) AS c1,
                      sum(CASE WHEN i > floor(n * 2 / 4.0)
                                AND i <= floor(n * 3 / 4.0)
                               THEN c ELSE 0 END) AS c2,
                      sum(CASE WHEN i > floor(n * 3 / 4.0)
                               THEN c ELSE 0 END) AS c3
                    FROM fenc GROUP BY doc_id),
           fq AS (SELECT doc_id,
                    array_to_string(list_slice(toks,
                      CAST(floor(n / 4.0) AS INT) + 1,
                      CAST(floor(n * 2 / 4.0) AS INT)), ' ') AS q1,
                    array_to_string(list_slice(toks,
                      CAST(floor(n * 3 / 4.0) AS INT) + 1, n), ' ') AS q3
                  FROM ftk WHERE n >= 4),
           syscnt AS (SELECT sum(c) AS sc FROM wcnt
                      WHERE t IN ('you', 'are', 'a', 'helpful',
                        'assistant')),
           p1cnt AS (SELECT sum(c) AS sc1 FROM wcnt
                     WHERE t IN ('the', 'answer', 'is', '42')),
           p2cnt AS (SELECT sum(c) AS sc2 FROM wcnt
                     WHERE t IN ('thanks', 'for', 'asking')),
           base AS MATERIALIZED (SELECT f.doc_id AS conv_id,
                      (f.doc_id % 3 = 0) AS has_sys,
                      (f.doc_id % 11 = 0 OR f.doc_id % 13 = 0) AS invalid,
                      (f.doc_id % 17 = 0) AS dup,
                      f.c0 AS c0,
                      CASE WHEN f.doc_id % 17 = 0 THEN sc1
                           ELSE f.c1 END AS c1,
                      f.c2 AS c2,
                      CASE WHEN f.doc_id % 17 = 0 THEN sc2
                           ELSE f.c3 END AS c3,
                      sc,
                      CASE WHEN f.doc_id % 17 = 0
                           THEN 'the answer is 42 thanks for asking'
                           ELSE q.q1 || ' ' || q.q3 END AS atext
                    FROM fsum f JOIN fq q ON f.doc_id = q.doc_id
                    CROSS JOIN syscnt CROSS JOIN p1cnt CROSS JOIN p2cnt),
           vdedup AS MATERIALIZED (SELECT conv_id,
                        min(conv_id) OVER (PARTITION BY atext)
                          AS canonical
                      FROM base WHERE NOT invalid),
           kept AS (SELECT conv_id FROM vdedup WHERE conv_id = canonical),
           ktot AS MATERIALIZED (SELECT b.conv_id,
                      CAST(CASE WHEN b.has_sys THEN 2 + b.sc ELSE 0 END
                        + 8 + b.c0 + b.c1 + b.c2 + b.c3 AS BIGINT) AS n,
                      CAST(b.c1 + b.c3 AS BIGINT) AS masked
                    FROM base b JOIN kept USING (conv_id)),
           sh AS (SELECT conv_id, n, masked,
                    CAST(CAST(('0x' || substr(md5(
                      CAST(conv_id AS VARCHAR) || 'fun'), 1, 8)) AS BIGINT)
                      % 4 AS INT) AS shard
                  FROM ktot WHERE n > 0),
           pershard AS (SELECT shard, sum(n) AS stot FROM sh GROUP BY shard)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_convs,
           (SELECT CAST(count(*) AS BIGINT) FROM base WHERE invalid)
             AS n_invalid,
           (SELECT CAST(count(*) AS BIGINT) FROM vdedup
             WHERE conv_id <> canonical) AS n_dups,
           (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
           (SELECT CAST(sum((stot + 255) // 256) AS BIGINT) FROM pershard)
             AS n_seqs,
           (SELECT CAST(sum(n) AS BIGINT) FROM ktot) AS total_tokens,
           (SELECT CAST(sum(masked) AS BIGINT) FROM ktot) AS masked_tokens"""
    }) { (s, dir) =>
      val t = Tables(s, dir)
      val merges = PipelineQueries.trainedMerges(s, dir)
      val count: Column => Column =
        c => TextAnalysis.bpeEncodeCount(c, merges).cast("long")
      val corrupted = TextAnalysis.mojify(" café — “quoted” …costs €5•")
      val fixedDocs = t.documents.select(col("doc_id"),
        TextAnalysis.fixMojibake(
          when(pmod(col("doc_id"), lit(3)) === 0, col("text"))
            .otherwise(concat(col("text"), lit(corrupted)))).as("text"))
      val cs = convs(fixedDocs, plantInvalid = true, plantDup = true)
        .localCheckpoint()
      val valid = cs.where(ChatPrep.reasonCol(col("turns")).isNull)
      val dedup = ChatPrep.dedupByAssistant(valid, col("conv_id"),
        col("turns")).localCheckpoint()
      val kept = valid.join(
        dedup.where(!col("is_dup")).select("conv_id"), "conv_id")
      val totals = kept.select(col("conv_id"),
        aggregate(col("turns"), lit(0L),
          (acc, t0) => acc + lit(2L) + count(t0.getField("content")))
          .as("__tot")).localCheckpoint()
      val packMap = graft.operators.Sampling.packSequencesPosBy(
        totals, col("conv_id"), col("__tot"),
        nShards = 4, seqLen = 256, salt = "fun")
      val spans = ChatPrep.assistantTokenSpans(kept, col("conv_id"),
        col("turns"), count)
      val masks = ChatPrep.packedAssistantMasks(packMap, spans)
      val convAgg = cs.agg(
        count_distinct(col("conv_id")).as("n_convs"),
        sum(when(ChatPrep.reasonCol(col("turns")).isNotNull, 1L)
          .otherwise(0L)).as("n_invalid"))
      val dupAgg = dedup.agg(
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      val keptAgg = totals.agg(
        count_distinct(col("conv_id")).as("n_kept"),
        sum(col("__tot")).as("total_tokens"))
      val seqAgg = packMap.groupBy(col("shard"))
        .agg((max(col("seq_id")) + 1L).as("__ns"))
        .agg(sum(col("__ns")).as("n_seqs"))
      val maskAgg = masks.agg(
        sum(col("mask_end") - col("mask_start")).as("masked_tokens"))
      convAgg.crossJoin(dupAgg).crossJoin(keptAgg).crossJoin(seqAgg)
        .crossJoin(maskAgg)
    },

    // Preference-pair (DPO) render: both branches through the SAME
    // chat template — prompt prefix + the candidate response appended
    // as one assistant turn. Pure projection, two folds per pair.
    Query("chat_pref_render",
      s"""$quartersCte,
          $prefCte
         SELECT doc_id AS pair_id,
           prompt_r || '<|assistant|>' || chosen || '<|end|>'
             AS chosen_rendered,
           prompt_r || '<|assistant|>' || rejected || '<|end|>'
             AS rejected_rendered,
           CAST(length(prompt_r) + 13 + length(chosen) + 7 AS BIGINT)
             AS n_chars_chosen,
           CAST(length(prompt_r) + 13 + length(rejected) + 7 AS BIGINT)
             AS n_chars_rejected
         FROM prr ORDER BY pair_id""") { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.PrefPrep.render(prefPairs(t.documents),
          col("pair_id"), col("prompt_turns"), col("chosen"),
          col("rejected"))
        .orderBy(col("pair_id"))
    },

    // Pair admission: both branches through the SAME ChatPrep verdict
    // (chosen_ / rejected_ prefixed, chosen first), then the pair-level
    // identical_branches check — planted defects on %13 (broken prompt
    // alternation), %11 (empty rejected), %19 (identical responses).
    Query("chat_pref_validate",
      s"""$quartersCte,
          $prefCte,
          prv AS (SELECT doc_id AS pair_id,
                    CASE WHEN broken THEN 'chosen_role_alternation'
                         WHEN rejected = '' THEN 'rejected_empty_content'
                         WHEN chosen = rejected THEN 'identical_branches'
                         ELSE NULL END AS reason
                  FROM prr)
         SELECT pair_id, reason IS NULL AS valid, reason
         FROM prv ORDER BY pair_id""") { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.PrefPrep.validate(prefPairs(t.documents),
          col("pair_id"), col("prompt_turns"), col("chosen"),
          col("rejected"))
        .orderBy(col("pair_id"))
    },

    // The DPO loader funnel, one row: validate -> prompt-fingerprint
    // dedup (every 17th pair shares the planted fixed prompt) -> both
    // branches packed into 256-token sequences under real BPE totals
    // (branch_key = pair_id*2 (+1), even/odd keeps the pairing
    // join-free) -> response-token masks in packed coordinates. The
    // oracle predicts each stage closed-form, the chat_funnel shape.
    Query("chat_pref_pack",
      // The DPO funnel closed-form: verdicts, prompt-string dedup among
      // the valid, per-branch totals from the replayed BPE counts
      // (prompt = template overhead + c0 + c1 + c2 or the fixed prompt's
      // count), the md5-sharded packing tiling for n_seqs, and the
      // mask-preservation invariant for masked_tokens.
      (chatBpeCtes +
        s""",
          ${quartersCte.stripPrefix("WITH ")},
          $prefCte,
          fixw AS (SELECT unnest(['what', 'is', 'the', 'answer']) AS t),
          fixenc AS (SELECT CASE WHEN regexp_matches(t, '^[a-z]+$$')
                              THEN len(string_split(
                                trim($bpeChained8, '|'), '||'))
                              ELSE 1 END AS c
                     FROM fixw, $bpeMs8),
          fixcnt AS MATERIALIZED (SELECT sum(c) AS fc FROM fixenc),
          pv AS MATERIALIZED (SELECT r.doc_id, r.fixed, r.broken, r.prompt_r,
                   b.has_sys, b.c0, b.c1, b.c2, b.c3, b.sc, fx.fc,
                   CASE WHEN r.broken THEN 'chosen_role_alternation'
                        WHEN r.rejected = '' THEN 'rejected_empty_content'
                        WHEN r.chosen = r.rejected
                          THEN 'identical_branches'
                        ELSE NULL END AS reason
                 FROM prr r JOIN cbase b ON r.doc_id = b.conv_id
                 CROSS JOIN fixcnt fx),
          pvv AS MATERIALIZED (SELECT * FROM pv WHERE reason IS NULL),
          pcanon AS MATERIALIZED (SELECT *, min(doc_id) OVER (PARTITION BY prompt_r)
                       AS canon
                     FROM pvv),
          pkept AS MATERIALIZED (SELECT *,
                      CASE WHEN fixed THEN 2 + fc
                           ELSE (CASE WHEN has_sys THEN 2 + sc ELSE 0 END)
                             + 6 + c0 + c1 + c2 END AS ptoks
                    FROM pcanon WHERE doc_id = canon),
          pbr AS MATERIALIZED (SELECT doc_id * 2 AS bkey, ptoks + 2 + c3 AS n
                  FROM pkept
                  UNION ALL
                  SELECT doc_id * 2 + 1, ptoks + 2 + c1 FROM pkept),
          bpsh AS MATERIALIZED (SELECT bkey, n,
                     CAST(CAST(('0x' || substr(
                       md5(CAST(bkey AS VARCHAR) || 'pref'), 1, 8))
                       AS BIGINT) % 4 AS INT) AS shard
                   FROM pbr WHERE n > 0),
          nseq AS (SELECT sum((stot + 255) // 256) AS ns
                   FROM (SELECT shard, sum(n) AS stot FROM bpsh
                         GROUP BY 1))
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM prr) AS n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM pv
            WHERE reason IS NOT NULL) AS n_invalid,
           (SELECT CAST(count(*) AS BIGINT) FROM pcanon
            WHERE doc_id <> canon) AS n_prompt_dups,
           (SELECT CAST(count(*) AS BIGINT) FROM pkept) AS n_kept,
           (SELECT CAST(sum(n) AS BIGINT) FROM pbr) AS total_tokens,
           (SELECT CAST(ns AS BIGINT) FROM nseq) AS n_seqs,
           (SELECT CAST(sum(c3 + c1) AS BIGINT) FROM pkept)
             AS masked_tokens""")) { (s, dir) =>
      val t = Tables(s, dir)
      val merges = PipelineQueries.trainedMerges(s, dir)
      val count: Column => Column =
        c => TextAnalysis.bpeEncodeCount(c, merges).cast("long")
      val pp = prefPairs(t.documents).localCheckpoint()
      val valid = pp.where(graft.operators.PrefPrep.reasonCol(
        col("prompt_turns"), col("chosen"), col("rejected")).isNull)
      val dedup = graft.operators.PrefPrep.dedupByPrompt(valid,
        col("pair_id"), col("prompt_turns")).localCheckpoint()
      val kept = valid.join(
        dedup.where(!col("is_dup")).select("pair_id"), "pair_id")
        .localCheckpoint()
      val totals = graft.operators.PrefPrep.branchTotals(kept,
        col("pair_id"), col("prompt_turns"), col("chosen"),
        col("rejected"), count).localCheckpoint()
      val packMap = graft.operators.Sampling.packSequencesPosBy(
        totals, col("branch_key"), col("total_toks"),
        nShards = 4, seqLen = 256, salt = "pref")
      val spans = graft.operators.PrefPrep.responseSpans(kept,
        col("pair_id"), col("prompt_turns"), col("chosen"),
        col("rejected"), count)
      val masks = ChatPrep.packedAssistantMasks(packMap, spans)
      val pairAgg = pp.agg(
        count_distinct(col("pair_id")).as("n_pairs"),
        sum(when(graft.operators.PrefPrep.reasonCol(col("prompt_turns"),
          col("chosen"), col("rejected")).isNotNull, 1L).otherwise(0L))
          .as("n_invalid"))
      val dupAgg = dedup.agg(
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_prompt_dups"))
      val keptAgg = totals.agg(
        count_distinct(col("pair_id")).as("n_kept"),
        sum(col("total_toks")).as("total_tokens"))
      val seqAgg = packMap.groupBy(col("shard"))
        .agg((max(col("seq_id")) + 1L).as("__ns"))
        .agg(sum(col("__ns")).as("n_seqs"))
      val maskAgg = masks.agg(
        sum(col("mask_end") - col("mask_start")).as("masked_tokens"))
      pairAgg.crossJoin(dupAgg).crossJoin(keptAgg).crossJoin(seqAgg)
        .crossJoin(maskAgg)
    },

    // Exact dedup on assistant content: every 17th doc shares one
    // planted answer pair; canonical = min conv_id. The exchange
    // carries (xxhash64, length), never the text.
    Query("chat_dedup",
      s"""$quartersCte,
          a AS (
           SELECT doc_id AS conv_id,
             CASE WHEN doc_id % 17 = 0
                  THEN 'the answer is 42 thanks for asking'
                  ELSE q1 || ' ' || q3 END AS atext
           FROM s),
          c AS (
           SELECT conv_id,
             min(conv_id) OVER (PARTITION BY atext) AS canonical_id
           FROM a)
         SELECT conv_id, canonical_id,
           (conv_id <> canonical_id) AS is_dup
         FROM c ORDER BY conv_id""") { (s, dir) =>
      val t = Tables(s, dir)
      ChatPrep.dedupByAssistant(convs(t.documents, plantInvalid = false,
          plantDup = true), col("conv_id"), col("turns"))
        .orderBy(col("conv_id"))
    }
  )

  /** Shared oracle CTEs for the TOKEN-space chat queries: the 8-round
    * BPE training replay, per-word counts summed over each quarter's
    * token-index range (`cbase`: c0..c3 + the system-prompt count sc),
    * per-conv totals under the atomic-special-token contract (`ctot`:
    * 2 tokens per turn of template overhead), and the two assistant
    * spans (`cspans`). chat_token_spans and chat_pack_masks build on
    * the same block so the span model can never drift between them. */
  /** The 8-round chained-replace BPE encode expression over a token
    * column `t`, plus the merge-CTE FROM list — shared by
    * [[chatBpeCtes]] and the preference-pack oracle's fixed-prompt
    * count. */
  private lazy val (bpeChained8, bpeMs8): (String, String) = {
    val rounds = 8
    val sep = """'||' || regexp_replace(t, '(.)', '\1||', 'g')"""
    val chained = (1 to rounds).foldLeft(sep) { (c, k) =>
      s"replace($c, '|' || m$k.l || '||' || m$k.r || '|', " +
        s"'|' || m$k.l || m$k.r || '|')"
    }
    (chained, (1 to rounds).map("m" + _).mkString(", "))
  }

  private lazy val chatBpeCtes: String = {
    val rounds = 8
    val chained = bpeChained8
    val ms = bpeMs8
    PipelineQueries.bpeTrainCtes(rounds) +
      s""",
         ctok AS (SELECT doc_id, unnest($tokensSql) AS t,
                    unnest(range(1, len($tokensSql) + 1)) AS i,
                    len($tokensSql) AS n
                  FROM documents WHERE NOT $blankSql),
         cenc AS (SELECT doc_id, i, n,
                    CASE WHEN regexp_matches(t, '^[a-z]+$$')
                         THEN len(string_split(trim($chained, '|'), '||'))
                         ELSE 1 END AS c
                  FROM ctok, $ms),
         csum AS (SELECT doc_id,
                    sum(CASE WHEN i <= floor(n / 4.0)
                             THEN c ELSE 0 END) AS c0,
                    sum(CASE WHEN i > floor(n / 4.0)
                              AND i <= floor(n * 2 / 4.0)
                             THEN c ELSE 0 END) AS c1,
                    sum(CASE WHEN i > floor(n * 2 / 4.0)
                              AND i <= floor(n * 3 / 4.0)
                             THEN c ELSE 0 END) AS c2,
                    sum(CASE WHEN i > floor(n * 3 / 4.0)
                             THEN c ELSE 0 END) AS c3
                  FROM cenc WHERE n >= 4 GROUP BY doc_id),
         sysw AS (SELECT unnest(
                    ['you', 'are', 'a', 'helpful', 'assistant']) AS t),
         sysenc AS (SELECT CASE WHEN regexp_matches(t, '^[a-z]+$$')
                             THEN len(string_split(
                               trim($chained, '|'), '||'))
                             ELSE 1 END AS c
                    FROM sysw, $ms),
         syscnt AS (SELECT sum(c) AS sc FROM sysenc),
         cbase AS (SELECT doc_id AS conv_id, (doc_id % 3 = 0) AS has_sys,
                     c0, c1, c2, c3, sc
                   FROM csum CROSS JOIN syscnt),
         ctot AS (SELECT conv_id,
                    CAST(CASE WHEN has_sys THEN 2 + sc ELSE 0 END
                      + 8 + c0 + c1 + c2 + c3 AS BIGINT) AS n
                  FROM cbase),
         tspans AS (
           SELECT conv_id,
             CAST(CASE WHEN has_sys THEN 2 ELSE 1 END AS BIGINT)
               AS turn_idx,
             CASE WHEN has_sys THEN 2 + sc ELSE 0 END + 2 + c0 + 1 AS s1,
             c1, c2, c3
           FROM cbase),
         cspans AS (
           SELECT conv_id, turn_idx,
             CAST(s1 AS BIGINT) AS start_tok,
             CAST(s1 + c1 AS BIGINT) AS end_tok
           FROM tspans
           UNION ALL
           SELECT conv_id, turn_idx + 2,
             CAST(s1 + c1 + c2 + 4 AS BIGINT),
             CAST(s1 + c1 + c2 + 4 + c3 AS BIGINT)
           FROM tspans)"""
  }

  /** Shared oracle CTEs: the quarter derivation (`s`). */
  private val quartersCte =
    s"""WITH f AS (
         SELECT doc_id, $tokensSql AS toks, len($tokensSql) AS n
         FROM documents WHERE NOT $blankSql),
        s AS (
         SELECT doc_id, n, (doc_id % 3 = 0) AS has_sys,
           array_to_string(list_slice(toks, 1,
             CAST(floor(n / 4.0) AS INT)), ' ') AS q0,
           array_to_string(list_slice(toks,
             CAST(floor(n / 4.0) AS INT) + 1,
             CAST(floor(n * 2 / 4.0) AS INT)), ' ') AS q1,
           array_to_string(list_slice(toks,
             CAST(floor(n * 2 / 4.0) AS INT) + 1,
             CAST(floor(n * 3 / 4.0) AS INT)), ' ') AS q2,
           array_to_string(list_slice(toks,
             CAST(floor(n * 3 / 4.0) AS INT) + 1, n), ' ') AS q3
         FROM f WHERE n >= 4)"""

  /** Shared preference-pair derivation CTEs (on the quarters `s`):
    * `prf` = pair parts + planted defects, `prr` = the rendered prompt
    * string (the dedup key and render prefix). */
  private lazy val prefCte: String =
    s"""prf AS (
         SELECT doc_id, has_sys,
           (doc_id % 17 = 0) AS fixed,
           (doc_id % 13 = 0 AND doc_id % 17 <> 0) AS broken,
           q0, q1, q2,
           q3 AS chosen,
           CASE WHEN doc_id % 19 = 0 THEN q3
                WHEN doc_id % 11 = 0 THEN ''
                ELSE q1 END AS rejected
         FROM s),
        prr AS (
         SELECT doc_id, fixed, broken, chosen, rejected,
           CASE WHEN fixed THEN '<|user|>$FixedPrompt<|end|>'
                ELSE (CASE WHEN has_sys
                           THEN '<|system|>$SysPrompt<|end|>'
                           ELSE '' END
                  || '<|user|>' || q0 || '<|end|>'
                  || '<|assistant|>' || q1 || '<|end|>'
                  || (CASE WHEN broken THEN '<|assistant|>'
                           ELSE '<|user|>' END) || q2 || '<|end|>')
           END AS prompt_r
         FROM prf)"""
}
