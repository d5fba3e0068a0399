package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization/counting, quality scoring, language identification, and
 * document fingerprinting. All are pure `functions._` column programs —
 * codegen'd, no UDFs — so they stay inside whole-stage codegen and scale
 * linearly with the corpus (narrow, no shuffle).
 */
object TextAnalysis {

  /** Whitespace tokens with empties dropped (leading blanks etc.). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * Zipf rank–frequency table over the corpus vocabulary: global token
   * frequency with a deterministic ranking (freq desc, token asc
   * tie-break) — the classic corpus sanity diagnostic (rank·freq ≈
   * const for natural text; a flat or cliffed spectrum flags synthetic
   * or templated data). All-integer output.
   *
   * Scale shape: the corpus collapses in one map-side-combinable
   * vocab-sized count shuffle; the rank window then sorts only the
   * VOCABULARY (bounded — millions of rows at web scale, not the
   * corpus), the smallest frame in the pipeline. The unpartitioned
   * window is deliberate: a global rank needs a global order, and
   * paying it on the vocab frame is the cheapest place it can live.
   */
  def zipfTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("freq").desc, col("tok"))).cast("long"))

  /**
   * First BPE merge iteration (Sennrich et al. 2016 "Neural Machine
   * Translation of Rare Words with Subword Units" §3.2): adjacent
   * character-pair frequencies over the word-frequency table, the
   * statistic the tokenizer-training loop maximizes at every merge
   * step. Top-`topK` pairs ranked (count desc, pair asc) — the rank-1
   * row IS the first merge a BPE trainer would perform on this corpus.
   *
   * Scale shape: the corpus collapses to the VOCAB-sized word-
   * frequency table first (one map-side-combinable count shuffle —
   * the zipfTable law), so the per-position explode runs over vocab ×
   * word-length, not corpus tokens; the rank window sorts only the
   * pair alphabet (≤ |chars|², the smallest frame in the pipeline).
   */
  def bpePairCounts(docs: DataFrame, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substr(w, i, 2)").as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("cnt"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .filter(col("rnk") <= topK)
      .select("rnk", "pair", "cnt")
  }

  /**
   * Iterated BPE training loop (Sennrich et al. 2016 §3.2 — the loop
   * [[bpePairCounts]] computes one step of): `nMerges` merges with
   * re-pairing after each, over the vocab-sized word-frequency table.
   * Words are space-joined symbol sequences (initially characters);
   * each step counts adjacent symbol pairs weighted by word frequency,
   * merges the argmax pair (count desc, pair asc — the q_bpe_merges
   * law) everywhere with leftmost-greedy semantics, and re-pairs.
   * Output: (step, pair, cnt) for steps 1..nMerges — the merge list IS
   * the trained tokenizer artifact, prefix-stable in nMerges (step k
   * depends only on steps < k). Stops early if the vocabulary runs out
   * of adjacent pairs (everything merged to single symbols).
   *
   * The merge rewrite is pure literal string algebra — engine-portable
   * with no regex lookaround (the DuckDB oracle's RE2 has none): the
   * word is padded and DOUBLE-spaced (' '+replace(w,' ','  ')+' ') so
   * every pair occurrence owns its flanking spaces, then ONE
   * non-overlapping left-to-right literal replace of ' a  b ' → ' ab '
   * is exactly the reference implementation's greedy merge, and
   * collapsing double spaces restores the canonical form. Symbols
   * never contain spaces, so the algebra is exact; merged symbols are
   * new strings, so a retired pair's adjacency can never reappear.
   *
   * Scale shape: the corpus collapses ONCE to the vocab-sized word
   * table (the zipfTable law); each step is one vocab×word-length pair
   * explode feeding a combinable count, ONE single-row argmax
   * aggregate fetched to the driver (the documented scalar-fetch shape
   * — it parameterizes the next step's literal rewrite), and a narrow
   * per-word rewrite; the vocab frame rotates with O(1) pinned copies
   * (the HITS law). Nothing corpus-sized is touched after step 0.
   */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, _, vocabRot) = bpeTrainLoop(docs, textCol, nMerges)
    vocabRot.release()
    merges.toDF("step", "pair", "cnt")
  }

  /** Shared BPE training loop: returns (merge list, final vocab frame
    * (w space-joined symbols, f), the vocab's slot) —
    * [[bpeTrain]] emits the merges and releases the vocab;
    * [[bpeEncodeCounts]] consumes the vocab (swept by the harness's
    * CacheScope.drain afterward, the house law for returned frames). */
  private def bpeTrainLoop(docs: DataFrame, textCol: String,
      nMerges: Int): (Seq[(Long, String, Long)], DataFrame, graft.Rotation) = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = docs.sparkSession
    val rot = new graft.Rotation
    val init = docs.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2) // 1-char words never pair
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .select(trim(regexp_replace(col("tok"), "(.)", "$1 ")).as("w"),
        col("f"))
    // the vocab count rides the init rotation and doubles as the
    // static-planning gate ([[graft.StaticPlan]]): every step's frame
    // (pairs, rewritten vocab) is vocab-bounded
    var (vocab, n0) = rot.observe(init, Seq(count(lit(1)).as("n")))
    val nVocab = n0.getLong(0)
    val merges = collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var step = 0
    var exhausted = false
    graft.StaticPlan.withMeasured(spark, nVocab) { _ =>
    while (step < nMerges && !exhausted) {
      step += 1
      val pairs = vocab.select(col("f"), split(col("w"), " ").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(l) - 1), " +
            "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
      val best = graft.StaticPlan.armed(pairs)
        .agg(min(struct((-col("cnt")).as("nc"), col("pair").as("p")))
          .as("b"))
        .select(col("b.p").as("pair"), (-col("b.nc")).as("cnt"))
        .head() // one aggregated scalar row per step (house law)
      if (best.isNullAt(0)) exhausted = true
      else {
        val pair = best.getString(0)
        merges += ((step.toLong, pair, best.getLong(1)))
        val search = lit(" " + pair.replace(" ", "  ") + " ")
        val repl = lit(" " + pair.replace(" ", "") + " ")
        val padded = concat(lit(" "),
          replace(col("w"), lit(" "), lit("  ")), lit(" "))
        val next = vocab
          .select(trim(replace(replace(padded, search, repl),
            lit("  "), lit(" "))).as("w"), col("f"))
          // merge rewrites are injective on symbol sequences (see doc)
          // but the fold is kept as a defensive invariant
          .groupBy("w").agg(sum(col("f")).as("f"))
        vocab = rot(next)
      }
    }
    } // StaticPlan.withMeasured
    (merges.toSeq, vocab, rot)
  }

  /**
   * Apply the trained BPE tokenizer — per-document subword statistics
   * under the vocabulary [[bpeTrain]]'s `nMerges` merges produce (the
   * train→apply pair every tokenizer pipeline runs; [[subwordCount]]
   * is the heuristic stand-in this replaces when a trained vocab
   * exists). Output: (id, n_words, n_subwords) — n_subwords sums each
   * word's symbol count in the final vocab; words too short to train
   * on (single chars) count one symbol.
   *
   * Scale shape: training is vocab-sized ([[bpeTrain]]); application
   * is ONE corpus token explode joined to the vocab (broadcast when it
   * fits) feeding a combinable per-doc count — the scan never pays
   * per-merge work.
   */
  def bpeEncodeCounts(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame = {
    val (_, vocab, _) = bpeTrainLoop(docs, textCol, nMerges)
    val sy = vocab.select(
      replace(col("w"), lit(" "), lit("")).as("tok"),
      size(split(col("w"), " ")).cast("long").as("n_sym"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .join(sy, Seq("tok"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sym"), lit(1L))).as("n_subwords"))
  }

  /**
   * Byte-fallback BPE encode (the GPT-2 byte-level-BPE /
   * SentencePiece `byte_fallback` law, Radford et al. 2019; Kudo &
   * Richardson 2018): production LLM tokenizers NEVER emit UNK — a
   * word of the encode corpus either encodes through the trained
   * vocab (its merge-final symbol count), or decomposes at the
   * character floor where characters OBSERVED in the train corpus
   * (the trained single-character inventory) cost one piece each and
   * characters OUTSIDE the inventory decompose into their UTF-8
   * BYTES (the 256 byte pieces every byte-fallback vocab carries —
   * octet_length pieces per character). UNK is structurally
   * impossible: every word reaches piece coverage through the byte
   * floor.
   *
   * Train and encode corpora are SEPARATE arguments — fallback only
   * binds when the encode corpus contains characters the trainer
   * never saw, the production train→serve shape. Output per encode
   * document: (id, n_words, n_pieces, n_byte_pieces); n_pieces
   * includes the byte pieces, n_byte_pieces counts only them (the
   * fallback-rate observability a corpus owner monitors).
   *
   * Character granularity is the CODE-POINT grid on both engines,
   * verified including supplementary-plane chars: Spark's
   * split-by-empty-regex, substring and length are all
   * code-point-based on UTF8String (an emoji is ONE char of
   * octet_length 4), matching DuckDB's string_split(w, '') exactly.
   *
   * Scale shape: training is vocab-sized ([[bpeTrainLoop]]); the
   * fallback decomposition runs on the DISTINCT-WORD table of the
   * encode corpus (word-table-sized, never corpus-sized) via one
   * char explode + one broadcast inventory join; the corpus then
   * pays exactly ONE token explode joined to the word table feeding
   * a combinable per-doc sum.
   */
  def bpeEncodeBytes(train: DataFrame, trainTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame = {
    val (_, vocab, _) = bpeTrainLoop(train, trainTextCol, nMerges)
    val sy = vocab.select(
      replace(col("w"), lit(" "), lit("")).as("tok"),
      size(split(col("w"), " ")).cast("long").as("n_sym"))
    val chars = (c: Column) => filter(split(c, ""), ch => ch =!= "")
    // trained character inventory: every char the train corpus
    // contains, INCLUDING single-char words the merge loop never sees
    val inv = train.select(explode(tokens(col(trainTextCol))).as("tok"))
      .select(explode(chars(col("tok"))).as("ch"))
      .distinct()
      .withColumn("cov", lit(1L))
    // per-word byte-floor decomposition on the distinct-word table
    val words = docs.select(explode(tokens(col(textCol))).as("tok"))
      .distinct()
    val fb = words
      .select(col("tok"), explode(chars(col("tok"))).as("ch"))
      .join(broadcast(inv), Seq("ch"), "left")
      .groupBy("tok")
      .agg(sum(when(col("cov").isNotNull, lit(1L))
          .otherwise(octet_length(col("ch")).cast("long")))
          .as("fb_pieces"),
        sum(when(col("cov").isNotNull, lit(0L))
          .otherwise(octet_length(col("ch")).cast("long")))
          .as("fb_bytes"))
    val wt = words
      .join(sy, Seq("tok"), "left")
      .join(fb, Seq("tok"))
      .select(col("tok"),
        coalesce(col("n_sym"), col("fb_pieces")).as("w_pieces"),
        when(col("n_sym").isNotNull, lit(0L)).otherwise(col("fb_bytes"))
          .as("w_bytes"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .join(wt, Seq("tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_pieces")).as("n_pieces"),
        sum(col("w_bytes")).as("n_byte_pieces"))
  }

  /**
   * WordPiece tokenizer trainer (Schuster & Nakajima 2012 "Japanese
   * and Korean voice search"; the BERT tokenizer family, Devlin et
   * al. 2019): iterative adjacent-pair merges like [[bpeTrain]], but
   * the merged pair is the one maximizing the LIKELIHOOD GAIN
   * count(ab) / (count(a) * count(b)) — the unigram-LM log-likelihood
   * delta of fusing a,b into one token — not the raw pair count. The
   * two trainers genuinely diverge: BPE favors frequent pairs of
   * frequent symbols; WordPiece favors pairs that co-occur far above
   * chance even when rare (Round13Spec pins a corpus where they pick
   * different merges).
   *
   * Determinism law: the selection key is the exact integer
   * score_x40 = floor(cnt * 2^40 / (ca * cb)) computed in
   * decimal(38,0) (HUGEINT on the oracle side) so no float ratio's
   * ulp can diverge between engines; ties break by pair string asc.
   * cnt <= min(ca, cb) bounds the key by 2^40, so the SURFACED column
   * is plain BIGINT on both sides.
   *
   * Scale shape (identical to [[bpeTrain]]): the corpus collapses
   * ONCE to the word-frequency table; each merge step touches only
   * vocab-sized frames (symbol counts, pair counts, one aggregated
   * argmax row), with the vocab state rotated through a
   * [[graft.Rotation]] so a 10k-merge run pins O(1) frames.
   */
  def wordpieceTrain(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordpieceTrainLoop(docs, textCol, nMerges)
      .toDF("step", "pair", "cnt", "score_x40")
  }

  private def wordpieceTrainLoop(docs: DataFrame, textCol: String,
      nMerges: Int): Seq[(Long, String, Long, Long)] = {
    val init = docs.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .select(trim(regexp_replace(col("tok"), "(.)", "$1 ")).as("w"),
        col("f"))
    wordpieceMergeLoop(init, nMerges)
  }

  /** BERT-annotated initial state: first char bare, every later char
    * prefixed `##` ("hello" -> "h ##e ##l ##l ##o"). Tokens containing
    * a literal '#' are excluded from training (the annotation must
    * stay unambiguous — the assumption every WordPiece implementation
    * makes; such tokens still encode, as [UNK]). */
  private def wordpieceBertInit(docs: DataFrame,
      textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2 && !col("tok").contains("#"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .select(concat(substring(col("tok"), 1, 1),
        regexp_replace(expr("substring(tok, 2)"), "(.)", " ##$1"))
        .as("w"), col("f"))

  /** The merge loop shared by the plain and BERT-annotated trainers:
    * the symbol algebra (pair counting, likelihood argmax, injective
    * space-rewrite) never inspects the annotation. Returns the merge
    * list; the vocab's blocks are released on return. */
  private def wordpieceMergeLoop(init: DataFrame,
      nMerges: Int): Seq[(Long, String, Long, Long)] = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val rot = new graft.Rotation
    // the vocab count rides the init rotation and doubles as the
    // static-planning gate ([[graft.StaticPlan]])
    var (vocab, n0) = rot.observe(init, Seq(count(lit(1)).as("n")))
    val nVocab = n0.getLong(0)
    val merges = collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    var step = 0
    var exhausted = false
    graft.StaticPlan.withMeasured(init.sparkSession, nVocab) { _ =>
    while (step < nMerges && !exhausted) {
      step += 1
      val syms = vocab
        .select(col("f"), explode(split(col("w"), " ")).as("sym"))
        .groupBy("sym").agg(sum(col("f")).as("c"))
      val pairs = vocab.select(col("f"), split(col("w"), " ").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(l) - 1), " +
            "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
      // likelihood score on the exact decimal grid: cnt*2^40 stays
      // below 10^38 (decimal38-exact); ca*cb is computed in decimal
      // too so it can never wrap silently in non-ANSI LongType (the
      // DuckDB oracle's BIGINT product errors loudly on overflow —
      // the engines must agree, not diverge); the integral divide is
      // floor for positives on both engines
      val best = graft.StaticPlan.armed(pairs)
        .select(col("pair"), col("cnt"),
          split(col("pair"), " ").getItem(0).as("sa"),
          split(col("pair"), " ").getItem(1).as("sb"))
        .join(broadcast(syms.select(col("sym").as("sa"),
          col("c").as("ca"))), Seq("sa"))
        .join(broadcast(syms.select(col("sym").as("sb"),
          col("c").as("cb"))), Seq("sb"))
        .select(col("pair"), col("cnt"), expr(
          "(cast(cnt as decimal(38,0)) * 1099511627776) div " +
            "(cast(ca as decimal(38,0)) * cb)")
          .as("key"))
        .agg(min(struct((-col("key")).as("nk"), col("pair").as("p"),
          col("cnt").as("c"))).as("b"))
        .select(col("b.p").as("pair"), col("b.c").as("cnt"),
          (-col("b.nk")).as("key"))
        .head() // one aggregated scalar row per step (house law)
      if (best.isNullAt(0)) exhausted = true
      else {
        val pair = best.getString(0)
        merges += ((step.toLong, pair, best.getLong(1), best.getLong(2)))
        val search = lit(" " + pair.replace(" ", "  ") + " ")
        val repl = lit(" " + pair.replace(" ", "") + " ")
        val padded = concat(lit(" "),
          replace(col("w"), lit(" "), lit("  ")), lit(" "))
        val next = vocab
          .select(trim(replace(replace(padded, search, repl),
            lit("  "), lit(" "))).as("w"), col("f"))
          .groupBy("w").agg(sum(col("f")).as("f"))
        vocab = rot(next)
      }
    }
    } // StaticPlan.withMeasured
    rot.release()
    merges.toSeq
  }

  /**
   * The WordPiece vocabulary [[wordpieceTrain]]'s merges induce: every
   * single character seen in the corpus (the coverage floor — BERT's
   * vocab always contains the byte/char alphabet) plus one
   * concatenated token per merge. One corpus collapse + an nMerges-row
   * union; the result is vocab-sized (broadcastable downstream).
   */
  def wordpieceVocab(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = wordpieceTrainLoop(docs, textCol, nMerges)
    val chars = docs.select(explode(tokens(col(textCol))).as("tok"))
      .distinct()
      .select(explode(expr(
        "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"))
        .as("tok"))
      .distinct()
    chars.union(
      merges.map(_._2.replace(" ", "")).toDF("tok")).distinct()
  }

  /**
   * Apply a WordPiece vocabulary by GREEDY LONGEST-MATCH-FIRST
   * (BERT's WordpieceTokenizer law: at each position consume the
   * longest vocab piece that matches; if any position has NO match
   * the whole word becomes one [UNK]). Output per document:
   * (id, n_words, n_pieces, n_unk) — n_pieces counts an UNK word as
   * one piece, n_unk counts the UNK words.
   *
   * Scale shape: the corpus collapses once to the distinct-word
   * table; candidate matches are a len x maxPieceLen explode per
   * DISTINCT word joined to the broadcast vocab; the greedy walk is
   * ONE codegen'd `aggregate` fold over a per-word jump map (longest
   * match per start position) — no per-step joins, no UDF; per-doc
   * counts come from one token explode joined to the broadcast
   * word-stats frame.
   */
  def wordpieceEncodeCounts(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 32,
      "maxPieceLen in [1, 32]")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val matches = wordpieceSpans(words, maxPieceLen)
      .join(broadcast(vocab.select("tok")), Seq("tok"))
    greedyWalkCounts(docs, idCol, textCol, words, matches)
  }

  /** The greedy longest-match-first walk itself: longest match per
    * start position becomes a functional jump map, one codegen'd
    * `aggregate` fold follows it left to right. Returns (w, st) with
    * st = (pos, k pieces, unk flag); the UNK consequence (whole-word
    * [UNK] vs byte decomposition) is the caller's law. */
  private def greedyWalk(words: DataFrame,
      matches: DataFrame): DataFrame = {
    val jmap = matches.groupBy(col("w"), col("a"))
      .agg(max(col("b")).as("mb"))
      .groupBy("w")
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("a"), col("mb"))))).as("jm"))
    words.join(jmap, Seq("w"), "left")
      .select(col("w"), expr(
        """aggregate(sequence(1, length(w)),
          |  named_struct('pos', 1, 'k', CAST(0 AS BIGINT),
          |    'unk', false),
          |  (acc, i) -> CASE
          |    WHEN acc.unk OR acc.pos > length(w) THEN acc
          |    WHEN jm IS NULL OR element_at(jm, acc.pos) IS NULL
          |      THEN named_struct('pos', acc.pos, 'k', acc.k,
          |        'unk', true)
          |    ELSE named_struct('pos', element_at(jm, acc.pos) + 1,
          |      'k', acc.k + CAST(1 AS BIGINT), 'unk', false)
          |  END)""".stripMargin).as("st"))
  }

  /**
   * Byte-fallback WordPiece encode: [[wordpieceEncodeCounts]]' greedy
   * walk with the whole-word [UNK] consequence replaced by WHOLE-WORD
   * BYTE DECOMPOSITION — a word the walk cannot cover encodes as its
   * UTF-8 bytes, octet_length(w) byte pieces (the byte-fallback dual
   * of BERT's whole-word [UNK]; SentencePiece `byte_fallback`
   * semantics at the walk's failure granularity). UNK is structurally
   * impossible. Train/encode separation is the caller's: pass a vocab
   * trained on the TRAIN corpus ([[wordpieceVocab]]) and any encode
   * corpus. Output: (id, n_words, n_pieces, n_byte_pieces); n_pieces
   * includes the byte pieces.
   *
   * Scale shape: identical to [[wordpieceEncodeCounts]] — the walk
   * runs on the distinct-word table, the corpus pays one token
   * explode against the broadcast word stats.
   */
  def wordpieceEncodeBytes(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 32,
      "maxPieceLen in [1, 32]")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val matches = wordpieceSpans(words, maxPieceLen)
      .join(broadcast(vocab.select("tok")), Seq("tok"))
    val wstats = greedyWalk(words, matches).select(col("w"),
      when(col("st.unk"), octet_length(col("w")).cast("long"))
        .otherwise(col("st.k")).as("n_pieces_w"),
      when(col("st.unk"), octet_length(col("w")).cast("long"))
        .otherwise(lit(0L)).as("bytes_w"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(wstats), Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces_w")).as("n_pieces"),
        sum(col("bytes_w")).as("n_byte_pieces"))
  }

  /** All (a, b, substring) candidate spans per distinct word. */
  private def wordpieceSpans(words: DataFrame,
      maxPieceLen: Int): DataFrame =
    words.select(col("w"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), a ->
           |  transform(sequence(a, least(a + ${maxPieceLen - 1},
           |      length(w))), b ->
           |    named_struct('a', a, 'b', b,
           |      'tok', substring(w, a, b - a + 1)))))""".stripMargin))
        .as("p"))
      .select(col("w"), col("p.a").as("a"), col("p.b").as("b"),
        col("p.tok").as("tok"))

  /** Greedy longest-match walk + per-doc counts, shared by the plain
    * and BERT encoders: longest match per start position becomes a
    * functional jump map, one codegen'd `aggregate` fold follows it
    * left to right (whole-word [UNK] on any gap). */
  private def greedyWalkCounts(docs: DataFrame, idCol: String,
      textCol: String, words: DataFrame,
      matches: DataFrame): DataFrame = {
    val walked = greedyWalk(words, matches)
    val wstats = walked.select(col("w"),
      when(col("st.unk"), lit(1L)).otherwise(col("st.k"))
        .as("n_pieces_w"),
      when(col("st.unk"), lit(1L)).otherwise(lit(0L)).as("unk_w"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(wstats), Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces_w")).as("n_pieces"),
        sum(col("unk_w")).as("n_unk"))
  }

  /**
   * Per-source tokenizer FERTILITY rollup (the standard tokenizer-eval
   * table: pieces-per-word and chars-per-piece by corpus slice —
   * multilingual tokenizer fairness reviews read exactly this, cf.
   * the fertility metric in the XLM-R / NLLB tokenizer analyses):
   * [[wordpieceEncodeCounts]] per document, joined to the source
   * column and rolled up with EXACT integer ratios
   * (fertility_permille = 1000*n_pieces div n_words;
   * chars_per_piece_permille = 1000*n_chars div n_pieces). One
   * corpus scan for the char counts + the encoder's own scan;
   * everything after is source-count-sized.
   */
  def tokenizerFertility(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val enc = wordpieceEncodeCounts(docs, idCol, textCol, vocab,
      maxPieceLen)
    val chars = docs.select(col(idCol), col(srcCol).as("source"),
      aggregate(transform(tokens(col(textCol)),
        t => length(t).cast("long")), lit(0L), (acc, x) => acc + x)
        .as("n_chars"))
    chars.join(enc, Seq(idCol))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_unk")).as("n_unk"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_pieces"), col("n_unk"), col("n_chars"),
        expr("(1000 * n_pieces) div n_words").as("fertility_permille"),
        expr("(1000 * n_chars) div n_pieces")
          .as("chars_per_piece_permille"))
  }

  /**
   * BERT-faithful WordPiece trainer (Devlin et al. 2019; the HF/
   * google-research `WordpieceTokenizer` contract): symbols carry the
   * POSITION annotation — a word starts bare and continues with
   * `##`-prefixed characters ("hello" -> h ##e ##l ##l ##o) — so a
   * merge of (h, ##e) produces the initial-form piece "he" while
   * (##l, ##l) produces the continuation piece "##ll", and the two
   * never pool counts (the distinction [[wordpieceTrain]]'s
   * position-agnostic variant deliberately drops). Same likelihood
   * argmax and exact integer score as [[wordpieceTrain]]; emitted
   * pairs keep their annotations. Tokens containing '#' are excluded
   * from training (annotation unambiguity — the standard assumption).
   */
  def wordpieceBertTrain(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordpieceMergeLoop(wordpieceBertInit(docs, textCol), nMerges)
      .toDF("step", "pair", "cnt", "score_x40")
  }

  /**
   * The BERT WordPiece vocabulary in display form (tok, is_cont):
   * every first character of a '#'-free corpus token (initial
   * coverage), every `##c` for characters seen at position >= 2
   * (continuation coverage), plus each merge's concatenated symbol
   * normalized to its display form (`##` kept only as the leading
   * marker: the symbol h##e displays as "he", ##l##l as "##ll").
   */
  def wordpieceBertVocab(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges =
      wordpieceMergeLoop(wordpieceBertInit(docs, textCol), nMerges)
    val toksD = docs.select(explode(tokens(col(textCol))).as("tok"))
      .filter(!col("tok").contains("#"))
      .distinct()
      .transform(graft.CacheScope.persist(_))
    val initChars = toksD
      .select(substring(col("tok"), 1, 1).as("tok"),
        lit(0L).as("is_cont"))
    val contChars = toksD.filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, length(tok)), i -> substring(tok, i, 1))"))
        .as("c"))
      .select(concat(lit("##"), col("c")).as("tok"), lit(1L).as("is_cont"))
    val mergedSurf = merges.map(_._2.replace(" ", "")).toDF("sym")
      .select(
        when(col("sym").startsWith("##"),
          concat(lit("##"), regexp_replace(col("sym"), "#", "")))
          .otherwise(regexp_replace(col("sym"), "#", "")).as("tok"),
        when(col("sym").startsWith("##"), lit(1L)).otherwise(lit(0L))
          .as("is_cont"))
    initChars.union(contChars).union(mergedSurf).distinct()
  }

  /**
   * BERT WordPiece greedy encode against a (tok, is_cont) vocabulary:
   * position 1 of each word may only consume initial-form pieces,
   * positions >= 2 only continuation pieces (matched on the surface
   * behind the `##` marker) — the faithful two-inventory variant of
   * [[wordpieceEncodeCounts]]'s single-inventory law; same jump-map
   * fold, same whole-word [UNK] rule (now genuinely reachable: a
   * character never seen in continuation position has no ## form).
   */
  def wordpieceBertEncodeCounts(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 32,
      "maxPieceLen in [1, 32]")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val spans = wordpieceSpans(words, maxPieceLen)
      .transform(graft.CacheScope.persist(_))
    val vinit = vocab.filter(col("is_cont") === 0L).select("tok")
    val vcont = vocab.filter(col("is_cont") === 1L)
      .select(expr("substring(tok, 3)").as("tok"))
    val matches = spans.filter(col("a") === 1)
      .join(broadcast(vinit), Seq("tok"))
      .unionByName(spans.filter(col("a") > 1)
        .join(broadcast(vcont), Seq("tok")))
    greedyWalkCounts(docs, idCol, textCol, words, matches)
  }

  /** BPE-ish subword count estimate: word-piece regex splits on
    * non-alphanumerics and splits long runs — a cheap stand-in for a
    * tokenizer's token count at corpus-statistics accuracy. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[^\\p{L}\\p{N}]+|(?<=\\p{L}{8})"), t => t =!= ""))

  /** Punctuation characters (explicit class, engine-portable). */
  private val PunctClass = "[.,!?;:]"

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, PunctClass, ""))

  /** Stopword hit-count against a fixed marker list. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val arr = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(arr, t)))
  }

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /**
   * Quality metrics struct: per-document char/token counts, mean token
   * length, punctuation ratio, stopword ratio, and a composite score in
   * [0,1] (heuristics in the spirit of C4/Gopher quality filters:
   * documents that are too short, punctuation-free or stopword-free are
   * penalized).
   */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    import graft.functions.Portable.quant
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    // quant, not round(): these are rationals with arbitrary token/char
    // denominators — round()'s half-tie resolution is engine-dependent
    // (Portable.scala); the DuckDB oracles apply the identical law
    val meanTokLen = quant(nChar / greatest(nTok, lit(1.0)), 4)
    val punctRatio = quant(punctCount(text).cast("double") /
      greatest(nChar, lit(1.0)), 4)
    val stopRatio = quant(
      stopwordCount(text, DefaultStopwords).cast("double") /
        greatest(nTok, lit(1.0)), 4)
    val lengthScore = least(nTok / lit(50.0), lit(1.0))
    val stopScore = least(stopRatio * lit(10.0), lit(1.0))
    val score = quant(lit(0.5) * lengthScore + lit(0.5) * stopScore, 4)
    Seq(
      "n_chars_m" -> nChar.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "mean_tok_len" -> meanTokLen,
      "punct_ratio" -> punctRatio,
      "stopword_ratio" -> stopRatio,
      "quality_score" -> score)
  }

  /**
   * Language-ID by marker-word voting: each candidate language has a
   * marker lexicon; the prediction is the argmax hit-count with a fixed
   * tie-break order (first in `markers`). An n-gram heuristic in the
   * classic "stopword profile" family — deterministic, engine-portable,
   * no model artifact.
   */
  val DefaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "value", "table"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langScores(text: Column,
      markers: Seq[(String, Seq[String])] = DefaultMarkers): Seq[(String, Column)] =
    markers.map { case (lang, words) =>
      s"score_$lang" -> stopwordCount(text, words)
    }

  def predictedLang(text: Column,
      markers: Seq[(String, Seq[String])] = DefaultMarkers): Column = {
    val scores = markers.map { case (lang, words) =>
      lang -> stopwordCount(text, words)
    }
    // argmax with first-wins tie-break: strictly-greater comparison in
    // declaration order.
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (greatest(bestScore, score),
          when(score > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  /** Normalized-content fingerprint: md5 over lowercased,
    * whitespace-collapsed text — the content-defined document key used
    * by exact dedup and incremental re-crawl diffing. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash
   * every char `k`-gram of the normalized text, slide a window of `w`
   * consecutive hashes, keep the minimum of each window (rightmost
   * occurrence on ties), distinct. Guarantees every match of length
   * ≥ k+w-1 shares a fingerprint — the partial-overlap dedup primitive
   * (plagiarism/near-dup detection) that whole-doc hashing can't do.
   *
   * One narrow gram explode + ONE shuffle (the per-document window).
   * The rightmost-min-on-ties rule is encoded arithmetically so any
   * engine agrees: min(hash·10^6 + (10^6 − pos)) picks the smallest
   * hash, then the largest position. Positions are 1-based gram starts
   * (requires text length < 10^6 — document-scale, not corpus-scale).
   *
   * Returns (id, fp_hash, fp_pos).
   */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    val txt = col("_txt")
    // char k-grams; empty array (not a descending sequence) under length k
    val grams = when(length(txt) >= k,
      transform(sequence(lit(1), length(txt) - (k - 1)),
        i => txt.substr(i, lit(k)))).otherwise(array())
    val posKey = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    df.select(col(idCol).as("id"),
        trim(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("_txt"))
      .select(col("id"), posexplode(grams).as(Seq("pos0", "gram")))
      .select(col("id"), (col("pos0") + 1).as("pos"),
        (Dedup.hash32(col("gram")) * 1000000L +
          (lit(1000000L) - col("pos0") - 1)).as("key"))
      .select(col("id"), col("pos"),
        min(col("key")).over(posKey).as("mk"),
        count(lit(1)).over(posKey).as("wn"))
      .filter(col("wn") === w) // only full windows select a fingerprint
      // integral DIV, not double `/`: hash·10^6 + offset is ~2^52, where
      // a double quotient can round up across the integer boundary
      .select(col("id"), expr("mk DIV 1000000L").as("fp_hash"),
        (lit(1000000L) - pmod(col("mk"), lit(1000000L))).as("fp_pos"))
      .distinct()
  }

  /** Lower-cased alphanumeric terms (portable split: `[^a-z0-9]+` is the
    * same regex class in Spark and the DuckDB oracle). */
  def terms(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /**
   * Top-k TF-IDF terms per document (score = tf · ln(N/df), ties to the
   * lexicographically smaller term).
   *
   * Scale shape: ONE corpus scan builds the (doc, term, tf) frame — it
   * is persisted because both the document-frequency aggregate and the
   * final join consume it — then a term-keyed shuffle join attaches df.
   * The per-doc top-k is a WindowGroupLimit (map-side partial top-k), so
   * no reducer ever holds a whole document's term list unsorted.
   */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tf = df
      .select(col(idCol).as("doc_id"), explode(terms(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(graft.CacheScope.persist(_))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // N for the IDF term comes from the persisted tf frame as an
    // in-plan broadcast scalar (N = docs with >= 1 term; termless docs
    // can't appear in the output and would only shift every score by a
    // constant). A driver-side df.count() here would be a SECOND full
    // corpus scan before the real job — at 100 TB, a pass over
    // everything just to fetch one number.
    val nDocs = tf.agg(count_distinct(col("doc_id")).as("_n"))
    val score = graft.functions.Portable.quant(
      col("tf") * log(col("_n").cast("double") / col("df")), 6)
    val w = Window.partitionBy("doc_id")
      .orderBy(score.desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      // tf/df/rk are the exact columns the oracle hashes; the ln-based
      // score is for API users (libm floats don't hash portably)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("rk"), score.as("score"))
  }

  /**
   * Okapi BM25 ranked retrieval (Robertson & Walker 1994; the Lucene
   * `BM25Similarity` idf variant, which is ≥ 0 for every df):
   * score(q, d) = Σ_{t ∈ q∩d} ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
   * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), top-k docs per query
   * by (score desc, doc asc). k1/b arrive as permille integers
   * (1200/750 = the standard 1.2/0.75) so the parameter surface stays
   * engine-portable. Repeated query terms count once (the binary-qtf
   * form — Robertson's k3→0 limit).
   *
   * Determinism: each (query, doc, term) contribution is floored onto
   * the dyadic 2^-30 grid ([[graft.functions.Portable.dyadic]]) before
   * the per-doc sum, so the score is bit-identical under any partial-
   * aggregation order and across engines; ranks read that exact sum.
   *
   * Scale shape: ONE corpus scan builds the persisted (doc, term, tf)
   * frame feeding df / doc-length / match join; N and avgdl ride as a
   * broadcast scalar row (never a driver collect); the query-term
   * frame is queries×terms-sized and broadcast into the term-keyed
   * match join, so the corpus shuffles once by term and once by
   * (query, doc) for the sum; the final top-k is a per-query
   * WindowGroupLimit over candidate docs only (docs sharing ≥ 1 term).
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int,
      k1Permille: Int = 1200, bPermille: Int = 750): DataFrame = {
    require(k >= 1 && k1Permille >= 0 && bPermille >= 0 &&
      bPermille <= 1000, "k >= 1, k1 >= 0, b in [0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val k1 = k1Permille / 1000.0
    val b = bPermille / 1000.0
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(terms(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(graft.CacheScope.persist(_))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // N and total length in ONE aggregated scalar row (avgdl = totdl/N
    // is the identical double division on both engines)
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_dl"))
    val qterms = queries.toDF("query_id", "q_text")
      .select(col("query_id"), explode(terms(col("q_text"))).as("term"))
      .distinct()
    val contrib = tf.join(broadcast(qterms), "term")
      .join(dfreq, "term").join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") -
          col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("tfn",
        col("tf").cast("double") * lit(k1 + 1.0) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") *
              col("n_docs").cast("double") /
              col("tot_dl").cast("double"))))
      .select(col("query_id"), col("doc_id"),
        graft.functions.Portable.dyadic(col("idf") * col("tfn"))
          .as("c"))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("c")).as("score"),
        count(lit(1)).as("n_terms_hit"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("rk"),
        col("n_terms_hit"), col("score"))
  }

  /**
   * Gopher-style repetition signals per document: token count, duplicate
   * -word fraction (1 − distinct/total), top-word fraction, and
   * top-bigram fraction. High values flag boilerplate/spam for corpus
   * filtering.
   *
   * Explode + groupBy (linear, shuffle on doc_id) rather than per-row
   * array lambdas: counting occurrences inside a HOF is O(tokens²) per
   * document in interpreted lambda evaluation.
   */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      terms(col(textCol)).as("_toks"))
    val wordTf = base
      .select(col("doc_id"), explode(col("_toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val words = wordTf.groupBy("doc_id").agg(
      sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
      max("c").as("top_c"))
    val bigrams = base
      .select(col("doc_id"), explode(when(size(col("_toks")) >= 2,
        transform(sequence(lit(1), size(col("_toks")) - 1),
          i => concat(element_at(col("_toks"), i), lit(" "),
            element_at(col("_toks"), i + 1))))
        .otherwise(array())).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n_bg"), max("c").as("top_bg"))
    import graft.functions.Portable.quant
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        quant(lit(1) - col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("dup_word_frac"),
        quant(col("top_c").cast("double") / col("n_tokens"), 6)
          .as("top_word_frac"),
        quant(col("top_bg").cast("double") / col("n_bg"), 6)
          .as("top_bigram_frac"))
  }

  /**
   * Corpus-trained unigram log-probability score per document — the
   * cheap analog of CCNet's LM-perplexity quality filter: score =
   * mean over tokens of log2 P(token), P from the corpus's own
   * unigram frequencies. Atypical/garbled documents score far below
   * the corpus mode and are filtered by thresholding, no external
   * model needed.
   *
   * Scale shape: ONE token explode feeds (a) the unigram table (one
   * map-side-combined shuffle, vocabulary-sized output) and (b) the
   * per-doc score join — the token frame persists so the corpus scan
   * runs once; the corpus-total token count rides an in-plan
   * broadcast scalar (no driver count()).
   */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tok = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .transform(graft.CacheScope.persist(_))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
    val total = freq.agg(sum(col("tf")).as("_total"))
    tok.join(freq, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        // Σ tf over the doc's token instances — the exact-integer
        // surrogate the oracle hashes: it exercises the same
        // tokenize→count→join pipeline, but unlike the log2 score it
        // is bit-portable across engines (libm log2 can differ by an
        // ulp between DuckDB builds — the round-4 driver-only failure
        // class on q_token_entropy)
        sum(col("tf")).as("sum_tf"),
        (sum(log2(col("tf").cast("double") / col("_total")))
          / count(lit(1))).as("mean_log2p"))
  }

  /**
   * Corpus bigram language-model counts — the KenLM-style n-gram
   * statistics a perplexity filter trains on: for every adjacent token
   * pair (w1, w2) the joint count c12 and the history count c1, from
   * which P(w2|w1) = c12/c1 derives exactly. `minCount` prunes the
   * long tail (the standard LM count cutoff) AFTER both aggregates, so
   * c1 still reflects every occurrence of the history word.
   *
   * Scale shape: one bigram explode (corpus-sized narrow rows,
   * persisted — it feeds BOTH aggregates), two map-side-combinable
   * count shuffles, one vocabulary-sized join on w1 (AQE broadcasts
   * the history side when it fits). Hot history words ("the") cost one
   * combined partial per partition, never a single-reducer funnel.
   * All-integer output — gate-portable by construction.
   */
  def bigramCounts(df: DataFrame, idCol: String, textCol: String,
      minCount: Int): DataFrame = {
    val pairs = df
      .select(tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("_t")) - 1),
        i => struct(element_at(col("_t"), i).as("w1"),
          element_at(col("_t"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .transform(graft.CacheScope.persist(_))
    val joint = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val hist = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    joint.join(hist, "w1")
      .filter(col("c12") >= minCount)
      .select("w1", "w2", "c12", "c1")
  }

  /**
   * Gopher-style quality GATE (Rae et al. 2021 Gopher appendix A1.1 /
   * C4 heuristics as a hard filter verdict, not just scores): per
   * document a reason bitmask and a pass flag. Every rule is an
   * ALL-INTEGER cross-multiplied comparison — `mean token length < 3`
   * becomes `n_char < 3*n_tok` — so the gate is exact on both engines
   * with no float ratio anywhere (the [[qualityColumns]] scores stay
   * the soft variant).
   *
   * Bits: 1 = token count outside [minTok, maxTok]; 2 = mean token
   * length outside [3, 10]; 4 = punctuation-to-token ratio > 1/10;
   * 8 = fewer than 2 stopword hits; 16 = duplicate-token fraction
   * > 3/10. pass = (bits == 0). One corpus scan, per-row expressions
   * only — embarrassingly parallel at any scale.
   */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      minTok: Int = 50, maxTok: Int = 100000): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val nChar = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val nPunct = punctCount(col(textCol)).cast("long")
    val nStop = stopwordCount(col(textCol), DefaultStopwords).cast("long")
    val nDup = nTok - size(array_distinct(toks)).cast("long")
    val bits =
      when(nTok < minTok || nTok > maxTok, lit(1L)).otherwise(lit(0L)) +
        when(nChar < lit(3L) * nTok || nChar > lit(10L) * nTok, lit(2L))
          .otherwise(lit(0L)) +
        when(lit(10L) * nPunct > nTok, lit(4L)).otherwise(lit(0L)) +
        when(nStop < lit(2L), lit(8L)).otherwise(lit(0L)) +
        when(lit(10L) * nDup > lit(3L) * nTok, lit(16L))
          .otherwise(lit(0L))
    df.select(col(idCol), nTok.as("n_tok"), bits.as("reason_bits"),
      when(bits === 0L, lit(1L)).otherwise(lit(0L)).as("pass"))
  }

  /**
   * Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995; Chen
   * & Goodman 1998 §2.7, the standard n-gram LM smoother KenLM
   * implements — the CCNet perplexity filter's model family) with the
   * canonical discount D = 3/4 kept EXACT: every probability is the
   * rational
   *
   *   p(w|v) = (c(vw) - 3/4)/c(v) + (3/4)·N1+(v·)/c(v) · N1+(·w)/N1+(··)
   *
   * put over the common denominator 4·c(v)·N1+(··), so the surfaced
   * columns are the exact BIGINT numerator/denominator
   *   p_num = (4·c(vw) - 3)·Npp + 3·N1p(v)·N1m(w),  p_den = 4·c(v)·Npp
   * — no float division, no libm, engine-identical by construction.
   * (N1p(v) = distinct continuations of v; N1m(w) = distinct contexts
   * preceding w — the continuation counts that make KN rank "Francisco"
   * low despite its raw frequency; Npp = distinct bigram types.)
   *
   * Scale shape: ONE bigram explode feeding four combinable
   * aggregates (pair counts; per-v sum+distinct in one pass; per-w
   * distinct; one scalar), then vocab-sized joins + a broadcast
   * scalar attach. The corpus is scanned once.
   */
  def knBigrams(df: DataFrame, textCol: String,
      minCount: Int): DataFrame = {
    val pairs = df
      .select(tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("_t")) - 1),
        i => struct(element_at(col("_t"), i).as("w1"),
          element_at(col("_t"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val joint = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .transform(graft.CacheScope.persist(_))
    val ctx = joint.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
    val cont = joint.groupBy("w2").agg(count(lit(1)).as("n1m"))
    val npp = joint.agg(count(lit(1)).as("npp"))
    joint.filter(col("c12") >= minCount)
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(npp))
      .select(col("w1"), col("w2"), col("c12"),
        ((lit(4L) * col("c12") - lit(3L)) * col("npp") +
          lit(3L) * col("n1p") * col("n1m")).as("p_num"),
        (lit(4L) * col("c1") * col("npp")).as("p_den"))
  }

  /**
   * PMI collocation mining — the classic corpus-linguistics signal for
   * multiword expressions ("new york", "machine learning"): bigrams
   * whose joint frequency beats the independence expectation. PMI =
   * log(c12·N / (c1·c2)); the log is monotone, so the gate surface
   * carries the exact-integer evidence (c12, c1, c2) plus an
   * integer-scaled ratio `pmi_scaled = ((c12·10^6) div c1 · N) div c2`
   * — same ordering, no libm float in the hash (the log itself is a
   * client-side presentation concern).
   *
   * Scale shape: one persisted token-array scan feeds the unigram and
   * bigram explodes (two map-side-combinable count shuffles); the
   * `minCount` cutoff prunes the candidate set BEFORE the two
   * vocabulary-sized count joins (AQE broadcasts the unigram side when
   * it fits); the corpus total rides in-plan as a broadcast one-row
   * scalar. The scaled ratio keeps exact integer semantics through
   * c12·10^6·N ≤ 2^63; a corpus past ~10^12 tokens would lower the
   * scale constant on both engine and oracle sides together.
   */
  def collocations(df: DataFrame, textCol: String,
      minCount: Int): DataFrame = {
    val toksArr = df.select(tokens(col(textCol)).as("_t"))
      .transform(graft.CacheScope.persist(_)) // feeds unigrams + bigrams
    val uni = toksArr.select(explode(col("_t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .transform(graft.CacheScope.persist(_)) // joined on w1 AND w2
    val total = uni.agg(sum(col("c")).as("n_tok"))
    val joint = toksArr.filter(size(col("_t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("_t")) - 1),
        i => struct(element_at(col("_t"), i).as("w1"),
          element_at(col("_t"), i + 1).as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    // The documented exact-integer bound, ENFORCED in-plan: past
    // n_tok ~ 9.2e12 the scaled product would wrap silently in Spark's
    // non-ANSI Long arithmetic while DuckDB raises — so the engine now
    // raises too (same observable behavior on both sides) instead of
    // emitting wrapped values. The guard rides the same when() as the
    // value, so column pruning can't elide it.
    val maxNTok = Long.MaxValue / 1000000L
    joint
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        when(col("n_tok") > maxNTok, raise_error(lit(
          s"collocations: n_tok exceeds the exact-integer PMI bound " +
            s"$maxNTok — lower the 10^6 scale constant on BOTH sides"))
          .cast("long"))
          .otherwise(expr("((c12 * 1000000 div c1) * n_tok) div c2"))
          .as("pmi_scaled"))
  }

  /**
   * Document-length histogram — the corpus-shape diagnostic behind
   * sequence-length and packing decisions (where does the mass sit
   * relative to the context window): per `bucketWidth`-token bucket,
   * document count and exact token mass. One narrow token-count scan +
   * one histogram-sized aggregate; all-integer output.
   */
  def docLengthHist(docs: DataFrame, textCol: String,
      bucketWidth: Int): DataFrame =
    docs.select(tokenCount(col(textCol)).cast("long").as("n_tok"))
      .groupBy(expr(s"n_tok div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))

  /**
   * Vocabulary coverage curve — the evidence behind choosing a
   * tokenizer vocab size: for each probe size K, the exact token mass
   * the top-K vocabulary covers (cum_freq of the K most frequent
   * types, total corpus tokens — the coverage ratio is the client's
   * division). Reading the curve's knee IS the vocab-size decision;
   * the OOV rate at the chosen K is [[oovRate]].
   *
   * Scale shape: the corpus collapses in one vocab-sized count shuffle
   * (map-side combinable); the rank window and running sum run over
   * the VOCABULARY, the smallest frame in the pipeline (the
   * [[zipfTable]] law); the probe sizes then select |Ks| rows.
   * All-integer output.
   */
  def vocabCoverage(docs: DataFrame, textCol: String,
      ks: Seq[Int]): DataFrame = {
    val freq = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .transform(graft.CacheScope.persist(_)) // feeds total + curve
    val total = freq.agg(sum(col("f")).as("n_total"))
    val w = Window.orderBy(col("f").desc, col("tok"))
    val curve = freq
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_freq", sum(col("f")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("rnk").isin(ks.map(_.toLong): _*))
    curve.crossJoin(broadcast(total))
      .select(col("rnk").as("k"), col("cum_freq"), col("n_total"))
  }

  /**
   * Vocabulary growth curve (Heaps' law evidence, Herdan 1960 /
   * Heaps 1978): cumulative distinct-type count vs cumulative token
   * count as the corpus is consumed in doc-id order. The curve's
   * exponent (V ≈ K·nᵝ, β client-side from two curve points) predicts
   * how much NEW vocabulary the next crawl increment brings — the
   * sizing input for tokenizer retraining and OOV budgeting that
   * [[vocabCoverage]]'s static snapshot can't give. Output one row per
   * doc-rank bucket: (bucket, docs_seen, cum_tokens, vocab_size) —
   * all exact integers.
   *
   * Scale shape: each type collapses to its FIRST document (one
   * vocab-sized min shuffle — new-type credit is assigned where the
   * type is born, so the curve needs no distinct-over-prefix scan);
   * per-doc token counts are one combinable shuffle. Both running
   * sums window over the per-DOC frame (corpus-rows ÷ mean doc length;
   * the rangeBounds law — the frame where a global order is
   * affordable), and the output folds to |buckets| rows.
   */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      bucketSize: Int): DataFrame = {
    require(bucketSize >= 1, "bucketSize must be >= 1")
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .transform(graft.CacheScope.persist(_)) // feeds firsts + counts
    val births = tok.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("new_types"))
    val perDoc = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"))
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perDoc.join(births, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("doc_rank", row_number().over(Window.orderBy(col("doc_id")))
        .cast("long"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .groupBy(expr(s"(doc_rank - 1) div $bucketSize").as("bucket"))
      .agg(max(col("doc_rank")).as("docs_seen"),
        max(col("cum_tok")).as("cum_tokens"),
        max(col("cum_types")).as("vocab_size"))
  }

  /**
   * Source-pair vocabulary overlap — the corpus-composition diagnostic
   * for mixture design: per pair of sources, the shared distinct-token
   * count plus each side's vocabulary size (Jaccard/containment are
   * client-side divisions of the exact-integer evidence). Surfaces
   * near-duplicate source feeds and domain drift between crawl
   * snapshots before they skew mixture weights.
   *
   * Scale shape: the corpus collapses in ONE distinct (source, token)
   * shuffle — everything after is vocabulary-sized. Pair generation is
   * the intra-bucket explode over each token's source list (bounded by
   * the source COUNT, a handful, so no cap is needed — the bucket is
   * small by construction, not by luck).
   */
  def sourceVocabOverlap(docs: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val vocab = docs.select(col(srcCol).as("src"),
        explode(tokens(col(textCol))).as("tok"))
      .distinct()
      .transform(graft.CacheScope.persist(_)) // feeds sizes + buckets
    val sizes = vocab.groupBy("src").agg(count(lit(1)).as("vsz"))
    val nestedPairs = transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + 2, size(col("srcs"))),
        y => struct(x.as("a"), y.as("b"))))
    val common = vocab.groupBy(col("tok"))
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(flatten(nestedPairs)).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("src").as("src_a"), col("vsz").as("v_a")),
        Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("vsz").as("v_b")),
        Seq("src_b"))
      .select("src_a", "src_b", "n_common", "v_a", "v_b")
  }

  /**
   * DSIR-style importance evidence (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling"): score every
   * document by how much its unigram distribution looks like a TARGET
   * subset versus the whole corpus. DSIR's weight is
   * Σ_w c_doc(w)·log(p_tgt(w)/p_all(w)); the log is monotone per term,
   * so the gate surface carries the log-free exact-integer analog —
   * `dsir_scaled` = Σ_w c_doc(w)·r_scaled(w) with r_scaled =
   * ((c_tgt·10^6 div c_all)·N_all) div N_tgt, the same scaled-ratio
   * currency as [[collocations]]' PMI (c_tgt ≤ c_all keeps the first
   * factor ≤ 10^6; the same ~9.2e12-token bound is enforced in-plan).
   * Tokens absent from the target contribute 0 — the hard version of
   * DSIR's smoothing, stated rather than hidden. Ranking by
   * `dsir_scaled/n_tok` is the resampling key; the division is the
   * client's.
   *
   * Scale shape: two map-side-combinable vocab-sized count shuffles
   * (target + corpus) build the ratio table; the corpus-scale pass is
   * one explode + one join against that vocab-sized table (AQE
   * broadcasts it while it fits) + one per-doc sum. The corpus is
   * never joined with itself.
   */
  def dsirEvidence(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), isTarget.as("_tgt"),
        explode(tokens(col(textCol))).as("w"))
      .transform(graft.CacheScope.persist(_)) // feeds both counts + scoring
    val counts = toks.groupBy("w").agg(
        count(lit(1)).as("c_all"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("c_tgt"))
      .transform(graft.CacheScope.persist(_))
    val totals = counts.agg(sum(col("c_all")).as("n_all"),
      sum(col("c_tgt")).as("n_tgt"))
    val maxN = Long.MaxValue / 1000000L
    val ratio = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        when(col("n_all") > maxN, raise_error(lit(
          s"dsirEvidence: corpus exceeds the exact-integer ratio bound " +
            s"$maxN tokens — lower the 10^6 scale constant")).cast("long"))
          .otherwise(expr(
            "((c_tgt * 1000000 div c_all) * n_all) div n_tgt"))
          .as("r_scaled"))
    toks.join(ratio, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("r_scaled")).as("dsir_scaled"))
  }

  /**
   * DSIR importance RESAMPLING — the selection half that
   * [[dsirEvidence]]'s scoring feeds (Xie et al. 2023 §3: sample with
   * probability ∝ importance weight): per-token integer score
   * `dsir_scaled div n_tok`, then a deterministic rejection draw —
   * keep iff u·s_max < score·10⁶ with u = first 8 md5 hex digits of
   * 'dsir#'doc_id mod 10⁶ — so P(keep) = score/s_max exactly, every
   * draw replays bit-identically in both engines, and re-running the
   * pipeline yields the same corpus (the determinism a 100 TB
   * selection job needs for resumability). Output (doc_id, score,
   * kept) — all-integer.
   *
   * Scale shape: [[dsirEvidence]]'s two vocab-sized shuffles dominate;
   * the max-score scalar rides an in-plan broadcast (no driver
   * fetch) and the draw is a narrow codegen'd projection.
   */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val score = dsirEvidence(docs, idCol, textCol, isTarget)
      .select(col("doc_id"), expr("dsir_scaled div n_tok").as("score"))
    val mx = score.agg(max(col("score")).as("smax"))
    score.crossJoin(broadcast(mx))
      .withColumn("u", pmod(conv(substring(md5(
          concat(lit("dsir#"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long"), lit(1000000L)))
      .select(col("doc_id"), col("score"),
        (col("u") * col("smax") < col("score") * lit(1000000L))
          .cast("int").as("kept"))
  }

  /**
   * Per-document bigram-LM score — the train-then-score half of a
   * KenLM-style perplexity filter (CCNet's filtering stage): the LM is
   * the corpus's own bigram table (joint count c12, history count c1,
   * tail cut at `minCount`, same law as [[bigramCounts]]); every
   * document is then scored against it. Output is the exact-integer
   * evidence the gate can hash — pair coverage (`n_pairs`/`n_known`)
   * and the summed joint/history counts from which the conditional
   * log-prob Σ log2(c12/c1) derives; the float score itself stays out
   * of the hashed surface (libm-portability law, see
   * [[unigramLogProb]]). Documents with fewer than two tokens emit no
   * pairs and are absent, as in the oracle.
   *
   * Scale shape: ONE doc-keyed pair explode is persisted and feeds all
   * three consumers (joint agg, history agg, scoring join) — the corpus
   * is tokenized once. The two count shuffles are map-side combinable;
   * the scoring join's LM side is cutoff-pruned (vocabulary-sized, AQE
   * broadcasts while it fits). Hot bigrams cost partial-agg rows, never
   * a single-reducer funnel.
   */
  def bigramDocScore(df: DataFrame, idCol: String, textCol: String,
      minCount: Int): DataFrame = {
    val pairs = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("_t")) - 1),
          i => struct(element_at(col("_t"), i).as("w1"),
            element_at(col("_t"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .transform(graft.CacheScope.persist(_))
    val joint = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val hist = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val lm = joint.join(hist, "w1")
      .filter(col("c12") >= minCount)
      .select("w1", "w2", "c12", "c1")
    pairs.join(lm, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("c12").isNotNull, 1L).otherwise(0L)).as("n_known"),
        coalesce(sum(col("c12")), lit(0L)).as("sum_c12"),
        coalesce(sum(col("c1")), lit(0L)).as("sum_c1"))
  }

  /**
   * Out-of-vocabulary rate per document against a top-`vocabSize`
   * frequency vocabulary — the tokenizer-coverage check run before
   * committing a vocab to a training run: vocab = the `vocabSize` most
   * frequent corpus tokens (ties to the lexicographically smaller
   * token, so the vocab is deterministic); per doc, how many token
   * instances fall outside it. A top-K vocab (not a frequency cutoff)
   * is the scale-invariant framing — absolute counts grow with the
   * corpus, vocab size is what a tokenizer actually fixes. All-integer
   * output (`oov_permille` is an exact integer division, portable for
   * these nonnegative operands).
   *
   * Scale shape: one persisted token explode feeds the vocab aggregate
   * and the coverage join; the top-K runs on the vocabulary-sized
   * aggregate (orderBy+limit over |vocab| rows, not the corpus) and
   * the pruned vocab side broadcasts; per-doc agg is map-side
   * combinable.
   */
  /**
   * Per-language tokenizer fertility — tokens per 1000 characters.
   * The mixture-design diagnostic: a tokenizer that fragments one
   * language into 3× the tokens of another silently reweights the
   * training mixture (effective epochs ∝ tokens, not documents), so
   * per-language fertility is read BEFORE fixing source weights.
   * Integer permille by the portable floor law; one narrow scan + one
   * language-sized aggregate.
   */
  def tokenFertility(df: DataFrame, langCol: String,
      textCol: String): DataFrame =
    df.select(col(langCol).as("lang"),
        tokenCount(col(textCol)).cast("long").as("n_tok"),
        length(col(textCol)).cast("long").as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("fert_permille",
        floor(col("sum_tok") * lit(1000.0) / col("sum_chars"))
          .cast("long"))

  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val tok = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .transform(graft.CacheScope.persist(_))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(vocabSize).select("tok", "tf")
    tok.join(vocab, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tf").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille",
        expr("n_oov * 1000L div greatest(n_tokens, 1L)"))
  }

  /**
   * All-integer linear quality classifier — a fastText-style filter
   * head over the same heuristics as [[qualityColumns]], arithmetic
   * restricted to integers so the decision boundary is bit-portable
   * across engines (no float dot product to drift): features are the
   * capped token count plus stopword/punctuation rates in permille
   * (integer division — exact for these nonnegative operands), the
   * score their fixed integer-weighted sum, the label a threshold on
   * it. Pure narrow scan, zero shuffle, whole-stage codegen.
   */
  def qualityClassifier(df: DataFrame, idCol: String, textCol: String,
      threshold: Long): DataFrame = {
    val text = col(textCol)
    df.select(col(idCol).as("doc_id"),
        tokenCount(text).cast("long").as("n_tok"),
        length(text).cast("long").as("n_char"),
        punctCount(text).cast("long").as("n_punct"),
        stopwordCount(text, DefaultStopwords).cast("long").as("n_stop"))
      .withColumn("len_score", least(col("n_tok"), lit(200L)))
      .withColumn("stop_permille",
        expr("n_stop * 1000L div greatest(n_tok, 1L)"))
      .withColumn("punct_permille",
        expr("n_punct * 1000L div greatest(n_char, 1L)"))
      .withColumn("score",
        lit(3L) * col("len_score") + lit(2L) * col("stop_permille")
          - lit(4L) * col("punct_permille"))
      .withColumn("label", when(col("score") >= threshold, 1L).otherwise(0L))
      .select("doc_id", "n_tok", "stop_permille", "punct_permille",
        "score", "label")
  }

  /**
   * Per-group distinctive vocabulary — the "what makes this language/
   * source different" diagnostic (the integer cousin of weighted
   * log-odds, Monroe et al. 2008): for each (group, term),
   * lift_ppm = (cnt_g · T) · 10^6 div (cnt_all · T_g) — the term's
   * in-group rate over its corpus rate — and the top `topK` terms per
   * group by (lift desc, term asc). `minCount` drops rare terms whose
   * lift is noise. Exact while cnt_g·T·10^6 < 2^63 (T up to ~9·10^12
   * corpus tokens; beyond that, shard the corpus by hash and rank
   * per shard).
   *
   * Scale shape: the corpus collapses to (group, term) counts first
   * (combinable); corpus-term counts and group totals join on the
   * vocab/group frames; the rank window runs per group over the vocab
   * frame only. No corpus-sized window or join anywhere.
   */
  def distinctiveTerms(docs: DataFrame, groupCol: String, textCol: String,
      minCount: Int, topK: Int): DataFrame = {
    val gt = docs.select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("grp"), col("tok"))
      .agg(count(lit(1)).as("cnt_grp"))
      .transform(graft.CacheScope.persist(_)) // feeds 3 aggregates below
    val ct = gt.groupBy(col("tok")).agg(sum(col("cnt_grp")).as("cnt_all"))
    val tg = gt.groupBy(col("grp")).agg(sum(col("cnt_grp")).as("t_grp"))
    val tAll = ct.agg(sum(col("cnt_all")).as("t_all"))
    gt.filter(col("cnt_grp") >= minCount)
      .join(ct, "tok").join(tg, "grp")
      .crossJoin(broadcast(tAll))
      .withColumn("lift_ppm",
        expr("cnt_grp * t_all * 1000000 div (cnt_all * t_grp)"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("grp"))
        .orderBy(col("lift_ppm").desc, col("tok"))))
      .filter(col("rk") <= topK)
      .select(col("grp"), col("tok"), col("cnt_grp"), col("cnt_all"),
        col("lift_ppm"), col("rk").cast("long").as("rk"))
  }

  /**
   * Language-ID confusion matrix vs the labeled `lang` column — the
   * accuracy evidence for the marker classifier (CCNet reports fastText
   * lang-id confusion the same way before trusting the filter): one
   * row per (label, prediction) pair with the document count. The
   * diagonal over the total is the accuracy; off-diagonal hot spots
   * name the language pairs the marker lists must separate better.
   *
   * Scale shape: a narrow per-row prediction (codegen'd token-marker
   * counts, no shuffle) into a |langs|²-bounded count aggregate.
   */
  def langConfusion(docs: DataFrame, langCol: String,
      textCol: String): DataFrame =
    docs.select(col(langCol).as("lang"),
        predictedLang(col(textCol)).as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))

  /**
   * Per-source quality reliability with empirical-Bayes shrinkage
   * (Laplace/beta-binomial pseudo-counts — the crawl-source triage
   * statement: a source with 3/3 good docs must NOT outrank one with
   * 970/1000, which a raw rate does and a shrunk rate doesn't):
   * per source, doc count, [[qualityClassifier]]-good count, and
   * `shrunk_permille` = (n_good + α)·1000 div (n_docs + α + β) —
   * the posterior-mean rate under a Beta(α, β) prior, exact integers
   * end to end. Sources are dropped or down-weighted in mixture
   * design by thresholding the SHRUNK rate.
   *
   * Scale shape: the classifier is a narrow codegen'd projection; the
   * rollup is one source-keyed combinable aggregate (|sources| rows).
   */
  def sourceQualityShrunk(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, threshold: Long,
      alpha: Long, beta: Long): DataFrame = {
    require(alpha >= 0 && beta >= 0, "pseudo-counts must be >= 0")
    val scored = qualityClassifier(docs, idCol, textCol, threshold)
      .join(docs.select(col(idCol).as("doc_id"),
        col(srcCol).as("source")), Seq("doc_id"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("label")).as("n_good"))
      .select(col("source"), col("n_docs"), col("n_good"),
        expr(s"(n_good + $alpha) * 1000 div (n_docs + $alpha + $beta)")
          .as("shrunk_permille"))
  }

  /**
   * Deterministic draws from the corpus unigram distribution — the
   * negative-sampling table of word2vec served as a query (Mikolov et
   * al. 2013 §2.2; the canonical table uses freq^0.75, a libm law, so
   * this op draws from the RAW frequency distribution — identical
   * machinery, gate-exact). Draw i hits cumulative-frequency offset
   * md5(seed#i) mod total_tokens; the drawn token owns the [lo, hi)
   * interval containing it. Replayable: any executor can score any
   * draw, and shards agree without coordination.
   *
   * Scale shape: the corpus collapses to the vocab-sized frequency
   * table (one combinable shuffle); the cumulative layout is one
   * window over the VOCAB frame (deterministic token order); the k
   * draws broadcast against it (k × vocab bounded predicate join —
   * k is tens, the vocab is the smallest frame in the pipeline).
   */
  def unigramDraws(docs: DataFrame, textCol: String, k: Int,
      seed: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val vocab = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .transform(graft.CacheScope.persist(_)) // layout + total
    val cum = vocab.withColumn("hi", sum(col("freq")).over(
        Window.orderBy(col("tok"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lo", col("hi") - col("freq"))
    val total = vocab.agg(sum(col("freq")).cast("long").as("n_total"))
    val spark = docs.sparkSession
    import spark.implicits._
    val draws = (0L until k.toLong).toDF("draw_id")
      .crossJoin(broadcast(total))
      .select(col("draw_id"),
        (conv(substring(md5(concat_ws("#", lit(seed), col("draw_id"))),
          1, 8), 16, 10).cast("long") % col("n_total")).as("target"))
    cum.join(broadcast(draws),
        col("target") >= col("lo") && col("target") < col("hi"))
      .select(col("draw_id"), col("tok"), col("freq"))
  }

  /**
   * Quality-filter calibration sweep — the retention curve a corpus
   * curator reads before picking a length cutoff: for each candidate
   * threshold, how many documents and how many tokens survive
   * `token_count >= t`. One row per threshold, all-integer.
   *
   * Scale shape: ONE aggregation pass over the corpus computes every
   * threshold's conditional sums side by side (map-side combinable);
   * the wide single row unpivots with `stack` (a narrow projection of
   * a 1-row frame). Sweeping T thresholds costs one scan, not T.
   */
  def qualitySweep(docs: DataFrame, textCol: String,
      thresholds: Seq[Int]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val n = docs.select(tokenCount(col(textCol)).cast("long").as("n"))
    val aggs = thresholds.flatMap(t => Seq(
      sum(when(col("n") >= t, 1L).otherwise(0L)).as(s"d$t"),
      sum(when(col("n") >= t, col("n")).otherwise(0L)).as(s"t$t")))
    val stackExpr = thresholds
      .map(t => s"CAST($t AS BIGINT), d$t, t$t").mkString(", ")
    n.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${thresholds.size}, $stackExpr)" +
        " as (threshold, n_docs, n_tokens)"))
  }

  /**
   * Skip-gram window co-occurrence counts (the word2vec training
   * statistic, Mikolov et al. 2013 §2): for every token occurrence,
   * each token within ±`window` positions (excluding the center) is a
   * (center, context) pair; pairs below `minCount` are pruned — the
   * same cutoff word2vec applies before building its tables.
   *
   * Scale shape: pair generation is a per-row array map (positions ×
   * ≤2·window candidates — a bounded multiplier, never a self-join),
   * and the counts collapse in ONE map-side-combinable shuffle sized
   * by the PAIR VOCABULARY, not the corpus. All-integer output.
   */
  def skipgramCounts(docs: DataFrame, textCol: String, window: Int,
      minCount: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val ctx = filter(
      transform(sequence(col("i") - window, col("i") + window), j =>
        when(j =!= col("i") && j >= 0 && j < size(col("t")),
          element_at(col("t"), j.cast("int") + 1))),
      x => x.isNotNull)
    docs.select(tokens(col(textCol)).as("t"))
      .select(col("t"), posexplode(col("t")).as(Seq("i", "w")))
      .select(col("w"), explode(ctx).as("c"))
      .groupBy("w", "c").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /**
   * Positive PMI association scores over the [[skipgramCounts]] pair
   * table — the matrix word2vec implicitly factorizes (Levy & Goldberg
   * 2014 "Neural Word Embedding as Implicit Matrix Factorization" §3):
   * PMI(w,c) = ln( #(w,c)·N / (#w·#c) ), clipped at 0. The PPMI matrix
   * is the classical count-based distributional representation — rows
   * are usable as sparse word vectors directly, and the table doubles
   * as a collocation/association readout.
   *
   * Scale shape: everything is sized by the PAIR VOCABULARY, never the
   * corpus — the pair counts collapse in [[skipgramCounts]]' one
   * combinable shuffle, the two marginals are vocab-sized aggregates
   * of that frame (persisted once, read three times), and the grand
   * total rides as a broadcast scalar. The ratio is computed in DOUBLE
   * (counts can exceed 2^53 pairwise products at crawl scale) with one
   * fixed expression tree so both engines evaluate bit-identically.
   */
  def ppmi(docs: DataFrame, textCol: String, window: Int,
      minCount: Int): DataFrame = {
    val pc = skipgramCounts(docs, textCol, window, minCount)
      .transform(graft.CacheScope.persist(_))
    val wc = pc.groupBy(col("w")).agg(sum(col("cnt")).as("w_cnt"))
    val cc = pc.groupBy(col("c")).agg(sum(col("cnt")).as("c_cnt"))
    val nt = pc.agg(sum(col("cnt")).as("n_total"))
    pc.join(wc, "w").join(cc, "c")
      .crossJoin(broadcast(nt))
      .withColumn("ppmi",
        log((col("cnt").cast("double") * col("n_total").cast("double")) /
          (col("w_cnt").cast("double") * col("c_cnt").cast("double"))))
      // ratio == 1 is exactly ln(1) = 0.0 in both engines (the products
      // are exact doubles at gate scale); > 0 is boundary-safe
      .filter(col("ppmi") > 0)
      .select(col("w"), col("c"), col("cnt"), col("w_cnt"), col("c_cnt"),
        col("ppmi"))
  }

  /**
   * TextRank keyword extraction (Mihalcea & Tarau 2004 §3.1):
   * PageRank over the token co-occurrence graph, top-k terms by rank —
   * the unsupervised keyword extractor that needs no training data.
   * Composition of two gated primitives: [[skipgramCounts]] builds the
   * ±window co-occurrence edges (symmetric by construction), and
   * [[graft.analytics.GraphAnalytics.weightedPageRank]] runs the
   * bit-reproducible dyadic-grid recurrence with co-occurrence counts
   * as edge weights.
   *
   * Scale shape: the graph is VOCABULARY-sized (pairs pruned by
   * minCount), so the rank iterations run on a frame orders of
   * magnitude smaller than the corpus; the final top-k plans as
   * TakeOrderedAndProject. Ties at the quantized-rank boundary break
   * by term — deterministic across engines.
   */
  /**
   * Feature hashing (Weinberger et al. 2009 "Feature Hashing for
   * Large Scale Multitask Learning" — the hashing trick): project
   * each document's term counts into a FIXED 2^b-bucket space by
   * hashing tokens (md5 window law) — the vocabulary-free
   * featurization every large-scale linear/GBDT text model uses (no
   * dictionary to build, ship, or keep consistent across days).
   * Output: (doc, bucket, tf) sparse rows plus the per-bucket
   * collision evidence (n_terms — distinct tokens sharing the
   * bucket corpus-wide; >1 means the bucket mixes features).
   *
   * Scale shape: one narrow tokenize + hash projection, one
   * (doc, bucket) count shuffle (map-side combinable); the collision
   * audit is a ≤2^b-row aggregate joined back by bucket (broadcast).
   */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
      b: Int): DataFrame = {
    require(b >= 2 && b <= 20, "bucket-space width b in [2,20]")
    val buckets = 1L << b
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), col("tok"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % buckets).as("bucket"))
      .transform(graft.CacheScope.persist(_))
    val tf = tok.groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))
    val collisions = tok.select(col("bucket"), col("tok")).distinct()
      .groupBy("bucket").agg(count(lit(1)).as("n_terms"))
    tf.join(broadcast(collisions), "bucket")
      .select(col("doc_id"), col("bucket"), col("tf"), col("n_terms"))
  }

  def textRank(docs: DataFrame, textCol: String, window: Int,
      minCount: Int, iters: Int, topK: Int): DataFrame = {
    require(topK >= 1 && iters >= 1, "topK and iters must be >= 1")
    val edges = skipgramCounts(docs, textCol, window, minCount)
      .select(col("w").as("s"), col("c").as("d"),
        col("cnt").cast("double").as("w"))
    graft.analytics.GraphAnalytics.weightedPageRank(edges, iters)
      .select(col("_vid").as("term"), col("rank"))
      .orderBy(col("rank").desc, col("term")).limit(topK)
  }

  /**
   * Positional-inverted-index phrase search — the batch analog of the
   * reference's external full-text lookup (`LOOKUP ... WHERE c CONTAINS`
   * routed to the ES plugin, src/kvstore/plugins/elasticsearch/
   * ESListener.cpp): each k-token phrase matches where its tokens occupy
   * k consecutive positions. Returns one row per (phrase, matching doc)
   * with the match count and first match position; `phrase_id` is the
   * index of the phrase in the input order.
   *
   * Scale shape: the corpus scans ONCE into a postings frame pruned to
   * the query vocabulary before any shuffle (tokens not in any phrase
   * never leave the scan stage), persisted and shared by all phrases.
   * Each phrase is a chain of position-aligned LEFT SEMI joins keyed on
   * (doc_id, pos) — one partitioning reused across the chain, and the
   * non-anchor side is the pruned postings of a single token, which AQE
   * broadcasts at serving selectivities. Production engines anchor on
   * the globally rarest token; anchoring on token 0 keeps the plan
   * deterministic and costs at most one extra semi-join pass.
   */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "need at least one non-empty phrase")
    val vocab = phrases.flatten.distinct
    val idx = docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(vocab: _*))
      .transform(graft.CacheScope.persist(_)) // shared by every phrase
    phrases.zipWithIndex.map { case (ph, pid) =>
      var m = idx.filter(col("tok") === ph.head)
        .select(col("doc_id"), col("pos"))
      for (i <- 1 until ph.length) {
        val tokAt = idx.filter(col("tok") === ph(i))
          .select(col("doc_id"), (col("pos") - i).as("pos"))
        m = m.join(tokAt, Seq("doc_id", "pos"), "left_semi")
      }
      m.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("pos")).cast("long").as("first_pos"))
        .withColumn("phrase_id", lit(pid.toLong))
    }.reduce(_ unionByName _)
      .select(col("phrase_id"), col("doc_id"), col("n_matches"),
        col("first_pos"))
  }

  // ------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — Kudo 2018 "Subword
  // Regularization" §3: the other half of the tokenizer-training
  // duopoly next to [[bpeTrain]].
  // ------------------------------------------------------------------

  /**
   * Viterbi segmentation of every word in `wf` (w, f) under `vocab`
   * (tok, cnt) — the hard-EM E-step and the encoder's core. The
   * criterion is total and implementation-independent so an oracle can
   * replay it by brute segmentation enumeration while this side runs a
   * linear DP: fewest pieces first, then LARGEST summed piece count,
   * then lexicographically smallest space-joined piece sequence.
   * All-integer — no log-probabilities, so no libm divergence between
   * engines (the house float law); with every single character in the
   * vocab (the [[unigramTrain]] coverage invariant) every word has a
   * segmentation. Output: (w, f, k, s, path) — one row per input word
   * ALWAYS: a word the vocab cannot fully segment (possible only when
   * the caller passes a vocab without the single-char coverage floor)
   * is emitted with the sentinel k=999999, s=0, path=NULL, whether it
   * matched some pieces or none at all (the two degenerate cases were
   * inconsistent before r13: zero-match words silently vanished
   * through the vocab inner join).
   *
   * Scale shape: pieces are generated per word as one flatten/
   * transform explode (length × maxPieceLen rows per VOCAB word — the
   * corpus never re-enters), joined to the broadcast vocab, collected
   * back per word, and the DP runs inside ONE codegen'd higher-order
   * aggregate expression — no per-position joins, no driver loop, no
   * UDF. Cost is O(len × maxPieceLen) per distinct word.
   */
  def viterbiSegments(wf: DataFrame, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 32,
      "maxPieceLen in [1, 32]")
    viterbiCore(wf, vocab, maxPieceLen, excludeSelf = false)
  }

  /** [[viterbiSegments]] internals with one extra switch: with
    * `excludeSelf` the full-span piece (a=1, b=len(w) — the word
    * matching itself as a single vocab token) is removed from the DP,
    * which makes the output the best RE-segmentation of each word
    * without itself — the per-token removal cost the likelihood-loss
    * pruner ([[unigramTrainLoss]]) charges. */
  private def viterbiCore(wf: DataFrame, vocab: DataFrame,
      maxPieceLen: Int, excludeSelf: Boolean): DataFrame = {
    val allPieces = wf.select(col("w"), col("f"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), a ->
           |  transform(sequence(a, least(a + ${maxPieceLen - 1},
           |      length(w))), b ->
           |    named_struct('a', a, 'b', b,
           |      'tok', substring(w, a, b - a + 1)))))""".stripMargin))
        .as("p"))
      .select(col("w"), col("f"), col("p.a").as("a"), col("p.b").as("b"),
        col("p.tok").as("tok"))
    val pieces = (if (excludeSelf)
        allPieces.filter(!(col("a") === 1 && col("b") === length(col("w"))))
      else allPieces)
      .join(broadcast(vocab.select(col("tok"), col("cnt"))), Seq("tok"))
    // DP over end positions: acc[p+1] = best state covering chars
    // 1..p; each step folds the pieces ending at i (min-k, max-s,
    // min-path — evaluated in that order), then appends.
    // the unreached/zero state carries path '' (NOT NULL: a NULL
    // inside the fold struct trips a non-nullable codegen write the
    // first time an uncovered word actually materializes it) and is
    // detected via k >= 999999; the public NULL-path sentinel is
    // restored in the output projection below
    val dp = expr(
      """element_at(
        |  aggregate(sequence(1, length(w)),
        |    array(named_struct('k', 0, 's', CAST(0 AS BIGINT),
        |      'path', '')),
        |    (acc, i) -> concat(acc, array(
        |      aggregate(filter(ms, m -> m.b = i),
        |        named_struct('k', 999999, 's', CAST(0 AS BIGINT),
        |          'path', ''),
        |        (bb, m) -> CASE
        |          WHEN element_at(acc, m.a).k >= 999999 THEN bb
        |          WHEN bb.k >= 999999
        |            OR element_at(acc, m.a).k + 1 < bb.k
        |            OR (element_at(acc, m.a).k + 1 = bb.k
        |              AND element_at(acc, m.a).s + m.cnt > bb.s)
        |            OR (element_at(acc, m.a).k + 1 = bb.k
        |              AND element_at(acc, m.a).s + m.cnt = bb.s
        |              AND concat(element_at(acc, m.a).path,
        |                CASE WHEN element_at(acc, m.a).path = ''
        |                  THEN '' ELSE ' ' END, m.tok) < bb.path)
        |          THEN named_struct(
        |            'k', element_at(acc, m.a).k + 1,
        |            's', element_at(acc, m.a).s + m.cnt,
        |            'path', concat(element_at(acc, m.a).path,
        |              CASE WHEN element_at(acc, m.a).path = ''
        |                THEN '' ELSE ' ' END, m.tok))
        |          ELSE bb END)))),
        |  length(w) + 1)""".stripMargin)
    val seg = pieces
      .groupBy("w", "f")
      .agg(collect_list(struct(col("a"), col("b"), col("tok"),
        col("cnt"))).as("ms"))
      .withColumn("dp", dp)
      .select(col("w"), col("f"), col("dp.k").cast("long").as("k"),
        col("dp.s").as("s"),
        when(col("dp.k") >= 999999, lit(null).cast("string"))
          .otherwise(col("dp.path")).as("path"))
    // Re-attach words the vocab inner join dropped entirely (zero
    // matching pieces) as sentinel rows, so both uncovered cases —
    // no pieces at all and partial-but-incomplete pieces — render
    // identically; word-table-sized left join, the corpus never
    // re-enters. No-op under the trainer's coverage invariant.
    wf.select(col("w"), col("f"))
      .join(seg.drop("f"), Seq("w"), "left")
      .select(col("w"), col("f"),
        coalesce(col("k"), lit(999999L)).as("k"),
        coalesce(col("s"), lit(0L)).as("s"),
        col("path"))
  }

  /** Per-round keep budget of the loss pruner's shrink schedule
    * (Kudo 2018 §3.2 prunes a fixed fraction per round from a large
    * seed down to the target — an all-at-once round-1 cut is
    * PROVABLY inert: the substring seed is prefix-closed under
    * (cnt desc, tok asc) because substring counts dominate
    * superstring counts, so every candidate re-segments in 2 pieces
    * and loss ≡ usage; rounds 2+ then never exceed the budget at
    * all). Linear integer interpolation seed → target: round
    * nRounds lands exactly on vocabSize, all arithmetic exact so
    * both engines compute the same constants. */
  private[graft] def unigramKeepSize(seedSize: Int, vocabSize: Int,
      nRounds: Int, r: Int): Int =
    vocabSize + ((seedSize - vocabSize).max(0) * (nRounds - r)) / nRounds

  /** Shared unigram-LM trainer loop. Returns (word-frequency table,
    * final vocab frame, frames to release). Vocab per
    * round = ALL single characters (coverage floor, usage-counted,
    * never pruned) ∪ top-`vocabSize` multi-char tokens by Viterbi
    * usage (cnt desc, tok asc — the q_bpe_merges tie-break law);
    * round 0 seeds multi-char tokens from raw substring counts
    * (top `seedSize`). Hard-EM: expected counts are Viterbi counts,
    * which keeps every statistic an exact integer both engines
    * reproduce bit-for-bit.
    *
    * Scale shape: the corpus collapses ONCE to the word table; every
    * round touches only vocab-sized frames ([[bpeTrain]]'s frame
    * discipline) — a piece explode bounded by len × maxPieceLen, one
    * combinable usage aggregate, and a rank window over the BOUNDED
    * candidate vocabulary (≤ |chars| + corpus substring vocab; the
    * zipfTable global-window law). The vocab rotates through a
    * [[graft.Rotation]] with O(1) pinned frames. */
  private def unigramTrainLoop(docs: DataFrame, textCol: String,
      maxPieceLen: Int, seedSize: Int, vocabSize: Int, nRounds: Int,
      lossPrune: Boolean = false)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    require(nRounds >= 1 && seedSize >= 1 && vocabSize >= 1,
      "nRounds, seedSize, vocabSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val rot = new graft.Rotation
    val wf = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .transform(graft.CacheScope.persist(_)) // consumed every round
    val subs = wf.select(explode(expr(
        s"""flatten(transform(sequence(1, length(w)), a ->
           |  transform(sequence(a, least(a + ${maxPieceLen - 1},
           |    length(w))), b -> substring(w, a, b - a + 1))))"""
          .stripMargin)).as("tok"), col("f"))
      .groupBy("tok").agg(sum(col("f")).as("cnt"))
      .transform(graft.CacheScope.persist(_)) // singles + seed branches
    val chars = subs.filter(length(col("tok")) === 1).select("tok")
      .transform(graft.CacheScope.persist(_)) // re-joined every round
    val seed = subs.filter(length(col("tok")) === 1)
      .unionByName(subs.filter(length(col("tok")) >= 2)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
        .filter(col("rk") <= seedSize).drop("rk"))
    // the seed-vocab count rides the init rotation and doubles as the
    // static-planning gate ([[graft.StaticPlan]]): every round's frame
    // is vocab- or word-table-sized, both bounded by the larger of the
    // two counts (wf is persisted; its count fill is paid anyway).
    var (vocab, n0) = rot.observe(seed, Seq(count(lit(1)).as("n")))
    val nSeed = n0.getLong(0)
    val nWords = wf.count()
    graft.StaticPlan.withMeasured(docs.sparkSession,
      math.max(nSeed, nWords) * maxPieceLen) { _ =>
    for (r <- 1 to nRounds) {
      val usage = viterbiSegments(wf, vocab, maxPieceLen)
        .select(explode(split(col("path"), " ")).as("tok"), col("f"))
        .groupBy("tok").agg(sum(col("f")).as("cnt"))
        .transform(graft.CacheScope.persist(_)) // singles + multi branches
      val multiUsed = usage.filter(length(col("tok")) >= 2)
      val kept =
        if (!lossPrune)
          // top-η by raw Viterbi usage (cnt desc, tok asc)
          multiUsed
            .withColumn("rk", row_number().over(
              Window.orderBy(col("cnt").desc, col("tok"))))
            .filter(col("rk") <= vocabSize).drop("rk")
        else {
          // Likelihood-loss prune (Kudo 2018 §3.2, hard-EM integer
          // form): loss(t) = usage(t) × (kRepl(t) − 1), where kRepl
          // is the Viterbi piece count of t's OWN string re-segmented
          // under the current vocab WITHOUT t (the full-span self
          // piece excluded — the single-char coverage floor
          // guarantees kRepl is finite). Usage-count pruning keeps
          // frequent-but-redundant pieces that are cheap to re-derive
          // from other kept pieces; loss pruning drops exactly those.
          // The repl DP runs over the VOCAB-sized used-token table —
          // the corpus never re-enters.
          val repl = viterbiCore(
            multiUsed.select(col("tok").as("w"), col("cnt").as("f")),
            vocab, maxPieceLen, excludeSelf = true)
            .select(col("w").as("tok"), col("k").as("krepl"))
          multiUsed.join(repl, Seq("tok"))
            .withColumn("loss", col("cnt") * (col("krepl") - 1L))
            .withColumn("rk", row_number().over(Window.orderBy(
              col("loss").desc, col("cnt").desc, col("tok"))))
            .filter(col("rk") <= unigramKeepSize(seedSize, vocabSize,
              nRounds, r))
            .select(col("tok"), col("cnt"))
        }
      val next = chars.join(usage, Seq("tok"), "left")
        .select(col("tok"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .unionByName(kept)
      vocab = rot(next)
      graft.CacheScope.unpersist(usage)
    }
    } // StaticPlan.withMeasured
    (wf, vocab, Seq(subs, chars))
  }

  /**
   * Train the unigram-LM tokenizer: `nRounds` of hard EM (Viterbi
   * E-step, top-η prune M-step) over substring seeds — see
   * [[unigramTrainLoop]] for the law and scale shape. Output: the
   * final vocabulary (tok, cnt, rnk), rnk by (cnt desc, tok asc) over
   * the BOUNDED vocab frame.
   */
  def unigramTrain(docs: DataFrame, textCol: String, maxPieceLen: Int,
      seedSize: Int, vocabSize: Int, nRounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (wf, vocab, extras) = unigramTrainLoop(docs, textCol,
      maxPieceLen, seedSize, vocabSize, nRounds)
    (extras :+ wf).foreach(graft.CacheScope.unpersist)
    vocab.withColumn("rnk", row_number().over(
      Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
  }

  /**
   * [[unigramTrain]] with Kudo 2018 §3.2's likelihood-loss prune in
   * the M-step instead of raw top-η usage: each round keeps the
   * multi-char tokens whose REMOVAL would hurt the corpus most —
   * loss(t) = usage(t) × (kRepl(t) − 1), kRepl(t) the Viterbi piece
   * count of t's own string under the current vocab without t (always
   * finite: the single-char coverage floor is never pruned). Ranked
   * (loss desc, cnt desc, tok asc) — the integer tie-break law; a
   * frequent token that is a cheap concatenation of other kept pieces
   * (kRepl = 2 covers most redundant substrings) now loses to a rarer
   * token with no good replacement, which is the vocab SentencePiece's
   * loss pruner converges to. The keep budget SHRINKS per round
   * ([[unigramKeepSize]]: linear seed → target, Kudo's prune-a-
   * fraction-per-round schedule) — an all-at-once cut is provably
   * inert against the prefix-closed substring seed (see
   * [[unigramKeepSize]]); the gradual schedule is where loss pruning
   * and usage pruning actually diverge. Output (tok, cnt, rnk) as
   * [[unigramTrain]].
   *
   * Scale shape: identical to [[unigramTrain]] plus one vocab-sized
   * re-segmentation DP per round (the used-token table re-enters
   * [[viterbiSegments]]' explode with itself as the word list — the
   * corpus is never touched).
   */
  def unigramTrainLoss(docs: DataFrame, textCol: String,
      maxPieceLen: Int, seedSize: Int, vocabSize: Int,
      nRounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (wf, vocab, extras) = unigramTrainLoop(docs, textCol,
      maxPieceLen, seedSize, vocabSize, nRounds, lossPrune = true)
    (extras :+ wf).foreach(graft.CacheScope.unpersist)
    vocab.withColumn("rnk", row_number().over(
      Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
  }

  /**
   * Apply the trained unigram-LM tokenizer: per-document word and
   * piece counts under the final vocabulary's Viterbi segmentation
   * (train → apply, the [[bpeEncodeCounts]] twin). Output:
   * (id, n_words, n_pieces).
   *
   * Scale shape: training and the per-word segmentation are
   * vocab-sized; application is ONE corpus token explode joined to the
   * per-word piece counts (broadcast when they fit) feeding a
   * combinable per-doc aggregate — the scan never pays per-round work.
   */
  /**
   * Byte-fallback unigram-LM encode (SentencePiece `byte_fallback`,
   * Kudo & Richardson 2018 — the third tokenizer family's
   * never-UNK law, completing BPE/[[bpeEncodeBytes]] and
   * WordPiece/[[wordpieceEncodeBytes]]): the Viterbi DP runs over the
   * trained vocab pieces (cost 1 piece each) EXTENDED with per-char
   * FALLBACK pieces for characters outside the trained single-char
   * floor, costing octet_length(char) byte pieces. Every position is
   * coverable (vocab single or byte fallback), so segmentation always
   * completes — UNK structurally impossible. The criterion stays the
   * exact-integer total order (total piece count asc, usage sum desc,
   * path asc), so a covered sub-span still segments optimally inside
   * a word that needs fallback (true byte_fallback mixing, not
   * whole-word decomposition).
   *
   * Train/encode corpora are separate arguments; output per encode
   * document: (id, n_words, n_pieces, n_byte_pieces) with n_pieces
   * counting byte pieces individually.
   *
   * Scale shape: training is [[unigramTrainLoop]] (vocab-sized EM
   * rounds); the DP runs once per DISTINCT encode word as one
   * codegen'd aggregate fold; the corpus pays one token explode
   * against the broadcast word stats.
   */
  def unigramEncodeBytes(train: DataFrame, trainTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int, seedSize: Int, vocabSize: Int,
      nRounds: Int): DataFrame = {
    val (_, vocab, extras) = unigramTrainLoop(train, trainTextCol,
      maxPieceLen, seedSize, vocabSize, nRounds)
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val spans = words.select(col("w"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), a ->
           |  transform(sequence(a, least(a + ${maxPieceLen - 1},
           |      length(w))), b ->
           |    named_struct('a', a, 'b', b,
           |      'tok', substring(w, a, b - a + 1)))))""".stripMargin))
        .as("p"))
      .select(col("w"), col("p.a").as("a"), col("p.b").as("b"),
        col("p.tok").as("tok"))
    val vp = spans
      .join(broadcast(vocab.select(col("tok"), col("cnt"))), Seq("tok"))
      .select(col("w"), col("a"), col("b"), col("tok"), col("cnt"),
        lit(1).as("kc"), lit(0L).as("byc"))
    val singles = vocab.filter(length(col("tok")) === 1)
      .select(col("tok").as("ch")).withColumn("cov", lit(1))
    val fb = words
      .select(col("w"), posexplode(filter(split(col("w"), ""),
        c => c =!= "")).as(Seq("pos0", "ch")))
      .join(broadcast(singles), Seq("ch"), "left")
      .filter(col("cov").isNull)
      .select(col("w"), (col("pos0") + 1).as("a"),
        (col("pos0") + 1).as("b"), col("ch").as("tok"),
        lit(0L).as("cnt"), octet_length(col("ch")).as("kc"),
        octet_length(col("ch")).cast("long").as("byc"))
    val dp = unigramByteDp
    val wstats = vp.unionByName(fb)
      .groupBy("w")
      .agg(collect_list(struct(col("a"), col("b"), col("tok"),
        col("cnt"), col("kc"), col("byc"))).as("ms"))
      .withColumn("dp", dp)
      .select(col("w"), col("dp.k").cast("long").as("k_w"),
        col("dp.by").as("by_w"))
    val out = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(wstats), Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("k_w")).as("n_pieces"),
        sum(col("by_w")).as("n_byte_pieces"))
    extras.foreach(graft.CacheScope.unpersist)
    out
  }

  /** The byte-fallback Viterbi fold shared by [[unigramEncodeBytes]]
    * and [[unigramRoundtrip]]: one pass over positions 1..length(w),
    * each position taking the best (k asc, usage-sum desc, path asc)
    * predecessor among the match rows collected in `ms`; returns the
    * final-position struct (k, s, by, path) where `path` is the
    * space-joined winning piece sequence (the tie-break key, so the
    * sequence is already materialized — [[unigramRoundtrip]] merely
    * surfaces it). */
  private def unigramByteDp: Column = expr(
    """element_at(
      |  aggregate(sequence(1, length(w)),
      |    array(named_struct('k', 0, 's', CAST(0 AS BIGINT),
      |      'by', CAST(0 AS BIGINT), 'path', '')),
      |    (acc, i) -> concat(acc, array(
      |      aggregate(filter(ms, m -> m.b = i),
      |        named_struct('k', 999999, 's', CAST(0 AS BIGINT),
      |          'by', CAST(0 AS BIGINT), 'path', ''),
      |        (bb, m) -> CASE
      |          WHEN element_at(acc, m.a).k >= 999999 THEN bb
      |          WHEN bb.k >= 999999
      |            OR element_at(acc, m.a).k + m.kc < bb.k
      |            OR (element_at(acc, m.a).k + m.kc = bb.k
      |              AND element_at(acc, m.a).s + m.cnt > bb.s)
      |            OR (element_at(acc, m.a).k + m.kc = bb.k
      |              AND element_at(acc, m.a).s + m.cnt = bb.s
      |              AND concat(element_at(acc, m.a).path,
      |                CASE WHEN element_at(acc, m.a).path = ''
      |                  THEN '' ELSE ' ' END, m.tok) < bb.path)
      |          THEN named_struct(
      |            'k', element_at(acc, m.a).k + m.kc,
      |            's', element_at(acc, m.a).s + m.cnt,
      |            'by', element_at(acc, m.a).by + m.byc,
      |            'path', concat(element_at(acc, m.a).path,
      |              CASE WHEN element_at(acc, m.a).path = ''
      |                THEN '' ELSE ' ' END, m.tok))
      |          ELSE bb END)))),
      |  length(w) + 1)""".stripMargin)

  def unigramEncodeCounts(docs: DataFrame, idCol: String,
      textCol: String, maxPieceLen: Int, seedSize: Int, vocabSize: Int,
      nRounds: Int): DataFrame = {
    val (wf, vocab, extras) = unigramTrainLoop(docs, textCol,
      maxPieceLen, seedSize, vocabSize, nRounds)
    val segK = viterbiSegments(wf, vocab, maxPieceLen)
      .select(col("w"), col("k"))
    val out = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(segK, Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum(col("k")).as("n_pieces"))
    extras.foreach(graft.CacheScope.unpersist)
    out
  }

  // ------- tokenizer decode / lossless round-trip (all 3 families) -------
  //
  // The production byte-fallback contract is decode(encode(x)) == x:
  // counts-only encoders (the *_bytes family above) can hide
  // segmentation bugs that happen to preserve counts, so these
  // variants surface the actual PIECE SEQUENCES and verify
  // reconstruction per document. Byte pieces use the SentencePiece
  // surface "<0xHH>" (one per UTF-8 octet); decode maps a byte piece
  // to its octet and any other piece to its own UTF-8 bytes, then
  // UTF-8-decodes the concatenation. That surface is RESERVED: a
  // corpus token matching ^<0x[0-9A-F]{2}>$ would be indistinguishable
  // from a byte piece (SentencePiece has the same reservation — byte
  // pieces are distinct vocab entries; a string surface can only
  // reserve the pattern).
  //
  // Losslessness is at the TOKEN-STREAM level: the tokenizers
  // pre-split on whitespace (the [[tokens]] law), so decode rejoins
  // words with a single space and the gate compares against the
  // whitespace-canonical text — the standard detokenization of a
  // whitespace pre-tokenizer.

  /** Byte pieces "<0xHH>" (uppercase hex) of `s`'s UTF-8 encoding,
    * as array<string> — one piece per octet. */
  private def bytePiecesSql(s: String): String =
    s"transform(sequence(1, octet_length($s)), i -> " +
      s"concat('<0x', substr(hex(encode($s, 'UTF-8')), 2 * i - 1, 2)," +
      " '>'))"

  /** Lambda predicate: is piece `p` a byte piece? */
  private val isBytePiece = "p -> p rlike '^<0x[0-9A-F]{2}>$'"

  /** Decode an array<string> of pieces back to text: byte pieces
    * contribute their octet, everything else its own UTF-8 bytes;
    * the octet concatenation is UTF-8-decoded in one step so
    * multi-octet characters reassemble across consecutive byte
    * pieces. */
  private def decodePiecesSql(arr: String): String =
    s"decode(unhex(aggregate($arr, '', (h, p) -> concat(h, " +
      "CASE WHEN p rlike '^<0x[0-9A-F]{2}>$' " +
      "THEN substring(p, 4, 2) " +
      "ELSE hex(encode(p, 'UTF-8')) END))), 'UTF-8')"

  /** Shared doc-level assembly: per-word piece sequences → per-doc
    * (id, n_pieces, n_byte_pieces, decoded, ok). The corpus pays ONE
    * ordered token explode against the broadcast word table; decode
    * runs per DISTINCT word occurrence row (codegen'd fold), the
    * per-doc reassembly is one combinable collect_list sorted by
    * token position.
    *
    * EMPTY-DOC EXCLUSION (r15 ADVICE): a document whose text
    * tokenizes to ZERO tokens (empty or whitespace-only) emits no
    * exploded rows and therefore no output row — the round-trip
    * gates compare token STREAMS, and an empty stream has nothing to
    * round-trip. The oracles mirror the same inner-join law, so
    * parity holds; a consumer counting ok=true rows against a doc
    * count must pre-filter empty docs (or left-join this output). */
  private def roundtripAssemble(docs: DataFrame, idCol: String,
      textCol: String, wpieces: DataFrame): DataFrame =
    docs.select(col(idCol), col(textCol).as("__rt_text"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
      .join(broadcast(wpieces), Seq("w"))
      .withColumn("dw", expr(decodePiecesSql("pieces")))
      .groupBy(idCol)
      .agg(sum(size(col("pieces"))).cast("long").as("n_pieces"),
        sum(size(expr(s"filter(pieces, $isBytePiece)")))
          .cast("long").as("n_byte_pieces"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, dw))), x -> x.dw), ' ')").as("decoded"),
        first(col("__rt_text")).as("__t"))
      .select(col(idCol), col("n_pieces"), col("n_byte_pieces"),
        col("decoded"),
        (col("decoded") ===
          array_join(tokens(col("__t")), " ")).as("ok"))

  /**
   * BPE round-trip: [[bpeEncodeBytes]]' law with the piece SEQUENCES
   * surfaced and decoded back — a trained word emits its merge-final
   * symbols, a fallback word emits per char either the char (trained
   * inventory) or its byte pieces, and the gate verifies
   * decode(encode(x)) == x per document. Output:
   * (id, n_pieces, n_byte_pieces, decoded, ok); n_pieces and
   * n_byte_pieces agree with [[bpeEncodeBytes]] by construction
   * (spec-pinned).
   *
   * Scale shape: identical to [[bpeEncodeBytes]] — decomposition on
   * the distinct-word table, corpus pays one ordered token explode.
   */
  def bpeRoundtrip(train: DataFrame, trainTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame = {
    val (_, vocab, _) = bpeTrainLoop(train, trainTextCol, nMerges)
    val sy = vocab.select(
      replace(col("w"), lit(" "), lit("")).as("w"),
      split(col("w"), " ").as("syms"))
    val chars = (c: Column) => filter(split(c, ""), ch => ch =!= "")
    val inv = train.select(explode(tokens(col(trainTextCol))).as("tok"))
      .select(explode(chars(col("tok"))).as("ch"))
      .distinct()
      .withColumn("cov", lit(1L))
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val fbp = words
      .select(col("w"), posexplode(chars(col("w"))).as(Seq("cpos", "ch")))
      .join(broadcast(inv), Seq("ch"), "left")
      .withColumn("cp", when(col("cov").isNotNull, array(col("ch")))
        .otherwise(expr(bytePiecesSql("ch"))))
      .groupBy("w")
      .agg(expr("flatten(transform(array_sort(collect_list(" +
        "struct(cpos, cp))), x -> x.cp))").as("fbp"))
    val wpieces = words
      .join(broadcast(sy), Seq("w"), "left")
      .join(fbp, Seq("w"))
      .select(col("w"), coalesce(col("syms"), col("fbp")).as("pieces"))
    roundtripAssemble(docs, idCol, textCol, wpieces)
  }

  /** [[greedyWalk]] with the winning pieces accumulated: st =
    * (pos, path, unk) where path is the space-joined piece sequence
    * of the longest-match walk (pieces are substrings of
    * whitespace-split words, so the space join is unambiguous). Kept
    * separate from [[greedyWalk]] so the counts-only encoders don't
    * pay the per-step string concatenation. */
  private def greedyWalkPieces(words: DataFrame, matches: DataFrame,
      contPrefix: Option[String] = None): DataFrame = {
    val jmap = matches.groupBy(col("w"), col("a"))
      .agg(max(col("b")).as("mb"))
      .groupBy("w")
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("a"), col("mb"))))).as("jm"))
    // continuation-surface annotation (the BERT ## convention): a
    // piece starting past position 1 carries the prefix, so the
    // sequence round-trips through the standard strip-##-and-concat
    // detokenizer
    val ann = contPrefix.fold("")(p =>
      s"CASE WHEN acc.pos = 1 THEN '' ELSE '$p' END, ")
    words.join(jmap, Seq("w"), "left")
      .select(col("w"), expr(
        s"""aggregate(sequence(1, length(w)),
          |  named_struct('pos', 1, 'path', '', 'unk', false),
          |  (acc, i) -> CASE
          |    WHEN acc.unk OR acc.pos > length(w) THEN acc
          |    WHEN jm IS NULL OR element_at(jm, acc.pos) IS NULL
          |      THEN named_struct('pos', acc.pos, 'path', acc.path,
          |        'unk', true)
          |    ELSE named_struct('pos', element_at(jm, acc.pos) + 1,
          |      'path', concat(acc.path,
          |        CASE WHEN acc.path = '' THEN '' ELSE ' ' END,
          |        $ann
          |        substring(w, acc.pos,
          |          element_at(jm, acc.pos) - acc.pos + 1)),
          |      'unk', false)
          |  END)""".stripMargin).as("st"))
  }

  /**
   * BERT-WordPiece round-trip — the honest LOSSY dual of the three
   * byte-fallback round-trips: the BERT family replaces an uncovered
   * word with whole-word [UNK], so decode(encode(x)) == x holds IFF
   * the document contains no [UNK]. The gate verifies exactly that
   * biconditional per document: pieces are the greedy walk's
   * position-annotated surfaces (first piece bare, continuations
   * ##-prefixed — the real BERT vocab surface), decode strips ## and
   * concatenates (the standard detokenizer), an UNK word decodes as
   * the literal [UNK] marker, and the output carries
   * (n_pieces, n_unk, decoded, lossless, iff_ok) with
   * iff_ok = (lossless ⇔ n_unk == 0) — true on every doc when both
   * laws are implemented correctly, WHICHEVER side of the
   * biconditional the doc exercises.
   *
   * RESERVED SURFACE (r15 ADVICE): the literal corpus word "[UNK]"
   * is indistinguishable from the unknown-word marker — an UNCOVERED
   * "[UNK]" token decodes to itself, yielding lossless=true with
   * n_unk=1 and a spurious iff_ok=false on a correct implementation.
   * This mirrors the "<0xHH>" reservation of the byte-fallback
   * families: real BERT vocabs hold [UNK] as a distinct vocab ENTRY,
   * a string surface can only reserve the pattern. Gate corpora must
   * exclude the literal token (the shipped fixtures do).
   *
   * Scale shape: identical to [[wordpieceBertEncodeCounts]] plus the
   * ordered doc reassembly (one ordered token explode vs the
   * broadcast word table).
   */
  def wordpieceBertRoundtrip(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 32,
      "maxPieceLen in [1, 32]")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val spans = wordpieceSpans(words, maxPieceLen)
      .transform(graft.CacheScope.persist(_))
    val vinit = vocab.filter(col("is_cont") === 0L).select("tok")
    val vcont = vocab.filter(col("is_cont") === 1L)
      .select(expr("substring(tok, 3)").as("tok"))
    val matches = spans.filter(col("a") === 1)
      .join(broadcast(vinit), Seq("tok"))
      .unionByName(spans.filter(col("a") > 1)
        .join(broadcast(vcont), Seq("tok")))
    val wpieces = greedyWalkPieces(words, matches,
      contPrefix = Some("##")).select(col("w"),
      when(col("st.unk"), array(lit("[UNK]")))
        .otherwise(split(col("st.path"), " ")).as("pieces"))
    val decodeSql =
      "decode(unhex(aggregate(pieces, '', (h, p) -> concat(h, " +
        "hex(encode(CASE WHEN p LIKE '##%' THEN substring(p, 3) " +
        "ELSE p END, 'UTF-8'))))), 'UTF-8')"
    docs.select(col(idCol), col(textCol).as("__rt_text"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
      .join(broadcast(wpieces), Seq("w"))
      .withColumn("dw", expr(decodeSql))
      .groupBy(idCol)
      .agg(sum(size(col("pieces"))).cast("long").as("n_pieces"),
        sum(expr("size(filter(pieces, p -> p = '[UNK]'))"))
          .cast("long").as("n_unk"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, dw))), x -> x.dw), ' ')").as("decoded"),
        first(col("__rt_text")).as("__t"))
      .select(col(idCol), col("n_pieces"), col("n_unk"),
        col("decoded"),
        (col("decoded") === array_join(tokens(col("__t")), " "))
          .as("lossless"),
        ((col("decoded") === array_join(tokens(col("__t")), " ")) ===
          (col("n_unk") === lit(0L))).as("iff_ok"))
  }

  /**
   * WordPiece round-trip: [[wordpieceEncodeBytes]]' law with pieces
   * surfaced — a covered word emits its greedy longest-match pieces,
   * an uncovered word emits its WHOLE-WORD byte decomposition
   * (octet_length byte pieces, the byte-fallback dual of BERT's
   * whole-word [UNK]) — and decode(encode(x)) == x verified per
   * document. Output: (id, n_pieces, n_byte_pieces, decoded, ok).
   */
  def wordpieceRoundtrip(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 32,
      "maxPieceLen in [1, 32]")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val matches = wordpieceSpans(words, maxPieceLen)
      .join(broadcast(vocab.select("tok")), Seq("tok"))
    val wpieces = greedyWalkPieces(words, matches).select(col("w"),
      when(col("st.unk"), expr(bytePiecesSql("w")))
        .otherwise(split(col("st.path"), " ")).as("pieces"))
    roundtripAssemble(docs, idCol, textCol, wpieces)
  }

  /**
   * Unigram-LM round-trip: [[unigramEncodeBytes]]' Viterbi DP with
   * the winning piece sequence surfaced (the DP already materializes
   * it as the tie-break key) and byte pieces carried in their
   * "<0xHH>" surface INSIDE the fold — fallback chars enter the path
   * as their expanded byte pieces, so the path splits directly into
   * the decodable sequence. decode(encode(x)) == x verified per
   * document. Output: (id, n_pieces, n_byte_pieces, decoded, ok).
   *
   * NOTE the tie-break key is the piece-surface path, so ties between
   * equal-(k, s) segmentations may resolve differently from
   * [[unigramEncodeBytes]] (whose fallback path carries raw chars) —
   * each law is internally consistent and each oracle replays its
   * own; piece COUNTS are identical either way.
   */
  def unigramRoundtrip(train: DataFrame, trainTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int, seedSize: Int, vocabSize: Int,
      nRounds: Int): DataFrame = {
    val (_, vocab, extras) = unigramTrainLoop(train, trainTextCol,
      maxPieceLen, seedSize, vocabSize, nRounds)
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .distinct()
    val spans = words.select(col("w"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), a ->
           |  transform(sequence(a, least(a + ${maxPieceLen - 1},
           |      length(w))), b ->
           |    named_struct('a', a, 'b', b,
           |      'tok', substring(w, a, b - a + 1)))))""".stripMargin))
        .as("p"))
      .select(col("w"), col("p.a").as("a"), col("p.b").as("b"),
        col("p.tok").as("tok"))
    val vp = spans
      .join(broadcast(vocab.select(col("tok"), col("cnt"))), Seq("tok"))
      .select(col("w"), col("a"), col("b"), col("tok"), col("cnt"),
        lit(1).as("kc"), lit(0L).as("byc"))
    val singles = vocab.filter(length(col("tok")) === 1)
      .select(col("tok").as("ch")).withColumn("cov", lit(1))
    val fb = words
      .select(col("w"), posexplode(filter(split(col("w"), ""),
        c => c =!= "")).as(Seq("pos0", "ch")))
      .join(broadcast(singles), Seq("ch"), "left")
      .filter(col("cov").isNull)
      .select(col("w"), (col("pos0") + 1).as("a"),
        (col("pos0") + 1).as("b"),
        expr(s"array_join(${bytePiecesSql("ch")}, ' ')").as("tok"),
        lit(0L).as("cnt"), octet_length(col("ch")).as("kc"),
        octet_length(col("ch")).cast("long").as("byc"))
    val wpieces = vp.unionByName(fb)
      .groupBy("w")
      .agg(collect_list(struct(col("a"), col("b"), col("tok"),
        col("cnt"), col("kc"), col("byc"))).as("ms"))
      .withColumn("dp", unigramByteDp)
      .select(col("w"), split(col("dp.path"), " ").as("pieces"))
    val out = roundtripAssemble(docs, idCol, textCol, wpieces)
    extras.foreach(graft.CacheScope.unpersist)
    out
  }
}
