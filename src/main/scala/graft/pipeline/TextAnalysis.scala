package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-count heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and an order-weighted positional
  * document fingerprint. All pure SQL expressions (regexp_count,
  * split, posexplode) — codegen'd, DuckDB-replicable, no UDFs.
  */
object TextAnalysis {

  /** language → stopword token set (tiny deterministic heuristic; real
    * systems swap in fastText — the *plumbing* is the operator).
    * Token-set membership, not regex: integer-exact and engine-agnostic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that",
      "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con",
      "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den",
      "im", "ein"),
    "fr" -> Seq("le", "il", "de", "et", "un", "dans", "est", "pour",
      "que", "les"))

  /** stopword-token count for one language over a lowered token array. */
  def stopCount(toks: Column, lang: String): Column = {
    val set = stopwords.toMap.apply(lang)
    size(filter(toks, t => t.isInCollection(set)))
  }

  /** argmax over per-language count columns: first-in-declaration-order
    * wins ties, all-zero → 'und' — the ONE definition both language-ID
    * heuristics (and their generated oracle SQL) follow. */
  private def langArgmax(langs: Seq[String], countCol: String => Column)
      : Column = {
    val mx = greatest(langs.map(countCol): _*)
    when(mx <= 0, lit("und")).otherwise(
      langs.foldRight(lit("und")) { case (l, acc) =>
        when(countCol(l) === mx, lit(l)).otherwise(acc)
      })
  }

  /** per-language stopword hit counts + argmax guess (deterministic
    * tie-break: declaration order; all-zero → 'und'). */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val withCounts = df.select(
      (col(idCol).as("id") +:
        stopwords.map { case (l, _) =>
          stopCount(toks, l).as(s"n_$l") }): _*)
    withCounts.withColumn("lang_guess",
      langArgmax(stopwords.map(_._1), l => col(s"n_$l")))
  }

  /** language → distinctive character trigrams (the classic char-n-gram
    * language-ID heuristic, n=3; tiny deterministic profiles — real
    * systems learn them from corpora, the scoring shape is the
    * operator). Literal patterns only, so non-overlapping regexp_count
    * is integer-exact and engine-agnostic. */
  val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "ing", "ion", "ent", "hat", "for", "his"),
    "es" -> Seq("que", "los", "ado", "cio", "nte", "ien", "una", "por"),
    "de" -> Seq("der", "die", "und", "sch", "ich", "ein", "ung", "cht"),
    "fr" -> Seq("les", "des", "ait", "oit", "eur", "ois", "ans", "une"))

  /** total profile-trigram occurrences for one language over lowered
    * text (non-overlapping, literal match). */
  def trigramCount(txt: Column, lang: String): Column =
    trigramProfiles.toMap.apply(lang)
      .map(t => regexp_count(txt, lit(t)))
      .reduce(_ + _)

  /** char-trigram language ID: per-language profile-occurrence counts +
    * argmax guess (declaration-order tie-break, all-zero → 'und') —
    * the n-gram sibling of the word-level [[langId]]. */
  def langIdTrigram(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val txt = lower(col(textCol))
    val withCounts = df.select(
      (col(idCol).as("id") +:
        trigramProfiles.map { case (l, _) =>
          trigramCount(txt, l).as(s"tg_$l") }): _*)
    withCounts.withColumn("lang_guess",
      langArgmax(trigramProfiles.map(_._1), l => col(s"tg_$l")))
  }

  /** quality metrics: counts exact, ratios rounded(4) for cross-engine
    * float stability. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nTokens = size(split(t, " "))
    val nStop = stopCount(split(lower(t), " "), "en")
    val nPunct = regexp_count(t, lit("[^A-Za-z0-9 ]"))
    df.select(col(idCol).as("id"),
      nChars.as("n_chars"), nTokens.as("n_tokens"),
      nStop.as("n_stopwords"), nPunct.as("n_punct"),
      round(nStop.cast("double") / nTokens, 4).as("stopword_ratio"),
      round(nPunct.cast("double") / greatest(nChars, lit(1)), 4)
        .as("punct_ratio"),
      round(nChars.cast("double") / greatest(nTokens, lit(1)), 4)
        .as("mean_token_len"))
  }

  /** token counts: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-alnum). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol).as("id"),
      size(split(col(textCol), "\\s+")).as("ws_tokens"),
      regexp_count(col(textCol),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpeish_tokens"))

  /** repetition metrics — the duplicate-n-gram family of quality
    * filters every large-scale training corpus applies (high duplicate
    * fractions flag boilerplate / machine-generated text): word count,
    * distinct-word count, duplicate-word fraction, and the bigram
    * versions. Counts exact, fractions rounded(4) for cross-engine
    * stability; pure SQL (split + array HOFs) so DuckDB replays the
    * same definition verbatim — no staging needed.
    *
    * The token array is bound once per doc in its own projection (HOF
    * lambdas have no common-subexpression elimination, so an inlined
    * `split(text)` would re-split per element); one narrow pass, no
    * shuffle. */
  def repetition(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val bound = df.select(col(idCol).as("id"),
      split(col(textCol), " ").as("toks"))
    val bigrams = when(size(col("toks")) < 2,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2))))
    bound
      .select(col("id"), col("toks"), bigrams.as("bg"))
      .select(col("id"),
        size(col("toks")).as("n_words"),
        size(array_distinct(col("toks"))).as("n_distinct_words"),
        size(col("bg")).as("n_bigrams"),
        size(array_distinct(col("bg"))).as("n_distinct_bigrams"))
      .select(col("id"), col("n_words"), col("n_distinct_words"),
        round(lit(1.0) - col("n_distinct_words") /
          greatest(col("n_words"), lit(1)).cast("double"), 4)
          .as("dup_word_frac"),
        col("n_bigrams"), col("n_distinct_bigrams"),
        round(lit(1.0) - col("n_distinct_bigrams") /
          greatest(col("n_bigrams"), lit(1)).cast("double"), 4)
          .as("dup_bigram_frac"))
  }

  /** order-weighted positional fingerprint: Σᵢ ascii(text[i])·((i mod 97)+1)
    * — integer-exact (≤ ~7M for 553-char docs: no overflow, no float),
    * order-sensitive (a rolling-hash-style document signature that any
    * engine reproduces bit-for-bit). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val chars = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "")).as(Seq("pos", "ch")))
    chars.groupBy("id")
      .agg(sum(ascii(col("ch")) * (pmod(col("pos"), lit(97)) + 1))
        .as("fingerprint"))
  }

  /** per-doc top-k salient terms by TF-IDF — the corpus-weighted term
    * profile used for topic balancing / near-dup triage in training
    * mixes. score = tf · ln(N / df), ROUNDED(4) before ranking so the
    * rank order (score desc, term asc) is float-stable across engines
    * in practice — NOT a hard guarantee: engines round differently
    * (BigDecimal HALF_UP vs FP) and ln implementations may differ by
    * 1 ulp, so a score within 1 ulp of a .00005 boundary could flip
    * the 4th decimal and a rank (see PLANS.md; the cross-engine fix,
    * if ever hit, is a rank-only / 1-ulp-tolerant compare).
    *
    * Scale shape: one token explode → (doc, term) count with map-side
    * partial combine; the document-frequency table is vocab-sized, so
    * it joins back per-term — hash-shuffle on term by default, which
    * AQE converts to broadcast when vocab fits (natural-language vocab
    * follows Zipf: even a 100 TB crawl is ~10⁷-10⁸ distinct terms,
    * usually broadcastable after the df agg). The top-k window
    * partitions by doc — bounded by per-doc vocab, never corpus-sized.
    * `nDocs` is passed in (callers know it or pay one count job) so
    * the operator itself stays a single lazy plan. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int, nDocs: Long): DataFrame = {
    // per-document term frequencies are ROW-LOCAL (every token of a
    // document lives in its one input row), so the TF table comes from
    // one compiled pass ([[graft.functions.TermCounts]]) instead of
    // exploding the whole postings stream and re-grouping it by
    // (doc, term) — that group-by's exchange was the query's largest
    // (the full token stream) and is gone since round 6 (guide §2.4);
    // tf values are bit-identical by the expression's split contract
    val tf = df.select(col(idCol).as("id"),
        explode(graft.functions.TermCounts.termCounts(col(textCol)))
          .as("tc"))
      .select(col("id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val dfreq = tf.groupBy("term")
      .agg(count(lit(1)).as("df")) // tf rows are distinct (id, term)
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf", round(col("tf") *
        log(lit(nDocs.toDouble) / col("df")), 4))
    // k-bounded aggregate, not a rank window: the window re-shuffles
    // the ENTIRE postings list (every scored (doc, term) row) to rank
    // it; the aggregate's exchange carries ≤ k rows per (doc, map
    // task). Order — (tfidf desc, term asc in UTF8 binary) — is
    // replicated exactly (TrainingOpsSpec pins window parity), so the
    // DuckDB row_number oracle replays unchanged.
    scored.groupBy("id")
      .agg(graft.functions.TopKTerms.topk(k)(col("tfidf"), col("term"),
        col("tf"), col("df")).as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(col("id"), (col("pos") + 1).as("term_rank"),
        col("col.term").as("term"), col("col.tf").as("tf"),
        col("col.df").as("df"), col("col.tfidf").as("tfidf"))
  }

  /** Vocabulary induction: dense ids 1..V assigned by (count desc,
    * term asc) over all corpus terms with count ≥ minCount — the
    * tokenizer-training step (word-level BPE seeding, embedding-table
    * layout) of a training pipeline.
    *
    * The id is a GLOBAL dense rank, which a naive `row_number()` over
    * an unpartitioned window serializes through one task. Built
    * two-phase instead: (1) the count histogram (distinct count
    * values — thousands, Zipf) gets cumulative offsets via a window
    * over that tiny table; (2) terms rank WITHIN their count value
    * (parallel across count values) and add the offset. Identical ids
    * to the single-window form (VocabSpec pins it), but the only
    * single-task window runs over the histogram, not the vocabulary;
    * the widest real partition is the largest same-count cohort (the
    * minCount cohort — at a 100 TB crawl with minCount 5, ~10⁶ terms:
    * one task sorts megabytes, not the 10⁷-term vocabulary). */
  def buildVocab(df: DataFrame, textCol: String,
                 minCount: Long = 1L): DataFrame = {
    // corpus term counts from the row-local [[TermCounts]] pass
    // (round 6): Σ tf per term ≡ count of exploded tokens, but the
    // partial aggregation sees one row per (doc, DISTINCT term)
    // instead of one per token — fewer agg updates and fewer exchanged
    // partials for the same exact longs
    val tc = df.select(explode(
        graft.functions.TermCounts.termCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.term").as("term"))
      .agg(sum(col("tc.tf")).as("cnt"))
      .where(col("cnt") >= minCount)
    // (1) per-count cohort sizes → running offset of each cohort
    val hw = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = tc.groupBy("cnt").agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(hw), lit(0L)))
      .select("cnt", "_off")
    // (2) rank within cohort (parallel across counts) + cohort offset
    val cw = Window.partitionBy("cnt").orderBy("term")
    tc.join(offsets, "cnt")
      .withColumn("vocab_id",
        col("_off") + row_number().over(cw).cast("long"))
      .select("vocab_id", "term", "cnt")
  }
}
