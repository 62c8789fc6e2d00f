package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PortableText.tokens

/** Statistical-language-model quality scoring (SURVEY §2.F35/F36) —
  * the model-based tier of the corpus-quality ladder: F9's rule
  * scores catch structural junk, these catch DISTRIBUTIONAL junk
  * (word salad with clean punctuation scores high surprisal; looped
  * or base64 text shows up at the entropy extremes). The real-world
  * counterpart is KenLM-perplexity filtering (CCNet and every
  * Common-Crawl pipeline since); a corpus-trained unigram model is
  * its exactly-oracle-checkable core.
  */
object LangModel {

  /** F35 — UNIGRAM-LM SURPRISAL per document: train the unigram model
    * on the corpus itself (count/total over all token occurrences),
    * then score each document by its mean negative log-likelihood
    * `avg(−ln(freq/N))`. No smoothing needed: self-scoring means
    * every scored token has freq ≥ 1.
    *
    * Scale shape: explode → one token-keyed aggregate (map-side
    * partials collapse each partition's repeats) → join BACK on the
    * token key — the frequency table co-partitions with the token
    * stream, so the join adds no extra exchange beyond the aggregate's;
    * never a driver-side vocabulary. N is a one-row aggregate,
    * broadcast. Docs with no tokens report n_tokens=0, NULL score
    * (left join), not a lost row.
    *
    * Engine-exactness: freq and N are exact int64; `freq/N` is one
    * IEEE division, ln parity per D3; the per-doc MEAN is an
    * aggregate double → round(4) (SURVEY §6). */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(expr(tokens)).as("token"))
    // The frequency table feeds BOTH the score join and the N total —
    // checkpoint the vocab-sized frame so the token aggregate runs
    // once (the F2d barrier discipline; the plan audit showed the
    // un-checkpointed spelling re-running the whole explode+aggregate
    // subtree just to produce N's one row).
    val freq = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val total = freq.agg(sum("freq").as("n_total"))
    val perDoc = toks
      .join(freq, "token")
      .crossJoin(broadcast(total))
      .withColumn("nll",
        -log(col("freq").cast("double") / col("n_total")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("nll")), 4).as("avg_surprisal"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** F40 — CONDITIONAL BIGRAM-LM SURPRISAL per document: one rung up
    * the LM ladder from F35 — score each token by its probability
    * GIVEN the previous token, `avg(−ln(c(w₁w₂) / c_head(w₁)))`,
    * where `c_head(w₁) = Σ_w c(w₁w)` is the bigram-head mass (so the
    * conditional distribution sums to exactly 1 and, like F35,
    * self-scoring needs no smoothing). Word salad with plausible
    * unigrams (the F35 blind spot) scores high here — the standard
    * reason pipelines grade on a ≥2-gram model.
    *
    * Scale shape (r16: ONE tokenize pass): the native
    * `graft_wordgrams` explode collapses IMMEDIATELY to the
    * (doc_id, bigram, tf) frame — the only corpus-sized product of
    * the tokenizer — and that frame is checkpointed, so the
    * tokenizer runs exactly once over the corpus (the r15 shape
    * re-tokenized for the score join). c₂ is an aggregate OF that
    * aggregate (bigram-keyed, map-side combined, checkpointed —
    * vocabulary-sized); the head mass an aggregate of c₂; the score
    * join rides the tf frame on its own grouping keys. The head
    * extraction is `split_part` — exact, since whitespace tokens
    * cannot contain the separator.
    *
    * Engine-exactness: counts exact int64 (n_bigrams = Σtf); the
    * per-doc mean is the tf-weighted spelling Σ(tf·nll)/Σtf —
    * identical IEEE multiply-add shape in the oracle — then
    * round(4); ln parity per D3. Sub-2-token docs report
    * n_bigrams=0 with NULL score (left join). */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val docBigrams = docs.select(col("doc_id"),
        explode(expr(s"graft_wordgrams($tokens, 2)")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // c2 feeds the head-mass aggregate AND the score join — same
    // checkpoint-once discipline as F35's frequency table.
    val c2 = docBigrams.groupBy("bigram").agg(sum("tf").as("c2"))
      .localCheckpoint(true)
    val cHead = c2
      .groupBy(expr("split_part(bigram, ' ', 1)").as("head"))
      .agg(sum("c2").as("c_head"))
    val perDoc = docBigrams
      .join(c2, "bigram")
      .withColumn("head", expr("split_part(bigram, ' ', 1)"))
      .join(cHead, "head")
      .withColumn("nll", -log(col("c2").cast("double") / col("c_head")))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        round(sum(col("tf").cast("double") * col("nll")) /
          sum("tf").cast("double"), 4).as("avg_cond_surprisal"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_cond_surprisal"))
      .orderBy("doc_id")
  }

  /** F42 — TOKENIZER-VOCABULARY COVERAGE / OOV-rate per document:
    * build the top-`vocabSize` corpus vocabulary (the fixed-size
    * vocab a tokenizer would train) and report each document's
    * out-of-vocabulary token count and rate — the "will the tokenizer
    * shred this doc into bytes" signal that decides re-training vs
    * re-filtering, and the standard pre-flight check before committing
    * a corpus to an existing tokenizer.
    *
    * Scale shape: one token-keyed aggregate builds the frequency
    * table; the top-V cut is `orderBy(freq desc, token).limit(V)` —
    * Spark plans a distributed TakeOrdered (per-partition heaps + one
    * V-sized merge), never a global sort or single-partition window —
    * and V rows are bounded BY CONSTRUCTION, so the vocab broadcasts
    * into the token stream (map-side membership, no corpus shuffle
    * beyond the aggregate's). Tie at the boundary is deterministic:
    * (freq desc, token asc) is a total order in both engines (ASCII
    * tokens, binary collation).
    *
    * Engine-exactness: counts exact int64; oov_rate is ONE IEEE
    * division of exact ints, UNROUNDED; token-less docs report zero
    * counts and NULL rate (left join), not a lost row. */
  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(expr(tokens)).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    val per = toks
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_rate",
        when(col("n_tokens") > 0,
          col("n_oov").cast("double") / col("n_tokens").cast("double")))
      .orderBy("doc_id")
  }

  /** F36 — CODEPOINT-ENTROPY profile per document: Shannon entropy
    * (nats) of the character distribution via the native
    * [[graft.functions.CharEntropy]] expression (defined fold order →
    * bit-exact vs the oracle, emitted UNROUNDED), plus the codepoint
    * length and distinct-codepoint count that contextualize it.
    * Narrow one-pass projection — no shuffle, no explode; the
    * per-row loop is the whole cost. */
  def charEntropy(docs: DataFrame): DataFrame = {
    docs.select(
      col("doc_id"),
      length(col("text")).as("len_cp"),
      expr("size(graft_grams(text, 1))").as("n_distinct_cp"),
      expr("graft_charentropy(text)").as("entropy"))
      .orderBy("doc_id")
  }

  /** F46 — DSIR-style IMPORTANCE WEIGHTS for domain-targeted
    * selection (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling"): score every document by how much
    * its token distribution resembles a TARGET domain relative to
    * the whole corpus, then sample high scorers to shift the mixture
    * toward the target without hand-written rules.
    *
    * DSIR's hashed-n-gram likelihood ratio is QUANTIZED here to keep
    * both engines bit-identical: the corpus-to-target size ratio is
    * fixed ONCE as `C = (N_all · 10⁴) div N_target` (a 1-row
    * scalar), then per token `w_bp = (tf_target · C) div tf_all` —
    * an exact int64 basis-point ratio (>10⁴ ⇔ token
    * over-represented in the target; 0 for tokens the target never
    * uses — the linear-space stand-in for DSIR's log ratio that
    * needs no smoothing). The two-step quantization is also the
    * overflow-safe spelling: `tf_target · C` stays under 2⁶³ for any
    * real corpus (tf ≤ 10¹⁰, C ≤ 10⁷), where the naive triple
    * product `tf·N_all·10⁴` overflows int64 already at ~10¹⁴ total
    * tokens. Per-doc score = Σ w_bp over token OCCURRENCES (exact
    * int64); the mean is ONE IEEE division of exact ints, unrounded.
    *
    * Scale shape: the vocab aggregate computes corpus AND target
    * counts in one conditional pass (one token-keyed shuffle);
    * scoring joins the doc tokens back on the same token key — the
    * F35 shape, still two exchanges total at any corpus size. The
    * grand totals ride a 1-row broadcast. */
  def importanceWeights(docs: DataFrame, targetSource: String): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      explode(expr(tokens)).as("token"))
    val freq = toks.groupBy("token")
      .agg(count(lit(1)).as("tf_all"),
        sum(when(col("source") === targetSource, 1L).otherwise(0L))
          .as("tf_target"))
      .localCheckpoint(true)
    val totals = freq.agg(sum("tf_all").as("n_all"),
      sum("tf_target").as("n_target"))
      .select(expr("(n_all * 10000) DIV n_target").as("c_ratio"))
    val perDoc = toks
      .join(freq, "token")
      .crossJoin(broadcast(totals))
      .withColumn("w_bp", expr("(tf_target * c_ratio) DIV tf_all"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("w_bp").as("sum_w_bp"))
      .withColumn("avg_w_bp",
        col("sum_w_bp").cast("double") / col("n_tokens").cast("double"))
    docs.select("doc_id", "source").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_w_bp"), lit(0L)).as("sum_w_bp"),
        col("avg_w_bp"))
      .orderBy("doc_id")
  }

  /** F66 — KNESER-NEY SMOOTHED BIGRAM SURPRISAL per document: F40's
    * raw conditional model upgraded to interpolated KN — THE n-gram
    * smoothing (Chen & Goodman 1999) every KenLM filter actually
    * ships. The fix over raw counts: a bigram's backoff mass goes to
    * words by how many CONTEXTS they follow, not raw frequency
    * ("Francisco" is frequent but only ever follows "San" — KN
    * backoff scores it low in new contexts):
    *
    * `P(w₂|w₁) = (c(w₁w₂) − D + D·N₁₊(w₁·)·(N₁₊(·w₂)/B)) / c(w₁)`
    *
    * with D the absolute discount, N₁₊(w₁·) distinct continuations
    * of w₁, N₁₊(·w₂) distinct contexts preceding w₂, B total distinct
    * bigram types. Self-scoring keeps c(w₁w₂) ≥ 1 > D so the max(·,0)
    * clamp is vacuous and the probability is strictly positive.
    *
    * Scale shape (F40's, r16 one-tokenize-pass variant): the bigram
    * explode collapses immediately to the checkpointed
    * (doc_id, bigram, tf) frame (tokenizer runs ONCE); c₂ is an
    * aggregate OF that aggregate (bigram-keyed, vocab²-bounded,
    * map-side combined, checkpointed); N₁₊/c(w₁) aggregates of c₂
    * (head- and tail-keyed, vocab-sized); B a one-row broadcast;
    * score join back on the tf frame's own keys — never a driver
    * vocabulary. Engine-exactness: all counts exact int64
    * (n_bigrams = Σtf); the probability is ONE identically-spelled
    * IEEE expression of cast counts and the hoisted discount
    * literal; ln per D3; per-doc mean is the tf-weighted spelling
    * Σ(tf·nll)/Σtf (same IEEE shape in the oracle) then round(4);
    * token-less docs 0/NULL via left join. */
  def knSurprisal(docs: DataFrame, discount: Double): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1): $discount")
    val docBigrams = docs.select(col("doc_id"),
        explode(expr(s"graft_wordgrams($tokens, 2)")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val c2 = docBigrams.groupBy("bigram").agg(sum("tf").as("c2"))
      .localCheckpoint(true)
    val heads = c2
      .groupBy(expr("split_part(bigram, ' ', 1)").as("head"))
      .agg(sum("c2").as("c_head"), count(lit(1)).as("n1_head"))
    val conts = c2
      .groupBy(expr("split_part(bigram, ' ', 2)").as("tail"))
      .agg(count(lit(1)).as("n1_cont"))
    val types = c2.agg(count(lit(1)).as("n_types"))
    val d = lit(discount)
    val perDoc = docBigrams
      .join(c2, "bigram")
      .withColumn("head", expr("split_part(bigram, ' ', 1)"))
      .withColumn("tail", expr("split_part(bigram, ' ', 2)"))
      .join(heads, "head")
      .join(conts, "tail")
      .crossJoin(broadcast(types))
      .withColumn("nll",
        -log((col("c2").cast("double") - d +
          d * col("n1_head").cast("double") *
            (col("n1_cont").cast("double") / col("n_types").cast("double"))) /
          col("c_head").cast("double")))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        round(sum(col("tf").cast("double") * col("nll")) /
          sum("tf").cast("double"), 4).as("avg_kn_surprisal"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_kn_surprisal"))
      .orderBy("doc_id")
  }

  /** F92 — NAIVE BAYES QUALITY-CLASSIFIER TRAINING (the learning step
    * F73 skips): distill the rule gate into a multinomial NB model —
    * label every doc by the cheap structural rule (≥ `minTok` tokens
    * AND stopword share ≥ `minStopPct`%, the F15 essence as one
    * integer cross-multiply), TRAIN per-token class counts with
    * Laplace α=1 smoothing, then SCORE the corpus with the learned
    * log-odds and report, per source, how far the learned model and
    * the teaching rule agree — exactly the fastText/DCLM
    * quality-classifier bootstrap (label by heuristic, train a bag-of-
    * words model, deploy the model where the rule is too brittle),
    * with the train→infer loop closed in one plan the way F59→F63
    * closes the tokenizer loop. Disagreement is the SIGNAL: the model
    * generalizes the rule through vocabulary co-occurrence, so docs
    * flipping verdict are exactly the rule's edge cases.
    *
    * Shape: one corpus token explode feeds BOTH the class-count
    * aggregate (vocab-sized, map-side combined, checkpointed) and the
    * scoring join back on the token key — the F35 train-on-
    * yourself shape with a class axis; priors and totals are one-row
    * broadcasts. At 100 TB: two token-keyed exchanges, nothing
    * driver-side, vocabulary never collected.
    *
    * Engine-exactness: labels and counts are exact int64 (the
    * stopword gate is an integer cross-multiply — no ratio
    * doubles); each per-occurrence log-odds term is ONE fixed
    * left-assoc ln spelling of exact-int casts (the F86 ln-sum rule:
    * cross-multiplied count ratios would overflow at ~10⁹ tokens);
    * per-doc margins sum those terms plus the prior; the per-source
    * mean margin is an aggregate double → round(4) (float sweep).
    * `agree_rate` is one IEEE division of exact ints, unrounded.
    * Token-less docs score margin = prior (empty sum, not a lost
    * row). */
  def nbQualityClassifier(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"),
      minTok: Int = 20, minStopPct: Int = 5): DataFrame = {
    import graft.functions.PortableText.wordHits
    val labeled = docs.select(col("doc_id"), col("source"),
        expr(s"size($tokens)").as("n_tok"),
        expr(wordHits(stopwords)).as("n_stop"))
      .withColumn("pos", col("n_tok") >= minTok &&
        col("n_stop") * 100 >= col("n_tok") * minStopPct)
      .localCheckpoint(true)
    val toks = docs.select(col("doc_id"), explode(expr(tokens)).as("token"))
      .join(labeled.select("doc_id", "pos"), "doc_id")
    val cc = toks.groupBy("token")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("c0"))
      .localCheckpoint(true)
    val tot = cc.agg(sum("c1").as("n1w"), sum("c0").as("n0w"),
      count(lit(1)).as("v"))
    val priors = labeled.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("n1d"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("n0d"))
    val perDoc = toks.join(cc, "token")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        log(col("c1").cast("double") + lit(1.0)) -
          log(col("n1w").cast("double") + col("v").cast("double")) -
          log(col("c0").cast("double") + lit(1.0)) +
          log(col("n0w").cast("double") + col("v").cast("double")))
      .groupBy("doc_id").agg(sum("term").as("tsum"))
    labeled.join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(priors))
      .withColumn("margin",
        log(col("n1d").cast("double") + lit(1.0)) -
          log(col("n0d").cast("double") + lit(1.0)) +
          coalesce(col("tsum"), lit(0.0)))
      .withColumn("pred", col("margin") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos_label"),
        sum(when(col("pred"), 1L).otherwise(0L)).as("n_pos_pred"),
        sum(when(col("pos") === col("pred"), 1L).otherwise(0L))
          .as("n_agree"),
        round(avg(col("margin")), 4).as("mean_margin"))
      .withColumn("agree_rate",
        col("n_agree").cast("double") / col("n_docs").cast("double"))
      .select("source", "n_docs", "n_pos_label", "n_pos_pred",
        "n_agree", "agree_rate", "mean_margin")
      .orderBy("source")
  }
}
