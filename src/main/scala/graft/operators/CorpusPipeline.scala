package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableText

/** Corpus-pipeline stages (SURVEY §2.F15–F17) — the composition layer
  * a pre-training data pipeline runs between raw ingest and training:
  * a quality FILTER that drops documents with a reason code, a
  * deterministic hash SPLIT that carves reproducible train/val/test
  * partitions, and a DECONTAMINATION pass that flags held-out
  * documents whose word n-grams leak into the training side.
  *
  * All three are engine-portable (PortableText token semantics, pure
  * integer/double arithmetic) so the DuckDB oracle replays them
  * exactly. ref: the reference's per-symbol train/val carving
  * (`ML Model/Scripts/train.py:97,148` via `split_window_data`) is the
  * same reproducible-split need, expressed here corpus-wide.
  */
object CorpusPipeline {
  import PortableText.tokens

  /** F15 — composed quality filter: the classic pre-training drop
    * rules (too short, too repetitive, too few stopwords) evaluated in
    * one narrow codegen'd pass. `drop_reason` is the FIRST failing
    * rule (short > repetitive > low_stop), NULL when the doc is kept —
    * the audit column a corpus curator reads off the drop report.
    * Ratios are element-wise integer→double divisions: unrounded
    * (SURVEY §6), bit-identical across engines. */
  def qualityFilter(docs: DataFrame, minTokens: Int = 20,
                    maxRepRatio: Double = 0.65, minStopRatio: Double = 0.01,
                    stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"))
      : DataFrame = {
    docs.select(
      col("doc_id"),
      expr(s"size($tokens)").as("n_tokens"),
      expr(s"size(array_distinct($tokens))").as("n_distinct"),
      expr(PortableText.wordHits(stopwords)).as("n_stop"))
      // Guard the zero-token case explicitly: Spark 4 runs ANSI mode
      // by default, where x/0 THROWS instead of yielding NULL — an
      // empty document must score NULL ratios (and drop as 'short'),
      // not kill the job.
      .withColumn("rep_ratio",
        when(col("n_tokens") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0,
          col("n_stop").cast("double") / col("n_tokens")))
      .withColumn("drop_reason",
        when(col("n_tokens") < minTokens, "short")
          .when(col("rep_ratio") > maxRepRatio, "repetitive")
          .when(col("stop_ratio") < minStopRatio, "low_stop"))
      .withColumn("keep", col("drop_reason").isNull)
      .select("doc_id", "n_tokens", "rep_ratio", "stop_ratio",
        "keep", "drop_reason")
      .orderBy("doc_id")
  }

  /** Knuth multiplicative-hash split key — explicit integer
    * arithmetic (never an engine `hash()`) so Spark and the oracle
    * agree bit-for-bit. The id is reduced mod P BEFORE the multiply:
    * (P-1) * 2654435761 ≈ 2.65e18 < 2^63, so the product can never
    * overflow signed 64-bit for ANY doc_id — the unreduced form
    * `id * K` overflows (and throws under Spark 4 ANSI) once
    * doc_id ≥ ~3.5e9, exactly the id spaces a 100 TB corpus has.
    * Same value as the unreduced form wherever that form was legal:
    * (id*K) mod P == ((id mod P)*K) mod P. */
  private[operators] def splitKey(id: Column): Column =
    pmod(hashOrder(id), lit(100))

  /** JVM twins of [[hashOrder]]/[[splitKey]] for streaming operators
    * whose keyed state folds PER ROW (G34): same reduce-first
    * arithmetic (intermediates ≤ (p−1)·K ≈ 2.65e18 < 2⁶³), same
    * pmod non-negativity; spelled once here beside the Column form
    * and pinned equal by spec so the two can never drift. */
  private[graft] def hashOrderJvm(id: Long): Long = {
    val p = PortableText.P
    val m = ((id % p) + p) % p
    (m * 2654435761L) % p
  }
  private[graft] def splitNameJvm(id: Long, trainPct: Int = 80,
                                  valPct: Int = 10): String = {
    val k = hashOrderJvm(id) % 100
    if (k < trainPct) "train"
    else if (k < trainPct + valPct) "val"
    else "test"
  }

  /** ((id mod P) * K) mod P — the overflow-safe multiplicative hash
    * shared by [[hashSplit]] and [[capPerSource]]. Both mods are
    * `pmod`, so the hash is well-defined (non-negative) for NEGATIVE
    * doc_ids too; the DuckDB oracle duals spell the first reduction
    * ((x % P + P) % P) to match, since SQL `%` follows the dividend
    * sign. Property-tested across the full signed-64 id range. */
  private[operators] def hashOrder(id: Column): Column =
    pmod(pmod(id, lit(PortableText.P)) * lit(2654435761L),
      lit(PortableText.P))

  /** F16 — deterministic train/val/test split: every document lands in
    * exactly one partition, the assignment is a pure function of
    * doc_id (re-running on a grown corpus never reshuffles old docs —
    * the property random `rand()` splits lose), and the carve is
    * 80/10/10 by multiplicative hash. Narrow — no shuffle; the split
    * column is codegen'd arithmetic. */
  def hashSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10)
      : DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("split",
        when(splitKey(col("doc_id")) < trainPct, "train")
          .when(splitKey(col("doc_id")) < trainPct + valPct, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  /** F90 — RELEASE MANIFEST: the verifiable dataset-card footer a
    * corpus release ships — per split (F16's deterministic carve),
    * document and token counts plus a CONTENT CHECKSUM both engines
    * (and any future re-materialization) can recompute: the sum of
    * per-document polynomial fingerprints mod p. Equal checksums ⇔
    * same document MULTISET per split (order-free, partition-free) —
    * the property a consumer audits before training ("is this the
    * corpus the card describes?") and the one a silent row loss or
    * duplication breaks. F80 diffs two snapshots doc-by-doc; this is
    * the one-line attestation of a single release.
    *
    * Shape: one narrow per-doc pass (fingerprint + token count — no
    * explode), one |splits|-row aggregate. Counts exact int64; the
    * checksum sums sub-p ints then reduces mod p (exact to ~9·10⁹
    * docs per split in int64; at true scale swap to a modular
    * partial-sum reduce — documented, F54's rule). */
  def releaseManifest(docs: DataFrame): DataFrame = {
    val split = hashSplit(docs).select("doc_id", "split")
    docs
      .select(col("doc_id"),
        expr(s"size($tokens)").cast("long").as("n_toks"),
        expr(PortableText.docFingerprint).as("fp"))
      .join(split, "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        expr(s"sum(fp) % ${PortableText.P}").as("content_checksum"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("split")
  }

  /** F16b — SOURCE-STRATIFIED eval split: carve `testPct`% of EACH
    * source into the held-out side (the per-domain eval carving F16's
    * corpus-wide hash split cannot guarantee — a small domain can land
    * entirely in train there; domain-stratified eval needs every
    * source represented at the same rate). A doc is `test` iff its
    * hash-order RANK within its source satisfies rank·100 ≤
    * count·testPct — exact-integer thresholding (no float pct), ranks
    * from the same deterministic multiplicative-hash walk as F18, so
    * the carve is reproducible and growing one source only ever swaps
    * members statistically within that source. One shuffle by source;
    * the per-source count rides the same window partition (no second
    * aggregation). */
  def stratifiedSplit(docs: DataFrame, testPct: Int = 10): DataFrame = {
    require(testPct >= 0 && testPct <= 100,
      s"testPct must be in [0,100]: $testPct")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(hashOrder(col("doc_id")).asc, col("doc_id").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    docs.select(col("doc_id"), col("source"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_source", count(lit(1)).over(wAll))
      .withColumn("split",
        when(col("rnk") * 100 <= col("n_source") * testPct, "test")
          .otherwise("train"))
      .select("doc_id", "source", "rnk", "n_source", "split")
      .orderBy("doc_id")
  }

  /** F18 — per-source cap: keep at most `cap` documents per source,
    * chosen by deterministic multiplicative-hash order (a reproducible
    * "random" subsample, not head-of-table bias) — the source
    * REBALANCING stage that stops one crawl domain from dominating a
    * training mix. Shuffles once by source; the per-group sort is
    * rank-truncated, and the hash order means adding documents to a
    * source only ever swaps members in and out statistically, never
    * systematically (contrast a timestamp order, which would keep only
    * the oldest crawl). */
  def capPerSource(docs: DataFrame, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(hashOrder(col("doc_id")).asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cap)
      .orderBy("doc_id")
  }

  /** F37 — TEMPERATURE-SCALED MIXTURE SAMPLING: allocate a global
    * document budget across sources proportional to `n_source^α` with
    * α = 1/2 — the standard temperature flattening (T = 1/α = 2) that
    * up-weights small sources against head domains (the mixture knob
    * behind every multi-domain pre-training recipe), then admit each
    * source's share in deterministic multiplicative-hash order.
    *
    * QUANTIZED-WEIGHT exactness (the F28 linear-idf discipline):
    * `sqrt` is IEEE-correctly-rounded, so `sq = floor(√n · 1e6)` is
    * bit-identical across engines; from there the allocation
    * `tgt = min(n, budget·sq div Σsq)` is pure int64 arithmetic —
    * reduction-order free, no float sum over sources anywhere. The
    * admission reuses [[hashOrder]] (same reproducibility contract as
    * F18: growing a source swaps members by hash rank, never re-deals
    * other sources).
    *
    * Scale shape: per-source counts are a tiny aggregate, the integer
    * allocation happens on that tiny frame, broadcast back; admission
    * is F18's one window per source. Rounding-down keeps the total at
    * most `budget` (never over-admits); the remainder seats are left
    * empty by design — deterministic beats exactly-full. */
  def mixtureSample(docs: DataFrame, budget: Long): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("sq",
        floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("long"))
    val z = counts.agg(sum("sq").as("z"))
    val targets = counts.crossJoin(broadcast(z))
      .withColumn("tgt", least(col("n_docs"), expr(s"($budget * sq) div z")))
      .select("source", "n_docs", "tgt")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(hashOrder(col("doc_id")).asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("rnk", row_number().over(w))
      .join(broadcast(targets), "source")
      .filter(col("rnk") <= col("tgt"))
      .select("source", "doc_id", "rnk", "tgt")
      .orderBy("source", "rnk")
  }

  /** F21 — TOKEN-BUDGET source mixing: keep documents per source in
    * deterministic multiplicative-hash order until the source's TOKEN
    * budget is exhausted — the mixture-rebalancing step a pre-training
    * pipeline runs to hit a target domain composition by token mass,
    * not document count ([[capPerSource]]'s doc-count cap can't: a
    * source of long documents would overshoot its token share).
    *
    * PREFIX-CUT semantics: the source's documents form one
    * hash-ordered stream, and the stream is truncated at the first
    * document whose inclusive running token total crosses the budget
    * — that document and EVERYTHING after it are dropped (no greedy
    * skip-and-refill: backfilling with later smaller docs would make
    * membership depend on the whole prefix's shape, while the prefix
    * cut keeps it a pure function of the doc's own hash rank and the
    * mass before it). `cum_tokens` (the inclusive prefix total) is
    * emitted for auditability. Same reproducibility contract as the
    * cap: adding documents to a source only ever swaps members by
    * hash rank, never by arrival order.
    *
    * Scale shape: one shuffle by source + a per-source window prefix
    * sum — identical to [[capPerSource]]'s shape; a skewed giant
    * source is one partition's sort, bounded by the same AQE skew
    * handling every per-source op here relies on. */
  def tokenBudgetPerSource(docs: DataFrame, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(hashOrder(col("doc_id")).asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.select(col("doc_id"), col("lang"), col("source"),
        expr(s"size($tokens)").cast("bigint").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
      .orderBy("doc_id")
  }

  /** F20 — SEQUENCE PACKING layout: the concatenate-and-chunk step an
    * LLM pre-training pipeline runs last — documents are laid head to
    * tail and cut into fixed `ctxLen`-token context windows ("bins"),
    * docs straddling a cut belong to both neighboring bins. This
    * computes each document's place in that layout: its shard, its
    * token offset, and the first/last bin it occupies.
    *
    * Scale shape: a single global prefix-sum would be a one-partition
    * window (the classic scale-killer); real packers shard the corpus
    * and pack each shard independently on its worker. Here shard =
    * multiplicative-hash(doc_id) mod `nShards` (deterministic,
    * uniform, reuses [[hashOrder]]), and the cumulative token count is
    * a per-shard window ordered by doc_id — one shuffle by shard,
    * prefix sums run in parallel, no global sort anywhere. At 100 TB,
    * nShards scales with the worker count and the plan is unchanged.
    *
    * Within a shard the pack order is doc_id (deterministic and
    * oracle-replayable). Zero-token docs occupy no window: their
    * bin_first/bin_last are NULL (no x/0 or negative-index hazard —
    * `ctxLen` is a positive constant and offsets are non-negative, and
    * `div` truncation == floor on non-negatives in BOTH engines). */
  def packSequences(docs: DataFrame, ctxLen: Int = 512,
                    nShards: Int = 4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.select(col("doc_id"),
        pmod(hashOrder(col("doc_id")), lit(nShards)).cast("int").as("shard"),
        expr(s"size($tokens)").cast("bigint").as("n_tokens"))
      .withColumn("tok_end", sum("n_tokens").over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("tok_end") - col("n_tokens")).as("tok_start"),
        when(col("n_tokens") > 0,
          expr(s"(tok_end - n_tokens) div $ctxLen")).as("bin_first"),
        when(col("n_tokens") > 0,
          expr(s"(tok_end - 1) div $ctxLen")).as("bin_last"))
      .orderBy("doc_id")
  }

  /** Word n-grams of a doc's token list as space-joined strings;
    * empty when the doc has fewer than n tokens. Native
    * [[graft.functions.WordGrams]] — same output as the HOF spelling
    * `transform(sequence(1, size(t)-n+1), i -> array_join(slice(t, i,
    * n), ' '))`, which interpreted at ~3 s per sf0.1 pass. */
  private def gramsCol(n: Int): Column =
    expr(s"graft_wordgrams($tokens, $n)")

  /** F17 — train/test decontamination: for each held-out document
    * (doc_id ≡ 0 mod `holdoutMod`), count its distinct word n-grams
    * that also occur anywhere in the training side, and flag any
    * overlap. The scale shape: explode → per-side DISTINCT (partial
    * aggregation collapses hot template grams before the shuffle) →
    * equality join keyed on the gram — never a doc×doc comparison.
    * Held-out docs with zero grams still appear (left join), so the
    * report always covers the full eval set. */
  def decontaminate(docs: DataFrame, n: Int = 5, holdoutMod: Int = 50)
      : DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(gramsCol(n)).as("gram"))
    val trainGrams = grams.filter(pmod(col("doc_id"), lit(holdoutMod)) =!= 0)
      .select("gram").distinct()
    val testGrams = grams.filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
      .distinct()
    val overlap = testGrams.join(trainGrams, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    docs.filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
      .select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", col("n_overlap") > 0)
      .orderBy("doc_id")
  }

  /** F43 — graded CONTAMINATION SCORE: F17's binary flag upgraded to
    * the measured overlap fraction — per held-out doc, the share of
    * its DISTINCT word n-grams that occur anywhere in the training
    * side. The number that separates "one boilerplate phrase leaked"
    * (harmless, frac ≈ 0.02) from "the eval doc IS in the training
    * set" (frac ≈ 1.0) — the threshold call every decontamination
    * pipeline actually makes, where F17 only answers yes/no. Same
    * scale shape as F17 (per-side distinct → gram-keyed join, never
    * doc×doc) with the train side folded in as a membership flag so
    * ONE per-doc aggregate counts both totals. overlap_frac is one
    * IEEE division of exact int64 counts, UNROUNDED; gram-less
    * held-out docs keep their row (zero counts, NULL frac). */
  def contaminationScore(docs: DataFrame, n: Int = 5, holdoutMod: Int = 50)
      : DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(gramsCol(n)).as("gram"))
    val trainGrams = grams.filter(pmod(col("doc_id"), lit(holdoutMod)) =!= 0)
      .select("gram").distinct().withColumn("hit", lit(1))
    val testGrams = grams.filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
      .distinct()
    val per = testGrams
      .join(trainGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_overlap"))
    docs.filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
      .select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_grams") > 0,
          col("n_overlap").cast("double") / col("n_grams").cast("double")))
      .orderBy("doc_id")
  }

  /** F17c — BLOOM-FILTER decontamination PREFILTER: the two-stage
    * shape F17 runs at 100 TB. Stage 1 folds every distinct training
    * word n-gram into a 65,536-bit Bloom filter (2048 32-bit words,
    * `kHash` affine rehashes of the gram's PolyHash — the minhash
    * coefficient family, positions `((2i+3)h + 5i+7) mod P mod 2^16`)
    * built by one `bit_or` aggregation; the bitmap is ~8 KB and
    * BROADCAST, so stage 2 — membership for held-out grams — is a
    * map-side broadcast join, never a shuffle of the corpus. A gram is
    * a CANDIDATE iff all `kHash` probed bits are set (no false
    * negatives, so candidates ⊇ true overlaps); the exact gram join
    * then runs ONLY on candidates, and the report carries the measured
    * false-positive count per held-out doc — the number the 100 TB
    * operator needs to size m against its gram cardinality.
    * `contaminated` is the exact verdict (identical to F17's flag);
    * `bloom_contaminated` is the prefilter's superset verdict. Bits
    * are packed 32/word because BOTH engines overflow-check `1 << 63`
    * (DuckDB errors; masks stay positive bigints). */
  def bloomPrefilter(docs: DataFrame, n: Int = 5, holdoutMod: Int = 50,
                     kHash: Int = 3): DataFrame = {
    require(kHash >= 1 && kHash <= 8, s"kHash must be in [1,8]: $kHash")
    val grams = docs.select(col("doc_id"), explode(gramsCol(n)).as("gram"))
    // Materialize both distinct gram sets once: each feeds TWO
    // consumers (train → bloom build + exact join; held → probes +
    // per-doc counts), and without the barrier every consumer re-runs
    // the tokenize+gram explode — measured 4 explode passes instead
    // of 2. At 100 TB the materialized train-gram set IS the stored
    // stage-1 index this operator's docstring assumes; the held side
    // is the (small) eval set. Same discipline as greedyNearDup's
    // sketch checkpoint.
    val train = grams.filter(pmod(col("doc_id"), lit(holdoutMod)) =!= 0)
      .select("gram").distinct().localCheckpoint(true)
    def positions(df: DataFrame): DataFrame = df
      .withColumn("h", expr("graft_polyhash(gram)"))
      .withColumn("i", explode(sequence(lit(0), lit(kHash - 1))))
      .withColumn("pos",
        expr(s"((2*i + 3) * h + 5*i + 7) % ${PortableText.P} % 65536"))
      .withColumn("word", expr("pos div 32"))
      .withColumn("mask", expr("shiftleft(1L, cast(pos % 32 as int))"))
    val bloom = positions(train)
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
    val held = grams.filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
      .distinct().localCheckpoint(true)
    // left join: a probed word with no training bits at all is a miss
    val probes = positions(held)
      .join(broadcast(bloom), Seq("word"), "left")
      .groupBy("doc_id", "gram")
      .agg(sum(when(expr("bits & mask") =!= 0, 1).otherwise(0))
        .as("n_hits"))
    val cand = probes.filter(col("n_hits") === kHash)
      .select("doc_id", "gram")
    val exact = cand.join(train, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    val candPerDoc = cand.groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"))
    val gramsPerDoc = held.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    docs.filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
      .select(col("doc_id"))
      .join(gramsPerDoc, Seq("doc_id"), "left")
      .join(candPerDoc, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("n_false_pos", col("n_candidates") - col("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
      .withColumn("bloom_contaminated", col("n_candidates") > 0)
      .orderBy("doc_id")
  }

  /** F34 — CURRICULUM phases: rank the corpus into `phases` quality
    * tiers by stopword ratio (the F15 naturalness signal) so training
    * can feed cleanest-first — phase 1 = top tier, empty docs land in
    * the last phase (NULL score sinks). Deliberately NOT `ntile`: a
    * global ntile window is a single-partition sort (the WindowExec
    * trap); instead the D5 shape — one exact-percentile aggregation
    * collapses to a ONE-ROW threshold broadcast and the phase is a
    * narrow fold `phases − Σ[score > tᵢ]` per doc. Scores are exact
    * one-step IEEE ratios (identical across engines); threshold
    * comparisons are the same raw-interpolated-percentile class D5
    * has hash-checked since round 1.
    *
    * ENGINE-EXACT threshold comparison (the sf0.1 sweep caught raw
    * interpolated thresholds flipping 5/5000 phases by one ulp —
    * Spark interpolates `a + (b−a)·f`, DuckDB `a(1−f) + b·f`, and at
    * a boundary score the two land on opposite sides): scores snap to
    * an EVEN integer grid (`2·⌊score·2^20 + 0.5⌋`, exact in both
    * engines) and thresholds are percentiles of that grid ROUNDED to
    * the nearest integer. The interpolation fraction is k/(phases)
    * mod 1 (±ulp), so an interpolated threshold's true value is
    * even·k/phases — a rational with small denominator that can
    * never equal x.5 for even inputs (parity), and the engines' ≤1-ulp
    * disagreement cannot bridge the ≥1/phases gap to a rounding
    * boundary — round(t) is therefore IDENTICAL across engines and
    * every comparison is integer-exact. */
  def curriculumPhases(docs: DataFrame, phases: Int = 10,
                       stopwords: Seq[String] =
                         Seq("the", "a", "of", "and", "to")): DataFrame = {
    require(phases >= 2, s"phases must be >= 2: $phases")
    val nTok = expr(s"size($tokens)")
    val scored = docs.select(col("doc_id"), nTok.as("n_tokens"),
      when(nTok > 0,
        expr(PortableText.wordHits(stopwords)).cast("double") / nTok)
        .as("score"))
      .withColumn("score_q",
        expr("2 * cast(floor(score * 1048576 + 0.5d) as bigint)"))
    val pcts = (1 until phases).map(i =>
      s"round(percentile(score_q, ${i.toDouble / phases}))")
    val th = scored.agg(expr(s"array(${pcts.mkString(", ")})").as("ths"))
    scored.crossJoin(broadcast(th))
      .withColumn("phase", expr(
        s"""$phases - aggregate(ths, 0, (a, t) ->
           |  a + CASE WHEN score_q > t THEN 1 ELSE 0 END)""".stripMargin))
      .select("doc_id", "n_tokens", "score", "phase")
      .orderBy("doc_id")
  }

  /** F32 — sequence-LENGTH histogram: document counts and token mass
    * per fixed-width token-length bucket — the distribution a pipeline
    * owner reads BEFORE choosing F20's ctxLen / F29's chunk size
    * (what fraction of docs fit one window? where does padding waste
    * concentrate?). Buckets are `len div width` (exact ints; empty
    * docs land in bucket 0), cumulative doc share is an exact-int
    * division over the window running total. One narrow pass + one
    * tiny bucket aggregation. */
  def lengthHistogram(docs: DataFrame, bucketWidth: Int = 64): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    // global window BOUNDED by construction: the frame is the bucket
    // HISTOGRAM (maxTokens/bucketWidth rows), never documents (the
    // r12 WindowExec-warning audit pin)
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val total = docs.agg(count(lit(1)).as("n_total"))
    docs.select(expr(s"size($tokens)").cast("bigint").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .crossJoin(broadcast(total))
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cum_doc_share",
        col("cum_docs").cast("double") / col("n_total"))
      .select("bucket", "n_docs", "tokens", "cum_docs", "cum_doc_share")
      .orderBy("bucket")
  }

  /** F44 — SOURCE-DRIFT detector: total-variation distance between
    * every source pair's token-length distributions — the ingest
    * monitor that catches a crawl snapshot silently changing shape
    * (truncated fetches, a new boilerplate injector, a parser
    * regression) BEFORE it pollutes the mix; F32's histogram turned
    * into a pairwise comparison. TV = ½·Σ_buckets |cₐ/Nₐ − c_b/N_b|,
    * computed EXACTLY: the numerator is Σ|cₐ·N_b − c_b·Nₐ| — pure
    * int64 (counts × counts) summed order-free — and the distance is
    * ONE IEEE division by 2·Nₐ·N_b, UNROUNDED. Shape: one narrow
    * histogram aggregate (source × bucket, tiny), the source pair
    * list built from the source totals (bounded by construction),
    * the bucket UNIVERSE cross-joined so one-sided buckets count
    * their full mass (a bucket only source A has contributes cₐ·N_b);
    * everything after the histogram is vocabulary-sized. 0 = same
    * shape, 1 = disjoint. */
  def sourceDrift(docs: DataFrame, bucketWidth: Int = 16): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val hist = docs
      .select(col("source"),
        expr(s"(size($tokens) div $bucketWidth)").cast("long").as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("c"))
    val tot = hist.groupBy("source").agg(sum("c").as("n"))
    val pairs = tot.select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(tot.select(col("source").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    val univ = pairs.crossJoin(hist.select("bucket").distinct())
    univ
      .join(hist.select(col("source").as("src_a"), col("bucket"),
        col("c").as("c_a")), Seq("src_a", "bucket"), "left")
      .join(hist.select(col("source").as("src_b"), col("bucket"),
        col("c").as("c_b")), Seq("src_b", "bucket"), "left")
      .withColumn("num",
        abs(coalesce(col("c_a"), lit(0L)) * col("n_b") -
          coalesce(col("c_b"), lit(0L)) * col("n_a")))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(sum("num").as("tv_num"))
      .withColumn("tv_dist",
        col("tv_num").cast("double") /
          (lit(2.0) * col("n_a") * col("n_b")).cast("double"))
      .select("src_a", "src_b", "n_a", "n_b", "tv_dist")
      .orderBy("src_a", "src_b")
  }

  /** F86 — PER-SOURCE UNIGRAM KL-DIVERGENCE to the corpus mixture:
    * KL(P_source ‖ P_corpus) over whitespace-token unigram
    * distributions — the mixture-design audit that says HOW FAR each
    * feed's language sits from the blend the model will actually see
    * (F44 measures pairwise total-variation on LENGTH histograms;
    * this measures distributional distance on the VOCABULARY itself,
    * the signal DSIR/DoReMi-style reweighting consumes). Support is
    * total by construction: every token of source s appears in the
    * corpus marginal (c_t ≥ c_st ≥ 1), so no smoothing is needed and
    * KL is finite.
    *
    * Per-term ln products are spelled as SUMS of lns —
    * ln(c_st)+ln(N)−ln(n_s)−ln(c_t) — because the cross-multiplied
    * integer ratio (c_st·N vs n_s·c_t) overflows int64 at
    * ~10⁹-token corpora; each term is then identical IEEE arithmetic
    * in both engines and the vocab-sized sum rounds to 4 at the end
    * (aggregate-derived double, SURVEY §6; gated by the sf0.1
    * float sweep).
    *
    * Shape: ONE corpus scan collapses to the (source, token) count
    * frame (map-side combined — the only corpus-sized aggregate);
    * marginals re-aggregate that checkpointed frame, the score join
    * is vocab-sized, per-source totals broadcast. 100 TB cost is the
    * one token aggregate every unigram audit already pays. */
  def sourceKl(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(expr(tokens)).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c_st"))
      .localCheckpoint(true)
    val ct = st.groupBy("token").agg(sum("c_st").as("c_t"))
    val ns = st.groupBy("source").agg(sum("c_st").as("n_s"))
    val tot = ns.agg(sum("n_s").as("n_total"))
    st.join(ct, "token")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .withColumn("term",
        (col("c_st").cast("double") / col("n_s").cast("double")) *
          (log(col("c_st").cast("double")) +
            log(col("n_total").cast("double")) -
            log(col("n_s").cast("double")) -
            log(col("c_t").cast("double"))))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        round(sum(col("term")), 4).as("kl"))
      .orderBy("source")
  }

  /** F87 — PER-SOURCE LEXICAL-DIVERSITY AUDIT: type-token ratio and
    * hapax-legomenon share of the vocabulary — the cheap lexical
    * fingerprint that separates template/boilerplate mills (low TTR,
    * low hapax) from organic text (high hapax) BEFORE any model-based
    * scoring; a complement to F9's within-doc quality ratios at the
    * SOURCE grain where mixture decisions are made. `n_types` counts
    * the source's distinct tokens, `n_hapax` the types occurring
    * exactly once IN THAT SOURCE.
    *
    * `mean_doc_ttr` — the mean PER-DOCUMENT type-token ratio — rides
    * along because the source-grain stats are structurally flat on a
    * template corpus (probed at sf0.1: every source carries the same
    * 31-type vocabulary, so n_hapax ≡ 0 and source-level TTR ~2e-3
    * everywhere — which IS the audit's finding, the F82 Fisher-noise
    * precedent) while the doc-grain mean genuinely spreads
    * (0.478–0.527 across sources).
    *
    * Shape: the [[sourceKl]] one-scan (source, token) collapse for
    * the source-grain stats plus one narrow per-doc pass (array
    * functions, no explode) for the doc-grain mean, joined on the
    * |sources|-bounded frame. Counts exact int64; ratios are single
    * unrounded IEEE divisions of exact ints (element-wise, SURVEY
    * §6); the doc-TTR mean is an aggregate double → round(4).
    * Zero-token docs drop from the doc-grain mean; a fully
    * token-less source reports NULL ratios via the guards. */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val srcGrain = docs
      .select(col("source"), explode(expr(tokens)).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c_st"))
      .groupBy("source")
      .agg(sum(col("c_st")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c_st") === 1L, 1L).otherwise(0L)).as("n_hapax"))
    val docGrain = docs
      .select(col("source"),
        expr(s"size(array_distinct($tokens))").as("ty"),
        expr(s"size($tokens)").as("tk"))
      .filter(col("tk") > 0)
      .groupBy("source")
      .agg(round(avg(col("ty").cast("double") / col("tk").cast("double")),
        4).as("mean_doc_ttr"))
    srcGrain.join(docGrain, Seq("source"), "left")
      .withColumn("type_token_ratio",
        when(col("n_tokens") > 0,
          col("n_types").cast("double") / col("n_tokens").cast("double")))
      .withColumn("hapax_share",
        when(col("n_types") > 0,
          col("n_hapax").cast("double") / col("n_types").cast("double")))
      .select("source", "n_tokens", "n_types", "n_hapax",
        "type_token_ratio", "hapax_share", "mean_doc_ttr")
      .orderBy("source")
  }

  /** F29 — RAG/context-window CHUNKING: split each document's token
    * stream into fixed windows of `chunkTokens` whitespace tokens,
    * consecutive chunks sharing `overlap` tokens (the retrieval-index
    * and context-assembly prep step; F20 packs documents INTO windows,
    * this splits documents ACROSS them). Chunk c covers tokens
    * [c·stride+1, c·stride+chunkTokens] (stride = chunkTokens −
    * overlap); every start offset < n_tokens yields a chunk, so the
    * tail chunk may be short (`n_chunk_tokens` < chunkTokens) and
    * every token is covered by ≥ 1 chunk. Zero-token documents emit
    * no chunks. Purely narrow per-document arithmetic — the generator
    * explode carries no shuffle; at 100 TB the chunk table inherits
    * the scan's partitioning. `chunk_fp` is the native
    * [[graft.functions.PolyHash]] fingerprint of the chunk text (the
    * join key a retrieval index would store). */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 32,
                     overlap: Int = 8): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap")
    val stride = chunkTokens - overlap
    docs.select(col("doc_id"), expr(tokens).as("tk"))
      .withColumn("n_tokens", size(col("tk")))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(expr(
          s"transform(sequence(0, (n_tokens - 1) div $stride), " +
            s"c -> array_join(slice(tk, c * $stride + 1, $chunkTokens), ' '))"))
          .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_chunk_tokens",
        least(lit(chunkTokens), col("n_tokens") - col("chunk_idx") * stride))
      .withColumn("chunk_fp", expr("graft_polyhash(chunk_text)"))
      .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text",
        "chunk_fp")
      .orderBy("doc_id", "chunk_idx")
  }

  /** F52 — TRAINING-MIX AUDIT: target mixture weights vs the actual
    * token shares — the standing monitor a curated corpus runs after
    * every ingest (F37 SAMPLES toward a mix; this MEASURES how far
    * the current corpus sits from it, and by how much each source
    * must be up/down-sampled to land on target). Actual share in
    * exact basis points — `(tokens_src · 10⁴) div tokens_total` —
    * so the deviation `actual_bp − target_bp` is pure int64;
    * `scale_to_target` (the resampling multiplier) is ONE IEEE
    * division of exact ints, unrounded, NULL for a source with no
    * tokens. Sources missing from the target map audit against 0
    * (they should not be in the mix). One token-count aggregate per
    * source + a 1-row total — the F18 shape; the target map rides a
    * broadcast. */
  def mixtureAudit(docs: DataFrame,
                   targetBp: Seq[(String, Long)]): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val targets = targetBp.toDF("source", "target_bp")
    val perSource = docs
      .select(col("source"), expr(s"size($tokens)").cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    val total = perSource.agg(sum("n_tokens").as("tokens_total"))
    perSource
      .join(broadcast(targets), Seq("source"), "left")
      .crossJoin(broadcast(total))
      .withColumn("target_bp", coalesce(col("target_bp"), lit(0L)))
      .withColumn("actual_bp",
        expr("(n_tokens * 10000) DIV tokens_total"))
      .withColumn("deviation_bp", col("actual_bp") - col("target_bp"))
      .withColumn("scale_to_target",
        when(col("n_tokens") > 0,
          col("target_bp").cast("double") * col("tokens_total").cast("double")
            / (lit(10000.0) * col("n_tokens").cast("double"))))
      .select("source", "n_docs", "n_tokens", "actual_bp", "target_bp",
        "deviation_bp", "scale_to_target")
      .orderBy("source")
  }

  /** F53 — TOKENIZER FERTILITY per (lang, source): tokens produced per
    * character of raw text — the number that sizes a training mix in
    * TOKENS when the inventory is in BYTES (a high-fertility slice
    * eats budget faster; fertility drift across sources flags
    * tokenizer mismatch with the corpus). Both tokenizations are
    * counted in one narrow pass: whitespace tokens (PortableText) and
    * the BPE-ish regex of F10 (letter runs / digit runs / single
    * punctuation). Fertility is exact int64 basis points —
    * `(tokens·10⁴) div chars` (F52's quantization; Spark `DIV` ≡
    * DuckDB `//` on non-negatives) — and `chars_per_token` is ONE
    * IEEE division of exact ints, unrounded, NULL when a group has no
    * tokens. One (lang, source)-keyed aggregate with map-side
    * partials; group count is vocabulary-of-sources sized. */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        expr(s"size($tokens)").cast("long").as("n_ws"),
        expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')")
          .cast("long").as("n_bpe"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("chars_total"),
        sum("n_ws").as("ws_tokens_total"),
        sum("n_bpe").as("bpe_tokens_total"))
      .withColumn("ws_fertility_bp",
        when(col("chars_total") > 0,
          expr("(ws_tokens_total * 10000) DIV chars_total")))
      .withColumn("bpe_fertility_bp",
        when(col("chars_total") > 0,
          expr("(bpe_tokens_total * 10000) DIV chars_total")))
      .withColumn("chars_per_bpe_token",
        when(col("bpe_tokens_total") > 0,
          col("chars_total").cast("double")
            / col("bpe_tokens_total").cast("double")))
      .orderBy("lang", "source")

  /** F55 — QUALITY-THRESHOLD SENSITIVITY SWEEP per source: how many
    * docs and tokens survive each candidate min-token cut — the
    * artifact that turns "pick a filter threshold" from a guess into
    * a read (a cliff between two candidate cuts means the threshold
    * sits inside a real mode of the length distribution; F16's filter
    * then runs with the chosen value). One narrow token-count pass;
    * thresholds ride a |thresholds|-factor explode (a handful,
    * documented — the D35 scale-sweep pattern) into ONE
    * (source, threshold) aggregate with map-side partials.
    * `kept_share_bp` is exact int64 basis points (F52's quantization
    * — survivors·10⁴ div total docs of the source). */
  def thresholdSweep(docs: DataFrame, thresholds: Seq[Long]): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val tDf = broadcast(thresholds.toDF("min_tokens"))
    docs
      .select(col("source"), expr(s"size($tokens)").cast("long").as("n"))
      .crossJoin(tDf)
      .groupBy("source", "min_tokens")
      .agg(
        count(lit(1)).as("n_docs_total"),
        sum(when(col("n") >= col("min_tokens"), 1L).otherwise(0L))
          .as("n_docs_kept"),
        sum(when(col("n") >= col("min_tokens"), col("n")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("kept_share_bp",
        expr("(n_docs_kept * 10000) DIV n_docs_total"))
      .orderBy("source", "min_tokens")
  }

  /** The F67 bucket-assignment CASE ladder over a (pre-capped) token
    * count column — ONE spelling shared by the Spark operator and the
    * DuckDB oracle (both engines run this generated SQL verbatim), so
    * the bucket boundaries cannot drift. Widths must be ascending;
    * the final ELSE is the largest width (unreachable once the count
    * is capped to it, but total). */
  def widthLadderSql(colName: String, widths: Seq[Int]): String = {
    require(widths.nonEmpty && widths == widths.sorted && widths.distinct == widths,
      s"widths must be ascending and distinct: $widths")
    widths.init.map(w => s"WHEN $colName <= $w THEN $w")
      .mkString("CASE ", " ", s" ELSE ${widths.last} END")
  }

  /** F67 — LENGTH-BUCKET PACKING AUDIT: the batch-shape decision every
    * training pipeline makes before F20 packs anything — bucket docs
    * by (truncated) token length into power-of-two-ish context
    * widths, and measure the padding each bucket pays vs padding
    * EVERYTHING to the max context (the naive collator). Output per
    * bucket: doc count, real tokens, pad slots, waste share, plus the
    * same two under pad-to-max — the bucketing-vs-flat saving the
    * audit exists to quantify.
    *
    * All arithmetic exact int64 (token counts capped at maxLen =
    * the last width, Σ over buckets, width·n_docs slot totals); the
    * two waste shares are single IEEE divisions of exact ints,
    * UNROUNDED (D21's rule). One aggregate over the bucket key —
    * |widths| output rows; the ladder is a generated CASE both
    * engines run verbatim ([[widthLadderSql]]). */
  def lengthBucketAudit(docs: DataFrame, widths: Seq[Int]): DataFrame = {
    val maxLen = widths.last
    docs
      .select(least(expr(s"size($tokens)"), lit(maxLen)).cast("long").as("t"))
      .withColumn("bucket_len", expr(widthLadderSql("t", widths)))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"))
      .withColumn("pad_slots",
        col("bucket_len").cast("long") * col("n_docs") - col("sum_tokens"))
      .withColumn("waste_share",
        col("pad_slots").cast("double") /
          (col("bucket_len").cast("long") * col("n_docs")).cast("double"))
      .withColumn("flat_pad_slots",
        lit(maxLen.toLong) * col("n_docs") - col("sum_tokens"))
      .withColumn("flat_waste_share",
        col("flat_pad_slots").cast("double") /
          (lit(maxLen.toLong) * col("n_docs")).cast("double"))
      .orderBy("bucket_len")
  }

  /** F81 — CURATION ATTRIBUTION MATRIX: the 2×2 joint verdict of the
    * two independent drop gates — quality (F15) × near-dup (F2c) —
    * per source: clean / quality-only / dup-only / both counts and
    * the clean share. This is the Sankey every curation run prints:
    * `q_corpus_select` keeps the INTERSECTION silently; this says
    * WHO dropped each doc and whether the gates overlap (a feed
    * whose drops are all `both` is templated junk; all
    * `quality-only` is a prompt to re-tune thresholds, not dedup).
    * Pure composition — both verdict frames are the registry-proven
    * operators, joined on the doc key and collapsed to |sources|
    * rows; counts exact int64, share ONE IEEE division. */
  def curationAttribution(docs: DataFrame): DataFrame = {
    val q = qualityFilter(docs).select(col("doc_id"), col("keep"))
    val dup = graft.operators.TextDedup.greedyNearDup(docs)
      .select(col("doc_id"), col("is_duplicate"))
    docs.select("doc_id", "source")
      .join(q, "doc_id")
      .join(dup, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("keep") && !col("is_duplicate"), lit(1)))
          .as("n_clean"),
        count(when(!col("keep") && !col("is_duplicate"), lit(1)))
          .as("n_quality_only"),
        count(when(col("keep") && col("is_duplicate"), lit(1)))
          .as("n_dup_only"),
        count(when(!col("keep") && col("is_duplicate"), lit(1)))
          .as("n_both"))
      .withColumn("clean_share",
        col("n_clean").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  /** F83 — CLASSIFIER-vs-RULES CALIBRATION AUDIT: F73's learned
    * margins binned, each bin scored against F15's hand-written
    * verdicts — "does the model agree with the rules where it is
    * confident, and where do they part" (the margin-bin agreement
    * curve an MLOps review reads before swapping a rule filter for a
    * learned one; F81 attributes DROPS, this calibrates the SCORER).
    * Bin boundaries align with zero (margin div binWidth, clamped to
    * ±maxBin) so the classifier's own verdict is constant within
    * every bin — `agree_share` then reads directly as per-bin
    * precision against the rules.
    *
    * Shape: two registry-proven verdict frames joined on the doc key,
    * collapsed to ≤ 2·maxBin+1 rows. Binning is FLOOR division
    * spelled as floor(margin/width) on the double — signed integer
    * `div` is off the table (Spark truncates, DuckDB floors —
    * opposite on negative margins, the D50 rule) while the double
    * floor is one identical IEEE op sequence and keeps bin −1 as
    * "all negative margins up to −1", zero-aligned; counts exact
    * int64, shares ONE IEEE division each. */
  def classifierCalibration(docs: DataFrame, binWidth: Int = 40,
                            maxBin: Int = 3): DataFrame = {
    require(binWidth >= 1 && maxBin >= 1,
      s"binWidth/maxBin must be >= 1: $binWidth/$maxBin")
    val clf = classifierScore(docs).select(col("doc_id"),
      col("margin"), col("label"))
    val rules = qualityFilter(docs).select(col("doc_id"), col("keep"))
    clf.join(rules, "doc_id")
      .withColumn("bin",
        greatest(least(
          expr(s"CAST(floor(CAST(margin AS DOUBLE) / $binWidth.0) " +
            "AS BIGINT)"),
          lit(maxBin.toLong)), lit(-maxBin.toLong)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("label"), lit(1))).as("n_clf_keep"),
        count(when(col("keep"), lit(1))).as("n_rule_keep"),
        count(when(col("label") === col("keep"), lit(1))).as("n_agree"))
      .withColumn("rule_keep_share",
        col("n_rule_keep").cast("double") / col("n_docs").cast("double"))
      .withColumn("agree_share",
        col("n_agree").cast("double") / col("n_docs").cast("double"))
      .orderBy("bin")
  }

  /** F105 — DECONTAMINATION n-SWEEP: the corpus-level calibration
    * curve behind F17/F43's fixed-n choice — for each gram width n,
    * how many held-out docs flag as contaminated and how much of
    * their gram mass overlaps training. At n=2 nearly everything
    * flags (common bigrams are language, not leakage); at n=7 only
    * real leaks survive — the sweep is the table a pipeline reads
    * ONCE to pick its production n, exactly like F55 picks the dedup
    * threshold. One row per n: held-out count, flagged count/share,
    * and the mean per-doc overlap fraction.
    *
    * Engine-exactness: each per-doc fraction is one IEEE division of
    * exact int64 counts, QUANTIZED to ppm (floor(x·1e6 + 0.5) —
    * positive) so the cross-doc mean is an exact integer sum divided
    * once; flag share one division, round(4). Gram-less held-out
    * docs count in `n_heldout` but not in the mean.
    *
    * Shape: per n, the F17 discipline verbatim (explode → per-side
    * DISTINCT with map-side partials → gram-keyed join, never
    * doc×doc) collapsed to ONE summary row; the sweep unions a few
    * branches. A calibration run re-scans the corpus per n — at
    * 100 TB this sweep runs on a sample (as every calibration
    * does); production then runs F17 at the chosen n. */
  def decontaminationSweep(docs: DataFrame,
                           ns: Seq[Int] = Seq(2, 3, 5, 7),
                           holdoutMod: Int = 50): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), s"need gram widths >= 2: $ns")
    // the gram explode feeds BOTH the train-distinct and the test
    // side — checkpoint it so the tokenize+wordgrams scan runs
    // once per width, not twice (the bm25 tf-barrier discipline;
    // the runner's CkptGc sweep reclaims it per query). The per-width
    // checkpoints are independent single-scan jobs: materialize them
    // CONCURRENTLY from a scoped thread pool (each eager checkpoint
    // was a serial ~150-200 ms job — 4 widths paid the chain
    // back-to-back; content is per-width identical either way).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ns.size)
    val gramsByN =
      try ns.map { n =>
        n -> pool.submit(new java.util.concurrent.Callable[DataFrame] {
          override def call(): DataFrame =
            docs.select(col("doc_id"), explode(gramsCol(n)).as("gram"))
              .localCheckpoint(true)
        })
      }.map { case (n, f) => n -> f.get() }.toMap
      finally pool.shutdown()
    val perN = ns.map { n =>
      val grams = gramsByN(n)
      val trainGrams = grams
        .filter(pmod(col("doc_id"), lit(holdoutMod)) =!= 0)
        .select("gram").distinct().withColumn("hit", lit(1))
      val testGrams = grams
        .filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
        .distinct()
      val per = testGrams.join(trainGrams, Seq("gram"), "left")
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
          count(col("hit")).as("n_overlap"))
      docs.filter(pmod(col("doc_id"), lit(holdoutMod)) === 0)
        .select("doc_id")
        .join(per, Seq("doc_id"), "left")
        .select(coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .agg(count(lit(1)).as("n_heldout"),
          count(when(col("n_overlap") > 0, lit(1))).as("n_flagged"),
          sum(when(col("n_grams") > 0, expr(
            """CAST(floor(CAST(n_overlap AS DOUBLE)
              |  / CAST(n_grams AS DOUBLE) * 1000000.0 + 0.5)
              |  AS BIGINT)""".stripMargin))).as("frac_ppm_sum"),
          count(when(col("n_grams") > 0, lit(1))).as("n_scored"))
        .select(lit(n.toLong).as("n"), col("n_heldout"),
          col("n_flagged"),
          round(col("n_flagged").cast("double")
            / col("n_heldout").cast("double"), 4).as("flag_share"),
          when(col("n_scored") > 0,
            round(col("frac_ppm_sum").cast("double")
              / col("n_scored").cast("double") / 1000000.0, 4))
            .as("mean_frac"))
    }
    perN.reduce(_.unionAll(_)).orderBy("n")
  }

  /** F104 — MIXTURE TEMPERATURE CURVE: the source-sampling weights a
    * temperature-scaled mixture assigns at T ∈ {¼, ½, ¾, 1} —
    * weight_T(s) ∝ tokens(s)^T, THE knob every pre-training data
    * recipe tunes (T = 1 is natural sampling, T → 0 uniform; the
    * 0.7-ish production values sit between the ¾ and ½ rows). F37
    * samples AT one fixed weight vector; this emits the whole curve
    * so the recipe choice is a table lookup.
    *
    * Engine-exactness without pow(): n^T for quarter temperatures is
    * a SQRT LADDER — n^¼ = √√n, n^½ = √n, n^¾ = √n·√√n — and IEEE
    * sqrt is CORRECTLY ROUNDED (unlike libm pow/exp/ln), so both
    * engines compute bit-identical scores from the exact int64 token
    * counts. The cross-source normalizer would still be an
    * order-sensitive double sum, so each score is first scaled by
    * its temperature's MAX score (one deterministic division — max
    * is exact) and the ratio ≤ 1 QUANTIZED to int64 parts-per-1e12
    * (floor(r·1e12 + 0.5) — positive, and OVERFLOW-FREE at any
    * corpus size, where quantizing the raw score would exceed int64
    * past ~9e12 tokens/source); the normalizer is then an exact
    * integer sum and the emitted weight one division of exact ints,
    * round(6).
    *
    * Shape: ONE token-count aggregate (|sources| rows), a 4-row
    * temperature cross, a per-T window sum over the tiny frame —
    * nothing corpus-sized past the first aggregate. */
  def mixtureTemperatureCurve(docs: DataFrame): DataFrame = {
    import graft.functions.PortableText.tokens
    val counts = docs
      .select(col("source"), expr(s"size($tokens)").cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
    val temps = docs.sparkSession.range(1, 5)
      .select(col("id").as("t_quarters"))
    val scored = counts.crossJoin(broadcast(temps))
      .withColumn("s", expr(
        """CASE t_quarters
          |  WHEN 1 THEN sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
          |  WHEN 2 THEN sqrt(CAST(n_tokens AS DOUBLE))
          |  WHEN 3 THEN sqrt(CAST(n_tokens AS DOUBLE))
          |    * sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
          |  ELSE CAST(n_tokens AS DOUBLE)
          |END""".stripMargin))
    val w = Window.partitionBy("t_quarters")
    scored
      .withColumn("ms", max("s").over(w))
      .withColumn("sq", expr(
        "CAST(floor(s / ms * 1000000000000.0 + 0.5) AS BIGINT)"))
      .withColumn("tot", sum("sq").over(w))
      .select(col("t_quarters"), col("source"), col("n_tokens"),
        round(col("sq").cast("double") / col("tot").cast("double"), 6)
          .as("weight"))
      .orderBy("t_quarters", "source")
  }

  /** F103 — CLASSIFIER RANKING AUDIT (exact tie-aware AUC): how well
    * the F73 hashed-linear margin RANKS the F15 rule verdicts, per
    * source — the Mann-Whitney AUC every quality-classifier rollout
    * is judged by before its threshold is even chosen (F83 audits
    * calibration AT a threshold; this audits the ranking underneath
    * all thresholds). AUC = (#concordant + ½·#tied) / (pos·neg) over
    * all (rule-keep, rule-drop) pairs, computed EXACTLY from integer
    * margins — never a sampled or binned estimate:
    *
    * Shape (the O(n log n) pair-counting identity, not the O(n²)
    * pair join): one collapse to distinct (source, margin) cells
    * with pos/neg counts, one cumulative window over the ≤ |margin
    * range| cells per source, one aggregate — concordant pairs =
    * Σ pos_m · neg_below(m), ties = Σ pos_m · neg_m, all exact
    * int64. The windowed frame is margin-cardinality-sized (the
    * ±10-weight margins span a few hundred values), NEVER
    * corpus-sized — at 100 TB the only corpus-scale work is the two
    * scoring scans F73/F15 already do. AUC emits as the single
    * division of exact ints, round(4); degenerate sources (no
    * positives or no negatives) carry NULL. */
  def classifierAuc(docs: DataFrame): DataFrame = {
    val clf = classifierScore(docs).select(col("doc_id"), col("margin"))
    val rules = qualityFilter(docs).select(col("doc_id"), col("keep"))
    val base = docs.select("doc_id", "source")
      .join(clf, "doc_id").join(rules, "doc_id")
    val grp = base.groupBy("source", "margin")
      .agg(count(when(col("keep"), lit(1))).as("np"),
        count(when(!col("keep"), lit(1))).as("nn"))
    val w = Window.partitionBy("source").orderBy("margin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grp.withColumn("nn_below",
      coalesce(sum("nn").over(w), lit(0L)))
    cum.groupBy("source")
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(expr("np * nn_below")).as("n_conc"),
        sum(expr("np * nn")).as("n_tied"))
      .withColumn("auc", when(col("n_pos") > 0 && col("n_neg") > 0,
        round(expr("CAST(2 * n_conc + n_tied AS DOUBLE) " +
          "/ CAST(2 * n_pos * n_neg AS DOUBLE)"), 4)))
      .orderBy("source")
  }

  /** F80 — CORPUS SNAPSHOT DELTA: release-over-release diff of two
    * corpus versions by CONTENT fingerprint — per source, how many
    * docs were added, removed, changed (same id, different content)
    * or untouched, plus the churn share. The A12 snapshot-diff idea
    * applied to the CORPUS artifact: every training-data release
    * ships next to exactly this report ("what moved since v1"), and
    * its churn number is what decides whether downstream dedup /
    * decontamination must re-run. Comparison is by the whole-doc
    * polynomial fingerprint (F11's docFingerprint — the content
    * hash a release manifest carries), never by text shipping: at
    * 100 TB the join moves 16 bytes a doc, not documents.
    *
    * Shape: both sides collapse to (doc_id, source, fp) scans; ONE
    * full outer join on doc_id (the id key is the join, content only
    * decides changed-vs-unchanged); one source aggregate. Counts
    * exact int64; churn ONE IEEE division. A doc present in both
    * snapshots under different sources counts to the NEW side's
    * source (the release owns its docs). */
  def corpusDelta(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def fp(df: DataFrame, suffix: String) = df.select(
      col("doc_id"),
      col("source").as(s"source_$suffix"),
      expr(PortableText.docFingerprint).as(s"fp_$suffix"))
    val joined = fp(oldDocs, "old")
      .join(fp(newDocs, "new"), Seq("doc_id"), "full_outer")
      .withColumn("source",
        coalesce(col("source_new"), col("source_old")))
      .withColumn("cls",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")))
    joined.groupBy("source")
      .agg(
        count(when(col("cls") === "added", lit(1))).as("n_added"),
        count(when(col("cls") === "removed", lit(1))).as("n_removed"),
        count(when(col("cls") === "changed", lit(1))).as("n_changed"),
        count(when(col("cls") === "unchanged", lit(1))).as("n_unchanged"),
        count(lit(1)).as("n_tracked"))
      .withColumn("churn",
        (col("n_added") + col("n_removed") + col("n_changed"))
          .cast("double") / col("n_tracked").cast("double"))
      .orderBy("source")
  }

  /** F77 — HASHED-TF DOCUMENT VECTORS: the text→vector BRIDGE — each
    * doc becomes a dense `dim`-bucket term-frequency vector by
    * feature hashing (the F73 trick lifted from a scalar margin to a
    * vector), which is what lets every embedding-side operator
    * (F5–F7b ANN, F24 clustering, F49 drift) run on a corpus that
    * shipped with NO embedding column. Counts are EXACT int64 per
    * bucket, so the vector itself is engine-reproducible — the
    * property no float encoder output has.
    *
    * Shape: explode + one (doc, bucket) count aggregate + one per-doc
    * collect into the dense array via a map lookup over the bucket
    * range (order-independent — collect_list order never matters);
    * token-less docs keep the zero vector via the left join. */
  def hashedTfVectors(docs: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim must be >= 1: $dim")
    val bk = docs.select(col("doc_id"), explode(expr(tokens)).as("tok"))
      .withColumn("b", expr(s"graft_polyhash(tok) % $dim"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val vecs = bk.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("c"))))
        .as("m"))
      .withColumn("vec", expr(s"transform(sequence(0, ${dim - 1}), " +
        "j -> coalesce(element_at(m, CAST(j AS BIGINT)), 0L))"))
      .select("doc_id", "vec")
    docs.select("doc_id")
      .join(vecs, Seq("doc_id"), "left")
      .withColumn("vec",
        coalesce(col("vec"), expr(s"array_repeat(0L, $dim)")))
  }

  /** F77's driver-checkable profile: the vector surface reduced to
    * per-doc scalars (total count, support, a position-weighted
    * checksum Σ(j+1)·cⱼ², and the L2 norm as √ of an exact-int sum) —
    * the oracle compare carries no array columns (no list-hash
    * precedent in the gate), so the registry verifies the bridge
    * through these exact reductions while [[hashedTfVectors]] serves
    * the composable vector (ScalaTest proves the ANN composition). */
  def textEmbedProfile(docs: DataFrame, dim: Int = 64): DataFrame =
    hashedTfVectors(docs, dim)
      .withColumn("n_tokens", expr("aggregate(vec, 0L, (a, x) -> a + x)"))
      .withColumn("nnz", expr("size(filter(vec, x -> x > 0))").cast("long"))
      .withColumn("vec_checksum",
        expr(s"aggregate(zip_with(vec, sequence(1, $dim), " +
          "(c, j) -> j * c * c), 0L, (a, x) -> a + x)"))
      .withColumn("nrm",
        sqrt(expr("aggregate(vec, 0L, (a, x) -> a + x * x)")
          .cast("double")))
      .select("doc_id", "n_tokens", "nnz", "vec_checksum", "nrm")
      .orderBy("doc_id")

  /** F76b — the reference-CDF side of the KS family: the corpus'
    * token-length CDF on a CLAMPED bin grid (0..maxLen, overflow in
    * the top bin) as a driver array — bounded by construction, the
    * artifact a monitoring deployment trains offline and broadcasts
    * to G28's live scorer. */
  def lengthCdf(docs: DataFrame, maxLen: Int): Array[Double] = {
    require(maxLen >= 1, s"maxLen must be >= 1: $maxLen")
    val hist = docs
      .select(least(expr(s"size($tokens)"), lit(maxLen)).as("len"))
      .groupBy("len").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = hist.values.sum.toDouble
    val cdf = new Array[Double](maxLen + 1)
    var cum = 0L
    for (i <- 0 to maxLen) {
      cum += hist.getOrElse(i, 0L)
      cdf(i) = cum.toDouble / total
    }
    cdf
  }

  /** KS of each source's length distribution against a FIXED
    * reference CDF ([[lengthCdf]]) — the batch twin of G28's live
    * monitor and the cross-RELEASE complement of F76 (which scores
    * one source against the rest of the SAME corpus). The sup walks
    * the bounded bin grid ascending; ties resolve to the lowest bin
    * (the G28 walk's strict-greater rule — one spelling, parity
    * spec'd). */
  def ksAgainstReference(docs: DataFrame, refCdf: Array[Double],
                         maxLen: Int): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val perSrc = docs
      .select(col("source"),
        least(expr(s"size($tokens)"), lit(maxLen)).as("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("c"))
      .collect().groupBy(_.getString(0))
    perSrc.toSeq.map { case (src, rows) =>
      val hist = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
      val total = hist.values.sum
      var cum = 0L; var ks = 0.0; var at = 0
      for (i <- 0 to maxLen) {
        cum += hist.getOrElse(i, 0L)
        val diff = math.abs(cum.toDouble / total - refCdf(i))
        if (diff > ks) { ks = diff; at = i }
      }
      (src, total, math.rint(ks * 1e4) / 1e4, at)
    }.sortBy(_._1)
      .toDF("source", "n_docs", "ks_stat", "ks_at_len")
  }

  /** F76 — KOLMOGOROV–SMIRNOV DRIFT TEST, one source vs the rest of
    * the corpus, on the document token-length distribution: the
    * two-sample KS statistic sup_x |F_s(x) − F_rest(x)| evaluated on
    * EXACT empirical CDFs — the distribution-shift alarm a corpus
    * monitor raises when a feed's docs quietly get shorter (F44's L1
    * histogram drift is bucket-width-sensitive and pairwise; KS is
    * the classical binning-free test, scored one-vs-rest so the
    * alarm names the drifting FEED, with the max location reported
    * as the diagnostic).
    *
    * Shape: the corpus collapses in ONE (source, len) count aggregate
    * (map-side partials); the CDF grid is |sources| × |distinct
    * lens| — bounded by construction, built by a broadcast cross
    * join; cumulatives are per-source windows on that grid; the
    * argmax is a per-source rank on the same bounded frame. Nothing
    * downstream of the first aggregate touches data-scale rows.
    *
    * Determinism: counts and cumulative counts exact int64; each CDF
    * value ONE IEEE division of exact ints; the sup and its location
    * are picked by (|diff| desc, len asc) — both engines rank
    * identical doubles, ties break on the exact int len. The stat is
    * unrounded (derived, not an aggregate-double); a single-source
    * corpus has no rest side and reports NULL. */
  def ksDrift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySL = docs
      .select(col("source"), expr(s"size($tokens)").cast("long").as("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("c_sl"))
      .localCheckpoint(true)
    val byL = bySL.groupBy("len").agg(sum("c_sl").as("c_l"))
    val nS = bySL.groupBy("source").agg(sum("c_sl").as("n_s"))
    val nAll = bySL.agg(sum("c_sl").as("n_all"))
    val grid = nS.crossJoin(broadcast(byL)).crossJoin(broadcast(nAll))
      .join(bySL, Seq("source", "len"), "left")
      .withColumn("c_sl", coalesce(col("c_sl"), lit(0L)))
    val w = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = grid
      .withColumn("cum_s", sum(col("c_sl")).over(w))
      .withColumn("cum_all", sum(col("c_l")).over(w))
      .withColumn("absdiff",
        when(col("n_all") - col("n_s") > 0,
          abs(col("cum_s").cast("double") / col("n_s").cast("double") -
            (col("cum_all") - col("cum_s")).cast("double") /
              (col("n_all") - col("n_s")).cast("double"))))
    cdf
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("absdiff").desc_nulls_last, col("len").asc)))
      .filter(col("rnk") === 1)
      .select(col("source"), col("n_s").as("n_docs"),
        (col("n_all") - col("n_s")).as("n_rest"),
        col("absdiff").as("ks_stat"), col("len").as("ks_at_len"))
      .orderBy("source")
  }

  /** F75 — TOKEN-BUDGET WATERFILL across sources: allocate a token
    * budget (`budgetPct`% of the corpus) fairly — every source is
    * funded up to the common WATER LEVEL λ with Σ min(availᵢ, λ) =
    * budget, so small sources keep everything and the oversized ones
    * absorb the whole cut (max-min fairness, the allocation rule
    * congestion control and mixture planning share). F18 caps at a
    * FIXED per-source ceiling a human picked; this SOLVES for the
    * ceiling the budget implies — the "what cap does a 500 B-token
    * target actually mean" planning artifact that precedes every F37
    * mixture run.
    *
    * Algorithm, closed-form on the |sources|-row frame: rank sources
    * by avail asc; the level's band is the FIRST rank j where the
    * remaining budget fits under that source's avail —
    * `B − prefix_below ≤ availⱼ · (n − j + 1)` (exact-int
    * cross-multiplication) — and λ = (B − prefix_below) div remaining
    * (both non-negative at the picked band by the band-failure
    * invariant, so Spark-truncate == DuckDB-floor). Fully-funded
    * sources below the band are unaffected by the floor because
    * λ ≥ avail_{j−1} there (sorted order). If the budget exceeds the
    * corpus (pct > 100), no band qualifies: λ is NULL, everyone is
    * fully funded, the slack column carries the surplus.
    *
    * Scale shape: the corpus collapses in ONE source aggregate
    * (map-side partials); ranking, prefix sums, the band pick and the
    * slack total all run on the |sources|-row frame — the global
    * windows are bounded-by-construction (§ WindowExec note). All
    * token counts, prefixes, the level and the slack are exact int64;
    * floor remainder (< n_src tokens) is REPORTED as slack, never
    * silently re-spread. */
  def waterfillAllocation(docs: DataFrame, budgetPct: Int): DataFrame = {
    require(budgetPct >= 0, s"budgetPct must be >= 0: $budgetPct")
    import org.apache.spark.sql.expressions.Window
    val avail = docs.groupBy("source")
      .agg(sum(expr(s"size($tokens)").cast("bigint")).as("avail_tokens"))
    val tot = avail.agg(count(lit(1)).as("n_src"),
      sum("avail_tokens").as("total_avail"))
    // global window BOUNDED by construction: the frame is the SOURCE
    // roster (|sources| rows), never documents (the r12
    // WindowExec-warning audit pin)
    val w = Window.orderBy(col("avail_tokens").asc, col("source").asc)
    val ranked = avail.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"(total_avail * $budgetPct) div 100L"))
      .withColumn("j", row_number().over(w).cast("long"))
      .withColumn("pb", coalesce(sum(col("avail_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("rem", col("n_src") - col("j") + 1L)
      .localCheckpoint(true)
    val level = ranked
      .filter(col("budget") - col("pb") <= col("avail_tokens") * col("rem"))
      .orderBy("j").limit(1)
      .select(expr("(budget - pb) div rem").as("water_level"),
        lit(1).as("_one"))
    val alloc = ranked.withColumn("_one", lit(1))
      .join(broadcast(level), Seq("_one"), "left")
      .withColumn("alloc_tokens",
        when(col("water_level").isNotNull,
          least(col("avail_tokens"), col("water_level")))
          .otherwise(col("avail_tokens")))
    alloc
      .withColumn("budget_slack",
        col("budget") - sum(col("alloc_tokens"))
          .over(Window.partitionBy(lit(1)))) // |sources|-bounded frame
      .select(col("source"), col("avail_tokens"), col("alloc_tokens"),
        (col("alloc_tokens") === col("avail_tokens")).as("fully_funded"),
        col("water_level"), col("budget"), col("budget_slack"))
      .orderBy("source")
  }

  /** F73 — HASHED-FEATURE LINEAR CLASSIFIER INFERENCE: the fastText /
    * DCLM-style quality-classifier scoring pass every production
    * corpus filter runs — tokens hash into `nBuckets` feature buckets
    * (feature hashing, Weinberger et al. 2009), each bucket carries a
    * weight from a BROADCAST weight table, a document's margin is the
    * sum of its token-weights and the sign is the keep/cull verdict.
    * F15's quality filter is hand-written rules; this is the LEARNED-
    * filter deployment shape (weights are an input artifact — stood
    * in here by a deterministic integer formula of the bucket id, the
    * same stand-in discipline as F46's importance weights).
    *
    * Scale shape: tokenize+hash is narrow per-doc work (native
    * codegen'd [[graft.functions.PolyHash]]); the weight table is
    * nBuckets rows — BROADCAST, never shuffled; the only exchange is
    * the doc-key aggregate with map-side partial sums. At 100 TB this
    * is one scan + one aggregate, the same plan a trained-weights
    * deployment would run.
    *
    * Determinism: INTEGER weights ([-10, 10], exact in both engines),
    * margin an exact int64 sum (order-free; the oracle CASTs its
    * HUGEINT sum back); `avg_margin` ONE IEEE division of exact ints,
    * unrounded; `label` tests the exact integer margin. Docs with no
    * tokens keep a zero margin and NULL avg_margin via the left join
    * (never dropped — a filter that silently loses empty docs
    * miscounts its own reject rate). */
  def classifierScore(docs: DataFrame, nBuckets: Int = 1024): DataFrame = {
    import graft.functions.PortableText.tokens
    val feats = docs
      .select(col("doc_id"), explode(expr(tokens)).as("tok"))
      .withColumn("bucket", expr(s"graft_polyhash(tok) % $nBuckets"))
    val weights = docs.sparkSession.range(nBuckets)
      .select(col("id").as("bucket"),
        ((col("id") * 37 + 11) % 21 - 10).as("w"))
    val agg = feats.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("margin"))
    docs.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("margin"), lit(0L)).as("margin"),
        when(col("n_tokens") > 0,
          col("margin").cast("double") / col("n_tokens").cast("double"))
          .as("avg_margin"),
        (coalesce(col("margin"), lit(0L)) >= 0).as("label"))
      .orderBy("doc_id")
  }

  /** F97 — HELD-OUT PERPLEXITY (split-honest LM evaluation): train
    * the unigram model ONLY on the F16 train split, score ONLY the
    * val split — the evaluation F35's self-scoring is not (training
    * on what you score inflates every quality gate; held-out
    * surprisal is what a perplexity FILTER's threshold is actually
    * calibrated on). Unseen tokens take Laplace α=1 mass over the
    * TRAIN vocabulary — `P(w) = (c_w + 1)/(N + V)` — the practical
    * smoothing convention (an open vocabulary makes the distribution
    * improper by the OOV mass; stated, not hidden — per-doc OOV
    * counts ride along so the consumer can see how much smoothing
    * carried each score).
    *
    * Shape: one train-split token aggregate (checkpointed — feeds
    * both the totals and the scoring join), one val-split explode
    * LEFT-joined on the token key (OOV rows keep c = 0), one per-doc
    * aggregate; split predicates are the shared F16 hash fragment
    * pushed to the scan. Engine-exactness: counts exact int64, each
    * term ONE fixed ln spelling of exact-int casts, per-doc mean
    * round(4) (float sweep); token-less val docs keep their row. */
  def heldOutPerplexity(docs: DataFrame, trainPct: Int = 80,
                        valPct: Int = 10): DataFrame = {
    import graft.functions.PortableText.tokens
    val keyed = docs.withColumn("k", splitKey(col("doc_id")))
    val trainToks = keyed.filter(col("k") < trainPct)
      .select(explode(expr(tokens)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = trainToks.agg(sum("c").as("n_total"),
      count(lit(1)).as("v"))
    val valDocs = keyed
      .filter(col("k") >= trainPct && col("k") < trainPct + valPct)
    val perDoc = valDocs
      .select(col("doc_id"), explode(expr(tokens)).as("token"))
      .join(trainToks, Seq("token"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("nll",
        -(log(col("c").cast("double") + lit(1.0)) -
          log(col("n_total").cast("double") + col("v").cast("double"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("c") === 0L, 1L).otherwise(0L)).as("n_oov"),
        round(avg(col("nll")), 4).as("avg_nll"))
    valDocs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("avg_nll"))
      .orderBy("doc_id")
  }

  /** F96 — WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–
    * Spirakis 2006) with DETERMINISTIC hash randomness: per source,
    * draw `k` docs with inclusion probability proportional to TOKEN
    * MASS — the sampler a mixture builder actually needs (uniform
    * doc sampling under-represents long documents' tokens; the F18
    * cap and F37 temperature mixing pick doc COUNTS, this picks
    * WEIGHTED members). ES reduces weighted WOR sampling to a
    * top-k: each item scores `u^(1/w)` with u ~ U(0,1] and the k
    * largest win; the engine-portable ordering is the equivalent
    * `ln(u)/w` DESC (ln is cross-engine exact per D3; libm `pow` is
    * NOT — the F74 product-chain precedent), and u derives from the
    * multiplicative doc_id hash (`(h+1)/(P+1)` ∈ (0, 1] — never
    * ln(0)), so the draw replays bit-identically on both engines
    * and on every rerun: an auditable sample, not a seedless one.
    *
    * Shape: narrow per-row scoring (no shuffle), one source-keyed
    * exchange for the top-k window (per-group heaps via the H11
    * WindowGroupLimit rewrite), zero-token docs excluded (w > 0).
    * `es_key` is element-wise double math, unrounded (§6). */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import graft.functions.PortableText.{tokens, P}
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("es_key").desc, col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        expr(s"size($tokens)").cast("long").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("u",
        (hashOrder(col("doc_id")) + lit(1L)).cast("double") /
          lit(P + 1L).cast("double"))
      .withColumn("es_key", log(col("u")) / col("weight").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("source", "rnk", "doc_id", "weight", "es_key")
      .orderBy("source", "rnk")
  }
}
