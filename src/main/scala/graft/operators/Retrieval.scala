package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableText.tokens

/** Corpus retrieval (SURVEY §2.F28) — the search half of a training-data
  * platform: given a bag-of-words query, rank documents by a
  * tf·idf-family relevance score over an inverted-index plan shape.
  *
  * The score is QUANTIZED so it is engine-exact (SURVEY §6): each
  * query term's weight is `floor(N·scale / df)` — a linear-idf variant
  * with the division snapped to an integer grid — and a document's
  * score is `Σ tf·weight`, a sum of exact integers (reduction-order
  * free, so the DuckDB oracle replays it bit-for-bit). The usual
  * `log(N/df)` damping is deliberately traded for integer exactness;
  * at scale=1000 the ranking preserves idf monotonicity (rarer term →
  * strictly larger weight for df halving) while every engine computes
  * the identical longs.
  *
  * Scale shape (the inverted-index discipline): explode tokens, then
  * filter to the query's terms BEFORE any aggregation — the tf and df
  * aggregates only ever see rows for the |q| query terms, never the
  * full vocabulary. Both aggregates get map-side partial aggregation;
  * the final top-k is `orderBy(...).limit(k)` which Spark plans as
  * TakeOrderedAndProject (per-partition heaps + one k-row merge on the
  * driver), never a global sort or single-partition window. Documents
  * with zero query-term hits never enter the ranking.
  *
  * ref: the reference exposes its gold tables to ad-hoc Trino SQL
  * (README §7.3); free-text relevance search is that interface's
  * missing text twin, mandated by the LLM-pipeline extension scope.
  */
object Retrieval {

  /** F28 — top-k documents for a whitespace-tokenized query.
    * Output: `rnk` (1-based, ties broken by doc_id), `doc_id`,
    * `n_hit_terms` (distinct query terms present), `score`. */
  def termSearch(docs: DataFrame, query: String, k: Int = 10,
                 scale: Long = 1000L): DataFrame = {
    val qTerms = query.split(' ').filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "query must contain at least one token")
    require(k > 0 && scale > 0, s"k and scale must be positive: $k, $scale")
    // Materialized once: tf feeds BOTH the df aggregate and the score
    // join, and without the barrier each consumer re-runs the corpus
    // scan + explode (the plan showed two Generate+Scan subtrees).
    // The tf frame is tiny — only docs containing a query term, ≤ |q|
    // rows per doc — so the barrier costs nothing while halving the
    // 100 TB scans. Same discipline as greedyNearDup's sketch.
    val tf = docs
      .select(col("doc_id"), explode(expr(tokens)).as("token"))
      .filter(col("token").isin(qTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(total))
      .withColumn("w", expr(s"(n_docs * $scale) div df"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(expr("tf * w")).as("score"))
    // k-row result: the rank window runs on ≤ k rows post-limit.
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("rnk", "doc_id", "n_hit_terms", "score")
      .orderBy("rnk")
  }

  /** F101 — BM25 top-k: Okapi BM25 ranking with REAL document-length
    * normalization — what separates a production lexical ranker from
    * F28's pure tf·idf (a 10k-token doc mentioning a term once should
    * not outrank a 40-token doc about it). Per (doc, term):
    *
    *   s_t = w_t · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    *
    * with w_t = F28's exact-integer idf weight `(N·scale) div df`
    * (log-free by design), dl the doc's FULL token count, avgdl the
    * corpus mean length. Engine-exactness: the per-term score is a
    * double computed through one fixed expression tree (identical in
    * the oracle — IEEE +/·// are bit-identical) then FLOORED to an
    * int64, so the per-doc sum is an exact-integer reduction with no
    * float-order hazard; `k1+1` and `1−b` are Scala-computed
    * round-trip literals (the D86 seed lesson — spelled as SQL they
    * parse DECIMAL and drift ulps).
    *
    * Scale shape: ONE corpus scan produces BOTH the per-doc length
    * and the query-term hits (dl rides the explode — no second scan,
    * no corpus-sized length join); the tf frame is checkpointed
    * (F28's barrier) and feeds df + scoring; N/avgdl is a 1-row
    * broadcast; top-k is TakeOrderedAndProject. Docs with zero hits
    * never enter the ranking. */
  def bm25Search(docs: DataFrame, query: String, k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75,
                 scale: Long = 1000L): DataFrame = {
    val qTerms = query.split(' ').filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "query must contain at least one token")
    require(qTerms.forall(_.matches("[A-Za-z0-9_]+")),
      s"query terms must match [A-Za-z0-9_]+ (they are interpolated " +
        s"into a SQL IN-list): ${qTerms.filterNot(_.matches("[A-Za-z0-9_]+"))}")
    require(k > 0 && scale > 0, s"k and scale must be positive: $k, $scale")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]: $k1, $b")
    val k1p1 = k1 + 1.0      // one spelling, round-trip literal
    val oneMinusB = 1.0 - b  // ditto
    val inList = qTerms.map(t => s"'$t'").mkString(", ")
    val tf = docs
      .select(col("doc_id"), expr(tokens).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(expr(s"filter(toks, t -> t IN ($inList))")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(expr(tokens)).cast("long")).as("sum_dl"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("s_t", expr(
        s"""CAST(floor(CAST((n_docs * $scale) div df AS DOUBLE)
          |  * (CAST(tf AS DOUBLE) * $k1p1)
          |  / (CAST(tf AS DOUBLE) + $k1 * ($oneMinusB + $b
          |    * (CAST(dl AS DOUBLE)
          |       / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
          |  ) AS BIGINT)""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"), max("dl").as("dl"),
        sum("s_t").as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("rnk", "doc_id", "n_hit_terms", "dl", "score")
      .orderBy("rnk")
  }

  /** F33 — HYBRID retrieval: lexical candidates re-ranked by embedding
    * similarity — the two-stage search every modern corpus platform
    * runs (BM25-family recall, vector precision). Stage 1 =
    * [[termSearch]]'s top-`kCand`; stage 2 joins each candidate's
    * embedding (`vec_id = doc_id` — the §3 mapping ties the two test
    * tables by id) and re-ranks by cosine against the query vector
    * (`qVec`'s embedding, one broadcast row). The candidate set is ≤
    * kCand rows, so the rerank costs ONE broadcast join + a kCand-row
    * window — the vector side never scans the corpus (that is the
    * whole point of the lexical funnel; compare F6's brute-force
    * scan). Candidates without an embedding rank last (NULL cosine —
    * both engines order DESC NULLS LAST); zero-norm embeddings are
    * NULL-guarded like F6. `cos_sim` rounds(4), `term_score` stays
    * exact-int. */
  def hybridSearch(docs: DataFrame, emb: DataFrame, query: String,
                   qVec: Long = 0L, kCand: Int = 20, k: Int = 10)
      : DataFrame = {
    require(k > 0 && kCand >= k, s"need kCand >= k > 0: $kCand, $k")
    val cands = termSearch(docs, query, kCand)
      .withColumnRenamed("rnk", "term_rnk")
      .withColumnRenamed("score", "term_score")
    val withNrm = emb.select(col("vec_id"), col("embedding"),
      sqrt(expr("graft_vecdot(embedding, embedding)")).as("nrm"))
    val qv = withNrm.filter(col("vec_id") === qVec)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val cs = when(col("embedding").isNotNull && col("nrm") * col("qn") =!= 0,
      expr("graft_vecdot(embedding, qv)") / (col("nrm") * col("qn")))
    // Broadcast the ≤ kCand candidate ids INTO the embedding scan
    // (inner BHJ builds the tiny side; the 100 TB embedding table is
    // streamed, never broadcast or shuffled), then restore
    // embedding-less candidates with a kCand×kCand left join — the
    // only left-outer in the plan joins two tiny frames.
    val candEmb = withNrm
      .join(broadcast(cands.select(col("doc_id").as("e_doc"))),
        col("vec_id") === col("e_doc"))
      .select(col("e_doc"), col("embedding"), col("nrm"))
    cands
      .join(broadcast(candEmb), col("doc_id") === col("e_doc"), "left")
      .crossJoin(broadcast(qv))
      .withColumn("cs", cs)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("cs").desc, col("doc_id"))))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("doc_id"), col("term_rnk"),
        col("term_score"), round(col("cs"), 4).as("cos_sim"))
      .orderBy("rnk")
  }

  /** F68 — RANKING-QUALITY AUDIT: NDCG@k of F28's idf-weighted
    * ranking against the raw-hit-count ideal — the eval loop every
    * retrieval stack runs before trusting its ranker (F58 is the
    * vector twin: ANN recall vs exact). Gain = Σ query-term tf (exact
    * int); the audit asks how much of the total-hit mass the idf
    * weighting's REORDERING forfeits: NDCG@k = DCG@k(ranking by
    * score) / DCG@k(ranking by gain). Single-term queries are
    * vacuously 1.0 (score is monotone in tf) — callers pass
    * multi-term queries.
    *
    * Shape: ONE corpus scan — the (query, term) map rides a broadcast
    * join that filters the exploded tokens to query terms BEFORE any
    * aggregation (F28's inverted-index discipline); tf/df/score reuse
    * F28's exact-int spelling. The two rankings are row_numbers over
    * per-QUERY windows (parallel across queries; candidates = docs
    * with ≥ 1 hit — at 100 TB you'd pre-cut by the rarest term's
    * posting list before ranking, same as F28's k-row discipline).
    * Discounts `gain·ln2/ln(r+1)` with the HARD ln2 literal; DCG/IDCG
    * aggregate ≤ k doubles → round(4); NDCG derives from the rounded
    * pair. A query with no matching docs emits no row (spec'd). */
  def rankingAudit(docs: DataFrame, queries: Seq[String], k: Int = 10,
                   scale: Long = 1000L): DataFrame = {
    require(queries.nonEmpty && k > 0 && scale > 0,
      s"need queries and k, scale > 0: $queries, $k, $scale")
    val ss = docs.sparkSession
    import ss.implicits._
    val qmap = queries.zipWithIndex.flatMap { case (q, i) =>
      q.split(' ').filter(_.nonEmpty).distinct.map(t => (i, q, t))
    }
    val qdf = broadcast(qmap.toDF("query_id", "query", "term"))
    val tf = docs
      .select(col("doc_id"), explode(expr(tokens)).as("term"))
      .join(qdf, "term")
      .groupBy("query_id", "query", "doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(total))
      .withColumn("w", expr(s"(n_docs * $scale) div df"))
      .groupBy("query_id", "query", "doc_id")
      .agg(sum(expr("tf * w")).as("score"), sum("tf").as("rel"))
    val wScore = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    val ranked = perDoc
      .withColumn("rnk_score", row_number().over(wScore))
      .withColumn("rnk_ideal", row_number().over(wIdeal))
      .localCheckpoint(true)
    def discounted(rnk: String) =
      round(sum(col("rel").cast("double") * lit(0.6931471805599453) /
        log(col(rnk).cast("double") + lit(1.0))), 4)
    val dcg = ranked.filter(col("rnk_score") <= k)
      .groupBy("query_id", "query")
      .agg(discounted("rnk_score").as("dcg"),
        count(lit(1)).as("n_ranked"))
    val idcg = ranked.filter(col("rnk_ideal") <= k)
      .groupBy("query_id")
      .agg(discounted("rnk_ideal").as("idcg"))
    val cand = ranked.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
    dcg.join(idcg, "query_id").join(cand, "query_id")
      .withColumn("ndcg",
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 4)))
      .select(col("query_id"), col("query"), col("n_cand"),
        col("n_ranked"), col("dcg"), col("idcg"), col("ndcg"))
      .orderBy("query_id")
  }
}
