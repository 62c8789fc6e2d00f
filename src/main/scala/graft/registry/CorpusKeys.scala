package graft
package registry

import org.apache.spark.sql.DataFrame
import graft.SparkEntry._
import graft.operators._
import graft.sources.Tables

/** The SURVEY §2.F registry keys, LLM-training-data ops: one `Key`
  * record per key, its Spark builder beside the DuckDB SQL its result
  * is hash-checked against. */
object CorpusKeys {

  /** Deterministic PII-bearing contact line appended to each doc's
    * text (the synthetic corpus is PII-free word soup): one email, one
    * phone, one IPv4, all pure functions of (doc_id, source). Used by
    * `q_pii_scrub` and the `q_corpus_curate` composition;
    * [[duckContactText]] is the SQL dual — one definition each side so
    * the spellings cannot drift. */
  private def withContactLine(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.withColumn("text", concat(col("text"),
      lit(" user"), col("doc_id").cast("string"),
      lit("@"), col("source"), lit(".net call 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit(".99")))
  }

  /** DuckDB dual of [[withContactLine]]'s text expression. */
  private val duckContactText: String =
    "text || ' user' || CAST(doc_id AS VARCHAR) || '@' || source || " +
      "'.net call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') " +
      "|| ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.99'"

  /** The quantized-Lloyd oracle CTE chain (dual of
    * `Vectors.kmeansAssign(k=8, iters=2, scale=32)`), ending in `a2`
    * (vec_id, cluster, score) and `qq` (vec_id, qq). Shared by
    * `q_kmeans` and `q_cluster_cap` so the iteration spelling exists
    * once. */
  private def duckKmeansCtes: String = {
    def dot(a: String, b: String): String =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(64), i -> $a[CAST(i+1 AS INT)] * " +
        s"$b[CAST(i+1 AS INT)])), (x, y) -> x + y)"
    s"""WITH q AS (SELECT vec_id,
      |    list_transform(embedding, x ->
      |      CAST(floor(CAST(x AS DOUBLE) * 32 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |qd AS (SELECT vec_id, qv,
      |    list_transform(qv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS v
      |  FROM q),
      |c0 AS (SELECT vec_id AS cid, v AS cv FROM qd WHERE vec_id < 8),
      |s1 AS (SELECT qd.vec_id, c0.cid,
      |    ${dot("cv", "cv")} - 2 * ${dot("v", "cv")} AS score
      |  FROM qd, c0),
      |a1 AS (SELECT vec_id, cid AS cluster FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
      |  FROM s1) x WHERE rn = 1),
      |dims AS (SELECT a1.cluster, unnest(range(64)) AS d, qd.qv
      |  FROM qd JOIN a1 USING (vec_id)),
      |u AS (SELECT cluster, d, sum(qv[CAST(d + 1 AS INT)]) AS s,
      |    count(*) AS cnt
      |  FROM dims GROUP BY cluster, d),
      |u2 AS (SELECT cluster,
      |    list(CAST(CAST(CAST(s AS DOUBLE) / cnt AS FLOAT) AS DOUBLE)
      |      ORDER BY d) AS cv
      |  FROM u GROUP BY cluster),
      |c1 AS (SELECT c0.cid, coalesce(u2.cv, c0.cv) AS cv
      |  FROM c0 LEFT JOIN u2 ON u2.cluster = c0.cid),
      |s2 AS (SELECT qd.vec_id, c1.cid,
      |    ${dot("cv", "cv")} - 2 * ${dot("v", "cv")} AS score
      |  FROM qd, c1),
      |a2 AS (SELECT vec_id, cid AS cluster, score
      |  FROM (SELECT vec_id, cid, score,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
      |  FROM s2) x WHERE rn = 1),
      |qq AS (SELECT vec_id, ${dot("v", "v")} AS qq FROM qd)""".stripMargin
  }
  val waterfillPct = 95         // F75 budget as % of corpus tokens
  val zipfTopK = 100            // F57 tokens in the fit
  val nbMinTok = 20             // F92 teaching-rule min token count
  val nbMinStopPct = 5          // F92 teaching-rule min stopword pct
  val incrVocabSplit = 200L     // F94 base/delta doc_id split
  val incrVocabK = 50           // F94 reported vocabulary head
  val centIters = 10            // F95 PageRank rounds
  val centDamping = 0.85        // F95 damping factor
  val wsampleK = 10             // F96 per-source sample size
  val heapsBuckets = 10         // F98 corpus prefix points
  val annFilterLabel = 3        // F89 filtered-search metadata label
  val kAnonK = 5                // F88 k-anonymity threshold
  val kAnonBucket = 256         // F88 length-generalization width —
                                // probed: 64 flags ~99% of classes
                                // (no release); 256 splits 70/294 at
                                // sf0.1 — a real decision surface
  val knDiscount = 0.75         // F66 Kneser-Ney absolute discount
  val srcSimK = 64              // F70 source-signature minhash length
  // rich-corpus sweep cuts sit in the tier-discriminating token range
  // (tier token totals ≈ 43 / 65 / 85) so the per-source curves grade
  val richSweepCuts: Seq[Long] = Seq(40L, 60L, 80L, 100L)
  val richSweepCutsSql: String =
    richSweepCuts.map(c => s"($c)").mkString(", ")
  val semDedupTau = 0.35        // F72 within-cluster cosine cutoff —
                                // probed: drops 69/82/791 of
                                // 500/500/2000 vectors at the three
                                // SFs (0.2 dropped ~90% — vacuous the
                                // other way; max within-cluster sim
                                // tops out near 0.6 on this corpus)
  val dedupThrTenths: Seq[Int] = Seq(5, 6, 7, 8, 9) // F71 J cutoffs (×0.1)
  val lshPlanConfigs: Seq[(Int, Int)] =  // F74 (bands, rows/band) grid —
    Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)) // all k=16 layouts
  val recallSeverities: Seq[Int] = Seq(2, 3, 5, 10) // F85 drop-every-k
  val dedupThrTenthsSql: String =
    dedupThrTenths.map(t => s"($t)").mkString(", ")
  val deconSweepNs = Seq(2, 3, 5, 7) // F105 gram-width grid (5 = the
                                // production F17/F43 setting)
  val cdcMaskBits = 6           // F102 CDC boundary mask (2^6 = 64-cp
                                // average chunks; corpus docs ~300 cp)
  val bm25K1 = 1.2              // F101 BM25 tf saturation
  val bm25B = 0.75              // F101 BM25 length-normalization mix
  val auditQueries: Seq[String] =          // F68 multi-term queries —
    // each mixes the one RARE corpus term ('dup', df≈5% of docs) with
    // common terms (df≈78%) so the idf weighting actually reorders
    // vs the raw-hit ideal (probed: all-common queries give NDCG
    // 1.0000 at every SF — vacuous).
    Seq("dup data", "dup scan small", "dup join slow batch")
  val auditK = 10                          // F68 NDCG cutoff
  /** F68's (query_id, query, term) map as a VALUES body — generated
    * from `auditQueries` so both engines rank the SAME term sets. */
  val auditQueriesSql: String = auditQueries.zipWithIndex.flatMap {
    case (q, i) =>
      q.split(' ').filter(_.nonEmpty).distinct.map(t => s"($i, '$q', '$t')")
  }.mkString(", ")
  val packWidths: Seq[Int] = Seq(16, 32, 64) // F67 bucket widths; the
                                // last is the truncation context (64
                                // keeps all three buckets AND the
                                // cap non-vacuous: corpus token
                                // counts span 10..99 at the gate SFs)
  val dupSpanW = 8              // F62 minimum duplicated-span width
  val bpeMergeRounds = 5        // F59 adaptive merge rounds
  val pcaComps = 2              // F61 principal components emitted
  val pcaIters = 60             // F61 power-iteration rounds (both
                                // engines unroll the SAME count)

  val pcaDim = 64               // F61/F65 embedding dimensionality
  val matryoshkaDims = Seq(8, 16, 32, 64) // F100 prefix lengths

  /** The F61 covariance + power-iteration cascade as a WITH-body
    * (rounded gram/sums → covariance lists → `pcaIters` unrolled
    * normalize-matvec blocks → sign-canonicalized eigenpair CTEs
    * `p{m}e` + `trace`), GENERATED from (pcaComps, pcaIters, pcaDim)
    * — shared by the q_pca_power and q_pca_project oracles so the
    * recurrence has ONE spelling (the SQL twin of
    * `Vectors.pcaCore`). */
  private lazy val pcaCascadeSql: String = {
    val dim = pcaDim
    val head =
      s"""pair AS (
        |  SELECT i, j,
        |    round(sum(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |            * CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE)), 4)
        |      AS g
        |  FROM embeddings, (SELECT unnest(range($dim)) AS i) ti,
        |    (SELECT unnest(range($dim)) AS j) tj
        |  WHERE i <= j GROUP BY i, j),
        |sums AS (
        |  SELECT i,
        |    round(sum(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)), 4)
        |      AS s
        |  FROM embeddings, (SELECT unnest(range($dim)) AS i) ti
        |  GROUP BY i),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
        |cell AS (
        |  SELECT p.i AS i, p.j AS j,
        |    (p.g - si.s * sj.s / nn.n) / (nn.n - 1.0) AS cv
        |  FROM pair p JOIN sums si ON si.i = p.i
        |    JOIN sums sj ON sj.i = p.j, nn
        |  UNION ALL
        |  SELECT p.j, p.i, (p.g - si.s * sj.s / nn.n) / (nn.n - 1.0)
        |  FROM pair p JOIN sums si ON si.i = p.i
        |    JOIN sums sj ON sj.i = p.j, nn
        |  WHERE p.i < p.j),
        |cm0 AS (
        |  SELECT list(rw ORDER BY i) AS c FROM (
        |    SELECT i, list(cv ORDER BY j) AS rw FROM cell GROUP BY i)
        |    rows_),
        |trace AS (
        |  SELECT list_reduce(list_prepend(0.0, list_transform(
        |    range($dim), i -> c[CAST(i + 1 AS INT)][CAST(i + 1 AS INT)])),
        |    (a, b) -> a + b) AS tr FROM cm0)""".stripMargin
    (Seq(head) ++ powerCascadeBlocks(dim, pcaComps, pcaIters))
      .mkString(",\n")
  }

  /** The F59 training cascade as a WITH-body (vocab → seg0 → per-round
    * pair-count/argmax/refold CTEs), GENERATED from `bpeMergeRounds` —
    * shared verbatim by the q_bpe_train and q_bpe_encode oracles so
    * the two cannot drift on the loop (the same one-spelling rule the
    * Scala side enforces via `TextDedup.bpeCore`). */
  private lazy val bpeCascadeSql: String = {
    import graft.functions.PortableText._
    val rounds = (1 to bpeMergeRounds).map { r =>
      s"""p$r AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(list_transform(range(len(tok) - 1),
        |      i -> tok[CAST(i + 1 AS INT)] || ' ' || tok[CAST(i + 2 AS INT)]))
        |      AS pair, freq
        |    FROM (SELECT string_split(seg, ' ') AS tok, freq
        |      FROM seg${r - 1}) x
        |    WHERE len(tok) >= 2) y
        |  GROUP BY pair),
        |m$r AS (SELECT pair, cnt, split_part(pair, ' ', 1) AS pa,
        |    split_part(pair, ' ', 2) AS pb
        |  FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
        |seg$r AS (SELECT list_reduce(string_split(s.seg, ' '),
        |    (acc, t) -> CASE WHEN (acc = m.pa
        |        OR ends_with(acc, ' ' || m.pa)) AND t = m.pb
        |      THEN acc || t ELSE acc || ' ' || t END) AS seg, s.freq
        |  FROM seg${r - 1} s, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""vocab AS (SELECT word, count(*) AS freq
      |  FROM (SELECT unnest($duckTokens) AS word FROM documents) t
      |  GROUP BY word),
      |seg0 AS (SELECT array_to_string(list_transform(range(length(word)),
      |    i -> word[CAST(i + 1 AS INT)]), ' ') AS seg, freq FROM vocab),
      |$rounds""".stripMargin
  }

  val ccOracleRounds = 6        // unrolled min-label rounds (sf0.1's
                                // giant component converges in 3)

  /** F13-family oracle CC: GENERATED unrolled min-label rounds over
    * the `edges` CTE, replacing the transitive-closure recursive CTE
    * whose intermediate state is O(|component|²) — on sf0.1's 7.7M-
    * edge near-complete dup graph the closure never finished (the
    * round-12 full-registry sweep found it), while min-label
    * propagation converges in 3 measured rounds (6 unrolled = 2×
    * margin; NON-convergence surfaces as a hash mismatch, never a
    * silent pass). Ends in `<out>` (doc_id, cluster). */
  private def ccLabelsSql(out: String): String = {
    val rounds = (1 to ccOracleRounds).map { r =>
      s"""l$r AS MATERIALIZED (SELECT l.doc_id,
        |    least(min(l.lbl), coalesce(min(n.lbl), min(l.lbl))) AS lbl
        |  FROM l${r - 1} l LEFT JOIN edges e ON e.doc_a = l.doc_id
        |    LEFT JOIN l${r - 1} n ON n.doc_id = e.doc_b
        |  GROUP BY l.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS MATERIALIZED (SELECT doc_id, doc_id AS lbl FROM documents),
      |$rounds,
      |$out AS (SELECT doc_id, lbl AS cluster FROM l$ccOracleRounds)""".stripMargin
  }

  lazy val keys: Seq[Key] = Seq(
    // F32 — token-length histogram (64-token buckets).
    // Length histogram: exact-int buckets, window running total,
    // exact-int share division.
    Key("q_length_histogram", (s, d) =>
      CorpusPipeline.lengthHistogram(Tables.documents(s, d), 64), {
      import graft.functions.PortableText._
      s"""SELECT bucket, n_docs, tokens,
        |  CAST(sum(n_docs) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_docs,
        |  CAST(CAST(sum(n_docs) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS DOUBLE) / n_total AS cum_doc_share
        |FROM (
        |  SELECT n_tokens // 64 AS bucket, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS tokens
        |  FROM (SELECT CAST(length($duckTokens) AS BIGINT) AS n_tokens
        |    FROM documents) d
        |  GROUP BY n_tokens // 64) g,
        |  (SELECT count(*) AS n_total FROM documents) n
        |ORDER BY bucket""".stripMargin
    }),
    // F44 — pairwise source drift (exact-int TV distance, width 16).
    // F44 — TV numerator pure int64 (counts × counts, order-free),
    // distance ONE division, unrounded; sums CAST (HUGEINT rule).
    Key("q_source_drift", (s, d) =>
      CorpusPipeline.sourceDrift(Tables.documents(s, d), 16), {
      import graft.functions.PortableText._
      s"""WITH hist AS (
        |  SELECT source,
        |    CAST(length($duckTokens) // 16 AS BIGINT) AS bucket,
        |    count(*) AS c
        |  FROM documents GROUP BY source, bucket),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |  FROM hist GROUP BY source),
        |pairs AS (SELECT a.source AS src_a, a.n AS n_a,
        |    b.source AS src_b, b.n AS n_b
        |  FROM tot a, tot b WHERE a.source < b.source),
        |univ AS (SELECT p.src_a, p.src_b, p.n_a, p.n_b, u.bucket
        |  FROM pairs p, (SELECT DISTINCT bucket FROM hist) u),
        |j AS (SELECT src_a, src_b, n_a, n_b,
        |    abs(coalesce(ha.c, 0) * n_b - coalesce(hb.c, 0) * n_a) AS num
        |  FROM univ
        |  LEFT JOIN hist ha ON ha.source = univ.src_a
        |    AND ha.bucket = univ.bucket
        |  LEFT JOIN hist hb ON hb.source = univ.src_b
        |    AND hb.bucket = univ.bucket)
        |SELECT src_a, src_b, n_a, n_b,
        |  CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
        |    / CAST(2.0 * n_a * n_b AS DOUBLE) AS tv_dist
        |FROM j GROUP BY src_a, src_b, n_a, n_b
        |ORDER BY src_a, src_b""".stripMargin
    }),
    // F86 — per-source unigram KL to the corpus mixture.
    // F86 — per-source unigram KL: one (source, token) collapse,
    // ln-sum per-term spelling (cross-multiplied int ratio would
    // overflow), vocab-sized float sum round(4) (float sweep).
    Key("q_source_kl", (s, d) =>
      CorpusPipeline.sourceKl(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH st AS (SELECT source, token, count(*) AS c_st
        |  FROM (SELECT source, unnest($duckTokens) AS token
        |    FROM documents)
        |  GROUP BY source, token),
        |ct AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t
        |  FROM st GROUP BY token),
        |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
        |  FROM st GROUP BY source),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM ns)
        |SELECT st.source, max(ns.n_s) AS n_tokens, count(*) AS n_terms,
        |  round(sum((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
        |    (ln(CAST(c_st AS DOUBLE)) + ln(CAST(n_total AS DOUBLE))
        |     - ln(CAST(n_s AS DOUBLE)) - ln(CAST(c_t AS DOUBLE)))), 4)
        |    AS kl
        |FROM st JOIN ct USING (token) JOIN ns USING (source), tot
        |GROUP BY st.source ORDER BY st.source""".stripMargin
    }),
    // F87 — per-source type-token ratio + hapax share.
    // F87 — lexical diversity: exact int counts, two unrounded IEEE
    // divisions of exact ints, NULL guards on empty marginals.
    Key("q_lexical_diversity", (s, d) =>
      CorpusPipeline.lexicalDiversity(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH st AS (SELECT source, token, count(*) AS c_st
        |  FROM (SELECT source, unnest($duckTokens) AS token
        |    FROM documents)
        |  GROUP BY source, token),
        |sg AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    CAST(sum(CASE WHEN c_st = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM st GROUP BY source),
        |dg AS (SELECT source,
        |    round(avg(CAST(length(list_distinct($duckTokens)) AS DOUBLE)
        |      / length($duckTokens)), 4) AS mean_doc_ttr
        |  FROM documents WHERE length($duckTokens) > 0
        |  GROUP BY source)
        |SELECT sg.source, n_tokens, n_types, n_hapax,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) END
        |    AS type_token_ratio,
        |  CASE WHEN n_types > 0
        |    THEN CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) END
        |    AS hapax_share,
        |  dg.mean_doc_ttr
        |FROM sg LEFT JOIN dg USING (source)
        |ORDER BY source""".stripMargin
    }),
    // F88 — k-anonymity audit over (source, lang, size-bucket).
    // F88 — k-anonymity classes: one grouped count, exact-int div
    // bucketing (both engines truncate non-negative), int compare.
    Key("q_k_anonymity", (s, d) =>
      Curation.kAnonymityAudit(Tables.documents(s, d), kAnonK,
        kAnonBucket),
      s"""SELECT source, lang,
        |  CAST(n_chars // $kAnonBucket AS BIGINT) AS size_bucket,
        |  count(*) AS n_docs, count(*) < $kAnonK AS at_risk
        |FROM documents GROUP BY source, lang, size_bucket
        |ORDER BY source, lang, size_bucket""".stripMargin),
    // F34 — curriculum phases: 10 stop-ratio quality tiers.
    // Curriculum: even-grid score snap (2*floor(score*2^20+0.5)) and
    // ROUNDED quantile_cont thresholds — the parity argument in the
    // operator's docstring makes round(t) identical across engines, so
    // every comparison is integer-exact (raw interpolated thresholds
    // flipped 5/5000 phases at sf0.1).
    Key("q_curriculum", (s, d) =>
      CorpusPipeline.curriculumPhases(Tables.documents(s, d), 10), {
      import graft.functions.PortableText._
      val qs = (1 until 10).map(i =>
        s"round(quantile_cont(score_q, 0.$i))").mkString(", ")
      s"""WITH s AS (SELECT doc_id, length(tk) AS n_tokens,
        |    CASE WHEN length(tk) > 0 THEN
        |      CAST(length(list_filter(tk, t ->
        |        list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
        |        / length(tk) END AS score
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x),
        |s2 AS (SELECT doc_id, n_tokens, score,
        |    2 * CAST(floor(score * 1048576 + 0.5) AS BIGINT) AS score_q
        |  FROM s),
        |th AS (SELECT [$qs] AS ths FROM s2)
        |SELECT doc_id, n_tokens, score,
        |  10 - list_reduce(list_prepend(0, list_transform(ths,
        |    t -> CASE WHEN score_q > t THEN 1 ELSE 0 END)), (a, b) -> a + b)
        |    AS phase
        |FROM s2, th ORDER BY doc_id""".stripMargin
    }),
    // IVF: centroids are the first 8 vectors of the table itself, so
    // the cell argmax (ties to the lower centroid index, matching
    // array_position-of-array_max) is a cross join + row_number over
    // the same left-to-right list_reduce dots Vectors.ivfKnn computes
    // via graft_vecdot.
    Key("q_ann_ivf", (s, d) =>
      Vectors.ivfKnn(Tables.embeddings(s, d), 10, 5, 8),
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d AS (SELECT e.vec_id, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> e.v[CAST(i+1 AS INT)] * c.cv[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) AS dt
        |  FROM e, c),
        |cell AS (SELECT vec_id, cid AS cell FROM
        |  (SELECT vec_id, cid,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cid) AS rn
        |   FROM d) WHERE rn = 1),
        |n AS (SELECT e.vec_id, e.v, cell.cell,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> e.v[CAST(i+1 AS INT)] * e.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm
        |  FROM e JOIN cell ON cell.vec_id = e.vec_id),
        |p AS (SELECT q.vec_id AS query_id, q.cell, nb.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> q.v[CAST(i+1 AS INT)] * nb.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(q.nrm * nb.nrm, 0) AS cs
        |  FROM n q JOIN n nb ON nb.cell = q.cell AND nb.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (SELECT query_id, cell, neighbor_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rnk FROM p)
        |SELECT query_id, cell, neighbor_id, rnk, round(cs, 4) AS cos_sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // F58 — recall@5 of the IVF index vs the exact scan (same params
    // as q_ann_topk / q_ann_ivf, so the audit measures THAT index).
    Key("q_ann_recall", (s, d) =>
      Vectors.annRecall(Tables.embeddings(s, d), 10, 5, 8),
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm FROM e),
        |bp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> q.v[CAST(i+1 AS INT)] * c.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(q.nrm * c.nrm, 0) AS cs
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
        |bt AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |        AS rnk FROM bp) WHERE rnk <= 5),
        |cc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |dd AS (SELECT e.vec_id, cc.cid,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> e.v[CAST(i+1 AS INT)] * cc.cv[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) AS dt
        |  FROM e, cc),
        |cell AS (SELECT vec_id, cid AS cell FROM
        |  (SELECT vec_id, cid,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cid) AS rn
        |   FROM dd) WHERE rn = 1),
        |n2 AS (SELECT n.vec_id, n.v, cell.cell, n.nrm
        |  FROM n JOIN cell ON cell.vec_id = n.vec_id),
        |ip AS (SELECT q.vec_id AS query_id, nb.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> q.v[CAST(i+1 AS INT)] * nb.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(q.nrm * nb.nrm, 0) AS cs
        |  FROM n2 q JOIN n2 nb ON nb.cell = q.cell AND nb.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |it AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |        AS rnk FROM ip) WHERE rnk <= 5),
        |ne AS (SELECT query_id, count(*) AS n_exact FROM bt GROUP BY 1),
        |na AS (SELECT query_id, count(*) AS n_approx FROM it GROUP BY 1),
        |ov AS (SELECT b.query_id, count(*) AS n_overlap
        |  FROM bt b JOIN it i ON i.query_id = b.query_id
        |    AND i.neighbor_id = b.neighbor_id GROUP BY 1)
        |SELECT ne.query_id, ne.n_exact,
        |  coalesce(na.n_approx, 0) AS n_approx,
        |  coalesce(ov.n_overlap, 0) AS n_overlap,
        |  CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 5 AS recall
        |FROM ne LEFT JOIN na USING (query_id) LEFT JOIN ov USING (query_id)
        |ORDER BY query_id""".stripMargin),
    // F7c — recall@5 of the TRAINED-quantizer IVF (kmeans cells,
    // q_kmeans's exact params) vs the same exact baseline; the
    // trained-vs-convention comparison is q_ann_recall ⟂ this key.
    // F7c — the trained-quantizer MULTI-PROBE recall audit: the
    // kmeans CTE chain (duckKmeansCtes, q_kmeans's exact spelling)
    // supplies the home-cell map a2 and the s2 score table; each
    // query probes its rn <= 2 nearest cells from the SAME window;
    // brute/within-cell/overlap reuse q_ann_recall's folds.
    Key("q_ann_ivf_trained", (s, d) =>
      Vectors.annRecallTrained(Tables.embeddings(s, d), 10, 5, 8),
      s"""$duckKmeansCtes,
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm FROM e),
        |bp AS (SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> qr.v[CAST(i+1 AS INT)] * c.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(qr.nrm * c.nrm, 0) AS cs
        |  FROM n qr JOIN n c ON c.vec_id <> qr.vec_id WHERE qr.vec_id < 10),
        |bt AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |        AS rnk FROM bp) WHERE rnk <= 5),
        |n2 AS (SELECT n.vec_id, n.v, a2.cluster AS cell, n.nrm
        |  FROM n JOIN a2 ON a2.vec_id = n.vec_id),
        |qp AS (SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
        |    FROM s2 WHERE vec_id < 10) x WHERE rn <= 2),
        |qn AS (SELECT qp.vec_id, qp.cell, n.v, n.nrm
        |  FROM qp JOIN n ON n.vec_id = qp.vec_id),
        |ip AS (SELECT qr.vec_id AS query_id, nb.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> qr.v[CAST(i+1 AS INT)] * nb.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(qr.nrm * nb.nrm, 0) AS cs
        |  FROM qn qr JOIN n2 nb ON nb.cell = qr.cell AND nb.vec_id <> qr.vec_id),
        |it AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |        AS rnk FROM ip) WHERE rnk <= 5),
        |ne AS (SELECT query_id, count(*) AS n_exact FROM bt GROUP BY 1),
        |na AS (SELECT query_id, count(*) AS n_approx FROM it GROUP BY 1),
        |ov AS (SELECT b.query_id, count(*) AS n_overlap
        |  FROM bt b JOIN it i ON i.query_id = b.query_id
        |    AND i.neighbor_id = b.neighbor_id GROUP BY 1)
        |SELECT ne.query_id, ne.n_exact,
        |  coalesce(na.n_approx, 0) AS n_approx,
        |  coalesce(ov.n_overlap, 0) AS n_overlap,
        |  CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 5 AS recall
        |FROM ne LEFT JOIN na USING (query_id) LEFT JOIN ov USING (query_id)
        |ORDER BY query_id""".stripMargin),
    // F7d — the SERVED trained-IVF read path: centroids train ONCE
    // per (session, corpus) via the fixture cache (at 100 TB an
    // ingest-time artifact), the key prices assignment + probe scan
    // only — the deployment's per-query cost, vs F7c's audit shape
    // that deliberately re-prices training.
    // F7d — the SERVED trained-IVF read path: q_ann_ivf_trained's
    // search chain (home cells a2, probe window rn <= 2 over s2)
    // emitting the RANKED ROWS instead of the recall folds — the
    // training replays in the oracle (the centroids are a pure
    // function of the corpus), while the Spark side reads them from
    // the session fixture.
    Key("q_ann_ivf_served", (s, d) =>
      Vectors.ivfKnnServed(Tables.embeddings(s, d),
        servedIvfCentroids(s, d), 10, 5, 2),
      s"""$duckKmeansCtes,
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm FROM e),
        |n2 AS (SELECT n.vec_id, n.v, a2.cluster AS cell, n.nrm
        |  FROM n JOIN a2 ON a2.vec_id = n.vec_id),
        |qp AS (SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
        |    FROM s2 WHERE vec_id < 10) x WHERE rn <= 2),
        |qn AS (SELECT qp.vec_id, qp.cell, n.v, n.nrm
        |  FROM qp JOIN n ON n.vec_id = qp.vec_id),
        |ip AS (SELECT qr.vec_id AS query_id, qr.cell,
        |    nb.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> qr.v[CAST(i+1 AS INT)] * nb.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(qr.nrm * nb.nrm, 0) AS cs
        |  FROM qn qr JOIN n2 nb ON nb.cell = qr.cell AND nb.vec_id <> qr.vec_id),
        |r AS (SELECT query_id, cell, neighbor_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rnk FROM ip)
        |SELECT query_id, cell, neighbor_id, rnk, round(cs, 4) AS cos_sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // F39b — recall@5 of the FULLY trained IVF-PQ (Lloyd coarse
    // cells + per-subspace k-means codebook, nProbe=2) vs the exact
    // squared-L2 scan; trained-vs-convention certified in VectorsSpec
    // (ivfPqRecallOf over both variants).
    // F39b — the fully TRAINED IVF-PQ recall audit: the coarse side
    // is duckKmeansCtes' trained cells (a2 home cells, s2 probe
    // scores — q_kmeans's exact spelling, probed rn <= 2 as in
    // q_ann_ivf_trained); the codebook side replays the SAME
    // quantized-Lloyd round per (subspace, code) over the grid
    // SLICES (ps1/pa1/pdims/pu/pu2/pcb1 mirror s1/a1/dims/u/u2/c1
    // at dim 8, k 16); code assignment + ADC are q_ivfpq_search's
    // chain against the TRAINED codebook; the exact baseline is
    // squared-L2 (the metric PQ approximates); folds are F58's.
    Key("q_ivfpq_trained", (s, d) =>
      Vectors.ivfPqRecallTrained(Tables.embeddings(s, d), 10, 5), {
      def dot(n: Int)(a: String, b: String): String =
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range($n), i -> $a[CAST(i+1 AS INT)] * " +
          s"$b[CAST(i+1 AS INT)])), (x, y) -> x + y)"
      val d8 = dot(8) _; val d64 = dot(64) _
      s"""$duckKmeansCtes,
        |pss AS (SELECT unnest(range(8)) AS s),
        |psub AS (SELECT qd.vec_id, pss.s,
        |    qd.qv[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS sq,
        |    qd.v[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS sv
        |  FROM qd, pss),
        |pcb0 AS (SELECT s, vec_id AS j, sv AS cv FROM psub
        |  WHERE vec_id < 16),
        |ps1 AS (SELECT psub.vec_id, psub.s, pcb0.j,
        |    ${d8("cv", "cv")} - 2 * ${d8("sv", "cv")} AS score
        |  FROM psub JOIN pcb0 ON pcb0.s = psub.s),
        |pa1 AS (SELECT vec_id, s, j AS code FROM (SELECT vec_id, s, j,
        |    row_number() OVER (PARTITION BY vec_id, s ORDER BY score, j)
        |      AS rn FROM ps1) x WHERE rn = 1),
        |pdims AS (SELECT pa1.s, pa1.code, unnest(range(8)) AS d, psub.sq
        |  FROM psub JOIN pa1 ON pa1.vec_id = psub.vec_id
        |    AND pa1.s = psub.s),
        |pu AS (SELECT s, code, d, sum(sq[CAST(d + 1 AS INT)]) AS sm,
        |    count(*) AS cnt
        |  FROM pdims GROUP BY s, code, d),
        |pu2 AS (SELECT s, code,
        |    list(CAST(CAST(CAST(sm AS DOUBLE) / cnt AS FLOAT) AS DOUBLE)
        |      ORDER BY d) AS cv
        |  FROM pu GROUP BY s, code),
        |pcb1 AS (SELECT pcb0.s, pcb0.j, coalesce(pu2.cv, pcb0.cv) AS cv
        |  FROM pcb0 LEFT JOIN pu2 ON pu2.s = pcb0.s AND pu2.code = pcb0.j),
        |pcbf AS (SELECT s, j, list_transform(cv, c -> c / 32.0) AS cv
        |  FROM pcb1),
        |pe AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pesub AS (SELECT pe.vec_id, pss.s,
        |    v[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS sv
        |  FROM pe, pss),
        |ps2 AS (SELECT pesub.vec_id, pesub.s, pcbf.j,
        |    ${d8("cv", "cv")} - 2 * ${d8("sv", "cv")} AS score
        |  FROM pesub JOIN pcbf ON pcbf.s = pesub.s),
        |pcode AS (SELECT vec_id, s, j AS code FROM (SELECT vec_id, s, j,
        |    row_number() OVER (PARTITION BY vec_id, s ORDER BY score, j)
        |      AS rn FROM ps2) x WHERE rn = 1),
        |pterm AS (SELECT qs.vec_id AS query_id, pcode.vec_id, pcode.s,
        |    ${d8("qs.sv", "qs.sv")} + ${d8("cv", "cv")} - 2 * ${d8("qs.sv", "cv")}
        |      AS term
        |  FROM pcode JOIN pcbf ON pcbf.s = pcode.s AND pcbf.j = pcode.code
        |  JOIN pesub qs ON qs.s = pcode.s AND qs.vec_id < 10),
        |padc AS (SELECT query_id, vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(term ORDER BY s)), (a, b) -> a + b) AS adc_raw
        |  FROM pterm GROUP BY query_id, vec_id),
        |pqp AS (SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cid)
        |        AS rn FROM s2 WHERE vec_id < 10) x WHERE rn <= 2),
        |pcand AS (SELECT padc.query_id, padc.neighbor_id, padc.adc_raw
        |  FROM padc JOIN pqp USING (query_id)
        |  JOIN a2 nb ON nb.vec_id = padc.neighbor_id
        |    AND nb.cluster = pqp.cell
        |  WHERE padc.neighbor_id <> padc.query_id),
        |pit AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc_raw, neighbor_id) AS rnk
        |    FROM pcand) x WHERE rnk <= 5),
        |pbp AS (SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ${d64("qr.v", "qr.v")} + ${d64("c.v", "c.v")} - 2 * ${d64("qr.v", "c.v")}
        |      AS l2
        |  FROM pe qr JOIN pe c ON c.vec_id <> qr.vec_id
        |  WHERE qr.vec_id < 10),
        |pbt AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY l2, neighbor_id) AS rnk FROM pbp) x
        |  WHERE rnk <= 5),
        |pne AS (SELECT query_id, count(*) AS n_exact FROM pbt GROUP BY 1),
        |pna AS (SELECT query_id, count(*) AS n_approx FROM pit GROUP BY 1),
        |pov AS (SELECT b.query_id, count(*) AS n_overlap
        |  FROM pbt b JOIN pit i ON i.query_id = b.query_id
        |    AND i.neighbor_id = b.neighbor_id GROUP BY 1)
        |SELECT pne.query_id, pne.n_exact,
        |  coalesce(pna.n_approx, 0) AS n_approx,
        |  coalesce(pov.n_overlap, 0) AS n_overlap,
        |  CAST(coalesce(pov.n_overlap, 0) AS DOUBLE) / 5 AS recall
        |FROM pne LEFT JOIN pna USING (query_id) LEFT JOIN pov USING (query_id)
        |ORDER BY query_id""".stripMargin
    }),
    // F100 — Matryoshka audit: recall@5 of prefix-dim search vs the
    // full-dim exact list, per prefix length.
    // F58 — composes the two verified CTE chains (brute + IVF) and
    // joins their top-k sets; recall is one exact-int division.
    // F100 — generated per-prefix brute-force CTE blocks (the F6/F58
    // fold spellings at range(m)); hit counts exact ints, recall ppm
    // by integer division.
    Key("q_matryoshka_recall", (s, d) =>
      Vectors.matryoshkaRecall(Tables.embeddings(s, d), 10, 5,
        matryoshkaDims), {
      def knn(dm: Int, tag: String) =
        s"""n$tag AS (SELECT vec_id, v,
          |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_transform(range($dm), i -> v[CAST(i+1 AS INT)]
          |        * v[CAST(i+1 AS INT)])),
          |      (a, b) -> a + b)) AS nrm FROM e),
          |p$tag AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |      list_transform(range($dm), i -> q.v[CAST(i+1 AS INT)]
          |        * c.v[CAST(i+1 AS INT)])),
          |      (a, b) -> a + b) / nullif(q.nrm * c.nrm, 0) AS cs
          |  FROM n$tag q JOIN n$tag c ON c.vec_id <> q.vec_id
          |  WHERE q.vec_id < 10),
          |t$tag AS (SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY cs DESC, neighbor_id) AS rnk
          |    FROM p$tag) x WHERE rnk <= 5)"""
      val blocks = (knn(64, "x") +:
        matryoshkaDims.map(dm => knn(dm, s"d$dm"))).mkString(",\n")
      val rows = matryoshkaDims.map { dm =>
        s"SELECT CAST($dm AS BIGINT) AS prefix_dim, " +
          s"CAST(count(*) AS BIGINT) AS n_hits " +
          s"FROM td$dm JOIN tx USING (query_id, neighbor_id)"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |$blocks
        |SELECT prefix_dim, n_hits,
        |  CAST((n_hits * 1000000) // 50 AS BIGINT) AS recall_ppm
        |FROM ($rows) u
        |ORDER BY prefix_dim""".stripMargin
    }),
    // F30 — boilerplate share: fraction of a doc's distinct 3-grams
    // occurring in other docs.
    Key("q_gram_novelty", (s, d) =>
      TextDedup.boilerplateShare(Tables.documents(s, d), 3), {
      import graft.functions.PortableText._
      s"""WITH g0 AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(tk) - 1),
        |      i -> array_to_string(tk[i:i+2], ' '))) AS gram
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x),
        |g AS (SELECT DISTINCT doc_id, gram FROM g0),
        |dfreq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
        |per AS (SELECT doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_shared
        |  FROM g JOIN dfreq USING (gram) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_grams, 0) AS n_grams,
        |  coalesce(n_shared, 0) AS n_shared,
        |  CASE WHEN coalesce(n_grams, 0) > 0 THEN
        |    CAST(coalesce(n_shared, 0) AS DOUBLE) / n_grams END
        |    AS shared_ratio
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }),
    Key("q_dedup_exact", (s, d) => TextDedup.exactDedup(Tables.documents(s, d)),
      """SELECT doc_id, md5(text) AS h,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Connected components over minhash-band buckets: the "keep one
    // doc per duplicate cluster" pipeline stage. Bipartite doc-bucket
    // propagation — the pair graph is never materialized.
    // Fixpoint min-label propagation == component minimum — unrolled
    // rounds (ccLabelsSql; the transitive-closure recursion blew up
    // on sf0.1's near-complete dup graph).
    Key("q_dedup_clusters", (s, d) => {
      val docs = Tables.documents(s, d)
      // NULL-band_hash isolation + unordered-band rationale documented
      // at the shared helper.
      TextDedup.dedupClustersFromBuckets(docs,
        TextDedup.minhashBucketAssignments(docs))
    }, {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |${ccLabelsSql("cl")}
        |SELECT doc_id, cluster, doc_id = cluster AS keep
        |FROM cl ORDER BY doc_id""".stripMargin
    }),
    // F91 — quality-aware canonical selection: longest cluster member
    // survives (ties to smallest id), two-phase argmax.
    // F91 — the CC CTE + per-doc token counts; canonical = two-phase
    // max-then-min (engine-stable ties, no arg_max).
    Key("q_canonical_docs", (s, d) =>
      TextDedup.canonicalSelection(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |${ccLabelsSql("cl")},
        |s AS (SELECT doc_id, CAST(length($duckTokens) AS BIGINT)
        |    AS n_tokens FROM documents),
        |j AS (SELECT cl.doc_id, cl.cluster, s.n_tokens
        |  FROM cl JOIN s USING (doc_id)),
        |mt AS (SELECT cluster, max(n_tokens) AS mt FROM j GROUP BY cluster),
        |canon AS (SELECT j.cluster, min(j.doc_id) AS canonical_id
        |  FROM j JOIN mt ON mt.cluster = j.cluster AND j.n_tokens = mt.mt
        |  GROUP BY j.cluster)
        |SELECT j.doc_id, j.cluster, j.n_tokens, canon.canonical_id,
        |  j.doc_id = canon.canonical_id AS is_canonical
        |FROM j JOIN canon ON canon.cluster = j.cluster
        |ORDER BY j.doc_id""".stripMargin
    }),
    // F50 — cluster-size distribution over the F13 clustering.
    // F50 — same recursive-CTE CC as q_dedup_clusters, then the two
    // exact-int histogram aggregates.
    Key("q_cluster_sizes", (s, d) => {
      val docs = Tables.documents(s, d)
      TextDedup.clusterSizeProfile(
        TextDedup.dedupClustersFromBuckets(docs,
          TextDedup.minhashBucketAssignments(docs)))
    }, {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |${ccLabelsSql("lab")},
        |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab
        |  GROUP BY cluster)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  cluster_size * count(*) AS n_docs
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin
    }),
    Key("q_dedup_minhash", (s, d) => TextDedup.minHashBands(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t)
        |SELECT doc_id, band,
        |  (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |    AS band_hash
        |FROM m, (SELECT unnest(range($Bands)) AS band) b
        |ORDER BY doc_id, band""".stripMargin
    }),
    // Greedy arrival-order near-dup: dup iff any band bucket holds an
    // earlier doc — bucket-min vs own doc_id, no recursion needed.
    Key("q_dedup_greedy", (s, d) => TextDedup.greedyNearDup(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |bf AS (SELECT band, band_hash, min(doc_id) AS first_doc
        |       FROM bands WHERE band_hash IS NOT NULL
        |       GROUP BY band, band_hash),
        |v AS (SELECT bands.doc_id, bool_or(first_doc < bands.doc_id) AS dup
        |      FROM bands JOIN bf USING (band, band_hash)
        |      GROUP BY bands.doc_id)
        |SELECT d.doc_id, coalesce(v.dup, false) AS is_duplicate
        |FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F16b — source-stratified eval split (10% of each source).
    // Stratified split: same hash-walk rank as q_source_cap, exact-int
    // pct threshold rank*100 <= count*pct.
    Key("q_stratified_split", (s, d) =>
      CorpusPipeline.stratifiedSplit(Tables.documents(s, d), 10), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, source, rnk, n_source,
        |  CASE WHEN rnk * 100 <= n_source * 10 THEN 'test'
        |       ELSE 'train' END AS split
        |FROM (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ${duckHashOrder("doc_id")}, doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n_source
        |  FROM documents) x
        |ORDER BY doc_id""".stripMargin
    }),
    // F31 — dedup survivorship: per-source doc/token cost of greedy
    // near-dup.
    // Survivorship: greedy verdict CTEs (as q_dedup_greedy) joined to
    // per-doc token counts, one group by source.
    Key("q_dedup_report", (s, d) =>
      TextDedup.dedupSurvivorship(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |bf AS (SELECT band, band_hash, min(doc_id) AS first_doc
        |       FROM bands WHERE band_hash IS NOT NULL
        |       GROUP BY band, band_hash),
        |v AS (SELECT bands.doc_id, bool_or(first_doc < bands.doc_id) AS dup
        |      FROM bands JOIN bf USING (band, band_hash)
        |      GROUP BY bands.doc_id),
        |g AS (SELECT d.doc_id, d.source,
        |    CAST(length($duckTokens) AS BIGINT) AS n_tokens,
        |    coalesce(v.dup, false) AS dup
        |  FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN dup THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS tokens_dropped,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS doc_drop_ratio,
        |  CASE WHEN sum(n_tokens) > 0 THEN
        |    CAST(sum(CASE WHEN dup THEN n_tokens ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(n_tokens) AS BIGINT) END AS token_drop_ratio
        |FROM g GROUP BY source ORDER BY source""".stripMargin
    }),
    // F1b — cross-source duplication matrix. The synthetic corpus has
    // near-dups but no EXACT cross-source copies, so the registry
    // injects a deterministic 'mirror' dump (every 10th doc re-sourced,
    // ids offset) — the mirrored-crawl situation the matrix detects;
    // the oracle builds the identical union.
    // F70 — source-similarity matrix: k-minhash estimate vs exact
    // trigram-set Jaccard per source pair, with the error beside.
    // Dup matrix: per-(fp, source) counts first, then count-level pair
    // join — cross pairs cnt_a*cnt_b, diagonal C(cnt,2), exact ints.
    // F70 — distinct (source, word-trigram) set → polyhash → k affine
    // minhashes (the F2 family) per source; est = matches/k, exact =
    // inter/union, err — all unrounded IEEE over exact ints. Word
    // TRIGRAMS: char trigrams and word bigrams both saturate on the
    // shared synthetic vocab (pairs at/near 1.0) while trigram J
    // spreads 0.013..0.26 across SFs.
    Key("q_source_similarity", (s, d) =>
      TextDedup.sourceSimilarity(Tables.documents(s, d), srcSimK), {
      import graft.functions.PortableText._
      s"""WITH sg AS (SELECT DISTINCT source, gram FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, length(tk) - 1),
        |        i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i+1 AS INT)]
        |          || ' ' || tk[CAST(i+2 AS INT)])) AS gram
        |    FROM (SELECT source, $duckTokens AS tk
        |      FROM documents) t) x),
        |sh AS (SELECT source, ${duckPolyHash("gram")} AS h FROM sg),
        |sz AS (SELECT source, count(*) AS n_grams FROM sh
        |  GROUP BY source),
        |sig AS (SELECT source, j,
        |    min(((2*j + 3) * h + 5*j + 7) % $P) AS mh
        |  FROM sh, (SELECT unnest(range($srcSimK)) AS j) js
        |  GROUP BY source, j),
        |est AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_match
        |  FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
        |  GROUP BY a.source, b.source),
        |iv AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT e.source_a, e.source_b, sa.n_grams AS n_gram_a,
        |  sb.n_grams AS n_gram_b, coalesce(iv.n_inter, 0) AS n_inter,
        |  e.n_match,
        |  CAST(e.n_match AS DOUBLE) / CAST($srcSimK AS DOUBLE)
        |    AS est_jaccard,
        |  CAST(coalesce(iv.n_inter, 0) AS DOUBLE) /
        |    CAST(sa.n_grams + sb.n_grams - coalesce(iv.n_inter, 0)
        |      AS DOUBLE) AS exact_jaccard,
        |  CAST(e.n_match AS DOUBLE) / CAST($srcSimK AS DOUBLE) -
        |    CAST(coalesce(iv.n_inter, 0) AS DOUBLE) /
        |      CAST(sa.n_grams + sb.n_grams - coalesce(iv.n_inter, 0)
        |        AS DOUBLE) AS err
        |FROM est e LEFT JOIN iv USING (source_a, source_b)
        |JOIN sz sa ON sa.source = e.source_a
        |JOIN sz sb ON sb.source = e.source_b
        |ORDER BY source_a, source_b""".stripMargin
    }),
    // F69 — near-dup leakage matrix over the same mirrored corpus as
    // F1b (the raw corpus has no cross-source near-dups — probed).
    // F69 — F1b's mirror CTE + the F2 band/bucket CTEs; candidate
    // pairs get sources via two doc-keyed joins, roll up by the
    // least/greatest source pair; counts exact int64.
    Key("q_near_leakage", (s, d) => {
      val docs = Tables.documents(s, d)
      val mirror = docs.where("doc_id % 10 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id", "text", "lang",
        "'mirror' AS source", "n_chars")
      TextDedup.nearDupLeakage(docs.unionByName(mirror))
    }, {
      import graft.functions.PortableText._
      s"""WITH d AS (SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'mirror' FROM documents
        |  WHERE doc_id % 10 = 0),
        |t AS (SELECT doc_id, $duckTokenHashes AS th FROM d),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |p0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_hash = y.band_hash
        |    AND x.doc_id < y.doc_id),
        |ps AS (SELECT p0.doc_a, p0.doc_b,
        |    least(sa.source, sb.source) AS source_a,
        |    greatest(sa.source, sb.source) AS source_b
        |  FROM p0 JOIN d sa ON sa.doc_id = p0.doc_a
        |  JOIN d sb ON sb.doc_id = p0.doc_b),
        |c AS (SELECT source_a, source_b, count(*) AS n_pairs
        |  FROM ps GROUP BY source_a, source_b),
        |dv AS (SELECT source_a, source_b,
        |    count(DISTINCT doc) AS n_docs
        |  FROM (SELECT source_a, source_b,
        |      unnest([doc_a, doc_b]) AS doc FROM ps) u
        |  GROUP BY source_a, source_b)
        |SELECT c.source_a, c.source_b, c.n_pairs, dv.n_docs,
        |  c.source_a <> c.source_b AS cross_source
        |FROM c JOIN dv USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin
    }),
    Key("q_dup_matrix", (s, d) => {
      val docs = Tables.documents(s, d)
      val mirror = docs.where("doc_id % 10 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id", "text", "lang",
        "'mirror' AS source", "n_chars")
      TextDedup.dupMatrix(docs.unionByName(mirror))
    }, {
      import graft.functions.PortableText._
      s"""WITH d AS (SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'mirror' FROM documents
        |  WHERE doc_id % 10 = 0),
        |f AS (SELECT doc_id, source, $duckDocFingerprint AS fp
        |  FROM d),
        |c AS (SELECT fp, source, count(*) AS cnt FROM f
        |  GROUP BY fp, source),
        |cross_p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS n_dup_pairs,
        |    count(*) AS n_shared_fps
        |  FROM c a JOIN c b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY a.source, b.source),
        |intra AS (SELECT source AS source_a, source AS source_b,
        |    CAST(sum((cnt * (cnt - 1)) // 2) AS BIGINT) AS n_dup_pairs,
        |    count(*) AS n_shared_fps
        |  FROM c WHERE cnt >= 2 GROUP BY source)
        |SELECT * FROM (SELECT * FROM cross_p UNION ALL
        |  SELECT * FROM intra) u
        |ORDER BY source_a, source_b""".stripMargin
    }),
    // F2d — incremental near-dup: every 5th doc plays the "incoming
    // crawl", the rest the already-curated corpus.
    // Single-scan form: existing/incoming are a predicate split of ONE
    // table here, so the sketch is computed once and split after —
    // verdicts bit-identical to the two-frame API (spec'd), corpus
    // passes halved (r9 verdict #4).
    // Incremental near-dup: bucket flags (any existing member / min
    // incoming id) replayed over the same band spelling as
    // q_dedup_greedy; blame prefers 'existing' over 'batch'.
    Key("q_dedup_incremental", (s, d) =>
      TextDedup.incrementalNearDupSplit(Tables.documents(s, d),
        org.apache.spark.sql.functions.expr("doc_id % 5 <> 0")), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band, doc_id % 5 = 0 AS incoming,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |bk AS (SELECT band, band_hash,
        |    max(CASE WHEN NOT incoming THEN 1 ELSE 0 END) AS has_existing,
        |    min(CASE WHEN incoming THEN doc_id END) AS first_incoming
        |  FROM bands WHERE band_hash IS NOT NULL
        |  GROUP BY band, band_hash),
        |v AS (SELECT bands.doc_id,
        |    bool_or(has_existing = 1) AS dup_ex,
        |    bool_or(first_incoming < bands.doc_id) AS dup_batch
        |  FROM bands JOIN bk USING (band, band_hash)
        |  WHERE bands.incoming AND bands.band_hash IS NOT NULL
        |  GROUP BY bands.doc_id)
        |SELECT d.doc_id, coalesce(dup_ex OR dup_batch, false) AS is_duplicate,
        |  CASE WHEN dup_ex THEN 'existing'
        |       WHEN dup_batch THEN 'batch' END AS dup_source
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN v USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }),
    Key("q_dedup_simhash", (s, d) => TextDedup.simHashSig(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents)
        |SELECT doc_id, $duckSimHash AS simhash FROM t ORDER BY doc_id""".stripMargin
    }),
    // maxHamming=1 -> 2 pigeonhole bands of 16 bits (the production
    // band width); the synthetic corpus is template-heavy, so higher
    // radii balloon the pair set without testing anything new.
    // Brute-force hamming join is a VALID oracle for the banded Spark
    // plan: pigeonhole banding has recall exactly 1 for hamming <= 1.
    Key("q_dedup_simhash_pairs", (s, d) =>
      TextDedup.simHashPairs(TextDedup.simHashSig(Tables.documents(s, d)), 1), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckSimHash AS simhash
        |  FROM (SELECT doc_id, $duckTokenHashes AS th FROM documents) x)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        |ORDER BY doc_a, doc_b""".stripMargin
    }),
    // Inverted index with df cap (grams in > 20 docs of a bucket are
    // dropped before pairing); intersection counts capped grams only,
    // denominators |A|,|B| stay full — same lower-bound Jaccard as
    // TextDedup.ngramJaccard.
    Key("q_dedup_ngram", (s, d) =>
      TextDedup.ngramJaccard(Tables.documents(s, d), 0.5), {
      import graft.functions.PortableText._
      s"""WITH g0 AS (SELECT doc_id, lang, source, $duckGrams3 AS grams
        |    FROM documents WHERE doc_id % 5 = 0),
        |g AS (SELECT doc_id, length(grams) AS n FROM g0),
        |inv AS (SELECT doc_id, lang, source, unnest(grams) AS gram FROM g0),
        |invk AS (SELECT * FROM (SELECT doc_id, lang, source, gram,
        |    count(*) OVER (PARTITION BY lang, source, gram) AS df FROM inv)
        |  WHERE df <= 20),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS inter
        |  FROM invk a JOIN invk b ON a.lang = b.lang AND a.source = b.source
        |    AND a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter) AS jaccard
        |FROM p JOIN g ca ON ca.doc_id = p.doc_a
        |  JOIN g cb ON cb.doc_id = p.doc_b
        |WHERE CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin
    }),
    // F45 — asymmetric containment |A∩B|/|A| (subset-doc detection).
    // F45 — asymmetric containment: ORDERED pairs (a≠b), score =
    // inter/|A| — one division of exact int64 counts, unrounded; same
    // df-capped inverted index as q_dedup_ngram.
    Key("q_containment", (s, d) =>
      TextDedup.containmentPairs(Tables.documents(s, d), 0.5), {
      import graft.functions.PortableText._
      s"""WITH g0 AS (SELECT doc_id, lang, source, $duckGrams3 AS grams
        |    FROM documents WHERE doc_id % 5 = 0),
        |g AS (SELECT doc_id, length(grams) AS n FROM g0),
        |inv AS (SELECT doc_id, lang, source, unnest(grams) AS gram FROM g0),
        |invk AS (SELECT * FROM (SELECT doc_id, lang, source, gram,
        |    count(*) OVER (PARTITION BY lang, source, gram) AS df FROM inv)
        |  WHERE df <= 20),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS inter
        |  FROM invk a JOIN invk b ON a.lang = b.lang AND a.source = b.source
        |    AND a.gram = b.gram AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(p.inter AS BIGINT) AS inter,
        |  CAST(ca.n AS BIGINT) AS na,
        |  CAST(p.inter AS DOUBLE) / CAST(ca.n AS DOUBLE) AS containment
        |FROM p JOIN g ca ON ca.doc_id = p.doc_a
        |WHERE CAST(p.inter AS DOUBLE) / CAST(ca.n AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin
    }),
    // F47 — Count-Min heavy hitters with exact audit columns.
    // F47 — CMS: identical sketch both engines (minhash affine family
    // over PolyHash, mod 1024), est = min over 4 rows, exact audit
    // beside; top-20 by (est desc, token) total order.
    Key("q_cms_heavy_hitters", (s, d) =>
      TextDedup.cmsHeavyHitters(Tables.documents(s, d), 20), {
      import graft.functions.PortableText._
      s"""WITH occ AS (SELECT token, ${duckPolyHash("token")} AS h
        |  FROM (SELECT unnest($duckTokens) AS token FROM documents) t),
        |cells AS (SELECT rc.j AS rw, ((2*rc.j+3)*occ.h + 5*rc.j+7) % $P % 1024 AS cell,
        |    count(*) AS cnt
        |  FROM occ, (SELECT unnest(range(4)) AS j) rc
        |  GROUP BY 1, 2),
        |exact AS (SELECT token, h, count(*) AS exact_cnt
        |  FROM occ GROUP BY token, h),
        |probes AS (SELECT token, exact_cnt, rc.j AS rw,
        |    ((2*rc.j+3)*h + 5*rc.j+7) % $P % 1024 AS cell
        |  FROM exact, (SELECT unnest(range(4)) AS j) rc),
        |est AS (SELECT token, exact_cnt,
        |    CAST(min(cnt) AS BIGINT) AS est_cnt
        |  FROM probes JOIN cells USING (rw, cell)
        |  GROUP BY token, exact_cnt)
        |SELECT CAST(row_number() OVER
        |    (ORDER BY est_cnt DESC, token) AS BIGINT) AS rnk,
        |  token, est_cnt, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        |  est_cnt - CAST(exact_cnt AS BIGINT) AS overcount
        |FROM est
        |ORDER BY rnk LIMIT 20""".stripMargin
    }),
    // F51 — quantized-PMI collocation pairs (df-capped, presence).
    // F51 — quantized PMI: presence (distinct) tokens; two-step
    // overflow-safe score (c_ab·((n_docs·10⁴) div c_b)) div c_a exact
    // int64; df cap inoperative on the tiny synthetic vocab (quality
    // knob, not a scale guard — the pair join is doc-keyed/linear);
    // top-20 by (score desc, tok_a, tok_b).
    Key("q_pmi_pairs", (s, d) =>
      TextDedup.pmiPairs(Tables.documents(s, d), 1000, 20, 3L), {
      import graft.functions.PortableText._
      s"""WITH toks AS (
        |  SELECT DISTINCT doc_id, token
        |  FROM (SELECT doc_id, unnest($duckTokens) AS token
        |    FROM documents) t),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |df AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
        |cap AS (SELECT doc_id, token, c FROM toks JOIN df USING (token)
        |  WHERE c <= 1000),
        |p AS (SELECT a.token AS tok_a, b.token AS tok_b,
        |    a.c AS c_a, b.c AS c_b, count(*) AS c_ab
        |  FROM cap a JOIN cap b ON a.doc_id = b.doc_id
        |    AND a.token < b.token
        |  GROUP BY 1, 2, 3, 4
        |  HAVING count(*) >= 3)
        |SELECT CAST(row_number() OVER (ORDER BY score_bp DESC, tok_a,
        |    tok_b) AS BIGINT) AS rnk,
        |  tok_a, tok_b, CAST(c_a AS BIGINT) AS c_a,
        |  CAST(c_b AS BIGINT) AS c_b, CAST(c_ab AS BIGINT) AS c_ab,
        |  score_bp
        |FROM (SELECT tok_a, tok_b, c_a, c_b, c_ab,
        |    CAST((c_ab * ((n_docs * 10000) // c_b)) // c_a AS BIGINT)
        |      AS score_bp
        |  FROM p, nd) s
        |ORDER BY rnk LIMIT 20""".stripMargin
    }),
    // F52 — training-mix audit vs declared target weights.
    // F52 — mix audit: actual share exact basis points, deviation
    // int64, scale factor one IEEE division, absent targets 0.
    Key("q_mixture_audit", (s, d) =>
      CorpusPipeline.mixtureAudit(Tables.documents(s, d),
        Seq(("src0", 2000L), ("src3", 3000L), ("src7", 1000L))), {
      import graft.functions.PortableText._
      s"""WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(length($duckTokens)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tokens_total
        |  FROM per),
        |tgt AS (SELECT * FROM (VALUES ('src0', 2000), ('src3', 3000),
        |  ('src7', 1000)) AS v(source, target_bp))
        |SELECT per.source, n_docs, n_tokens,
        |  (n_tokens * 10000) // tokens_total AS actual_bp,
        |  CAST(coalesce(tgt.target_bp, 0) AS BIGINT) AS target_bp,
        |  (n_tokens * 10000) // tokens_total
        |    - CAST(coalesce(tgt.target_bp, 0) AS BIGINT) AS deviation_bp,
        |  CASE WHEN n_tokens > 0 THEN
        |    CAST(coalesce(tgt.target_bp, 0) AS DOUBLE)
        |      * CAST(tokens_total AS DOUBLE)
        |      / (10000.0 * CAST(n_tokens AS DOUBLE)) END AS scale_to_target
        |FROM per LEFT JOIN tgt USING (source), tot
        |ORDER BY per.source""".stripMargin
    }),
    // F48 — BPE merge-pair statistics over the weighted vocabulary.
    // F48 — BPE pair stats: substring scan with multiplicity (NOT the
    // distinct gram set); counts exact int64; (cnt desc, pair) order.
    Key("q_bpe_pairs", (s, d) =>
      TextDedup.bpePairStats(Tables.documents(s, d), 20), {
      import graft.functions.PortableText._
      s"""WITH vocab AS (SELECT word, count(*) AS freq
        |  FROM (SELECT unnest($duckTokens) AS word FROM documents) t
        |  GROUP BY word),
        |pairs AS (SELECT substr(word, CAST(i AS INT), 2) AS pair,
        |    CAST(sum(freq) AS BIGINT) AS pair_cnt
        |  FROM vocab, unnest(range(1, length(word))) AS u(i)
        |  WHERE length(word) >= 2
        |  GROUP BY 1)
        |SELECT CAST(row_number() OVER
        |    (ORDER BY pair_cnt DESC, pair) AS BIGINT) AS rnk,
        |  pair, pair_cnt
        |FROM pairs ORDER BY rnk LIMIT 20""".stripMargin
    }),
    // F53 — tokenizer fertility (tokens per char) per (lang, source).
    // F53 — fertility exact int64 bps; chars_per_bpe_token one IEEE
    // division of exact ints (unrounded).
    Key("q_tokenizer_fertility", (s, d) =>
      CorpusPipeline.tokenizerFertility(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars_total,
        |  CAST(sum(length($duckTokens)) AS BIGINT) AS ws_tokens_total,
        |  CAST(sum(length(regexp_extract_all(text,
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpe_tokens_total,
        |  CASE WHEN sum(length(text)) > 0 THEN
        |    (CAST(sum(length($duckTokens)) AS BIGINT) * 10000)
        |      // CAST(sum(length(text)) AS BIGINT) END AS ws_fertility_bp,
        |  CASE WHEN sum(length(text)) > 0 THEN
        |    (CAST(sum(length(regexp_extract_all(text,
        |      '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) * 10000)
        |      // CAST(sum(length(text)) AS BIGINT) END AS bpe_fertility_bp,
        |  CASE WHEN sum(length(regexp_extract_all(text,
        |      '[a-z]+|[0-9]+|[^a-z0-9 ]'))) > 0 THEN
        |    CAST(sum(length(text)) AS DOUBLE)
        |      / CAST(sum(length(regexp_extract_all(text,
        |        '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE)
        |  END AS chars_per_bpe_token
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin
    }),
    // F54 — corpus head-heaviness: top-20 share + Herfindahl index.
    // F54 — top-k share exact int64 bps (total-ordered head), HHI =
    // Σf²/N² with N² one IEEE multiply of the same exact int.
    Key("q_token_concentration", (s, d) =>
      TextDedup.tokenConcentration(Tables.documents(s, d), 20), {
      import graft.functions.PortableText._
      s"""WITH freqs AS (
        |  SELECT token, count(*) AS freq
        |  FROM (SELECT unnest($duckTokens) AS token FROM documents) t
        |  GROUP BY token),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n_occurrences,
        |    count(*) AS n_vocab,
        |    CAST(sum(freq * freq) AS BIGINT) AS sum_f2
        |  FROM freqs),
        |head AS (SELECT CAST(sum(freq) AS BIGINT) AS topk_occ FROM (
        |  SELECT freq FROM freqs ORDER BY freq DESC, token LIMIT 20) h)
        |SELECT n_occurrences, n_vocab, topk_occ,
        |  CASE WHEN n_occurrences > 0 THEN
        |    (topk_occ * 10000) // n_occurrences END AS topk_share_bp,
        |  sum_f2,
        |  CASE WHEN n_occurrences > 0 THEN
        |    CAST(sum_f2 AS DOUBLE) / (CAST(n_occurrences AS DOUBLE)
        |      * CAST(n_occurrences AS DOUBLE)) END AS hhi
        |FROM tot, head""".stripMargin
    }),
    // F55 — min-token threshold sensitivity sweep per source.
    // F55 — sweep: |thresholds|-factor explode into one conditional
    // aggregate; kept share exact int64 bps.
    Key("q_threshold_sweep", (s, d) =>
      CorpusPipeline.thresholdSweep(Tables.documents(s, d),
        Seq(5L, 10L, 20L, 40L)), {
      import graft.functions.PortableText._
      s"""SELECT source, min_tokens,
        |  count(*) AS n_docs_total,
        |  CAST(sum(CASE WHEN n >= min_tokens THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_kept,
        |  CAST(sum(CASE WHEN n >= min_tokens THEN n ELSE 0 END)
        |    AS BIGINT) AS tokens_kept,
        |  (CAST(sum(CASE WHEN n >= min_tokens THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000) // count(*) AS kept_share_bp
        |FROM (SELECT source, CAST(length($duckTokens) AS BIGINT) AS n
        |  FROM documents) d,
        |  (SELECT CAST(t.min_tokens AS BIGINT) AS min_tokens
        |   FROM (VALUES (5), (10), (20), (40)) AS t(min_tokens)) t
        |GROUP BY source, min_tokens
        |ORDER BY source, min_tokens""".stripMargin
    }),
    // F56 — declared-vs-detected language confusion matrix.
    // F56 — confusion cells from the SAME detector SQL as
    // q_text_langid; shares exact int64 bps.
    Key("q_lang_confusion", (s, d) =>
      TextDedup.langConfusion(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH pred AS (
        |  SELECT lang AS declared,
        |    CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr
        |           AND hits_en >= hits_es THEN 'en'
        |         WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
        |         WHEN hits_fr >= hits_es THEN 'fr' ELSE 'es'
        |    END AS predicted
        |  FROM (SELECT lang,
        |      length(list_filter(tk, t -> list_contains(['the','a','is','of','and'], t))) AS hits_en,
        |      length(list_filter(tk, t -> list_contains(['der','die','das','und','ist'], t))) AS hits_de,
        |      length(list_filter(tk, t -> list_contains(['le','la','et','les','des'], t))) AS hits_fr,
        |      length(list_filter(tk, t -> list_contains(['el','los','las','y','es'], t))) AS hits_es
        |    FROM (SELECT lang, $duckTokens AS tk FROM documents) x) y),
        |cells AS (
        |  SELECT declared, predicted, count(*) AS n_docs
        |  FROM pred GROUP BY declared, predicted),
        |marg AS (
        |  SELECT declared, CAST(sum(n_docs) AS BIGINT) AS n_declared
        |  FROM cells GROUP BY declared)
        |SELECT cells.declared, predicted, n_docs, n_declared,
        |  (n_docs * 10000) // n_declared AS cell_share_bp,
        |  cells.declared = predicted AS agree
        |FROM cells JOIN marg ON marg.declared = cells.declared
        |ORDER BY cells.declared, predicted""".stripMargin
    }),
    // Candidates from shared LSH bucket (same hyperplane arithmetic as
    // q_ann_lsh); label equality is a filter, not the bucket key.
    Key("q_dedup_cosine", (s, d) =>
      Vectors.cosineDedup(Tables.embeddings(s, d), 0.05),
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |n AS (SELECT vec_id, label, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(8), j ->
        |        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |            list_transform(range(64), i -> v[CAST(i+1 AS INT)]
        |              * CAST((j*31 + i*17) % 5 - 2 AS DOUBLE))),
        |            (a, b) -> a + b) > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |        ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b) AS bucket
        |  FROM e),
        |p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> a.v[CAST(i+1 AS INT)] * b.v[CAST(i+1 AS INT)])),
        |      (x, y) -> x + y) / nullif(a.nrm * b.nrm, 0) AS cs
        |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.label = b.label
        |    AND a.vec_id < b.vec_id)
        |SELECT label, vec_a, vec_b, round(cs, 4) AS cos_sim
        |FROM p WHERE cs >= 0.05 ORDER BY vec_a, vec_b""".stripMargin),
    // F49 — per-label centroid drift vs the global centroid.
    Key("q_centroid_drift", (s, d) =>
      Vectors.centroidDrift(Tables.embeddings(s, d)),
      """WITH inv AS (
        |  SELECT label, i.i AS pos,
        |    CAST(embedding[CAST(i.i + 1 AS INT)] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(range(64)) AS i) i),
        |comps AS (
        |  SELECT label, pos,
        |    CAST(round(sum(v) / count(*) * 1000000.0, 0) AS BIGINT) AS cq,
        |    count(*) AS n
        |  FROM inv GROUP BY label, pos),
        |g AS (
        |  SELECT pos,
        |    CAST(round(CAST(sum(cq * n) AS DOUBLE)
        |      / CAST(sum(n) AS DOUBLE), 0) AS BIGINT) AS gq
        |  FROM comps GROUP BY pos),
        |dots AS (
        |  SELECT label, max(n) AS n_vectors,
        |    CAST(sum(cq * cq) AS BIGINT) AS ll,
        |    CAST(sum(gq * gq) AS BIGINT) AS gg,
        |    CAST(sum(cq * gq) AS BIGINT) AS lg
        |  FROM comps JOIN g USING (pos) GROUP BY label)
        |SELECT label, n_vectors,
        |  sqrt(CAST(ll AS DOUBLE)) / 1000000.0 AS centroid_norm,
        |  CASE WHEN ll > 0 AND gg > 0 THEN CAST(lg AS DOUBLE)
        |    / (sqrt(CAST(ll AS DOUBLE)) * sqrt(CAST(gg AS DOUBLE))) END
        |    AS cos_to_global
        |FROM dots ORDER BY label""".stripMargin),
    // F60 — d×d gram matrix (upper triangle) in one collapsed pass.
    // F60 — pair products cast float→double BEFORE multiply (exact,
    // bit-identical across engines); per-cell sums round(4).
    Key("q_gram_matrix", (s, d) =>
      Vectors.gramMatrix(Tables.embeddings(s, d)),
      """SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |          * CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE)), 4)
        |    AS sum_prod
        |FROM embeddings,
        |  (SELECT unnest(range(64)) AS i) ti,
        |  (SELECT unnest(range(64)) AS j) tj
        |WHERE i <= j
        |GROUP BY i, j ORDER BY i, j""".stripMargin),
    // F61 — distributed PCA: top components via the fixed power-
    // iteration cascade (driver eigen on the collapsed gram).
    // F49 — centroid drift: per-(label,pos) mean scaled+rounded to
    // exact int64; global centroid DEFINED from those quantized means
    // (n-weighted, one division + round); dots/norms exact ints,
    // cosine one IEEE division, unrounded.
    // F61 — the oracle replays the IDENTICAL fixed power-iteration
    // recurrence as an unrolled CTE cascade GENERATED from the same
    // (pcaComps, pcaIters) constants the registry call uses, so the
    // loops cannot drift (F59's discipline). Covariance derives from
    // the round(4) gram + sums; every fold (`list_reduce` with a
    // prepended 0.0) accumulates left-to-right over ascending index,
    // matching the Scala foldLeft — the engines agree bit-for-bit
    // before the final round(6).
    Key("q_pca_power", (s, d) =>
      Vectors.pcaPower(Tables.embeddings(s, d), pcaComps, pcaIters), {
      val finals = (0 until pcaComps).map { m =>
        s"SELECT CAST($m AS BIGINT) AS comp, CAST(p AS BIGINT) AS pos, " +
          "round(v[CAST(p + 1 AS INT)], 6) AS loading, " +
          "round(lam, 6) AS eigenvalue, " +
          "round(lam / tr, 6) AS explained_share " +
          s"FROM p${m}e, trace, (SELECT unnest(range($pcaDim)) AS p) pp"
      }
      s"WITH $pcaCascadeSql\nSELECT * FROM (" +
        finals.mkString(" UNION ALL ") + ") u ORDER BY comp, pos"
    }),
    // F65 — per-vector projection scores on the F61 basis.
    // F65 — projection scores from the SAME cascade (unrounded basis,
    // the Scala twin of pcaCore); per-vector fold in ascending-index
    // order, bit-identical to the Spark aggregate/zip_with spelling.
    Key("q_pca_project", (s, d) =>
      Vectors.pcaProject(Tables.embeddings(s, d), pcaComps, pcaIters), {
      val scoreCols = (0 until pcaComps).map { m =>
        s"round(list_reduce(list_prepend(0.0, list_transform(" +
          s"range($pcaDim), i -> CAST(e.embedding[CAST(i + 1 AS INT)] " +
          s"AS DOUBLE) * p$m.v[CAST(i + 1 AS INT)])), " +
          s"(a, b) -> a + b), 6) AS pc$m"
      }.mkString(",\n  ")
      val froms = (0 until pcaComps).map(m => s"p${m}e p$m").mkString(", ")
      s"""WITH $pcaCascadeSql
        |SELECT e.vec_id, e.label,
        |  $scoreCols
        |FROM embeddings e, $froms
        |ORDER BY e.vec_id""".stripMargin
    }),
    // F99 — PCA reconstruction-error anomaly scoring (the reference's
    // autoencoder scorer, linear analog; exact-int flag threshold).
    // F99 — reconstruction error from the SAME cascade: rows center
    // on mu = s/n (the cascade's round(4) sums), err = ||e||^2 minus
    // the component scores' squares (ascending-index folds, the F65
    // spelling), quantized to int64 micros via the sign-split floor
    // spelling; the flag compare runs entirely in int64.
    Key("q_recon_anomaly", (s, d) =>
      Vectors.reconAnomaly(Tables.embeddings(s, d), pcaComps, pcaIters,
        64, reconFlagPct), {
      val scoreCols = (0 until pcaComps).map { m =>
        s"list_reduce(list_prepend(0.0, list_transform(" +
          s"range($pcaDim), i -> ce[CAST(i + 1 AS INT)] " +
          s"* p$m.v[CAST(i + 1 AS INT)])), (a, b) -> a + b) AS s$m"
      }.mkString(",\n|    ")
      val froms = (0 until pcaComps).map(m => s"p${m}e p$m").mkString(", ")
      val errExpr = (0 until pcaComps)
        .foldLeft("ee")((acc, m) => s"($acc - s$m * s$m)")
      s"""WITH $pcaCascadeSql,
        |mu AS (SELECT list(s / nn.n ORDER BY i) AS mu FROM sums, nn
        |  GROUP BY nn.n),
        |cen AS (SELECT e.vec_id, e.label,
        |    list_transform(range($pcaDim), i ->
        |      CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |        - mu.mu[CAST(i + 1 AS INT)]) AS ce
        |  FROM embeddings e, mu),
        |scx AS (SELECT vec_id, label,
        |    list_reduce(list_prepend(0.0, list_transform(ce,
        |      x -> x * x)), (a, b) -> a + b) AS ee,
        |    $scoreCols
        |  FROM cen, $froms),
        |eq AS (SELECT vec_id, label,
        |    CAST(CASE WHEN $errExpr >= 0
        |      THEN floor(($errExpr) * 1000000.0 + 0.5)
        |      ELSE -floor(-($errExpr) * 1000000.0 + 0.5)
        |    END AS BIGINT) AS u
        |  FROM scx),
        |tot AS (SELECT quantile_cont(u, $reconFlagPct) AS qu FROM eq)
        |SELECT vec_id, label, CAST(u AS DOUBLE) / 1000000.0 + 0.0 AS err,
        |  (CAST(u AS DOUBLE) > tot.qu) AS is_anomaly
        |FROM eq, tot ORDER BY vec_id""".stripMargin
    }),
    Key("q_ann_topk", (s, d) =>
      Vectors.bruteForceKnn(Tables.embeddings(s, d), 10, 5),
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> q.v[CAST(i+1 AS INT)] * c.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(q.nrm * c.nrm, 0) AS cs
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
        |r AS (SELECT query_id, neighbor_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rnk FROM p)
        |SELECT query_id, neighbor_id, rnk, round(cs, 4) AS cos_sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    Key("q_ann_lsh", (s, d) => Vectors.lshBuckets(Tables.embeddings(s, d), 8),
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(8), j ->
        |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(range(64), i -> v[CAST(i+1 AS INT)]
        |            * CAST((j*31 + i*17) % 5 - 2 AS DOUBLE))),
        |          (a, b) -> a + b) > 0
        |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |      ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b) AS bucket
        |  FROM e)
        |SELECT vec_id, bucket,
        |  count(*) OVER (PARTITION BY bucket) AS bucket_size
        |FROM s ORDER BY vec_id""".stripMargin),
    Key("q_text_langid", (s, d) => TextDedup.langId(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, lang, hits_en, hits_de, hits_fr, hits_es,
        |  CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr
        |         AND hits_en >= hits_es THEN 'en'
        |       WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
        |       WHEN hits_fr >= hits_es THEN 'fr' ELSE 'es' END AS predicted
        |FROM (SELECT doc_id, lang,
        |    length(list_filter(tk, t -> list_contains(['the','a','is','of','and'], t))) AS hits_en,
        |    length(list_filter(tk, t -> list_contains(['der','die','das','und','ist'], t))) AS hits_de,
        |    length(list_filter(tk, t -> list_contains(['le','la','et','les','des'], t))) AS hits_fr,
        |    length(list_filter(tk, t -> list_contains(['el','los','las','y','es'], t))) AS hits_es
        |  FROM (SELECT doc_id, lang, $duckTokens AS tk FROM documents) x) y
        |ORDER BY doc_id""".stripMargin
    }),
    Key("q_text_quality", (s, d) =>
      TextDedup.qualityScore(Tables.documents(s, d),
        Seq("the", "a", "of", "and", "to")), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, length(text) AS len, length(tk) AS n_tokens,
        |  CASE WHEN length(text) > 0 THEN
        |    CAST(length(regexp_extract_all(text, '[.,!?;]')) AS DOUBLE)
        |      / length(text) END AS punct_ratio,
        |  CASE WHEN length(tk) > 0 THEN
        |    CAST(length(list_filter(tk, t ->
        |      list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
        |      / length(tk) END AS stop_ratio,
        |  CASE WHEN length(tk) > 0 THEN
        |    CAST(list_reduce(list_prepend(0, list_transform(tk,
        |      t -> CAST(length(t) AS INT))), (a, b) -> a + b) AS DOUBLE)
        |      / length(tk) END AS mean_word_len
        |FROM (SELECT doc_id, text, $duckTokens AS tk FROM documents) x
        |ORDER BY doc_id""".stripMargin
    }),
    Key("q_token_count", (s, d) => TextDedup.tokenCount(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, length($duckTokens) AS n_ws_tokens,
        |  length(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // F35 — corpus-trained unigram-LM mean surprisal per document.
    // F35 — unigram surprisal: freq/N exact ints, one IEEE division,
    // ln parity per D3; per-doc mean is an aggregate → round(4).
    Key("q_lm_surprisal", (s, d) =>
      LangModel.unigramSurprisal(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($duckTokens) AS token FROM documents),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
        |  FROM toks GROUP BY token),
        |tot AS (SELECT count(*) AS n_total FROM toks),
        |per AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    round(avg(-ln(CAST(freq AS DOUBLE) / n_total)), 4)
        |      AS avg_surprisal
        |  FROM toks JOIN freq USING (token), tot
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(per.n_tokens, 0) AS n_tokens,
        |  per.avg_surprisal
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F36 — codepoint Shannon-entropy profile (native expression).
    // F36 — codepoint entropy, UNROUNDED: both engines fold
    // cnt·ln(cnt) over distinct codepoints in ascending order
    // (list_sort = binary collation = codepoint order), exact int
    // counts — bit-identical doubles by construction.
    Key("q_char_entropy", (s, d) => LangModel.charEntropy(Tables.documents(s, d)),
      """WITH c AS (SELECT doc_id, length(text) AS len_cp,
        |    string_split(text, '') AS cs FROM documents)
        |SELECT doc_id, len_cp,
        |  CASE WHEN len_cp > 0 THEN length(list_distinct(cs))
        |       ELSE 0 END AS n_distinct_cp,
        |  CASE WHEN len_cp > 0 THEN
        |    ln(CAST(len_cp AS DOUBLE)) -
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(list_sort(list_distinct(cs)),
        |        ch -> CAST(length(list_filter(cs, x -> x = ch)) AS DOUBLE)
        |          * ln(CAST(length(list_filter(cs, x -> x = ch))
        |              AS DOUBLE)))),
        |      (a, b) -> a + b) / len_cp
        |  END AS entropy
        |FROM c ORDER BY doc_id""".stripMargin),
    // F40 — conditional bigram-LM surprisal (the ≥2-gram quality rung).
    // F40 — bigram LM: c2/c_head exact ints (c_head = sum of c2 —
    // CAST, the HUGEINT rule), one division, ln per D3, mean round(4).
    Key("q_bigram_surprisal", (s, d) =>
      LangModel.bigramSurprisal(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      // r16 one-tokenize-pass spelling: the (doc_id, bigram, tf)
      // frame replaces the occurrence stream; the per-doc mean is the
      // tf-weighted Σ(tf·nll)/Σtf — the identical IEEE multiply-add
      // shape the Spark side folds.
      s"""WITH tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(tk)),
        |      i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i+1 AS INT)]))
        |      AS bigram
        |  FROM tk),
        |dbt AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY doc_id, bigram),
        |c2 AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c2
        |  FROM dbt GROUP BY bigram),
        |ch AS (SELECT split_part(bigram, ' ', 1) AS head,
        |    CAST(sum(c2) AS BIGINT) AS c_head
        |  FROM c2 GROUP BY split_part(bigram, ' ', 1)),
        |sc AS (SELECT dbt.doc_id, dbt.tf,
        |    -ln(CAST(c2.c2 AS DOUBLE) / ch.c_head) AS nll
        |  FROM dbt JOIN c2 USING (bigram)
        |  JOIN ch ON ch.head = split_part(dbt.bigram, ' ', 1)),
        |per AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |    round(sum(CAST(tf AS DOUBLE) * nll)
        |      / CAST(sum(tf) AS DOUBLE), 4) AS avg_cond_surprisal
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(per.n_bigrams, 0) AS n_bigrams,
        |  per.avg_cond_surprisal
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F66 — Kneser-Ney smoothed bigram surprisal (continuation counts).
    // F66 — interpolated Kneser-Ney: all counts exact int64 (c2,
    // c_head, the N1+ continuation counts, B); the probability is ONE
    // identically-spelled IEEE expression with the hoisted discount
    // literal; self-scoring keeps c2 >= 1 > D so it is strictly
    // positive; per-doc mean round(4).
    Key("q_kn_surprisal", (s, d) =>
      LangModel.knSurprisal(Tables.documents(s, d), knDiscount), {
      import graft.functions.PortableText._
      // r16 one-tokenize-pass spelling — see q_bigram_surprisal.
      s"""WITH tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(tk)),
        |      i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i+1 AS INT)]))
        |      AS bigram
        |  FROM tk),
        |dbt AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY doc_id, bigram),
        |c2 AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c2
        |  FROM dbt GROUP BY bigram),
        |hd AS (SELECT split_part(bigram, ' ', 1) AS head,
        |    CAST(sum(c2) AS BIGINT) AS c_head,
        |    CAST(count(*) AS BIGINT) AS n1_head
        |  FROM c2 GROUP BY split_part(bigram, ' ', 1)),
        |ct AS (SELECT split_part(bigram, ' ', 2) AS tail,
        |    CAST(count(*) AS BIGINT) AS n1_cont
        |  FROM c2 GROUP BY split_part(bigram, ' ', 2)),
        |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c2),
        |sc AS (SELECT dbt.doc_id, dbt.tf,
        |    -ln((CAST(c2.c2 AS DOUBLE) - $knDiscount +
        |      $knDiscount * CAST(hd.n1_head AS DOUBLE) *
        |        (CAST(ct.n1_cont AS DOUBLE) /
        |          CAST(ty.n_types AS DOUBLE))) /
        |      CAST(hd.c_head AS DOUBLE)) AS nll
        |  FROM dbt JOIN c2 USING (bigram)
        |  JOIN hd ON hd.head = split_part(dbt.bigram, ' ', 1)
        |  JOIN ct ON ct.tail = split_part(dbt.bigram, ' ', 2)
        |  CROSS JOIN ty),
        |per AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |    round(sum(CAST(tf AS DOUBLE) * nll)
        |      / CAST(sum(tf) AS DOUBLE), 4) AS avg_kn_surprisal
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(per.n_bigrams, 0) AS n_bigrams,
        |  per.avg_kn_surprisal
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F42 — top-256 vocab coverage / per-doc OOV rate.
    // F42 — vocab coverage: boundary tie broken by (freq desc, token
    // asc) total order; oov_rate one division of exact ints, unrounded.
    Key("q_vocab_coverage", (s, d) =>
      LangModel.vocabCoverage(Tables.documents(s, d), 256), {
      import graft.functions.PortableText._
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($duckTokens) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS freq FROM toks GROUP BY token),
        |vocab AS (SELECT token FROM freq
        |  ORDER BY freq DESC, token LIMIT 256),
        |per AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    count(*) FILTER (WHERE v.token IS NULL) AS n_oov
        |  FROM toks t LEFT JOIN vocab v USING (token)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  coalesce(per.n_tokens, 0) AS n_tokens,
        |  coalesce(per.n_oov, 0) AS n_oov,
        |  CASE WHEN per.n_tokens > 0 THEN
        |    CAST(per.n_oov AS DOUBLE) / per.n_tokens END AS oov_rate
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F46 — DSIR-style quantized importance weights vs target source.
    // F46 — DSIR-lite: C = (N_all·10⁴) div N_target fixed once, then
    // w_bp = (tf_target·C) div tf_all — all exact int64 (`//` = Spark
    // DIV, both truncate toward zero, operands non-negative); mean one
    // IEEE division of exact ints, unrounded.
    Key("q_importance_weights", (s, d) =>
      LangModel.importanceWeights(Tables.documents(s, d), "src3"), {
      import graft.functions.PortableText._
      s"""WITH toks AS (
        |  SELECT doc_id, source, unnest($duckTokens) AS token
        |  FROM documents),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS tf_all,
        |    CAST(sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tf_target
        |  FROM toks GROUP BY token),
        |tot AS (SELECT (CAST(sum(tf_all) AS BIGINT) * 10000)
        |      // CAST(sum(tf_target) AS BIGINT) AS c_ratio
        |  FROM freq),
        |per AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum((tf_target * c_ratio) // tf_all) AS BIGINT)
        |      AS sum_w_bp
        |  FROM toks JOIN freq USING (token), tot
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |  coalesce(per.n_tokens, 0) AS n_tokens,
        |  coalesce(per.sum_w_bp, 0) AS sum_w_bp,
        |  CAST(per.sum_w_bp AS DOUBLE) / CAST(per.n_tokens AS DOUBLE)
        |    AS avg_w_bp
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F41 — dedup-pair audit: exact Jaccard vs MinHash estimate over
    // a deterministic 5% hash sample of the candidate pairs.
    // F41 — audit: same band/bucket CTEs as the minhash family; the
    // exact intersection runs only on flagged pairs; ratios are
    // exact-int divisions, unrounded.
    Key("q_dedup_audit", (s, d) =>
      TextDedup.dedupAudit(Tables.documents(s, d), samplePct = 5), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, th, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |p0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_hash = y.band_hash
        |    AND x.doc_id < y.doc_id
        |  WHERE x.band_hash IS NOT NULL),
        |p AS (SELECT doc_a, doc_b FROM p0
        |  WHERE ${duckHashOrder("(doc_a * 31 + doc_b)")} % 100 < 5),
        |j AS (SELECT p.doc_a, p.doc_b,
        |    length(list_filter(list_distinct(ma.th), v -> list_contains(mb.th, v)))
        |      AS n_common,
        |    length(list_distinct(ma.th)) + length(list_distinct(mb.th)) AS sz,
        |    length(list_filter(range($MinHashK),
        |      i -> ma.mh[CAST(i+1 AS INT)] = mb.mh[CAST(i+1 AS INT)]))
        |      AS mh_agree
        |  FROM p JOIN m ma ON ma.doc_id = p.doc_a
        |  JOIN m mb ON mb.doc_id = p.doc_b)
        |SELECT doc_a, doc_b,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  CAST(sz - n_common AS BIGINT) AS n_union,
        |  CAST(n_common AS DOUBLE) / (sz - n_common) AS jaccard,
        |  CAST(mh_agree AS BIGINT) AS mh_agree,
        |  CAST(mh_agree AS DOUBLE) / $MinHashK AS mh_est,
        |  abs(CAST(mh_agree AS DOUBLE) / $MinHashK
        |    - CAST(n_common AS DOUBLE) / (sz - n_common)) AS abs_err
        |FROM j ORDER BY doc_a, doc_b""".stripMargin
    }),
    // F85 — planted-mutation dedup recall benchmark (severity ladder).
    // F85 — recall benchmark: the SAME mutation arithmetic (DuckDB
    // list lambdas are 1-based where Spark's are 0-based — aligned so
    // both drop exactly the k·i-th tokens), the F2 band CTEs over the
    // constructed corpus, detection via a left join of the planted
    // list; counts exact, recall/kept_share one division each.
    Key("q_dedup_recall", (s, d) =>
      TextDedup.dedupRecallBench(Tables.documents(s, d),
        recallSeverities), {
      import graft.functions.PortableText._
      val muts = recallSeverities.map { k =>
        s"""SELECT doc_id + ${k * 10000000L} AS doc_id,
          |    array_to_string(list_filter($duckTokens,
          |      (t, i) -> i % $k <> 0), ' ') AS text, lang, source
          |  FROM base""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      val sev = recallSeverities.map(k => s"($k)").mkString(", ")
      s"""WITH base AS (SELECT doc_id, text, lang, source
        |  FROM documents WHERE doc_id % 20 = 0),
        |mut AS ($muts),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |t AS (SELECT doc_id, $duckTokenHashes AS th FROM corpus),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |p0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_hash = y.band_hash
        |    AND x.doc_id < y.doc_id
        |  WHERE x.band_hash IS NOT NULL),
        |planted AS (SELECT s.k AS severity, b.doc_id AS doc_a,
        |    b.doc_id + s.k * 10000000 AS doc_b
        |  FROM (VALUES $sev) s(k), base b)
        |SELECT severity, count(*) AS n_planted,
        |  count(p0.doc_a) AS n_detected,
        |  CAST(count(p0.doc_a) AS DOUBLE) / count(*) AS recall,
        |  CAST(severity - 1 AS DOUBLE) / severity AS kept_share
        |FROM planted LEFT JOIN p0 USING (doc_a, doc_b)
        |GROUP BY severity ORDER BY severity""".stripMargin
    }),
    // F71 — dedup-threshold calibration curve (exact-int cutoffs).
    // F71 and F74 both consume the FULL banded-candidate census;
    // it is built once per session (TextDedup.pairCensus, a pinned
    // checkpoint) and shared — identical values, one census cost
    // (r12 measured the independent rebuilds at 18.6 s + 13.3 s).
    // F71 — F41's band/pair/intersection CTEs (full population, no
    // sample), thresholds from the generated VALUES list; the cutoff
    // is the exact-int cross-multiplication 10·n_common >= t·n_union;
    // zero-pair thresholds keep their row; drop share exact bps.
    Key("q_dedup_curve", (s, d) =>
      TextDedup.dedupThresholdCurve(Tables.documents(s, d),
        dedupThrTenths,
        Some(TextDedup.pairCensus(Tables.documents(s, d), d))), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, th, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |p0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_hash = y.band_hash
        |    AND x.doc_id < y.doc_id
        |  WHERE x.band_hash IS NOT NULL),
        |j AS (SELECT p0.doc_a, p0.doc_b,
        |    length(list_filter(list_distinct(ma.th), v -> list_contains(mb.th, v)))
        |      AS n_common,
        |    length(list_distinct(ma.th)) + length(list_distinct(mb.th))
        |      - length(list_filter(list_distinct(ma.th), v -> list_contains(mb.th, v)))
        |      AS n_union
        |  FROM p0 JOIN m ma ON ma.doc_id = p0.doc_a
        |  JOIN m mb ON mb.doc_id = p0.doc_b),
        |thr AS (SELECT CAST(v.t AS INT) AS thr_tenths
        |  FROM (VALUES $dedupThrTenthsSql) v(t)),
        |q AS (SELECT thr_tenths, count(*) AS n_pairs,
        |    count(DISTINCT doc_b) AS n_docs_dropped
        |  FROM j, thr
        |  WHERE n_common * 10 >= thr_tenths * n_union
        |  GROUP BY thr_tenths),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT thr.thr_tenths,
        |  coalesce(q.n_pairs, 0) AS n_pairs,
        |  coalesce(q.n_docs_dropped, 0) AS n_docs_dropped,
        |  (coalesce(q.n_docs_dropped, 0) * 10000) // n.n_docs
        |    AS drop_share_bp
        |FROM thr LEFT JOIN q USING (thr_tenths) CROSS JOIN n
        |ORDER BY thr.thr_tenths""".stripMargin
    }),
    // F74 — LSH (bands × rows) S-curve planner over the candidate
    // pairs' exact Jaccard distribution (shared census, see F71).
    // F74 — LSH planner: the SAME t/m/bands/p0/j candidate chain as
    // q_dedup_curve; per config the product-chain S-curve from
    // TextDedup.detectProbExpr (one spelling, both engines — no libm
    // pow), ppm-quantized per pair before order-free integer sums
    // (HUGEINT sums CAST back), wanted = exact-int cross-mult.
    Key("q_lsh_planner", (s, d) =>
      TextDedup.lshPlanner(Tables.documents(s, d), lshPlanConfigs,
        Some(TextDedup.pairCensus(Tables.documents(s, d), d))), {
      import graft.functions.PortableText._
      val cfgSelects = lshPlanConfigs.map { case (b, r) =>
        s"""SELECT $b AS n_bands, $r AS rows_per_band,
          |    CAST(round((${graft.operators.TextDedup.detectProbExpr(b, r)})
          |      * 1000000.0, 0) AS BIGINT) AS p_q,
          |    2 * n_common >= n_union AS wanted
          |  FROM jac""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH t AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, th, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |p0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.band_hash = y.band_hash
        |    AND x.doc_id < y.doc_id
        |  WHERE x.band_hash IS NOT NULL),
        |j AS (SELECT p0.doc_a, p0.doc_b,
        |    length(list_filter(list_distinct(ma.th), v -> list_contains(mb.th, v)))
        |      AS n_common,
        |    length(list_distinct(ma.th)) + length(list_distinct(mb.th))
        |      - length(list_filter(list_distinct(ma.th), v -> list_contains(mb.th, v)))
        |      AS n_union
        |  FROM p0 JOIN m ma ON ma.doc_id = p0.doc_a
        |  JOIN m mb ON mb.doc_id = p0.doc_b),
        |jac AS (SELECT n_common, n_union,
        |    CAST(n_common AS DOUBLE) / n_union AS jacc
        |  FROM j),
        |u AS ($cfgSelects)
        |SELECT n_bands, rows_per_band, count(*) AS n_pairs,
        |  CAST(sum(p_q) AS BIGINT) AS det_ppm,
        |  count(CASE WHEN wanted THEN 1 END) AS n_wanted,
        |  CAST(sum(CASE WHEN wanted THEN p_q ELSE 0 END) AS BIGINT)
        |    AS det_wanted_ppm,
        |  CAST(sum(CASE WHEN NOT wanted THEN p_q ELSE 0 END) AS BIGINT)
        |    AS det_unwanted_ppm,
        |  CAST(CAST(sum(p_q) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*)
        |    AS mean_det
        |FROM u GROUP BY n_bands, rows_per_band
        |ORDER BY rows_per_band, n_bands""".stripMargin
    }),
    // F37 — temperature-scaled (α=1/2) mixture sampling, budget 200.
    // F37 — mixture sampling: quantized-sqrt weights make the whole
    // allocation int64-exact (floor(√n·1e6) is bit-identical — sqrt
    // is IEEE-correctly-rounded); // and div both truncate.
    Key("q_mixture_sample", (s, d) =>
      CorpusPipeline.mixtureSample(Tables.documents(s, d), 200L), {
      import graft.functions.PortableText._
      s"""WITH c AS (SELECT source, count(*) AS n_docs
        |  FROM documents GROUP BY source),
        |q AS (SELECT source, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS sq FROM c),
        |z AS (SELECT CAST(sum(sq) AS BIGINT) AS z FROM q),
        |t AS (SELECT source, n_docs, sq,
        |    least(n_docs, (200 * sq) // z) AS tgt FROM q, z),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ${duckHashOrder("doc_id")}, doc_id) AS rnk
        |  FROM documents)
        |SELECT r.source, r.doc_id, r.rnk, t.tgt
        |FROM r JOIN t USING (source) WHERE r.rnk <= t.tgt
        |ORDER BY source, rnk""".stripMargin
    }),
    // F38 — kNN-density outlier score: 100 targets, k=10.
    // F38 — kNN density: q_ann_topk's pair CTE with a per-target
    // mean over the top-k; out_rank orders the ROUNDED density.
    Key("q_knn_density", (s, d) =>
      Vectors.knnDensity(Tables.embeddings(s, d), 100, 10),
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS target_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> q.v[CAST(i+1 AS INT)] * c.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(q.nrm * c.nrm, 0) AS cs
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 100),
        |r AS (SELECT target_id, cs,
        |    row_number() OVER (PARTITION BY target_id
        |      ORDER BY cs DESC, neighbor_id) AS rnk FROM p),
        |d AS (SELECT target_id, round(avg(cs), 4) AS density,
        |    count(cs) AS n_neighbors
        |  FROM r WHERE rnk <= 10 GROUP BY target_id)
        |SELECT target_id, n_neighbors, density,
        |  row_number() OVER (ORDER BY density ASC NULLS FIRST, target_id)
        |    AS out_rank
        |FROM d ORDER BY target_id""".stripMargin),
    // F89 — filtered vector search: F6's top-k among label==3 only.
    // F89 — F6's oracle with the metadata predicate on the CANDIDATE
    // side only (queries come from anywhere — asymmetric by design).
    Key("q_ann_filtered", (s, d) =>
      Vectors.filteredKnn(Tables.embeddings(s, d), 10, 5, annFilterLabel),
      s"""WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> q.v[CAST(i+1 AS INT)] * c.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(q.nrm * c.nrm, 0) AS cs
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10 AND c.label = $annFilterLabel),
        |r AS (SELECT query_id, neighbor_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rnk FROM p)
        |SELECT query_id, neighbor_id, rnk, round(cs, 4) AS cos_sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // F39 — IVF-PQ composed search: coarse cell prune + ADC rerank.
    // F39 — IVF-PQ replay: q_ann_ivf's cell CTEs + q_pq_codes' code
    // CTEs, ADC terms per (query, candidate) summed in subspace order
    // (matching Spark's reduceLeft over the driver-built tables),
    // rank on the RAW double, round(4) display only.
    Key("q_ivfpq_search", (s, d) =>
      Vectors.ivfPqSearch(Tables.embeddings(s, d), 10, 5), {
      def dot(n: Int)(a: String, b: String): String =
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range($n), i -> $a[CAST(i+1 AS INT)] * " +
          s"$b[CAST(i+1 AS INT)])), (x, y) -> x + y)"
      val d8 = dot(8) _; val d64 = dot(64) _
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d AS (SELECT e.vec_id, c.cid, ${d64("v", "cv")} AS dt FROM e, c),
        |cell AS (SELECT vec_id, cid AS cell FROM
        |  (SELECT vec_id, cid,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cid) AS rn
        |   FROM d) x WHERE rn = 1),
        |ss AS (SELECT unnest(range(8)) AS s),
        |sub AS (SELECT e.vec_id, ss.s,
        |    v[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS sv FROM e, ss),
        |cb AS (SELECT s, vec_id AS j, sv AS cv FROM sub WHERE vec_id < 16),
        |sc AS (SELECT sub.vec_id, sub.s, cb.j,
        |    ${d8("cv", "cv")} - 2 * ${d8("sv", "cv")} AS score
        |  FROM sub JOIN cb ON cb.s = sub.s),
        |code AS (SELECT vec_id, s, j AS code
        |  FROM (SELECT vec_id, s, j,
        |    row_number() OVER (PARTITION BY vec_id, s ORDER BY score, j)
        |      AS rn FROM sc) x WHERE rn = 1),
        |qsub AS (SELECT vec_id AS query_id, s, sv AS qs
        |  FROM sub WHERE vec_id < 10),
        |term AS (SELECT qsub.query_id, code.vec_id, code.s,
        |    ${d8("qs", "qs")} + ${d8("cv", "cv")} - 2 * ${d8("qs", "cv")}
        |      AS term
        |  FROM code JOIN cb ON cb.s = code.s AND cb.j = code.code
        |  JOIN qsub ON qsub.s = code.s),
        |adc AS (SELECT query_id, vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(term ORDER BY s)), (a, b) -> a + b) AS adc_raw
        |  FROM term GROUP BY query_id, vec_id),
        |qc AS (SELECT vec_id AS query_id, cell FROM cell
        |  WHERE vec_id < 10),
        |cand AS (SELECT adc.query_id, qc.cell, adc.neighbor_id,
        |    adc.adc_raw
        |  FROM adc JOIN qc USING (query_id)
        |  JOIN cell nb ON nb.vec_id = adc.neighbor_id
        |    AND nb.cell = qc.cell
        |  WHERE adc.neighbor_id <> adc.query_id),
        |r AS (SELECT query_id, cell, neighbor_id, adc_raw,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_raw, neighbor_id) AS rnk
        |  FROM cand)
        |SELECT query_id, cell, neighbor_id, rnk,
        |  round(adc_raw, 4) AS adc_dist
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
    }),
    Key("q_doc_fingerprint", (s, d) => TextDedup.fingerprint(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, $duckDocFingerprint AS fp
        |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // F11b — winnowing fingerprint selection (char 5-grams, window 8).
    // Winnowing: fingerprint = hash*2^21 + position (flat bigint —
    // DuckDB list_distinct can't take structs); fold replaces on
    // decoded-hash ≤ so the rightmost minimum wins; k=5, w=8. List
    // slice l[s : s+7] is 1-based inclusive and clamps, matching
    // Spark's slice(gs, s, 8).
    Key("q_winnow", (s, d) =>
      TextDedup.winnowFingerprints(Tables.documents(s, d), 5, 8), {
      import graft.functions.PortableText._
      s"""WITH g0 AS (SELECT doc_id, text,
        |    greatest(length(text) - 4, 0) AS n_grams FROM documents),
        |g1 AS (SELECT doc_id, n_grams,
        |    list_transform(range(1, greatest(n_grams, 1) + 1), i ->
        |      ${duckPolyHash("substr(text, CAST(i AS INT), 5)")} * 2097152 + i)
        |      AS gs,
        |    CASE WHEN n_grams = 0 THEN 0 WHEN n_grams < 8 THEN 1
        |         ELSE n_grams - 7 END AS n_windows
        |  FROM g0),
        |fp AS (SELECT doc_id, n_grams, n_windows,
        |    CASE WHEN n_windows >= 1 THEN
        |      list_distinct(list_transform(range(1, n_windows + 1), s ->
        |        list_reduce(
        |          list_prepend(CAST(9223372036854775807 AS BIGINT),
        |            gs[CAST(s AS INT) : CAST(s + 7 AS INT)]),
        |          (acc, x) -> CASE WHEN x // 2097152 <= acc // 2097152
        |                           THEN x ELSE acc END)))
        |    END AS fps
        |  FROM g1)
        |SELECT doc_id, n_grams, n_windows,
        |  CASE WHEN n_windows >= 1 THEN length(fps) ELSE 0 END
        |    AS n_fingerprints,
        |  CASE WHEN n_windows >= 1 THEN
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(fps, f -> f // 2097152)), (a, b) -> a + b)
        |  ELSE 0 END AS fp_sum
        |FROM fp ORDER BY doc_id""".stripMargin
    }),
    // F102 — content-defined chunking profile (Gear CDC, 64-cp mask).
    // F102 — the CDC dual: each position's rolling hash is an
    // INDEPENDENT fold over its <=32-cp window (contributions older
    // than 32 positions carry 2^>=32 = 0 mod 2^32 — the locality
    // that makes CDC parallel); boundaries where the mask hits or at
    // doc end; chunk hashes via the polyhash fold over the
    // boundary-delimited slices (starts = boundaries shifted by one,
    // 0-prepended — no conditional slice bounds).
    Key("q_cdc_chunks", (s, d) =>
      TextDedup.cdcChunks(Tables.documents(s, d), cdcMaskBits), {
      import graft.functions.PortableText._
      val m = (1L << cdcMaskBits)
      s"""WITH c0 AS (SELECT source, doc_id,
        |    list_transform(string_split(text, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT)) AS cs
        |  FROM documents WHERE length(text) >= 1),
        |b AS (SELECT source, doc_id, cs,
        |    list_filter(range(1, len(cs) + 1), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(cs[greatest(1, i - 31):i],
        |            ch -> (ch * 2654435761) % 4294967296)),
        |        (a, g) -> (a * 2 + g) % 4294967296) % $m = 0
        |      OR i = len(cs)) AS bp
        |  FROM c0),
        |ck AS (SELECT source, doc_id,
        |    unnest(list_transform(range(1, len(bp) + 1), k ->
        |      {h: list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            cs[sp[CAST(k AS INT)] + 1:bp[CAST(k AS INT)]]),
        |          (a, c) -> (a * 31 + c) % $P),
        |       l: bp[CAST(k AS INT)] - sp[CAST(k AS INT)]})) AS c
        |  FROM (SELECT source, doc_id, cs, bp,
        |      list_prepend(CAST(0 AS BIGINT), bp) AS sp FROM b) x),
        |cc AS (SELECT source, doc_id, c.h AS h, c.l AS len FROM ck),
        |multi AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |    FROM cc GROUP BY h) z WHERE nd >= 2)
        |SELECT cc.source,
        |  count(DISTINCT cc.doc_id) AS n_docs,
        |  count(*) AS n_chunks,
        |  round(CAST(sum(cc.len) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 4) AS avg_chunk_len,
        |  CAST(count(m.h) AS BIGINT) AS n_dup_chunks,
        |  round(CAST(count(m.h) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 4) AS dup_share
        |FROM cc LEFT JOIN multi m USING (h)
        |GROUP BY cc.source ORDER BY cc.source""".stripMargin
    }),
    Key("q_text_repetition", (s, d) =>
      TextDedup.repetitionProfile(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, length(tk) AS n_tokens,
        |  length(list_distinct(tk)) AS n_distinct,
        |  CASE WHEN length(tk) > 0 THEN
        |    1.0 - CAST(length(list_distinct(tk)) AS DOUBLE) / length(tk)
        |  END AS rep_ratio
        |FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x
        |ORDER BY doc_id""".stripMargin
    }),
    // F9c — repeated-passage profile (duplicate word 3-grams).
    // Gram spelling as in q_decontaminate (n=3: range(1, len-1),
    // 3-wide slices); dup count = total − distinct; exact-int division
    // unrounded, NULL when the doc has no 3-grams.
    Key("q_repeated_spans", (s, d) =>
      TextDedup.repeatedSpans(Tables.documents(s, d), 3), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, length(g) AS n_grams,
        |  length(g) - length(list_distinct(g)) AS n_dup_grams,
        |  CASE WHEN length(g) > 0 THEN
        |    CAST(length(g) - length(list_distinct(g)) AS DOUBLE) / length(g)
        |  END AS dup_ratio
        |FROM (SELECT doc_id,
        |    list_transform(range(1, length(tk) - 1),
        |      i -> array_to_string(tk[i:i+2], ' ')) AS g
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x) y
        |ORDER BY doc_id""".stripMargin
    }),
    Key("q_token_freq", (s, d) =>
      TextDedup.tokenFrequency(Tables.documents(s, d), 20), {
      import graft.functions.PortableText._
      s"""SELECT token, count(*) AS freq
        |FROM (SELECT unnest($duckTokens) AS token FROM documents) x
        |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin
    }),
    // F94 — incremental vocab maintenance: base ⊎ delta merge; the
    // oracle recomputes from the full corpus (merge == recompute).
    // F94 — the oracle computes all three counts from the FULL corpus
    // in one pass; the Spark side merges two per-release aggregates —
    // the hash match IS the merge-equals-recompute identity.
    Key("q_incr_vocab", (s, d) =>
      TextDedup.incrementalVocab(Tables.documents(s, d),
        incrVocabSplit, incrVocabK), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS token
        |  FROM documents),
        |c AS (SELECT token,
        |    CAST(sum(CASE WHEN doc_id <= $incrVocabSplit
        |      THEN 1 ELSE 0 END) AS BIGINT) AS base_cnt,
        |    CAST(sum(CASE WHEN doc_id > $incrVocabSplit
        |      THEN 1 ELSE 0 END) AS BIGINT) AS delta_cnt,
        |    count(*) AS total_cnt
        |  FROM tok GROUP BY token),
        |k AS (SELECT * FROM c
        |  ORDER BY total_cnt DESC, token LIMIT $incrVocabK)
        |SELECT row_number() OVER (ORDER BY total_cnt DESC, token)
        |    AS rnk, token, base_cnt, delta_cnt, total_cnt
        |FROM k ORDER BY rnk""".stripMargin
    }),
    // F95 — duplication-graph source centrality (weighted PageRank).
    // F95 — PageRank over the cross-source duplication graph: the
    // round cascade is GENERATED from centIters (the bpeCascadeSql
    // rule — round count cannot drift), every double op one shared
    // spelling, teleport denominator the nodes-count subquery.
    Key("q_source_centrality", (s, d) =>
      TextDedup.sourceCentrality(Tables.documents(s, d),
        centIters, centDamping), {
      import graft.functions.PortableText._
      val rounds = (1 to centIters).map { r =>
        s"""c$r AS (SELECT e.dst AS source,
          |    sum(p.pr * (CAST(e.w AS DOUBLE) / CAST(ow.outw AS DOUBLE)))
          |      AS inflow
          |  FROM e JOIN ow ON e.src = ow.src
          |  JOIN pr${r - 1} p ON p.source = e.src
          |  GROUP BY e.dst),
          |pr$r AS (SELECT n.source,
          |    (1.0 - $centDamping) / (SELECT n FROM nn)
          |      + $centDamping * coalesce(c$r.inflow, 0.0) AS pr
          |  FROM nodes n LEFT JOIN c$r ON n.source = c$r.source)""".stripMargin
      }.mkString(",\n")
      s"""WITH fps AS (SELECT source, $duckDocFingerprint AS fp
        |  FROM documents),
        |ps AS (SELECT fp, source, count(*) AS n FROM fps GROUP BY 1, 2),
        |e AS (SELECT a.source AS src, b.source AS dst,
        |    CAST(sum(a.n * b.n) AS BIGINT) AS w
        |  FROM ps a JOIN ps b ON a.fp = b.fp AND a.source <> b.source
        |  GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT source FROM documents),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw
        |  FROM e GROUP BY src),
        |pr0 AS (SELECT source, 1.0 / (SELECT n FROM nn) AS pr
        |  FROM nodes),
        |$rounds
        |SELECT source, round(pr, 4) AS pagerank FROM pr$centIters
        |ORDER BY source""".stripMargin
    }),
    // F96 — token-mass-weighted WOR sample (Efraimidis–Spirakis,
    // deterministic hash randomness).
    // F96 — ES weighted WOR sample: u from the shared multiplicative
    // hash ((h+1)/(P+1), never ln(0)), ordering by ln(u)/w (libm pow
    // avoided), per-source row_number over the (es_key DESC, doc_id)
    // total order; es_key element-wise unrounded.
    Key("q_weighted_sample", (s, d) =>
      CorpusPipeline.weightedSample(Tables.documents(s, d), wsampleK), {
      import graft.functions.PortableText._
      s"""WITH b AS (SELECT doc_id, source,
        |    CAST(length($duckTokens) AS BIGINT) AS weight
        |  FROM documents),
        |u AS (SELECT *,
        |    CAST(${duckHashOrder("doc_id")} + 1 AS DOUBLE)
        |      / CAST(${P + 1L} AS DOUBLE) AS u
        |  FROM b WHERE weight > 0),
        |s AS (SELECT *, ln(u) / CAST(weight AS DOUBLE) AS es_key
        |  FROM u),
        |r AS (SELECT source, doc_id, weight, es_key,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY es_key DESC, doc_id) AS rnk
        |  FROM s)
        |SELECT source, rnk, doc_id, weight, es_key
        |FROM r WHERE rnk <= $wsampleK
        |ORDER BY source, rnk""".stripMargin
    }),
    // F97 — held-out perplexity: train on the train split, score the
    // val split, Laplace over the train vocabulary.
    // F97 — held-out perplexity: split predicates via the shared F16
    // hash fragment, Laplace (c+1)/(N+V) in one fixed ln spelling,
    // OOV rows keep c = 0 through the LEFT join, per-doc mean
    // round(4) (float sweep).
    Key("q_heldout_ppl", (s, d) =>
      CorpusPipeline.heldOutPerplexity(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH tr AS (SELECT token, count(*) AS c
        |  FROM (SELECT unnest($duckTokens) AS token FROM documents
        |    WHERE ${duckHashOrder("doc_id")} % 100 < 80) x
        |  GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
        |    count(*) AS v FROM tr),
        |vd AS (SELECT doc_id, text FROM documents
        |  WHERE ${duckHashOrder("doc_id")} % 100 >= 80
        |    AND ${duckHashOrder("doc_id")} % 100 < 90),
        |vt AS (SELECT doc_id, unnest($duckTokens) AS token FROM vd),
        |sc AS (SELECT vt.doc_id, coalesce(tr.c, 0) AS c
        |  FROM vt LEFT JOIN tr USING (token)),
        |pd AS (SELECT sc.doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_oov,
        |    round(avg(-(ln(CAST(c AS DOUBLE) + 1.0)
        |      - ln(CAST(n_total AS DOUBLE) + CAST(v AS DOUBLE)))), 4)
        |      AS avg_nll
        |  FROM sc, tot GROUP BY sc.doc_id)
        |SELECT vd.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
        |  coalesce(pd.n_oov, 0) AS n_oov, pd.avg_nll
        |FROM vd LEFT JOIN pd USING (doc_id)
        |ORDER BY vd.doc_id""".stripMargin
    }),
    // F98 — Heaps'-law vocabulary-growth fit over corpus prefixes.
    // F57 — Zipf fit: ln inputs are IDENTICAL exact ints (count, rank)
    // both engines; the five OLS sums round(4) over the k-row frame
    // (D25's ln-input discipline); slope/intercept/r2 derive from the
    // ROUNDED sums with identically-spelled IEEE expressions.
    // F98 — Heaps fit: exact-int-div prefix buckets off the max-id
    // scalar, first-bucket cumulative histogram (one explode, never B
    // distinct scans), F57's rounded-sums-then-closed-form
    // discipline. Slope/intercept/r2 carry the D60 `round(..) + 0.0`
    // negative-zero normalization (DuckDB fp-round emits -0.0 for
    // tiny negatives; Spark BigDecimal-round never does — the r11
    // heaps_beta hash drift was exactly this).
    Key("q_heaps_fit", (s, d) =>
      TextDedup.heapsFit(Tables.documents(s, d), heapsBuckets), {
      import graft.functions.PortableText._
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |pd AS (SELECT CAST(doc_id * $heapsBuckets // (mx + 1) AS INT)
        |      AS b,
        |    CAST(sum(length($duckTokens)) AS BIGINT) AS toks
        |  FROM documents, mx GROUP BY 1),
        |fb AS (SELECT CAST(doc_id * $heapsBuckets // (mx + 1) AS INT)
        |      AS b,
        |    count(*) AS vocab
        |  FROM (SELECT token, min(doc_id) AS doc_id
        |    FROM (SELECT doc_id, unnest($duckTokens) AS token
        |      FROM documents) t
        |    GROUP BY token) f, mx
        |  GROUP BY 1),
        |pts AS (SELECT coalesce(pd.b, fb.b) AS b,
        |    coalesce(toks, 0) AS toks, coalesce(vocab, 0) AS vocab
        |  FROM pd FULL OUTER JOIN fb ON pd.b = fb.b),
        |cum AS (SELECT b,
        |    sum(toks) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS ct,
        |    sum(vocab) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cv
        |  FROM pts),
        |xy AS (SELECT ln(CAST(ct AS DOUBLE)) AS x,
        |    ln(CAST(cv AS DOUBLE)) AS y
        |  FROM cum WHERE ct > 0 AND cv > 0),
        |s AS (SELECT count(*) AS n_points,
        |    round(sum(x), 4) AS sx, round(sum(y), 4) AS sy,
        |    round(sum(x * x), 4) AS sxx, round(sum(x * y), 4) AS sxy,
        |    round(sum(y * y), 4) AS syy
        |  FROM xy)
        |SELECT n_points,
        |  CASE WHEN n_points * sxx - sx * sx > 0 THEN
        |    round((n_points * sxy - sx * sy)
        |      / (n_points * sxx - sx * sx), 4) + 0.0 END AS heaps_beta,
        |  CASE WHEN n_points * sxx - sx * sx > 0 THEN
        |    round((sy - ((n_points * sxy - sx * sy)
        |      / (n_points * sxx - sx * sx)) * sx) / n_points, 4) + 0.0
        |  END AS ln_k,
        |  CASE WHEN n_points * sxx - sx * sx > 0
        |    AND n_points * syy - sy * sy > 0 THEN
        |    round(((n_points * sxy - sx * sy) * (n_points * sxy - sx * sy))
        |      / ((n_points * sxx - sx * sx) * (n_points * syy - sy * sy)),
        |      4) + 0.0 END AS r2
        |FROM s""".stripMargin
    }),
    // F57 — Zipf-law OLS over the top-100 token spectrum.
    Key("q_zipf_fit", (s, d) =>
      TextDedup.zipfFit(Tables.documents(s, d), zipfTopK), {
      import graft.functions.PortableText._
      s"""WITH top AS (
        |  SELECT count(*) AS cnt, token
        |  FROM (SELECT unnest($duckTokens) AS token FROM documents) x
        |  GROUP BY token ORDER BY cnt DESC, token LIMIT $zipfTopK),
        |ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token)
        |    AS BIGINT) AS rnk, cnt FROM top),
        |sums AS (
        |  SELECT count(*) AS n_tokens,
        |    round(sum(ln(CAST(rnk AS DOUBLE))), 4) AS sx,
        |    round(sum(ln(CAST(cnt AS DOUBLE))), 4) AS sy,
        |    round(sum(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE))), 4)
        |      AS sxx,
        |    round(sum(ln(CAST(rnk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))), 4)
        |      AS sxy,
        |    round(sum(ln(CAST(cnt AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))), 4)
        |      AS syy
        |  FROM ranked)
        |SELECT n_tokens,
        |  CASE WHEN n_tokens * sxx - sx * sx > 0 THEN
        |    round((n_tokens * sxy - sx * sy) / (n_tokens * sxx - sx * sx), 4)
        |  END AS slope,
        |  CASE WHEN n_tokens * sxx - sx * sx > 0 THEN
        |    round((sy - ((n_tokens * sxy - sx * sy)
        |      / (n_tokens * sxx - sx * sx)) * sx) / n_tokens, 4)
        |  END AS intercept,
        |  CASE WHEN n_tokens * sxx - sx * sx > 0
        |    AND n_tokens * syy - sy * sy > 0 THEN
        |    round(((n_tokens * sxy - sx * sy) * (n_tokens * sxy - sx * sy))
        |      / ((n_tokens * sxx - sx * sx) * (n_tokens * syy - sy * sy)), 4)
        |  END AS r2
        |FROM sums""".stripMargin
    }),
    // F62 — maximal cross-doc duplicated token spans per document.
    // Boilerplate share: distinct per-doc grams → df → join back; the
    // ratio is one exact-int division, NULL for gram-less docs.
    // F62 — positional w-gram hashes, cross-doc df on the hash,
    // gap ≤ w clustering into maximal spans; share = exact-int IEEE
    // division, unrounded.
    Key("q_dup_spans", (s, d) =>
      TextDedup.dupSpans(Tables.documents(s, d), dupSpanW), {
      import graft.functions.PortableText._
      val w = dupSpanW
      val gramHash = duckPolyHash(
        s"array_to_string(tk[CAST(p + 1 AS INT):CAST(p + $w AS INT)], ' ')")
      s"""WITH sized AS (
        |  SELECT doc_id, CAST(length(tk) AS BIGINT) AS n_tokens, tk
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) b),
        |grams AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p, $gramHash AS h
        |  FROM (SELECT doc_id, tk, unnest(range(length(tk) - ${w - 1}))
        |      AS p
        |    FROM sized WHERE length(tk) >= $w) gp),
        |dup AS (SELECT h FROM grams GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (
        |  SELECT doc_id, p,
        |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p)
        |        IS NULL
        |      OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $w
        |    THEN 1 ELSE 0 END AS ns
        |  FROM grams JOIN dup USING (h)),
        |clust AS (
        |  SELECT doc_id, p, sum(ns) OVER (PARTITION BY doc_id
        |    ORDER BY p ROWS UNBOUNDED PRECEDING) AS cl
        |  FROM marked),
        |spans AS (
        |  SELECT doc_id, cl, max(p) - min(p) + $w AS span_tokens
        |  FROM clust GROUP BY doc_id, cl),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
        |    CAST(sum(span_tokens) AS BIGINT) AS covered_tokens,
        |    CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
        |  FROM spans GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(a.covered_tokens, 0) AS BIGINT)
        |    AS covered_tokens,
        |  CAST(coalesce(a.max_span_tokens, 0) AS BIGINT)
        |    AS max_span_tokens,
        |  CASE WHEN s.n_tokens > 0 THEN
        |    CAST(coalesce(a.covered_tokens, 0) AS DOUBLE)
        |      / CAST(s.n_tokens AS DOUBLE)
        |  ELSE 0.0 END AS dup_share
        |FROM sized s LEFT JOIN agg a USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin
    }),
    // F64 — rewrite docs with the duplicated spans excised.
    // F64 — same gram/df CTEs as q_dup_spans (one spelling of
    // "duplicated"); coverage via the union + running-max window
    // (starts sort BEFORE the token at the same position); cleaned
    // text = kept tokens re-joined in position order.
    Key("q_dup_excise", (s, d) =>
      TextDedup.dupSpanExcise(Tables.documents(s, d), dupSpanW), {
      import graft.functions.PortableText._
      val w = dupSpanW
      val gramHash = duckPolyHash(
        s"array_to_string(tk[CAST(p + 1 AS INT):CAST(p + $w AS INT)], ' ')")
      s"""WITH sized AS (
        |  SELECT doc_id, CAST(length(tk) AS BIGINT) AS n_tokens, tk
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) b),
        |grams AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p, $gramHash AS h
        |  FROM (SELECT doc_id, tk, unnest(range(length(tk) - ${w - 1}))
        |      AS p
        |    FROM sized WHERE length(tk) >= $w) gp),
        |dup AS (SELECT h FROM grams GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |starts AS (
        |  SELECT doc_id, p AS pos, CAST(NULL AS VARCHAR) AS token,
        |    1 AS is_start, p + ${w - 1} AS cover_end
        |  FROM grams JOIN dup USING (h)),
        |toks AS (
        |  SELECT doc_id, CAST(t AS BIGINT) AS pos,
        |    tk[CAST(t + 1 AS INT)] AS token, 0 AS is_start,
        |    CAST(NULL AS BIGINT) AS cover_end
        |  FROM (SELECT doc_id, tk, unnest(range(length(tk))) AS t
        |    FROM sized) x),
        |markd AS (
        |  SELECT doc_id, pos, token, is_start,
        |    max(cover_end) OVER (PARTITION BY doc_id
        |      ORDER BY pos, is_start DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS run_end
        |  FROM (SELECT * FROM toks UNION ALL SELECT * FROM starts) m),
        |tokd AS (
        |  SELECT doc_id, pos, token,
        |    (run_end IS NULL OR run_end < pos) AS kept
        |  FROM markd WHERE is_start = 0),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept,
        |    string_agg(CASE WHEN kept THEN token END, ' '
        |      ORDER BY pos) AS cleaned_text
        |  FROM tokd GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(p.n_tokens, 0) - coalesce(p.n_kept, 0)
        |    AS BIGINT) AS n_removed,
        |  CASE WHEN coalesce(p.n_tokens, 0) > 0 THEN
        |    CAST(p.n_tokens - p.n_kept AS DOUBLE)
        |      / CAST(p.n_tokens AS DOUBLE)
        |  END AS removed_share,
        |  coalesce(p.cleaned_text, '') AS cleaned_text
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F59 — the BPE trainer loop: 5 adaptive merge rounds.
    // F59 — the BPE trainer's oracle recomputes the SAME adaptive
    // cascade in pure SQL: per round, an argmax CTE (cnt DESC, pair —
    // exact ints, total order) and a list_reduce string fold spelled
    // identically to the Spark `aggregate` (both seed with the first
    // symbol; `acc || t` completes the merge in place because the
    // accumulator's last symbol IS pa when the guard holds). The CTE
    // chain is GENERATED by the same loop count as the operator, so
    // round count cannot drift.
    Key("q_bpe_train", (s, d) =>
      TextDedup.bpeTrain(Tables.documents(s, d), bpeMergeRounds), {
      val out = (1 to bpeMergeRounds).map(r =>
        s"SELECT $r AS merge_idx, pair, cnt AS pair_cnt FROM m$r")
        .mkString("\n UNION ALL ")
      s"""WITH $bpeCascadeSql
        |$out
        |ORDER BY merge_idx""".stripMargin
    }),
    // F63 — encode the corpus with the trained tokenizer.
    // F63 — the encode oracle replays the SAME generated training
    // cascade, reconstructs each word from its final segmentation
    // (replace(seg, ' ', '') — symbols never contain spaces) and
    // joins the corpus back on the word; ratios are IEEE divisions
    // of exact ints, unrounded.
    Key("q_bpe_encode", (s, d) =>
      TextDedup.bpeEncode(Tables.documents(s, d), bpeMergeRounds), {
      import graft.functions.PortableText._
      s"""WITH $bpeCascadeSql,
        |tok AS (SELECT replace(seg, ' ', '') AS word,
        |    CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_sym
        |  FROM seg$bpeMergeRounds),
        |dw AS (SELECT doc_id, unnest($duckTokens) AS word
        |  FROM documents),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
        |    CAST(sum(length(word)) AS BIGINT) AS n_chars
        |  FROM dw JOIN tok USING (word) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_words, 0) AS n_words,
        |  coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
        |  coalesce(a.n_chars, 0) AS n_chars,
        |  CASE WHEN coalesce(a.n_words, 0) > 0 THEN
        |    CAST(a.n_bpe_tokens AS DOUBLE) / CAST(a.n_words AS DOUBLE)
        |  END AS fertility,
        |  CASE WHEN coalesce(a.n_bpe_tokens, 0) > 0 THEN
        |    CAST(a.n_chars AS DOUBLE) / CAST(a.n_bpe_tokens AS DOUBLE)
        |  END AS chars_per_token
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F93 — BPE compression curve: token mass per merge rung.
    // F93 — the compression-curve oracle replays the SAME generated
    // cascade and aggregates Σ freq·|symbols| at every rung (0 = the
    // character baseline from seg0); saved via lag, compression one
    // IEEE division of exact ints round(4).
    Key("q_bpe_curve", (s, d) =>
      TextDedup.bpeCompressionCurve(Tables.documents(s, d),
        bpeMergeRounds), {
      val rungs = (0 to bpeMergeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_idx, " +
          "CAST(sum(freq * len(string_split(seg, ' '))) AS BIGINT) " +
          s"AS corpus_tokens FROM seg$r")
        .mkString("\n UNION ALL ")
      s"""WITH $bpeCascadeSql,
        |u AS ($rungs),
        |w AS (SELECT merge_idx, corpus_tokens,
        |    CAST(coalesce(lag(corpus_tokens) OVER (ORDER BY merge_idx)
        |      - corpus_tokens, 0) AS BIGINT) AS tokens_saved
        |  FROM u),
        |b AS (SELECT corpus_tokens AS m0 FROM u WHERE merge_idx = 0)
        |SELECT merge_idx, corpus_tokens, tokens_saved,
        |  round(CAST(m0 AS DOUBLE) / CAST(corpus_tokens AS DOUBLE), 4)
        |    AS compression
        |FROM w, b ORDER BY merge_idx""".stripMargin
    }),
    // F14b — portable HLL over word 2-grams (m=32 registers).
    // Portable HLL: integer-only rho bit scan (no libm), registers
    // maxed per 5-bit bucket, harmonic denominator kept scaled by 2^26
    // (sum of exact ints), one identically-spelled double division for
    // the estimate. Word-2-gram spelling as in WordGrams' dual.
    Key("q_hll_ndv", (s, d) => TextDedup.hllNdv(Tables.documents(s, d), 2), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, length(tk)),
        |    i -> array_to_string(tk[i:i+1], ' '))) AS gram FROM tok),
        |p1 AS (SELECT (3 * ${duckPolyHash("gram")} + 7) % $P AS u FROM g),
        |p2 AS (SELECT u % 32 AS reg, u // 32 AS rest FROM p1),
        |p3 AS (SELECT reg, list_reduce(
        |    list_prepend(CAST(26 AS BIGINT),
        |      list_transform(range(1, 26), j -> j)),
        |    (acc, j) -> CASE WHEN acc = 26
        |        AND (rest >> CAST(25 - j AS INT)) % 2 = 1
        |      THEN j ELSE acc END) AS rho
        |  FROM p2),
        |regs AS (SELECT reg, max(rho) AS m_reg FROM p3 GROUP BY reg),
        |allr AS (SELECT r.reg, coalesce(regs.m_reg, 0) AS m_reg
        |  FROM (SELECT unnest(range(32)) AS reg) r
        |  LEFT JOIN regs USING (reg)),
        |summ AS (SELECT count(*) AS m,
        |    CAST(sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_registers,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(26 - m_reg AS INT))
        |      AS BIGINT) AS sum_scaled
        |  FROM allr),
        |ex AS (SELECT count(DISTINCT gram) AS exact_ndv FROM g)
        |SELECT m, n_zero_registers, sum_scaled,
        |  cast(0.697 as double) * 1024 * 67108864
        |    / cast(sum_scaled as double) AS est_ndv,
        |  exact_ndv,
        |  CASE WHEN exact_ndv > 0 THEN
        |    (cast(0.697 as double) * 1024 * 67108864
        |      / cast(sum_scaled as double) - exact_ndv) / exact_ndv
        |  END AS rel_err
        |FROM summ, ex ORDER BY m""".stripMargin
    }),
    // tf/df is one IEEE division of exact counts: values AND ordering
    // are bit-identical across engines, so score stays unrounded.
    Key("q_term_saliency", (s, d) =>
      TextDedup.termSaliency(Tables.documents(s, d), 3), {
      import graft.functions.PortableText._
      s"""WITH tfreq AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest($duckTokens) AS token
        |        FROM documents) x
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tfreq GROUP BY token),
        |s AS (SELECT tfreq.doc_id, tfreq.token, tfreq.tf, dfreq.df,
        |    CAST(tfreq.tf AS DOUBLE) / dfreq.df AS score,
        |    row_number() OVER (PARTITION BY tfreq.doc_id
        |      ORDER BY CAST(tfreq.tf AS DOUBLE) / dfreq.df DESC, tfreq.token)
        |      AS rnk
        |  FROM tfreq JOIN dfreq USING (token))
        |SELECT doc_id, token, tf, df, score, rnk
        |FROM s WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin
    }),
    // F15–F17 — corpus-pipeline stages: quality filter with reason
    // codes, deterministic hash split, n-gram decontamination.
    Key("q_quality_filter", (s, d) =>
      CorpusPipeline.qualityFilter(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH q AS (
        |  SELECT doc_id, length(tk) AS n_tokens,
        |    CASE WHEN length(tk) > 0 THEN
        |      1.0 - CAST(length(list_distinct(tk)) AS DOUBLE) / length(tk)
        |    END AS rep_ratio,
        |    CASE WHEN length(tk) > 0 THEN
        |      CAST(length(list_filter(tk, t ->
        |        list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
        |        / length(tk) END AS stop_ratio
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x)
        |SELECT doc_id, n_tokens, rep_ratio, stop_ratio,
        |  (CASE WHEN n_tokens < 20 THEN 'short'
        |        WHEN rep_ratio > 0.65 THEN 'repetitive'
        |        WHEN stop_ratio < 0.01 THEN 'low_stop' END) IS NULL AS keep,
        |  CASE WHEN n_tokens < 20 THEN 'short'
        |       WHEN rep_ratio > 0.65 THEN 'repetitive'
        |       WHEN stop_ratio < 0.01 THEN 'low_stop' END AS drop_reason
        |FROM q ORDER BY doc_id""".stripMargin
    }),
    // F73 — hashed-feature linear classifier inference (broadcast
    // weight table, exact-int margin, sign verdict).
    Key("q_classifier_score", (s, d) =>
      CorpusPipeline.classifierScore(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS tok
        |  FROM documents),
        |ft AS (SELECT doc_id, ${duckPolyHash("tok")} % 1024 AS bucket
        |  FROM tok),
        |w AS (SELECT r AS bucket, (r * 37 + 11) % 21 - 10 AS w
        |  FROM (SELECT unnest(range(1024)) AS r)),
        |ag AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(w.w) AS BIGINT) AS margin
        |  FROM ft JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(ag.n_tokens, 0) AS n_tokens,
        |  coalesce(ag.margin, 0) AS margin,
        |  CASE WHEN ag.n_tokens > 0
        |    THEN CAST(ag.margin AS DOUBLE) / ag.n_tokens END AS avg_margin,
        |  coalesce(ag.margin, 0) >= 0 AS label
        |FROM documents d LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    }),
    // F92 — Naive Bayes quality-classifier TRAINING: rule-labeled
    // corpus, Laplace-smoothed class counts, learned-vs-rule audit.
    // F73 — classifier inference: per-token polyhash buckets (the
    // duckPolyHash dual, non-negative so plain % is pmod), the SAME
    // integer weight formula on a range() table, margin CAST back to
    // BIGINT from DuckDB's HUGEINT sum, avg one IEEE division, label
    // on the exact int; token-less docs keep margin 0 via left join.
    // F92 — NB trainer: rule labels via integer cross-multiply, class
    // counts exact int64, each log-odds term ONE fixed left-assoc ln
    // spelling (F86 rule), margins = prior + per-doc term sum, mean
    // margin round(4) (float sweep), agree_rate exact-int division.
    Key("q_nb_classifier", (s, d) =>
      LangModel.nbQualityClassifier(Tables.documents(s, d),
        minTok = nbMinTok, minStopPct = nbMinStopPct), {
      import graft.functions.PortableText._
      s"""WITH lab AS (SELECT doc_id, source, length(tk) AS n_tok,
        |    length(list_filter(tk, t ->
        |      list_contains(['the','a','of','and','to'], t))) AS n_stop
        |  FROM (SELECT doc_id, source, $duckTokens AS tk
        |    FROM documents) x),
        |lab2 AS (SELECT *, n_tok >= $nbMinTok
        |    AND n_stop * 100 >= n_tok * $nbMinStopPct AS pos FROM lab),
        |tl AS (SELECT t.doc_id, t.token, l.pos
        |  FROM (SELECT doc_id, unnest($duckTokens) AS token
        |    FROM documents) t JOIN lab2 l USING (doc_id)),
        |cc AS (SELECT token,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c0
        |  FROM tl GROUP BY token),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1w,
        |    CAST(sum(c0) AS BIGINT) AS n0w, count(*) AS v FROM cc),
        |pr AS (SELECT
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n1d,
        |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0d
        |  FROM lab2),
        |pd AS (SELECT tl.doc_id,
        |    sum(ln(CAST(c1 AS DOUBLE) + 1.0)
        |      - ln(CAST(n1w AS DOUBLE) + CAST(v AS DOUBLE))
        |      - ln(CAST(c0 AS DOUBLE) + 1.0)
        |      + ln(CAST(n0w AS DOUBLE) + CAST(v AS DOUBLE))) AS tsum
        |  FROM tl JOIN cc USING (token), tot GROUP BY tl.doc_id),
        |sc AS (SELECT l.source, l.pos,
        |    ln(CAST(n1d AS DOUBLE) + 1.0) - ln(CAST(n0d AS DOUBLE) + 1.0)
        |      + coalesce(pd.tsum, 0.0) AS margin
        |  FROM lab2 l LEFT JOIN pd USING (doc_id), pr),
        |sc2 AS (SELECT source, pos, margin, margin > 0 AS pred FROM sc)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos_label,
        |  CAST(sum(CASE WHEN pred THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos_pred,
        |  CAST(sum(CASE WHEN pos = pred THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_agree,
        |  CAST(sum(CASE WHEN pos = pred THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS agree_rate,
        |  round(avg(margin), 4) AS mean_margin
        |FROM sc2 GROUP BY source ORDER BY source""".stripMargin
    }),
    // F75 — token-budget waterfill: max-min fair allocation at the
    // solved water level.
    // F75 — waterfill: same rank/prefix windows on the source frame,
    // band pick by exact-int cross-mult (ORDER BY j LIMIT 1), level
    // via // on non-negative ints (== Spark div), slack CAST back
    // from the HUGEINT sum.
    Key("q_waterfill", (s, d) =>
      CorpusPipeline.waterfillAllocation(Tables.documents(s, d),
        waterfillPct), {
      import graft.functions.PortableText._
      s"""WITH tk AS (SELECT source,
        |    CAST(sum(length($duckTokens)) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT count(*) AS n_src,
        |    CAST(sum(avail_tokens) AS BIGINT) AS total_avail FROM tk),
        |r AS (SELECT source, avail_tokens,
        |    (n.total_avail * $waterfillPct) // 100 AS budget,
        |    row_number() OVER (ORDER BY avail_tokens, source) AS j,
        |    coalesce(CAST(sum(avail_tokens) OVER (
        |      ORDER BY avail_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS pb,
        |    n.n_src - row_number() OVER (ORDER BY avail_tokens, source)
        |      + 1 AS rem
        |  FROM tk, n),
        |lv AS (SELECT (budget - pb) // rem AS water_level, 1 AS _one
        |  FROM r WHERE budget - pb <= avail_tokens * rem
        |  ORDER BY j LIMIT 1),
        |al AS (SELECT r.source, r.avail_tokens, r.budget, lv.water_level,
        |    CASE WHEN lv.water_level IS NOT NULL
        |      THEN least(r.avail_tokens, lv.water_level)
        |      ELSE r.avail_tokens END AS alloc_tokens
        |  FROM r LEFT JOIN lv ON true)
        |SELECT source, avail_tokens, alloc_tokens,
        |  alloc_tokens = avail_tokens AS fully_funded,
        |  water_level, budget,
        |  budget - CAST((SELECT sum(alloc_tokens) FROM al) AS BIGINT)
        |    AS budget_slack
        |FROM al ORDER BY source""".stripMargin
    }),
    // F76 — KS drift test (one source vs rest) on exact length CDFs.
    // F76 — KS drift: same (source, len) collapse, bounded CDF grid,
    // exact-int cumulatives, one IEEE division per CDF value, sup
    // picked by (|diff| desc, len asc) — identical doubles rank
    // identically; int-len tiebreak.
    Key("q_ks_drift", (s, d) =>
      CorpusPipeline.ksDrift(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH sl AS (SELECT source, CAST(length($duckTokens) AS BIGINT)
        |      AS len
        |  FROM documents),
        |bysl AS (SELECT source, len, count(*) AS c_sl
        |  FROM sl GROUP BY source, len),
        |byl AS (SELECT len, CAST(sum(c_sl) AS BIGINT) AS c_l
        |  FROM bysl GROUP BY len),
        |ns AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS n_s
        |  FROM bysl GROUP BY source),
        |nall AS (SELECT CAST(sum(c_sl) AS BIGINT) AS n_all FROM bysl),
        |grid AS (SELECT ns.source, byl.len, ns.n_s, nall.n_all, byl.c_l,
        |    coalesce(bysl.c_sl, 0) AS c_sl
        |  FROM ns CROSS JOIN byl CROSS JOIN nall
        |  LEFT JOIN bysl ON bysl.source = ns.source AND bysl.len = byl.len),
        |cdf AS (SELECT source, len, n_s, n_all,
        |    CAST(sum(c_sl) OVER (PARTITION BY source ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_s,
        |    CAST(sum(c_l) OVER (PARTITION BY source ORDER BY len
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_all
        |  FROM grid),
        |d AS (SELECT source, len, n_s, n_all,
        |    CASE WHEN n_all - n_s > 0 THEN
        |      abs(CAST(cum_s AS DOUBLE) / n_s
        |        - CAST(cum_all - cum_s AS DOUBLE) / (n_all - n_s)) END
        |      AS absdiff
        |  FROM cdf),
        |r AS (SELECT source, len, n_s, n_all, absdiff,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY absdiff DESC NULLS LAST, len) AS rnk
        |  FROM d)
        |SELECT source, n_s AS n_docs, n_all - n_s AS n_rest,
        |  absdiff AS ks_stat, len AS ks_at_len
        |FROM r WHERE rnk = 1 ORDER BY source""".stripMargin
    }),
    // F77 — hashed-TF doc vectors, verified via exact scalar profile.
    // F77 — hashed-TF profile: dense 64-bucket grid per doc (left
    // join), exact-int count/support/checksum sums (HUGEINT CAST),
    // nrm = sqrt of an exact int — every scalar engine-identical.
    Key("q_text_embed", (s, d) =>
      CorpusPipeline.textEmbedProfile(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS tok
        |  FROM documents),
        |bk AS (SELECT doc_id, ${duckPolyHash("tok")} % 64 AS b,
        |    count(*) AS c
        |  FROM tok GROUP BY doc_id, b),
        |g AS (SELECT d.doc_id, r.r AS b
        |  FROM documents d CROSS JOIN (SELECT unnest(range(64)) AS r) r),
        |v AS (SELECT g.doc_id, g.b, coalesce(bk.c, 0) AS c
        |  FROM g LEFT JOIN bk ON bk.doc_id = g.doc_id AND bk.b = g.b)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(CASE WHEN c > 0 THEN 1 END) AS nnz,
        |  CAST(sum((b + 1) * c * c) AS BIGINT) AS vec_checksum,
        |  sqrt(CAST(CAST(sum(c * c) AS BIGINT) AS DOUBLE)) AS nrm
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    // F81 — curation attribution: quality × near-dup joint verdicts
    // per source (the drop Sankey).
    // F81 — attribution: the q_corpus_select qf/dup CTE chains
    // re-composed into the 2×2 per-source matrix; counts exact,
    // share one IEEE division.
    Key("q_curation_matrix", (s, d) =>
      CorpusPipeline.curationAttribution(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |qf AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(tk) < 20 THEN 'short'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              1.0 - CAST(length(list_distinct(tk)) AS DOUBLE)
        |                / length(tk) END > 0.65 THEN 'repetitive'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              CAST(length(list_filter(tk, t -> list_contains(
        |                ['the','a','of','and','to'], t))) AS DOUBLE)
        |                / length(tk) END < 0.01 THEN 'low_stop'
        |     END) IS NULL AS keep
        |  FROM tk),
        |th AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM th),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |bf AS (SELECT band, band_hash, min(doc_id) AS first_doc
        |       FROM bands WHERE band_hash IS NOT NULL
        |       GROUP BY band, band_hash),
        |dup AS (SELECT bands.doc_id,
        |         bool_or(first_doc < bands.doc_id) AS is_dup
        |       FROM bands JOIN bf USING (band, band_hash)
        |       GROUP BY bands.doc_id),
        |v AS (SELECT d.source, qf.keep,
        |    coalesce(dup.is_dup, false) AS is_dup
        |  FROM documents d
        |  JOIN qf ON qf.doc_id = d.doc_id
        |  LEFT JOIN dup ON dup.doc_id = d.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  count(CASE WHEN keep AND NOT is_dup THEN 1 END) AS n_clean,
        |  count(CASE WHEN NOT keep AND NOT is_dup THEN 1 END)
        |    AS n_quality_only,
        |  count(CASE WHEN keep AND is_dup THEN 1 END) AS n_dup_only,
        |  count(CASE WHEN NOT keep AND is_dup THEN 1 END) AS n_both,
        |  CAST(count(CASE WHEN keep AND NOT is_dup THEN 1 END) AS DOUBLE)
        |    / count(*) AS clean_share
        |FROM v GROUP BY source ORDER BY source""".stripMargin
    }),
    // F83 — classifier-vs-rules calibration by margin bin.
    // F83 — calibration: F73's margin CTE + F15's keep CTE joined,
    // floor-binned on the double (signed // vs div — the D50 rule),
    // clamped, exact counts, one division per share.
    Key("q_clf_calibration", (s, d) =>
      CorpusPipeline.classifierCalibration(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS tok
        |  FROM documents),
        |ft AS (SELECT doc_id, ${duckPolyHash("tok")} % 1024 AS bucket
        |  FROM tok),
        |w AS (SELECT r AS bucket, (r * 37 + 11) % 21 - 10 AS w
        |  FROM (SELECT unnest(range(1024)) AS r)),
        |ag AS (SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS margin
        |  FROM ft JOIN w USING (bucket) GROUP BY doc_id),
        |clf AS (SELECT d.doc_id, coalesce(ag.margin, 0) AS margin,
        |    coalesce(ag.margin, 0) >= 0 AS label
        |  FROM documents d LEFT JOIN ag USING (doc_id)),
        |tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |qf AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(tk) < 20 THEN 'short'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              1.0 - CAST(length(list_distinct(tk)) AS DOUBLE)
        |                / length(tk) END > 0.65 THEN 'repetitive'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              CAST(length(list_filter(tk, t -> list_contains(
        |                ['the','a','of','and','to'], t))) AS DOUBLE)
        |                / length(tk) END < 0.01 THEN 'low_stop'
        |     END) IS NULL AS keep
        |  FROM tk),
        |j AS (SELECT clf.margin, clf.label, qf.keep,
        |    greatest(least(CAST(floor(CAST(clf.margin AS DOUBLE)
        |      / 40.0) AS BIGINT), 3), -3) AS bin
        |  FROM clf JOIN qf USING (doc_id))
        |SELECT bin, count(*) AS n_docs,
        |  count(CASE WHEN label THEN 1 END) AS n_clf_keep,
        |  count(CASE WHEN keep THEN 1 END) AS n_rule_keep,
        |  count(CASE WHEN label = keep THEN 1 END) AS n_agree,
        |  CAST(count(CASE WHEN keep THEN 1 END) AS DOUBLE) / count(*)
        |    AS rule_keep_share,
        |  CAST(count(CASE WHEN label = keep THEN 1 END) AS DOUBLE)
        |    / count(*) AS agree_share
        |FROM j GROUP BY bin ORDER BY bin""".stripMargin
    }),
    // F103 — exact tie-aware AUC of the margin vs the rule verdicts.
    // F103 — the AUC oracle: the q_clf_calibration clf/qf CTEs
    // joined to source, then the exact pair-counting identity —
    // distinct-margin cells, a cumulative neg-below window, and one
    // integer aggregate; AUC = one division of exact ints.
    Key("q_clf_auc", (s, d) =>
      CorpusPipeline.classifierAuc(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS tok
        |  FROM documents),
        |ft AS (SELECT doc_id, ${duckPolyHash("tok")} % 1024 AS bucket
        |  FROM tok),
        |w AS (SELECT r AS bucket, (r * 37 + 11) % 21 - 10 AS w
        |  FROM (SELECT unnest(range(1024)) AS r)),
        |ag AS (SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS margin
        |  FROM ft JOIN w USING (bucket) GROUP BY doc_id),
        |clf AS (SELECT d.doc_id, coalesce(ag.margin, 0) AS margin
        |  FROM documents d LEFT JOIN ag USING (doc_id)),
        |tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |qf AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(tk) < 20 THEN 'short'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              1.0 - CAST(length(list_distinct(tk)) AS DOUBLE)
        |                / length(tk) END > 0.65 THEN 'repetitive'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              CAST(length(list_filter(tk, t -> list_contains(
        |                ['the','a','of','and','to'], t))) AS DOUBLE)
        |                / length(tk) END < 0.01 THEN 'low_stop'
        |     END) IS NULL AS keep
        |  FROM tk),
        |j AS (SELECT d.source, clf.margin, qf.keep
        |  FROM documents d JOIN clf USING (doc_id)
        |  JOIN qf USING (doc_id)),
        |g AS (SELECT source, margin,
        |    count(CASE WHEN keep THEN 1 END) AS np,
        |    count(CASE WHEN NOT keep THEN 1 END) AS nn
        |  FROM j GROUP BY 1, 2),
        |c AS (SELECT source, np, nn,
        |    coalesce(sum(nn) OVER (PARTITION BY source ORDER BY margin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS nn_below
        |  FROM g)
        |SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(np * nn_below) AS BIGINT) AS n_conc,
        |  CAST(sum(np * nn) AS BIGINT) AS n_tied,
        |  CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
        |    round(CAST(2 * sum(np * nn_below) + sum(np * nn) AS DOUBLE)
        |      / CAST(2 * sum(np) * sum(nn) AS DOUBLE), 4)
        |  END AS auc
        |FROM c GROUP BY source ORDER BY source""".stripMargin
    }),
    // F104 — temperature-scaled mixture weight curve (sqrt ladder).
    // F104 — the temperature-curve oracle: exact int64 token counts,
    // the same sqrt ladder (IEEE sqrt is correctly rounded — no
    // pow/exp/ln), scores scaled by the per-T max (deterministic)
    // then quantized to parts-per-1e12 — overflow-free at any corpus
    // size — integer normalizer, one division.
    Key("q_mixture_temps", (s, d) =>
      CorpusPipeline.mixtureTemperatureCurve(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH c AS (SELECT source,
        |    CAST(sum(len($duckTokens)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |x AS (SELECT t_quarters, source, n_tokens,
        |    CASE t_quarters
        |      WHEN 1 THEN sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
        |      WHEN 2 THEN sqrt(CAST(n_tokens AS DOUBLE))
        |      WHEN 3 THEN sqrt(CAST(n_tokens AS DOUBLE))
        |        * sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
        |      ELSE CAST(n_tokens AS DOUBLE)
        |    END AS s
        |  FROM c, (SELECT unnest(range(1, 5)) AS t_quarters) t),
        |q AS (SELECT t_quarters, source, n_tokens,
        |    CAST(floor(s / max(s) OVER (PARTITION BY t_quarters)
        |      * 1000000000000.0 + 0.5) AS BIGINT) AS sq FROM x)
        |SELECT t_quarters, source, n_tokens,
        |  round(CAST(sq AS DOUBLE) / CAST(sum(sq) OVER
        |    (PARTITION BY t_quarters) AS DOUBLE), 6) AS weight
        |FROM q ORDER BY t_quarters, source""".stripMargin
    }),
    // F105 — the decontamination gram-width calibration sweep.
    // F105 — the sweep oracle: one generated branch per gram width
    // (the q_contamination_score CTE shape collapsed to a summary
    // row; per-doc fractions ppm-quantized so the mean is an exact
    // integer sum).
    Key("q_decon_sweep", (s, d) =>
      CorpusPipeline.decontaminationSweep(Tables.documents(s, d),
        deconSweepNs), {
      import graft.functions.PortableText._
      val branches = deconSweepNs.map { n =>
        s"""SELECT CAST($n AS BIGINT) AS n,
          |  count(*) AS n_heldout,
          |  count(CASE WHEN n_overlap > 0 THEN 1 END) AS n_flagged,
          |  round(CAST(count(CASE WHEN n_overlap > 0 THEN 1 END)
          |      AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE), 4) AS flag_share,
          |  CASE WHEN count(CASE WHEN n_grams > 0 THEN 1 END) > 0 THEN
          |    round(CAST(sum(CASE WHEN n_grams > 0 THEN
          |        CAST(floor(CAST(n_overlap AS DOUBLE)
          |          / CAST(n_grams AS DOUBLE) * 1000000.0 + 0.5)
          |          AS BIGINT) END) AS DOUBLE)
          |      / CAST(count(CASE WHEN n_grams > 0 THEN 1 END)
          |          AS DOUBLE) / 1000000.0, 4)
          |  END AS mean_frac
          |FROM (
          |  SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
          |    coalesce(per.n_overlap, 0) AS n_overlap
          |  FROM documents d LEFT JOIN (
          |    SELECT te.doc_id, count(*) AS n_grams,
          |      count(tr.hit) AS n_overlap
          |    FROM (SELECT DISTINCT doc_id, gram FROM g$n
          |          WHERE doc_id % 50 = 0) te
          |    LEFT JOIN (SELECT DISTINCT gram, 1 AS hit FROM g$n
          |               WHERE doc_id % 50 <> 0) tr USING (gram)
          |    GROUP BY te.doc_id) per ON d.doc_id = per.doc_id
          |  WHERE d.doc_id % 50 = 0) h$n""".stripMargin
      }
      val gramCtes = deconSweepNs.map { n =>
        s"""g$n AS (
          |  SELECT doc_id, unnest(list_transform(
          |    range(1, length(tk) - ${n - 2}),
          |    i -> array_to_string(tk[i:i+${n - 1}], ' '))) AS gram
          |  FROM tk0)""".stripMargin
      }
      s"""WITH tk0 AS (SELECT doc_id, $duckTokens AS tk
        |  FROM documents),
        |${gramCtes.mkString(",\n")}
        |SELECT * FROM (${branches.mkString(" UNION ALL ")}) u
        |ORDER BY n""".stripMargin
    }),
    // F80 — corpus snapshot delta: old = even ids, new = ids not
    // divisible by 3 with %5 docs content-mutated — all four classes
    // populated by construction.
    // F80 — corpus delta: both snapshots via the SAME duckPolyHash
    // fingerprint (text-equality in the oracle could disagree with a
    // Spark fp collision — one spelling, both engines), full outer
    // join on doc_id, exact class counts, churn one IEEE division.
    Key("q_corpus_delta", (s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 2 === 0)
      val newSnap = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      CorpusPipeline.corpusDelta(oldSnap, newSnap)
    }, {
      import graft.functions.PortableText._
      s"""WITH o AS (SELECT doc_id, source, $duckDocFingerprint AS fp
        |  FROM documents WHERE doc_id % 2 = 0),
        |n AS (SELECT doc_id, source,
        |    ${duckPolyHash(
               "CASE WHEN doc_id % 5 = 0 THEN text || ' v2' " +
                 "ELSE text END")} AS fp
        |  FROM documents WHERE doc_id % 3 <> 0),
        |j AS (SELECT coalesce(n.source, o.source) AS source,
        |    CASE WHEN o.fp IS NULL THEN 'added'
        |         WHEN n.fp IS NULL THEN 'removed'
        |         WHEN o.fp = n.fp THEN 'unchanged'
        |         ELSE 'changed' END AS cls
        |  FROM o FULL OUTER JOIN n USING (doc_id))
        |SELECT source,
        |  count(CASE WHEN cls = 'added' THEN 1 END) AS n_added,
        |  count(CASE WHEN cls = 'removed' THEN 1 END) AS n_removed,
        |  count(CASE WHEN cls = 'changed' THEN 1 END) AS n_changed,
        |  count(CASE WHEN cls = 'unchanged' THEN 1 END) AS n_unchanged,
        |  count(*) AS n_tracked,
        |  CAST(count(CASE WHEN cls <> 'unchanged' THEN 1 END) AS DOUBLE)
        |    / count(*) AS churn
        |FROM j GROUP BY source ORDER BY source""".stripMargin
    }),
    // F90 — release manifest: per-split counts + content checksum.
    // The shared pmod hash spelling lives in PortableText.duckHashOrder
    // (negative-id parity rationale documented there).
    // F90 — release manifest: F16's split CASE + fingerprint sums;
    // checksum reduced mod p after the sum (HUGEINT rule).
    Key("q_release_manifest", (s, d) =>
      CorpusPipeline.releaseManifest(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH s AS (SELECT doc_id,
        |    CASE WHEN ${duckHashOrder("doc_id")} % 100 < 80
        |           THEN 'train'
        |         WHEN ${duckHashOrder("doc_id")} % 100 < 90
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(length($duckTokens) AS BIGINT) AS n_toks,
        |    $duckDocFingerprint AS fp
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(CAST(sum(fp) AS HUGEINT) % $P AS BIGINT)
        |    AS content_checksum,
        |  min(f.doc_id) AS min_doc_id, max(f.doc_id) AS max_doc_id
        |FROM f JOIN s USING (doc_id)
        |GROUP BY split ORDER BY split""".stripMargin
    }),
    Key("q_hash_split", (s, d) =>
      CorpusPipeline.hashSplit(Tables.documents(s, d)), {
      import graft.functions.PortableText.duckHashOrder
      s"""SELECT doc_id, lang, source,
        |  CASE WHEN ${duckHashOrder("doc_id")} % 100 < 80
        |         THEN 'train'
        |       WHEN ${duckHashOrder("doc_id")} % 100 < 90
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin
    }),
    Key("q_decontaminate", (s, d) =>
      CorpusPipeline.decontaminate(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(tk) - 3),
        |    i -> array_to_string(tk[i:i+4], ' '))) AS gram
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x),
        |tr AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 <> 0),
        |te AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 = 0),
        |ov AS (SELECT te.doc_id, count(*) AS n_overlap
        |       FROM te JOIN tr USING (gram) GROUP BY te.doc_id)
        |SELECT d.doc_id, coalesce(ov.n_overlap, 0) AS n_overlap,
        |  coalesce(ov.n_overlap, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
        |WHERE d.doc_id % 50 = 0 ORDER BY d.doc_id""".stripMargin
    }),
    // F43 — graded contamination score (overlap fraction, not a flag).
    // F43 — overlap_frac one division of exact counts, unrounded.
    Key("q_contamination_score", (s, d) =>
      CorpusPipeline.contaminationScore(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      s"""WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(tk) - 3),
        |    i -> array_to_string(tk[i:i+4], ' '))) AS gram
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x),
        |tr AS (SELECT DISTINCT gram, 1 AS hit FROM g
        |       WHERE doc_id % 50 <> 0),
        |te AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 = 0),
        |per AS (SELECT te.doc_id, count(*) AS n_grams,
        |         count(tr.hit) AS n_overlap
        |       FROM te LEFT JOIN tr USING (gram) GROUP BY te.doc_id)
        |SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
        |  coalesce(per.n_overlap, 0) AS n_overlap,
        |  CASE WHEN per.n_grams > 0 THEN
        |    CAST(per.n_overlap AS DOUBLE) / per.n_grams END AS overlap_frac
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |WHERE d.doc_id % 50 = 0 ORDER BY d.doc_id""".stripMargin
    }),
    // F17c — Bloom prefilter for the same 5-gram decontamination split.
    // Bloom prefilter: gram spelling as q_decontaminate; 3 affine
    // probes into 2048 32-bit words (1<<63 overflow-checks in BOTH
    // engines, so masks stay positive); candidate iff all 3 bits set;
    // exact overlap join restricted to candidates.
    Key("q_bloom_prefilter", (s, d) =>
      CorpusPipeline.bloomPrefilter(Tables.documents(s, d)), {
      import graft.functions.PortableText._
      val ph = duckPolyHash("gram")
      s"""WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(tk) - 3),
        |    i -> array_to_string(tk[i:i+4], ' '))) AS gram
        |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x),
        |tr AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 <> 0),
        |te AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 = 0),
        |trp AS (SELECT ((2*i + 3) * $ph + 5*i + 7) % $P % 65536 AS pos
        |  FROM tr, (SELECT unnest(range(3)) AS i) ii),
        |bloom AS (SELECT pos // 32 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
        |  FROM trp GROUP BY pos // 32),
        |tep AS (SELECT doc_id, gram,
        |    ((2*i + 3) * $ph + 5*i + 7) % $P % 65536 AS pos
        |  FROM te, (SELECT unnest(range(3)) AS i) ii),
        |probe AS (SELECT doc_id, gram,
        |    sum(CASE WHEN (bits
        |        & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) <> 0
        |      THEN 1 ELSE 0 END) AS n_hits
        |  FROM tep LEFT JOIN bloom ON bloom.word = tep.pos // 32
        |  GROUP BY doc_id, gram),
        |cand AS (SELECT doc_id, gram FROM probe WHERE n_hits = 3),
        |ex AS (SELECT cand.doc_id, count(*) AS n_overlap
        |  FROM cand JOIN tr USING (gram) GROUP BY cand.doc_id),
        |cd AS (SELECT doc_id, count(*) AS n_candidates
        |  FROM cand GROUP BY doc_id),
        |gd AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_grams, 0) AS n_grams,
        |  coalesce(n_candidates, 0) AS n_candidates,
        |  coalesce(n_overlap, 0) AS n_overlap,
        |  coalesce(n_candidates, 0) - coalesce(n_overlap, 0) AS n_false_pos,
        |  coalesce(n_overlap, 0) > 0 AS contaminated,
        |  coalesce(n_candidates, 0) > 0 AS bloom_contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 0) d
        |LEFT JOIN gd USING (doc_id)
        |LEFT JOIN cd USING (doc_id)
        |LEFT JOIN ex USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F17b — semantic decontamination (embedding LSH + cosine).
    // Semantic decontamination: same hyperplane-bucket + norm sketch
    // as q_dedup_cosine, held-out side vec_id % 50 = 0 joined against
    // the training side by bucket; max/count are order-free, so the
    // per-held-out report is engine-exact.
    Key("q_decontaminate_sem", (s, d) =>
      Vectors.semDecontaminate(Tables.embeddings(s, d), 0.05),
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b)) AS nrm,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(8), j ->
        |        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |            list_transform(range(64), i -> v[CAST(i+1 AS INT)]
        |              * CAST((j*31 + i*17) % 5 - 2 AS DOUBLE))),
        |            (a, b) -> a + b) > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |        ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b) AS bucket
        |  FROM e),
        |p0 AS (SELECT h.vec_id AS held_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64), i -> h.v[CAST(i+1 AS INT)] * t.v[CAST(i+1 AS INT)])),
        |      (a, b) -> a + b) / nullif(h.nrm * t.nrm, 0) AS cs
        |  FROM n h JOIN n t ON t.bucket = h.bucket
        |  WHERE h.vec_id % 50 = 0 AND t.vec_id % 50 <> 0),
        |p AS (SELECT held_id, count(*) AS n_similar,
        |    round(max(cs), 4) AS max_cos
        |  FROM p0 WHERE cs >= 0.05 GROUP BY held_id)
        |SELECT e2.vec_id, coalesce(p.n_similar, 0) AS n_similar, p.max_cos,
        |  coalesce(p.n_similar, 0) > 0 AS contaminated
        |FROM embeddings e2 LEFT JOIN p ON p.held_id = e2.vec_id
        |WHERE e2.vec_id % 50 = 0 ORDER BY e2.vec_id""".stripMargin),
    Key("q_source_cap", (s, d) =>
      CorpusPipeline.capPerSource(Tables.documents(s, d), 10),
      s"""SELECT doc_id, lang, source, rnk FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ${graft.functions.PortableText.duckHashOrder("doc_id")}, doc_id) AS rnk
        |  FROM documents) x
        |WHERE rnk <= 10 ORDER BY doc_id""".stripMargin),
    // Same pmod spelling as q_hash_split for the shard; `//` in DuckDB
    // truncates toward zero like Spark's `div` (probed r4) — equal to
    // floor here because every operand is non-negative.
    // The window sum is CAST AS BIGINT: DuckDB's sum(BIGINT) OVER
    // returns HUGEINT, which materializes as float64 and fails the
    // driver's type-sensitive row hash despite identical values (the
    // r8 q_pack_sequences/q_token_budget failure).
    Key("q_pack_sequences", (s, d) =>
      CorpusPipeline.packSequences(Tables.documents(s, d), 512, 4), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, shard, n_tokens,
        |  tok_end - n_tokens AS tok_start,
        |  CASE WHEN n_tokens > 0 THEN (tok_end - n_tokens) // 512 END AS bin_first,
        |  CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 512 END AS bin_last
        |FROM (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        |  FROM (
        |    SELECT doc_id,
        |      CAST(${duckHashOrder("doc_id")} % 4 AS INT) AS shard,
        |      CAST(length($duckTokens) AS BIGINT) AS n_tokens
        |    FROM documents) s) x
        |ORDER BY doc_id""".stripMargin
    }),
    // F67 — length-bucket packing audit: padding waste per bucket vs
    // pad-to-max, exact int64 slots.
    // F67 — bucket ladder GENERATED once (CorpusPipeline
    // .widthLadderSql) and run verbatim by both engines; slot math
    // exact int64; the two waste shares single IEEE divisions,
    // unrounded.
    Key("q_length_buckets", (s, d) =>
      CorpusPipeline.lengthBucketAudit(Tables.documents(s, d), packWidths), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT least(CAST(length($duckTokens) AS BIGINT),
        |    ${packWidths.last}) AS t FROM documents),
        |b AS (SELECT ${CorpusPipeline.widthLadderSql("t", packWidths)}
        |    AS bucket_len, t FROM t),
        |agg AS (SELECT bucket_len, count(*) AS n_docs,
        |    CAST(sum(t) AS BIGINT) AS sum_tokens
        |  FROM b GROUP BY bucket_len)
        |SELECT bucket_len, n_docs, sum_tokens,
        |  CAST(bucket_len AS BIGINT) * n_docs - sum_tokens AS pad_slots,
        |  CAST(CAST(bucket_len AS BIGINT) * n_docs - sum_tokens
        |      AS DOUBLE) /
        |    CAST(CAST(bucket_len AS BIGINT) * n_docs AS DOUBLE)
        |    AS waste_share,
        |  ${packWidths.last} * n_docs - sum_tokens AS flat_pad_slots,
        |  CAST(${packWidths.last} * n_docs - sum_tokens AS DOUBLE) /
        |    CAST(${packWidths.last} * n_docs AS DOUBLE)
        |    AS flat_waste_share
        |FROM agg
        |ORDER BY bucket_len""".stripMargin
    }),
    // Keep-iff-prefix-fits semantics: the window sum INCLUDES the
    // current doc, so the doc that would cross the budget is dropped.
    // CAST AS BIGINT for the same HUGEINT->float64 reason as
    // q_pack_sequences (r8 driver-hash failure).
    Key("q_token_budget", (s, d) =>
      CorpusPipeline.tokenBudgetPerSource(Tables.documents(s, d), 1000L), {
      import graft.functions.PortableText._
      s"""SELECT doc_id, lang, source, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, lang, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY ${duckHashOrder("doc_id")}, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM (
        |    SELECT doc_id, lang, source,
        |      CAST(length($duckTokens) AS BIGINT) AS n_tokens
        |    FROM documents) s) x
        |WHERE cum_tokens <= 1000 ORDER BY doc_id""".stripMargin
    }),
    // F29 — RAG chunking: 32-token windows, 8 shared between
    // consecutive chunks.
    // Chunk c covers tokens [c*24+1, c*24+32] (stride 24 = 32 − 8
    // overlap); DuckDB list slice is 1-based INCLUSIVE both ends and
    // clamps at the list end, same as Spark's slice(arr, start, len).
    Key("q_chunk_docs", (s, d) =>
      CorpusPipeline.chunkDocuments(Tables.documents(s, d), 32, 8), {
      import graft.functions.PortableText._
      s"""WITH t AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |c AS (SELECT doc_id, length(tk) AS n_tokens,
        |    unnest(range(0, (length(tk) - 1) // 24 + 1)) AS chunk_idx, tk
        |  FROM t WHERE length(tk) > 0),
        |s AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, n_tokens,
        |    array_to_string(tk[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ')
        |      AS chunk_text
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  least(32, n_tokens - chunk_idx * 24) AS n_chunk_tokens,
        |  chunk_text, ${duckPolyHash("chunk_text")} AS chunk_fp
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin
    }),
    // F28 — inverted-index relevance search. 'dup' is the corpus's
    // one rare token (df ~25 vs ~390 for the rest) so idf ordering is
    // actually exercised; 'xyzzy' hits nothing (dropped by the df
    // join, not scored zero).
    // F68 — NDCG@k of the idf-weighted ranking vs the raw-tf ideal.
    // Quantized linear-idf relevance: weight = (N*1000) // df (exact
    // int), score = sum(tf*weight) — reduction-order-free, so the
    // engines agree bit-for-bit. Top-15 by (score DESC, doc_id).
    // F68 — the (query, term) map is GENERATED from auditQueries;
    // tf/df/score reuse F28's exact-int spelling; discounts use the
    // hard ln2 literal; DCG/IDCG round(4), NDCG from the rounded pair.
    Key("q_ranking_audit", (s, d) =>
      Retrieval.rankingAudit(Tables.documents(s, d), auditQueries, auditK), {
      import graft.functions.PortableText._
      s"""WITH qm AS (SELECT * FROM (VALUES $auditQueriesSql)
        |    AS v(query_id, query, term)),
        |tok AS (SELECT doc_id, unnest($duckTokens) AS tok
        |  FROM documents),
        |tf AS (SELECT qm.query_id, qm.query, tok.doc_id, qm.term,
        |    count(*) AS tf
        |  FROM tok JOIN qm ON qm.term = tok.tok
        |  GROUP BY qm.query_id, qm.query, tok.doc_id, qm.term),
        |dfreq AS (SELECT term, count(*) AS df FROM (
        |    SELECT DISTINCT term, doc_id FROM tf) x GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |per AS (SELECT query_id, query, doc_id,
        |    CAST(sum(tf * ((n_docs * 1000) // df)) AS BIGINT) AS score,
        |    CAST(sum(tf) AS BIGINT) AS rel
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |  GROUP BY query_id, query, doc_id),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rnk_score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id) AS rnk_ideal
        |  FROM per),
        |d AS (SELECT query_id, query,
        |    round(sum(CAST(rel AS DOUBLE) * 0.6931471805599453 /
        |      ln(CAST(rnk_score AS DOUBLE) + 1.0)), 4) AS dcg,
        |    count(*) AS n_ranked
        |  FROM rk WHERE rnk_score <= $auditK GROUP BY query_id, query),
        |i AS (SELECT query_id,
        |    round(sum(CAST(rel AS DOUBLE) * 0.6931471805599453 /
        |      ln(CAST(rnk_ideal AS DOUBLE) + 1.0)), 4) AS idcg
        |  FROM rk WHERE rnk_ideal <= $auditK GROUP BY query_id),
        |c AS (SELECT query_id, count(*) AS n_cand FROM rk
        |  GROUP BY query_id)
        |SELECT d.query_id, d.query, c.n_cand, d.n_ranked, d.dcg,
        |  i.idcg,
        |  CASE WHEN i.idcg > 0 THEN round(d.dcg / i.idcg, 4) END AS ndcg
        |FROM d JOIN i USING (query_id) JOIN c USING (query_id)
        |ORDER BY d.query_id""".stripMargin
    }),
    Key("q_term_search", (s, d) =>
      Retrieval.termSearch(Tables.documents(s, d), "dup scan spark xyzzy", 15), {
      import graft.functions.PortableText._
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS token
        |  FROM documents),
        |ft AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE token IN ('dup', 'scan', 'spark', 'xyzzy')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM ft GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, count(*) AS n_hit_terms,
        |    CAST(sum(tf * ((n_docs * 1000) // df)) AS BIGINT) AS score
        |  FROM ft JOIN dfreq USING (token) CROSS JOIN n
        |  GROUP BY doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
        |    AS rnk,
        |  doc_id, n_hit_terms, score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 15""".stripMargin
    }),
    // F101 — BM25 top-k: length-normalized lexical ranking (same
    // query as F28 so the two rankers are directly comparable).
    // F101 — BM25: the per-term double score through ONE fixed
    // expression tree (identical to the Spark spelling), floored to
    // int64 so the per-doc sum is an exact-integer reduction; k1+1
    // and 1−b are Scala round-trip literals.
    Key("q_bm25", (s, d) =>
      Retrieval.bm25Search(Tables.documents(s, d), "dup scan spark xyzzy", 15,
        bm25K1, bm25B), {
      import graft.functions.PortableText._
      val (k1, b) = (bm25K1, bm25B)
      val k1p1 = k1 + 1.0      // same Scala ops as the operator's
      val oneMinusB = 1.0 - b  // derivation — identical doubles
      s"""WITH tok AS (SELECT doc_id, len($duckTokens) AS dl,
        |    unnest($duckTokens) AS token
        |  FROM documents),
        |ft AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
        |  FROM tok
        |  WHERE token IN ('dup', 'scan', 'spark', 'xyzzy')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM ft GROUP BY token),
        |n AS (SELECT count(*) AS n_docs,
        |    CAST(sum(len($duckTokens)) AS BIGINT) AS sum_dl
        |  FROM documents),
        |sc AS (SELECT doc_id, count(*) AS n_hit_terms,
        |    CAST(max(dl) AS BIGINT) AS dl,
        |    CAST(sum(CAST(floor(CAST((n_docs * 1000) // df AS DOUBLE)
        |      * (CAST(tf AS DOUBLE) * $k1p1)
        |      / (CAST(tf AS DOUBLE) + $k1 * ($oneMinusB + $b
        |        * (CAST(dl AS DOUBLE)
        |           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      ) AS BIGINT)) AS BIGINT) AS score
        |  FROM ft JOIN dfreq USING (token) CROSS JOIN n
        |  GROUP BY doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
        |    AS rnk,
        |  doc_id, n_hit_terms, dl, score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 15""".stripMargin
    }),
    // F33 — hybrid retrieval: top-20 lexical candidates re-ranked by
    // cosine against vec 0's embedding (vec_id = doc_id, SURVEY §3).
    // Hybrid: q_term_search's scoring CTEs at kCand=20, candidates
    // joined to embeddings (vec_id = doc_id), cosine re-rank vs vec 0
    // with the q_ann_topk dot/norm spelling; DESC orders NULLS LAST
    // in both engines.
    Key("q_hybrid_search", (s, d) =>
      Retrieval.hybridSearch(Tables.documents(s, d), Tables.embeddings(s, d),
        "dup scan spark xyzzy", 0L, 20, 10), {
      import graft.functions.PortableText._
      val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(64), i -> a.v[CAST(i+1 AS INT)] * " +
        "b.v[CAST(i+1 AS INT)])), (x, y) -> x + y)"
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS token
        |  FROM documents),
        |ft AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE token IN ('dup', 'scan', 'spark', 'xyzzy')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM ft GROUP BY token),
        |nn AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, count(*) AS n_hit_terms,
        |    CAST(sum(tf * ((n_docs * 1000) // df)) AS BIGINT) AS score
        |  FROM ft JOIN dfreq USING (token) CROSS JOIN nn
        |  GROUP BY doc_id),
        |cand AS (SELECT CAST(row_number() OVER
        |      (ORDER BY score DESC, doc_id) AS INT) AS term_rnk,
        |    doc_id, score AS term_score
        |  FROM sc ORDER BY score DESC, doc_id LIMIT 20),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nr AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(64),
        |        i -> v[CAST(i+1 AS INT)] * v[CAST(i+1 AS INT)])),
        |      (x, y) -> x + y)) AS nrm FROM e),
        |scored AS (SELECT cand.term_rnk, cand.doc_id, cand.term_score,
        |    CASE WHEN a.v IS NOT NULL AND a.nrm * b.nrm <> 0
        |      THEN $dot / (a.nrm * b.nrm) END AS cs
        |  FROM cand
        |  LEFT JOIN nr a ON a.vec_id = cand.doc_id
        |  CROSS JOIN (SELECT v, nrm FROM nr WHERE vec_id = 0) b)
        |SELECT CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS INT)
        |    AS rnk,
        |  doc_id, term_rnk, term_score, round(cs, 4) AS cos_sim
        |FROM scored ORDER BY cs DESC, doc_id LIMIT 10""".stripMargin
    }),
    // F22 — line-level boilerplate dedup. The synthetic corpus has no
    // newlines, so the registry instantiates the SAME code path at
    // token granularity (delim = ' '): tokens in more than half of
    // all docs are the "boilerplate lines". CurationSpec drives the
    // newline form on real multi-line documents.
    // Keep rule is exact integer arithmetic (df*100 <= n_docs*50);
    // within-doc repeats count once toward df but are kept/dropped in
    // place; reassembly order restored by pos. Spark's pos is 0-based
    // and internal only — both engines order by it, neither emits it.
    Key("q_line_dedup", (s, d) =>
      Curation.lineDedup(Tables.documents(s, d), " ", 50),
      """WITH p AS (SELECT doc_id, string_split(text, ' ') AS parts
        |  FROM documents),
        |l0 AS (SELECT doc_id, unnest(range(1, length(parts) + 1)) AS pos,
        |    parts FROM p),
        |l AS (SELECT doc_id, pos, parts[CAST(pos AS INT)] AS line FROM l0
        |  WHERE parts[CAST(pos AS INT)] <> ''),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |df AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.pos, l.line,
        |    df.df * 100 <= nd.n_docs * 50 AS kept
        |  FROM l JOIN df USING (line) CROSS JOIN nd),
        |agg AS (SELECT doc_id, count(*) AS n_lines,
        |    count(CASE WHEN kept THEN 1 END) AS n_kept,
        |    coalesce(string_agg(CASE WHEN kept THEN line END, ' '
        |      ORDER BY pos), '') AS clean_text
        |  FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.n_lines, 0) AS n_lines,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  coalesce(agg.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // F79 — per-source boilerplate report. Same delimiter note as
    // q_line_dedup: the synthetic docs are single-line, so the
    // registry splits on spaces (boiler "lines" = the source's
    // template tokens); CurationSpec drives the newline form on real
    // multi-line documents. dfPct probed: 30 flagged ~97% of lines
    // (vacuous — template corpus); 80 splits 52/49/20% at the three
    // SFs, two-sided everywhere.
    // F79 — boilerplate: q_line_dedup's split spelling, df on the
    // distinct (source, line, doc) frame, occurrences on the raw
    // frame, exact-int cross-mult threshold with the df >= 2 guard,
    // share ONE IEEE division; counts CAST from HUGEINT.
    Key("q_boilerplate", (s, d) =>
      Curation.boilerplateReport(Tables.documents(s, d), " ", 80),
      """WITH p AS (SELECT source, doc_id, string_split(text, ' ')
        |    AS parts FROM documents),
        |l0 AS (SELECT source, doc_id,
        |    unnest(range(1, length(parts) + 1)) AS pos, parts FROM p),
        |l AS (SELECT source, doc_id, parts[CAST(pos AS INT)] AS line
        |  FROM l0 WHERE parts[CAST(pos AS INT)] <> ''),
        |sd AS (SELECT source, count(*) AS n_docs FROM documents
        |  GROUP BY source),
        |dfs AS (SELECT source, line, count(DISTINCT doc_id) AS df
        |  FROM l GROUP BY source, line),
        |occ AS (SELECT source, line, count(*) AS occ
        |  FROM l GROUP BY source, line),
        |fl AS (SELECT dfs.source, dfs.line, dfs.df, occ.occ, sd.n_docs,
        |    dfs.df >= 2 AND dfs.df * 100 >= sd.n_docs * 80 AS boiler
        |  FROM dfs JOIN occ USING (source, line)
        |  JOIN sd USING (source)),
        |agg AS (SELECT source, count(*) AS n_distinct_lines,
        |    count(CASE WHEN boiler THEN 1 END) AS n_boiler_lines,
        |    CAST(sum(occ) AS BIGINT) AS occ_total,
        |    CAST(sum(CASE WHEN boiler THEN occ ELSE 0 END) AS BIGINT)
        |      AS occ_boiler
        |  FROM fl GROUP BY source)
        |SELECT sd.source, sd.n_docs,
        |  coalesce(agg.n_distinct_lines, 0) AS n_distinct_lines,
        |  coalesce(agg.n_boiler_lines, 0) AS n_boiler_lines,
        |  coalesce(agg.occ_total, 0) AS occ_total,
        |  coalesce(agg.occ_boiler, 0) AS occ_boiler,
        |  CASE WHEN agg.occ_total > 0
        |    THEN CAST(agg.occ_boiler AS DOUBLE) / agg.occ_total END
        |    AS boiler_share
        |FROM sd LEFT JOIN agg USING (source)
        |ORDER BY source""".stripMargin),
    // r15 verdict #1 — the rich-corpus audit quartet: the SAME audit
    // operators, run over RichCorpus's planted-structure derivation
    // of the driver corpus (deterministic, oracle-priced), so their
    // verdicts are non-degenerate: boilerplate share lands in the
    // realistic 5-15% band, the sweep curves grade by source tier
    // mix, source similarity shows the planted overlap spectrum, and
    // Fisher separability exceeds 0.5 on the planted labels.
    // F79 over the RICH corpus: the same boilerplate body as
    // q_boilerplate with the richdocs CTE chain as the source, lines
    // split on chr(10) (real multi-word lines) and the realistic
    // dfPct=30 gate the planted 12%-rate boilers clear.
    Key("q_boilerplate_rich", (s, d) =>
      Curation.boilerplateReport(
        RichCorpus.docs(Tables.documents(s, d)), "\n", 30),
      s"""WITH ${RichCorpus.duckDocsCtes},
        |p AS (SELECT source, doc_id, string_split(text, chr(10))
        |    AS parts FROM richdocs),
        |l0 AS (SELECT source, doc_id,
        |    unnest(range(1, length(parts) + 1)) AS pos, parts FROM p),
        |l AS (SELECT source, doc_id, parts[CAST(pos AS INT)] AS line
        |  FROM l0 WHERE parts[CAST(pos AS INT)] <> ''),
        |sd AS (SELECT source, count(*) AS n_docs FROM richdocs
        |  GROUP BY source),
        |dfs AS (SELECT source, line, count(DISTINCT doc_id) AS df
        |  FROM l GROUP BY source, line),
        |occ AS (SELECT source, line, count(*) AS occ
        |  FROM l GROUP BY source, line),
        |fl AS (SELECT dfs.source, dfs.line, dfs.df, occ.occ, sd.n_docs,
        |    dfs.df >= 2 AND dfs.df * 100 >= sd.n_docs * 30 AS boiler
        |  FROM dfs JOIN occ USING (source, line)
        |  JOIN sd USING (source)),
        |agg AS (SELECT source, count(*) AS n_distinct_lines,
        |    count(CASE WHEN boiler THEN 1 END) AS n_boiler_lines,
        |    CAST(sum(occ) AS BIGINT) AS occ_total,
        |    CAST(sum(CASE WHEN boiler THEN occ ELSE 0 END) AS BIGINT)
        |      AS occ_boiler
        |  FROM fl GROUP BY source)
        |SELECT sd.source, sd.n_docs,
        |  coalesce(agg.n_distinct_lines, 0) AS n_distinct_lines,
        |  coalesce(agg.n_boiler_lines, 0) AS n_boiler_lines,
        |  coalesce(agg.occ_total, 0) AS occ_total,
        |  coalesce(agg.occ_boiler, 0) AS occ_boiler,
        |  CASE WHEN agg.occ_total > 0
        |    THEN CAST(agg.occ_boiler AS DOUBLE) / agg.occ_total END
        |    AS boiler_share
        |FROM sd LEFT JOIN agg USING (source)
        |ORDER BY source""".stripMargin),
    // F55 over the RICH corpus: q_threshold_sweep's body, cuts from
    // the shared richSweepCuts constant (the tier-discriminating
    // token range), source = richdocs.
    Key("q_threshold_sweep_rich", (s, d) =>
      CorpusPipeline.thresholdSweep(
        RichCorpus.docs(Tables.documents(s, d)), richSweepCuts), {
      import graft.functions.PortableText._
      s"""WITH ${RichCorpus.duckDocsCtes}
        |SELECT source, min_tokens,
        |  count(*) AS n_docs_total,
        |  CAST(sum(CASE WHEN n >= min_tokens THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_kept,
        |  CAST(sum(CASE WHEN n >= min_tokens THEN n ELSE 0 END)
        |    AS BIGINT) AS tokens_kept,
        |  (CAST(sum(CASE WHEN n >= min_tokens THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000) // count(*) AS kept_share_bp
        |FROM (SELECT source, CAST(length($duckTokens) AS BIGINT) AS n
        |  FROM richdocs) d,
        |  (SELECT CAST(t.min_tokens AS BIGINT) AS min_tokens
        |   FROM (VALUES $richSweepCutsSql) AS t(min_tokens)) t
        |GROUP BY source, min_tokens
        |ORDER BY source, min_tokens""".stripMargin
    }),
    // F70 over the RICH corpus: q_source_similarity's body on
    // richdocs — the planted quote-pool overlap gives the graded
    // cross-source spectrum the audit exists to measure.
    Key("q_source_similarity_rich", (s, d) =>
      TextDedup.sourceSimilarity(
        RichCorpus.docs(Tables.documents(s, d)), srcSimK), {
      import graft.functions.PortableText._
      s"""WITH ${RichCorpus.duckDocsCtes},
        |sg AS (SELECT DISTINCT source, gram FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, length(tk) - 1),
        |        i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i+1 AS INT)]
        |          || ' ' || tk[CAST(i+2 AS INT)])) AS gram
        |    FROM (SELECT source, $duckTokens AS tk
        |      FROM richdocs) t) x),
        |sh AS (SELECT source, ${duckPolyHash("gram")} AS h FROM sg),
        |sz AS (SELECT source, count(*) AS n_grams FROM sh
        |  GROUP BY source),
        |sig AS (SELECT source, j,
        |    min(((2*j + 3) * h + 5*j + 7) % $P) AS mh
        |  FROM sh, (SELECT unnest(range($srcSimK)) AS j) js
        |  GROUP BY source, j),
        |est AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_match
        |  FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
        |  GROUP BY a.source, b.source),
        |iv AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT e.source_a, e.source_b, sa.n_grams AS n_gram_a,
        |  sb.n_grams AS n_gram_b, coalesce(iv.n_inter, 0) AS n_inter,
        |  e.n_match,
        |  CAST(e.n_match AS DOUBLE) / CAST($srcSimK AS DOUBLE)
        |    AS est_jaccard,
        |  CAST(coalesce(iv.n_inter, 0) AS DOUBLE) /
        |    CAST(sa.n_grams + sb.n_grams - coalesce(iv.n_inter, 0)
        |      AS DOUBLE) AS exact_jaccard,
        |  CAST(e.n_match AS DOUBLE) / CAST($srcSimK AS DOUBLE) -
        |    CAST(coalesce(iv.n_inter, 0) AS DOUBLE) /
        |      CAST(sa.n_grams + sb.n_grams - coalesce(iv.n_inter, 0)
        |        AS DOUBLE) AS err
        |FROM est e LEFT JOIN iv USING (source_a, source_b)
        |JOIN sz sa ON sa.source = e.source_a
        |JOIN sz sb ON sb.source = e.source_b
        |ORDER BY source_a, source_b""".stripMargin
    }),
    // F82 over the PLANTED-label embeddings: q_label_fisher's body on
    // the richemb CTE (+0.375 on dimension i for label i mod 10) —
    // Fisher lands ≈0.8 on every dim, the >0.5 separable verdict.
    Key("q_label_fisher_rich", (s, d) =>
      Vectors.labelSeparability(
        RichCorpus.embeddings(Tables.embeddings(s, d))),
      s"""WITH ${RichCorpus.duckEmbCte},
        |e AS (SELECT label, r.r AS pos,
        |    CAST(round(CAST(embedding[CAST(r.r + 1 AS INT)] AS DOUBLE)
        |      * 1000000.0, 0) AS BIGINT) AS vq
        |  FROM richemb, (SELECT unnest(range(64)) AS r) r),
        |pl AS (SELECT label, pos, count(*) AS n_c,
        |    CAST(sum(vq) AS BIGINT) AS s_c,
        |    CAST(sum(vq * vq) AS BIGINT) AS sq_c
        |  FROM e GROUP BY label, pos),
        |pl2 AS (SELECT *, CAST(round(CAST(s_c AS DOUBLE)
        |    * CAST(s_c AS DOUBLE) / n_c, 0) AS BIGINT) AS t_c
        |  FROM pl),
        |pp AS (SELECT pos, CAST(sum(n_c) AS BIGINT) AS n,
        |    CAST(sum(s_c) AS BIGINT) AS s,
        |    CAST(sum(sq_c) AS BIGINT) AS sq,
        |    CAST(sum(t_c) AS BIGINT) AS t_within
        |  FROM pl2 GROUP BY pos),
        |v AS (SELECT pos, n,
        |    CAST(sq - CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / n, 0) AS BIGINT) AS DOUBLE) / n AS _vt,
        |    CAST(sq - t_within AS DOUBLE) / n AS _vw
        |  FROM pp)
        |SELECT pos, n,
        |  round(_vt / 1e12, 4) AS var_total,
        |  round(_vw / 1e12, 4) AS var_within,
        |  round(CASE WHEN _vw > 0 THEN (_vt - _vw) / _vw END, 4)
        |    AS fisher
        |FROM v ORDER BY pos""".stripMargin),
    // F2e — LSH recall-by-similarity on CONTROLLED-Jaccard planted
    // dup families (keep/(16-keep) in {0.14..0.78}): the S-curve the
    // band parameters are chosen against, measured on ground truth.
    // F2e — planted-dup LSH calibration: the richdup CTE chain
    // (controlled keep/(16-keep) Jaccard), token-hash sets + the
    // standard band spelling, caught = any shared (band, band_hash),
    // exact overlap via the hash-keyed pair join; counts exact int64,
    // catch_bp integer bps, mean Jaccard round(4).
    Key("q_dedup_spectrum", (s, d) => {
      val docs = Tables.documents(s, d)
      TextDedup.plantedDupRecall(RichCorpus.dupDocs(docs),
        RichCorpus.dupPairs(docs))
    }, {
      import graft.functions.PortableText._
      s"""WITH ${RichCorpus.duckDupCtes},
        |t AS (SELECT doc_id, $duckTokenHashes AS th FROM richdup),
        |tok AS (SELECT DISTINCT doc_id, unnest(th) AS h FROM t),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM t),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |caught AS (SELECT DISTINCT p.doc_a, p.doc_b
        |  FROM richdup_pairs p
        |  JOIN bands a ON a.doc_id = p.doc_a
        |  JOIN bands b ON b.doc_id = p.doc_b AND b.band = a.band
        |    AND b.band_hash = a.band_hash),
        |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |iv AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
        |  FROM richdup_pairs p
        |  JOIN tok a ON a.doc_id = p.doc_a
        |  JOIN tok b ON b.doc_id = p.doc_b AND b.h = a.h
        |  GROUP BY p.doc_a, p.doc_b),
        |j AS (SELECT p.keep,
        |    CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught,
        |    CAST(coalesce(iv.n_inter, 0) AS DOUBLE)
        |      / CAST(sa.n + sb.n - coalesce(iv.n_inter, 0) AS DOUBLE)
        |      AS jac
        |  FROM richdup_pairs p
        |  LEFT JOIN caught c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
        |  LEFT JOIN iv ON iv.doc_a = p.doc_a AND iv.doc_b = p.doc_b
        |  JOIN sz sa ON sa.doc_id = p.doc_a
        |  JOIN sz sb ON sb.doc_id = p.doc_b)
        |SELECT keep, count(*) AS n_planted,
        |  CAST(sum(caught) AS BIGINT) AS n_caught,
        |  (CAST(sum(caught) AS BIGINT) * 10000) // count(*) AS catch_bp,
        |  round(avg(jac), 4) AS mean_exact_j
        |FROM j GROUP BY keep ORDER BY keep""".stripMargin
    }),
    // F23 — PII scrub. The synthetic corpus is PII-free word soup, so
    // the registry appends a deterministic contact line derived from
    // (doc_id, source) before scrubbing — the redaction itself (and
    // its cross-engine regex parity) is what's hash-checked; the
    // oracle builds the identical line in SQL.
    // The regex constants interpolate from Curation so the Spark plan
    // and the oracle can never drift; DuckDB single-quoted literals do
    // not escape-process, so the backslashes arrive verbatim (RE2 and
    // Java regex agree on this restricted syntax). Counts are on the
    // ORIGINAL text; replacement order email -> ip -> phone.
    Key("q_pii_scrub", (s, d) =>
      Curation.piiScrub(withContactLine(Tables.documents(s, d))), {
      val (em, ip, ph) = (Curation.EmailRe, Curation.IpRe, Curation.PhoneRe)
      s"""WITH t AS (SELECT doc_id, $duckContactText AS text
        |  FROM documents)
        |SELECT doc_id,
        |  length(regexp_extract_all(text, '$em')) AS n_emails,
        |  length(regexp_extract_all(text, '$ip')) AS n_ips,
        |  length(regexp_extract_all(text, '$ph')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '$em', '<EMAIL>', 'g'),
        |    '$ip', '<IP>', 'g'),
        |    '$ph', '<PHONE>', 'g') AS clean_text
        |FROM t ORDER BY doc_id""".stripMargin
    }),
    // F24 — quantized k-means topic clustering (k=8, 2 assignment
    // rounds, 1/32 fixed-point grid).
    // Quantized Lloyd (k=8, 2 assignment rounds, 1/32 grid): the
    // fixed-point snap makes the update's per-dim sums exact integers
    // (order-free), and every dot/score is the same left-to-right
    // list_reduce the ANN oracles replay against graft_vecdot.
    // Centroid cid == init vec_id; ties to the lower cid, matching
    // array_position-of-array_min; a cluster with no members keeps
    // its previous centroid (the coalesce). CTEs shared with
    // q_cluster_cap via duckKmeansCtes.
    Key("q_kmeans", (s, d) =>
      Vectors.kmeansAssign(Tables.embeddings(s, d), 8, 2, 32),
      s"""$duckKmeansCtes
        |SELECT a2.vec_id, a2.cluster, round(a2.score + qq.qq, 4) AS dist_sq
        |FROM a2 JOIN qq USING (vec_id) ORDER BY vec_id""".stripMargin),
    // F24b — topic-balanced sampling: the F18 cap keyed on the
    // learned k-means cluster (cap=30 per cluster, hash order).
    // Same assignment, then the capPerSource window keyed on the
    // learned cluster — identical duckHashOrder ranking spelling.
    Key("q_cluster_cap", (s, d) =>
      Vectors.clusterBalancedSample(Tables.embeddings(s, d), 30),
      s"""$duckKmeansCtes
        |SELECT vec_id, cluster, rnk FROM (
        |  SELECT vec_id, cluster,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY ${graft.functions.PortableText.duckHashOrder("vec_id")},
        |        vec_id) AS rnk
        |  FROM a2) x
        |WHERE rnk <= 30 ORDER BY vec_id""".stripMargin),
    // F24c — per-cluster quality audit over the same assignment.
    // Same assignment; per-row dist spelling as q_kmeans, re-rounded
    // aggregates per SURVEY §6.
    Key("q_cluster_audit", (s, d) =>
      Vectors.clusterAudit(Tables.embeddings(s, d), 8, 2, 32),
      s"""$duckKmeansCtes,
        |dd AS (SELECT a2.vec_id, a2.cluster,
        |    round(a2.score + qq.qq, 4) AS dist
        |  FROM a2 JOIN qq USING (vec_id))
        |SELECT cluster, count(*) AS n_vectors, min(vec_id) AS rep_vec,
        |  round(sum(dist), 4) AS sse, round(avg(dist), 4) AS mean_dist,
        |  round(max(dist), 4) AS max_dist
        |FROM dd GROUP BY cluster ORDER BY cluster""".stripMargin),
    // F25 — int8 scalar quantization + reconstruction-error profile.
    // Same IEEE op sequence as Vectors.quantizeInt8: ((x-mn)/(mx-mn))
    // *255+0.5 floored, dequant mn + q/255*(mx-mn), error fold
    // left-to-right; a constant dimension (mx == mn) codes to 0.
    Key("q_embed_quant", (s, d) =>
      Vectors.quantizeInt8(Tables.embeddings(s, d)),
      """WITH dm AS (SELECT unnest(range(64)) AS d, embedding
        |  FROM embeddings),
        |mm AS (SELECT d,
        |    min(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE)) AS mn,
        |    max(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE)) AS mx
        |  FROM dm GROUP BY d),
        |st AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
        |  FROM mm),
        |e AS (SELECT vec_id, embedding, mns, mxs
        |  FROM embeddings CROSS JOIN st),
        |qz AS (SELECT vec_id, embedding, mns, mxs,
        |    list_transform(range(64), i ->
        |      CASE WHEN mxs[CAST(i+1 AS INT)] > mns[CAST(i+1 AS INT)]
        |        THEN CAST(floor((CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE)
        |          - mns[CAST(i+1 AS INT)])
        |          / (mxs[CAST(i+1 AS INT)] - mns[CAST(i+1 AS INT)])
        |          * 255 + 0.5) AS INT)
        |        ELSE 0 END) AS qarr
        |  FROM e),
        |er AS (SELECT vec_id, qarr,
        |    list_transform(range(64), i ->
        |      abs(CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE)
        |        - (mns[CAST(i+1 AS INT)]
        |           + CAST(qarr[CAST(i+1 AS INT)] AS DOUBLE) / 255.0
        |             * (mxs[CAST(i+1 AS INT)] - mns[CAST(i+1 AS INT)]))))
        |      AS errs
        |  FROM qz)
        |SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(qarr, x -> CAST(x AS BIGINT))), (a, b) -> a + b)
        |    AS qsum,
        |  round(list_max(errs), 6) AS max_err,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE), errs),
        |    (a, b) -> a + b) / 64, 6) AS mean_err
        |FROM er ORDER BY vec_id""".stripMargin),
    // F72 — SemDeDup: k-means blocks + within-cluster cosine,
    // drop-higher-id verdict at τ.
    // F72 — SemDeDup: the kmeans assignment CTEs give the blocks;
    // cosines re-run q_dedup_cosine's raw-float left-fold spelling
    // inside each cluster; verdict tests the RAW order-free max,
    // n_dups is a BIGINT count (not a HUGEINT sum), round(4) display.
    Key("q_semantic_dedup", (s, d) =>
      Vectors.semanticDedup(Tables.embeddings(s, d), semDedupTau), {
      def dot(a: String, b: String): String =
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(64), i -> $a[CAST(i+1 AS INT)] * " +
          s"$b[CAST(i+1 AS INT)])), (x, y) -> x + y)"
      s"""$duckKmeansCtes,
        |en AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
        |  FROM embeddings),
        |nn AS (SELECT vec_id, ev, sqrt(${dot("ev", "ev")}) AS nrm
        |  FROM en),
        |mm AS (SELECT a2.vec_id, a2.cluster, nn.ev, nn.nrm
        |  FROM a2 JOIN nn USING (vec_id)),
        |pp AS (SELECT hi.vec_id,
        |    ${dot("hi.ev", "lo.ev")} / nullif(hi.nrm * lo.nrm, 0) AS cs
        |  FROM mm hi JOIN mm lo ON hi.cluster = lo.cluster
        |    AND lo.vec_id < hi.vec_id),
        |ag AS (SELECT vec_id, max(cs) AS mx,
        |    count(CASE WHEN cs >= $semDedupTau THEN 1 END) AS n_dups
        |  FROM pp GROUP BY vec_id)
        |SELECT m.vec_id, m.cluster,
        |  coalesce(ag.n_dups, 0) AS n_dups,
        |  round(ag.mx, 4) AS max_sim,
        |  coalesce(ag.mx >= $semDedupTau, false) AS dropped
        |FROM mm m LEFT JOIN ag USING (vec_id)
        |ORDER BY vec_id""".stripMargin
    }),
    // F82 — per-dimension Fisher separability of the label classes.
    // F82 — Fisher audit: same 1e-6 quantize grid, exact (label, dim)
    // sums, per-row-rounded s²/n terms subtracted from exact ints
    // (the F12b rule), one division per variance, round(4).
    Key("q_label_fisher", (s, d) =>
      Vectors.labelSeparability(Tables.embeddings(s, d)),
      """WITH e AS (SELECT label, r.r AS pos,
        |    CAST(round(CAST(embedding[CAST(r.r + 1 AS INT)] AS DOUBLE)
        |      * 1000000.0, 0) AS BIGINT) AS vq
        |  FROM embeddings, (SELECT unnest(range(64)) AS r) r),
        |pl AS (SELECT label, pos, count(*) AS n_c,
        |    CAST(sum(vq) AS BIGINT) AS s_c,
        |    CAST(sum(vq * vq) AS BIGINT) AS sq_c
        |  FROM e GROUP BY label, pos),
        |pl2 AS (SELECT *, CAST(round(CAST(s_c AS DOUBLE)
        |    * CAST(s_c AS DOUBLE) / n_c, 0) AS BIGINT) AS t_c
        |  FROM pl),
        |pp AS (SELECT pos, CAST(sum(n_c) AS BIGINT) AS n,
        |    CAST(sum(s_c) AS BIGINT) AS s,
        |    CAST(sum(sq_c) AS BIGINT) AS sq,
        |    CAST(sum(t_c) AS BIGINT) AS t_within
        |  FROM pl2 GROUP BY pos),
        |v AS (SELECT pos, n,
        |    CAST(sq - CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / n, 0) AS BIGINT) AS DOUBLE) / n AS _vt,
        |    CAST(sq - t_within AS DOUBLE) / n AS _vw
        |  FROM pp)
        |SELECT pos, n,
        |  round(_vt / 1e12, 4) AS var_total,
        |  round(_vw / 1e12, 4) AS var_within,
        |  round(CASE WHEN _vw > 0 THEN (_vt - _vw) / _vw END, 4)
        |    AS fisher
        |FROM v ORDER BY pos""".stripMargin),
    // F27 — product-quantization codes + ADC vs exact distance audit
    // (8 subspaces x 16-entry codebooks, query vec 0).
    // PQ replay: same c·c − 2·sub·c argmin per subspace (ties to the
    // lower code via row_number), ADC terms q·q + c·c − 2·q·c summed
    // in subspace order via an ordered-list fold (matching Spark's
    // reduceLeft), exact distance via the same decomposition on the
    // full 64 dims.
    Key("q_pq_codes", (s, d) =>
      Vectors.pqEncode(Tables.embeddings(s, d)), {
      def dot(n: Int)(a: String, b: String): String =
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range($n), i -> $a[CAST(i+1 AS INT)] * " +
          s"$b[CAST(i+1 AS INT)])), (x, y) -> x + y)"
      val d8 = dot(8) _; val d64 = dot(64) _
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |ss AS (SELECT unnest(range(8)) AS s),
        |sub AS (SELECT e.vec_id, ss.s,
        |    v[CAST(s*8+1 AS INT):CAST(s*8+8 AS INT)] AS sv FROM e, ss),
        |cb AS (SELECT s, vec_id AS j, sv AS cv FROM sub WHERE vec_id < 16),
        |qv AS (SELECT s, sv AS qs FROM sub WHERE vec_id = 0),
        |sc AS (SELECT sub.vec_id, sub.s, cb.j,
        |    ${d8("cv", "cv")} - 2 * ${d8("sv", "cv")} AS score
        |  FROM sub JOIN cb ON cb.s = sub.s),
        |code AS (SELECT vec_id, s, j AS code
        |  FROM (SELECT vec_id, s, j,
        |    row_number() OVER (PARTITION BY vec_id, s ORDER BY score, j)
        |      AS rn FROM sc) x WHERE rn = 1),
        |term AS (SELECT code.vec_id, code.s,
        |    ${d8("qs", "qs")} + ${d8("cv", "cv")} - 2 * ${d8("qs", "cv")}
        |      AS term
        |  FROM code JOIN cb ON cb.s = code.s AND cb.j = code.code
        |  JOIN qv ON qv.s = code.s),
        |adc AS (SELECT vec_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(term ORDER BY s)), (a, b) -> a + b) AS adc_dist
        |  FROM term GROUP BY vec_id),
        |codes AS (SELECT vec_id,
        |    string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) AS code_str
        |  FROM code GROUP BY vec_id),
        |qf AS (SELECT v AS q64 FROM e WHERE vec_id = 0),
        |ex AS (SELECT e.vec_id,
        |    ${d64("v", "v")} + ${d64("q64", "q64")} - 2 * ${d64("v", "q64")}
        |      AS exact_dist
        |  FROM e CROSS JOIN qf)
        |SELECT codes.vec_id, codes.code_str,
        |  round(adc.adc_dist, 4) AS adc_dist,
        |  round(ex.exact_dist, 4) AS exact_dist
        |FROM codes JOIN adc USING (vec_id) JOIN ex USING (vec_id)
        |ORDER BY vec_id""".stripMargin
    }),
    // The pipeline's end product as ONE declarative plan: the
    // materialized training slice = quality-kept ∧ not a near-dup ∧
    // in the train split. Catalyst fuses the three stages' scans and
    // drops their interior presentation sorts. (The synthetic corpus
    // is template-generated, so greedy dedup keeps only ~2% of docs —
    // tiny survivor counts here are the corpus, not a bug.)
    Key("q_corpus_select", (s, d) => {
      import org.apache.spark.sql.functions.{col, not}
      val docs = Tables.documents(s, d)
      val qf = CorpusPipeline.qualityFilter(docs).select("doc_id", "keep")
      val dup = TextDedup.greedyNearDup(docs)
      val split = CorpusPipeline.hashSplit(docs).select("doc_id", "split")
      docs.select("doc_id", "lang", "source")
        .join(qf, "doc_id").join(dup, "doc_id").join(split, "doc_id")
        .filter(col("keep") && not(col("is_duplicate")) &&
          col("split") === "train")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, {
      import graft.functions.PortableText._
      s"""WITH tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
        |qf AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(tk) < 20 THEN 'short'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              1.0 - CAST(length(list_distinct(tk)) AS DOUBLE)
        |                / length(tk) END > 0.65 THEN 'repetitive'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              CAST(length(list_filter(tk, t -> list_contains(
        |                ['the','a','of','and','to'], t))) AS DOUBLE)
        |                / length(tk) END < 0.01 THEN 'low_stop'
        |     END) IS NULL AS keep
        |  FROM tk),
        |th AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM th),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |bf AS (SELECT band, band_hash, min(doc_id) AS first_doc
        |       FROM bands WHERE band_hash IS NOT NULL
        |       GROUP BY band, band_hash),
        |dup AS (SELECT bands.doc_id,
        |         bool_or(first_doc < bands.doc_id) AS is_dup
        |       FROM bands JOIN bf USING (band, band_hash)
        |       GROUP BY bands.doc_id)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d
        |JOIN qf ON qf.doc_id = d.doc_id
        |LEFT JOIN dup ON dup.doc_id = d.doc_id
        |WHERE qf.keep AND NOT coalesce(dup.is_dup, false)
        |  AND ${duckHashOrder("d.doc_id")} % 100 < 80
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F26 — the FULL curation pipeline as ONE declarative plan:
    // contact-line inject → line-level boilerplate dedup (maxDfPct=80:
    // the synthetic vocab is 31 tokens, 30 at df 75–80%, so this drops
    // exactly the most common token corpus-wide — 50 would strip the
    // whole vocabulary and empty the output) → PII scrub →
    // quality filter ON THE CLEANED TEXT (minTokens=5; stopword rule
    // disabled — stopwords are exactly what line-dedup removes) →
    // not-a-near-dup (on raw text) → train split. Catalyst fuses six
    // stages' scans; the emitted clean_text has boilerplate gone and
    // PII redacted. Tiny survivor counts are the template corpus
    // (see q_corpus_select), not a bug.
    // The composed curation plan replayed stage by stage: the line
    // dedup CTEs are q_line_dedup's over the contact-injected text,
    // the scrub is q_pii_scrub's replace chain, the quality rules are
    // q_quality_filter's with (minTokens=5, stop rule < 0.0 — never
    // fires, spelled identically to Spark's), and the dup/split
    // predicates are q_corpus_select's verbatim.
    Key("q_corpus_curate", (s, d) => {
      import org.apache.spark.sql.functions.{col, not}
      val raw = Tables.documents(s, d)
      val cleaned = Curation.lineDedup(withContactLine(raw), " ", 80)
        .select(col("doc_id"), col("clean_text").as("text"))
      // Materialization barrier (same contract as cosineDedup /
      // ngramJaccard): the scrubbed frame feeds BOTH the quality
      // filter and the output join — without the barrier, projection
      // collapse inlines the whole line-dedup+scrub subtree into each
      // consumer and evaluates it twice (measured ~2x at the sf1
      // smoke). At real scale the curated text is the materialized
      // product anyway; pinning it once is the honest plan.
      // The scrub barrier and the near-dup admission are INDEPENDENT
      // subtrees (scrubbed derives from cleaned, dup from raw) whose
      // eager checkpoints otherwise chain serially — build them
      // concurrently (the decontaminationSweep pool pattern; content
      // identical either way).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val (scrubbed, dup) =
        try {
          val scrubbedF = pool.submit(
            new java.util.concurrent.Callable[DataFrame] {
              override def call(): DataFrame = Curation.piiScrub(cleaned)
                .select(col("doc_id"), col("clean_text").as("text"))
                .localCheckpoint(true)
            })
          val dupF = pool.submit(
            new java.util.concurrent.Callable[DataFrame] {
              override def call(): DataFrame = TextDedup.greedyNearDup(raw)
            })
          (scrubbedF.get(), dupF.get())
        } finally pool.shutdown()
      val qf = CorpusPipeline.qualityFilter(scrubbed, 5, 0.65, 0.0)
        .select("doc_id", "n_tokens", "keep")
      val split = CorpusPipeline.hashSplit(raw).select("doc_id", "split")
      raw.select("doc_id", "source")
        .join(scrubbed.withColumnRenamed("text", "clean_text"), "doc_id")
        .join(qf, "doc_id").join(dup, "doc_id").join(split, "doc_id")
        .filter(col("keep") && not(col("is_duplicate")) &&
          col("split") === "train")
        .select("doc_id", "source", "n_tokens", "clean_text")
        .orderBy("doc_id")
    }, {
      import graft.functions.PortableText._
      val (em, ip, ph) = (Curation.EmailRe, Curation.IpRe, Curation.PhoneRe)
      s"""WITH raw AS (SELECT doc_id, $duckContactText AS text
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(text, ' ') AS parts FROM raw),
        |l0 AS (SELECT doc_id, unnest(range(1, length(parts) + 1)) AS pos,
        |    parts FROM p),
        |l AS (SELECT doc_id, pos, parts[CAST(pos AS INT)] AS line FROM l0
        |  WHERE parts[CAST(pos AS INT)] <> ''),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |ldf AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
        |cl AS (SELECT l.doc_id,
        |    coalesce(string_agg(CASE WHEN ldf.df * 100 <= nd.n_docs * 80
        |      THEN l.line END, ' ' ORDER BY l.pos), '') AS text
        |  FROM l JOIN ldf USING (line) CROSS JOIN nd GROUP BY l.doc_id),
        |sc AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '$em', '<EMAIL>', 'g'),
        |      '$ip', '<IP>', 'g'),
        |      '$ph', '<PHONE>', 'g') AS text
        |  FROM cl),
        |tk AS (SELECT doc_id, text, $duckTokens AS tk FROM sc),
        |qf AS (SELECT doc_id, text, length(tk) AS n_tokens,
        |    (CASE WHEN length(tk) < 5 THEN 'short'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              1.0 - CAST(length(list_distinct(tk)) AS DOUBLE)
        |                / length(tk) END > 0.65 THEN 'repetitive'
        |          WHEN CASE WHEN length(tk) > 0 THEN
        |              CAST(length(list_filter(tk, t -> list_contains(
        |                ['the','a','of','and','to'], t))) AS DOUBLE)
        |                / length(tk) END < 0.0 THEN 'low_stop'
        |     END) IS NULL AS keep
        |  FROM tk),
        |th AS (SELECT doc_id, $duckTokenHashes AS th FROM documents),
        |m AS (SELECT doc_id, $duckMinHashes AS mh FROM th),
        |bands AS (SELECT doc_id, band,
        |    (mh[CAST(2*band + 1 AS INT)] * 31 + mh[CAST(2*band + 2 AS INT)]) % $P
        |      AS band_hash
        |  FROM m, (SELECT unnest(range($Bands)) AS band) b),
        |bf AS (SELECT band, band_hash, min(doc_id) AS first_doc
        |       FROM bands WHERE band_hash IS NOT NULL
        |       GROUP BY band, band_hash),
        |dup AS (SELECT bands.doc_id,
        |         bool_or(first_doc < bands.doc_id) AS is_dup
        |       FROM bands JOIN bf USING (band, band_hash)
        |       GROUP BY bands.doc_id)
        |SELECT d.doc_id, d.source, qf.n_tokens, qf.text AS clean_text
        |FROM documents d
        |JOIN qf ON qf.doc_id = d.doc_id
        |LEFT JOIN dup ON dup.doc_id = d.doc_id
        |WHERE qf.keep AND NOT coalesce(dup.is_dup, false)
        |  AND ${duckHashOrder("d.doc_id")} % 100 < 80
        |ORDER BY d.doc_id""".stripMargin
    }),
    // F12 — all three modalities decode REAL bytes (PPM/WAV/Y4M) into
    // one long-format feature frame. Deterministic synthetic payloads
    // (no binary fixtures ship in testdata); the per-row codec values
    // are not SQL-expressible, so this key keeps the rows-only check —
    // its hashable dual is q_media_summary below.
    // F12 — full frame, e6-quantized into int64 per row so the driver
    // hash-checks it against the independently re-derived fixture
    // (mediaFixture below — formulas-only, no codec roundtrip).
    // F12 — VALUES table interpolated from the formulas-only
    // re-derivation (mediaFixture): the codec path and the fixture
    // must agree cell-for-cell, and the driver hash enforces it.
    Key("q_media_features", (s, _) => Multimodal.featuresQuantized(s, 300),
      s"""SELECT * FROM (VALUES ${mediaFixture(300).map {
           case (id, f, q) =>
             s"(CAST($id AS BIGINT), '$f', CAST($q AS BIGINT))"
         }.mkString(", ")})
        |  AS t(media_id, feature, value_q)
        |ORDER BY media_id, feature""".stripMargin),
    // F12b — the driver-checkable media oracle (VERDICT r9 #1): per
    // feature, row count + exact int64 sum of the e6-quantized values.
    // Deterministic by construction (integer payload formulas, integer
    // codec sums, correctly-rounded IEEE ÷/√, HALF_UP quantization in
    // int space before an order-independent integer sum); the oracle
    // is the spec-written fixture table interpolated from the SAME
    // constant MediaSummarySpec pins with hand-derived anchors.
    // F12b — spec-written fixture table (codec math isn't SQL-
    // expressible; the summary IS deterministic integers, so the
    // oracle is the same constant the operator must reproduce and
    // MediaSummarySpec anchors by hand — one spelling, three readers).
    Key("q_media_summary", (s, _) => Multimodal.mediaSummary(s, 300),
      s"""SELECT * FROM (VALUES ${Multimodal.mediaSummaryFixture.map {
           case (f, n, sq) =>
             s"('$f', CAST($n AS BIGINT), CAST($sq AS BIGINT))"
         }.mkString(", ")})
        |  AS t(feature, n_rows, sum_q)
        |ORDER BY feature""".stripMargin),
    // F78 — media content dedup on the planted-duplicate lake: ground
    // truth is by construction (keep ⟺ id < 96, groups of 2), so the
    // verdict frame has a formula-generated oracle even though the
    // codec math isn't SQL-expressible. nDistinct = 96 sits BELOW the
    // audio generator's content period (samples vary only with
    // key % 32 ⇒ audio keys collide at lcm(3,32) = 96 apart — the
    // first oracle run at 150 caught exactly that as n_copies 4).
    Key("q_media_dedup", (s, _) =>
      Multimodal.mediaDedup(Multimodal.syntheticDupMedia(s, 96)),
      """SELECT r AS media_id,
        |  CASE WHEN r % 3 = 1 THEN 'image'
        |       WHEN r % 3 = 2 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(2 AS BIGINT) AS n_copies,
        |  r < 96 AS keep
        |FROM range(192) t(r) ORDER BY media_id""".stripMargin),
  )
}
