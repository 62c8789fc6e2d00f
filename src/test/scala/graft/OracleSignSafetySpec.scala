package graft

/** The signed-`%` oracle class, made structurally dead (r15 verdict #3).
  *
  * DuckDB's `%` is SIGNED (like Java's) while the Spark operators fold
  * `pmod`, so any oracle that spells `x % P` over a term that can go
  * negative (price cents, event values) silently diverges the moment a
  * corpus carries a negative — the exact class that bit A28 in r14 and
  * `q_stream_upsert` in r15. Two gates:
  *
  *  1. a registry-wide RATCHET over every generated oracle's `% P`
  *     occurrences: each must either wear the sign-safe guard
  *     `((x % P + P) % P)` or be accounted for in the frozen census
  *     below (hand-audited non-negative operands: mod-P hash folds,
  *     affine rehashes with positive coefficients, epoch/id sequences,
  *     outer mods of sums of in-[0,P) values). A key that adds a bare
  *     `% P` fails here until audited.
  *  2. a NEGATIVE-CENTS corpus driven end-to-end through the G32
  *     upsert audit, with the oracle arithmetic replayed in Scala
  *     under DuckDB's signed-% semantics — proving the guarded
  *     spelling matches the operator where the old spelling provably
  *     did not.
  */
class OracleSignSafetySpec extends SparkSpec {
  private val P = graft.functions.PortableText.P
  private val modP = s"% $P"
  private val guard = s"% $P + $P) % $P"

  private def norm(s: String) = s.replaceAll("\\s+", " ")
  private def count(h: String, n: String): Int = {
    var i = 0; var c = 0
    while ({ i = h.indexOf(n, i); i >= 0 }) { c += 1; i += 1 }
    c
  }

  test("every oracle % P is guarded or on the audited bare census") {
    // Each guard instance consumes TWO textual occurrences of "% P"
    // (head + tail), so bare = total − 2·guards.
    val live = SparkEntry.oracleSql.map { case (k, sql) =>
      val t = norm(sql)
      val bare = count(t, modP) - 2 * count(t, guard)
      assert(bare >= 0, s"$k: census inconsistent (guard > total?)")
      k -> bare
    }.filter(_._2 > 0)
    val drift = live.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      val allowed = OracleSignSafetySpec.frozenCensus.getOrElse(k, 0)
      if (v > allowed) Some(s"$k: $v bare '% P' (census allows $allowed)")
      else None
    }
    if (drift.nonEmpty)
      fail("unaudited bare % P occurrences — guard them with " +
        "((x % P + P) % P) or, if the operand is provably " +
        "non-negative, refresh frozenCensus to:\n  " +
        live.toSeq.sorted.map { case (k, v) => s""""$k" -> $v""" }
          .mkString(", ") + "\noffenders:\n" + drift.mkString("\n"))
  }

  test("negative-cents corpus: guarded oracle == operator; old spelling has teeth") {
    val s = spark
    import s.implicits._
    withTempDir("graft_negcents") { tmp =>
      val dir = tmp.toString
      // 8 ticks, 2 symbols, prices straddling zero (bad prints — the
      // case the standard corpora never exercise).
      // Symbol 0 (even i) carries DEEPLY negative prices so its
      // Σ(term % P) goes negative: the signed outer % then returns a
      // negative fingerprint where pmod returns a positive one — the
      // actual divergence mode (per-summand +P offsets alone cancel
      // under the outer mod when the sum stays positive).
      val base = java.sql.Timestamp.valueOf("2024-01-02 07:50:00")
      val rows = (0 until 8).map { i =>
        (i.toLong, (i % 2).toLong,
          new java.sql.Timestamp(base.getTime + i * 1000L),
          if (i % 2 == 0) -1000.5 - i else 2.25 + i)
      }
      rows.toDF("event_id", "user_id", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

      try {
        val audit = graft.streaming.StreamRegistry
          .streamUpsertAudit(s, dir)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

        // Oracle replay under DuckDB semantics: Scala's % is signed,
        // exactly like DuckDB's — this fold IS the oracle arithmetic.
        def guarded(x: Long): Long = ((x % P) + P) % P
        val diverged = rows.groupBy(_._2).map { case (sym, rs) =>
          val contentNew = rs.map { case (id, _, _, v) =>
            guarded(id * 31 + math.round(v * 100.0)) }.sum % P
          val contentOld = rs.map { case (id, _, _, v) =>
            (id * 31 + math.round(v * 100.0)) % P }.sum % P
          val tsFp = rs.map { case (_, _, ts, _) =>
            guarded(ts.getTime) }.sum % P
          val (an, acf, atf) = audit(sym)
          assert(an == rs.size.toLong, s"sym $sym n")
          assert(acf == contentNew,
            s"sym $sym: guarded oracle spelling must match the operator")
          assert(atf == tsFp, s"sym $sym ts_fp")
          contentOld != contentNew
        }
        // teeth: the pre-r16 unguarded spelling must diverge somewhere
        // on this corpus, or the test proves nothing
        assert(diverged.exists(identity),
          "corpus failed to exercise the signed-% divergence")
      } finally {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(dir))
      }
    }
  }
}

object OracleSignSafetySpec {
  /** r16 audited census of bare `% P` occurrences per key — every one
    * traced to a non-negative operand class (mod-P hash folds, affine
    * rehashes with positive coefficients, epoch/id sequences, outer
    * mods of sums of in-[0,P) values). Refresh via the failure message
    * in the census test when a legitimate change moves a count. */
  val frozenCensus: Map[String, Int] = Map(
    // the rich-corpus CTEs (r16) spell the doc-structure hashes as
    // ((x % P) * A) % P over non-negative ids — all audited class 1
    "q_boilerplate_rich" -> 8, "q_threshold_sweep_rich" -> 8,
    "q_source_similarity_rich" -> 10, "q_dedup_spectrum" -> 11,
    // G7b shares F2e's chain verbatim (richdup affine hashes + the
    // band fold over non-negative minhashes) — same 11, same audit
    "q_stream_dup_spectrum" -> 11,
    "q_impact_exponent_rich" -> 4,
    "q_bloom_prefilter" -> 4, "q_canonical_docs" -> 3, "q_cdc_chunks" -> 1,
    "q_chunk_docs" -> 1, "q_classifier_score" -> 1, "q_clf_auc" -> 1,
    "q_clf_calibration" -> 1, "q_cluster_cap" -> 1, "q_cluster_sizes" -> 3,
    "q_cms_heavy_hitters" -> 3, "q_compaction_audit" -> 1,
    "q_corpus_curate" -> 4, "q_corpus_delta" -> 2, "q_corpus_select" -> 4,
    "q_curation_matrix" -> 3, "q_dedup_audit" -> 4, "q_dedup_clusters" -> 3,
    "q_dedup_curve" -> 3, "q_dedup_greedy" -> 3, "q_dedup_incremental" -> 3,
    "q_dedup_minhash" -> 3, "q_dedup_recall" -> 3, "q_dedup_report" -> 3,
    "q_dedup_simhash" -> 1, "q_dedup_simhash_pairs" -> 1,
    "q_doc_fingerprint" -> 1, "q_dup_excise" -> 1, "q_dup_matrix" -> 1,
    "q_dup_spans" -> 1, "q_hash_split" -> 2, "q_heldout_ppl" -> 3,
    "q_hll_ndv" -> 2, "q_ingest_roundtrip" -> 1, "q_jsonl_roundtrip" -> 2,
    "q_late_audit" -> 1, "q_lsh_planner" -> 3, "q_mixture_sample" -> 1,
    "q_near_leakage" -> 3, "q_orc_roundtrip" -> 1, "q_pack_sequences" -> 1,
    "q_release_manifest" -> 4, "q_source_cap" -> 1,
    "q_source_centrality" -> 1, "q_source_similarity" -> 2,
    "q_stage_lineage" -> 23, "q_stratified_split" -> 1,
    "q_stream_classifier" -> 1, "q_stream_cms" -> 2, "q_stream_hll" -> 2,
    "q_stream_late" -> 2, "q_stream_manifest" -> 4,
    "q_stream_near_dup" -> 3, "q_stream_source_cap" -> 1,
    "q_stream_token_budget" -> 1, "q_stream_upsert" -> 2,
    "q_text_embed" -> 1, "q_token_budget" -> 1, "q_weighted_sample" -> 1,
    "q_winnow" -> 1)
}
