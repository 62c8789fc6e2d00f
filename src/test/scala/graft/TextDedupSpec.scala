package graft

import graft.operators.{TextDedup, Vectors}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.map { case (id, txt) => (id, txt, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")

  test("exactDedup marks only the lowest doc_id of identical texts as keep") {
    val out = TextDedup.exactDedup(docs(
      (1L, "hello world"), (2L, "hello world"), (3L, "unique")))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("dedupAudit: identical docs audit at jaccard 1 / est 1 / err 0, " +
      "and every row's ratios reconcile") {
    val out = TextDedup.dedupAudit(docs(
      (1L, "a b c d"), (2L, "a b c d"),   // identical → certain candidate
      (3L, "a b c q"),                    // 3/5 overlap with 1 and 2
      (4L, "x y z w")))                   // disjoint
      .collect()
    val byPair = out.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r).toMap
    val ident = byPair((1L, 2L))
    assert(ident.getAs[Double]("jaccard") == 1.0)
    assert(ident.getAs[Double]("mh_est") == 1.0)
    assert(ident.getAs[Double]("abs_err") == 0.0)
    // invariants on whatever the bands flagged
    out.foreach { r =>
      assert(r.getAs[Double]("jaccard") ==
        r.getAs[Int]("n_common").toDouble / r.getAs[Int]("n_union"))
      assert(r.getAs[Double]("abs_err") ==
        math.abs(r.getAs[Double]("mh_est") - r.getAs[Double]("jaccard")))
    }
    // the partial-overlap pair, if flagged, audits at exactly 3/5
    byPair.get((1L, 3L)).foreach { r =>
      assert(r.getAs[Double]("jaccard") == 0.6)
    }
  }

  test("dupMatrix counts cross-source pairs as cnt_a*cnt_b and diagonal " +
      "as C(cnt,2), omitting dup-free pairs") {
    val df = Seq(
      (1L, "same text alpha", "s1"),
      (2L, "same text alpha", "s1"),
      (3L, "same text alpha", "s2"),
      (4L, "text beta", "s2"),
      (5L, "text beta", "s3"),
      (6L, "unique gamma", "s3"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source")
    val out = TextDedup.dupMatrix(df)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("s1", "s1", 1L, 1L),  // C(2,2) within s1 on alpha
      ("s1", "s2", 2L, 1L),  // 2×1 alpha pairs
      ("s2", "s3", 1L, 1L))) // 1×1 beta pair
  }

  test("nearDupLeakage rolls candidate pairs up by unordered source " +
      "pair with distinct involved docs; disjoint texts never pair") {
    // identical texts 1/2/3 across s1/s1/s2 → pairs (1,2) s1-s1,
    // (1,3)+(2,3) s1-s2; doc 4 shares nothing.
    val df = Seq(
      (1L, "the quick brown fox", "s1"),
      (2L, "the quick brown fox", "s1"),
      (3L, "the quick brown fox", "s2"),
      (4L, "completely different words here", "s2"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source")
    val out = TextDedup.nearDupLeakage(df)
      .as[(String, String, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      ("s1", "s1", 1L, 2L, false),
      ("s1", "s2", 2L, 3L, true)))
  }

  test("sourceSimilarity: exact trigram-set Jaccard by hand, identical " +
      "sources estimate 1.0 with zero error") {
    // word-trigram sets: s1 = {a b c, b c d, c d e} (from "a b c d" +
    // "b c d e"), s2 = s3 = {a b c, b c d}. J(s1,s2) = 2/3.
    val df = Seq(
      (1L, "a b c d", "s1"), (2L, "b c d e", "s1"),
      (3L, "a b c d", "s2"), (4L, "a b c d", "s3"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source")
    val out = TextDedup.sourceSimilarity(df, 64).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
        -> r).toMap
    val s12 = out(("s1", "s2"))
    assert(s12.getAs[Long]("n_gram_a") == 3L &&
      s12.getAs[Long]("n_gram_b") == 2L &&
      s12.getAs[Long]("n_inter") == 2L)
    assert(s12.getAs[Double]("exact_jaccard") == 2.0 / 3.0)
    val est12 = s12.getAs[Double]("est_jaccard")
    assert(est12 >= 0.0 && est12 <= 1.0)
    assert(s12.getAs[Double]("err") == est12 - 2.0 / 3.0)
    val s23 = out(("s2", "s3"))
    assert(s23.getAs[Long]("n_match") == 64L &&
      s23.getAs[Double]("est_jaccard") == 1.0 &&
      s23.getAs[Double]("exact_jaccard") == 1.0 &&
      s23.getAs[Double]("err") == 0.0)
  }

  test("dedupThresholdCurve: duplicate pair counts at every cutoff " +
      "with the higher id dropped; dup-free corpus keeps zero rows") {
    // docs 1/2 identical (J=1 qualifies at every tenth), 3 disjoint.
    val out = TextDedup.dedupThresholdCurve(docs(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "completely different words here"), (4L, "and again other")),
      Seq(5, 10))
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(out == Seq((5, 1L, 1L, 2500L), (10, 1L, 1L, 2500L)))
    val none = TextDedup.dedupThresholdCurve(docs(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta theta iota")), Seq(5, 9))
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(none == Seq((5, 0L, 0L, 0L), (9, 0L, 0L, 0L)))
  }

  test("identical docs share all minhash bands; candidatePairs finds them") {
    val bands = TextDedup.minHashBands(docs(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "completely different words here")))
    val pairs = TextDedup.candidatePairs(bands)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("candidatePairsFromSigs == candidatePairs(minHashBands) as a " +
      "set, with exactly one row per pair (first-match, no distinct)") {
    import org.apache.spark.sql.functions.{col, expr}
    // a corpus with exact dups (match ALL 4 bands — the multi-band
    // collapse the first-match filter must dedup), near-dups (some
    // bands), non-dups, and a token-less doc (NULL bands, dropped)
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "utterly unrelated content sits here instead now"),
      (5L, "utterly unrelated content sits here instead now"),
      (6L, ""))
    val viaBands = TextDedup.candidatePairs(
      TextDedup.minHashBands(d, ordered = false))
      .as[(Long, Long)].collect().toSet
    val sigs = d
      .withColumn("th", expr(graft.functions.PortableText.tokenHashes))
      .withColumn("mh", expr(graft.functions.PortableText.minHashes))
      .select(col("doc_id"), col("mh"))
    val viaSigs = TextDedup.candidatePairsFromSigs(sigs)
      .as[(Long, Long)].collect()
    assert(viaSigs.toSet == viaBands)
    assert(viaSigs.length == viaSigs.toSet.size,
      s"first-match filter must emit each pair exactly once: " +
        s"${viaSigs.toSeq.sorted}")
    assert(viaBands.contains((1L, 2L)) && viaBands.contains((4L, 5L)))
    // the HOT-BUCKET regime switch (H9 tiled layout, threshold 0 so
    // every bucket counts as hot): same pair SET, still exactly one
    // row per pair, for several tile counts including tiles > docs
    for (tiles <- Seq(1, 3, 16)) {
      val tiled = TextDedup.candidatePairsFromSigs(sigs,
        hotBucketThreshold = 0L, tiles = tiles)
        .as[(Long, Long)].collect()
      assert(tiled.toSet == viaBands,
        s"tiled (tiles=$tiles) pair set diverged")
      assert(tiled.length == tiled.toSet.size,
        s"tiled (tiles=$tiles) emitted a duplicate pair")
    }
    // and a threshold ABOVE every bucket stays on the broadcast path
    // with the identical result (the switch is a no-op off the hot
    // regime)
    assert(TextDedup.candidatePairsFromSigs(sigs,
      hotBucketThreshold = Long.MaxValue)
      .as[(Long, Long)].collect().toSet == viaBands)
  }

  test("near-identical docs agree on most bands (LSH recall)") {
    val bands = TextDedup.minHashBands(docs(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight")))
    val pairs = TextDedup.candidatePairs(bands).count()
    assert(pairs == 1L) // at least one band collides for 80%+ overlap
  }

  test("simhash of identical docs is equal; pairs found within hamming radius") {
    val sigs = TextDedup.simHashSig(docs(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")))
    val byId = sigs.as[(Long, Long)].collect().toMap
    assert(byId(1L) == byId(2L))
    val pairs = TextDedup.simHashPairs(sigs, 0).as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
  }

  test("ngramJaccard gives 1.0 for identical sampled docs") {
    val out = TextDedup.ngramJaccard(docs(
      (5L, "abcdefghij"), (10L, "abcdefghij"), (15L, "zzzzyyyyxxxx")), 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((5L, 10L, 1.0)))
  }

  test("containmentPairs: a short doc inside a long one scores 1.0 " +
      "forward and lower backward") {
    // sampled ids (% 5 == 0); doc 5's grams all appear in doc 10
    val out = TextDedup.containmentPairs(docs(
      (5L, "abcdef"), (10L, "abcdefghijkl"), (15L, "qqqqrrrr")), 0.3)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // doc5: grams {abc,bcd,cde,def} (4); doc10 has 10 grams, 4 shared
    assert(out.contains((5L, 10L, 4L, 4L, 1.0)))
    assert(out.contains((10L, 5L, 4L, 10L, 0.4)))
    assert(out.length == 2) // doc15 shares nothing
  }

  test("clusterSizeProfile histograms cluster sizes with doc mass") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),  // one 3-cluster
      (4L, 4L), (5L, 5L))            // two singletons
      .toDF("doc_id", "cluster")
    val out = TextDedup.clusterSizeProfile(clusters)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L), (3L, 1L, 3L)))
  }

  test("cmsHeavyHitters: estimates are never below exact counts and the " +
      "top token ranks first") {
    val out = TextDedup.cmsHeavyHitters(docs(
      (1L, "a a a a b"), (2L, "a b c"), (3L, "c c b")), 10)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    // exact: a=5, b=3, c=3
    assert(out.head._2 == "a" && out.head._4 == 5L)
    assert(out.forall { case (_, _, est, exact, over) =>
      est >= exact && over == est - exact })
    assert(out.map(_._2).toSet == Set("a", "b", "c"))
  }

  test("bpePairStats: pair counts weight word frequency times " +
      "within-word multiplicity") {
    val out = TextDedup.bpePairStats(docs(
      (1L, "aaa ab"), (2L, "aaa x")), 10)
      .as[(Long, String, Long)].collect().toSeq
    val counts = out.map(r => r._2 -> r._3).toMap
    // 'aaa' freq 2 contributes 'aa' twice each → 4; 'ab' freq 1 → 1
    assert(counts("aa") == 4L)
    assert(counts("ab") == 1L)
    assert(!counts.contains("x")) // 1-char word: no pair
    assert(out.head._2 == "aa") // top by count
  }

  test("dedupClusters finds connected components with min-id representative") {
    // Graph: 1-2, 2-3 chain (component min 1); 5-6 pair; 4 isolated.
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = TextDedup.dedupClusters(ds, pairs)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true), (6L, 5L, false)))
  }

  test("dedupClusters converges on a long chain (propagation crosses hops)") {
    // 0-1-2-...-9 chain: everything collapses to cluster 0.
    val ds = (0L to 9L).toDF("doc_id")
    val pairs = (0L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = TextDedup.dedupClusters(ds, pairs)
      .select("cluster").distinct().as[Long].collect().toSeq
    assert(clusters == Seq(0L))
  }

  test("dedupClustersFromBuckets equals pair-graph components") {
    // Buckets: A={1,2}, B={2,3}, C={5,6}, D={4}: components {1,2,3},
    // {5,6}, {4} — same as CC over pairs sharing a bucket.
    val ds = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val assign = Seq((1L, 100L), (2L, 100L), (2L, 200L), (3L, 200L),
      (4L, 400L), (5L, 300L), (6L, 300L)).toDF("doc_id", "bkey")
    val out = TextDedup.dedupClustersFromBuckets(ds, assign)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true), (6L, 5L, false)))
  }

  test("dedupClustersFromBuckets converges in O(log diameter) rounds " +
      "on an adversarial long-chain graph") {
    // Path graph of diameter 512 — docs i and i+1 share bucket i. A
    // plain min-label propagation needs ~512 rounds (and would hit the
    // maxIter throw); pointer jumping must collapse it in
    // ~log2(512)+c. This is the one input family where the fixpoint
    // bound, not just the answer, is the contract.
    val n = 512
    val ds = (0L until n.toLong).toDF("doc_id")
    val assign = (0L until (n - 1).toLong)
      .flatMap(i => Seq((i, i), (i + 1, i)))
      .toDF("doc_id", "bkey")
    val (labels, rounds) =
      TextDedup.dedupClustersFromBucketsWithRounds(ds, assign, maxIter = 20)
    val out = labels.as[(Long, Long, Boolean)].collect()
    assert(out.forall(_._2 == 0L), "one component, min-label 0")
    assert(out.count(_._3) == 1, "exactly one representative")
    // log2(512) = 9; the bipartite hop + jump pattern needs a small
    // additive constant. Measured: well under 20; assert the bound so
    // a future edit that silently degrades to linear convergence fails.
    assert(rounds <= 14, s"pointer jumping degraded: $rounds rounds")
  }

  test("greedyNearDup: dup iff any band bucket holds an earlier doc, " +
      "transitive through dropped docs") {
    // doc 2 near-dups doc 1 (shared bands); doc 3 near-dups doc 2's
    // text — greedy flags it too even though 2 was itself dropped.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base),
      (4L, "an entirely different document about winter mountain storms"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source")
    val out = TextDedup.greedyNearDup(docs)
      .as[(Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, false), (2L, true), (3L, true), (4L, false)))
  }

  test("incrementalNearDup: incoming docs flagged against the existing " +
      "corpus (blame 'existing') or earlier incoming docs ('batch'), " +
      "existing never re-flagged, empty incoming doc kept") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "an entirely different document about winter mountain storms"
    val existing = docs((10L, base), (11L, other))
    val incoming = docs(
      (3L, base),   // hits existing (note id < existing ids — pinning wins)
      (5L, other),  // hits existing
      (6L, "completely novel text about summer river valleys flowing"),
      (7L, "completely novel text about summer river valleys flowing"),
      (8L, ""))     // no bands → kept
    val out = TextDedup.incrementalNearDup(existing, incoming)
      .as[(Long, Boolean, Option[String])].collect().toSeq
    assert(out == Seq(
      (3L, true, Some("existing")),
      (5L, true, Some("existing")),
      (6L, false, None),
      (7L, true, Some("batch")),
      (8L, false, None)))
  }

  test("bpeTrain: hand-traced adaptive merge cascade, left-to-right " +
      "non-overlapping merges, weighted by word frequency") {
    // vocab: 'aaab'×2, 'ab'×1 → seg0 'a a a b'(2), 'a b'(1)
    // round 1: pairs {a a: 4, a b: 3} → merge 'a a' → 'aa a b', 'a b'
    //   ('aaa' prefix merges ONCE — non-overlapping left-to-right)
    // round 2: pairs {a b: 3, aa a: 2} → merge 'a b' → 'aa ab', 'ab'
    // round 3: pairs {aa ab: 2} → merge 'aa ab'
    val df = docs((1L, "aaab aaab ab"))
    val out = TextDedup.bpeTrain(df, 3)
      .as[(Int, String, Long)].collect().toSeq
    assert(out == Seq((1, "a a", 4L), (2, "a b", 3L), (3, "aa ab", 2L)))
  }

  test("heapsFit: two-prefix corpus fits ln V on ln N through both " +
      "points; repeated tokens grow N but not V") {
    // buckets=2, ids 0–3 (mx=3): b0 = {0,1}, b1 = {2,3}.
    // tokens: b0 mass 4 / vocab {a,b,c}; b1 mass 5 / new {d,e}.
    // points: (ln 4, ln 3), (ln 9, ln 5) ⇒
    // β = ln(5/3)/ln(9/4) ≈ 0.6296, perfect two-point fit.
    val d = docs((0L, "a b"), (1L, "a c"), (2L, "a d"), (3L, "b d e"))
    val out = TextDedup.heapsFit(d, 2).collect().head
    assert(out.getLong(0) == 2L)
    val beta = out.getDouble(1)
    assert(math.abs(beta - math.log(5.0 / 3) / math.log(9.0 / 4)) < 1e-3,
      s"beta $beta")
    assert(out.getDouble(3) > 0.999, "two points fit exactly")
  }

  test("sourceCentrality: symmetric dup pair holds its fixed point " +
      "(exactly 1/3 every round); a dangling source keeps only the " +
      "teleport mass") {
    // A and B share two identical docs (edges A↔B, weight 2 each
    // way); C is isolated. N=3: pr(A)=pr(B)=0.05+0.85·(1/3) = 1/3
    // EXACTLY each round (0.15/3 + 0.85/3), pr(C)=0.15/3=0.05.
    val rows = Seq(
      (1L, "x", "en", "A", 1L), (2L, "x", "en", "B", 1L),
      (3L, "z", "en", "A", 1L), (4L, "z", "en", "B", 1L),
      (5L, "y", "en", "C", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.sourceCentrality(rows, iters = 10)
      .as[(String, Double)].collect().toMap
    assert(out("A") == 0.3333 && out("B") == 0.3333)
    assert(out("C") == 0.05)
  }

  test("incrementalVocab: base ⊎ delta merge equals the full " +
      "recompute; split-straddling tokens sum across releases") {
    // split 200: docs 1, 100 are the base release, 300 the delta
    val d = docs((1L, "a a b"), (100L, "b c"), (300L, "a c c"))
    val out = TextDedup.incrementalVocab(d, 200L, 10)
      .as[(Int, String, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1, "a", 2L, 1L, 3L), (2, "c", 1L, 2L, 3L),
      (3, "b", 2L, 0L, 2L)))
  }

  test("bpeCompressionCurve: per-rung token mass on the hand-traced " +
      "cascade; saved < selected pair_cnt under overlap") {
    // Same corpus as the bpeTrain trace: masses 10 → 8 → 5 → 3.
    // Round 1 selects 'a a' with pair_cnt 4 but saves only 2 tokens
    // ('aaa' merges non-overlapping left-to-right, once per word).
    val df = docs((1L, "aaab aaab ab"))
    val out = TextDedup.bpeCompressionCurve(df, 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 10L, 0L, 1.0), (1L, 8L, 2L, 1.25),
      (2L, 5L, 3L, 2.0), (3L, 3L, 2L, 3.3333)))
  }

  test("bpeTrain fails fast when the vocabulary has no pairs left") {
    val df = docs((1L, "a b c a")) // every word 1 char → zero pairs
    val e = intercept[IllegalArgumentException] {
      TextDedup.bpeTrain(df, 1)
    }
    assert(e.getMessage.contains("vocabulary exhausted"))
  }

  test("bpeTrain equals a straight-line reference BPE on random " +
      "corpora (fixed-seed property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // reference trainer: mutable pair counts + explicit left-to-right
    // merge scan — nothing shared with the operator's fold spelling.
    def refBpe(words: Seq[(String, Long)], n: Int)
    : Seq[(Int, String, Long)] = {
      def mergeLR(syms: List[String], pa: String, pb: String)
      : List[String] = {
        val buf = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
            buf += (pa + pb); i += 2
          } else { buf += syms(i); i += 1 }
        }
        buf.toList
      }
      var segs = words.map { case (w, f) => (w.map(_.toString).toList, f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
      for (r <- 1 to n) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        for ((syms, f) <- segs; Seq(a, b) <- syms.sliding(2))
          counts((a, b)) += f
        if (counts.isEmpty) return out.toSeq // exhausted
        val ((pa, pb), c) = counts.toSeq
          .minBy { case ((a, b), cnt) => (-cnt, s"$a $b") }
        out += ((r, s"$pa $pb", c))
        segs = segs.map { case (syms, f) => (mergeLR(syms, pa, pb), f) }
      }
      out.toSeq
    }
    val corpusGen: Gen[Seq[String]] = for {
      n <- Gen.choose(3, 7)
      ws <- Gen.listOfN(n, for {
        len <- Gen.choose(1, 6)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
    } yield ws
    (1L to 5L).foreach { seed =>
      val words = corpusGen.pureApply(Gen.Parameters.default, Seed(seed))
      val vocab = words.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val want = refBpe(vocab, 3)
      val df = docs((1L, words.mkString(" ")))
      val got =
        try TextDedup.bpeTrain(df, 3)
          .as[(Int, String, Long)].collect().toSeq
        catch { case _: IllegalArgumentException => Seq.empty }
      // operator fails fast on exhaustion; reference returns short —
      // compare the shared prefix semantics
      if (want.size == 3) assert(got == want, s"seed=$seed words=$words")
      else assert(got.isEmpty || got == want, s"seed=$seed words=$words")
    }
  }

  test("zipfFit: exact OLS on a constructed frequency spectrum") {
    // corpus engineered so the top-3 spectrum is (aa:4, bb:2, cc:1):
    // slope of ln(cnt) on ln(rank) over 3 points.
    val df = docs(
      (1L, "aa aa bb cc"), (2L, "aa aa bb"))
    val out = TextDedup.zipfFit(df, 3).collect().head
    assert(out.getAs[Long]("n_tokens") == 3L)
    def r4(x: Double) = math.rint(x * 10000) / 10000
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    // mirror the operator: ROUNDED sums, then the derived OLS
    val n = 3.0
    val sx = r4(xs.sum); val sy = r4(ys.sum)
    val sxx = r4(xs.map(x => x * x).sum)
    val sxy = r4(xs.zip(ys).map { case (x, y) => x * y }.sum)
    val syy = r4(ys.map(y => y * y).sum)
    val cov = n * sxy - sx * sy; val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    assert(out.getAs[Double]("slope") == r4(cov / vx))
    assert(out.getAs[Double]("intercept") == r4((sy - (cov / vx) * sx) / n))
    assert(out.getAs[Double]("r2") == r4((cov * cov) / (vx * vy)))
    // near −1.23 for this 4:2:1 spectrum (hand regression)
    assert(math.abs(out.getAs[Double]("slope") + 1.2334) < 0.02)
  }

  test("incrementalNearDupSplit ≡ incrementalNearDup on a predicate " +
      "split of one corpus (the single-scan form must not change " +
      "verdicts)") {
    import org.apache.spark.sql.functions.expr
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "an entirely different document about winter mountain storms"
    val corpus = docs(
      (1L, base), (2L, other), (3L, base), (4L, other),
      (5L, "completely novel text about summer river valleys flowing"),
      (6L, ""), (10L, base))
    val pred = "doc_id % 2 = 0" // existing = even ids
    val split = TextDedup.incrementalNearDupSplit(corpus, expr(pred))
      .as[(Long, Boolean, Option[String])].collect().toSeq
    val twoFrame = TextDedup.incrementalNearDup(
      corpus.where(pred), corpus.where(s"NOT ($pred)"))
      .as[(Long, Boolean, Option[String])].collect().toSeq
    assert(split == twoFrame)
    assert(split.nonEmpty && split.exists(_._2)) // non-vacuous
  }

  test("incrementalNearDup against an empty corpus degenerates to " +
      "greedyNearDup") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val batch = docs(
      (1L, base), (2L, base), (3L, base),
      (4L, "an entirely different document about winter mountain storms"))
    val inc = TextDedup.incrementalNearDup(docs(), batch)
      .select("doc_id", "is_duplicate").as[(Long, Boolean)].collect().toSeq
    val greedy = TextDedup.greedyNearDup(batch)
      .as[(Long, Boolean)].collect().toSeq
    assert(inc == greedy)
  }

  // Straight-line reference winnowing (Schleimer et al. §4): positional
  // k-gram polyhashes, window of w, rightmost-min per window, distinct
  // (hash, pos) pairs.
  private def refWinnow(text: String, k: Int, w: Int): Seq[(Long, Int)] = {
    val P = 1000000007L
    def ph(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % P)
    val n = text.length - k + 1
    if (n <= 0) Seq()
    else {
      val hs = (1 to n).map(i => ph(text.substring(i - 1, i - 1 + k)))
      val nw = if (n < w) 1 else n - w + 1
      (1 to nw).map { s =>
        (s until math.min(s + w, n + 1))
          .map(p => (hs(p - 1), p))
          .foldLeft((Long.MaxValue, 0)) { (acc, x) =>
            if (x._1 <= acc._1) x else acc
          }
      }.distinct
    }
  }

  test("winnowFingerprints matches the straight-line reference: counts " +
      "and hash checksum, incl. short docs, ties, and the n<w window") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "aaaaaaaaaaaa",     // all grams identical → tie path
      3L -> "abcdefg",          // 3 grams < w → single window
      4L -> "abc",              // shorter than k → no grams
      5L -> "")
    val out = TextDedup.winnowFingerprints(docs(texts: _*), k = 5, w = 8)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    texts.foreach { case (id, t) =>
      val fps = refWinnow(t, 5, 8)
      val n = math.max(t.length - 4, 0).toLong
      val nw = if (n == 0) 0L else if (n < 8) 1L else n - 7
      assert(out(id) == ((n, nw, fps.size.toLong, fps.map(_._1).sum)),
        s"doc $id ($t)")
    }
  }

  test("winnowFingerprints matches the reference on 200 random " +
      "small-alphabet strings (seed 42; 3-letter alphabet forces hash " +
      "ties, exercising the rightmost-min deque path)") {
    val rnd = new scala.util.Random(42)
    val texts = (1L to 200L).map { id =>
      val len = rnd.nextInt(60)
      id -> (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    }
    val out = TextDedup.winnowFingerprints(docs(texts: _*), k = 3, w = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    texts.foreach { case (id, t) =>
      val fps = refWinnow(t, 3, 4)
      assert(out(id) == ((fps.size.toLong, fps.map(_._1).sum)),
        s"doc $id ($t)")
    }
  }

  test("winnowing guarantee: docs sharing a substring of >= w+k-1 chars " +
      "share at least one fingerprint hash (reference-level check)") {
    val shared = "winnowing guarantees a shared fingerprint"
    val a = "prefix text before " + shared
    val b = shared + " and then a completely different tail"
    val fa = refWinnow(a, 5, 8).map(_._1).toSet
    val fb = refWinnow(b, 5, 8).map(_._1).toSet
    assert(fa.intersect(fb).nonEmpty)
  }

  test("dedupSurvivorship charges each source its greedy-dropped docs " +
      "and token mass") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base, "s1"),                  // kept (first)
      (2L, base, "s1"),                  // dropped (12 tokens)
      (3L, base, "s2"),                  // dropped — cross-source blame
      (4L, "short novel text", "s2"))    // kept (3 tokens)
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source")
    val out = TextDedup.dedupSurvivorship(df)
      .as[(String, Long, Long, Long, Long, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("s1") == (("s1", 2L, 1L, 24L, 12L, 0.5, Some(0.5))))
    assert(out("s2") == (("s2", 2L, 1L, 15L, 12L, 0.5, Some(12.0 / 15))))
  }

  test("boilerplateShare: shared fraction of distinct grams, repeats " +
      "inside one doc don't count, gram-less docs report NULL ratio") {
    val shared = "the common template phrase"
    val out = TextDedup.boilerplateShare(docs(
      (1L, shared + " alpha beta gamma"),
      (2L, shared + " delta eps zeta"),
      (3L, "entirely novel words only here today"),
      (4L, "tiny")), 3)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // docs 1/2: 7 tokens → 5 distinct 3-grams; the 2 grams inside the
    // 4-token shared prefix occur in both docs
    assert(out(1L) == ((5L, 2L, Some(0.4))))
    assert(out(2L) == ((5L, 2L, Some(0.4))))
    assert(out(3L) == ((4L, 0L, Some(0.0))))
    assert(out(4L) == ((0L, 0L, None)))
  }

  // Straight-line reference HLL (m=32, 25-bit suffix, no correction):
  // returns (n_zero_registers, sum_scaled, est, exact_ndv).
  private def refHll(texts: Seq[String], n: Int): (Long, Long, Double, Long) = {
    val P = 1000000007L
    def ph(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % P)
    val grams = texts.flatMap { t =>
      val tk = t.split(' ').filter(_.nonEmpty).toSeq
      if (tk.length < n) Seq() else tk.sliding(n).map(_.mkString(" ")).toSeq
    }
    val regs = Array.fill(32)(0L)
    grams.foreach { g =>
      val u = (3 * ph(g) + 7) % P
      val reg = (u % 32).toInt
      val rest = u / 32
      val rho =
        (1 to 25).find(j => (rest >> (25 - j)) % 2 == 1).getOrElse(26).toLong
      regs(reg) = math.max(regs(reg), rho)
    }
    val sumScaled = regs.map(m => 1L << (26 - m).toInt).sum
    (regs.count(_ == 0L).toLong, sumScaled,
      0.697 * 1024 * 67108864 / sumScaled.toDouble,
      grams.distinct.size.toLong)
  }

  test("hllNdv matches the straight-line reference exactly (registers, " +
      "scaled denominator, estimate) and stays within HLL error bounds " +
      "on ~1000 distinct grams") {
    val rnd = new scala.util.Random(7)
    val texts = (1L to 60L).map { id =>
      id -> (1 to 20).map(_ => s"w${rnd.nextInt(600)}").mkString(" ")
    }
    val (nZero, sumScaled, est, exact) = refHll(texts.map(_._2), 2)
    val row = TextDedup.hllNdv(docs(texts: _*), 2)
      .as[(Long, Long, Long, Double, Long, Double)].collect().head
    assert(row._1 == 32L)
    assert(row._2 == nZero)
    assert(row._3 == sumScaled)
    assert(row._4 == est) // identical IEEE spelling → bit-exact
    assert(row._5 == exact)
    // m=32 → standard error 1.04/sqrt(32) ≈ 18%; generous 3σ bound
    assert(math.abs(row._6) < 0.55, s"rel_err ${row._6}")
  }

  test("hllNdv audit=false: identical sketch columns, typed-NULL " +
      "exact/rel_err, and NO distinct exchange in the executed plan") {
    val rnd = new scala.util.Random(11)
    val texts = (1L to 40L).map { id =>
      id -> (1 to 15).map(_ => s"w${rnd.nextInt(300)}").mkString(" ")
    }
    val audited = TextDedup.hllNdv(docs(texts: _*), 2).collect().head
    val est = TextDedup.hllNdv(docs(texts: _*), 2, audit = false)
    val row = est.collect().head
    // sketch half identical; audit half typed NULL
    assert(row.getLong(0) == audited.getLong(0))
    assert(row.getLong(1) == audited.getLong(1))
    assert(row.getLong(2) == audited.getLong(2))
    assert(row.getDouble(3) == audited.getDouble(3))
    assert(row.isNullAt(4) && row.isNullAt(5))
    assert(est.schema("exact_ndv").dataType ==
      org.apache.spark.sql.types.LongType)
    // plan proof: the production path is one linear scan + the
    // 32-register aggregate — no count(distinct), no exchange keyed
    // on the gram stream
    val plan = est.queryExecution.executedPlan.toString
    assert(!plan.contains("distinct"), plan.take(2000))
    assert(!plan.contains("hashpartitioning(gram"), plan.take(2000))
    val auditedPlan = TextDedup.hllNdv(docs(texts: _*), 2)
      .queryExecution.executedPlan.toString
    assert(auditedPlan.contains("distinct")) // the flag really gates it
  }

  test("hllNdv is monotone under corpus growth (register maxima only " +
      "ever increase, so the estimate never drops)") {
    val small = (1L to 10L).map(i => i -> s"alpha$i beta$i gamma$i")
    val grown = small ++ (11L to 40L).map(i => i -> s"delta$i eps$i zeta$i")
    val eSmall = TextDedup.hllNdv(docs(small: _*), 2)
      .select("est_ndv").as[Double].collect().head
    val eGrown = TextDedup.hllNdv(docs(grown: _*), 2)
      .select("est_ndv").as[Double].collect().head
    assert(eGrown >= eSmall)
  }

  test("termSaliency ranks tokens by tf/df with token tie-break") {
    val docs = Seq(
      (1L, "apple apple banana shared"),
      (2L, "banana cherry shared"),
      (3L, "shared only words"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source")
    val out = TextDedup.termSaliency(docs, 2)
      .select("doc_id", "token", "rnk")
      .as[(Long, String, Int)].collect().toSeq
    // doc 1: apple tf=2 df=1 -> 2.0 beats banana 1/2; doc 2: cherry
    // 1/1 beats banana 1/2; doc 3: only and words tie at 1/1 ->
    // token order breaks it
    assert(out == Seq(
      (1L, "apple", 1), (1L, "banana", 2),
      (2L, "cherry", 1), (2L, "banana", 2),
      (3L, "only", 1), (3L, "words", 2)))
  }

  test("langId votes by marker words with fixed tie-break") {
    val out = TextDedup.langId(
      Seq((1L, "der hund und die katze", "de", "s"),
        (2L, "no markers here whatsoever", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"))
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(out(1L) == "de")
    assert(out(2L) == "en") // zero hits everywhere -> tie-break to en
  }

  test("qualityScore ratios are computed over tokens") {
    val r = TextDedup.qualityScore(docs((1L, "the cat sat.")), Seq("the"))
      .collect().head
    assert(r.getAs[Int]("n_tokens") == 3)
    assert(math.abs(r.getAs[Double]("stop_ratio") - 1.0 / 3) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_word_len") - 10.0 / 3) < 1e-12)
  }

  test("tokenCount: whitespace vs bpe-ish regex") {
    val r = TextDedup.tokenCount(docs((1L, "ab 12 c."))).collect().head
    assert(r.getAs[Int]("n_ws_tokens") == 3)
    assert(r.getAs[Int]("n_bpe_tokens") == 4) // ab, 12, c, .
  }

  test("fingerprint is order-sensitive") {
    val fps = TextDedup.fingerprint(docs((1L, "abc"), (2L, "acb"), (3L, "abc")))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(3L) && fps(1L) != fps(2L))
  }

  test("canonicalSelection keeps the LONGEST cluster member (ties to " +
      "the smallest id), not the smallest-id member; singletons are " +
      "their own canonicals") {
    // docs 1/2/3 near-dup (shared text, 3 bands+): 3 is LONGER and
    // must win over the smaller ids; docs 10/11 identical twins of
    // equal length — tie resolves to 10; doc 20 is a singleton
    val base = "the quick brown fox jumps over the lazy dog"
    val out = TextDedup.canonicalSelection(docs(
      (1L, base), (2L, base), (3L, base + " tonight"),
      (10L, "completely different words sit here"),
      (11L, "completely different words sit here"),
      (20L, "a lonely singleton document")))
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._4, r._5)).toMap
    assert(out(1L) == (3L, false) && out(2L) == (3L, false) &&
      out(3L) == (3L, true))
    assert(out(10L) == (10L, true) && out(11L) == (10L, false))
    assert(out(20L) == (20L, true))
  }

  test("bruteForceKnn finds the exact nearest vector") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val top1 = Vectors.bruteForceKnn(emb, 1, 1, dim = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(top1 == Seq(1L))
  }

  test("filteredKnn ranks only candidates matching the metadata " +
      "predicate — the filter changes the answer, not just trims it") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.7f, 0.3f), 1), (3L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    // unfiltered nearest to query 0 is vec 1 (label 0); restricted to
    // label 1 the answer CHANGES to vec 2 — post-filtering F6's top-1
    // would instead return nothing
    val got = Vectors.filteredKnn(emb, 1, 1, label = 1, dim = 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(2L))
    // and the query itself sits OUTSIDE the filtered label (vec 0 is
    // label 0) — the asymmetry a post-filtering pipeline gets wrong
  }

  test("lshBuckets puts identical vectors in the same bucket") {
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f), 0), (1L, Array(1.0f, 2.0f, 3.0f), 0),
      (2L, Array(-1.0f, -2.0f, -3.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Vectors.lshBuckets(emb, 8, dim = 3)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(out(0L) == out(1L) && out(0L) != out(2L))
  }

  test("cosineDedup pairs LSH-cobucketed near-duplicates, filters label") {
    // (1.0,0.1) and (0.99,0.11) share all 8 hyperplane signs (hand
    // checked against ((j*31+i*17)%5-2)); (0,1) flips plane j=1 and
    // lands elsewhere; vec 15 matches nobody's label.
    val emb = Seq(
      (0L, Array(1.0f, 0.1f), 7), (5L, Array(0.99f, 0.11f), 7),
      (10L, Array(0.0f, 1.0f), 7), (15L, Array(1.0f, 0.1f), 3))
      .toDF("vec_id", "embedding", "label")
    val pairs = Vectors.cosineDedup(emb, 0.9, dim = 2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((0L, 5L)))
  }

  test("langConfusion: declared-vs-detected cell counts with exact " +
      "bps shares; disagreement cells carry agree=false") {
    val docs = Seq(
      (1L, "the a is of and", "en", "s"),   // en detected, declared en
      (2L, "the a is of and", "fr", "s"),   // en detected, declared fr
      (3L, "le la et les des", "fr", "s"),  // fr detected, declared fr
      (4L, "le la et les des", "fr", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.operators.TextDedup.langConfusion(docs).collect()
      .map(r => (r.getAs[String]("declared"), r.getAs[String]("predicted")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_declared"),
          r.getAs[Long]("cell_share_bp"), r.getAs[Boolean]("agree"))).toMap
    assert(out(("en", "en")) == ((1L, 1L, 10000L, true)))
    assert(out(("fr", "en")) == ((1L, 3L, 3333L, false)))
    assert(out(("fr", "fr")) == ((2L, 3L, 6666L, true)))
  }

  test("tokenConcentration: exact top-k share in bps, HHI from exact " +
      "integer sums, ties broken by token text") {
    // tokens: a×4, b×3, c×2, d×1 → N=10, vocab 4, Σf² = 16+9+4+1 = 30.
    val docs = Seq(
      (1L, "a a b c"), (2L, "a b d"), (3L, "a b c"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source")
    val r = graft.operators.TextDedup.tokenConcentration(docs, 2)
      .collect().head
    assert(r.getAs[Long]("n_occurrences") == 10L)
    assert(r.getAs[Long]("n_vocab") == 4L)
    assert(r.getAs[Long]("topk_occ") == 7L)          // a(4) + b(3)
    assert(r.getAs[Long]("topk_share_bp") == 7000L)
    assert(r.getAs[Long]("sum_f2") == 30L)
    assert(r.getAs[Double]("hhi") == 30.0 / (10.0 * 10.0))
  }

  test("bpeEncode: doc token counts follow the trained segmentation " +
      "(one merge: 'a a' -> 'aa')") {
    // vocab: aa(2), ab(1), b(1); round 1 merges the dominant pair
    // "a a", so aa -> 1 symbol, ab stays 2, b stays 1.
    val d = docs((1L, "aa aa ab"), (2L, "b"))
    val out = TextDedup.bpeEncode(d, nMerges = 1)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 4L, 6L, 4.0 / 3.0, 6.0 / 4.0),
      (2L, 1L, 1L, 1L, 1.0, 1.0)))
  }

  test("dupSpans: shared 10-token run merges three overlapping 8-gram " +
      "starts into one maximal span; unique doc reports zeros") {
    // docs 0/1 share tokens a..j (10 tokens) at different offsets;
    // with w=8 the duplicated gram starts are {0,1,2} in doc 0 and
    // {2,3,4} in doc 1 — each merges (gap 1 ≤ w) into ONE span of
    // max−min+w = 10 covered tokens. doc 2 shares nothing.
    val d = docs(
      (0L, "a b c d e f g h i j u0 u1 u2"),
      (1L, "z0 z1 a b c d e f g h i j z2"),
      (2L, "q0 q1 q2 q3 q4 q5 q6 q7 q8"))
    val out = TextDedup.dupSpans(d, w = 8)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 13L, 1L, 10L, 10L, 10.0 / 13.0),
      (1L, 13L, 1L, 10L, 10L, 10.0 / 13.0),
      (2L, 9L, 0L, 0L, 0L, 0.0)))
  }

  test("dupSpanExcise: covered tokens drop, the novel remainder " +
      "re-joins in order; untouched doc passes through verbatim") {
    val d = docs(
      (0L, "a b c d e f g h i j u0 u1 u2"),
      (1L, "z0 z1 a b c d e f g h i j z2"),
      (2L, "q0 q1 q2 q3 q4 q5 q6 q7 q8"))
    val out = TextDedup.dupSpanExcise(d, w = 8).collect()
    val r0 = out.find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[Long]("n_kept") == 3L &&
      r0.getAs[Long]("n_removed") == 10L)
    assert(r0.getAs[String]("cleaned_text") == "u0 u1 u2")
    assert(r0.getAs[Double]("removed_share") == 10.0 / 13.0)
    val r1 = out.find(_.getAs[Long]("doc_id") == 1L).get
    assert(r1.getAs[String]("cleaned_text") == "z0 z1 z2")
    val r2 = out.find(_.getAs[Long]("doc_id") == 2L).get
    assert(r2.getAs[Long]("n_removed") == 0L)
    assert(r2.getAs[String]("cleaned_text") ==
      "q0 q1 q2 q3 q4 q5 q6 q7 q8")
  }

  test("dupSpans: two disjoint shared runs (gap > w) stay separate " +
      "spans; a short doc below w reports zeros") {
    // doc 0: shared run A at p=0 (8 tokens), 9 unique tokens, shared
    // run B at start 17 (8 tokens) — gap 17 > w=8 → two spans.
    val runA = (1 to 8).map(i => s"a$i").mkString(" ")
    val runB = (1 to 8).map(i => s"b$i").mkString(" ")
    val mid = (1 to 9).map(i => s"m$i").mkString(" ")
    val d = docs(
      (0L, s"$runA $mid $runB"),
      (1L, s"x0 $runA x1"),
      (2L, s"y0 y1 $runB"),
      (3L, "short doc here"))
    val r0 = TextDedup.dupSpans(d, w = 8)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .find(_._1 == 0L).get
    assert(r0._3 == 2L)   // two disjoint spans
    assert(r0._4 == 16L)  // 8 + 8 covered
    assert(r0._5 == 8L)
    val r3 = TextDedup.dupSpans(d, w = 8)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .find(_._1 == 3L).get
    assert(r3._2 == 3L && r3._3 == 0L && r3._6 == 0.0)
  }

  // ---------- F85 dedupRecallBench ----------

  test("dedupRecallBench: a severity past the token count plants an " +
      "exact dup (recall 1); heavier mutation can only lower recall") {
    // 3-token docs: k=5 never drops a token → mutant == original →
    // the bands MUST find it; k=2 drops the middle token (J = 1/2 on
    // distinct sets) → detection is the bands' business, recall ≤ 1.
    val d = docs(
      (0L, "alpha beta gamma"),
      (20L, "delta epsilon zeta"),
      (40L, "eta theta iota"))
    val out = TextDedup.dedupRecallBench(d, Seq(2, 5), sampleMod = 20)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((2, 3L), (5, 3L)))
    val byK = out.map(r => r._1 -> r).toMap
    assert(byK(5)._4 == 1.0)             // exact dups always detected
    assert(byK(2)._4 <= byK(5)._4)       // monotone in severity
    assert(byK(2)._5 == 0.5 && byK(5)._5 == 0.8) // (k−1)/k shares
  }

  // ---------- F74 lshPlanner ----------

  test("detectProbExpr evaluates the S-curve as the left-assoc " +
      "product chain (no pow)") {
    import org.apache.spark.sql.functions.expr
    val js = Seq(0.0, 0.2, 0.5, 0.8, 1.0)
    val cfgs = Seq((16, 1), (4, 4), (2, 8))
    val in = js.toDF("jacc")
    for ((b, r) <- cfgs) {
      val got = in.select(expr(TextDedup.detectProbExpr(b, r)))
        .as[Double].collect().toSeq
      val want = js.map { j =>
        val jr = Seq.fill(r)(j).reduceLeft(_ * _)
        1.0 - Seq.fill(b)(1.0 - jr).reduceLeft(_ * _)
      }
      assert(got == want, s"config ($b, $r)")
    }
  }

  test("lshPlanner: an exact-dup candidate pair contributes full " +
      "detection mass to every config") {
    val d = docs(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),  // J = 1 with doc 0
      (2L, "epsilon zeta eta theta iota kappa"))
    val out = TextDedup.lshPlanner(d, Seq((16, 1), (4, 4), (1, 16)))
      .as[(Int, Int, Long, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(out.size == 3)
    out.foreach { case (_, _, nPairs, detPpm, nWanted, detW, detU, mean) =>
      // only the identical pair can band-join; J = 1 → p = 1 exactly
      assert(nPairs == 1L && detPpm == 1000000L)
      assert(nWanted == 1L && detW == 1000000L && detU == 0L)
      assert(mean == 1.0)
    }
  }

  test("F102 cdcChunks: a head edit moves only nearby chunks (the CDC " +
      "stability property), identical docs dedup to full dup_share, " +
      "chunk lengths reconcile with the text") {
    import org.apache.spark.sql.functions.{col, explode, expr}
    // deterministic pseudo-random text: varied chars so boundaries fire
    val base = (1 to 400).map(i =>
      ('a' + (i * 37 + i * i % 11) % 26).toChar).mkString
    val edited = "XYZPREFIX" + base
    def keys(s: String): Seq[Long] =
      Seq(s).toDF("text").select(explode(expr("graft_cdc(text, 6)")))
        .as[Long].collect().toSeq
    val kBase = keys(base); val kEd = keys(edited)
    assert(kBase.nonEmpty && kBase.size >= 3, s"want >=3 chunks: $kBase")
    // every chunk strictly after the first 32+9 cp of content must
    // survive the prefix edit byte-identical: compare suffixes
    val shared = kBase.toSet.intersect(kEd.toSet)
    assert(shared.size >= kBase.size - 2,
      s"CDC stability: ${kBase.size} chunks, only ${shared.size} shared")
    // lengths reconcile: sum of encoded lengths == text length
    assert(kBase.map(_ % 2097152L).sum == base.length.toLong)
    assert(kEd.map(_ % 2097152L).sum == edited.length.toLong)
    // corpus profile: two identical docs -> every chunk instance dup;
    // a unique doc -> zero dups
    val out = TextDedup.cdcChunks(docs(
        (1L, base), (2L, base), (3L, "zqv" * 40)))
      .select("source", "n_docs", "n_chunks", "n_dup_chunks")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 1)
    val (nDocs, nChunks, nDup) = out.head
    assert(nDocs == 3L)
    // docs 1 and 2 contribute identical chunk multisets -> all their
    // instances are dup; doc 3's chunks are unique to it
    val k3 = keys("zqv" * 40)
    assert(nChunks == kBase.size * 2 + k3.size.toLong)
    assert(nDup == kBase.size * 2L)
  }
}
