package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Property-based equivalence: every native expression must equal the
  * declarative HOF spelling it replaced on ARBITRARY inputs, not just
  * the corpus the oracles happen to cover — the contract that makes
  * swapping the native implementation in/out invisible to results.
  *
  * Raw scalacheck generators with FIXED seeds (the scalatest bridge
  * artifact is not in the offline cache): deterministic, replayable,
  * and the seed is printed on failure.
  */
class NativeExprPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[(A, Long)] =
    (1L to n.toLong).map(seed =>
      gen.pureApply(Gen.Parameters.default, Seed(seed)) -> seed)

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8))
  private val tokensGen: Gen[List[String]] = for {
    l <- Gen.listOfN(12, word)
    k <- Gen.choose(0, 12)
  } yield l.take(k)

  test("WordGrams == transform/slice/array_join HOF on random token lists") {
    val cases = samples(for {
      t <- tokensGen; n <- Gen.choose(1, 6)
    } yield (t, n), 40)
    cases.foreach { case ((toks, n), seed) =>
      val df = Seq(Tuple1(toks)).toDF("t")
      val native = df.select(expr(s"graft_wordgrams(t, $n)"))
        .as[Seq[String]].collect().head
      val hof = df.select(expr(
        s"CASE WHEN size(t) >= $n THEN transform(sequence(1, size(t) - ${n - 1}), " +
          s"i -> array_join(slice(t, i, $n), ' ')) ELSE array() END"))
        .as[Seq[String]].collect().head
      assert(native == hof, s"seed=$seed toks=$toks n=$n")
    }
  }

  test("PolyHash == codepoint fold on random unicode strings") {
    // STRING pieces, not Char: the emoji is non-BMP (surrogate pair)
    val strGen = Gen.listOfN(12,
      Gen.oneOf("a", "Z", "9", " ", "é", "中", "😀"))
      .map(_.mkString)
    samples(strGen, 40).foreach { case (s, seed) =>
      val native = Seq(Tuple1(s)).toDF("s")
        .select(expr("graft_polyhash(s)")).as[Long].collect().head
      val expected = s.codePoints().toArray.foldLeft(0L)(
        (a, c) => (a * 31 + c) % 1000000007L)
      assert(native == expected, s"seed=$seed s=$s")
    }
  }

  test("MinHashes == affine-rehash min on random hash arrays") {
    val hashes = for {
      l <- Gen.listOfN(10, Gen.choose(0L, 1000000006L))
      k <- Gen.choose(0, 10)
    } yield l.take(k)
    samples(hashes, 40).foreach { case (th, seed) =>
      val native = Seq(Tuple1(th)).toDF("th")
        .select(expr("graft_minhashes(th, 8)"))
        .as[Option[Seq[Long]]].collect().head
      val expected =
        if (th.isEmpty) None
        else Some((0 until 8).map(j =>
          th.map(x => ((2L * j + 3) * x + 5L * j + 7) % 1000000007L).min))
      assert(native.map(_.toSeq) == expected, s"seed=$seed th=$th")
    }
  }

  test("SimHash64 == per-bit vote fold on random hash arrays") {
    val hashes = for {
      l <- Gen.listOfN(10, Gen.choose(0L, 1000000006L))
      k <- Gen.choose(1, 10)
    } yield l.take(k)
    samples(hashes, 40).foreach { case (th, seed) =>
      val native = Seq(Tuple1(th)).toDF("th")
        .select(expr("graft_simhash(th, 32)")).as[Long].collect().head
      val expected = (0 until 32).foldLeft(0L) { (sig, i) =>
        val vote = th.map(x => if (((x >> i) & 1L) == 1L) 1L else -1L).sum
        if (vote > 0) sig | (1L << i) else sig
      }
      assert(native == expected, s"seed=$seed th=$th")
    }
  }

  test("Y4M encode/decode round-trips random clips exactly") {
    import graft.operators.MediaCodecs.Y4m
    val clip = for {
      w <- Gen.choose(1, 8).map(_ * 2)
      h <- Gen.choose(1, 6).map(_ * 2)
      nf <- Gen.choose(1, 5)
      frames <- Gen.listOfN(nf,
        Gen.listOfN(w * h, Gen.choose(0, 255)).map(_.map(_.toByte).toArray))
    } yield (w, h, frames)
    samples(clip, 25).foreach { case ((w, h, frames), seed) =>
      val (dw, dh, back) = Y4m.decode(Y4m.encode(w, h, 25, frames))
      assert((dw, dh) == ((w, h)), s"seed=$seed")
      assert(back.length == frames.length, s"seed=$seed")
      back.zip(frames).foreach { case (a, b) =>
        assert(a.toSeq == b.toSeq, s"seed=$seed")
      }
    }
  }

  test("CharGrams == distinct-substring HOF on random unicode strings") {
    val strGen = Gen.listOfN(10,
      Gen.oneOf("a", "b", "9", " ", "é", "中", "😀")).map(_.mkString)
    samples(for { s <- strGen; n <- Gen.choose(1, 4) } yield (s, n), 40)
      .foreach { case ((s, n), seed) =>
        val df = Seq(Tuple1(s)).toDF("s")
        val native = df.select(expr(s"graft_grams(s, $n)"))
          .as[Seq[String]].collect().head
        val hof = df.select(expr(
          s"array_distinct(transform(sequence(1, greatest(length(s) - ${n - 1}, 0)), " +
            s"i -> substring(s, i, $n)))"))
          .as[Seq[String]].collect().head
        assert(native == hof, s"seed=$seed s=$s n=$n")
      }
  }

  test("VecDot == left-to-right double accumulation on random vectors") {
    val vec = Gen.listOfN(16, Gen.choose(-100, 100).map(_ / 7.0f))
    samples(for { a <- vec; b <- vec } yield (a, b), 40)
      .foreach { case ((a, b), seed) =>
        val native = Seq((a.toArray, b.toArray)).toDF("a", "b")
          .select(expr("graft_vecdot(a, b)")).as[Double].collect().head
        val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
          acc + x.toDouble * y.toDouble
        }
        assert(native == expected, s"seed=$seed") // bit-exact, no epsilon
      }
  }

  test("SortedCommon == size(array_intersect) on random sorted " +
      "distinct arrays, and rejects unsorted input") {
    val arr = Gen.listOfN(20, Gen.choose(0L, 40L))
      .map(_.distinct.sorted)
    samples(for { a <- arr; b <- arr } yield (a, b), 40)
      .foreach { case ((a, b), seed) =>
        val native = Seq((a.toArray, b.toArray)).toDF("a", "b")
          .select(expr("graft_sorted_ncommon(a, b)"))
          .as[Long].collect().head
        assert(native == a.toSet.intersect(b.toSet).size.toLong,
          s"seed=$seed")
      }
    // SET semantics under duplicates (hash collisions make dup
    // values possible even over distinct tokens): sorted-with-dups
    // inputs must count distinct common values, like array_intersect
    val arrDup = Gen.listOfN(20, Gen.choose(0L, 10L)).map(_.sorted)
    samples(for { a <- arrDup; b <- arrDup } yield (a, b), 40)
      .foreach { case ((a, b), seed) =>
        val native = Seq((a.toArray, b.toArray)).toDF("a", "b")
          .select(expr("graft_sorted_ncommon(a, b)"))
          .as[Long].collect().head
        assert(native == a.toSet.intersect(b.toSet).size.toLong,
          s"dup seed=$seed a=$a b=$b")
      }
    // the order guard is best-effort over the SCANNED prefix (the
    // two-pointer walk can exit before reaching a late violation);
    // this descent is hit mid-walk and must throw
    val e = intercept[Exception] {
      Seq((Array(2L, 1L, 3L), Array(2L, 3L))).toDF("a", "b")
        .select(expr("graft_sorted_ncommon(a, b)")).collect()
    }
    assert(e.getMessage.contains("sorted") ||
      e.getCause != null && e.getCause.getMessage.contains("sorted"))
  }

  test("hashSplit is total and subset-invariant on random id sets") {
    val idsGen = Gen.listOfN(30, Gen.choose(0L, 3000000000L))
    samples(idsGen, 10).foreach { case (idsRaw, seed) =>
      val ids = idsRaw.distinct
      val docs = ids.map(i => (i, s"d$i", "en", "s"))
        .toDF("doc_id", "text", "lang", "source")
      val splits = graft.operators.CorpusPipeline.hashSplit(docs)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      assert(splits.keySet == ids.toSet, s"seed=$seed")
      assert(splits.values.forall(Set("train", "val", "test")), s"seed=$seed")
      // subset invariance: a doc alone gets the same split it gets
      // inside any corpus — the reproducibility contract
      val one = ids.head
      val solo = graft.operators.CorpusPipeline.hashSplit(
        Seq((one, "d", "en", "s")).toDF("doc_id", "text", "lang", "source"))
        .select("split").as[String].collect().head
      assert(solo == splits(one), s"seed=$seed id=$one")
    }
  }

  test("hashSplit/capPerSource survive multi-billion and NEGATIVE doc ids " +
    "(no 64-bit overflow, values match the pmod-first reference)") {
    val P = graft.functions.PortableText.P
    val K = 2654435761L
    // Reference computation in plain Scala — pmod-equivalent first
    // reduction (((id % P) + P) % P), matching BOTH Spark's pmod and
    // the DuckDB oracles' ((x % P + P) % P) spelling, so negative ids
    // hash identically everywhere. Safe because the reduced value is
    // in [0, P) and (P-1)*K ≈ 2.65e18 < 2^63.
    def refOrder(id: Long): Long = ((id % P) + P) % P * K % P
    def refSplit(id: Long): String = {
      val key = refOrder(id) % 100
      if (key < 80) "train" else if (key < 90) "val" else "test"
    }
    // The exact ids the old `id * K` form overflowed on (≥ ~3.5e9),
    // the old-form-legal boundary region to prove value parity, and
    // negative ids where naive `%` would diverge from pmod.
    val hardIds = Seq(1L << 33, 1L << 35, Long.MaxValue / 3,
      Long.MaxValue, 3470000000L, 3458764513L,
      -1L, -(1L << 33), Long.MinValue, Long.MinValue + 1, -3470000001L)
    val randGen = Gen.listOfN(20, Gen.choose(Long.MinValue, Long.MaxValue))
    samples(randGen, 5).foreach { case (rand, seed) =>
      val ids = (hardIds ++ rand).distinct
      def mkDocs(xs: Seq[Long]) =
        xs.map(i => (i, s"d$i", "en", s"s${math.floorMod(i, 3)}"))
          .toDF("doc_id", "text", "lang", "source")
      val docs = mkDocs(ids)
      // hashSplit: must not throw under ANSI, and must equal the
      // reference value for every id.
      val splits = graft.operators.CorpusPipeline.hashSplit(docs)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      ids.foreach { id =>
        assert(splits(id) == refSplit(id), s"seed=$seed id=$id")
      }
      // capPerSource: the hash-order window must evaluate without
      // overflow AND keep exactly the first `cap` ids per source in
      // (refOrder, id) order — the same deterministic ranking the
      // oracle computes, checked directly rather than via ≤ cap alone.
      def refCap(xs: Seq[Long], cap: Int): Map[String, Set[Long]] =
        xs.groupBy(i => s"s${math.floorMod(i, 3)}").map { case (src, g) =>
          src -> g.sortBy(i => (refOrder(i), i)).take(cap).toSet
        }
      val capped = graft.operators.CorpusPipeline.capPerSource(docs, 4)
        .select("doc_id", "source").as[(Long, String)].collect()
      val bySrc = capped.groupBy(_._2).map { case (s, g) => s -> g.map(_._1).toSet }
      assert(bySrc == refCap(ids, 4), s"seed=$seed")
      // Grown corpus: old docs keep their split (subset invariance),
      // and the capped survivors are still drawn from the SAME hash
      // order — the grown winners are exactly refCap over the grown
      // id set, i.e. growth swaps members only by hash rank, never
      // by arrival or value order.
      val grownIds = (ids ++ ids.map(i => i / 2 + 7)).distinct
      val grown = mkDocs(grownIds)
      val grownSplits = graft.operators.CorpusPipeline.hashSplit(grown)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      ids.foreach { id =>
        assert(grownSplits(id) == splits(id), s"seed=$seed id=$id")
      }
      val grownCapped = graft.operators.CorpusPipeline.capPerSource(grown, 4)
        .select("doc_id", "source").as[(Long, String)].collect()
      val grownBySrc = grownCapped.groupBy(_._2)
        .map { case (s, g) => s -> g.map(_._1).toSet }
      assert(grownBySrc == refCap(grownIds, 4), s"seed=$seed")
    }
  }

  test("sign-split 1e-6 quantization: the SQL spelling equals the " +
      "Scala mirror bit-for-bit on arbitrary doubles") {
    // The engine's most-replicated arithmetic: windowSlots'
    // `CASE WHEN x >= 0 THEN floor(x*1e6+0.5) ELSE -floor(-x*1e6+0.5)
    // END` is mirrored in the streaming SessionScoring helper and in
    // every spec's hand-derivation. A drift between the SQL spelling
    // and the Scala mirror would silently desynchronize batch,
    // stream and specs — this property pins them together on random
    // magnitudes across the whole scale range the scaler can emit.
    def mirror(x: Double): Long =
      if (x >= 0) math.floor(x * 1000000.0 + 0.5).toLong
      else -math.floor(-x * 1000000.0 + 0.5).toLong
    val xGen: Gen[Double] = for {
      mag <- Gen.choose(-12, 6) // 1e-12 .. 1e6 magnitudes
      m <- Gen.choose(-999999999L, 999999999L)
    } yield m.toDouble * math.pow(10.0, mag.toDouble - 3)
    val cases = samples(xGen, 60) ++
      Seq(0.0 -> 0L, -0.0 -> 0L, 0.4999999 -> 0L, -0.4999999 -> 0L,
        5.0E-7 -> 0L, -5.0E-7 -> 0L).map { case (x, s) => x -> s }
    cases.foreach { case (x, seed) =>
      val got = Seq(Tuple1(x)).toDF("x")
        .selectExpr("CAST(CASE WHEN x >= 0 THEN" +
          " floor(x * 1000000.0D + 0.5D)" +
          " ELSE -floor(-x * 1000000.0D + 0.5D) END AS BIGINT)")
        .as[Long].collect().head
      assert(got == mirror(x), s"seed=$seed x=$x")
    }
  }

  test("D84 GD fragments: the generated SQL texts (forward chain, " +
      "gradient quantization, weight update, loss) equal the Scala " +
      "driver mirrors bit-for-bit on random weights and slot micros") {
    // One fragment text drives BOTH engines (gdZExpr family) while
    // the weight update and loss run in SCALA on the driver (gdStep,
    // gdLoss) and in generated SQL in the oracle (gdUpdExpr,
    // gdLossExpr). This property pins all three spellings to one
    // IEEE result on arbitrary inputs — the contract the D84 hash
    // parity stands on.
    import graft.operators.Features
    val k = 4; val h = 2
    val uGen = Gen.choose(-5000000L, 5000000L)
    val wGen = Gen.choose(-1024L, 1023L).map(_ / 4096.0)
    case class Case(s: Seq[Long], we: Seq[Seq[Double]],
                    wd: Seq[Seq[Double]], g: Long, n: Long, sl: Long)
    val caseGen = for {
      s <- Gen.listOfN(k, uGen)
      we <- Gen.listOfN(h, Gen.listOfN(k, wGen))
      wd <- Gen.listOfN(k, Gen.listOfN(h, wGen))
      g <- Gen.choose(-2000000000L, 2000000000L)
      n <- Gen.choose(1L, 100000L)
      sl <- Gen.choose(0L, 4000000000L)
    } yield Case(s, we, wd, g, n, sl)
    samples(caseGen, 25).foreach { case (c, seed) =>
      var df = Seq(Tuple1(1)).toDF("one")
      (0 until k).foreach(i =>
        df = df.withColumn(s"s$i", lit(c.s(i))))
      for (j <- 0 until h; i <- 0 until k)
        df = df.withColumn(s"we_${j}_$i", lit(c.we(j)(i)))
      for (i <- 0 until k; j <- 0 until h)
        df = df.withColumn(s"wd_${i}_$j", lit(c.wd(i)(j)))
      (0 until h).foreach(j =>
        df = df.withColumn(s"z$j", expr(Features.gdZExpr(j, k))))
      (0 until k).foreach(i =>
        df = df.withColumn(s"xh$i", expr(Features.gdXhExpr(i, h))))
      (0 until k).foreach(i =>
        df = df.withColumn(s"r$i", expr(Features.gdRExpr(i))))
      val row = df
        .withColumn("q00", expr(Features.gdQExpr("r0*z0")))
        .withColumn("lq", expr(Features.gdLqExpr(k)))
        .collect().head
      // Scala mirror — the FeaturesSpec fwd spelling
      val x = (0 until k).map(i => c.s(i).toDouble / 1e6)
      val z = (0 until h).map { j =>
        var acc = c.we(j)(0) * x(0)
        (1 until k).foreach(i => acc += c.we(j)(i) * x(i)); acc
      }
      val r = (0 until k).map { i =>
        var acc = c.wd(i)(0) * z(0)
        (1 until h).foreach(j => acc += c.wd(i)(j) * z(j))
        acc - x(i)
      }
      (0 until h).foreach(j => assert(
        row.getAs[Double](s"z$j") == z(j), s"seed=$seed z$j"))
      (0 until k).foreach(i => assert(
        row.getAs[Double](s"r$i") == r(i), s"seed=$seed r$i"))
      def q(v: Double): Long =
        if (v >= 0) math.floor(v * 1e6 + 0.5).toLong
        else -math.floor(-v * 1e6 + 0.5).toLong
      assert(row.getAs[Long]("q00") == q(r(0) * z(0)), s"seed=$seed q")
      assert(row.getAs[Long]("lq") == (0 until k).map(i =>
        math.floor(r(i) * r(i) * 1e6 + 0.5).toLong).sum,
        s"seed=$seed lq")
      // update + loss: SQL spelling vs the Scala driver functions
      val w0 = c.we(0)(0)
      val upd = Seq((w0, c.g, c.n)).toDF("w", "g", "n_tr")
        .selectExpr(
          Features.gdUpdExpr("w", "g", 0.0625),
          Features.gdLossExpr("CAST(abs(g) AS BIGINT)", k))
        .collect().head
      assert(upd.getDouble(0) ==
        Features.gdStep(w0, c.g, 0.0625, c.n), s"seed=$seed upd")
      assert(upd.getDouble(1) ==
        Features.gdLoss(math.abs(c.g), c.n, k), s"seed=$seed loss")
    }
  }
}
