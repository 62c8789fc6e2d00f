package graft

import graft.functions.{PolyHash, PortableText}
import org.apache.spark.sql.functions._

class PolyHashSpec extends SparkSpec {
  import spark.implicits._

  test("PolyHash equals the declarative HOF fold and the Scala reference") {
    val df = Seq("", "a", "abc", "the quick brown fox", "x" * 1000)
      .toDF("text")
      .select(
        col("text"),
        expr("graft_polyhash(text)").as("native"),
        expr(s"aggregate(split(text, ''), CAST(0 AS BIGINT), " +
          s"(a, c) -> (a * 31 + ascii(c)) % ${PortableText.P})").as("hof"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"native vs hof for '${r.getString(0).take(10)}'")
      assert(r.getLong(1) == PolyHash.hash(r.getString(0)))
    }
  }

  test("two PolyHash calls compile into ONE generated projection " +
      "(freshName regression: shared locals broke Janino and dropped " +
      "the whole stage to the interpreted path)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    // GenerateUnsafeProjection THROWS on a Janino error (no silent
    // fallback at this API level) — exactly the redefinition the
    // hardcoded locals caused with two calls in one generated class
    val proj = GenerateUnsafeProjection.generate(Seq(
      PolyHash(BoundReference(0, StringType, nullable = true)),
      PolyHash(BoundReference(1, StringType, nullable = true))))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc"),
      org.apache.spark.unsafe.types.UTF8String.fromString("xyz"))
    val out = proj(row)
    assert(out.getLong(0) == PolyHash.hash("abc"))
    assert(out.getLong(1) == PolyHash.hash("xyz"))
    // and the end-to-end DataFrame path agrees
    val r = Seq(("abc", "xyz")).toDF("a", "b")
      .selectExpr("graft_polyhash(a)", "graft_polyhash(b)")
      .as[(Long, Long)].collect().head
    assert(r == (PolyHash.hash("abc"), PolyHash.hash("xyz")))
  }

  test("PolyHash is callable inside HOF lambdas (token hashing path)") {
    val out = Seq("aa bb").toDF("text")
      .select(expr("transform(split(text, ' '), t -> graft_polyhash(t))").as("ths"))
      .as[Seq[Long]].collect().head
    assert(out == Seq(PolyHash.hash("aa"), PolyHash.hash("bb")))
  }

  test("CharGrams equals the declarative HOF distinct-3-gram spelling") {
    val df = Seq("abcdef", "aaaa", "abc").toDF("text")
      .select(
        col("text"),
        expr("graft_grams(text, 3)").as("native"),
        expr("array_distinct(transform(sequence(1, length(text) - 2), " +
          "i -> substring(text, i, 3)))").as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), r.getString(0))
    }
    // shorter than n -> empty (matches the DuckDB range() dual)
    val short = Seq("ab").toDF("text")
      .select(expr("graft_grams(text, 3)")).as[Seq[String]].collect().head
    assert(short.isEmpty)
  }

  test("MinHashes equals the declarative HOF affine-rehash spelling") {
    val df = Seq("the quick brown fox", "a b c", "solo")
      .toDF("text")
      .select(expr(s"transform(array_distinct(${PortableText.tokens}), " +
        "t -> graft_polyhash(t))").as("th"))
      .select(
        expr(s"graft_minhashes(th, ${PortableText.MinHashK})").as("native"),
        expr(s"transform(sequence(0, ${PortableText.MinHashK - 1}), j -> " +
          s"array_min(transform(th, x -> ((2*j + 3) * x + 5*j + 7) % ${PortableText.P})))")
          .as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("SimHash64 equals the declarative HOF vote spelling") {
    val bits = PortableText.SimHashBits
    val df = Seq("the quick brown fox", "a b a b", "solo")
      .toDF("text")
      .select(expr(s"transform(array_distinct(${PortableText.tokens}), " +
        "t -> graft_polyhash(t))").as("th"))
      .select(
        expr(s"graft_simhash(th, $bits)").as("native"),
        expr(s"aggregate(sequence(0, ${bits - 1}), CAST(0 AS BIGINT), (s, i) -> s + " +
          "CASE WHEN aggregate(th, CAST(0 AS BIGINT), (a, x) -> a + " +
          "CASE WHEN shiftright(x, CAST(i AS INT)) % 2 = 1 THEN 1 ELSE -1 END) > 0 " +
          "THEN shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)")
          .as("hof"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("PolyHash and CharGrams fold non-BMP text by code point, matching the HOF duals") {
    // U+1F600 and U+20000 are surrogate pairs in UTF-16; the engine
    // fragments (split('') / substring) count codepoints.
    val s = "a😀b𠀀c"
    val df = Seq(s).toDF("text").select(
      expr("graft_polyhash(text)").as("ph_native"),
      expr(s"aggregate(split(text, ''), CAST(0 AS BIGINT), " +
        s"(a, c) -> (a * 31 + ascii(c)) % ${PortableText.P})").as("ph_hof"),
      expr("graft_grams(text, 3)").as("g_native"),
      expr("array_distinct(transform(sequence(1, length(text) - 2), " +
        "i -> substring(text, i, 3)))").as("g_hof"))
    val r = df.collect().head
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getSeq[String](2) == r.getSeq[String](3))
    assert(r.getSeq[String](2).length == 3) // 5 codepoints -> 3 grams
  }

  test("registry builders validate arity and literal-ness with clear errors") {
    val df = Seq(("abc", 3)).toDF("text", "n")
    def analysisFails(sqlExpr: String, fragment: String): Unit = {
      val e = intercept[Exception](df.select(expr(sqlExpr)).collect())
      assert(e.getMessage.contains(fragment), s"$sqlExpr -> ${e.getMessage}")
    }
    analysisFails("graft_grams(text)", "2 arguments")
    analysisFails("graft_grams(text, n)", "literal")
    analysisFails("graft_grams(text, 'x')", "integer literal")
    analysisFails("graft_grams(text, 0)", "positive")
    analysisFails("graft_polyhash(text, text)", "1 argument")
    analysisFails("graft_vecdot(array(1.0))", "2 arguments")
    // BIGINT literal n is accepted (was a ClassCastException before)
    val ok = df.select(expr("graft_grams(text, CAST(2 AS BIGINT))"))
      .as[Seq[String]].collect().head
    assert(ok == Seq("ab", "bc"))

    // The same checks over every graft_* function: (name, a valid
    // argument list, the positions that must be integer literals).
    val table = Seq(
      ("graft_polyhash", Seq("text"), Nil),
      ("graft_charentropy", Seq("text"), Nil),
      ("graft_vecdot", Seq("v", "v"), Nil),
      ("graft_sorted_ncommon", Seq("th", "th"), Nil),
      ("graft_grams", Seq("text", "2"), Seq(1 -> "n")),
      ("graft_wordgrams", Seq("tokens", "2"), Seq(1 -> "n")),
      ("graft_minhashes", Seq("th", "4"), Seq(1 -> "k")),
      ("graft_simhash", Seq("th", "16"), Seq(1 -> "bits")),
      ("graft_winnow", Seq("text", "2", "2"), Seq(1 -> "k", 2 -> "w")),
      ("graft_cdc", Seq("text", "4"), Seq(1 -> "maskBits")),
      ("graft_pqcodes", Seq("v", "cents", "1", "2", "1"),
        Seq(2 -> "nSub", 3 -> "subDim", 4 -> "k")))
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(table.map(_._1).toSet == registered)
    val args = Seq(("abcdef ghij", Seq("ab", "cd"), Seq(1L, 2L, 3L),
      Seq(1.0f, 2.0f), Seq(0.5f, 1.5f), 3))
      .toDF("text", "tokens", "th", "v", "cents", "n")
    def call(fn: String, as: Seq[String]) =
      args.select(expr(s"$fn(${as.mkString(", ")})"))
    def fails(fn: String, as: Seq[String], fragment: String): Unit = {
      val e = intercept[Exception](call(fn, as).collect())
      assert(e.getMessage.contains(s"$fn(") &&
        e.getMessage.contains(fragment), s"${as.mkString(", ")} -> ${e.getMessage}")
    }
    for ((fn, good, lits) <- table) {
      fails(fn, good :+ good.last,
        s"takes exactly ${good.size} argument")
      val expected = call(fn, good).collect().head.get(0)
      for ((i, name) <- lits) {
        def at(a: String) = good.updated(i, a)
        fails(fn, at("n"), s"$name must be a literal")
        fails(fn, at("NULL"), s"$name must not be NULL")
        fails(fn, at("CAST(4294967297 AS BIGINT)"), "got 4294967297")
        val small = call(fn, at(s"CAST(${good(i)} AS SMALLINT)"))
          .collect().head.get(0)
        assert(small == expected, s"$fn SMALLINT ${good(i)}")
      }
    }
  }

  test("native functions reject wrong input TYPES at analysis, " +
      "never silently misread bytes") {
    // graft_vecdot on array<double>: before ExpectsInputTypes the eval
    // loop read interleaved 4-byte halves of the doubles — garbage
    // with no error. Now analysis rejects the signature.
    val dbl = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException](
      dbl.select(expr("graft_vecdot(a, b)")).collect())
    // graft_minhashes on array<int> likewise fails analysis (getLong
    // on packed ints would misread), and graft_polyhash on a number.
    val ints = Seq((Seq(1, 2, 3), 7L)).toDF("xs", "v")
    intercept[org.apache.spark.sql.AnalysisException](
      ints.select(expr("graft_minhashes(xs, 8)")).collect())
    intercept[org.apache.spark.sql.AnalysisException](
      ints.select(expr("graft_polyhash(v)")).collect())
    // full-range 64-bit hashes are legal input and must not wrap into
    // negative signatures (mod-p clamp)
    val big = Seq(Seq(Long.MaxValue, -1L)).toDF("th")
    val mh = big.select(expr("graft_minhashes(th, 8)"))
      .as[Seq[Long]].collect().head
    assert(mh.forall(v => v >= 0 && v < 1000000007L), mh)
  }

  test("VecDot throws on mismatched array lengths instead of truncating") {
    val e = intercept[Exception] {
      Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
        .select(expr("graft_vecdot(a, b)")).collect()
    }
    assert(e.getMessage != null)
  }

  test("GraftExtensions injects the function via spark.sql.extensions") {
    // verify the builder path compiles/wires; reuse of the shared session
    // means we just check the class instantiates and applies cleanly
    val ext = new GraftExtensions()
    val e = new org.apache.spark.sql.SparkSessionExtensions
    ext.apply(e) // must not throw
  }
}
