package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions

/** Text function unit + property tests (SURVEY §5.2): token counts,
  * shingles, jaccard bounds, rolling-hash determinism. */
class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("tokens drops empties; counts match") {
    val df = Seq("a  b c", "", " ", "single").toDF("text")
    val counts = df.select(TextFunctions.tokenCount(col("text"))).as[Int].collect()
    assert(counts.toSeq === Seq(3, 0, 0, 1))
  }

  test("pseudonymize: consistent surrogates, type dispatch, codegen ≡ interpreted") {
    val s = TextFunctions.pseudonymizeString(
      "mail a@b.com then a@b.com call 555-0123 end")
    // the SAME entity maps to the SAME surrogate (consistency is the op)
    val sur = "user(\\d+)@redacted\\.example".r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(sur.size === 2 && sur.distinct.size === 1, s)
    // phones dispatch to the 555- surrogate, not the email form
    assert("555-(\\d+) end".r.findFirstIn(s).isDefined, s)
    // non-matching text passes through untouched
    assert(s.startsWith("mail ") && s.contains(" then ") && s.endsWith(" end"), s)
    assert(TextFunctions.pseudonymizeString("no pii here") === "no pii here")
    // DIFFERENT entities map to different surrogates (full 31-bit
    // fold space — ADVICE r16 widened it from mod-1e6)
    val two = TextFunctions.pseudonymizeString("x@y.com z@w.com")
    val surs = "user(\\d+)".r.findAllMatchIn(two).map(_.group(1)).toSeq
    assert(surs.distinct.size === 2, two)
    // codegen path (column expression) equals the driver-side function
    val viaExpr = Seq("mail a@b.com then a@b.com call 555-0123 end").toDF("t")
      .select(expr("graft_pseudonymize(t)")).as[String].head()
    assert(viaExpr === s)
    // surrogate key rides the engine's ONE portable fold
    val h = spark.sql("SELECT graft_fold31('a@b.com') AS h")
      .as[Long].head()
    assert(s.contains(s"user$h@redacted.example"), s"$s vs fold $h")
  }

  test("graft_shingles equals the interpreted HOF chain (edges + non-ASCII + generated)") {
    // the codegen'd one-pass expression must be BIT-identical to the
    // four-level interpreted chain it replaced (r17) — including the
    // multi-space tokenization, the short-doc empty array, duplicate
    // collapse, and the UTF8 BINARY sort order on non-ASCII tokens
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "bb", "ccc", "dd", "é", "zz", "日本", "x")
    val gen = (1 to 200).map(_ =>
      (1 to rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  "))
    // 13–32 tokens: long enough that n = 13 still yields shingles
    val long = (1 to 50).map(_ =>
      (1 to 13 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  "))
    val edge = Seq("", " ", "  ", "one", "one two", "a a a a", "é z 日本 a b")
    for (n <- Seq(2, 3, 5, 13)) {
      val df = (gen ++ long ++ edge).toDF("text")
        .withColumn("oldsh",
          array_sort(TextFunctions.shingles(TextFunctions.tokens(col("text")), n)))
        .withColumn("newsh", expr(s"graft_shingles(text, $n)"))
        .withColumn("oldng",
          TextFunctions.ngramsAll(TextFunctions.tokens(col("text")), n))
        .withColumn("newng", expr(s"graft_ngrams(text, $n)"))
      val bad = df.filter(not(col("oldsh") <=> col("newsh")) ||
        not(col("oldng") <=> col("newng"))).collect()
      assert(bad.isEmpty, bad.mkString("\n"))
      assert(df.filter(size(col("newsh")) > 0).count() > 0, s"n=$n: no shingles to compare")
    }
  }

  test("graft_bigram_pairs equals the interpreted HOF struct chain (edges + non-ASCII + generated)") {
    // the codegen'd one-pass expression must be BIT-identical to the
    // interpreted transform/sequence/struct chain it replaced (r18 —
    // the graft_shingles discipline): multi-space tokenization, the
    // short-doc empty array, field names and order, non-ASCII tokens
    val rnd = new scala.util.Random(11)
    val vocab = Seq("a", "bb", "ccc", "dd", "é", "zz", "日本", "x")
    val gen = (1 to 200).map(_ =>
      (1 to rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  "))
    val edge = Seq("", " ", "  ", "one", "one two", "a a a a", "é z 日本 a b")
    val df = (gen ++ edge).toDF("text")
      .withColumn("sp", TextFunctions.tokens(col("text")))
      .withColumn("oldbg", when(size(col("sp")) < 2,
          expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
        .otherwise(expr(
          "transform(sequence(1, size(sp) - 1), j -> struct(sp[j-1] AS w1, sp[j] AS w2))")))
      .withColumn("newbg", expr("graft_bigram_pairs(text)"))
    val bad = df.filter(not(col("oldbg") <=> col("newbg"))).collect()
    assert(bad.isEmpty, bad.mkString("\n"))
    // the struct pairs agree with the string n-grams they mirror
    val cross = df.filter(size(col("newbg")) > 0)
      .withColumn("viangrams", expr("graft_ngrams(text, 2)"))
      .withColumn("joined",
        expr("transform(newbg, b -> concat(b.w1, ' ', b.w2))"))
      .filter(not(col("viangrams") <=> col("joined"))).collect()
    assert(cross.isEmpty, cross.mkString("\n"))
  }

  test("registeredDomain: suffix priority, private registries, PSL default, junk") {
    import TextFunctions.registeredDomain
    // longest matching suffix wins; registered = one label left of it
    assert(registeredDomain("https://www.example.com/x?y#z") === "example.com")
    assert(registeredDomain("https://a.b.example.co.uk/path") === "example.co.uk")
    assert(registeredDomain("http://blog.alice.github.io") === "alice.github.io")
    // private-registry entries keep distinct registrants apart
    assert(registeredDomain("https://bob.github.io") !== registeredDomain("https://alice.github.io"))
    // scheme-less, port, userinfo, trailing dot, case
    assert(registeredDomain("example.org/path") === "example.org")
    assert(registeredDomain("https://Example.COM:8443/") === "example.com")
    assert(registeredDomain("https://user:pw@deep.example.net/") === "example.net")
    assert(registeredDomain("https://example.ai.") === "example.ai")
    // PSL default rule: unknown TLD -> last two labels
    assert(registeredDomain("https://a.b.weird.unknowntld") === "weird.unknowntld")
    // non-registrable: the bare suffix, hostless, dotless
    assert(registeredDomain("https://github.io/") === null)
    assert(registeredDomain("https://localhost/") === null)
    assert(registeredDomain("") === null)
    // codegen path equals the driver-side function
    val viaExpr = Seq("https://a.b.example.co.uk/p", "https://github.io/")
      .toDF("u").selectExpr("graft_registered_domain(u)").as[String].collect()
    assert(viaExpr.toSeq === Seq("example.co.uk", null))
  }

  test("shingles: n-gram count and short-doc guard") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("s"))
    val sizes = df.select(size(col("s"))).as[Int].collect()
    assert(sizes.toSeq === Seq(2, 0)) // "a b c","b c d"; too short → empty
    val first = df.select(col("s")).as[Seq[String]].head()
    assert(first === Seq("a b c", "b c d"))
  }

  test("jaccard: identical → 1, disjoint → 0, known overlap") {
    val df = Seq(
      (Seq("x", "y"), Seq("x", "y")),
      (Seq("x"), Seq("y")),
      (Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("a", "b")
    val j = df.select(TextFunctions.jaccard(col("a"), col("b"))).as[Double].collect()
    assert(j(0) === 1.0 && j(1) === 0.0 && j(2) === 0.5)
  }

  test("rolling hash: matches reference implementation on generated strings") {
    def refHash(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    val gen = Gen.listOfN(40, Gen.asciiPrintableStr)
    val samples = gen(Gen.Parameters.default, Seed(42L)).get :+ "" :+ "héllo wörld ünïcode"
    val df = samples.toDF("t")
      .select(col("t"), expr("graft_rolling_hash(t)").as("h"))
      .as[(String, Long)].collect()
    df.foreach { case (s, h) => assert(h === refHash(s), s"for '$s'") }
  }

  test("mode count: known modes, ties, empty array, null elements") {
    val df = Seq(
      Seq("a", "b", "a", "c", "a"),          // mode a ×3
      Seq("x", "y"),                          // tie → 1
      Seq.empty[String],                      // empty → 0
      Seq("z", "z", "z", "z"))                // all same → 4
      .toDF("g")
    val counts = df.select(expr("graft_mode_count(g)")).as[Long].collect()
    assert(counts.toSeq === Seq(3L, 1L, 0L, 4L))
    // null elements are skipped, null array → null
    val withNulls = spark.sql(
      "SELECT graft_mode_count(array('a', NULL, 'a')), graft_mode_count(CAST(NULL AS array<string>))")
      .as[(Option[Long], Option[Long])].head()
    assert(withNulls === ((Some(2L), None)))
  }

  test("mode count agrees with the HOF equivalent on generated token arrays") {
    val gen = Gen.listOfN(60, Gen.oneOf("a", "b", "c", "d", "e"))
    val samples = (0 until 30).map(i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).get.mkString(" "))
    val df = samples.toDF("text")
      .select(TextFunctions.tokens(col("text")).as("g"))
      .select(
        expr("graft_mode_count(g)").as("fast"),
        array_max(transform(array_distinct(col("g")),
          x => size(filter(col("g"), y => y === x)))).cast("long").as("hof"))
      .as[(Long, Long)].collect()
    df.foreach { case (fast, hof) => assert(fast === hof) }
  }

  test("ngramsAll keeps duplicate n-grams in order; shingles dedups") {
    val toks = TextFunctions.tokens(col("text"))
    val df = Seq("a b a b a").toDF("text")
    val all = df.select(TextFunctions.ngramsAll(toks, 2)).as[Seq[String]].head()
    assert(all === Seq("a b", "b a", "a b", "b a"))
    val dd = df.select(TextFunctions.shingles(toks, 2)).as[Seq[String]].head()
    assert(dd === Seq("a b", "b a"))
  }

  test("langid marker hits are exact") {
    val toks = TextFunctions.tokens(col("text"))
    val df = Seq("the cat and the dog", "le chat et la mer", "xyz qqq").toDF("text")
    val en = df.select(size(filter(toks, t => t.isInCollection(TextFunctions.LangMarkers("en"))))).as[Int].collect()
    val fr = df.select(size(filter(toks, t => t.isInCollection(TextFunctions.LangMarkers("fr"))))).as[Int].collect()
    assert(en.toSeq === Seq(3, 0, 0)) // the, and, the
    assert(fr.toSeq === Seq(0, 3, 0)) // le, et, la
  }
}
