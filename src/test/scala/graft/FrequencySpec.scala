package graft

import org.apache.spark.sql.functions._

import graft.functions.MGSummary
import graft.operators.Frequency

/** Misra-Gries heavy hitters: the PODS'12 containment guarantee (no true
  * heavy hitter ever drops out of the summary, under any merge order)
  * and the exactness of the verified output. */
class FrequencySpec extends SparkTestBase {
  import spark.implicits._

  /** Brute-force heavy hitters at share > 1/(k+1). */
  private def brute(tokens: Seq[String], k: Int): Seq[(String, Long)] = {
    val n = tokens.size.toLong
    tokens.groupBy(identity).map { case (t, ts) => (t, ts.size.toLong) }
      .filter { case (_, c) => c * (k + 1) > n }
      .toSeq.sortBy { case (t, c) => (-c, t) }
  }

  test("MGSummary never evicts a true heavy hitter, at any insertion order") {
    // adversarial stream: a 40% majority key drowned in 60 distinct rares,
    // only 4 counters — constant eviction pressure
    val stream = Seq.fill(40)("hot") ++ (1 to 60).map(i => s"rare$i")
    for (seed <- Seq(1, 7, 42)) {
      val shuffled = new scala.util.Random(seed).shuffle(stream)
      val s = new MGSummary(4)
      shuffled.foreach(t => s.add(t, 1L))
      val kept = s.sortedEntries().map(_._1).toSet
      assert(kept.contains("hot"),
        s"share 0.4 > 1/5 must survive 4 counters (seed $seed): $kept")
      assert(s.counts.size() <= 4, "summary must respect its bound")
    }
  }

  test("MGSummary merge preserves the guarantee across arbitrary splits") {
    val stream = Seq.fill(50)("hot") ++ (1 to 70).map(i => s"r$i") ++ Seq.fill(30)("warm")
    // total 150; hot share 1/3, warm share 1/5 — both > 1/(k+1) at k=6
    for (cut <- Seq(10, 75, 140)) {
      val (l, r) = new scala.util.Random(cut).shuffle(stream).splitAt(cut)
      val a = new MGSummary(6); l.foreach(a.add(_, 1L))
      val b = new MGSummary(6); r.foreach(b.add(_, 1L))
      a.mergeFrom(b)
      val kept = a.sortedEntries().map(_._1).toSet
      assert(kept.contains("hot") && kept.contains("warm"),
        s"merge at $cut lost a true heavy hitter: $kept")
      assert(a.counts.size() <= 6)
    }
  }

  test("heavyHitters output is exact and partitioning-invariant") {
    val words = Seq.fill(30)("alpha") ++ Seq.fill(20)("beta") ++
      (1 to 40).map(i => s"tail$i")
    val text = new scala.util.Random(3).shuffle(words).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val k = 5 // threshold n/6 = 15: alpha and beta qualify, no tail does
    val expected = brute(words, k)
    val got = Frequency.heavyHitters(df, k)
      .select("token", "freq").as[(String, Long)].collect().toSeq
    assert(got === expected)
    // chopping the corpus into many docs/partitions must not change it
    val many = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(13)
    val got2 = Frequency.heavyHitters(many, k)
      .select("token", "freq").as[(String, Long)].collect().toSeq
    assert(got2 === expected)
  }

  test("heavyHitters shares divide exactly and the empty answer is possible") {
    val df = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    // uniform shares 1/8 = 0.125 < 1/3: nothing qualifies at k=2
    assert(Frequency.heavyHitters(df, 2).count() === 0L)
    val one = Seq((1L, "x x x y")).toDF("doc_id", "text")
    val rows = Frequency.heavyHitters(one, 2)
      .select("token", "freq", "share").as[(String, Long, Double)].collect()
    assert(rows.toSeq === Seq(("x", 3L, 0.75)))
  }

  test("graft_mg_sketch rejects non-string input with a descriptive error") {
    val ex = intercept[Exception] {
      Seq((1L, "a")).toDF("doc_id", "text")
        .agg(expr("graft_mg_sketch(doc_id, 3)")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("must be a string")),
      s"expected the descriptive type error, got: $ex")
  }

  /** Single-node CMS reference: the same fold-salted matrix. */
  private def refCms(tokens: Seq[String], depth: Int, width: Int)
      : Map[String, Long] = {
    val m = Array.fill(depth, width)(0L)
    for (t <- tokens; r <- 0 until depth)
      m(r)(graft.functions.CMSMatrix.cell(t, r, width)) += 1
    tokens.distinct.map { t =>
      t -> (0 until depth).map(r => m(r)(graft.functions.CMSMatrix.cell(t, r, width))).min
    }.toMap
  }

  test("cmsEstimates: est >= freq always, exact when width avoids collisions") {
    val words = Seq.fill(9)("alpha") ++ Seq.fill(5)("beta") ++
      (1 to 12).map(i => s"t$i")
    val text = new scala.util.Random(5).shuffle(words).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    // narrow sketch: collisions guaranteed (14 distinct tokens, width 8)
    val narrow = Frequency.cmsEstimates(df, depth = 3, width = 8)
      .select("token", "freq", "est", "overestimate")
      .as[(String, Long, Long, Long)].collect()
    val want = refCms(words, 3, 8)
    val freq = words.groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    for ((t, f, e, o) <- narrow) {
      assert(f === freq(t))
      assert(e === want(t), s"token $t estimate must equal the reference matrix min")
      assert(e >= f, s"CMS can only overestimate: $t est=$e freq=$f")
      assert(o === e - f)
    }
    // wide sketch: width >> distinct tokens makes collisions unlikely;
    // the reference says exactly which tokens (if any) still collide
    val wide = Frequency.cmsEstimates(df, depth = 4, width = 1024)
      .select("token", "est").as[(String, Long)].collect().toMap
    val wideRef = refCms(words, 4, 1024)
    for ((t, e) <- wide) assert(e === wideRef(t))
  }

  // ---- HyperLogLog (portable-fold registers) ----

  /** Single-node HLL reference sharing the one JVM definition of the
    * register update ([[graft.functions.HllRegisters]]). */
  private def refHll(items: Seq[String], p: Int): (Array[Byte], Double) = {
    val h = new graft.functions.HllRegisters(p)
    items.foreach(h.add)
    val m = 1 << p
    val z = h.regs.map(r => math.pow(2.0, -r)).sum
    val v = h.regs.count(_ == 0)
    val raw = Frequency.hllAlphaMM(p) / z
    val est = if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw
    (h.regs.clone(), est)
  }

  test("hllDistinct matches the reference registers+formula; estimate is in the error regime") {
    val items = (1 to 10000).map(i => s"item-$i")
    val df = items.zipWithIndex.map { case (t, i) => (i.toLong, t, "g") }
      .toDF("doc_id", "text", "grp")
    val out = Frequency.hllDistinct(df, col("text"), "grp", p = 8)
      .select("hll_estimate", "exact_distinct", "rel_err")
      .as[(Double, Long, Double)].head()
    val (_, want) = refHll(items, 8)
    assert(out._1 === want, "estimate must equal the single-node reference bit for bit")
    assert(out._2 === 10000L)
    // 1.04/sqrt(256) ~ 6.5% std error; 3 sigma bound
    assert(out._3 < 0.20, s"estimate out of the HLL error regime: $out")
    // register MAX-merge: partitioning cannot change the estimate
    val again = Frequency.hllDistinct(df.repartition(13), col("text"), "grp", p = 8)
      .select("hll_estimate").as[Double].head()
    assert(again === out._1)
  }

  test("hllDistinct small-range correction: tiny cardinalities take the linear-counting branch") {
    val items = Seq("a", "b", "c", "a", "b")
    val df = items.zipWithIndex.map { case (t, i) => (i.toLong, t, "g") }
      .toDF("doc_id", "text", "grp")
    val out = Frequency.hllDistinct(df, col("text"), "grp", p = 8)
      .select("hll_estimate", "exact_distinct").as[(Double, Long)].head()
    val (regs, want) = refHll(items.distinct, 8)
    // 3 distinct items: V = 253 zero registers, raw << 640 → linear counting
    val v = regs.count(_ == 0)
    assert(v === 253)
    assert(out._1 === want)
    assert(out._1 === 256.0 * math.log(256.0 / 253.0), "the m·ln(m/V) branch")
    assert(out._2 === 3L)
  }

  test("cmsEstimates is partitioning-invariant (the matrix is a sum)") {
    val words = (1 to 50).map(i => s"w${i % 7}")
    val one = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val many = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(13)
    val a = Frequency.cmsEstimates(one, 4, 16).collect().toSeq
    val b = Frequency.cmsEstimates(many, 4, 16).collect().toSeq
    assert(a === b, "merge order cannot change a sum-structured sketch")
  }

  test("cmsJoinSize: exact at wide width, one-sided at narrow, hand-checked truth") {
    // A: key k1 x3, k2 x2, k3 x1; B: k1 x2, k3 x4, k9 x5
    // true |A join B| = 3*2 + 1*4 = 10 (k2 and k9 match nothing)
    def tbl(rows: Seq[(String, Int)]) = rows
      .flatMap { case (k, n) => Seq.fill(n)(k) }.zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val aT = tbl(Seq("k1" -> 3, "k2" -> 2, "k3" -> 1))
    val bT = tbl(Seq("k1" -> 2, "k3" -> 4, "k9" -> 5))
    val wide = Frequency.cmsJoinSize(aT, bT, col("k"), depth = 4, width = 1024)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(wide.length === 4)
    assert(wide.forall(_._3 === 10L), "hand-computed true size")
    assert(wide.forall(r => r._4 === r._5 + 10L))
    // 4 keys in 1024 cells: no collisions, the estimate is exact
    assert(wide.head._4 === 10L, s"wide-width estimate must be exact: ${wide.head}")
    // width 2 forces collisions: every row's inner product >= truth,
    // and the min keeps the one-sided guarantee
    val narrow = Frequency.cmsJoinSize(aT, bT, col("k"), depth = 4, width = 2)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(narrow.forall(r => r._2 >= 10L), "inner products never undershoot")
    assert(narrow.forall(r => r._4 >= 10L && r._5 >= 0L))
    // disjoint keys: estimate may collide upward but truth is 0 and the
    // frame still carries all depth rows
    val disj = Frequency.cmsJoinSize(aT,
      tbl(Seq("z1" -> 2, "z2" -> 2)), col("k"), depth = 4, width = 1024)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(disj.length === 4 && disj.forall(_._3 === 0L))
    assert(disj.head._4 === 0L, "no shared cells at wide width")
  }

  test("weighted sketch of a frequency table equals the raw-stream sketch") {
    // the algebra cmsJoinSize's one-scan-per-side build rests on:
    // folding (key, freq) through graft_cms_sketch_w is bit-identical
    // to one graft_cms_sketch increment per raw row, at any partitioning
    val raw = Seq("k1", "k1", "k1", "k2", "k2", "k3", null).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k").repartition(5)
    val fromRaw = raw
      .agg(expr("graft_cms_sketch(k, 4, 16)")).head().getSeq[Long](0)
    val fromFreq = raw.groupBy(col("k")).agg(count(lit(1)).as("f"))
      .repartition(3)
      .agg(expr("graft_cms_sketch_w(k, f, 4, 16)")).head().getSeq[Long](0)
    assert(fromFreq === fromRaw)
    assert(fromRaw.sum === 4 * 6L, "null keys skipped, 6 rows x 4 rows-per-item")
  }
}
