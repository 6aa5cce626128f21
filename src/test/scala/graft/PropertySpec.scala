package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions
import graft.operators.Sessionize
import graft.silver.SilverTransform

/** Property-style invariants (SURVEY §5.2) over generated inputs —
  * deterministic samples drawn from ScalaCheck generators (seed 7) so
  * failures are reproducible. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sample[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen(Gen.Parameters.default, Seed(7L + i)))

  test("silver row count = Σ|checkpoints| for arbitrary checkpoint arrays") {
    val cpGen = Gen.listOfN(3,
      Gen.chooseNum(0, 6).flatMap(k => Gen.const(k))) // sizes incl. empty
    val sizesPerShipment = sample(Gen.chooseNum(0, 6), 40)
    val rows = sizesPerShipment.zipWithIndex.map { case (k, i) =>
      (s"id$i", s"TN$i", "dhl", "Pending", "2024-01-01 00:00:00",
        "2024-01-02 00:00:00", "USA", "DEU", "c", 1.0, 1,
        (0 until k).map(j => ("m", "city", "USA", s"2024-01-01 0$j:00:00".take(19), "Pending")))
    }
    val df = rows.toDF("id", "tracking_number", "slug", "tag", "created_at",
      "updated_at", "origin_country_iso3", "destination_country_iso3",
      "customer_name", "shipment_weight_kg", "delivery_days", "checkpoints")
      .withColumn("checkpoints", col("checkpoints").cast(
        "array<struct<message:string,city:string,country:string,checkpoint_time:string,tag:string>>"))
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val silver = SilverTransform.transform(df, "2024-01-01", ts)
    assert(silver.count() === sizesPerShipment.sum)
    // outer mode keeps one row even for empty arrays
    val outer = SilverTransform.transform(df, "2024-01-01", ts, explodeOuter = true)
    assert(outer.count() === sizesPerShipment.map(math.max(_, 1)).sum)
    // filled columns never null
    assert(silver.filter(col("status").isNull || col("checkpoint_city").isNull).count() === 0)
  }

  test("jaccard ∈ [0,1], symmetric, and 1 iff equal sets") {
    val wordGen = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val setGen = Gen.listOfN(6, wordGen).map(_.distinct)
    val pairs = sample(Gen.zip(setGen, setGen), 60).filter(p => p._1.nonEmpty && p._2.nonEmpty)
    val df = pairs.toDF("a", "b")
    val j = df.select(
      TextFunctions.jaccard(col("a"), col("b")).as("ab"),
      TextFunctions.jaccard(col("b"), col("a")).as("ba"))
      .as[(Double, Double)].collect()
    j.foreach { case (ab, ba) =>
      assert(ab >= 0.0 && ab <= 1.0)
      assert(ab === ba, "symmetry")
    }
    pairs.zip(j).foreach { case ((a, b), (ab, _)) =>
      assert((ab == 1.0) === (a.toSet == b.toSet), s"$a vs $b → $ab")
    }
  }

  test("sessionize: session ids contiguous from 0, count bounded by events") {
    val gapGen = Gen.chooseNum(1L, 7200L) // seconds between events
    val gaps = sample(gapGen, 50)
    var t = 0L
    val events = gaps.zipWithIndex.map { case (g, i) =>
      t += g * 1000000L
      (i.toLong, 1L, new java.sql.Timestamp(1700000000000L + t / 1000))
    }
    val df = events.toDF("event_id", "user_id", "ts")
    val s = Sessionize.withSessionIds(df, "user_id", "ts", "event_id", gapSeconds = 1800L)
    val ids = s.select("session_id").as[Long].collect().sorted
    assert(ids.head === 0)
    assert(ids.distinct.length === ids.max + 1, "contiguous session ids")
    // expected session count = 1 + gaps exceeding the threshold (first gap opens session 0)
    val expected = 1 + gaps.tail.count(_ > 1800L)
    assert(ids.max + 1 === expected)
  }

  test("rolling hash equals reference on arbitrary unicode strings") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    val strs = sample(Gen.listOfN(12, Gen.choose(32.toChar, 0x2FF.toChar)).map(_.mkString), 50)
    val got = strs.toDF("t")
      .select(col("t"), expr("graft_rolling_hash(t)")).as[(String, Long)].collect()
    got.foreach { case (s, h) => assert(h === ref(s), s"'$s'") }
  }

  test("ngramsAll count and reference construction on arbitrary token lists") {
    import graft.functions.TextFunctions
    val toksGen = Gen.chooseNum(0, 12).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d")))
    val lists = sample(toksGen, 60)
    for (n <- Seq(2, 3, 5)) {
      val got = lists.toDF("toks")
        .select(TextFunctions.ngramsAll(col("toks"), n)).as[Seq[String]].collect()
      lists.zip(got).foreach { case (toks, grams) =>
        val ref = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
        assert(grams === ref, s"n=$n toks=$toks")
      }
    }
  }

  test("mode count equals reference max frequency on arbitrary token lists") {
    val toksGen = Gen.chooseNum(0, 20).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c")))
    val lists = sample(toksGen, 80)
    val got = lists.toDF("toks")
      .select(expr("graft_mode_count(toks)")).as[Long].collect()
    lists.zip(got).foreach { case (toks, m) =>
      val ref = if (toks.isEmpty) 0L
        else toks.groupBy(identity).values.map(_.size).max.toLong
      assert(m === ref, s"toks=$toks")
    }
  }

  test("triangleCounts equals the brute-force triple count on arbitrary graphs") {
    // random graphs over 12 nodes — dense enough for triangles, small
    // enough for the O(n³) reference
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
    for ((edges, i) <- sample(edgeGen, 6).zipWithIndex) {
      val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct.toSet
      val nodes = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val ref = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (Seq(a, b, c) <- nodes.combinations(3)
           if canon((a, b)) && canon((a, c)) && canon((b, c));
           n <- Seq(a, b, c)) ref(n) += 1
      val got = graft.operators.Graph
        .triangleCounts(edges.toDF("src", "dst")) // raw: dups/loops/reversals
        .as[(Long, Long)].collect().toMap
      assert(got === ref.toMap, s"graph $i: $canon")
    }
  }

  test("kmvQuantiles true_rank is the exact (value,id)-order rank on arbitrary data") {
    val rowGen = Gen.zip(Gen.chooseNum(0L, 499L), Gen.chooseNum(0, 15))
    val rows = sample(rowGen, 300).distinctBy(_._1)
      .map { case (id, v) => ("g", id, v.toDouble) } // heavy ties by design
    val out = graft.operators.Sampling.kmvQuantiles(rows.toDF("grp", "id", "v"),
      "grp", "id", col("v"), Seq(0.3, 0.6, 0.9), k = 40, seed = "prop")
      .collect()
    val sorted = rows.map(t => (t._3, t._2)).sorted
    for (r <- out) {
      val ev = r.getAs[Double]("est_value")
      // recompute the estimate's exact rank from first principles: the
      // number of (value, id) pairs ≤ the picked pair
      val estId = sorted.filter(_._1 == ev).map(_._2)
      val rank = r.getAs[Long]("true_rank").toInt
      assert(rank >= 1 && rank <= rows.size)
      val (rv, rid) = sorted(rank - 1)
      assert(rv === ev && estId.contains(rid),
        s"true_rank $rank must point at the estimate pair, got ($rv,$rid) vs $ev")
      // and the measured rank error is what the output claims
      val err = math.abs(rank.toDouble / rows.size - r.getAs[Double]("q"))
      assert(math.abs(err - r.getAs[Double]("rank_err")) < 1e-12)
    }
  }
}
