package graft

/** Multi-session robustness (the r15–r16 ADVICE theme): the engine's
  * session-scoped machinery — the `graft_*` functions every session gets
  * at build time (GraftSession.configure injects them), the (session,
  * dir) memoization caches behind silverFlat, and the stream-stage
  * cache's per-session ownership — must let two sessions of one
  * SparkContext run the same queries independently and agree on
  * results. */
class MultiSessionSpec extends SparkTestBase {

  private def rows(name: String, s: org.apache.spark.sql.SparkSession): Seq[String] = {
    val df = graft.queries.Registry.specs.find(_.name == name).get.run(s, sf0001)
    // canonical row text, orderless — the driver-compare convention
    df.collect().map(_.toString).sorted.toSeq
  }

  test("a cloned session runs the same queries to the same results") {
    val s2 = spark.newSession()
    // q06: the flagship join+agg (exercises Corpus reads + dsum);
    // p02: exercises the (session, dir)-keyed silverFlat cache;
    // v01: exercises the child session's injected graft_* functions
    for (q <- Seq("q06_region_customer_stats", "p02_courier_metrics", "v01_cosine_topk")) {
      assert(rows(q, s2) === rows(q, spark), s"$q must agree across sessions")
    }
    // the caches are keyed per session — both entries coexist
    assert(graft.queries.Domain.silverFlat(spark, sf0001) ne
      graft.queries.Domain.silverFlat(s2, sf0001),
      "silverFlat memoization must be per-session, not shared")
  }

  test("a fresh child session has every graft_* function without registration") {
    val s2 = spark.newSession()
    assert(s2.sql("SELECT graft_fold31('a@b.com')").head().getLong(0) ===
      graft.functions.Fold31.fold(org.apache.spark.unsafe.types.UTF8String.fromString("a@b.com")))
    val names = Seq("graft_rolling_hash", "graft_dot", "graft_jaccard_sorted",
      "graft_inter_sorted", "graft_lsh_bands", "graft_topk", "graft_multiq_topk",
      "graft_mmr", "graft_mode_count", "graft_fold31", "graft_pseudonymize",
      "graft_registered_domain", "graft_shingles", "graft_ngrams",
      "graft_bigram_pairs", "graft_bpe_apply", "graft_bpe_step", "graft_merge_step",
      "graft_unigram_encode", "graft_mg_sketch", "graft_cms_sketch",
      "graft_cms_sketch_w", "graft_bloom_sketch", "graft_hll_sketch",
      "graft_wordpiece_encode", "graft_blocklist")
    assert(graft.functions.GraftExpressions.functions.map(_._1.funcName).sorted === names.sorted)
    assert(names.filterNot(s2.catalog.functionExists) === Nil)
  }

  test("stream state-shard override never touches the caller session's conf") {
    // VERDICT r16 #4: runToMemory's shuffle-partition override used to
    // be set→run→restore on the CALLER's session (serialized by a lock),
    // so a batch query planned mid-stream inherited the reduced count.
    // The override now lives on a child session only; this samples the
    // caller conf CONCURRENTLY with the stream run and asserts it never
    // moves, while the child-session read-back proves the override took.
    val key = "spark.sql.shuffle.partitions"
    val default = spark.conf.get(key)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val poller = new Thread(() => while (!stop) {
      samples.add(spark.conf.get(key)); Thread.sleep(1)
    })
    poller.start()
    try {
      val p06 = graft.queries.Registry.specs
        .find(_.name == "p06_stream_hourly_windows").get
      val streamed = p06.run(spark, sf0001)
      // stream ≡ batch on the same session (the p06 oracle semantics)
      val batch = graft.queries.Registry.specs
        .find(_.name == "q24_hourly_event_windows").get.run(spark, sf0001)
      assert(streamed.collect().map(_.toString).sorted.toSeq ===
        batch.collect().map(_.toString).sorted.toSeq)
    } finally { stop = true; poller.join() }
    import scala.jdk.CollectionConverters._
    assert(samples.size > 0, "poller must have sampled during the run")
    assert(samples.asScala.forall(_ == default),
      s"caller-session $key must stay at $default for the whole stream run; " +
        s"saw ${samples.asScala.toSet}")
    assert(spark.conf.get(key) == default)
    // the override itself must still be in force on the child session —
    // read back from the per-query-name observability map (the r18
    // ADVICE fix: a shared slot could hand us another stream's value)
    val readBack = graft.streaming.SilverStream.overrideShufflePartitions
      .filter { case (n, _) => n.startsWith("p06_stream_") }
    assert(readBack.values.exists(n => n >= 2 && n.toString != default),
      s"child-session override read-back: $readBack")
  }
}
