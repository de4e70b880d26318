package graft.queries

import org.apache.spark.sql.DataFrame

import graft.olhovivo.SparkTestBase

/** Plan audits: the physical-plan properties the engine's scale story
  * depends on, asserted as regressions. "Would this survive a 100×
  * scale-up" is a property of the plan, not the data — so the plan is
  * what's tested. (String-level assertions on the printed plan: the
  * AdaptiveSparkPlanExec wrapper hides pre-AQE exchanges from tree
  * traversal, but the print shows the initial plan faithfully.)
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString


  test("q02: filters push into the parquet scan; only needed columns read") {
    val p = plan(Relational.q02FilterPushdown(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_discount)"),
      s"missing pushed filters:\n$p")
    // scan column list = 4 projected + the filter column, nothing else
    // (the ReadSchema print truncates, so assert on the scan's bracket list)
    assert(p.contains("FileScan parquet [l_orderkey#"), s"no parquet scan:\n$p")
    for (c <- Seq("l_shipdate", "l_partkey", "l_returnflag", "l_tax"))
      assert(!p.contains(c), s"scan reads unneeded column $c:\n$p")
  }

  test("q03: dimension joins broadcast") {
    val p = plan(Relational.q03JoinRevenue(spark, dir))
    assert(countOf(p, "BroadcastHashJoin") >= 2,
      s"expected ≥2 broadcast joins:\n$p")
  }

  test("q20 speed hops: one hash exchange (vehicle window), lag×3 fused, no global sort") {
    val p = plan(OlhoVivo.q20SpeedHops(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"expected exactly 1 shuffle:\n$p")
    assert(countOf(p, "Window [") == 1, s"lag×3 must fuse into one Window:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
  }

  test("q21 speed agg: ONE shuffle total — the aggregate reuses the window's partitioning") {
    // EnsureRequirements' subset rule: hashpartitioning(prefixo_veiculo)
    // from the lag window already satisfies ClusteredDistribution on the
    // 7 agg keys (prefixo_veiculo ∈ keys) → no second exchange. At 100 TB
    // this halves the pipeline's shuffle volume.
    val p = plan(OlhoVivo.q21SpeedAgg(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"expected exactly 1 shuffle (window partitioning reused by agg):\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q05 top-k: TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q05TopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k planned as global sort:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0)
  }

  test("q132 weighted sample: per-partition top-k, zero exchanges, and ≡ brute-force A-ES") {
    val df = TextOps.q132WeightedSample(spark, dir)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"sample planned as global sort:\n$p")
    assert(countOf(p, "Exchange") == 0, s"weighted sample must be scan+top-k only:\n$p")
    // brute-force reference: recompute every doc's integer A-ES key in
    // Scala (BigInt — immune to the int64 overflow the SQL form avoids
    // by shifting) and take the same top-200
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), math.max(r.getLong(1), 1L)))
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    def ilog(x: Long): Long = {
      val b1 = 64 - java.lang.Long.numberOfLeadingZeros(x) - 1
      val mant = (BigInt(x) << 20) >> b1
      (BigInt(b1) << 20).toLong + mant.toLong - (1L << 20)
    }
    val expected = docs.map { case (id, w) =>
      val m = 60L * (1L << 20) - ilog(h60(id.toString))
      (m * 1000000L / w, id)
    }.sorted.take(200).map(_._2).toSeq
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == expected, "engine sample differs from brute-force A-ES reference")
  }

  test("q30 token stats and q44 simhash: no algorithmic shuffle") {
    // the deliberate round-robin `spread` of the single-split testdata
    // parquet is allowed; hash/range exchanges (i.e. real data movement
    // keyed on values) are not — the signatures themselves are map-only.
    for (q <- Seq(TextOps.q30TokenStats(spark, dir),
                  DedupOps.queries("q44_simhash")(spark, dir))) {
      val p = plan(q)
      assert(countOf(p, "Exchange hashpartitioning") == 0 &&
        countOf(p, "Exchange rangepartitioning") == 0,
        s"signature must not shuffle on values:\n$p")
    }
  }

  test("q01: single exchange with partial aggregation below it") {
    val p = plan(Relational.q01PricingSummary(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 1, s"expected 1 exchange:\n$p")
    assert(p.contains("partial_"), s"missing partial HashAggregate:\n$p")
  }

  test("q50 ann top-k: query side broadcast, corpus never shuffled pre-score") {
    val p = plan(VectorOps.q50AnnTopK(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"queries must broadcast:\n$p")
  }

  test("q39 decontamination: benchmark gram set broadcasts; corpus side map-only until the hit count") {
    val p = plan(DedupOps.q39Decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("BroadcastExchange"),
      s"benchmark grams must broadcast:\n$p")
    // corpus-side exchanges: the benchmark distinct + the final per-doc
    // count — the corpus (doc, gram) stream itself must NOT shuffle
    // before the broadcast join
    assert(countOf(p, "Exchange hashpartitioning") <= 2,
      s"unexpected corpus shuffle before the broadcast join:\n$p")
  }

  test("q53 quantized top-k: query side broadcasts; corpus never shuffled pre-score") {
    val p = plan(VectorOps.q53QuantizedTopK(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"quantized queries must broadcast:\n$p")
  }

  test("q54 repetition: both aggregations have map-side partial merge") {
    val p = plan(TextOps.q54Repetition(spark, dir))
    assert(countOf(p, "partial_") >= 2,
      s"expected partial aggregation below both exchanges:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") <= 2,
      s"repetition needs exactly the (doc,gram) and doc exchanges:\n$p")
    assert(!p.contains("Sort "), s"no sorts expected:\n$p")
  }

  test("q55 centroids: one partial-agg exchange, no sort operator") {
    val p = plan(VectorOps.q55GroupCentroid(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"expected only the (g,dim) aggregation exchange:\n$p")
    assert(countOf(p, "partial_") >= 1, s"no partial aggregation:\n$p")
    assert(!p.contains("Sort "), s"no Sort operator expected:\n$p")
  }

  test("q61/q62/q63 media synthesis + decode: map-only, no data-keyed shuffle") {
    for (q <- Seq(graft.queries.Extras.q61MediaSniff(spark, dir),
        graft.queries.MultimodalOps.q62ImageDecode(spark, dir),
        graft.queries.MultimodalOps.q63AudioDecode(spark, dir),
        graft.queries.MultimodalOps.q66PngRoundtrip(spark, dir),
        graft.queries.MultimodalOps.q67GifFrameSample(spark, dir),
        graft.queries.MultimodalOps.q69ImageResize(spark, dir))) {
      val p = plan(q)
      assert(countOf(p, "Exchange hashpartitioning") == 0 &&
        countOf(p, "Exchange rangepartitioning") == 0,
        s"payload synthesis and decode must not shuffle:\n$p")
    }
  }

  test("q68 sequence pack: one hash exchange (the shard window), no range partition") {
    val p = plan(graft.queries.TextOps.q68SequencePack(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"packing must shuffle once, on the shard key:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0,
      s"packing must not global-sort:\n$p")
  }

  test("q56 l2 normalize: map-only — no hash shuffle") {
    val p = plan(VectorOps.q56L2Normalize(spark, dir))
    // the only allowed exchange is Tables.spread's round-robin
    // (single-split testdata parallelization) — no data-keyed shuffle
    assert(countOf(p, "Exchange hashpartitioning") == 0 &&
      countOf(p, "Exchange rangepartitioning") == 0,
      s"normalization must not shuffle on data keys:\n$p")
  }

  test("q57 bloom semi: might_contain probes map-side, below the join") {
    // don't embed the plan in failure messages — the bloom literal
    // makes the printed tree hundreds of KB
    val p = plan(Relational.q57BloomSemi(spark, dir))
    assert(p.contains("might_contain"), "bloom probe missing from plan")
    // the probe must sit BELOW the semi join (scan side, pre-exchange),
    // so pruned rows never reach the join's shuffle/broadcast; the
    // printed tree is top-down, so the probe's first occurrence comes
    // after the join line
    val joinIdx = p.indexOf("LeftSemi")
    assert(joinIdx >= 0, "no semi join in plan")
    assert(p.indexOf("might_contain") > joinIdx,
      "probe should sit below the semi join in the printed tree")
  }

  test("q36 bm25: corpus stats broadcast; scoring pass has no value shuffle") {
    val p = plan(TextOps.q36Bm25(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"stats row must broadcast back (cross join):\n$p")
    // the only exchange is the single-row global aggregate's SinglePartition
    assert(countOf(p, "Exchange hashpartitioning") == 0 &&
      countOf(p, "Exchange rangepartitioning") == 0,
      s"scoring must not shuffle the corpus:\n$p")
  }

  test("q37/q38 sampling: exactly one hash exchange (the stratum window)") {
    for (q <- Seq(Extras.queries("q37_stratified_sample")(spark, dir),
                  Extras.queries("q38_token_budget")(spark, dir))) {
      val p = plan(q)
      assert(countOf(p, "Exchange hashpartitioning") == 1,
        s"expected exactly 1 shuffle:\n$p")
      assert(countOf(p, "Exchange rangepartitioning") == 0,
        s"no global sort allowed:\n$p")
    }
  }

  test("q84 source cap: rank filter rewrites to WindowGroupLimit (map-side top-n)") {
    // InferWindowGroupLimit turns row_number ≤ n into a group-limit that
    // runs BEFORE the exchange too (Partial mode): each map task forwards
    // at most n rows per group — the property that makes a domain cap
    // affordable on a skewed 100 TB corpus
    val p = plan(CorpusOps.q84SourceCap(spark, dir))
    assert(countOf(p, "WindowGroupLimit") >= 2, // partial (pre-shuffle) + final
      s"expected pre- and post-shuffle WindowGroupLimit:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1, s"one shuffle expected:\n$p")
  }

  test("q133 stratified sample: map-side WindowGroupLimit, one shuffle") {
    // q132's integer A-ES key ∘ QuotaCap: each map task forwards at most
    // k rows per source before the exchange — a skewed source costs
    // k·tasks shuffle rows, not its corpus share
    val p = plan(TextOps.q133StratifiedSample(spark, dir))
    assert(countOf(p, "WindowGroupLimit") >= 2,
      s"expected pre- and post-shuffle WindowGroupLimit:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1, s"one shuffle expected:\n$p")
  }

  test("q85 postings: ONE shuffle; bounded buffers via ObjectHashAggregate") {
    val p = plan(CorpusOps.q85Postings(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"expected exactly 1 shuffle:\n$p")
    // typed-Aggregator path (BoundedSmallestK) plans as ObjectHashAggregate
    // with a partial mode before the exchange — the map-side cap
    assert(p.contains("ObjectHashAggregate"), s"no object hash aggregate:\n$p")
  }

  test("q82 chunking: map-only — no exchange of any kind") {
    val p = plan(CorpusOps.q82Chunks(spark, dir))
    assert(countOf(p, "Exchange") == 0, s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the window explode:\n$p")
  }

  test("q121/q122 span removal: hash equi-joins only, no cartesian, no global sort") {
    // the span-removal family's scale story: fingerprint→hash joins and
    // per-doc windows/folds — a cartesian or a corpus-wide range sort
    // would mean the interval machinery degenerated. Audited on the
    // OPERATORS directly (unmanaged scope): the gate entries wrap the
    // result in materializeAndRelease, whose checkpoint truncates
    // lineage to a Scan ExistingRDD — auditing THAT plan asserts
    // nothing.
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = graft.Tables.documents(spark, dir)
    val frames = Seq(
      graft.text.SpanDedup.removeSharedSpans(docs, "doc_id", col("text")),
      graft.text.SpanDedup.removeSpansMatching(
        docs.filter(pmod(col("doc_id"), lit(41)) =!= 0), "doc_id", col("text"),
        docs.filter(pmod(col("doc_id"), lit(41)) === 0), col("text")))
    for (df <- frames) {
      val p = plan(df)
      assert(!p.contains("Scan ExistingRDD"),
        s"audit target is lineage-truncated — the assertions below would be vacuous:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"span removal degenerated to all-pairs:\n$p")
      assert(!p.contains("rangepartitioning"),
        s"span removal acquired a global sort:\n$p")
    }
    spark.catalog.clearCache()
  }

  test("q134 exact substring dedup: df prefilter is a semi join; gram text only for candidates; never all-pairs") {
    // audited on the operator directly (unmanaged scope), like q121/q122
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.functions.{pmod, lit}
    val docs = graft.Tables.documents(spark, dir)
    val frames = Seq(
      graft.text.ExactSpanDedup.removeSharedSpans(docs, "doc_id", col("text")),
      graft.text.ExactSpanDedup.removeSpansMatching(
        docs.filter(pmod(col("doc_id"), lit(41)) =!= 0), "doc_id", col("text"),
        docs.filter(pmod(col("doc_id"), lit(41)) === 0), col("text")))
    for (df <- frames) {
      val p = plan(df)
      assert(!p.contains("Scan ExistingRDD"),
        s"audit target is lineage-truncated — assertions would be vacuous:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"exact-span dedup degenerated to all-pairs:\n$p")
      assert(!p.contains("rangepartitioning"),
        s"exact-span dedup acquired a global sort:\n$p")
      // the 100 TB property: the hash membership prefilter plans as a
      // LeftSemi so corpus-sized gram rows never carry text, and no
      // gram-to-gram join exists (keeper/df/membership come from
      // aggregations or the vocabulary-bounded reference side)
      assert(p.contains("LeftSemi"), s"hash prefilter must be a semi join:\n$p")
    }
    spark.catalog.clearCache()
  }

  test("q87 fuzzy pairs: candidates via equi-join — no cartesian/nested-loop") {
    // the FastSS point: a levenshtein(a,b)<=k predicate alone would force
    // a BroadcastNestedLoopJoin/CartesianProduct; the deletion-variant
    // join keeps it a hash equi-join
    val p = plan(CorpusOps.q87FuzzyTerms(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy join degenerated to all-pairs:\n$p")
    assert(p.contains("Join") || p.contains("join"), s"no join found:\n$p")
  }

  test("q26 exact percentiles: one aggregation exchange, no global sort") {
    // exact percentile is a sort-based aggregate BUFFER, not a plan-level
    // sort: the only exchange keys the 3-group aggregation
    val p = plan(Analytics.q26Percentiles(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 1, s"one shuffle expected:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"no global sort:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"percentile should aggregate, not sort the table:\n$p")
  }

  test("q93 z-scores: group stats broadcast — the corpus is never shuffled for the join") {
    val p = plan(Analytics.q93ZscoreOutliers(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"stats join must broadcast:\n$p")
    // the only hash exchange keys the 5-group aggregation, not the rows
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"expected exactly the stats aggregation shuffle:\n$p")
  }

  test("q95 gap fill: key-partitioned joins/windows only, no global sort") {
    val p = plan(Temporal.q95GapFill(spark, dir))
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"no global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no calendar cross join allowed:\n$p")
  }

  test("q100/q101 SQL text: same plan shape as the DataFrame twins") {
    // the SQL-text path must analyze into the plans the DataFrame API
    // builds — parser surface, not a second engine: q100 = one vehicle
    // window exchange with the haversine expression in codegen; q101 =
    // one user window exchange, both window functions fused
    val p100 = plan(SqlText.q100SqlHaversine(spark, dir))
    assert(countOf(p100, "Exchange hashpartitioning") == 1,
      s"q100 expected exactly 1 shuffle (the vehicle window):\n$p100")
    assert(p100.contains("haversine_m"), s"extension fn missing from plan:\n$p100")
    assert(countOf(p100, "Exchange rangepartitioning") == 0)
    val p101 = plan(SqlText.q101SqlWindow(spark, dir))
    assert(countOf(p101, "Exchange hashpartitioning") == 1,
      s"q101 expected exactly 1 shuffle (the user window):\n$p101")
    assert(countOf(p101, "Window [") == 1,
      s"running sum + lag must fuse into one Window:\n$p101")
  }

  test("q102 SQL text: query side broadcasts; dot_product runs in whole-stage codegen") {
    val p = plan(SqlText.q102SqlDot(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"4-row query side must broadcast:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 0,
      s"corpus must not shuffle for a broadcast scoring pass:\n$p")
    assert(p.contains("dot_product"), s"expression missing from plan:\n$p")
  }

  test("quantile_rank z-value: map-only codegen, no fallback") {
    // the z-order write's rank expression must live inside whole-stage
    // codegen (it feeds a full-corpus map stage at 100 TB) — a
    // CodegenFallback would interpret every row
    val bounds = Seq(Array(1.0, 2.0, 3.0), Array(10.0, 20.0))
    val df = graft.Tables.lineitem(spark, dir).select(
      graft.sources.ZOrder.zValueQuantile(
        Seq(org.apache.spark.sql.functions.col("l_partkey"),
          org.apache.spark.sql.functions.col("l_suppkey")), bounds, bits = 2)
        .as("z"))
    val p = plan(df)
    // the starred "*(n) Project" prefix is toString's whole-stage-codegen
    // marker; an interpreted fallback prints an unstarred Project
    assert(p.matches("(?s).*\\*\\(\\d+\\) Project.*quantile_rank.*"),
      s"z-value fell out of codegen:\n$p")
    assert(countOf(p, "Exchange") == 0, s"rank compute must be map-only:\n$p")
    assert(df.agg(org.apache.spark.sql.functions.max("z")).head().getLong(0) <= 15L)
  }

  test("jaccard co-occurrence join: pair join reuses the posting-list partitioning") {
    // postings are shuffled ONCE by hash(h) for the df window; the
    // self-join on h must reuse that partitioning from the cache — the
    // only other exchanges key the (id_a, id_b) aggregation and the two
    // size joins
    // earlier suites may have left unmanaged-scope postings cached —
    // start from a clean CacheManager so the audit sees ITS cache only
    spark.catalog.clearCache()
    try {
      val res = graft.dedup.Dedup.jaccardJoin(
        graft.Tables.documents(spark, dir), "doc_id",
        org.apache.spark.sql.functions.col("text"))
      val p = plan(res)
      // every InMemoryTableScan prints the cached plan (which contains
      // the ONE posting-list exchange); any h-exchange beyond those
      // prints would be a real extra shuffle on top of the cache
      assert(countOf(p, "Exchange hashpartitioning(h#") ==
        countOf(p, "InMemoryRelation ["),
        s"join must add no posting shuffle beyond the cached window's:\n$p")
      assert(countOf(p, "InMemoryRelation [") > 0, s"posting list not cached:\n$p")
    } finally spark.catalog.clearCache() // unmanaged-scope persist from the audit
  }

  test("q106 semantic dedup: cid-keyed pair join, no all-pairs, projection cached") {
    // SemDeDup's scale claim IS the plan shape: the quadratic step must
    // be an equi-join on cid (bounded per cluster), never a cartesian;
    // the normalize+assign projection must come from cache, not three
    // recomputes (each costs k dot products + a normalize per row)
    // the gate entry materializes through a released scope (plan would
    // show the checkpoint scan) — audit the library operator directly
    spark.catalog.clearCache()
    try {
      val emb = graft.Tables.embeddings(spark, dir)
      val cents = graft.similarity.Clustering
        .seedCentroids(emb, "vec_id", "embedding", 8)
      val p = plan(graft.similarity.SemDedup
        .semanticDedup(emb, "vec_id", "embedding", cents, 0.35))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"pair step degenerated to all-pairs:\n$p")
      assert(countOf(p, "InMemoryRelation [") > 0,
        s"normalize+assign projection not cached:\n$p")
      assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("q107 span dedup: winnow stays in codegen; pair step is an h equi-join") {
    spark.catalog.clearCache()
    try {
      val p = plan(graft.text.SpanDedup.sharedSpanPairs(
        graft.Tables.documents(spark, dir), "doc_id",
        org.apache.spark.sql.functions.col("text")))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"pair step degenerated to all-pairs:\n$p")
      assert(countOf(p, "InMemoryRelation [") > 0,
        s"fingerprint relation not cached:\n$p")
      // ONE winnow pass: the cached relation prints per consumer, but a
      // winnow_fp outside an InMemoryRelation print would be a real
      // recompute (codegen itself is covered by CodegenOnlySpec)
      assert(countOf(p, "winnow_fp") == countOf(p, "InMemoryRelation ["),
        s"winnow_fp recomputed outside the cache:\n$p")
      assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("q129 Lloyd M-step: map-side combine before ONE k·dim exchange, codegen E-step") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("__id"), col("embedding").as("__vec"))
    val cents = graft.similarity.Clustering.seedCentroids(emb, "__id", "__vec", 8)
    val p = plan(graft.similarity.Clustering.mStepFrame(emb, cents))
    // partial + final HashAggregate pair: the shuffle carries
    // partitions·k·dim partial rows, never corpus·dim rows — the
    // property that lets the fit's M-step run on 100 TB
    assert(countOf(p, "HashAggregate") >= 2, s"no partial aggregation:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"expected exactly one exchange (the k·dim model shuffle):\n$p")
    // E-step through the native codegen expression, not interpreted HOFs
    assert(p.contains("nearest_cid"), s"E-step not on the native expression:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
  }
  test("q144: host stats is the textbook two-phase distinct - two exchanges, nothing else") {
    val p = plan(CorpusOps.q144HostStats(spark, dir))
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"expected the (host, canon) partial + host final exchanges only:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0 &&
      !p.contains("CartesianProduct"), s"unexpected heavy operator:\n$p")
  }

  test("q147: the BPE segmentation map joins as a broadcast, never a shuffle join") {
    val p = plan(TextOps.q147BpePack(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"enc map must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-side shuffle join crept in:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"no global sort:\n$p")
  }


  test("q160 zone robots: rule probe is a hash join (equi on host, LIKE as condition) — never nested-loop/cartesian") {
    val p = plan(WebGraphOps.q160ZoneRobotsGate(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the LIKE must ride the host equi-join as a condition, not a nested loop:\n$p")
    assert(countOf(p, "Window [") >= 1, "per-doc winner window present")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
  }

  test("q161 sitemap recursion: member resolution is an equi-join; no cartesian, no global sort") {
    val p = plan(WebGraphOps.q161SitemapRecursion(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"child-to-member resolution must be an equi-join:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
  }

  test("q162 recrawl priority: ONE per-host window, no global sort") {
    val p = plan(WebGraphOps.q162RecrawlPriority(spark, dir))
    assert(countOf(p, "Exchange rangepartitioning") == 0,
      s"staleness rank must be per-host, never a global sort:\n$p")
    assert(p.contains("Window ["), "per-host rank window present")
  }

  test("q165 crawl schedule: equi-joins + per-host windows only") {
    val p = plan(WebGraphOps.q165CrawlSchedule(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"robots gating must stay on the host equi-join:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
  }

  test("q167 zone frontier: discovery/fetch/member resolution are equi-joins; no cartesian, no global sort") {
    val p = plan(WebGraphOps.q167ZoneFrontier(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every link of the zone chain must stay on equi-joins:\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
  }

  test("q167 tree walk: fetch sources checkpoint ONCE — the returned plan reads no zone source (VERDICT r18 wrong #1)") {
    // r18 re-ran the whole-zone exact read and the gz member inflate at
    // EVERY level (up to 4 of each at maxDepth 3). r19 checkpoints
    // captures and members before the walk; every per-level fetch joins
    // the materialized relations, so the walk's construction scans each
    // source exactly once and the RETURNED frame's lineage contains no
    // zone scan at all — only the per-level checkpoints plus the one
    // documents scan for corpus membership.
    val p = plan(WebGraphOps.q167ZoneFrontier(spark, dir))
    assert(!p.contains("graft_warc_robots") && !p.contains("graft_sitemap_gz"),
      s"walk output must not carry zone-scan lineage:\n$p")
    assert(countOf(p, "FileScan parquet") == 1,
      s"expected exactly the documents membership scan:\n$p")
  }

  test("q168 kept-only quota: the per-host window pre-truncates map-side (WindowGroupLimit)") {
    val p = plan(WebGraphOps.q168QuotaKept(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"the static-cap conjunct must rewrite to a map-side group limit:\n$p")
  }

  test("q169/q172: link-attribute and canonical extraction add NO data-keyed shuffle beyond the zone read") {
    // q175's meta-refresh extraction shares q172's page frame and is
    // held to the same map-only shape
    for ((name, df) <- Seq(
        "q169" -> WebGraphOps.q169NofollowEdges(spark, dir),
        "q172" -> WebGraphOps.q172CanonicalLink(spark, dir),
        "q175" -> CorpusOps.q175MetaRefresh(spark, dir))) {
      val p = plan(df)
      // the WARC exact reader legitimately exchanges on FILE keys to
      // assemble chunked records; the extraction itself must add no
      // doc-/host-keyed shuffle and no range partition
      assert(!p.contains("hashpartitioning(doc_id") &&
        !p.contains("hashpartitioning(host"),
        s"$name must not shuffle on data keys:\n$p")
      assert(countOf(p, "Exchange rangepartitioning") == 0,
        s"$name global sort crept in:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
    }
  }

  test("q171 followed edges: ONE zone pass (single tag generate), no doc_id join") {
    val p = plan(WebGraphOps.q171FollowedEdges(spark, dir))
    assert(countOf(p, "Generate") == 1,
      s"one tag explode — the page-flag pass must be fused, not a second scan:\n$p")
    assert(!p.contains("hashpartitioning(doc_id"),
      s"no doc_id-keyed join/shuffle in the fused shape:\n$p")
  }

  test("q165 adaptive chain: exactly ONE strategy probe — deny and delay joins thread the policy relation's count (VERDICT r18 wrong #2)") {
    // allowed()'s rule relation legitimately measures itself (its
    // cardinality is rules×agents — nothing else bounds it); the deny
    // anti-join and the crawl-delay join are host-keyed, so both thread
    // |policies| (counted once over the hop loop's final checkpoint)
    val before = graft.operators.AdaptiveJoin.measuredProbes.get()
    WebGraphOps.q165CrawlSchedule(spark, dir)
    val probes = graft.operators.AdaptiveJoin.measuredProbes.get() - before
    assert(probes == 1, s"expected ONE measured cardinality probe, got $probes")
  }

  test("q178 anchor terms: map-side WindowGroupLimit + partial aggregation before the term exchange") {
    val p = plan(WebGraphOps.q178AnchorTerms(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"the per-dst rank must pre-truncate map-side:\n$p")
    assert(p.contains("partial_"), s"no map-side combine on (dst, term):\n$p")
    assert(countOf(p, "Exchange rangepartitioning") == 0, s"global sort crept in:\n$p")
  }

  test("q156 adaptive chain: exactly ONE strategy-count job — the quota join reuses the name count") {
    // VERDICT r17 wrong #2: hostRanks measured `names`, then q156
    // re-counted `quotas`, whose cardinality equals the rank
    // relation's. knownRows threading makes the second job vanish;
    // strategy choices (and their probe counts) happen at CONSTRUCTION
    val before = graft.operators.AdaptiveJoin.measuredProbes.get()
    val df = WebGraphOps.q156RankQuota(spark, dir)
    val probes = graft.operators.AdaptiveJoin.measuredProbes.get() - before
    assert(probes == 1, s"expected ONE measured cardinality probe, got $probes")
    // at gate scale both joins still land on the broadcast branch
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"gate scale must broadcast:\n$p")
  }
}
