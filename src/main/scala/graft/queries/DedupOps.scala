package graft.queries

import graft.functions.Fx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.{Dedup, MinHashAggregator}
import graft.functions.Portable

/** Deduplication operator coverage over `documents`: exact canonical
  * dedup, MinHash signatures, LSH band candidates, exact n-gram Jaccard
  * join, SimHash + banded Hamming near-dup pairs. Oracle SQL embeds the
  * SAME constants (affine params, band layout, bit widths) generated
  * from the library code.
  */
object DedupOps {

  type Q = (SparkSession, String) => DataFrame

  private val K = 8            // minhash permutations
  private val RowsPerBand = 2  // → 4 bands
  private val ShingleN = 3
  private val SimBits = 24
  private val P = Portable.MersenneP

  private def h60Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** Single-split scans → spread before CPU-heavy signature stages
    * (Tables.spread). */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    Tables.spread(s, df)

  /** doc_id + distinct 3-gram shingles, shared oracle prefix. */
  private val shingleCte: String =
    s"""WITH toks_t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sh_t AS (
       |  SELECT doc_id, toks,
       |    CASE WHEN len(toks) < $ShingleN THEN []
       |         ELSE list_transform(range(1, len(toks) - ${ShingleN - 2}),
       |                i -> array_to_string(toks[i:i+${ShingleN - 1}], ' '))
       |    END AS sh
       |  FROM toks_t)
       |""".stripMargin

  /** `mh_t (doc_id, <extra>perm, mh)`: the k affine minhashes of each
    * non-empty shingle set (`sh_t` in scope) — the oracle twin of
    * Dedup.withMinhashSignature, shared by q41/q42/q46/q49. */
  private def minhashCte(extra: String = ""): String = {
    val perms = Dedup.minhashParams(K).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""mh_t AS (
       |  SELECT doc_id, ${extra}perm,
       |    list_min(list_transform(sh,
       |      s -> (a * (${h60Sql("s")} % $P) + b) % $P)) AS mh
       |  FROM sh_t CROSS JOIN (VALUES $perms) AS perms(perm, a, b)
       |  WHERE len(sh) > 0)""".stripMargin
  }

  /** `sig_t` (ordered signature per doc) and `bands_t (doc_id, band,
    * bh)`: one UNION ALL arm per LSH band (`mh_t` in scope). */
  private val bandCtes: String = {
    val bandArms = (0 until K / RowsPerBand).map { bi =>
      val terms = (0 until RowsPerBand).map(r => bi * RowsPerBand + r)
      // mod-BandM Horner over the band's signature entries, exactly
      // like Dedup.lshBands (bounded — no BIGINT overflow on any layout)
      val expr = terms.foldLeft("0::BIGINT") { (acc, idx) =>
        s"((($acc) * ${Dedup.BandA} + sig[${idx + 1}]) % ${Dedup.BandM})"
      }
      s"SELECT doc_id, $bi AS band, $expr AS bh FROM sig_t"
    }.mkString("\nUNION ALL\n")
    s"""sig_t AS (
       |  SELECT doc_id, list(mh ORDER BY perm) AS sig FROM mh_t GROUP BY doc_id),
       |bands_t AS (
       |$bandArms)""".stripMargin
  }

  // ------------------------------------------------------------ q40 exact

  def q40DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactCanonical(Tables.documents(s, dir), "doc_id",
      array_join(slice(graft.text.TextAnalysis.tokens(col("text")), 1, 3), " "))

  val q40Sql: String = shingleCte +
    """SELECT array_to_string(toks[1:3], ' ') AS dedup_key,
      |  min(doc_id) AS canonical_id, count(*) AS n_docs
      |FROM toks_t GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- q41 minhash

  /** posexplode_outer, not posexplode: InferFiltersFromGenerate would
    * otherwise synthesize `size(sig) > 0` and predicate pushdown inlines
    * the whole signature expression into an interpreted Filter — a ~70×
    * slowdown for a predicate that can never drop a row (signatures are
    * always length-k arrays). Same semantics: null entries are filtered
    * on the generated column, which cannot be pushed below the Generate. */
  def q41MinhashSig(s: SparkSession, dir: String): DataFrame =
    Dedup.withMinhashSignature(spread(s, Tables.documents(s, dir)), col("text"), K, ShingleN, "sig")
      .select(col("doc_id"), posexplode_outer(col("sig")).as(Seq("perm", "mh")))
      .filter(col("mh").isNotNull)
      .select(col("doc_id"), col("perm").cast("long").as("perm"), col("mh"))

  val q41Sql: String =
    shingleCte.dropRight(1) + ",\n" + minhashCte() +
      "\nSELECT doc_id, CAST(perm AS BIGINT) AS perm, mh FROM mh_t"

  // ------------------------------------------------------ q42 LSH bands

  def q42LshCandidates(s: SparkSession, dir: String): DataFrame =
    lshBandPairs(s, Tables.documents(s, dir))(
      _.groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared_bands")))

  /** Test surface (ShardingSpec): q42's distinct
    * candidate PAIRS (id_a < id_b) over an arbitrary (doc_id, text)
    * frame — the CC chain's true input, exposed as a frame so harnesses
    * can measure its size AND assert where the pairs fall (e.g. zero
    * cross-shard pairs under Sharding.documentsDistinct). */
  def lshCandidatePairs(s: SparkSession, docsIn: org.apache.spark.sql.DataFrame): DataFrame =
    lshBandPairs(s, docsIn)(_.select(col("id_a"), col("id_b")).distinct())

  /** q42's signature → band → self-join steps over (doc_id, text): the
    * band-sharing rows (id_a < id_b, one per shared band), finished by
    * `finish` and materialized before the cached bands are released. */
  private def lshBandPairs(s: SparkSession, docsIn: DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    // Cheap pushable pre-filter (≥ ShingleN tokens ⟺ non-null signature);
    // filtering on element_at(sig, 1) would inline the signature into an
    // interpreted scan Filter (see q41 note).
    val docs = spread(s, docsIn)
      .filter(size(graft.text.TextAnalysis.tokens(col("text"))) >= ShingleN)
    val sig = Dedup.withMinhashSignature(docs, col("text"), K, ShingleN, "sig")
      .select(col("doc_id"), col("sig"))
    // cache: both self-join sides consume `bands`; uncached, each
    // side recomputes the full minhash-signature pipeline. Scoped —
    // released once the result is materialized.
    val scope = graft.CacheScope.scoped()
    val bands = scope.cache(sig.select(col("doc_id"),
        posexplode_outer(Dedup.lshBands(col("sig"), K, RowsPerBand)).as(Seq("band", "bh"))))
    val a = bands.toDF("id_a", "band", "bh")
    val b = bands.toDF("id_b", "band", "bh")
    scope.materializeAndRelease(
      finish(a.join(b, Seq("band", "bh")).filter(col("id_a") < col("id_b"))))
  }

  val q42Sql: String =
    shingleCte.dropRight(1) + ",\n" + minhashCte() + ",\n" + bandCtes +
      """
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_bands
         |FROM bands_t a JOIN bands_t b USING (band, bh)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2""".stripMargin


  // --------------------------------------------------------- q43 jaccard

  def q43Jaccard(s: SparkSession, dir: String): DataFrame = {
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      Dedup.jaccardJoin(spread(s, Tables.documents(s, dir)), "doc_id", col("text"),
        ShingleN, maxShingleDf = 50, minJ = 0.2, scope = scope))
  }

  /** Oracle hashes shingles to h60 longs exactly like the operator
    * (Dedup.hashedPostings) — both engines apply the identical hash, so
    * the compare stays exact even in the (≈2⁻⁶¹) collision case. */
  val q43Sql: String = shingleCte.dropRight(1) + "," +
    s"""
      |flat AS (
      |  SELECT doc_id AS id,
      |    unnest(list_distinct(list_transform(sh, s -> ${h60Sql("s")}))) AS s
      |  FROM sh_t WHERE len(sh) > 0),
      |flt AS (
      |  SELECT id, s FROM (
      |    SELECT id, s, count(*) OVER (PARTITION BY s) AS df FROM flat) t
      |  WHERE df <= 50),
      |sizes AS (SELECT id, count(*) AS sz FROM flt GROUP BY id),
      |inter_t AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |  FROM flt a JOIN flt b USING (s)
      |  WHERE a.id < b.id GROUP BY 1, 2)
      |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
      |  ${Fx.fxSql("inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE", 4)} AS jaccard
      |FROM inter_t
      |JOIN sizes sa ON id_a = sa.id
      |JOIN sizes sb ON id_b = sb.id
      |WHERE ${Fx.fxSql("inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE", 4)} >= 0.2""".stripMargin

  // --------------------------------------------------------- q44 simhash

  def q44Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.withSimhash(spread(s, Tables.documents(s, dir)), col("text"), SimBits, "simhash")
      .select(col("doc_id"), col("simhash"))

  private def simhashSql(bits: Int = SimBits): String =
    (0 until bits).map { b =>
      val pow = 1L << b
      s"""CASE WHEN coalesce(list_sum(list_transform(th,
         |    h -> ((h // ${pow}) % 2) * 2 - 1)), 0) > 0
         |  THEN ${1L << b}::BIGINT ELSE 0::BIGINT END""".stripMargin
    }.mkString(" + ")

  val q44Sql: String =
    s"""WITH toks_t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |th_t AS (
       |  SELECT doc_id, list_transform(toks, t -> ${h60Sql("t")}) AS th
       |  FROM toks_t)
       |SELECT doc_id, ${simhashSql()} AS simhash FROM th_t""".stripMargin

  // ------------------------------------------- q45 simhash hamming pairs

  /** Memoized per-dir corpus size. q45/q47/q59 pick their SimHash width
    * from it (Dedup.simhashBitsFor); the count is one metadata-cheap job
    * per dir, and the bench/gate dirs are immutable for a session —
    * same per-dir caching contract as SparkEntry.artifactEntries. */
  private val docCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def nDocs(s: SparkSession, dir: String): Long =
    docCounts.computeIfAbsent(dir,
      _ => Tables.documents(s, dir).count()).longValue()

  /** Banded Hamming near-dup: candidates share one of the three bands
    * of the simhash (a hamming-≤2 pair must agree on ≥1 band by
    * pigeonhole), then exact Hamming ≤ 2 filters. The signature width
    * is corpus-adaptive (Dedup.simhashBitsFor — the 100× scale run
    * showed fixed 8-bit bands generate quadratically-growing candidate
    * pairs AND ~2M random-collision false near-dups at 500k docs): gate
    * corpora (≤ 8192 docs) stay at the legacy 24-bit/3×8 layout the
    * static oracle mirrors; larger corpora widen per log₂(n). */
  def q45SimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      Dedup.simhashBandedPairs(
        spread(s, Tables.documents(s, dir)), "doc_id", col("text"),
        bits = Dedup.simhashBitsFor(nDocs(s, dir)),
        bands = 3, maxHamming = 2, scope = scope))
  }

  /** q45's CTE chain for an arbitrary signature width (3 bands of
    * bits/3): the adaptive-width twin of the static gate oracle, used
    * by the above-floor hash gate (graft.AdaptiveGate). At bits=24 the
    * generated band arithmetic is exactly the legacy 256-bucket layout. */
  private def q45CteFor(bits: Int): String = {
    require(bits % 3 == 0, s"bits=$bits not divisible by 3 bands")
    val width = bits / 3
    val w = 1L << width
    val bandRows = (0 until 3).map { j =>
      val shift = 1L << (j * width)
      s"SELECT doc_id, simhash, $j AS band, (simhash // $shift) % $w AS bv FROM sig_t"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toks_t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |th_t AS (
       |  SELECT doc_id, list_transform(toks, t -> ${h60Sql("t")}) AS th
       |  FROM toks_t),
       |sig_t AS (SELECT doc_id, ${simhashSql(bits)} AS simhash FROM th_t),
       |bands_t AS (
       |  $bandRows)""".stripMargin
  }

  private val q45Cte: String = q45CteFor(SimBits)

  private val q45Body: String =
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM bands_t a JOIN bands_t b USING (band, bv)
      |WHERE a.doc_id < b.doc_id
      |  AND bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin

  val q45Sql: String = q45Cte + "\n" + q45Body

  /** Adaptive-width q45 oracle (AdaptiveGate). */
  def q45SqlFor(bits: Int): String = q45CteFor(bits) + "\n" + q45Body

  // ------------------------------------------ q47 near-dup clustering

  /** The dedup pipeline's deliverable: q45's near-dup pairs collapsed to
    * clusters by connected components; every document labeled with its
    * cluster's canonical (minimum) doc_id, singletons included. */
  def q47DedupClusters(s: SparkSession, dir: String): DataFrame = {
    // scoped so the CC final-round checkpoint is released (files
    // deleted) once the result is materialized, not at session cleanup
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      graft.dedup.ConnectedComponents.components(
          Tables.documents(s, dir), "doc_id",
          // q45's result is itself a checkpoint — release it with this
          // query, not at session cleanup
          scope.trackIntermediate(q45SimhashPairs(s, dir)),
          "id_a", "id_b", scope = Some(scope))
        .select(col("id").as("doc_id"), col("cluster_id")))
  }

  /** Transitive closure by recursive reachability walk over the
    * symmetric q45 pair graph; `clus` = (doc_id, min reachable doc_id).
    * Shared by the q47 and q59 oracles. */
  private def q47WalkCtesFor(bits: Int): String =
    q45CteFor(bits).replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      s"""pairs AS (
         |$q45Body),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |walk AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT w.id, e.dst AS lab FROM walk w JOIN edges e ON e.src = w.lab),
         |clus AS (
         |  SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id)""".stripMargin

  private val q47WalkCtes: String = q47WalkCtesFor(SimBits)

  val q47Sql: String =
    q47WalkCtes + "\nSELECT doc_id, cluster_id FROM clus"

  /** Adaptive-width q47 oracle (AdaptiveGate). */
  def q47SqlFor(bits: Int): String =
    q47WalkCtesFor(bits) + "\nSELECT doc_id, cluster_id FROM clus"

  // ----------------------------- q130 leakage-safe split (cluster-keyed)

  /** q130: train/val/test split keyed by NEAR-DUP CLUSTER, not by
    * document — the leakage-safe form of q34. Hashing each document's
    * own content (q34) puts two near-duplicates on opposite sides of
    * the split with probability 2·p·(1−p) per pair; at web-corpus
    * duplication rates that leaks training text into eval
    * verbatim-modulo-boilerplate. Keying the split on the
    * connected-component id instead moves WHOLE clusters: near-dup
    * pairs → CC (the q45/q47 machinery, corpus-adaptive signature
    * width) → [[graft.operators.DataSplit]] on `cluster_id` — every
    * member of a cluster lands in the same split by construction
    * (DedupSpec asserts the invariant), and singleton documents degrade
    * to a per-cluster(=per-doc) hash exactly like q34. The composition
    * adds ZERO shuffles beyond q47's own: the split label is a map-side
    * expression over the cluster relation. */
  def q130LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val scope = graft.CacheScope.scoped()
    val clusters = graft.dedup.ConnectedComponents.components(
        Tables.documents(s, dir), "doc_id",
        scope.trackIntermediate(q45SimhashPairs(s, dir)),
        "id_a", "id_b", scope = Some(scope))
      .select(col("id").as("doc_id"), col("cluster_id"))
    scope.materializeAndRelease(
      graft.operators.DataSplit.withSplit(
        clusters, col("cluster_id").cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
  }

  val q130Sql: String = q130SqlFor(SimBits)

  /** Adaptive-width q130 oracle (same CC walk as q47's). */
  def q130SqlFor(bits: Int): String = {
    val h = "('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 10000"
    q47WalkCtesFor(bits) +
      s"""
         |SELECT doc_id, cluster_id,
         |  CASE WHEN $h < 8000 THEN 'train'
         |       WHEN $h < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM clus""".stripMargin
  }

  // ------------------------------- q59 end-to-end dedup (survivor pick)

  /** The WHOLE dedup deliverable in one gate entry: near-dup pairs →
    * connected components → one survivor per cluster (keepBest: highest
    * text length, ties to the lowest doc_id) → every document labeled
    * (doc_id, cluster_id, kept). Semi/anti-joining the corpus on `kept`
    * is then the caller's one-liner. */
  def q59DedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scope = graft.CacheScope.scoped()
    // materialize: the cluster relation feeds BOTH keepBest and the
    // final labeling join — unmaterialized, the post-checkpoint
    // labeling subtree (labelsOf agg + vertex join) would run twice.
    // Tracked as a scope intermediate (along with CC's final round) so
    // its files are deleted the moment the RESULT checkpoint lands.
    val clusters = scope.trackIntermediate(graft.Checkpoints.eager(
      graft.dedup.ConnectedComponents.components(
        docs, "doc_id", scope.trackIntermediate(q45SimhashPairs(s, dir)),
        "id_a", "id_b", scope = Some(scope))))
    val keep = graft.dedup.ConnectedComponents.keepBest(
      clusters, docs, "doc_id", length(col("text")).cast("long"))
    scope.materializeAndRelease(
      clusters.select(col("id").as("doc_id"), col("cluster_id"))
        .join(keep, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("keep_id")).as("kept")))
  }

  /** Oracle: the q47 walk plus a windowed arg-max (priority DESC,
    * doc_id ASC) per cluster. */
  val q59Sql: String = q59SqlFor(SimBits)

  /** Adaptive-width q59 oracle (AdaptiveGate). */
  def q59SqlFor(bits: Int): String =
    q47WalkCtesFor(bits) + ",\n" +
      """prio AS (
        |  SELECT c.doc_id, c.cluster_id, length(d.text) AS p
        |  FROM clus c JOIN documents d USING (doc_id)),
        |keep AS (
        |  SELECT cluster_id, doc_id AS keep_id,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY p DESC, doc_id ASC) AS rn
        |  FROM prio)
        |SELECT c.doc_id, c.cluster_id, (c.doc_id = k.keep_id) AS kept
        |FROM clus c
        |JOIN (SELECT cluster_id, keep_id FROM keep WHERE rn = 1) k
        |  USING (cluster_id)""".stripMargin

  // ----------------------------------- q46 corpus sketch (Aggregator)

  /** Group-level minhash union via the typed MinHashAggregator (partial
    * element-wise mins map-side; k longs per group over the wire): one
    * corpus signature per document source. The signature is emitted as a
    * comma-joined STRING — the driver's comparator sorts rows in pandas,
    * where an array cell is unhashable and aborts the check. */
  def q46CorpusSketch(s: SparkSession, dir: String): DataFrame = {
    val sketch = udaf(new MinHashAggregator(K),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val docs = spread(s, Tables.documents(s, dir))
      .filter(size(graft.text.TextAnalysis.tokens(col("text"))) >= ShingleN)
    Dedup.withMinhashSignature(docs, col("text"), K, ShingleN, "sig")
      .groupBy(col("source"))
      .agg(sketch(col("sig")).as("sig_arr"), count(lit(1)).as("n_docs"))
      .select(col("source"),
        array_join(col("sig_arr"), ",").as("corpus_sig"), col("n_docs"))
  }

  val q46Sql: String =
    shingleCte.dropRight(1).replace(
        "SELECT doc_id, text,", "SELECT doc_id, source, text,")
      .replace("SELECT doc_id, toks,", "SELECT doc_id, source, toks,") +
      ",\n" + minhashCte("source, ") +
      """,
         |grp AS (
         |  SELECT source, perm, min(mh) AS mh FROM mh_t GROUP BY source, perm),
         |docs_per_source AS (
         |  SELECT source, count(DISTINCT doc_id) AS n_docs FROM mh_t GROUP BY source)
         |SELECT g.source,
         |  array_to_string(list(g.mh ORDER BY g.perm), ',') AS corpus_sig, d.n_docs
         |FROM grp g JOIN docs_per_source d USING (source)
         |GROUP BY g.source, d.n_docs""".stripMargin


  // --------------------------------------- q49 incremental dedup vs store

  /** Incremental dedup gate: even doc_ids form the signature store, odd
    * doc_ids are the "new day" probed against it (IncrementalDedup) —
    * exact dups by fingerprint, near-dup candidates by shared LSH band,
    * uniques otherwise. */
  def q49IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = spread(s, Tables.documents(s, dir))
    val scope = graft.CacheScope.scoped()
    // cache the store: both probes (fingerprint + bands) consume it; in
    // production it's a parquet read, here it's a computed relation
    val store = scope.cache(graft.dedup.IncrementalDedup.signatureStore(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", col("text"), K, ShingleN))
    scope.materializeAndRelease(
      graft.dedup.IncrementalDedup.dedupAgainstStore(
        docs.filter(col("doc_id") % 2 === 1), store, "doc_id", col("text"),
        K, RowsPerBand, ShingleN, scope))
  }

  val q49Sql: String =
    shingleCte.dropRight(1) + "," +
      s"""
         |fp_t AS (SELECT doc_id, ${h60Sql("text")} AS fp FROM documents),
         |${minhashCte()},
         |$bandCtes,
         |exact_t AS (
         |  SELECT n.doc_id, min(st.doc_id) AS exact_id
         |  FROM fp_t n JOIN fp_t st ON n.fp = st.fp
         |  WHERE n.doc_id % 2 = 1 AND st.doc_id % 2 = 0
         |  GROUP BY n.doc_id),
         |near_t AS (
         |  SELECT n.doc_id, min(st.doc_id) AS near_id
         |  FROM bands_t n JOIN bands_t st USING (band, bh)
         |  WHERE n.doc_id % 2 = 1 AND st.doc_id % 2 = 0
         |  GROUP BY n.doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
         |       WHEN nr.near_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'unique' END AS status,
         |  coalesce(e.exact_id, nr.near_id) AS match_id
         |FROM documents d
         |LEFT JOIN exact_t e ON d.doc_id = e.doc_id
         |LEFT JOIN near_t nr ON d.doc_id = nr.doc_id
         |WHERE d.doc_id % 2 = 1""".stripMargin


  // ------------------------------------------------- q39 decontamination

  /** Benchmark decontamination: corpus docs (doc_id % 41 != 0) sharing
    * any word 3-gram with the held-out "benchmark" slice
    * (doc_id % 41 == 0), with the count of distinct shared grams. */
  def q39Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.dedup.Decontaminate.overlap(
      spread(s, docs.filter(pmod(col("doc_id"), lit(41)) =!= 0)),
      "doc_id", col("text"),
      docs.filter(pmod(col("doc_id"), lit(41)) === 0), col("text"), ShingleN)
  }

  val q39Sql: String = shingleCte.dropRight(1) + "," +
    s"""
       |g_t AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(sh, s -> ${h60Sql("s")}))) AS g
       |  FROM sh_t WHERE len(sh) > 0),
       |bench AS (SELECT DISTINCT g FROM g_t WHERE doc_id % 41 = 0)
       |SELECT doc_id, count(*) AS hits
       |FROM g_t JOIN bench USING (g)
       |WHERE doc_id % 41 <> 0
       |GROUP BY doc_id""".stripMargin

  /** The winnow oracle's `pos (doc_id, p, h, len)` (k-gram rolling
    * hash per position) and `sel (doc_id, s, mk)` (the one-window
    * selection rule over the combined key h·2²¹ + (2²⁰ − p)), shared
    * by q107/q108 and the span-removal oracles. */
  private val winnowCtes: String = {
    import graft.functions.WinnowFingerprints.{B, M}
    val K = graft.text.SpanDedup.K
    val W = graft.text.SpanDedup.W
    // B^(K−1−i) mod M, i = 0..K−1 — same table the rolling hash folds in
    val pows = Array.iterate(1L, K)(p => p * B % M).reverse.mkString(", ")
    s"""pos AS (
       |  SELECT doc_id, p,
       |    list_sum(list_transform(range(0, $K), i ->
       |      (ord(text[p + 1 + i])::BIGINT * ([$pows])[i + 1]) % $M)) % $M AS h,
       |    length(text) AS len
       |  FROM documents, LATERAL (SELECT unnest(range(0, length(text) - $K + 1)) AS p)),
       |sel AS (
       |  SELECT doc_id, p AS s,
       |    min(h * 2097152 + (1048576 - p)) OVER (
       |      PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS mk
       |  FROM pos QUALIFY s <= len - $K - $W + 1)""".stripMargin
  }

  /** Winnowing span dedup (text.SpanDedup / functions.WinnowFingerprints):
    * pairs of documents sharing ≥ 2 winnow-selected fingerprint hashes
    * (k = 16, w = 8 → any common run of ≥ 23 code points is guaranteed
    * detected), with corpus-boilerplate hashes (df > 64) dropped before
    * the pair join. The oracle restates the selection as the identical
    * one-window-function rule over the combined key h·2²¹ + (2²⁰ − p). */
  def q107SpanDedup(s: SparkSession, dir: String): DataFrame = {
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      graft.text.SpanDedup.sharedSpanPairs(
        graft.Tables.spread(s, Tables.documents(s, dir)), "doc_id", col("text"),
        scope = scope))
  }

  val q107Sql: String =
    s"""WITH $winnowCtes,
       |fph AS (SELECT DISTINCT doc_id, mk // 2097152 AS h FROM sel),
       |keep AS (SELECT h FROM fph GROUP BY h HAVING count(*) <= 64),
       |c AS (SELECT doc_id, h FROM fph JOIN keep USING (h)),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
       |  FROM c a JOIN c b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_common FROM pairs WHERE n_common >= 2""".stripMargin


  /** Per-document span-duplication score (text.SpanDedup.spanDupStats):
    * the linear, cap-free filterable form — df per fingerprint hash is
    * one aggregation, then a per-doc rollup; integer basis points. */
  def q108SpanStats(s: SparkSession, dir: String): DataFrame = {
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      graft.text.SpanDedup.spanDupStats(
        graft.Tables.spread(s, Tables.documents(s, dir)), "doc_id", col("text"),
        scope = scope))
  }

  val q108Sql: String =
    s"""WITH $winnowCtes,
       |fph AS (SELECT DISTINCT doc_id, mk // 2097152 AS h FROM sel),
       |dft AS (SELECT h, count(*) AS df FROM fph GROUP BY h)
       |SELECT doc_id, count(*) AS n_fp,
       |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
       |  (sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT * 10000) // count(*) AS dup_bp
       |FROM fph JOIN dft USING (h)
       |GROUP BY doc_id""".stripMargin


  /** Span REMOVAL (text.SpanDedup.removeSharedSpans): the cleaned
    * document itself — shared fingerprint spans excised everywhere but
    * the lowest-id holder, overlapping/adjacent k-gram intervals
    * merged, remainder reassembled — plus provenance counts. The
    * oracle rebuilds the cleaned text per-character (string_agg of
    * uncovered positions), a different construction of the same
    * string, so the hash compare proves the fold logic. */
  def q121SpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      graft.text.SpanDedup.removeSharedSpans(
        graft.Tables.spread(s, Tables.documents(s, dir)), "doc_id", col("text"),
        scope = scope))
  }

  /** Shared oracle scaffold for the two span-removal deliverables:
    * the winnow position/selection/fingerprint CTE prefix, then a
    * caller-supplied removal-trigger section defining `rm (doc_id, s,
    * e)`, then the island merge / provenance / per-character
    * reassembly — ONE place, mirroring SpanDedup.mergeIntervals +
    * assembleClean exactly. `docPredicate` scopes which documents are
    * cleaned/emitted (q122 restricts to the non-benchmark slice). */
  private def spanRemovalSql(rmCtes: String, docPredicate: Option[String]): String =
    spanExcisionSql(
      s"""$winnowCtes,
       |fpos AS (
       |  SELECT DISTINCT doc_id, mk // 2097152 AS h,
       |    1048576 - (mk % 2097152) AS p
       |  FROM sel)""".stripMargin,
      rmCtes, docPredicate)


  /** The removal-trigger-agnostic half of the span-excision oracle:
    * caller-supplied prefix CTEs (how spans are found) + a CTE section
    * defining `rm (doc_id, s, e)`, then the island merge / provenance /
    * per-character reassembly shared by q121/q122/q134 — ONE tail,
    * mirroring SpanDedup.mergeIntervals + assembleClean exactly. */
  private def spanExcisionSql(prefixCtes: String, rmCtes: String,
                              docPredicate: Option[String]): String = {
    val charsWhere = docPredicate.map(p => s"\n       |  WHERE $p").getOrElse("")
    val finalWhere = docPredicate.map(p => s"\n       |WHERE d.$p").getOrElse("")
    s"""WITH $prefixCtes,
       |$rmCtes,
       |mi AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
       |  FROM rm),
       |isl AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN maxe IS NULL OR s > maxe + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e) AS g
       |  FROM mi),
       |sp AS (SELECT doc_id, g, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2),
       |prov AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_spans,
       |    sum(e - s + 1)::BIGINT AS chars_removed
       |  FROM sp GROUP BY doc_id),
       |chars AS (
       |  SELECT doc_id, i, text[i + 1] AS ch
       |  FROM documents, LATERAL (SELECT unnest(range(0, length(text))) AS i)$charsWhere),
       |cov AS (
       |  SELECT DISTINCT c.doc_id, c.i
       |  FROM chars c JOIN sp ON sp.doc_id = c.doc_id AND c.i BETWEEN sp.s AND sp.e),
       |clean AS (
       |  SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.i) AS t
       |  FROM chars c LEFT JOIN cov ON c.doc_id = cov.doc_id AND c.i = cov.i
       |  WHERE cov.i IS NULL GROUP BY c.doc_id)
       |SELECT d.doc_id, coalesce(cl.t, '') AS clean_text,
       |  coalesce(pr.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(pr.chars_removed, 0)::BIGINT AS chars_removed
       |FROM documents d
       |LEFT JOIN clean cl USING (doc_id)
       |LEFT JOIN prov pr USING (doc_id)$finalWhere""".stripMargin
  }

  val q121Sql: String = {
    val K = graft.text.SpanDedup.K
    spanRemovalSql(
      s"""own AS (
         |  SELECT h, min(doc_id) AS keeper, count(DISTINCT doc_id) AS df
         |  FROM fpos GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |rm AS (
         |  SELECT DISTINCT f.doc_id, f.p AS s, f.p + ${K - 1} AS e
         |  FROM fpos f JOIN own o USING (h) WHERE f.doc_id <> o.keeper)""".stripMargin,
      docPredicate = None)
  }

  /** Span-level decontamination (text.SpanDedup.removeSpansMatching):
    * q39 flags whole documents overlapping the held-out benchmark slice
    * (doc_id % 41 == 0); this entry EXCISES just the overlapping spans
    * and keeps the rest — the curation deliverable that does not throw
    * a 50 KB doc away over one quoted benchmark sentence. Same
    * per-character oracle reconstruction as q121. */
  def q122DecontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      graft.text.SpanDedup.removeSpansMatching(
        graft.Tables.spread(s, docs.filter(pmod(col("doc_id"), lit(41)) =!= 0)),
        "doc_id", col("text"),
        docs.filter(pmod(col("doc_id"), lit(41)) === 0), col("text"),
        scope = scope))
  }

  val q122Sql: String = {
    val K = graft.text.SpanDedup.K
    spanRemovalSql(
      s"""ref AS (SELECT DISTINCT h FROM fpos WHERE doc_id % 41 = 0),
         |rm AS (
         |  SELECT DISTINCT f.doc_id, f.p AS s, f.p + ${K - 1} AS e
         |  FROM fpos f JOIN ref USING (h) WHERE f.doc_id % 41 <> 0)""".stripMargin,
      docPredicate = Some("doc_id % 41 <> 0"))
  }

  /** EXACT substring dedup (text.ExactSpanDedup — Lee et al. ACL 2022):
    * every cross-document VERBATIM ≥ 5-token span excised outside its
    * lowest-id holder, adjacent/overlapping spans merged, remainder
    * reassembled. Same deliverable contract as q121; the detection is
    * exact token n-grams (hash-df prefilter → verbatim string verify)
    * instead of winnow sampling. The oracle finds the same spans with
    * no hashes at all — per-character token boundaries, gram cut by
    * substr, grouped by the gram STRING — a fully independent
    * construction of the same removal set, then the shared
    * island/reassembly tail. */
  def q134ExactSubstring(s: SparkSession, dir: String): DataFrame = {
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      graft.text.ExactSpanDedup.removeSharedSpans(
        graft.Tables.spread(s, Tables.documents(s, dir)), "doc_id", col("text"),
        scope = scope))
  }

  val q134Sql: String = {
    spanExcisionSql(
      tokenGramCtes(graft.text.ExactSpanDedup.N),
      s"""own AS (
         |  SELECT gram, min(doc_id) AS keeper
         |  FROM (SELECT DISTINCT doc_id, gram FROM gr)
         |  GROUP BY gram HAVING count(*) >= 2),
         |rm AS (
         |  SELECT DISTINCT g.doc_id, g.s, g.e
         |  FROM gr g JOIN own o USING (gram) WHERE g.doc_id <> o.keeper)""".stripMargin,
      docPredicate = None)
  }

  /** The token-gram discovery prefix shared by q134 and q137 (per-char
    * token boundaries → k-th start/end pairing → n-gram intervals with
    * their verbatim substrings). */
  private def tokenGramCtes(n: Int): String =
    s"""tchars AS (
       |  SELECT doc_id, i, text[i + 1] AS ch
       |  FROM documents, LATERAL (SELECT unnest(range(0, length(text))) AS i)),
       |tkst AS (
       |  SELECT doc_id, i, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k
       |  FROM (SELECT doc_id, i, ch,
       |          lag(ch) OVER (PARTITION BY doc_id ORDER BY i) AS pv
       |        FROM tchars)
       |  WHERE ch <> ' ' AND (pv IS NULL OR pv = ' ')),
       |tken AS (
       |  SELECT doc_id, i, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k
       |  FROM (SELECT doc_id, i, ch,
       |          lead(ch) OVER (PARTITION BY doc_id ORDER BY i) AS nx
       |        FROM tchars)
       |  WHERE ch <> ' ' AND (nx IS NULL OR nx = ' ')),
       |tok AS (
       |  SELECT st.doc_id, st.k, st.i AS ts, en.i AS te
       |  FROM tkst st JOIN tken en USING (doc_id, k)),
       |gr AS (
       |  SELECT a.doc_id, a.ts AS s, b.te AS e,
       |    substr(d.text, a.ts + 1, b.te - a.ts + 1) AS gram
       |  FROM tok a
       |  JOIN tok b ON a.doc_id = b.doc_id AND b.k = a.k + ${n - 1}
       |  JOIN documents d ON d.doc_id = a.doc_id)""".stripMargin

  /** EXACT span-level decontamination (text.ExactSpanDedup
    * .removeSpansMatching): every ≥ 5-token span of a corpus document
    * (doc_id % 41 ≠ 0) that appears VERBATIM in the held-out benchmark
    * slice (doc_id % 41 = 0) is excised, remainder reassembled — the
    * exact twin of q122 (winnow sampling) and the Lee-et-al
    * decontamination modality: zero false negatives at ≥ n tokens. */
  def q137ExactDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scope = graft.CacheScope.scoped()
    scope.materializeAndRelease(
      graft.text.ExactSpanDedup.removeSpansMatching(
        graft.Tables.spread(s, docs.filter(pmod(col("doc_id"), lit(41)) =!= 0)),
        "doc_id", col("text"),
        docs.filter(pmod(col("doc_id"), lit(41)) === 0), col("text"),
        scope = scope))
  }

  val q137Sql: String = spanExcisionSql(
    tokenGramCtes(graft.text.ExactSpanDedup.N),
    """ref AS (SELECT DISTINCT gram FROM gr WHERE doc_id % 41 = 0),
      |rm AS (
      |  SELECT DISTINCT g.doc_id, g.s, g.e
      |  FROM gr g JOIN ref USING (gram) WHERE g.doc_id % 41 <> 0)""".stripMargin,
    docPredicate = Some("doc_id % 41 <> 0"))

  val queries: Map[String, Q] = Map(
    "q137_exact_decontaminate" -> q137ExactDecontaminate,
    "q134_exact_substring" -> q134ExactSubstring,
    "q122_decontaminate_spans" -> q122DecontaminateSpans,
    "q121_span_removal"   -> q121SpanRemoval,
    "q39_decontaminate"   -> q39Decontaminate,
    "q40_dedup_exact"     -> q40DedupExact,
    "q41_minhash_sig"     -> q41MinhashSig,
    "q42_lsh_candidates"  -> q42LshCandidates,
    "q43_jaccard_join"    -> q43Jaccard,
    "q44_simhash"         -> q44Simhash,
    "q45_simhash_pairs"   -> q45SimhashPairs,
    "q46_corpus_sketch"   -> q46CorpusSketch,
    "q47_dedup_clusters"  -> q47DedupClusters,
    "q130_leakage_safe_split" -> q130LeakageSafeSplit,
    "q49_incremental_dedup" -> q49IncrementalDedup,
    "q59_dedup_survivors" -> q59DedupSurvivors,
    "q107_span_dedup"     -> q107SpanDedup,
    "q108_span_stats"     -> q108SpanStats,
  )

  val oracles: Map[String, String] = Map(
    "q137_exact_decontaminate" -> q137Sql,
    "q134_exact_substring" -> q134Sql,
    "q122_decontaminate_spans" -> q122Sql,
    "q121_span_removal"   -> q121Sql,
    "q39_decontaminate"   -> q39Sql,
    "q40_dedup_exact"     -> q40Sql,
    "q41_minhash_sig"     -> q41Sql,
    "q42_lsh_candidates"  -> q42Sql,
    "q43_jaccard_join"    -> q43Sql,
    "q44_simhash"         -> q44Sql,
    "q45_simhash_pairs"   -> q45Sql,
    "q46_corpus_sketch"   -> q46Sql,
    "q47_dedup_clusters"  -> q47Sql,
    "q130_leakage_safe_split" -> q130Sql,
    "q49_incremental_dedup" -> q49Sql,
    "q59_dedup_survivors" -> q59Sql,
    "q107_span_dedup"     -> q107Sql,
    "q108_span_stats"     -> q108Sql,
  )
}
