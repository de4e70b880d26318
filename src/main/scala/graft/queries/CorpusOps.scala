package graft.queries

import graft.functions.Fx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable
import graft.operators.QuotaCap
import graft.text.{Blocklist, Chunking, Fluency, Fuzzy, Postings}

/** Corpus-preparation operators over `documents`: sliding-window token
  * chunking (retrieval preprocessing), blocklist screening, per-source
  * quota caps, and inverted-index construction. Each pairs a library
  * operator (text/, operators/) with its DuckDB oracle.
  */
object CorpusOps {

  type Q = (SparkSession, String) => DataFrame

  /** The oracles' IDN vocabulary: the one internationalized host label
    * of the messy-URL fixture ([[messyUrlMkCte]]). DuckDB has no
    * punycode, so [[graft.text.UrlCanonical.duckCanonCtes]] replays it
    * as a replace() on the lowered host. */
  private[queries] val DuckIdn = Seq("bücher" -> "xn--bcher-kva")

  /** Shared tokenization CTE — the Portable.tokens mirror. */
  private val toksCte =
    """WITH t AS (
      |  SELECT doc_id, source, n_chars,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents)
      |""".stripMargin

  // ------------------------------------------------ q82 sliding chunks

  private val ChunkSize = 32
  private val Stride = 24

  def q82Chunks(s: SparkSession, dir: String): DataFrame =
    Chunking.slidingChunks(Tables.documents(s, dir), "doc_id", col("text"),
      ChunkSize, Stride)

  val q82Sql: String = toksCte +
    s""", n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
       |s AS (
       |  SELECT doc_id, toks, unnest(generate_series(
       |    0, ((greatest(n - $ChunkSize, 0) + ${Stride - 1}) // $Stride) * $Stride,
       |    $Stride)) AS start
       |  FROM n)
       |SELECT doc_id, start // $Stride AS chunk_idx, start AS token_start,
       |  len(list_slice(toks, start + 1, start + $ChunkSize)) AS n_tokens,
       |  array_to_string(list_slice(toks, start + 1, start + $ChunkSize), ' ') AS chunk_text
       |FROM s""".stripMargin

  // ------------------------------------------------ q83 blocklist screen

  private val Blocked = Seq("spark", "vector", "hash", "stream")
  private def blockedSqlList = Blocked.map(t => s"'$t'").mkString(", ")

  /** hits emitted as a comma-joined STRING, not an array — the driver's
    * oracle harness sorts pandas cells and numpy arrays are unhashable
    * (the r3/r4 q55 failure mode); the array shape stays available as
    * Blocklist.annotate. */
  def q83Blocklist(s: SparkSession, dir: String): DataFrame =
    Blocklist.annotate(Tables.documents(s, dir), col("text"), Blocked)
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), concat_ws(",", col("hits")).as("hits_csv"), col("n_hits"))

  val q83Sql: String = toksCte +
    s"""SELECT doc_id,
       |  array_to_string(list_sort(list_distinct(list_filter(toks, x -> x IN ($blockedSqlList)))), ',') AS hits_csv,
       |  len(list_distinct(list_filter(toks, x -> x IN ($blockedSqlList)))) AS n_hits
       |FROM t
       |WHERE len(list_filter(toks, x -> x IN ($blockedSqlList))) > 0""".stripMargin

  // ------------------------------------------------ q84 per-source cap

  private val SourceCap = 10

  /** Keep the 10 longest docs per source (doc_id tiebreak) — the domain
    * cap. The rank-filter shape triggers WindowGroupLimit: map-side
    * top-10-per-source before the shuffle (asserted in PlanAuditSpec). */
  def q84SourceCap(s: SparkSession, dir: String): DataFrame =
    QuotaCap.capPerGroup(Tables.documents(s, dir), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id").asc), SourceCap)
      .select(col("doc_id"), col("source"), col("n_chars"))

  val q84Sql: String =
    s"""SELECT doc_id, source, n_chars FROM documents
       |QUALIFY row_number() OVER (
       |  PARTITION BY source ORDER BY n_chars DESC, doc_id) <= $SourceCap""".stripMargin

  // ------------------------------------------------ q85 inverted index

  private val PostingsCap = 20

  /** postings as a comma-joined STRING for the same unhashable-array
    * reason as q83; Postings.invertedIndex keeps the array shape. */
  def q85Postings(s: SparkSession, dir: String): DataFrame =
    Postings.invertedIndex(Tables.documents(s, dir), "doc_id", col("text"),
        PostingsCap)
      .select(col("term"), col("df"),
        concat_ws(",", transform(col("postings"), _.cast("string")))
          .as("postings_csv"))

  val q85Sql: String = toksCte +
    s""", x AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |d AS (SELECT DISTINCT doc_id, term FROM x)
       |SELECT term, count(*) AS df,
       |  array_to_string(list_slice(list_sort(list(doc_id)), 1, $PostingsCap), ',') AS postings_csv
       |FROM d GROUP BY term""".stripMargin

  // ------------------------------------------------ q87 fuzzy term pairs

  /** Vocabulary pairs within edit distance 2 (text.Fuzzy — FastSS
    * deletion-neighborhood equi-join + exact levenshtein verify; the
    * ORACLE is the brute cross join the operator exists to avoid). */
  def q87FuzzyTerms(s: SparkSession, dir: String): DataFrame =
    Fuzzy.fuzzyPairs(
      Tables.documents(s, dir)
        .select(explode(Portable.tokens(col("text"))).as("term")),
      col("term"), maxDist = 2)

  val q87Sql: String = toksCte +
    """, tm AS (SELECT DISTINCT unnest(toks) AS term FROM t)
      |SELECT a.term AS term_a, b.term AS term_b,
      |  CAST(levenshtein(a.term, b.term) AS BIGINT) AS dist
      |FROM tm a JOIN tm b ON a.term < b.term
      |WHERE levenshtein(a.term, b.term) <= 2""".stripMargin

  // ------------------------------------------------ q98 fluency score

  /** Mean corpus bigram frequency per document (text.Fluency — the
    * statistical-LM quality-filter shape; integer-exact scores). */
  def q98Fluency(s: SparkSession, dir: String): DataFrame =
    // spread: the bigram explode is ~10² the scan bytes, single-task
    // off the one-row-group parquet otherwise (r19 optimization)
    Fluency.scoreByCorpusFrequency(
      Tables.spread(s, Tables.documents(s, dir)), "doc_id", col("text"))

  val q98Sql: String = toksCte +
    """, s AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]), 1, 15))::BIGINT)) AS bg
      |  FROM t WHERE len(toks) >= 2),
      |f AS (SELECT bg, count(*) AS df FROM s GROUP BY bg)
      |SELECT s.doc_id, count(*) AS n_bigrams,
      |  (10000 * CAST(sum(f.df) AS BIGINT)) // count(*) AS fluency_bp
      |FROM s JOIN f USING (bg) GROUP BY s.doc_id""".stripMargin

  /** q120: PMI collocations — see [[graft.text.Collocations]]. Pair
    * df-cap 5 bounds output to pairs with stable signal; the identical
    * (c_xy·N)/(c_x·c_y) expression shape on both sides makes Fx.fx(4)
    * exact across engines. */
  def q120Pmi(s: SparkSession, dir: String): DataFrame =
    graft.text.Collocations.pmi(
      // spread: token/bigram explode off a one-row-group scan (see q98)
      Tables.spread(s, Tables.documents(s, dir)), col("text"),
      minPairCount = 5L)

  val q120Sql: String =
    s"""WITH toks_t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |uc AS (
      |  SELECT tok, count(*) AS c_tok
      |  FROM (SELECT unnest(toks) AS tok FROM toks_t) GROUP BY tok),
      |n AS (SELECT sum(c_tok) AS n_tokens FROM uc),
      |bg_t AS (
      |  SELECT CASE WHEN len(toks) < 2 THEN []
      |    ELSE list_transform(range(1, len(toks)),
      |           i -> array_to_string(toks[i:i+1], ' ')) END AS bgs
      |  FROM toks_t),
      |pc AS (
      |  SELECT bg, count(*) AS c_pair
      |  FROM (SELECT unnest(bgs) AS bg FROM bg_t) GROUP BY bg
      |  HAVING count(*) >= 5),
      |p2 AS (
      |  SELECT split_part(bg, ' ', 1) AS l_tok, split_part(bg, ' ', 2) AS r_tok,
      |    c_pair FROM pc)
      |SELECT l_tok, r_tok, c_pair, lc.c_tok AS c_l, rc.c_tok AS c_r,
      |  ${Fx.fxSql("log2((c_pair::DOUBLE * n_tokens::DOUBLE) / (lc.c_tok::DOUBLE * rc.c_tok::DOUBLE))", 4)} AS pmi
      |FROM p2
      |JOIN uc lc ON p2.l_tok = lc.tok
      |JOIN uc rc ON p2.r_tok = rc.tok, n""".stripMargin

  // --------------------------------------------------- q136 WARC source

  private val warcZones =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** WARC ingestion (sources.Warc): a zone synthesized ONCE per source
    * dir from the documents table — one response record per doc, with
    * the two corruption modes injected by residue (doc_id % 97
    * Content-Length overstating by one byte, % 89 missing
    * Content-Length) plus the % 101 magic-QUOTING valid mode (the
    * payload contains the record magic — the real-crawl shape that
    * defeats a naive split-parse) — then read back through the
    * Content-Length-aware exact scan. Valid records surface, INCLUDING
    * the reassembled magic-quoting ones; the oracle states the expected
    * survivors and payloads directly from `documents`, so a reader that
    * admitted a corrupt record, dropped a good one, or lost a quoting
    * record to fragmentation hash-mismatches. Like q103's bucketed
    * layout, the first call per dir pays the zone write
    * (SparkEntry.artifactEntries). */
  /** The per-dir synthesized WARC zone (shared with q138's streaming
    * twin — both must read the SAME bytes for their common oracle). */
  private[queries] def warcZoneFor(s: SparkSession, dir: String): String =
    warcZones.computeIfAbsent(dir, { d =>
      val base = graft.TempArtifacts.dir("graft_warc")
      graft.sources.Warc.synthesize(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")), base)
      base
    })

  def q136WarcRead(s: SparkSession, dir: String): DataFrame = {
    val zone = warcZoneFor(s, dir)
    graft.sources.Warc.readExactClean(s, zone)
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("url"), col("content_length"), col("payload"))
  }

  val q136Sql: String = {
    import graft.sources.Warc.{TruncMod, NoLenMod, MagicQuoteMod, UriPrefix}
    // the %101 quote prefix, spelled in DuckDB ("see: WARC/1.0\r\n")
    val prefix = s"'see: WARC/1.0' || chr(13) || chr(10)"
    s"""SELECT doc_id,
       |  '$UriPrefix' || doc_id AS url,
       |  strlen(CASE WHEN doc_id % $MagicQuoteMod = 0
       |              THEN $prefix || text ELSE text END)::BIGINT AS content_length,
       |  CASE WHEN doc_id % $MagicQuoteMod = 0
       |       THEN $prefix || text ELSE text END AS payload
       |FROM documents
       |WHERE doc_id % $TruncMod <> 0 AND doc_id % $NoLenMod <> 0""".stripMargin
  }

  // ------------------------- q163 WARC revisit-record resolution (r17)

  private val revisitZones =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** How often the revisit zone emits a `revisit` record: every 7th
    * doc gets a second capture that DEDUPLICATED against the capture
    * 7 ids earlier (ISO 28500 §6.7 / the Common Crawl dedup layout:
    * `WARC-Type: revisit` + `WARC-Refers-To-Target-URI`). */
  private val RevisitMod = 7

  /** A WARC zone where every doc has its response record AND every
    * RevisitMod-th doc additionally a `revisit` record referring to
    * doc_id − RevisitMod — both subject to the zone's usual corruption
    * residues, so corrupt revisits drop like corrupt responses. */
  private[queries] def revisitZoneFor(s: SparkSession, dir: String): String =
    revisitZones.computeIfAbsent(dir, { d =>
      import graft.sources.Warc.UriPrefix
      val base = graft.TempArtifacts.dir("graft_warc_revisit")
      val responses = Tables.documents(s, d).select(
        col("doc_id"), col("text"),
        concat(lit(UriPrefix), col("doc_id").cast("string")).as("url"),
        lit("response").as("warc_type"), lit("").as("extra_headers"))
      val revisits = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(RevisitMod)) === 0)
        .select(col("doc_id"), lit("").as("text"),
          concat(lit(UriPrefix), col("doc_id").cast("string")).as("url"),
          lit("revisit").as("warc_type"),
          concat(lit(s"WARC-Refers-To-Target-URI: $UriPrefix"),
            (col("doc_id") - RevisitMod).cast("string"),
            lit("\r\n")).as("extra_headers"))
      graft.sources.Warc.synthesize(s,
        responses.unionByName(revisits), base)
      base
    })

  /** q163: WARC record-TYPE routing with revisit resolution
    * (VERDICT r16 next #5) — `revisit` records route out of the
    * content path and resolve against the capture they reference: one
    * row per surviving revisit with its referenced URI and whether a
    * VALID response record carries it (doc 0's earlier capture is the
    * %97-corrupt record — unresolved; negative references don't
    * exist — unresolved). One hash join response-urls ⋈ revisits, both
    * sides doc-cardinality: the URL-dedup posture at scale. The oracle
    * states survivors and reference targets directly from
    * `documents`. */
  def q163RevisitResolve(s: SparkSession, dir: String): DataFrame = {
    val zone = revisitZoneFor(s, dir)
    val recs = graft.sources.Warc.readRouting(s, zone)
      .filter(col("is_valid"))
    val targets = recs.filter(col("warc_type") === "response")
      .select(col("url").as("__t")).distinct()
    recs.filter(col("warc_type") === "revisit")
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("refers_to"))
      .join(targets, col("refers_to") === col("__t"), "left")
      .select(col("doc_id"), col("refers_to"),
        col("__t").isNotNull.as("resolved"))
  }

  val q163Sql: String = {
    import graft.sources.Warc.{TruncMod, NoLenMod, MagicQuoteMod, UriPrefix}
    s"""WITH rs AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % $TruncMod <> 0 AND doc_id % $NoLenMod <> 0
       |    AND doc_id % $MagicQuoteMod <> 0),
       |rv AS (SELECT doc_id FROM rs WHERE doc_id % $RevisitMod = 0)
       |SELECT r.doc_id,
       |  '$UriPrefix' || (r.doc_id - $RevisitMod) AS refers_to,
       |  (t.doc_id IS NOT NULL) AS resolved
       |FROM rv r LEFT JOIN rs t ON t.doc_id = r.doc_id - $RevisitMod""".stripMargin
  }

  // ---------------------- q166 WET conversion-record round trip (r17)

  private val wetZones =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DERIVED zone: q143's clean documents written back as
    * `conversion` records (the WET posture — ISO 28500 §6.8: a
    * conversion record holds an alternate rendition of an earlier
    * capture, which is exactly what extracted text is). The write goes
    * through the same synthesize seam as every landing zone, so the
    * corruption residues apply AGAIN on the derived layer — the %97/%89
    * ids were already dropped upstream (no clean text to write), and
    * the %101 magic-quoting ids survive the exact read with the quote
    * prefix on their DERIVED payload too. */
  private[queries] def wetZoneFor(s: SparkSession, dir: String): String =
    wetZones.computeIfAbsent(dir, { d =>
      import graft.sources.Warc.UriPrefix
      val base = graft.TempArtifacts.dir("graft_wet")
      val clean = q143CurationE2e(s, d).select(
        col("doc_id"), col("clean_text").as("text"),
        concat(lit(UriPrefix), col("doc_id").cast("string")).as("url"),
        lit("conversion").as("warc_type"))
      graft.sources.Warc.synthesize(s, clean, base)
      base
    })

  /** q166: the derived-zone ROUND TRIP — WARC html zone → block
    * extraction → boilerplate drop → clean text (q143) → WET-style
    * `conversion` zone write → Content-Length-exact re-read. The gate
    * hashes what comes BACK OFF DISK, so a write-path bug (record
    * framing, length accounting, type routing) or a read-back
    * divergence hash-mismatches against the oracle's replay of the
    * clean-text chain plus the derived zone's own survivor/quoting
    * algebra. The sink side of the curation story — a real pipeline
    * SHIPS this zone. */
  def q166WetRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val zone = wetZoneFor(s, dir)
    graft.sources.Warc.readExactClean(s, zone)
      .filter(col("warc_type") === "conversion")
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("payload").as("clean_text"),
        col("content_length").as("n_bytes"))
  }

  lazy val q166Sql: String = {
    import graft.sources.Warc.{TruncMod, NoLenMod, MagicQuoteMod}
    val prefix = s"'see: WARC/1.0' || chr(13) || chr(10)"
    s"""WITH $htmlInCtes,
       |${graft.text.HtmlExtract.duckBlockCtes("hin", "doc_id")},
       |agg AS (
       |  SELECT doc_id,
       |    string_agg(block_text, ' ' ORDER BY block_idx) AS clean_text
       |  FROM hb WHERE NOT is_boilerplate GROUP BY doc_id),
       |wet AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $MagicQuoteMod = 0
       |         THEN $prefix || clean_text ELSE clean_text END AS clean_text
       |  FROM agg
       |  WHERE doc_id % $TruncMod <> 0 AND doc_id % $NoLenMod <> 0)
       |SELECT doc_id, clean_text,
       |  strlen(clean_text)::BIGINT AS n_bytes
       |FROM wet""".stripMargin
  }

  // ------------------------------------- q149 NFKC text normalization

  /** The fixture's unicode vocabulary: compatibility characters a web
    * corpus actually carries (ligature, fraction, full-width letter,
    * squared unit, superscript, no-break space). Docs get one of two
    * prefix spellings by residue — raw compatibility glyphs vs their
    * NFKC forms — which must normalize to ONE string. */
  private[graft] val NfkcVocab = "ﬁ½Ａ㎞²\u00a0"

  private def nfkcPrefix(raw: Boolean): String =
    if (raw) s"$NfkcVocab | " else {
      java.text.Normalizer.normalize(NfkcVocab, java.text.Normalizer.Form.NFKC) + " | "
    }

  /** q149: NFKC normalization + control-char strip + whitespace
    * collapse (functions.Nfkc — the CCNet text-cleanup stage before
    * tokenization/dedup). The two prefix spellings collapse: their
    * normalized texts and h60 fingerprints must agree pairwise, which
    * the oracle checks by replaying NFKC over the fixture vocabulary
    * (the replace pairs are generated AT ORACLE-BUILD TIME from
    * java.text.Normalizer itself, so the oracle's ground truth is the
    * Unicode reference implementation, not a hand-typed table). */
  def q149NfkcNormalize(s: SparkSession, dir: String): DataFrame = {
    val raw = pmod(col("doc_id"), lit(5)) === 0
    val compat = pmod(col("doc_id"), lit(5)) === 1
    val text = when(raw, concat(lit(nfkcPrefix(raw = true)), col("text")))
      .when(compat, concat(lit(nfkcPrefix(raw = false)), col("text")))
      .otherwise(col("text"))
    val norm = trim(regexp_replace(regexp_replace(
      graft.functions.Nfkc.nfkc(text), "[\\p{Cc}\\p{Cf}]", " "), "\\s+", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"), norm.as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).cast("long").as("n_chars"),
        Portable.h60(col("norm_text")).as("fingerprint"))
  }

  val q149Sql: String = {
    // ground-truth NFKC pairs for every fixture character (identity
    // pairs drop out of the replay)
    val pairs = NfkcVocab.toSeq.map { ch =>
      ch.toString ->
        java.text.Normalizer.normalize(ch.toString, java.text.Normalizer.Form.NFKC)
    }.filter { case (a, b) => a != b }
    val mk =
      s"""mk AS (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 5 = 0 THEN '${nfkcPrefix(raw = true)}' || text
         |    WHEN doc_id % 5 = 1 THEN '${nfkcPrefix(raw = false)}' || text
         |    ELSE text END AS t
         |  FROM documents)""".stripMargin
    val replayed = pairs.foldLeft("t") { case (acc, (a, b)) =>
      s"replace($acc, '$a', '$b')"
    }
    s"""WITH $mk,
       |n AS (
       |  SELECT doc_id, trim(regexp_replace(regexp_replace(
       |    $replayed, '[\\p{Cc}\\p{Cf}]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text
       |  FROM mk)
       |SELECT doc_id, norm_text, length(norm_text)::BIGINT AS n_chars,
       |  ('0x' || substr(md5(norm_text), 1, 15))::BIGINT AS fingerprint
       |FROM n""".stripMargin
  }

  // ---------------------------------- q148 gz member-index WARC read

  private val warcGzZones =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The per-dir `.warc.gz` zone in the real Common Crawl layout (one
    * gzip member per record, concatenated). */
  private[queries] def warcGzZoneFor(s: SparkSession, dir: String): String =
    warcGzZones.computeIfAbsent(dir, { d =>
      val base = graft.TempArtifacts.dir("graft_warcgz")
      graft.sources.Warc.synthesize(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")), base,
        gzip = true)
      base
    })

  /** q148: the per-member-splittable `.warc.gz` path (sources.WarcGz)
    * under the SAME oracle as q136 — the member index is built once per
    * dir (cdx economics), then every task seeks and decodes its own
    * members. A boundary walked wrong, a member lost to resync, or a
    * record mis-parsed after the seek all hash-mismatch. Puts the gz
    * intra-file-parallel path under the DuckDB gate and the multi-JVM
    * posture, not just its spec. */
  def q148WarcGzRead(s: SparkSession, dir: String): DataFrame = {
    val zone = warcGzZoneFor(s, dir)
    graft.sources.WarcGz.readSplit(s, zone)
      .filter(col("is_valid"))
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("url"), col("content_length"), col("payload"))
  }

  // --------------------------- q152 stored member-index sidecar read

  private val warcGzIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The persisted cdx sidecar for the per-dir gz zone, written once
    * (the landing-time economics the sidecar exists for). */
  private[queries] def warcGzIndexFor(s: SparkSession, dir: String): String =
    warcGzIndexes.computeIfAbsent(dir, { d =>
      val zone = warcGzZoneFor(s, d)
      val side = graft.TempArtifacts.dir("graft_warcgz_cdx")
      graft.sources.WarcGz.writeIndex(
        graft.sources.WarcGz.memberIndex(s, zone), side)
      side
    })

  /** q152: q148's member-parallel gz read through the PERSISTED sidecar
    * (WarcGz.writeIndex/readIndex — VERDICT r15 missing #3): the
    * member-boundary walk is paid once per zone and stored as Parquet;
    * this entry reads ONLY the stored relation and seeks. Hash-equal to
    * q148 and the fresh-index read by the shared q136 oracle — a
    * sidecar row lost, reordered, or mis-typed in the round trip
    * hash-mismatches. */
  def q152WarcGzStoredIndex(s: SparkSession, dir: String): DataFrame = {
    val side = warcGzIndexFor(s, dir)
    graft.sources.WarcGz.readMembers(s,
        graft.sources.WarcGz.readIndex(s, side))
      .filter(col("is_valid"))
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("url"), col("content_length"), col("payload"))
  }

  // --------------------------------------- q140 HTML→text extraction

  private val htmlZones =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The deterministic HTML page for each document: head with title /
    * style / script (the non-content elements the extractor must drop),
    * a heading, the document text as the main content block, a
    * link-only nav block (the boilerplate case), an OUTLINK block
    * (r16 — every RFC 3986 reference class: path-relative with dot
    * segments, protocol-relative ring/far links that weave the 13
    * site-hosts into a real host graph, absolute external,
    * query-only, non-hierarchical mailto, fragment-only, empty), and
    * an entity-bearing closing block. Built identically in Spark and
    * DuckDB. */
  private[queries] def htmlCol: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    val d13 = pmod(col("doc_id"), lit(13))
    val ring = pmod(d13 + lit(1), lit(13)).cast("string")
    val far = pmod(d13 + lit(5), lit(13)).cast("string")
    val d7 = pmod(col("doc_id"), lit(7))
    concat(
      lit("<html><head><title>Doc "), id, lit("</title>"),
      lit("<style>body { margin: 0 }</style>"),
      // r18 canonical-link classes (doc_id % 9): absolute SELF
      // canonical (the page's own messy URL), root-relative canonical,
      // attribute-order-swapped + case-variant canonical; every page
      // carries a stylesheet link that must never count
      lit("<link rel=\"stylesheet\" href=\"/style.css\">"),
      when(pmod(col("doc_id"), lit(9)) === 1,
        concat(lit("<link rel=\"canonical\" href=\""), messyUrlCol,
          lit("\">"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 4,
        lit("<link rel=\"canonical\" href=\"/canonical/page\">"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 7,
        lit("<link href='/canon2' rel='CANONICAL'>")).otherwise(lit("")),
      // r19 hreflang classes (doc_id % 11): a case-variant region tag
      // (DE-at — BCP 47 is case-insensitive, keyed de-at) plus a
      // RELATIVE alternate (the effective base composes); an x-default
      // with swapped attributes + an RSS alternate decoy WITHOUT
      // hreflang (must not count); a rel="alternatexx" substring trap
      when(pmod(col("doc_id"), lit(11)) === 2,
        lit("<link rel=\"alternate\" hreflang=\"DE-at\" href=\"/alt/de\">" +
          "<link hreflang=\"en\" rel=\"alternate\" href=\"alt/en\">"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 3,
        lit("<link hreflang=\"x-default\" rel=\"ALTERNATE\" href=\"/\">" +
          "<link rel=\"alternate\" type=\"application/rss+xml\" href=\"/feed.xml\">"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 5,
        lit("<link rel=\"alternatexx\" hreflang=\"fr\" href=\"/alt/fr\">"))
        .otherwise(lit("")),
      // r18 meta-refresh classes (doc_id % 12): a ZERO-delay redirect
      // (relative target), a delayed refresh with NO target
      // (attr-order-swapped, shouting http-equiv), and a delayed
      // protocol-relative hop with uppercase URL=
      when(pmod(col("doc_id"), lit(12)) === 1,
        lit("<meta http-equiv=\"refresh\" content=\"0; url=/moved/here\">"))
        .when(pmod(col("doc_id"), lit(12)) === 5,
          lit("<meta content=\"30\" http-equiv=\"REFRESH\">"))
        .when(pmod(col("doc_id"), lit(12)) === 9,
          concat(lit("<meta http-equiv=\"refresh\" content=\"2;URL=//site"),
            pmod(pmod(col("doc_id"), lit(13)) + lit(1), lit(13)).cast("string"),
            lit(".xn--bcher-kva.example/hop\">"))).otherwise(lit("")),
      // r18 <base href> classes (RFC 3986 §5.1.1): d7==2 an ABSOLUTE
      // base on a foreign host (every relative link must re-root
      // there), d7==4 a RELATIVE single-quoted base (itself resolved
      // against the retrieval URI), else none. The CDATA below carries
      // a DECOY base the drops must remove first.
      when(d7 === 2,
        concat(lit("<base target=\"_top\" href=\"http://wb"), d13.cast("string"),
          lit(".base.example/bdir/sub/\">"))).otherwise(lit("")),
      when(d7 === 4, lit("<base href='../bb/sub/'>")).otherwise(lit("")),
      // r18 robots-meta classes (doc_id % 8): noindex, attr-order-
      // swapped nofollow, case-variant NONE (≡ both), and a name≠robots
      // decoy whose content says noindex but must not count
      when(pmod(col("doc_id"), lit(8)) === 0,
        lit("<meta name=\"robots\" content=\"noindex, follow\">"))
        .when(pmod(col("doc_id"), lit(8)) === 3,
          lit("<meta content=\"nofollow\" name=\"robots\">"))
        .when(pmod(col("doc_id"), lit(8)) === 5,
          lit("<meta name=\"ROBOTS\" content=\"NONE\">"))
        .when(pmod(col("doc_id"), lit(8)) === 6,
          lit("<meta name=\"description\" content=\"noindex decoy\">"))
        .otherwise(lit("")),
      lit("<script>var doc = "), id, lit(";</script>"),
      lit("<![CDATA[var hidden = \"<base href='/decoy/'><p>not content</p>\";]]></head>"),
      lit("<body><h1>Heading "), id, lit("</h1>"),
      lit("<p>"), col("text"), lit("</p>"),
      lit("<div class=\"nav\"><a href=\"/home\">Home</a> " +
        "<a href=\"/about\">About us</a> | <a href=\"/contact\">Contact</a> " +
        // r18 rel classes: token before href, multi-token after href,
        // non-nofollow rel, and the substring trap (rel="nofollower")
        "<a rel=\"nofollow\" href=\"/login\">Login</a> " +
        "<a href=\"/promo\" rel=\"sponsored NoFollow\">Promo</a> " +
        "<a href=\"/author\" rel=\"author\">A</a> " +
        "<a href=\"/nf2\" rel=\"nofollower\">NF</a></div>"),
      // r18: a CROSS-HOST link that is ALWAYS nofollow (the spam-farm
      // shape — it must appear in the raw edge set but contribute no
      // authority), and a cross-host link carried ONLY by robots-meta
      // nofollow pages (so the PAGE channel also discriminates the
      // followed graph from the full one)
      lit("<p>More at <a href=\"../up/one\">up</a> <a href=\"a/b/../c\">dots</a> "),
      lit("<a rel=\"nofollow\" href=\"//spam"), d13.cast("string"),
      lit(".example/promo\">spam</a> "),
      when(pmod(col("doc_id"), lit(8)).isin(3, 5),
        concat(lit("<a href=\"//pagenf"), d13.cast("string"),
          lit(".example/x\">pnf</a> "))).otherwise(lit("")),
      lit("<a href=\"//site"), ring, lit(".xn--bcher-kva.example/m/\">ring</a> "),
      when(pmod(d13, lit(2)) === 1,
        concat(lit("<a href=\"//site"), far,
          lit(".xn--bcher-kva.example/far\">far</a> "))).otherwise(lit("")),
      lit("<a href=\"http://ext.example:8080/e/?z=2&amp;a=%7e#f\">ext</a> " +
        "<a href=\"?lang=en\">q</a> <a href=\"mailto:x@example.org\">mail</a> " +
        "<a href='/squote/page'>sq</a> " + // single-quoted attr (r16)
        "<a href=\"#top\">self</a> <a href=\"\">empty</a></p>"),
      lit("<p>Second &amp; final &lt;block&gt;&nbsp;here, "
        + "&#70;ine &#x70;rint &#9999; &amp;#65; "), id, lit("</p>"),
      // full-decode coverage (r16): accented named, uppercase named,
      // symbol named, supplementary-plane numeric, surrogate (stays
      // literal), unknown name (stays literal), nbsp-as-whitespace
      lit("<p>Caf&eacute; &Uuml;ber&nbsp;alles &mdash; &hellip; "
        + "&#233; &#xE9; &#x1F600; &#55296; &bogus; &euro;2 "), id, lit("</p>"),
      // HTML5-only names (r17): ASCII alias, supplementary-plane math
      // alphabets, Cyrillic, Latin Extended-A, var-Greek, dingbat —
      // plus a MULTI-codepoint name (&NotLessLess; → U+226A U+0338)
      lit("<p>&excl; &Ascr;rt &Bopf;old &pfr;age &acy;&zhcy;&SHCHcy; "
        + "&Amacr;cron &varphi; &checkmark; &numero;5 &NotLessLess; "), id, lit("</p>"),
      // a SECOND base on the already-based pages — only the FIRST is
      // honored (WHATWG), so this must change nothing
      when(d7 === 2, lit("<base href=\"/second/ignored/\">")).otherwise(lit("")),
      lit("</body></html>"))
  }

  private val htmlSqlExpr: String =
    s"""'<html><head><title>Doc ' || doc_id || '</title>' ||
      |'<style>body { margin: 0 }</style>' ||
      |'<link rel="stylesheet" href="/style.css">' ||
      |(CASE WHEN doc_id % 9 = 1
      |      THEN '<link rel="canonical" href="' || ($messyUrlSqlExpr) || '">'
      |      WHEN doc_id % 9 = 4 THEN '<link rel="canonical" href="/canonical/page">'
      |      WHEN doc_id % 9 = 7 THEN '<link href=''/canon2'' rel=''CANONICAL''>'
      |      ELSE '' END) ||
      |(CASE WHEN doc_id % 11 = 2 THEN '<link rel="alternate" hreflang="DE-at" href="/alt/de"><link hreflang="en" rel="alternate" href="alt/en">'
      |      WHEN doc_id % 11 = 3 THEN '<link hreflang="x-default" rel="ALTERNATE" href="/"><link rel="alternate" type="application/rss+xml" href="/feed.xml">'
      |      WHEN doc_id % 11 = 5 THEN '<link rel="alternatexx" hreflang="fr" href="/alt/fr">'
      |      ELSE '' END) ||
      |(CASE WHEN doc_id % 12 = 1 THEN '<meta http-equiv="refresh" content="0; url=/moved/here">'
      |      WHEN doc_id % 12 = 5 THEN '<meta content="30" http-equiv="REFRESH">'
      |      WHEN doc_id % 12 = 9 THEN '<meta http-equiv="refresh" content="2;URL=//site' || ((doc_id % 13 + 1) % 13) || '.xn--bcher-kva.example/hop">'
      |      ELSE '' END) ||
      |(CASE WHEN doc_id % 7 = 2
      |      THEN '<base target="_top" href="http://wb' || (doc_id % 13) || '.base.example/bdir/sub/">'
      |      WHEN doc_id % 7 = 4 THEN '<base href=''../bb/sub/''>'
      |      ELSE '' END) ||
      |(CASE WHEN doc_id % 8 = 0 THEN '<meta name="robots" content="noindex, follow">'
      |      WHEN doc_id % 8 = 3 THEN '<meta content="nofollow" name="robots">'
      |      WHEN doc_id % 8 = 5 THEN '<meta name="ROBOTS" content="NONE">'
      |      WHEN doc_id % 8 = 6 THEN '<meta name="description" content="noindex decoy">'
      |      ELSE '' END) ||
      |'<script>var doc = ' || doc_id || ';</script>' ||
      |'<![CDATA[var hidden = "<base href=''/decoy/''><p>not content</p>";]]></head>' ||
      |'<body><h1>Heading ' || doc_id || '</h1>' ||
      |'<p>' || text || '</p>' ||
      |'<div class="nav"><a href="/home">Home</a> <a href="/about">About us</a> | <a href="/contact">Contact</a> <a rel="nofollow" href="/login">Login</a> <a href="/promo" rel="sponsored NoFollow">Promo</a> <a href="/author" rel="author">A</a> <a href="/nf2" rel="nofollower">NF</a></div>' ||
      |'<p>More at <a href="../up/one">up</a> <a href="a/b/../c">dots</a> ' ||
      |'<a rel="nofollow" href="//spam' || (doc_id % 13) || '.example/promo">spam</a> ' ||
      |(CASE WHEN doc_id % 8 IN (3, 5)
      |      THEN '<a href="//pagenf' || (doc_id % 13) || '.example/x">pnf</a> '
      |      ELSE '' END) ||
      |'<a href="//site' || ((doc_id % 13 + 1) % 13) || '.xn--bcher-kva.example/m/">ring</a> ' ||
      |(CASE WHEN (doc_id % 13) % 2 = 1
      |      THEN '<a href="//site' || ((doc_id % 13 + 5) % 13) || '.xn--bcher-kva.example/far">far</a> '
      |      ELSE '' END) ||
      |'<a href="http://ext.example:8080/e/?z=2&amp;a=%7e#f">ext</a> <a href="?lang=en">q</a> <a href="mailto:x@example.org">mail</a> <a href=''/squote/page''>sq</a> <a href="#top">self</a> <a href="">empty</a></p>' ||
      |'<p>Second &amp; final &lt;block&gt;&nbsp;here, &#70;ine &#x70;rint &#9999; &amp;#65; ' || doc_id || '</p>' ||
      |'<p>Caf&eacute; &Uuml;ber&nbsp;alles &mdash; &hellip; &#233; &#xE9; &#x1F600; &#55296; &bogus; &euro;2 ' || doc_id || '</p>' ||
      |'<p>&excl; &Ascr;rt &Bopf;old &pfr;age &acy;&zhcy;&SHCHcy; &Amacr;cron &varphi; &checkmark; &numero;5 &NotLessLess; ' || doc_id || '</p>' ||
      |(CASE WHEN doc_id % 7 = 2 THEN '<base href="/second/ignored/">' ELSE '' END) ||
      |'</body></html>'""".stripMargin.replace("\n", " ")

  /** A WARC zone whose payloads are the HTML pages (the real crawl
    * shape q136's plain-text zone abstracts away). Shares recordColumn,
    * so the corruption/quoting residues apply to the HTML payloads
    * too. */
  private[queries] def htmlZoneFor(s: SparkSession, dir: String): String =
    htmlZones.computeIfAbsent(dir, { d =>
      val base = graft.TempArtifacts.dir("graft_warc_html")
      // r18: some captures carry the HEADER-channel robots directives
      // (the X-Robots-Tag convention) through the synthesize
      // extra-header seam — in this zone model payloads are bare text,
      // so the capture record is where response headers live. Every
      // header-parsing reader ignores unknown headers, so all existing
      // consumers are payload-identical.
      val d10 = pmod(col("doc_id"), lit(10))
      // r19 adds the convention's remaining layers: an agent-SCOPED
      // value for ANOTHER crawler (must not bind), one scoped to ours
      // (binds), a REPEATED header whose lines merge (RFC 9110 §5.2),
      // and an unavailable_after value — a directive that contains a
      // colon and must not be misread as an agent scope
      val xrt = when(d10 === 7, lit("X-Robots-Tag: noindex\r\n"))
        .when(d10 === 4, lit("X-Robots-Tag: NOFOLLOW, noarchive\r\n"))
        .when(d10 === 2, lit("X-Robots-Tag: noarchive\r\n"))
        .when(d10 === 1, lit("X-Robots-Tag: googlebot: noindex\r\n"))
        .when(d10 === 8, lit("X-Robots-Tag: graftbot: noindex\r\n"))
        .when(d10 === 6,
          lit("X-Robots-Tag: noarchive\r\nX-Robots-Tag: nofollow\r\n"))
        .when(d10 === 9,
          lit("X-Robots-Tag: unavailable_after: 25 Jun 2026 15:00:00 GMT\r\n"))
        .otherwise(lit(""))
      // r19: the HTTP status + Location channel (VERDICT r18 missing
      // #1), same seam. Classes by doc_id % 19: a 2-hop 301→302 chain
      // into a 200 page (1→2→3), a 307 to a RELATIVE never-captured
      // path (resolution against the page URL is part of the
      // machinery), a genuine 2-cycle (7↔9), a 308 self-loop (11), and
      // a 301 to a never-captured foreign host (13). Targets are OTHER
      // docs' messy URLs — the chain graph lives in canonical-URL
      // space, exactly where consolidation keys live.
      val m19 = pmod(col("doc_id"), lit(19))
      val rloc = when(m19.isin(1, 2), messyUrlColFor(col("doc_id") + 1))
        .when(m19 === 5, lit("/landing/page"))
        .when(m19 === 7, messyUrlColFor(col("doc_id") + 2))
        .when(m19 === 9, messyUrlColFor(col("doc_id") - 2))
        .when(m19 === 11, messyUrlColFor(col("doc_id")))
        .when(m19 === 13, lit("http://nowhere.example/gone"))
      // error-page classes (r19, q180): a 404 and a 503 capture whose
      // BODY is an ordinary page — an eligibility screen that reads
      // bodies without statuses would keep them
      val rstatus = when(m19.isin(1, 7, 9, 13), lit("301"))
        .when(m19 === 2, lit("302"))
        .when(m19 === 5, lit("307"))
        .when(m19 === 11, lit("308"))
        .when(m19 === 15, lit("404"))
        .when(m19 === 17, lit("503"))
      val redirectHdrs = when(rstatus.isNull, lit(""))
        .otherwise(concat(lit("X-Crawl-Status: "), rstatus, lit("\r\n"),
          when(rloc.isNull, lit(""))
            .otherwise(concat(lit("Location: "), rloc, lit("\r\n")))))
      graft.sources.Warc.synthesize(s,
        Tables.documents(s, d).select(col("doc_id"), htmlCol.as("text"),
          concat(xrt, redirectHdrs).as("extra_headers")), base)
      base
    })

  /** q140: HTML→text extraction (text.HtmlExtract) over WARC payloads —
    * the boilerplate-removal stage between the crawl reader and the
    * curation chain. The oracle rebuilds the surviving payloads from
    * `documents` and replays the identical block algebra
    * (HtmlExtract.duckBlockCtes), so a divergence in script stripping,
    * entity decode, block segmentation, or the link-density arithmetic
    * hash-mismatches. Map-only after the zone read (PlanAuditSpec). */
  def q140HtmlBlocks(s: SparkSession, dir: String): DataFrame = {
    val zone = htmlZoneFor(s, dir)
    val pages = graft.sources.Warc.readExactClean(s, zone)
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("payload"))
    graft.text.HtmlExtract.blocks(pages, "doc_id", col("payload"))
  }

  /** The WARC-surviving HTML pages as CTEs `h0` + `hin (doc_id, html)`
    * — the shared oracle prefix of q140/q143/q145 and the q150/q151
    * web-graph chain. */
  private[queries] def htmlInCtes: String = {
    import graft.sources.Warc.{TruncMod, NoLenMod, MagicQuoteMod}
    s"""h0 AS (
       |  SELECT doc_id, $htmlSqlExpr AS html0
       |  FROM documents
       |  WHERE doc_id % $TruncMod <> 0 AND doc_id % $NoLenMod <> 0),
       |hin AS (
       |  SELECT doc_id, CASE WHEN doc_id % $MagicQuoteMod = 0
       |    THEN 'see: WARC/1.0' || chr(13) || chr(10) || html0
       |    ELSE html0 END AS html
       |  FROM h0)""".stripMargin
  }

  /** The html zone's CHUNK-level survivors (the [[htmlStatusPages]]
    * read level: quote-class docs drop instead of being repaired) as
    * `hin (doc_id, html)` — the oracle prefix of q174/q177/q180/q183. */
  private def chunkHinCte: String = {
    import graft.sources.Warc.{TruncMod, NoLenMod, MagicQuoteMod}
    s"""hin AS (
       |  SELECT doc_id, $htmlSqlExpr AS html
       |  FROM documents
       |  WHERE doc_id % $TruncMod <> 0 AND doc_id % $NoLenMod <> 0
       |    AND doc_id % $MagicQuoteMod <> 0)""".stripMargin
  }

  val q140Sql: String =
    s"""WITH $htmlInCtes,
       |${graft.text.HtmlExtract.duckBlockCtes("hin", "doc_id")}
       |SELECT doc_id, block_idx, block_text, n_chars, link_density_bp,
       |  is_boilerplate
       |FROM hb""".stripMargin

  // --------------------------------------- q144 per-domain corpus stats

  /** q144: host-level crawl statistics (text.UrlCanonical.hostOf) —
    * the per-DOMAIN view every curation pipeline needs before applying
    * domain quotas (C4 caps documents per domain; crawl health
    * dashboards read exactly this relation). Hosts come from the
    * canonical form, so the three cosmetic variant classes (case, IDN
    * spelling, ports) land on ONE host key; the oracle replays the
    * identical canonicalization and host algebra. */
  def q144HostStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), messyUrlCol.as("url"))
      .select(col("doc_id"),
        graft.text.UrlCanonical.hostOf(col("url")).as("host"),
        graft.text.UrlCanonical.canonicalize(col("url")).as("canon"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon")).as("n_pages"),
        min(col("doc_id")).as("first_doc"))

  val q144Sql: String =
    s"""WITH $messyUrlMkCte,
       |${graft.text.UrlCanonical.duckCanonCtes("mk", "doc_id", DuckIdn)}
       |SELECT ${graft.text.UrlCanonical.duckHostOf("canon")} AS host,
       |  count(*) AS n_docs,
       |  count(DISTINCT canon) AS n_pages,
       |  min(doc_id) AS first_doc
       |FROM u4 GROUP BY 1""".stripMargin

  // ------------------------------ q170 page-level robots-meta screen

  /** q170 (r18, beyond plan): the robots-META curation screen — the
    * page-level crawler directives every polite corpus build honors
    * alongside robots.txt: `noindex` removes the page from the corpus,
    * `nofollow` kills its outlinks, `none` means both (union across
    * multiple robots metas, the conservative read). The fixture mixes
    * a noindex page, an attribute-order-swapped nofollow meta
    * (`content` before `name` — extraction must not assume order), a
    * case-variant NONE, and a `name="description"` decoy whose content
    * says noindex but must not count. Map-only after the zone read. */
  def q170MetaRobots(s: SparkSession, dir: String): DataFrame = {
    val zone = htmlZoneFor(s, dir)
    val pages = graft.sources.Warc.readExactClean(s, zone)
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("payload"))
    import graft.text.HtmlExtract
    pages
      .select(col("doc_id"),
        HtmlExtract.metaRobotsContents(col("payload")).as("__c"))
      .select(col("doc_id"),
        (HtmlExtract.metaDirective(col("__c"), "noindex") ||
          HtmlExtract.metaDirective(col("__c"), "none")).as("noindex"),
        (HtmlExtract.metaDirective(col("__c"), "nofollow") ||
          HtmlExtract.metaDirective(col("__c"), "none")).as("nofollow"))
      .withColumn("kept", !col("noindex"))
  }

  val q170Sql: String =
    s"""WITH $htmlInCtes,
       |mc AS (
       |  SELECT doc_id,
       |    ${graft.text.HtmlExtract.duckMetaRobotsContents("html")} AS c
       |  FROM hin)
       |SELECT doc_id,
       |  (${graft.text.HtmlExtract.duckMetaDirective("c", "noindex")}
       |   OR ${graft.text.HtmlExtract.duckMetaDirective("c", "none")}) AS noindex,
       |  (${graft.text.HtmlExtract.duckMetaDirective("c", "nofollow")}
       |   OR ${graft.text.HtmlExtract.duckMetaDirective("c", "none")}) AS nofollow,
       |  NOT (${graft.text.HtmlExtract.duckMetaDirective("c", "noindex")}
       |   OR ${graft.text.HtmlExtract.duckMetaDirective("c", "none")}) AS kept
       |FROM mc""".stripMargin

  // ------------------- q174 dual-channel robots directives (r18)

  /** The crawler product token the header channel scopes to. */
  private val DirectiveAgent = "graftbot"

  /** A leading single-token `agent:` prefix on an X-Robots-Tag VALUE
    * scopes it to that crawler — except `unavailable_after`, the one
    * directive that itself carries a colon. */
  private val ScopePrefix = "^([a-z0-9_*\\-]+)\\s*:"

  /** The binding X-Robots-Tag BODIES of a per-line value array:
    * lowercased, scope-filtered to (unscoped ∪ unavailable_after ∪
    * [[DirectiveAgent]]), scope prefixes stripped, comma-joined —
    * ready for token matching. Shared by q174 and q180. */
  private def xRobotsBodiesCol(
      xl: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def scopeOf(v: org.apache.spark.sql.Column) =
      regexp_extract(v, ScopePrefix, 1)
    val applying = filter(transform(xl, v => lower(v)),
      v => scopeOf(v).isin("", "unavailable_after", DirectiveAgent))
    array_join(transform(applying, v =>
      when(scopeOf(v).isin("", "unavailable_after"), v)
        .otherwise(ltrim(regexp_replace(v, ScopePrefix + "\\s*", "")))), ",")
  }

  /** Case-insensitive token match over a comma/space-separated
    * directive list (pre-lowercased). */
  private def hdrHas(x: org.apache.spark.sql.Column,
                     token: String): org.apache.spark.sql.Column =
    x.rlike(s"(^|[\\s,])$token([\\s,]|$$)")

  /** Oracle twins of the header machinery (shared by q174/q180): the
    * fixture's per-line value list, the scope-resolved body join, and
    * the token match. */
  private def duckXrtList: String =
    """CASE WHEN doc_id % 10 = 7 THEN ['noindex']
      |         WHEN doc_id % 10 = 4 THEN ['NOFOLLOW, noarchive']
      |         WHEN doc_id % 10 = 2 THEN ['noarchive']
      |         WHEN doc_id % 10 = 1 THEN ['googlebot: noindex']
      |         WHEN doc_id % 10 = 8 THEN ['graftbot: noindex']
      |         WHEN doc_id % 10 = 6 THEN ['noarchive', 'nofollow']
      |         WHEN doc_id % 10 = 9
      |         THEN ['unavailable_after: 25 Jun 2026 15:00:00 GMT']
      |         ELSE CAST([] AS VARCHAR[]) END""".stripMargin
  private def duckXBodies(xl: String): String =
    s"""coalesce(array_to_string(
       |      list_transform(
       |        list_filter(list_transform($xl, v -> lower(v)),
       |          v -> regexp_extract(v, '^([a-z0-9_*\\-]+)\\s*:', 1)
       |               IN ('', 'unavailable_after', '$DirectiveAgent')),
       |        v -> CASE WHEN regexp_extract(v, '^([a-z0-9_*\\-]+)\\s*:', 1)
       |                       IN ('', 'unavailable_after') THEN v
       |                  ELSE ltrim(regexp_replace(v,
       |                         '^([a-z0-9_*\\-]+)\\s*:\\s*', '')) END),
       |      ','), '')""".stripMargin
  private def duckHdrHas(x: String, token: String): String =
    s"""regexp_matches($x, '(^|[\\s,])$token([\\s,]|$$)')"""

  /** The robots verdict of q180/q183, added to a page frame carrying
    * `payload` and the X-Robots-Tag lines `__xl`: `__noidx` = q174's
    * meta ∪ scoped-header union for `noindex` (or `none`). */
  private def withNoindex(pages: DataFrame): DataFrame = {
    import graft.text.HtmlExtract
    pages
      .withColumn("__x", xRobotsBodiesCol(col("__xl")))
      .withColumn("__c", HtmlExtract.metaRobotsContents(col("payload")))
      .withColumn("__noidx",
        HtmlExtract.metaDirective(col("__c"), "noindex") ||
          HtmlExtract.metaDirective(col("__c"), "none") ||
          hdrHas(col("__x"), "noindex") || hdrHas(col("__x"), "none"))
  }

  /** Oracle twin of [[withNoindex]] over `hin`: `ni (doc_id, noindex)`. */
  private def duckNoindexCtes: String = {
    import graft.text.HtmlExtract.{duckMetaDirective, duckMetaRobotsContents}
    s"""ni0 AS (
       |  SELECT doc_id, ${duckMetaRobotsContents("html")} AS c,
       |    ${duckXBodies(duckXrtList)} AS x
       |  FROM hin),
       |ni AS (
       |  SELECT doc_id,
       |    (${duckMetaDirective("c", "noindex")}
       |     OR ${duckMetaDirective("c", "none")}
       |     OR ${duckHdrHas("x", "noindex")}
       |     OR ${duckHdrHas("x", "none")}) AS noindex
       |  FROM ni0)""".stripMargin
  }

  /** q174 (r18, beyond plan; r19 upgrade — VERDICT r18 missing #5): the
    * HEADER channel of the robots-meta screen — the X-Robots-Tag
    * convention — MERGED with q170's meta channel: a directive from
    * EITHER binds (the union read every crawler documents). Headers
    * surface through the WARC reader's extra-header seam
    * (`parseChunksWith`; in this zone model payloads are bare text, so
    * response headers live on the capture record).
    *
    * r19 models the convention's full value grammar: the header may
    * REPEAT (each line is one value; RFC 9110 §5.2 merges them), and a
    * value may carry a leading `agent:` SCOPE — a value scoped to
    * another crawler must not bind, one scoped to ours does, and the
    * colon-bearing `unavailable_after:` directive must not be misread
    * as a scope. Binding directives are the comma-separated token list
    * over the UNION of applying values, matched case-insensitively.
    * Fixture classes: header noindex, SHOUTING multi-directive
    * nofollow, noarchive-only (flags stay false), googlebot-scoped
    * noindex (must NOT bind), graftbot-scoped noindex (binds),
    * repeated noarchive+nofollow lines (merge → nofollow), and
    * unavailable_after (binds nothing), plus the q170 meta variants —
    * docs where the channels OVERLAP prove the union. Chunk-level read
    * (the q163 posture): quote-class docs are not parseable at this
    * level and drop, mirrored in the oracle's survivor set. */
  def q174RobotsDirectives(s: SparkSession, dir: String): DataFrame = {
    val zone = htmlZoneFor(s, dir)
    import graft.text.HtmlExtract
    val pages = graft.sources.Warc.parseChunksWith(
        s.read.option("lineSep", graft.sources.Warc.Magic).text(zone),
        Nil, repeated = Seq("X-Robots-Tag" -> "__xl"))
      .filter(col("is_valid"))
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("payload"), col("__xl"))
    def hdr(token: String) = hdrHas(col("__x"), token)
    pages
      .withColumn("__x", xRobotsBodiesCol(col("__xl")))
      .withColumn("__c", HtmlExtract.metaRobotsContents(col("payload")))
      .select(col("doc_id"),
        (HtmlExtract.metaDirective(col("__c"), "noindex") ||
          HtmlExtract.metaDirective(col("__c"), "none")).as("meta_noindex"),
        (HtmlExtract.metaDirective(col("__c"), "nofollow") ||
          HtmlExtract.metaDirective(col("__c"), "none")).as("meta_nofollow"),
        (hdr("noindex") || hdr("none")).as("hdr_noindex"),
        (hdr("nofollow") || hdr("none")).as("hdr_nofollow"))
      .withColumn("noindex", col("meta_noindex") || col("hdr_noindex"))
      .withColumn("nofollow", col("meta_nofollow") || col("hdr_nofollow"))
      .withColumn("kept", !col("noindex"))
  }

  val q174Sql: String = {
    def duckHdr(token: String) = duckHdrHas("x", token)
    // the twin replays the full value grammar: per-line values as a
    // LIST, lowercased, scope-filtered to ('', unavailable_after,
    // graftbot), scope prefixes stripped, survivors comma-joined
    s"""WITH $chunkHinCte,
       |mc AS (
       |  SELECT doc_id,
       |    ${graft.text.HtmlExtract.duckMetaRobotsContents("html")} AS c,
       |    ${duckXBodies(duckXrtList)} AS x
       |  FROM hin),
       |fl AS (
       |  SELECT doc_id,
       |    (${graft.text.HtmlExtract.duckMetaDirective("c", "noindex")}
       |     OR ${graft.text.HtmlExtract.duckMetaDirective("c", "none")}) AS meta_noindex,
       |    (${graft.text.HtmlExtract.duckMetaDirective("c", "nofollow")}
       |     OR ${graft.text.HtmlExtract.duckMetaDirective("c", "none")}) AS meta_nofollow,
       |    (${duckHdr("noindex")} OR ${duckHdr("none")}) AS hdr_noindex,
       |    (${duckHdr("nofollow")} OR ${duckHdr("none")}) AS hdr_nofollow
       |  FROM mc)
       |SELECT doc_id, meta_noindex, meta_nofollow, hdr_noindex, hdr_nofollow,
       |  (meta_noindex OR hdr_noindex) AS noindex,
       |  (meta_nofollow OR hdr_nofollow) AS nofollow,
       |  NOT (meta_noindex OR hdr_noindex) AS kept
       |FROM fl""".stripMargin
  }

  // ------------------------- q175 meta-refresh redirects (r18)

  /** q175 (r18, beyond plan): the CLIENT-SIDE redirect channel —
    * `<meta http-equiv="refresh">` parsed into (delay, target): a
    * zero-delay refresh is a redirect a consolidation pass follows
    * (q172's sibling signal — `consolidation_key` routes to the
    * target), a delayed one is a freshness hint (target surfaced,
    * key stays the page). The target resolves against the page's
    * EFFECTIVE base (composes with `<base href>`), entity-decoded;
    * attribute order and directive case are free; name-only metas
    * (the q170 fixtures) never count. Map-only after the zone read. */
  def q175MetaRefresh(s: SparkSession, dir: String): DataFrame =
    WebGraphOps.withLinkSignals(WebGraphOps.htmlPages(s, dir),
        "refresh_target_canon")
      .withColumn("self_canon",
        graft.text.UrlCanonical.canonicalize(col("__url")))
      .withColumn("is_redirect",
        coalesce(col("refresh_secs") === 0L, lit(false)) &&
          col("refresh_target_canon").isNotNull)
      .withColumn("consolidation_key",
        when(col("is_redirect"), col("refresh_target_canon"))
          .otherwise(col("self_canon")))
      .select(col("doc_id"), col("refresh_secs"), col("refresh_target_canon"),
        col("self_canon"), col("is_redirect"), col("consolidation_key"))

  lazy val q175Sql: String =
    s"""WITH ${graft.text.HtmlExtract.duckEntmapCte},
       |$htmlInCtes,
       |$messyUrlMkCte,
       |${WebGraphOps.duckEbaseCtes},
       |${WebGraphOps.duckRefreshCtes},
       |${graft.text.UrlCanonical.duckCanonCtes("mk", "doc_id", DuckIdn, "s")}
       |SELECT h.doc_id, r.refresh_secs, tc4.canon AS refresh_target_canon,
       |  s4.canon AS self_canon,
       |  (coalesce(r.refresh_secs = 0, false) AND tc4.canon IS NOT NULL)
       |    AS is_redirect,
       |  CASE WHEN coalesce(r.refresh_secs = 0, false) AND tc4.canon IS NOT NULL
       |       THEN tc4.canon ELSE s4.canon END AS consolidation_key
       |FROM hin h
       |JOIN s4 ON h.doc_id = s4.doc_id
       |LEFT JOIN rf1 r ON h.doc_id = r.doc_id
       |LEFT JOIN tc4 ON h.doc_id = tc4.doc_id""".stripMargin

  // ------------------- q176 server-redirect chain resolution (r19)

  /** The html zone's chunk-level survivors with the HTTP channel
    * (r19, VERDICT r18 missing #1): status + Location off the capture
    * record (the q174 posture — quote-class docs drop at this read
    * level, mirrored in the oracle's survivor set). */
  private def htmlStatusPages(s: SparkSession, dir: String): DataFrame = {
    val zone = htmlZoneFor(s, dir)
    graft.sources.Warc.parseChunksWith(
        s.read.option("lineSep", graft.sources.Warc.Magic).text(zone),
        Seq("X-Crawl-Status" -> "__status", "Location" -> "__location"),
        repeated = Seq("X-Robots-Tag" -> "__xl"))
      .filter(col("is_valid"))
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("payload"),
        expr("try_cast(__status AS BIGINT)").as("status"),
        col("__location").as("location"), col("__xl"))
      // spread BEFORE the canonicalization algebra: the lineSep text
      // scan yields one partition per small zone file (openCost floor),
      // pinning the whole q176/q177/q180/q183 chain's per-doc string
      // work at file-count parallelism (r19 optimization; no-op on
      // multi-split corpora)
      .transform(df => graft.Tables.spread(s, df))
      .withColumn("__url", messyUrlCol)
      .withColumn("self_canon",
        graft.text.UrlCanonical.canonicalize(col("__url")))
  }

  /** Redirect-hop budget — RFC 9110 §15.4's "SHOULD detect cyclical
    * redirections" made concrete; real UAs stop near 5–20. */
  private val MaxRedirectHops = 4

  /** (pages, resolved): the survivor pages plus the CANON-space chain
    * resolution. One URL has ONE response: conflicting captures of the
    * same canonical URL dedupe to the smallest-doc_id capture (the
    * q139 first-doc discipline) BEFORE the edge set is built, so the
    * redirect graph is a function and [[graft.operators.ChainResolve]]
    * applies. Resolution runs once per DISTINCT canon (the canonical
    * relation), then fans back out to docs — at 100 TB the hop loop
    * moves only the 3xx slice, never the corpus. */
  private[queries] def redirectResolved(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("self_canon")).orderBy(col("doc_id"))
    // eager CHECKPOINT of the parsed page frame (r20): every consumer
    // of this pair (q176/q177/q180/q183) reads `pages` AGAIN on its
    // output side after `canonical` is built from it — un-materialized,
    // that re-ran the whole zone parse + per-doc canonicalization a
    // second time per query (measured at sf0.1: a second ~50 s-CPU
    // 32-task stage per query), and every downstream plan carried (and
    // re-planned) the giant parse tree. One parse, one small LogicalRDD
    // for all consumers; released by Bench/Verify's releaseAll like
    // every query-returned checkpoint.
    val pages = graft.Checkpoints.eager(htmlStatusPages(s, dir))
    val canonical = graft.Checkpoints.eager(
      pages.select(col("doc_id"), col("self_canon"), col("__url"),
          col("status"), col("location"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
    // Location is an HTTP header — a URI reference, possibly relative,
    // resolved against the capture's URL; NO entity decode (that is an
    // HTML-channel concern)
    val edges = canonical.filter(col("status").between(300L, 399L) &&
        col("location").isNotNull && col("location") =!= "")
      .select(col("self_canon").as("src"),
        graft.text.UrlCanonical.canonicalize(graft.text.UrlCanonical.resolve(
          col("__url"), col("location"))).as("dst"))
    val resolved = graft.operators.ChainResolve.resolve(
      canonical.select(col("self_canon").as("node")), edges, MaxRedirectHops)
    val captured = canonical
      .select(col("self_canon").as("final_node"), lit(true).as("__cap"))
    (pages, resolved.join(captured, Seq("final_node"), "left")
      .select(col("node"), col("final_node"), col("hops"), col("is_loop"),
        col("settled"), coalesce(col("__cap"), lit(false)).as("final_captured")))
  }

  /** q176 (r19, VERDICT r18 next #1): server-side redirect resolution —
    * every surviving doc with its chain verdict: final canonical
    * target, hops followed, loop flag, budget flag, and whether the
    * final URL is itself captured. Fixture classes (doc_id % 19 on the
    * CANONICAL capture): a 301→302 2-hop chain into a 200 page, a 307
    * to a relative never-captured path, a genuine 7↔9 2-cycle, a 308
    * self-loop, a 301 to a never-captured host — plus conflicting
    * same-canon captures whose smallest-doc dedupe DECIDES whether the
    * canon redirects at all (docs ≥ 221 lose to their class rep). */
  def q176RedirectChains(s: SparkSession, dir: String): DataFrame = {
    val (pages, resolved) = redirectResolved(s, dir)
    pages.select(col("doc_id"), col("self_canon"))
      .join(resolved, col("self_canon") === col("node"))
      .select(col("doc_id"), col("self_canon"),
        col("final_node").as("final_canon"), col("hops"), col("is_loop"),
        col("settled"), col("final_captured"))
  }

  /** The q176 oracle chain as CTEs (assumes `mk` + a canon chain `s4`
    * over it are in scope): chunk survivors with the status/Location
    * classes → canonical capture per canon → edge set → 4 unrolled
    * chain steps → `rres (node, final_canon, hops, is_loop, settled)`
    * + `rcap (self_canon)`. */
  private[queries] def duckRedirectCtes: String = {
    import graft.sources.Warc.{TruncMod, NoLenMod, MagicQuoteMod}
    val steps = new StringBuilder
    for (i <- 1 to MaxRedirectHops) {
      steps ++= s""",
        |rc$i AS (
        |  SELECT node,
        |    CASE WHEN done OR e.src IS NULL THEN cur ELSE e.dst END AS cur,
        |    CASE WHEN done OR e.src IS NULL THEN hops ELSE hops + 1 END AS hops,
        |    CASE WHEN done OR e.src IS NULL OR list_contains(path, e.dst)
        |         THEN path ELSE list_append(path, e.dst) END AS path,
        |    CASE WHEN done THEN looped
        |         WHEN e.src IS NULL THEN false
        |         WHEN list_contains(path, e.dst) THEN true
        |         ELSE false END AS looped,
        |    CASE WHEN done OR e.src IS NULL
        |         OR list_contains(path, e.dst) THEN true
        |         ELSE false END AS done
        |  FROM rc${i - 1} c LEFT JOIN redge e
        |    ON c.cur = e.src AND NOT c.done)""".stripMargin
    }
    s"""rsv AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 19 IN (1, 7, 9, 13) THEN 301
       |         WHEN doc_id % 19 = 2 THEN 302
       |         WHEN doc_id % 19 = 5 THEN 307
       |         WHEN doc_id % 19 = 11 THEN 308
       |         WHEN doc_id % 19 = 15 THEN 404
       |         WHEN doc_id % 19 = 17 THEN 503 END AS status,
       |    CASE WHEN doc_id % 19 IN (1, 2)
       |         THEN ${messyUrlSqlExprFor("(doc_id + 1)")}
       |         WHEN doc_id % 19 = 5 THEN '/landing/page'
       |         WHEN doc_id % 19 = 7
       |         THEN ${messyUrlSqlExprFor("(doc_id + 2)")}
       |         WHEN doc_id % 19 = 9
       |         THEN ${messyUrlSqlExprFor("(doc_id - 2)")}
       |         WHEN doc_id % 19 = 11
       |         THEN ${messyUrlSqlExprFor("doc_id")}
       |         WHEN doc_id % 19 = 13 THEN 'http://nowhere.example/gone'
       |    END AS location
       |  FROM documents
       |  WHERE doc_id % $TruncMod <> 0 AND doc_id % $NoLenMod <> 0
       |    AND doc_id % $MagicQuoteMod <> 0),
       |rsp AS (
       |  SELECT r.doc_id, s.canon AS self_canon, r.status, r.location, m.url
       |  FROM rsv r JOIN s4 s ON r.doc_id = s.doc_id
       |             JOIN mk m ON r.doc_id = m.doc_id),
       |rcc AS (
       |  SELECT * FROM rsp
       |  QUALIFY row_number() OVER (PARTITION BY self_canon
       |                             ORDER BY doc_id) = 1),
       |rei AS (
       |  SELECT self_canon, url AS base, location AS ref FROM rcc
       |  WHERE status BETWEEN 300 AND 399
       |    AND location IS NOT NULL AND location <> ''),
       |${graft.text.UrlCanonical.duckResolveCtes("rei", "self_canon", "rr")},
       |ret AS (SELECT self_canon, target AS url FROM rr4),
       |${graft.text.UrlCanonical.duckCanonCtes("ret", "self_canon", DuckIdn, "re")},
       |redge AS (SELECT self_canon AS src, canon AS dst FROM re4),
       |rc0 AS (
       |  SELECT self_canon AS node, self_canon AS cur, CAST(0 AS BIGINT) AS hops,
       |    [self_canon] AS path, false AS looped, false AS done
       |  FROM rcc)$steps,
       |rres AS (
       |  SELECT node, cur AS final_canon, hops, looped AS is_loop,
       |    done AS settled
       |  FROM rc$MaxRedirectHops),
       |rcap AS (SELECT self_canon FROM rcc)""".stripMargin
  }

  val q176Sql: String =
    s"""WITH $messyUrlMkCte,
       |${graft.text.UrlCanonical.duckCanonCtes("mk", "doc_id", DuckIdn, "s")},
       |$duckRedirectCtes
       |SELECT p.doc_id, p.self_canon, r.final_canon, r.hops, r.is_loop,
       |  r.settled, (c.self_canon IS NOT NULL) AS final_captured
       |FROM rsp p
       |JOIN rres r ON p.self_canon = r.node
       |LEFT JOIN rcap c ON r.final_canon = c.self_canon""".stripMargin

  // ------------------- q177 unified consolidation key (r19)

  /** q177 (r19, VERDICT r18 next #2): ONE consolidation key per doc
    * with documented channel precedence — the relation a corpus build
    * actually clusters on:
    *
    *   1. `redirect`  — a settled, non-looping server-redirect chain
    *      (q176): the crawler never indexes the source URL;
    *   2. `refresh`   — a zero-delay meta refresh with a resolvable
    *      target (q175): the client-side redirect;
    *   3. `canonical` — a declared `<link rel=canonical>` (q172);
    *   4. `self`      — the page's own canonical form.
    *
    * A LOOPING or unsettled redirect chain falls through (it never
    * lands anywhere — the next signal wins); overlap docs (redirect
    * status + canonical link, refresh + canonical, …) exist by modulus
    * construction and prove the precedence, since each channel's
    * target differs. Composed over the chunk-survivor set (the status
    * channel's read level); q172/q175 keep their own zone reads and
    * are unchanged. */
  def q177ConsolidationKey(s: SparkSession, dir: String): DataFrame = {
    val (pages, resolved) = redirectResolved(s, dir)
    val sig = WebGraphOps.withLinkSignals(pages, "__rt")
    val isRedirect = col("hops") > 0 && !col("is_loop") && col("settled")
    val isRefresh = coalesce(col("refresh_secs") === 0L, lit(false)) &&
      col("__rt").isNotNull
    sig.join(resolved, col("self_canon") === col("node"))
      .select(col("doc_id"), col("self_canon"),
        when(isRedirect, lit("redirect"))
          .when(isRefresh, lit("refresh"))
          .when(col("__cc").isNotNull, lit("canonical"))
          .otherwise(lit("self")).as("channel"),
        when(isRedirect, col("final_node"))
          .when(isRefresh, col("__rt"))
          .when(col("__cc").isNotNull, col("__cc"))
          .otherwise(col("self_canon")).as("consolidation_key"))
  }

  lazy val q177Sql: String =
    s"""WITH ${graft.text.HtmlExtract.duckEntmapCte},
       |$messyUrlMkCte,
       |${graft.text.UrlCanonical.duckCanonCtes("mk", "doc_id", DuckIdn, "s")},
       |$chunkHinCte,
       |${WebGraphOps.duckEbaseCtes},
       |${WebGraphOps.duckRefreshCtes},
       |${WebGraphOps.duckCanonicalLinkCtes},
       |$duckRedirectCtes
       |SELECT p.doc_id, p.self_canon,
       |  CASE WHEN r.hops > 0 AND NOT r.is_loop AND r.settled
       |       THEN 'redirect'
       |       WHEN coalesce(rf.refresh_secs = 0, false)
       |            AND tc4.canon IS NOT NULL THEN 'refresh'
       |       WHEN cx4.canon IS NOT NULL THEN 'canonical'
       |       ELSE 'self' END AS channel,
       |  CASE WHEN r.hops > 0 AND NOT r.is_loop AND r.settled
       |       THEN r.final_canon
       |       WHEN coalesce(rf.refresh_secs = 0, false)
       |            AND tc4.canon IS NOT NULL THEN tc4.canon
       |       WHEN cx4.canon IS NOT NULL THEN cx4.canon
       |       ELSE p.self_canon END AS consolidation_key
       |FROM rsp p
       |JOIN rres r ON p.self_canon = r.node
       |LEFT JOIN rf1 rf ON p.doc_id = rf.doc_id
       |LEFT JOIN tc4 ON p.doc_id = tc4.doc_id
       |LEFT JOIN cx4 ON p.doc_id = cx4.doc_id""".stripMargin

  // ------------------- q180 index-eligibility screen (r19)

  /** q180 (r19, beyond plan): the INDEX-ELIGIBILITY verdict — the
    * screen a corpus build applies per capture BEFORE content flows
    * downstream, with documented reason precedence:
    *
    *   1. `error`    — the capture's own status is 4xx/5xx: the body
    *      is an error page even when it reads like content (the
    *      fixture's 404/503 classes carry ordinary page bodies — a
    *      screen that trusts bodies keeps them and hash-mismatches);
    *   2. `redirect` — the capture's own status is 3xx, or its
    *      canonical URL resolves through the redirect relation
    *      (hops > 0, loops included): the content lives elsewhere;
    *   3. `noindex`  — the robots directive channels remove it
    *      (q174's meta ∪ scoped-header union);
    *   4. `ok`       — eligible.
    *
    * Output: (doc_id, self_canon, eligible, reason) — the relation
    * q177's consolidation keys and the dedup chain consume. Map-only
    * over the chunk survivors plus ONE canon-keyed join against the
    * resolved redirect relation. */
  def q180IndexEligibility(s: SparkSession, dir: String): DataFrame = {
    val (pages, resolved) = redirectResolved(s, dir)
    val flagged = withNoindex(pages)
    val reason = when(col("status").between(400L, 599L), lit("error"))
      .when(col("status").between(300L, 399L) || col("hops") > 0,
        lit("redirect"))
      .when(col("__noidx"), lit("noindex"))
      .otherwise(lit("ok"))
    flagged.join(resolved, col("self_canon") === col("node"))
      .select(col("doc_id"), col("self_canon"), reason.as("reason"))
      .withColumn("eligible", col("reason") === "ok")
      .select(col("doc_id"), col("self_canon"), col("eligible"),
        col("reason"))
  }

  val q180Sql: String =
    s"""WITH $messyUrlMkCte,
       |${graft.text.UrlCanonical.duckCanonCtes("mk", "doc_id", DuckIdn, "s")},
       |$duckRedirectCtes,
       |$chunkHinCte,
       |$duckNoindexCtes,
       |el AS (
       |  SELECT p.doc_id, p.self_canon,
       |    CASE WHEN p.status BETWEEN 400 AND 599 THEN 'error'
       |         WHEN p.status BETWEEN 300 AND 399 OR r.hops > 0
       |         THEN 'redirect'
       |         WHEN n.noindex THEN 'noindex'
       |         ELSE 'ok' END AS reason
       |  FROM rsp p JOIN ni n ON p.doc_id = n.doc_id
       |  JOIN rres r ON p.self_canon = r.node)
       |SELECT doc_id, self_canon, reason, (reason = 'ok') AS eligible
       |FROM el""".stripMargin

  // ------------------- q183 consolidated corpus rollup (r19)

  /** q183 (r19, beyond plan): the relation the whole HTTP-spine chain
    * exists to produce — the ELIGIBLE corpus grouped by its unified
    * consolidation key: one row per key with the representative
    * capture (smallest doc_id — the q139 first-doc discipline), the
    * member count, and how many distinct channels routed members onto
    * the key. Eligibility (q180's screen) composes with consolidation
    * (q177's precedence) in ONE zone pass — the signals share the page
    * frame and the one canon-keyed resolved join (the r18 fusion
    * lesson: two builders = two zone scans). By construction an
    * ELIGIBLE doc's channel is never 'redirect' (redirect sources are
    * ineligible), so keys consolidate via refresh/canonical/self only
    * — the corpus-build invariant this entry pins. Exchanges: the one
    * key-partitioned aggregate every consolidation pays. */
  def q183ConsolidatedCorpus(s: SparkSession, dir: String): DataFrame = {
    val (pages, resolved) = redirectResolved(s, dir)
    val sig = withNoindex(WebGraphOps.withLinkSignals(pages, "__rt"))
    val isRedirect = col("hops") > 0 && !col("is_loop") && col("settled")
    val isRefresh = coalesce(col("refresh_secs") === 0L, lit(false)) &&
      col("__rt").isNotNull
    // a NULL status (no channel = 200-class) must stay eligible — a
    // bare !between(...) is NULL there and a filter drops NULLs
    val eligible = !coalesce(col("status").between(300L, 599L), lit(false)) &&
      !(col("hops") > 0) && !col("__noidx")
    sig.join(resolved, col("self_canon") === col("node"))
      .filter(eligible)
      .select(col("doc_id"),
        when(isRedirect, lit("redirect"))
          .when(isRefresh, lit("refresh"))
          .when(col("__cc").isNotNull, lit("canonical"))
          .otherwise(lit("self")).as("channel"),
        when(isRedirect, col("final_node"))
          .when(isRefresh, col("__rt"))
          .when(col("__cc").isNotNull, col("__cc"))
          .otherwise(col("self_canon")).as("consolidation_key"))
      .groupBy(col("consolidation_key"))
      .agg(min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_members"),
        countDistinct(col("channel")).as("n_channels"))
  }

  lazy val q183Sql: String =
    s"""WITH ${graft.text.HtmlExtract.duckEntmapCte},
       |$messyUrlMkCte,
       |${graft.text.UrlCanonical.duckCanonCtes("mk", "doc_id", DuckIdn, "s")},
       |$chunkHinCte,
       |${WebGraphOps.duckEbaseCtes},
       |${WebGraphOps.duckRefreshCtes},
       |${WebGraphOps.duckCanonicalLinkCtes},
       |$duckRedirectCtes,
       |$duckNoindexCtes,
       |cbase AS (
       |  SELECT p.doc_id,
       |    CASE WHEN coalesce(rf.refresh_secs = 0, false)
       |              AND tc4.canon IS NOT NULL THEN 'refresh'
       |         WHEN cx4.canon IS NOT NULL THEN 'canonical'
       |         ELSE 'self' END AS channel,
       |    CASE WHEN coalesce(rf.refresh_secs = 0, false)
       |              AND tc4.canon IS NOT NULL THEN tc4.canon
       |         WHEN cx4.canon IS NOT NULL THEN cx4.canon
       |         ELSE p.self_canon END AS consolidation_key
       |  FROM rsp p
       |  JOIN rres r ON p.self_canon = r.node
       |  JOIN ni n ON p.doc_id = n.doc_id
       |  LEFT JOIN rf1 rf ON p.doc_id = rf.doc_id
       |  LEFT JOIN tc4 ON p.doc_id = tc4.doc_id
       |  LEFT JOIN cx4 ON p.doc_id = cx4.doc_id
       |  WHERE NOT coalesce(p.status BETWEEN 300 AND 599, false)
       |    AND NOT (r.hops > 0)
       |    AND NOT n.noindex)
       |SELECT consolidation_key, min(doc_id) AS rep_doc_id,
       |  count(*) AS n_members, count(DISTINCT channel) AS n_channels
       |FROM cbase GROUP BY consolidation_key""".stripMargin

  // ----------------------------- q143 end-to-end curation composition

  /** q143: the composed entry path a web-corpus user actually runs —
    * WARC zone → Content-Length-aware read → HTML block extraction →
    * boilerplate drop → CLEAN DOCUMENT reassembly (content blocks
    * rejoined in block order) with per-doc stats and an h60
    * fingerprint (the key the dedup chain consumes next). One gate
    * entry proving the r15 stages COMPOSE: the oracle replays the
    * whole chain (zone survivors → block algebra → ordered string_agg)
    * in SQL. Still shuffle-light: the only exchange is the final
    * per-doc aggregation. */
  def q143CurationE2e(s: SparkSession, dir: String): DataFrame = {
    val zone = htmlZoneFor(s, dir)
    val pages = graft.sources.Warc.readExactClean(s, zone)
      .select(
        regexp_extract(col("url"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("payload"))
    val blocks = graft.text.HtmlExtract.blocks(pages, "doc_id", col("payload"))
    blocks
      .filter(!col("is_boilerplate"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(sort_array(collect_list(struct(col("block_idx"), col("block_text")))),
            b => b.getField("block_text")), " ").as("clean_text"),
        count(lit(1)).as("n_blocks"))
      .select(col("doc_id"), col("clean_text"), col("n_blocks"),
        length(col("clean_text")).cast("long").as("n_chars"),
        Portable.h60(col("clean_text")).as("fingerprint"))
  }

  val q143Sql: String = {
    s"""WITH $htmlInCtes,
       |${graft.text.HtmlExtract.duckBlockCtes("hin", "doc_id")},
       |agg AS (
       |  SELECT doc_id,
       |    string_agg(block_text, ' ' ORDER BY block_idx) AS clean_text,
       |    count(*)::BIGINT AS n_blocks
       |  FROM hb WHERE NOT is_boilerplate GROUP BY doc_id)
       |SELECT doc_id, clean_text, n_blocks,
       |  length(clean_text)::BIGINT AS n_chars,
       |  ('0x' || substr(md5(clean_text), 1, 15))::BIGINT AS fingerprint
       |FROM agg""".stripMargin
  }

  // ------------------------------------ q142 deterministic corpus shuffle

  private val ShuffleSeed = "graft-r15"

  /** q142: seeded reproducible global permutation
    * (operators.CorpusShuffle) — the training-order shuffle. The oracle
    * replays the identical h60 order as one naive global window, so any
    * divergence in the two-phase offset machinery (partition counts,
    * offsets, local indexing) hash-mismatches. Changing the seed is a
    * different permutation; same seed is bit-identical anywhere. */
  def q142CorpusShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusShuffle.permute(
      Tables.documents(s, dir).select(col("doc_id")),
      col("doc_id"), ShuffleSeed)

  val q142Sql: String =
    s"""SELECT doc_id, row_number() OVER (
       |  ORDER BY ('0x' || substr(md5('$ShuffleSeed|' || doc_id), 1, 15))::BIGINT,
       |    doc_id) AS shuffle_pos
       |FROM documents""".stripMargin

  // --------------------------------- q141 trained quality classifier

  /** The deterministic "bad page" corruption: a spam/boilerplate
    * template appended to the document (the label-correlated signal a
    * real quality classifier learns — promo phrasing), ×3. */
  private[graft] val SpamTemplate =
    " click here buy now best free offer www promo"
  private[graft] val BadMod = 4

  private[graft] def qualityFixture(s: SparkSession, dir: String): DataFrame = {
    val bad = pmod(col("doc_id"), lit(BadMod)) === 0
    // spread: the hashed-trigram explode (q141's fit+score) runs
    // single-task off the one-row-group scan otherwise
    Tables.spread(s, Tables.documents(s, dir)).select(
      col("doc_id"),
      when(bad, lit("bad")).otherwise(lit("good")).as("label"),
      when(bad, concat(lower(col("text")), repeat(lit(SpamTemplate), 3)))
        .otherwise(lower(col("text"))).as("text"))
  }

  /** q141: trained quality classifier (text.QualityClassifier — binary
    * NB over HASHED char-trigram buckets, the fastText posture, integer
    * Q20 fixed-point). Labels are synthesized deterministically
    * (doc_id % 4 → spam-template corruption), so the decision is
    * learnable AND oracle-replayable: the oracle re-fits the identical
    * model in SQL — same split hash, same feature hashing, same
    * smoothing, same argmax — and hashes the held-out predictions.
    * Held-out accuracy ≫ the 75% majority class (measured in
    * QualityClassifierSpec and the round notes). */
  def q141QualityNb(s: SparkSession, dir: String): DataFrame =
    graft.text.QualityClassifier.predictions(qualityFixture(s, dir))

  /** The full NB-refit oracle over the quality fixture, scoring the
    * docs selected by `scoreWhere` (NOT is_train for q141's held-out
    * gate; TRUE for q146's score-everything stream) with the model
    * fit on the train slice. */
  private[graft] def qualitySqlFor(scoreWhere: String): String = {
    import graft.text.LangIdNB.{ilogDuckSql => L}
    import graft.text.QualityClassifier.NBuckets
    val h5 = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $BadMod = 0 THEN 'bad' ELSE 'good' END AS label,
       |    CASE WHEN doc_id % $BadMod = 0
       |         THEN lower(text) || repeat('$SpamTemplate', 3)
       |         ELSE lower(text) END AS t,
       |    ($h5) <> 0 AS is_train
       |  FROM documents),
       |gr AS (
       |  SELECT doc_id, label, is_train,
       |    ('0x' || substr(md5(substr(t, u.i, 3)), 1, 15))::BIGINT % $NBuckets AS b
       |  FROM d, unnest(generate_series(1, length(t) - 2)) AS u(i)),
       |tg AS (SELECT label, b, count(*)::BIGINT AS c
       |       FROM gr WHERE is_train GROUP BY 1, 2),
       |lt AS (
       |  SELECT s.label, s.tot, n.ndocs
       |  FROM (SELECT label, sum(c)::BIGINT AS tot FROM tg GROUP BY 1) s
       |  JOIN (SELECT label, count(*)::BIGINT AS ndocs
       |        FROM d WHERE is_train GROUP BY 1) n USING (label)),
       |vv AS (SELECT count(DISTINCT b)::BIGINT AS v FROM tg),
       |tsg AS (SELECT doc_id, b, count(*)::BIGINT AS tf
       |        FROM gr WHERE $scoreWhere GROUP BY 1, 2),
       |dn AS (SELECT doc_id, coalesce(greatest(length(t) - 2, 0), 0)::BIGINT AS n
       |       FROM d WHERE $scoreWhere),
       |m AS (
       |  SELECT t.doc_id, tg.label, sum(t.tf * ${L("tg.c + 1")})::BIGINT AS mterm
       |  FROM tsg t JOIN tg USING (b) GROUP BY 1, 2),
       |sc AS (
       |  SELECT dn.doc_id, lt.label,
       |    (${L("lt.ndocs")} + coalesce(m.mterm, 0)
       |      - dn.n * ${L("lt.tot + vv.v")})::BIGINT AS score_fp
       |  FROM dn CROSS JOIN vv CROSS JOIN lt
       |  LEFT JOIN m ON m.doc_id = dn.doc_id AND m.label = lt.label)
       |SELECT doc_id, label AS quality_pred, score_fp FROM sc
       |QUALIFY row_number() OVER (
       |  PARTITION BY doc_id ORDER BY score_fp DESC, label ASC) = 1""".stripMargin
  }

  val q141Sql: String = qualitySqlFor("NOT is_train")

  // ------------------------------------- q139 URL canonicalization dedup

  /** URL-level dedup (text.UrlCanonical) — the first, cheapest dedup
    * stage of web-corpus curation: collapse cosmetic URL variants
    * BEFORE any content pass. The messy URLs are synthesized
    * deterministically from doc_id — three variant classes by residue,
    * all canonicalizing to the same logical URL — now exercising every
    * normalization axis: scheme/host case, default ports, trailing
    * slash, fragments, tracking params, param order, PLUS (r15)
    * percent-escape case (`%2f` vs `%2F`), unreserved-escape decode
    * (`%7Eusr` vs `~usr`), and IDN hosts (`BÜCHER.example` vs
    * `xn--bcher-kva.example`). The oracle builds the identical strings
    * and replays the identical string algebra
    * (UrlCanonical.duckCanonCtes; the IDN labels via its fixture
    * vocabulary, since DuckDB has no punycode), so a canonicalization
    * rule that diverges between spellings hash-mismatches. Output: one
    * row per canonical URL with its variant count and first holder. */
  /** The q139/q144 messy-URL fixture column (three variant classes by
    * doc_id residue — see q139's scaladoc). */
  private[queries] def messyUrlCol: org.apache.spark.sql.Column =
    messyUrlColFor(col("doc_id"))

  /** [[messyUrlCol]] over an ARBITRARY id expression (r19): the
    * redirect fixture points captures at OTHER docs' URLs
    * (doc_id ± k), so the URL algebra must be a function of the id,
    * not of the row. */
  private[queries] def messyUrlColFor(
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val d13 = pmod(id, lit(13)).cast("string")
    val d17 = pmod(id, lit(17)).cast("string")
    val v = pmod(id, lit(3))
    concat(
      when(v === 1, lit("HTTP")).otherwise(lit("http")), lit("://"),
      lit("site"), d13, lit("."),
      when(v === 1, lit("BÜCHER")).otherwise(lit("xn--bcher-kva")),
      lit(".example"),
      when(v === 2, lit(":80")).otherwise(lit("")),
      lit("/Page/"), d17,
      when(v === 0, lit("/~usr"))
        .when(v === 1, lit("/%7Eusr/")).otherwise(lit("/%7eusr")),
      when(v === 2, lit("?utm_source=feed&b=2%2f2&a=1"))
        .when(v === 1, lit("?b=2%2f2&a=1")).otherwise(lit("?b=2%2F2&a=1")),
      // a redirect param embedding an ABSOLUTE URL — identical in every
      // variant class (so they still collapse), present so the gate
      // exercises the first-'://' parse: a last-'://' split re-rooted
      // host/path on dest.example (ADVICE r15)
      lit("&next=http://dest.example/x"),
      when(v === 2, lit("#sec")).otherwise(lit("")))
  }

  def q139UrlDedup(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), messyUrlCol.as("url"))
      .select(col("doc_id"),
        graft.text.UrlCanonical.canonicalize(col("url")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
  }

  /** The messy-URL fixture as a bare SQL expression over `doc_id` —
    * shared by the mk CTE and the html fixture's self-referential
    * canonical link (r18). A `def`, not a `val`: SQL vals earlier in
    * this object's init order splice it (the q166Sql object-init
    * lesson). */
  private[queries] def messyUrlSqlExpr: String = messyUrlSqlExprFor("doc_id")

  /** [[messyUrlSqlExpr]] over an arbitrary id expression (r19 — the
    * redirect fixture's twin; `id` must be non-negative: SQL `%` is not
    * pmod on negatives). */
  private[queries] def messyUrlSqlExprFor(id: String): String =
      s"""(CASE WHEN $id % 3 = 1 THEN 'HTTP' ELSE 'http' END) || '://' ||
        |    'site' || ($id % 13) || '.' ||
        |    (CASE WHEN $id % 3 = 1 THEN 'BÜCHER' ELSE 'xn--bcher-kva' END) ||
        |    '.example' ||
        |    (CASE WHEN $id % 3 = 2 THEN ':80' ELSE '' END) ||
        |    '/Page/' || ($id % 17) ||
        |    (CASE WHEN $id % 3 = 0 THEN '/~usr'
        |          WHEN $id % 3 = 1 THEN '/%7Eusr/' ELSE '/%7eusr' END) ||
        |    (CASE WHEN $id % 3 = 2 THEN '?utm_source=feed&b=2%2f2&a=1'
        |          WHEN $id % 3 = 1 THEN '?b=2%2f2&a=1'
        |          ELSE '?b=2%2F2&a=1' END) ||
        |    '&next=http://dest.example/x' ||
        |    (CASE WHEN $id % 3 = 2 THEN '#sec' ELSE '' END)""".stripMargin

  /** q139/q144 shared oracle fixture CTE. */
  private[queries] def messyUrlMkCte: String =
    s"""mk AS (
       |  SELECT doc_id,
       |    $messyUrlSqlExpr AS url
       |  FROM documents)""".stripMargin

  val q139Sql: String =
    s"""WITH $messyUrlMkCte,
       |${graft.text.UrlCanonical.duckCanonCtes("mk", "doc_id", DuckIdn)}
       |SELECT canon AS canonical_url, count(*) AS n_urls,
       |  min(doc_id) AS first_doc
       |FROM u4 GROUP BY canon""".stripMargin

  val queries: Map[String, Q] = Map(
    "q176_redirect_chains" -> q176RedirectChains,
    "q177_consolidation_key" -> q177ConsolidationKey,
    "q180_index_eligibility" -> q180IndexEligibility,
    "q183_consolidated_corpus" -> q183ConsolidatedCorpus,
    "q166_wet_roundtrip" -> q166WetRoundtrip,
    "q170_meta_robots" -> q170MetaRobots,
    "q174_robots_directives" -> q174RobotsDirectives,
    "q175_meta_refresh" -> q175MetaRefresh,
    "q163_revisit_resolve" -> q163RevisitResolve,
    "q152_warcgz_index" -> q152WarcGzStoredIndex,
    "q149_nfkc_normalize" -> q149NfkcNormalize,
    "q148_warcgz_read" -> q148WarcGzRead,
    "q144_host_stats" -> q144HostStats,
    "q143_curation_e2e" -> q143CurationE2e,
    "q142_corpus_shuffle" -> q142CorpusShuffle,
    "q141_quality_nb" -> q141QualityNb,
    "q140_html_blocks" -> q140HtmlBlocks,
    "q139_url_dedup" -> q139UrlDedup,
    "q136_warc_read" -> q136WarcRead,
    "q120_pmi"       -> q120Pmi,
    "q98_fluency"    -> q98Fluency,
    "q82_chunks"     -> q82Chunks,
    "q83_blocklist"  -> q83Blocklist,
    "q84_source_cap" -> q84SourceCap,
    "q85_postings"   -> q85Postings,
    "q87_fuzzy_terms" -> q87FuzzyTerms,
  )

  // lazy, like the oracles that compose WebGraphOps's link-signal
  // builders: WebGraphOps's own oracles read CorpusOps while they are
  // built, so CorpusOps's constructor must not start WebGraphOps's (a
  // cycle would hand WebGraphOps half-built CorpusOps vals)
  lazy val oracles: Map[String, String] = Map(
    "q176_redirect_chains" -> q176Sql,
    "q177_consolidation_key" -> q177Sql,
    "q180_index_eligibility" -> q180Sql,
    "q183_consolidated_corpus" -> q183Sql,
    "q166_wet_roundtrip" -> q166Sql,
    "q170_meta_robots" -> q170Sql,
    "q174_robots_directives" -> q174Sql,
    "q175_meta_refresh" -> q175Sql,
    "q163_revisit_resolve" -> q163Sql,
    "q152_warcgz_index" -> q136Sql,
    "q149_nfkc_normalize" -> q149Sql,
    "q148_warcgz_read" -> q136Sql,
    "q144_host_stats" -> q144Sql,
    "q143_curation_e2e" -> q143Sql,
    "q142_corpus_shuffle" -> q142Sql,
    "q141_quality_nb" -> q141Sql,
    "q140_html_blocks" -> q140Sql,
    "q139_url_dedup" -> q139Sql,
    "q136_warc_read" -> q136Sql,
    "q120_pmi"       -> q120Sql,
    "q98_fluency"    -> q98Sql,
    "q82_chunks"     -> q82Sql,
    "q83_blocklist"  -> q83Sql,
    "q84_source_cap" -> q84Sql,
    "q85_postings"   -> q85Sql,
    "q87_fuzzy_terms" -> q87Sql,
  )
}
