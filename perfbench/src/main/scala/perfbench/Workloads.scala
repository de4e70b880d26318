package perfbench

/** The query lists of the `query-mix` workload. */
object Workloads {

  /** The `SparkEntry` query families, by the object that declares them. */
  val families: Seq[(String, Map[String, _])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Analytics" -> graft.queries.Analytics.queries,
    "OlhoVivo" -> graft.queries.OlhoVivo.queries,
    "TextOps" -> graft.queries.TextOps.queries,
    "DedupOps" -> graft.queries.DedupOps.queries,
    "VectorOps" -> graft.queries.VectorOps.queries,
    "Temporal" -> graft.queries.Temporal.queries,
    "CorpusOps" -> graft.queries.CorpusOps.queries,
    "Extras" -> graft.queries.Extras.queries,
    "MultimodalOps" -> graft.queries.MultimodalOps.queries,
    "StreamingOps" -> graft.queries.StreamingOps.queries,
    "SqlText" -> graft.queries.SqlText.queries,
    "ScaleOps" -> graft.queries.ScaleOps.queries,
    "GraphOps" -> graft.queries.GraphOps.queries,
    "WebGraphOps" -> graft.queries.WebGraphOps.queries)

  def family(query: String): String =
    families.collectFirst { case (f, qs) if qs.contains(query) => f }.getOrElse("unknown")

  /** Stage 1: one query per operator layer of the LLM-corpus chain (WARC
    * read, HTML extraction, URL canonicalisation, PageRank, connected
    * components, MinHash, LSH and the two naive-Bayes classifiers), each
    * tagged with that operator. They cover five query families. */
  val operators: Seq[(String, String)] = Seq(
    "q136_warc_read" -> "Warc.readExact",
    "q140_html_blocks" -> "HtmlExtract",
    "q150_outlinks" -> "UrlCanonical",
    "q110_pagerank" -> "PageRank.run",
    "q47_dedup_clusters" -> "ConnectedComponents.components",
    "q41_minhash_sig" -> "Dedup.minhashSignature",
    "q42_lsh_candidates" -> "Dedup.lshBands",
    "q141_quality_nb" -> "QualityClassifier",
    "q131_langid_nb" -> "LangIdNB")

  /** Stage 2: one small query of each of the other ten families, tagged
    * with its family; their time is mostly per-query fixed cost
    * (planning, job count, eager checkpoints). */
  val small: Seq[(String, String)] = Seq(
    "q02_filter_pushdown", "q25_window_suite", "q24_strict_limit", "q56_l2_normalize",
    "q74_asof_native", "q34_data_split", "q69_image_resize", "q102_sql_dot",
    "q138_warc_stream", "q103_bucketed_join").map(q => q -> family(q))

  val queryMix: Seq[(String, String)] = operators ++ small
}
