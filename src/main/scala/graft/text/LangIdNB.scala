package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** TRAINED language ID: multinomial naive Bayes over character
  * 3-grams, fit as grouped aggregations (the [[TextAnalysis.langId]]
  * stopword heuristic's statistical upgrade — stopword hits miss short
  * and no-stopword text entirely; a char-n-gram model scores every
  * string with ≥ 3 characters).
  *
  * Integer-exact by construction (the Fluency/Repetition discipline —
  * no float log anywhere, so the cross-engine compare needs no
  * tolerance): log2 probabilities are presented in Q20 FIXED POINT via
  * the first-order integer log2
  *
  *   L(x) = (b−1)·2²⁰ + (x·2²⁰) div 2^(b−1) − 2²⁰,  b = bitlength(x)
  *
  * (exact at powers of two, strictly monotone, max error 0.086 bits —
  * an order-preserving log2 everywhere it is used), computed with
  * `bin()`/`length()`/integer division only, which Spark and DuckDB
  * evaluate identically. A document's class score is then
  *
  *   score(d, lang) = L(docs_lang)                      — prior
  *     + Σ_g tf(d,g) · L(c_{lang,g} + 1)                — likelihood
  *     − n(d) · L(tot_lang + V)                         — smoothing denom
  *
  * i.e. add-one-smoothed multinomial NB with every log2 replaced by L.
  *
  * Scale shape (100 TB): the model is VOCAB-bounded — (lang × trigram)
  * rows, charset³-bounded regardless of corpus size — so the scoring
  * join broadcasts it; the fit is one explode + one grouped count; V
  * and the per-language totals stay in-plan as 1-row/|langs|-row
  * broadcast relations (zero driver collects, unlike the BPE trainer's
  * model-bounded collect). Train/score split is the portable h60 hash
  * of doc_id (80/20), so the oracle replays the exact split.
  *
  * On the synthetic gate corpus the `lang` labels are uncorrelated
  * with the text (all languages share one vocabulary), so measured
  * accuracy is chance — the gate checks the TRAINING + SCORING
  * machinery end-to-end (counts, smoothing, fixed-point log, argmax),
  * which is what transfers to real corpora.
  */
object LangIdNB {

  /** Q20 fixed-point scale of the integer log2. */
  val FP: Long = 1L << 20

  /** The L(x) template, Spark-SQL spelling (`div`, `shiftleft`). `x`
    * must be a non-negative BIGINT fragment; valid for the WHOLE
    * non-negative int64 range: the mantissa term (x·2²⁰) div 2^(b−1)
    * is computed as a single shift in whichever direction b−1−20
    * points, so x·2²⁰ is never materialized (a 60-bit hash input
    * overflowed the naive form — q132). Integer-identical to the naive
    * form wherever that form didn't overflow. */
  def ilogSparkSql(x: String): String = {
    val b1 = s"(length(bin($x)) - 1)"
    s"(cast($b1 as bigint) * ${FP}L" +
      s" + (CASE WHEN $b1 >= 20" +
      s" THEN ($x) div shiftleft(cast(1 as bigint), $b1 - 20)" +
      s" ELSE ($x) * shiftleft(cast(1 as bigint), 20 - $b1) END)" +
      s" - ${FP}L)"
  }

  /** The L(x) template, DuckDB spelling (`//`, `<<`). */
  def ilogDuckSql(x: String): String = {
    val b1 = s"(length(bin(($x)::BIGINT)) - 1)"
    s"($b1 * $FP" +
      s" + (CASE WHEN $b1 >= 20" +
      s" THEN ($x) // (1::BIGINT << ($b1 - 20))" +
      s" ELSE ($x) * (1::BIGINT << (20 - $b1)) END)" +
      s" - $FP)"
  }

  /** Character 3-grams of lowercased text; empty array below 3 chars
    * (guarded so `sequence` can never see start > stop and descend). */
  def charTrigrams(text: Column): Column = {
    val t = lower(text)
    when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
  }

  /** 80/20 train/score split flag on the portable doc_id hash. */
  def isTrain(docId: Column): Column =
    Portable.h60(docId.cast("string")) % 5 =!= 0

  /** Fit on the h60-train slice and score the held-out slice:
    * (doc_id, lang_pred, score_fp). */
  def predictions(docs: DataFrame): DataFrame =
    scoreWith(docs, docs.filter(!isTrain(col("doc_id"))))
      .select(col("doc_id"), col("lang_pred"), col("score_fp"))

  /** Fit on the h60-train slice and score EVERY document — the deployed
    * routing posture (q153's CCNet composition: a router doesn't skip
    * documents it trained on): (doc_id, lang_pred, score_fp, n), where
    * `n` is the document's trigram count — the length normalizer that
    * per-language thresholds divide the LM score by. */
  def scoreAll(docs: DataFrame): DataFrame = scoreWith(docs, docs)

  private def scoreWith(docs: DataFrame, toScore: DataFrame): DataFrame = {
    val L: String => Column = s => expr(ilogSparkSql(s))
    val train = docs.filter(isTrain(col("doc_id")))
    val test = toScore

    // explode_outer + null-drop on the generator OUTPUT (the Fluency
    // pattern): a bare explode over the guarded trigram array would let
    // InferFiltersFromGenerate inline the whole array expression into an
    // interpreted pushed-down Filter (the q41 ~70× trap)
    def grams(df: DataFrame, key: Column): DataFrame = df
      .select(key.as("k"), explode_outer(charTrigrams(col("text"))).as("g"))
      .filter(col("g").isNotNull)

    // the aggregated model is vocab-bounded (langs × trigrams) but
    // DERIVING it is a full corpus explode — cached so its three
    // consumers (totals, V, the scoring join) pay that pass once
    val scope = graft.CacheScope.scoped()
    val trainGrams = scope.cache(grams(train, col("lang"))
      .groupBy(col("k").as("lang"), col("g")).agg(count(lit(1)).as("c")))
    // per-language totals + doc counts (|langs| rows) and the train
    // vocabulary size V (1 row) stay relations — broadcast, never
    // collected
    val langTot = trainGrams.groupBy(col("lang"))
      .agg(sum(col("c")).as("tot"))
      .join(train.groupBy(col("lang")).agg(count(lit(1)).as("ndocs")),
        Seq("lang"))
    val vocab = trainGrams.select(countDistinct(col("g")).as("v"))

    val testGrams = grams(test, col("doc_id"))
      .groupBy(col("k").as("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
    // per-doc gram total is arithmetic, not an aggregation: a document
    // has exactly max(len − 2, 0) trigrams of its LOWERED text (Spark
    // lowercases `İ` to two characters)
    val docN = test.select(col("doc_id"),
      coalesce(greatest(length(lower(col("text"))) - 2, lit(0)).cast("long"),
        lit(0L)).as("n"))

    // L(x) goes through bin() — a per-row string allocation — so every
    // log weight is precomputed INSIDE the vocab-/|langs|-bounded
    // broadcast relations; the corpus-sized joins only multiply longs
    val model = trainGrams.withColumn("lc", L("c + 1")).drop("c")
    val langW = langTot.crossJoin(vocab)
      .select(col("lang"), L("ndocs").as("prior"), L("tot + v").as("denom"))

    val matched = testGrams
      .join(broadcast(model), Seq("g"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * col("lc")).as("mterm"))

    val scored = docN
      .crossJoin(broadcast(langW))
      .join(matched, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        (col("prior") + coalesce(col("mterm"), lit(0L))
          - col("n") * col("denom")).as("score_fp"),
        col("n"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_fp").desc, col("lang").asc)
    scope.materializeAndRelease(scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"),
        col("score_fp"), col("n")))
  }
}
