package graft.text


import org.apache.spark.sql.functions._
import graft.olhovivo.SparkTestBase

/** Trained NB language-ID semantics: trigram extraction vs a Scala
  * reference, the Q20 integer log2's accuracy/monotonicity contract,
  * and an end-to-end prediction check on a corpus whose languages have
  * disjoint character distributions. */
class LangIdNBSpec extends SparkTestBase {
  import spark.implicits._

  test("charTrigrams matches sliding(3) on lowercased text; short/null-safe") {
    val rows = Seq("Hello, World", "ab", "abc", "", "ábç déf").toDF("text")
      .select(LangIdNB.charTrigrams($"text").as("g"))
      .collect().map(_.getSeq[String](0))
    def ref(s: String): Seq[String] =
      if (s.length < 3) Seq.empty else s.toLowerCase.sliding(3).toSeq
    val expected = Seq("Hello, World", "ab", "abc", "", "ábç déf").map(ref)
    assert(rows.toSeq == expected)
    // null text → empty array, no crash
    val n = Seq((1L, null: String)).toDF("id", "text")
      .select(LangIdNB.charTrigrams($"text").as("g")).head().getSeq[String](0)
    assert(n.isEmpty)
  }

  test("Q20 integer log2: exact at powers of two, strictly monotone, within 0.09 bits") {
    val xs = (1L to 4096L) ++ Seq(1L << 20, (1L << 20) + 7, 123456789L,
      // the overflow-free form must hold over the full h60 range
      (1L << 59) + 12345L, (1L << 60) - 1, Long.MaxValue - 1)
    val ls = xs.toDF("x")
      .select($"x", expr(LangIdNB.ilogSparkSql("x")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp = LangIdNB.FP.toDouble
    xs.foreach { x =>
      val err = math.abs(ls(x) / fp - math.log(x.toDouble) / math.log(2))
      assert(err <= 0.09, s"L($x)=${ls(x)} off by $err bits")
      if ((x & (x - 1)) == 0) // power of two → exact
        assert(ls(x) == (java.lang.Long.numberOfTrailingZeros(x).toLong << 20))
    }
    (1L until 4096L).foreach { x =>
      assert(ls(x) < ls(x + 1), s"L not strictly monotone at $x")
    }
  }

  test("NB predictions: disjoint-charset languages classified correctly; one row per held-out doc") {
    // 'aa' docs vs 'zz' docs: any reasonable trained model separates them
    val docs = (0L until 40L).map { i =>
      val lang = if (i % 2 == 0) "aa" else "zz"
      val text = if (lang == "aa") "abab ababab abba abab" else "zyzy zyzyzy zyyz zyzy"
      (i, text, lang)
    }.toDF("doc_id", "text", "lang")
    val pred = LangIdNB.predictions(docs)
    val test = docs.filter(!LangIdNB.isTrain($"doc_id"))
    assert(pred.count() == test.count(), "exactly one prediction per held-out doc")
    assert(test.count() > 0 && test.count() < 40, "split must be non-degenerate")
    val joined = pred.join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
    assert(joined.filter($"lang_pred" =!= $"lang").count() == 0,
      "disjoint charsets must classify perfectly")
  }

  test("correlated fixture (q135): distinct per-language rotations; held-out accuracy 100% on testdata") {
    // the gate-facing discrimination claim as a regression: the rotation
    // offsets of the five testdata labels are pairwise distinct (the
    // 'graft' salt was CHOSEN for that — a collision merges two
    // languages), and the NB model recovers every held-out label on the
    // sf0.001 corpus (majority-class chance is ~44%)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val pred = graft.queries.TextOps.q135LangIdCorr(spark, "/root/testdata/sf0.001")
    val joined = pred.join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
    val (right, total) = (joined.filter($"lang_pred" === $"lang").count(), joined.count())
    assert(total > 0)
    assert(right == total, s"correlated-LID accuracy $right/$total, expected 100%")
  }

  test("argmax tie-break is deterministic: score DESC then lang ASC") {
    // identical training text AND equal per-language train doc counts →
    // every held-out score ties EXACTLY across languages (same prior,
    // same tot, same matches), so the winner must be the
    // lexicographically smaller lang
    val flags = (0L until 100L).toDF("doc_id")
      .select($"doc_id", LangIdNB.isTrain($"doc_id").as("t"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val trainIds = (0L until 100L).filter(flags)
    val testIds = (0L until 100L).filterNot(flags)
    assert(trainIds.size >= 10 && testIds.size >= 2)
    val rows =
      trainIds.take(5).map((_, "same same same", "bb")) ++
      trainIds.slice(5, 10).map((_, "same same same", "aa")) ++
      testIds.take(2).map((_, "same same same", "zz"))
    val docs = rows.toDF("doc_id", "text", "lang")
    val pred = LangIdNB.predictions(docs).collect()
    assert(pred.length == 2)
    assert(pred.forall(_.getString(1) == "aa"))
  }

  test("scoreAll restricted to the held-out slice ≡ predictions; n is the trigram count") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "der schnelle braune fuchs springt", "de"),
      (3L, "the lazy dog sleeps all day long", "en"),
      (4L, "ein fauler hund schlaeft den ganzen tag", "de"),
      (5L, "quick brown things and lazy ones", "en"),
      (10L, "springt der fuchs ueber den hund", "de"),
      (15L, "ab", "en"), // < 3 chars → n = 0, still scored
      (16L, "İstanbul", "en")) // lower() makes `İ` two characters
      .toDF("doc_id", "text", "lang")
    val all = LangIdNB.scoreAll(docs)
    assert(all.columns.toSeq == Seq("doc_id", "lang_pred", "score_fp", "n"))
    assert(all.count() == docs.count(), "scoreAll must score every doc")
    val nmap = all.select($"doc_id", $"n").as[(Long, Long)].collect().toMap
    assert(nmap(15L) == 0)
    assert(nmap(1L) == "the quick brown fox jumps over the lazy dog".length - 2)
    val grams = docs.select($"doc_id", size(LangIdNB.charTrigrams($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(nmap == grams, "n must equal the trigram count of every doc")
    val held = all.filter(!LangIdNB.isTrain($"doc_id")).drop("n")
    val pred = LangIdNB.predictions(docs)
    assert(held.except(pred).count() == 0 && pred.except(held).count() == 0)
  }
}
