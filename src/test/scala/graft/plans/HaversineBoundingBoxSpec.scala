package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Haversine

/** The bounding-box rule must fire on radius predicates (Column API and
  * SQL), keep results identical, and leave non-radius plans untouched.
  * Own session: the rule arrives via withExtensions, proving the
  * spark.sql.extensions wiring end to end. */
class HaversineBoundingBoxSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // other suites may already hold a session without the extensions —
    // getOrCreate would return it and the injected rule would be absent.
    // Clearing the active/default handles forces a fresh session (the
    // SparkContext is still shared).
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.GraftSession.start(graft.GraftSession.builder("local[4]", 4).appName("graft-ext-test"))
  }

  private def pts = {
    import spark.implicits._
    graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .limit(500)
      .select(
        (col("l_quantity") - 25).as("lat1"), (col("l_discount") * 100).as("lon1"),
        (col("l_tax") * 100 - 4).as("lat2"), (col("l_extendedprice") % 90).as("lon2"))
  }

  test("rule injects the latitude bound and results are unchanged") {
    val radius = Haversine.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")) <= 500000.0
    val df = pts.filter(radius)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("abs((lat1"),
      s"bounding-box predicate not injected:\n$optimized")

    // ground truth: same filter evaluated without the rule's help
    val expected = pts.collect().count { r =>
      Haversine.compute(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) <= 500000.0
    }
    assert(df.count() == expected)
  }

  test("fires from SQL too") {
    pts.createOrReplaceTempView("geo_pts")
    val df = spark.sql(
      "SELECT * FROM geo_pts WHERE haversine_m(lat1, lon1, lat2, lon2) < 300000.0")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("abs((lat1"), s"rule did not fire from SQL:\n$optimized")
    assert(df.count() ==
      pts.collect().count(r => Haversine.compute(
        r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) < 300000.0))
  }

  test("idempotent: one bound per predicate, not one per optimizer pass") {
    val df = pts.filter(
      Haversine.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")) <= 100000.0)
    val optimized = df.queryExecution.optimizedPlan.toString
    val occurrences = optimized.sliding("abs((lat1".length).count(_ == "abs((lat1")
    assert(occurrences == 1, s"expected exactly 1 injected bound, got $occurrences:\n$optimized")
  }

  test("disjunctive/negated radius predicates are NOT rewritten (only top-level conjuncts)") {
    val radius = Haversine.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")) <= 500000.0
    // OR: the radius branch does not constrain rows satisfying the other
    // disjunct — injecting a bound would silently drop them.
    val orDf = pts.filter(radius || col("lon1") > 5.0)
    assert(!orDf.queryExecution.optimizedPlan.toString.contains("abs((lat1"),
      "bound must not be injected for a disjunctive radius predicate")
    val expectedOr = pts.collect().count { r =>
      Haversine.compute(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) <= 500000.0 ||
        r.getDouble(1) > 5.0
    }
    assert(orDf.count() == expectedOr)
    // NOT: a negated radius predicate implies the OPPOSITE of the bound.
    val notDf = pts.filter(!radius)
    assert(!notDf.queryExecution.optimizedPlan.toString.contains("abs((lat1"))
    val expectedNot = pts.collect().count { r =>
      !(Haversine.compute(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) <= 500000.0)
    }
    assert(notDf.count() == expectedNot)
    // conjunct alongside other predicates still fires
    val andDf = pts.filter(radius && col("lon1") > -100.0)
    assert(andDf.queryExecution.optimizedPlan.toString.contains("abs((lat1"),
      "top-level conjunct must still get the bound")
  }

  test("non-radius haversine uses stay untouched") {
    val df = pts.select(
      Haversine.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")).as("d"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("abs((lat1"))
  }
}
