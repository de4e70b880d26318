package graft.olhovivo

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** End-to-end job test (SURVEY.md §5 item 5): synthetic raw JSON day →
  * EP2 (flatten to date-partitioned parquet) → EP3 (three CSV outputs),
  * including a corrupt poll and a cross-midnight `ta`. */
class EndToEndSpec extends SparkTestBase {

  private def writeDay(dir: Path): Unit = {
    val hourDir = dir.resolve("year=2025/month=03/day=06/hour=23")
    Files.createDirectories(hourDir)
    // Vehicle 1001 moves steadily (3 polls, ~100 s apart, slow speed);
    // vehicle 2002 has one hop; one poll carries a ta just past midnight
    // (event-time lands on 2025-03-07 — the reference's day-boundary
    // wart, SURVEY.md §2.3).
    def poll(name: String, body: String): Unit =
      Files.writeString(hourDir.resolve(name), body)
    def snap(ts: String, p: String, py: Double, px: Double): String =
      s"""{"c": "L1", "cl": 1, "sl": 1, "lt0": "A", "lt1": "B",
         | "vs": [{"p": "$p", "a": true, "ta": "$ts", "py": $py, "px": $px}]}"""
        .stripMargin
    poll("data_a.json", s"""{"hr": "23:57", "l": [${snap("2025-03-06T23:57:00Z", "1001", -23.5500, -46.6300)}, ${snap("2025-03-06T23:57:00Z", "2002", -23.5800, -46.6400)}]}""")
    poll("data_b.json", s"""{"hr": "23:58", "l": [${snap("2025-03-06T23:58:40Z", "1001", -23.5501, -46.6300)}]}""")
    poll("data_c.json", s"""{"hr": "23:59", "l": [${snap("2025-03-06T23:59:50Z", "1001", -23.5502, -46.6300)}, ${snap("2025-03-07T00:00:10Z", "2002", -23.5801, -46.6400)}]}""")
    poll("data_corrupt.json", """{"hr": "23:59", "l": [ NOT JSON""")
  }

  test("EP2 → EP3: full day through both jobs, three CSV outputs") {
    val raw = scratchDir("e2e-raw")
    writeDay(raw)
    val posOut = scratchDir("e2e-pos").toString + "/posicoes"
    IngestPositions.run(spark, raw.toString + "/year=2025/month=03/day=06", posOut)

    val back = spark.read.parquet(posOut)
    assert(back.count() == 5, "4 valid snapshots → 5 vehicle rows, corrupt poll skipped")
    // day-boundary: 2002's second obs lands on the NEXT event-date
    assert(back.filter(back("data") === "2025-03-07").count() == 1)

    val outBase = scratchDir("e2e-out").toString
    val counts = AverageSpeeds.run(spark, posOut, LocalDate.of(2025, 3, 6),
      outBase, SpeedPipeline.SpeedConf())
    // vehicle 1001: 3 obs on 03-06 → 2 hops; 2002's pair is split across
    // event-dates, so the 03-06 run sees only its first obs → no hop
    assert(counts("velocidades_agregadas") == 1L,
      s"one vehicle×interval group expected, got $counts")
    assert(counts("lentidao") == 2L, "1001's two slow hops (~1.1 m/s and ~1.6? no: <1.4)")
    assert(counts("acessiveis") == 1L)

    val agg = spark.read.option("header", "true")
      .csv(AverageSpeeds.aggPath(outBase, LocalDate.of(2025, 3, 6)))
    assert(agg.columns.toSeq == AverageSpeeds.aggCols)
    val row = agg.collect().head
    assert(row.getAs[String]("prefixo_veiculo") == "1001")
    assert(row.getAs[String]("intervalo") == "23:30-00:00")
    // tempo = 100 + 70 = 170 s total
    assert(row.getAs[String]("tempo") == "170")
  }

  test("EP3 on a date with no positions: every output counts 0 and the counts return") {
    val raw = scratchDir("e2e-empty-raw")
    writeDay(raw)
    val posOut = scratchDir("e2e-empty-pos").toString + "/posicoes"
    IngestPositions.run(spark, raw.toString + "/year=2025/month=03/day=06", posOut)
    val outBase = scratchDir("e2e-empty-out").toString
    // each count is an observed metric of its write; a metric that never
    // arrives would block the run, so bound it
    val counts = Await.result(Future(AverageSpeeds.run(spark, posOut,
      LocalDate.of(2025, 3, 9), outBase, SpeedPipeline.SpeedConf(), writePerHop = true))(
      ExecutionContext.global), 120.seconds)
    assert(counts == Map("velocidades_agregadas" -> 0L, "lentidao" -> 0L,
      "acessiveis" -> 0L, "velocidades" -> 0L))
  }
}
