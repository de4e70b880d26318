package graft.olhovivo

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
import org.apache.spark.sql.functions.{col, timestamp_seconds, to_date}

/** EP2 tests: fixture JSON day per FIXTURES.md §1 — nominal polls, one
  * corrupt file (F2 isolation), a vehicle missing `a` (typed null), and
  * the E1 timestamp parse checked against java.time (independent of the
  * Spark code path). */
class IngestPositionsSpec extends SparkTestBase {

  private def writeDay(dir: Path): Unit = {
    val hourDir = dir.resolve("year=2025/month=03/day=06/hour=14")
    Files.createDirectories(hourDir)
    Files.writeString(hourDir.resolve("data_20250306_143200.json"),
      """{"hr": "14:32", "l": [
        |  {"c": "5015-10", "cl": 33887, "sl": 2,
        |   "lt0": "JD. SAO JORGE", "lt1": "METRO JABAQUARA",
        |   "vs": [
        |     {"p": "68546", "a": true, "ta": "2025-03-06T14:31:48Z",
        |      "py": -23.6787125, "px": -46.65674},
        |     {"p": "68012", "a": false, "ta": "2025-03-06T14:31:02Z",
        |      "py": -23.5505, "px": -46.6333}]}]}""".stripMargin)
    Files.writeString(hourDir.resolve("data_20250306_143300.json"),
      """{"hr": "14:33", "l": [
        |  {"c": "701U-10", "cl": 101, "sl": 1, "lt0": "X", "lt1": "Y",
        |   "vs": [{"p": "11111", "ta": "2025-03-06T14:32:40Z",
        |           "py": -23.5, "px": -46.6}]}]}""".stripMargin) // `a` missing
    Files.writeString(hourDir.resolve("data_corrupt.json"),
      """{"hr": "14:34", "l": [ TRUNCATED GARBAGE""")
  }

  test("EP2 flatten: two-level unnest, renames, typed null for missing a, corrupt file isolated") {
    val dir = scratchDir("rawday")
    writeDay(dir)
    val flat = IngestPositions.flatten(
      IngestPositions.readRaw(spark, dir.toString + "/year=2025/month=03/day=06"))
    val rows = flat.collect()
    assert(rows.length == 3, s"corrupt file must be skipped, got ${rows.length} rows")

    val bySchema = flat.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(bySchema("timestamp") == "long")
    assert(bySchema("acessibilidade") == "boolean")
    assert(bySchema("codigo_linha") == "integer")

    val r68546 = rows.find(_.getAs[String]("prefixo_veiculo") == "68546").get
    // E1 parity: compare against java.time, not our own Spark expression
    assert(r68546.getAs[Long]("timestamp") ==
      Instant.parse("2025-03-06T14:31:48Z").getEpochSecond)
    assert(r68546.getAs[Boolean]("acessibilidade"))
    assert(r68546.getAs[String]("letreiro") == "5015-10")
    assert(r68546.getAs[Double]("py") == -23.6787125)

    val r11111 = rows.find(_.getAs[String]("prefixo_veiculo") == "11111").get
    assert(r11111.isNullAt(r11111.fieldIndex("acessibilidade")),
      "missing `a` must surface as typed null, not type drift")
  }

  test("EP2 distributed decode: row-identical to the multiLine source, corrupt file isolated") {
    val dir = scratchDir("rawday_dist")
    writeDay(dir)
    val day = dir.toString + "/year=2025/month=03/day=06"
    val viaSource = IngestPositions.flatten(IngestPositions.readRaw(spark, day))
    val viaRedistribute = IngestPositions.flatten(
      IngestPositions.readRawDistributed(spark, day))
    // full-row multiset equality via the order-independent, NULL-distinct
    // fingerprint (a plain anti-join would treat the typed-null
    // acessibilidade row as unmatched: null ≠ null under join equality)
    assert(viaSource.schema == viaRedistribute.schema)
    assert(graft.SpillProbe.fingerprint(viaSource) ==
      graft.SpillProbe.fingerprint(viaRedistribute))
    assert(viaRedistribute.count() == 3)
  }

  test("EP2 run: writes date-partitioned parquet readable with the posicoes schema") {
    val dir = scratchDir("rawday2")
    writeDay(dir)
    val out = scratchDir("posout").toString + "/posicoes"
    IngestPositions.run(spark, dir.toString + "/year=2025/month=03/day=06", out)
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.columns.contains("data"), "output must be partitioned by event date")
    // partition pruning works on the written layout — verify in the PLAN
    // (D1: date-scoped reads must prune, not scan-and-filter)
    val pruned = back.filter(back("data") === "2025-03-06")
    assert(pruned.count() == 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(data"),
      s"date filter did not reach partition pruning:\n$plan")
  }

  /** `n` polls of three vehicles each under one hour of 2025-03-06,
    * every document followed by `pad` bytes of whitespace (valid JSON,
    * so the decoded size grows without adding rows); `.json.gz` single
    * gzip members when `gzip`. Returns the day path. */
  private def writePolls(dir: Path, n: Int, pad: Int = 0, gzip: Boolean = false): String = {
    val hourDir = dir.resolve("year=2025/month=03/day=06/hour=14")
    Files.createDirectories(hourDir)
    (0 until n).foreach { i =>
      val vs = (0 until 3).map { v =>
        f"""{"p": "${1000 * v + i}", "a": ${v != 1}, "ta": "2025-03-06T14:${i % 60}%02d:0${v}Z",""" +
          s""" "py": -23.5$i$v, "px": -46.6$v$i}"""
      }.mkString("[", ", ", "]")
      val doc = s"""{"hr": "14:00", "l": [{"c": "L$i", "cl": $i, "sl": 1,""" +
        s""" "lt0": "A", "lt1": "B", "vs": $vs}]}""" + " " * pad
      val bytes = doc.getBytes("UTF-8")
      if (gzip) {
        val out = new GZIPOutputStream(Files.newOutputStream(hourDir.resolve(f"poll_$i%03d.json.gz")))
        try out.write(bytes) finally out.close()
      } else Files.write(hourDir.resolve(f"poll_$i%03d.json"), bytes)
    }
    dir.toString + "/year=2025/month=03/day=06"
  }

  private def distributed(day: String): Boolean =
    IngestPositions.readRawAdaptive(spark, day).queryExecution.logical
      .exists(_.isInstanceOf[RepartitionOperation])

  private def partFiles(out: String): Seq[Path] = {
    val walk = Files.walk(java.nio.file.Paths.get(out))
    try walk.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toList
    finally walk.close()
  }

  /** `run`'s output holds exactly the rows of the unpacked multiLine
    * read, date column included. */
  private def assertRunRows(day: String, out: String, rows: Long): Unit = {
    val expected = IngestPositions.flatten(IngestPositions.readRaw(spark, day))
      .withColumn("data", to_date(timestamp_seconds(col("timestamp"))))
    val fp = graft.SpillProbe.fingerprint(spark.read.parquet(out))
    assert(fp == graft.SpillProbe.fingerprint(expected))
    assert(fp._2 == rows)
  }

  test("EP2 seam, small polls: multiLine read, write packed to at most one task per core") {
    val day = writePolls(scratchDir("rawday_small"), 200)
    val cores = spark.sparkContext.defaultParallelism
    // unpacked, the JSON source's 4 MB per-file open cost caps a
    // 128 MB split at 32 polls, so 200 polls take 7 tasks
    assert(IngestPositions.readRaw(spark, day).rdd.getNumPartitions > cores)
    assert(!distributed(day))
    val out = scratchDir("posout_small").toString + "/posicoes"
    IngestPositions.run(spark, day, out)
    val parts = partFiles(out)
    assert(parts.nonEmpty && parts.size <= cores, s"${parts.size} part files")
    assertRunRows(day, out, 600)
  }

  test("EP2 seam, fat polls: an average document of FatDocBytes takes the distributed decode") {
    val day = writePolls(scratchDir("rawday_fat"), 2, pad = IngestPositions.FatDocBytes.toInt)
    assert(distributed(day))
    val out = scratchDir("posout_fat").toString + "/posicoes"
    IngestPositions.run(spark, day, out)
    assertRunRows(day, out, 6)
  }

  test("EP2 seam, gzip poll: the ISIZE trailer, not the on-disk length, sizes the document") {
    val raw = scratchDir("rawday_gz")
    val day = writePolls(raw, 1, pad = IngestPositions.FatDocBytes.toInt, gzip = true)
    val gz = Files.list(raw.resolve("year=2025/month=03/day=06/hour=14"))
      .iterator.asScala.toList
    assert(gz.size == 1 && Files.size(gz.head) < IngestPositions.FatDocBytes)
    assert(distributed(day))
    val out = scratchDir("posout_gz").toString + "/posicoes"
    IngestPositions.run(spark, day, out)
    assertRunRows(day, out, 3)
  }
}
