package graft.olhovivo

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._

/** EP2 — flatten raw Olho Vivo JSON snapshots into the flat `posicoes`
  * table (reference: etl-olho-vivo-ingestao-posicoes.py:20–75).
  *
  * Spark-first shape (SURVEY.md §3 EP2): schema-enforced JSON scan →
  * Generate(explode l) → Generate(explode vs) → Project(renames + E1
  * timestamp parse). The whole plan is narrow — zero exchanges — so it
  * scales linearly with input files: at 100 TB the scan parallelizes
  * per file-split and nothing ever gathers.
  *
  * Per-file error isolation (reference F2, ingestao:41–65): PERMISSIVE
  * JSON parsing routes each corrupt document into `_corrupt_record`;
  * those rows are dropped here (a corrupt poll is logged-and-skipped in
  * the reference, never fatal).
  */
object IngestPositions {

  /** Read one day's raw snapshots (Hive-partitioned landing zone
    * `posicoes/year=Y/month=M/day=D/hour=H/...json`, get-bus-data.py:65;
    * Spark prunes partitions natively on those keys). `multiLine` because
    * each poll is a single pretty-printable JSON document per file. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    graft.sources.IO.readJson(spark, Schemas.rawSnapshot, path)

  /** Decode-after-redistribute twin of [[readRaw]] for FAT poll
    * documents (DAYSCALE_r11 found EP2 wall growing 32× at a 10× fleet:
    * one multiLine JSON document per poll is an unsplittable record, so
    * per-record cost grows with fleet size while the task layout — the
    * JSON source's byte-size bin-packing — convoys several fat docs
    * into each task). Here the scan is a `wholetext` TEXT read (IO
    * only, no parsing in the scan task), a round-robin redistribute
    * puts exactly ONE document per task across every core, and the
    * parse itself is `from_json` with the same schema + PERMISSIVE
    * corrupt-record isolation. Row-for-row identical output to
    * [[readRaw]] (IngestPositionsSpec asserts it); the shuffle moves
    * only the raw text once — linear in input bytes — and decode
    * parallelism now scales with POLL COUNT × cores instead of being
    * hostage to how the bin-packer groups fat files. */
  def readRawDistributed(spark: SparkSession, path: String): DataFrame = {
    val docs = spark.read.option("wholetext", "true").text(path)
    val width = spark.sparkContext.defaultParallelism * 2
    docs
      .repartition(width)
      .select(from_json(
        col("value"), Schemas.rawSnapshot,
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
      .select(col("j.hr").as("hr"), col("j.l").as("l"),
        col("j._corrupt_record").as("_corrupt_record"))
  }

  /** The zone's data files as the JSON source listed them when
    * [[readRaw]] resolved its relation: the listing the scan uses also
    * gives the size statistic. */
  private def listedFiles(raw: DataFrame): Seq[FileStatus] =
    raw.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.collect { case index: PartitioningAwareFileIndex => index.allFiles() }
      .getOrElse(Nil)

  /** Average DECODED file size of the first `sample` of `files` — the
    * scale statistic that picks the decode strategy. The sizes come
    * from the file index the read already holds, so no second listing
    * runs (a Hadoop `listFiles` walk of the local filesystem loads each
    * file's permission, one subprocess per file). For gzip members the
    * on-disk length lies by the codec ratio, so the gzip ISIZE trailer
    * (last 4 LE bytes = uncompressed size mod 2³², exact for < 4 GB
    * members — RFC 1952) is read instead: two seeks per sampled file.
    *
    * SINGLE-MEMBER assumption (ADVICE r14): a concatenated multi-member
    * .gz (the Common Crawl warc.gz layout, one member per record)
    * carries one ISIZE trailer PER member and this read returns only the
    * LAST member's size — under-reporting the decoded size by the member
    * count. That is safe here: the zones this cutover samples are the
    * poll-landing zones DayScale/OlhoVivoClient synthesize, which write
    * exactly one gzip member per file (DayScale.synthesizeRawZone wraps
    * the whole file in a single GZIPOutputStream). An under-reported
    * size could only steer the pick toward the small-doc file source,
    * whose failure mode is slower, not wrong. Multi-member WARC zones go
    * through [[graft.sources.WarcGz]]'s member index, never this path. */
  private def avgFileBytes(spark: SparkSession, files: Seq[FileStatus],
                           sample: Int = 256): Long = {
    val sampled = files.take(sample)
    val bytes = sampled.iterator.map { st =>
      if (st.getPath.getName.endsWith(".gz") && st.getLen >= 4) {
        val fs = st.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(st.getPath)
        try {
          in.seek(st.getLen - 4)
          val b = new Array[Byte](4)
          in.readFully(b)
          ((b(0) & 0xffL)) | ((b(1) & 0xffL) << 8) |
            ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
        } finally in.close()
      } else st.getLen
    }.sum
    if (sampled.isEmpty) 0L else bytes / sampled.size
  }

  /** Strategy cutover: above ~4 MB/doc the unsplittable-record convoy
    * dominates the multiLine source (measured at 10× fleet ≈ 14 MB/doc);
    * below it the file source's native partition pruning and zero
    * shuffle win. */
  private[graft] val FatDocBytes: Long = 4L * 1024 * 1024

  /** The decode plan for `path` and, on the small-doc path, the number
    * of tasks its write is packed into: the estimated decoded bytes
    * (average × file count) in `spark.sql.files.maxPartitionBytes`
    * pieces, rounded up to whole waves of one task per core (5 tasks on
    * 4 cores would leave 3 idle behind the fifth). The JSON source
    * charges `openCostInBytes` (4 MB) per file, so left alone it splits
    * a day of KB-sized polls into dozens of scan tasks and output files. */
  private def decodePlan(spark: SparkSession, path: String): (DataFrame, Option[Int]) = {
    val raw = readRaw(spark, path)
    val files = listedFiles(raw)
    val avg = avgFileBytes(spark, files)
    if (avg >= FatDocBytes) (readRawDistributed(spark, path), None)
    else {
      val cores = spark.sparkContext.defaultParallelism
      val wave = spark.sessionState.conf.filesMaxPartitionBytes * cores
      val waves = (avg * files.size + wave - 1) / wave
      (raw, Some(cores * math.max(1L, waves).toInt))
    }
  }

  /** Scale-adaptive raw read: multiLine JSON source for the deployed
    * small-doc zone, decode-after-redistribute when polls are fat. */
  def readRawAdaptive(spark: SparkSession, path: String): DataFrame =
    decodePlan(spark, path)._1

  /** The two-level unnest + rename + timestamp parse (reference F1+E1,
    * ingestao:48–62). Built-in `Explode` generators only — stays inside
    * whole-stage codegen. */
  def flatten(raw: DataFrame): DataFrame =
    raw
      .filter(col("_corrupt_record").isNull && col("l").isNotNull)
      .select(explode(col("l")).as("ln"))
      .select(
        col("ln.c").as("letreiro"),
        col("ln.cl").as("codigo_linha"),
        col("ln.sl").as("sentido_linha"),
        col("ln.lt0").as("destino_linha"),
        col("ln.lt1").as("origem_linha"),
        explode(col("ln.vs")).as("v"))
      .select(
        col("letreiro"), col("codigo_linha"), col("sentido_linha"),
        col("destino_linha"), col("origem_linha"),
        col("v.p").as("prefixo_veiculo"),
        col("v.a").as("acessibilidade"),
        // E1 (ingestao:58): ISO-8601 'Z' instant → Unix seconds; session
        // TZ is pinned UTC (parity trap ① in SURVEY.md §2.2).
        unix_timestamp(to_timestamp(col("v.ta"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
          .as("timestamp"),
        col("v.py").as("py"),
        col("v.px").as("px"))

  /** Full EP2: raw day → flat parquet. Output partitioned by event date
    * (the reference's manual `raw/YYYY-MM/pos-YYYY-MM-DD.parquet` scheme,
    * ingestao:31, expressed as real Hive partitioning so downstream reads
    * prune). A small-doc day is written by [[decodePlan]]'s task count
    * (one task per core for the deployed day) instead of one task per
    * few dozen polls, so EP3 opens a handful of files, not dozens. */
  def run(spark: SparkSession, rawPath: String, outPath: String): Unit = {
    val (raw, writeTasks) = decodePlan(spark, rawPath)
    val flat = flatten(raw)
      .withColumn("data", to_date(timestamp_seconds(col("timestamp"))))
    // coalesce is narrow: the packed tasks read the same splits, no shuffle
    graft.sources.IO.writePartitionedParquet(
      writeTasks.fold(flat)(flat.coalesce), outPath, Seq("data"))
  }
}
