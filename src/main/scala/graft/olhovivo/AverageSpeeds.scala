package graft.olhovivo

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** EP3 job — full composition (reference: etl-olho-vivo-velocidades-
  * medias.py:60–173): read one day of `posicoes`, compute the cleaned
  * per-hop speeds ONCE, then fan out to the three outputs
  * (`velocidades_agregadas`, `lentidao`, `acessiveis`).
  *
  * Multi-output plan reuse (SURVEY.md §7.4 #4): Spark re-executes lineage
  * per write action, so the shared sub-plan is persisted explicitly —
  * the analog of the reference reusing its in-memory DataFrame at
  * velocidades:146/158/166 — and the aggregate is computed once for the
  * two outputs that share it.
  */
object AverageSpeeds {

  import SpeedPipeline._

  private val iso = DateTimeFormatter.ISO_LOCAL_DATE

  /** K1 (velocidades:66–81): the reference's date-keyed output paths. */
  /** The per-row unaggregated speeds output the reference declares but
    * leaves commented out ("too granular" — velocidades:72,130–131);
    * kept as an opt-in output per SURVEY.md §1.1. */
  def hopsPath(base: String, d: LocalDate): String =
    f"$base/velocidades/${d.getYear}%04d-${d.getMonthValue}%02d/vel-${iso.format(d)}.csv"
  def aggPath(base: String, d: LocalDate): String =
    f"$base/velocidades-agg/${d.getYear}%04d-${d.getMonthValue}%02d/vel-agg-${iso.format(d)}.csv"
  def slowPath(base: String, d: LocalDate): String =
    f"$base/lentidao/${d.getYear}%04d-${d.getMonthValue}%02d/lentidao-${iso.format(d)}.csv"
  def acessPath(base: String, d: LocalDate): String =
    f"$base/acessiveis/${d.getYear}%04d-${d.getMonthValue}%02d/acessiveis-${iso.format(d)}.csv"

  /** Column orders of the three CSV outputs (velocidades:140,158,166;
    * data-dictionary PDF pages 2–4). */
  val aggCols: Seq[String] = Seq("data", "intervalo", "letreiro", "codigo_linha",
    "sentido_linha", "origem_linha", "destino_linha", "prefixo_veiculo",
    "px", "py", "velocidade_media", "tempo", "distancia")
  val slowCols: Seq[String] = aggCols
  val acessCols: Seq[String] = Seq("data", "intervalo", "letreiro", "codigo_linha",
    "sentido_linha", "origem_linha", "destino_linha", "prefixo_veiculo",
    "px", "py", "acessibilidade")

  /** The three result DataFrames for one already-loaded positions day.
    * Exposed separately from `run` so tests and the gate queries can
    * assert on them without touching storage. */
  def compute(posicoes: DataFrame, conf: SpeedConf = SpeedConf(),
              orderTiebreak: Seq[Column] = Nil): (DataFrame, DataFrame, DataFrame) = {
    val clean = hops(posicoes, conf, orderTiebreak)
    val agg = aggregate(clean, strict = conf.strictReference)
    val aggOut = agg.select(aggCols.map(col): _*)
    val slowOut = slowPoints(clean, conf).select(slowCols.map(col): _*)
    val acessOut = acessiveis(agg).select(acessCols.map(col): _*)
    (aggOut, slowOut, acessOut)
  }

  /** Full job: read (partition-pruned to one event date) → compute →
    * three CSV writes. Returns row counts per output.
    *
    * `dayFilter`: optional extra predicate on the positions read. Its
    * scale use is VEHICLE-CLOSED sharding (pmod on prefixo_veiculo):
    * the window partitions by vehicle and every output group key
    * includes the vehicle, so running the day as K vehicle-closed
    * passes and unioning the CSVs is EXACTLY the single-pass result —
    * the decomposition a cluster applies across executors, available
    * here for days whose shuffle+spill exceed one node's scratch disk. */
  def run(spark: SparkSession, posicoesPath: String, date: LocalDate,
          outBase: String, conf: SpeedConf = SpeedConf(),
          writePerHop: Boolean = false,
          dayFilter: Option[Column] = None): Map[String, Long] = {
    val day0 = spark.read.parquet(posicoesPath)
      .filter(col("data") === lit(iso.format(date)).cast("date"))
      .drop("data") // recomputed from event time in withTimeColumns
    val day = dayFilter.map(day0.filter).getOrElse(day0)
    val clean = hops(day, conf).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val agg = aggregate(clean, strict = conf.strictReference)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val aggOut = agg.select(aggCols.map(col): _*)
        val slowOut = slowPoints(clean, conf).select(slowCols.map(col): _*)
        val acessOut = acessiveis(agg).select(acessCols.map(col): _*)
        // the row count rides on the write itself: no extra action
        def write(df: DataFrame, path: String): Long = {
          val rows = Observation()
          graft.sources.IO.writeCsv(df.observe(rows, count(lit(1)).as("rows")), path)
          rows.get("rows").asInstanceOf[Long]
        }
        val base = Map(
          "velocidades_agregadas" -> write(aggOut, aggPath(outBase, date)),
          "lentidao" -> write(slowOut, slowPath(outBase, date)),
          "acessiveis" -> write(acessOut, acessPath(outBase, date)))
        if (writePerHop)
          base + ("velocidades" ->
            write(clean.select(slowCols.map(col): _*), hopsPath(outBase, date)))
        else base
      } finally agg.unpersist()
    } finally clean.unpersist()
  }
}
