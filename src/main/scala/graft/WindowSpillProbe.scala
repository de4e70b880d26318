package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Force the reference's CORE operator — W2's per-vehicle window sort
  * (SpeedPipeline.hops: lag ×3 over partitionBy(vehicle) orderBy(ts))
  * — to SPILL at deployed day volume and prove the hop relation is
  * bit-identical (SPILL_r11 covered aggregation/CC shapes only; the
  * window path had never spilled anywhere).
  *
  * Mechanism: WindowExec sorts each SHUFFLE partition (all vehicles
  * hashed into it) with an UnsafeExternalSorter — the 100 TB steady
  * state is that sort exceeding execution memory and degrading to
  * disk. Two passes over the same day-scale positions parquet
  * (DayScale EP2 output, ~17.5M rows at 1×):
  *
  *   1. roomy reference: local[8], 32 shuffle partitions, default
  *      memory — the no-spill fingerprint;
  *   2. spill pass: local-cluster[2,4,<workerMb>] executor JVMs with
  *      spark.memory.fraction starved (0.08) and 4 shuffle
  *      partitions, so each WindowExec sort faces millions of rows
  *      against a few tens of MB of execution memory.
  *
  * PASS = fingerprints match AND the spill pass spilled > 0 bytes
  * (otherwise the probe proved nothing). The hop columns are per-row
  * arithmetic (haversine, elapsed, ratio) — partition-layout
  * independent by construction, so bit-equality is the right bar.
  *
  * Output: target/window_spill_probe.json (SPILL_r{N} window section).
  * Env: SPARK_SCALA_VERSION=2.13, SPARK_HOME,
  * SPARK_GRAFT_EXECUTOR_MEM (keep ≤ 1g to make starvation real).
  */
object WindowSpillProbe {

  def main(args: Array[String]): Unit = {
    val posPath = args.headOption.getOrElse("target/dayscale/posicoes")
    val workerMb = args.lift(1).map(_.toInt).getOrElse(1536)
    val memFraction = args.lift(2).map(_.toDouble).getOrElse(0.08)
    require(new java.io.File(posPath).exists(),
      s"no positions parquet at $posPath — run DayScale first")

    def hopsDf(s: SparkSession) = {
      val day = s.read.parquet(posPath).drop("data")
      graft.olhovivo.SpeedPipeline.hops(day)
        .select(col("prefixo_veiculo"), col("timestamp"), col("tempo"),
          col("distancia"), col("velocidade_media"))
    }

    // pass 1 — roomy
    val (refFp, refSec) = {
      val s = GraftSession.start(GraftSession.builder("local[8]", 32))
      try {
        val t0 = System.nanoTime()
        val fp = SpillProbe.fingerprint(hopsDf(s))
        (fp, (System.nanoTime() - t0) / 1e9)
      } finally s.stop()
    }
    println(f"WINDOWSPILL roomy  $refSec%7.1f s fp=$refFp")

    // pass 2 — starved executors
    val (spFp, spSec, (memB, dskB)) = {
      val s = GraftSession.start(
        GraftSession.builder(s"local-cluster[2,4,$workerMb]", 4)
          .config("spark.memory.fraction", memFraction.toString))
      try {
        val meter = new SpillProbe.SpillMeter(s)
        val t0 = System.nanoTime()
        val fp = SpillProbe.fingerprint(hopsDf(s))
        val secs = (System.nanoTime() - t0) / 1e9
        // settled: task-end events are async, so an immediate read can
        // undercount and spuriously fail the spill>0 gate (ADVICE r13 #2)
        (fp, secs, meter.settled())
      } finally s.stop()
    }
    val memMb = memB >> 20
    val dskMb = dskB >> 20
    val ok = refFp == spFp
    println(f"WINDOWSPILL spill  $spSec%7.1f s fp=$spFp  spilled mem $memMb MB disk $dskMb MB")

    val json =
      s"""{"metric":"window_spill_probe","positions":"$posPath","worker_mb":$workerMb,""" +
        s""""memory_fraction":$memFraction,"rows":${refFp._2},""" +
        s""""roomy_sec":${f"$refSec%.1f"},"spill_sec":${f"$spSec%.1f"},""" +
        s""""spilled_mem_mb":$memMb,"spilled_disk_mb":$dskMb,"match":$ok}"""
    val w = new java.io.PrintWriter(new java.io.File("target/window_spill_probe.json"))
    try w.println(json) finally w.close()
    println(json)
    require(ok, "hop fingerprint differs between roomy and spilling runs")
    require(dskMb + memMb > 0,
      "the window sort never spilled — shrink workerMb/memory_fraction")
  }
}
