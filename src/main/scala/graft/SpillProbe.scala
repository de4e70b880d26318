package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Force the heavy gate entries to SPILL and prove the results don't
  * change (round-11 verdict item #3).
  *
  * At 100 TB, sort/aggregate spill is the steady state, but nothing in
  * this sandbox had ever actually exercised it — the 128 GiB local JVM
  * absorbs every gate workload in memory, so spill-safety was an
  * assumption inherited from Spark's design rather than an observed
  * fact about THESE plans. This probe runs the heaviest entries twice
  * over the SAME 10× corpus:
  *
  *   1. reference pass: `local[8]`, ample heap, 32 shuffle partitions —
  *      the no-spill baseline fingerprint;
  *   2. spill pass: `local-cluster[2,4,<workerMb>]` — real executor
  *      JVMs on ~1.2 GB heaps — with shuffle partitions deliberately
  *      UNDERSIZED (8) so per-task working sets exceed execution
  *      memory: exactly the "partitions sized wrong for the data"
  *      regime a production cluster hits, where the engine must
  *      degrade to disk instead of dying. A task-metrics listener
  *      records memory/disk bytes spilled per query.
  *
  * PASS = every query's order-independent row fingerprint (XOR of
  * per-row xxhash64 over name-sorted stringified columns + row count)
  * is identical across the two passes AND the spill pass actually
  * spilled (> 0 bytes overall — otherwise the probe proved nothing).
  * Output: one JSON line per SPILL_r{N}.json (per-query seconds,
  * spilled MB, fingerprint match) + target/spill_probe.json.
  *
  * Env: SPARK_SCALA_VERSION=2.13 and SPARK_HOME must be set for the
  * local-cluster executor launcher (see GraftSession.conf).
  */
object SpillProbe {

  private val DefaultNames = Seq(
    "q26_percentiles", "q28_argminmax", "q21_speed_agg",
    "q47_dedup_clusters", "q59_dedup_survivors")

  /** Wait for an asynchronously-updated counter snapshot to stop moving.
    * SparkListener task-end events are delivered on the listener bus
    * AFTER the triggering action returns, so reading spill counters
    * immediately can miss trailing events (ADVICE r13 #2): poll until
    * the snapshot is unchanged for `quietMs`, giving up after `maxMs`.
    * (listenerBus.waitUntilEmpty is private[spark] — polling is the
    * public-API equivalent.) */
  def settle(snapshot: => Long, quietMs: Long = 500, maxMs: Long = 10000): Long = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = snapshot
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (System.nanoTime() - quietSince) < quietMs * 1000000L) {
      Thread.sleep(50)
      val cur = snapshot
      if (cur != last) { last = cur; quietSince = System.nanoTime() }
    }
    last
  }

  /** Task-level spill accounting for `spark`: one task-end listener
    * summing the memory and disk bytes every task spills. Shared by
    * SpillProbe, WindowSpillProbe and DayScale. */
  final class SpillMeter(spark: SparkSession) {
    private val mem = new java.util.concurrent.atomic.AtomicLong
    private val disk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          mem.addAndGet(m.memoryBytesSpilled)
          disk.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    /** (memory, disk) bytes spilled so far, read once the listener bus
      * has delivered trailing task-end events ([[settle]]). */
    def settled(): (Long, Long) = {
      settle(mem.get() + disk.get())
      (mem.get(), disk.get())
    }
  }

  /** Order-independent relation fingerprint: (XOR of row xxhash64, count)
    * with columns name-sorted and null marked distinctly from "". Long
    * overflow wraps identically everywhere — still a fingerprint. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df
      .select(xxhash64(concat_ws("\u0001", cols.toSeq: _*)).as("h"))
      // XOR, not sum: an ANSI-mode long sum of 2^63-range hashes overflows
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("s"), count(lit(1)).as("n"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale_runs/k10_neardup")
    val names = if (args.length > 1) args(1).split(',').toSeq else DefaultNames
    val workerMb = args.lift(2).map(_.toInt).getOrElse(1536)
    val spillParts = args.lift(3).map(_.toInt).getOrElse(8)
    // Starve MANAGED memory, not the JVM: a tiny heap kills executors
    // outright (netty/codegen overhead), while a small memory fraction
    // leaves the object overhead alone and forces the unified-memory
    // acquisitions (sorts, aggregation maps) onto the spill paths -
    // the mechanism that actually runs at 100 TB.
    val memFraction = args.lift(4).map(_.toDouble).getOrElse(0.08)
    require(new java.io.File(s"$dir/documents.parquet").exists(),
      s"no scaled corpus at $dir — run tools/run.sh ScaleBench 10 first")

    def runAll(spark: SparkSession): Map[String, ((Long, Long), Double)] = {
      names.map { n =>
        val t0 = System.nanoTime()
        val fp = fingerprint(SparkEntry.queries(n)(spark, dir))
        val secs = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        Checkpoints.releaseAll(spark)
        println(f"SPILLPROBE ref   $n%-22s $secs%7.1f s  fp=$fp")
        n -> ((fp, secs))
      }.toMap
    }

    // pass 1 — roomy reference
    val ref = {
      val s = GraftSession.start(GraftSession.builder("local[8]", 32))
      try runAll(s) finally s.stop()
    }

    // pass 2 — starved executors, undersized partitions, spill metrics
    val spill = {
      val s = GraftSession.start(
        GraftSession.builder(s"local-cluster[2,4,$workerMb]", spillParts)
          .config("spark.memory.fraction", memFraction.toString))
      val meter = new SpillMeter(s)
      try {
        names.map { n =>
          val (m0, d0) = meter.settled()
          val t0 = System.nanoTime()
          val fp = fingerprint(SparkEntry.queries(n)(s, dir))
          val secs = (System.nanoTime() - t0) / 1e9
          s.catalog.clearCache()
          Checkpoints.releaseAll(s)
          val (m1, d1) = meter.settled()
          val mem = (m1 - m0) >> 20
          val dsk = (d1 - d0) >> 20
          println(f"SPILLPROBE spill $n%-22s $secs%7.1f s  fp=$fp  spilled mem ${mem} MB disk ${dsk} MB")
          n -> ((fp, secs, mem, dsk))
        }.toMap
      } finally s.stop()
    }

    val rows = names.map { n =>
      val (rfp, rsec) = ref(n)
      val (sfp, ssec, mem, dsk) = spill(n)
      val ok = rfp == sfp
      (n, rsec, ssec, mem, dsk, ok)
    }
    val allOk = rows.forall(_._6)
    val totalDisk = rows.map(_._4).sum + rows.map(_._5).sum
    def f1(d: Double) = f"$d%.1f"
    val json = rows.map { case (n, rs, ss, mem, dsk, ok) =>
      s""""$n":{"ref_sec":${f1(rs)},"spill_sec":${f1(ss)},""" +
        s""""spilled_mem_mb":$mem,"spilled_disk_mb":$dsk,"match":$ok}"""
    }.mkString(
      s"""{"metric":"spill_probe","dir":"$dir","worker_mb":$workerMb,"memory_fraction":$memFraction,""" +
        s""""spill_partitions":$spillParts,"all_match":$allOk,"queries":{""",
      ",", "}}")
    val w = new java.io.PrintWriter(new java.io.File("target/spill_probe.json"))
    try w.println(json) finally w.close()
    println(json)
    require(allOk, "fingerprint mismatch between roomy and spilling runs")
    require(totalDisk > 0, "nothing spilled — the probe proved nothing; " +
      "shrink workerMb/partitions")
  }
}
