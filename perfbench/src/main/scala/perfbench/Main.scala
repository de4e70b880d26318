package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Checkpoints, GraftSession, SparkEntry}
import graft.olhovivo.{AverageSpeeds, IngestPositions}

/** One timed operation of a pass: a query, or one stage of the day.
  * `stage` is the part of the pass it belongs to (1 or 2). */
final case class Op(name: String, layer: String, stage: Int,
                    run: (SparkSession, Tracer, Int) => Unit)

/** The JVM side of one benchmark run.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <deadline ms>`
  *
  * The work dir holds the generated inputs under `in`. The run starts a
  * Spark context, makes the workload's one-time artifacts, runs one
  * untimed pass that writes the outputs the correctness check reads and
  * doubles as warm-up, then runs timed passes until `seconds` have
  * elapsed and the workload's minimum pass count is reached, and finally
  * writes `result.json`. Past the minimum it starts no pass that would
  * end after the deadline (epoch milliseconds), taking the last pass as
  * the estimate. */
object Main {

  private val Day = LocalDate.of(2026, 8, 10)
  private val VerifyPass = -1
  /** Timed passes a run makes at least: the day's passes are short and
    * the first of them is still warming up, so its median needs three. */
  private val MinPasses = Map("olhovivo-day" -> 3, "query-mix" -> 1)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, work, deadlineArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val tracer = new Tracer(traceArg == "1")
    val in = s"$work/in"
    val ops: Seq[Op] = workload match {
      case "olhovivo-day" => dayOps(in, work)
      case "query-mix"    => queryOps(in, seed)
      case other          => sys.error(s"unknown workload $other")
    }

    // set-up: a context in a fresh JVM, the workload's one-time
    // artifacts, and the untimed first pass, which writes the outputs the
    // correctness check reads and is the warm-up of the timed passes
    val s0 = System.nanoTime()
    val spark = GraftSession.local()
    val sessionS = (System.nanoTime() - s0) / 1e9
    prepare(spark, workload, in)
    val prepareS = (System.nanoTime() - s0) / 1e9 - sessionS
    val w0 = System.nanoTime()
    val verify = writeVerifyOutputs(spark, workload, in, work, ops)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    if (tracer.enabled && workload == "olhovivo-day")
      tracer.decision("IngestPositions.readRawAdaptive", readPath(spark, in))
    tracer.attach(spark)

    // timed passes; a traced run alternates untraced and traced passes,
    // starting and ending untraced, so the tracing overhead compares a
    // traced pass with the untraced passes around it
    val passes = mutable.ArrayBuffer.empty[Pass]
    val untraced = mutable.ArrayBuffer.empty[Pass]
    var failed = 0
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var k = 0
    var lastWallS = 0.0
    // a traced run needs an untraced and a traced pass; it ends on an
    // untraced one unless the deadline comes first
    def done = {
      val late = System.currentTimeMillis() + lastWallS * 1000 > deadlineArg.toLong
      if (tracer.enabled) k >= 2 && (late || (k >= 3 && k % 2 == 1 &&
        (System.nanoTime() - t0) / 1e9 >= seconds))
      else k >= MinPasses(workload) && (late || (System.nanoTime() - t0) / 1e9 >= seconds)
    }
    while (!done) {
      val traced = tracer.enabled && k % 2 == 1
      tracer.recording = traced
      tracer.run = k
      val pass = new Pass(k)
      val jobs0 = tracer.jobCount.get
      val p0 = System.nanoTime()
      tracer.span(spark, "pass") {
        ops.foreach { op =>
          attempted += 1
          runOp(spark, tracer, op, k) match {
            case Right(s) => pass.ops += PassOp(op.name, op.layer, op.stage, s)
            case Left(e)  => failed += 1; errors += s"${op.name}: $e"
          }
          pass.cachedResidue += org.apache.spark.sql.PerfbenchHooks.cachedRelations(spark)
          pass.persistentResidue += spark.sparkContext.getPersistentRDDs.size
          cleanState(spark)
        }
      }
      pass.wallS = (System.nanoTime() - p0) / 1e9
      lastWallS = pass.wallS
      tracer.drain(spark)
      pass.jobs = tracer.jobCount.get - jobs0
      tracer.recording = false
      if (workload == "olhovivo-day") {
        pass.rows = scala.util.Try(spark.read.parquet(s"$work/pass$k/posicoes").count()).getOrElse(-1L)
        deleteDir(s"$work/pass${k - 1}")
      }
      if (traced || !tracer.enabled) passes += pass else untraced += pass
      k += 1
    }
    tracer.detach(spark)
    val heapMb = retainedHeapMb()
    val layers = if (tracer.enabled) Layers.table(tracer, passes.toSeq) else "{}"
    spark.stop()

    val json = new StringBuilder("{")
    json ++= s""""workload":${Json.str(workload)},"setup_s":$setupS,"session_s":$sessionS,"""
    json ++= s""""prepare_s":$prepareS,"""
    json ++= s""""warmup_s":$warmupS,"passes":[${passes.map(_.json).mkString(",")}],"""
    json ++= s""""untraced_passes":[${untraced.map(_.json).mkString(",")}],"""
    json ++= s""""attempted":$attempted,"failed":$failed,"errors":${Json.strs(errors)},"""
    json ++= s""""heap_mb":$heapMb,"verify":$verify,"layers":$layers}"""
    Files.writeString(Paths.get(s"$work/result.json"), json.toString)
    if (tracer.enabled)
      Files.writeString(Paths.get(s"$work/spans.json"), Layers.spansJson(tracer))
  }

  final case class PassOp(name: String, layer: String, stage: Int, seconds: Double)

  final class Pass(val index: Int) {
    var wallS = 0.0
    val ops = mutable.ArrayBuffer.empty[PassOp]
    var cachedResidue = 0
    var persistentResidue = 0
    var jobs = 0
    var rows = -1L
    def json: String =
      s"""{"wall_s":$wallS,"rows":$rows,"jobs":$jobs,"cached_residue":$cachedResidue,""" +
        s""""persistent_residue":$persistentResidue,"ops":[""" +
        ops.map(o => s"""[${Json.str(o.name)},${Json.str(o.layer)},${o.stage},${o.seconds}]""")
          .mkString(",") + "]}"
  }

  /** Times one operation; a failure yields no timing. */
  private def runOp(spark: SparkSession, tr: Tracer, op: Op, pass: Int): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      tr.span(spark, op.name)(op.run(spark, tr, pass))
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${op.name} failed: $e")
        cleanState(spark)
        Left(e.toString.takeWhile(_ != '\n'))
    }
  }

  private def cleanState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Checkpoints.releaseAll(spark)
  }

  /** Heap in use after full collections. Spark's context cleaner frees
    * shuffle and broadcast state only once their owners are collected,
    * so this collects until the figure stops falling. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var last = Long.MaxValue
    var now = used()
    while (now < last * 0.99) { last = now; now = used() }
    math.min(now, last) / 1048576.0
  }

  // ------------------------------------------------------------ queries

  private def prepare(spark: SparkSession, workload: String, in: String): Unit =
    if (workload == "query-mix")
      Workloads.queryMix.map(_._1).filter(SparkEntry.artifactEntries.contains)
        .foreach(n => SparkEntry.queries(n)(spark, in))

  /** Stage 1 runs the operator queries, stage 2 the small ones, each in
    * an order drawn from the seed; every pass runs them in that order. */
  private def queryOps(in: String, seed: Long): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    Seq(1 -> Workloads.operators, 2 -> Workloads.small).flatMap { case (stage, qs) =>
      rnd.shuffle(qs).map { case (name, layer) => Op(name, layer, stage, queryRun(name, in)) }
    }
  }

  private def queryRun(name: String, in: String): (SparkSession, Tracer, Int) => Unit =
    (spark, tr, _) => {
      val df = tr.span(spark, "SparkEntry.queries")(SparkEntry.queries(name)(spark, in))
      tr.span(spark, "write.noop")(df.write.format("noop").mode("overwrite").save())
    }

  // ---------------------------------------------------------- olhovivo

  /** EP2 then EP3, each in a fresh session of the one context, as the
    * two deployed jobs run, through the engine's unmodified entry
    * points. Every pass writes its own positions and CSV outputs; the
    * untimed first pass writes `verify/`, which the correctness check
    * reads. */
  private def dayOps(in: String, work: String): Seq[Op] = {
    val raw = s"$in/posicoes"
    def dir(p: Int) = if (p == VerifyPass) s"$work/verify" else s"$work/pass$p"
    def session(spark: SparkSession, tr: Tracer) = {
      val s = GraftSession.tune(spark.newSession())
      tr.attach(s)
      s
    }
    Seq(
      Op("EP2", "EP2", 1, (spark, tr, p) => {
        val s = session(spark, tr)
        IngestPositions.run(s, raw, s"${dir(p)}/posicoes")
      }),
      Op("EP3", "EP3", 2, (spark, tr, p) => {
        val s = session(spark, tr)
        AverageSpeeds.run(s, s"${dir(p)}/posicoes", Day, s"${dir(p)}/out")
      }))
  }

  /** The decode path `IngestPositions.readRawAdaptive` picks for the
    * day's zone: it redistributes before decoding only for fat polls. */
  private def readPath(spark: SparkSession, in: String): String =
    if (IngestPositions.readRawAdaptive(spark, s"$in/posicoes").queryExecution.logical
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation]))
      "distributed"
    else "multiLine"

  private def deleteDir(path: String): Unit =
    graft.TempArtifacts.deleteRecursively(new java.io.File(path))

  // ------------------------------------------------------ verification

  /** The untimed first pass. Query workloads write each result as
    * parquet plus its oracle SQL; the day runs EP2 and EP3 into
    * `verify/`. */
  private def writeVerifyOutputs(spark: SparkSession, workload: String, in: String,
                                 work: String, ops: Seq[Op]): String = workload match {
    case "olhovivo-day" =>
      val off = new Tracer(false)
      val failedNames = ops.filter(op => runOp(spark, off, op, VerifyPass).isLeft).map(_.name)
      s"""{"kind":"day","base":${Json.str(s"$work/verify")},"day":"$Day",""" +
        s""""failed":${Json.strs(failedNames)}}"""
    case _ =>
      val out = s"$work/verify"
      ops.foreach { op =>
        try SparkEntry.queries(op.name)(spark, in).write.mode("overwrite").parquet(s"$out/${op.name}")
        catch { case e: Throwable => System.err.println(s"perfbench: verify ${op.name} failed: $e") }
        cleanState(spark)
      }
      val oracle = ops.map(_.name).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
      s"""{"kind":"queries","dir":${Json.str(out)},"data":${Json.str(in)},""" +
        s""""names":${Json.strs(ops.map(_.name))}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def strs(xs: Iterable[String]): String = xs.map(str).mkString("[", ",", "]")
}
