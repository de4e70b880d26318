package graft

/** Interleaved same-machine-state A/B bench (round-11 verdict item #4):
  * the adjudication BENCH_AB_r09/r10.md were hand-assembled for, as a
  * tool.
  *
  * Why it exists: two fresh-JVM runs of ONE tree on this shared VM
  * differ by 10–15% total (r10 measured 88.6 vs 100.5 s for the
  * identical tree), so a cross-round bench delta can never distinguish
  * machine drift from code cost by itself. The established method is to
  * run the suspect queries on BOTH trees INTERLEAVED in one machine
  * window (A,B,A,B…) and compare mins — drift hits both trees equally,
  * so the per-query sign is trustworthy.
  *
  * Mechanics: each (round, tree) cell is a CHILD `graft.Bench` JVM
  * (fresh-JVM discipline — the measurement rule this repo burned twice
  * to learn) pointed at that tree's compiled classes, restricted to the
  * suspect set via SPARK_GRAFT_ONLY, its per-attempt timings read back
  * from its SPARK_GRAFT_RUNS_OUT side file. Both trees' Bench mains
  * share that env contract (present since round 7). Per query the
  * published number is min over all of a tree's attempts.
  *
  * Usage:
  *   tools/run.sh BenchAB <otherClasses> <namesCsv> [rounds=2] [sfDir]
  * or via tools/benchab.sh <gitref> <namesCsv> [rounds] which builds
  * the ref's tree first. graft.Bench also invokes this automatically
  * post-sweep when `target/ab_classes_path` names a compiled tree (see
  * Bench's scaladoc) — that is what puts the `ab` section in the
  * driver-run BENCH json.
  */
object BenchAB {

  /** One child Bench run of `names` on `classesDir`'s tree; returns
    * query → attempts (seconds; empty on child failure). */
  def runOnce(classesDir: String, names: Seq[String], sfDir: String,
              label: String, cpus: String): Map[String, Seq[Double]] = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val runsOut = java.nio.file.Files
      .createTempFile(s"bench_ab_$label", ".json").toString
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions().split(' ')
    val cmd = Seq(javaBin, "-Xmx8g") ++ moduleOpts ++ Seq(
      "-Dspark.ui.enabled=false",
      "-cp", s"$classesDir:/opt/spark/jars/*",
      "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    pb.environment().put("SPARK_GRAFT_RUNS_OUT", runsOut)
    pb.redirectErrorStream(true)
    val log = java.nio.file.Files
      .createTempFile(s"bench_ab_${label}_log", ".txt").toFile
    pb.redirectOutput(log)
    val p = pb.start()
    val exit = p.waitFor()
    if (exit != 0) {
      System.err.println(s"BenchAB child ($label) exited $exit — see $log")
      return Map.empty
    }
    val text = try {
      val src = scala.io.Source.fromFile(runsOut)
      try src.mkString finally src.close()
    } catch { case _: Throwable => "" }
    val entry = """"(q[^"]+)":\[([0-9eE+.,\-]*)\]""".r
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> m.group(2).split(',').iterator
        .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
        .filter(_ >= 0).toSeq
    }.toMap
  }

  /** The interleaved protocol: rounds × (mine, other), adjacent in
    * time. Returns query → (myMin, otherMin) with -1 for a side that
    * never produced a timing. */
  def interleaved(myClasses: String, otherClasses: String,
                  names: Seq[String], sfDir: String, rounds: Int,
                  cpus: String): Map[String, (Double, Double)] = {
    val mine = scala.collection.mutable.Map.empty[String, Seq[Double]]
      .withDefaultValue(Seq.empty)
    val other = scala.collection.mutable.Map.empty[String, Seq[Double]]
      .withDefaultValue(Seq.empty)
    for (r <- 1 to rounds) {
      runOnce(myClasses, names, sfDir, s"A$r", cpus)
        .foreach { case (k, v) => mine(k) = mine(k) ++ v }
      runOnce(otherClasses, names, sfDir, s"B$r", cpus)
        .foreach { case (k, v) => other(k) = other(k) ++ v }
    }
    def m(s: Seq[Double]) = if (s.isEmpty) -1.0 else s.min
    names.map(n => n -> ((m(mine(n)), m(other(n))))).toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchAB <otherClasses> <namesCsv> [rounds] [sfDir] [myClasses]")
    val otherClasses = new java.io.File(args(0)).getAbsolutePath
    val names = args(1).split(',').toSeq.filter(_.nonEmpty)
    val rounds = args.lift(2).map(_.toInt).getOrElse(2)
    val sfDir = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional 5th arg: adjudicate two OTHER trees (e.g. last round's vs
    // the round before) without touching the working tree's classes —
    // lets the A/B run while the working tree is being edited/recompiled
    val myClasses = args.lift(4)
      .map(p => new java.io.File(p).getAbsolutePath)
      .getOrElse(new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    require(new java.io.File(otherClasses).isDirectory, s"no classes at $otherClasses")

    val table = interleaved(myClasses, otherClasses, names, sfDir, rounds, cpus)
    println(f"${"query"}%-26s ${"this tree"}%10s ${"other tree"}%10s  verdict")
    names.foreach { n =>
      val (a, b) = table(n)
      val verdict =
        if (a < 0 || b < 0) "incomplete"
        else if (a <= b * 1.05) "ok (this tree <= other)"
        else f"SLOWER x${a / b}%.2f"
      println(f"$n%-26s $a%10.2f $b%10.2f  $verdict")
    }
    def fmt(d: Double) = f"$d%.3f"
    val json = names.map { n =>
      val (a, b) = table(n)
      s""""$n":[${fmt(a)},${fmt(b)}]"""
    }.mkString(s"""{"rounds":$rounds,"sf":"$sfDir","pairs_this_then_other":{""", ",", "}}")
    val out = new java.io.PrintWriter(new java.io.File("target/bench_ab.json"))
    try out.println(json) finally out.close()
    println(json)
  }
}
