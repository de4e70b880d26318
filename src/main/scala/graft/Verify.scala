package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query-name substrings
    // to dump — the driver always calls with exactly two args
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Seq.empty[String])
      case Array(s, o, f) => (s, o, f.split(',').toSeq)
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [query-name-substrings]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[2,8,8192] runs the same gate on
    // REAL executor JVMs (task/broadcast serialization, shuffle
    // transport, classloader isolation) — the multi-JVM proof pass.
    // Default remains in-process local[n] (the driver's contract).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftSession.start(GraftSession.builder(master, cpus.toInt))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // intermediates persisted inside operators would otherwise pile up
      // across the dumps; ditto reliable checkpoints in
      // spark.graft.checkpoint.dir mode (the parquet dump above IS the
      // consumption, so the returned checkpoint is spent)
      spark.catalog.clearCache()
      Checkpoints.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
