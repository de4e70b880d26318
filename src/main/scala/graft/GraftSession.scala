package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Bench/Verify/tests/jobs share one
  * scale-aware configuration.
  *
  * Design notes (100 TB north star):
  *  - `spark.sql.shuffle.partitions` is sized to the local core count here;
  *    on a real cluster AQE (`spark.sql.adaptive.enabled`) re-coalesces
  *    post-shuffle partitions, so the static value only seeds the first
  *    shuffle. All operators in this library key their shuffles on
  *    low-skew columns and rely on AQE skew-join splitting otherwise.
  *  - Session timezone is pinned to UTC: the reference pipeline parses
  *    naive UTC timestamps (reference: etl-olho-vivo-ingestao-posicoes.py:58
  *    runs on Lambda with TZ=UTC), and the DuckDB oracle also runs in UTC.
  *  - Generated code is compiled once per JVM, not once per session
  *    (while it stays in Spark's codegen cache). Spark's `CodeGenerator`
  *    caches each compiled class under the key (task thread's context
  *    classloader, source). With session artifact isolation on (Spark's
  *    default), every session's tasks run under that session's own
  *    `ExecutorClassLoader`, so a fresh session misses the cache for
  *    every executor-side class, and Janino also resolves names through
  *    that loader. EP2 and EP3 each run in a fresh session, as the two
  *    deployed jobs do, so with isolation on they recompile on every pass.
  *    Isolation only separates artifacts that sessions add (jars, class
  *    files), and the engine adds none (SourceGuardSpec pins that), so
  *    [[conf]] turns it off and all sessions of a context share one task
  *    classloader and one codegen cache.
  */
object GraftSession {

  /** Monitor for temporary session-global conf changes (e.g. a streaming
    * query resizing `spark.sql.shuffle.partitions` to its state volume,
    * a test setting the durable checkpoint dir). A SparkSession is shared
    * across concurrent callers via getOrCreate, so any set→use→restore
    * span must hold this lock or unrelated work plans with the temporary
    * value. Test suites alias this same object (SparkTestBase). */
  val sessionConfLock: Object = new Object

  /** The one session builder: every common config for `master`, plus
    * the engine's extensions. Callers that need one extra static config
    * chain `.config(...)` on the result; [[start]] finishes it. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .config(conf(master, shufflePartitions))

  /** The configs [[builder]] sets, by key. A `local-cluster[n,c,mem]`
    * master (the multi-JVM proof mode behind MULTIJVM_r10.json) also
    * gets executor wiring: executor JVMs are spawned from SPARK_HOME and
    * know nothing of sbt's classpath, so ship the graft classes. (Spark
    * already prepends its JDK module options to the executor's
    * `extraJavaOptions`.) The caller must also export
    * SPARK_SCALA_VERSION=2.13 (the in-process executor launcher cannot
    * infer it outside the shell scripts). */
  private[graft] def conf(master: String, shufflePartitions: Int): Map[String, String] = {
    val common = Map(
      "spark.master" -> master,
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      // The driver testdata's `events` table carries parquet TIMESTAMP(NANOS),
      // which Spark only reads as a raw long (SPARK-40819). Tables.events()
      // rebuilds a proper TimestampType column from it.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Isolation gives each session its own task classloader, which is
      // part of the codegen cache key, so every fresh session would
      // recompile every generated class. It protects nothing here: the
      // engine adds no session artifacts. See the design note above.
      "spark.sql.artifact.isolation.enabled" -> "false")
    if (!master.startsWith("local-cluster")) common
    else common ++ Map(
      "spark.executor.extraClassPath" ->
        new java.io.File("target/scala-2.13/classes").getAbsolutePath,
      "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "6g"))
  }

  /** getOrCreate, then WARN logging and the engine's SQL functions. */
  def start(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  def local(cores: String = "*", shufflePartitions: Option[Int] = None): SparkSession = {
    val parts = shufflePartitions.getOrElse(
      if (cores == "*") Runtime.getRuntime.availableProcessors() else cores.toInt)
    start(builder(s"local[$cores]", parts))
  }

  /** Per-operator-family shuffle-volume expansion factors for
    * [[tuneForInput]]: how many bytes of shuffle input a byte of on-disk
    * parquet becomes in the family's widest stage. Calibrated against
    * the scale harness, not guessed:
    *  - `relational`: joins/aggs shuffle a column-pruned, still-compressed
    *    row payload — a few × the parquet bytes.
    *  - `textDedup`: the LSH chain explodes each document into band rows
    *    and pair aggregations; at 100× sf0.1 (~1.2 GB of documents) the
    *    measured OOM boundary was 32 partitions and the working setting
    *    320 (README "Operating envelope" #1), implying ~64× expansion
    *    against the 200 MB/partition target.
    */
  object ShuffleExpansion {
    val relational: Double = 3.0
    val textDedup: Double = 64.0
  }

  /** README "Operating envelope" rule #1 as code: size
    * `spark.sql.shuffle.partitions` from the INPUT CORPUS, not the
    * cluster. Sums the on-disk bytes under `dir` (driver-side FS
    * metadata only), multiplies by the operator family's `expansion`,
    * and targets ≤ `targetPartitionBytes` of shuffle input per
    * partition, flooring at the session's default parallelism (never
    * fewer partitions than cores). Oversizing is cheap — AQE coalesces
    * quiet stages back down — while undersizing OOMs the wide stages,
    * so callers should pick the LARGEST expansion among the operator
    * families they run. Returns the partition count it set. */
  def tuneForInput(spark: SparkSession, dir: String,
                   expansion: Double = ShuffleExpansion.textDedup,
                   targetPartitionBytes: Long = 200L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val floor = math.max(32, spark.sparkContext.defaultParallelism)
    val parts = math.max(floor,
      math.ceil(bytes * expansion / targetPartitionBytes).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    parts
  }

  /** Apply the must-have configs to an externally built session (e.g. the
    * driver's own). Runtime-settable confs + function registration only:
    * creation-time confs of [[conf]], such as
    * `spark.sql.artifact.isolation.enabled`, cannot be applied to a
    * session that already exists. A `newSession()` of a context built
    * by [[builder]] inherits them. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
