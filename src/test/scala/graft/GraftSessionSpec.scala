package graft

import graft.olhovivo.SparkTestBase

/** The session-factory contract: tune() must make ANY externally built
  * session able to run the full inventory — UTC semantics, ns-parquet
  * readability, and the engine's SQL functions + native strategies. */
class GraftSessionSpec extends SparkTestBase {

  test("tune: UTC, nanosAsLong, SQL functions, and the as-of strategy land") {
    // session-global conf reads under the shared-session lock
    // (SparkTestBase contract) — tune() sets the same values as the
    // base config, but the asserts must not race a suite that
    // temporarily changes them under the lock
    SparkTestBase.sessionConfLock.synchronized {
      GraftSession.tune(spark)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    }
    // registered SQL surface: haversine + native signatures callable by name
    val r = spark.sql(
      """SELECT haversine_m(-23.0, -46.0, -23.1, -46.1) AS d,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp""".stripMargin)
      .head()
    assert(r.getDouble(0) > 0 && r.getDouble(1) == 11.0)
    // the native as-of strategy is installed (q74's planning path)
    import spark.implicits._
    val l = Seq(("k", 10L)).toDF("k", "t")
    val r2 = Seq(("k", 5L, 1L)).toDF("rk", "rt", "rid")
    val plan = graft.operators.AsOfJoin.asofMergeJoin(l, r2,
        leftKeys = Seq("k"), rightKeys = Seq("rk"),
        leftTime = "t", rightTime = "rt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfMergeJoin"), s"native exec missing:\n$plan")
  }

  test("tuneForInput sizes shuffle partitions from corpus bytes with a core floor") {
    SparkTestBase.sessionConfLock.synchronized {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        // tiny corpus → the floor (max(32, cores)) wins
        val floor = math.max(32, spark.sparkContext.defaultParallelism)
        assert(GraftSession.tuneForInput(spark, "/root/testdata/sf0.001") === floor)
        assert(spark.conf.get("spark.sql.shuffle.partitions") === floor.toString)
        // a corpus big enough to clear the floor: exact formula, computed
        // from the same FS metadata the helper reads
        val dir = "/root/testdata/sf0.1"
        val p = new org.apache.hadoop.fs.Path(dir)
        val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
        val target = 1L << 20 // 1 MB/partition so sf0.1 clears the floor
        val expect = math.max(floor, math.ceil(
          bytes * GraftSession.ShuffleExpansion.relational / target).toInt)
        assert(GraftSession.tuneForInput(spark, dir,
          GraftSession.ShuffleExpansion.relational, target) === expect)
        assert(expect > floor, "sf0.1 at 1 MB/partition must exceed the floor")
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
  }

  test("builder configs: local[n] is in-process; local-cluster adds executor wiring") {
    val executorKeys = Set("spark.executor.extraClassPath",
      "spark.executor.extraJavaOptions", "spark.executor.memory")
    val local = GraftSession.conf("local[3]", 3)
    assert(local("spark.master") === "local[3]")
    assert(local("spark.sql.shuffle.partitions") === "3")
    assert(local.keySet.intersect(executorKeys).isEmpty)
    // one task classloader per context, so one codegen cache
    assert(local("spark.sql.artifact.isolation.enabled") === "false")
    // no cluster starts: the configs are read, not applied
    val master = "local-cluster[2,4,1024]"
    val cluster = GraftSession.conf(master, 8)
    assert(cluster("spark.executor.extraClassPath") ===
      new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    // SparkContext prepends Spark's JDK module options to this key
    // itself; setting them here would pass each flag twice
    assert(!cluster.contains("spark.executor.extraJavaOptions"))
    assert(cluster("spark.executor.memory") ===
      sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "6g"))
    // the common configs are the same for both kinds of master
    assert(cluster -- executorKeys ===
      local ++ Map("spark.master" -> master, "spark.sql.shuffle.partitions" -> "8"))
  }

  test("fresh sessions share one task classloader, so generated code compiles once per JVM") {
    // Spark's codegen cache keys each class by the task thread's context
    // classloader; a loader per session would recompile every class in
    // every fresh session (EP2 and EP3 each run in one)
    def taskLoaders(s: org.apache.spark.sql.SparkSession): Set[String] = {
      import s.implicits._
      s.range(0, 8, 1, 4).mapPartitions { _ =>
        val cl = Thread.currentThread.getContextClassLoader
        Iterator(s"${cl.getClass.getName}@${System.identityHashCode(cl)}")
      }.collect().toSet
    }
    val first = taskLoaders(spark.newSession())
    val second = taskLoaders(spark.newSession())
    assert(first == second, s"per-session task classloaders: $first vs $second")
    assert(spark.newSession().conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("events table reads through a tuned session at every granularity") {
    SparkTestBase.sessionConfLock.synchronized {
      GraftSession.tune(spark)
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      val row = ev.select("ts_ns", "ts_sec").head()
      assert(row.getLong(0) / 1000000000L == row.getLong(1))
    }
  }
}
