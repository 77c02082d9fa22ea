package graft

import org.apache.spark.sql.SparkSession

/** Single place to build the engine's SparkSession with scale-appropriate
  * defaults. Local mode is a stand-in for a 1000-executor cluster: shuffle
  * partitions track cores (not the 200 default), AQE is on so skew/coalesce
  * re-planning behaves the same way it would at 100 TB.
  */
object Session {
  /** Local-mode cores and shuffle width: `$SPARK_GRAFT_CPUS` when set,
    * else every core this JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Master override (r13 verdict ask #2): `SPARK_GRAFT_MASTER=
    * local-cluster[4,8,4096]` runs the SAME session as a real multi-JVM
    * standalone mini-cluster — serialization boundaries, executor-side
    * classloading, and broadcast shipping all become real, which
    * in-process local mode can mask (the worker launcher needs
    * SPARK_HOME=/opt/spark and SPARK_SCALA_VERSION=2.13 in the env).
    * Executor JVMs inherit the driver's classpath and JDK17 opens. */
  private def master: String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** The JDK17 module opens a forked JVM (executor or fault-injection
    * victim) needs for Spark 4 — ONE list, consumed here and by
    * FaultInject, so a future Spark upgrade adds a module in one place. */
  private[graft] val executorAddOpens: String =
    Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action",
      "sun.util.calendar")
      .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")

  /** Classpath a forked JVM needs: this build's classes + Spark jars. */
  private[graft] def executorCp: String = Seq(
    s"${System.getProperty("user.dir")}/target/scala-2.13/classes",
    s"${System.getProperty("user.dir")}/src/main/resources",
    "/opt/spark/jars/*").mkString(":")

  private def withClusterExecutorConfs(
      b: SparkSession.Builder): SparkSession.Builder =
    if (!master.startsWith("local-cluster")) b
    else b.config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
      .config("spark.executor.extraClassPath", executorCp)
      .config("spark.executor.extraJavaOptions", executorAddOpens)

  def builder(appName: String): SparkSession.Builder =
    withClusterExecutorConfs(SparkSession.builder())
      .withExtensions(new GraftExtensions) // native functions for SQL
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Decouple the BIG-shuffle width from the core count: AQE plans
      // every exchange at `initialPartitionNum` and then coalesces by
      // observed bytes, so a 10-row group-by still collapses to a few
      // tasks while a 500M-row candidate-verify shuffle keeps 8×cores
      // of width instead of being capped at `shuffle.partitions`. This
      // was the round-7 sf1.0 finding: with both pinned to cores, the
      // heavy dedup/graph shuffles ran 32-wide at 10× data and went
      // superlinear from per-task spill (d09 23×, g01 18× at 10× data).
      // On a real cluster set this ~2-3× total executor cores.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          (cpus.toInt * 8).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // Historic testdata wrote events.ts as TIMESTAMP(NANOS), which Spark's
      // parquet reader rejects by default; with this conf a NANOS column reads
      // as an epoch-nano long, which Tables.canonicalTs then converts. Current
      // testdata is TIMESTAMP(MICROS); keeping the conf keeps legacy files
      // readable (TsEncodingSpec pins all encodings).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the sandboxed filesystem stalls whole-JVM for >10s at times, which
      // would kill the default 10s executor heartbeat in local mode
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // the dedup verify broadcasts the per-doc array frame when it fits
      // (DedupOps.exactVerify): at sf10 that is ~600 MB serialized, over
      // the 1g default that caps driver-side broadcast collection
      .config("spark.driver.maxResultSize", "4g")
      // Janino-compiled classes live in one JVM-wide cache, sized once by
      // the first session that generates code. Spark's 100-entry default
      // is smaller than one dedup pass (d07, d06, d02, p01 generate ~300
      // compile units), so every pass evicted the previous one's classes
      // and compiled them all again. One session running all 151 catalog
      // queries at sf0.001 compiles ~1,900 distinct units (1,891-1,902 over
      // three sessions; ~2,900 per round at the default), so 4096 holds
      // the whole catalog with room to spare.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // file: without a forked chmod/readlink per create, mkdir and
      // rename (core/LocalFs.scala): checkpoint and state-store commits,
      // table and sink writes. Executors inherit spark.hadoop.* keys.
      .config("spark.hadoop.fs.file.impl",
        classOf[core.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[core.ForkFreeLocalFs].getName)
      // Iterative operators (CC/LPA/k-core/PageRank) re-materialize their
      // frame each round; the previous round's checkpoint blocks and
      // shuffle files become garbage the moment the var is reassigned,
      // but the ContextCleaner only notices after a DRIVER GC — which a
      // large-heap driver may not run for the whole job. The default
      // periodic-GC interval (30min) let a 3-round peel over 800M edges
      // accumulate >200 GB of dead shuffle files on one box; 2min caps
      // disk at roughly one round's working set at negligible GC cost.
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "2min"))

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
