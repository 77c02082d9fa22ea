package graftbench

import graft.core.{MiniHadoopApi, MiniJob}
import graft.examples.{PageRank, WordCount}
import graft.{Queries, Session}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set up, warm up, run the workload's
  * timed section, and write the raw measurements as one JSON object.
  *
  *   Main --workload W --trace 0|1 --inputs DIR --work DIR --out FILE --nodes N
  *
  * A single client thread drives everything (closed loop). Layers are
  * measured from outside, by timing calls into the engine's public
  * functions. With --trace 1 the section runs untraced, then under
  * [[Tracer]], then untraced again; the traced one supplies the per-layer
  * numbers. The output checks (row counts and order-independent digests)
  * ride the timed action itself as a `Dataset.observe`.
  */
object Main {
  val DedupQueries = Seq("d07_allpairs_jaccard", "d06_dedup_clusters",
    "d02_minhash_lsh", "p01_corpus_curation")

  def clock: Double = System.nanoTime() / 1e9

  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Sum of crc32 over the '|'-joined row values: an order-independent
    * digest the generators can compute in Python too. */
  def digestOf(cols: Seq[Column]): Column =
    sum(crc32(concat_ws("|",
      cols.map(c => coalesce(c.cast("string"), lit("NULL"))): _*).cast("binary")))

  def observeChecked(df: DataFrame, cols: Seq[Column]): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows"), digestOf(cols).as("digest")), obs)
  }

  def checks(obs: Observation): (Long, Long) = {
    val m = Await.result(obs.future, 120.seconds)
    (m.getAs[Long]("rows"),
      Option(m.getAs[java.lang.Long]("digest")).map(_.longValue).getOrElse(0L))
  }

  /** Live heap after a forced full GC, in MB (called between timed parts).
    * The second GC runs after Spark's ContextCleaner has had time to drop
    * the blocks of RDDs and broadcasts the first GC found unreachable. */
  def heapAfterGc(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val run = new Run(a("workload"), a("trace") == "1", a("inputs"), a("work"),
      a("nodes").toLong)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(a("out")), run.execute())
  }
}

final class Run(workload: String, trace: Boolean, in: String, work: String,
    nodes: Long) {
  import Main._

  private val cores = Session.cpus.toInt
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val heaps = mutable.ArrayBuffer.empty[Double]
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private var opSeq = 0

  private def session(): SparkSession =
    Session.builder("graft-perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.graft.scratchDir", s"$work/scratch")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()

  private def gcCheckpoint(): Unit = heaps += heapAfterGc()

  /** Run `body` with this thread's Spark jobs tagged, so a traced run can
    * attribute them; returns the tag. */
  private def tagged[T](name: String)(body: => T): (T, String) = {
    opSeq += 1
    val tag = f"gbop-$opSeq%05d-$name"
    spark.sparkContext.addJobTag(tag)
    try (body, tag) finally spark.sparkContext.removeJobTag(tag)
  }

  // ------------------------------------------------------------- dedup ops
  /** `Q.build` + noop write with the check observation riding the write. */
  private def query(name: String, dir: String): Map[String, Any] = {
    val q = Queries.byName(name)
    val t0 = clock
    var t1 = t0
    try {
      val ((rows, digest), tag) = tagged(name) {
        val df = q.build(spark, dir)
        t1 = clock
        val (checked, obs) = observeChecked(df, df.columns.toSeq.map(col))
        checked.write.mode("overwrite").format("noop").save()
        checks(obs)
      }
      val t2 = clock
      Map("name" -> name, "ok" -> true, "s" -> (t2 - t0), "build_s" -> (t1 - t0),
        "action_s" -> (t2 - t1), "rows" -> rows, "digest" -> digest,
        "jobs" -> tracer.map(_.jobsTagged(tag).size).getOrElse(-1))
    } catch { case NonFatal(e) =>
      Map("name" -> name, "ok" -> false, "s" -> (clock - t0), "error" -> e.toString)
    }
  }

  private def adjTables(): Int =
    spark.catalog.listTables().collect().count(_.name.startsWith("graft_adj_"))

  /** One cold d07 -> d06 -> d02 -> p01 pass; the memo tables it built. */
  private def dedupPass(dir: String): Map[String, Any] = {
    val before = adjTables()
    val ops = DedupQueries.map(query(_, dir))
    gcCheckpoint()
    Map("ops" -> ops, "s" -> ops.map(_("s").asInstanceOf[Double]).sum,
      "memo_builds" -> (adjTables() - before))
  }

  // ------------------------------------------------------------ MiniJob ops
  private lazy val api = new MiniHadoopApi(spark, maxConcurrentJobs = 1)

  private def wordCountJob(shard: String, outDir: String): Map[String, Any] = {
    val s = spark
    import s.implicits._
    val t0 = clock
    try {
      val id = api.submitJob(WordCount.spec(), Seq(shard), outDir)
        .fold(e => sys.error(s"submit rejected: $e"), id => id)
      val info = api.awaitJob(id, 170000)
        .fold(e => sys.error(s"job lost: $e"), i => i)
      val ok = info.status == "completed"
      Map("name" -> "wordcount", "ok" -> ok, "s" -> (clock - t0), "id" -> id,
        "shard" -> shard, "created" -> info.createdAt,
        "started" -> info.startedAt.getOrElse(-1L),
        "completed" -> info.completedAt.getOrElse(-1L),
        "map_tasks" -> info.progress.get("map").map(_.total).getOrElse(0L),
        "reduce_tasks" -> info.progress.get("reduce").map(_.total).getOrElse(0L),
        "json" -> info.result.map(_.jsonPath).getOrElse(""),
        "tsv" -> info.result.map(_.txtPath).getOrElse(""),
        "error" -> info.error.getOrElse(""),
        "jobs" -> tracer.map(_.jobsInGroup(id).size).getOrElse(-1))
    } catch { case NonFatal(e) =>
      Map("name" -> "wordcount", "ok" -> false, "s" -> (clock - t0), "shard" -> shard,
        "error" -> e.toString)
    }
  }

  private def pageRank(graph: String, iterations: Int, n: Long,
      outDir: String): Map[String, Any] = {
    val t0 = clock
    try {
      val (_, tag) = tagged("pagerank") {
        val links = PageRank.parseAdjacency(spark, spark.read.textFile(graph))
        PageRank.run(spark, links, iterations, 0.85, n)
          .write.mode("overwrite").parquet(outDir)
      }
      Map("name" -> "pagerank", "ok" -> true, "s" -> (clock - t0), "out" -> outDir,
        "iterations" -> iterations,
        "jobs" -> tracer.map(_.jobsTagged(tag).size).getOrElse(-1))
    } catch { case NonFatal(e) =>
      Map("name" -> "pagerank", "ok" -> false, "s" -> (clock - t0),
        "iterations" -> iterations, "error" -> e.toString)
    }
  }

  private def shards(): Seq[String] =
    new File(s"$in/corpus").listFiles().map(_.getPath).sorted.toSeq

  /** One WordCount job per shard, closed loop; then 10 PageRank
    * iterations. */
  private def minijobSection(label: String)
      : (Seq[Map[String, Any]], Map[String, Any], Double) = {
    val jobs = shards().zipWithIndex.map { case (shard, i) =>
      wordCountJob(shard, s"$work/$label/wc_$i")
    }
    gcCheckpoint()
    val wcWall = jobs.map(_("s").asInstanceOf[Double]).sum
    val pr = pageRank(s"$in/graph.tsv", 10, nodes, s"$work/$label/pagerank")
    gcCheckpoint()
    (jobs, pr, wcWall + pr("s").asInstanceOf[Double])
  }

  // ------------------------------------------------------------- stream ops
  private def stream(chunks: String, label: String): Map[String, Any] = {
    import org.apache.spark.sql.streaming.Trigger
    val t0 = clock
    try {
      val schema = spark.read.parquet(chunks).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(chunks)
      val out = graft.streaming.EventStreams.sessionWindowCounts(src)
      val checked = out.observe("check", count(lit(1)).as("rows"),
        digestOf(Seq(col("user_id"), unix_micros(col("sess_start")),
          unix_micros(col("sess_end")), col("n_events"))).as("digest"))
      val q = checked.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$work/$label/checkpoint")
        .trigger(Trigger.ProcessingTime(0L)).start()
      try q.processAllAvailable() finally q.stop()
      val wall = clock - t0
      q.exception.foreach(throw _)
      val progs = q.recentProgress.toSeq
      val data = progs.filter(_.numInputRows > 0)
      val (rows, digest) = progs.flatMap(p => Option(p.observedMetrics.get("check")))
        .foldLeft((0L, 0L)) { case ((r, d), row) =>
          (r + row.getAs[Long]("rows"),
            d + Option(row.getAs[java.lang.Long]("digest")).map(_.longValue).getOrElse(0L))
        }
      Map("name" -> "stream", "ok" -> true, "s" -> wall, "rows" -> rows, "digest" -> digest,
        "batches" -> data.map(p => Seq(p.numInputRows, p.batchDuration)),
        "input_rows" -> data.map(_.numInputRows).sum)
    } catch { case NonFatal(e) =>
      Map("name" -> "stream", "ok" -> false, "s" -> (clock - t0), "error" -> e.toString)
    }
  }

  // ---------------------------------------------------------------- run
  /** One of each timed operation on inputs of other seeds (sizes in
    * run.py). It leaves the JVM partly warm: a traced run's later
    * sections are faster than its timed one. */
  private def warmUp(): Unit = workload match {
    case "dedup_cold" => DedupQueries.foreach(query(_, s"$in/docs_warm"))
    case "mr_stream" =>
      wordCountJob(s"$in/warm_shard.txt", s"$work/warm/wc")
      pageRank(s"$in/warm_graph.tsv", 2, nodes, s"$work/warm/pagerank")
      stream(s"$in/warm_chunks", "warm")
    case other => sys.error(s"unknown workload $other")
  }

  /** A timed section and its wall time (forced GCs excluded; on
    * dedup_cold the median pass). Every dedup pass reads its own copy of
    * the documents (`docs_<label>_<i>`), so each is memo-cold. */
  private def section(label: String): (Map[String, Any], Double) =
    workload match {
      case "dedup_cold" =>
        val dirs = new File(in).listFiles().map(_.getName)
          .filter(_.startsWith(s"docs_${label}_")).sorted.toSeq
        val passes = dirs.map(d => dedupPass(s"$in/$d"))
        (Map("passes" -> passes), median(passes.map(_("s").asInstanceOf[Double])))
      case "mr_stream" =>
        val (jobs, pr, mrWall) = minijobSection(label)
        val st = stream(s"$in/chunks", label)
        gcCheckpoint()
        (Map("ops" -> jobs, "pagerank" -> pr, "stream" -> st),
          mrWall + st("s").asInstanceOf[Double])
    }

  /** Median of three alternating runs each of `MiniJob.transform` with a
    * noop write and the full `MiniJob.runOn` with both sinks. */
  private def minijobSplit(): (Double, Double) = {
    val s = spark
    import s.implicits._
    val shard = spark.read.textFile(shards().head)
    val runs = (0 until 3).map { i =>
      val t0 = clock
      MiniJob.transform(spark, WordCount.spec(), shard)
        .write.mode("overwrite").format("noop").save()
      val t1 = clock
      MiniJob.runOn(spark, WordCount.spec(), shard, s"$work/runon_$i")
      (t1 - t0, clock - t1)
    }
    (median(runs.map(_._1)), median(runs.map(_._2)))
  }

  def execute(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    // set-up = JVM start to warm-up done, once per run: a repeat inside the
    // JVM would time a warm JVM, not what a user's first call pays
    val boot = System.currentTimeMillis() / 1e3 - jvmStart
    val t0 = clock
    spark = session()
    result("session_s") = clock - t0
    spark.sparkContext.setLogLevel("WARN")
    warmUp()
    result("setup_s") = boot + clock - t0
    result("cores") = cores
    result("driver_max_heap_mb") = Runtime.getRuntime.maxMemory / 1e6

    heaps.clear()
    val (timed, wall) = section("timed")
    result("heaps_mb") = heaps.toSeq
    result("timed") = timed
    result("wall_s") = wall
    if (trace) {
      // untraced, traced, untraced: the tracing overhead is the traced
      // wall minus the mean of its neighbours, which cancels warm-up drift
      val t = new Tracer(spark)
      tracer = Some(t)
      t.reset()
      val (traced, tracedWall) = section("traced")
      val layers = t.summary(tracedWall, cores)
      val batches = t.batches.toSeq.map(_.progress).filter(_.numInputRows > 0)
      def p50(k: String): Double = {
        val v = batches.flatMap(b => Option(b.durationMs.get(k)).map(_.doubleValue)).sorted
        if (v.isEmpty) 0.0 else v(v.size / 2)
      }
      val stateOps = batches.flatMap(_.stateOperators)
      val streamLayers = Map(
        "stream.addBatch_ms" -> p50("addBatch"),
        "stream.queryPlanning_ms" -> p50("queryPlanning"),
        "stream.walCommit_ms" -> p50("walCommit"),
        "stream.commitOffsets_ms" -> p50("commitOffsets"),
        "stream.latestOffset_ms" -> p50("latestOffset"),
        "stream.getBatch_ms" -> p50("getBatch"),
        "stream.state_rows_max" ->
          stateOps.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
        "stream.state_mem_mb_max" ->
          stateOps.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0),
        "stream.late_rows_dropped" ->
          stateOps.map(_.numRowsDroppedByWatermark.toDouble).sum)
      t.close()
      tracer = None
      val (after, afterWall) = section("after")
      result("after") = after
      result("traced") = traced
      result("layers") = layers ++ streamLayers
      result("trace_overhead_s") = tracedWall - (wall + afterWall) / 2
      if (workload == "mr_stream") {
        val (transform, runOn) = minijobSplit()
        result("transform_s") = transform
        result("runon_s") = runOn
      }
    }
    spark.stop()
    result.toMap
  }
}
