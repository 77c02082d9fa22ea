package graft

import graft.core.{JobSpec, MiniJob, Sinks, SortOpt}
import graft.examples.WordCount
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** MiniJob end-to-end: map → shuffle → reduce → sort → both sinks,
  * including byte-format checks of the JSON-object and TSV-count sinks
  * (reference formats: job_runner.ex:242-323). */
class CoreJobSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  test("wordcount job end-to-end with sinks") {
    import spark.implicits._
    val lines = Seq("the cat and the hat", "the cat").toDS()
    val out = Files.createTempDirectory("graftjob").toString
    val res = MiniJob.runOn(spark, WordCount.spec(Some(SortOpt.Default)), lines, out)

    assert(res.entries == 4) // the, cat, and, hat
    assert(res.sorted)

    val json = Files.readString(Paths.get(res.jsonPath))
    assert(json.startsWith("{\n"))
    assert(json.endsWith("\n}"))
    assert(json.contains("\"the\": 3"))
    assert(json.contains("\"cat\": 2"))

    val txt = Files.readString(Paths.get(res.txtPath))
    // sorted path: UNPADDED header, newline-joined body, NO trailing
    // newline (job_runner.ex:313-322)
    assert(txt.startsWith("# sorted by default - Total: 4 entries\n"))
    assert(!txt.endsWith("\n"))
    val lines2 = txt.split("\n")
    // default sort: value desc, key asc tiebreak
    assert(lines2.drop(1).toSeq == Seq("the\t3", "and\t1", "cat\t2", "hat\t1")
      .sortBy(s => (-s.split("\t")(1).toLong, s.split("\t")(0))))
    assert(!Files.exists(Paths.get(res.txtPath + ".body")))
  }

  test("runOn executes the job DAG exactly once for both sinks") {
    import spark.implicits._
    val calls = spark.sparkContext.longAccumulator("mapper-calls")
    val spec = JobSpec[String, Long]("once",
      line => { calls.add(1); line.split(" ").map(_ -> 1L) },
      (k, vs) => Iterator.single(k -> vs.sum),
      Some(SortOpt.KeyAsc))
    val out = Files.createTempDirectory("graftjob").toString
    val res = MiniJob.runOn(spark, spec, Seq("a b", "c d", "a c").toDS(), out)
    assert(res.entries == 4)
    // 3 input lines → exactly 3 mapper invocations; a double execution
    // (the pre-fix two-toLocalIterator shape) would count 6.
    assert(calls.value == 3L)
  }

  test("every sort option and unsorted calls the reducer once per key") {
    import spark.implicits._
    // enough keys that the range sort samples several partitions
    val lines = (0 until 50).map(i => (0 until 8).map(j => s"k${i * 8 + j}").mkString(" "))
    val sorts = Seq(SortOpt.KeyAsc, SortOpt.KeyDesc, SortOpt.ValueAsc,
      SortOpt.ValueDesc, SortOpt.Default)
    for (opt <- None +: sorts.map(Some(_))) {
      val calls = spark.sparkContext.longAccumulator(s"reducer-calls-$opt")
      val spec = JobSpec[String, Long]("once_per_key",
        line => line.split(" ").map(_ -> 1L),
        (k, vs) => { calls.add(1); Iterator.single(k -> vs.sum) }, opt)
      val out = Files.createTempDirectory("graftjob").toString
      val res = MiniJob.runOn(spark, spec, lines.toDS(), out)
      assert(res.entries == 400)
      assert(calls.value == 400L, s"$opt: ${calls.value} reducer calls for 400 keys")
    }
  }

  test("unsorted job writes unsorted header") {
    import spark.implicits._
    val lines = Seq("foo bar").toDS()
    val out = Files.createTempDirectory("graftjob").toString
    val res = MiniJob.runOn(spark, WordCount.spec(None), lines, out)
    val txt = Files.readString(Paths.get(res.txtPath))
    assert(txt.startsWith("# unsorted - Total: 2 entries"))
    assert(res.txtPath.endsWith("_unsorted.txt"))
  }

  test("key sorts order by key with value tiebreak") {
    import spark.implicits._
    val spec = JobSpec[String, Long]("t",
      line => line.split(" ").map(_ -> 1L),
      (k, vs) => Iterator.single(k -> vs.sum),
      Some(SortOpt.KeyDesc))
    val got = MiniJob.transform(spark, spec, Seq("b a c").toDS()).collect()
    assert(got.map(_._1).toSeq == Seq("c", "b", "a"))
  }

  /** Runs `spec` over `input` and asserts the failure carries the
    * taxonomy `name` (in the Spark error or its cause). */
  private def assertTaxonomy(spec: JobSpec[String, Long], input: Seq[String],
      name: String): Unit = {
    import spark.implicits._
    val ex = intercept[org.apache.spark.SparkException] {
      MiniJob.transform(spark, spec, input.toDS()).collect()
    }
    assert(ex.getMessage.contains(name) ||
      Option(ex.getCause).exists(_.getMessage.contains(name)),
      s"${spec.name}: ${ex.getMessage}")
  }

  private val sumReducer: (String, Iterator[Long]) => IterableOnce[(String, Long)] =
    (k, vs) => Iterator.single(k -> vs.sum)
  private val countMapper: String => IterableOnce[(String, Long)] =
    line => Seq(line -> 1L)

  test("null keys raise the invalid-result error") {
    assertTaxonomy(JobSpec[String, Long]("bad",
      _ => Seq((null: String) -> 1L), sumReducer),
      Seq("x"), "invalid_result_format")
    assertTaxonomy(JobSpec[String, Long]("rbad",
      countMapper, (_, vs) => Iterator.single((null: String) -> vs.sum)),
      Seq("x"), "invalid_result_format")
  }

  test("context-threading form binds contexts") {
    import spark.implicits._
    val spec = JobSpec.withContexts[String, Long, Int, Long](
      "ctx",
      (line, mult) => line.split(" ").map(_ -> mult.toLong), 5,
      (k, vs, add) => Iterator.single(k -> (vs.sum + add)), 100L)
    val got = MiniJob.transform(spark, spec, Seq("w w").toDS()).collect().toMap
    assert(got("w") == 110L) // 5 + 5 + 100
  }

  test("context-threading form carries the combiner") {
    import spark.implicits._
    val spec = JobSpec.withContexts[String, Long, Int, Long](
      "ctx-combine",
      (line, mult) => line.split(" ").map(_ -> mult.toLong), 2,
      (k, vs, add) => Iterator.single(k -> (vs.sum + add)), 0L,
      combine = Some(_ + _))
    assert(spec.combine.isDefined)
    val got = MiniJob.transform(spark, spec, Seq("w w w").toDS()).collect().toMap
    assert(got("w") == 6L) // 3 × 2, pre-summed map-side
  }

  test("crashing user functions surface as user_function_crashed") {
    assertTaxonomy(JobSpec[String, Long]("boom",
      line => { if (line.nonEmpty) sys.error("mapper exploded"); Nil },
      sumReducer), Seq("x"), "user_function_crashed")
    assertTaxonomy(JobSpec[String, Long]("rboom",
      countMapper, (k, _) => { if (k.nonEmpty) sys.error("reducer exploded"); Nil }),
      Seq("x"), "user_function_crashed")
  }

  test("lazily-crashing mapper output is still classified user_function_crashed") {
    // the mapper call returns instantly; the crash fires during ITERATION
    assertTaxonomy(JobSpec[String, Long]("lazyboom",
      line => line.split(" ").iterator.map { w =>
        if (w == "boom") sys.error("lazy exploded"); w -> 1L
      },
      sumReducer), Seq("a boom c"), "user_function_crashed")
  }

  test("null-returning user functions surface as unexpected_return_type") {
    assertTaxonomy(JobSpec[String, Long]("nullret",
      _ => (null: Seq[(String, Long)]), sumReducer),
      Seq("x"), "unexpected_return_type")
    assertTaxonomy(JobSpec[String, Long]("rnullret",
      countMapper, (_, _) => (null: Seq[(String, Long)])),
      Seq("x"), "unexpected_return_type")
  }

  test("json sink escapes control characters and quotes") {
    val path = Files.createTempFile("sink", ".json").toString
    val sink = new Sinks.JsonObjectSink(path)
    sink.write("a\"b", "x\ny")
    assert(sink.close() == 1L)
    val s = Files.readString(Paths.get(path))
    assert(s == "{\n  \"a\\\"b\": \"x\\ny\"\n}")
  }
}
