package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** The reference's job surface, Spark-native.
  *
  * dis-functional-bros/mini-hadoop is a closure engine: a job is two user
  * functions plus contexts (`lib/mini_hadoop/models/types.ex:6-18`,
  * `lib/mini_hadoop/models/job_spec.ex:10-20`). This API keeps that shape
  * but fixes the semantics SURVEY §4.3 flags:
  *   - input is line-aligned (the reference's byte-aligned blocks cut
  *     records; its own `split_on_newline: true` mode is the correct one);
  *   - the reducer is per-key `(K, Iterator[V])` rather than a whole
  *     `%{key => [values]}` map (§4.3.3) — same power, streamable;
  *   - failed tasks retry and fail the job (Spark semantics) instead of
  *     silently completing with partial results (§2.11 "no task retry").
  *
  * Value order within a key is nondeterministic, exactly as in the
  * reference shuffle (`task_result_storage.ex:285-289`): reducers must be
  * order-insensitive.
  */
final case class JobSpec[K, V](
    name: String,
    mapper: String => IterableOnce[(K, V)],
    reducer: (K, Iterator[V]) => IterableOnce[(K, V)],
    sortOpt: Option[SortOpt] = None,
    /** Optional map-side combine. The reference's WordCount mapper
      * pre-counts within its 8MB block (word_count.ex:15-18) and its
      * shuffle store pre-groups per key (A2) — a combiner is the faithful
      * generalization, and it shrinks the shuffle from one row per
      * emitted pair to one row per distinct key per partition. */
    combine: Option[(V, V) => V] = None)

object JobSpec {
  /** Context-threading form (M2 arity parity): the reference passes
    * map/reduce contexts explicitly because its closures cross nodes by
    * message; Spark closures serialize, so contexts just bind here. The
    * combiner passes straight through — context jobs (the reference's
    * PageRank shape, job_spec.ex:10-20) get the same map-side shuffle
    * shrink as plain jobs. */
  def withContexts[K, V, MC, RC](
      name: String,
      mapper: (String, MC) => IterableOnce[(K, V)], mapContext: MC,
      reducer: (K, Iterator[V], RC) => IterableOnce[(K, V)], reduceContext: RC,
      sortOpt: Option[SortOpt] = None,
      combine: Option[(V, V) => V] = None): JobSpec[K, V] =
    JobSpec(name,
      line => mapper(line, mapContext),
      (k, vs) => reducer(k, vs, reduceContext),
      sortOpt,
      combine)
}

/** Result-sort option (O1): `sort_result_opt :: {:key|:value, :asc|:desc}`
  * plus the reference's fallback clause (value desc, key asc) —
  * `lib/mini_hadoop/job/job_runner.ex:314-329`. Our value sorts add a key
  * tiebreak: the reference relies on stable in-memory sort over an
  * unstable-order input, which is nondeterministic; ours is documented
  * deterministic. */
sealed abstract class SortOpt(val suffix: String)
object SortOpt {
  case object KeyAsc extends SortOpt("sorted_by_key_asc")
  case object KeyDesc extends SortOpt("sorted_by_key_desc")
  case object ValueAsc extends SortOpt("sorted_by_value_asc")
  case object ValueDesc extends SortOpt("sorted_by_value_desc")
  /** The reference's catch-all clause: value desc, key asc. */
  case object Default extends SortOpt("sorted_by_default")
}

final case class JobResult(
    jsonPath: String, txtPath: String, sorted: Boolean, entries: Long)

/** Error taxonomy parity (M3): the reference distinguishes
  * `:user_function_crashed` / `:invalid_result_format` /
  * `:unexpected_return_type` (`task_executor.ex:151-211`,
  * `task_runner.ex:165-194`). Scala's types rule out most bad shapes at
  * compile time, so the runtime classes map to what can still go wrong:
  * the user closure throws (crashed), emits a null key (invalid format),
  * or returns null instead of a collection (unexpected return type). */
final class InvalidResultException(msg: String) extends RuntimeException(msg)
final class UserFunctionCrashedException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)
final class UnexpectedReturnTypeException(msg: String) extends RuntimeException(msg)

object MiniJob {

  /** File-based entry point (§3.1 step 1-4 analog): multiple inputs union
    * by concatenation, exactly like `fetch_blocks_by_filenames`
    * (`master_node.ex:92-107`) — `textFile(paths*)` is that union. */
  def run[K: Encoder, V](spark: SparkSession, spec: JobSpec[K, V],
      inputPaths: Seq[String], outputDir: String)(
      implicit kvEnc: Encoder[(K, V)]): JobResult =
    runOn(spark, spec, spark.read.textFile(inputPaths: _*), outputDir)

  /** The dataflow alone (map → shuffle → reduce → optional sort), without
    * sinks — usable as a query building block. */
  def transform[K: Encoder, V](spark: SparkSession, spec: JobSpec[K, V],
      lines: Dataset[String])(
      implicit kvEnc: Encoder[(K, V)]): Dataset[(K, V)] = {
    val flat = lines.flatMap(line => checked(spec.name, "mapper")(spec.mapper(line)))
    val mapped = spec.combine match {
      case None => flat
      case Some(c) => flat.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[K, V]
        it.foreach { case (k, v) =>
          acc.updateWith(k) { case Some(old) => Some(c(old, v)); case None => Some(v) }
        }
        acc.iterator
      }
    }
    val reduced = mapped
      .groupByKey(_._1)
      .flatMapGroups((k, it) =>
        checked(spec.name, "reducer")(spec.reducer(k, it.map(_._2))))

    // Distributed sort replaces the reference's driver-side in-memory sort
    // (job_runner.ex:319 "Sorting requires loading all to memory").
    // The range sort's sampling pass would re-run every reducer call
    // (measured: 2 calls per key), so a sorted job reduces once into a
    // materialized frame first (the d02 sampling-pass guard).
    import org.apache.spark.sql.functions.col
    val order = spec.sortOpt.map {
      case SortOpt.KeyAsc    => Seq(col("_1").asc, col("_2").asc)
      case SortOpt.KeyDesc   => Seq(col("_1").desc, col("_2").desc)
      case SortOpt.ValueAsc  => Seq(col("_2").asc, col("_1").asc)
      case SortOpt.ValueDesc => Seq(col("_2").desc, col("_1").asc)
      case SortOpt.Default   => Seq(col("_2").desc, col("_1").asc)
    }
    order.fold(reduced)(o =>
      Materialize(reduced.toDF(), "reduced").as[(K, V)].sort(o: _*))
  }

  /** Runs one user map/reduce call under the error taxonomy: a throw is
    * user_function_crashed, a null return unexpected_return_type, a null
    * key invalid_result_format. */
  private def checked[K, V](job: String, side: String)(
      call: => IterableOnce[(K, V)]): Seq[(K, V)] = {
    def crashed(e: Throwable) = new UserFunctionCrashedException(
      s"job '$job': $side crashed (user_function_crashed): ${e.getMessage}", e)
    val raw =
      try call
      catch {
        case e: InvalidResultException => throw e
        case scala.util.control.NonFatal(e) => throw crashed(e)
      }
    if (raw == null) throw new UnexpectedReturnTypeException(
      s"job '$job': $side returned null instead of pairs (unexpected_return_type)")
    // consume INSIDE the taxonomy wrapper: a lazy IterableOnce (iterator,
    // view, LazyList) runs user code during iteration, not at the call
    val out =
      try raw.iterator.toSeq
      catch {
        case e: InvalidResultException => throw e
        case scala.util.control.NonFatal(e) => throw crashed(e)
      }
    out.foreach { case (k, _) =>
      if (k == null) throw new InvalidResultException(
        s"job '$job': $side emitted a null key (invalid_result_format)")
    }
    out
  }

  /** Full job: transform + both single-file sinks (§3.1 step 9 analog). */
  def runOn[K: Encoder, V](spark: SparkSession, spec: JobSpec[K, V],
      lines: Dataset[String], outputDir: String)(
      implicit kvEnc: Encoder[(K, V)]): JobResult = {
    val sorted = transform(spark, spec, lines)
    val suffix = spec.sortOpt.map(_.suffix).getOrElse("unsorted")
    val jsonPath = s"$outputDir/${spec.name}.json"
    val txtPath = s"$outputDir/${spec.name}_$suffix.txt"
    new java.io.File(outputDir).mkdirs()

    // ONE streaming pass feeds both sinks (the reference also writes both
    // files from a single stream, job_runner.ex:224-240): toLocalIterator
    // computes each partition once and the tee pushes every entry into the
    // JSON and TSV writers, so the map/shuffle/reduce/sort DAG executes
    // exactly once and driver memory stays O(1).
    import scala.jdk.CollectionConverters._
    val suffixText = spec.sortOpt.map(_.suffix.replace('_', ' ')).getOrElse("unsorted")
    val json = new Sinks.JsonObjectSink(jsonPath)
    val tsv: Sinks.KVSink = spec.sortOpt match {
      case None    => new Sinks.TsvCountSink(txtPath, suffixText)
      case Some(_) => new Sinks.TsvSortedSink(txtPath, suffixText)
    }
    // close-on-failure: a job error mid-stream must not leak the writers
    // (or TsvSortedSink's .body temp file) in a long-lived driver
    var ok = false
    val (n1, n2) =
      try {
        sorted.toLocalIterator().asScala.foreach { case (k, v) =>
          json.write(k, v); tsv.write(k, v)
        }
        ok = true
        (json.close(), tsv.close())
      } finally if (!ok) {
        try json.close() catch { case scala.util.control.NonFatal(_) => }
        try tsv.close() catch { case scala.util.control.NonFatal(_) => }
      }
    require(n1 == n2, s"sink entry counts diverged: json=$n1 tsv=$n2")
    JobResult(jsonPath, txtPath, spec.sortOpt.isDefined, n1)
  }
}
