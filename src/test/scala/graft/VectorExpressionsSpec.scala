package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native expressions must agree bit-for-bit with the HOF formulations
  * they replaced (same summation order), in both codegen and interpreted
  * paths, and be callable from SQL after registration. */
class VectorExpressionsSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  test("cosine_similarity equals the aggregate/zip_with formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val df = Seq.fill(50)((
      Seq.fill(64)(rnd.nextDouble() - 0.5),
      Seq.fill(64)(rnd.nextDouble() - 0.5))).toDF("a", "b")
    val got = df.select(
      VectorFunctions.cosine_similarity(col("a"), col("b")).as("c1"),
      (expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)") /
        (sqrt(expr("aggregate(a, 0D, (acc, x) -> acc + x * x)")) *
          sqrt(expr("aggregate(b, 0D, (acc, x) -> acc + x * x)")))).as("c2"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bit-identical, not approx
    }
  }

  test("jaccard_similarity equals the array_intersect formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(2)
    val vocab = ('a' to 'z').map(_.toString)
    val df = Seq.fill(50)((
      Seq.fill(20)(vocab(rnd.nextInt(26))).distinct,
      Seq.fill(20)(vocab(rnd.nextInt(26))).distinct)).toDF("a", "b")
    val got = df.select(
      VectorFunctions.jaccard_similarity(col("a"), col("b")).as("j1"),
      (size(array_intersect(col("a"), col("b"))) /
        (size(col("a")) + size(col("b")) - size(array_intersect(col("a"), col("b"))))).as("j2"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("SQL registration exposes both functions") {
    val r = spark.sql(
      """SELECT cosine_similarity(array(1D, 0D), array(1D, 0D)) AS c,
               jaccard_similarity(array('x','y'), array('y','z')) AS j""")
      .collect().head
    assert(r.getDouble(0) == 1.0)
    assert(math.abs(r.getDouble(1) - 1.0 / 3.0) < 1e-15)
  }

  test("type check rejects non-double arrays") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(VectorFunctions.cosine_similarity(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("array<double>") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("first_common_long returns the minimum shared element or null") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 5L, 9L), Seq(2L, 5L, 9L)),   // shares {5, 9} → 5
      (Seq(-7L, 3L), Seq(-7L, 8L)),         // negative mins merge correctly
      (Seq(1L, 2L), Seq(3L, 4L)),           // disjoint → null
      (Seq.empty[Long], Seq(1L)))           // empty side → null
      .toDF("a", "b")
    val got = df.select(
      VectorFunctions.first_common_long(col("a"), col("b")).as("c")).collect()
    assert(got(0).getLong(0) == 5L)
    assert(got(1).getLong(0) == -7L)
    assert(got(2).isNullAt(0))
    assert(got(3).isNullAt(0))
    // randomized agreement with the HOF formulation, codegen vs interpreted
    val rnd = new scala.util.Random(7)
    val rdf = Seq.fill(200)((
      Seq.fill(12)(rnd.nextInt(30).toLong).distinct.sorted,
      Seq.fill(12)(rnd.nextInt(30).toLong).distinct.sorted)).toDF("a", "b")
    rdf.select(
      VectorFunctions.first_common_long(col("a"), col("b")).as("c1"),
      expr("array_min(array_intersect(a, b))").as("c2")).collect()
      .foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
      }
  }

  test("sorted_long_intersect_within: exact count within budget, -1 over") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 4L), 2),  // misses {1,3} = budget → 2
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 4L), 1),  // misses 2 > 1 → -1
      (Seq(1L, 2L), Seq(1L, 2L, 99L), 0),     // subset, zero misses → 2
      (Seq(5L, 6L), Seq(1L, 2L), 1),          // disjoint, 2 misses > 1 → -1
      (Seq.empty[Long], Seq(1L), 0))          // empty A → 0 misses → 0
      .toDF("a", "b", "k")
    val got = df.select(VectorFunctions.sorted_long_intersect_within(
      col("a"), col("b"), col("k")).as("c")).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(2, -1, 2, -1, 0))
    // randomized: wherever the budget admits, the count equals the
    // plain intersection size; where it refuses, the true miss count
    // really exceeds the budget
    val rnd = new scala.util.Random(13)
    val rdf = Seq.fill(300)((
      Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted,
      Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted,
      rnd.nextInt(8))).toDF("a", "b", "k")
    rdf.select(col("a"), col("k"),
      VectorFunctions.sorted_long_intersect_within(col("a"), col("b"), col("k")).as("c"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
      .foreach { r =>
        val misses = r.getSeq[Long](0).size - r.getInt(3)
        if (misses <= r.getInt(1)) assert(r.getInt(2) == r.getInt(3))
        else assert(r.getInt(2) == -1)
      }
  }

  test("first_common_long accepts nullable-element schemas (parquet round-trip)") {
    import spark.implicits._
    // A parquet round-trip (Materialize reliable mode) erases
    // containsNull=false even when the data is unchanged, so null-free
    // elements are a RUNTIME contract — the analyzer must accept the
    // nullable-element schema and evaluate null-free data correctly.
    val p = java.nio.file.Files.createTempDirectory("graft-fcl").toString
    Seq((Seq(1L, 3L, 7L), Seq(2L, 3L, 7L))).toDF("a", "b")
      .write.mode("overwrite").parquet(p)
    val rt = spark.read.parquet(p)
    assert(rt.schema.fields.forall(
      _.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull))
    val got = rt.select(
      VectorFunctions.first_common_long(col("a"), col("b"))).head.getLong(0)
    assert(got == 3L)
  }

  test("first_common_long still rejects non-long arrays at analysis time") {
    import spark.implicits._
    val df = Seq((Seq("x"), Seq("y"))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(VectorFunctions.first_common_long(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("first_common_long") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
