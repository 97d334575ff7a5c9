package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The integer-L2 codegen expression (r15 opt): both evaluation paths,
  * null handling, and bit-identity with the interpreted
  * `aggregate(zip_with(...))` left-fold it replaces in every
  * trained-quantizer operator's innermost loop. */
class VectorL2SqLongSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Seq(1L, 2L, 3L), Seq(4L, 6L, 3L)),
    (2L, Seq(1000000L, 0L), Seq(0L, 1000000L))).toDF("id", "a", "b")

  test("vector_l2sq computes Σ (aᵢ−bᵢ)² (codegen path)") {
    GraftFunctions.ensureRegistered(spark)
    val r = df.select(col("id"), expr("vector_l2sq(a, b)").as("d"))
      .orderBy("id").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 25L), (2L, 2000000000000L)))
  }

  test("interpreted eval matches codegen") {
    GraftFunctions.ensureRegistered(spark)
    // element-nullable arrays take the per-element null branch
    val edges = Seq(
      (Seq(Option(1L), Option(2L), Option(3L)), Seq(Option(4L), Option(6L), Option(3L))),
      (Seq(Option(1L), Option(2L), Option(3L)), Seq(Option(1L))), // mismatched
      (Seq(Option(1L), None), Seq(Option(1L), Option(2L)))) // null element
      .toDF("a", "b")
    def l2(d: org.apache.spark.sql.DataFrame) =
      d.select(expr("vector_l2sq(a, b)")).as[Option[Long]].collect().toSeq
    val codegen = l2(edges)
    interpreted {
      assert(l2(df) == Seq(Some(25L), Some(2000000000000L)))
      assert(l2(edges) == Seq(Some(25L), None, None))
    }
    assert(codegen == Seq(Some(25L), None, None))
  }

  test("mismatched lengths yield null, like the zip_with pad") {
    GraftFunctions.ensureRegistered(spark)
    val r = Seq((Seq(1L, 2L, 3L), Seq(1L))).toDF("a", "b")
      .select(expr("vector_l2sq(a, b)"))
    assert(r.head().isNullAt(0))
  }

  test("null array yields null; result is bit-identical to the HOF left-fold") {
    GraftFunctions.ensureRegistered(spark)
    val withNull = Seq((Option(Seq(1L, 2L)), Option.empty[Seq[Long]]))
      .toDF("a", "b")
    assert(withNull.select(expr("vector_l2sq(a, b)")).head().isNullAt(0))
    // the engine's quantized domains: offset 1e-6 units in [0, 2e6]
    val vecs = Seq((Seq.tabulate(64)(i => (i * 31249L) % 2000001L),
      Seq.tabulate(64)(i => ((i + 7) * 104729L) % 2000001L))).toDF("a", "b")
    val native = vecs.select(expr("vector_l2sq(a, b)")).as[Long].head()
    val hof = vecs.select(
      expr("aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L, (acc,x) -> acc+x)"))
      .as[Long].head()
    assert(native == hof)
  }

  test("works inside a higher-order lambda (the per-codebook transform shape)") {
    GraftFunctions.ensureRegistered(spark)
    val r = Seq((Seq(1L, 2L), Seq(Seq(1L, 2L), Seq(3L, 4L))))
      .toDF("u", "cents")
      .select(expr("transform(cents, c -> vector_l2sq(u, c))").as("s"))
      .as[Seq[Long]].head()
    assert(r == Seq(0L, 8L))
  }
}
