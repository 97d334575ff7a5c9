package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `shingle_ids` must be BIT-IDENTICAL to the composed built-ins it
  * replaces — array_distinct(transform(sequence, xxhash64(w,w,w))) over
  * split(lower(text), ' ') — on every edge the split/lower/hash semantics
  * have: consecutive/leading/trailing spaces (empty words), non-ASCII
  * lowercasing, fewer than 3 words, empty string, nulls. */
class ShingleIdsSpec extends SparkSpec {

  private val reference =
    """array_distinct(transform(sequence(0, size(w)-3),
      |  i -> xxhash64(w[i], w[i+1], w[i+2])))""".stripMargin

  private def bothWays(texts: Seq[String]): Unit = {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val df = texts.toDF("text")
      .withColumn("w", split(lower(col("text")), " "))
      .withColumn("expected",
        when(size(col("w")) >= 3, expr(reference))
          .otherwise(array().cast("array<bigint>")))
      .withColumn("got", expr("shingle_ids(text)"))
    val rows = df.select("text", "expected", "got").collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"mismatch for '${r.getString(0)}'")
    }
  }

  test("matches the composed built-ins on normal, repeated, and edge texts") {
    bothWays(Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a a",                       // heavy dedup
      "one two three",                     // exactly 3 words
      "one two",                           // < 3 words → empty
      "solo",
      "",
      "  leading and  double  spaces ",    // empty words kept by split
      "MiXeD Case ÄÖÜ Straße ΣΙΓΜΑ here",  // UTF8String lowercasing
      "tab\tis not a delimiter here ok"))
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val texts = Seq("the quick brown fox", "x y z w", "a b")
    def run(ts: Seq[Option[String]]) = ts.toDF("text")
      .select(expr("shingle_ids(text)")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getSeq[Long](0).toSeq)).toSeq
    val direct = texts.map(t => Some(ShingleIds.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(t))
      .toLongArray().toSeq))
    val withNull = texts.map(Option(_)) :+ None
    assert(run(withNull) == direct :+ None)
    assert(interpreted(run(withNull)) == direct :+ None)
  }

  test("null text yields null") {
    import spark.implicits._
    GraftFunctions.ensureRegistered(spark)
    val r = Seq[Option[String]](None, Some("a b c")).toDF("text")
      .select(expr("shingle_ids(text)")).collect()
    assert(r(0).isNullAt(0) && !r(1).isNullAt(0))
  }
}
