package perfbench

import graft.incremental.SnapshotStore
import graft.models.DeepbookPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

/** Output checks. They run untimed; every failure is collected and fails the
  * run, so a wrong answer can never be reported as a fast one. */
final class Checks {
  private val errors = scala.collection.mutable.ArrayBuffer[String]()
  def fail(msg: String): Unit = { System.err.println(s"[perfbench] CHECK FAILED: $msg"); errors += msg }
  def expect(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def ok: Boolean = errors.isEmpty
}

object Checks {
  private implicit val formats: Formats = DefaultFormats

  val Fct = "fct_deepbook_margin_pool_daily"
  val LagCols = Seq("daily_supply_change", "daily_borrow_change", "daily_utilization_change")

  def table(spark: SparkSession, root: String, model: String): DataFrame =
    SnapshotStore.read(spark, s"$root/$model")
      .getOrElse(sys.error(s"model $model has no materialization under $root"))

  /** A DAG store against the generator's expectations: per-model row counts
    * (distinct in-bound keys), unique merge keys, and per-pool fct volumes
    * against the raw amounts the generator summed. */
  def dag(spark: SparkSession, root: String, exp: JValue, c: Checks): Unit = {
    for (m <- DeepbookPipeline.models) {
      val df = table(spark, root, m.name)
      val r = df.agg(count(lit(1)), count_distinct(struct(m.uniqueKey.map(col): _*))).head()
      val want = m.name match {
        case "stg_deepbook_margin_pool_object" => (exp \ "stg_rows").extract[Long]
        case Fct => (exp \ "fct_rows").extract[Long]
        case n => (exp \ "event_rows" \ n).extract[Long]
      }
      c.expect(r.getLong(0) == want, s"${m.name}: ${r.getLong(0)} rows, expected $want")
      c.expect(r.getLong(0) == r.getLong(1), s"${m.name}: duplicate merge keys")
    }
    val volCols = Seq("daily_supply_volume", "daily_withdraw_volume",
      "daily_borrow_volume", "daily_repay_volume")
    val got = table(spark, root, Fct).groupBy("margin_pool_id").sum(volCols: _*)
      .collect().map(r => r.getString(0) -> r).toMap
    for ((pool, spec) <- (exp \ "pools").extract[Map[String, JValue]]) {
      val dec = (spec \ "decimals").extract[Int]
      for (v <- volCols) {
        val want = (spec \ "raw_volume" \ v).extract[Double] / math.pow(10, dec)
        val have = got.get(pool).map(_.getAs[Double](s"sum($v)")).getOrElse(0.0)
        c.expect(math.abs(have - want) <= 1e-9 * math.max(1.0, math.abs(want)),
          s"$Fct: $pool $v = $have, expected $want")
      }
    }
  }

  /** Rows of `a` and `b` that differ, matched on `keys`: doubles within a
    * relative 1e-9, everything else exactly; `updated_at` is a clock stamp. */
  def differing(a: DataFrame, b: DataFrame, keys: Seq[String], only: Column = lit(true)): Long = {
    val cols = a.schema.fields.filterNot(f => keys.contains(f.name) || f.name == "updated_at")
    val x = a.filter(only).as("x")
    val y = b.filter(only).as("y")
    val joined = x.join(y, keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _), "full_outer")
    val same: Seq[Column] = keys.map(k => col(s"x.$k").isNotNull && col(s"y.$k").isNotNull) ++
      cols.map { f =>
        val (p, q) = (col(s"x.${f.name}"), col(s"y.${f.name}"))
        f.dataType match {
          case DoubleType | FloatType =>
            (p.isNull && q.isNull) ||
              abs(p - q) <= lit(1e-9) * greatest(lit(1.0), abs(p), abs(q))
          case _ => p <=> q
        }
      }
    joined.filter(!coalesce(same.reduce(_ && _), lit(false))).count()
  }

  /** IncrementalEquivSpec's law: the incremental store equals a full refresh
    * over the same sources, except the fct's lag columns inside the final
    * lookback window (the reference recomputes them over the window). */
  def equivalent(spark: SparkSession, inc: String, ref: String, c: Checks): Unit =
    for (m <- DeepbookPipeline.models) {
      val (a, b) = (table(spark, inc, m.name), table(spark, ref, m.name))
      val n =
        if (m.name != Fct) differing(a, b, m.uniqueKey)
        else {
          val boundary = a.agg(date_add(max(col("snapshot_date")), -7)).head().getDate(0)
          differing(a.drop(LagCols: _*), b.drop(LagCols: _*), m.uniqueKey) +
            differing(a, b, m.uniqueKey, col("snapshot_date") > lit(boundary))
        }
      c.expect(n == 0, s"${m.name}: $n rows differ between incremental runs and a full refresh")
    }

  /** Row count and an order-insensitive hash of a query result. Floating
    * values enter the hash at 9 significant digits so the order of a
    * distributed sum cannot change it. */
  def fingerprint(df: DataFrame): (Long, String) = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.8e", c)
      case ArrayType(DoubleType | FloatType, _) =>
        concat_ws(",", transform(c, x => format_string("%.8e", x)))
      case _: ArrayType | _: StructType | _: MapType => to_json(c)
      case _ => c
    }
    val h = xxhash64(df.schema.fields.map(f => canon(col(f.name), f.dataType)): _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"))
  }
}
