package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-rehearsal tier generator: amplifies an sf directory by an integer
  * factor K with the join/dedup structure preserved, so Bench can be run
  * one tier above the largest driver-provided scale (SCALE.md §"rehearsal").
  *
  * Amplification is K key-shifted copies, NOT K verbatim copies — verbatim
  * duplication would manufacture quadratic artifacts the real 100 TB corpus
  * doesn't have (every doc near-dup with its 9 clones, every vector
  * cosine-1.0 with its 9 clones):
  *
  *   - Relational tables: every key column shifts by `copy × 10M`, applied
  *     consistently across FK pairs (orders↔lineitem, customer↔orders…), so
  *     per-copy join cardinalities are exactly the originals and output
  *     sizes scale linearly. Dimension tables (region/nation) stay fixed —
  *     as they do at any real scale.
  *   - documents: every non-leading word gets a copy-specific prefix
  *     (`" " → " c<i>x"`). A bijection on word sequences, so within-copy
  *     word-shingle Jaccard is EXACTLY the original's (near-dup pairs scale
  *     linearly), while cross-copy shingle sets are disjoint (no artificial
  *     pairs).
  *   - embeddings: components multiply by a copy-specific deterministic
  *     ±1 pattern. Sign flips preserve within-copy dot products exactly
  *     (s²=1 componentwise) and decorrelate cross-copy cosines to ~0.
  *
  * A 4th argument `skewPct` (0–100, default 0) builds a DELIBERATELY
  * skewed tier for hot-key rehearsal: that percentage of documents is
  * reassigned to a single source (`"mega"`), and the same percentage of
  * orders to a single `o_orderpriority` — the "one domain is half the
  * corpus" shape that breaks per-group windows. Assignment is
  * `doc_id % 100 < skewPct`, deterministic and uniform across copies, so
  * the skewed tier stays oracle-checkable like any other dir.
  *
  * Usage: ScaleGen [inDir] [outDir] [K] [skewPct]
  */
object ScaleGen {

  private val Off = 10000000L // key shift per copy; all keys are < 10M

  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft-sf1")
    val k = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val skewPct = args.drop(3).headOption.map(_.toInt).getOrElse(0)
    val spark = Harness.session()

    // events' physical ts type has varied across driver data drops (INT64
    // nanos vs timestamp[us]) — go through the engine's type-aware shim so
    // the tier is generated from correct timestamps either way; the copy
    // is written as timestamp[us], which the same shim reads back directly
    def read(t: String) =
      if (t == "events") Sources.readEvents(spark, s"$in/$t.parquet")
      else spark.read.parquet(s"$in/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    /** K copies of `t`, the i-th transformed by `f(_, i)`. */
    def amplified(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      write((0 until k).map(i => f(base, i)).reduce(_ union _), t)
    }
    def shift(df: DataFrame, i: Int, keys: String*): DataFrame = {
      // Chaining tiers (sf1 → "sf10" with K=10) would re-apply the SAME
      // per-copy offsets to already-shifted keys and collide them (copy 0
      // of an id-40M row meets copy 4 of an id-0 row) — silently breaking
      // key-unique oracles with wrong data, not an error. Always amplify
      // from a BASE tier (sf10 = K=100 from sf0.1); this guard makes the
      // misuse loud. Checked on copy 0 only: one scan per table, and the
      // base frame is the same for every copy.
      if (i == 0) keys.foreach { c =>
        val mx = df.agg(max(col(c).cast(LongType))).head
        if (!mx.isNullAt(0)) require(mx.getLong(0) < Off,
          s"input key $c reaches ${mx.getLong(0)} >= $Off — this dir is " +
            "already an amplified tier; regenerate from the base scale " +
            "instead of chaining")
      }
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Off)))
    }

    Seq("region", "nation").foreach(t => write(read(t), t))
    amplified("customer")(shift(_, _, "c_custkey"))
    amplified("supplier")(shift(_, _, "s_suppkey"))
    amplified("part")(shift(_, _, "p_partkey"))
    amplified("orders") { (d, i) =>
      val s = shift(d, i, "o_orderkey", "o_custkey")
      if (skewPct == 0) s
      else s.withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(100L)) < skewPct, lit("1-URGENT"))
          .otherwise(col("o_orderpriority")))
    }
    amplified("lineitem")(shift(_, _, "l_orderkey", "l_partkey", "l_suppkey"))
    amplified("events")(shift(_, _, "event_id", "user_id"))
    amplified("documents") { (d, i) =>
      val skewed =
        if (skewPct == 0) d
        else d.withColumn("source",
          when(pmod(col("doc_id"), lit(100L)) < skewPct, lit("mega"))
            .otherwise(col("source")))
      val shifted = shift(skewed, i, "doc_id")
      // EVERY word gets the copy prefix — including the first (and a
      // space-free doc's only word): a partial bijection would preserve
      // document-initial shingles across copies and emit verbatim clones
      // of single-word docs, both quadratic artifacts this tier exists
      // to avoid
      if (i == 0) shifted
      else shifted.withColumn("text",
          concat(lit(s"c${i}x"), regexp_replace(col("text"), lit(" "), lit(s" c${i}x"))))
        // n_chars must describe the rewritten text, or every query keyed on
        // it (token estimates, frame counts/offsets) rehearses base-scale
        // arithmetic against longer documents
        .withColumn("n_chars", length(col("text")).cast(LongType))
    }
    amplified("embeddings") { (d, i) =>
      // LCG-derived ±1 per (copy, component) — deterministic, literal
      val signs = Array.iterate(i * 2654435761L + 12345L, 64)(s =>
        s * 6364136223846793005L + 1442695040888963407L)
        .map(s => if (((s >>> 33) & 1L) == 0L) 1.0f else -1.0f)
      val signArr = array(signs.map(lit): _*)
      shift(d, i, "vec_id").withColumn("embedding",
        if (i == 0) col("embedding")
        else zip_with(col("embedding"), signArr, (x, s) => x * s)
          .cast("array<float>"))
    }
    println(s"wrote ${k}x tier of $in to $out")
    spark.stop()
  }
}
