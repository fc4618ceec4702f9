package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-pass table profiling (the ANALYZE/data-quality primitive):
  * per column, null count, exact distinct count, and — for numeric
  * columns — min/max as doubles.
  *
  * One scan for the whole profile: every per-column measure is an
  * aggregate of the same `agg(...)`, so Catalyst plans a single pass
  * (the exact distinct counts rewrite into one Expand — ×|columns|
  * row amplification map-side, the standard cost of exact NDV; at
  * 100 TB swap in `approx_count_distinct` per column for an
  * Expand-free sketch profile — same output shape, documented
  * trade-off). The wide 1-row aggregate then melts into one row per
  * column with a per-row explode — no second scan, no driver loop.
  *
  * Output: `(column, n_rows, n_nulls, n_distinct, min_value,
  * max_value)`, min/max null for non-numeric columns (string-typed
  * min/max renders engine-specifically — casting numerics to double
  * BEFORE the aggregate keeps the profile bit-comparable across
  * engines).
  */
object Profile {

  def profile(df: DataFrame, numericCols: Seq[String],
              otherCols: Seq[String] = Nil): DataFrame = {
    val cols = numericCols ++ otherCols
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct.size == cols.size, s"duplicate columns: $cols")
    val numeric = numericCols.toSet
    val aggs = cols.flatMap { c =>
      val base = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        count_distinct(col(c)).as(s"${c}__nd"))
      if (numeric(c)) base ++ Seq(
        min(col(c).cast("double")).as(s"${c}__mn"),
        max(col(c).cast("double")).as(s"${c}__mx"))
      else base
    }
    val all = count(lit(1)).as("n_rows") +: aggs
    val wide = df.agg(all.head, all.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__nn").as("n_nulls"),
        col(s"${c}__nd").as("n_distinct"),
        (if (numeric(c)) col(s"${c}__mn")
         else lit(null).cast("double")).as("min_value"),
        (if (numeric(c)) col(s"${c}__mx")
         else lit(null).cast("double")).as("max_value"))
    }
    wide.select(col("n_rows"), explode(array(rows: _*)).as("p"))
      .select(col("p.column"), col("n_rows"), col("p.n_nulls"),
        col("p.n_distinct"), col("p.min_value"), col("p.max_value"))
  }

  /** Data-quality audit: each rule is (name, frame, violation
    * predicate) — one aggregate pass per rule frame computing
    * (checked, violations), unioned into a |rules|-row report. The
    * caller shapes the frame per rule class: a bare table for
    * null/range rules, `fact LEFT JOIN dim ON fk` for referential
    * integrity (the dim's key side is unique, so the join never
    * multiplies fact rows; at 100 TB the join is the one honest way
    * to get an EXACT orphan count — a bloom-filter pre-pass cheapens
    * it to ~one map-side scan when approximate screening suffices,
    * with only bloom-positive rows reaching the exchange), or a
    * keyed `groupBy.count` for uniqueness rules.
    *
    * Violations are counted, never collected: the report is
    * |rules| rows regardless of data size. */
  def dqAudit(rules: Seq[(String, DataFrame, Column)]): DataFrame =
    rules.map { case (name, df, bad) =>
      df.agg(count(lit(1)).as("checked"),
          coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L))
            .as("violations"))
        .select(lit(name).as("rule"), col("checked"), col("violations"))
    }.reduce(_ unionByName _).orderBy("rule")

  /** Histogram-sketch quantiles — the MERGEABLE quantile member of
    * the deterministic sketch family ([[CountMin]] = frequencies,
    * HyperBall registers = cardinality): per group, a `buckets`-cell
    * equi-width integer histogram over `valueCol` (a LONG), then
    * quantile p = the upper edge of the first bucket whose running
    * count reaches ⌈p·n/100⌉. All arithmetic integral, so estimates
    * are bit-reproducible and any engine replays them — the SQ8
    * discipline: quantize the ALGORITHM, keep the gate exact. Error
    * is bounded by one bucket width ⌈span/buckets⌉ (the guarantee the
    * face require-enforces against the exact discrete quantile).
    *
    * Scale: pass 1 computes per-group (min, max, n) — |groups| rows;
    * pass 2 aggregates counts per (group, bucket) — the exchange
    * carries ≤ |groups|·buckets rows at ANY data size, and partials
    * merge by addition across partitions/days/shards. Compare the
    * exact holistic quantile, which must shuffle and sort the full
    * column. Spark's own approx_percentile is the production default
    * ([[graft.faces.RelationalFaces]] q_sketch_stats); THIS shape exists for
    * the cross-engine-reproducible case (an estimate the oracle can
    * replay exactly, e.g. audit pipelines that pin outputs).
    *
    * Output: (group, n, lo, hi, width, q<p> per requested p). */
  def histogramQuantiles(df: DataFrame, valueCol: String,
                         groupCol: String, buckets: Int = 512,
                         ps: Seq[Int] = Seq(50, 95)): DataFrame = {
    require(buckets > 0 && ps.nonEmpty && ps.forall(p => p > 0 && p <= 100),
      s"invalid buckets=$buckets / ps=$ps")
    val v = col(valueCol).cast("long")
    val stats = df.filter(v.isNotNull).groupBy(col(groupCol))
      .agg(min(v).as("lo"), max(v).as("hi"), count(v).as("n"))
      // integer ceil: (span + buckets - 1) div buckets
      .withColumn("width",
        expr(s"(hi - lo + 1 + ${buckets - 1}) div $buckets"))
    // bucket index by integer division of the offset — stays in
    // [0, buckets) by the ceil-width construction
    val bucketed = df.filter(v.isNotNull).select(col(groupCol), v.as("v"))
      .join(stats.select(col(groupCol), col("lo"), col("width")), Seq(groupCol))
      .groupBy(col(groupCol), expr("(v - lo) div width").as("bucket"))
      .agg(count(lit(1)).as("c"))
    val cum = bucketed
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(col("bucket"))))
    val qCols = ps.map { p =>
      // first bucket whose running count reaches ceil(p*n/100):
      // min bucket among those with cum >= rank
      min(when(col("cum") * 100L >= col("n") * p, col("bucket")))
        .as(s"b$p")
    }
    cum.join(stats, Seq(groupCol))
      .groupBy(col(groupCol), col("n"), col("lo"), col("hi"), col("width"))
      .agg(qCols.head, qCols.tail: _*)
      .select(Seq(col(groupCol), col("n"), col("lo"), col("hi"),
        col("width")) ++
        ps.map(p => (col("lo") + (col(s"b$p") + 1L) * col("width") - 1L)
          .as(s"q$p")): _*)
  }
}
