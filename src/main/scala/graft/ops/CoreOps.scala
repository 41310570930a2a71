package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level cleaning / normalization combinators (SURVEY.md §2.B).
  *
  * Reference semantics are pandas' coerce-to-NaN style (reference
  * etl/etl_main.py:158-174); under Spark 4's ANSI default that means
  * `try_cast` / `try_to_timestamp` everywhere the reference used
  * `errors="coerce"` — a plain cast would throw where pandas nulls.
  *
  * All combinators are pure `DataFrame => DataFrame` (or Column builders) so
  * they stay inside whole-stage codegen and compose lazily; nothing here
  * triggers a job.
  */
object CoreOps {

  /** P3 — coercing timestamp parse then drop unparseable rows
    * (etl/etl_main.py:158-159: `pd.to_datetime(errors="coerce")` + `dropna`).
    */
  def parseDateAndDrop(df: DataFrame, src: String, dst: String): DataFrame =
    df.withColumn(dst, coerceTimestamp(col(src))).filter(col(dst).isNotNull)

  /** Null-on-failure timestamp coercion; accepts already-typed timestamp
    * columns unchanged.
    */
  def coerceTimestamp(c: Column): Column = try_to_timestamp(c)

  /** P5 — coercing numeric parse (etl/etl_main.py:168,
    * `pd.to_numeric(errors="coerce")`): junk → NULL, never throws.
    */
  def coerceDouble(c: Column): Column = c.try_cast("double")

  /** P4 — synthetic transaction id when the source has none
    * (etl/etl_main.py:162-165 uses `np.arange`). We use
    * `monotonically_increasing_id()`: unique but non-contiguous, which is all
    * the downstream `count_distinct` (A1) needs. A contiguous global
    * `row_number()` would force a single-partition sort — wrong at scale.
    */
  def withSyntheticId(df: DataFrame, dst: String): DataFrame =
    df.withColumn(dst, monotonically_increasing_id())

  /** P6 — postcode-style key normalization (etl/etl_main.py:171-174): cast to
    * string, strip ALL whitespace, uppercase. Applied identically to both join
    * sides (etl/etl_main.py:184) so the equi-join key matches.
    */
  def normalizeKey(c: Column): Column =
    upper(regexp_replace(c.cast("string"), "\\s+", ""))

  /** P8 — category normalization (etl/etl_main.py:222): trim + lowercase. */
  def normalizeCategory(c: Column): Column =
    lower(trim(c.cast("string")))

  /** P7 — Monday-start week bucket (etl/etl_main.py:199,
    * `to_period("W").start_time`). Spark's `date_trunc("week", _)` and
    * DuckDB's `date_trunc('week', _)` are both Monday-start — exact match.
    */
  def weekStart(c: Column): Column = date_trunc("week", c)

  /** P9 — prefix fallback grouping key when no lookup is available
    * (etl/etl_main.py:182,190: `postcode.str[:4]`). Null stays null in both
    * pandas slice and Spark `substring`.
    */
  def prefixKey(c: Column, n: Int = 4): Column = substring(c, 1, n)

  /** P11 — anomaly predicate |z| > thresh (etl/etl_main.py:279-280). */
  def anomalyFlag(z: Column, thresh: Double = 3.0): Column =
    abs(z) > lit(thresh)

  /** P13 — export stringification (etl/etl_main.py:292): every column cast to
    * string with NULL → "". Used by the report sinks (S7).
    */
  def stringifyForExport(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      coalesce(col(c).cast("string"), lit("")).as(c)).toSeq: _*)

  /** Rounding applied to every floating-point output column of a graded query
    * — as `floor(x * 10^4 + 0.5) / 10^4`, spelled out identically in the
    * DuckDB oracle SQL. Built-in `round` is NOT engine-portable on doubles:
    * Spark rounds the exact decimal expansion (BigDecimal HALF_UP) while
    * DuckDB multiplies-then-rounds in floating point, and money-like averages
    * routinely land exactly on `.5` boundaries where the two disagree. The
    * floor formula is a fixed chain of IEEE-deterministic ops (multiply, add,
    * floor, divide), so identical input doubles produce bit-identical output
    * in every engine — boundaries included. Half-values round toward +inf.
    */
  val RoundDp = 4
  def rnd(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** Exact integer cents for 2-dp money columns (all price-like testdata
    * columns are exact cent multiples). Summing longs is associative, so
    * money aggregates become independent of partition count, merge order,
    * and engine — floating-point `avg` is NOT reproducible even between two
    * Spark plan shapes of the same query, which flipped grid-boundary values
    * between `weekly_agg_orders` and the densified pipeline reusing it.
    */
  def moneyCents(c: Column): Column = floor(c * 100 + 0.5)

  /** Exact integral division of a long column (the SQL `div` operator via
    * a native Catalyst expression). The `/` Column operator divides in
    * DOUBLE, which silently misbins magnitudes past 2^53 — every bucketing
    * op (histogram bins, time cells, pack offsets) must divide through
    * here instead. Truncates toward zero like SQL `div`; pair with `pmod`
    * when floor semantics on negatives are needed.
    */
  def integralDiv(v: Column, divisor: Long): Column =
    integralDiv(v, lit(divisor))

  /** Column-divisor variant — used by the overflow guards in
    * [[graft.ops.StatOps]], where the bound `Long.MaxValue div n` is a
    * runtime aggregate, not a literal.
    */
  def integralDiv(v: Column, divisor: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(v.cast("long")), expression(divisor.cast("long"))))
  }
}
