package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent (exact) aggregation helpers for oracle-matched queries.
  *
  * Floating-point `sum`/`avg` are order-dependent: a different shuffle or
  * partial-aggregation tree gives a different last bit, which breaks
  * hash-comparison against the DuckDB oracle AND makes results
  * non-reproducible across cluster sizes (local[32] today, 1000 executors
  * tomorrow). Summing through `DECIMAL(38,10)` is exact and associative, so
  * the result is identical under any partitioning. The decimal partial
  * aggregates still combine map-side (partial + final), so this costs one
  * codegen'd cast per row, not a shuffle.
  *
  * The final decimal→double conversion is itself a portability trap: once
  * the unscaled value exceeds 2^53, engines differ in how they round the
  * division by 10^scale (observed: DuckDB 519972552.38000005 vs JVM
  * BigDecimal 519972552.38), and re-scaling the decimal first is no
  * better — DuckDB truncates a down-scale cast where Spark rounds
  * HALF_UP, which diverges on exact half ties (observed: ….57845 →
  * .5784 vs .5785). `FLOOR(sum × 10^4)` has no tie cases at all: both
  * engines floor identically, the result is an integer < 2^53 (exactly
  * representable), and the final `/ 10^4` is one correctly-rounded double
  * division in both. `Exact.sql*` emit the DuckDB side of the same math.
  */
object Exact {
  private val D = DecimalType(38, 10)

  /** Exact sum of a double expression, floored at 4 decimals, as double. */
  def dsum(c: Column): Column =
    floor(sum(c.cast(D)) * 10000).cast("double") / 10000.0

  /** Exact mean of a double expression (floored-sum / count), as double. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** DuckDB SQL fragment equivalent to [[dsum]] (alias it yourself). */
  def sqlDsum(expr: String): String =
    s"CAST(FLOOR(SUM(CAST($expr AS DECIMAL(38,10))) * 10000) AS DOUBLE) / 10000.0"
}
