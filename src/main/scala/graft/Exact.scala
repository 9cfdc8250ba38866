package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine exact arithmetic: every registry row must agree bit for bit
  * with the DuckDB oracle, so rounding that depends on summation order or
  * on a double's representation is kept out of the result columns.
  *
  * Money sums (`dec`, `sumRound2`). The test tables store money-like values
  * as DOUBLE with ≤2 true decimal digits. Summing those doubles is
  * order-dependent (error grows with group size), and a rounded result
  * sitting near a half-cent boundary then hash-mismatches the DuckDB oracle,
  * whose summation order differs — q9 flaked exactly this way in round 3,
  * and any `round(sum(double), 2)` over an unordered group is the same latent
  * flake. Casting each ≤4-decimal factor to decimal(18,4) recovers the true
  * value exactly, making the sum exact, order-independent, and identical
  * across engines; the result is cast back to DOUBLE for oracle schema
  * parity. (Integer-valued doubles like l_quantity sum exactly as doubles
  * and don't need this; ordered window frames add in frame order in both
  * engines and don't either.)
  *
  * Shares and rates (`halfUp`, `halfUpSigned`, `ratio4`). Every share or
  * rate column is an integer ratio p/q rounded HALF_UP to 4 decimals, and
  * `round(p / q, 4)` over doubles flaked whenever a ratio landed on a
  * representation boundary (ADVICE r4). The rule is therefore computed in
  * pure integer arithmetic, which is bit-identical in any engine:
  * {{{
  *   ratio4(p, q) = CAST((20000L * p + q) DIV (2L * q) AS DOUBLE) / 10000.0
  * }}}
  * i.e. ⌊(2·10⁴·p + q) / 2q⌋ = round-half-up(10⁴·p/q) for p ≥ 0, q > 0.
  * This object is the one place the implementation spells the rule; the
  * oracle SQL in `SparkEntry` keeps its own hand-written copies on purpose,
  * as the independent reference the gate compares against. The fragments
  * parenthesize their operands and nothing else, so a call site parses to
  * the same Catalyst tree as the inline text it replaced.
  *
  * The 2⁻²⁰ grid (`Grid`, `onGrid`, `gridMean4`). A double that feeds a
  * sum, a mean or a threshold becomes the integer floor(x·2²⁰) first;
  * integers add exactly in any order, and one closing divide by 2²⁰ brings
  * the result back. Scaling by 2²⁰ is an exponent shift, never a rounding,
  * so the floor and the one correctly rounded divide are the only
  * roundings: the result does not depend on partial-aggregation order (so
  * not on partitioning or batching), and DuckDB reproduces it bit for bit,
  * which is what lets the oracle mirror the whole `kmeans` loop. The scale
  * has one name, but each site keeps its rounding form (`floor` then a
  * cast, or a truncating `CAST(… AS BIGINT)`) and its literal type, since
  * the type decides the arithmetic: `GridD` is the DSL double, `Grid` the
  * BIGINT, `GridDec` the SQL DECIMAL literal (an integral value divided by
  * it is a decimal division) and `GridDbl` the SQL DOUBLE literal (see
  * `Graft.pmiBigrams`). `onGrid` floors x·2²⁰, casts to DOUBLE and divides
  * by 2²⁰; `gridMean4` sums floor(x·2²⁰) as BIGINT, divides by the count
  * and by 2²⁰, and rounds to 4 decimals. The vector form is
  * `graft.functions.FixedPointVecSum` and its `centroids` builder.
  *
  * Score bins (`scoreBin`): a score q ∈ [0, 1] lands in cell
  * min(floor(q·bins), bins − 1), a BIGINT, with q = 1 in the last cell.
  *
  * As with the ratio rule, the oracle SQL keeps its own copies, and each
  * helper gives the same Catalyst tree, literal types included, as the
  * inline text it replaced.
  */
private[graft] object Exact {

  /** Exact decimal(18,4) view of a ≤4-true-decimal double expression. */
  def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** Order-independent `round(sum(e), 2)` over an exact decimal expression,
    * surfaced as DOUBLE. */
  def sumRound2(e: Column): Column = round(sum(e), 2).cast("double")

  /** SQL for the integer p·scale/q rounded half up, for p ≥ 0 and q > 0:
    * `(2·scale·p + q) DIV (2·q)`. BIGINT-valued. */
  def halfUp(p: String, q: String, scale: Long = 1L): String =
    s"(${2L * scale}L * ($p) + ($q)) DIV (2L * ($q))"

  /** [[halfUp]] for a numerator of either sign: rounds half away from zero
    * (BigDecimal HALF_UP), by rounding |p| and restoring the sign. */
  def halfUpSigned(p: String, q: String, scale: Long = 1L): String =
    s"CASE WHEN ($p) >= 0 THEN ${halfUp(p, q, scale)} " +
      s"ELSE -(${halfUp(s"-($p)", q, scale)}) END"

  /** SQL for p/q rounded HALF_UP to 4 decimals, as DOUBLE (p ≥ 0, q > 0). */
  def ratio4(p: String, q: String): String =
    s"CAST(${halfUp(p, q, 10000L)} AS DOUBLE) / 10000.0"

  /** 2²⁰: units per 1.0 on the fixed-point grid, as a BIGINT. */
  final val Grid = 1048576L
  /** [[Grid]] as a double (the DSL literal `1048576.0`). */
  final val GridD = 1048576.0
  /** [[Grid]] as a SQL DECIMAL literal. */
  final val GridDec = "1048576.0"
  /** [[Grid]] as a SQL DOUBLE literal. */
  final val GridDbl = "1048576.0D"

  /** x floored onto the 2⁻²⁰ grid, as DOUBLE: floor(x·2²⁰) / 2²⁰. */
  def onGrid(x: Column): Column =
    floor(x * lit(GridD)).cast("double") / lit(GridD)

  /** The group mean of x on the 2⁻²⁰ grid, rounded to 4 decimals: an exact
    * integer sum of floor(x·2²⁰), divided by the count, then by 2²⁰. */
  def gridMean4(x: Column): Column =
    round(sum(floor(x * GridD)).cast("double")
      / count(lit(1)).cast("double") / GridD, 4)

  /** The cell of score q ∈ [0, 1] on a `bins`-cell grid, as BIGINT. */
  def scoreBin(q: Column, bins: Int): Column =
    least(floor(q * bins).cast("long"), lit(bins - 1L))
}
