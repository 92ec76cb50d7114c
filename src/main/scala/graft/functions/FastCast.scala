package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact fast twin of the engine's `Cast(double → decimal(p, s))` — the
  * per-row quantization under every `Q.dsum` / `Q.davg` measure aggregate
  * (round 19, optimization guide §1.2 step 2 / §4).
  *
  * The engine's cast builds `Double.toString(x)`, parses it into a
  * BigDecimal and rounds HALF_UP to the target scale (~260 ns/row, one
  * String + one BigDecimal allocation per measure per row, measured in
  * OPTIMIZATION_r19.md). This expression routes the common case through
  * [[GramDecimalSum.scaledLong]]'s exact 128-bit fixed-point path
  * (~50 ns incl. the Decimal box) and replays the engine's own slow path
  * for everything else, so the result is bit-identical to `Cast` in ALL
  * cases — including the session's ANSI eval mode, captured at
  * construction exactly as `Cast.evalMode` is:
  *
  *   - NaN / ±Infinity → null in BOTH modes (probed on this engine
  *     build: ANSI keeps the NumberFormatException→null path);
  *   - finite x whose HALF_UP(shortest-repr(x))·10^s fits a Long →
  *     `Decimal(unscaled, p, s)` — the identical decimal VALUE
  *     (`scaledLong` is property-pinned against `Decimal(x)
  *     .changePrecision(38, s)` including boundary-jittered ties, and
  *     every boundary-ambiguous case already falls back to the string
  *     walk inside `scaledLong` itself); `precision ≥ 19` means a
  *     Long-held unscaled value (≤ 19 digits) can never overflow it;
  *   - anything else (|scaled| ≥ 2^63) → the verbatim engine slow path:
  *     `Decimal(x).changePrecision(p, s)`; on precision overflow, ANSI
  *     throws the engine's own NUMERIC_VALUE_OUT_OF_RANGE
  *     SparkArithmeticException ([[org.apache.spark.sql.graftcol.NativeErrors]]),
  *     non-ANSI returns null.
  *
  * `scale ≤ 12` keeps the fixed-point path applicable (larger scales
  * would silently pay the string walk per row — reject loudly instead).
  * Downstream consumers (decimal `Sum`, window sums, the double
  * surfacing cast) see value-identical Decimals, so aggregate results —
  * and the DuckDB oracle hashes — are unchanged. `sql` renders as the
  * `CAST(x AS DECIMAL(p,s))` it replaces, so the Spark-dialect Unparser
  * round-trip re-parses to the genuine (equal) cast and the Portable
  * dialects emit unchanged text.
  */
case class FastDoubleToDecimal(child: Expression, precision: Int, scale: Int,
    ansi: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression {
  require(precision >= 19 && precision <= DecimalType.MAX_PRECISION &&
    scale >= 0 && scale <= 12 && scale <= precision,
    s"fast_double_to_decimal supports precision 19..38 and scale 0..12, " +
      s"got ($precision, $scale)")

  override def prettyName: String = "fast_double_to_decimal"
  override def dataType: DataType = DecimalType(precision, scale)
  override def nullable: Boolean = true // NaN/Inf (and non-ANSI overflow) → null
  override def sql: String = s"CAST(${child.sql} AS DECIMAL($precision,$scale))"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double child, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    FastDoubleToDecimal.cast(v.asInstanceOf[Double], precision, scale, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val r = ctx.freshName("dec")
      s"""
         |Decimal $r =
         |  graft.functions.FastDoubleToDecimal.cast($x, $precision, $scale, $ansi);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FastDoubleToDecimal {
  /** Bit-identical replay of `Cast(double → decimal(precision, scale))`
    * for `precision ≥ 19` under the given eval mode: null for NaN/Inf,
    * and on precision overflow the engine's own SparkArithmeticException
    * (ansi) or null (non-ANSI). Public so whole-stage-generated code can
    * call it. */
  def cast(x: Double, precision: Int, scale: Int, ansi: Boolean): Decimal = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return null
    val u = GramDecimalSum.scaledLong(x, scale)
    if (u != Long.MinValue) Decimal(u, precision, scale)
    else { // |scaled value| ≥ 2^63: the engine's own slow path, verbatim
      val d = Decimal(x)
      if (d.changePrecision(precision, scale)) d
      else if (ansi) throw org.apache.spark.sql.graftcol.NativeErrors
        .decimalPrecisionOverflow(Decimal(x), precision, scale)
      else null
    }
  }
}
