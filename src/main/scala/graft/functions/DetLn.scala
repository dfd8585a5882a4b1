package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** Deterministic, engine-portable natural log of a positive BIGINT —
  * the fix for the one cross-engine correctness failure the oracle found
  * (q78's `round(ln(...), 6)` rounded differently between the
  * JVM's `Math.log` and the driver's DuckDB build's `ln`, because libm
  * transcendentals are not required to be correctly rounded and differ
  * by a few ulps between implementations; any rounding of such a value
  * sits on a knife edge).
  *
  * `lnFix(x)` is built ONLY from operations that IEEE 754 requires to be
  * correctly rounded — `+ - * /`, `sqrt` — plus exact integer/string
  * steps (digit count via `length(cast(x as string))`, exact
  * power-of-ten double literals, `floor`, casts). Every IEEE-754 engine
  * (JVM codegen, Catalyst constant folding, any DuckDB/libc build,
  * Trino, ...) therefore computes the SAME double, bit for bit — there
  * is no boundary left to straddle. [[graft.DetLnSpec]] pins Spark's
  * output against goldens produced by an independent DuckDB run.
  *
  * Algorithm (fixed shape, shared as SQL text between the Spark side via
  * `expr(...)` and the DuckDB oracle SQL, so both engines execute the
  * identical op DAG):
  *
  *   d  = decimal digit count of x            (string length — exact)
  *   m  = x / 10^(d-1)                        ∈ [1, 10)
  *   r  = sqrt(sqrt(sqrt(m)))                 = m^(1/8) ∈ [1, 1.3336)
  *   t  = (r-1)/(r+1)                         ∈ [0, 0.1429)
  *   ln m ≈ 16·(t + t³/3 + t⁵/5 + … + t¹⁵/15)   (atanh series, Horner)
  *   lnFix(x) = 16·s + (d-1)·ln10             (ln10 as a double literal)
  *
  * Truncation error ≤ 2·t¹⁷/17·16 ≈ 9e-15 plus ~1e-15 of roundoff —
  * ≤ ~8e-15 observed over the full BIGINT range, far below the 1e-6
  * quantum the log-scoring queries keep. The series coefficients are
  * `1e0/3e0`-style literal divisions, constant-folded to the identical
  * correctly-rounded double by both engines.
  *
  * Quantities that are logs of RATIOS of integers (log-probabilities,
  * DSIR ratios, idf) are expressed as `lnFix(num) - lnFix(den)` and then
  * quantized to integer micro-nats with `floor(x*1e6 + 5e-1)` — floor of
  * a double is exact, so the quantization is deterministic too, and the
  * micro-nat BIGINTs sum exactly in any order. Numerators/denominators
  * are products of corpus counts; they fit BIGINT through ~10^18 (the
  * 100 TB form would widen the products to DECIMAL(38,0) and extend the
  * digit CASE — the algorithm is unchanged).
  */
object DetLn {

  /** `10^(digits(x)-1)` as an exact double literal (every 10^k, k ≤ 18,
    * is exactly representable; BIGINT has ≤ 19 digits). */
  private def pow10Sql(x: String): String =
    "(CASE length(CAST((" + x + ") AS STRING)) " +
      (1 to 19).map(d => s"WHEN $d THEN 1e${d - 1}").mkString(" ") +
      " END)"

  /** Mantissa m = x / 10^(d-1) ∈ [1, 10). */
  def mSql(x: String): String = s"CAST(($x) AS DOUBLE) / ${pow10Sql(x)}"

  /** Decimal exponent e = d - 1 as DOUBLE. */
  def eSql(x: String): String =
    s"CAST(length(CAST(($x) AS STRING)) - 1 AS DOUBLE)"

  def rSql(m: String): String = s"sqrt(sqrt(sqrt($m)))"

  def tSql(r: String): String = s"($r - 1e0) / ($r + 1e0)"

  def t2Sql(t: String): String = s"$t * $t"

  /** Horner atanh series ×16 plus the decimal-exponent term. The ln 10
    * literal parses to the identical nearest double in every engine. */
  def lnSql(t: String, t2: String, e: String): String =
    s"16e0 * ($t * (1e0 + $t2 * (1e0/3e0 + $t2 * (1e0/5e0 + $t2 * " +
      s"(1e0/7e0 + $t2 * (1e0/9e0 + $t2 * (1e0/11e0 + $t2 * " +
      s"(1e0/13e0 + $t2 * (1e0/15e0))))))))) + " +
      s"$e * 2.302585092994045684e0"

  /** Append column `out` = lnFix(`x`) (an SQL expression over existing
    * columns, positive BIGINT-valued) via the staged fragments — the
    * same text the oracle CTEs use, so Spark and DuckDB execute the
    * identical IEEE op DAG. */
  def withLnFix(df: DataFrame, out: String, x: String): DataFrame =
    df.withColumn(s"${out}_m", expr(mSql(x)))
      .withColumn(s"${out}_e", expr(eSql(x)))
      .withColumn(s"${out}_r", expr(rSql(s"${out}_m")))
      .withColumn(s"${out}_t", expr(tSql(s"${out}_r")))
      .withColumn(s"${out}_t2", expr(t2Sql(s"${out}_t")))
      .withColumn(out, expr(lnSql(s"${out}_t", s"${out}_t2", s"${out}_e")))
      .drop(s"${out}_m", s"${out}_e", s"${out}_r", s"${out}_t",
        s"${out}_t2")

  /** Oracle-side twin of [[withLnFix]]: emit the chain of CTE stages
    * computing `logs` (outName → positive-BIGINT SQL expr) over base CTE
    * `from`, threading `carry` columns through. Returns (cteText — to
    * append after the base CTE with a leading comma — , finalCteName);
    * the final CTE exposes `carry` plus every log's output column. */
  def oracleLnStages(from: String, prefix: String, carry: Seq[String],
      logs: Seq[(String, String)]): (String, String) = {
    val sb = new StringBuilder
    var prev = from
    var cols = carry
    for ((out, x) <- logs) {
      val (a, b, c, d2, e) = (s"${prefix}_${out}_a", s"${prefix}_${out}_b",
        s"${prefix}_${out}_c", s"${prefix}_${out}_d", s"${prefix}_${out}_e")
      def sel(cs: Seq[String]) = cs.mkString(", ")
      sb.append(
        s""",
       $a AS (SELECT ${sel(cols)}, ${mSql(x)} AS ${out}_m,
           ${eSql(x)} AS ${out}_e FROM $prev),
       $b AS (SELECT ${sel(cols)}, ${out}_e, ${rSql(s"${out}_m")} AS ${out}_r FROM $a),
       $c AS (SELECT ${sel(cols)}, ${out}_e, ${tSql(s"${out}_r")} AS ${out}_t FROM $b),
       $d2 AS (SELECT ${sel(cols)}, ${out}_e, ${out}_t, ${t2Sql(s"${out}_t")} AS ${out}_t2 FROM $c),
       $e AS (SELECT ${sel(cols)}, ${lnSql(s"${out}_t", s"${out}_t2", s"${out}_e")} AS $out FROM $d2)""")
      cols = cols :+ out
      prev = e
    }
    (sb.toString, prev)
  }

  /** Integer micro-nats of a deterministic double: floor(x·1e6 + 0.5) as
    * BIGINT — exact for |x·1e6| < 2^53, identical in every engine. */
  def microSql(x: String): String =
    s"CAST(floor(($x) * 1e6 + 5e-1) AS BIGINT)"

  /** Final presentation round of an exact micro-nat BIGINT average to 4
    * decimals, as a double: floor(sum/n/1e2 + 0.5)/1e4 — all IEEE-exact
    * steps on engine-identical inputs. */
  def avg4Sql(sumMicro: String, n: String): String =
    s"CAST(floor(CAST(($sumMicro) AS DOUBLE) / CAST(($n) AS DOUBLE) / 1e2 + 5e-1) AS BIGINT) / 1e4"

  /** Deterministic 4-decimal quantization of an engine-identical double
    * (non-negative scores; floor(x·1e4 + 0.5) is exact on doubles). */
  def fix4Sql(x: String): String =
    s"CAST(floor(($x) * 1e4 + 5e-1) AS BIGINT) / 1e4"

  /** Micro-nat BIGINT sum → 4-decimal double (sum/1e2 → 1e-4 units). */
  def micro4Sql(sumMicro: String): String =
    s"CAST(floor(CAST(($sumMicro) AS DOUBLE) / 1e2 + 5e-1) AS BIGINT) / 1e4"
}
