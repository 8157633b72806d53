package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, DoubleType, StringType, DataType}

/** Column type inference over an all-string frame (SURVEY.md §2.A3).
  *
  * Semantics follow sqlite_utils.utils.TypeTracker as used by the
  * reference (datasette_upload_csvs/__init__.py:166,208-213): a
  * column is `integer` when every non-missing value parses as an
  * int, else `float` when every non-missing value parses as a float,
  * else `text`. Empty/null values are "missing" and vote for nothing;
  * an all-missing column is `integer` (the tracker's untouched
  * default).
  *
  * Spark-first re-expression: instead of a row-at-a-time tracker,
  * ONE distributed aggregate computes three counters per column
  * (map-side combined; the shuffled result is a single row of
  * O(columns) longs) — the same verdicts at any scale, one scan.
  *
  * CPython parse parity: a value votes float only in Python's float
  * grammar (underscore digit grouping `1_000.5`, `1e1_0` — single
  * underscores between digits only — and the inf/infinity/nan
  * spellings in any case, inside ASCII whitespace); spellings only
  * the JVM parses (`1d`, `0x1p3`, `1.5\u0000`) are text. Accepted
  * values are normalized before the cast. Remaining deviations,
  * documented: integers beyond Long range vote float, not integer —
  * Python's ints are arbitrary-precision, but casting such a value
  * to a fixed-width long would NULL it (see isInt); digits outside
  * ASCII (`١٢`) and a no-break space around a number (`\u00a01.5`)
  * are text, where Python reads them as numbers. Both parses strip
  * the ASCII whitespace `[ \t\n\x0B\f\r]` around a value, as
  * int() and float() do, so `\t1` and `\f3\f` are integers.
  */
object TypeInference {

  sealed abstract class InferredType(val name: String, val sparkType: DataType)
  case object IntegerT extends InferredType("integer", LongType)
  case object FloatT extends InferredType("float", DoubleType)
  case object TextT extends InferredType("text", StringType)

  private def missing(c: Column): Column = c.isNull || trim(c) === ""

  // Python digitpart: digits with single underscores BETWEEN digits.
  private val D = "[0-9](_?[0-9])*"
  private val IntRe = s"^[+-]?$D$$"
  // What float() accepts: D | D. | D.D | .D with an optional
  // exponent, or an inf/infinity/nan spelling in any case; signed,
  // inside ASCII whitespace ([ \t\n\x0B\f\r], which both float() and
  // the JVM's double parse strip).
  private val FloatRe = {
    val ws = "[ \\t\\n\\x0B\\f\\r]*"
    s"^$ws[+-]?(($D\\.?|$D\\.$D|\\.$D)([eE][+-]?$D)?|(?i:inf|infinity|nan))$ws$$"
  }

  /** `c` without the ASCII whitespace around it that FloatRe accepts
    * and int() strips; `trim(c)` strips spaces only. */
  private def stripped(c: Column): Column = trim(c, " \t\n\u000b\f\r")

  /** An integer as the Long cast reads it: [[stripped]], digit-grouping
    * underscores removed. */
  private def digits(c: Column): Column = translate(stripped(c), "_", "")

  /** Normalize a Python-parseable numeric string to what the JVM cast
    * parses without a fallback: strip digit-grouping underscores, and
    * spell inf/infinity/nan the way `Double.parseDouble` does.
    * float() takes them in any case and with either sign; the JVM
    * parse takes `Infinity` and `NaN` only, and Spark's fallback for
    * other spellings runs after that parse threw and rejects `+nan`.
    */
  private def canon(c: Column): Column = {
    val t = digits(c)
    // exact lowercase matches, not a regex: canon runs on every value
    // the cast sees
    val l = lower(t)
    when(l.isin("inf", "+inf", "infinity", "+infinity"), lit("Infinity"))
      .when(l.isin("-inf", "-infinity"), lit("-Infinity"))
      .when(l.isin("nan", "+nan", "-nan"), lit("NaN"))
      .otherwise(t)
  }

  // Conjunct ORDER: the grammar test first, the cast only on values
  // that pass it. On Spark 4.1 `try_cast` builds an exception for
  // every value it rejects (`UTF8StringUtils.toLongExact` →
  // `invalidInputInCastToNumberError`), so a cast-first probe pays one
  // exception per text cell and per float cell of the int probe: on a
  // 64k-row, 2.97 MB upload the inference aggregate took 0.63–0.70 s
  // with the cast first and 0.19–0.20 s with the grammar first (4-CPU
  // VM, local[4]). `And` short-circuits in codegen, and both conjuncts
  // are pure, so the order changes no verdict.
  //
  // Format AND range: the applied cast is try_cast(LongType), so a
  // value that looks integral but overflows Long (e.g. 20+ digits)
  // must NOT vote integer — it would cast to NULL and silently drop
  // non-missing data. Such values fail the cast and demote the column
  // to float (Python's arbitrary-precision int can't overflow; a
  // fixed-width engine keeps the value, approximately, instead).
  private def isInt(c: Column): Column =
    stripped(c).rlike(IntRe) && digits(c).try_cast(LongType).isNotNull
  // The grammar is Python's: the JVM's double parse also accepts
  // `1d`, `1.5F`, `0x1p3` and control characters around the number,
  // all of which float() rejects. The cast then only confirms.
  private def isFloat(c: Column): Column =
    c.rlike(FloatRe) && canon(c).try_cast(DoubleType).isNotNull

  /** Column reference by RAW header name: a dot or backtick in a CSV
    * header is a literal character, not nested-attribute syntax —
    * `col("price.usd")` resolves as [price].[usd] and breaks the
    * upload, so every header-name lookup goes through backtick
    * quoting. */
  private[sources] def rawCol(name: String) =
    col("`" + name.replace("`", "``") + "`")

  /** One aggregate pass → per-column verdicts. */
  def infer(df: DataFrame): Seq[(String, InferredType)] =
    inferWithCount(df)._1

  /** Same single pass, also yielding the row count — callers that
    * need both (the uploader's progress bookkeeping) get them from
    * one scan instead of two.
    */
  def inferWithCount(df: DataFrame): (Seq[(String, InferredType)], Long) = {
    val cols = df.columns.toSeq
    val counters = cols.flatMap { name =>
      val c = rawCol(name)
      // coalesce: sum over ZERO rows is NULL (a header-only upload),
      // and zero observed violations = the tracker default verdict —
      // the same all-missing semantics the spec pins for columns
      Seq(
        coalesce(sum(when(!missing(c) && !isInt(c), 1L).otherwise(0L)),
          lit(0L)).as(s"${name}__not_int"),
        coalesce(sum(when(!missing(c) && !isFloat(c), 1L).otherwise(0L)),
          lit(0L)).as(s"${name}__not_float"))
    } :+ count(lit(1L)).as("__n_rows")
    val row = df.agg(counters.head, counters.tail: _*).head()
    val types = cols.zipWithIndex.map { case (name, i) =>
      val notInt = row.getLong(2 * i)
      val notFloat = row.getLong(2 * i + 1)
      val t =
        if (notInt == 0L) IntegerT
        else if (notFloat == 0L) FloatT
        else TextT
      name -> t
    }
    (types, row.getLong(2 * cols.length))
  }

  /** Cast projection applying the verdicts; missing → NULL. The cast
    * is pipelined into whatever consumes it (no extra pass).
    */
  def applyTypes(df: DataFrame, types: Seq[(String, InferredType)]): DataFrame = {
    val byName = types.toMap
    df.select(df.columns.toSeq.map { name =>
      val c = rawCol(name)
      byName.getOrElse(name, TextT) match {
        // only non-missing cells reach the cast: an empty cell would
        // make it build an exception just to answer NULL
        case IntegerT => when(!missing(c), digits(c).try_cast(LongType)).as(name)
        case FloatT => when(!missing(c), canon(c).try_cast(DoubleType)).as(name)
        case TextT => c.as(name)
      }
    }: _*)
  }

  /** Detect + cast in one go (the types pass is its own scan; the
    * cast is lazy).
    */
  def inferAndApply(df: DataFrame): (DataFrame, Seq[(String, InferredType)]) = {
    val t = infer(df)
    (applyTypes(df, t), t)
  }
}
