package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{CastShim, ColumnShim}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** fastText `.vec` text-format source (SURVEY.md S7).
  *
  * The reference loads the binary `cc.<lang>.300.bin` model through the
  * fasttext library and upserts `(word, float32-blob)` rows
  * (`enter_wordvecs.py:27-44`, with the `len >= 100` garbage gate).
  * fastText models are ALSO distributed as plain-text `.vec` files —
  * a `"nwords dim"` header line, then one `"word v1 v2 … vdim"` line
  * per word — which is the format a Spark-native ingest wants: line
  * files split across tasks for free, and each line is parsed by one
  * native codegen'd expression ([[FastTextLine]]), no UDF, no
  * driver-side model load.
  *
  * At 100 TB-adjacent scale (the real cc.en.300 is 2M words × 300
  * dims ≈ 4.5 GB of text) the file parallelizes across line splits
  * and the result feeds the broadcast word-vector dimension directly.
  */
object FastTextVec {

  /** Read a `.vec` file as (word, vec float array), applying the
    * reference's `length(word) < 100` garbage gate. Fields are the
    * runs between blanks (spaces and tabs, doubled, leading or
    * trailing). A line of two fields or fewer — the `"nwords dim"`
    * header — is dropped structurally, not by position: position is
    * meaningless across file splits.
    *
    * A field that is not a float (by `CAST(… AS FLOAT)`'s rules,
    * special literals such as `inf` included) fails the read with
    * `CAST_INVALID_INPUT` under ANSI mode (Spark 4's default), like
    * the cast would; with `spark.sql.ansi.enabled=false` it drops its
    * line instead, so no vector carries a null component. The mode is
    * the session's when `read` is called.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** [[read]]'s parse over any frame with a string `value` column of
    * lines.
    */
  private[graft] def parse(lines: DataFrame): DataFrame = {
    val ansi = lines.sparkSession.conf.get(SQLConf.ANSI_ENABLED.key).toBoolean
    // a generator, not a filter over a struct column: a filter would be
    // pushed below the projection and parse every line twice
    lines.select(inline(ColumnShim.column(
      FastTextLine(ColumnShim.expression(col("value")), ansi))))
  }

  /** Round-trip writer for specs and fixtures: (word, vec) → `.vec`
    * text with the standard header.
    */
  def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val dim = df.select(size(col("vec"))).head().getInt(0)
    val header = Seq(s"$n $dim").toDF("value")
    val lines = df.select(concat_ws(" ", col("word"),
      concat_ws(" ", transform(col("vec"), v => v.cast("string")))).as("value"))
    header.union(lines).coalesce(1).write.mode("overwrite").text(path)
  }
}

/** One `.vec` line parsed in a single scan of its bytes: a one-element
  * array of struct(word, vec array<float>) — the shape `inline`
  * expands to one row — or null for a line [[FastTextVec.read]] drops
  * (two fields or fewer, a word of 100 characters or more, or, with
  * `ansi` off, a field that is not a float).
  *
  * The output equals the split/slice/cast column form it replaced,
  * bit for bit (FastTextVecSpec pins it by property test):
  *
  *   - fields are the bytes between space/tab runs. Every byte of a
  *     multi-byte UTF-8 character has its high bit set, and no
  *     malformed sequence swallows an ASCII byte, so these are the
  *     fields Java's regex split finds in the decoded line;
  *   - a word with a non-ASCII byte goes through the same decode and
  *     re-encode the column form did, so invalid UTF-8 turns into
  *     U+FFFD the same way, and its length counts code points;
  *   - a float with at most 7 significant digits and a decimal
  *     exponent within ±10 is `m × 10^k` with `m` and `10^|k|` exact
  *     floats. Their product is exact in a double; their quotient,
  *     rounded to double and then to float, is correctly rounded,
  *     because a double has at least 2·24+2 bits (Figueroa). Either
  *     way it equals `Float.parseFloat`, with no allocation. Any other
  *     field goes through `Float.parseFloat`, then Spark's
  *     special-literal rule, exactly as `Cast` does.
  *
  * `ansi` is fixed when the expression is built, as `Cast` fixes its
  * eval mode.
  */
case class FastTextLine(child: Expression, ansi: Boolean) extends UnaryExpression {
  override def dataType: DataType = FastTextLine.Type
  @transient private lazy val scratch = new FastTextScratch
  override def nullSafeEval(v: Any): Any =
    FastTextLine.parse(v.asInstanceOf[UTF8String], ansi, scratch)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[FastTextScratch].getName
    val buf = ctx.addMutableState(cls, "fastTextScratch", v => s"$v = new $cls();")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.sources.FastTextLine.parse($c, $ansi, $buf);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): FastTextLine =
    copy(child = c)
  override def prettyName: String = "graft_fasttext_line"
}

/** A task's reusable float buffer: a line's components are parsed into
  * it, then copied once into the output array.
  */
final class FastTextScratch {
  var floats: Array[Float] = new Array[Float](512)
}

object FastTextLine {
  /** Nullable fields, as the column form's `f[0]` and `transform` were. */
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType),
    StructField("vec", ArrayType(FloatType, containsNull = true)))),
    containsNull = false)

  private val Pow10: Array[Double] = Array.tabulate(11)(i => math.pow(10, i))

  private def blank(b: Byte): Boolean = b == ' ' || b == '\t'

  def parse(s: UTF8String, ansi: Boolean, buf: FastTextScratch): ArrayData = {
    val n = s.numBytes()
    var i = 0
    while (i < n && blank(s.getByte(i))) i += 1
    val ws = i
    var ascii = true
    while (i < n && !blank(s.getByte(i))) { if (s.getByte(i) < 0) ascii = false; i += 1 }
    if (i == ws) return null
    val word =
      if (ascii) s.copyUTF8String(ws, i - 1)
      else UTF8String.fromString(s.copyUTF8String(ws, i - 1).toString)
    if ((if (ascii) i - ws else word.numChars()) >= 100) return null
    var nv = 0
    while (i < n) {
      while (i < n && blank(s.getByte(i))) i += 1
      if (i < n) {
        val fs = i
        while (i < n && !blank(s.getByte(i))) i += 1
        val d = fast(s, fs, i)
        val v =
          if (d == d) d.toFloat
          else {
            val f = slow(s, fs, i)
            if (f == null) {
              if (!ansi) return null
              val fe = i
              // the cast only ran on lines of three fields or more
              while (i < n && blank(s.getByte(i))) i += 1
              if (nv == 0 && i == n) return null
              throw CastShim.invalidFloat(
                UTF8String.fromString(s.copyUTF8String(fs, fe - 1).toString))
            }
            f.floatValue
          }
        if (nv == buf.floats.length)
          buf.floats = java.util.Arrays.copyOf(buf.floats, nv * 2)
        buf.floats(nv) = v
        nv += 1
      }
    }
    if (nv < 2) return null
    val vec = UnsafeArrayData.fromPrimitiveArray(buf.floats, Platform.FLOAT_ARRAY_OFFSET, nv, 4)
    new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](word, vec))))
  }

  private def digit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** `[+-]digits[.digits][(e|E)[+-]digits]` with at most 7 significant
    * digits, at most 3 exponent digits and a decimal exponent within
    * ±10, as an exact float widened to double; NaN for any other
    * field (which never parses to NaN here).
    */
  private def fast(s: UTF8String, from: Int, to: Int): Double = {
    var i = from
    val neg = s.getByte(i) == '-'
    if (neg || s.getByte(i) == '+') i += 1
    var m = 0L
    var sig = 0
    var digits = 0
    var frac = 0
    var dot = false
    var more = true
    while (i < to && more) {
      val b = s.getByte(i)
      if (digit(b)) {
        digits += 1
        if (dot) frac += 1
        if (m != 0 || b != '0') {
          sig += 1
          if (sig > 7) return Double.NaN
          m = m * 10 + (b - '0')
        }
        i += 1
      } else if (b == '.' && !dot) { dot = true; i += 1 }
      else more = false
    }
    if (digits == 0) return Double.NaN
    var e = 0
    if (i < to) {
      val b = s.getByte(i)
      if (b != 'e' && b != 'E') return Double.NaN
      i += 1
      val eneg = i < to && s.getByte(i) == '-'
      if (i < to && (eneg || s.getByte(i) == '+')) i += 1
      val es = i
      while (i < to) {
        val c = s.getByte(i)
        if (!digit(c) || i - es == 3) return Double.NaN
        e = e * 10 + (c - '0')
        i += 1
      }
      if (i == es) return Double.NaN
      if (eneg) e = -e
    }
    val k = e - frac
    if (k < -10 || k > 10) return Double.NaN
    val f = (if (k >= 0) m * Pow10(k) else m / Pow10(-k)).toFloat
    if (neg) -f else f
  }

  /** `CAST(field AS FLOAT)`'s rule, null where the cast fails. */
  private def slow(s: UTF8String, from: Int, to: Int): java.lang.Float = {
    val str = s.copyUTF8String(from, to - 1).toString
    try java.lang.Float.valueOf(str)
    catch {
      case _: NumberFormatException =>
        Cast.processFloatingPointSpecialLiterals(str, true).asInstanceOf[java.lang.Float]
    }
  }
}
