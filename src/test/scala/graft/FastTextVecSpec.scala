package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FastTextLine, FastTextScratch, FastTextVec}

class FastTextVecSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test(".vec round-trip: header dropped, garbage gate applied, values exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec").toString + "/m.vec"
    val words = Seq(
      ("hello", Seq(0.1f, -0.25f, 3.5f)),
      ("mundo", Seq(1.0f, 2.0f, -0.5f)),
      ("x" * 120, Seq(9f, 9f, 9f))) // >= 100 chars: the reference's garbage gate
      .toDF("word", "vec")
    FastTextVec.write(words, dir)

    val got = FastTextVec.read(spark, dir)
      .orderBy("word").as[(String, Seq[Float])].collect().toSeq
    assert(got === Seq(
      ("hello", Seq(0.1f, -0.25f, 3.5f)),
      ("mundo", Seq(1.0f, 2.0f, -0.5f))))
    // parse is pure codegen'd expressions — no UDF node
    val plan = FastTextVec.read(spark, dir).queryExecution.sparkPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in plan:\n$plan")
  }

  test("reads a hand-written file with a real header line") {
    val d = java.nio.file.Files.createTempDirectory("graft_vec2")
    val f = d.resolve("tiny.vec")
    java.nio.file.Files.writeString(f,
      "2 4\nword1 0.5 0.25 -1.0 2.0\nword2 1.5 0 0 -0.125\n")
    val got = FastTextVec.read(spark, f.toString)
      .orderBy("word").as[(String, Seq[Float])].collect().toSeq
    assert(got === Seq(
      ("word1", Seq(0.5f, 0.25f, -1.0f, 2.0f)),
      ("word2", Seq(1.5f, 0f, 0f, -0.125f))))
  }

  /** The split/slice/cast column form the native parse replaced, kept
    * as the reference it must equal.
    */
  private def columnForm(lines: DataFrame): DataFrame =
    lines.select(filter(split(col("value"), "[ \\t]+"), t => t =!= lit("")).as("f"))
      .filter(size(col("f")) > 2)
      .select(col("f").getItem(0).as("word"),
        transform(slice(col("f"), lit(2), size(col("f")) - 1),
          x => x.cast("float")).as("vec"))
      .filter(length(col("word")) < 100)
      .filter(!exists(col("vec"), x => x.isNull))

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Lines as raw bytes in one file, read back without splitting on
    * CR, so a line may carry a CR or invalid UTF-8.
    */
  private def linesOf(lines: Seq[Array[Byte]]): DataFrame = {
    val f = java.nio.file.Files.createTempFile("graft_vec_lines", ".txt")
    val out = new java.io.ByteArrayOutputStream()
    lines.foreach { l => out.write(l); out.write('\n') }
    java.nio.file.Files.write(f, out.toByteArray)
    spark.read.option("lineSep", "\n").text(f.toString)
  }

  /** Rows as (UTF-8 hex of word, raw float bits), sorted: a bit-exact
    * multiset, where -0.0 and NaN payloads count.
    */
  private def exact(df: DataFrame): Seq[(String, Seq[Int])] =
    df.select(hex(col("word")), col("vec")).as[(String, Seq[Float])].collect()
      .map { case (w, v) => (w, v.map(java.lang.Float.floatToRawIntBits)) }
      .toSeq.sortBy { case (w, v) => (w, v.mkString(",")) }

  private val floats = Seq("inf", "-inf", "+inf", "Infinity", "-Infinity",
    "INF", "NaN", "nan", "1.5f", "2d", "0x1p3", "-0x1.8p-2", "-0", "+0",
    "-0.0", "0", "1.", ".5", "-.25", "1.e2", "1e5", "1E-3", "+7", "007.50",
    "3.4028235e38", "1e39", "-1e-46", "1.4e-45", "0.00000000001234",
    "12345678", "0.123456789", "1.0000000", "1e0010")
  private val notFloats = Seq("abc", "1e", "e5", "--1", ".", "1.2.3", "0x",
    "1,5", "١", "infinit")
  private val multiByteWords = Seq("é" * 99 + "x", "é" * 98 + "x",
    "ж" * 100, "日本語" * 33 + "x", "日本語" * 34, "ß")

  private def decimal(r: scala.util.Random): String = {
    val digits = (1 to 1 + r.nextInt(9)).map(_ => ('0' + r.nextInt(10)).toChar).mkString
    val p = r.nextInt(digits.length + 1)
    val body = if (r.nextInt(4) == 0) digits else digits.take(p) + "." + digits.drop(p)
    val sign = Seq("", "", "-", "+")(r.nextInt(4))
    val exp = r.nextInt(6) match {
      case 0 => s"e${r.nextInt(25) - 12}"
      case 1 => s"E+${r.nextInt(12)}"
      case _ => ""
    }
    sign + body + exp
  }

  /** Random lines over every edge the field split and the cast have. */
  private def randomLines(r: scala.util.Random, n: Int, malformed: Boolean): Seq[Array[Byte]] = {
    val seps = Seq(" ", "\t", "  ", " \t ", "\t\t")
    def sep = seps(r.nextInt(seps.size))
    def field: String = r.nextInt(10) match {
      case 0 => floats(r.nextInt(floats.size))
      case 1 if malformed => notFloats(r.nextInt(notFloats.size))
      case 2 => "%.4f".formatLocal(java.util.Locale.ROOT, r.nextGaussian() * 0.1)
      case _ => decimal(r)
    }
    def word: Array[Byte] = r.nextInt(8) match {
      case 0 => multiByteWords(r.nextInt(multiByteWords.size)).getBytes(UTF_8)
      case 1 => // invalid UTF-8: a lone continuation, a truncated lead, an
        // overlong, an encoded surrogate, sequences cut at the word's end
        Seq(Array(0x77, 0x80, 0x7a), Array(0x77, 0xc3, 0x7a), Array(0x77, 0xc0, 0xaf),
          Array(0xed, 0xa0, 0x80, 0x7a), Array(0x77, 0xf5, 0xff), Array(0x77, 0xe2, 0x82),
          Array(0x77, 0xf0, 0x9f, 0x98))(r.nextInt(7)).map(_.toByte)
      case 2 => ("x" * (95 + r.nextInt(10))).getBytes(UTF_8)
      case _ => s"w${r.nextInt(50)}".getBytes(UTF_8)
    }
    (1 to n).map { _ =>
      val lead = if (r.nextInt(5) == 0) sep else ""
      // a CR alone is a field, and not a float
      val trail = Seq("", "", sep, "\r", " \r")(r.nextInt(if (malformed) 5 else 4))
      val nFields = r.nextInt(6) // 0..5 numeric fields: headers and short lines too
      val fields = (1 to nFields).map(_ => field)
      val rest = fields.map(f => sep + f).mkString
      if (r.nextInt(20) == 0) s"${r.nextInt(1000)} ${r.nextInt(400)}".getBytes(UTF_8)
      else lead.getBytes(UTF_8) ++ word ++ (rest + trail).getBytes(UTF_8)
    }
  }

  test("the native parse equals the split/slice/cast form bit for bit") {
    val r = new scala.util.Random(20261018L)
    for (ansi <- Seq(false, true)) withAnsi(ansi) {
      // under ANSI a malformed field fails the read, so the ANSI pass
      // carries them only where the cast never runs: lines of two
      // fields or fewer and words over the garbage gate
      val gated = Seq("7 abc", "abc", "x" * 100 + " 1 abc", "é" * 100 + " 1 abc")
      val lines = randomLines(r, 4000, malformed = !ansi) ++ gated.map(_.getBytes(UTF_8))
      val text = linesOf(lines)
      val got = FastTextVec.parse(text)
      val ref = columnForm(text)
      assert(got.schema === ref.schema)
      val g = exact(got)
      val e = exact(ref)
      assert(g.size > 1000, s"only ${g.size} lines parsed")
      assert(g === e, s"ansi=$ansi: native and column forms differ")
    }
  }

  test("the float fast path equals Float.parseFloat on 10^5 random decimals") {
    val r = new scala.util.Random(7L)
    val scratch = new FastTextScratch
    val cases = (1 to 100000).map(_ => decimal(r)) ++ floats ++
      (-3000 to 3000).map(v => "%.4f".formatLocal(java.util.Locale.ROOT, v / 10000.0))
    cases.foreach { d =>
      val arr = FastTextLine.parse(UTF8String.fromString(s"w 0 $d"), true, scratch)
      val got = arr.getStruct(0, 2).getArray(1).getFloat(1)
      val want = scala.util.Try(java.lang.Float.parseFloat(d)).getOrElse(
        org.apache.spark.sql.catalyst.expressions.Cast
          .processFloatingPointSpecialLiterals(d, true).asInstanceOf[Float])
      assert(java.lang.Float.floatToRawIntBits(got) ===
        java.lang.Float.floatToRawIntBits(want), s"'$d': $got vs $want")
    }
  }

  test("a malformed field fails the read under ANSI and drops its line without") {
    val d = java.nio.file.Files.createTempDirectory("graft_vec_ansi")
    val f = d.resolve("bad.vec").toString
    java.nio.file.Files.writeString(d.resolve("bad.vec"),
      "2 3\ngood 0.5 1 2\nbad 0.5 abc 2\n")
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    withAnsi(true) {
      for (df <- Seq(FastTextVec.read(spark, f), columnForm(spark.read.text(f)))) {
        val e = intercept[Exception](df.collect())
        assert(causes(e).exists(m => m != null && m.contains("CAST_INVALID_INPUT")),
          s"expected CAST_INVALID_INPUT, got ${causes(e).mkString(" / ")}")
      }
    }
    withAnsi(false) {
      for (df <- Seq(FastTextVec.read(spark, f), columnForm(spark.read.text(f))))
        assert(df.as[(String, Seq[Float])].collect().toSeq ===
          Seq(("good", Seq(0.5f, 1f, 2f))))
    }
  }

  test("each line is parsed once, inside whole-stage codegen") {
    val d = java.nio.file.Files.createTempDirectory("graft_vec_plan")
    java.nio.file.Files.writeString(d.resolve("p.vec"), "1 2\nw 0.5 1\n")
    val df = FastTextVec.read(spark, d.resolve("p.vec").toString)
    assert(df.collect().length === 1)
    val plan = df.queryExecution.executedPlan
    val generates = plan.collect { case g: GenerateExec => g }
    assert(generates.size === 1, s"expected one Generate:\n$plan")
    assert(plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.exists(_.isInstanceOf[GenerateExec])),
      s"the parse is not whole-stage codegen'd:\n$plan")
    val parses = plan.toString.split("graft_fasttext_line", -1).length - 1
    assert(parses === 1, s"the line parse appears $parses times:\n$plan")
  }
}
