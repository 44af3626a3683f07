package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.SqlCast

/** Cast-matrix conformance transcribed from the reference suite
  * (slide_test/suite.py:1119-1832). Each block mirrors a fixture verbatim.
  */
class SqlCastSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  /** The cast of one cell, run whole-stage-codegen'd and interpreted
    * over an RDD-backed frame (a local relation would be folded on the
    * driver by interpreted `eval`); both must agree.
    */
  private def one[T](from: DataType, to: DataType, v: Any): Any = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(v)), 1),
      StructType(Seq(StructField("a", from, nullable = true))))
    val q = df.select(SqlCast.to(col("a"), from, to).as("r"))
    val Seq(generated, interpreted) = modes.map { case (_, confs) =>
      withConfs(confs)(q.collect().head.get(0)) }
    assert(bits(generated) === bits(interpreted),
      s"codegen and interpreted casts of $v disagree")
    generated
  }

  test("bool source: to int/float/bool/str (suite:1205-1257)") {
    assert(one(BooleanType, LongType, true) === 1L)
    assert(one(BooleanType, LongType, false) === 0L)
    assert(one(BooleanType, LongType, null) === null)
    assert(one(BooleanType, DoubleType, true) === 1.0)
    assert(one(BooleanType, StringType, true) === "true")
    assert(one(BooleanType, StringType, false) === "false")
    assert(one(BooleanType, StringType, null) === null)
  }

  test("float source: to bool with NaN→NULL (suite:1259-1276)") {
    assert(one(DoubleType, BooleanType, 2.0) === true)
    assert(one(DoubleType, BooleanType, 0.0) === false)
    assert(one(DoubleType, BooleanType, -2.0) === true)
    assert(one(DoubleType, BooleanType, null) === null)
    assert(one(DoubleType, BooleanType, Double.NaN) === null)
  }

  test("string source: to bool accept-list (suite:1324-1351)") {
    for (v <- Seq("true", "True", "TRUE", "1", "1.0")) {
      assert(one(StringType, BooleanType, v) === true, v)
    }
    for (v <- Seq("false", "False", "0", "0.0")) {
      assert(one(StringType, BooleanType, v) === false, v)
    }
    for (v <- Seq("yes", "no", "t", "f", "2", "x", "")) {
      assert(one(StringType, BooleanType, v) === null, v)
    }
  }

  test("string source: to int via double, truncation (suite:1437-1455)") {
    assert(one(StringType, LongType, "1.1") === 1L)
    assert(one(StringType, LongType, "-2.7") === -2L)
    assert(one(StringType, LongType, "naN") === null)
    assert(one(StringType, LongType, "x") === null)
    assert(one(StringType, IntegerType, "1.1") === 1)
  }

  test("string source: to float with inf/nan forms (suite:1541-1559)") {
    assert(one(StringType, DoubleType, "inf") === Double.PositiveInfinity)
    assert(one(StringType, DoubleType, "-Infinity") === Double.NegativeInfinity)
    assert(one(StringType, DoubleType, "naN") === null)
    assert(one(StringType, DoubleType, "2.1") === 2.1)
  }

  test("float source: to int errors on infinity (suite:1479-1488)") {
    intercept[Exception](one(DoubleType, LongType, Double.PositiveInfinity))
    intercept[Exception](one(StringType, LongType, "inf"))
    assert(one(DoubleType, LongType, 2.7) === 2L)
    assert(one(DoubleType, LongType, -2.7) === -2L)
    assert(one(DoubleType, LongType, Double.NaN) === null)
  }

  test("float source: to string, inf forms and NaN→NULL (suite:1561-1620)") {
    assert(one(DoubleType, StringType, 10.0) === "10.0")
    assert(one(DoubleType, StringType, Double.PositiveInfinity) === "inf")
    assert(one(DoubleType, StringType, Double.NegativeInfinity) === "-inf")
    assert(one(DoubleType, StringType, Double.NaN) === null)
  }

  test("datetime: parse, invalid→NULL, truncate, render (suite:1708-1794)") {
    val ts = one(StringType, TimestampNTZType, "2020-01-01 15:16:17")
    assert(ts.toString === "2020-01-01T15:16:17")
    assert(one(StringType, TimestampNTZType, "bad") === null)
    assert(one(TimestampNTZType, StringType,
      java.time.LocalDateTime.of(2020, 1, 1, 15, 0, 0)) === "2020-01-01 15:00:00")
    assert(one(TimestampNTZType, DateType,
      java.time.LocalDateTime.of(2020, 1, 1, 15, 0, 0)).toString === "2020-01-01")
  }

  test("narrow integral targets: byte/short via the same double path") {
    assert(one(StringType, ByteType, "1.9") === 1.toByte)
    assert(one(StringType, ShortType, "-2.7") === (-2).toShort)
    assert(one(DoubleType, ShortType, 300.7) === 300.toShort)
    assert(one(BooleanType, ByteType, true) === 1.toByte)
    assert(one(StringType, ByteType, "naN") === null)
  }

  test("parseType parses bare type expressions") {
    import graft.schema.SchemaDSL
    assert(SchemaDSL.parseType("[int]") === ArrayType(IntegerType))
    assert(SchemaDSL.parseType("{a:str,b:[long]}") === StructType(Seq(
      StructField("a", StringType), StructField("b", ArrayType(LongType)))))
    intercept[GraftException](SchemaDSL.parseType("[int]x"))
  }

  test("blocked cells throw at plan time (suite:1353-1362,1468-1477)") {
    intercept[GraftCastException](SqlCast.to(col("a"), TimestampNTZType, BooleanType))
    intercept[GraftCastException](SqlCast.to(col("a"), TimestampNTZType, LongType))
    intercept[GraftCastException](SqlCast.to(col("a"), DateType, DoubleType))
    intercept[GraftCastException](SqlCast.to(col("a"), BooleanType, TimestampNTZType))
    intercept[GraftCastException](SqlCast.to(col("a"), LongType, DateType))
  }

  // ---- string→number kernel vs the composition it replaced ----

  /** The string→double cell as it was composed from built-ins before the
    * native kernel: the differential oracle.
    */
  private def composedStrToDouble(c: Column): Column = {
    val l = lower(trim(c))
    when(l === "nan" || l === "-nan" || l === "+nan", lit(null).cast(DoubleType))
      .when(l === "inf" || l === "+inf" || l === "infinity" || l === "+infinity",
        lit(Double.PositiveInfinity))
      .when(l === "-inf" || l === "-infinity", lit(Double.NegativeInfinity))
      .otherwise(c.cast(DoubleType))
  }

  private def composed(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => composedStrToDouble(c).cast(t)
    case _ =>
      val d = composedStrToDouble(c)
      when(isnan(d), lit(null))
        .when(d === Double.PositiveInfinity || d === Double.NegativeInfinity,
          raise_error(lit("GraftCastError: cannot cast infinity")))
        .otherwise(d.cast(t))
  }

  private val numericTargets =
    Seq(DoubleType, FloatType, LongType, IntegerType, ShortType, ByteType)

  /** Spaces, tabs and newlines around numbers and nan/inf forms in mixed
    * case with signs; Java-only forms; lone sign, dot and exponent;
    * non-ASCII digits, letters and blanks; NULL.
    */
  private val vocabulary: Seq[String] = Seq(
    "1.5", " 1.5 ", "\t1.5", "1.5\n", "\n 2 \t", " -3", "+4.", ".5", "-.5e-3",
    "1e5", "1E+2", "  7e0  ", "00012", "-0", "0.0", "-0.0", "1.1", "-2.7",
    "123456789012345678901234567890", "9007199254740993", "4.9e-324",
    "1e400", "-1e400", "1e-400", "1e308", "127.9", "128", "-129", "40000",
    "nan", "NaN", " naN ", "-nan", "+NaN", "\tnan", "nan\n", "\tNaN", "\t-nan",
    "\n+nan", "- nan", "inf", "-Inf", "+INF", "Infinity", "-infinity",
    "+Infinity", " inf ", "\tinf", "-inf\n", "\t-Infinity", " \tINF\n ",
    "infinit", "infinityx", "nanx", "in", "n", "i", "\u0130nf", "\u0130NFINITY",
    "\u0131nf", "na\u212a", "inf\u0130",
    "0x1p3", "-0x1P-2", " 0x10p0 ", "1d", "2f", "3.5D", "1e5f", "-2F", "0x",
    "", " ", "   ", "\t", "+", "-", " - ", ".", "e", "1e", "e5", "1e+", ".e1",
    "--1", "+-1", "- 1", "1 2", "1.2.3", "x1", "abc", "1,5", "#1", "~",
    "\u0661\u0662", "\uff11\uff12", "1.5\uff45", "\u00a01", "1\u00a0",
    "\u00001", "\u0001 2", "\u2007\u0033", null)

  /** Strings over a numeric-ish alphabet: number, literal and padding
    * fragments glued together, up to 6 at a time.
    */
  private val numericish: Gen[String] = {
    val frag = Gen.oneOf("0", "1", "9", "12", ".", "e", "E", "+", "-", " ",
      "\t", "\n", "nan", "NaN", "inf", "Infinity", "n", "i", "x", "0x",
      "p", "d", "f", "\u0661")
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, frag)).map(_.mkString)
  }

  private lazy val generated: Seq[String] =
    Gen.listOfN(600, numericish)
      .apply(Gen.Parameters.default, Seed(20261018L)).get

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Seq(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[T](kv: Seq[(String, String)])(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** An RDD-backed frame, so the optimizer cannot fold the projection
    * into a local relation and the casts run in the executed plan.
    */
  private def strings(vs: Seq[String]) = spark.createDataFrame(
    spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 3),
    StructType(Seq(StructField("id", LongType), StructField("s", StringType))))

  private def bits(v: Any): String = v match {
    case null => "NULL"
    case d: Double => s"d:${java.lang.Double.doubleToLongBits(d)}"
    case f: Float => s"f:${java.lang.Float.floatToIntBits(f)}"
    case x => s"${x.getClass.getSimpleName}:$x"
  }

  private def show(v: String): String =
    if (v == null) "NULL"
    else v.flatMap(ch => if (ch < ' ' || ch > '~') f"\\u${ch.toInt}%04x"
      else ch.toString)

  /** Kernel and oracle agree bit for bit on every target; integral
    * targets raise on exactly the rows the oracle parses to ±∞.
    */
  private def assertMatchesComposed(vs: Seq[String]): Unit = {
    val df = strings(vs)
    val s = col("s")
    val oracleInf = composedStrToDouble(s).isin(
      Double.PositiveInfinity, Double.NegativeInfinity)
    val pairs = numericTargets.flatMap { t =>
      def guarded(c: Column) =
        if (t == DoubleType || t == FloatType) c
        else when(oracleInf, lit(null)).otherwise(c)
      Seq(guarded(composed(s, t)).as(s"o_$t"),
        guarded(SqlCast.to(s, StringType, t)).as(s"n_$t"))
    }
    val rows = df.select(col("id") +: s +: pairs: _*).collect()
    assert(rows.length === vs.length)
    val diffs = for {
      r <- rows.toSeq
      (t, k) <- numericTargets.zipWithIndex
      (o, n) = (bits(r.get(2 + 2 * k)), bits(r.get(3 + 2 * k)))
      if o != n
    } yield s"'${show(r.getString(1))}' as $t: composed $o, kernel $n"
    assert(diffs.isEmpty, diffs.take(20).mkString("\n", "\n", ""))
    val infs = df.filter(oracleInf)
    assert(!infs.isEmpty)
    for (t <- numericTargets.drop(2)) {
      val e = intercept[Exception](
        infs.select(SqlCast.to(s, StringType, t)).collect())
      assert(e.getMessage.contains("cannot cast infinity"), s"$t: $e")
    }
  }

  for ((mode, confs) <- modes) {
    test(s"string→number kernel == composed cast over the vocabulary ($mode)") {
      withConfs(confs)(assertMatchesComposed(vocabulary))
    }
    test(s"string→number kernel == composed cast over generated strings ($mode)") {
      withConfs(confs)(assertMatchesComposed(generated))
    }
  }

  test("string→long parses once: no string→double Cast in the optimized plan") {
    val df = spark.range(3).select(col("id").cast(StringType).as("s"))
      .select(SqlCast.to(col("s"), StringType, LongType).as("i"),
        SqlCast.to(col("s"), StringType, DoubleType).as("d"))
    val plan = df.queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.exists(_.prettyName == "graft_str_to_double"), plan)
    assert(!exprs.exists {
      case c: Cast => c.child.dataType == StringType && c.dataType == DoubleType
      case _ => false
    }, plan)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((0L, 0.0), (1L, 1.0), (2L, 2.0)))
    // a literal input still constant-folds
    val folded = spark.range(1)
      .select(SqlCast.to(lit(" 2.5 "), StringType, DoubleType).as("d"))
      .queryExecution.optimizedPlan.expressions.head
    assert(folded.children.head === Literal(2.5), folded)
  }
}
