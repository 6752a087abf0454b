package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The list-vector kernel against the higher-order-function composition
  * it replaced, kept here as the reference: bit-identical doubles for
  * every numeric element type, in generated and interpreted code; NULL
  * lists; DuckDB's NULL-element and length errors (probed on 1.0). */
class ListVectorSpec extends SparkSpecBase {

  /** The replaced composition: ZipWith/ArrayTransform of per-element
    * `CAST(x AS DOUBLE)` products, summed by ArrayAggregate from 0.0. */
  private object Reference {
    def v(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
    def dsum(arr: Expression): Expression = {
      val acc = v("vacc"); val x = v("vv"); val fin = v("vfin")
      ArrayAggregate(arr, Literal(0.0d),
        LambdaFunction(Add(acc, x), Seq(acc, x)), LambdaFunction(fin, Seq(fin)))
    }
    def zipMul(a: Expression, b: Expression): Expression = {
      val x = v("vx"); val y = v("vy")
      ZipWith(a, b, LambdaFunction(
        Multiply(Cast(x, DoubleType), Cast(y, DoubleType)), Seq(x, y)))
    }
    def sq(a: Expression): Expression = {
      val x = v("vq")
      ArrayTransform(a, LambdaFunction(
        Multiply(Cast(x, DoubleType), Cast(x, DoubleType)), Seq(x)))
    }
    def nullIfNull(a: Expression, b: Expression, out: Expression): Expression =
      If(Or(IsNull(a), IsNull(b)), Literal(null, DoubleType), out)
    def dot(a: Expression, b: Expression) = nullIfNull(a, b, dsum(zipMul(a, b)))
    /** the composition, clamped to [-1, 1] with NaN as -1.0, as
      * DuckDB 1.0 clamps it */
    def cosine(a: Expression, b: Expression) = {
      val norms = Multiply(Sqrt(dsum(sq(a))), Sqrt(dsum(sq(b))))
      val r = If(EqualTo(norms, Literal(0.0d)), Literal(-1.0d),
        Divide(dsum(zipMul(a, b)), norms))
      nullIfNull(a, b, If(IsNaN(r), Literal(-1.0d),
        If(GreaterThan(r, Literal(1.0d)), Literal(1.0d),
          If(LessThan(r, Literal(-1.0d)), Literal(-1.0d), r))))
    }
    def distance(a: Expression, b: Expression) = {
      val x = v("vdx"); val y = v("vdy")
      val d = Subtract(Cast(x, DoubleType), Cast(y, DoubleType))
      nullIfNull(a, b, Sqrt(dsum(ZipWith(a, b,
        LambdaFunction(Multiply(d, d), Seq(x, y))))))
    }
  }

  private val a = UnresolvedAttribute("a")
  private val b = UnresolvedAttribute("b")
  private def c(e: Expression): Column = ColumnBridge.column(e)

  /** (SQL name, reference) for every name the kernel serves */
  private val cases: Seq[(String, Expression)] = Seq(
    "list_dot_product" -> Reference.dot(a, b),
    "list_inner_product" -> Reference.dot(a, b),
    "array_dot_product" -> Reference.dot(a, b),
    "array_inner_product" -> Reference.dot(a, b),
    "list_cosine_similarity" -> Reference.cosine(a, b),
    "array_cosine_similarity" -> Reference.cosine(a, b),
    "list_distance" -> Reference.distance(a, b),
    "array_distance" -> Reference.distance(a, b))

  private val rng = new scala.util.Random(7)

  /** vectors of lengths 0-130, plus zero vectors and the specials */
  private def vectors(gen: () => Any, zero: Any, specials: Seq[Any]): Seq[(Seq[Any], Seq[Any])] = {
    val random = (0 to 130).map(n => (Seq.fill(n)(gen()), Seq.fill(n)(gen())))
    val zeros = Seq(0, 1, 5, 64).flatMap { n =>
      Seq((Seq.fill(n)(zero), Seq.fill(n)(gen())), (Seq.fill(n)(zero), Seq.fill(n)(zero)))
    }
    val special = for (s <- specials; t <- specials)
      yield (Seq(gen(), s, gen()), Seq(t, gen(), gen()))
    random ++ zeros ++ special
  }

  private def frame(et: DataType, rows: Seq[(Seq[Any], Seq[Any])]): DataFrame = {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", ArrayType(et)), StructField("b", ArrayType(et))))
    val data = rows.zipWithIndex.map { case ((x, y), i) => Row(i, x, y) } ++
      Seq(Row(-1, null, rows.last._2), Row(-2, rows.last._1, null), Row(-3, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))

  /** every (kernel, reference) pair of columns agrees bit for bit, with
    * whole-stage codegen and with interpreted evaluation */
  private def assertIdentical(df: DataFrame, pairs: Seq[(String, Column, Column)]): Unit = {
    val cols = col("id") +: pairs.flatMap { case (_, k, r) => Seq(k, r) }
    def check(mode: String): Unit = df.select(cols: _*).collect().foreach { r =>
      pairs.zipWithIndex.foreach { case ((name, _, _), j) =>
        assert(bits(r, 1 + 2 * j) == bits(r, 2 + 2 * j),
          s"$mode $name row ${r.getInt(0)}: kernel ${r.get(1 + 2 * j)} vs reference ${r.get(2 + 2 * j)}")
      }
    }
    check("codegen")
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check("interpreted")
    finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private val types: Seq[(String, DataType, () => Any, Any, Seq[Any])] = Seq(
    ("float", FloatType, () => (rng.nextGaussian() * 3).toFloat, 0.0f,
      Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, Float.MaxValue)),
    ("double", DoubleType, () => rng.nextGaussian() * 1e3, 0.0,
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
        Double.MaxValue, Double.MinPositiveValue)),
    ("int", IntegerType, () => rng.nextInt(2001) - 1000, 0,
      Seq(Int.MaxValue, Int.MinValue)),
    ("bigint", LongType, () => rng.nextLong() >> rng.nextInt(64), 0L,
      Seq(Long.MaxValue, Long.MinValue, (1L << 53) + 1)),
    ("decimal", DecimalType(18, 7), () => BigDecimal(rng.nextLong() % 100000000000L, 7).bigDecimal,
      BigDecimal(0).bigDecimal, Seq(BigDecimal("99999999999.9999999").bigDecimal,
        BigDecimal("-0.0000001").bigDecimal)))

  for ((label, et, gen, zero, specials) <- types)
    test(s"$label lists: every vector function is bit-identical to the HOF composition") {
      Functions.registerAll(spark)
      val df = frame(et, vectors(gen, zero, specials))
      assertIdentical(df, cases.map { case (fn, ref) =>
        (fn, org.apache.spark.sql.functions.expr(s"$fn(a, b)"), c(ref)) })
    }

  test("mixed element types widen each side on its own") {
    Functions.registerAll(spark)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", ArrayType(IntegerType)), StructField("b", ArrayType(DecimalType(9, 2)))))
    val data = (0 to 40).map(n => Row(n, Seq.fill(n)(rng.nextInt()),
      Seq.fill(n)(BigDecimal(rng.nextInt(1000000), 2).bigDecimal)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    assertIdentical(df, cases.map { case (fn, ref) =>
      (fn, org.apache.spark.sql.functions.expr(s"$fn(a, b)"), c(ref)) })
  }

  private def error(sql: String): String =
    intercept[Exception](Engine.query(spark, sql).collect()).getMessage

  test("NULL lists give NULL; NULL elements and unequal lengths raise DuckDB's errors") {
    val nulls = Engine.query(spark,
      """SELECT list_dot_product(CAST(NULL AS ARRAY<DOUBLE>), list_value(1.0)),
        |  list_cosine_similarity(list_value(1.0, NULL), NULL),
        |  list_distance(NULL, NULL),
        |  array_cosine_similarity(CAST(NULL AS ARRAY<FLOAT>),
        |    CAST(list_value(1.0) AS ARRAY<FLOAT>))""".stripMargin)
      .collect().head
    assert((0 until 4).forall(nulls.isNullAt), nulls)
    // literals fold through the interpreted path; lists built from the
    // `range` column run in generated code
    for (one <- Seq("1.0", "CAST(range + 1 AS DOUBLE)")) {
      def q(e: String) = s"SELECT $e AS x FROM range(1)"
      def l(xs: String*) = xs.map(_.replace("1.0", one)).mkString("list_value(", ", ", ")")
      val cases = Seq(
        q(s"list_cosine_similarity(${l("1.0", "NULL")}, ${l("1.0", "2.0")})") ->
          "list_cosine_similarity: left argument can not contain NULL values",
        q(s"list_cosine_similarity(${l("1.0", "2.0")}, ${l("1.0", "NULL")})") ->
          "list_cosine_similarity: right argument can not contain NULL values",
        q(s"list_dot_product(${l("1.0", "NULL")}, ${l("1.0", "2.0")})") ->
          "list_inner_product: left argument can not contain NULL values",
        q(s"list_distance(${l("1.0", "2.0")}, ${l("1.0", "NULL")})") ->
          "list_distance: right argument can not contain NULL values",
        q(s"list_distance(${l("1.0", "2.0")}, ${l("1.0")})") ->
          "list_distance: list dimensions must be equal, got left length 2 and right length 1",
        q(s"list_dot_product(${l("1.0", "2.0")}, ${l("1.0")})") ->
          "list_inner_product: list dimensions must be equal, got left length 2 and right length 1",
        // DuckDB checks NULLs before lengths for lists ...
        q(s"list_cosine_similarity(${l("1.0", "NULL")}, ${l("1.0", "2.0", "3.0")})") ->
          "list_cosine_similarity: left argument can not contain NULL values",
        // ... and sizes before NULLs for arrays
        q(s"array_distance(${l("1.0", "NULL")}, ${l("1.0", "2.0", "3.0")})") ->
          "array_distance: Array arguments must be of the same size",
        q(s"array_dot_product(${l("1.0", "2.0")}, ${l("1.0", "NULL")})") ->
          "array_inner_product: right argument can not contain NULL values",
        q(s"array_cosine_similarity(CAST(${l("1.0", "2.0")} AS ARRAY<FLOAT>), " +
          s"CAST(${l("1.0")} AS ARRAY<FLOAT>))") ->
          "array_cosine_similarity: Array arguments must be of the same size",
        q(s"array_cosine_similarity(CAST(${l("1.0", "NULL")} AS ARRAY<FLOAT>), " +
          s"CAST(${l("1.0", "2.0")} AS ARRAY<FLOAT>))") ->
          "array_cosine_similarity: left argument can not contain NULL values")
      for ((sql, want) <- cases) {
        val got = error(sql)
        assert(got.contains(s"Invalid Input Error: $want"), s"$sql\n$got")
      }
    }
  }

  test("cosine is clamped to [-1, 1] and NaN gives -1.0, as DuckDB's") {
    Functions.registerAll(spark)
    // DuckDB 1.0 answers -1.0 to each of these (probed)
    val specials = Engine.query(spark,
      """SELECT list_cosine_similarity([1.0, 'nan'::DOUBLE], [1.0, 2.0]),
        |  list_cosine_similarity([1.0, 'inf'::DOUBLE], [1.0, 2.0]),
        |  array_cosine_similarity(CAST([1.0, 'nan'::DOUBLE] AS ARRAY<FLOAT>),
        |    CAST([1.0, 2.0] AS ARRAY<FLOAT>))""".stripMargin).collect().head
    assert((0 until 3).map(specials.getDouble) == Seq(-1.0, -1.0, -1.0), specials)
    // a vector against itself: DuckDB never gives more than 1.0; the
    // unclamped sqrt(na) * sqrt(nb) formula rounds above it for some
    val vs = Seq.fill(2000)(Seq.fill(8)(rng.nextGaussian()))
    def raw(v: Seq[Double]) = { val n = v.map(x => x * x).sum; n / (math.sqrt(n) * math.sqrt(n)) }
    assert(vs.count(raw(_) > 1.0) > 0)
    val schema = StructType(Seq(StructField("a", ArrayType(DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 2), schema)
    val got = df.selectExpr("list_cosine_similarity(a, a)", "array_cosine_similarity(a, a)").collect()
    for (r <- got; i <- 0 to 1)
      assert(r.getDouble(i) <= 1.0 && r.getDouble(i) > 0.999999, r)
    assert(got.count(_.getDouble(0) == 1.0) >= vs.count(raw(_) > 1.0))
  }

  test("array_cosine_similarity of a zero vector is -1.0, as DuckDB's") {
    val r = Engine.query(spark,
      """SELECT array_cosine_similarity(CAST(list_value(0.0, 0.0) AS ARRAY<FLOAT>),
        |    CAST(list_value(1.0, 2.0) AS ARRAY<FLOAT>)),
        |  array_cosine_similarity(CAST(list_value(range, 0.0) AS ARRAY<FLOAT>),
        |    CAST(list_value(1.0, 2.0) AS ARRAY<FLOAT>))
        |FROM range(1)""".stripMargin).collect().head
    assert(r.getDouble(0) == -1.0 && r.getDouble(1) == -1.0, r)
  }
}
