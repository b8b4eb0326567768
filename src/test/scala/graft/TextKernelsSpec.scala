package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import graft.functions.{Hash60, Shingles}
import graft.pipeline.TextOps

/** Reference parity of the native text kernels: `Hash60` against the
  * md5-hex string pipeline and `Shingles` against the
  * transform/slice/array_join formulation `TextOps` used before them. The
  * built-in forms live only here, as the reference. Each property runs on
  * the whole-stage codegen path and on the interpreted path (inside a
  * `transform` lambda, and with codegen switched off). */
class TextKernelsSpec extends SparkSpec {

  private def hash60Ref(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def shinglesRef(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
      .otherwise(array())

  // ASCII words, empty tokens (runs of spaces, leading/trailing spaces once
  // joined) and multi-byte UTF-8 (2-, 3- and 4-byte sequences)
  private val token: Gen[String] = Gen.frequency(
    6 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.alphaLowerChar)).map(_.mkString),
    2 -> Gen.const(""),
    2 -> Gen.oneOf("naïve", "日本語", "ß", "😀", "Ωmega", "ü"),
    1 -> Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.asciiPrintableChar)).map(_.mkString))

  private val text: Gen[String] = Gen.choose(0, 12).flatMap(Gen.listOfN(_, token)).map(_.mkString(" "))

  private val tokenArray: Gen[Seq[String]] =
    Gen.choose(0, 9).flatMap(Gen.listOfN(_, Gen.frequency(5 -> token, 1 -> Gen.const(null: String))))

  /** Rows of a generated batch, with the fixed edge cases always present. */
  private def texts(gen: List[String]): Seq[String] = Seq(null, "", " ", "  a  b ", "naïve 日本語") ++ gen

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    // an RDD source, not a local Seq: projections over a LocalRelation are
    // folded at planning time by interpreted eval and never reach codegen
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def textFrame(ts: Seq[String]): DataFrame =
    frame(ts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) },
      StructType(Seq(StructField("id", LongType), StructField("t", StringType))))

  private def withConf[T](conf: (String, String)*)(f: => T): T = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Codegen with no silent fallback: a kernel whose generated Java fails
    * to compile throws here instead of quietly running interpreted. */
  private def codegen[T](f: => T): T = withConf("spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(f)

  private def interpreted[T](f: => T): T = withConf("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)

  private def codegenned(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.nonEmpty

  /** Every row's native column equals its reference column, pairwise. */
  private def pairsEqual(df: DataFrame): Boolean =
    df.collect().forall(r => (0 until r.length by 2).forall(i => r.get(i) == r.get(i + 1)))

  private def check(name: String, prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private def hashColumns: Seq[Column] = {
    val s = col("t")
    Seq(Hash60(s), hash60Ref(s)) ++ Seq(0, 3, 7).flatMap(j =>
      Seq(TextOps.hash60(s, j), hash60Ref(concat(s, lit("#" + j)))))
  }

  test("Hash60 equals the md5-hex string pipeline, codegen and interpreted") {
    // the top 60 bits of md5(""): d41d8cd98f00b20
    assert(textFrame(Seq("")).select(Hash60(col("t"))).first().getLong(0) ==
      java.lang.Long.parseLong("d41d8cd98f00b20", 16))
    check("hash60", Prop.forAllNoShrink(Gen.listOfN(150, text)) { gen =>
      val df = textFrame(texts(gen))
      val direct = codegen {
        val d = df.select(hashColumns: _*)
        assert(codegenned(d))
        pairsEqual(d)
      }
      // inside a lambda the expression is evaluated row by row, as in
      // GraphStream's streaming MinHash
      val ws = split(col("t"), " ")
      val lambda = df.select(
        transform(ws, x => Hash60(x)), transform(ws, x => hash60Ref(x)),
        array_min(transform(ws, x => TextOps.hash60(x, 5))),
        array_min(transform(ws, x => hash60Ref(concat(x, lit("#5"))))))
      val off = interpreted {
        val d = df.select(hashColumns: _*)
        assert(!codegenned(d))
        pairsEqual(d)
      }
      direct && pairsEqual(lambda) && off
    })
    val nulls = textFrame(Seq(null)).select(Hash60(col("t")), TextOps.hash60(col("t"), 1)).first()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("Shingles equals transform/slice/array_join for n in {1, 2, 3, 5}") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("ws", ArrayType(StringType, containsNull = true))))
    val fixed: Seq[Seq[String]] = Seq(null, Seq(), Seq("a"), Seq(null), Seq("a", null, "b"),
      Seq(null, null, null), Seq("", "", "x"), Seq("a", "b", "c", "d", "e"))
    check("shingles", Prop.forAllNoShrink(Gen.listOfN(150, tokenArray), Gen.listOfN(100, text)) {
      (arrays, gen) =>
        val arr = frame((fixed ++ arrays).zipWithIndex.map { case (a, i) => Row(i.toLong, a) }, schema)
        val txt = textFrame(texts(gen))
        Seq(1, 2, 3, 5).forall { n =>
          val onArrays = Seq(Shingles(col("ws"), n), shinglesRef(col("ws"), n))
          val tok = TextOps.tokens(col("t"))
          val onTexts = Seq(TextOps.shingles(tok, n), shinglesRef(tok, n))
          val direct = codegen {
            val d = arr.select(onArrays: _*)
            assert(codegenned(d))
            pairsEqual(d) && pairsEqual(txt.select(onTexts: _*))
          }
          val off = interpreted(pairsEqual(arr.select(onArrays: _*)) && pairsEqual(txt.select(onTexts: _*)))
          direct && off
        }
    })
    // null or short input is an empty array, never null
    val short = frame(Seq(Row(0L, null), Row(1L, Seq("a", "b"))), schema)
      .select(Shingles(col("ws"), 3)).collect().map(_.getSeq[String](0))
    assert(short.toSeq == Seq(Seq(), Seq()))
  }

  test("the MinHash over explode(Shingles) equals the reference formulation") {
    check("minhash", Prop.forAllNoShrink(Gen.listOfN(120, text)) { gen =>
      val df = textFrame(texts(gen))
      def signature(sh: Column, h: (Column, Int) => Column) =
        df.select(col("id"), explode(sh).as("s")).distinct()
          .groupBy("id").agg(min(h(col("s"), 0)).as("m0"), min(h(col("s"), 1)).as("m1"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val tok = TextOps.tokens(col("t"))
      codegen(signature(TextOps.shingles(tok, 3), TextOps.hash60)) ==
        signature(shinglesRef(tok, 3), (c, j) => hash60Ref(concat(c, lit("#" + j))))
    })
  }
}
