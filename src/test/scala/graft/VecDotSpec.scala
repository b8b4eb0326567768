package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExtensionsShim
import graft.functions.{GraftExtensions, VecDot}

/** Native vec_dot expression: parity with the HOF formulation, nulls,
  * codegen + SQL registration paths. */
class VecDotSpec extends SparkSpec {

  test("vec_dot matches aggregate(zip_with(...)) and handles nulls") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -1.0), Array(2.0, 2.0))
    ).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val rows = df.select(VecDot(col("a"), col("b")).as("d"), hof.as("h")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    assert(rows.head.getDouble(0) == 32.0)
    val withNull = df.select(VecDot(lit(null).cast("array<double>"), col("b")).as("d"))
    assert(withNull.collect().forall(_.isNullAt(0)))
  }

  test("vec_dot is registered in SQL via GraftExtensions injection") {
    // run the real injection: GraftExtensions fills a SparkSessionExtensions,
    // whose functions are copied into a fresh session's registry the way
    // session construction does for spark.sql.extensions
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    assert(!registry.functionExists(FunctionIdentifier("vec_dot")))
    ExtensionsShim.registerFunctions(ext, registry)
    val r = session.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").first()
    assert(r.getDouble(0) == 11.0)
  }
}
