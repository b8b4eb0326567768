package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, TextOps}

class Hash60Spec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").appName("perfbench-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val strings = Seq("", "a", "spark", "a b c", "w3.1.7", "naïve", "日本語", "x" * 200)

  test("the driver replica of hash60 equals TextOps.hash60") {
    import spark.implicits._
    val got = strings.toDF("s")
      .select(col("s"), TextOps.hash60(col("s")).as("h"), TextOps.hash60(col("s"), 5).as("h5"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (s <- strings) assert(got(s) == ((Refs.hash60(s), Refs.hash60(s, 5))), s)
  }

  test("the MinHash and SimHash references equal the engine on a few documents") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c a b c"), (3L, "one two three four two"))
      .toDF("doc_id", "text")
    val mh = Dedup.minhash(docs).collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, text) <- Seq((1L, "a b c d e"), (2L, "a b c a b c"), (3L, "one two three four two"))) {
      assert(mh(id) == Refs.minhash(text).get.toSeq)
      assert(sh(id) == Refs.simhash(text))
    }
  }
}
