package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded workload inputs, made with the benchmark's own code (Spark
  * built-ins and a driver RNG), never with the engine's generators: a
  * change to the engine cannot change what it is measured on. */
object Inputs {

  /** Directed RMAT edge draws (a=.57, b=.19, c=.19, d=.05) as
    * (src: long, dst: long). Each edge and recursion level takes one
    * xxhash64 draw of (edge index, seed, level), so the edge list depends
    * on the seed alone. Self-loops and repeats are kept: removing them is
    * the engine's job. */
  def rmat(spark: SparkSession, scale: Int, edgeFactor: Int, seed: Long,
           parts: Int): DataFrame = {
    val (a, b, c) = (0.57, 0.19, 0.19)
    val mant = (1L << 53) - 1
    def u(level: Int): Column =
      xxhash64(col("id"), lit(seed), lit(level)).bitwiseAND(lit(mant)).cast("double") /
        lit(mant.toDouble + 1.0)
    def bits(bit: Column => Column): Column =
      (0 until scale).map(l => when(bit(u(l)), lit(1L << l)).otherwise(lit(0L)))
        .reduce(_ + _)
    spark.range(0L, edgeFactor.toLong << scale, 1L, parts)
      .select(
        bits(r => r >= a + b).as("src"),
        bits(r => (r >= a && r < a + b) || r >= a + b + c).as("dst"))
  }

  /** A synthetic document corpus of `replicas` blocks of `perReplica` docs,
    * shaped like the engine's 5000-doc documents fixture: 10–100 tokens
    * drawn uniformly from a 30-word vocabulary, plus exact and near
    * duplicates. Every word is salted by (replica, seed), so each block
    * keeps the fixture's duplicate density and no pair forms across
    * blocks. Returns (doc_id, text) rows in doc_id order. */
  def corpus(replicas: Int, perReplica: Int, seed: Long): Array[(Long, String)] = {
    val rnd = new SplittableRandom(seed)
    val out = Array.newBuilder[(Long, String)]
    for (r <- 0 until replicas) {
      val vocab = Array.tabulate(30)(w => s"w$w.$r.$seed")
      val docs = new Array[Array[String]](perReplica)
      for (i <- 0 until perReplica) {
        val p = rnd.nextDouble()
        docs(i) =
          if (i > 0 && p < 0.004) docs(rnd.nextInt(i)).clone()
          else if (i > 0 && p < 0.05) {
            // near duplicate: an earlier doc with ~10% of its tokens redrawn
            val d = docs(rnd.nextInt(i)).clone()
            for (t <- d.indices if rnd.nextDouble() < 0.1) d(t) = vocab(rnd.nextInt(30))
            d
          } else Array.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(30)))
      }
      for (i <- 0 until perReplica)
        out += (((r * perReplica + i).toLong, docs(i).mkString(" ")))
    }
    out.result()
  }

  /** First 16 hex digits of the SHA-256 of the rows, in order. */
  def digest(rows: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => { md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) })
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
