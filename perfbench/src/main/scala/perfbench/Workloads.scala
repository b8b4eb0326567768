package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algos.{Community, Components, PageRank, Traversal}
import graft.core.{GraphProperties, PropertyGraph, Structure}
import graft.pipeline.{Dedup, TextOps}
import graft.prims.{AggregateMessages, Iterate, Release}

/** Force a frame the benchmark made itself (not an engine call) into the
  * block store, so timings that read it start from stored rows. */
object Stored {
  def apply(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK_SER)
    p.write.format("noop").mode("overwrite").save()
    p
  }
}

/** RMAT graph workload: `scale` levels, edge factor 16. One pass runs the
  * six graph ops on the symmetric graph (SCC on the directed edge list). */
final class GraphWorkload(scale: Int, seed: Long) extends Workload {
  private val cpus = Runtime.getRuntime.availableProcessors()
  private var sym: DataFrame = _
  private var verts: DataFrame = _
  private var dir: DataFrame = _
  private var g: PropertyGraph = _
  private var gDir: PropertyGraph = _

  // references, by vertex position in `und.ids`
  private var und: Refs.Adj = _
  private var source = 0L
  private var dist: Array[Int] = _
  private var wccRef: Array[Long] = _
  private var sccRef: Array[Long] = _
  private var coreRef: Array[Int] = _
  private var prRef: Array[Double] = _
  private var symRows = 0L
  private var dig = ""

  def inputRows: Long = symRows
  def digest: String = dig

  def setup(h: Harness): Unit = {
    val ((raw, edges), _) = h.span("input", "rmat") {
      val raw = Stored(Inputs.rmat(h.spark, scale, 16, seed, cpus))
      val rows = raw.collect().map(r => (r.getLong(0), r.getLong(1)))
      dig = Inputs.digest(rows.iterator.map { case (s, d) => s"$s,$d" })
      (raw, rows)
    }
    // engine-side build; in the traced run each transform is first forced
    // on its own so its cost is split from the checkpoint that stores it
    def forced(df: DataFrame): DataFrame = {
      if (h.traced) df.write.format("noop").mode("overwrite").save()
      df
    }
    val c0 = h.step("core.canonicalize")(forced(Structure.canonicalize(raw)))
    val canon = h.step("core.materialize")(Iterate.materialize(c0))
    val s0 = h.step("core.symmetrize")(forced(Structure.symmetrize(canon)))
    sym = h.step("core.materialize")(Iterate.materialize(s0))
    val v0 = h.step("core.vertices")(forced(Structure.extractVertexList(sym)))
    verts = h.step("core.materialize")(Iterate.materialize(v0))
    dir = h.step("core.materialize")(Iterate.materialize(
      Structure.removeMultiEdges(Structure.removeSelfLoops(raw))))
    // the passes read only sym, verts and dir; free the rest now rather
    // than whenever the garbage collector lets Spark clean it, which would
    // move peak_storage_mb from run to run
    Release.free(canon)
    raw.unpersist(blocking = true)
    g = PropertyGraph(verts, sym, GraphProperties(directed = false))
    gDir = PropertyGraph(verts, dir, GraphProperties(directed = true))

    h.span("refs", "graph") {
      val loopFree = edges.filter { case (s, d) => s != d }
      val ids = loopFree.flatMap { case (s, d) => Seq(s, d) }
      und = Refs.undirected(ids, loopFree)
      symRows = und.out.map(_.length.toLong).sum
      source = und.ids.head
      dist = Refs.bfs(und, 0)
      wccRef = Refs.wcc(und)
      sccRef = Refs.scc(Refs.directed(ids, loopFree))
      coreRef = Refs.coreNumbers(und)
      prRef = Refs.pagerank(und, 10)
    }
  }

  /** Rows keyed by vertex position; an error if an id is unknown or repeats. */
  private def byPos[T](rows: Array[Row], value: Row => T): Either[String, Array[Option[T]]] = {
    val out = Array.fill[Option[T]](und.n)(None)
    for (r <- rows) {
      val i = und.index(r.getLong(0))
      if (i < 0) return Left(s"unknown vertex ${r.getLong(0)}")
      if (out(i).isDefined) return Left(s"vertex ${r.getLong(0)} twice")
      out(i) = Some(value(r))
    }
    Right(out)
  }

  private def labelsMatch[T](name: String, rows: Array[Row], value: Row => T,
                             ref: Int => T): Option[String] =
    byPos(rows, value) match {
      case Left(e) => Some(e)
      case Right(got) =>
        (0 until und.n).find(i => !got(i).contains(ref(i)))
          .map(i => s"$name of vertex ${und.ids(i)}: got ${got(i)}, want ${ref(i)}")
    }

  private def rowsOf(r: Any): Array[Row] = r.asInstanceOf[Array[Row]]

  def ops: Seq[Op] = Seq(
    Op("pagerank", "algos", () => PageRank.runFixed(g, 10).select("id", "pagerank").collect(),
      r => byPos(rowsOf(r), _.getDouble(1)) match {
        case Left(e) => Some(e)
        case Right(got) => (0 until und.n).find(i => got(i).forall(v => math.abs(v - prRef(i)) > 1e-9))
          .map(i => s"pagerank of ${und.ids(i)}: got ${got(i)}, want ${prRef(i)}")
      }),
    Op("wcc", "algos", () => Components.wcc(g).select("id", "component").collect(),
      r => labelsMatch("component", rowsOf(r), _.getLong(1), wccRef(_))),
    Op("scc", "algos", () => Components.scc(gDir).select("id", "component").collect(),
      r => labelsMatch("scc", rowsOf(r), _.getLong(1), sccRef(_))),
    Op("core_number", "algos",
      () => Components.coreNumberHIndex(g)._1.select("id", "core_number").collect(),
      r => labelsMatch("core number", rowsOf(r), _.getLong(1), i => coreRef(i).toLong)),
    Op("louvain", "algos", () => {
      val (labels, q) = Community.louvain(g, maxLevel = 2, maxIter = 3)
      (labels.select("id", "louvain").collect(), q)
    }, r => {
      val (rows, q) = r.asInstanceOf[(Array[Row], Double)]
      byPos(rows, _.getLong(1)) match {
        case Left(e) => Some(e)
        case Right(got) if got.exists(_.isEmpty) => Some(s"${got.count(_.isEmpty)} vertices unlabelled")
        case Right(got) =>
          val mq = Refs.modularity(und, got.map(_.get))
          if (math.abs(mq - q) > 1e-9) Some(s"returned modularity $q, labels give $mq") else None
      }
    }),
    Op("bfs", "algos", () => Traversal.bfs(g, source).select("id", "distance", "predecessor").collect(),
      r => byPos(rowsOf(r), x => (x.getInt(1), x.getLong(2))) match {
        case Left(e) => Some(e)
        case Right(got) => (0 until und.n).find { i =>
          val want = if (dist(i) < 0) None
            else if (dist(i) == 0) Some((0, -1L))
            else Some((dist(i), und.out(i).filter(j => dist(j) == dist(i) - 1).map(und.ids(_)).min))
          got(i) != want
        }.map(i => s"bfs row of ${und.ids(i)}: got ${got(i)}")
      })
  )

  def probes: Seq[(String, () => Double)] = {
    val state = verts.select(col("id"), lit(1.0).as("x"))
    val rounds = 8
    Seq(
      "prims.aggregate_s" -> (() => Harness.secs {
        AggregateMessages.toDst(sym, state, col("x"), sum(_))
          .write.format("noop").mode("overwrite").save()
      }),
      "prims.materialize_s" -> (() => Harness.secs(Release.free(Iterate.materialize(sym)))),
      "prims.loop_round_s" -> (() => Harness.secs {
        val (out, _, _) = Iterate.loopWithStatus(state, rounds,
          (s, _) => s.select(col("id"), (col("x") + 1.0).as("x")),
          checkpointEvery = 1, releasePrev = true)
        Release.free(out)
      } / rounds))
  }
}

/** Near-duplicate detection over a synthetic corpus: one pass runs MinHash,
  * MinHash-LSH pairs, SimHash and exact dedup. */
final class CorpusWorkload(replicas: Int, seed: Long) extends Workload {
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val perReplica = 5000
  private var docs: DataFrame = _
  private var texts: Map[Long, String] = Map.empty
  private var sample: Array[Long] = Array.empty
  private var minhashRef: Map[Long, Array[Long]] = Map.empty
  private var simhashRef: Map[Long, Long] = Map.empty
  private var exactRef: Map[String, (Long, Long)] = Map.empty
  private var dig = ""

  def inputRows: Long = texts.size.toLong
  def digest: String = dig

  def setup(h: Harness): Unit = {
    val rows = h.span("input", "corpus")(Inputs.corpus(replicas, perReplica, seed))._1
    dig = Inputs.digest(rows.iterator.map { case (i, t) => s"$i\t$t" })
    import h.spark.implicits._
    val local = h.spark.sparkContext.parallelize(rows.toSeq, cpus).toDF("doc_id", "text")
    docs = h.span("build", "partition")(
      Iterate.materialize(local.repartition(cpus, col("doc_id"))))._1
    h.span("refs", "corpus") {
      texts = rows.toMap
      val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
      sample = Array.fill(256)(rows(rnd.nextInt(rows.length))._1).distinct
      minhashRef = sample.map(i => i -> Refs.minhash(texts(i)).get).toMap
      simhashRef = sample.map(i => i -> Refs.simhash(texts(i))).toMap
      exactRef = rows.groupBy(_._2).map { case (t, ds) => t -> (ds.length.toLong, ds.map(_._1).min) }
    }
  }

  private def rowsOf(r: Any): Array[Row] = r.asInstanceOf[Array[Row]]

  private def countIs(rows: Array[Row]): Option[String] =
    if (rows.length != texts.size) Some(s"${rows.length} rows for ${texts.size} docs") else None

  private val shingleCache = scala.collection.mutable.HashMap.empty[Long, Set[String]]
  private def sh(id: Long): Set[String] = shingleCache.getOrElseUpdate(id, Refs.shingles(texts(id)))

  def ops: Seq[Op] = Seq(
    Op("minhash", "pipeline", () => Dedup.minhash(docs).collect(), r => countIs(rowsOf(r)).orElse {
      val got = rowsOf(r).filter(x => minhashRef.contains(x.getLong(0)))
        .map(x => x.getLong(0) -> (0 until 8).map(j => x.getAs[Long](s"mh$j")).toArray).toMap
      sample.find(i => !got.get(i).exists(_.sameElements(minhashRef(i))))
        .map(i => s"minhash of doc $i: got ${got.get(i).map(_.mkString(","))}")
    }),
    Op("lsh_pairs", "pipeline", () => Dedup.minhashLshPairs(docs).select("id_a", "id_b", "jaccard").collect(),
      r => {
        val rows = rowsOf(r)
        val pairs = rows.map(x => (x.getLong(0), x.getLong(1)))
        if (rows.isEmpty) Some("no pairs")
        else if (pairs.distinct.length != pairs.length) Some("repeated pair")
        else rows.iterator.map { x =>
          val (a, b, j) = (x.getLong(0), x.getLong(1), x.getDouble(2))
          val want = Refs.jaccard(sh(a), sh(b))
          if (a >= b) Some(s"pair ($a, $b) not ordered")
          else if (want < 0.2) Some(s"pair ($a, $b) has jaccard $want < 0.2")
          else if (math.abs(want - j) > 1e-6) Some(s"pair ($a, $b): got jaccard $j, want $want")
          else None
        }.collectFirst { case Some(e) => e }
      }),
    Op("simhash", "pipeline", () => Dedup.simhash(docs).select("doc_id", "simhash").collect(),
      r => countIs(rowsOf(r)).orElse {
        val got = rowsOf(r).map(x => x.getLong(0) -> x.getLong(1)).toMap
        sample.find(i => !got.get(i).contains(simhashRef(i)))
          .map(i => s"simhash of doc $i: got ${got.get(i)}, want ${simhashRef(i)}")
      }),
    Op("exact", "pipeline",
      () => Dedup.exact(docs).select("doc_id", "grp_size", "is_canonical").collect(),
      r => countIs(rowsOf(r)).orElse {
        rowsOf(r).iterator.map { x =>
          val id = x.getLong(0)
          val (n, canonical) = exactRef(texts(id))
          if (x.getLong(1) != n || x.getBoolean(2) != (id == canonical))
            Some(s"doc $id: got group size ${x.getLong(1)} canonical ${x.getBoolean(2)}, want $n ${id == canonical}")
          else None
        }.collectFirst { case Some(e) => e }
      })
  )

  def probes: Seq[(String, () => Double)] = {
    // the corpus 3-shingle column, made with the benchmark's own expression
    val shingled = Stored(docs.select(explode(expr(
      "transform(sequence(0, size(split(text, ' ')) - 3), " +
        "i -> array_join(slice(split(text, ' '), i + 1, 3), ' '))")).as("s")))
    Seq("pipeline.hash60_s" -> (() => Harness.secs {
      shingled.select(TextOps.hash60(col("s"))).write.format("noop").mode("overwrite").save()
    }))
  }
}
