package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

object Spans {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    for ((a, b) <- clipped) {
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (children may overlap each other). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * once, when the run ends. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def add(parent: Int, kind: String, name: String, start: Double, end: Double): Int =
    synchronized {
      val id = nextId
      nextId += 1
      buf += Span(id, parent, kind, name, start, end)
      id
    }

  /** Set the end of span `id` (ids are 1-based positions) and return it. */
  def close(id: Int, end: Double): Span = synchronized {
    val s = buf(id - 1).copy(end = end)
    buf(id - 1) = s
    s
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  def json: String = {
    val self = Spans.selfTimes(spans)
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"self_ms":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** What Spark did for one op, summed over the jobs of its job group. */
final class OpCounters {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Job, stage and task counters keyed by the job group the benchmark sets
  * around each op. All callbacks run on the listener-bus thread; readers
  * drain the bus first. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, OpCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def of(g: String) = byGroup.getOrElseUpdate(g, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      jobStart(e.jobId) = (grp, e.time)
      e.stageIds.foreach(stageGroup(_) = grp)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (grp, t0) =>
      val c = of(grp)
      c.jobs += 1
      c.jobIntervals += ((t0.toDouble, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (grp <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(grp)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Counters of `group`, removed from the listener. */
  def take(group: String): OpCounters = synchronized {
    byGroup.remove(group).getOrElse(new OpCounters)
  }
}

/** Catalyst phase times of every successful SQL execution, in the order the
  * bus delivers them. */
final class PlanListener extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[Seq[(String, Double, Double)]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (name, p) =>
      (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    synchronized(buf += phases)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Phase lists received since the last call. */
  def take(): Seq[Seq[(String, Double, Double)]] = synchronized {
    val r = buf.toList
    buf.clear()
    r
  }
}

/** Highest memory-plus-disk bytes held in RDD blocks (checkpoints and
  * caches), summed from block-update events. Unpersisting an RDD removes its
  * blocks without a block update, so the unpersist event drops them here.
  * Broadcast pieces are left out: they are freed by the driver's garbage
  * collector at times no run controls, so counting them would make the
  * figure depend on GC timing. */
final class StorageListener extends SparkListener {
  /** Bytes per (executor, rdd id, block name). */
  private val held = mutable.HashMap.empty[(String, Int, String), Long]
  private var total = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val key = (info.blockManagerId.executorId, b.rddId, b.name)
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += now - held.getOrElse(key, 0L)
      if (now == 0L) held.remove(key) else held(key) = now
      peakBytes = math.max(peakBytes, total)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    held.keys.filter(_._2 == e.rddId).toList.foreach(k => total -= held.remove(k).get)
  }

  def resetPeak(): Unit = synchronized { peakBytes = total }
  /** Ids of the RDDs that hold blocks now. */
  def rddIds: Set[Int] = synchronized(held.keys.map(_._2).toSet)
  def peak: Long = synchronized(peakBytes)
}
