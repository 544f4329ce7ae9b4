package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spans recorded from the benchmark's own code, around its calls into
  * each module. Kept in memory and written once when the run ends.
  * A span's layer is its name up to the first dot.
  */
final class Trace {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def currentId: Int = open.get.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T = {
    val id = newId()
    val parent = currentId
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      record(Span(id, parent, name, t0, t1))
    }
  }

  /** Id of the most recent span with this name, 0 if none. */
  def lastId(name: String): Int = synchronized {
    spans.reverseIterator.find(_.name == name).map(_.id).getOrElse(0)
  }

  def record(s: Span): Unit = synchronized { spans += s }

  /** Adds a span measured elsewhere (a Spark job from the listener). */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    record(Span(newId(), parent, name, startNs, endNs))

  /** Per layer: the summed span time not covered by the span's children. */
  def selfSeconds: Map[String, Double] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.toSeq.groupMapReduce(_.name.takeWhile(_ != '.')) { s =>
      val kids = children.get(s.id).toSeq.flatten.map(k =>
        (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      (s.endNs - s.startNs - Trace.unionNs(kids)) / 1e9
    }(_ + _)
  }

  def write(path: Path): Unit = synchronized {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val rows = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}}"""
    }
    val self = selfSeconds.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }
    Files.createDirectories(path.getParent)
    Files.write(path, (s"""{"self_s":{${self.mkString(",")}},"spans":[""" +
      rows.mkString(",\n") + "]}\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The benchmark's own Spark listener: work counts, busy times, shuffle,
  * spill and cache sizes, and job intervals tagged with their call site.
  */
final class SparkLayer extends SparkListener {
  import SparkLayer.Job

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val rddBlocks = mutable.Map.empty[String, Long]
  var peakCache = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleRead = 0; shuffleWrite = 0; spill = 0; peakExecMem = 0
    taskMs.clear(); rddBlocks.clear(); peakCache = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is named after the action's call site
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    jobs(e.jobId) = Job(site, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isInstanceOf[RDDBlockId]) {
      val size = info.memSize + info.diskSize
      if (size > 0) rddBlocks(info.blockId.name) = size else rddBlocks.remove(info.blockId.name)
      peakCache = math.max(peakCache, rddBlocks.values.sum)
    }
  }

  // unpersisting drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    rddBlocks.keys.filter(_.startsWith(s"rdd_${e.rddId}_")).toSeq.foreach(rddBlocks.remove)
  }

  /** Max over median task time in the stage with the most task time. */
  def taskSkew: Double = synchronized {
    if (taskMs.isEmpty) 1.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      if (med <= 0) 1.0 else ts.last.toDouble / med
    }
  }

  /** Wall time of the jobs whose call site mentions `site`, in seconds. */
  def jobSeconds(site: String): Double = synchronized {
    Trace.unionNs(jobs.values.filter(_.callSite.contains(site))
      .map(j => (j.startMs * 1000000L, j.endMs * 1000000L)).toSeq) / 1e9
  }

  def jobUnionSeconds: Double = synchronized {
    Trace.unionNs(jobs.values.map(j => (j.startMs * 1000000L, j.endMs * 1000000L)).toSeq) / 1e9
  }
}

object SparkLayer {
  final case class Job(callSite: String, startMs: Long, var endMs: Long)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
