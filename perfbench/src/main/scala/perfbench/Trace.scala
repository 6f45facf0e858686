package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into each layer. A span
  * carries a name, start and end (ns since the run began), its parent and
  * the pass it belongs to. While a span is open its name is the Spark
  * local property [[Trace.LayerKey]], so [[Tally]] attributes every job the
  * call launches to that layer. Spans stay in memory until the run ends. */
final class Trace(sc: SparkContext, t0: Long) {
  import Trace.Span

  var on = false
  var pass = 0
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val outer = sc.getLocalProperty(Trace.LayerKey)
      stack = (id, name) :: stack
      sc.setLocalProperty(Trace.LayerKey, name)
      val start = System.nanoTime() - t0
      try body
      finally {
        spans += Span(id, parent, name, start, System.nanoTime() - t0, pass)
        stack = stack.tail
        sc.setLocalProperty(Trace.LayerKey, outer)
      }
    }

  /** Self seconds per span name in one pass: a span's duration minus the
    * part its child spans cover. */
  def selfSeconds(pass: Int): Map[String, Double] = {
    val in = spans.filter(_.pass == pass)
    val childNs = in.groupBy(_.parent).view.mapValues(_.map(s => s.end - s.start).sum).toMap
    in.groupBy(_.name).view.mapValues(_.map(s =>
      (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }
}

object Trace {
  val LayerKey = "perfbench.layer"

  final case class Span(id: Int, parent: Int, name: String, start: Long,
                        end: Long, pass: Int)
}

/** Listener tallies per layer (the [[Trace.LayerKey]] of the job that ran
  * the task): jobs, stages, tasks, task time, shuffle, spill, GC and peak
  * task memory, plus the tasks of Spark's file-listing jobs. */
final class Tally extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, listTasks = 0L
    var taskMs, shuffleBytes, spillBytes, gcMs, peakMem = 0L
  }
  private val byLayer = mutable.HashMap[String, Acc]()
  private val stageLayer = mutable.HashMap[Int, String]()
  private val listingStages = mutable.HashSet[Int]()

  private def acc(layer: String): Acc = byLayer.getOrElseUpdate(layer, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(Trace.LayerKey))).getOrElse("none")
    val listing = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .exists(_.startsWith("Listing leaf files"))
    acc(layer).jobs += 1
    e.stageIds.foreach { s =>
      stageLayer(s) = layer
      if (listing) listingStages += s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageLayer.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLayer.getOrElse(e.stageId, "none"))
    a.tasks += 1
    if (listingStages(e.stageId)) a.listTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  /** Drain the bus, return and reset the per-layer tallies. */
  def take(sc: SparkContext): Map[String, Acc] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    synchronized {
      val out = byLayer.toMap
      byLayer.clear()
      out
    }
  }
}
