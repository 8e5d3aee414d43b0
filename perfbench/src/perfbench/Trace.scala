package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` 0 = a root span;
  * `batch` ties fan-out and attach spans to their micro-batch id.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, batch: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkCounters {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var runNs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var gcMs = 0L
  @volatile var bytesWritten = 0L
  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runNs += o.runNs
    shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
    bytesWritten += o.bytesWritten
  }
}

/** In-memory span recorder. A span marks the Spark jobs its thread
  * submits with a local property, and the listener below charges their
  * tasks to it, so Spark runtime counters land on the layer that caused
  * them. Jobs a streaming query runs outside any span are kept by
  * micro-batch (the query id and batch id the streaming engine sets as
  * local properties) for spans rebuilt from query progress. Spans are
  * written out only when the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  val counters = TrieMap[Int, SparkCounters]()
  val batchCounters = TrieMap[(String, Long), SparkCounters]()

  def span[T](name: String, batch: Long = -1L)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent: Int = current.get
    val prevProp = sc.getLocalProperty(Tracer.Key)
    current.set(id)
    sc.setLocalProperty(Tracer.Key, id.toString)
    val s = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, s, System.nanoTime(), batch))
      current.set(parent)
      sc.setLocalProperty(Tracer.Key, prevProp)
    }
  }

  /** A span reconstructed after the fact (e.g. from query progress),
    * charged with `work`.
    */
  def record(name: String, parent: Int, startNs: Long, endNs: Long,
             batch: Long = -1L, work: Option[SparkCounters] = None): Int = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, startNs, endNs, batch))
    work.foreach(counters.update(id, _))
    id
  }

  def reparent(id: Int, parent: Int): Unit =
    spans.asScala.find(_.id == id).foreach { s =>
      spans.remove(s); spans.add(s.copy(parent = parent))
    }

  val listener: SparkListener = new SparkListener {
    private val stageTarget = TrieMap[Int, SparkCounters]()
    private def target(p: java.util.Properties): Option[SparkCounters] =
      Option(p.getProperty(Tracer.Key))
        .map(sid => counters.getOrElseUpdate(sid.toInt, new SparkCounters))
        .orElse(for {
          q <- Option(p.getProperty(Tracer.QueryIdKey))
          b <- Option(p.getProperty(Tracer.BatchIdKey))
        } yield batchCounters.getOrElseUpdate((q, b.toLong), new SparkCounters))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(target).foreach { c =>
        c.jobs += 1
        e.stageIds.foreach(st => stageTarget(st) = c)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (c <- stageTarget.get(e.stageId); m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.runNs += m.executorRunTime * 1000000L
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  /** Self time = duration minus the time covered by direct children. */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Counters of a span and its whole subtree. */
  def subtree(all: Seq[Span], id: Int): SparkCounters = {
    val kids = all.groupBy(_.parent)
    val acc = new SparkCounters
    def go(i: Int): Unit = {
      counters.get(i).foreach(acc.add)
      kids.getOrElse(i, Nil).foreach(k => go(k.id))
    }
    go(id)
    acc
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val a = all
    val self = selfNs(a)
    val lines = a.map { s =>
      val c = counters.getOrElse(s.id, new SparkCounters)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","batch":${s.batch},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"task_run_ns":${c.runNs},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
        s""""gc_ms":${c.gcMs},"bytes_written":${c.bytesWritten}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Key = "perfbench.span"
  // set by Spark's streaming engine on the thread that runs a micro-batch
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
}
