package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Stage counters summed per job-description tag. The tag is the job
  * description the benchmark sets around each call into a layer; jobs
  * run by a streaming query carry the engine's own batch description and
  * are summed under "stream". Reading counters adds no Spark job.
  */
final class TagListener extends SparkListener {
  import TagListener.JobDescription

  final class Agg {
    var jobs, stages = 0L
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spillBytes = 0L
    var bytesRead, bytesWritten = 0L
  }

  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def agg(tag: String): Agg = aggs.computeIfAbsent(tag, _ => new Agg)

  private def tagOf(props: java.util.Properties): String = {
    val desc = Option(props).flatMap(p => Option(p.getProperty(JobDescription)))
    desc match {
      case Some(d) if d.contains("batch = ") => "stream"
      case Some(d) => d
      case None => "untagged"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(stageTag.put(_, tag))
    agg(tag).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageTag.getOrDefault(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageTag.getOrDefault(e.stageId, "untagged"))
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Waits for the listener bus, then forgets every counter. */
  def reset(sc: SparkContext): Unit = {
    PerfbenchBus.drain(sc)
    synchronized { aggs.clear(); stageTag.clear() }
  }

  /** Waits for the listener bus, then returns the counters by tag. */
  def snapshot(sc: SparkContext): Map[String, Agg] = {
    PerfbenchBus.drain(sc)
    synchronized { aggs.asScala.toMap }
  }
}

object TagListener {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

/** One timed call: name, start and end (ns, monotonic), and the span
  * that caused it. Spans of one run share its id.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Option[Int], id: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around calls into the program's layers. Each
  * span also becomes the job description of the jobs started inside it,
  * which is how [[TagListener]] attributes stage counters to the call.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    val before = sc.getLocalProperty(TagListener.JobDescription)
    sc.setJobDescription(name)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setJobDescription(before)
      spans += Span(name, t0, t1, parent, id)
    }
  }

  /** Summed duration of every span with this name. */
  def wall(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** A span's duration minus the time its children cover (children of
    * one parent run one after another, so their durations add up).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent.contains(s.id)).map(_.seconds).sum

  /** `trace.pass_s` and `trace.uncovered_s` of the top-level spans that
    * make up a traced pass: their summed duration, and the part of it no
    * layer span covers.
    */
  def passMetrics(names: String => Boolean): Map[String, Double] = {
    val top = spans.filter(s => s.parent.isEmpty && names(s.name))
    Map("trace.pass_s" -> top.map(_.seconds).sum, "trace.uncovered_s" -> top.map(selfSeconds).sum)
  }

  def toJsonLines(runId: String): String = spans.sortBy(_.startNs).map { s =>
    Json.obj(
      "run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent.map(p => spans.find(_.id == p).map(_.name).getOrElse("")).getOrElse(""),
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("", "\n", "\n")
}

/** JSON for result.json and spans.jsonl. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(kv.toMap)
}

/** Resident-memory peak of this process, from /proc (0 where absent). */
object Rss {
  def peakMb: Double = try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  } catch { case scala.util.control.NonFatal(_) => 0.0 }
}
