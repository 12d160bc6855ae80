package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work done by the jobs of one span (its own jobs, not its children's). */
final class Counters {
  var jobs, stages, tasks = 0L
  var inputBytes, outputBytes, shuffleWriteBytes, shuffleWriteRecords = 0L
  var spillBytes, peakExecMem = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    taskMs ++= o.taskMs
    this
  }

  /** Slowest task over the median task: the skew of the span's work. */
  def taskMaxOverMedian: Double =
    if (taskMs.isEmpty) 0.0
    else taskMs.max.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble).toSeq))
}

final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = startNs
  var gcMs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, plus a
  * `SparkListener` that attributes task metrics to the innermost open span
  * through the job group set before each call.
  *
  * Spans are recorded only while [[on]] is true, so a traced run can
  * interleave traced and untraced passes and report the difference as the
  * tracing overhead. Spans stay in memory; [[write]] dumps them at exit with
  * name, start, end, parent, self time and counters.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val own = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private var stack: List[Span] = Nil
  var on = false

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)

  private def counters(id: Int): Counters = own.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(id => counters(id).jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { id =>
        stageSpan.put(e.stageInfo.stageId, id)
        counters(id).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageSpan.containsKey(e.stageId)) {
        val c = counters(stageSpan.get(e.stageId))
        c.tasks += 1
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.taskMs += m.executorRunTime
      }
    }
  }
  sc.addSparkListener(listener)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def setGroup(): Unit = stack.headOption match {
    case Some(s) => sc.setJobGroup(s"span-${s.id}", s.name, interruptOnCancel = false)
    case None    => sc.clearJobGroup()
  }

  /** Runs `f` inside a span named `name` when tracing is on. */
  def span[T](name: String)(f: => T): T = if (!on) f else {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack = s :: stack
    setGroup()
    val g0 = gcMs()
    try f finally {
      s.endNs = System.nanoTime()
      s.gcMs = gcMs() - g0
      stack = stack.tail
      setGroup()
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Counters of a span and all its descendants. Call after [[drain]]. */
  def inclusive(s: Span): Counters = {
    val c = new Counters().add(counters(s.id))
    children.getOrElse(s.id, Nil).foreach(ch => c.add(inclusive(ch)))
    c
  }

  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  def find(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Writes every span as one JSON array (times in ms from the first span). */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      val c = counters(s.id)
      f"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${selfSeconds(s) * 1e3}%.3f,"gc_ms":${s.gcMs},"jobs":${c.jobs},""" +
        f""""stages":${c.stages},"tasks":${c.tasks},"input_bytes":${c.inputBytes},""" +
        f""""output_bytes":${c.outputBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        f""""shuffle_records":${c.shuffleWriteRecords},"spill_bytes":${c.spillBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
