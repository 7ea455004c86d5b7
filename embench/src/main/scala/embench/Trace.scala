package embench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation}

/** One timed interval: `parent` is the id of the enclosing span (-1 at the
  * root), `round` the setup rep or op it belongs to. Times are nanoseconds
  * from the tracer's origin.
  */
final case class Span(id: Int, name: String, parent: Int, round: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest by call structure; counts recorded at
  * the same boundaries (rows written by a layer) sit beside them. With
  * `enabled = false` every method runs its body untimed and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.ArrayBuffer.empty[(String, String, Double)] // (round, name, value)
  var round = "none"

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val t0 = System.nanoTime()
    stack.push(id)
    try body
    finally {
      stack.pop()
      spans += Span(id, name, parent, round, t0 - origin, System.nanoTime() - origin)
    }
  }

  def count(name: String, value: Double): Unit =
    if (enabled) counts += ((round, name, value))

  /** A layer call on a lazy DataFrame: `<name>.plan` times the call itself
    * with its eager jobs, `<name>.run` a noop write of every output column.
    * The write also gathers `observe` aggregates (row counts, digests) in the
    * same pass, so counting costs no extra job.
    */
  def layer(name: String, observed: Seq[Column] = Nil)(plan: => DataFrame)
      : (DataFrame, Map[String, Any]) =
    span(name) {
      val df = span(s"$name.plan")(plan)
      val obs = span(s"$name.run")(Materialize(df, observed))
      (df, obs)
    }

  /** Sum of each span name's duration per round. */
  def secondsByRound: Map[String, Map[String, Double]] =
    spans.groupBy(_.round).map { case (r, ss) =>
      r -> ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(_.seconds).sum }
    }

  def toJsonLines: Seq[String] =
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"round":"${s.round}","start_ns":${s.start},"end_ns":${s.end}}"""
    }.toSeq
}

/** The timed sink: a noop write, which makes Spark compute every column of
  * `df` (a `.count()` lets Catalyst prune unused columns). `observed`
  * aggregates are computed in the same pass and returned by name.
  */
object Materialize {
  def apply(df: DataFrame, observed: Seq[Column]): Map[String, Any] = {
    if (observed.isEmpty) {
      df.write.format("noop").mode("overwrite").save()
      Map.empty
    } else {
      val obs = Observation()
      val watched = df.observe(obs, observed.head, observed.tail: _*)
      // guard: the sink must see the full output schema of the operation
      require(watched.columns.sameElements(df.columns),
        s"materialization would drop columns of ${df.columns.mkString(",")}")
      watched.write.format("noop").mode("overwrite").save()
      obs.get
    }
  }
}

/** Spark work attributed to a tag. Tags travel as a local property on every
  * job, so events are billed to the operation that submitted them, however
  * late the listener bus delivers them.
  */
final class TagStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var busyMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

final class SparkAccounting(sc: SparkContext) extends SparkListener {
  import SparkAccounting.TagKey

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, TagStats]()
  @volatile private var lastMarker = -1

  private def of(tag: String): TagStats = stats.computeIfAbsent(tag, _ => new TagStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("untagged")
    if (tag.startsWith("__marker_")) { lastMarker = tag.stripPrefix("__marker_").toInt; return }
    e.stageIds.foreach(stageTag.put(_, tag))
    val s = of(tag); s.synchronized { s.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val s = of(tag); s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val s = of(tag)
      val info = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (!info.successful) s.failedTasks += 1
        s.busyMs += info.finishTime - info.launchTime
        s.taskIntervals += ((info.launchTime, info.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  /** Run `body` with every job it submits tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Block until every event posted so far has reached this listener: the
    * marker job's start event queues behind all earlier events.
    */
  def drain(): Unit = {
    val k = lastMarker + 1
    tagged(s"__marker_$k")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (lastMarker < k && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def get(tag: String): TagStats = Option(stats.get(tag)).getOrElse(new TagStats)
}

object SparkAccounting {
  val TagKey = "embench.tag"

  /** Length of the union of `intervals` clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JVM-side readings around one operation: CPU time, GC time, peak heap. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)

  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}
