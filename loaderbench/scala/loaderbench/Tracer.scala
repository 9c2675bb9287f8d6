package loaderbench

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark task counters of one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var resultBytes = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "result_bytes" -> resultBytes, "output_bytes" -> outputBytes)
}

/** Attributes every job, and the tasks of its stages, to the job group the
  * submitting thread had set (`setJobGroup`). */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val groups = mutable.HashMap[String, GroupStats]()

  private def of(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def stats(g: String): Map[String, Any] = synchronized {
    groups.get(g).map(_.toMap).getOrElse(new GroupStats().toMap)
  }
}

/** Spans around the benchmark's calls into the engine, kept in memory.
  *
  * A span sets the Spark job group to its own id before running its body,
  * so the listener attributes the body's jobs to it; threads the body
  * starts (the prefetch producer) inherit the group.  Disabled, `span`
  * only runs its body: untraced runs set no job group and attach no
  * listener. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private var attached = false

  private final class Open(val id: Int, val name: String, val parent: Int,
      val run: Int, val start: Long) {
    val attrs = mutable.LinkedHashMap[String, Any]()
  }
  private val done = mutable.ArrayBuffer[Map[String, Any]]()
  private var stack: List[Open] = Nil
  private var nextId = 0
  private val origin = System.nanoTime

  /** Attaches or detaches the listener; detached, tasks go uncounted. */
  def listen(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(listener) else {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    attached = on
  }

  def span[T](name: String, run: Int = -1)(body: => T): T =
    if (!enabled) body else {
      val parent = stack.headOption
      val s = new Open(nextId, name, parent.map(_.id).getOrElse(-1),
        if (run >= 0) run else parent.map(_.run).getOrElse(-1),
        System.nanoTime)
      nextId += 1
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        val end = System.nanoTime
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
        done += Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "run" -> s.run, "start_s" -> (s.start - origin) / 1e9,
          "end_s" -> (end - origin) / 1e9, "attrs" -> s.attrs.toMap)
      }
    }

  /** Records a value on the innermost open span. */
  def attr(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  /** Finished spans, each with its own job group's task counters. */
  def spans(): Seq[Map[String, Any]] = {
    if (attached) ListenerDrain(sc)
    done.toSeq.sortBy(_("id").asInstanceOf[Int])
      .map(s => s + ("spark" -> listener.stats(s("id").toString)))
  }
}

/** Minimal JSON rendering for the raw result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
