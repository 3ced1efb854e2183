package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters, one set per job tag. The benchmark tags every span's
  * jobs, so each span gets the jobs, stages and task metrics it caused. */
final class EngineListener extends SparkListener {
  val keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "gc_ms", "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "output_b")
  private val byTag = mutable.Map.empty[String, Array[Long]]
  private val stageTags = mutable.Map.empty[Int, Seq[String]]

  private def add(tags: Seq[String], key: String, v: Long): Unit = synchronized {
    val i = keys.indexOf(key)
    tags.foreach(t => byTag.getOrElseUpdate(t, new Array[Long](keys.size))(i) += v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    synchronized(e.stageIds.foreach(s => stageTags(s) = tags))
    add(tags, "jobs", 1)
  }

  private def tagsOf(stageId: Int): Seq[String] = synchronized(stageTags.getOrElse(stageId, Nil))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(tagsOf(e.stageInfo.stageId), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tags = tagsOf(e.stageId)
    val m = e.taskMetrics
    add(tags, "tasks", 1)
    if (m != null) {
      add(tags, "task_run_ms", m.executorRunTime)
      add(tags, "task_cpu_ns", m.executorCpuTime)
      add(tags, "gc_ms", m.jvmGCTime)
      add(tags, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add(tags, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add(tags, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(tags, "input_b", m.inputMetrics.bytesRead)
      add(tags, "output_b", m.outputMetrics.bytesWritten)
    }
  }

  def counters(tag: String): Map[String, Long] = synchronized {
    val a = byTag.getOrElse(tag, new Array[Long](keys.size))
    keys.zip(a).toMap
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      attrs: Map[String, Double])

/** In-memory spans around the benchmark's calls into each layer. Off in
  * untraced runs, where `span` only runs its body. Spans are written out
  * when the run ends, with the engine counters of the jobs they tagged. */
final class Tracer(sc: SparkContext, val runId: String, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val listener: EngineListener = new EngineListener
  if (on) sc.addSparkListener(listener)

  private def tag(id: Int) = s"pb-$runId-$id"

  def span[A](name: String, attrs: Map[String, Double] = Map.empty)(body: => A): A =
    if (!on) body else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.addJobTag(tag(id))
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag(id))
        stack = stack.tail
        spans += Span(id, name, parent, t0, t1, attrs)
      }
    }

  def json: Seq[Any] = {
    if (on) org.apache.spark.perfbench.ListenerDrain(sc)
    spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs,
        "counters" -> listener.counters(tag(s.id)))
    }.toSeq
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
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
