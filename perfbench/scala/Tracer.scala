package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, with the Spark
  * stage metrics of the jobs each span ran.
  *
  * A span sets the local property [[Tracer.Key]] to its id before the
  * call; every job submitted from the calling thread inherits it, so the
  * listener attributes each stage's task metrics to the innermost open
  * span. Spans stay in memory and are written out when the run ends.
  * Untraced runs use [[Tracer.off]], which only evaluates the body. */
class Tracer(sc: SparkContext) {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int, iter: Int, start: Long) {
    var end: Long = -1L
    def wallS: Double = (end - start) / 1e9
  }

  /** Task-level totals of the stages attributed to one span. */
  final class Agg {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWriteB = 0L; var spillB = 0L
  }

  val spans = ArrayBuffer.empty[Span]
  private val aggs = new ConcurrentHashMap[Int, Agg]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private var open = List.empty[Span]

  private object Listener extends SparkListener {
    private def spanOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(q => Option(q.getProperty(Key))).map(_.toInt)
    private def agg(id: Int): Agg = aggs.computeIfAbsent(id, _ => new Agg)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id => val a = agg(id); a.synchronized(a.jobs += 1) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (id <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val a = agg(id)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  def start(): Unit = sc.addSparkListener(Listener)
  def stop(): Unit = { drain(); sc.removeSparkListener(Listener) }
  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def span[T](name: String, iter: Int)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), iter, System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    sc.setJobDescription(name)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      sc.setJobDescription(open.headOption.map(_.name).orNull)
    }
  }

  def agg(id: Int): Agg = Option(aggs.get(id)).getOrElse(new Agg)

  /** A span's duration minus the part of it its child spans cover
    * (children of one parent never overlap: one calling thread). */
  def selfS(s: Span): Double =
    s.wallS - spans.iterator.filter(_.parent == s.id).map(_.wallS).sum

  /** Spans of `name` opened by traced operations (iteration >= 0;
    * once-per-run checks run as iteration -1). */
  private def ofOps(name: String) = spans.filter(s => s.name == name && s.iter >= 0)

  /** The six per-span metrics, summed over every span of `name` and
    * divided by `ops` (the number of traced operations). */
  def layer(name: String, ops: Int, cores: Int): Seq[(String, Double)] = {
    val of = ofOps(name)
    val a = of.map(s => agg(s.id))
    val wall = of.map(_.wallS).sum
    val run = a.map(_.runMs).sum / 1e3
    Seq(
      s"$name.wall_s" -> wall / ops,
      s"$name.tasks" -> a.map(_.tasks).sum.toDouble / ops,
      s"$name.util" -> (if (wall > 0) run / (wall * cores) else 0.0),
      s"$name.shuffle_mb" -> a.map(_.shuffleWriteB).sum / MB / ops,
      s"$name.spill_mb" -> a.map(_.spillB).sum / MB / ops,
      s"$name.gc_s" -> a.map(_.gcMs).sum / 1e3 / ops)
  }

  def jobs(name: String): Long = ofOps(name).map(s => agg(s.id).jobs).sum
  def tasks(name: String): Long = ofOps(name).map(s => agg(s.id).tasks).sum

  /** Every span as one record: name, start/end relative to the first
    * span, parent, iteration, self time and stage totals. */
  def records: Seq[Seq[(String, Any)]] = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.toSeq.map { s =>
      val a = agg(s.id)
      Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> selfS(s) * 1e3, "jobs" -> a.jobs, "tasks" -> a.tasks, "run_ms" -> a.runMs,
        "gc_ms" -> a.gcMs, "shuffle_write_b" -> a.shuffleWriteB, "spill_b" -> a.spillB)
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0

  /** The untraced form: no listener, no local properties, no spans. */
  def off(sc: SparkContext): Tracer = new Tracer(sc) {
    override def start(): Unit = ()
    override def stop(): Unit = ()
    override def span[T](name: String, iter: Int)(body: => T): T = body
  }
}
