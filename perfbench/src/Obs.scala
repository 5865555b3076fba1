package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the raw result file (maps keep insertion
  * order when built from a `Seq` of pairs via [[Json.obj]]).
  */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case other => str(other.toString)
  }
}

/** One timed interval of the traced run. `op` groups the spans of one
  * poll, pass or query; `parent` names the enclosing span.
  */
final case class Span(name: String, op: Long, parent: String, startNs: Long, endNs: Long)

/** Layer observation for the traced run, all registered from outside the
  * program:
  *  - spans recorded around calls into the program's public functions;
  *  - a `SparkListener` summing task metrics per layer, where the layer is
  *    the `perfbench.layer` local property the job was submitted under;
  *  - a `QueryExecutionListener` recording analysis/optimisation/planning
  *    and execution time of every batch action, attributed to the layer
  *    that was current when the benchmark last drained the listener bus.
  * With tracing off the benchmark creates none of this (see [[Tracer]]).
  */
final class Obs(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var currentOp: Long = -1L

  def span[T](name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans.add(Span(name, currentOp, parent, t0, System.nanoTime()))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Per-layer Spark task totals. */
  final class Totals {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
    def fields: Seq[(String, Any)] = Seq(
      "jobs" -> jobs, "tasks" -> tasks, "executor_run_ms" -> runMs,
      "executor_cpu_ms" -> cpuMs, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill, "gc_ms" -> gcMs)
  }
  private val totals = mutable.LinkedHashMap.empty[String, Totals]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private def tot(layer: String): Totals = totals.getOrElseUpdate(layer, new Totals)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = totals.synchronized {
      val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Obs.LayerProp)))
        .getOrElse("other")
      tot(layer).jobs += 1
      e.stageIds.foreach(stageLayer(_) = layer)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = totals.synchronized {
      val t = tot(stageLayer.getOrElse(e.stageId, "other"))
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.cpuMs += m.executorCpuTime / 1000000L
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
      }
    }
  }

  /** Batch-action planning/execution, per layer: (actions, plan ms, exec ms). */
  private val qel = mutable.LinkedHashMap.empty[String, Array[Double]]
  @volatile private var qelLayer = "other"
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      qel.synchronized {
        val a = qel.getOrElseUpdate(qelLayer, Array(0.0, 0.0, 0.0))
        a(0) += 1; a(1) += planMs; a(2) += durationNs / 1e6
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` with its jobs tagged as `layer`; the listener bus is drained
    * afterwards so its query-execution events land on the same layer.
    */
  def layer[T](name: String)(body: => T): T = {
    drain()
    qelLayer = name
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Obs.LayerProp)
    sc.setLocalProperty(Obs.LayerProp, name)
    try body
    finally {
      drain()
      qelLayer = "other"
      sc.setLocalProperty(Obs.LayerProp, prev)
    }
  }

  /** Forget everything recorded so far (set-up), keeping the listeners. */
  def reset(): Unit = {
    drain()
    spans.clear()
    totals.synchronized(totals.clear())
    qel.synchronized(qel.clear())
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def layers: Json.Obj = {
    drain()
    val names = (totals.keys ++ qel.keys).toSeq.distinct
    Json.Obj(names.map { n =>
      val t = totals.getOrElse(n, new Totals)
      val q = qel.getOrElse(n, Array(0.0, 0.0, 0.0))
      n -> Json.Obj(t.fields ++ Seq("actions" -> q(0), "plan_ms" -> q(1), "action_ms" -> q(2)))
    })
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Obs {
  val LayerProp = "perfbench.layer"
}

/** Tracing switch: with `trace` off every hook is a plain call. */
final class Tracer(obs: Option[Obs]) {
  def span[T](name: String, parent: String)(body: => T): T =
    obs.fold(body)(_.span(name, parent)(body))
  def layer[T](name: String)(body: => T): T =
    obs.fold(body)(_.layer(name)(body))
  def op(id: Long): Unit = obs.foreach(_.currentOp = id)
  def reset(): Unit = obs.foreach(_.reset())
}
