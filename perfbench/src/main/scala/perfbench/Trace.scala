package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Counters are filled by [[Trace.Listener]]
  * from the Spark jobs that ran while this span was the innermost one.
  */
final class Span(val id: Int, val name: String, val parent: Int) {
  var startNs = 0L
  var endNs = 0L
  var childNs = 0L
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outFiles = 0L
  def wallNs: Long = endNs - startNs
  def selfNs: Long = wallNs - childNs
}

/** In-memory span recorder. Spans nest on the single driver thread that
  * issues the calls; the innermost span's id rides a Spark local
  * property so that the listener can attribute each job to it. Disabled,
  * `span` is a plain call.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Time spent in the recorder itself, on any thread. */
  val ownNs = new java.util.concurrent.atomic.AtomicLong()
  private val listener = new Listener(this)
  private val sc = spark.sparkContext

  if (enabled) {
    sc.addSparkListener(listener)
    open("run")
  }

  private def open(name: String): Span = {
    val s = new Span(spans.length, name, stack.headOption.fold(-1)(_.id))
    spans += s
    byId.synchronized(byId(s.id) = s)
    stack.push(s)
    sc.setLocalProperty(Property, s.id.toString)
    s.startNs = System.nanoTime()
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack.pop()
    stack.headOption.foreach { p =>
      p.childNs += s.wallNs
      sc.setLocalProperty(Property, p.id.toString)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = own(open(name))
      try body finally own(close(s))
    }

  private[perfbench] def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs.addAndGet(System.nanoTime() - t0)
  }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  private[perfbench] def spanOf(id: Int): Option[Span] =
    byId.synchronized(byId.get(id))

  /** Ends the root span once every queued listener event is delivered.
    * Returns it (its wall is the traced wall).
    */
  def finish(): Span = {
    val root = spans.head
    close(root)
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    own(listener.attributeFiles(spark))
    root
  }
}

object Trace {
  val Property = "perfbench.span"

  /** Attributes jobs, task time, shuffle, spill and output to the span
    * named by each job's local property; unlabelled jobs go to the root.
    */
  final class Listener(trace: Trace) extends SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Span]
    private val execSpan = mutable.Map.empty[Long, Span]

    private def spanFor(props: java.util.Properties): Span = {
      val id = Option(props).flatMap(p => Option(p.getProperty(Property)))
        .map(_.toInt).getOrElse(0)
      trace.spanOf(id).orElse(trace.spanOf(0)).get
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = trace.own(synchronized {
      val s = spanFor(e.properties)
      s.jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, s))
    })

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = trace.own(synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
      }
    })

    /** Files written per span, from each SQL execution's "number of
      * written files" metric (the SQL status store keeps them).
      */
    def attributeFiles(spark: SparkSession): Unit = synchronized {
      val store = spark.sharedState.statusStore
      execSpan.foreach { case (exec, s) =>
        store.execution(exec).foreach { ui =>
          val ids = ui.metrics.filter(_.name == "number of written files")
            .map(_.accumulatorId).toSet
          if (ids.nonEmpty) {
            val values = store.executionMetrics(exec)
            s.outFiles += ids.toSeq.flatMap(values.get)
              .map(_.replaceAll("[^0-9]", "")).filter(_.nonEmpty).map(_.toLong).sum
          }
        }
      }
    }
  }
}
