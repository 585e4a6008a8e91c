package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: its parent span (0 for a root) and the
  * operation it belongs to (0 for set-up).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder for the driver thread. Spans nest in call
  * order. When disabled, `apply` only runs its body, so untraced runs
  * pay nothing for it.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 1
  var op = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Records an interval timed elsewhere (a Catalyst phase) under the
    * innermost span of the current operation that contains its start,
    * clipped to that span.
    */
  def attach(name: String, startNs: Long, endNs: Long): Unit = if (enabled) {
    val mine = spans.filter(s => s.op == op && !s.name.startsWith("plan.") &&
      s.startNs <= startNs && startNs <= s.endNs)
    if (mine.nonEmpty) {
      val p = mine.minBy(s => s.endNs - s.startNs)
      spans += Span(next, p.id, op, name, startNs, math.min(endNs, p.endNs))
      next += 1
    }
  }
}

/** Listener counters, keyed by (operation, phase) through the local
  * properties the harness sets before each call. Spark delivers events
  * on its listener bus, so readers drain the bus first
  * ([[org.apache.spark.PerfbenchBus]]).
  */
final class Counters extends SparkListener {
  import Counters._

  private val stageOwner = new ConcurrentHashMap[Int, (Int, String)]()
  private val totals = new ConcurrentHashMap[(Int, String), Array[Long]]()
  @volatile var currentOp = 0
  val queries = new ConcurrentLinkedQueue[(Int, QueryExecution)]()

  private def add(key: (Int, String), field: String, v: Long): Unit =
    totals.computeIfAbsent(key, _ => new Array[Long](Fields.size))(Index(field)) += v

  private def owner(props: java.util.Properties): (Int, String) =
    if (props == null) (0, "none")
    else (Option(props.getProperty(OpProp)).map(_.toInt).getOrElse(0),
          Option(props.getProperty(PhaseProp)).getOrElse("none"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = owner(e.properties)
    add(key, "jobs", 1)
    e.stageInfos.foreach(s => stageOwner.put(s.stageId, key))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { key =>
      add(key, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(key, "run_ms", m.executorRunTime)
        add(key, "cpu_ns", m.executorCpuTime)
        add(key, "gc_ms", m.jvmGCTime)
        add(key, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(key, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(key, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  /** Per-phase counters of one operation, named `<phase>.<field>`. */
  def of(op: Int): Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    totals.forEach { (key, vals) =>
      if (key._1 == op)
        Fields.zipWithIndex.foreach { case (f, i) => out += s"${key._2}.$f" -> vals(i).toDouble }
    }
    out.result()
  }

  /** Progress events of streaming queries, charged to the operation
    * that was running when Spark delivered them.
    */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val commit = ms("walCommit") + ms("commitOffsets") +
        p.stateOperators.map(_.commitTimeMs).sum
      add((currentOp, "stream"), "batches", 1)
      add((currentOp, "stream"), "commit_ms", commit)
    }
  }

  /** Every finished Dataset action or command, for its planning phases. */
  val plans: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = queries.add((currentOp, qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = queries.add((currentOp, qe))
  }
}

object Counters {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"
  val Fields = Vector("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "batches", "commit_ms")
  private val Index: Map[String, Int] = Fields.zipWithIndex.toMap
}
