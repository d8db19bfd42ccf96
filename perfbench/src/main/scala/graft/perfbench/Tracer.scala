package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw between two [[Tracer.take]] calls. Times are
  * epoch milliseconds, byte counts bytes. */
final class Seen {
  val jobs = ArrayBuffer[(Double, Double)]()
  /** (phase, start, end) of every executed query's Catalyst phases */
  val phases = ArrayBuffer[(String, Double, Double)]()
  var stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRows = 0L
  var joinRows, rowsOut, inMemoryScans = 0L
  /** duration of every streaming micro-batch, ms */
  val batchMs = ArrayBuffer[Double]()
}

/** The traced run's listeners. Every callback adds into the current
  * [[Seen]]; the harness drains the listener bus after each operation
  * and takes the record, so everything in it belongs to that
  * operation (one client, one operation at a time). */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private var cur = new Seen
  private val jobStart = scala.collection.mutable.Map[Int, Long]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { cur.batchMs += e.progress.batchDuration.toDouble }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Deliver every pending event, then hand over what was seen. */
  def take(): Seen = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { val s = cur; cur = new Seen; s }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => cur.jobs += ((t.toDouble, e.time.toDouble)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val names = Seq("analysis" -> "analysis", "optimization" -> "optimizer",
      "planning" -> "physical")
    val nodes = Tracer.nodes(qe.executedPlan)
    def rows(p: SparkPlan) =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val joins = nodes.filter(n => Tracer.isJoin(n)).map(rows).sum
    val out = nodes.find(n => !n.isInstanceOf[V2TableWriteExec] &&
      n.metrics.contains("numOutputRows")).map(rows).getOrElse(0L)
    val scans = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
    synchronized {
      for ((k, n) <- names; p <- ph.get(k))
        cur.phases += ((n, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      cur.joinRows += joins
      cur.rowsOut += out
      cur.inMemoryScans += scans
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Tracer {
  /** The executed plan's nodes, through AQE stages and subqueries; a
    * reused exchange is counted where it first ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case w: WholeStageCodegenExec => nodes(w.child)
    case i: InputAdapter => nodes(i.child)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def isJoin(p: SparkPlan): Boolean = {
    val n = p.getClass.getSimpleName
    n.contains("Join") || n == "CartesianProductExec"
  }

  /** Total length of the union of intervals. */
  def length(iv: Seq[(Double, Double)]): Double = union(iv).map(x => x._2 - x._1).sum

  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double) =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
}
