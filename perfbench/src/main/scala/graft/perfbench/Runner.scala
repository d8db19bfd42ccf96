package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation. `layers` holds the traced run's self times and
  * counts for it (empty when untraced). */
final case class OpRec(name: String, kind: String, pass: Int,
    startMs: Double, endMs: Double, var failed: Boolean,
    layers: Map[String, Double], spans: Seq[(String, Double, Double)],
    batchMs: Seq[Double]) {
  def ms: Double = endMs - startMs
}

/** One pass: wall and process-CPU seconds with the checks taken out. */
final case class PassRec(index: Int, wallS: Double, cpuS: Double,
    gcS: Double, extra: Map[String, Double])

/** Runs operations in a closed loop with one client: times each one,
  * materialises its output through the `noop` sink, counts failures,
  * and in the traced run splits each operation's wall time into the
  * layers' self times. Checks run through [[check]], outside every
  * timed window. */
final class Runner(val spark: SparkSession, traced: Boolean) {
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  val ops = ArrayBuffer[OpRec]()
  val passes = ArrayBuffer[PassRec]()
  val mismatches = ArrayBuffer[String]()
  private var pass = 0
  private var checkNs, checkCpuNs = 0L

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def epochMs(nano: Long) = epoch0 + (nano - nano0) / 1e6

  /** Hadoop `file` scheme statistics: bytes read, bytes written. (The
    * local file system counts no read or write operations.) */
  def fsStats(): Array[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Time one operation. `build` is the call into the program that
    * returns the output (it may already run jobs, as a SQL command
    * does); with `sink` the output is then materialised in full. */
  def op(name: String, kind: String, sink: Boolean = true)(
      build: => DataFrame): Option[DataFrame] = {
    tracer.foreach(_.take())
    val fs0 = if (traced) fsStats() else null
    val t0 = System.nanoTime()
    var built = t0
    val out = try {
      val df = build
      built = System.nanoTime()
      if (sink) df.write.format("noop").mode("overwrite").save()
      Some(df)
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: $e")
      e.printStackTrace()
      None
    }
    val t1 = System.nanoTime()
    val (layers, spans, batchMs) = tracer match {
      case Some(t) =>
        val seen = t.take()
        val fs1 = fsStats()
        val fs = fs1.zip(fs0).map { case (a, b) => (a - b).toDouble }
        val (l, sp) = selfTimes(epochMs(t0), epochMs(built), epochMs(t1), seen, fs)
        (l, sp, seen.batchMs.toSeq)
      case None => (Map.empty[String, Double], Nil, Nil)
    }
    ops += OpRec(name, kind, pass, epochMs(t0), epochMs(t1), out.isEmpty,
      layers, spans, batchMs)
    System.err.println(f"[perfbench] pass $pass $name ${(t1 - t0) / 1e6}%.1f ms")
    out
  }

  /** A check of the operation just run, outside the timed windows. A
    * problem marks that operation failed and fails the run. */
  def check(what: String)(body: => Option[String]): Unit = {
    val t0 = System.nanoTime(); val c0 = cpuNs()
    val problem =
      try body catch { case NonFatal(e) => Some(s"check threw $e") }
    problem.foreach { p =>
      mismatches += s"$what: $p"
      ops.lastOption.foreach(_.failed = true)
      System.err.println(s"[perfbench] MISMATCH $what: $p")
    }
    tracer.foreach(_.take())
    checkNs += System.nanoTime() - t0
    checkCpuNs += cpuNs() - c0
  }

  /** Run pass `i` of `w`: a full GC and the workload's between-pass
    * step first, outside the timed window. */
  def runPass(w: Workload, i: Int): PassRec = {
    w.beforePass(this)
    System.gc()
    pass = i
    checkNs = 0; checkCpuNs = 0
    val g0 = gcMs(); val c0 = cpuNs(); val t0 = System.nanoTime()
    w.pass(this, i)
    val wall = System.nanoTime() - t0 - checkNs
    val cpu = cpuNs() - c0 - checkCpuNs
    val extra = w.afterPass(this)
    val rec = PassRec(i, wall / 1e9, cpu / 1e9, (gcMs() - g0) / 1e3, extra)
    passes += rec
    rec
  }

  /** Split [t0, t1] into disjoint self times: jobs first, then the
    * query phases, then the build call; the rest is time outside any
    * of them (metadata I/O, listing, commits). They sum to the wall. */
  private def selfTimes(t0: Double, built: Double, t1: Double, s: Seen,
      fs: Array[Double]) = {
    import Tracer._
    val jobs = clip(s.jobs.toSeq, t0, t1)
    var covered: Seq[(Double, Double)] = union(jobs)
    def self(iv: Seq[(Double, Double)]): Double = {
      val before = length(covered)
      covered = union(covered ++ clip(iv, t0, t1))
      length(covered) - before
    }
    val jobMs = length(jobs)
    def phase(n: String) = s.phases.filter(_._1 == n).map(p => (p._2, p._3)).toSeq
    val analysis = self(phase("analysis"))
    val optimizer = self(phase("optimizer"))
    val physical = self(phase("physical"))
    val build = self(Seq((t0, built)))
    val wall = t1 - t0
    val mb = 1024.0 * 1024.0
    val layers = Map(
      "ops.build_ms" -> build,
      "plan.analysis_ms" -> analysis,
      "plan.optimizer_ms" -> optimizer,
      "plan.physical_ms" -> physical,
      "exec.jobs_ms" -> jobMs,
      "exec.outside_jobs_ms" -> (wall - jobMs - analysis - optimizer -
        physical - build),
      "exec.jobs" -> s.jobs.size.toDouble,
      "exec.stages" -> s.stages.toDouble,
      "exec.tasks" -> s.tasks.toDouble,
      "exec.task_run_s" -> s.taskRunMs / 1e3,
      "exec.task_cpu_s" -> s.taskCpuNs / 1e9,
      "exec.gc_s" -> s.gcMs / 1e3,
      "exec.shuffle_write_mb" -> s.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> s.shuffleRead / mb,
      "exec.spill_mb" -> s.spill / mb,
      "exec.join_rows" -> s.joinRows.toDouble,
      "exec.rows_out" -> s.rowsOut.toDouble,
      "exec.input_rows" -> s.inputRows.toDouble,
      "caches.in_memory_scans" -> s.inMemoryScans.toDouble,
      "streaming.batches" -> s.batchMs.size.toDouble,
      "sources.fs_read_mb" -> fs(0) / mb,
      "sources.fs_written_mb" -> fs(1) / mb)
    val spans = Seq(("ops.build", t0, built)) ++
      s.phases.map(p => ("plan." + p._1, p._2, p._3)) ++
      s.jobs.map(j => ("exec.job", j._1, j._2))
    (layers, spans)
  }

}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
