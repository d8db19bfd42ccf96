package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.util.GraftSession

/** The benchmark's JVM: one workload, one client in a closed loop.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <input dir> --out <run dir> --cpus <n> --gen-s <s>
  * }}}
  *
  * Stages the workload, runs its warm-up passes, then whole
  * passes until
  * `--seconds` have passed (and at least its `minPasses`), then runs the
  * checks and writes `<out>/result.json` (and `<out>/spans.json` when
  * traced). `--gen-s` is the input-generation time spent before this
  * JVM started; it is part of `setup_s`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val traced = a("trace") == "1"
    val out = a("out")
    val data = a("data")
    val cpus = a("cpus").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.defaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = s"$out/work"
    val w: Workload = name match {
      case "sheet_crud" => new SheetCrud(spark, data, work, a("seed").toLong)
      case "llm_corpus" => new LlmCorpus(spark, data, work)
      case other => sys.error(s"unknown workload $other")
    }
    val r = new Runner(spark, traced)
    def since = (System.currentTimeMillis() - jvmStart) / 1e3
    val sessionS = since
    w.setup(r)
    val stagedS = since
    (0 until w.warmPasses).foreach(r.runPass(w, _))
    val warmOps = r.ops.size
    val setupS = a("gen-s").toDouble +
      (System.currentTimeMillis() - jvmStart) / 1e3
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var i = w.warmPasses
    while (i < w.warmPasses + w.minPasses || System.nanoTime() < deadline) {
      r.runPass(w, i)
      i += 1
    }
    val measured = r.passes.drop(w.warmPasses).toSeq
    val ops = r.ops.drop(warmOps).toSeq
    w.finish(r, out)
    val stored = w.storedBytes / 1048576.0
    val layer = if (traced) perLayer(r, w, measured, ops, jitMs, classes)
      else Map.empty[String, Double]
    val liveHeap = Main.liveHeapMb()

    val ok = ops.filterNot(_.failed)
    def ms(kind: Option[String]) =
      ok.filter(o => kind.forall(_ == o.kind)).map(_.ms)
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(measured.map(_.wallS)),
      "cpu_pass_s" -> Stats.median(measured.map(_.cpuS)),
      "op_p50_ms" -> Stats.median(ms(None)),
      "read_p50_ms" -> Stats.median(ms(Some("read"))),
      "write_p50_ms" -> Stats.median(ms(Some("write"))),
      "stored_mb" -> stored,
      "live_heap_mb" -> liveHeap)
    val measuredIdx = measured.map(_.index).toSet
    val allOps = r.ops.filter(o => measuredIdx(o.pass)).toSeq
    val types = allOps.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
      n -> Json.obj(Seq("attempted" -> rs.size.toString,
        "failed" -> rs.count(_.failed).toString)) }
    val json = Json.obj(Seq(
      "workload" -> Json.str(name),
      "attempted" -> allOps.size.toString,
      "failed" -> allOps.count(_.failed).toString,
      "passes" -> measured.size.toString,
      "setup_parts_s" -> Json.obj(Seq("session" -> Json.num(sessionS),
        "staged" -> Json.num(stagedS), "warm" -> Json.num(setupS))),
      "pass_walls_s" -> Json.arr(r.passes.map(p => Json.num(p.wallS))),
      "pass_cpus_s" -> Json.arr(r.passes.map(p => Json.num(p.cpuS))),
      "by_type" -> Json.obj(types),
      "mismatches" -> Json.arr(r.mismatches.map(Json.str)),
      "end_to_end" -> Json.obj(e2e.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(s"$out/result.json"), json)
    if (traced) writeSpans(r, s"$out/spans.json")
    spark.stop()
  }

  /** Heap in use after full GCs. A first GC lets Spark's context
    * cleaner see the shuffles and broadcasts nothing references any
    * more; the second collects what the cleaner then released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Per-layer figures of the traced run: each per-operation self time
    * and count summed over a pass, then the median across passes. */
  private def perLayer(r: Runner, w: Workload, measured: Seq[PassRec],
      ops: Seq[OpRec], jitMs: Long, classes: Long)
      : Map[String, Double] = {
    val byPass = ops.groupBy(_.pass)
    val keys = ops.flatMap(_.layers.keys).distinct
    def perPass(f: Seq[OpRec] => Double) =
      Stats.median(measured.map(p => f(byPass.getOrElse(p.index, Nil))))
    def sum(k: String)(os: Seq[OpRec]) = os.map(_.layers.getOrElse(k, 0.0)).sum
    def ratio(a: String, b: String)(os: Seq[OpRec]) = {
      val d = sum(b)(os); if (d > 0) sum(a)(os) / d else 0.0 }
    val extras = measured.flatMap(_.extra.keys).distinct.map(k =>
      k -> Stats.median(measured.map(_.extra.getOrElse(k, 0.0)))).toMap
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val passWall = Stats.median(measured.map(_.wallS))
    keys.map(k => k -> perPass(sum(k))).toMap ++ extras ++ Map(
      "exec.join_rows_per_row_out" -> perPass(ratio("exec.join_rows", "exec.rows_out")),
      "exec.rows_read_per_row_out" -> perPass(ratio("exec.input_rows", "exec.rows_out")),
      "exec.task_run_share" -> (if (passWall > 0)
        perPass(sum("exec.task_run_s")) / passWall else 0.0),
      "jvm.jit_ms" -> jitMs.toDouble,
      "jvm.classes_loaded" -> classes.toDouble,
      "jvm.gc_s" -> Stats.median(measured.map(_.gcS)),
      "streaming.batch_p50_ms" -> Stats.median(ops.flatMap(_.batchMs)),
      "jvm.heap_peak_mb" -> heapPeak,
      "trace.pass_s" -> passWall) ++ w.layerMetrics(r)
  }

  /** Every operation as a root span with its children, one JSON file. */
  private def writeSpans(r: Runner, path: String): Unit = {
    val spans = r.ops.zipWithIndex.map { case (o, id) =>
      Json.obj(Seq("id" -> id.toString, "name" -> Json.str(o.name),
        "kind" -> Json.str(o.kind), "pass" -> o.pass.toString,
        "start_ms" -> Json.num(o.startMs), "end_ms" -> Json.num(o.endMs),
        "failed" -> o.failed.toString,
        "self" -> Json.obj(o.layers.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
        "children" -> Json.arr(o.spans.map { case (n, s, e) =>
          Json.obj(Seq("name" -> Json.str(n), "parent" -> id.toString,
            "start_ms" -> Json.num(s), "end_ms" -> Json.num(e))) })))
    }
    Files.writeString(Paths.get(path), Json.arr(spans))
  }
}
