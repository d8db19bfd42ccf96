package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** A benchmark workload: staged once, then run pass after pass. */
trait Workload {
  /** Passes run before the measured ones, to get past JIT warm-up. */
  def warmPasses: Int
  /** Measured passes at the least, however short `--seconds` is. */
  def minPasses: Int
  /** Staging before the warm-up pass (counted in `setup_s`). */
  def setup(r: Runner): Unit
  /** Between passes, outside the timed window. */
  def beforePass(r: Runner): Unit = ()
  def pass(r: Runner, i: Int): Unit
  /** Per-pass per-layer figures taken after the pass (traced run). */
  def afterPass(r: Runner): Map[String, Double] = Map.empty
  /** After the measured passes: checks and output dumps. */
  def finish(r: Runner, out: String): Unit
  /** On-disk bytes of the workload's tables at the end of the run. */
  def storedBytes: Long
  /** Per-layer figures only this workload has (traced run). */
  def layerMetrics(r: Runner): Map[String, Double] = Map.empty
}

object Disk {
  /** Regular files under `p`, with their sizes. */
  def files(p: String): Seq[(Path, Long)] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Nil
    else {
      val w = Files.walk(root)
      try w.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => (f, Files.size(f))).toSeq
      finally w.close()
    }
  }
  def bytes(p: String): Long = files(p).map(_._2).sum
}
