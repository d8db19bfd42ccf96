package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.streaming.StreamingOps
import graft.util.{Scratch, Tables}

/** `llm_corpus`: an LLM data-prep batch. The registry's dedup and
  * similarity rows run through `SparkEntry.queries` over the seeded,
  * tiled corpus; `Caches.clear` runs between passes, so every pass
  * builds its shared caches as a batch job does. The batch's write is
  * the exact-dedup keep-list, saved as parquet each pass. Each pass
  * also replays the `events` table through `StreamingOps.tumblingCounts`
  * as a bounded (AvailableNow) streaming query. */
final class LlmCorpus(spark: SparkSession, dir: String, work: String)
    extends Workload {
  import LlmCorpus._

  private val fns = {
    val all = SparkEntry.queries
    Queries.map(n => n -> all(n))
  }
  /** The JIT is still compiling through the first two passes. */
  val warmPasses = 2
  /** 4 operations a pass, one per type: two passes put 8 in the
    * medians, and the median falls between the same two types in
    * every run. */
  val minPasses = 2
  private val last = scala.collection.mutable.Map[String, DataFrame]()
  private val written = s"$work/written"
  private val ckpt = s"$work/ckpt"
  private lazy val eventsSchema =
    spark.read.parquet(s"$dir/events.parquet").schema
  private var sinkName: Option[String] = None

  def setup(r: Runner): Unit = Files.createDirectories(Paths.get(written))

  override def beforePass(r: Runner): Unit = {
    graft.util.Caches.clear(spark)
    Scratch.deleteRecursively(Paths.get(ckpt))
  }

  def pass(r: Runner, i: Int): Unit = {
    fns.foreach { case (n, fn) =>
      val out =
        if (n == Written) r.op(n, "write", sink = false) {
          val df = fn(spark, dir)
          df.write.mode("overwrite").parquet(s"$written/$n")
          df
        }
        else r.op(n, "read")(fn(spark, dir))
      out.foreach(last(n) = _)
    }
    // the previous pass's memory sink is released before the next runs
    sinkName.foreach(spark.catalog.dropTempView)
    val name = s"perfbench_stream_$i"
    sinkName = Some(name)
    r.op(Stream, "read")(replay(name, s"$ckpt/$i")).foreach(last(Stream) = _)
  }

  /** Events replayed to completion into a memory sink, read back as
    * the bucket counts with the bucket as text, in a total order. */
  private def replay(name: String, checkpoint: String): DataFrame = {
    val events = Tables.normalizeEventsTs(spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    StreamingOps.tumblingCounts(events).writeStream.format("memory")
      .queryName(name).outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.table(name)
      .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"))
      .orderBy("bucket", "event_type")
  }

  override def afterPass(r: Runner): Map[String, Double] = Map(
    "caches.cached_mb" -> spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0)

  /** Dump the last pass's output of every query for the checks made
    * outside the program, with the oracle twins that exist. */
  def finish(r: Runner, out: String): Unit = {
    val oracle = SparkEntry.oracleSql
    r.check("dumps") {
      last.foreach { case (n, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/dumps/$n")
      }
      val twins = last.keys.toSeq.sorted.filter(oracle.contains)
        .map(n => n -> Json.str(oracle(n)))
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(twins))
      Files.writeString(Paths.get(s"$out/queries.json"),
        Json.arr((Queries :+ Stream).map(Json.str)))
      None
    }
  }

  /** Only what the batch writes: the keep-list of the last pass. */
  def storedBytes: Long = Disk.bytes(written)
}

object LlmCorpus {
  val Queries = Seq("q_dedup_exact", "q_dedup_minhash_native",
    "q_dedup_embcos_lsh")
  /** the query whose output is the batch's write */
  val Written = "q_dedup_exact"
  /** the streaming replay's operation name; its DuckDB twin is in checks.py */
  val Stream = "stream_tumbling"
}
