package moviebench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics of one stage, summed over its finished tasks. */
final class StageAgg {
  var tasks = 0
  var runMs, schedDelayMs = 0L
  var inBytes, inRecs, outBytes, outRecs = 0L
  var shWriteBytes, shWriteRecs, shWriteNs, fetchWaitMs, spillDisk, peakMem = 0L
  val shReadBytes = mutable.ArrayBuffer.empty[Long]
}

/** Everything the listeners saw during one traced call. */
final class Bucket(val label: String) {
  var wallS = 0.0
  var jobs = 0
  val stages = mutable.Map.empty[Int, StageAgg]
  val plans = mutable.ArrayBuffer.empty[SparkPlan]

  def all: Iterable[StageAgg] = stages.values
  def sum(f: StageAgg => Long): Long = all.iterator.map(f).sum
}

/** Charges Spark's task and query-execution events to the traced call that
  * caused them. Attached only around traced calls, so untraced calls pay
  * nothing for it. One client thread; events arrive on the listener bus
  * thread, hence the lock. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var current: Bucket = null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (current != null) current.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (current != null && m != null) {
      val s = current.stages.getOrElseUpdate(e.stageId, new StageAgg)
      val info = e.taskInfo
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecs += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecs += m.outputMetrics.recordsWritten
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shWriteRecs += m.shuffleWriteMetrics.recordsWritten
      s.shWriteNs += m.shuffleWriteMetrics.writeTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      if (m.shuffleReadMetrics.recordsRead > 0)
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillDisk += m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { if (current != null) current.plans += qe.executedPlan }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `f` as the traced call `label`; its wall time and events land in
    * the returned bucket. */
  def call[T](label: String)(f: => T): (T, Bucket) = {
    val b = new Bucket(label)
    BusDrain(spark.sparkContext)
    synchronized { current = b }
    val t0 = System.nanoTime()
    val out = f
    b.wallS = (System.nanoTime() - t0) / 1e9
    BusDrain(spark.sparkContext)
    synchronized { current = null }
    (out, b)
  }
}

/** Walks executed plans (through adaptive query stages) for the SQL metrics
  * of the operators the pipelines are built from. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }

  private def metric(n: SparkPlan, name: String): Long =
    n.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows out of the first operator at or below `n` that counts them. */
  private def rowsOut(n: SparkPlan): Long =
    nodes(n).find(_.metrics.contains("numOutputRows")).map(metric(_, "numOutputRows")).getOrElse(0L)

  /** Operator-level numbers of the given executed plans. */
  def operators(plans: Seq[SparkPlan]): Map[String, Double] = {
    val all = plans.flatMap(nodes)
    val bcast = all.collect { case b: BroadcastExchangeExec => b }
    val aggs = all.collect { case h: HashAggregateExec => h }
    val partial = aggs.filter(_.aggregateExpressions.exists(_.mode == Partial))
    val fin = aggs.filter(_.aggregateExpressions.exists(_.mode == Final))
    val partialIn = partial.map(a => rowsOut(a.child)).sum
    Map(
      "sources.files" -> all.collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum.toDouble,
      "refqueries.broadcast_bytes" -> bcast.map(metric(_, "dataSize")).sum.toDouble,
      "refqueries.broadcast_build_ms" ->
        bcast.map(b => metric(b, "collectTime") + metric(b, "buildTime")).sum.toDouble,
      "refqueries.partial_agg_ratio" ->
        (if (partialIn > 0) partial.map(metric(_, "numOutputRows")).sum.toDouble / partialIn else 1.0),
      "refqueries.agg_ms" -> fin.map(metric(_, "aggTime")).sum.toDouble,
      "refqueries.sort_ms" -> all.collect { case s: SortExec => metric(s, "sortTime") }.sum.toDouble)
  }
}

/** Process-level counters read around a traced op. */
object Host {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Host-wide steal time in seconds since boot (0 where /proc is absent). */
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines().next().trim.split("\\s+")
        if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  /** Heap in use right after a full collection, in MB: the live set. The
    * first collection lets Spark's context cleaner drop the blocks of
    * unreferenced broadcasts, the second one measures. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

/** Per-op layer record built from the buckets of one traced op. */
object Layers {
  def of(query: Seq[Bucket], other: Seq[Bucket], scan: Bucket): Map[String, Double] = {
    val op = query ++ other
    def sum(bs: Seq[Bucket])(f: StageAgg => Long): Double = bs.map(_.sum(f)).sum.toDouble
    val stages = op.flatMap(_.all)
    val skew = stages.filter(_.shReadBytes.size >= 2).map { s =>
      val sorted = s.shReadBytes.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }
    val sinkStages = query.flatMap(_.all).filter(_.outRecs > 0)
    PlanWalk.operators(query.flatMap(_.plans)) ++ Map(
      "sources.scan_only_s" -> scan.wallS,
      "sources.task_s" -> scan.sum(_.runMs) / 1000.0,
      "sources.input_bytes" -> sum(op)(_.inBytes),
      "sources.input_rows" -> sum(op)(_.inRecs),
      "exchange.shuffle_write_bytes" -> sum(op)(_.shWriteBytes),
      "exchange.shuffle_records" -> sum(op)(_.shWriteRecs),
      "exchange.shuffle_write_s" -> sum(op)(_.shWriteNs) / 1e9,
      "exchange.fetch_wait_s" -> sum(op)(_.fetchWaitMs) / 1000.0,
      "exchange.partition_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "refqueries.spill_bytes" -> sum(op)(_.spillDisk),
      "refqueries.peak_exec_mem_mb" ->
        (if (stages.isEmpty) 0.0 else stages.map(_.peakMem).max / 1048576.0),
      "sink.bytes_written" -> sinkStages.map(_.outBytes).sum.toDouble,
      "sink.rows" -> sinkStages.map(_.outRecs).sum.toDouble,
      "sink.task_s" -> sinkStages.map(_.runMs).sum / 1000.0,
      "spark.jobs" -> op.map(_.jobs).sum.toDouble,
      "spark.tasks" -> sum(op)(_.tasks.toLong),
      "spark.task_s" -> sum(query)(_.runMs) / 1000.0,
      "spark.scheduler_delay_s" -> sum(op)(_.schedDelayMs) / 1000.0)
  }

  /** Forces planning of `df` and returns the milliseconds it took. */
  def planMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    (System.nanoTime() - t0) / 1e6
  }
}
