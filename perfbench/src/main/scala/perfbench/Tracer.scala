package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters fed by Spark's public listeners.
  *
  * One instance is attached for a traced pass and detached after it, so
  * untraced passes run with no benchmark listener at all. Events arrive on
  * the listener bus thread; the benchmark drains the bus after every job,
  * so [[take]] after a pass sees every event of that pass.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // RDD block sizes currently stored, for the storage peak
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L
  private var storedPeak = 0L
  private val mapStages = mutable.Set.empty[Int]

  private def add(k: String, v: Double): Unit = c(k) += v
  private val MB = 1024.0 * 1024.0

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      add("sched.jobs", 1)
      // graft's MapReduceJob reads its input with wholeTextFiles: a stage
      // over that RDD is a map stage, and a stage reading its shuffle output
      // is a reduce stage (the holistic mapGroups). A later job re-creates
      // the map stage under a new id and skips it, so record ids per job.
      e.stageInfos.foreach { s =>
        if (s.rddInfos.exists(_.scope.exists(_.name == "wholeTextFiles"))) mapStages += s.stageId
      }
      val phase = Option(e.properties).map(_.getProperty(Main.PhaseProp)).orNull
      if (phase == "build") add("entry.build_jobs", 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = e.stageInfo
      add("sched.stages", 1)
      val wall = (for (a <- s.submissionTime; b <- s.completionTime) yield (b - a) / 1000.0)
        .getOrElse(0.0)
      if (mapStages.contains(s.stageId)) add("mr.map_stage_s", wall)
      else if (s.parentIds.exists(mapStages.contains)) add("mr.reduce_stage_s", wall)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("sched.tasks", 1)
      if (e.reason == Success) add("sched.tasks_ok", 1) else add("sched.failed_attempts", 1)
      add("sched.task_busy_ms", e.taskInfo.duration.toDouble)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1000.0)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1000.0)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
        add("shuffle.spill_mb", m.diskBytesSpilled / MB)
        add("io.input_mb", m.inputMetrics.bytesRead / MB)
        add("io.input_records", m.inputMetrics.recordsRead.toDouble)
        add("io.output_mb", m.outputMetrics.bytesWritten / MB)
        add("io.output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        val size = info.memSize + info.diskSize
        stored += size - blocks.getOrElse(id, 0L)
        if (size == 0L) blocks.remove(id) else blocks(id) = size
        storedPeak = math.max(storedPeak, stored)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val queries = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      def phase(name: String) = phases.get(name).map(_.durationMs / 1000.0).getOrElse(0.0)
      add("plan.analysis_s", phase("analysis"))
      add("plan.optimizer_s", phase("optimization"))
      add("plan.planning_s", phase("planning"))
      val plan: SparkPlan = qe.executedPlan
      def count(k: String)(pf: PartialFunction[SparkPlan, Unit]): Unit =
        add(k, Plans.collectWithSubqueries(plan)(pf.andThen(_ => 1)).size.toDouble)
      count("plan.exchanges") { case _: Exchange => }
      count("plan.smj") { case _: SortMergeJoinExec => }
      count("plan.bhj") { case _: BroadcastHashJoinExec => }
      count("plan.bnlj") { case _: BroadcastNestedLoopJoinExec => }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Double =
          Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
        add("stream.batches", 1)
        add("stream.add_batch_s", d("addBatch"))
        add("stream.query_planning_s", d("queryPlanning"))
        add("stream.wal_commit_s", d("walCommit"))
        add("stream.commit_offsets_s", d("commitOffsets"))
        p.stateOperators.foreach { s =>
          add("stream.state_rows", s.numRowsTotal.toDouble)
          add("stream.state_commit_s", s.commitTimeMs / 1000.0)
        }
      }
  }

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** Counters accumulated since the last call, then reset. */
  def take(): Map[String, Double] = synchronized {
    val out = c.toMap + ("cache.storage_mb_peak" -> storedPeak / MB)
    c.clear()
    storedPeak = stored
    out
  }
}
