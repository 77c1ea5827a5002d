package org.apache.spark {
  /** Reaches the two `private[spark]` members the recorder needs. */
  object GraftBenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
    def writesShuffle(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
  }
}

package graftbench {

  import org.apache.spark.scheduler._
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.util.QueryExecutionListener
  import scala.collection.mutable

  /** Work counted for one Spark job. Times are epoch ms. */
  final class JobRec(val id: Int, val startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks, exchanges = 0
    var taskMs, gcMs, shuffleWrite, inputBytes, outputBytes = 0L
  }

  /** One Catalyst-planned execution: phase times and when planning began. */
  final case class PlanRec(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)

  /** One streaming micro-batch's `durationMs` breakdown. */
  final case class BatchRec(startMs: Long, triggerMs: Long, addBatchMs: Long,
      checkpointMs: Long, planningMs: Long)

  /** The traced run's three listeners in one object. Events arrive on
    * Spark's listener threads, so every buffer is guarded by `this`.
    * Nothing is attributed here: records carry their own times and are
    * matched to operation spans when the run ends. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = mutable.ArrayBuffer[JobRec]()
    val plans = mutable.ArrayBuffer[PlanRec]()
    val batches = mutable.ArrayBuffer[BatchRec]()
    private val byId = mutable.HashMap[Int, JobRec]()
    private val stageJob = mutable.HashMap[Int, JobRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new JobRec(e.jobId, e.time)
      jobs += j
      byId(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.remove(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).foreach { j =>
          j.stages += 1
          if (org.apache.spark.GraftBenchBus.writesShuffle(e.stageInfo)) j.exchanges += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

    private def plan(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start =
        if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      plans += PlanRec(start, ms("analysis"), ms("optimization"),
        ms("planning"))
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      plan(qe)

    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = plan(qe)

    val streams: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Recorder.this.synchronized {
          val p = e.progress
          def d(k: String): Long =
            Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          batches += BatchRec(
            java.time.Instant.parse(p.timestamp).toEpochMilli,
            d("triggerExecution"), d("addBatch"),
            d("walCommit") + d("commitOffsets"), d("queryPlanning"))
        }
    }

    def register(spark: org.apache.spark.sql.SparkSession): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
      spark.streams.addListener(streams)
    }

    def unregister(spark: org.apache.spark.sql.SparkSession): Unit = {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      spark.streams.removeListener(streams)
    }
  }
}
