package org.apache.spark.perfbench {
  /** Waits until Spark's listener bus has delivered every posted event,
    * so the traced run can close one operation's span before the next
    * starts. Lives under `org.apache.spark` because the bus is
    * package-private there. */
  object BusDrain {
    def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

  import java.util.concurrent.ConcurrentHashMap
  import scala.collection.mutable
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.util.QueryExecutionListener

  /** Per-operation layer counters for the traced run. Spark work is
    * keyed by the job group the harness sets around each operation;
    * Catalyst phase times arrive on the query-execution listener, which
    * carries no job group, so they are credited to the operation open
    * when they are delivered — the harness drains the bus before it
    * closes an operation. */
  final class Trace(spark: SparkSession) {
    private val counters = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
    private val stageOp = new ConcurrentHashMap[Int, String]()
    @volatile private var current: String = "-"

    private def add(op: String, key: String, v: Double): Unit = {
      val m = counters.computeIfAbsent(op, _ => mutable.Map.empty[String, Double])
      m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
    }

    private def opOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .map(_.takeWhile(_ != '#')).getOrElse(current)

    private val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val op = opOf(j.properties)
        j.stageIds.foreach(stageOp.put(_, op))
        add(op, "exec.jobs", 1)
        val group = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group != null && group.endsWith("#build")) add(op, "operators.build_jobs", 1)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        add(stageOp.getOrDefault(s.stageInfo.stageId, current), "exec.stages", 1)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val op = stageOp.getOrDefault(t.stageId, current)
        add(op, "exec.tasks", 1)
        if (t.taskInfo != null && t.taskInfo.attemptNumber > 0) add(op, "exec.task_retries", 1)
        val m = t.taskMetrics
        if (m != null) {
          add(op, "exec.run_ms", m.executorRunTime.toDouble)
          add(op, "exec.cpu_ms", m.executorCpuTime / 1e6)
          add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
          add(op, "io.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(op, "io.shuffle_read_bytes",
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
          add(op, "io.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(op, "io.spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
        }
      }
    }

    private val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        phases(qe)
      private def phases(qe: QueryExecution): Unit = {
        val op = current
        add(op, "catalyst.executions", 1)
        qe.tracker.phases.foreach { case (phase, summary) =>
          if (Set("analysis", "optimization", "planning")(phase))
            add(op, s"catalyst.${phase}_ms", summary.durationMs.toDouble)
        }
      }
    }

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)

    /** Opens the span of operation `op`; its Spark jobs run under job
      * groups `op#build` and `op#run`. */
    def open(op: String): Unit = { current = op; spark.sparkContext.setJobGroup(op + "#build", op) }
    def running(op: String): Unit = spark.sparkContext.setJobGroup(op + "#run", op)
    def record(op: String, key: String, v: Double): Unit = add(op, key, v)

    /** Closes the span once every event it caused has been delivered,
      * and returns its counters. */
    def close(op: String): Map[String, Double] = {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      current = "-"
      stageOp.entrySet.removeIf(_.getValue == op)
      Option(counters.remove(op)).map(_.toMap).getOrElse(Map.empty)
    }

    def stop(): Unit = {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}
