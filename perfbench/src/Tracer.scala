package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for traced runs, gathered only through Spark's public
  * listener APIs: a `SparkListener` (jobs, stages, task metrics) keyed by
  * the job group the benchmark sets around each call into the program, a
  * `QueryExecutionListener` (Catalyst phase times), and a
  * `StreamingQueryListener` (micro-batch phases and state-operator sizes).
  * Nothing is added to the program's plans.
  */
final class Tracer(spark: SparkSession) {

  /** Running totals for one job group. */
  final class Counts {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val inputRecords = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val spillBytes = new AtomicLong
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "cpuNs" -> cpuNs.get, "inputRecords" -> inputRecords.get,
      "shuffleWriteBytes" -> shuffleWriteBytes.get, "spillBytes" -> spillBytes.get)
  }

  private val DrainGroup = "perfbench.drain"
  private val groups = TrieMap[String, Counts]()
  private val stageGroup = TrieMap[Int, String]()
  private val endedJobs = TrieMap[Int, String]()
  private val planningMs = new AtomicLong
  private val streamPhasesMs = TrieMap[String, AtomicLong]()
  private val streamBatches = new AtomicLong
  private val stateCommitMs = new AtomicLong
  private val stateRowsByQuery = TrieMap[java.util.UUID, Long]()
  private val queriesStarted = new AtomicLong
  private val queriesEnded = new AtomicLong

  private def counts(g: String): Counts = groups.getOrElseUpdate(g, new Counts)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
      if (g != DrainGroup) counts(g).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.put(e.jobId, "")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val g = stageGroup.getOrElse(e.stageInfo.stageId, "-")
      if (g != DrainGroup) counts(g).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.getOrElse(e.stageId, "-")
      val m = e.taskMetrics
      if (g != DrainGroup && m != null) {
        val c = counts(g)
        c.tasks.incrementAndGet()
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queriesStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      streamBatches.incrementAndGet()
      p.durationMs.asScala.foreach { case (k, v) =>
        streamPhasesMs.getOrElseUpdate(k, new AtomicLong).addAndGet(v.longValue)
      }
      stateCommitMs.addAndGet(p.stateOperators.map(_.commitTimeMs).sum)
      stateRowsByQuery.put(p.id, p.stateOperators.map(_.numRowsTotal).sum)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      queriesEnded.incrementAndGet()
  })

  /** Run `body` with every Spark job it starts tagged `group`; the
    * enclosing group, if any, is restored afterwards.
    */
  def inGroup[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(group, group)
    try body finally outer match {
      case Some(g) => sc.setJobGroup(g, g)
      case None => sc.clearJobGroup()
    }
  }

  /** Block until the listeners have seen every event posted so far: a tiny
    * marker job's end event is delivered after all earlier events of the
    * shared listener queue, and every started stream must have reported
    * its termination.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(DrainGroup).toSet
    inGroup(DrainGroup)(sc.parallelize(Seq(1), 1).count())
    val marker = sc.statusTracker.getJobIdsForGroup(DrainGroup).toSet -- before
    val deadline = System.nanoTime() + 30000000000L
    while ((!marker.forall(endedJobs.contains) || queriesEnded.get < queriesStarted.get) &&
           System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Totals over the given job groups. */
  def sum(gs: Seq[String]): Map[String, Long] =
    gs.map(counts(_).snapshot).foldLeft(Map.empty[String, Long]) { (acc, m) =>
      m.map { case (k, v) => k -> (v + acc.getOrElse(k, 0L)) }
    }

  def group(g: String): Map[String, Long] = counts(g).snapshot

  def planningS: Double = planningMs.get / 1000.0
  def streamBatchCount: Long = streamBatches.get
  def streamPhaseS(phase: String): Double =
    streamPhasesMs.get(phase).map(_.get).getOrElse(0L) / 1000.0
  def stateCommitS: Double = stateCommitMs.get / 1000.0
  /** Latest state-operator row total of every query seen, summed. */
  def stateRows: Long = stateRowsByQuery.values.sum
  def resetStateRows(): Unit = stateRowsByQuery.clear()

  /** Accumulated GC time of every collector, in seconds. */
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}
