package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work charged to the benchmark's layer tags.
  *
  * Every public call the traced run makes is wrapped in a job group named
  * after its layer ([[Trace.layer]]). A job is charged to the group it was
  * submitted under and to its call site, so jobs inside one call stay apart:
  * the call site of the SQL execution the job belongs to (adaptive execution
  * submits a query's stages from its own threads), else the short form Spark
  * gives the job's result stage, e.g. `count at Runner.scala:118`. Task
  * metrics are charged through the stage to its job.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  /** the local properties `SparkContext.setJobGroup` and SQL execution set */
  private val JobGroupKey = "spark.jobGroup.id"
  private val ExecutionIdKey = "spark.sql.execution.id"

  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private val stageRuns = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val executionSite = mutable.HashMap.empty[String, String]
  val byLayer = mutable.LinkedHashMap.empty[String, Acc]
  val bySite = mutable.LinkedHashMap.empty[(String, String), Acc]
  val total = new Acc
  val jobs = mutable.ArrayBuffer.empty[JobRec]

  private def accs(key: (String, String)): Seq[Acc] =
    Seq(total, byLayer.getOrElseUpdate(key._1, new Acc), bySite.getOrElseUpdate(key, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse(Trace.Untagged)
    val site = props.flatMap(p => Option(p.getProperty(ExecutionIdKey))).flatMap(executionSite.get)
      .getOrElse(if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name)
    e.stageIds.foreach(s => stageKey(s) = (layer, site))
    accs((layer, site)).foreach(_.jobs += 1)
    jobs += JobRec(layer, site, e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(executionSite(s.executionId.toString) = s.description)
    case _ => ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)
      stageRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      accs(stageKey.getOrElse(e.stageId, (Trace.Untagged, "?"))).foreach { a =>
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.schedulerDelayMs += math.max(0L, delay)
      }
    }
  }

  def layer(name: String): Acc = synchronized(byLayer.getOrElse(name, new Acc))

  /** max ÷ median task run time in the layer's heaviest stage */
  def taskSkew(layer: String): Double = synchronized {
    val stages = stageKey.iterator.collect { case (s, (l, _)) if l == layer => stageRuns.get(s) }.flatten.toSeq
    if (stages.isEmpty) 0.0
    else {
      val runs = stages.maxBy(_.sum).map(_.toDouble).toSeq
      runs.max / math.max(1.0, Stats.median(runs))
    }
  }

  def jobsOf(layer: String): Seq[JobRec] = synchronized(jobs.filter(_.layer == layer).toSeq)
}

object LayerListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var schedulerDelayMs = 0L
  }

  final case class JobRec(layer: String, site: String, startMs: Long)
}

/** Layer tagging and the benchmark-side clock around each public call. */
final class Trace(sc: SparkContext, val listener: Option[LayerListener]) {
  /** wall time the harness measured inside each layer's calls */
  val wallMs = mutable.LinkedHashMap.empty[String, Double]

  def layer[T](name: String)(body: => T): T = {
    // no description: a SQL execution then takes its call site as description
    if (listener.isDefined) sc.setJobGroup(name, null, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      wallMs(name) = wallMs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
      if (listener.isDefined) sc.clearJobGroup()
    }
  }

  def drain(): Unit = if (listener.isDefined) org.apache.spark.perfbench.ListenerBus.drain(sc)

  def detach(): Unit = listener.foreach(sc.removeSparkListener)
}

object Trace {
  val Untagged = "untagged"

  def attach(sc: SparkContext, traced: Boolean): Trace = {
    val l = if (traced) Some(new LayerListener) else None
    l.foreach(sc.addSparkListener)
    new Trace(sc, l)
  }
}
