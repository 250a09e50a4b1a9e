package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec,
  FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}

/** Spark work of one stage, summed over its finished tasks. */
final class StageWork {
  var tasks = 0L
  var runS, cpuS, gcS = 0.0
  var inputBytes, inputRows, shuffleWrite, shuffleRead, spill, output = 0L
  val taskS = mutable.ArrayBuffer.empty[Double]

  def add(m: org.apache.spark.executor.TaskMetrics, durS: Double): Unit = synchronized {
    tasks += 1
    runS += m.executorRunTime / 1e3
    cpuS += m.executorCpuTime / 1e9
    gcS += m.jvmGCTime / 1e3
    inputBytes += m.inputMetrics.bytesRead
    inputRows += m.inputMetrics.recordsRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    spill += m.diskBytesSpilled
    output += m.outputMetrics.bytesWritten
    taskS += durS
  }

  /** Max task time over the median, for stages with two or more tasks. */
  def skew: Option[Double] = synchronized {
    if (taskS.size < 2) None else {
      val med = Stats.median(taskS.toSeq)
      if (med <= 0) None else Some(taskS.max / med)
    }
  }
}

/** One timed call into a layer. `parent` is the span that was open on
  * the calling thread, so an op's entry, plan and exec spans hang off
  * it. Stages Spark runs while a span is innermost are attributed to it
  * through the `perfbench.span` local property, which threads spawned by
  * the call inherit. */
final case class Span(id: Long, parent: Long, name: String, attrs: Map[String, String],
                      startNs: Long, var endNs: Long = 0L,
                      var builds: Map[String, Double] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the SparkListener that counts Spark
  * work per span. Disabled (all calls pass straight through) unless the
  * run is traced. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentHashMap[Int, StageWork]()

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      p.foreach(s => stageSpan.put(e.stageInfo.stageId, s.toLong))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        stages.computeIfAbsent(e.stageId, _ => new StageWork)
          .add(e.taskMetrics, e.taskInfo.duration / 1e3)
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as span `name`, diffing the engine's artifact build log
    * around it (the log is keyed by artifact name and accumulates across
    * scratch dirs, so only the difference belongs to this call). */
  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get.headOption.map(_.id).getOrElse(0L)
      val s = Span(ids.incrementAndGet(), parent, name, attrs.toMap, System.nanoTime())
      val before = graft.Scratch.buildSeconds
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      open.set(s :: open.get)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.builds = graft.Scratch.buildSeconds.collect {
          case (k, v) if v - before.getOrElse(k, 0.0) > 0 => k -> (v - before.getOrElse(k, 0.0))
        }
        open.set(open.get.tail)
        sc.setLocalProperty(Tracer.Prop, prevProp)
        spans.add(s)
      }
    }

  /** Waits until the listener has seen every finished task. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Stages attributed to each span itself (not its children). */
  def ownStages: Map[Long, Seq[StageWork]] =
    stageSpan.asScala.toSeq.groupMap(_._2)(kv => stages.get(kv._1)).view
      .mapValues(_.filter(_ != null)).toMap

  /** `root` and all its descendants. */
  def subtree(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def rec(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(rec)
    rec(root)
  }

  /** Stage work under `root` and all its descendants. */
  def workUnder(root: Span): Seq[StageWork] = {
    val own = ownStages
    subtree(root).flatMap(s => own.getOrElse(s.id, Nil))
  }

  /** Self time: the span's duration minus the time its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    s.seconds - covered / 1e9
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Deterministic shape counts of an executed plan, subqueries included. */
final case class Census(nodes: Int, exchanges: Int, scans: Map[String, Int]) {
  def scanCount: Int = scans.values.sum
  def repeatScans: Int = scans.values.map(_ - 1).sum
}

object Census {
  def of(plan: SparkPlan): Census = {
    var nodes, exchanges = 0
    val scans = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case w: WholeStageCodegenExec => walk(w.child)
      case i: InputAdapter => walk(i.child)
      case _: ReusedExchangeExec => nodes += 1
      case other =>
        nodes += 1
        other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case f: FileSourceScanExec =>
            val root = f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
            scans(root.stripSuffix(".parquet")) += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Census(nodes, exchanges, scans.toMap)
  }
}
