package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, InputAdapter,
  LogicalRDD, RDDScanExec, ReusedSubqueryExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.graftbridge.DataFrameBridge

/** Dev profiler of query keys and g_* artifacts, on [[DevSession]].
  * A name is a `SparkEntry.queries` key or a g_* artifact, whose frame
  * is the one WmCache builds it with ([[frame]]).
  *
  *  - `time <name,...> <sfDir> [reps]`: the first touch (artifact
  *    builds, codegen) timed alone, with the Spark jobs and stages it
  *    ran ([[work]]), then `reps` (default 3) reps, each
  *    split into plan (entry → executedPlan) and exec (the count()),
  *    with min and median of plan, exec and total; then the BUILD
  *    seconds of every artifact this run built.
  *  - `plan <name,...> <sfDir> [outDir tag]`: one [[Census]] line and
  *    the formatted plan ([[explain]]), to `<outDir>/<name>_<tag>.txt`
  *    or stdout.
  *
  * Usage: runMain graft.Prof time|plan <name,name,...> <sfDir> [...] */
object Prof {

  /** Node-class counts of a physical plan: operators, scans per table
    * (a parquet scan's file or dir name, `rdd` for an in-memory RDD),
    * exchanges and the join and window classes. */
  final case class Census(nodes: Int, scans: Map[String, Int], exchanges: Int,
                          windows: Int, smj: Int, bhj: Int, bnlj: Int, cartesian: Int) {
    override def toString: String =
      s"nodes=$nodes scans=${scans.toSeq.sorted.map { case (t, n) => s"$t:$n" }.mkString(",")} " +
        s"exch=$exchanges window=$windows smj=$smj bhj=$bhj bnlj=$bnlj cart=$cartesian"
  }

  /** The census of `plan`, looking through adaptive plans, query
    * stages and codegen wrappers, and following subqueries. A reused
    * exchange or subquery counts as one node: its plan runs once. */
  def census(plan: SparkPlan): Census = {
    var nodes, exchanges, windows, smj, bhj, bnlj, cartesian = 0
    val scans = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case w: WholeStageCodegenExec => walk(w.child)
      case i: InputAdapter => walk(i.child)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => nodes += 1
      case node =>
        nodes += 1
        node match {
          case f: FileSourceScanExec =>
            scans(f.relation.location.rootPaths.head.getName.stripSuffix(".parquet")) += 1
          case _: RDDScanExec => scans("rdd") += 1
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case _: WindowExecBase => windows += 1
          case _: SortMergeJoinExec => smj += 1
          case _: BroadcastHashJoinExec => bhj += 1
          case _: BroadcastNestedLoopJoinExec => bnlj += 1
          case _: CartesianProductExec => cartesian += 1
          case _ =>
        }
        node.children.foreach(walk)
        node.subqueries.foreach(walk)
    }
    walk(plan)
    Census(nodes, scans.toMap, exchanges, windows, smj, bhj, bnlj, cartesian)
  }

  /** The formatted physical plan of `df` — the operator tree, and the
    * node details when `details` — followed by the RDD lineage when
    * `df` is a kernel's LogicalRDD: its plan is one scan of the
    * kernel's rows, and the lineage shows the passes and shuffles that
    * compute them. */
  def explain(df: DataFrame, details: Boolean): String = {
    val formatted = df.queryExecution.explainString(FormattedMode)
    val plan =
      if (details) formatted
      else formatted.linesIterator.takeWhile(_.trim.nonEmpty).mkString("\n")
    df.queryExecution.logical match {
      case r: LogicalRDD =>
        val lineage = r.rdd.toDebugString
          .replaceAll(" at (\\$anonfun\\S*|\\S+\\.(scala|java):\\d+)", "")
        s"${plan.stripLineEnd}\n\nRDD lineage:\n$lineage"
      case _ => plan
    }
  }

  /** The frame of query key or g_* artifact `name` over `dir`: the
    * key's entry, or the frame WmCache builds the artifact with, after
    * ensuring the artifacts it reads. */
  def frame(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries.get(name) match {
      case Some(entry) => entry(spark, dir)
      case None =>
        val gen = SparkEntry.sparkGenFor(spark, dir)
        require(gen.artifactNames.contains(name),
          s"$name is neither a query key nor a g_* artifact")
        Tables.register(spark, dir)
        WmCache.ensureReads(spark, dir, gen.artifactSql(name))
        WmCache.stageFrame(spark, dir, name)
    }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds, Spark jobs, Spark stages and shuffle bytes written
    * of one call. */
  final case class Work(seconds: Double, jobs: Int, stages: Int, shuffleBytes: Long)

  /** Runs `body` and counts the Spark jobs and stages it runs and the
    * shuffle bytes its tasks write, with a listener added and removed
    * around it (stages that reuse an earlier shuffle are skipped, not
    * counted). */
  def work(spark: SparkSession)(body: => Unit): Work = {
    val jobs, stages = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    }
    DataFrameBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    try body
    finally {
      DataFrameBridge.drainListeners(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    Work(secondsSince(t0), jobs.get, stages.get, shuffleBytes.get)
  }

  private def time(spark: SparkSession, dir: String, names: Seq[String], reps: Int): Unit = {
    def minMed(xs: Seq[Double]): String = {
      val s = xs.sorted
      f"${s.head}%.3f/${s(s.size / 2)}%.3f"
    }
    for (name <- names) {
      val first = work(spark)(frame(spark, dir, name).count(): Unit)
      val runs = Seq.fill(reps) {
        val t0 = System.nanoTime()
        // the plan count() executes, planned once and then executed
        val counted = frame(spark, dir, name).groupBy().count()
        counted.queryExecution.executedPlan
        val plan = secondsSince(t0)
        val t1 = System.nanoTime()
        counted.collect()
        (plan, secondsSince(t1))
      }
      println(f"TIME $name%-32s first=${first.seconds}%.3f (jobs=${first.jobs} " +
        s"stages=${first.stages} shuffle_bytes=${first.shuffleBytes}) plan=${minMed(runs.map(_._1))} " +
        s"exec=${minMed(runs.map(_._2))} total=${minMed(runs.map(r => r._1 + r._2))} " +
        s"(min/med of $reps)")
    }
    Scratch.buildSeconds.toSeq.sortBy(-_._2).foreach { case (n, s) =>
      println(f"BUILD $n%-32s sec=$s%6.3f")
    }
  }

  private def plan(spark: SparkSession, dir: String, names: Seq[String],
                   out: Option[(String, String)]): Unit =
    for (name <- names) {
      val df = frame(spark, dir, name)
      val head = s"== $name ${census(df.queryExecution.executedPlan)}"
      println(head)
      val text = explain(df, details = true)
      out match {
        case Some((outDir, tag)) =>
          Files.createDirectories(Paths.get(outDir))
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), s"$head\n$text")
        case None => println(text)
      }
    }

  def main(args: Array[String]): Unit = {
    def run(body: SparkSession => Unit): Unit = {
      val spark = DevSession()
      try body(spark) finally spark.stop()
    }
    def names(list: String): Seq[String] = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    args.toList match {
      case "time" :: list :: dir :: rest if rest.size <= 1 =>
        run(time(_, dir, names(list), rest.headOption.fold(3)(_.toInt)))
      case "plan" :: list :: dir :: Nil =>
        run(plan(_, dir, names(list), None))
      case "plan" :: list :: dir :: outDir :: tag :: Nil =>
        run(plan(_, dir, names(list), Some((outDir, tag))))
      case _ =>
        System.err.println("usage: runMain graft.Prof time <name,...> <sfDir> [reps]\n" +
          "       runMain graft.Prof plan <name,...> <sfDir> [outDir tag]")
        sys.exit(2)
    }
  }
}
