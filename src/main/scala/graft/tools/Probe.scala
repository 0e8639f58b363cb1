package graft.tools

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode

import scala.collection.mutable

import graft.GraftSession
import graft.analytics.Registry

/** Single-query triage on the shipped session: runs each named registry
  * query on its own (its pinned blocks released afterwards) with `collect()`
  * — so the AQE-final executedPlan belongs to THIS query, not a derived
  * count() plan — and prints, per query:
  *
  *  - `PROBE <q> rows=<n> sec=<s>`: result rows and wall seconds, the tool
  *    that isolated failures the batched Bench summarizes away (e.g. the
  *    100x-decade SHJ OOM);
  *  - `PLAN <q>: <node>=<count> ...`: word-boundary node counts of the
  *    AQE-final plan ("Exchange" does not also count "BroadcastExchange";
  *    SCALE.md cites these as SHUFFLE counts) — the command-line sibling of
  *    PlanAuditSpec;
  *  - the per-stage table (shuffle write/read, input, spill, tasks, run and
  *    cpu seconds, the planner's callsite name) sorted by run time, which
  *    answers "WHICH exchange" when a query's cost grows superlinearly.
  *
  * With `planOutDir` it also writes `<planOutDir>/<q>.txt`: the
  * `explain("formatted")` plan and, below it, the AQE-final plan — the
  * optimization-round evidence trail (plans/r13/<q>_{before,after}.txt).
  *
  * `SPARK_GRAFT_PROBE_RUNS=2` warms the JVM on run 1 and reports only the
  * last run — cold-JIT cpu otherwise dominates the attribution (r12: a stage
  * reading 0.5 MB showed 13 cpu-s cold, ~2 warm).
  *
  * Usage: `sbt "runMain graft.tools.Probe <sfDir> <q1,q2,...|ALL> [planOutDir]"`.
  */
object Probe {

  private val Nodes = Seq(
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "Exchange", "Window",
    "TakeOrderedAndProject", "WholeStageCodegen")

  private final case class Stage(id: Int, name: String, shufW: Long, shufR: Long,
      input: Long, spill: Long, tasks: Int, runS: Double, cpuS: Double)

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Probe <sfDir> <q1,q2,...|ALL> [planOutDir]")
    val dir = args(0)
    val names =
      if (args(1) == "ALL") Registry.all.map(_.name)
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val planOut = args.lift(2)
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "1").toInt
    val spark = GraftSession.local()
    val stages = mutable.ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(120),
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
            si.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9)
        }
      }
    })
    // the listener bus is async — give it a moment to drain, then take
    // (and forget) what the last run completed
    def drainStages(): Seq[Stage] = {
      Thread.sleep(2000)
      stages.synchronized { val s = stages.toList; stages.clear(); s }
    }
    planOut.foreach(d => Files.createDirectories(Paths.get(d)))
    try names.foreach { name =>
      val q = Registry.byName(name)
      if (runs > 1) {
        (1 until runs).foreach { _ =>
          GraftSession.releasingPinned(spark)(q.fn(spark, dir).collect())
        }
        drainStages() // report only the last run's stages
      }
      GraftSession.releasingPinned(spark) {
        val t0 = System.nanoTime()
        val df = q.fn(spark, dir)
        val formatted = planOut.map(_ => df.queryExecution.explainString(FormattedMode))
        val n = df.collect().length
        val sec = (System.nanoTime() - t0) / 1e9
        val finalPlan = df.queryExecution.executedPlan.toString
        println(f"PROBE $name rows=$n sec=$sec%.2f")
        val counts = Nodes.map { node =>
          val m = Pattern.compile("(?<![A-Za-z])" + Pattern.quote(node)).matcher(finalPlan)
          var c = 0
          while (m.find()) c += 1
          s"$node=$c"
        }
        println(s"PLAN $name: ${counts.mkString(" ")}")
        val st = drainStages()
        println(f"${"stage"}%6s ${"shufW_mb"}%9s ${"shufR_mb"}%9s ${"input_mb"}%9s ${"spill_mb"}%9s ${"tasks"}%6s ${"run_s"}%8s ${"cpu_s"}%8s  name")
        st.sortBy(-_.runS).foreach { s =>
          println(f"${s.id}%6d ${s.shufW / 1e6}%9.1f ${s.shufR / 1e6}%9.1f ${s.input / 1e6}%9.1f ${s.spill / 1e6}%9.1f ${s.tasks}%6d ${s.runS}%8.1f ${s.cpuS}%8.1f  ${s.name}")
        }
        println(f"TOTAL shufW=${st.map(_.shufW).sum / 1e6}%.1f MB shufR=${st.map(_.shufR).sum / 1e6}%.1f MB input=${st.map(_.input).sum / 1e6}%.1f MB spill=${st.map(_.spill).sum / 1e6}%.1f MB run=${st.map(_.runS).sum}%.1f s cpu=${st.map(_.cpuS).sum}%.1f s stages=${st.size}")
        planOut.zip(formatted).foreach { case (d, f) =>
          val out = Paths.get(d, s"$name.txt")
          Files.write(out,
            s"== explain(formatted) ==\n$f\n== AQE-final executedPlan ==\n$finalPlan\n".getBytes("UTF-8"))
          println(s"PLANFILE $name -> $out")
        }
      }
    } finally spark.stop()
  }
}
