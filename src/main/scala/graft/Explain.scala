package graft

import java.io.PrintStream

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import scala.collection.mutable

/** Plan-inspection main. For each query key it prints the formatted
  * physical plan, three timed runs through the bench's noop terminal, and
  * a per-stage table of the last run: wall seconds, task count, input /
  * shuffle-read / shuffle-write / spill MB, executor cpu and gc seconds,
  * and the stage's call site. The Spark UI is disabled in this harness, so
  * a listener stands in for its Stages tab; the table attributes a key's
  * wall time to operators (scan vs exchange vs agg) instead of guessing
  * from the plan.
  *
  * Before/after plan evidence for a change is the redirected stdout (Spark
  * logs go to stderr), e.g.
  * `tools/run_main.sh graft.Explain <key> > plans/rNN/<key>_<tag>.txt`.
  *
  * Usage: runMain graft.Explain <key[,key...]> [sfDir]
  */
object Explain {
  /** Local property tagging every job of a timed run with [[runTag]], so
    * the stage table holds the last run's stages and nothing else. */
  private[graft] val RunProperty = "explainRun"
  private[graft] def runTag(key: String, run: Int): String = s"$key#run$run"

  private case class Stage(id: Int, name: String, wall: Double, tasks: Int,
      input: Long, shufRead: Long, shufWrite: Long, spill: Long,
      cpu: Double, gc: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Comma-separated keys run in sequence in one session (reproduces
    // Bench ordering effects).
    try run(spark, args(0).split(",").toSeq, sfDir, System.out)
    finally spark.stop()
  }

  /** Explains each key in turn on `spark`, printing to `out`. The session
    * stays open; the listener and run tag are removed before returning. */
  def run(spark: SparkSession, keys: Seq[String], sfDir: String, out: PrintStream): Unit = {
    val sc = spark.sparkContext
    val tags = mutable.Map.empty[Int, String] // stage id -> run tag
    val stages = mutable.ArrayBuffer.empty[(String, Stage)]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(RunProperty)))
          .foreach(t => stages.synchronized(tags(e.stageInfo.stageId) = t))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (si.completionTime.getOrElse(0L) -
          si.submissionTime.getOrElse(0L)) / 1e3
        val m = si.taskMetrics
        stages.synchronized {
          tags.get(si.stageId).foreach { t =>
            stages += t -> Stage(si.stageId, si.name, wall, si.numTasks,
              m.inputMetrics.bytesRead,
              m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
              m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
              m.executorCpuTime / 1e9, m.jvmGCTime / 1e3)
          }
        }
      }
    }
    // Drain the listener bus until the recorded stage set is STABLE (three
    // consecutive unchanged polls) instead of a fixed sleep: under bus
    // backlog a fixed sleep could miss late events of the last run.
    // Bounded at 10 s so a wedged bus cannot hang the probe.
    def drain(): Unit = {
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = stages.synchronized(stages.size)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    }
    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"

    sc.addSparkListener(listener)
    try keys.foreach { n =>
      out.println(s"== $n")
      out.println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
      (1 to 3).foreach { i =>
        sc.setLocalProperty(RunProperty, runTag(n, i))
        val t0 = System.nanoTime()
        // noop terminal, NOT count(): a bare count lets Catalyst prune
        // cardinality-preserving subtrees, timing a lighter query than the
        // bench measures (the Bench scaladoc has the numbers).
        try Bench.exec(SparkEntry.queries(n)(spark, sfDir))
        finally sc.setLocalProperty(RunProperty, null)
        out.println(f"[explain] $n run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        spark.catalog.clearCache(); System.gc()
      }
      drain()
      val last = runTag(n, 3)
      val snap = stages.synchronized(stages.collect { case (`last`, s) => s }.toVector)
      out.println(f"[explain] $n run3 stages: ${snap.size} "
        + f"(sum of stage wall ${snap.map(_.wall).sum}%.2f s; overlap makes this > key wall)")
      out.println("   wall  tasks  input_MB  shuf_r_MB  shuf_w_MB  spill_MB   cpu_s    gc_s  stage")
      snap.sortBy(-_.wall).take(40).foreach { s =>
        out.println(f"  ${s.wall}%5.2f  ${s.tasks}%5d  ${mb(s.input)}  ${mb(s.shufRead)}   "
          + f"${mb(s.shufWrite)}  ${mb(s.spill)}  ${s.cpu}%6.2f  ${s.gc}%6.2f  [${s.id}] ${s.name.take(80)}")
      }
    } finally sc.removeSparkListener(listener)
  }
}
