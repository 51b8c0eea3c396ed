package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Turns the client spans and the [[Recorder]]'s SQL/job/stage records of
  * a traced run into one span tree, per-op layer metrics, per-workload
  * layer metrics (median over traced passes) and per-layer self times.
  *
  * Spark-side parents: a job hangs under its SQL execution when it has
  * one, else under the client span it was submitted from; a stage hangs
  * under its job; an SQL execution hangs under the innermost client span
  * whose interval holds its start. */
final class Rollup private (client: Seq[Span], rec: Recorder, cpus: Int,
    passes: Seq[Main.PassResult]) {

  private var nextId = client.map(_.id).foldLeft(0L)(math.max)
  private def id(): Long = { nextId += 1; nextId }
  private val out = mutable.ArrayBuffer.empty[Span] ++ client

  private def innermost(us: Long): Long = client
    .filter(s => s.startUs - 1000 <= us && us <= s.endUs + 1000)
    .sortBy(_.durUs).headOption.map(_.id).getOrElse(0L)

  private val sqlSpan: Map[Long, Span] = rec.sqls.map { q =>
    val s = Span(id(), innermost(q.startMs * 1000), "sql", "sql", q.startMs * 1000,
      q.endMs * 1000, Map("execution_id" -> q.id, "description" -> q.desc) ++
        q.model.map(m => "model" -> m))
    out += s
    q.phases.foreach { case (phase, (a, b)) =>
      out += Span(id(), s.id, phase, "catalyst", a * 1000, b * 1000)
    }
    q.id -> s
  }.toMap

  private val jobSpan: Map[Int, Span] = rec.jobs.map { j =>
    val parent = sqlSpan.get(j.sqlId).map(_.id)
      .orElse(Some(j.clientSpan).filter(_ > 0))
      .getOrElse(innermost(j.startMs * 1000))
    val s = Span(id(), parent, s"job${j.id}", "scheduler", j.startMs * 1000, j.endMs * 1000,
      Map("stages" -> j.stageIds.size, "ok" -> j.ok))
    out += s
    j.id -> s
  }.toMap

  private val jobOfStage: Map[Int, Int] =
    rec.jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap

  private val stageSpans: Seq[(Span, TaskAgg)] = rec.stages.toSeq.map { st =>
    val parent = jobOfStage.get(st.id).flatMap(jobSpan.get).map(_.id).getOrElse(0L)
    val a = st.agg
    val s = Span(id(), parent, s"stage${st.id}.${st.attempt}", "executor",
      st.startMs * 1000, st.endMs * 1000, Map("tasks" -> a.tasks,
        "task_run_ms" -> a.runMs, "task_wait_ms" -> a.waitMs,
        "failed_tasks" -> a.failed, "output_bytes" -> a.outputBytes))
    out += s
    (s, a)
  }

  val spans: Seq[Span] = out.toList
  private val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  private def descendants(root: Long): Seq[Span] = {
    val acc = mutable.ArrayBuffer.empty[Span]
    var frontier = children.getOrElse(root, Nil)
    while (frontier.nonEmpty) {
      acc ++= frontier
      frontier = frontier.flatMap(s => children.getOrElse(s.id, Nil))
    }
    acc.toList
  }

  private val aggOfStage: Map[Long, TaskAgg] = stageSpans.map { case (s, a) => s.id -> a }.toMap
  private val sqlById: Map[Long, Recorder.Sql] =
    rec.sqls.map(q => sqlSpan(q.id).id -> q).toMap

  /** Layer metrics for one op (key or stage). */
  private def opMetrics(op: Main.OpResult): Map[String, Double] = {
    val under = descendants(op.spanId)
    val buildSpan = children.getOrElse(op.spanId, Nil).find(_.name == "build")
    val sqls = under.filter(_.layer == "sql")
    val jobs = under.filter(_.layer == "scheduler")
    val stages = under.filter(_.layer == "executor")
    val agg = new TaskAgg
    stages.foreach(s => agg += aggOfStage(s.id))
    val phases = under.filter(_.layer == "catalyst")
    def phase(n: String) = phases.filter(_.name == n).map(_.durUs).sum / 1e6
    val eager = buildSpan.map(b => jobs.count(j => j.startUs >= b.startUs && j.startUs <= b.endUs))
      .getOrElse(0)
    val writes = sqls.filter(s => sqlById(s.id).model.nonEmpty)
    val writeIds = writes.map(_.id).toSet
    val writeBytes = stages // stage → job → write execution
      .filter(st => byId.get(st.parent).exists(j => writeIds(j.parent)))
      .map(s => aggOfStage(s.id).outputBytes).sum
    def attr(k: String): Double = op.attrs.get(k) match {
      case Some(n: Long) => n.toDouble
      case Some(n: Int) => n.toDouble
      case _ => 0.0
    }
    Map(
      "queries.build_s" -> op.buildS,
      "queries.exec_s" -> op.execS,
      "queries.eager_jobs" -> eager.toDouble,
      "catalyst.executions" -> sqls.size.toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.resolve_data_source_s" -> attr("resolve_data_source_ns") / 1e9,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> agg.tasks.toDouble,
      "scheduler.task_wait_s" -> agg.waitMs / 1e3,
      "scheduler.failed_tasks" -> agg.failed.toDouble,
      "executor.task_run_s" -> agg.runMs / 1e3,
      "executor.task_cpu_s" -> agg.cpuNs / 1e9,
      "executor.gc_s" -> agg.gcMs / 1e3,
      "executor.input_bytes" -> agg.inputBytes.toDouble,
      "executor.shuffle_read_bytes" -> agg.shuffleReadBytes.toDouble,
      "executor.shuffle_write_bytes" -> agg.shuffleWriteBytes.toDouble,
      "executor.spill_bytes" -> agg.spillBytes.toDouble,
      "executor.output_bytes" -> agg.outputBytes.toDouble,
      "plans.models_materialized" -> writes.flatMap(s => sqlById(s.id).model).distinct.size.toDouble,
      "plans.write_busy_s" -> writes.map(_.durUs).sum / 1e6,
      "plans.bytes_written" -> writeBytes.toDouble,
      "ecom.tests" -> attr("tests"),
      "ecom.test_failures" -> attr("test_failures"),
      "ecom.spill_bytes" -> (if (op.name == "test") agg.outputBytes.toDouble else 0.0))
  }

  private val opRows: Seq[(Main.PassResult, Main.OpResult, Map[String, Double])] =
    for (p <- passes; op <- p.ops) yield (p, op, opMetrics(op))

  val perOp: Seq[Map[String, Any]] = opRows.map { case (p, op, m) =>
    Map[String, Any]("pass" -> p.pass, "op" -> op.name, "wall_s" -> op.wallS,
      "build_exec_share" -> (if (op.wallS > 0) (op.buildS + op.execS) / op.wallS else 1.0),
      "slot_util" -> m("executor.task_run_s") / math.max(1e-9, op.wallS * cpus),
      "metrics" -> m)
  }

  /** Per-workload values: each metric summed over a pass's ops, then the
    * median over traced passes. */
  def layerMetrics(generateS: Double, heapPeakMb: Double, gcS: Double): Map[String, Double] = {
    val perPass = passes.map { p =>
      val rows = opRows.filter(_._1.pass == p.pass).map(_._3)
      val sums = rows.flatMap(_.keys).distinct.map(k => k -> rows.map(_(k)).sum).toMap
      sums + ("scheduler.slot_util" -> sums("executor.task_run_s") / math.max(1e-9, p.wallS * cpus))
    }
    val keys = perPass.flatMap(_.keys).distinct
    keys.map(k => k -> Rollup.median(perPass.map(_(k)))).toMap ++ Map(
      "sources.generate_s" -> generateS,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.gc_s" -> gcS)
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer (seconds), with span counts. */
  val selfTimes: Map[String, Map[String, Double]] = {
    def selfUs(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      math.max(0L, s.durUs - covered)
    }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> Map("self_s" -> ss.map(selfUs).sum / 1e6, "spans" -> ss.size.toDouble)
    }
  }

  def writeSpans(path: String, runId: String): Unit = {
    val lines = spans.sortBy(_.startUs).map(s => Json.render(Map(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs,
      "attrs" -> s.attrs)))
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Rollup {
  def apply(client: Seq[Span], rec: Recorder, cpus: Int,
      passes: Seq[Main.PassResult]): Rollup = new Rollup(client, rec, cpus, passes)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
