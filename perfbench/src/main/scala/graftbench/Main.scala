package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.types.{DecimalType, StructType, TimestampType}

import graft.{Bench, GraftSession, SparkEntry}
import graft.ecom.{Ecom, EcomFixture, EcomSchemaTests}
import graft.plans.ModelGraph
import graft.sources.ScaleGen

/** The benchmark's JVM side: one workload, one seed, one session, one
  * client thread. Usage (run.py builds the arguments):
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir>
  * }}}
  *
  * It generates the seed's corpus with ScaleGen at [[Sf]], runs the
  * workload on `local[<available cpus>]`, with the workload's untimed
  * warm-up, then `round(seconds / passSeconds)` timed passes (at least
  * one), then, untimed, writes the outputs to check against the DuckDB
  * oracle. It writes `<work>/result.json` (timings, the outputs to check,
  * and with `--trace 1` the per-layer metrics) plus `<work>/spans.jsonl`
  * when traced. Only graft's public entry points are
  * called, and every one of them is timed from outside. */
object Main {

  /** Corpus scale: fixed per-op cost dominates from here up, and
    * generation stays a few seconds. */
  val Sf = 0.01

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  /** One timed operation: a key (build + exec) or a pipeline stage. */
  final case class OpResult(name: String, pass: Int, buildS: Double, execS: Double,
      wallS: Double, ok: Boolean, error: Option[String], spanId: Long, attrs: Map[String, Any])

  final case class PassResult(pass: Int, traced: Boolean, wallS: Double,
      writeBytes: Long, ops: Seq[OpResult], spanId: Long)

  /** An output to fingerprint against the oracle of `key`. */
  final case class Check(key: String, stage: String, dir: String)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads(o.workload)
    Files.createDirectories(Paths.get(o.work))
    val spark = GraftSession.builder(o.cpus)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, o)
    try run(ctx, workload, sessionS)
    finally {
      val t = System.nanoTime()
      spark.stop()
      System.err.println(f"[graftbench] session stopped in ${(System.nanoTime() - t) / 1e9}%.1fs")
    }
  }

  private def run(ctx: Ctx, workload: Workload, sessionS: Double): Unit = {
    val o = ctx.o
    val root = ctx.client.open("run", "bench", Map("workload" -> o.workload, "seed" -> o.seed))
    val corpus = s"${o.work}/corpus"
    val genS = ctx.client.timed("generate", "sources") {
      ScaleGen.generate(ctx.spark, corpus, Sf, o.seed, "fixed", workload.tables)
    }._2
    val warmS = ctx.client.timed("warmup", "bench")(workload.warmup(ctx, corpus))._2
    val setupS = sessionS + warmS

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum

    // A run does a fixed number of passes sized from --seconds, not as
    // many as fit: passes keep getting faster as the JIT settles, so a
    // count that followed the host's speed would amplify its drift.
    val planned = math.max(1, math.round(o.seconds / workload.passSeconds).toInt)
    // Traced runs of a repeating workload alternate traced and idle-listener
    // passes, T U T at least, so the tracing overhead is measured in-run
    // with the untraced pass bracketed against the JIT's warming trend.
    val nPasses = if (o.trace && workload.repeatable) math.max(3, planned) else planned
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    for (p <- 0 until nPasses) {
      val traced = o.trace && (!workload.repeatable || p % 2 == 0)
      ctx.recorder.foreach(_.enabled = traced)
      val w0 = ctx.writes.bytes.sum()
      val (ops, passS, passId) = {
        val id = ctx.client.open(s"pass$p", "bench", Map("pass" -> p, "traced" -> traced))
        val t = System.nanoTime()
        val ops = workload.pass(ctx, corpus, p)
        val s = (System.nanoTime() - t) / 1e9
        ctx.client.close(id)
        (ops, s, id)
      }
      Internals.drainListeners(ctx.spark.sparkContext)
      passes += PassResult(p, traced, passS, ctx.writes.bytes.sum() - w0, ops, passId)
      System.gc() // between passes, outside any timed op
    }
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    ctx.recorder.foreach(_.enabled = false)
    ctx.client.close(root)

    // the correctness gate's outputs, after every timed pass and after
    // the heap and GC readings
    val checkS = ctx.client.timed("check", "bench")(workload.check(ctx, corpus))._2
    val oracle = SparkEntry.oracleSql
    val checks = ctx.checks.toList
    Json.write(Paths.get(o.work, "oracle_sql.json"),
      checks.map(_.key).distinct.map(k => k -> oracle(k)).toMap)

    val traced = ctx.recorder.map { rec =>
      val r = Rollup(ctx.client.spans.all, rec, o.cpus, passes.filter(_.traced).toSeq)
      r.writeSpans(s"${o.work}/spans.jsonl", s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}")
      r
    }
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "sf" -> Sf, "cpus" -> o.cpus,
      "trace" -> o.trace, "session_s" -> sessionS, "generate_s" -> genS,
      "warmup_s" -> warmS, "setup_s" -> setupS, "corpus_dir" -> corpus,
      "passes" -> passes.map(p => Map(
        "pass" -> p.pass, "traced" -> p.traced, "wall_s" -> p.wallS,
        "write_bytes" -> p.writeBytes,
        "ops" -> p.ops.map(op => Map("name" -> op.name, "build_s" -> op.buildS,
          "exec_s" -> op.execS, "wall_s" -> op.wallS, "ok" -> op.ok,
          "error" -> op.error) ++ op.attrs))),
      "checks" -> checks.map(c => Map("key" -> c.key, "stage" -> c.stage, "dir" -> c.dir)),
      "failed_checks" -> ctx.failedChecks.toList,
      "jvm" -> Map("heap_peak_mb" -> heapPeakMb, "gc_s" -> gcS),
      "tracer_self_s" -> ctx.recorder.map(_.selfNs.sum() / 1e9).getOrElse(0.0),
      "layers" -> traced.map(_.layerMetrics(genS, heapPeakMb, gcS)),
      "per_op" -> traced.map(_.perOp),
      "rollup" -> traced.map(_.selfTimes))
    Json.write(Paths.get(o.work, "result.json"), result)
    System.err.println(f"[graftbench] checks written in $checkS%.1fs")
  }

  /** Per-run state shared by the workloads. */
  final class Ctx(val spark: SparkSession, val o: Opts) {
    val client = new Client(spark, new Spans)
    val writes = new WriteCounter
    spark.sparkContext.addSparkListener(writes)
    val modelRoot = s"${o.work}/elt"
    val recorder: Option[Recorder] =
      if (!o.trace) None
      else {
        val r = new Recorder(Some(modelRoot))
        r.enabled = false
        spark.sparkContext.addSparkListener(r)
        Some(r)
      }
    val checks = scala.collection.mutable.ArrayBuffer.empty[Check]
    val failedChecks = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]

    /** Writes `df` for the oracle check of `key`. */
    def dump(key: String, stage: String, df: => DataFrame): Unit = {
      val dir = s"${o.work}/check/$stage/$key"
      try {
        df.write.mode("overwrite").parquet(dir)
        checks += Check(key, stage, dir)
      } catch {
        case NonFatal(e) =>
          failedChecks += Map("key" -> key, "stage" -> stage, "error" -> Main.message(e))
      }
    }

    /** Times one operation as build (the entry-point call that returns a
      * plan) then exec (running it), each in its own span. */
    def op[B](name: String, layer: String, pass: Int)(build: => B)(exec: B => Unit)
        : (OpResult, Option[B]) = {
      val rdsBefore = recorder.filter(_.enabled).map(_ => Catalyst.resolveDataSourceNs())
      val id = client.open(name, layer, Map("pass" -> pass, "kind" -> "op"))
      val t0 = System.nanoTime()
      var tb = t0
      var built: Option[B] = None
      val err = try {
        val b = client.timed("build", layer)(build)._1
        tb = System.nanoTime()
        built = Some(b)
        client.timed("exec", layer)(exec(b))
        None
      } catch { case NonFatal(e) => Some(Main.message(e)) }
      val t1 = System.nanoTime()
      client.close(id)
      if (err.nonEmpty && tb == t0) tb = t1
      val attrs: Map[String, Any] = rdsBefore.map(b =>
        Map[String, Any]("resolve_data_source_ns" -> (Catalyst.resolveDataSourceNs() - b)))
        .getOrElse(Map.empty)
      (OpResult(name, pass, (tb - t0) / 1e9, (t1 - tb) / 1e9, (t1 - t0) / 1e9,
        err.isEmpty, err, id, attrs), built)
    }
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)

  /** Decimal to double and timestamp to timestamp_ntz, the portability
    * rule the ecom keys apply before their oracle compare. */
  def normalized(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case TimestampType => col(f.name).cast("timestamp_ntz").as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
}

/** Records as JSON, through the Jackson Scala module Spark ships. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def render(v: Any): String = mapper.writeValueAsString(v)
  def write(path: java.nio.file.Path, v: Any): Unit =
    Files.write(path, render(v).getBytes("UTF-8"))
}

/** Global Catalyst rule timing (all sessions and threads), read around an
  * op in traced runs. It covers analysis that runs while a plan is being
  * built, which no executed query's tracker sees. */
object Catalyst {
  private val Line = """^\s*(\S*ResolveDataSource\S*)\s+(\d+)\s*/\s*(\d+)""".r.unanchored

  def resolveDataSourceNs(): Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator
      .collect { case Line(_, _, total) => total.toLong }.sum
}

/** Client-side span bookkeeping: the open-span stack lives on the single
  * client thread, and the innermost open span is published as a local
  * property so jobs submitted under it (also from threads it starts) can
  * be tied back to it. */
final class Client(spark: SparkSession, val spans: Spans) {
  private case class Open(id: Long, parent: Long, name: String, layer: String,
      startUs: Long, attrs: Map[String, Any], prevProp: String)
  private var stack: List[Open] = Nil

  def open(name: String, layer: String, attrs: Map[String, Any] = Map.empty): Long = {
    val id = spans.newId()
    val sc = spark.sparkContext
    stack = Open(id, stack.headOption.map(_.id).getOrElse(0L), name, layer, spans.nowUs,
      attrs, sc.getLocalProperty(Recorder.SpanProp)) :: stack
    sc.setLocalProperty(Recorder.SpanProp, id.toString)
    id
  }

  def close(id: Long): Unit = {
    val top = stack.head
    require(top.id == id, s"span ${top.name} closed out of order")
    stack = stack.tail
    spark.sparkContext.setLocalProperty(Recorder.SpanProp, top.prevProp)
    spans.add(Span(top.id, top.parent, top.name, top.layer, top.startUs, spans.nowUs, top.attrs))
  }

  /** Runs `f` in a span; returns its value and wall seconds. */
  def timed[A](name: String, layer: String)(f: => A): (A, Double) = {
    val id = open(name, layer)
    val t0 = System.nanoTime()
    try { val r = f; (r, (System.nanoTime() - t0) / 1e9) }
    finally close(id)
  }
}

/** A workload: which corpus tables it needs, its untimed warm-up, one
  * timed pass, and the outputs it writes for the oracle check once the
  * timed passes are over. */
trait Workload {
  def tables: Option[Set[String]]
  /** Whether passes after the first measure the same steady state (and so
    * may alternate traced and untraced). */
  def repeatable: Boolean
  /** Nominal seconds of one timed pass on 4 cpus; sizes the pass count. */
  def passSeconds: Double
  def warmup(ctx: Main.Ctx, corpus: String): Unit
  def pass(ctx: Main.Ctx, corpus: String, p: Int): Seq[Main.OpResult]
  def check(ctx: Main.Ctx, corpus: String): Unit
}

/** SparkEntry keys run one after another by one client. The warm-up is
  * one untimed pass like the timed ones, which build each key and
  * execute it with Bench's noop write. The check writes every key's
  * output once more. */
final class KeyedWorkload(keys: Seq[String], val tables: Option[Set[String]],
    val passSeconds: Double) extends Workload {
  def repeatable = true

  def warmup(ctx: Main.Ctx, corpus: String): Unit = keys.foreach { k =>
    Bench.exec(SparkEntry.queries(k)(ctx.spark, corpus))
    ctx.spark.catalog.clearCache()
  }

  def pass(ctx: Main.Ctx, corpus: String, p: Int): Seq[Main.OpResult] = keys.map { k =>
    val fn = SparkEntry.queries(k)
    val r = ctx.op(k, "queries", p)(fn(ctx.spark, corpus))(Bench.exec)._1
    ctx.spark.catalog.clearCache()
    r
  }

  def check(ctx: Main.Ctx, corpus: String): Unit = keys.foreach { k =>
    ctx.dump(k, "check", SparkEntry.queries(k)(ctx.spark, corpus))
    ctx.spark.catalog.clearCache()
  }
}

/** The reference's daily pipeline as three stages over the seed's
  * corpus: ingest (the e2e generate/land/ingest/upsert key), build (the
  * 37-model DAG into an empty target) and test (the 150 schema tests over
  * the src, stg and model tables). It runs in a fresh JVM with no warm-up
  * pass, as a scheduled daily job does. The first pass's outputs are kept
  * for the check: nothing rewrites its target once it is built. */
final class EltDaily extends Workload {
  def tables: Option[Set[String]] =
    Some(Set("customer", "orders", "lineitem", "part", "nation", "events"))
  def repeatable = false
  def passSeconds = 45.0
  def warmup(ctx: Main.Ctx, corpus: String): Unit = ()

  private val E2E = "e2e_generate_ingest"
  private val QA = "qa_schema_tests"
  private lazy val models = Ecom.models(EcomFixture.now, EcomFixture.today)
  private lazy val ecomKeys: Seq[String] =
    SparkEntry.oracleSql.keys.filter(_.startsWith("ecom_")).toSeq.sorted

  /** What the first pass produced: the e2e plan, the DAG's target and
    * model map, and the collected test rows. */
  private case class Outputs(e2e: Option[DataFrame], target: String,
      built: Map[String, DataFrame], qa: Option[(Seq[Row], StructType)])
  private var first: Option[Outputs] = None

  def pass(ctx: Main.Ctx, corpus: String, p: Int): Seq[Main.OpResult] = {
    val spark = ctx.spark
    val target = s"${ctx.modelRoot}/pass$p"

    val (ingest, e2e) = ctx.op("ingest", "operators", p)(
      SparkEntry.queries(E2E)(spark, corpus))(Bench.exec)

    // build = the raw fixture's plans, exec = ModelGraph.run; the model
    // map it returns is kept for the test stage
    var built: Map[String, DataFrame] = Map.empty
    val (build, _) = ctx.op("build", "plans", p)(EcomFixture.raw(spark, corpus)) { raw =>
      built = ModelGraph.run(spark, models, raw, target)
    }

    var rows: Array[Row] = Array.empty
    val (test, frame) = ctx.op("test", "ecom", p) {
      val src = EcomFixture.raw(spark, corpus).map { case (k, v) =>
        ("src_" + k.stripPrefix("raw_")) ->
          v.toDF(v.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toIndexedSeq: _*)
      }
      EcomSchemaTests.frame(spark, src ++ built,
        stream = src.keySet ++ models.map(_.name).filter(_.startsWith("stg_")))
    }(df => rows = df.collect())
    val failures = rows.count(r => r.getAs[Any]("failures") match {
      case n: java.lang.Number => n.longValue != 0L
      case _ => false
    })
    if (first.isEmpty) first = Some(Outputs(e2e, target, built,
      frame.filter(_ => test.ok).map(df => (rows.toSeq, df.schema))))
    Seq(ingest, build, test.copy(attrs = test.attrs ++ Map(
      "tests" -> rows.length.toLong, "test_failures" -> failures.toLong)))
  }

  /** Every model with an `ecom_*` key (materialized ones read from the
    * parquet the DAG wrote, views and the addresses quirk aggregate
    * written by Spark), the e2e key and the collected test rows. */
  def check(ctx: Main.Ctx, corpus: String): Unit = first.foreach { f =>
    f.e2e.foreach(df => ctx.dump(E2E, "ingest", df))
    val materialized = models.filter(_.materialization != ModelGraph.View).map(_.name).toSet
    if (f.built.nonEmpty) ecomKeys.foreach {
      case k @ "ecom_addresses_quirk" =>
        ctx.dump(k, "build", f.built("addresses").agg(count(lit(1)).as("n_addresses"))
          .crossJoin(f.built("orders").agg(
            count(col("shipping_address_id")).as("n_shipping_fk"),
            count(col("billing_address_id")).as("n_billing_fk"))))
      case k if materialized(k.stripPrefix("ecom_")) =>
        ctx.checks += Main.Check(k, "build", s"${f.target}/${k.stripPrefix("ecom_")}")
      case k => ctx.dump(k, "build", Main.normalized(f.built(k.stripPrefix("ecom_"))))
    }
    f.qa.foreach { case (rows, schema) =>
      ctx.dump(QA, "test", ctx.spark.createDataFrame(rows.asJava, schema))
    }
  }
}

object Workloads {
  /** Keys whose cost is per-iteration jobs and lineage barriers. */
  val IterativeOps: Seq[String] = Seq("ann_ivf_trained", "graph_pagerank", "graph_khop")

  def apply(name: String): Workload = name match {
    case "elt_daily" => new EltDaily
    case "iterative_ops" => new KeyedWorkload(IterativeOps,
      Some(Set("orders", "lineitem", "embeddings")), 5.5)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
