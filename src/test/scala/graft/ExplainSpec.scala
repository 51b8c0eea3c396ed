package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

import scala.collection.concurrent.TrieMap

/** Smoke test for the plan-inspection main: every key gets its formatted
  * plan, three timed runs and a non-empty stage table holding the last
  * run's stages only, and the caller's session stays usable. */
class ExplainSpec extends SparkSpec {

  test("Explain prints plan, three timings and the last run's stage table") {
    val keys = Seq("j1_left_join", "graph_khop")
    val sc = spark.sparkContext
    // Independent record of which timed run submitted each stage.
    val runOf = TrieMap.empty[Int, String]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Explain.RunProperty)))
          .foreach(t => runOf(e.stageInfo.stageId) = t)
    }
    val buf = new ByteArrayOutputStream()
    sc.addSparkListener(listener)
    try Explain.run(spark, keys, sfDir, new PrintStream(buf, true, "UTF-8"))
    finally sc.removeSparkListener(listener)
    val out = buf.toString("UTF-8")

    val sections = out.split("(?m)^== (?=[a-z])").filter(_.nonEmpty)
    assert(sections.map(_.linesIterator.next()).toSeq == keys, out)
    keys.zip(sections).foreach { case (key, sec) =>
      assert(sec.contains("== Physical Plan =="), s"$key: no formatted plan\n$sec")
      val runs = s"(?m)^\\[explain\\] $key run(\\d): \\d+\\.\\d{3} s$$".r
        .findAllMatchIn(sec).map(_.group(1).toInt).toSeq
      assert(runs == Seq(1, 2, 3), s"$key: expected three timed runs\n$sec")
      val header = s"[explain] $key run3 stages: "
      assert(sec.contains(header), sec)
      val ids = "(?m)^ +\\d+\\.\\d{2} +\\d+ .* \\[(\\d+)\\] ".r
        .findAllMatchIn(sec.substring(sec.indexOf(header))).map(_.group(1).toInt).toSeq
      assert(ids.nonEmpty, s"$key: empty stage table\n$sec")
      // The stage table must hold the last run's stages only. The bus
      // delivers to both listeners in order and Explain drained its own,
      // so this listener has seen these stages' submissions too.
      val last = Explain.runTag(key, 3)
      ids.foreach { id =>
        assert(runOf.get(id).contains(last),
          s"$key: stage $id belongs to ${runOf.get(id)}, not $last\n$sec")
      }
    }
    assert(sc.getLocalProperty(Explain.RunProperty) == null, "run tag leaked")
    assert(spark.range(3).count() == 3L, "Explain must leave the session open")
  }
}
