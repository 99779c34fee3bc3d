package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the result line parses back unchanged whatever a failure message holds") {
    // Spark's AnalysisException appends the plan after ";\n"
    val msg = "AnalysisException: no column x;\n'Project ['x]\n\t+- \"q\" at C:\\tmp"
    val line = Bench.resultLine(Seq("b", "c", "a"),
      Seq(Map("a" -> Right(1.5), "b" -> Left(msg), "c" -> Left("gone")),
        Map("a" -> Right(1.25), "b" -> Right(2.0), "c" -> Left("gone"))),
      tag => RunMeter.Work(jobs = if (tag.startsWith("p2:")) 3 else 7,
        taskMs = 1500),
      (Seq(0.25, 0.5, 1.0), 2), (Seq(1.0, 0.75, 0.5), 3), "/data/sf0.1")
    assert(!line.contains('\n'))
    val j = new ObjectMapper().readTree(line)
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "passes", "errors", "flaky", "stage_jobs", "task_sec", "env", "sf"))
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("value").asDouble == 3.25)
    assert(j.get("queries").toString == """{"a":1.25,"b":2.0}""")
    assert(j.get("passes").toString == """{"a":[1.5,1.25],"b":[2.0]}""")
    assert(j.get("errors").toString == """["c"]""")
    assert(j.get("flaky").get("b").asText == msg)
    assert(j.get("stage_jobs").toString == """{"a":3,"b":3}""")
    assert(j.get("task_sec").toString == """{"a":1.5,"b":1.5}""")
    assert(j.get("env").toString == """{"load_start":[0.25,0.5,1.0],""" +
      """"jvms_start":2,"load_end":[1.0,0.75,0.5],"jvms_end":3,"loaded":false}""")
    assert(j.get("sf").asText == "/data/sf0.1")
  }
}
