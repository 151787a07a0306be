package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The launcher's command line: which processors a flag set selects. */
class ProcessorMainSpec extends AnyFunSuite {
  private val required = Seq("--brokers", "kafka:9092", "--state", "/var/graft")

  test("no processor flag selects all three") {
    val a = ProcessorMain.parse(required)
    assert(a == ProcessorMain.Args("kafka:9092", "/var/graft",
      Set("collector", "detector", "flagger")))
  }

  test("--detector selects only the detector") {
    assert(ProcessorMain.parse("--detector" +: required).processors == Set("detector"))
    assert(ProcessorMain.parse(required :+ "--detector").processors == Set("detector"))
  }

  test("a missing --brokers fails") {
    val e = intercept[IllegalArgumentException] {
      ProcessorMain.parse(Seq("--state", "/var/graft", "--collector"))
    }
    assert(e.getMessage.contains("--brokers"))
  }

  test("a flag is not taken as another flag's value") {
    val e = intercept[IllegalArgumentException] {
      ProcessorMain.parse(Seq("--brokers", "--state", "/var/graft"))
    }
    assert(e.getMessage.contains("--brokers"))
  }
}
