package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class FailureNotifierSpec extends AnyFunSuite {

  test("a failure message with quotes, backslashes and control chars reads back as one JSON line") {
    val dir = java.nio.file.Files.createTempDirectory("notifier_spec")
    val message = "bad \"row\" at C:\\tmp\nline 2\r\tcol\u0001end"
    new FileNotifier(dir.toString).notifyFailure("job \"x\"", new IllegalStateException(message))
    val lines = java.nio.file.Files.readAllLines(dir.resolve("failures.jsonl"))
    assert(lines.size == 1, s"one record per failure: $lines")
    val rec = new ObjectMapper().readTree(lines.get(0))
    assert(rec.get("job").asText == "job \"x\"")
    assert(rec.get("error").asText == "IllegalStateException")
    assert(rec.get("message").asText == message)
    assert(rec.has("at"))
  }
}
