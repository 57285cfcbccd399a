package graft.pipeline

import graft.util.JsonString.quote

/** E5: failure notification (reference src/etl_utils.py:255-344 mails
  * task context on DAG failure). The engine's side of that contract is
  * a pluggable boundary plus a durable default: the notification is a
  * structured record written next to the job output, for whatever
  * gateway (mail, pager, Airflow callback) the orchestrator attaches.
  * Transport is deliberately out of engine scope — delivery belongs to
  * the orchestrator; durability of the failure record belongs to us.
  */
trait FailureNotifier {
  def notifyFailure(job: String, error: Throwable): Unit
}

/** Append-only JSONL failure log, one line per failed run. */
final class FileNotifier(dir: String) extends FailureNotifier {
  override def notifyFailure(job: String, error: Throwable): Unit = {
    val path = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(path)
    val line =
      s"""{"job":${quote(job)},"error":${quote(error.getClass.getSimpleName)},""" +
        s""""message":${quote(Option(error.getMessage).getOrElse(""))},""" +
        s""""at":"${java.time.Instant.now()}"}""" + "\n"
    java.nio.file.Files.writeString(path.resolve("failures.jsonl"), line,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}
