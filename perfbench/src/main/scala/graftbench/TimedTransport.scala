package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import graft.model.Execution
import graft.sink.{RenderedRequest, Transport, TransportResult}

/** One call into the wrapped transport. */
final case class SendRec(execKey: String, kind: String, bytes: Long,
    startNs: Long, endNs: Long, thread: Long, error: Boolean, threw: Boolean)

/** Thin per-request timestamping around the transport the pipeline is given.
  * Local mode runs tasks in this JVM, so records land in a process-wide
  * queue that the harness drains after each run.
  */
final case class TimedTransport(inner: Transport) extends Transport {
  override def send(execution: Execution, req: RenderedRequest): TransportResult = {
    val t0 = System.nanoTime()
    def rec(error: Boolean, threw: Boolean): Unit =
      TimedTransport.log.add(SendRec(execution.key, req.kind, req.body.length.toLong, t0,
        System.nanoTime(), Thread.currentThread().getId, error, threw))
    try {
      val res = inner.send(execution, req)
      rec(res.error.nonEmpty, threw = false)
      res
    } catch {
      case e: Exception => rec(error = true, threw = true); throw e
    }
  }
}

object TimedTransport {
  val log = new ConcurrentLinkedQueue[SendRec]()

  def drain(): Seq[SendRec] = {
    val out = Seq.newBuilder[SendRec]
    var r = log.poll()
    while (r != null) { out += r; r = log.poll() }
    out.result()
  }
}

/** RAM-backed stand-in for `FileTransport`: renders the same JSON line per
  * request and keeps it in memory, so shared-disk stalls stay out of the
  * timed run. Cleared by [[MemoryTransport.clear]] between runs.
  */
final case class MemoryTransport() extends Transport {
  override def send(execution: Execution, req: RenderedRequest): TransportResult = {
    val line = graft.sink.Json.obj(
      "kind" -> graft.sink.JStr(req.kind),
      "url" -> graft.sink.JStr(req.url),
      "body" -> graft.sink.JStr(req.body)).render + "\n"
    MemoryTransport.out.computeIfAbsent(execution.key, _ => new ConcurrentLinkedQueue[Array[Byte]]())
      .add(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    TransportResult()
  }
}

object MemoryTransport {
  val out = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Array[Byte]]]()
  def clear(): Unit = out.clear()
}
