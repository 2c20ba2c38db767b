package graftbench

/** A recorded span on one nanosecond clock. */
final case class Span(id: Int, name: String, parent: Option[Int], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out when the run ends. Listener events
  * carry epoch milliseconds; they are mapped onto the nanosecond clock
  * through one origin pair taken at construction.
  */
final class SpanLog {
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  def fromMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L
  def toMs(ns: Long): Long = originMs + (ns - originNs) / 1000000L

  def add(name: String, parent: Option[Int], startNs: Long, endNs: Long): Int = synchronized {
    spans += Span(spans.size, name, parent, startNs, endNs)
    spans.size - 1
  }
  def open(name: String, parent: Option[Int]): Int = add(name, parent, System.nanoTime(), -1L)
  def close(id: Int): Unit = synchronized { spans(id) = spans(id).copy(endNs = System.nanoTime()) }
  def within[T](name: String, parent: Int)(f: => T): T = {
    val id = open(name, Some(parent))
    try f finally close(id)
  }
  def get(id: Int): Span = synchronized(spans(id))
  def children(id: Int): Seq[Span] = synchronized(spans.filter(_.parent.contains(id)).toSeq)
  def all: Seq[Span] = synchronized(spans.toSeq)

  def toJson: String = all.map(s => Js(Map("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "start_s" -> (s.startNs - originNs) / 1e9,
    "end_s" -> (s.endNs - originNs) / 1e9))).mkString("[", ",\n", "]")
}
