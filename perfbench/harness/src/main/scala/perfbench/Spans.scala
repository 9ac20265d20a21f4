package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** In-memory spans around the harness's calls into each layer. A span is
  * (name, start, end, parent, pass); spans are kept only when tracing and
  * are written once, at exit. While a span is open its id is the caller
  * thread's Spark call tag, so jobs started inside it are attributed to it.
  */
final class Spans(sc: SparkContext, keep: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, pass: Int, tag: String,
      startNs: Long, var endNs: Long = -1L)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val epochNs = System.nanoTime()
  private var next = 0
  /** Call tag of the span that closed last. */
  var lastTag: String = ""

  /** Tags are paths of span ids under the pass id, so a span's subtree is
    * the tag itself plus every tag under `tag/`. */
  def within(tag: String)(call: String): Boolean = call == tag || call.startsWith(tag + "/")

  /** Runs `body` inside a span; returns its result and its wall seconds. */
  def apply[T](name: String, pass: Int, phase: String = "")(body: => T): (T, Double) = {
    val tag = open.headOption.fold(s"$pass")(_.tag) + s"/$next"
    val s = Span(next, name, open.headOption.fold(-1)(_.id), pass, tag, System.nanoTime())
    next += 1
    val prevCall = sc.getLocalProperty(Recorder.Call)
    val prevPhase = sc.getLocalProperty(Recorder.Phase)
    sc.setLocalProperty(Recorder.Call, tag)
    if (phase.nonEmpty) sc.setLocalProperty(Recorder.Phase, phase)
    open = s :: open
    try {
      val r = body
      (r, (System.nanoTime() - s.startNs) / 1e9)
    } finally {
      s.endNs = System.nanoTime()
      open = open.tail
      lastTag = tag
      sc.setLocalProperty(Recorder.Call, prevCall)
      sc.setLocalProperty(Recorder.Phase, prevPhase)
      if (keep) spans += s
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.id).map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
    "start_s" -> (s.startNs - epochNs) / 1e9, "end_s" -> (s.endNs - epochNs) / 1e9))
}
