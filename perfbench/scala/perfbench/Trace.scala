package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into the program's layers.
  * One span per call: name, start, end, parent span and the pass (run id)
  * it belongs to. They stay in memory until the leg writes its result. */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, run: Int)

  @volatile var enabled = false
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private var run = 0

  def newRun(): Unit = synchronized { run += 1 }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (id, parent, r) = synchronized {
        val id = nextId; nextId += 1
        val p = stack.headOption.getOrElse(0)
        stack = id :: stack
        (id, p, run)
      }
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        synchronized { stack = stack.tail; spans += Span(id, name, t0, t1, parent, r) }
      }
    }

  /** The spans recorded so far, forgotten here. */
  def drain(): Seq[Span] = synchronized { val r = spans.toSeq; spans.clear(); r }
}
