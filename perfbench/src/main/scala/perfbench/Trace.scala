package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One timed interval: `parent` is the id of the enclosing span (-1 at
  * the root); times are System.nanoTime values. */
final case class Span(runId: String, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer a span belongs to: its name up to the first '.'. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the single client thread. Spans are
  * recorded only when `enabled`; a disabled tracer runs the body with
  * no bookkeeping, so untraced runs carry no tracing cost. */
final class Tracer(var enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(runId, id, parent, name, t0, System.nanoTime())
      }
    }

  def recorded: Vector[Span] = spans.toVector.sortBy(_.id)

  /** Sum of each span's own time per layer: its duration minus the
    * part of it that its child spans cover. */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = recorded
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Vector.empty).sortBy(_.startNs)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { k =>
        if (k.startNs > curE) {
          if (curE > curS) covered += curE - curS
          curS = k.startNs; curE = k.endNs
        } else curE = math.max(curE, k.endNs)
      }
      if (curE > curS) covered += curE - curS
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = recorded.map(s =>
      Json(ListMap("run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** JSON for the benchmark's records, through the Jackson Scala module
  * Spark ships: a ListMap or LinkedHashMap keeps its key order. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
