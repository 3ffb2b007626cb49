package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `op` is the op the call belongs to, and
  * `parent` the id of the enclosing span on the same thread (-1 at the
  * top). Times are System.nanoTime values. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Off (the default) it only runs the body, so
  * untraced runs pay one boolean test per call site. Spans are written
  * out once, at exit, by `writeJsonl`. */
object Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  /** Record `body` as a span named `name`; a span opened with no
    * enclosing span starts op `op`, and nested spans inherit it. */
  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val opId = outer.headOption.map(_._2).getOrElse(op)
      stack.set((id, opId) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(-1), opId,
          name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus the part its children
    * cover. Children of one span run on its thread, so they never
    * overlap each other. */
  def selfNs(ss: Seq[Span]): Map[Int, Long] = {
    val childNs = ss.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    ss.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
