package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** One call into a layer: `module` is the repo module (`ext.Dedup`),
  * `fn` the public function (`minhashCandidates`) or "" when the span
  * stands for the module as a whole. `parent` is the id of the span
  * that caused it (0 = the pass itself). Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, module: String, fn: String,
                      startNs: Long, endNs: Long) {
  def name: String = if (fn.isEmpty) module else s"$module.$fn"
}

/** Half-open nanosecond intervals and the self-time arithmetic. */
object Intervals {
  type Iv = (Long, Long)

  /** Sorted, non-overlapping union. */
  def union(ivs: Seq[Iv]): List[Iv] =
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1)
      .foldLeft(List.empty[Iv]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, e max e2) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  def length(ivs: Seq[Iv]): Long = union(ivs).map(iv => iv._2 - iv._1).sum

  /** `iv` minus the union of `cut`. */
  def minus(iv: Iv, cut: Seq[Iv]): List[Iv] = {
    val (out, from) = union(cut).foldLeft((List.empty[Iv], iv._1)) {
      case ((acc, pos), (s, e)) =>
        val kept = if (s > pos) (pos, s min iv._2) :: acc else acc
        (kept, pos max e)
    }
    (if (from < iv._2) (from, iv._2) :: out else out)
      .filter(p => p._2 > p._1).reverse
  }

  /** Each span's own interval minus the union of its children's: time
    * the span's layer spent that no callee accounts for. Concurrent
    * children (a thread pool under one parent) are cut once, not once
    * per child. */
  def selfIntervals(spans: Seq[Span]): Map[Int, List[Iv]] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> minus((s.startNs, s.endNs),
        children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
    }.toMap
  }

  /** Self seconds per span name, summed over that name's spans. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfIntervals(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id).map(iv => iv._2 - iv._1).sum).sum / 1e9
    }
  }

  /** Self seconds per module: the union of its spans' self intervals, so
    * spans of one module running at the same time (the classifier pool)
    * count the wall time they cover once. */
  def selfByModule(spans: Seq[Span]): Map[String, Double] = {
    val self = selfIntervals(spans)
    spans.groupBy(_.module).map { case (m, ss) =>
      m -> length(ss.flatMap(s => self(s.id))) / 1e9
    }
  }
}

/** Records spans around calls into the program's layers. The current
  * span id rides in a thread-local (and, when `onEnter` is given, in a
  * Spark local property so the listener can attribute jobs); pool
  * threads take their parent explicitly through [[within]]. A disabled
  * tracer only runs the body. */
final class Tracer(enabled: Boolean,
                   onEnter: (Option[Span]) => Unit = _ => ()) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }

  def currentSpan: Option[Span] = current.get

  def span[T](module: String, fn: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val outer = current.get
      val open = Span(ids.incrementAndGet(), outer.map(_.id).getOrElse(0),
        module, fn, System.nanoTime(), 0L)
      current.set(Some(open))
      onEnter(Some(open))
      try body
      finally {
        done.add(open.copy(endNs = System.nanoTime()))
        current.set(outer)
        onEnter(outer)
      }
    }

  /** Run `body` on this (pool) thread as if inside `parent`. */
  def within[T](parent: Option[Span])(body: => T): T =
    if (!enabled) body
    else {
      val outer = current.get
      current.set(parent)
      onEnter(parent)
      try body
      finally {
        current.set(outer)
        onEnter(outer)
      }
    }

  /** Spans closed so far, and forget them. */
  def drain(): Seq[Span] =
    Iterator.continually(done.poll()).takeWhile(_ != null).toVector
}
