package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** Outcome of one operation: answer rows delivered, or a failure reason. */
final case class Outcome(rows: Long, error: Option[String])

object Outcome {
  def ok(rows: Long): Outcome = Outcome(rows, None)
  def wrong(msg: String): Outcome = Outcome(0, Some(msg))
}

/** Samples of one measured phase. A request counts as failed when it
  * threw or returned a wrong answer (both also count as `wrong`), or took
  * longer than `limitMs`. */
final class Phase(limitMs: Double) {
  val latencyMs = new ConcurrentLinkedQueue[Double]()
  val lateMs = new ConcurrentLinkedQueue[Double]()
  val queueMs = new ConcurrentLinkedQueue[Double]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val wrong = new AtomicLong()
  val rows = new AtomicLong()
  val errors = new ConcurrentLinkedQueue[String]()
  @volatile var startNs = 0L
  @volatile var endNs = 0L

  def record(ms: Double, o: Outcome): Unit = {
    attempted.incrementAndGet()
    latencyMs.add(ms)
    val over = ms > limitMs
    if (o.error.isDefined || over) {
      failed.incrementAndGet()
      if (o.error.isDefined) wrong.incrementAndGet()
      if (errors.size < 20)
        errors.add(o.error.getOrElse(f"over the $limitMs%.0f ms limit: $ms%.1f ms"))
    } else rows.addAndGet(o.rows)
  }

  def seconds: Double = (endNs - startNs) / 1e9
  def okCount: Long = attempted.get - failed.get
  def pct(q: Double): Double = Stats.pct(latencyMs.asScala.toSeq, q)
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 100]; 0 when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Request generators. `op(i)` runs the i-th operation of the seeded
  * stream; the stream position is shared across clients and phases. */
final class Load(op: Long => Outcome) {
  private val next = new AtomicLong()

  private def timed(phase: Phase, dueNs: Long): Unit = {
    val i = next.getAndIncrement()
    val o =
      try Trace.forRequest(i)(op(i))
      catch { case e: Throwable => Outcome(0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    phase.record((System.nanoTime() - dueNs) / 1e6, o)
  }

  /** `clients` threads issue back-to-back requests for `seconds`. */
  def closed(phase: Phase, clients: Int, seconds: Double): Phase = {
    phase.startNs = System.nanoTime()
    val end = phase.startNs + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < end) timed(phase, System.nanoTime())
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    phase.endNs = System.nanoTime()
    phase
  }

  /** Requests due every 1/`rate` s for `seconds` or until `stop()`, served
    * by `clients` threads; each is timed from its due time, so queueing
    * behind a slow request counts against the request that waited. */
  def open(phase: Phase, clients: Int, rate: Double, seconds: Double,
           stop: () => Boolean = () => false): Phase = {
    val pool = Executors.newFixedThreadPool(clients, (r: Runnable) => {
      val t = new Thread(r, "perfbench-open")
      t.setDaemon(true)
      t
    })
    val periodNs = (1e9 / rate).toLong
    phase.startNs = System.nanoTime()
    val end = phase.startNs + (seconds * 1e9).toLong
    var k = 0L
    var due = phase.startNs
    while (due < end && !stop()) {
      val wait = due - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val dueNs = due
      val submitted = System.nanoTime()
      phase.lateMs.add((submitted - dueNs) / 1e6)
      pool.execute(() => {
        phase.queueMs.add((System.nanoTime() - submitted) / 1e6)
        timed(phase, dueNs)
      })
      k += 1
      due = phase.startNs + k * periodNs
    }
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    phase.endNs = System.nanoTime()
    phase
  }

  /** Untimed warm-up: `clients` threads until `count` requests are done or
    * `seconds` have passed. Answers are still checked into `phase`. */
  def warm(phase: Phase, clients: Int, count: Int, seconds: Double): Phase = {
    val done = new AtomicInteger()
    phase.startNs = System.nanoTime()
    val end = phase.startNs + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        while (done.get < count && System.nanoTime() < end) {
          timed(phase, System.nanoTime())
          done.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    phase.endNs = System.nanoTime()
    phase
  }
}
