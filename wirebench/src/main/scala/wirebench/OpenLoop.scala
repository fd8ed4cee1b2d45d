package wirebench

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.locks.LockSupport

/** Open-loop load generator: job `i` becomes due at `t0 + dues(i)` whether or
  * not earlier jobs are done; `workers` threads serve due jobs in due
  * order from one queue. Latency is measured from the due instant, so
  * a stall also charges the wait it imposes on every later job.
  */
object OpenLoop {

  /** Timestamps (nanoTime) of one job: due, handed to the queue by the
    * generator, taken by a worker, and served.
    */
  final case class Done(index: Int, dueNs: Long, enqueuedNs: Long, startNs: Long, endNs: Long) {
    def latencyNs: Long = endNs - dueNs
    def lateNs: Long = enqueuedNs - dueNs
  }

  /** Runs every job; `serve(worker, index, dueNs)` does job `index`.
    * Returns the start of the schedule (nanoTime) and the jobs served
    * before `drainMs` after the last due time.
    */
  def run(dues: Array[Long], workers: Int, drainMs: Long)(
      serve: (Int, Int, Long) => Unit): (Long, Seq[Done]) = {
    val queue = new LinkedBlockingQueue[(Int, Long, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime() + 20000000L
    val pool = (0 until workers).map { w =>
      val t = new Thread(() => {
        var more = true
        while (more) {
          val (i, due, enq) = queue.take()
          if (i < 0) more = false
          else {
            val start = System.nanoTime()
            serve(w, i, due)
            done.add(Done(i, due, enq, start, System.nanoTime()))
          }
        }
      }, s"wirebench-worker-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    dues.indices.foreach { i =>
      val due = t0 + dues(i)
      var wait = due - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
      queue.put((i, due, System.nanoTime()))
    }
    pool.foreach(_ => queue.put((-1, 0L, 0L)))
    val until = System.currentTimeMillis() + drainMs
    pool.foreach(t => t.join(math.max(1L, until - System.currentTimeMillis())))
    import scala.jdk.CollectionConverters._
    (t0, done.asScala.toSeq.sortBy(_.index))
  }

  /** Offsets (ns) of `n` Poisson arrivals over `seconds`: a Poisson
    * process conditioned on its count places the arrivals as sorted
    * independent uniforms, so the offered rate is exactly n / seconds
    * while the gaps stay exponential-like.
    */
  def poisson(rng: java.util.SplittableRandom, n: Int, seconds: Double): Array[Long] =
    Array.fill(n)((rng.nextDouble() * seconds * 1e9).toLong).sorted
}
