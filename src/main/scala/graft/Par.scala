package graft

/** Driver-side fan-out over a bounded thread pool. */
object Par {

  /** `xs.map(f)` over at most `maxThreads` threads, in input order: the
    * result order is the input order, never the scheduling order, so a
    * pure `f` keeps the caller deterministic. `f`'s own exception is
    * rethrown, not the pool's `ExecutionException` wrapper, and the pool
    * is shut down on every exit. Work is submitted one task per CHUNK
    * (about four chunks per thread), not per item: at 10^5 mostly-trivial
    * items per-item task allocation and queue contention would dominate
    * the work itself. CPU-bound callers cap the threads at the core
    * count; latency-bound IO may go wider. */
  def orderedMap[A, B](xs: Seq[A], maxThreads: Int)(f: A => B): Seq[B] = {
    if (xs.isEmpty) return Seq.empty
    val threads = math.max(1, math.min(maxThreads, xs.size))
    val chunks = xs.grouped(
      math.max(1, xs.size / (threads * 4) +
        (if (xs.size % (threads * 4) == 0) 0 else 1))).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try chunks.map(chunk =>
        pool.submit(new java.util.concurrent.Callable[Seq[B]] {
          override def call(): Seq[B] = chunk.map(f)
        })).flatMap { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    finally pool.shutdown()
  }
}
