package graft

/**
 * Overlap INDEPENDENT operator constructions (guide §2.6 "Overlap
 * independent jobs"): Spark's scheduler happily runs several jobs at
 * once inside one application — the engine's iterative operators run
 * their training/descent loops at DataFrame-construction time, so two
 * independent substrates (e.g. an IVF centroid training loop and the
 * kNN-descent graph build feeding the same ANN query) otherwise
 * serialize on the driver for no reason. `two(a, b)` evaluates `a` on
 * the caller thread and `b` on a pool thread, so b's jobs back-fill
 * the executor slots a's stragglers leave idle.
 *
 * Results are unchanged by construction: both closures build the
 * exact frames they built sequentially (every operator's output is
 * deterministic under any job interleaving — orderings are explicit,
 * aggregations order-independent by the dyadic law), and the shared
 * scaffolding is thread-safe (CacheScope's registry is a concurrent
 * queue; a [[Rotation]] releases exactly its own checkpoint RDD, taken
 * from the checkpoint's plan leaf, whatever other threads checkpoint
 * meanwhile; a StaticPlan window arms only its own thread and never
 * writes a session conf, so two armed branches overlap).
 */
object Par {
  import scala.concurrent.{Await, ExecutionContext, Future}
  import scala.concurrent.duration.Duration

  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Evaluate `a` and `b` concurrently; `a` runs on the caller
    * thread. Exceptions from either propagate to the caller (a's
    * first). Never returns while `b` still runs, even when `a` throws:
    * b's jobs and cached frames must not outlive the call. Waits
    * without a cap, so a slow input stays slow instead of failing. */
  def two[A, B](a: => A, b: => B): (A, B) = {
    val fb = Future(b)
    val ra = try a finally Await.ready(fb, Duration.Inf)
    (ra, Await.result(fb, Duration.Inf))
  }
}
