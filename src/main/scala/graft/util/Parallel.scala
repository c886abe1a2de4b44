package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The one driver-side parallel runner: fleet verbs spread their
  * per-index units over it, and fixture gates overlap independent
  * builds, probes and compactions with it. Each unit is expected to
  * drive its own index dir under its own writer lock, so units never
  * contend on state; at fixture scale each is scheduler-latency-bound,
  * so overlapping them shortens the wall time without changing any
  * result.
  *
  * Session confs are shared by every unit: open an
  * [[ExecProfile.withConfs]] scope around a parallel section, never
  * inside a unit. */
object Parallel {

  /** Map `units` onto at most `parallelism` driver threads (default:
    * one per unit), preserving input order in the output.
    * `parallelism <= 1` or a single unit is plain sequential execution
    * on the caller's thread (no timeout — every unit runs to
    * completion). A failed unit rethrows its exception once every unit
    * has finished; the first failure in input order wins.
    *
    * `timeout` bounds the PARALLEL wait without discarding per-row
    * isolation: units still unfinished when it expires are reported
    * through `onTimeout` (fleet callers turn them into `failed` rows;
    * the default throws a `TimeoutException`) while every completed
    * unit keeps its real result — a fleet whose one legitimately-long
    * compaction overruns no longer throws away the whole report. A
    * timed-out unit's thread keeps running in the background until it
    * finishes (pool.shutdown() does not interrupt it); its index stays
    * writer-locked until then. Default Duration.Inf: an unattended
    * fleet loop waits. */
  def fleetMap[A, B](units: Seq[A], parallelism: Int = Int.MaxValue,
                     timeout: Duration = Duration.Inf,
                     onTimeout: A => B = (u: A) =>
                       throw new java.util.concurrent.TimeoutException(
                         s"fleetMap: unit $u overran its timeout"))
                    (f: A => B): Seq[B] =
    if (parallelism <= 1 || units.size <= 1) units.map(f)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(parallelism, units.size))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val futs = units.map(u => Future(f(u)))
      try {
        try Await.ready(Future.sequence(futs), timeout)
        catch { case _: java.util.concurrent.TimeoutException => () }
        units.zip(futs).map { case (u, fu) =>
          fu.value match {
            case Some(scala.util.Success(b)) => b
            case Some(scala.util.Failure(e)) => throw e
            case None => onTimeout(u)
          }
        }
      } finally pool.shutdown()
    }
}
