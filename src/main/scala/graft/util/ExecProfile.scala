package graft.util

import org.apache.spark.sql.SparkSession
import scala.util.Try

/** Input-size-derived shuffle width for a bounded execution scope —
  * the scale-adaptive pattern [[graft.ml.CoordinateDescent]] introduced
  * for its descent loop, shared so the iterative graph family can key
  * each round's shuffle width on its measured edge count the same way.
  *
  * The adaptation is NOT a local-core-count tune: `derived =
  * min(sessionWidth, rows / rowsPerPartition + 1)`, so at production
  * row counts (rows ≥ rowsPerPartition × the session's configured
  * width) `derived == sessionWidth` and the scope is a no-op — AQE
  * stays on, partitions stay the cluster's. Only when the measured
  * input is small relative to the configured parallelism does the
  * scope narrow the shuffles and disable AQE (whose per-materialization
  * stage jobs and near-empty task launches dwarf the data work at that
  * size).
  */
object ExecProfile {

  private val SpKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"
  private val WscKey = "spark.sql.codegen.wholeStage"
  private val CgfKey = "spark.sql.codegen.factoryMode"
  private val AbtKey = "spark.sql.autoBroadcastJoinThreshold"

  /** The width the scope would run at: `min(session, rows/rpp + 1)`,
    * or None when the session width is not a plain integer (e.g.
    * "auto" on AQE auto-optimized-shuffle builds — then no adaptation,
    * not a crash). */
  def derivedWidth(spark: SparkSession, rows: Long,
                   rowsPerPartition: Long): Option[Int] =
    spark.conf.getOption(SpKey)
      .flatMap(v => Try(v.trim.toInt).toOption)
      .map(sp => math.min(sp.toLong,
        rows / math.max(1L, rowsPerPartition) + 1L).toInt)

  /** Run `body` with the derived shuffle width and AQE off when (and
    * only when) the derived width is below the session's; otherwise the
    * body runs untouched. The active scope is a [[withConfs]] scope, so
    * every conf is restored exactly afterwards.
    *
    * `codegenOff = true` additionally disables whole-stage codegen
    * inside an ACTIVE scope — for loops that materialize many DISTINCT
    * one-shot plans over an input this small, janino-compiling
    * kilobytes of Java per plan costs far more than interpreting the
    * rows (measured on the GAME descent loop: 25 materializations,
    * 9.3 s compiled vs 4.0 s interpreted at sf0.1). Same scale honesty
    * as the width: at production row counts the scope never activates
    * and codegen stays on. */
  def withDerivedShuffle[T](spark: SparkSession, rows: Long,
                            rowsPerPartition: Long = 25000L,
                            codegenOff: Boolean = false)
                           (body: => T): T = {
    val sessionParts = spark.conf.getOption(SpKey)
      .flatMap(v => Try(v.trim.toInt).toOption)
    val derived = derivedWidth(spark, rows, rowsPerPartition)
    val active = (sessionParts, derived) match {
      case (Some(sp), Some(d)) => d < sp
      case _ => false
    }
    if (!active) body
    else withConfs(spark,
      Seq(SpKey -> derived.get.toString, AqeKey -> "false") ++
        (if (codegenOff) Seq(WscKey -> "false", CgfKey -> "NO_CODEGEN")
         else Nil))(body)
  }

  /** The conf set for FIXTURE-SCALE gates: the persisted-index
    * lifecycle gates, whose inputs are few-row planted states that stay
    * constant-size by construction (decades flat), so their wall time
    * is pure Spark scheduling floor. Every setting is an execution
    * strategy; none changes a row, so the gates stay hash-identical.
    * The data-bearing queries and the production-scale probes keep the
    * session's settings.
    *   - AQE off, 4 shuffle partitions: AQE turns every exchange of
    *     every probe/health/compact plan into its own stage-job (q254
    *     ran 295 jobs on a 4-row fixture — 60-90 ms of scheduler
    *     latency each), buying nothing because there is no data to
    *     re-plan around.
    *   - whole-stage codegen off: these gates run dozens of DISTINCT
    *     lifecycle plans over ≤ ~20-row planted states, and
    *     janino-compiling kilobytes of whole-stage Java per plan costs
    *     far more than interpreting the handful of rows ever saves
    *     (q258 warm job-time sum 9-14 s with codegen vs 5.2 s
    *     interpreted).
    *   - auto-broadcast off: every BroadcastExchange materializes
    *     through its OWN job, and at fixture scale a single lifecycle
    *     action's plan carries dozens of auto-broadcast tiny sides, so
    *     the gate's cost is ~one scheduler round-trip per broadcast
    *     (q262: ~28 jobs per 5-doc admission batch). 4-partition
    *     shuffle joins fold the same tiny joins into the action's one
    *     job. Explicit broadcast() hints (load-bearing at scale) are
    *     unaffected; join STRATEGY never changes rows. */
  val FixtureConfs: Seq[(String, String)] = Seq(
    AqeKey -> "false",
    SpKey -> "4",
    WscKey -> "false",
    CgfKey -> "NO_CODEGEN",
    AbtKey -> "-1")

  /** Run `body` with each `key -> value` set on the session, then
    * restore every key exactly: a key the session had set gets its
    * value back, and a key it had NOT set is unset again (so it reads
    * its default, not a copy of it). The prior state is read from
    * `getAll`, the session's explicit settings — `getOption` cannot
    * tell an unset key from one set to its default. The restore also
    * runs when a `set` or `body` throws.
    *
    * Session-global conf mutation: the scope must not run concurrently
    * with other queries on the same session. All in-repo callers open
    * it from one driver thread; a [[Parallel.fleetMap]] section inside
    * the scope is fine (its units join before the restore), a scope
    * opened inside a unit is not. */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])
                  (body: => T): T = {
    val set = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
