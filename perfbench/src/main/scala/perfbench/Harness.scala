package perfbench

import graft.drivers.{Args, GameScoringDriver, GameTrainingDriver}
import graft.ml.CoordinateDescent.GameModel
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One benchmark run: start a session, then a closed loop with a
  * single client (one operation finishes before the next starts)
  * through the program's public entry points for `--seconds`, then one
  * JSON file of everything measured. Output checks run afterwards,
  * outside the timed region, in run.py.
  *
  * There is no warm-up: the first operation runs in a fresh JVM, as a
  * one-shot driver run does, and pays JIT compilation and Spark's lazy
  * initialisation. With `--trace 1` operations alternate between
  * untraced and traced (the [[Trace]] listener attached), so the same
  * run gives the per-layer spans of warm operations and the tracing
  * overhead.
  */
object Harness {
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  final case class Span(name: String, start: Long, end: Long, wall: Double)
  final case class Op(index: Int, wall: Double, start: Long, end: Long,
                      loadStart: Double, loadEnd: Double, heapMb: Double,
                      traced: Boolean, spans: Seq[Span], probes: Seq[Span],
                      drained: Boolean, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val workload = a.str("workload")
    val seconds = a.dbl("seconds", 10)
    // no operation past the first `minOps` starts unless it can end
    // within this many seconds of the JVM's start
    val deadline = a.dbl("deadline", Double.MaxValue)
    val trace = a.int("trace", 0) == 1
    val work = a.str("work")
    val inputs = a.str("inputs", "")
    val cpus = a.str("cpus")
    val queries = a.list("queries")
    val fixture = a.str("fixture", "")
    // --random-coordinates of both drivers, e.g. perUser:userId,...
    val coords = a.str("coords", "")

    val sessionStart = now
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = now - sessionStart
    val sc = spark.sparkContext

    /** A benchmark span around one public call: jobs it causes carry
      * `tag/name` as their parent. */
    def span(tag: String, name: String)(body: => Unit): Span = {
      sc.setLocalProperty(Trace.SpanKey, s"$tag/$name")
      val (s, w) = (System.currentTimeMillis(), now)
      try body finally sc.setLocalProperty(Trace.SpanKey, null)
      Span(name, s, System.currentTimeMillis(), now - w)
    }

    val gameArgs = Seq("--features-col", "features",
      "--random-coordinates", coords)
    /** One operation: the public calls the workload makes, in order.
      * Returns their spans and, for game-lifecycle, the trained model. */
    def operation(tag: String): (Seq[Span], Option[GameModel]) = {
      val out = s"$work/ops/$tag"
      workload match {
        case "game-lifecycle" =>
          var model: Option[GameModel] = None
          val train = span(tag, "GameTrainingDriver.run") {
            model = Some(GameTrainingDriver.run(spark, Args.parse((gameArgs ++
              Seq("--input-dir", s"$inputs/train",
                "--validation-dir", s"$inputs/valid", "--output-dir", out,
                "--loss", "squared", "--lambdas", "1.0", "--iterations", "2",
                "--evaluator", "rmse")).toArray))._1)
          }
          val score = span(tag, "GameScoringDriver.run") {
            GameScoringDriver.run(spark, Args.parse((gameArgs ++ Seq(
              "--input-dir", s"$inputs/score",
              "--model-dir", s"$out/best-model",
              "--output-dir", s"$out/scores", "--output-files-limit", cpus,
              "--evaluator", "rmse")).toArray))
          }
          (Seq(train, score), model)
        case "registry-mix" =>
          // Verify's layout: one coalesced parquet dir per query plus
          // oracle_sql.json; writing materialises every output column
          val spans = queries.map(q => span(tag, q) {
            graft.SparkEntry.queries(q)(spark, fixture).coalesce(1)
              .write.mode("overwrite").parquet(s"$out/$q")
          })
          val oracle = graft.SparkEntry.oracleSql.toSeq
            .map { case (k, v) => k -> Json.str(v) }
          Files.writeString(Paths.get(s"$out/oracle_sql.json"),
            Json.obj(oracle: _*))
          (spans, None)
      }
    }

    // GameModel.score is lazy: inside the drivers its work runs in the
    // checkpoint, evaluation and score-sink jobs. A traced game-lifecycle
    // operation is followed by a probe that runs it alone on the scoring
    // set (forced through Spark's noop sink), outside the operation.
    def scoreProbe(tag: String, model: GameModel): Span = {
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.sql.functions.{array, col}
      span(s"probe-$tag", "GameModel.score") {
        // the columns GameTrainingDriver.prepare gives the drivers
        val ids = coords.split(",").map(_.split(":")(1))
          .map(c => col(c).cast("string").as(c)).toSeq
        model.score(spark.read.parquet(s"$inputs/score").select(Seq(
          col("uid"), array_to_vector(col("features")).as("features"),
          array_to_vector(array().cast("array<double>"))
            .as("emptyFeatures")) ++ ids: _*))
          .write.format("noop").mode("overwrite").save()
      }
    }

    val tracer = new Trace
    val heap = ManagementFactory.getMemoryMXBean
    /** Heap in use after full collections, repeated until it stops
      * falling: a collection lets Spark's cleaner release the blocks and
      * shuffles of unreachable frames, which the next one reclaims. */
    def retainedHeapMb(): Double = {
      def used() = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
      var (last, cur, rounds) = (Double.MaxValue, used(), 1)
      while (cur < last * 0.99 && rounds < 5) {
        Thread.sleep(100)
        last = cur; cur = used(); rounds += 1
      }
      cur
    }
    def run(index: Int, tag: String, traced: Boolean): Op = {
      if (traced) sc.addSparkListener(tracer)
      val (l0, s, w) = (loadavg(), System.currentTimeMillis(), now)
      var model: Option[GameModel] = None
      val (spans, error) =
        try { val (sp, m) = operation(tag); model = m; (sp, None) }
        catch { case e: Throwable =>
          (Nil, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      val (wall, end, l1) = (now - w, System.currentTimeMillis(), loadavg())
      // a failed probe is recorded like a failed operation
      val (probes, probeError) =
        if (!traced || model.isEmpty) (Nil, None)
        else try (Seq(scoreProbe(tag, model.get)), None)
        catch { case e: Throwable =>
          (Nil, Some(s"probe: ${e.getClass.getName}: ${e.getMessage}")) }
      model = None // the retained heap must not count the harness's copy
      // every listener, Spark's status store too, has seen the operation
      val drained = org.apache.spark.ListenerDrain(sc)
      if (traced) sc.removeSparkListener(tracer)
      Op(index, wall, s, end, l0, l1, retainedHeapMb(), traced, spans,
        probes, drained, error.orElse(probeError))
    }

    // trace runs alternate untraced, traced, untraced at least, so the
    // overhead compares a traced operation with the untraced ones
    val minOps = if (trace) 3 else 1
    val loopStart = now
    val ops = Vector.newBuilder[Op]
    var (i, longest) = (0, 0.0)
    def fits = now - loopStart < seconds &&
      now + 1.5 * longest < deadline
    while (i < minOps || fits) {
      val w = now
      ops += run(i, s"op$i", traced = trace && i % 2 == 1)
      longest = math.max(longest, now - w)
      i += 1
    }

    import Json._
    def spanJson(s: Span) = obj("name" -> str(s.name),
      "start" -> s.start.toString, "end" -> s.end.toString,
      "wall_s" -> num(s.wall))
    val result = obj(
      "workload" -> str(workload),
      "spark_version" -> str(spark.version),
      "java_version" -> str(System.getProperty("java.version")),
      "jvm" -> str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.vm.version")),
      "setup" -> obj("session_s" -> num(sessionS)),
      "ops" -> arr(ops.result().map(o => obj(
        "index" -> o.index.toString, "wall_s" -> num(o.wall),
        "start" -> o.start.toString, "end" -> o.end.toString,
        "loadavg_start" -> num(o.loadStart), "loadavg_end" -> num(o.loadEnd),
        "heap_mb" -> num(o.heapMb), "traced" -> o.traced.toString,
        "spans" -> arr(o.spans.map(spanJson)),
        "probes" -> arr(o.probes.map(spanJson)),
        "drained" -> o.drained.toString,
        "error" -> o.error.map(str).getOrElse("null")))),
      "trace" -> (if (trace) tracer.json else "null"))
    Files.writeString(Paths.get(s"$work/result.json"), result)
    spark.stop()
  }
}
