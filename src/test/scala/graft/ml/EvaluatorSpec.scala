package graft.ml

import graft.SparkSpec

class EvaluatorSpec extends SparkSpec {
  import spark.implicits._

  test("AUC matches hand computation including ties") {
    // scores: pos {0.9, 0.8, 0.5}, neg {0.5, 0.3}
    // pairs: 3*2=6; wins: (0.9,0.8 beat both)=4, 0.5 vs 0.3 win=1,
    // 0.5 vs 0.5 tie=0.5 → AUC=(4+1+0.5)/6=0.91666...
    val df = Seq((0.9, 1.0), (0.8, 1.0), (0.5, 1.0), (0.5, 0.0), (0.3, 0.0))
      .toDF("score", "label")
    assert(math.abs(Evaluators.auc(df, "score", "label") - 5.5 / 6) < 1e-12)
  }

  test("AUC agrees with MLlib BinaryClassificationMetrics on tie-free data") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 500).map { _ =>
      val s = rnd.nextGaussian()
      (s, if (rnd.nextDouble() < PointwiseLoss.sigmoid(2 * s)) 1.0 else 0.0)
    }
    val df = rows.toDF("score", "label")
    val ours = Evaluators.auc(df, "score", "label")
    val mllib = new org.apache.spark.mllib.evaluation
    .BinaryClassificationMetrics(
      df.rdd.map(r => (r.getDouble(0), r.getDouble(1)))).areaUnderROC()
    assert(math.abs(ours - mllib) < 1e-9, s"ours=$ours mllib=$mllib")
  }

  test("rmse / mae / losses compute expected values") {
    val df = Seq((1.0, 2.0, 1.0), (3.0, 3.0, 2.0)).toDF("score", "label", "w")
    assert(math.abs(Evaluators.rmse(df, "score", "label", Some("w")) -
      math.sqrt((1.0 * 1 + 0.0) / 3)) < 1e-12)
    assert(math.abs(Evaluators.mae(df, "score", "label", Some("w")) - 1.0 / 3)
      < 1e-12)
    assert(math.abs(Evaluators.squaredLoss(df, "score", "label", Some("w"))
      - 0.5) < 1e-12)
    // the drivers' name dispatch: Σ w·(e^s − y·s), and the smoothed
    // hinge over margins m = s·(±1): 0 at m ≥ 1, ½(1−m)² in (0, 1),
    // ½ − m at m ≤ 0
    assert(Evaluators.byName("rmse")(df, "score", "label", Some("w")) ==
      Evaluators.rmse(df, "score", "label", Some("w")))
    assert(math.abs(Evaluators.byName("poisson")(df, "score", "label",
      Some("w")) - (math.E - 2.0 + 2.0 * (math.exp(3.0) - 9.0))) < 1e-9)
    val hinge = Seq((0.5, 1.0), (-0.3, 1.0), (0.3, 0.0), (2.0, 1.0))
      .toDF("score", "label")
    assert(math.abs(Evaluators.byName("smoothed_hinge")(hinge, "score",
      "label", None) - (0.125 + 0.8 + 0.8)) < 1e-12)
    intercept[IllegalArgumentException](Evaluators.byName("rsme"))
  }

  test("logistic loss evaluator matches pointwise loss") {
    val df = Seq((1.3, 1.0), (-0.7, 0.0), (0.0, 1.0)).toDF("score", "label")
    val want = Seq((1.3, 1.0), (-0.7, 0.0), (0.0, 1.0))
      .map { case (z, y) => LogisticLoss.lossAndDz(z, y)._1 }.sum
    assert(math.abs(Evaluators.logisticLoss(df, "score", "label") - want)
      < 1e-12)
  }

  test("grouped AUC averages per-group values and skips one-class groups") {
    val df = Seq(
      ("a", 0.9, 1.0), ("a", 0.1, 0.0),            // AUC 1.0
      ("b", 0.2, 1.0), ("b", 0.8, 0.0),            // AUC 0.0
      ("c", 0.5, 1.0), ("c", 0.6, 1.0))            // one class → skipped
      .toDF("g", "score", "label")
    val per = Evaluators.groupedAuc(df, "g", "score", "label")
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(per("a").contains(1.0) && per("b").contains(0.0) &&
      per("c").isEmpty)
    val mean = Evaluators.groupedAuc(df, "g", "score", "label")
      .agg(org.apache.spark.sql.functions.avg("auc")).first().getDouble(0)
    assert(math.abs(mean - 0.5) < 1e-12)
  }

  test("precision at k") {
    val df = Seq(
      ("u1", 3.0, 1.0, 1L), ("u1", 2.0, 0.0, 2L), ("u1", 1.0, 1.0, 3L),
      ("u2", 5.0, 0.0, 4L), ("u2", 4.0, 0.0, 5L), ("u2", 3.0, 1.0, 6L))
      .toDF("g", "score", "label", "id")
    // top-2: u1 → (1,0) = 0.5; u2 → (0,0) = 0.0; mean 0.25
    val got = Evaluators.meanPrecisionAtK(df, "g", "score", "label", 2, "id")
    assert(math.abs(got - 0.25) < 1e-12)
  }

  test("AUPR agrees with MLlib BinaryClassificationMetrics") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { _ =>
      val s = rnd.nextGaussian()
      (s, if (rnd.nextDouble() < PointwiseLoss.sigmoid(2 * s)) 1.0 else 0.0)
    }
    val df = rows.toDF("score", "label")
    val ours = Evaluators.aupr(df, "score", "label")
    val mllib = new org.apache.spark.mllib.evaluation
    .BinaryClassificationMetrics(
      df.rdd.map(r => (r.getDouble(0), r.getDouble(1)))).areaUnderPR()
    assert(math.abs(ours - mllib) < 1e-9, s"ours=$ours mllib=$mllib")
  }

  test("peak F1 matches hand computation") {
    // scores desc: 0.9(+), 0.8(-), 0.7(+), 0.6(+), 0.5(-); P=3
    // cuts: tp/fp = 1/0, 1/1, 2/1, 3/1, 3/2
    // F1 = 2tp/(tp+fp+P): 2/4, 2/5, 4/6, 6/7, 6/8 → peak 6/7
    val df = Seq((0.9, 1.0), (0.8, 0.0), (0.7, 1.0), (0.6, 1.0), (0.5, 0.0))
      .toDF("score", "label")
    assert(math.abs(Evaluators.peakF1(df, "score", "label") - 6.0 / 7) < 1e-12)
  }

  test("log-likelihood and AIC match hand computation") {
    val df = Seq((0.9, 1.0), (0.2, 0.0), (0.6, 1.0)).toDF("prob", "label")
    val want = math.log(0.9) + math.log(0.8) + math.log(0.6)
    assert(math.abs(Evaluators.logLikelihood(df, "prob", "label") - want)
      < 1e-12)
    assert(math.abs(Evaluators.aic(df, "prob", "label", 3) -
      (6.0 - 2 * want)) < 1e-12)
  }

  test("confusion curve returns totals and consecutive points") {
    val df = Seq((0.9, 1.0), (0.8, 0.0), (0.8, 1.0), (0.5, 0.0))
      .toDF("score", "label")
    val (curve, p, n) = Evaluators.confusionCurve(df, "score", "label")
    assert(p == 2 && n == 2)
    val pts = curve.collect().sortBy(-_._1)
    assert(pts.map(c => (c._1, c._4, c._5)).toSeq ==
      Seq((0.9, 1L, 0L), (0.8, 2L, 1L), (0.5, 2L, 2L)))
    // each point's prev equals the previous point's cumulative
    assert(pts.sliding(2).forall { case Array(a, b) =>
      b._2 == a._4 && b._3 == a._5 })
  }

  test("curveMetrics shares one persisted curve across aupr and peakF1") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 300).map { _ =>
      val s = rnd.nextGaussian()
      (s, if (rnd.nextDouble() < PointwiseLoss.sigmoid(s)) 1.0 else 0.0)
    }.toDF("score", "label").repartition(4)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val m = Evaluators.curveMetrics(df, "score", "label")
    // the sorted-counts RDD is cached while the handle is open...
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty)
    // ...and each metric is one action over it, agreeing with one-shots
    val (aupr, pf1, auc) = (m.aupr, m.peakF1, m.auc)
    m.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(math.abs(aupr - Evaluators.aupr(df, "score", "label")) < 1e-12)
    assert(math.abs(pf1 - Evaluators.peakF1(df, "score", "label")) < 1e-12)
    assert(math.abs(auc - Evaluators.auc(df, "score", "label")) < 1e-12)
  }

  test("confusionCurve leaves no cached RDD behind and stays correct") {
    val df = Seq((0.9, 1.0), (0.8, 0.0), (0.5, 1.0)).toDF("score", "label")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (curve, p, n) = Evaluators.confusionCurve(df, "score", "label")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    // the returned curve recomputes correctly after the unpersist
    assert(p == 2 && n == 1)
    assert(curve.collect().sortBy(-_._1).map(c => (c._4, c._5)).toSeq ==
      Seq((1L, 0L), (1L, 1L), (2L, 1L)))
  }

  test("betterThan follows metric direction") {
    assert(Evaluators.betterThan("auc", 0.9, 0.8))
    assert(Evaluators.betterThan("rmse", 0.8, 0.9))
  }

  test("calibrationBins: edges fold in, score 1.0 lands in the top bin") {
    val df = Seq(
      (0.00, 0.0), (0.05, 0.0), (0.10, 0.0), (0.95, 1.0), (1.00, 1.0))
      .toDF("score", "label")
    val got = Evaluators.calibrationBins(df, "score", "label", 10)
      .as[(Int, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 0.00, 0.05 → bin 0; 0.10 → bin 1; 0.95 and 1.00 → bin 9
    assert(got.keySet == Set(0, 1, 9))
    assert(got(0) == ((2L, 0.025, 0.0)))
    assert(got(1) == ((1L, 0.1, 0.0)))
    assert(got(9) == ((2L, 0.975, 1.0)))
  }
}
