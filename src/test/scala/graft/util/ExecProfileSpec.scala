package graft.util

import graft.SparkSpec

/** The session-conf scopes: the input-size-derived shuffle width
  * (activation boundary, graceful no-op on non-integer session widths)
  * and the exact restore every scope shares. */
class ExecProfileSpec extends SparkSpec {

  private val SpKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  test("derivedWidth clamps at the session width for large inputs and " +
    "narrows proportionally for small ones") {
    // session width is 4 (SparkSpec); 25k rows/partition line
    assert(ExecProfile.derivedWidth(spark, 1000000L, 25000L)
      .contains(4))
    assert(ExecProfile.derivedWidth(spark, 100000L, 25000L).contains(4))
    assert(ExecProfile.derivedWidth(spark, 30000L, 25000L).contains(2))
    assert(ExecProfile.derivedWidth(spark, 10L, 25000L).contains(1))
    assert(ExecProfile.derivedWidth(spark, 0L, 25000L).contains(1))
  }

  test("withDerivedShuffle narrows + disables AQE only when active, " +
    "and restores the exact prior conf values afterwards") {
    val spBefore = spark.conf.get(SpKey)
    val aqeBefore = spark.conf.getOption(AqeKey)
    // large input: the scope must be a no-op — confs untouched inside
    ExecProfile.withDerivedShuffle(spark, rows = 1000000L, 25000L) {
      assert(spark.conf.get(SpKey) == spBefore)
    }
    // small input: narrowed width + AQE off inside, restored after
    ExecProfile.withDerivedShuffle(spark, rows = 10L, 25000L) {
      assert(spark.conf.get(SpKey) == "1")
      assert(spark.conf.get(AqeKey) == "false")
    }
    assert(spark.conf.get(SpKey) == spBefore)
    assert(spark.conf.getOption(AqeKey) == aqeBefore)
  }

  test("withDerivedShuffle restores confs when the body throws, and " +
    "codegenOff rides the active scope") {
    val spBefore = spark.conf.get(SpKey)
    // the derived scope, and the fixture conf set through withConfs
    // directly: both switch codegen off, and both restore on a throw
    val scopes = Seq[(() => Unit) => Unit](
      body => ExecProfile.withDerivedShuffle(spark, 10L, 25000L,
        codegenOff = true)(body()),
      body => ExecProfile.withConfs(spark, ExecProfile.FixtureConfs)(body()))
    scopes.foreach { scope =>
      intercept[RuntimeException] {
        scope { () =>
          assert(spark.conf.get("spark.sql.codegen.wholeStage") == "false")
          throw new RuntimeException("boom")
        }
      }
      assert(spark.conf.get(SpKey) == spBefore)
      assert(spark.conf.getOption("spark.sql.codegen.wholeStage")
        .forall(_ != "false"))
    }
  }

  test("a fixture gate leaves each of its five confs as it found them, " +
    "an unset key unset") {
    val abt = "spark.sql.autoBroadcastJoinThreshold"
    val keys = Seq(AqeKey, SpKey, "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode", abt)
    spark.conf.unset(abt)
    def state() = keys.map(k =>
      (k, spark.conf.getOption(k), spark.conf.getAll.contains(k)))
    val before = state()
    assert(before.exists { case (k, _, set) => k == abt && !set })
    graft.SparkEntry.queries("q258_fleet_delete")(spark, sf("sf0.001"))
      .collect()
    assert(state() == before)
  }

  // NOTE: the non-integer-width fallback (derivedWidth -> None, scope
  // inert) cannot be exercised through spark.conf here — stock Spark 4
  // validates spark.sql.shuffle.partitions as int at set() time; the
  // Try-parse guards vendor builds where the session inherits "auto".
}
