package graft

import graft.operators.Tier

/** The session-level tier pin: one setting, three values, scoped
  * pins that always restore, and a forbidding pin that never pays
  * for a gate. */
class TierSpec extends SparkSpec {

  test("an unknown pin value is rejected, naming the allowed values") {
    val e = intercept[IllegalArgumentException](Tier.pinned(spark, "local")(()))
    assert(e.getMessage.contains("auto, model, distributed"), e.getMessage)
    // a value set directly on the session is rejected when read
    spark.conf.set(Tier.Key, "local")
    try {
      intercept[IllegalArgumentException](Tier.allows(spark, Tier.Input)(true))
    } finally spark.conf.unset(Tier.Key)
  }

  test("pinned restores the previous value when its block throws") {
    val before = spark.conf.getOption(Tier.Key)
    Tier.pinned(spark, "model") {
      intercept[IllegalStateException] {
        Tier.pinned(spark, "distributed") {
          assert(spark.conf.get(Tier.Key) === "distributed")
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.get(Tier.Key) === "model")
    }
    assert(spark.conf.getOption(Tier.Key) === before)
  }

  test("under distributed the fits thunk is never evaluated") {
    var evaluated = 0
    def fits: Boolean = { evaluated += 1; true }
    Tier.pinned(spark, "distributed") {
      assert(!Tier.allows(spark, Tier.Input)(fits))
      assert(!Tier.allows(spark, Tier.Model)(fits))
    }
    assert(evaluated === 0)
    // model admits only Model tiers; auto admits both
    Tier.pinned(spark, "model") {
      assert(!Tier.allows(spark, Tier.Input)(fits))
      assert(Tier.allows(spark, Tier.Model)(fits))
    }
    assert(evaluated === 1)
    assert(Tier.allows(spark, Tier.Input)(fits) && Tier.allows(spark, Tier.Model)(fits))
    assert(evaluated === 3)
  }
}
