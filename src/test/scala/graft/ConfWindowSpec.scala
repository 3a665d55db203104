package graft

class ConfWindowSpec extends SparkSpec {
  // keys no other spec sets, so each test controls their state
  private val key = "spark.graft.confWindowSpec.a"
  private val other = "spark.graft.confWindowSpec.b"

  private def explicit(k: String): Option[String] =
    spark.conf.getAll.get(k)

  test("nested windows: the outermost value holds, the last exit restores") {
    spark.conf.set(key, "123")
    try {
      ConfWindow(spark, key -> "456") {
        assert(spark.conf.get(key) == "456")
        ConfWindow(spark, key -> "789", other -> "3") {
          assert(spark.conf.get(key) == "456")
          assert(spark.conf.get(other) == "3")
        }
        assert(spark.conf.get(key) == "456", "an inner exit must not restore")
        assert(explicit(other).isEmpty)
      }
      assert(spark.conf.get(key) == "123")
    } finally spark.conf.unset(key)
  }

  test("a window restores its keys when the block throws") {
    spark.conf.set(key, "123")
    try {
      intercept[IllegalStateException] {
        ConfWindow(spark, key -> "456") {
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.get(key) == "123")
      // the window is fully closed: a fresh one saves and restores again
      ConfWindow(spark, key -> "789")(assert(spark.conf.get(key) == "789"))
      assert(spark.conf.get(key) == "123")
    } finally spark.conf.unset(key)
  }

  test("a key the session never set is restored by unset") {
    assert(explicit(other).isEmpty)
    ConfWindow(spark, other -> "on") {
      assert(explicit(other).contains("on"))
    }
    assert(explicit(other).isEmpty,
      "the window left an explicit setting behind")
  }
}
