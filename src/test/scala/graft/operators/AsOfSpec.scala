package graft.operators

import graft.SparkSpec
import graft.operators.join.AsOf

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  // left: (key, ts, tag); right: (key, ts, rid, attr)
  private def left =
    Seq(("a", 100L, "l1"), ("a", 200L, "l2"), ("a", 50L, "l0"),
      ("b", 100L, "l3"))
      .toDF("k", "ts", "tag")
  private def right =
    Seq(("a", 100L, 10L, "r@100"), ("a", 150L, 11L, "r@150"),
      ("a", 60L, 12L, "r@60"))
      .toDF("k", "rts", "rid", "attr")

  private def backward(strict: Boolean = false, tol: Option[Long] = None) =
    AsOf.joinBackward(left, right, Seq("k"), "ts", "rts", Seq("attr"),
      rightTie = "rid", strict = strict, tolerance = tol)
      .collect().map(r => r.getAs[String]("tag") ->
        (Option(r.getAs[Any]("asof_ts")), Option(r.getAs[String]("attr"))))
      .toMap

  test("backward inclusive matches the row at the exact left timestamp") {
    val m = backward()
    assert(m("l1") == (Some(100L), Some("r@100")))   // rts == ts visible
    assert(m("l2") == (Some(150L), Some("r@150")))   // most recent <= 200
    assert(m("l0") == (None, None))                  // nothing at or before 50
    assert(m("l3") == (None, None))                  // key 'b' has no rights
  }

  test("backward strict excludes the equal-timestamp row") {
    val m = backward(strict = true)
    assert(m("l1") == (Some(60L), Some("r@60")))     // rts == ts now invisible
    assert(m("l2") == (Some(150L), Some("r@150")))
  }

  test("tolerance nulls out matches farther back than the bound") {
    val m = backward(tol = Some(10L))
    assert(m("l1") == (Some(100L), Some("r@100")))   // gap 0 <= 10
    assert(m("l2") == (None, None))                  // gap 50 > 10
  }

  test("equal-timestamp right rows resolve to the greatest tiebreak") {
    val r2 = Seq(("a", 100L, 5L, "low"), ("a", 100L, 9L, "high"))
      .toDF("k", "rts", "rid", "attr")
    val out = AsOf.joinBackward(
      Seq(("a", 120L, "l")).toDF("k", "ts", "tag"),
      r2, Seq("k"), "ts", "rts", Seq("attr"), rightTie = "rid")
      .collect()
    assert(out.length == 1 && out.head.getAs[String]("attr") == "high")
  }

  test("all left columns and rows are preserved") {
    val out = AsOf.joinBackward(left, right, Seq("k"), "ts", "rts",
      Seq("attr"), rightTie = "rid")
    assert(out.count() == left.count())
    assert(out.columns.toSeq == Seq("k", "ts", "tag", "asof_ts", "attr"))
  }

  test("one shuffle: the sweep plans a single exchange on the key") {
    val out = AsOf.joinBackward(left, right, Seq("k"), "ts", "rts",
      Seq("attr"), rightTie = "rid")
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange hashpartitioning".r
      .findAllMatchIn(plan).length
    assert(exchanges == 1, s"expected one key exchange, plan:\n$plan")
  }

  test("payload name collisions with left columns are rejected") {
    val badLeft = left.withColumnRenamed("tag", "attr")
    val e = intercept[IllegalArgumentException] {
      AsOf.joinBackward(badLeft, right, Seq("k"), "ts", "rts",
        Seq("attr"), rightTie = "rid")
    }
    assert(e.getMessage.contains("collide"))
  }
}
