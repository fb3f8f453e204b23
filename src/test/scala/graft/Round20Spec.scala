package graft

import graft.ops.{NearDup, Relational, SessionIso}
import org.apache.spark.sql.functions._

/** Round-20 contract pins: the explicit fewKeySaltedJoin fan override
  * (r19 VERDICT ask #7) and the CC child-session conf copy-AND-UNDO
  * rule (r20 ADVICE: a key unset on the parent between CC calls must
  * not survive on the reused cached child).
  */
class Round20Spec extends SparkSpec {

  private def sides = {
    import spark.implicits._
    val l = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("k", "lv")
    val r = Seq((1L, 100L), (2L, 200L), (2L, 201L), (4L, 400L))
      .toDF("k", "rv")
    (l, r)
  }

  test("fewKeySaltedJoin with an explicit fan matches the plain join " +
      "row for row") {
    val (l, r) = sides
    val plain = l.join(r, Seq("k")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted
    for (fan <- Seq(2, 4, 7)) {
      val salted = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
          col("lv"), 2, Some(fan)).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted
      assert(salted === plain, s"fan=$fan diverged from the plain join")
    }
  }

  test("explicit fan <= 1 degrades to the plain join (no __salt in " +
      "the plan), and None preserves the derived default") {
    val (l, r) = sides
    val planFan1 = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
      col("lv"), 2, Some(1)).queryExecution.analyzed.toString
    assert(!planFan1.contains("__salt"),
      "fan=1 must plan the plain join, no salt column")
    val plain = l.join(r, Seq("k")).collect().length
    assert(Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
      col("lv"), 2, Some(0)).collect().length == plain)
    // None == the 6-arg overload, bit for bit (same derived fan)
    val a = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
      col("lv"), 2, None).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted
    val b = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
      col("lv"), 2).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted
    assert(a === b)
  }

  test("explicit fan > 1 actually salts: the right side is replicated " +
      "fan ways in the plan") {
    val (l, r) = sides
    val plan = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
      col("lv"), 2, Some(3)).queryExecution.analyzed.toString
    assert(plan.contains("__salt"),
      "an explicit fan of 3 must engage the salted spelling even " +
        "where the derived fan would be 1")
  }

  test("CC conf copy UNDOES keys unset on the parent between calls " +
      "(r20 ADVICE: no drifted semantics on the cached child)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val key = "spark.graft.test.r20marker"
    spark.conf.set(key, "set-before-first-call")
    try {
      NearDup.connectedComponents(pairs).collect()
      assert(SessionIso.childConf(spark, key)
        .contains("set-before-first-call"),
        "the conf copy must carry a parent runtime key onto the child")
      // the footgun: unset on the parent, then reuse the cached child
      spark.conf.unset(key)
      NearDup.connectedComponents(pairs).collect()
      assert(SessionIso.childConf(spark, key).isEmpty,
        "a key unset on the parent survived on the cached child — " +
          "the CC loop would plan under drifted semantics")
    } finally spark.conf.unset(key)
  }

  test("CC conf copy tracks value CHANGES too (latest parent value " +
      "wins on the reused child)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val key = "spark.graft.test.r20marker2"
    spark.conf.set(key, "v1")
    try {
      NearDup.connectedComponents(pairs).collect()
      spark.conf.set(key, "v2")
      NearDup.connectedComponents(pairs).collect()
      assert(SessionIso.childConf(spark, key).contains("v2"))
    } finally spark.conf.unset(key)
  }
}
