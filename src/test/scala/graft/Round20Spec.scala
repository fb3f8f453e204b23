package graft

import graft.ops.{NearDup, SessionIso}

/** Round-20 contract pins: the CC child-session conf copy-AND-UNDO
  * rule (r20 ADVICE: a key unset on the parent between CC calls must
  * not survive on the reused cached child).
  */
class Round20Spec extends SparkSpec {

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
