package graft

import graft.functions.VectorFunctions

/** `VectorFunctions.functions` is the whole SQL surface of graft's
  * kernels: one `registerAll` makes every name resolve on any session,
  * and the Column helpers build their kernels directly, so what SQL
  * text can call never depends on which helper ran earlier in the
  * session.
  */
class FunctionTableSpec extends SparkSpec {

  /** One minimal call per table name. */
  private val calls = Map(
    "graft_dot" -> "graft_dot(array(1D, 2D), array(3D, 4D))",
    "graft_winnow" -> "graft_winnow('abcdefgh', 3, 2)",
    "graft_winnow_md5" -> "graft_winnow_md5('abcdefgh', 3, 2)",
    "graft_shingle" -> "graft_shingle(array('a', 'b', 'c'), 2)",
    "graft_shingle_str" -> "graft_shingle_str(array('a', 'b', 'c'), 2)",
    "graft_shingle2" -> "graft_shingle2(array('a', 'b', 'c'), 2)",
    "graft_bigram_top" -> "graft_bigram_top(array('a', 'b', 'a', 'b'))",
    "graft_token_entropy" -> "graft_token_entropy(array('a', 'b', 'a'))",
    "graft_token_counts" -> "graft_token_counts(array('a', 'b', 'a'))",
    "graft_token_counts_text" -> "graft_token_counts_text('a b a')",
    "graft_argmin_centroid_col" ->
      "graft_argmin_centroid_col(array(1D), array(0D, 2D), array(0D, 4D))",
    "graft_centroid_sums" ->
      "graft_centroid_sums(0, array(1D), array(0D), 1, 1)",
    "graft_dbits" -> "graft_dbits(1.5D)",
    "graft_minhash" -> "graft_minhash('a')",
    "graft_simhash" -> "graft_simhash('a')")

  test("every table name resolves from SQL on a fresh session after " +
      "registerAll") {
    assert(VectorFunctions.functions.map(_._1.funcName).toSet == calls.keySet)
    val s = spark.newSession()
    VectorFunctions.registerAll(s)
    calls.toSeq.sortBy(_._1).foreach { case (name, call) =>
      withClue(s"$name: ") {
        assert(s.sql(s"SELECT $call AS r").collect().length == 1)
      }
    }
  }

  test("Column helpers leave the session's function registry unchanged") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    ops.NearDup.dedupBloom(s, sf)
    ops.NearDup.dedupBloom(s, sf)
    ops.TextSim.textRepetition(s, sf)
    ops.Aggregates.aggMinmaxBy(s, sf)
    val added = registry.listFunction().toSet -- before
    assert(added.isEmpty, s"helpers registered ${added.mkString(", ")}")
  }
}
