package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing, without a session. */
class EngineSessionSpec extends AnyFunSuite {
  import EngineSession.parseConfs

  test("SPARK_GRAFT_CONF parses key=value entries, spaces and empty " +
    "entries ignored") {
    assert(parseConfs(" a.b = 4;c=x=y;d=;;") ==
      Seq("a.b" -> "4", "c" -> "x=y", "d" -> ""))
    assert(parseConfs("") == Nil && parseConfs(" ; ") == Nil)
  }

  test("SPARK_GRAFT_CONF rejects an entry that is not key=value, " +
    "naming it") {
    for (bad <- Seq("spark.sql.adaptive.enabled:true", "=true", " = 4")) {
      val e = intercept[IllegalArgumentException](
        parseConfs(s"spark.sql.shuffle.partitions=4;$bad;"))
      assert(e.getMessage.contains(s"`${bad.trim}`"), e.getMessage)
    }
  }
}
