package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational-family scale point beyond the sf0.1 fixture: builds a
  * k× `lineitem`/`orders` (default k=4 ≈ sf0.4-equivalent) by
  * unioning the sf0.1 tables with order keys shifted into disjoint
  * ranges, then times the join/agg family against the linear fit
  * `t(sf) = fixed + rate·sf` derived from the committed sf0.01/sf0.1
  * artifacts. The corpus surface has its 200×-sf0.1 evidence in
  * SCALE.md (measured by a since-retired main, reproducible from
  * commit 53c0810); this closes the same gap for the relational family,
  * where the crossover claim was extrapolated from two points.
  *
  * Key shifting preserves every join's semantics at k× the data:
  * `o_orderkey`/`l_orderkey` shift together (each replica joins only
  * itself — per-key fan-in is unchanged, total join work scales k×),
  * while `o_custkey`/part/supplier keys stay fixed (dimensions don't
  * grow when the fact stream does; per-customer order counts scale
  * k×, which is what a growing business looks like). The scaled
  * tables are written as REAL multi-file parquet (32 splits) so scan
  * parallelism matches a production layout rather than the fixtures'
  * single-row-group files.
  */
object ScaleRelational {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = sys.env.getOrElse("SPARK_GRAFT_K", "4").toInt
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SCALE_OUT keeps the scaled parquet around (so the
    // same tables can be fed to tools/bench_duck.py for the DuckDB
    // side of the scale point); default is a temp dir deleted after
    // spark.stop() — repeated runs used to leak multi-hundred-MB
    // replica sets (r8 ADVICE).
    val keepOut = sys.env.get("SPARK_GRAFT_SCALE_OUT")
    val out = keepOut.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-sfk").toString)
    // the whole run sits in try/finally so a failed query/write still
    // deletes the multi-hundred-MB replica set (r9 ADVICE: the
    // success-path-only cleanup leaked on any failure)
    try {
    // disjoint key ranges per replica: shift by a power-of-ten span
    // above the max key so replica i's orders only match replica i's
    // lineitems
    val maxKey = graft.ops.Sources.table(spark, sf01, "orders")
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val span = math.pow(10, math.ceil(math.log10(maxKey.toDouble + 1))).toLong

    def replicate(name: String, keyCols: Seq[String]): Unit = {
      val base = graft.ops.Sources.table(spark, sf01, name)
      val reps = (0 until k).map { i =>
        keyCols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * span)) }
      }
      reps.reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    def copy(name: String): Unit =
      graft.ops.Sources.table(spark, sf01, name)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    replicate("orders", Seq("o_orderkey"))
    replicate("lineitem", Seq("l_orderkey"))
    Seq("customer", "nation", "region", "part", "supplier").foreach(copy)

    val family = Seq("agg_group", "agg_profile", "agg_rollup", "join_dim",
      "join_fact", "join_semi", "join_anti", "join_multiway", "join_topk",
      "set_except", "set_intersect", "sort_topk", "cohort_retention",
      "snapshot_diff", "window_rank")
    def once(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets the optimizer prune the
      // computed columns (the r12 Bench forcing fix — see Bench.scala)
      fn(spark, out).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-2 adjacent, the bench's steady-state rule
    val times = family.map { q =>
      val fn = SparkEntry.queries(q)
      q -> math.min(once(fn), once(fn))
    }
    // linear fit from the committed artifacts, when present
    def load(p: String): Map[String, Double] = {
      val exists = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
      val m: Map[String, Double] =
        try {
          val s = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p)))
          val open = s.indexOf('{', s.indexOf("\"queries\"") + 9)
          s.substring(open + 1, s.indexOf('}', open)).split(",")
            .map(_.split(":")).collect {
              case Array(n, v) => n.replace("\"", "").trim -> v.trim.toDouble
            }.toMap
        } catch { case _: Throwable => Map.empty }
      // an existing-but-unparseable artifact must not silently print
      // 0.0/— in the predicted column (r8 ADVICE)
      if (exists && m.isEmpty)
        System.err.println(s"WARNING: $p exists but parsed to no queries — predicted column will be blank")
      m
    }
    val t001 = load("BENCH_LOCAL_SF001.json")
    val t01 = load("BENCH_LOCAL.json")
    val sfEq = 0.1 * k
    println(f"%n== relational family at ~sf$sfEq%.1f (k=$k, multi-file layout) ==")
    println(f"${"query"}%-18s measured   predicted (fixed+rate*sf fit)")
    var meas, pred = 0.0
    times.foreach { case (q, t) =>
      val p = for (a <- t001.get(q); b <- t01.get(q)) yield {
        val rate = (b - a) / 0.09
        math.max(0, a - rate * 0.01) + rate * sfEq
      }
      meas += t; pred += p.getOrElse(0.0)
      println(f"$q%-18s $t%7.2f s   ${p.map(v => f"$v%7.2f s").getOrElse("      — ")}")
    }
    println(f"${"TOTAL"}%-18s $meas%7.2f s   $pred%7.2f s")
    } finally {
      spark.stop()
      if (keepOut.isEmpty) {
        import java.nio.file.{Files, Paths, Path}
        import java.util.Comparator
        val root = Paths.get(out)
        if (Files.exists(root))
          scala.util.Using.resource(Files.walk(root)) { walk =>
            walk.sorted(Comparator.reverseOrder[Path]())
              .forEach(p => Files.deleteIfExists(p): Unit)
          }
      } else println(s"scaled parquet kept at: $out")
    }
  }
}
