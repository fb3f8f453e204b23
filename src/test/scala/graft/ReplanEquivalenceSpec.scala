package graft

import graft.ops.TextSim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression guards for the round-6 plan rewrites: each rewritten
  * query folded a join or per-row frame aggregate into a cheaper
  * equivalent, and these tests pin the CLAIM of that fold — the new
  * formulation computes the same values as the naive one it replaced
  * — on the real fixtures, so a future edit that breaks the algebra
  * (not just the oracle hash at one SF) fails loudly here.
  */
class ReplanEquivalenceSpec extends SparkSpec {

  test("window_anomaly: cum-minus-lag frame sums equal direct frame aggregates") {
    // the naive formulation the rewrite replaced, on the same input
    val frame = 10
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(-(frame - 1), 0)
    val naive = graft.ops.Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).over(w)
          .cast(DoubleType).as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(18, 6))).over(w)
          .cast(DoubleType).as("sxx"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // the shipped formulation, surfaced via its intermediate columns:
    // re-derive n/sx/sxx exactly as windowAnomaly does
    val wOrd = Window.partitionBy("user_id").orderBy(col("tsm"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def trailing(cum: org.apache.spark.sql.Column) =
      (cum - coalesce(lag(cum, frame).over(wOrd), lit(0))).cast(DoubleType)
    val rewritten = graft.ops.Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsm"), col("value"))
      .select(col("user_id"), col("event_id"), col("tsm"),
        row_number().over(wOrd).as("rn"),
        sum(col("value").cast(DecimalType(18, 4))).over(wCum).as("cx"),
        sum((col("value") * col("value")).cast(DecimalType(18, 6)))
          .over(wCum).as("cxx"))
      .select(col("user_id"), col("event_id"),
        least(col("rn"), lit(frame)).cast(LongType).as("n"),
        trailing(col("cx")).as("sx"), trailing(col("cxx")).as("sxx"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(rewritten.keySet == naive.keySet)
    rewritten.foreach { case (k, v) =>
      assert(v == naive(k), s"frame stats diverge at $k: $v vs ${naive(k)}")
    }
    assert(naive.nonEmpty)
  }

  test("text_tfidf: window document frequency equals aggregate-join df") {
    val d = graft.ops.Sources.table(spark, sf, "documents").select(col("doc_id"), col("text"))
    val tf = d.select(col("doc_id"), explode(TextSim.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val joined = tf.join(
        tf.groupBy("token").agg(count(lit(1)).as("df")), "token")
      .select("doc_id", "token", "df")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val windowed = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .select("doc_id", "token", "df")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(windowed == joined && windowed.nonEmpty)
  }

  test("text_bigram_lm: window bigram/head counts equal aggregate-join counts") {
    val bg = graft.ops.Sources.table(spark, sf, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 1)," +
          " i -> struct(words[i - 1] AS w1, words[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bf = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val uf = bf.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val joined = bg.join(bf, Seq("w1", "w2")).join(uf, Seq("w1"))
      .groupBy("w1", "w2", "c2", "c1").count()
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val windowed = bg
      .withColumn("c2", count(lit(1)).over(Window.partitionBy("w1", "w2")))
      .withColumn("c1", count(lit(1)).over(Window.partitionBy("w1")))
      .groupBy("w1", "w2", "c2", "c1").count()
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(windowed == joined && windowed.nonEmpty)
  }

  test("kmeans early exit is lossless: converged centroids match a long run") {
    import spark.implicits._
    // separable fixture converges in a few rounds; after the bit-exact
    // fixed point, every further iteration is a no-op — so a 50-iter
    // budget must return exactly the centroids of a 5-iter budget
    val pts = (0 until 30).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(4)(d =>
        (c * 100.0 + (i / 3) * 0.01 + d * 0.001).toFloat))
    }
    val emb = pts.toDF("vec_id", "embedding")
    val short = graft.ops.Cluster.kmeansCentroids(emb, 3, 5)
    val long = graft.ops.Cluster.kmeansCentroids(emb, 3, 50)
    assert(short.length == long.length)
    short.indices.foreach { i =>
      assert(java.util.Arrays.equals(short(i), long(i)),
        s"centroid $i diverged between iteration budgets")
    }
  }

  test("join_fact: aggregate-below-join equals the join-then-aggregate form") {
    import graft.ops.{Num, Relational, Sources}
    // the superseded r6 shape: join first, aggregate the joined stream
    val naive = Sources.table(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority")
      .join(Sources.table(spark, sf, "lineitem")
          .select(col("l_orderkey"), (col("l_extendedprice") *
            (lit(1) - col("l_discount"))).as("disc_price")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(Num.dsum(col("disc_price"), 6).as("revenue"),
        count(lit(1)).as("n_items"))
      .collect().map(r => r.get(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    val shipped = Relational.joinFact(spark, sf)
      .collect().map(r => r.get(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    assert(shipped == naive && shipped.nonEmpty)
  }

  test("set_except: anti-join + distinct build equals Dataset.except") {
    import graft.ops.{Relational, Sources}
    val viaExcept = Sources.table(spark, sf, "orders").select("o_orderkey")
      .except(Sources.table(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o_orderkey")))
      .collect().map(_.get(0)).toSet
    val shipped = Relational.setExcept(spark, sf).collect().map(_.get(0)).toSet
    assert(shipped == viaExcept)
  }

  test("set_except generic path: <=> anti-join matches Dataset.except on nullable keys") {
    import spark.implicits._
    // the doc-comment on Relational.setExcept promises null-safe <=>
    // for nullable keys; pin that the generic formulation agrees with
    // EXCEPT's null-safe semantics (null present in BOTH relations
    // must be excluded; null only on the left must survive)
    val left = Seq(Option(1L), Option(2L), None, None, Option(5L)).toDF("k")
    val right = Seq(Option(2L), None).toDF("k")
    val generic = left.join(right.distinct(), left("k") <=> right("k"),
        "left_anti").distinct()
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    val expected = left.except(right)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(generic == expected && expected == Set(Some(1L), Some(5L)))
    // and a left-only null must survive both forms identically
    val left2 = Seq(Option(1L), None).toDF("k")
    val right2 = Seq(Option(1L)).toDF("k")
    val generic2 = left2.join(right2.distinct(), left2("k") <=> right2("k"),
        "left_anti").distinct()
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    val expected2 = left2.except(right2)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(generic2 == expected2 && expected2 == Set(None))
  }

  test("text_repetition: per-row sorted-run fold equals the aggregate-join form") {
    // the superseded r6 shape: second explode of the token stream, a
    // per-doc count-distinct shuffle, and a join to merge the halves —
    // a full differential oracle for the r8 zero-shuffle projection
    // (max run in the sorted bigram array == max bigram multiplicity)
    val words = graft.ops.Sources.table(spark, sf, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 2)
    val wordStats = words
      .select(col("doc_id"), size(col("words")).cast(LongType).as("n_words"),
        explode(col("words")).as("w"))
      .groupBy("doc_id", "n_words")
      .agg(countDistinct(col("w")).as("distinct_words"))
    val bigramStats = words
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 1)," +
          " i -> concat(words[i - 1], ' ', words[i]))")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("n_bigrams"))
    val naive = wordStats.join(bigramStats, "doc_id")
      .select(col("doc_id"), col("n_words"), col("top_bigram_n"),
        round(col("top_bigram_n") / col("n_bigrams"), 4).as("top_bigram_frac"),
        col("distinct_words"),
        round(lit(1.0) - col("distinct_words") / col("n_words"), 4)
          .as("dup_word_frac"))
      .withColumn("repetitive",
        col("top_bigram_frac") > 0.18 || col("dup_word_frac") > 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.get(3), r.get(4), r.get(5), r.get(6))).toMap
    val shipped = TextSim.textRepetition(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.get(1), r.get(2), r.get(3), r.get(4), r.get(5), r.get(6))).toMap
    assert(shipped == naive && shipped.nonEmpty)
  }

  test("dedup_containment: riding denominators equal the sizes-join form") {
    import graft.ops.{NearDup, Sources}
    val docs = Sources.table(spark, sf, "documents")
    val maxDf = NearDup.DefaultMaxDf
    val minContain = NearDup.DefaultMinContain
    // the superseded r6 shape: shingle twice, aggregate per-doc sizes
    // separately, join them back onto the candidate pairs twice
    val perDoc = docs.select(col("doc_id"),
      array_distinct(graft.functions.VectorFunctions
        .shingle(split(lower(col("text")), "\\s+"), 3)).as("grams"))
    val sizes = perDoc.select(col("doc_id"), size(col("grams")).as("ng"))
    val posts = perDoc
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy("gram").agg(collect_set(col("doc_id")).as("docs"))
      .filter(size(col("docs")) <= maxDf)
    val naive = posts
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("ng").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("ng").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast(DoubleType) / col("na").cast(DoubleType), 4)
          .as("contain_a_in_b"),
        round(col("shared").cast(DoubleType) / col("nb").cast(DoubleType), 4)
          .as("contain_b_in_a"))
      .filter(greatest(col("contain_a_in_b"), col("contain_b_in_a"))
        >= minContain)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val shipped = NearDup.dedupContainment(docs, 3, maxDf, minContain)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(shipped == naive && shipped.nonEmpty)
  }

  test("cohort_retention: collect_set months equals the cohort-join form") {
    import graft.ops.Sources
    // the superseded r7 shape: first-month aggregate joined back onto
    // the order stream, countDistinct over the joined result
    val o = Sources.table(spark, sf, "orders")
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
    val cohort = o.groupBy("o_custkey").agg(min(col("ym")).as("cohort"))
    val naive = o.join(cohort, "o_custkey")
      .groupBy("cohort", "ym")
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val shipped = graft.ops.Relational.cohortRetention(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(shipped == naive && shipped.nonEmpty)
  }

  test("snapshot_diff: union-merge equals the full-outer-join form") {
    import graft.ops.Sources
    val orders = Sources.table(spark, sf, "orders")
    val old = orders.filter(col("o_orderkey") % 10 =!= 9)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("old_price"))
    val nw = orders.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("key"),
        (when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice"))).as("new_price"))
    val naive = old.join(nw, Seq("key"), "full_outer")
      .withColumn("verdict",
        when(col("new_price").isNull, "removed")
          .when(col("old_price").isNull, "added")
          .when(col("old_price") =!= col("new_price"), "changed"))
      .filter(col("verdict").isNotNull)
      .select(col("key"), col("verdict"), col("old_price"), col("new_price"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.get(2), r.get(3))).toMap
    val shipped = graft.ops.Relational.snapshotDiff(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.get(2), r.get(3))).toMap
    assert(shipped == naive && shipped.nonEmpty)
  }

  test("dedup_time_window: min-struct aggregate equals the rank-window form") {
    import graft.ops.Sources
    val w = Window.partitionBy("user_id", "event_type", "hour_start")
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val naive = Sources.table(spark, sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"),
        col("event_id"), col("ts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "hour_start", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.get(2)) ->
        r.getLong(3)).toMap
    val shipped = graft.ops.TimeOps.dedupTimeWindow(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.get(2)) ->
        r.getLong(3)).toMap
    assert(shipped == naive && shipped.nonEmpty)
  }

  test("text_entropy: single-aggregate fold equals the three-stage shape") {
    def lnd(c: org.apache.spark.sql.Column) = round(log(c), 8)
    val tf = graft.ops.Sources.table(spark, sf, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"), explode(TextSim.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val totals = tf.groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_distinct"))
    val naive = tf.join(totals, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (lnd(col("tf")).cast(DecimalType(18, 8)) * col("tf")).as("term"))
      .groupBy("doc_id", "n_tokens", "n_distinct")
      .agg(round(lnd(col("n_tokens")) -
        sum(col("term")).cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 4).as("entropy"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val shipped = TextSim.textEntropy(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(shipped == naive && shipped.nonEmpty)
  }
}
