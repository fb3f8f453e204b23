package graft

import graft.ops.{Relational, Sources}
import org.apache.spark.sql.functions._

/** The skew-handling utility: salted join must be row-for-row
  * equivalent to the plain equi-join and actually spread a hot key
  * over the salt space.
  */
class SaltedJoinSpec extends SparkSpec {

  test("saltedJoin equals plain join on skewed synthetic data") {
    import spark.implicits._
    // 10k rows, 90% on one hot key — the classic skew shape
    val fact = spark.range(10000)
      .select((when(col("id") % 10 =!= 0, 1L).otherwise(col("id")))
        .as("k"), col("id").as("payload"))
    val dim = Seq((1L, "hot"), (20L, "cold"), (30L, "cold"))
      .toDF("k", "label")
    val plain = fact.join(dim, Seq("k"))
    val salted = Relational.saltedJoin(fact, dim, "k", salts = 8,
      hotThreshold = 1000L)
    assert(salted.count() == plain.count())
    val a = salted.select("k", "payload", "label")
      .collect().map(_.toSeq).toSet
    val b = plain.select("k", "payload", "label")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("salting spreads the hot key across the salt space") {
    import spark.implicits._
    val fact = spark.range(10000).select(lit(1L).as("k"),
      col("id").as("payload"))
    val dim = Seq((1L, "hot")).toDF("k", "label")
    val salts = 8
    val saltCol = pmod(xxhash64(struct(col("k"), col("payload"))),
      lit(salts))
    val nBuckets = fact.withColumn("_salt", saltCol)
      .select("_salt").distinct().count()
    assert(nBuckets == salts,
      s"expected the hot key spread over $salts salts, got $nBuckets")
    // and the join still returns every row exactly once
    assert(Relational.saltedJoin(fact, dim, "k", salts,
      hotThreshold = 1000L).count() == 10000)
  }

  test("hot-key detection finds exactly the heavy hitters") {
    // key 1: 5000 rows; keys 2..100: 10 rows each
    val hot = spark.range(5000).select(lit(1L).as("k"))
    val cold = spark.range(990)
      .select((col("id") % 99 + 2).as("k"))
    val fact = hot.unionByName(cold)
    val hotKeys = Relational.detectHotKeys(fact, "k", hotThreshold = 1000L)
    assert(hotKeys == Seq(1L),
      s"expected only the crafted hot key, got $hotKeys")
    // threshold above the max per-key count -> nothing detected
    // (threshold 10000 takes the SAMPLED path; the exact verification
    // pass rejects any near-boundary sampling false positive)
    assert(Relational.detectHotKeys(fact, "k", hotThreshold = 10000L).isEmpty)
  }

  test("sampled detection path finds a genuinely hot key and only it") {
    // 30k-row hot key at threshold 10k: the 2% sample expects ~600
    // sampled rows against a sampled cutoff of 100 — detection is
    // certain, then exact-verified. 5k-row warm key must NOT salt.
    val hot = spark.range(30000).select(lit(7L).as("k"))
    val warm = spark.range(5000).select(lit(8L).as("k"))
    val cold = spark.range(1000).select((col("id") % 100 + 10).as("k"))
    val fact = hot.unionByName(warm).unionByName(cold)
    val got = Relational.detectHotKeys(fact, "k", hotThreshold = 10000L)
    assert(got == Seq(7L), s"expected the 30k key alone, got $got")
  }

  test("hot-key-aware salting: cold keys are NOT replicated, hot keys are") {
    // hot key 1 (6000 rows) + cold keys 2..50 (20 rows each)
    val fact = spark.range(6000).select(lit(1L).as("k"),
        col("id").as("payload"))
      .unionByName(spark.range(980)
        .select((col("id") % 49 + 2).as("k"), (col("id") + 100000).as("payload")))
    val dim = spark.range(60)
      .select((col("id") + 1).as("k"), concat(lit("d"), col("id")).as("label"))
    val salts = 8
    val salted = Relational.saltedJoin(fact, dim, "k", salts,
      hotThreshold = 1000L)
    val plain = fact.join(dim, Seq("k"))
    // row-for-row equivalence
    assert(salted.count() == plain.count())
    assert(salted.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
    // the explode (replication) branch exists, but its input is the
    // hot slice only: exactly one Generate in the plan, and the cold
    // union branch is a plain SortMergeJoin/ShuffledHashJoin with none
    // AQE's toString prints Final Plan + Initial Plan; count Final only
    val planStr = salted.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val nGenerate = "(?m)^.*Generate explode".r
      .findAllIn(planStr).length
    assert(nGenerate == 1,
      s"expected exactly one explode branch (hot slice), got $nGenerate\n$planStr")

    // and with no skew the machinery disengages entirely: no Generate
    val uniform = spark.range(1000)
      .select((col("id") % 100).as("k"), col("id").as("payload"))
    val plainPath = Relational.saltedJoin(uniform, dim, "k", salts,
      hotThreshold = 1000L)
    val planU = plainPath.queryExecution.executedPlan.toString
    assert(!planU.contains("Generate"),
      s"uniform keys must take the unsalted plain-join path\n$planU")
  }

  test("saltedJoin on real tables matches join_fact row multiplicity") {
    val li = Sources.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val o = Sources.table(spark, sf, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val plain = li.join(o, Seq("k")).count()
    val salted = Relational.saltedJoin(li, o, "k", salts = 4).count()
    assert(salted == plain)
  }

  test("fewKeySaltedJoin sizes its salted exchange to max(conf, cores) " +
      "and adds no exchange beyond the join's own (r22)") {
    // A keyed join's stage width is the session's shuffle-partition
    // conf; a conf below the core count caps the pair-scoring stage
    // no matter the salt fan (sf1 probe: 8 tasks x 14 s on 32 cores).
    // The salted exchange must therefore widen to defaultParallelism
    // when the conf is below it — and stay AT the conf when the conf
    // is wider (the production regime: conf >= cluster cores, no
    // behavior change).
    def widths(s: org.apache.spark.sql.SparkSession): (Seq[Int], Int) = {
      import org.apache.spark.sql.functions.{col, lit}
      val l = s.range(100).select(col("id").as("k"), lit(1).as("x"))
      val r = s.range(100).select(col("id").as("k"), lit(2).as("y"))
      val joined = Relational.fewKeySaltedJoin(s, l, r, Seq("k"),
        col("k"), nKeys = 1) // nKeys=1 -> fan = cores, always salted
      val p = joined.queryExecution.executedPlan.toString
      val ws = "hashpartitioning\\([^)]*?(\\d+)\\)".r
        .findAllMatchIn(p).map(_.group(1).toInt).toSeq
      (ws, "Exchange hashpartitioning".r.findAllIn(p).size)
    }
    val narrow = spark.newSession() // conf 2 < cores 4 -> widen to 4
    narrow.conf.set("spark.sql.shuffle.partitions", "2")
    narrow.conf.set("spark.sql.adaptive.enabled", "false")
    val (wN, nN) = widths(narrow)
    assert(wN.nonEmpty && wN.forall(_ ==
      narrow.sparkContext.defaultParallelism),
      s"salted exchange must widen to the cores, got $wN")
    assert(nN == 2, s"exactly the join's two exchanges, got $nN")
    val wide = spark.newSession() // conf 16 > cores 4 -> stay at conf
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    wide.conf.set("spark.sql.adaptive.enabled", "false")
    val (wW, nW) = widths(wide)
    assert(wW.nonEmpty && wW.forall(_ == 16),
      s"production regime must keep the conf width, got $wW")
    assert(nW == 2, s"exactly the join's two exchanges, got $nW")
  }

  // the fan comes from the nKeys argument: on local[4], nKeys 1 and 2
  // derive fans 4 and 2
  private def fewKeySides = {
    import spark.implicits._
    val l = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("k", "lv")
    val r = Seq((1L, 100L), (2L, 200L), (2L, 201L), (4L, 400L))
      .toDF("k", "rv")
    (l, r)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "lv", "rv").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq

  test("fewKeySaltedJoin at a derived fan above 1 matches the plain " +
      "join row for row") {
    val (l, r) = fewKeySides
    val cores = spark.sparkContext.defaultParallelism
    val plain = rowsOf(l.join(r, Seq("k")))
    for (nKeys <- Seq(1, 2)) {
      assert(cores / nKeys > 1, s"nKeys=$nKeys must derive a fan above 1")
      val salted = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
        col("lv"), nKeys)
      assert(salted.queryExecution.analyzed.toString.contains("__salt"),
        s"nKeys=$nKeys on $cores cores must plan the salted join")
      assert(rowsOf(salted) == plain,
        s"nKeys=$nKeys diverged from the plain join")
    }
  }

  test("a derived fan above 1 salts: the right side is replicated fan " +
      "ways in the plan") {
    val (l, r) = fewKeySides
    val fan = spark.sparkContext.defaultParallelism // nKeys = 1
    val replicas = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
        col("lv"), 1).queryExecution.analyzed.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate =>
        g.generator.children.head match {
          case a: org.apache.spark.sql.catalyst.expressions.CreateArray =>
            a.children.length
          case other => fail(s"unexpected salt generator input $other")
        }
    }
    assert(replicas == Seq(fan),
      s"expected one explode over $fan salts, got $replicas")
  }

  test("a derived fan <= 1 degrades to the plain join (no __salt in " +
      "the plan)") {
    val (l, r) = fewKeySides
    val cores = spark.sparkContext.defaultParallelism
    val plain = rowsOf(l.join(r, Seq("k")))
    for (nKeys <- Seq(cores, cores * 8)) {
      val joined = Relational.fewKeySaltedJoin(spark, l, r, Seq("k"),
        col("lv"), nKeys)
      assert(!joined.queryExecution.analyzed.toString.contains("__salt"),
        s"nKeys=$nKeys >= $cores cores must plan the plain join")
      assert(rowsOf(joined) == plain)
    }
  }

  test("fewKeySaltedJoin refuses inputs that already carry __salt") {
    import spark.implicits._
    val clean = Seq((1L, 10L)).toDF("k", "v")
    val tainted = clean.withColumn("__salt", lit(0))
    // the guard must fire on EITHER side: the salt column is appended
    // to both, and a pre-existing one would be an ambiguous reference
    // or a silently wrong join key set (r18 ADVICE)
    for ((l, r) <- Seq((tainted, clean), (clean, tainted))) {
      val e = intercept[IllegalArgumentException] {
        Relational.fewKeySaltedJoin(spark, l, r, Seq("k"), col("k"), 1)
      }
      assert(e.getMessage.contains("__salt"))
    }
  }
}
