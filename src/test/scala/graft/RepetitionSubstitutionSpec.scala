package graft

import graft.ops.TextSim
import org.apache.spark.sql.functions._

/** Pins the SUBSTITUTION-SAFETY property of [[TextSim.textRepetition]]
  * (see its Scaladoc): composing the operator under a filter on a derived
  * column lets PushPredicateThroughProject substitute defining expressions
  * into the filter condition. The r8–r10 HOF form re-expanded the full
  * split+transform+array_sort pipeline INSIDE the fold lambda — re-run
  * per fold step by interpreted eval, O(n²·log n) per document; the
  * 1M-doc curation capstone's quality gate went from minutes to hours.
  * The r13 form computes the kernel with the single opaque
  * [[graft.functions.BigramTopCount]] expression over `words`, so
  * substitution can copy the per-row expression at most once per
  * referenced output column — linear, never inside a per-element loop.
  * This spec pins the bounded-copies property, the kernel's bit-parity
  * with the old declarative spelling, and behavioral equality under
  * composition.
  */
class RepetitionSubstitutionSpec extends SparkSpec {

  // the substitution under test happens in the OPTIMIZER
  // (PushPredicateThroughProject), so audit the optimized logical
  // plan — also keeps the walk AQE-independent (an executedPlan
  // collect would stop at the opaque AdaptiveSparkPlanExec wrapper)
  private def composedOptimized = {
    val docs = spark.read.format("graft-docs")
      .option("numDocs", 50).load().select("doc_id", "text")
    TextSim.textRepetition(docs).filter(!col("repetitive"))
      .select("doc_id").queryExecution.optimizedPlan
  }

  test("substituted plan stays linear: bounded expression copies") {
    // Each output-column reference may copy the whole per-row
    // expression once (linear cost). The quadratic bug showed up as
    // the defining pipeline re-expanded inside EVERY per-element
    // reference of the fold — copies growing with the expression
    // itself. The composed filter references two derived columns, so
    // a handful of kernel/split copies at most.
    val plan = composedOptimized.toString
    val kernels = "graft_bigram_top".r.findAllIn(plan).size
    val splits = "split\\(".r.findAllIn(plan).size
    assert(kernels >= 1 && kernels <= 4,
      s"graft_bigram_top appears $kernels times — substitution blow-up")
    assert(splits <= 8, s"split appears $splits times — substitution blow-up")
  }

  test("native kernel is bit-equal to the declarative sorted-run fold") {
    // the old r8–r12 spelling, kept here as the executable oracle for
    // the BigramTopCount expression: bigram strings → array_sort →
    // longest equal-adjacent run
    val docs = spark.read.format("graft-docs")
      .option("numDocs", 300).load().select("doc_id", "text")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 2)
    graft.functions.VectorFunctions.registerAll(spark)
    val both = docs.select(col("doc_id"),
        call_function("graft_bigram_top", col("words")).as("native"),
        array_sort(expr(
          "transform(array(words), w -> transform(sequence(1, size(w) - 1)," +
            " i -> concat(w[i - 1], ' ', w[i])))[0]")).as("bg"))
      .select(col("doc_id"), col("native"),
        when(size(col("bg")) === 1, lit(1L)).otherwise(expr(
          "transform(array(bg), b -> aggregate(sequence(1, size(b) - 1)," +
            " named_struct('run', 1, 'best', 1)," +
            " (acc, i) -> IF(b[i] = b[i - 1]," +
            "   named_struct('run', acc.run + 1," +
            "     'best', GREATEST(acc.best, acc.run + 1))," +
            "   named_struct('run', 1, 'best', acc.best))," +
            " acc -> acc.best))[0]").cast("long")).as("declarative"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.getLong(0)}: native ${r.getLong(1)} != " +
          s"declarative ${r.getLong(2)}")
    }
  }

  test("kernel edge cases: empty, single word, all-equal, crafted runs") {
    import spark.implicits._
    graft.functions.VectorFunctions.registerAll(spark)
    val rows = Seq(
      (Seq.empty[String], 0L),                      // no words
      (Seq("a"), 0L),                               // no bigrams
      (Seq("a", "b"), 1L),                          // one bigram
      (Seq("a", "a", "a", "a"), 3L),                // (a,a) ×3
      (Seq("x", "y", "x", "y", "x"), 2L),           // (x,y) ×2, (y,x) ×2
      ("a b".split(" ").toSeq, 1L),                 // sanity
      // concat-injectivity probe: tokens never contain spaces after a
      // whitespace split, so componentwise equality is the right rule
      (Seq("p", "q", "p", "q", "p", "q"), 3L))
    val df = rows.map(_._1).toDF("words")
      .select(call_function("graft_bigram_top", col("words")).as("n"))
    assert(df.collect().map(_.getLong(0)).toSeq == rows.map(_._2))
  }

  test("filter composition returns the same rows as post-hoc filtering") {
    val docs = spark.read.format("graft-docs")
      .option("numDocs", 500).load().select("doc_id", "text")
    val composed = TextSim.textRepetition(docs)
      .filter(!col("repetitive")).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val postHoc = TextSim.textRepetition(docs).collect()
      .filter(r => !r.getAs[Boolean]("repetitive"))
      .map(_.getLong(0)).sorted.toSeq
    assert(composed == postHoc)
    assert(composed.nonEmpty)
  }
}
