package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CreateArray, Expression, If, IsNull, Least, Literal, XxHash64}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature as ONE declarative aggregate over `numHashes`
  * scalar long buffer slots: slot i holds min(xxhash64(token, i)) for
  * the group, exactly the 64-separate-`min(xxhash64(tok, h))`
  * formulation fused into a single aggregate function.
  *
  * Scalar slots, not an array buffer, on purpose: every update/merge
  * expression is a plain `Least(slot, XxHash64(token, i))` — no
  * higher-order functions, so the whole update participates in
  * whole-stage codegen and the buffer is fixed-width, which keeps the
  * aggregation on HashAggregateExec's UnsafeRow fast path (in-place
  * slot updates, zero per-row allocation). The previous array-buffer
  * formulation updated via `zip_with(sig, hashes(token), least)`;
  * higher-order functions are CodegenFallback, so every token paid
  * interpreted lambda dispatch plus a fresh 64-element array.
  *
  * Partial (map-side) aggregation still applies: the shuffle carries
  * one `numHashes`-slot row per document per map partition, never the
  * tokens.
  *
  * This is the engine's SQL-surface MinHash (`graft_minhash` — one
  * call, one array column). The batch hot path
  * ([[graft.ops.NearDup.minhashSignatures]]) instead uses `numHashes`
  * separate built-in `min` aggregates over a pre-hashed token: fusing
  * all slot updates into this one function puts them in a single
  * generated method, which measured 3.6× slower on a 750k-shingle
  * corpus — consistent with the update method passing the JIT's
  * huge-method threshold and running unoptimized.
  *
  * Usage: `graft_minhash(token[, numHashes])` from SQL once the
  * function table is registered ([[VectorFunctions.registerAll]] or
  * [[graft.GraftExtensions]]), e.g.
  * `groupBy("doc_id").agg(call_function("graft_minhash", col("token")))`.
  */
case class MinHashSigAgg(child: Expression, numHashes: Int)
    extends DeclarativeAggregate {

  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash requires a string column, got $t")
    }

  private lazy val slots: IndexedSeq[AttributeReference] =
    (0 until numHashes).map(i =>
      AttributeReference(s"sig$i", LongType, nullable = false)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(numHashes)(Literal(Long.MaxValue))

  /** Slot i's hash: xxhash64(token, i) with the default seed — the
    * same family the pre-fusion per-hash-min formulation used, so
    * signatures are reproducible across engine versions.
    */
  private def slotHash(i: Int): Expression =
    XxHash64(Seq(child, Literal(i.toLong)), 42L)

  override lazy val updateExpressions: Seq[Expression] =
    slots.zipWithIndex.map { case (slot, i) =>
      If(IsNull(child), slot, Least(Seq(slot, slotHash(i))))
    }

  override lazy val mergeExpressions: Seq[Expression] =
    slots.map(slot => Least(Seq(slot.left, slot.right)))

  override lazy val evaluateExpression: Expression = CreateArray(slots)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSigAgg =
    copy(child = newChildren.head)
}
