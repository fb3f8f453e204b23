package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, BitwiseAnd, Expression, GreaterThan, If, IsNull, Literal, ShiftRight, XxHash64}
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash as ONE declarative aggregate over 64 scalar long
  * vote slots: slot p counts +1/−1 per token by bit p of
  * `xxhash64(token)`; the final value packs positive-vote bits into
  * one long.
  *
  * A `LongType` child is taken as the token hash ITSELF (no further
  * hashing) — e.g. an md5-derived 60-bit value DuckDB can reproduce
  * nibble-by-nibble. Bits ≥ the child's width always vote −1 and pack
  * to 0, keeping the result inside the child's range.
  *
  * NOTE (r12): the declared QUERY paths no longer aggregate through
  * this class — they use the decomposed builtin-sum spelling
  * (`NearDup.simhashDecomposed`; the fused 64-slot update method here
  * is JIT-hostile, measured 2.55 vs 0.94 s at sf0.1). This aggregate
  * remains the SQL-surface `graft_simhash` and the X7
  * declarative-aggregate showcase; PortableHashSpec pins the two
  * formulations bit-equal (string child incl. negative hashes, and
  * long child), so the oracle checks the shared semantics even
  * though it executes the decomposed form.
  *
  * Scalar slots, not an array buffer, for the same reason as
  * [[MinHashSigAgg]]: every update/merge is a plain
  * `slot + (bit ? 1 : −1)` / `left + right` expression — no
  * higher-order functions (which are CodegenFallback), so updates run
  * inside whole-stage codegen and the fixed-width buffer stays on
  * HashAggregateExec's UnsafeRow fast path with in-place updates and
  * zero per-row allocation. The repeated `xxhash64(token)` across the
  * 64 update expressions is collapsed by codegen subexpression
  * elimination.
  *
  * Versus the explode-per-bit formulation (64 rows per token before
  * partial aggregation), the map side processes one row per token and
  * shuffles one 64-slot row per (doc, map task).
  */
case class SimHashSigAgg(child: Expression)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType | LongType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        "graft_simhash requires a string (token) or bigint " +
          s"(precomputed hash) column, got $t")
    }

  private lazy val slots: IndexedSeq[AttributeReference] =
    (0 until 64).map(p =>
      AttributeReference(s"votes$p", LongType, nullable = false)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(64)(Literal(0L))

  /** ±1 by bit p of the token hash: `xxhash64(token)` for a string
    * child, the child value itself for a long child (the portable
    * md5-derived path). The repeated hash node across the 64 update
    * expressions is collapsed by codegen subexpression elimination.
    */
  private def tokenSign(p: Int): Expression = {
    val hash = child.dataType match {
      case LongType => child
      case _ => XxHash64(Seq(child), 42L)
    }
    val bit = BitwiseAnd(ShiftRight(hash, Literal(p)), Literal(1L))
    If(GreaterThan(bit, Literal(0L)), Literal(1L), Literal(-1L))
  }

  override lazy val updateExpressions: Seq[Expression] =
    slots.zipWithIndex.map { case (slot, p) =>
      If(IsNull(child), slot, Add(slot, tokenSign(p)))
    }

  override lazy val mergeExpressions: Seq[Expression] =
    slots.map(slot => Add(slot.left, slot.right))

  /** Pack positive-vote bits: Σ_p (votes[p] > 0 ? 1L << p : 0). The
    * partial sums never overflow (disjoint bit values; the sign-bit
    * term is added to a value both of whose operands differ in sign),
    * so the chain is ANSI-safe.
    */
  override lazy val evaluateExpression: Expression =
    slots.zipWithIndex.map { case (slot, p) =>
      If(GreaterThan(slot, Literal(0L)), Literal(1L << p), Literal(0L))
        : Expression
    }.reduce(Add(_, _))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashSigAgg =
    copy(child = newChildren.head)
}
