package graft.functions

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, CaseWhen, Coalesce, CreateArray, EqualTo, Expression, GreaterThan, If, IsNull, Literal, ShiftRight, XxHash64}
import org.apache.spark.sql.types.{LongType, StringType}

/** MinHash and SimHash signatures, each defined once as builtin
  * Catalyst aggregates — one per slot or bit — and shared by both
  * surfaces: the query paths (`NearDup.signatures`,
  * `NearDup.simhashOf`) aggregate the slots/votes as named
  * columns, and the SQL names `graft_minhash`/`graft_simhash`
  * ([[VectorFunctions.functions]]) expand to [[minhash]]/[[simhash]],
  * which assemble the same aggregates into one value.
  *
  * Separate builtin aggregates on purpose: each slot gets a small,
  * independently JIT-compiled update method. A fused single aggregate
  * updating all 64 slots in one generated method measured 3.6×
  * (MinHash) and 2.7× (SimHash) slower — past the JIT's huge-method
  * threshold.
  *
  * Null arguments are skipped: a null never hashes into a slot or
  * votes. On a non-nullable argument (the query paths' shingle
  * hashes) the `IsNull` guard folds away in the optimizer, so
  * [[minhashSlot]] plans exactly as `min(xxhash64(th, i))`.
  */
object Signatures {

  /** MinHash slot `i`: `min(xxhash64(x, i))` over the non-null `x` of
    * the group (the default seed 42); null when there are none.
    */
  def minhashSlot(x: Expression, i: Int): AggregateExpression =
    Min(If(IsNull(x), Literal(null, LongType),
      new XxHash64(Seq(x, Literal(i.toLong))))).toAggregateExpression()

  /** One hash's SimHash vote on bit `p`: ±1 by bit `p` of `hash`. */
  def simhashSign(hash: Expression, p: Int): Expression =
    CaseWhen(Seq(EqualTo(BitwiseAnd(ShiftRight(hash, Literal(p)),
      Literal(1L)), Literal(1L)) -> Literal(1L)), Literal(-1L))

  /** Pack positive votes into one long: Σ_p (vote_p > 0 ? 1L << p : 0).
    * A null vote packs 0. The partial sums never overflow (disjoint
    * bits; the sign-bit term is added to a non-negative sum), so the
    * chain is ANSI-safe.
    */
  def simhashPack(votes: Seq[Expression]): Expression =
    votes.zipWithIndex.map { case (v, p) =>
      CaseWhen(Seq(GreaterThan(v, Literal(0L)) -> Literal(1L << p)),
        Literal(0L)): Expression
    }.reduce(Add(_, _))

  /** `graft_minhash(token[, numHashes])`: the `numHashes` slots as one
    * `array<bigint>`; a slot with no non-null token (an all-null group,
    * empty input) reads `Long.MaxValue`.
    */
  def minhash(token: Expression, numHashes: Int): Expression = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    if (token.dataType != StringType) throw new IllegalArgumentException(
      s"graft_minhash requires a string column, got ${token.dataType}")
    CreateArray((0 until numHashes).map(i =>
      Coalesce(Seq(minhashSlot(token, i), Literal(Long.MaxValue)))))
  }

  /** `graft_simhash(token)`: the 64-bit SimHash of a group of string
    * tokens (hashed by `xxhash64`) or of bigint values taken as the
    * token hash itself — e.g. an md5-derived 60-bit value DuckDB can
    * reproduce; bits at or above such a value's width always vote −1
    * and pack to 0. An all-null group or empty input gives 0.
    */
  def simhash(raw: Expression): Expression = {
    val hash = raw.dataType match {
      case StringType => new XxHash64(Seq(raw))
      case LongType => raw
      case t => throw new IllegalArgumentException(
        "graft_simhash requires a string (token) or bigint " +
          s"(precomputed hash) column, got $t")
    }
    simhashPack((0 until 64).map(p => Sum(If(IsNull(raw),
      Literal(null, LongType), simhashSign(hash, p))).toAggregateExpression()))
  }
}
