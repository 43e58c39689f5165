package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** graft_trailing(close double, fast int, slow int, window int, tol double)
  * — the reference's per-bar step as one running-frame aggregate: two
  * running EMAs feeding two ring buffers (`FeaturesBarService.cs:22-55`,
  * `CircularBuffer.cs:11-113`). Per row it returns a struct of
  *   - `ema_fast`, `ema_slow`: EMAs from partition start, seeded with the
  *     first non-null close; a null close leaves them unchanged;
  *   - `ma_first`, `wn`: `first(ema_fast)` (a null kept) and the row count
  *     of the trailing `window`-row frame;
  *   - `ac_fast`, `ac_slow`: lag-1 autocorrelation of the frame's non-null
  *     EMAs (`collect_list` semantics).
  * An EMA is null only before the first non-null close, so the frame's
  * non-null EMAs are always its newest ones and fit a ring of `window`
  * slots. Arithmetic is `FeatureKernel`'s, so the values equal the
  * sliding-frame form bit for bit.
  *
  * Valid only over `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`,
  * where WindowExec calls `update` once per row in frame order: `merge`
  * and serialization are refused, the state is an ordered series that
  * never leaves the window operator.
  */
case class TrailingFeatures(
    close: Expression,
    fast: Expression,
    slow: Expression,
    window: Expression,
    tol: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TrailingFeatures.State] {

  override def children: Seq[Expression] = Seq(close, fast, slow, window, tol)
  override def nullable: Boolean = false
  override def dataType: DataType = TrailingFeatures.resultType
  override def prettyName: String = "graft_trailing"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType) == Seq(DoubleType, IntegerType, IntegerType, IntegerType, DoubleType) &&
        children.tail.forall(_.foldable)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_trailing expects (double, foldable int, int, int, double), got ${children.map(_.dataType)}")

  private lazy val kFast = FeatureKernel.emaK(fast.eval().asInstanceOf[Int])
  private lazy val kSlow = FeatureKernel.emaK(slow.eval().asInstanceOf[Int])
  private lazy val w = window.eval().asInstanceOf[Int]
  private lazy val eps = tol.eval().asInstanceOf[Double]

  override def createAggregationBuffer(): TrailingFeatures.State = new TrailingFeatures.State(w)

  override def update(st: TrailingFeatures.State, input: InternalRow): TrailingFeatures.State = {
    st.rows += 1
    val v = close.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Double]
      if (st.valued == 0) { st.fast = x; st.slow = x }
      else {
        st.fast = FeatureKernel.emaStep(st.fast, x, kFast)
        st.slow = FeatureKernel.emaStep(st.slow, x, kSlow)
      }
    }
    if (v != null || st.valued > 0) st.push()
    st
  }

  override def eval(st: TrailingFeatures.State): Any = {
    val init = st.valued > 0
    val wn = math.min(st.rows, w.toLong)
    val n = math.min(st.valued, w.toLong).toInt
    val from = st.head + w - n // the newest n values, oldest first
    new GenericInternalRow(
      Array[Any](
        if (init) st.fast else null,
        if (init) st.slow else null,
        if (init && wn <= st.valued) st.ringFast(from) else null, // n == wn here
        wn,
        FeatureKernel.autocorr1(st.ringFast, from, n, eps),
        FeatureKernel.autocorr1(st.ringSlow, from, n, eps)
      )
    )
  }

  override def merge(a: TrailingFeatures.State, b: TrailingFeatures.State): TrailingFeatures.State =
    throw TrailingFeatures.runningFrameOnly
  override def serialize(st: TrailingFeatures.State): Array[Byte] = throw TrailingFeatures.runningFrameOnly
  override def deserialize(bytes: Array[Byte]): TrailingFeatures.State = throw TrailingFeatures.runningFrameOnly

  override def withNewMutableAggBufferOffset(newOffset: Int): TrailingFeatures =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TrailingFeatures =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(close = c(0), fast = c(1), slow = c(2), window = c(3), tol = c(4))
}

object TrailingFeatures {

  val resultType: StructType = StructType(
    Seq(
      StructField("ema_fast", DoubleType),
      StructField("ema_slow", DoubleType),
      StructField("ma_first", DoubleType),
      StructField("wn", LongType, nullable = false),
      StructField("ac_fast", DoubleType, nullable = false),
      StructField("ac_slow", DoubleType, nullable = false)
    )
  )

  private def runningFrameOnly =
    new UnsupportedOperationException(
      "graft_trailing is order-sensitive: evaluate it over a ROWS UNBOUNDED PRECEDING window frame; " +
        "it cannot merge or ship partial aggregates")

  /** Running EMAs and one ring of `w` slots per EMA. A value is written at
    * `slot` and `slot + w`, so the newest n values are always the run that
    * ends just below `head + w`.
    */
  final class State(w: Int) {
    var fast = 0.0
    var slow = 0.0
    var rows = 0L // every row seen: the frame's count(1) and first()
    var valued = 0L // rows from the first non-null close on
    var head = 0
    val ringFast = new Array[Double](2 * w)
    val ringSlow = new Array[Double](2 * w)

    def push(): Unit = {
      ringFast(head) = fast; ringFast(head + w) = fast
      ringSlow(head) = slow; ringSlow(head + w) = slow
      valued += 1
      head = if (head + 1 == w) 0 else head + 1
    }
  }
}
