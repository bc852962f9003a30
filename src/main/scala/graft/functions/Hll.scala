package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.Platform

/** HLL++ distinct-count sketch as a typed aggregate over one object
  * buffer. Spark's `approx_count_distinct` is an ImperativeAggregate
  * whose 4,096 registers (at rsd 0.02) travel as ~410 fixed-width
  * buffer columns, so every task generates and compiles projections
  * for that wide buffer outside whole-stage codegen. This kernel keeps
  * the registers in one bigint array and runs update, merge and query
  * through Spark's own `HyperLogLogPlusPlusHelper`: the same XxHash64
  * (seed 42) hash, the same registers and the same estimator, so its
  * result equals `approx_count_distinct` on the same bigint input at
  * the same rsd, whatever the partitioning and input order (registers
  * are per-bucket maxima over the set of values).
  *
  * Input must be `bigint`; any other type fails analysis instead of
  * being cast, because a cast value hashes differently from the value
  * `approx_count_distinct` would hash. NULL inputs are skipped and an
  * empty or all-NULL group estimates 0.
  */
object Hll {

  /** The sketch buffer: an UnsafeRow image with one bigint field per
    * register word (the null-bit words lead and stay zero), so
    * `HyperLogLogPlusPlusHelper` reads and writes it through a row view
    * made once per buffer. */
  final case class Registers(words: Array[Long]) {
    @transient private[this] var row: UnsafeRow = _

    private[Hll] def view(numWords: Int): UnsafeRow = {
      if (row == null) {
        row = new UnsafeRow(numWords)
        row.pointTo(words, Platform.LONG_ARRAY_OFFSET, words.length * 8)
      }
      row
    }
  }

  private[graft] final class HllAgg(rsd: Double)
      extends Aggregator[java.lang.Long, Registers, Long] {

    private val helper = new HyperLogLogPlusPlusHelper(rsd)
    private val numWords = helper.numWords
    private val imageWords = UnsafeRow.calculateBitSetWidthInBytes(numWords) / 8 + numWords

    def zero: Registers = Registers(new Array[Long](imageWords))
    def reduce(buf: Registers, v: java.lang.Long): Registers = {
      if (v != null) helper.update(buf.view(numWords), 0, v, LongType)
      buf
    }
    def merge(b1: Registers, b2: Registers): Registers = {
      helper.merge(b1.view(numWords), b2.view(numWords), 0, 0)
      b1
    }
    def finish(buf: Registers): Long = helper.query(buf.view(numWords), 0)
    def bufferEncoder: Encoder[Registers] = ExpressionEncoder()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Passes its bigint child through and fails analysis on any other
    * type; the aggregator's Long input would otherwise cast it. */
  private case class BigintInput(child: Expression)
      extends RuntimeReplaceable with UnaryLike[Expression] with ExpectsInputTypes {
    override def replacement: Expression = child
    override def inputTypes = Seq(LongType)
    override def prettyName: String = "hll_input"
    override protected def withNewChildInternal(c: Expression): BigintInput = copy(child = c)
  }

  /** The `approx_count_distinct` estimate of bigint `c` at `rsd`,
    * sketched on one object buffer. */
  def approxCountDistinct(c: Column, rsd: Double): Column =
    udaf(new HllAgg(rsd), Encoders.LONG)
      .apply(Bridge.column(BigintInput(Bridge.expression(c))))
}
