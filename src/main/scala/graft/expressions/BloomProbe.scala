package graft.expressions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.graftseam.ColumnSeam
import org.apache.spark.util.sketch.BloomFilter

/** Column access to Spark's own codegen'd [[BloomFilterMightContain]]
  * predicate.
  *
  * Spark ships the expression (it is what the AQE runtime-bloom-filter
  * rule injects into shuffle joins) but does not expose it in the
  * public function API — this wraps the stock class unchanged, no
  * custom expression, so the probe stays inside whole-stage codegen
  * (preference tier: reuse a built-in before writing one). */
object BloomProbe {
  /** True when `value` (a long) may be in the serialized `filter`,
    * built through [[ColumnSeam]]: no function-registry entry on any
    * session. */
  def of(filter: Column, value: Column): Column =
    ColumnSeam.column(BloomFilterMightContain(
      ColumnSeam.expression(filter), ColumnSeam.expression(value)))

  /** The wire format [[BloomFilterMightContain]] deserializes — the
    * sketch's own `writeTo` stream. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
