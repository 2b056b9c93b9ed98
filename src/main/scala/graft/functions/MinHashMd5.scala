package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The k seeded md5 minhashes of a string group in one aggregate:
  * element i is `min(md5(concat("i:", child)))`, the lowercase hex the
  * declarative form returns, byte for byte. The declarative form is k
  * aggregates, each hashing every row to a 32-char hex string and
  * comparing strings; this one hashes each row k times with one reused
  * `MessageDigest`, keeps the raw 16-byte minima, compared unsigned
  * (the order of their lowercase hex), and hex-encodes only the k
  * winners. Null rows are skipped; a group with no non-null row gives
  * null.
  *
  * The buffer is the k digests back to back, empty before the first
  * non-null row; it is its own serialized form.
  */
case class MinHashMd5(child: Expression, k: Int,
                      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {
  require(k >= 1, s"minhash_md5: k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_md5"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_md5 requires STRING, got ${t.sql}")
  }

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(i => s"$i:".getBytes(UTF_8))

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) return buffer
    // all 0xff bytes: no digest is greater, and one equal to it leaves the same minimum
    val mins = if (buffer.isEmpty) Array.fill[Byte](16 * k)(-1) else buffer
    val bytes = s.getBytes
    val md = MinHashMd5.digest.get()
    val d = new Array[Byte](16)
    var i = 0
    while (i < k) {
      md.update(prefixes(i))
      md.update(bytes)
      md.digest(d, 0, 16)
      if (java.util.Arrays.compareUnsigned(d, 0, 16, mins, 16 * i, 16 * i + 16) < 0)
        System.arraycopy(d, 0, mins, 16 * i, 16)
      i += 1
    }
    mins
  }

  override def merge(buffer: Array[Byte], input: Array[Byte]): Array[Byte] =
    if (input.isEmpty) buffer
    else if (buffer.isEmpty) input.clone()
    else {
      var i = 0
      while (i < k) {
        if (java.util.Arrays.compareUnsigned(input, 16 * i, 16 * i + 16, buffer, 16 * i, 16 * i + 16) < 0)
          System.arraycopy(input, 16 * i, buffer, 16 * i, 16)
        i += 1
      }
      buffer
    }

  override def eval(buffer: Array[Byte]): Any =
    if (buffer.isEmpty) null
    else new GenericArrayData(Array.tabulate[Any](k)(i => MinHashMd5.hex(buffer, 16 * i)))

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(offset: Int): MinHashMd5 =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashMd5 =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): MinHashMd5 =
    copy(child = newChild)
}

object MinHashMd5 {

  private val digest = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  private val hexDigits = "0123456789abcdef".getBytes(UTF_8)

  /** Lowercase hex of the 16 bytes at `from`, as `md5` prints them. */
  private def hex(bytes: Array[Byte], from: Int): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = bytes(from + i) & 0xff
      out(2 * i) = hexDigits(b >>> 4)
      out(2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** `array(min(md5(concat("0:", sh))), …, min(md5(concat("${k-1}:", sh))))`
    * as one aggregate column. */
  def apply(sh: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(new MinHashMd5(ColumnBridge.expression(sh), k).toAggregateExpression())
  }
}
