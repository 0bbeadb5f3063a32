package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** LZ4-FRAME blob wire parity (SURVEY §2.10 optional tier): the
  * reference persists each chunk payload as the series values' raw
  * float64 bytes compressed with the LZ4 *frame* format
  * (`lz4.compress(arr.tobytes())`,
  * hostore/models/chunk_timeserie_store.py:255-258 — `lz4` there is
  * python `lz4.frame`). These expressions produce/consume that exact
  * wire form so a sync against a live reference deployment's bytes
  * round-trips:
  *
  *  - [[Lz4FrameCompress]]/[[Lz4FrameDecompress]]: binary <-> LZ4 frame
  *    (standard frame format incl. the 0x184D2204 magic — any conformant
  *    implementation, python `lz4.frame` included, reads it);
  *  - [[PackDoublesLe]]/[[UnpackDoublesLe]]: array<double> <-> raw
  *    little-endian float64 bytes (numpy `tobytes()` / `frombuffer`
  *    layout; null elements encode as NaN, matching the reference's
  *    NaN padding for holes);
  *  - [[ScatterGrid]]: `array<struct<us, value>>` -> the dense
  *    `array<double>` grid those bytes carry (the chunk's points placed
  *    at `(us - min(us)) / step`, NaN elsewhere).
  *
  * Compose `lz4_frame_compress(pack_doubles_le(values))` for the chunk
  * payload, `unpack_doubles_le(lz4_frame_decompress(blob))` to ingest
  * one. Codec work on a binary blob is inherently branchy byte I/O, so
  * these are eval-only expressions (CodegenFallback) — the pattern Spark
  * itself uses for codec-ish builtins; they sit in import/export
  * projections, never in hot analytic loops.
  */
case class Lz4FrameCompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lz4_frame_compress expects binary, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    out.write(bytes)
    out.close()
    bos.toByteArray
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Lz4FrameDecompress(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lz4_frame_decompress expects binary, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any = {
    val in = new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(input.asInstanceOf[Array[Byte]]))
    try in.readAllBytes() finally in.close()
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PackDoublesLe(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"pack_doubles_le expects array<double>, got $dt")
  }
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val buf = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      buf.putDouble(if (arr.isNullAt(i)) Double.NaN else arr.getDouble(i))
      i += 1
    }
    buf.array()
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class UnpackDoublesLe(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unpack_doubles_le expects binary, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    require(bytes.length % 8 == 0,
      s"unpack_doubles_le: payload length ${bytes.length} is not a multiple of 8")
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = buf.getDouble(); i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass scatter of a chunk's `(us, value)` points onto its dense
  * store-frequency grid: slot `(us - min(us)) / stepUs` holds the value,
  * every other slot NaN (the reference's hole padding); no points gives an
  * empty array (a tombstone chunk's payload). A point off the grid, or two
  * points on one slot, raises — the blob format cannot carry either, so
  * the job fails instead of dropping or overwriting a point. Two linear
  * passes (bounds, then scatter), no per-slot search.
  */
case class ScatterGrid(child: Expression, stepUs: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _), StructField(_, DoubleType, _, _))), _)
        if stepUs > 0 => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"scatter_grid expects array<struct<bigint, double>> and a positive step, got $dt / $stepUs")
  }
  override def nullSafeEval(input: Any): Any = {
    val points = input.asInstanceOf[ArrayData]
    val n = points.numElements()
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var i = 0
    while (i < n) {
      val us = points.getStruct(i, 2).getLong(0)
      if (us < lo) lo = us
      if (us > hi) hi = us
      i += 1
    }
    val slots = if (n == 0) 0L else (hi - lo) / stepUs + 1
    require(slots <= Int.MaxValue - 15, s"scatter_grid: $slots grid slots exceed an array")
    val out = Array.fill(slots.toInt)(Double.NaN)
    val filled = new java.util.BitSet(slots.toInt)
    i = 0
    while (i < n) {
      val p = points.getStruct(i, 2)
      val off = p.getLong(0) - lo
      if (off % stepUs != 0) throw new IllegalArgumentException(
        s"scatter_grid: point at ${p.getLong(0)} us is off the ${stepUs / 1000000L}s grid " +
          "— the reference blob format cannot represent it")
      val slot = (off / stepUs).toInt
      if (filled.get(slot)) throw new IllegalArgumentException(
        s"scatter_grid: duplicate point at ${p.getLong(0)} us")
      filled.set(slot)
      out(slot) = if (p.isNullAt(1)) Double.NaN else p.getDouble(1)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Lz4Blob {
  import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}

  def lz4_frame_compress(c: Column): Column = toColumn(Lz4FrameCompress(toExpr(c)))
  def lz4_frame_decompress(c: Column): Column = toColumn(Lz4FrameDecompress(toExpr(c)))
  def pack_doubles_le(c: Column): Column = toColumn(PackDoublesLe(toExpr(c)))
  def unpack_doubles_le(c: Column): Column = toColumn(UnpackDoublesLe(toExpr(c)))
  def scatter_grid(points: Column, stepUs: Long): Column = toColumn(ScatterGrid(toExpr(points), stepUs))

  /** Reference chunk payload in one step: values -> numpy-layout bytes ->
    * LZ4 frame (chunk_timeserie_store.py:255-258).
    */
  def chunk_payload(values: Column): Column =
    lz4_frame_compress(pack_doubles_le(values))

  /** Inverse of [[chunk_payload]]. */
  def chunk_values(blob: Column): Column =
    unpack_doubles_le(lz4_frame_decompress(blob))
}
