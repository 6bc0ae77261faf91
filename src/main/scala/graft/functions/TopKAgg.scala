package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k aggregate: collects the k highest-scoring (score,
  * id) pairs per group in a fixed-size heap.
  *
  * This is the 100 TB shape for per-query nearest-neighbor search:
  * a window row_number() materializes and sorts EVERY candidate score
  * per group, while this aggregate carries at most k entries per
  * partition and merges map-side — shuffle traffic is O(groups·k)
  * instead of O(candidates).
  *
  * Ties: higher score wins; equal scores prefer the smaller id
  * (matches ORDER BY score DESC, id).
  * An optional string `payload` rides along with each entry, so a
  * top-k can carry a row's key without a join back to the rows.
  */
case class TopKByScore(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    payloadExpr: Option[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long, UTF8String)]] {

  private type Buf = java.util.TreeSet[(Double, Long, UTF8String)]

  private val ord: Ordering[(Double, Long, UTF8String)] =
    Ordering.fromLessThan[(Double, Long, UTF8String)] { (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 > b._2) // "worst first" ordering
    }

  override def createAggregationBuffer(): Buf = new java.util.TreeSet(ord)

  private def add(buf: Buf, e: (Double, Long, UTF8String)): Unit = {
    if (buf.size < k) buf.add(e)
    else if (ord.lt(buf.first(), e)) { buf.pollFirst(); buf.add(e) }
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    val p = payloadExpr.map(_.eval(input).asInstanceOf[UTF8String])
    if (s != null && i != null && !p.contains(null)) {
      add(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long], p.map(_.clone()).orNull))
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: Buf): Any = {
    // best-first output: (id, score, rank[, payload]) structs
    val arr = buf.descendingIterator()
    val out = new Array[Any](buf.size)
    var r = 0
    while (arr.hasNext) {
      val (s, i, p) = arr.next()
      out(r) = InternalRow.fromSeq(Seq[Any](i, s, (r + 1).toLong) ++ payloadExpr.map(_ => p))
      r += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val (s, i, p) = it.next()
      out.writeDouble(s); out.writeLong(i)
      if (p != null) { out.writeInt(p.numBytes); out.write(p.getBytes) }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var j = 0
    while (j < n) {
      val (s, i) = (in.readDouble(), in.readLong())
      val p = if (payloadExpr.isEmpty) null else {
        val b = new Array[Byte](in.readInt()); in.readFully(b); UTF8String.fromBytes(b)
      }
      buf.add((s, i, p)); j += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("rank", LongType, nullable = false)) ++
      payloadExpr.map(_ => StructField("payload", StringType))),
    containsNull = false)

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(scoreExpr, idExpr) ++ payloadExpr
  override def withNewMutableAggBufferOffset(o: Int): TopKByScore = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = cs(0), idExpr = cs(1), payloadExpr = cs.lift(2))
  override def prettyName: String = "topk_by_score"
}

object TopKAgg {
  /** Column API: topk_by_score(score, id, k) → array<struct<id,score,rank>>. */
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKByScore(Bridge.expression(score), Bridge.expression(id), k, None)
      .toAggregateExpression())

  /** The same with a string `payload` field carried by each entry. */
  def topk_by_score(score: Column, id: Column, k: Int, payload: Column): Column =
    Bridge.column(TopKByScore(Bridge.expression(score), Bridge.expression(id), k,
      Some(Bridge.expression(payload))).toAggregateExpression())
}
