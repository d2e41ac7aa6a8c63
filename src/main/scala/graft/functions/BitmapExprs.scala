package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** EXACT mergeable distinct-count sketches — compressed integer
  * bitmaps (the roaring-bitmap container model: per 2^16-value chunk,
  * a sorted u16 array below 4097 members, an 8 KiB bit array above),
  * lifted to full signed Longs by chunking on the high 48 bits.
  *
  * The point at 100 TB: `COUNT(DISTINCT user)` does not re-aggregate —
  * a daily distinct count cannot roll up to a weekly one, so every
  * rollup grain re-scans raw data. A bitmap sketch column DOES:
  *
  * {{{
  *   // daily cube, built once (or maintained incrementally via the
  *   // change feed / streaming sink):
  *   events.groupBy($"day").agg(bitmapAgg($"user_id").as("users"))
  *   // weekly distincts from the DAILY CUBE — no raw re-scan:
  *   daily.groupBy($"week").agg(
  *     bitmapCount(bitmapUnionAgg($"users")).as("wau"))
  * }}}
  *
  * unlike HLL sketches (Spark's approx_count_distinct), counts are
  * EXACT — the gate oracles them against COUNT(DISTINCT) directly.
  * Aggregation is a [[TypedImperativeAggregate]] (the machinery behind
  * Spark's own percentile/Bloom aggregates): the buffer lives as one
  * JVM object per group with partial (map-side) aggregation, so what
  * crosses the shuffle is one compressed sketch per group per task,
  * never row sets. The byte form is CANONICAL (containers ordered by
  * chunk key, array form whenever the member count allows), so equal
  * sets always serialize to equal bytes regardless of insertion or
  * merge order.
  *
  * ClickHouse ships this as `groupBitmap`, Databricks/Iceberg vendors
  * as roaring `bitmap_agg` — the reference (openeo_odc_driver) has no
  * distinct-count machinery at all.
  *
  * CARDINALITY BOUNDARY: a group's bitmap is O(distinct values) memory
  * (~2 B/member sparse, 8 KiB per dense 65k-chunk — ~1.2 GiB for 10^9
  * dense members), held as ONE buffer object per group per task. The
  * exact tier is for groups up to the ~10^8-distinct band (the daily
  * per-segment cube); beyond it, or when estimates suffice, use the
  * HLL tier (`ops/Incremental` — `q_hll_distinct`/`q_hll_join`), whose
  * registers are constant-size per group. The two compose: HLL for
  * the unbounded firehose, bitmaps for the exact cubes built from it. */
object BitmapExprs {

  private def checkLongish(e: Expression, fn: String): TypeCheckResult =
    e.dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn expects an integral value column, got $other")
    }

  private def checkSketch(e: Expression, fn: String,
      pos: String = "argument"): TypeCheckResult =
    e.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn expects a bitmap sketch (binary) $pos, got $other")
    }

  // ------------------------------------------------------ the sketch

  /** Mutable bitmap over Longs. Containers keyed by (v >>> 16) in a
    * sorted map; each container holds the low 16 bits either as a
    * sorted char array (≤ 4096 members) or a 1024-word bit array. */
  final class LongBitmap {
    import java.util.TreeMap
    /** array container: sorted chars; bitmap container: Array[Long](1024) */
    private[BitmapExprs] val containers = new TreeMap[Long, AnyRef]()

    private def toBitmap(arr: Array[Char]): Array[Long] = {
      val words = new Array[Long](1024)
      var i = 0
      while (i < arr.length) {
        val lo = arr(i).toInt
        words(lo >>> 6) |= (1L << (lo & 63)); i += 1
      }
      words
    }

    def add(v: Long): Unit = {
      val key = v >>> 16
      val lo = (v & 0xFFFFL).toInt
      containers.get(key) match {
        case null =>
          containers.put(key, Array(lo.toChar))
        case arr: Array[Char] =>
          val p = java.util.Arrays.binarySearch(arr, lo.toChar)
          if (p < 0) {
            if (arr.length >= 4096) {
              val words = toBitmap(arr)
              words(lo >>> 6) |= (1L << (lo & 63))
              containers.put(key, words)
            } else {
              val at = -p - 1
              val out = new Array[Char](arr.length + 1)
              System.arraycopy(arr, 0, out, 0, at)
              out(at) = lo.toChar
              System.arraycopy(arr, at, out, at + 1, arr.length - at)
              containers.put(key, out)
            }
          }
        case words: Array[Long] =>
          words(lo >>> 6) |= (1L << (lo & 63))
      }
    }

    def or(other: LongBitmap): Unit = {
      val it = other.containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        containers.get(e.getKey) match {
          case null =>
            // copy (the donor may be mutated later by the caller)
            e.getValue match {
              case a: Array[Char] => containers.put(e.getKey, a.clone())
              case w: Array[Long] => containers.put(e.getKey, w.clone())
            }
          case a: Array[Char] => e.getValue match {
            case b: Array[Char] =>
              val merged = mergeArrays(a, b)
              containers.put(e.getKey,
                if (merged.length > 4096) toBitmap(merged) else merged)
            case w: Array[Long] =>
              val out = w.clone()
              var i = 0
              while (i < a.length) {
                val lo = a(i).toInt
                out(lo >>> 6) |= (1L << (lo & 63)); i += 1
              }
              containers.put(e.getKey, out)
          }
          case w: Array[Long] => e.getValue match {
            case b: Array[Char] =>
              var i = 0
              while (i < b.length) {
                val lo = b(i).toInt
                w(lo >>> 6) |= (1L << (lo & 63)); i += 1
              }
            case w2: Array[Long] =>
              var i = 0
              while (i < 1024) { w(i) |= w2(i); i += 1 }
          }
        }
      }
    }

    private def mergeArrays(a: Array[Char], b: Array[Char]): Array[Char] = {
      val out = new Array[Char](a.length + b.length)
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) { out(n) = a(i); i += 1 }
        else if (a(i) > b(j)) { out(n) = b(j); j += 1 }
        else { out(n) = a(i); i += 1; j += 1 }
        n += 1
      }
      while (i < a.length) { out(n) = a(i); i += 1; n += 1 }
      while (j < b.length) { out(n) = b(j); j += 1; n += 1 }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    /** Intersect IN PLACE (this ∩= other). Containers absent on either
      * side drop; array∩array walks both sorted arrays; mixed forms
      * probe the array against the bitmap. */
    def and(other: LongBitmap): Unit = {
      val it = containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        other.containers.get(e.getKey) match {
          case null => it.remove()
          case o =>
            val kept: AnyRef = (e.getValue, o) match {
              case (a: Array[Char], b: Array[Char]) =>
                val out = new Array[Char](math.min(a.length, b.length))
                var i = 0; var j = 0; var n = 0
                while (i < a.length && j < b.length) {
                  if (a(i) < b(j)) i += 1
                  else if (a(i) > b(j)) j += 1
                  else { out(n) = a(i); n += 1; i += 1; j += 1 }
                }
                java.util.Arrays.copyOf(out, n)
              case (a: Array[Char], w: Array[Long]) =>
                a.filter(c => (w(c.toInt >>> 6) & (1L << (c.toInt & 63))) != 0)
              case (w: Array[Long], b: Array[Char]) =>
                b.filter(c => (w(c.toInt >>> 6) & (1L << (c.toInt & 63))) != 0)
              case (w: Array[Long], w2: Array[Long]) =>
                val out = new Array[Long](1024)
                var i = 0
                while (i < 1024) { out(i) = w(i) & w2(i); i += 1 }
                out
            }
            val empty = kept match {
              case a: Array[Char] => a.isEmpty
              case w: Array[Long] => w.forall(_ == 0L)
            }
            if (empty) it.remove() else e.setValue(kept)
        }
      }
    }

    /** Subtract IN PLACE (this −= other). */
    def andNot(other: LongBitmap): Unit = {
      val it = containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        other.containers.get(e.getKey) match {
          case null => ()
          case o =>
            val kept: AnyRef = (e.getValue, o) match {
              case (a: Array[Char], b: Array[Char]) =>
                a.filter(c => java.util.Arrays.binarySearch(b, c) < 0)
              case (a: Array[Char], w: Array[Long]) =>
                a.filter(c => (w(c.toInt >>> 6) & (1L << (c.toInt & 63))) == 0)
              case (w: Array[Long], b: Array[Char]) =>
                val out = w.clone()
                var i = 0
                while (i < b.length) {
                  val lo = b(i).toInt
                  out(lo >>> 6) &= ~(1L << (lo & 63)); i += 1
                }
                out
              case (w: Array[Long], w2: Array[Long]) =>
                val out = new Array[Long](1024)
                var i = 0
                while (i < 1024) { out(i) = w(i) & ~w2(i); i += 1 }
                out
            }
            val empty = kept match {
              case a: Array[Char] => a.isEmpty
              case w: Array[Long] => w.forall(_ == 0L)
            }
            if (empty) it.remove() else e.setValue(kept)
        }
      }
    }

    def contains(v: Long): Boolean = {
      val lo = (v & 0xFFFFL).toInt
      containers.get(v >>> 16) match {
        case null => false
        case a: Array[Char] =>
          java.util.Arrays.binarySearch(a, lo.toChar) >= 0
        case w: Array[Long] => (w(lo >>> 6) & (1L << (lo & 63))) != 0
      }
    }

    def cardinality: Long = {
      var total = 0L
      val it = containers.values().iterator()
      while (it.hasNext) it.next() match {
        case a: Array[Char] => total += a.length
        case w: Array[Long] =>
          var i = 0
          while (i < 1024) { total += java.lang.Long.bitCount(w(i)); i += 1 }
      }
      total
    }

    /** CANONICAL bytes: containers in key order; array form whenever
      * the count allows (a bitmap container that a merge left at
      * ≤ 4096 members re-canonicalizes here), so set equality implies
      * byte equality. Layout (big-endian via DataOutputStream):
      * [magic u16][nContainers i32] then per container
      * [key i64][count i32][u16 members... | 1024 words]. */
    def serialize(): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeShort(0x6B42) // "kB"
      out.writeInt(containers.size())
      val it = containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out.writeLong(e.getKey)
        e.getValue match {
          case a: Array[Char] =>
            out.writeInt(a.length)
            var i = 0
            while (i < a.length) { out.writeChar(a(i).toInt); i += 1 }
          case w: Array[Long] =>
            var n = 0
            var i = 0
            while (i < 1024) { n += java.lang.Long.bitCount(w(i)); i += 1 }
            out.writeInt(n)
            if (n <= 4096) { // re-canonicalize to array form
              i = 0
              while (i < 1024) {
                var bits = w(i)
                while (bits != 0L) {
                  val t = java.lang.Long.numberOfTrailingZeros(bits)
                  out.writeChar((i << 6) | t)
                  bits &= bits - 1
                }
                i += 1
              }
            } else {
              i = 0
              while (i < 1024) { out.writeLong(w(i)); i += 1 }
            }
        }
      }
      bos.toByteArray
    }
  }

  object LongBitmap {
    def deserialize(bytes: Array[Byte]): LongBitmap = {
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val magic = in.readUnsignedShort()
      require(magic == 0x6B42,
        s"not a graft bitmap sketch (magic 0x${magic.toHexString})")
      val bm = new LongBitmap
      val nc = in.readInt()
      var c = 0
      while (c < nc) {
        val key = in.readLong()
        val n = in.readInt()
        if (n <= 4096) {
          val arr = new Array[Char](n)
          var i = 0
          while (i < n) { arr(i) = in.readChar(); i += 1 }
          bm.containers.put(key, arr)
        } else {
          val words = new Array[Long](1024)
          var i = 0
          while (i < 1024) { words(i) = in.readLong(); i += 1 }
          bm.containers.put(key, words)
        }
        c += 1
      }
      bm
    }
  }

  // -------------------------------------------------------- aggregates

  /** Shared base: buffer = one [[LongBitmap]] per group, map-side
    * partial aggregation, canonical bytes across the shuffle. */
  abstract class BitmapAggBase extends TypedImperativeAggregate[LongBitmap] {
    override def createAggregationBuffer(): LongBitmap = new LongBitmap
    override def merge(b: LongBitmap, o: LongBitmap): LongBitmap = {
      b.or(o); b
    }
    override def eval(b: LongBitmap): Any = b.serialize()
    override def serialize(b: LongBitmap): Array[Byte] = b.serialize()
    override def deserialize(bytes: Array[Byte]): LongBitmap =
      LongBitmap.deserialize(bytes)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
  }

  /** `graft_bitmap_agg(long)` → binary sketch of the distinct values
    * (nulls skipped). */
  case class BitmapAggregate(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends BitmapAggBase {
    override def children: Seq[Expression] = Seq(child)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
    override def withNewMutableAggBufferOffset(o: Int): BitmapAggregate =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BitmapAggregate =
      copy(inputAggBufferOffset = o)
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongish(child, prettyName)
    override def update(b: LongBitmap, input: InternalRow): LongBitmap = {
      val v = child.eval(input)
      if (v != null) b.add(v.asInstanceOf[Number].longValue())
      b
    }
    override def prettyName: String = "graft_bitmap_agg"
  }

  /** `graft_bitmap_union_agg(binary)` → the union sketch — the ROLLUP
    * face: re-aggregate persisted sketches without touching raw data. */
  case class BitmapUnionAggregate(child: Expression,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends BitmapAggBase {
    override def children: Seq[Expression] = Seq(child)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
    override def withNewMutableAggBufferOffset(o: Int): BitmapUnionAggregate =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BitmapUnionAggregate =
      copy(inputAggBufferOffset = o)
    override def checkInputDataTypes(): TypeCheckResult =
      checkSketch(child, prettyName)
    override def update(b: LongBitmap, input: InternalRow): LongBitmap = {
      val v = child.eval(input)
      if (v != null)
        b.or(LongBitmap.deserialize(v.asInstanceOf[Array[Byte]]))
      b
    }
    override def prettyName: String = "graft_bitmap_union_agg"
  }

  // ----------------------------------------------------------- scalars

  /** `graft_bitmap_count(binary)` → exact distinct count. Scalar over
    * PRE-AGGREGATED sketch rows (group cardinality, not row
    * cardinality); RefCodegen keeps the surrounding stage's whole-stage
    * pipeline intact (r15 — a fallback here forced the consumer project
    * out of codegen even though the call itself is cheap). */
  case class BitmapCount(child: Expression)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = LongType
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def checkInputDataTypes(): TypeCheckResult =
      checkSketch(child, prettyName)
    override protected def nullSafeEval(input: Any): Any =
      LongBitmap.deserialize(input.asInstanceOf[Array[Byte]]).cardinality
    override def prettyName: String = "graft_bitmap_count"
  }

  /** `graft_bitmap_or(binary, binary)` → merged sketch. */
  case class BitmapOr(left: Expression, right: Expression)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = BinaryType
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = LongBitmap.deserialize(l.asInstanceOf[Array[Byte]])
      a.or(LongBitmap.deserialize(r.asInstanceOf[Array[Byte]]))
      a.serialize()
    }
    override def checkInputDataTypes(): TypeCheckResult =
      checkSketch(left, prettyName, "left argument") match {
        case TypeCheckResult.TypeCheckSuccess =>
          checkSketch(right, prettyName, "right argument")
        case f => f
      }
    override def prettyName: String = "graft_bitmap_or"
  }

  /** `graft_bitmap_and(binary, binary)` → intersection sketch — the
    * RETENTION face: users(day d) ∩ users(day d+1). */
  case class BitmapAnd(left: Expression, right: Expression)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = BinaryType
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = LongBitmap.deserialize(l.asInstanceOf[Array[Byte]])
      a.and(LongBitmap.deserialize(r.asInstanceOf[Array[Byte]]))
      a.serialize()
    }
    override def checkInputDataTypes(): TypeCheckResult =
      checkSketch(left, prettyName, "left argument") match {
        case TypeCheckResult.TypeCheckSuccess =>
          checkSketch(right, prettyName, "right argument")
        case f => f
      }
    override def prettyName: String = "graft_bitmap_and"
  }

  /** `graft_bitmap_andnot(binary, binary)` → difference sketch — the
    * CHURN face: users(day d) − users(day d+1). */
  case class BitmapAndNot(left: Expression, right: Expression)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = BinaryType
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = LongBitmap.deserialize(l.asInstanceOf[Array[Byte]])
      a.andNot(LongBitmap.deserialize(r.asInstanceOf[Array[Byte]]))
      a.serialize()
    }
    override def checkInputDataTypes(): TypeCheckResult =
      checkSketch(left, prettyName, "left argument") match {
        case TypeCheckResult.TypeCheckSuccess =>
          checkSketch(right, prettyName, "right argument")
        case f => f
      }
    override def prettyName: String = "graft_bitmap_andnot"
  }

  /** `graft_bitmap_contains(binary, long)` → membership. */
  case class BitmapContains(left: Expression, right: Expression)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = BooleanType
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
    override def checkInputDataTypes(): TypeCheckResult =
      checkSketch(left, prettyName, "left argument") match {
        case TypeCheckResult.TypeCheckSuccess =>
          checkLongish(right, prettyName)
        case f => f
      }
    override protected def nullSafeEval(l: Any, r: Any): Any =
      LongBitmap.deserialize(l.asInstanceOf[Array[Byte]])
        .contains(r.asInstanceOf[Number].longValue())
    override def prettyName: String = "graft_bitmap_contains"
  }

  // ------------------------------------------------------ registration

  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_bitmap_agg"),
      new ExpressionInfo(classOf[BitmapAggregate].getName,
        "graft_bitmap_agg"),
      (cs: Seq[Expression]) =>
        BitmapAggregate(cs.head).toAggregateExpression()),
    (FunctionIdentifier("graft_bitmap_union_agg"),
      new ExpressionInfo(classOf[BitmapUnionAggregate].getName,
        "graft_bitmap_union_agg"),
      (cs: Seq[Expression]) =>
        BitmapUnionAggregate(cs.head).toAggregateExpression()),
    (FunctionIdentifier("graft_bitmap_count"),
      new ExpressionInfo(classOf[BitmapCount].getName,
        "graft_bitmap_count"),
      (cs: Seq[Expression]) => BitmapCount(cs.head)),
    (FunctionIdentifier("graft_bitmap_or"),
      new ExpressionInfo(classOf[BitmapOr].getName, "graft_bitmap_or"),
      (cs: Seq[Expression]) => BitmapOr(cs(0), cs(1))),
    (FunctionIdentifier("graft_bitmap_contains"),
      new ExpressionInfo(classOf[BitmapContains].getName,
        "graft_bitmap_contains"),
      (cs: Seq[Expression]) => BitmapContains(cs(0), cs(1))),
    (FunctionIdentifier("graft_bitmap_and"),
      new ExpressionInfo(classOf[BitmapAnd].getName, "graft_bitmap_and"),
      (cs: Seq[Expression]) => BitmapAnd(cs(0), cs(1))),
    (FunctionIdentifier("graft_bitmap_andnot"),
      new ExpressionInfo(classOf[BitmapAndNot].getName,
        "graft_bitmap_andnot"),
      (cs: Seq[Expression]) => BitmapAndNot(cs(0), cs(1))))

  /** Aggregate LONG values into an exact distinct-set sketch. */
  def bitmapAgg(value: Column): Column =
    column(BitmapAggregate(expression(value)).toAggregateExpression())

  /** Union pre-built sketches (the rollup face). */
  def bitmapUnionAgg(sketch: Column): Column =
    column(BitmapUnionAggregate(expression(sketch)).toAggregateExpression())

  /** Exact distinct count of a sketch. */
  def bitmapCount(sketch: Column): Column =
    column(BitmapCount(expression(sketch)))

  /** Merge two sketches row-wise. */
  def bitmapOr(a: Column, b: Column): Column =
    column(BitmapOr(expression(a), expression(b)))

  /** Intersection (retention). */
  def bitmapAnd(a: Column, b: Column): Column =
    column(BitmapAnd(expression(a), expression(b)))

  /** Difference (churn). */
  def bitmapAndNot(a: Column, b: Column): Column =
    column(BitmapAndNot(expression(a), expression(b)))
}
