package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Sorted distinct bigint sets per bigint key: an exact replacement
  * for `groupBy(k).agg(sort_array(collect_set(v)).as(name))` as a
  * `LogicalPlan` + `Strategy` + `SparkPlan` triple (the pattern of
  * [[AsOfJoinPlan]]).
  *
  * Why an operator: Spark plans `collect_set` as an
  * `ObjectHashAggregate` that keeps a boxed `mutable.HashSet` per key
  * and falls back to sort-based aggregation once a task has seen 128
  * keys (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`),
  * on both sides of the shuffle. On 1.47 M order keys (6 M lineitem
  * rows, `local[4]`, no-op sink) the scan alone takes 0.17 s, a
  * primitive `HashAggregate` over the same keys 0.44 s, and the
  * `collect_set` aggregate 1.12 s. This operator keeps the two phases
  * and makes each one primitive:
  *
  *  - partial: an open-addressing table of `Long` keys, each pointing
  *    into one chain of `Long` values that drops duplicates on insert;
  *    each group leaves as one `UnsafeRow` holding its sorted, distinct
  *    values as an `array<bigint>`. At [[FlushAt]]
  *    keys + values the table emits its rows and starts over, which is
  *    safe because the final phase merges;
  *  - final: `ClusteredDistribution(k)` and `k ASC` ordering, so
  *    `EnsureRequirements` inserts the one hash exchange and a
  *    spillable sort; runs of equal keys stream through a merge-union
  *    of their sorted arrays, one group in memory at a time.
  *
  * Semantics equal `collect_set`'s: a null key is one group, null
  * values are skipped, a group whose values are all null gets `[]`,
  * and the set column is `array<bigint>` with `containsNull = false`,
  * not nullable — the schema of the `sort_array(collect_set(..))`
  * column.
  *
  * Memory: a partial task holds at most [[FlushAt]] keys + values
  * (≈ 60 MB of primitive arrays at the default, in blocks of 256 KB
  * or less, outside Spark's execution-memory accounting); a final task
  * holds one group's values twice (merge buffer and result).
  */
object SortedLongSets {

  /** Keys + values a partial table holds before it flushes. */
  val FlushAt: Int = 1 << 20

  /** `df` grouped by the bigint column `key`, with the sorted distinct
    * non-null values of the bigint column `value` as the column
    * `name`. Registers [[SortedLongSetsStrategy]] on the session's
    * experimental strategies (idempotent), so any session can plan
    * it. */
  def apply(df: DataFrame, key: String, value: String, name: String): DataFrame =
    apply(df, key, value, name, FlushAt)

  /** `flushAt` is the partial table's flush size; tests force early
    * flushes with it. */
  private[graft] def apply(df: DataFrame, key: String, value: String,
      name: String, flushAt: Int): DataFrame = {
    val spark: SparkSession = df.sparkSession
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(SortedLongSetsStrategy)) {
      spark.experimental.extraStrategies = strategies :+ SortedLongSetsStrategy
    }
    // Project the two columns first: a scan under this node reads
    // only them.
    val in = Shim.logicalPlan(df.select(col(key), col(value)))
    val Seq(k, v) = in.output
    for (a <- Seq(k, v) if a.dataType != LongType)
      throw new IllegalArgumentException(
        s"SortedLongSets needs bigint columns; ${a.name} is ${a.dataType.simpleString}")
    val out = AttributeReference(name, ArrayType(LongType, containsNull = false),
      nullable = false)()
    Shim.ofRows(spark, SortedLongSetsPlan(k, v, out, flushAt, in))
  }
}

case class SortedLongSetsPlan(key: Attribute, value: Attribute,
    out: Attribute, flushAt: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = key :: out :: Nil
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Plans [[SortedLongSetsPlan]] as a partial [[SortedLongSetsExec]]
  * under a final one. [[SortedLongSets.apply]], the only builder of the
  * plan node, registers it on the session. It is not injected through
  * [[GraftExtensions]] as well: every planner then consults it on every
  * query, and on perfbench `short_sf01`, which never builds the node,
  * 4 of 10 runs with the injection spent ≈ 0.7 s more CPU per pass
  * than any run without it. */
object SortedLongSetsStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SortedLongSetsPlan(k, v, out, flushAt, child) =>
      val partial = SortedLongSetsExec(partial = true, k, v, out, flushAt, planLater(child))
      SortedLongSetsExec(partial = false, k, v, out, flushAt, partial) :: Nil
    case _ => Nil
  }
}

/** One phase of [[SortedLongSets]]. Both phases output `(key, out)`;
  * the partial one reads `(key, value)` rows, the final one reads the
  * partial's rows clustered and sorted by key. */
case class SortedLongSetsExec(partial: Boolean, key: Attribute,
    value: Attribute, out: Attribute, flushAt: Int, child: SparkPlan)
    extends UnaryExecNode {

  override def nodeName: String = "SortedLongSets"
  override def output: Seq[Attribute] = key :: out :: Nil
  override def producedAttributes: AttributeSet = AttributeSet(out)

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution else ClusteredDistribution(Seq(key))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (if (partial) Nil else Seq(SortOrder(key, Ascending))) :: Nil

  // The final phase keeps its input's key clustering and order.
  override def outputPartitioning: Partitioning =
    if (partial) super.outputPartitioning else child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else Seq(SortOrder(key, Ascending))

  override def argString(maxFields: Int): String =
    s"${if (partial) "partial" else "final"}, key=$key, value=$value, out=$out"

  override protected def doExecute(): RDD[InternalRow] =
    if (partial) {
      val k = child.output.indexWhere(_.exprId == key.exprId)
      val v = child.output.indexWhere(_.exprId == value.exprId)
      val limit = flushAt
      child.execute().mapPartitions { rows =>
        val table = new LongSetTable
        new Iterator[InternalRow] {
          private var groups: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = groups.hasNext || rows.hasNext && {
            table.clear()
            while (rows.hasNext && table.size < limit) {
              val r = rows.next()
              table.add(r.isNullAt(k), if (r.isNullAt(k)) 0L else r.getLong(k),
                r.isNullAt(v), if (r.isNullAt(v)) 0L else r.getLong(v))
            }
            groups = table.groups
            groups.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            groups.next()
          }
        }
      }
    } else {
      // The partial phase writes (key, sorted distinct values).
      child.execute().mapPartitions { rows =>
        val writer = new SetRowWriter
        new Iterator[InternalRow] {
          private var open = false // a run is buffered in acc
          private var keyNull = false
          private var k = 0L
          private var acc = new Array[Long](16)
          private var n = 0
          private var tmp = new Array[Long](16)

          private def start(r: InternalRow): Unit = {
            open = true
            keyNull = r.isNullAt(0)
            k = if (keyNull) 0L else r.getLong(0)
            n = 0
            merge(r)
          }

          private def sameKey(r: InternalRow): Boolean =
            if (r.isNullAt(0)) keyNull else !keyNull && r.getLong(0) == k

          // acc := acc ∪ r's array; both sorted and distinct.
          private def merge(r: InternalRow): Unit = {
            val a = r.getArray(1)
            val m = a.numElements()
            if (tmp.length < n + m) tmp = new Array[Long](math.max(n + m, 2 * tmp.length))
            var i = 0; var j = 0; var o = 0
            while (i < n || j < m) {
              val x =
                if (j >= m || i < n && acc(i) <= a.getLong(j)) {
                  val x = acc(i)
                  if (j < m && a.getLong(j) == x) j += 1
                  i += 1; x
                } else { j += 1; a.getLong(j - 1) }
              tmp(o) = x; o += 1
            }
            val t = acc; acc = tmp; tmp = t; n = o
          }

          override def hasNext: Boolean = open || rows.hasNext

          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            if (!open) start(rows.next())
            var done: InternalRow = null
            while (done == null) {
              if (!rows.hasNext) {
                done = writer.write(keyNull, k, acc, n)
                open = false
              } else {
                val r = rows.next()
                if (sameKey(r)) merge(r)
                else { done = writer.write(keyNull, k, acc, n); start(r) }
              }
            }
            done
          }
        }
      }
    }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Writes `(key, array<bigint>)` UnsafeRows into one reused buffer:
  * each row is valid until the next `write`. The values go straight
  * into the row, with no array object per group. */
private final class SetRowWriter {
  private val writer = new UnsafeRowWriter(2, 64)
  private val array = new UnsafeArrayWriter(writer, 8)

  def write(keyNull: Boolean, k: Long, vs: Array[Long], n: Int): InternalRow = {
    writer.reset()
    writer.zeroOutNullBytes()
    if (keyNull) writer.setNullAt(0) else writer.write(0, k)
    val start = writer.cursor()
    array.initialize(n)
    var i = 0
    while (i < n) { array.write(i, vs(i)); i += 1 }
    writer.setOffsetAndSizeFromPreviousCursor(1, start)
    writer.getRow
  }
}

/** The partial phase's table: open addressing over `Long` keys (a
  * null key has its own slot), each key heading one chain of distinct
  * `Long` values in shared `values`/`next` arrays.
  *
  * Every array is held in blocks of at most [[LongSetTable.Block]]
  * elements, so none is a G1 humongous object (half a heap region or
  * more: 512 KB at the smallest region size). Grown by doubling as one
  * array per field, each perfbench heavy_x10 partial task allocated
  * ≈ 32 MB of humongous arrays; each such allocation may start a GC
  * cycle, and from run to run the heap, and with it the peak RSS, grew
  * to anywhere from 1.6 to 3.0 GB. Past one block, values and their
  * links grow by appending a block, with no copy. */
private final class LongSetTable {
  import LongSetTable._

  private var cap = 1 << 10 // a power of two, at least 2 × keys
  private var keys = longBlocks(cap)
  private var heads = intBlocks(cap, Free)
  private var nKeys = 0
  private var nullHead = Free
  private var values = longBlocks(1 << 10)
  private var next = intBlocks(1 << 10, 0)
  private var valueCap = 1 << 10
  private var nValues = 0
  private val writer = new SetRowWriter
  private var scratch = new Array[Long](16)

  def size: Int = nKeys + nValues

  def clear(): Unit = {
    if (nKeys > 0) heads.foreach(java.util.Arrays.fill(_, Free))
    nKeys = 0; nullHead = Free; nValues = 0
  }

  private def key(s: Int): Long = keys(s >>> Shift)(s & Mask)
  private def head(s: Int): Int = heads(s >>> Shift)(s & Mask)
  private def setHead(s: Int, h: Int): Unit = heads(s >>> Shift)(s & Mask) = h
  private def link(i: Int): Int = next(i >>> Shift)(i & Mask)

  def add(keyNull: Boolean, k: Long, valueNull: Boolean, v: Long): Unit =
    if (keyNull) {
      if (nullHead == Free) { nullHead = Empty; nKeys += 1 }
      if (!valueNull) nullHead = push(nullHead, v)
    } else {
      var s = slot(k)
      if (head(s) == Free) {
        if (2 * (nKeys + 1) > cap) { grow(); s = slot(k) }
        keys(s >>> Shift)(s & Mask) = k; setHead(s, Empty); nKeys += 1
      }
      if (!valueNull) setHead(s, push(head(s), v))
    }

  private def slot(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    var s = (h ^ (h >>> 32)).toInt & (cap - 1)
    while (head(s) != Free && key(s) != k) s = (s + 1) & (cap - 1)
    s
  }

  private def grow(): Unit = {
    val (oldKeys, oldHeads, oldCap) = (keys, heads, cap)
    cap *= 2
    keys = longBlocks(cap)
    heads = intBlocks(cap, Free)
    var i = 0
    while (i < oldCap) {
      val h = oldHeads(i >>> Shift)(i & Mask)
      if (h != Free) {
        val k = oldKeys(i >>> Shift)(i & Mask)
        val s = slot(k)
        keys(s >>> Shift)(s & Mask) = k; setHead(s, h)
      }
      i += 1
    }
  }

  /** The chain headed by `head` with `v` added, or unchanged when `v`
    * is one of its first [[Probe]] values. */
  private def push(head: Int, v: Long): Int = {
    var i = head
    var steps = 0
    while (i >= 0 && steps < Probe) {
      if (values(i >>> Shift)(i & Mask) == v) return head
      i = link(i); steps += 1
    }
    if (nValues == valueCap) {
      if (valueCap < Block) {
        values(0) = java.util.Arrays.copyOf(values(0), 2 * valueCap)
        next(0) = java.util.Arrays.copyOf(next(0), 2 * valueCap)
        valueCap *= 2
      } else {
        values = java.util.Arrays.copyOf(values, values.length + 1)
        values(values.length - 1) = new Array[Long](Block)
        next = java.util.Arrays.copyOf(next, next.length + 1)
        next(next.length - 1) = new Array[Int](Block)
        valueCap += Block
      }
    }
    val i0 = nValues
    values(i0 >>> Shift)(i0 & Mask) = v
    next(i0 >>> Shift)(i0 & Mask) = head
    nValues += 1
    i0
  }

  /** One row per group, its chain sorted and made distinct. */
  def groups: Iterator[InternalRow] = new Iterator[InternalRow] {
    private var s = if (nullHead != Free) -1 else advance(0)
    private def advance(from: Int): Int = {
      var i = from
      while (i < cap && head(i) == Free) i += 1
      i
    }
    override def hasNext: Boolean = s < cap
    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val row =
        if (s < 0) emit(keyNull = true, 0L, nullHead)
        else emit(keyNull = false, key(s), head(s))
      s = advance(s + 1)
      row
    }
  }

  private def emit(keyNull: Boolean, k: Long, head: Int): InternalRow = {
    var n = 0
    var i = head
    while (i >= 0) {
      if (n == scratch.length) scratch = java.util.Arrays.copyOf(scratch, 2 * n)
      scratch(n) = values(i >>> Shift)(i & Mask); n += 1
      i = link(i)
    }
    java.util.Arrays.sort(scratch, 0, n)
    var d = 0
    var j = 0
    while (j < n) {
      if (d == 0 || scratch(j) != scratch(d - 1)) { scratch(d) = scratch(j); d += 1 }
      j += 1
    }
    writer.write(keyNull, k, scratch, d)
  }
}

private object LongSetTable {
  val Free: Int = -2 // slot holds no key
  val Empty: Int = -1 // key with no values yet; chain end
  /** Chain entries an insert compares against. A longer chain may keep
    * a duplicate, which the sort at emit drops; the bound keeps an
    * insert O(1) however large a group grows. */
  val Probe: Int = 32

  /** Elements per block: 2^15 `Long`s are 256 KB. Element `i` of a
    * blocked array is `blocks(i >>> Shift)(i & Mask)`. */
  val Shift: Int = 15
  val Block: Int = 1 << Shift
  val Mask: Int = Block - 1

  /** `n` zeros in blocks: one block when `n` <= [[Block]], else
    * `n / Block` full ones (`n` is a power of two). */
  def longBlocks(n: Int): Array[Array[Long]] =
    Array.fill((n + Mask) >>> Shift)(new Array[Long](math.min(n, Block)))

  def intBlocks(n: Int, fill: Int): Array[Array[Int]] =
    Array.fill((n + Mask) >>> Shift) {
      val b = new Array[Int](math.min(n, Block))
      if (fill != 0) java.util.Arrays.fill(b, fill)
      b
    }
}
