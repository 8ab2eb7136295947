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
  *  - partial: each input pair is appended to flat arrays under a
  *    dense group id; at [[FlushAt]] groups + values the table groups
  *    the values by count-then-scatter, and each group leaves as one
  *    `UnsafeRow` holding its sorted, distinct values as an
  *    `array<bigint>`. The table then starts over, which is safe
  *    because the final phase merges;
  *  - final: `ClusteredDistribution(k)` and `k ASC` ordering, so
  *    `EnsureRequirements` inserts the one hash exchange and a
  *    spillable sort; runs of equal keys stream through a merge-union
  *    of their sorted arrays, one group in memory at a time.
  *
  * Why count-then-scatter: the lineitem files are not clustered by
  * order key (each 10× sf0.1 file has 600,000 rows in 599,997 key
  * runs), so a partial table that chains each key's values, as the
  * first version of this operator did, walks every chain by random
  * reads, on insert to drop duplicates and again to emit. A CPU
  * profile of perfbench heavy_x10 put 39 % of executor samples in that
  * insert and 15 % in the emit. Appending is sequential; the scatter
  * writes each group's values next to each other, so the sort and the
  * duplicate drop at emit read one short contiguous segment.
  *
  * Input is read as rows from any child. Reading a parquet scan's
  * batches directly, past its row conversion, cut the scan + partial
  * stage of perfbench heavy_x10 by ≈ 0.3 s in traced runs, but over
  * 20 alternating pairs of full runs it did not show in `pipeline_s`
  * (×0.913 and ×0.978, against a 0.36 s interquartile range), so the
  * operator keeps one input path.
  *
  * Semantics equal `collect_set`'s: a null key is one group, null
  * values are skipped, a group whose values are all null gets `[]`,
  * and the set column is `array<bigint>` with `containsNull = false`,
  * not nullable — the schema of the `sort_array(collect_set(..))`
  * column.
  *
  * Memory: a partial table holds at most [[FlushAt]] groups + values,
  * outside Spark's execution-memory accounting, in blocks of 256 KB or
  * less. A buffered value takes ≈ 20 B (its group id, itself, and its
  * place in the scattered array; the chained table took 12 B), a group
  * 12 B plus 2 to 4 slots of 4 B: at most ≈ 30 MB at the default.
  * An add does not look for duplicates, so a repeated pair holds a
  * buffered value until the flush drops it: input with many repeats
  * flushes sooner and sends more partial rows through the shuffle.
  * Both callers' pairs are all but distinct (lineitem's
  * `(l_orderkey, l_partkey)` repeats 65 times in 600,000 rows at
  * sf0.1; link prediction's edges are distinct), so they flush as the
  * chained table did.
  * A final task holds one group's values twice (merge buffer and
  * result).
  */
object SortedLongSets {

  /** Groups + values a partial table holds before it flushes. */
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
        val table = new FlatGroups
        new Iterator[InternalRow] {
          private var groups: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = groups.hasNext || rows.hasNext && {
            table.clear()
            while (rows.hasNext && table.size < limit) {
              val r = rows.next()
              val kn = r.isNullAt(k)
              val vn = r.isNullAt(v)
              table.add(kn, if (kn) 0L else r.getLong(k), vn, if (vn) 0L else r.getLong(v))
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

/** The partial phase's table, grouped by count-then-scatter. An add
  * looks its key up in an open-addressing table for a dense group id
  * (a null key has its own), appends `(group, value)` to the pair
  * arrays and counts the value for its group; a null value only makes
  * the group. At a flush the counts become offsets, one pass scatters
  * the values into `grouped` group by group, and each group's segment
  * is sorted and made distinct as its row is written.
  *
  * Every array is held in blocks of at most [[FlatGroups.Block]]
  * elements, so none is a G1 humongous object (half a heap region or
  * more: 512 KB at the smallest region size). Grown by doubling as one
  * array per field, each perfbench heavy_x10 partial task allocated
  * ≈ 32 MB of humongous arrays; each such allocation may start a GC
  * cycle, and from run to run the heap, and with it the peak RSS, grew
  * to anywhere from 1.6 to 3.0 GB. Past one block an array grows by
  * appending a block, with no copy ([[Blocked]]). Blocks are kept
  * across flushes. */
private final class FlatGroups {
  import FlatGroups._

  // Slot s holds 1 + the group id of a key, 0 when free; a probe
  // compares the group's key. 4 B a slot keeps the table small: at
  // 16 B (key and id side by side) its growth allocated more than the
  // values did.
  private var cap = 1 << 10 // a power of two, at least 2 × keyed groups
  private val slots = new IntArray // capacity cap
  private var nullGroup = NoGroup
  private var nGroups = 0
  private val groupKeys = new LongArray
  private val counts = new IntArray // values per group; starts, then ends, at a flush
  private val pairGroups = new IntArray
  private val pairValues = new LongArray
  private val grouped = new LongArray
  private var nValues = 0
  private val writer = new SetRowWriter
  private var scratch = new Array[Long](16)

  def size: Int = nGroups + nValues

  def clear(): Unit = {
    if (nGroups > 0) slots.zero()
    nullGroup = NoGroup; nGroups = 0; nValues = 0
  }

  def add(keyNull: Boolean, k: Long, valueNull: Boolean, v: Long): Unit = {
    val g = if (keyNull) {
      if (nullGroup == NoGroup) nullGroup = newGroup(0L)
      nullGroup
    } else group(k)
    if (!valueNull) {
      if (nValues == pairValues.capacity) { pairValues.grow(); pairGroups.grow() }
      pairGroups(nValues) = g
      pairValues(nValues) = v
      nValues += 1
      counts(g) += 1
    }
  }

  private def newGroup(k: Long): Int = {
    val g = nGroups
    if (g == counts.capacity) { counts.grow(); groupKeys.grow() }
    groupKeys(g) = k
    counts(g) = 0
    nGroups += 1
    g
  }

  /** `k`'s slot, or the free slot it takes. */
  private def find(k: Long): Int = {
    var s = hash(k) & (cap - 1)
    while (slots(s) != 0 && groupKeys(slots(s) - 1) != k) s = (s + 1) & (cap - 1)
    s
  }

  private def group(k: Long): Int = {
    val s = find(k)
    if (slots(s) != 0) slots(s) - 1
    else {
      val g = newGroup(k)
      if (2 * (nGroups - (if (nullGroup == NoGroup) 0 else 1)) > cap) grow()
      else slots(s) = g + 1
      g
    }
  }

  /** Doubles the slots and puts every keyed group back. */
  private def grow(): Unit = {
    cap *= 2
    slots.reserve(cap)
    slots.zero()
    var g = 0
    while (g < nGroups) {
      if (g != nullGroup) slots(find(groupKeys(g))) = g + 1
      g += 1
    }
  }

  /** One row per group, in group id order. */
  def groups: Iterator[InternalRow] = {
    var g = 0
    var start = 0
    while (g < nGroups) { val c = counts(g); counts(g) = start; start += c; g += 1 }
    grouped.reserve(nValues)
    var i = 0
    while (i < nValues) {
      val g = pairGroups(i)
      val at = counts(g)
      grouped(at) = pairValues(i)
      counts(g) = at + 1
      i += 1
    }
    // counts(g) is now the end of g's segment and the start of g + 1's.
    new Iterator[InternalRow] {
      private var g = 0
      override def hasNext: Boolean = g < nGroups
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val row = emit(g, if (g == 0) 0 else counts(g - 1), counts(g))
        g += 1
        row
      }
    }
  }

  private def emit(g: Int, from: Int, until: Int): InternalRow = {
    val n = until - from
    if (scratch.length < n) scratch = new Array[Long](math.max(n, 2 * scratch.length))
    val a = scratch
    var j = 0
    while (j < n) { a(j) = grouped(from + j); j += 1 }
    if (n <= InsertionMax) {
      var p = 1
      while (p < n) {
        val x = a(p)
        var q = p - 1
        while (q >= 0 && a(q) > x) { a(q + 1) = a(q); q -= 1 }
        a(q + 1) = x
        p += 1
      }
    } else java.util.Arrays.sort(a, 0, n)
    var d = 0
    j = 0
    while (j < n) {
      if (d == 0 || a(j) != a(d - 1)) { a(d) = a(j); d += 1 }
      j += 1
    }
    writer.write(g == nullGroup, groupKeys(g), a, d)
  }
}

private object FlatGroups {
  val NoGroup: Int = -1 // no null key seen
  /** Groups of at most this many values are sorted by insertion. */
  val InsertionMax: Int = 16

  /** Elements per block: 2^15 `Long`s are 256 KB. Element `i` of a
    * blocked array is `blocks(i >>> Shift)(i & Mask)`. */
  val Shift: Int = 15
  val Block: Int = 1 << Shift
  val Mask: Int = Block - 1

  def hash(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt
  }
}

/** A growable array in blocks of [[FlatGroups.Block]] elements: one
  * block doubles from 2^10 elements up to a full block, then each
  * growth appends one more full block and copies nothing. */
private abstract class Blocked {
  import FlatGroups.Block
  private var cap = 1 << 10
  def capacity: Int = cap
  def grow(): Unit =
    if (cap < Block) { cap *= 2; resizeFirst(cap) } else { cap += Block; addBlock() }
  def reserve(n: Int): Unit = while (cap < n) grow()
  /** Copies the only block into one of `n` elements. */
  protected def resizeFirst(n: Int): Unit
  /** Appends a zeroed block of [[FlatGroups.Block]] elements. */
  protected def addBlock(): Unit
}

private final class LongArray extends Blocked {
  import FlatGroups.{Block, Mask, Shift}
  private var blocks = Array(new Array[Long](capacity))
  def apply(i: Int): Long = blocks(i >>> Shift)(i & Mask)
  def update(i: Int, x: Long): Unit = blocks(i >>> Shift)(i & Mask) = x
  protected def resizeFirst(n: Int): Unit = blocks(0) = java.util.Arrays.copyOf(blocks(0), n)
  protected def addBlock(): Unit = blocks = blocks :+ new Array[Long](Block)
}

private final class IntArray extends Blocked {
  import FlatGroups.{Block, Mask, Shift}
  private var blocks = Array(new Array[Int](capacity))
  def apply(i: Int): Int = blocks(i >>> Shift)(i & Mask)
  def update(i: Int, x: Int): Unit = blocks(i >>> Shift)(i & Mask) = x
  def zero(): Unit = blocks.foreach(java.util.Arrays.fill(_, 0))
  protected def resizeFirst(n: Int): Unit = blocks(0) = java.util.Arrays.copyOf(blocks(0), n)
  protected def addBlock(): Unit = blocks = blocks :+ new Array[Int](Block)
}
