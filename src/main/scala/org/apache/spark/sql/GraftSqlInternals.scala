package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.storage.StorageLevel

/** Internal bridge for iterative algorithms: persist the computed rows of a
  * DataFrame and rebuild it as a flat LogicalRDD scan — what
  * `Dataset.localCheckpoint` does, but returning the underlying RDD handle
  * so the caller can unpersist the PREVIOUS iterate deterministically
  * instead of waiting for the ContextCleaner (unbounded iteration loops
  * would otherwise accumulate cached blocks between GCs).
  * Output partitioning/ordering are preserved (LogicalRDD.fromDataset), so
  * co-partitioned joins stay shuffle-free across iterations.
  */
/** A per-iteration scalar (ω, dᵀx, …) that travels through the codegen
  * REFERENCES ARRAY instead of being inlined into the generated source.
  * `lit(omega)` bakes the double into the Java text, so every iteration of
  * an iterative solver produces different source and pays a fresh Janino
  * compile of every stage touching it; StableDouble keeps the source
  * byte-identical across iterations (only `references` differs), so the
  * CodeGenerator cache hits from iteration 2 on. foldable=false keeps the
  * optimizer from constant-folding it back into an inline literal.
  */
case class StableDouble(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftStableDouble",
      java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(
      code = code"final double ${ev.value} = $ref.doubleValue();",
      isNull = FalseLiteral)
  }
}

/** A cached block of UnsafeRow payloads packed back-to-back into ONE byte
  * array — the "primitive-array rank block" representation of an iterate.
  * Caching `RDD[InternalRow]` stores two JVM objects per row (the UnsafeRow
  * wrapper + its private byte[]): at 10⁷ vertices an iterative solver
  * allocates and retires ~2·10⁷ objects per iteration, and that
  * allocator/GC/LLC churn is what caps scaling at high thread counts. A
  * chunk stores the same bytes as O(1) objects per partition; the read side
  * replays rows as a single reused UnsafeRow view — the same row-reuse
  * contract every Spark scan (Parquet, columnar cache) already has.
  *
  * Two layouts, self-described by `stride`:
  *  - stride > 0 (fixed-stride): every row of an all-fixed-width schema has
  *    the identical UnsafeRow size — one 8-byte null bitset word plus
  *    nFields 8-byte slots (nulls just set bitset bits; the size never
  *    varies) — so rows are stored at a constant stride and the offsets
  *    index is dropped entirely. The read side stays zero-copy (pointTo at
  *    i·stride). vs the generic layout this saves the 4 B/row offset AND
  *    the offset buffer's boxing (ArrayBuffer[Int] boxes — 10⁷ Integer
  *    allocations per iteration at headline scale). A payload-only variant
  *    (bitset stripped, 33% fewer bytes) was measured and REJECTED: it
  *    forces a per-row scratch memcpy on read, ~8% slower at
  *    dedicated-core thread counts where bandwidth isn't the binding
  *    constraint — zero-copy replay wins over smaller footprint.
  *  - stride == 0 (generic): raw UnsafeRow bytes back-to-back with an
  *    offsets index (row i at [offsets(i), offsets(i+1))) — any schema
  *    with variable-length fields.
  */
final class GraftRowChunk(
    val bytes: Array[Byte],
    val offsets: Array[Int], // generic layout only (empty when stride > 0)
    val n: Int,
    val stride: Int) extends Serializable

/** Growable primitive int buffer (ArrayBuffer[Int] boxes every element —
  * at 10⁷ rows/iteration that is 10⁷ Integer allocations of pure GC churn).
  */
private[sql] final class GraftIntBuffer(initial: Int) {
  private var arr = new Array[Int](initial)
  private var len = 0
  def add(v: Int): Unit = {
    if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
    arr(len) = v
    len += 1
  }
  def size: Int = len
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, len)
}

object GraftSqlInternals {

  /** Column carrying a per-iteration scalar with iteration-stable codegen. */
  def stableLit(value: Double): Column = columnOf(StableDouble(value))

  /** Column ⇄ Expression bridge (classic.ExpressionUtils is private[sql]). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  final case class Truncated(df: DataFrame, handle: RDD[_])

  private val ByteArrayOffset =
    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** Pack a partition's rows into GraftRowChunk blocks (segmented so one
    * chunk's byte array stays ≤ ~64 MB). Rows out of whole-stage codegen
    * are UnsafeRows whose bytes are copied directly; any other InternalRow
    * (non-codegen tails) is converted through a per-partition
    * UnsafeProjection first.
    *
    * All-fixed-width schemas pack fixed-stride chunks (see GraftRowChunk);
    * a row whose size ever deviates from the expected stride (defensive —
    * should not happen for fixed-width schemas) demotes the partition's
    * remaining rows to the generic layout (mixed chunk kinds within a
    * partition are fine — each chunk self-describes).
    */
  private def packPartition(it: Iterator[InternalRow],
      types: Array[org.apache.spark.sql.types.DataType]): Iterator[GraftRowChunk] =
    new Iterator[GraftRowChunk] {
      private val maxChunk = 64 << 20
      private lazy val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(types)
      private val nFields = types.length
      // fixed-stride eligible: every field a single 8-byte slot (no
      // variable-length region), and ≤64 fields so the bitset is one word
      private val fixedEligible = nFields <= 64 &&
        types.forall(org.apache.spark.sql.catalyst.expressions.UnsafeRow.isFixedLength)
      private val fixedStride = 8 + 8 * nFields // bitset word + slots
      private var demoted = false // odd-sized row seen → generic from there on
      private var pending: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _

      private def nextUnsafe(): org.apache.spark.sql.catalyst.expressions.UnsafeRow =
        it.next() match {
          case ur: org.apache.spark.sql.catalyst.expressions.UnsafeRow => ur
          case other => proj(other)
        }

      def hasNext: Boolean = pending != null || it.hasNext

      def next(): GraftRowChunk = {
        var bytes = new Array[Byte](1 << 16)
        var used = 0
        def ensure(sz: Int): Unit = if (used + sz > bytes.length) {
          var cap = bytes.length
          while (cap < used + sz) cap *= 2
          bytes = java.util.Arrays.copyOf(bytes, cap)
        }
        if (fixedEligible && !demoted) {
          var n = 0
          while (pending == null && it.hasNext && used < maxChunk) {
            val u = nextUnsafe()
            if (u.getSizeInBytes != fixedStride) { demoted = true; pending = u }
            else {
              ensure(fixedStride)
              org.apache.spark.unsafe.Platform.copyMemory(
                u.getBaseObject, u.getBaseOffset,
                bytes, ByteArrayOffset + used, fixedStride)
              used += fixedStride
              n += 1
            }
          }
          if (n > 0 || pending == null)
            return new GraftRowChunk(
              if (bytes.length == used) bytes else java.util.Arrays.copyOf(bytes, used),
              Array.emptyIntArray, n, fixedStride)
          // n == 0 && pending != null: first row already deviated — fall
          // through to the generic layout below, consuming `pending`
        }
        val offs = new GraftIntBuffer(1 << 12)
        while ((pending != null || it.hasNext) && used < maxChunk) {
          val u = if (pending != null) { val p = pending; pending = null; p }
            else nextUnsafe()
          val sz = u.getSizeInBytes
          ensure(sz)
          org.apache.spark.unsafe.Platform.copyMemory(
            u.getBaseObject, u.getBaseOffset,
            bytes, ByteArrayOffset + used, sz)
          offs.add(used)
          used += sz
        }
        offs.add(used) // sentinel: end of last row
        new GraftRowChunk(
          if (bytes.length == used) bytes else java.util.Arrays.copyOf(bytes, used),
          offs.toArray, offs.size - 1, 0)
      }
    }

  /** Replay a chunk as InternalRows through ONE reused UnsafeRow view —
    * zero-copy under both layouts (fixed-stride rows live at i·stride).
    */
  private def unpackChunks(chunks: Iterator[GraftRowChunk],
      nFields: Int): Iterator[InternalRow] =
    chunks.flatMap { c =>
      if (c.stride > 0) new Iterator[InternalRow] {
        private val row =
          new org.apache.spark.sql.catalyst.expressions.UnsafeRow(nFields)
        private var i = 0
        def hasNext: Boolean = i < c.n
        def next(): InternalRow = {
          row.pointTo(c.bytes, ByteArrayOffset + i.toLong * c.stride, c.stride)
          i += 1
          row
        }
      } else new Iterator[InternalRow] {
        private val row =
          new org.apache.spark.sql.catalyst.expressions.UnsafeRow(nFields)
        private var i = 0
        def hasNext: Boolean = i < c.n
        def next(): InternalRow = {
          row.pointTo(c.bytes, ByteArrayOffset + c.offsets(i),
            c.offsets(i + 1) - c.offsets(i))
          i += 1
          row
        }
      }
    }

  private def truncateImpl(cdf: CDataFrame, level: StorageLevel,
      eagerCount: Boolean): Truncated = {
    val spark = cdf.sparkSession
    val qe = cdf.queryExecution
    val nFields = cdf.schema.length
    val types = cdf.schema.fields.map(_.dataType)
    // row buffers may be reused by the producing operator — irrelevant
    // here, the bytes are copied into the chunk immediately
    val chunks = qe.toRdd.mapPartitions(packPartition(_, types),
      preservesPartitioning = true)
    chunks.persist(level)
    // truncate the RDD lineage too: persist alone keeps the parent-RDD
    // object graph alive, which deepens every iteration until the
    // scheduler or task deserializer recurses into a StackOverflowError
    chunks.localCheckpoint()
    if (eagerCount) chunks.count()
    val rows = chunks.mapPartitions(unpackChunks(_, nFields),
      preservesPartitioning = true)
    val logical = LogicalRDD.fromDataset(rows, cdf, isStreaming = false)
    Truncated(CDataset.ofRows(spark, logical), chunks)
  }

  def truncate(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Truncated =
    truncateImpl(df.asInstanceOf[CDataFrame], level, eagerCount = false)

  /** `truncate` + EAGER materialization in ONE job, returning the metrics of
    * any `Dataset.observe` (CollectMetrics) nodes in the plan.
    *
    * This is the single-action iteration kernel: an iterative solver needs
    * (a) the next iterate materialized + lineage-truncated and (b) a handful
    * of global scalars about it (residual, dangling mass, sum). Running a
    * separate `.agg().head()` pays one extra stage barrier plus a full
    * read-back of the just-cached data per iteration; `observe` computes the
    * same scalars in AggregatingAccumulators as a side-effect of the SAME
    * tasks that write the cache, so the per-iteration job has no dedicated
    * aggregation stage at all.
    */
  def truncateObserved(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): (Truncated, Map[String, Row]) = {
    val cdf = df.asInstanceOf[CDataFrame]
    val qe = cdf.queryExecution
    val t = truncateImpl(cdf, level, eagerCount = true)
    (t, qe.observedMetrics)
  }
}
