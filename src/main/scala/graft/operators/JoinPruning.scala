package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Explicit Bloom pre-join pruning for selective semi/anti joins.
  *
  * AQE's runtime Bloom filter (proven injectable for the library's
  * join keys in RuntimeFilterSpec) only fires when its own thresholds
  * and plan patterns line up; this is the same optimization as a
  * LIBRARY PRIMITIVE the caller controls: build a Bloom filter over
  * the build side's join keys (distributed partial filters, one
  * driver merge — the same treeAggregate shape AQE's creation side
  * uses), embed it in the plan as a literal, and pre-filter the probe
  * side with Spark's own codegen'd `BloomFilterMightContain`
  * expression BEFORE the join. At 100 TB the win is shuffle volume:
  * a 1% -selective semi join shuffles ~1% of the fact table instead
  * of all of it, for the cost of a ~1.2 MB filter per 1M build keys
  * (fpp 0.01). The build side must be the SMALL side — a filter over
  * 1e9 keys is ~GBs and belongs in a shuffle-side runtime filter
  * instead.
  *
  * Hashing convention: both sides hash the key through `xxhash64`
  * first and the sketch stores/probes those longs (putLong /
  * mightContainLong) — the same convention Spark's InjectRuntimeFilter
  * uses, and self-consistent by construction regardless of key type.
  */
object JoinPruning {

  /** Hard cap on distinct build-side keys (~12 MB serialized at fpp
    * 0.01). The whole filter lives on the driver and ships with every
    * task as a plan literal, so an oversized build side is a silent
    * driver-memory/plan-size hazard — [[buildKeyBloom]] fails loud
    * instead. A build side past this belongs in a shuffle-side
    * runtime filter (AQE's InjectRuntimeFilter), not a literal. */
  val maxBuildKeys: Long = 10L * 1000 * 1000

  /** Serialized Bloom filter over `xxhash64(keyCol)` of `build`,
    * usable as a literal probe via [[mightContain]]. Two passes over
    * the build side (count to size the sketch, then the aggregate) —
    * the build side is small by contract, enforced via
    * [[maxBuildKeys]]. */
  def buildKeyBloom(build: DataFrame, keyCol: String,
      fpp: Double = 0.01): Array[Byte] = {
    // distinct BEFORE sizing and inserting: a fact-table build side
    // (e.g. lineitem keyed by orderkey) repeats each key many times —
    // sizing from raw rows oversizes the filter by the duplication
    // factor, and the sketch only needs each key once
    val hashes = build.select(xxhash64(col(keyCol)).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
    val expected = math.max(1L, hashes.count())
    require(expected <= maxBuildKeys,
      s"buildKeyBloom: $expected distinct build keys exceeds maxBuildKeys " +
        s"($maxBuildKeys) — the literal filter would bloat the driver and " +
        s"every task binary; use AQE's runtime filter for large build sides")
    val bf = hashes.rdd.treeAggregate(BloomFilter.create(expected, fpp))(
      (f, r) => { f.putLong(r.getLong(0)); f },
      (a, b) => a.mergeInPlace(b))
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** `might_contain(bloom, xxhash64(key))` as a Column — Spark's own
    * codegen'd predicate over a literal filter; false positives
    * possible, false negatives never. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal.create(bloom, BinaryType),
      GraftColumnBridge.expression(xxhash64(key))))

  /** PER-GROUP serialized Bloom filter over `xxhash64(key)` as an
    * aggregate Column, here grouped so one aggregation pass yields
    * one filter PER FILE for a table format's manifest. Sized for
    * each group's ACTUAL cardinality ([[AdaptiveBloomAggregate]]):
    * bits = clamp(10 × n_keys, [[bloomMinBits]], `maxBits`) — ~10
    * bits/key ≈ 0.8% fpp at every file size, where the old fixed
    * 2^20-bit allocation charged every file 128 KiB of manifest
    * payload regardless (a τ=1024-row cell file needs ~1.25 KiB; at
    * a million-file table the fixed sketches WERE the manifest
    * problem — SCALING.md §23's honest trade, now removed). An
    * over-full file still degrades fpp gracefully at the cap, and
    * pruning stays advisory (a false positive only reads one extra
    * file — the residual filter keeps the answer exact). Serialized
    * in the standard sketch format, so every existing probe
    * (mightContainAnyOf / mightContainValue / BloomFilterMightContain)
    * reads it unchanged. */
  def bloomAgg(key: Column, maxBits: Long = 1L << 20): Column =
    GraftColumnBridge.column(AdaptiveBloomAggregate(
      GraftColumnBridge.expression(xxhash64(key)),
      maxBits).toAggregateExpression())

  /** Floor on a per-group sketch: 2^13 bits = 1 KiB serialized —
    * ≥10 bits/key up to ~800 rows, and a sane minimum k. */
  private[graft] val bloomMinBits: Long = 1L << 13

  /** Per-ROW sketch probe as a Column: true when the row's serialized
    * sketch MIGHT contain ANY of `values` — what Spark's own
    * `BloomFilterMightContain` cannot express (its filter side must
    * be a foldable literal/subquery; here the sketch is a COLUMN, one
    * per manifest row = one per data file). Values hash through
    * [[foldedHash]] — the same catalyst `XxHash64` the build side
    * aggregates over, folded on the driver. Empty `values` is
    * constant-false (no key can match nothing). */
  def mightContainAnyOf(bloomCol: Column, values: Seq[Any]): Column = {
    val hashes = values.map(foldedHash).toArray
    GraftColumnBridge.column(BloomMightContainAnyExpr(
      GraftColumnBridge.expression(bloomCol),
      Literal.create(hashes, ArrayType(LongType))))
  }

  /** `xxhash64(v)` folded on the driver: the catalyst `XxHash64`
    * (default seed 42 — the SAME expression the `xxhash64` function
    * resolves to, so build and probe can never diverge) over a
    * `Literal.create` of the value (external → internal conversion,
    * e.g. String → UTF8String, exactly as a literal in a plan). */
  private def foldedHash(v: Any): Long =
    new XxHash64(Seq(Literal.create(v)))
      .eval(InternalRow.empty).asInstanceOf[Long]

  /** Driver-side probe of a serialized filter — the scan-planning
    * twin of [[mightContain]] for deciding WHICH FILES to read
    * before any job runs (one `mightContainLong` per (file, value)
    * pair over an O(files) manifest — planner work, not data work).
    * The value hashes through the SAME catalyst `xxhash64(lit(v))`
    * tree the build side used, folded on the driver, so the
    * convention can never diverge between build and probe. */
  def mightContainValue(bloom: Array[Byte], value: Any): Boolean =
    BloomFilter.readFrom(new ByteArrayInputStream(bloom))
      .mightContainLong(foldedHash(value))

  /** EXISTS with a Bloom pre-filter: probe rows that cannot match
    * drop before the shuffle; the exact left-semi join removes the
    * false positives, so the result is identical to the plain semi
    * join. */
  def semiJoinPruned(probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String, fpp: Double = 0.01): DataFrame = {
    val bloom = buildKeyBloom(build, buildKey, fpp)
    probe
      .filter(mightContain(bloom, col(probeKey)))
      .join(build.select(col(buildKey)).distinct(),
        col(probeKey) === col(buildKey), "left_semi")
  }

  /** NOT EXISTS with a Bloom definite-negative bypass: a Bloom miss
    * PROVES absence, so those rows go straight to the output and only
    * the might-contain slice (build-side selectivity + fpp of the
    * probe) pays the anti join. The probe scans twice — at scale,
    * cheaper than shuffling the whole probe side whenever the
    * might-contain slice is small; materialize the probe first if
    * the double scan dominates. */
  def antiJoinPruned(probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String, fpp: Double = 0.01): DataFrame = {
    val bloom = buildKeyBloom(build, buildKey, fpp)
    val mc = mightContain(bloom, col(probeKey))
    val keys = build.select(col(buildKey)).distinct()
    probe.filter(!mc)
      .unionByName(
        probe.filter(mc)
          .join(keys, col(probeKey) === col(buildKey), "left_anti"))
  }

  /** A8b — `q_semi_bloom`: the A8 EXISTS with the Bloom pre-filter.
    * Result is identical to A8 by construction (the exact join removes
    * false positives), so the oracle is the same EXISTS SQL — the
    * driver check proves the pruning changes the plan, not the
    * answer. */
  def semiBloomQuery(t: graft.sources.Tables): DataFrame =
    semiJoinPruned(t.customer, t.orders.select(col("o_custkey")),
      "c_custkey", "o_custkey")
      .select(col("c_custkey"))

  /** A9b — `q_anti_bloom`: the A9 NOT EXISTS with the definite-
    * negative bypass; same oracle as A9. */
  def antiBloomQuery(t: graft.sources.Tables): DataFrame =
    antiJoinPruned(t.orders, t.lineitem.select(col("l_orderkey")),
      "o_orderkey", "l_orderkey")
      .select(col("o_orderkey"))
}

/** `bloom MIGHT contain ANY of hashes` where the sketch is a per-row
  * BINARY column. Eval-only (CodegenFallback) by design: it runs over
  * scan-planning-sized manifests (one row per FILE) to decide what to
  * read or rewrite — never inside a data-path hot loop — so
  * deserializing the sketch once per row and probing a bounded hash
  * array is planner work, not scan work. NULL sketch or NULL hash
  * array yields NULL (the caller treats unknown as "cannot prune"). */
case class BloomMightContainAnyExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(bloom: Any, hashes: Any): Any = {
    val bf = BloomFilter.readFrom(
      new ByteArrayInputStream(bloom.asInstanceOf[Array[Byte]]))
    hashes.asInstanceOf[ArrayData].toLongArray().exists(bf.mightContainLong)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-group Bloom filter sized by the group's ACTUAL key count —
  * the adaptive sibling of Spark's fixed-size `BloomFilterAggregate`
  * (whose `numBits` is one literal for every group, so a manifest
  * sketch column pays the worst-case file's allocation for every
  * file). The buffer accumulates the group's xxhash64 values (the
  * partial rows spill/merge as packed longs — 8 bytes per row, far
  * below the fixed 128 KiB sketch the old shape carried per PARTIAL
  * too); `eval` sizes bits = clamp(10 × n, [[JoinPruning.bloomMinBits]],
  * maxBits) and serializes through the standard sketch writeTo, so
  * probes are format-unchanged. Past [[cap]] values the bits are at
  * `maxBits` whatever n is, so the buffer stops growing there: it
  * becomes the sketch a group of exactly `cap` values gets, and every
  * further value goes into it (no false negatives; only the hash
  * count stops following n). Input hashes must be non-null (xxhash64
  * never is). */
case class AdaptiveBloomAggregate(child: Expression, maxBits: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[AdaptiveBloomAggregate.Buffer]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import AdaptiveBloomAggregate.Buffer

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "adaptive_bloom_agg"

  /** The most raw hashes a buffer holds: from here on 10 × n reaches
    * `maxBits`, so a sketch's size no longer depends on n. */
  private[graft] def cap: Long = math.max(1L, (maxBits + 9) / 10)

  override def createAggregationBuffer(): Buffer = new Buffer

  private def add(b: Buffer, v: Long): Unit =
    if (b.sketch != null) b.sketch.putLong(v)
    else {
      b.hashes += v
      if (b.hashes.length > cap) saturate(b)
    }

  private def saturate(b: Buffer): Unit =
    if (b.sketch == null) {
      b.sketch = BloomFilter.create(cap, maxBits)
      b.hashes.foreach(b.sketch.putLong)
      b.hashes.clear()
    }

  override def update(b: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) add(b, v.asInstanceOf[Long])
    b
  }

  override def merge(b: Buffer, o: Buffer): Buffer = {
    if (o.sketch == null) o.hashes.foreach(add(b, _))
    else { saturate(b); b.sketch.mergeInPlace(o.sketch) }
    b
  }

  override def eval(b: Buffer): Any = {
    val bf =
      if (b.sketch != null) b.sketch
      else if (b.hashes.isEmpty) null
      else {
        val n = b.hashes.length.toLong
        val f = BloomFilter.create(n,
          math.min(maxBits, math.max(JoinPruning.bloomMinBits, 10L * n)))
        b.hashes.foreach(f.putLong)
        f
      }
    if (bf == null) null
    else {
      val bos = new ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
  }

  /** Raw: a 0 byte then the packed longs; saturated: a 1 byte then
    * the sketch's own serialization. */
  override def serialize(b: Buffer): Array[Byte] =
    if (b.sketch != null) {
      val bos = new ByteArrayOutputStream()
      bos.write(1)
      b.sketch.writeTo(bos)
      bos.toByteArray
    } else {
      val bb = java.nio.ByteBuffer.allocate(1 + 8 * b.hashes.length)
      bb.put(0.toByte)
      b.hashes.foreach(bb.putLong)
      bb.array()
    }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val b = new Buffer
    if (bytes(0) == 1)
      b.sketch = BloomFilter.readFrom(
        new ByteArrayInputStream(bytes, 1, bytes.length - 1))
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes, 1, bytes.length - 1)
      while (bb.remaining() >= 8) b.hashes += bb.getLong()
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): AdaptiveBloomAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): AdaptiveBloomAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): AdaptiveBloomAggregate =
    copy(child = newChild)
}

object AdaptiveBloomAggregate {
  /** A group's raw hashes (at most `cap` of them), or, once past the
    * cap, its saturated sketch (then `hashes` is empty). */
  final class Buffer {
    val hashes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var sketch: BloomFilter = _
  }
}
