package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.{AdaptiveBloomAggregate, JoinPruning, Relational}
import graft.sources.Tables

class JoinPruningSpec extends SparkTestBase {
  lazy val t = Tables(spark, sfDir)

  test("semiJoinPruned equals the plain semi join exactly") {
    val plain = Relational.semiJoin(t).collect().map(_.getLong(0)).sorted
    val pruned = JoinPruning.semiJoinPruned(
      t.customer, t.orders.select(col("o_custkey")),
      "c_custkey", "o_custkey")
      .select(col("c_custkey")).collect().map(_.getLong(0)).sorted
    assert(pruned === plain)
  }

  test("antiJoinPruned equals the plain anti join exactly") {
    val plain = Relational.antiJoin(t).collect().map(_.getLong(0)).sorted
    val pruned = JoinPruning.antiJoinPruned(
      t.orders, t.lineitem.select(col("l_orderkey")),
      "o_orderkey", "l_orderkey")
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted
    assert(pruned === plain)
  }

  test("bloom has no false negatives and bounded false positives") {
    val bloom = JoinPruning.buildKeyBloom(
      t.orders.select(col("o_custkey")), "o_custkey")
    // every true key passes
    val trueKeys = t.orders.select(col("o_custkey")).distinct()
    val misses = trueKeys
      .filter(!JoinPruning.mightContain(bloom, col("o_custkey"))).count()
    assert(misses === 0)
    // keys far outside the domain mostly fail (fpp 0.01, allow slack)
    val range = 1000000L to 1010000L
    val fake = spark.range(range.start, range.end).toDF("k")
    val fp = fake.filter(JoinPruning.mightContain(bloom, col("k"))).count()
    assert(fp < range.size / 20, s"false-positive count $fp too high")
  }

  test("bloomAgg: per-group sketches round-trip through the driver " +
    "probe with no false negatives and no cross-group bleed, for long " +
    "AND string keys") {
    import spark.implicits._
    val df = Seq(
      ("g1", 5L, "alpha"), ("g1", 9L, "beta"), ("g1", 13L, "gamma"),
      ("g2", 100L, "delta"), ("g2", 200L, "epsilon")
    ).toDF("g", "k", "s")
    val sketches = df.groupBy(col("g")).agg(
        JoinPruning.bloomAgg(col("k")).as("bk"),
        JoinPruning.bloomAgg(col("s")).as("bs"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))).toMap
    val (g1k, g1s) = sketches("g1"); val (g2k, g2s) = sketches("g2")
    // no false negatives: every inserted value probes true
    assert(Seq(5L, 9L, 13L).forall(JoinPruning.mightContainValue(g1k, _)))
    assert(Seq(100L, 200L).forall(JoinPruning.mightContainValue(g2k, _)))
    assert(Seq("alpha", "beta", "gamma")
      .forall(JoinPruning.mightContainValue(g1s, _)))
    // no cross-group bleed (3 keys in 2^20 bits — fpp is vanishing)
    assert(!JoinPruning.mightContainValue(g1k, 100L))
    assert(!JoinPruning.mightContainValue(g2k, 5L))
    assert(!JoinPruning.mightContainValue(g2s, "alpha"))
    assert(!JoinPruning.mightContainValue(g1s, "delta"))
  }

  test("bloomAgg sizes each group's sketch by its OWN cardinality: " +
    "small groups pay ~1 KiB, huge groups stay capped, no false negatives") {
    import spark.implicits._
    val small = (0L until 10L).map(("s", _)) // → floor (2^13 bits = 1 KiB)
    val big = (0L until 200000L).map(("b", _)) // → cap (2^20 bits = 128 KiB)
    val sketches = (small ++ big).toDF("g", "k")
      .groupBy(col("g")).agg(JoinPruning.bloomAgg(col("k")).as("bk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val sBytes = sketches("s").length
    val bBytes = sketches("b").length
    assert(sBytes <= 2048, s"small group sketch should be ~1 KiB, was $sBytes")
    assert(bBytes >= (1 << 20) / 8,
      s"over-full group must stay at the cap, was $bBytes")
    assert(bBytes <= (1 << 20) / 8 + 64)
    // the adaptive sizing keeps the no-false-negative contract at both ends
    assert((0L until 10L).forall(JoinPruning.mightContainValue(sketches("s"), _)))
    assert(Seq(0L, 99999L, 199999L)
      .forall(JoinPruning.mightContainValue(sketches("b"), _)))
  }

  test("bloomAgg over its cap: the buffer stops at cap hashes, the " +
    "sketch stays maxBits wide with no false negatives, and a group at " +
    "the cap keeps the uncapped sketch byte for byte") {
    import spark.implicits._
    val maxBits = 1L << 13
    val agg = AdaptiveBloomAggregate(
      BoundReference(0, LongType, nullable = false), maxBits)
    val cap = agg.cap
    assert(cap === 820L)
    // driver-side: update and merge never hold more than cap hashes
    val a = agg.createAggregationBuffer()
    (0L until 3 * cap).foreach(v => agg.update(a, InternalRow(v)))
    assert(a.hashes.length <= cap && a.sketch != null)
    val b = agg.createAggregationBuffer()
    (0L until cap / 2).foreach(v => agg.update(b, InternalRow(-v - 1)))
    val merged = agg.merge(agg.deserialize(agg.serialize(b)),
      agg.deserialize(agg.serialize(a)))
    assert(merged.hashes.isEmpty)
    val sketch = BloomFilter.readFrom(new java.io.ByteArrayInputStream(
      agg.eval(merged).asInstanceOf[Array[Byte]]))
    assert(sketch.bitSize() === maxBits)
    assert(((0L until 3 * cap) ++ (1L to cap / 2).map(-_))
      .forall(sketch.mightContainLong))
    // through Spark: one group far over the cap, one exactly at it
    val over = (0L until 20 * cap).map(("o", _))
    val at = (0L until cap).map(("a", _))
    val sketches = (over ++ at).toDF("g", "k")
      .groupBy(col("g")).agg(JoinPruning.bloomAgg(col("k"), maxBits).as("bk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert((0L until 20 * cap).forall(JoinPruning.mightContainValue(sketches("o"), _)))
    assert(sketches("o").length <= maxBits / 8 + 64)
    // at the cap the sketch is exactly the uncapped rule's
    val hashes = at.toDF("g", "k").select(xxhash64(col("k"))).collect().map(_.getLong(0))
    val want = BloomFilter.create(cap, maxBits)
    hashes.foreach(want.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    want.writeTo(bos)
    assert(sketches("a").toSeq === bos.toByteArray.toSeq)
  }

  test("plan: the pre-filter is the codegen'd might_contain over the scan") {
    val df = JoinPruning.semiJoinPruned(
      t.customer, t.orders.select(col("o_custkey")),
      "c_custkey", "o_custkey")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
  }

  test("pruning reduces rows reaching the join when selectivity is low") {
    // build side = a thin slice of customers; the bloom should drop
    // most orders before the exact join
    val slice = t.customer.filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey"))
    val bloom = JoinPruning.buildKeyBloom(slice, "c_custkey")
    val kept = t.orders
      .filter(JoinPruning.mightContain(bloom, col("o_custkey"))).count()
    val total = t.orders.count()
    assert(kept < total / 2, s"kept $kept of $total — bloom not selective")
  }
}
