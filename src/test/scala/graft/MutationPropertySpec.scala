package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.sources.Export

/** Property-based invariants for the H8/H9 mutation cores —
  * ScalaCheck-generated (state, delta) key sets with overlaps,
  * disjoint inserts and empty edges, each checked against a
  * plain-Scala model of the mutation semantics (the planted-case
  * specs in ExportSpec pin exact outputs; these pin the ALGEBRA on
  * adversarial shapes). */
class MutationPropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Key-unique (key, value) maps with controlled overlap: state from
    * [0, 40), delta straddling the boundary so some keys match and
    * some insert; either side may be empty. */
  private val scenario: Gen[(Map[Long, String], Map[Long, String])] = for {
    stateKeys <- Gen.someOf(0L until 40L)
    deltaKeys <- Gen.someOf(20L until 60L)
  } yield (stateKeys.map(k => k -> s"s$k").toMap,
    deltaKeys.map(k => k -> s"d$k").toMap)

  private def df(m: Map[Long, String]) = {
    // explicit schema survives the empty case (toDF on Nil is fine
    // with an explicit type ascription)
    val rows: Seq[(Long, String)] = m.toSeq
    rows.toDF("k", "v")
  }

  test("mergeLatest: result IS the map union with delta winning, " +
    "key-unique, idempotent — over generated overlap shapes") {
    Gen.listOfN(25, scenario).sample.get.foreach { case (state, delta) =>
      val merged = Export.mergeLatest(df(state), df(delta), "k")
      val got = merged.collect().map(r => r.getLong(0) -> r.getString(1))
      val model = state ++ delta // the spec: latest (delta) wins
      assert(got.toMap === model)
      assert(got.length === model.size, "merge duplicated a key")
      val again = Export.mergeLatest(merged, df(delta), "k").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(again.toMap === model && again.length === model.size,
        "re-merge was not a no-op")
    }
  }

  test("scoped lifecycle algebra: over generated overlap shapes, a " +
    "commit→mergeScoped→purgeScoped→optimize chain through the " +
    "MANIFESTED table tracks the plain map model at every step, " +
    "readScoped equals the range filter, and metaAgg equals the " +
    "scan — including the emptied-table edge") {
    import graft.sources.TableFormat
    val chains = Gen.listOfN(8, for {
      (state, delta) <- scenario
      purgeKeys <- Gen.someOf(0L until 60L)
      lo <- Gen.choose(0L, 30L)
      span <- Gen.choose(0L, 30L)
    } yield (state, delta, purgeKeys.toSet, lo, lo + span)).sample.get
    // plus the forced emptied-table edge: purge everything
    val cases = chains :+ ((0L until 10L).map(k => k -> s"s$k").toMap,
      Map.empty[Long, String], (0L until 60L).toSet, 0L, 5L)
    cases.foreach { case (state, delta, purgeKeys, lo, hi) =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-prop-scoped").toString
      val schema = df(state).schema
      TableFormat.commitGenManifested(
        df(state).repartitionByRange(4, col("k")), root, Seq("k"))
      // merge tracks map union (delta wins)
      TableFormat.mergeScoped(spark, root, df(delta), schema, "k")
      val m1 = state ++ delta
      def table(g: Long) = TableFormat
        .readViaManifest(spark, root, g, schema)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(table(1L) === m1, s"mergeScoped diverged from the model")
      // purge tracks key subtraction
      TableFormat.purgeScoped(spark, root,
        df(purgeKeys.map(k => k -> "").toMap).select(col("k")),
        schema, "k")
      val m2 = m1 -- purgeKeys
      assert(table(2L) === m2, "purgeScoped diverged from the model")
      // optimize is invisible
      TableFormat.optimize(spark, root, schema,
        smallRows = 1000L, targetRows = 50L)
      assert(table(3L) === m2, "optimize changed the table")
      // pruned range read ≡ the filter model (on the optimized gen)
      val (slice, rep) = TableFormat.readScoped(spark, root, 3L, schema,
        Seq(("k", lo, hi)))
      val got = slice.collect().map(r => r.getLong(0) -> r.getString(1))
      assert(got.toMap === m2.filter { case (k, _) => k >= lo && k <= hi })
      assert(got.length === got.toMap.size)
      // read + skipped partition the manifest exactly
      assert(rep.filesTouched + rep.filesCarried ===
        TableFormat.readManifest(spark, root, 3L).count())
      // metadata-only aggregate ≡ the scan
      val meta = TableFormat.metaAgg(spark, root, 3L, "k").first()
      assert(meta.getLong(0) === m2.size.toLong, "metaAgg count wrong")
      if (m2.nonEmpty) {
        assert(meta.getLong(1) === m2.keys.min, "metaAgg min wrong")
        assert(meta.getLong(2) === m2.keys.max, "metaAgg max wrong")
      } else assert(meta.isNullAt(1) && meta.isNullAt(2))
      graft.sources.LayoutStore.deleteRecursively(new java.io.File(root))
    }
  }

  test("scd2Apply: closed = matched, survivors untouched, arrivals " +
    "current, row count conserves, exactly one current per key") {
    Gen.listOfN(25, scenario).sample.get.foreach { case (state, delta) =>
      val stateDf = df(state)
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val deltaDf = df(delta)
        .withColumn("valid_from", lit(7L))
        .withColumn("valid_to", lit(null).cast("long"))
      val hist = Export.scd2Apply(stateDf, deltaDf, "k", closeAt = 7L)
      val rows = hist.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      // APPEND-ONLY: every input row is still there, once
      assert(rows.length === state.size + delta.size)
      val (closed, current) = rows.partition(_._4.isDefined)
      // closed = exactly the matched state versions, at closeAt,
      // with their ORIGINAL values
      val matched = state.filter { case (k, _) => delta.contains(k) }
      assert(closed.map(r => r._1 -> r._2).toMap === matched)
      assert(closed.forall(_._4.contains(7L)))
      // current = survivors (original values) + every delta row
      val model = (state -- delta.keySet) ++ delta
      assert(current.map(r => r._1 -> r._2).toMap === model)
      // exactly one current version per key
      assert(current.map(_._1).distinct.length === current.length)
    }
  }
}
