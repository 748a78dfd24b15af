package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{DataFile, FileStats, FileStatsMissingException, TableFormat}

/** Writer-side manifest statistics: every manifested commit's manifest
  * equals what a second pass grouped on `_metadata.file_path` computes
  * over the data it wrote (the pass the commit used to run), the
  * manifest builder trusts only the committed listing, and a commit
  * leaves its manifest in the driver caches, so reads after it list no
  * file and run no job. */
class ManifestStatsSpec extends SparkTestBase {
  import spark.implicits._

  /** The group-by the commit ran before its writer collected the stats
    * (a spec-local copy): one row per file of `dir`. */
  private def groupByStats(dir: String, schema: StructType,
      keys: Seq[String], bloomKeys: Seq[String]): DataFrame = {
    val aggs = (count(lit(1)).as("n_rows") +: keys.flatMap(k => Seq(
      min(col(k)).as(s"min_$k"),
      max(col(k)).as(s"max_$k"),
      (count(lit(1)) > count(col(k))).as(s"null_$k")))) ++
      bloomKeys.map(k =>
        graft.operators.JoinPruning.bloomAgg(col(k)).as(s"bloom_$k"))
    spark.read.schema(schema).parquet(dir)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** A row's values with sketches as byte lists and doubles as their
    * bits, so rows compare by content (NaN equals NaN, -0.0 is not
    * 0.0). */
  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case d: Double => "bits" -> java.lang.Double.doubleToLongBits(d)
    case v => v
  }

  private def byFile(rows: Seq[Row]): Map[String, Seq[Any]] =
    rows.map(r => r.getAs[String]("file") -> norm(r)).toMap

  /** Generation `gen`'s manifest on disk: its files in the generation's
    * own dir equal the group-by over that dir; every other file is
    * carried and keeps the row it had in generation `gen - 1`. */
  private def assertManifestEqualsGroupBy(root: String, gen: Long,
      schema: StructType): Unit = {
    val mdir = TableFormat.manifestPath(root, gen)
    val onDisk = spark.read.parquet(mdir)
    val cols = onDisk.columns.toIndexedSeq
    val keys = cols.collect { case c if c.startsWith("min_") => c.drop(4) }
    val blooms = cols.collect { case c if c.startsWith("bloom_") => c.drop(6) }
    val dir = TableFormat.resolveDir(root, gen)
    val rows = byFile(onDisk.collect().toSeq)
    val (own, carried) = rows.partition { case (f, _) =>
      TableFormat.localFile(f).getParentFile.getCanonicalPath ==
        new java.io.File(dir).getCanonicalPath }
    val want = byFile(groupByStats(dir, schema, keys, blooms)
      .select(cols.map(col): _*).collect().toSeq)
    assert(own === want, s"$root@$gen: writer-side stats differ")
    if (gen > 0) {
      val prev = spark.read.parquet(TableFormat.manifestPath(root, gen - 1))
      val prevRows = byFile(prev.select(cols.filter(prev.columns.contains)
        .map(col): _*).collect().toSeq)
      carried.foreach { case (f, r) =>
        val widened = cols.zip(r).filter { case (c, _) => prev.columns.contains(c) }
          .map(_._2)
        assert(prevRows.get(f).contains(widened), s"$root@$gen: carried $f")
      }
    } else assert(carried.isEmpty)
  }

  private def newRoot(tag: String) =
    Files.createTempDirectory(s"graft-mstats-$tag").toString

  // every stat-able key type, NULLs in each, NaN and -0.0 among the
  // doubles, spread over several files
  private def typedRows(lo: Long, hi: Long) = spark.range(lo, hi)
    .select(
      when(col("id") % 17 === 3, lit(null)).otherwise(col("id")).as("id"),
      when(col("id") % 13 === 5, lit(null))
        .otherwise(concat(lit("s"), (col("id") * 7919 % 1000).cast("string")))
        .as("s"),
      when(col("id") % 11 === 0, lit(Double.NaN))
        .when(col("id") % 11 === 1, lit(null))
        .when(col("id") % 11 === 2, lit(-0.0))
        .when(col("id") % 11 === 3, lit(0.0))
        .otherwise(col("id") * 1.5 - 40.0).as("d"),
      when(col("id") % 9 === 4, lit(null))
        .otherwise(date_add(lit("2024-01-01").cast("date"),
          (col("id") * 37 % 400).cast("int"))).as("dt"),
      when(col("id") % 7 === 6, lit(null))
        .otherwise(timestamp_seconds(col("id") * 86413L)).as("ts"),
      when(col("id") % 5 === 2, lit(null))
        .otherwise(col("id") % 3 === 0).as("b"),
      concat(lit("t"), col("id")).as("text"))
    .repartition(6, col("text"))

  test("the writer-side manifest equals the file_path group-by for every " +
    "manifested commit shape: long, string, double with NaN, date, " +
    "timestamp and boolean keys with NULLs, sketches byte-identical") {
    val keys = Seq("id", "s", "d", "dt", "ts", "b")
    val bloomKeys = Seq("id", "s", "d")
    val root = newRoot("typed")
    val base = typedRows(0, 600)
    val schema = base.schema
    assert(TableFormat.commitGenManifested(base, root, keys, bloomKeys) === 0L)
    // the recorded manifest schema is the group-by's, nullability included
    val recorded = org.apache.spark.sql.types.DataType.fromJson(
      Files.readString(Paths.get(TableFormat.manifestPath(root, 0L),
        "_schema.json")))
    assert(recorded === groupByStats(TableFormat.resolveDir(root, 0L),
      schema, keys, bloomKeys).schema)
    TableFormat.purgeScoped(spark, root, Seq(10L, 11L, 300L).toDF("id"),
      schema, "id")
    TableFormat.mergeScoped(spark, root,
      typedRows(590, 640).withColumn("s", lit("merged")), schema, "id")
    TableFormat.appendScoped(spark, root, typedRows(1000, 1040), schema)
    TableFormat.optimize(spark, root, schema, smallRows = 60L,
      targetRows = 200L)
    (0L to 4L).foreach(g => assertManifestEqualsGroupBy(root, g, schema))
  }

  test("the writer-side manifest equals the group-by for the " +
    "TableFormatSpec table shapes: range- and hash-clustered, " +
    "multi-key, Bloom-sketched, widened by evolution, and empty") {
    def docs(lo: Long, hi: Long, files: Int) = spark.range(lo, hi)
      .select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"),
        (col("id") % 3).cast("string").as("source"))
    val shapes = Seq(
      ("range", docs(0, 1000, 10).repartitionByRange(10, col("doc_id")),
        Seq("doc_id"), Seq.empty[String]),
      ("multikey", docs(0, 800, 8).repartitionByRange(8, col("source"),
        col("doc_id")), Seq("source", "doc_id"), Seq.empty[String]),
      ("bloom", docs(0, 2000, 8).repartition(8, col("text")),
        Seq("doc_id"), Seq("doc_id")),
      ("empty", docs(0, 0, 1), Seq("doc_id"), Seq.empty[String]))
    shapes.foreach { case (tag, df, keys, blooms) =>
      val root = newRoot(tag)
      val schema = df.schema
      TableFormat.commitGenManifested(df, root, keys, blooms)
      TableFormat.purgeScoped(spark, root, Seq(5L, 950L).toDF("doc_id"),
        schema, "doc_id")
      TableFormat.appendScoped(spark, root, docs(5000, 5100, 1), schema)
      (0L to 2L).foreach(g => assertManifestEqualsGroupBy(root, g, schema))
    }
    // additive evolution: the widened key enters for rewritten files
    val root = newRoot("evolve")
    val base = docs(0, 400, 4).repartitionByRange(4, col("doc_id"))
    TableFormat.commitGenManifested(base, root, Seq("doc_id"))
    val evolved = base.schema.add("rev", "long")
    TableFormat.mergeScoped(spark, root,
      docs(0, 400, 1).filter(col("doc_id") % 50 === 0)
        .withColumn("rev", lit(2L)), evolved, "doc_id")
    assertManifestEqualsGroupBy(root, 0L, base.schema)
    assertManifestEqualsGroupBy(root, 1L, evolved)
  }

  test("the manifest builder keeps only listed files: stats for an " +
    "unlisted file are dropped, a listed file without stats is a named " +
    "error, and a zero-row file is no entry") {
    def stats(n: Long): InternalRow = new GenericInternalRow(Array[Any](n))
    val a = DataFile("file:/t/gen_0/part-00000-a.parquet", 10L, 1L)
    val b = DataFile("file:/t/gen_0/part-00001-b.parquet", 20L, 1L)
    val e = DataFile("file:/t/gen_0/part-00002-e.parquet", 5L, 1L)
    val entries = FileStats.manifestEntries(Seq(a, b, e), Seq(
      "part-00000-a.parquet" -> stats(3L),
      "part-00001-b.parquet" -> stats(4L),
      "part-00002-e.parquet" -> stats(0L),
      "part-00009-speculative.parquet" -> stats(7L)))
    assert(entries.map(e => e._1 -> e._2.getLong(0)) === Seq(a -> 3L, b -> 4L))
    val missing = intercept[FileStatsMissingException](
      FileStats.manifestEntries(Seq(a, b),
        Seq("part-00000-a.parquet" -> stats(3L))))
    assert(missing.getMessage.contains(b.path))
  }

  test("after a commit the first manifest read and a 40-file " +
    "readViaManifest run no job, and a cold read of the same manifest " +
    "equals the entries the commit seeded") {
    val root = newRoot("seeded")
    val docs = spark.range(0, 4000)
      .select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(40, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    val (meta, metaJobs) = JobCounting.countJobs(spark)(
      TableFormat.manifestMeta(spark, root, 0L))
    assert(metaJobs === 0, s"the first manifestMeta ran $metaJobs jobs")
    assert(meta.files.length === 40)
    val (frame, planJobs) = JobCounting.countJobs(spark) {
      val df = TableFormat.readViaManifest(spark, root, 0L, schema)
      df.queryExecution.executedPlan
      df
    }
    assert(planJobs === 0, s"the 40-file read planned in $planJobs jobs")
    assert(frame.inputFiles.length === 40)
    assert(frame.count() === 4000L)
    val (_, probeJobs) = JobCounting.countJobs(spark)(
      TableFormat.prunedFilesIn(spark, root, 0L, "doc_id", Seq(7L)))
    assert(probeJobs === 0, s"the first sketch probe ran $probeJobs jobs")
    // a byte copy of the manifest is a new cache identity: its entries
    // load cold, over the same data files
    val copy = Paths.get(newRoot("cold"), "t")
    Files.walk(Paths.get(root)).forEach { p =>
      val q = copy.resolve(Paths.get(root).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
    val (cold, coldJobs) = JobCounting.countJobs(spark)(
      TableFormat.manifestMeta(spark, copy.toString, 0L))
    assert(coldJobs === 1)
    assert(cold === meta, "the seeded entry differs from a cold read")
    TableFormat.prunedFilesIn(spark, copy.toString, 0L, "doc_id", Seq(7L))
    val sketches = TableFormat.sketchCache
      .peek(TableFormat.manifestPath(root, 0L)).flatten
    val coldSketches = TableFormat.sketchCache
      .peek(TableFormat.manifestPath(copy.toString, 0L)).flatten
    assert(sketches.nonEmpty && sketches === coldSketches,
      "the seeded sketch rows differ from a cold read")
  }
}
