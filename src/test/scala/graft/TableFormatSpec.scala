package graft

import org.apache.spark.sql.functions._

import graft.sources.TableFormat

/** The table-format read family (H12 time travel, H13 delete-vector
  * merge-on-read, H14 CDC): core-level proofs against independent
  * plain-Scala replications plus the planted pathologies the oracle
  * rows can't reach (no-op updates, empty delete vectors, reads
  * pinned across a concurrent commit). */
class TableFormatSpec extends SparkTestBase {
  import spark.implicits._

  test("commitGen/readGen: a gen-0 read is bit-identical before and " +
    "after the gen-1 commit, and the pointer advances atomically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val g0 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    assert(TableFormat.commitGen(g0, dir) === 0L)
    assert(TableFormat.currentGen(dir) === 0L)
    val schema = g0.schema
    val before = TableFormat.readGen(spark, dir, 0L, schema)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    val g1 = Seq((1L, "a", 10.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    assert(TableFormat.commitGen(g1, dir) === 1L)
    assert(TableFormat.currentGen(dir) === 1L)
    // the pinned past-generation read after the commit — time travel
    val after = TableFormat.readGen(spark, dir, 0L, schema)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(before.toSeq === after.toSeq)
    val cur = TableFormat.readGen(spark, dir, TableFormat.currentGen(dir), schema)
      .collect().map(_.getLong(0)).sorted
    assert(cur.toSeq === Seq(1L, 3L))
  }

  test("applyDv: merge-on-read equals the rewrite row-for-row, an " +
    "empty DV is the identity, double application is idempotent") {
    val store = Seq(
      (1L, "t1", "en", 2L, "web"), (2L, "t2", "en", 2L, "web"),
      (97L, "t97", "de", 3L, "book"), (194L, "t194", "de", 4L, "book"),
      (5L, "t5", "fr", 2L, "code")
    ).toDF("doc_id", "text", "lang", "n_chars", "source")
    val dv = Seq(97L, 194L).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "lang", "n_chars", "source").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getString(4))).sortBy(_._1).toSeq
    val mor = TableFormat.applyDv(store, dv)
    // independent rewrite replication: literal id-set filter
    val rewrite = store.filter(!col("doc_id").isin(97L, 194L))
    assert(rows(mor) === rows(rewrite))
    assert(rows(TableFormat.applyDv(store, spark.emptyDataset[Long]
      .toDF("doc_id"))) === rows(store))
    assert(rows(TableFormat.applyDv(mor, dv)) === rows(mor))
  }

  test("cdcDiff: planted insert/delete/update/no-op classify exactly, " +
    "a no-op row emits NOTHING, and applying the feed reproduces the " +
    "next generation row-for-row") {
    val prev = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    val next = Seq((1L, "a", 10.0), // untouched — must emit nothing
      (2L, "B", 20.0),              // update (string field)
      (4L, "d", 45.0),              // update (numeric field)
      (5L, "e", 50.0)               // insert; 3 deleted
    ).toDF("k", "s", "v")
    val diff = TableFormat.cdcDiff(prev, next, "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(!diff.exists(_._2 == 1L), "no-op row leaked into the feed")
    assert(diff.filter(_._1 == "insert").toSet === Set(("insert", 5L, "e", 50.0)))
    assert(diff.filter(_._1 == "delete").toSet === Set(("delete", 3L, "c", 30.0)))
    assert(diff.filter(_._1 == "update_pre").toSet ===
      Set(("update_pre", 2L, "b", 20.0), ("update_pre", 4L, "d", 40.0)))
    assert(diff.filter(_._1 == "update_post").toSet ===
      Set(("update_post", 2L, "B", 20.0), ("update_post", 4L, "d", 45.0)))
    // the changefeed contract: apply(gen N, diff) ≡ gen N+1
    val applied = TableFormat.applyChanges(prev,
      TableFormat.cdcDiff(prev, next, "k"), "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val want = next.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(applied === want)
  }

  test("cdcDiff: a genuinely NULL key matches across generations — " +
    "changed row classifies as update, identical row as no-op, " +
    "never as a phantom delete+insert pair") {
    val prev = Seq((Option(1L), "a", 10.0), (None, "n", 1.0),
      (Option(2L), "b", 20.0)).toDF("k", "s", "v")
    // null-keyed row CHANGED; key-2 row untouched
    val next = Seq((Option(1L), "a", 10.0), (None, "n", 9.0),
      (Option(2L), "b", 20.0)).toDF("k", "s", "v")
    val diff = TableFormat.cdcDiff(prev, next, "k").collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getString(2),
        r.getDouble(3)))
    assert(diff.map(_._1).sorted.toSeq === Seq("update_post", "update_pre"),
      s"null-keyed update misclassified: ${diff.mkString(", ")}")
    assert(diff.forall(_._2.isEmpty))
    // and an identical null-keyed row emits nothing
    assert(TableFormat.cdcDiff(prev, prev, "k").isEmpty)
    // applyChanges removes/reinstalls the null-keyed row correctly
    val applied = TableFormat.applyChanges(prev,
      TableFormat.cdcDiff(prev, next, "k"), "k")
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getDouble(2)))
      .sortBy(_._2).toSeq
    val want = next.collect()
      .map(r => (Option(r.get(0)), r.getString(1), r.getDouble(2)))
      .sortBy(_._2).toSeq
    assert(applied === want)
  }

  test("tryCommit: conflicting writers — exactly one wins, the " +
    "loser's commit leaves nothing durable, and a crashed writer's " +
    "orphan dir never blocks the next commit (no lease to heal)") {
    val root = java.nio.file.Files.createTempDirectory("graft-occ").toString
    val mk = (v: Long) => Seq((1L, v)).toDF("k", "v")
    val schema = mk(0).schema
    def occ(v: Long, expected: Long) = TableFormat.tryCommit(root,
      Some(expected), schema)(dir => mk(v).write.parquet(dir))
    TableFormat.commitGen(mk(0), root)
    // writer A derived its change against gen 0 and commits first
    assert(occ(10, expected = 0L) === Some(1L))
    assert(TableFormat.currentGen(root) === 1L)
    // writer B ALSO derived against gen 0 — its commit must fail,
    // the table must not advance, and gen 1 must still be A's data
    assert(occ(20, expected = 0L) === None)
    assert(TableFormat.currentGen(root) === 1L)
    assert(TableFormat.readGen(spark, root, 1L, schema)
      .collect().map(_.getLong(1)).toSeq === Seq(10L))
    // B retries against the NEW current generation and succeeds
    assert(occ(20, expected = 1L) === Some(2L))
    assert(TableFormat.currentGen(root) === 2L)
    // a writer that CRASHED after staging (data dir, no marker)
    // blocks nothing: the next commit proceeds immediately — the
    // protocol has no lock, so there is nothing to heal or wait out
    val orphan = new java.io.File(root, "gen_3_deadbeef")
    assert(orphan.mkdir())
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-0"), "x")
    assert(occ(30, expected = 2L) === Some(3L))
    assert(TableFormat.currentGen(root) === 3L)
    assert(TableFormat.readGen(spark, root, 3L, schema)
      .collect().map(_.getLong(1)).toSeq === Seq(30L),
      "gen 3 must resolve to the COMMITTED dir, not the orphan")
    // losers' staged dirs are cleaned up; only committed dirs + the
    // planted orphan remain
    val genDirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen_"))
      .map(_.getName).sorted
    assert(genDirs.count(_.startsWith("gen_3")) === 2, // committed + orphan
      s"loser staging debris left: ${genDirs.mkString(", ")}")
    assert(genDirs.length === 5, s"unexpected dirs: ${genDirs.mkString(", ")}")
  }

  test("commit-marker CAS: no interleaving can double-commit — the " +
    "old lease's check-to-move window is structurally gone. Eight " +
    "writers hammer the table concurrently; every generation lands " +
    "exactly one writer's payload and nothing is lost or torn") {
    val root = java.nio.file.Files.createTempDirectory("graft-cas").toString
    val mk = (w: Int, i: Int) => Seq((w.toLong, i.toLong)).toDF("w", "i")
    TableFormat.commitGen(Seq((-1L, -1L)).toDF("w", "i"), root)
    val writers = 8; val commitsEach = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            var done = 0; var spins = 0
            while (done < commitsEach) {
              val cur = TableFormat.currentGen(root)
              if (TableFormat.tryCommit(root, Some(cur), mk(w, done).schema)(
                  dir => mk(w, done).write.parquet(dir)).isDefined) done += 1
              else { spins += 1; require(spins < 10000, "livelock") }
            }
            done
          }
        })
      }
      assert(futures.map(_.get()).sum === writers * commitsEach)
    } finally pool.shutdown()
    val total = writers * commitsEach
    assert(TableFormat.currentGen(root) === total.toLong,
      "every commit must land exactly one NEW generation")
    // each generation holds exactly one writer's single-row payload,
    // and the 40 payloads are exactly the 40 attempted commits — no
    // loss, no duplicate, no torn read anywhere in the history
    val schema = mk(0, 0).schema
    val payloads = (1 to total).map { g =>
      val rows = TableFormat.readGen(spark, root, g.toLong, schema)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length === 1, s"generation $g torn: ${rows.length} rows")
      rows.head
    }
    assert(payloads.toSet.size === total, "a payload committed twice")
    assert(payloads.toSet ===
      (for (w <- 0 until writers; i <- 0 until commitsEach)
        yield (w.toLong, i.toLong)).toSet)
    // and no loser staging debris survived the hammer
    val markers = new java.io.File(root).listFiles()
      .count(f => f.isFile && f.getName.startsWith("commit_"))
    val dirs = new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("gen_"))
    assert(markers === total + 1)
    assert(dirs === total + 1, "loser dirs not cleaned up")
  }

  test("scoped-commit CAS hammer: four writers race tryMergeScoped on " +
    "one manifested table — every generation lands exactly one " +
    "writer's delta, the final table is the latest-wins fold of all " +
    "deltas, and every manifest stays exact (metaAgg ≡ scan)") {
    val root = java.nio.file.Files.createTempDirectory("graft-mhammer")
      .toString
    val base = spark.range(0, 1000)
      .select(col("id").as("k"), lit(0L).as("w"), lit(-1L).as("i"))
      .repartitionByRange(10, col("k"))
    val schema = base.schema
    TableFormat.commitGenManifested(base, root, Seq("k"))
    val writers = 4; val commitsEach = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            var done = 0; var spins = 0
            while (done < commitsEach) {
              // each commit updates one in-range key owned by this
              // writer+iteration and inserts one out-of-range key
              val delta = Seq(
                (w * 100L + done, w.toLong, done.toLong),
                (5000L + w * 10 + done, w.toLong, done.toLong))
                .toDF("k", "w", "i")
              val cur = TableFormat.currentGen(root)
              if (TableFormat.tryMergeScoped(spark, root, delta, schema,
                  "k", cur).isDefined) done += 1
              else { spins += 1; require(spins < 10000, "livelock") }
            }
            done
          }
        })
      }
      assert(futures.map(_.get()).sum === writers * commitsEach)
    } finally pool.shutdown()
    val total = writers * commitsEach
    assert(TableFormat.currentGen(root) === total.toLong)
    val fin = TableFormat.readViaManifest(spark, root, total.toLong, schema)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(fin.length === 1000 + total, "inserts lost or duplicated")
    // every writer's updates and inserts all landed (no lost update
    // under contention — the serializable history OCC promises)
    for (w <- 0 until writers; i <- 0 until commitsEach) {
      assert(fin.contains((w * 100L + i, w.toLong, i.toLong)),
        s"update ($w,$i) lost")
      assert(fin.contains((5000L + w * 10 + i, w.toLong, i.toLong)),
        s"insert ($w,$i) lost")
    }
    // the statistics stayed exact through 12 contended scoped
    // commits: metadata-only count/min/max ≡ the scan
    val meta = TableFormat.metaAgg(spark, root, total.toLong, "k")
      .first()
    assert(meta.getLong(0) === 1000L + total)
    assert(meta.getLong(1) === 0L && meta.getLong(2) === fin.map(_._1).max)
  }

  test("vacuumGenerations sweeps aged crash debris (_commit_*.tmp " +
    "marker temps, unreferenced gen_* staging dirs) but leaves FRESH " +
    "debris — an in-flight writer's staging — alone") {
    val root = java.nio.file.Files.createTempDirectory("graft-debris").toString
    val mk = (v: Long) => Seq((1L, v)).toDF("k", "v")
    TableFormat.commitGen(mk(0), root)
    TableFormat.commitGen(mk(1), root)
    val tmp = java.nio.file.Paths.get(root, "_commit_123.tmp")
    java.nio.file.Files.writeString(tmp, "gen_9_dead")
    val stage = new java.io.File(root, "gen_2_deadbeef")
    assert(stage.mkdir())
    java.nio.file.Files.writeString(stage.toPath.resolve("part-0"), "x")
    // fresh debris survives a sweep with a real staleness bound
    assert(TableFormat.vacuumTable(spark, root, keep = 1,
      debrisStaleMillis = 3600000L).gens === Seq(0L))
    assert(java.nio.file.Files.exists(tmp) && stage.isDirectory,
      "swept an in-flight writer's fresh files")
    // aged debris reaps; live generation + marker intact
    assert(TableFormat.vacuumTable(spark, root, keep = 1,
      debrisStaleMillis = -1L).gens === Seq.empty)
    assert(!java.nio.file.Files.exists(tmp), "_commit_*.tmp survived")
    assert(!stage.exists(), "unreferenced staging dir survived")
    assert(TableFormat.currentGen(root) === 1L)
    assert(TableFormat.readGen(spark, root, 1L, mk(0).schema)
      .collect().map(_.getLong(1)).toSeq === Seq(1L))
  }

  test("vacuumTable on a purged manifested table expires gen 0 but " +
    "keeps every file gen 1 carries from it by reference — every " +
    "carried file still reads") {
    val root = java.nio.file.Files.createTempDirectory("graft-vguard")
      .toString
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(10, col("doc_id"))
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    // gen 1 carries 9 of gen 0's files by reference
    TableFormat.purgeScoped(spark, root, Seq(5L).toDF("doc_id"),
      docs.schema, "doc_id")
    val gen0Dir = TableFormat.resolveDir(root, 0L)
    val carried = TableFormat.manifestFiles(spark, root, 1L)
      .filter(_.contains(new java.io.File(gen0Dir).getName))
    assert(carried.length === 9)
    assert(TableFormat.vacuumTable(spark, root, keep = 1).gens === Seq(0L))
    assert(carried.forall(f => TableFormat.localFile(f).exists()),
      "the sweep reaped a file gen 1 carries by reference")
    // every carried reference still reads, row for row
    val carriedRows = TableFormat.manifestMeta(spark, root, 1L).stats
      .filter(r => carried.contains(r.getAs[String]("file")))
      .map(_.getAs[Long]("n_rows")).sum
    assert(spark.read.schema(docs.schema).parquet(carried: _*).count() ===
      carriedRows)
    assert(TableFormat.readViaManifest(spark, root, 1L, docs.schema)
      .count() === 999L)
  }

  test("purgeScoped: only files whose min/max range intersects the " +
    "list rewrite (files-read < total), carried files are REFERENCED " +
    "not copied, and the scoped purge equals the full rewrite " +
    "row-for-row") {
    val root = java.nio.file.Files.createTempDirectory("graft-skip").toString
    // ids 0..999 in 10 tight range files of 100
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(10, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    val m0 = TableFormat.readManifest(spark, root, 0L)
    assert(m0.count() === 10L)
    // two listed ids hit exactly two files
    val keys = Seq(5L, 950L).toDF("doc_id")
    val report = TableFormat.purgeScoped(spark, root, keys, schema, "doc_id")
    assert(report.filesTouched === 2L, s"expected 2 touched: $report")
    assert(report.filesCarried === 8L)
    assert(TableFormat.currentGen(root) === 1L)
    // carried manifest rows still point INTO gen_0 — reference, no copy
    val m1 = TableFormat.readManifest(spark, root, 1L)
      .collect().map(_.getString(0))
    assert(m1.count(_.contains("gen_0")) === 8)
    assert(m1.count(_.contains("gen_1")) === 2)
    // scoped result ≡ the full-rewrite purge
    val got = TableFormat.readViaManifest(spark, root, 1L, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val want = docs.filter(!col("doc_id").isin(5L, 950L))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === want)
    // an empty list is a pure manifest commit: zero files rewrite
    val r2 = TableFormat.purgeScoped(spark, root,
      spark.emptyDataset[Long].toDF("doc_id"), schema, "doc_id")
    assert(r2.filesTouched === 0L && r2.filesCarried === 10L)
    assert(TableFormat.readViaManifest(spark, root, 2L, schema)
      .count() === 998L)
  }

  test("purgeScoped: NULL keys are first-class — the manifest's " +
    "null-presence flag routes a NULL takedown key to exactly the " +
    "null-carrying files, and a non-null list leaves NULL rows alone") {
    val root = java.nio.file.Files.createTempDirectory("graft-nullskip")
      .toString
    // 100 non-null ids in range files + 3 NULL-keyed rows co-located
    val docs = spark.range(0, 100)
      .select(col("id").cast("long").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .unionByName(Seq(("n1"), ("n2"), ("n3")).toDF("text")
        .select(lit(null).cast("long").as("doc_id"), col("text")))
      .repartitionByRange(5, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    val m0 = TableFormat.readManifest(spark, root, 0L)
    assert(m0.filter(col("null_doc_id")).count() >= 1L,
      "the manifest must flag the null-carrying file(s)")
    // a NON-null list must not touch the null rows (and with tight
    // ranges, not even their file when ids don't intersect)
    TableFormat.purgeScoped(spark, root, Seq(50L).toDF("doc_id"),
      schema, "doc_id")
    val after1 = TableFormat.readViaManifest(spark, root, 1L, schema)
    assert(after1.filter(col("doc_id").isNull).count() === 3L,
      "a non-null takedown removed NULL-keyed rows")
    assert(after1.count() === 102L)
    // a list CONTAINING null removes the null rows — the null flag
    // classifies their file as touched even though min/max are blind
    val nullList = Seq(Option.empty[Long], Option(7L)).toDF("doc_id")
    val rep = TableFormat.purgeScoped(spark, root, nullList,
      schema, "doc_id")
    assert(rep.filesTouched >= 1L)
    val after2 = TableFormat.readViaManifest(spark, root, 2L, schema)
    assert(after2.filter(col("doc_id").isNull).count() === 0L,
      "a NULL takedown key must remove NULL-keyed rows")
    assert(after2.count() === 98L) // 102 - 3 nulls - id 7
  }

  test("mergeScoped: only range-intersecting files rewrite for the " +
    "delta (inserts beyond every range touch nothing), and the merged " +
    "table equals mergeLatest over the full table row-for-row") {
    val root = java.nio.file.Files.createTempDirectory("graft-mscope")
      .toString
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(10, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    // two updates hit two files; two inserts sit past every max_key
    val delta = Seq((5L, "u5"), (950L, "u950"), (2000L, "n2000"),
      (2001L, "n2001")).toDF("doc_id", "text")
    val rep = TableFormat.mergeScoped(spark, root, delta, schema, "doc_id")
    assert(rep.filesTouched === 2L, s"expected 2 touched: $rep")
    assert(rep.filesCarried === 8L)
    val got = TableFormat.readViaManifest(spark, root, 1L, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val want = graft.sources.Export.mergeLatest(docs, delta, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === want, "scoped merge diverged from the full merge")
    assert(got.length === 1002)
    assert(got.find(_._1 == 5L).map(_._2) === Some("u5"))
    assert(got.find(_._1 == 2000L).map(_._2) === Some("n2000"))
  }

  test("readScoped: multi-column file statistics — a two-predicate " +
    "scope reads fewer files than either single-column scope, and " +
    "the pruned answer equals the direct filter exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft-mcol").toString
    // 4 sources × ids 0..999 each, clustered (source, doc_id) into 16
    // files: ~4 files per source, ~250-id ranges within a source
    val docs = spark.range(0, 4000)
      .select(concat(lit("s"), (col("id") / 1000).cast("long")).as("source"),
        (col("id") % 1000).as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(16, col("source"), col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root,
      Seq("source", "doc_id"))
    assert(TableFormat.readManifest(spark, root, 0L).count() === 16L)
    val all: (Any, Any) = (java.lang.Long.MIN_VALUE, java.lang.Long.MAX_VALUE)
    def read(preds: Seq[(String, Any, Any)]) =
      TableFormat.readScoped(spark, root, 0L, schema, preds)
    val (srcDf, srcRep) = read(Seq(("source", "s2", "s2"),
      ("doc_id", all._1, all._2)))
    val (idDf, idRep) = read(Seq(("source", "", "zzzz"),
      ("doc_id", 300L, 449L)))
    val (bothDf, bothRep) = read(Seq(("source", "s2", "s2"),
      ("doc_id", 300L, 449L)))
    // every source contributes ids in [300,449], so id-only touches a
    // file per source; source-only touches every s2 file; the
    // two-column scope touches only their intersection
    assert(srcRep.filesTouched >= 3L, s"source-only: $srcRep")
    assert(idRep.filesTouched >= 3L, s"id-only: $idRep")
    assert(bothRep.filesTouched < srcRep.filesTouched &&
      bothRep.filesTouched < idRep.filesTouched,
      s"two-predicate scope must shrink the read set: " +
        s"both=$bothRep src=$srcRep id=$idRep")
    assert(bothRep.filesTouched <= 2L)
    // and the answer is exact regardless of pruning
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val want = docs
      .filter(col("source") === "s2" && col("doc_id").between(300L, 449L))
      .select(col("source"), col("doc_id"))
    assert(key(bothDf.select(col("source"), col("doc_id"))) === key(want))
    assert(bothDf.count() === 150L)
    assert(srcDf.count() === 1000L && idDf.count() === 600L)
  }

  test("optimize: small files fold into size-targeted files as a " +
    "LOGICAL NO-OP — answer invariant, files-after far below " +
    "files-before, the pre-optimize generation still time-travels, " +
    "and the superseded smalls reap by reachability") {
    val root = java.nio.file.Files.createTempDirectory("graft-opt").toString
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(10, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    // three out-of-range single-row commits — the fragmentation a
    // stream of scoped merges accretes (each adds small files)
    (1 to 3).foreach { i =>
      TableFormat.mergeScoped(spark, root,
        Seq((2000L + i, s"x$i")).toDF("doc_id", "text"), schema, "doc_id")
    }
    val cur = TableFormat.currentGen(root)
    val before = TableFormat.readManifest(spark, root, cur)
    val smallBefore = before.filter(col("n_rows") < 50L).count()
    assert(smallBefore >= 3L, s"episode vacuous: $smallBefore small files")
    val rep = TableFormat.optimize(spark, root, schema,
      smallRows = 50L, targetRows = 600L)
    assert(rep.filesTouched === smallBefore)
    val after = TableFormat.readManifest(spark, root, cur + 1)
    assert(after.count() < before.count(),
      s"optimize did not shrink the file count: " +
        s"${before.count()} -> ${after.count()}")
    assert(after.filter(col("n_rows") < 50L).count() <= 1L,
      "small files survived the compaction")
    // logical no-op: row-identical before and after
    def rows(g: Long) = TableFormat.readViaManifest(spark, root, g, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(cur + 1) === rows(cur))
    assert(rows(cur + 1).length === 1003)
    // the superseded smalls reap once retention expires them; the
    // compacted current generation reads intact through the sweep
    val reaped = TableFormat.vacuumTable(spark, root, keep = 1).files
    assert(reaped >= smallBefore,
      s"superseded small files not reclaimed: $reaped")
    assert(rows(cur + 1).length === 1003)
  }

  test("schema evolution through the commit core: the recorded width " +
    "is per generation, CARRIED legacy files stay narrow on disk and " +
    "NULL-backfill at read time, and the changefeed spans the width " +
    "boundary") {
    val root = java.nio.file.Files.createTempDirectory("graft-evolve")
      .toString
    val base = spark.range(0, 1000)
      .select(col("id").as("k"), concat(lit("s"), col("id")).as("s"))
      .repartitionByRange(10, col("k"))
    val baseSchema = base.schema
    TableFormat.commitGenManifested(base, root, Seq("k"))
    val evolved = org.apache.spark.sql.types.StructType.fromDDL(
      "k LONG, s STRING, q LONG")
    // one in-range update gains the new column; one insert beyond
    // every range proves pure carry of legacy files
    val delta = Seq((5L, "s5", 55L), (2000L, "new", 77L))
      .toDF("k", "s", "q")
    val rep = TableFormat.mergeScoped(spark, root, delta, evolved, "k")
    assert(rep.filesTouched === 1L && rep.filesCarried === 9L)
    // the log records the width per generation
    assert(TableFormat.genSchema(root, 0L).fields.length === 2)
    assert(TableFormat.genSchema(root, 1L).fields.length === 3)
    // a carried legacy file is UNTOUCHED on disk: still 2 columns
    val carriedFile = TableFormat.readManifest(spark, root, 1L)
      .filter(col("file").contains("gen_0"))
      .select(col("file")).first().getString(0)
    assert(spark.read.parquet(carriedFile).schema.fields.length === 2,
      "a carried legacy file was rewritten or widened on disk")
    // the evolved read NULL-backfills legacy rows
    val g1 = TableFormat.readViaManifest(spark, root, 1L, evolved)
    assert(g1.count() === 1001L)
    assert(g1.filter(col("k") === 7L).select("q").first().isNullAt(0))
    assert(g1.filter(col("k") === 5L).select("q").first().getLong(0) === 55L)
    assert(g1.filter(col("k") === 2000L).select("q").first().getLong(0) === 77L)
    // pinned gen-0 read through ITS recorded schema is bit-identical
    val g0 = TableFormat.readViaManifest(spark, root, 0L,
      TableFormat.genSchema(root, 0L))
    assert(g0.count() === 1000L)
    assert(g0.schema.fields.map(_.name).toSeq === Seq("k", "s"))
    // the feed spans the boundary: the update classifies as an
    // update (NULL -> 55 on the new column), the insert as an insert
    val feed = TableFormat.cdcDiffScoped(spark, root, 0L, 1L, evolved, "k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(feed.count(_._1 == "insert") === 1)
    assert(feed.filter(_._1 == "insert").head._2 === 2000L)
    assert(feed.count(_._1 == "update_post") === 1)
    assert(feed.filter(_._1 == "update_post").head._2 === 5L)
    assert(!feed.exists(_._1 == "delete"),
      "legacy NULL backfill must not manufacture deletes")
    // no-op suppression still holds across the boundary: untouched
    // legacy rows (NULL new column on both sides) emit nothing
    assert(feed.length === 3)
  }

  test("vacuumManifested reclaims by REACHABILITY: carried gen-0 " +
    "files referenced by gen 1 survive the sweep, the rewritten-away " +
    "ones reap with their manifest, and gen 1 reads intact") {
    val root = java.nio.file.Files.createTempDirectory("graft-vreach")
      .toString
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(10, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    TableFormat.purgeScoped(spark, root, Seq(5L, 950L).toDF("doc_id"),
      schema, "doc_id")
    val gen0Dir = TableFormat.resolveDir(root, 0L)
    def gen0Parquet = Option(new java.io.File(gen0Dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(gen0Parquet === 10)
    val reaped = TableFormat.vacuumTable(spark, root, keep = 1).files
    assert(reaped >= 2L, s"expected the 2 rewritten-away files, got $reaped")
    // exactly the 8 carried-by-reference data files survive in gen_0
    assert(gen0Parquet === 8,
      "reachability sweep touched a file gen 1 still references")
    assert(!new java.io.File(gen0Dir, "_manifest").exists(),
      "the expired generation's manifest survived")
    assert(!java.nio.file.Files.exists(
        graft.sources.Markers.table.path(root, 0L)),
      "the expired generation's commit marker survived")
    // the current generation reads intact THROUGH the swept storage
    val back = TableFormat.readViaManifest(spark, root, 1L, schema)
    assert(back.count() === 998L)
    assert(back.filter(col("doc_id").isin(5L, 950L)).isEmpty)
    // idempotent: a second sweep reclaims nothing further
    assert(TableFormat.vacuumTable(spark, root, keep = 1).files === 0L)
  }

  test("bulk-delta scoped merge: a 100k-key delta's skip decision " +
    "broadcasts a BOUNDED interval scope (≤ 513 rows, never the raw " +
    "keys), the intervals cover every delta key, and the merge equals " +
    "the full-table answer") {
    val root = java.nio.file.Files.createTempDirectory("graft-bulk")
      .toString
    val base = spark.range(0, 200000)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(20, col("k"))
    TableFormat.commitGenManifested(base, root, Seq("k"))
    val delta = spark.range(50000, 150000)
      .select(col("id").as("k"), lit(-1L).as("v"))
    // the verb's contract at 100 TB is "a day's delta" — 10⁷+ keys.
    // The broadcast side must be the summarized scope: bounded rows
    // regardless of |delta|, so neither the 8 GB broadcast cap nor
    // the |files| × |delta| NLJ product can blow up
    val scope = TableFormat.summarizeScope(delta, "k")
    assert(scope.count() <= 513L,
      "a bulk delta must summarize to intervals, not raw keys")
    assert(scope.filter(col("__nul")).isEmpty)
    // superset soundness: every delta key falls inside some interval
    assert(delta.select(col("k")).distinct()
      .join(scope, col("k").between(col("__lo"), col("__hi")), "left_anti")
      .isEmpty, "an uncovered delta key would be silently dropped")
    // a NULL key in a bulk delta still rides along as the marker row
    val withNull = delta.unionByName(
      Seq(Tuple2(Option.empty[Long], Option(0L))).toDF("k", "v"))
    assert(TableFormat.summarizeScope(withNull, "k")
      .filter(col("__nul")).count() === 1L)
    // and the scoped merge itself equals the full-table latest-wins
    TableFormat.mergeScoped(spark, root, delta, base.schema, "k")
    val got = TableFormat.readViaManifest(spark, root, 1L, base.schema)
    assert(got.count() === 200000L)
    assert(got.filter(col("v") === -1L).count() === 100000L)
    assert(got.filter(col("k") < 50000L || col("k") >= 150000L)
      .filter(col("v") =!= col("k") * 10).isEmpty,
      "an out-of-delta row changed")
  }

  test("evolved columns ENTER the manifest: a widening scoped commit " +
    "records stats for the new column, readScoped prunes on it " +
    "(carried legacy files skip — they hold only NULLs), metaAgg " +
    "answers over it, and OPTIMIZE recollects for the union") {
    val root = java.nio.file.Files.createTempDirectory("graft-wstats")
      .toString
    val base = spark.range(0, 1000)
      .select(col("id").as("k"), concat(lit("s"), col("id")).as("s"))
      .repartitionByRange(10, col("k"))
    TableFormat.commitGenManifested(base, root, Seq("k"))
    val evolved = org.apache.spark.sql.types.StructType.fromDDL(
      "k LONG, s STRING, q LONG")
    // the widening delta: keys 0..99 (one file's range) gain q = k
    val delta = spark.range(0, 100)
      .select(col("id").as("k"), concat(lit("s"), col("id")).as("s"),
        col("id").as("q"))
    TableFormat.mergeScoped(spark, root, delta, evolved, "k")
    val m = TableFormat.readManifest(spark, root, 1L)
    assert(m.columns.toSet.intersect(Set("min_q", "max_q", "null_q"))
      .size === 3, s"q stats missing from ${m.columns.mkString(",")}")
    // carried legacy rows carry NULL q stats — the "file predates the
    // column" marker — and REWRITTEN files carry real ranges
    assert(m.filter(col("min_q").isNull).count() >= 8L)
    assert(m.filter(col("max_q") === 99L).count() >= 1L)
    // readScoped prunes ON THE EVOLVED COLUMN: legacy files (all-NULL
    // q) prune away, only the rewritten file(s) read
    val (df, rep) = TableFormat.readScoped(spark, root, 1L, evolved,
      Seq(("q", 10L, 20L)))
    assert(df.count() === 11L)
    assert(rep.filesCarried >= 8L,
      s"legacy files must prune on the evolved column, got $rep")
    // metaAgg answers over the evolved column from the manifest alone
    val ma = TableFormat.metaAgg(spark, root, 1L, "q").first()
    assert(ma.getLong(0) === 1000L)
    assert(ma.getLong(1) === 0L && ma.getLong(2) === 99L)
    // OPTIMIZE recollects stats for the UNION of keys (manifestKeys
    // now includes q): after folding everything, q still prunes and
    // metaAgg still answers
    TableFormat.optimize(spark, root, evolved,
      smallRows = Long.MaxValue, targetRows = 250L)
    val g = TableFormat.currentGen(root)
    val m2 = TableFormat.readManifest(spark, root, g)
    assert(m2.columns.contains("min_q"))
    val ma2 = TableFormat.metaAgg(spark, root, g, "q").first()
    assert(ma2.getLong(0) === 1000L)
    assert(ma2.getLong(1) === 0L && ma2.getLong(2) === 99L)
    val (df2, _) = TableFormat.readScoped(spark, root, g, evolved,
      Seq(("q", 10L, 20L)))
    assert(df2.count() === 11L)
  }

  test("bloom point lookup: on a hash-clustered layout range stats " +
    "admit every file, the per-file sketches plan a strict subset, " +
    "the answer equals the raw filter, and an absent key reads " +
    "(essentially) nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-bloom")
      .toString
    // hash-cluster on text: every file's doc_id [min, max] spans the
    // whole id space, so the range test can never prune
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartition(8, col("text"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    val m = TableFormat.readManifest(spark, root, 0L)
    assert(m.count() === 8L)
    assert(m.filter(col("bloom_doc_id").isNull).count() === 0L,
      "every committed file must carry a sketch")
    // the range test alone admits every file for a MID-RANGE id
    // (each file holds ~125 uniform ids, so every [min, max] spans
    // 500) — the pruning below is the sketch's alone
    val rangeAdmitted = m.filter(
      lit(500L).between(col("min_doc_id"), col("max_doc_id"))).count()
    assert(rangeAdmitted === 8L,
      "fixture rot: the hash layout must defeat range stats")
    val planned = TableFormat.prunedFilesIn(spark, root, 0L,
      "doc_id", Seq(500L))
    assert(planned.nonEmpty && planned.length < 8,
      s"sketch failed to prune: planned ${planned.length} of 8")
    // answer ≡ the raw filter (residual removes false-positive files)
    val got = TableFormat.readPrunedIn(spark, root, 0L, schema,
        "doc_id", Seq(5L, 950L))
      .filter(col("doc_id").isin(5L, 950L))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === Seq((5L, "t5"), (950L, "t950")))
    // an id that never existed: no sketch can hold it (fpp slack 1)
    val absent = TableFormat.prunedFilesIn(spark, root, 0L,
      "doc_id", Seq(999999L))
    assert(absent.length <= 1, s"absent key planned ${absent.length} files")
    assert(TableFormat.readPrunedIn(spark, root, 0L, schema,
        "doc_id", Seq(999999L))
      .filter(col("doc_id") === 999999L).count() === 0L)
  }

  test("bloom sketches PROPAGATE through scoped commits: carried " +
    "rows keep their sketch by reference, rewritten files get fresh " +
    "ones, and the lookup still plans one file on both sides") {
    val root = java.nio.file.Files.createTempDirectory("graft-bloomsc")
      .toString
    // tight range files so a scoped purge carries most of the table
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(10, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    val rep = TableFormat.purgeScoped(spark, root, Seq(5L).toDF("doc_id"),
      schema, "doc_id")
    assert(rep.filesTouched === 1L && rep.filesCarried === 9L)
    val m1 = TableFormat.readManifest(spark, root, 1L)
    assert(m1.filter(col("bloom_doc_id").isNull).count() === 0L,
      "a scoped commit dropped sketches (carried or rewritten)")
    // a key in a CARRIED file: its gen_0 sketch still prunes
    val carried = TableFormat.prunedFilesIn(spark, root, 1L,
      "doc_id", Seq(950L))
    assert(carried.length === 1 && carried.head.contains("gen_0"))
    // a key in the REWRITTEN file: the fresh gen_1 sketch holds it
    val rewritten = TableFormat.prunedFilesIn(spark, root, 1L,
      "doc_id", Seq(7L))
    assert(rewritten.length === 1 && rewritten.head.contains("gen_1"))
    // the purged key itself is gone even though its file still plans
    assert(TableFormat.readPrunedIn(spark, root, 1L, schema,
      "doc_id", Seq(5L)).filter(col("doc_id") === 5L).count() === 0L)
  }

  test("sketch-refined scoped mutation: a takedown on a " +
    "hash-clustered Bloom table rewrites only the true files where " +
    "range stats would rewrite everything, and equals the full purge") {
    val root = java.nio.file.Files.createTempDirectory("graft-bloommut")
      .toString
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartition(8, col("text"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    // mid-domain keys: every file's range admits them (hash layout),
    // so any carry below is the sketch's decision alone
    val rep = TableFormat.purgeScoped(spark, root,
      Seq(500L, 501L).toDF("doc_id"), schema, "doc_id")
    assert(rep.filesTouched <= 4L,
      s"sketch refinement failed: ${rep.filesTouched} of 8 files rewrote")
    assert(rep.filesTouched + rep.filesCarried === 8L)
    val got = TableFormat.readViaManifest(spark, root, 1L, schema)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.length === 998 && !got.contains(500L) && !got.contains(501L))
    // a NULL-keyed takedown still routes through the null flag (the
    // sketch never sees NULL): plant nulls, purge them, none survive
    val withNulls = TableFormat.readViaManifest(spark, root, 1L, schema)
      .unionByName(Seq("n1", "n2").toDF("text")
        .select(lit(null).cast("long").as("doc_id"), col("text")))
    assert(TableFormat.commitGenManifested(
      withNulls.repartition(8, col("text")), root, Seq("doc_id"),
      bloomKeys = Seq("doc_id")) === 2L)
    val nullList = Seq(Option.empty[Long]).toDF("doc_id")
    TableFormat.purgeScoped(spark, root, nullList, schema, "doc_id")
    assert(TableFormat.readViaManifest(spark, root, 3L, schema)
      .filter(col("doc_id").isNull).count() === 0L,
      "the sketch-refined decision dropped the NULL route")
    // the bulk interval path is UNREFINED (a sketch cannot answer a
    // range): forced-down thresholds summarize to intervals and the
    // merge still equals the plain latest-wins merge
    val delta = spark.range(0, 200).select(col("id").as("doc_id"),
      concat(lit("u"), col("id")).as("text"))
    val rep2 = TableFormat.mergeScoped(spark, root, delta, schema,
      "doc_id", scopeMaxKeys = 64, scopeIntervals = 8)
    assert(rep2.filesTouched > 0L)
    val merged = TableFormat.readViaManifest(spark, root, 4L, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(merged(5L) === "u5" && merged(150L) === "u150" &&
      merged(999L) === "t999")
  }

  test("a pre-Bloom manifest is untouched: no sketch columns appear, " +
    "the pruned read stays range-only, and scoped commits do not " +
    "invent sketches") {
    val root = java.nio.file.Files.createTempDirectory("graft-nobloom")
      .toString
    val docs = spark.range(0, 100)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(4, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    assert(!TableFormat.readManifest(spark, root, 0L).columns
      .exists(_.startsWith("bloom_")))
    val planned = TableFormat.prunedFilesIn(spark, root, 0L,
      "doc_id", Seq(50L))
    assert(planned.length === 1, "range pruning regressed")
    TableFormat.purgeScoped(spark, root, Seq(50L).toDF("doc_id"),
      schema, "doc_id")
    assert(!TableFormat.readManifest(spark, root, 1L).columns
      .exists(_.startsWith("bloom_")),
      "a scoped commit invented sketch columns")
  }

  test("vacuumManifested NEVER sweeps a live OCC writer's unmarkered " +
    "staged dir before the staleness bound — data files, _manifest, " +
    "_schema.json and _txn all survive; an AGED unmarkered dir reaps " +
    "as debris") {
    val root = java.nio.file.Files.createTempDirectory("graft-vstaged")
      .toString
    val docs = spark.range(0, 100)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    // an in-flight OCC writer: data + manifest + schema + txn staged
    // at a token-suffixed name, marker NOT yet CAS'd
    val staged = new java.io.File(root, "gen_1_feedf00d")
    docs.write.parquet(staged.getAbsolutePath)
    docs.limit(1).write.parquet(s"${staged.getAbsolutePath}/_manifest")
    java.nio.file.Files.writeString(
      staged.toPath.resolve("_schema.json"), docs.schema.json)
    java.nio.file.Files.writeString(staged.toPath.resolve("_txn"), "vsink:7")
    def stagedState() = (
      Option(staged.listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet")),
      new java.io.File(staged, "_manifest").exists(),
      java.nio.file.Files.exists(staged.toPath.resolve("_schema.json")),
      java.nio.file.Files.exists(staged.toPath.resolve("_txn")))
    val before = stagedState()
    assert(before._1 > 0 && before._2 && before._3 && before._4)
    // the default staleness bound shields the young staged dir: the
    // round-17 sweep deleted its data AND metadata here, after which
    // the writer's CAS would publish a generation with missing files
    TableFormat.vacuumTable(spark, root, keep = 1)
    assert(stagedState() === before,
      "retention swept a live writer's staged commit")
    // ... and the writer's CAS still publishes a COMPLETE generation
    assert(java.nio.file.Files.exists(staged.toPath))
    // past the bound the same dir is crash debris and reaps fully
    TableFormat.vacuumTable(spark, root, keep = 1,
      debrisStaleMillis = -1L)
    assert(!staged.exists(), "aged unmarkered debris must reap")
    // the committed table is untouched throughout
    assert(TableFormat.readViaManifest(spark, root, 0L, docs.schema)
      .count() === 100L)
  }

  test("cdcDiffScoped: the manifest-scoped diff reads ONLY the files " +
    "the commit touched and still equals the full-table diff " +
    "row-for-row") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdcscope")
      .toString
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(10, col("doc_id"))
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    // a narrow takedown touches exactly 2 of 10 files
    val keys = Seq(5L, 950L).toDF("doc_id")
    TableFormat.purgeScoped(spark, root, keys, schema, "doc_id")
    val scoped = TableFormat.cdcDiffScoped(spark, root, 0L, 1L,
      schema, "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val full = TableFormat.cdcDiff(
      TableFormat.readViaManifest(spark, root, 0L, schema),
      TableFormat.readViaManifest(spark, root, 1L, schema), "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(scoped === full, "scoped feed diverged from the full diff")
    assert(scoped === Seq(("delete", 5L, "t5"), ("delete", 950L, "t950")))
    // the scope is real: symmetric difference of the manifests (2
    // rewritten-away old files + 2 rewritten new files), not 10+10
    def files(g: Long) = TableFormat.readManifest(spark, root, g)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val sym = (files(0L) -- files(1L)) ++ (files(1L) -- files(0L))
    assert(sym.size === 4, s"expected 4 touched files, got ${sym.size}")
    assert((files(0L) ++ files(1L)).size === 12)
  }

  test("maintainAgg: the feed-maintained aggregate equals a " +
    "from-scratch recompute of the next generation, including a " +
    "group born and a group emptied by the feed") {
    val prev = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    // B empties (delete), C is born (insert), one A updates in place
    val next = Seq((1L, "A", 15.0), (2L, "A", 20.0), (4L, "C", 40.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val feed = TableFormat.cdcDiff(prev, next, "o_orderkey")
    val got = TableFormat.maintainAgg(prev, feed,
      "o_orderstatus", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val want = next.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.dsum(col("o_totalprice")).as("t"),
        expr("bit_xor(o_orderkey)").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(got === want)
    assert(!got.exists(_._1 == "B"), "emptied group must disappear")
    assert(got.exists(_._1 == "C"), "feed-born group must appear")
  }

  test("vacuumGenerations reaps only what the policy names: retained " +
    "generations read intact, the reaped one is gone, an in-flight " +
    "(uncommitted) generation survives, and the sweep is idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft-vac").toString
    val mk = (v: Long) => Seq((1L, v)).toDF("k", "v")
    (0 to 2).foreach(v => TableFormat.commitGen(mk(v), root))
    val gen0Dir = TableFormat.resolveDir(root, 0L)
    // an in-flight generation: fully written, marker NOT claimed
    val inFlight = s"$root/gen_3_feedf00d"
    mk(3).write.parquet(inFlight)
    assert(TableFormat.currentGen(root) === 2L)

    assert(TableFormat.vacuumTable(spark, root, keep = 2).gens === Seq(0L))
    assert(TableFormat.currentGen(root) === 2L, "sweep moved the pointer")
    val schema = mk(0).schema
    def v(gen: Long) = TableFormat.readGen(spark, root, gen, schema)
      .collect().map(_.getLong(1)).toSeq
    assert(v(1L) === Seq(1L) && v(2L) === Seq(2L),
      "a retained generation was damaged")
    assert(!new java.io.File(gen0Dir).exists(),
      "the reaped generation still exists")
    assert(new java.io.File(inFlight).isDirectory,
      "the sweep touched an in-flight generation newer than the pointer")
    assert(TableFormat.vacuumTable(spark, root, keep = 2).gens === Seq.empty)
    // keep=1 retains only the current committed generation
    assert(TableFormat.vacuumTable(spark, root, keep = 1).gens === Seq(1L))
    assert(v(2L) === Seq(2L))
  }

  test("the changefeed drives derived-data maintenance: IVF append + " +
    "index purge from the feed's rows land a store identical to " +
    "maintenance from the literal delta — no rescan needed") {
    import graft.operators.{EmbeddingStore, IndexMaintenance}
    val t = graft.sources.Tables(spark, sfDir)
    val vectors = t.embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val mid = vectors.agg(max(col("doc_id"))).first().getLong(0) / 2
    val gen0 = vectors.filter(col("doc_id") <= mid)
    // gen 1 = inserts (upper half) + a takedown slice leaving
    val deleted = gen0.filter(pmod(col("doc_id"), lit(10L)) === 5L)
    val gen1 = vectors.filter(col("doc_id") > mid)
      .unionByName(gen0.join(deleted.select(col("doc_id").as("__d")),
        col("doc_id") === col("__d"), "left_anti"))

    val work = java.nio.file.Files.createTempDirectory("graft-cdcivf").toFile
    try {
      val root = s"$work/table"
      new java.io.File(root).mkdirs()
      TableFormat.commitGen(gen0, root)
      TableFormat.commitGen(gen1, root)
      val schema = gen0.schema
      val feed = TableFormat.cdcDiff(
        TableFormat.readGen(spark, root, 0L, schema),
        TableFormat.readGen(spark, root, 1L, schema), "doc_id")
        .localCheckpoint(true)

      // two replicas of the SAME gen-0 index (same centroids)
      val a = s"$work/ivfA"; val b = s"$work/ivfB"
      EmbeddingStore.buildIvfIndex(spark, gen0, a)
      graft.sources.LayoutStore.copyRecursively(
        new java.io.File(a), new java.io.File(b))
      // A: maintenance from the literal delta (the rescan path)
      EmbeddingStore.appendToIvfIndex(spark, a,
        vectors.filter(col("doc_id") > mid))
      IndexMaintenance.purgeIndex(spark, a,
        deleted.select("doc_id").collect().map(_.getLong(0)).toSeq)
      // B: maintenance from the FEED alone
      EmbeddingStore.appendToIvfIndex(spark, b,
        feed.filter(col("change_type") === "insert")
          .select(col("doc_id"), col("embedding")))
      IndexMaintenance.purgeIndex(spark, b,
        feed.filter(col("change_type") === "delete")
          .select("doc_id").collect().map(_.getLong(0)).toSeq)

      // the cells carry the PQ and SQ8 codes, so one compare covers them
      val fa = graft.sources.IndexCatalog.read(spark, a, "cells")
      val fb = graft.sources.IndexCatalog.read(spark, b, "cells")
        .select(fa.columns.map(col).toIndexedSeq: _*)
      assert(fa.exceptAll(fb).isEmpty && fb.exceptAll(fa).isEmpty,
        "feed-driven cells diverged from literal-delta maintenance")
      assert(feed.filter(col("change_type") === "delete").count() > 0 &&
        feed.filter(col("change_type") === "insert").count() > 0,
        "episode vacuous")
    } finally graft.sources.LayoutStore.deleteRecursively(work)
  }

  test("maintainAgg ITERATES: the materialization carried through two " +
    "successive feeds — never re-reading any generation for the " +
    "output — equals the recompute of the final generation") {
    val gen0 = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val gen1 = Seq((1L, "A", 15.0), (3L, "B", 30.0), (4L, "C", 40.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val gen2 = Seq((1L, "B", 15.0), (4L, "C", 41.0), (5L, "A", 50.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    // cycle 1 materializes; cycle 2 folds the NEXT feed into the
    // MAINTAINED rows (re-aggregated per key set as the new base) —
    // the steady-state loop where the stored materialization is the
    // only corpus-derived input (engine.py:57's update loop shape).
    // maintainAgg's base is row-level, so the carried state here is
    // the generation the feed applies to, reconstructed from the
    // previous feed via applyChanges — also feed-only.
    val state1 = TableFormat.applyChanges(gen0,
      TableFormat.cdcDiff(gen0, gen1, "o_orderkey"), "o_orderkey")
    val got = TableFormat.maintainAgg(state1,
      TableFormat.cdcDiff(gen1, gen2, "o_orderkey"),
      "o_orderstatus", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val want = gen2.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.dsum(col("o_totalprice")).as("t"),
        expr("bit_xor(o_orderkey)").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(got === want,
      "two-cycle feed-driven maintenance diverged from the recompute")
    // and state1 itself was feed-derived, equal to gen 1 row-for-row
    val s1 = state1.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val g1 = gen1.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(s1 === g1)
  }

  test("cdc episode invariants at sf0.001: all four change types " +
    "present, update pre/post key sets identical, inserts disjoint " +
    "from deletes") {
    val feed = SparkEntry.queries("q_cdc")(spark, sfDir)
    val byType = feed.groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(o_orderkey)").as("kx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byType.keySet ===
      Set("insert", "delete", "update_pre", "update_post"))
    assert(byType("update_pre") === byType("update_post"),
      "update pre/post must cover the same keys")
    val ins = feed.filter(col("change_type") === "insert")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val del = feed.filter(col("change_type") === "delete")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(ins.intersect(del).isEmpty)
  }

  // ---------------------------------------------------------------
  // The driver-side manifest cache: every read after a mutation must
  // see the mutation's files and stats, never a cached entry's
  // ---------------------------------------------------------------

  private def rangeDocs(lo: Long, hi: Long, files: Int) =
    spark.range(lo, hi)
      .select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
      .repartitionByRange(files, col("doc_id"))

  private def idsAt(root: String, gen: Long,
      schema: org.apache.spark.sql.types.StructType): Seq[Long] =
    TableFormat.readViaManifest(spark, root, gen, schema)
      .collect().map(_.getLong(0)).sorted.toSeq

  /** The cached range-stat rows equal an uncached read of the
    * manifest parquet on disk. */
  private def assertCacheFresh(root: String, gen: Long): Unit = {
    val meta = TableFormat.manifestMeta(spark, root, gen)
    val onDisk = spark.read.parquet(TableFormat.manifestPath(root, gen))
      .select(meta.statsSchema.fieldNames.toIndexedSeq.map(col): _*)
      .collect().toSeq
    def norm(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    assert(norm(meta.stats) === norm(onDisk), s"stale cache for $root@$gen")
  }

  private def localFile(f: String) = new java.io.File(
    if (f.startsWith("file:")) java.net.URI.create(f).getPath else f)

  test("manifest cache: after vacuumManifested a retained generation " +
    "re-reads intact and an expired one can never be served") {
    val root = java.nio.file.Files.createTempDirectory("graft-mc-vacuum")
      .toString
    val docs = rangeDocs(0, 1000, 10)
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"))
    TableFormat.purgeScoped(spark, root, Seq(5L, 950L).toDF("doc_id"),
      schema, "doc_id")
    // both generations cached before the sweep
    assert(TableFormat.manifestFiles(spark, root, 0L).length === 10)
    assert(idsAt(root, 1L, schema).length === 998)
    assert(TableFormat.vacuumTable(spark, root, keep = 1).files >= 2L)
    val files = TableFormat.manifestFiles(spark, root, 1L)
    assert(files.nonEmpty && files.forall(f => localFile(f).exists()),
      "the retained generation lists a reaped file")
    assert(idsAt(root, 1L, schema) ===
      (0L until 1000L).filterNot(Set(5L, 950L)))
    assertCacheFresh(root, 1L)
    intercept[java.nio.file.NoSuchFileException](
      TableFormat.manifestFiles(spark, root, 0L))
  }

  test("manifest cache: a root deleted and recreated at gen 0 reads " +
    "the new table") {
    val root = java.nio.file.Files.createTempDirectory("graft-mc-recreate")
      .toString
    val a = rangeDocs(0, 100, 4)
    val schema = a.schema
    TableFormat.commitGenManifested(a, root, Seq("doc_id"))
    assert(idsAt(root, 0L, schema) === (0L until 100L))
    graft.sources.LayoutStore.deleteRecursively(new java.io.File(root))
    new java.io.File(root).mkdirs()
    TableFormat.commitGenManifested(rangeDocs(500, 550, 2), root,
      Seq("doc_id"))
    assert(idsAt(root, 0L, schema) === (500L until 550L))
    assert(TableFormat.prunedFilesIn(spark, root, 0L, "doc_id",
      Seq(10L)).isEmpty)
    assert(TableFormat.manifestFiles(spark, root, 0L)
      .forall(f => localFile(f).exists()))
    assertCacheFresh(root, 0L)
  }

  test("manifest cache: a LayoutStore.cloneRecursively clone hits its " +
    "source's entry, a byte copy misses, and commits on either side " +
    "stay invisible to the other") {
    val src = java.nio.file.Files.createTempDirectory("graft-mc-src")
      .toString
    val a = rangeDocs(0, 100, 4)
    val schema = a.schema
    TableFormat.commitGenManifested(a, src, Seq("doc_id"))
    assert(idsAt(src, 0L, schema) === (0L until 100L))
    val dst = java.nio.file.Files.createTempDirectory("graft-mc-dst")
      .resolve("clone").toString
    graft.sources.LayoutStore.cloneRecursively(new java.io.File(src),
      new java.io.File(dst))
    // hard links: the clone's manifest IS its source's bytes
    val (_, cloneJobs) = JobCounting.countJobs(spark)(
      TableFormat.manifestMeta(spark, dst, 0L))
    assert(cloneJobs === 0,
      "the linked clone's manifest missed its source's cache entry")
    // a byte copy holds equal bytes in new files: a new identity
    val copy = java.nio.file.Files.createTempDirectory("graft-mc-copy")
      .resolve("copy")
    java.nio.file.Files.walk(java.nio.file.Paths.get(src)).forEach { p =>
      val q = copy.resolve(java.nio.file.Paths.get(src).relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val (_, copyJobs) = JobCounting.countJobs(spark)(
      TableFormat.manifestMeta(spark, copy.toString, 0L))
    assert(copyJobs > 0,
      "the byte copy's manifest was answered from its source's cache entry")
    TableFormat.appendScoped(spark, dst, rangeDocs(100, 120, 1), schema)
    TableFormat.appendScoped(spark, src, rangeDocs(200, 210, 1), schema)
    assert(idsAt(dst, 1L, schema) === (0L until 120L))
    assert(idsAt(src, 1L, schema) === (0L until 100L) ++ (200L until 210L))
    assert(idsAt(dst, 0L, schema) === (0L until 100L))
    Seq(src -> 0L, src -> 1L, dst -> 0L, dst -> 1L)
      .foreach { case (r, g) => assertCacheFresh(r, g) }
  }

  test("manifest cache: entries hold no Bloom sketch bytes, the cache " +
    "stays within its fixed bound, and eviction is least-recently-used") {
    val root = java.nio.file.Files.createTempDirectory("graft-mc-bloom")
      .toString
    val docs = rangeDocs(0, 400, 4)
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    assert(TableFormat.prunedFilesIn(spark, root, 0L, "doc_id",
      Seq(7L)).length === 1)
    val entry = TableFormat.manifestMeta(spark, root, 0L)
    assert(entry.schema.fieldNames.contains("bloom_doc_id"),
      "readers still need the sketch column's type")
    assert(!entry.statsSchema.fieldNames.exists(_.startsWith("bloom_")))
    assert(entry.stats.length === 4 && entry.stats.forall(r =>
      !r.schema.fieldNames.exists(_.startsWith("bloom_"))))
    assert(TableFormat.manifestCache.size <= TableFormat.ManifestCacheEntries)
    // the eviction rule, on a two-entry instance of the same class
    val small = new TableFormat.ManifestCache(2)
    val dirs = (0 until 3).map(i =>
      java.nio.file.Files.createTempDirectory(s"graft-mc-lru$i").toString)
    var loads = 0
    def get(d: String) = small.getOrLoad(d) { loads += 1; entry }
    get(dirs(0)); get(dirs(1)); get(dirs(0)); get(dirs(2))
    assert(small.size === 2 && loads === 3)
    get(dirs(0))
    assert(loads === 3, "the most recently used entry was evicted")
    get(dirs(1))
    assert(loads === 4 && small.size === 2)
  }

  test("manifest cache: a warm manifest read runs no Spark job; a " +
    "sketch probe runs exactly one") {
    // a byte copy is a table this JVM never committed: the driver holds
    // no sketch rows for it, as for another writer's commit
    val src = java.nio.file.Files.createTempDirectory("graft-mc-probe")
      .toString
    val docs = rangeDocs(0, 400, 4)
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, src, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    val root = java.nio.file.Files.createTempDirectory("graft-mc-probe-copy")
      .resolve("t").toString
    graft.sources.LayoutStore.copyRecursively(new java.io.File(src),
      new java.io.File(root))
    TableFormat.manifestFiles(spark, root, 0L)
    val (_, warm) = JobCounting.countJobs(spark) {
      TableFormat.readViaManifest(spark, root, 0L, schema)
      TableFormat.readManifest(spark, root, 0L)
      TableFormat.readScoped(spark, root, 0L, schema,
        Seq(("doc_id", 10L, 20L)))
    }
    assert(warm === 0, s"warm manifest reads ran $warm jobs")
    val (planned, sketch) = JobCounting.countJobs(spark) {
      TableFormat.prunedFilesIn(spark, root, 0L, "doc_id", Seq(7L))
    }
    assert(planned.length === 1 && sketch === 1)
  }

  test("manifest cache: a warm manifest read runs no Spark job, nor " +
    "does the first sketch probe after the commit seeded its rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-mc-jobs")
      .toString
    val docs = rangeDocs(0, 400, 4)
    val schema = docs.schema
    TableFormat.commitGenManifested(docs, root, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    TableFormat.manifestFiles(spark, root, 0L)
    val (_, warm) = JobCounting.countJobs(spark) {
      TableFormat.readViaManifest(spark, root, 0L, schema)
      TableFormat.readManifest(spark, root, 0L)
      TableFormat.readScoped(spark, root, 0L, schema,
        Seq(("doc_id", 10L, 20L)))
    }
    assert(warm === 0, s"warm manifest reads ran $warm jobs")
    val (planned, sketch) = JobCounting.countJobs(spark) {
      TableFormat.prunedFilesIn(spark, root, 0L, "doc_id", Seq(7L))
    }
    assert(planned.length === 1 && sketch === 0)
  }

  test("sketch probe: the driver-side path plans the same files as the " +
    "distributed probe for a present, an absent and an appended id, " +
    "admits a file carried with a NULL sketch, and runs no job warm") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft-sketch-eq")
      .toString
    // hash-clustered: every file's doc_id range admits a mid-range id,
    // so each decision below is the sketch's
    // even ids only, so an odd id inside every range is absent
    def docs(lo: Long, hi: Long, files: Int) = spark.range(lo, hi, 2)
      .select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
      .repartition(files, col("text"))
    val schema = docs(0, 1, 1).schema
    TableFormat.commitGenManifested(docs(0, 2000, 8), root, Seq("doc_id"),
      bloomKeys = Seq("doc_id"))
    TableFormat.appendScoped(spark, root, docs(2000, 2200, 2), schema)
    // a NULL sketch: the same table with one file's sketch nulled in its
    // manifest, the shape of a file carried from a pre-Bloom generation
    val nulled = java.nio.file.Files.createTempDirectory("graft-sketch-null")
      .resolve("t").toString
    graft.sources.LayoutStore.cloneRecursively(new java.io.File(root),
      new java.io.File(nulled))
    val mdir = TableFormat.manifestPath(nulled, 0L)
    val onDisk = spark.read.parquet(mdir)
    val rows = onDisk.collect().toSeq
    val nullFile = rows.head.getAs[String]("file")
    graft.sources.LayoutStore.deleteRecursively(new java.io.File(mdir))
    spark.createDataFrame(rows.asJava, onDisk.schema)
      .withColumn("bloom_doc_id", when(col("file") === nullFile,
        lit(null).cast("binary")).otherwise(col("bloom_doc_id")))
      .coalesce(1).write.parquet(mdir)

    def planned(r: String, g: Long, ids: Seq[Long]) =
      TableFormat.prunedFilesIn(spark, r, g, "doc_id", ids).sorted
    def distributed(r: String, g: Long, ids: Seq[Long]) = {
      val saved = TableFormat.sketchCacheBytes
      TableFormat.sketchCacheBytes = 0L
      try JobCounting.countJobs(spark)(planned(r, g, ids))
      finally TableFormat.sketchCacheBytes = saved
    }
    val cases = Seq(
      ("present", root, 0L, Seq(500L)),
      ("absent", root, 1L, Seq(501L)),
      ("appended", root, 1L, Seq(2100L)),
      ("present after the append", root, 1L, Seq(8L, 500L)),
      ("NULL sketch", nulled, 0L, Seq(500L)))
    cases.foreach { case (what, r, g, ids) =>
      val viaDriver = planned(r, g, ids)
      val (viaManifest, probeJobs) = distributed(r, g, ids)
      assert(viaDriver === viaManifest, what)
      assert(probeJobs === 1, s"$what: the distributed probe ran $probeJobs jobs")
      val (again, warm) = JobCounting.countJobs(spark)(planned(r, g, ids))
      assert(again === viaDriver && warm === 0,
        s"$what: a warm driver-side probe ran $warm jobs")
    }
    assert(planned(root, 0L, Seq(500L)).length < 8, "fixture rot: no pruning")
    assert(planned(root, 1L, Seq(501L)).length <= 1,
      "fixture rot: the absent id passed the sketches")
    assert(planned(root, 1L, Seq(2100L)).nonEmpty)
    assert(planned(nulled, 0L, Seq(501L)).contains(nullFile),
      "a NULL sketch pruned its file")
  }
}
