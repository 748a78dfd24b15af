package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

class DedupSpec extends SparkTestBase {
  lazy val t = Tables(spark, sfDir)

  // ---- shared plain-Scala winnowing replica (E20/E21 tests) --------
  private val winnowK = 5
  private val winnowW = 8

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(
      s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def winnowGramHashes(text: String): Vector[String] = {
    val ws = text.trim.toLowerCase.split("\\s+").toVector
    if (ws.length < winnowK) Vector.empty
    else (0 to ws.length - winnowK).map(i =>
      md5hex(ws.slice(i, i + winnowK).mkString(" "))).toVector
  }

  /** Select-all-ties winnowing: every FULL window marks its minima. */
  private def winnowSelIdx(h: Vector[String]): Set[Int] = {
    val sel = scala.collection.mutable.Set[Int]()
    for (s <- 0 to h.length - winnowW) {
      val mn = (s until s + winnowW).map(h).min
      (s until s + winnowW).filter(p => h(p) == mn).foreach(sel += _)
    }
    sel.toSet
  }

  test("lshRecall: one row per layout, truth = exact E4 pairs, nested layouts order the counts") {
    val rows = Dedup.lshRecall(t).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.keySet === Dedup.lshSettings.toSet)
    // the denominator IS the E4 row's pair count restricted to pairs
    // touching the 100 lowest-id sample (same 0.5 threshold, same
    // capped shingle space, same bounded-sample rule)
    val sample = t.documents.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(100).collect().map(_.getLong(0)).toSet
    val truth = Dedup.ngramJaccard(t).collect()
      .count(r => sample(r.getLong(0)) || sample(r.getLong(1))).toLong
    rows.values.foreach { case (nCand, nTruth, recall) =>
      assert(nTruth === truth)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(nCand >= 0L)
    }
    // the 12-hash layouts nest: a (2,6)-band collision implies its two
    // (4,3) sub-bands collide, which imply their (6,2) sub-bands —
    // so candidate counts and recall are monotone from strict to loose
    // (occupancy caps could in principle invert this by dropping a
    // bucket only in the looser layout; no bucket is near the cap at
    // this SF)
    val c = Dedup.lshSettings.map(s => rows(s)._1)
    val r = Dedup.lshSettings.map(s => rows(s)._3)
    assert(c === c.sorted, s"candidate counts not monotone: $c")
    assert(r === r.sorted, s"recall not monotone: $r")
  }

  test("dedupIncremental equals full minhash restricted to delta-touching pairs") {
    import spark.implicits._
    // corpus = sf0.001 docs plus planted high-id near-copies of low-id
    // docs, so the delta decile holds both delta-vs-base and
    // delta-vs-delta near-dup pairs
    val base = t.documents.select(col("doc_id"), col("source"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    val copies = base.filter(col("doc_id") < 30)
      .select((col("doc_id") + maxId + 1).as("doc_id"), col("source"),
        concat(col("text"), lit(" incremental tail marker")).as("text"))
    val dupPair = base.filter(col("doc_id") === 0)
      .select((col("doc_id") + maxId + 40).as("doc_id"), col("source"),
        concat(col("text"), lit(" incremental tail marker")).as("text"))
    val docs = base.unionByName(copies).unionByName(dupPair)
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-dedup").toFile
    docs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val t2 = Tables(spark, dir.getAbsolutePath)

    val w = Dedup.deltaWatermarkOf(t2.documents)
    assert(w < maxId + 1, "planted copies must fall in the delta")
    val full = Dedup.dedupMinhashDocs(t2.documents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter { case (a, b, _) => a > w || b > w }
    val actual = Dedup.dedupIncremental(t2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "the planted copies must produce delta pairs")
    // both delta-vs-base and delta-vs-delta pairs must be present
    assert(actual.exists { case (a, b, _) => a <= w && b > w })
    assert(actual.exists { case (a, b, _) => a > w && b > w })
    assert(actual === expected)
    // and nothing base-vs-base leaks in
    assert(actual.forall { case (a, b, _) => a > w || b > w })
  }

  test("advanceDedupState closes the daily loop: day-2 delta joins day-1's folded state") {
    import spark.implicits._
    val base = t.documents.select(col("doc_id"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    // day 1 = the corpus; day 2 appends near-copies of day-1 docs
    // (some of base docs, some of day-1-DELTA docs — the latter only
    // pair if the advance really folded that delta into the state)
    val day1 = base
    val w1 = maxId - 50 // day-1 state covers ids <= w1; delta = the top 50
    val day2Copies = base.filter(col("doc_id") < 10 ||
        (col("doc_id") > maxId - 10 && col("doc_id") <= maxId))
      .select((col("doc_id") + maxId + 1).as("doc_id"),
        concat(col("text"), lit(" day two tail")).as("text"))
    val day2 = day1.unionByName(day2Copies)

    val dir = java.nio.file.Files.createTempDirectory("graft-daily-dedup")
    val path = s"$dir/state"
    Dedup.buildDedupState(day1, w1, path)
    assert(Dedup.stateWatermark(path) === w1)

    // day 1: delta = (w1, maxId]
    val full1 = Dedup.dedupMinhashDocs(day1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got1 = Dedup.dedupIncrementalAgainst(day1, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got1 === full1.filter { case (a, b, _) => a > w1 || b > w1 })

    // advance folds the day-1 delta in; watermark moves to maxId
    assert(Dedup.advanceDedupState(day1, path) === maxId)
    assert(Dedup.advanceDedupState(day1, path) === maxId, "idempotent no-op")

    // day 2: delta = the appended copies only — and pairs against
    // day-1-delta docs (ids > w1) are only findable through the
    // ADVANCED state
    val full2 = Dedup.dedupMinhashDocs(day2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got2 = Dedup.dedupIncrementalAgainst(day2, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got2 === full2.filter { case (a, b, _) => a > maxId || b > maxId })
    assert(got2.exists { case (a, b, _) => a > w1 && a <= maxId && b > maxId },
      "a day-2 copy of a day-1-DELTA doc must pair via the folded state")
    assert(got2.exists { case (a, _, _) => a < 10 },
      "a day-2 copy of a day-1-base doc must pair via the original state")
  }

  test("dedupIncrementalAgainst caps a bucket on state + delta occupancy: " +
    "a bucket under the cap in the state and over it with the delta " +
    "mints no pairs") {
    import spark.implicits._
    val base = t.documents.select(col("doc_id"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    val copies = (1L to Dedup.maxBucketSize + 50L)
      .map(i => (maxId + i, "the same short boilerplate line")).toDF("doc_id", "text")
    val docs = base.unionByName(copies).localCheckpoint()
    // the state holds maxBucketSize - 1 copies, the delta the other 51
    val w = maxId + Dedup.maxBucketSize - 1
    val path = s"${java.nio.file.Files.createTempDirectory("graft-dedup-cap")}/state"
    Dedup.buildDedupState(docs, w, path)
    val full = Dedup.dedupMinhashDocs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.dedupIncrementalAgainst(docs, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === full.filter { case (a, b, _) => a > w || b > w })
    assert(!got.exists { case (_, b, _) => b > maxId },
      "the overfull bucket's copies must mint no pairs")
  }

  test("an advance that crashed before its marker CAS leaves the previous " +
    "state live; the retry equals a fresh build at the new watermark") {
    import graft.sources.TableFormat
    val base = t.documents.select(col("doc_id"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    val w0 = maxId - 50
    val dir = java.nio.file.Files.createTempDirectory("graft-state-retry")
    def rows(path: String) = Dedup.readState(spark, path).collect().map(_.toSeq).toSet
    Seq[(String, (org.apache.spark.sql.DataFrame, Long, String) => Unit,
        (org.apache.spark.sql.DataFrame, String) => Long)](
      ("dedup", Dedup.buildDedupState, Dedup.advanceDedupState),
      ("span", Dedup.buildSpanState, Dedup.advanceSpanState)
    ).foreach { case (name, build, advance) =>
      val path = s"$dir/$name"
      build(base, w0, path)
      // the crash: the advance staged its generation (data and the
      // watermark record) and died before claiming the marker
      val g = TableFormat.currentGen(path)
      val staged = intercept[IllegalStateException](
        TableFormat.tryCommit(path, Some(g), TableFormat.genSchema(path, g)) { d =>
          Dedup.readState(spark, path).write.parquet(d)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, "_txn"), s"watermark:$maxId")
          throw new IllegalStateException(d)
        }).getMessage
      assert(new java.io.File(staged, "_txn").isFile)
      assert(TableFormat.currentGen(path) === g)
      assert(Dedup.stateWatermark(path) === w0, s"$name: the previous state stays live")
      assert(advance(base, path) === maxId)
      val fresh = s"$dir/${name}_fresh"
      build(base, maxId, fresh)
      assert(Dedup.stateWatermark(path) === Dedup.stateWatermark(fresh))
      assert(Dedup.readState(spark, path).count() === Dedup.readState(spark, fresh).count())
      assert(rows(path) === rows(fresh), s"$name: the retried advance diverged")
    }
  }

  test("dedupExact: one group per distinct normalized text, keep smallest id") {
    val rows = Dedup.dedupExact(t).collect()
    assert(rows.map(_.getString(2)).distinct.length === rows.length)
    assert(rows.map(_.getLong(1)).sum === t.documents.count())
  }

  test("dedupMinhash: pairs are ordered, above threshold, and real near-dups") {
    val rows = Dedup.dedupMinhash(t).collect()
    assert(rows.nonEmpty, "corpus has planted near-dups; LSH must surface some")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("minhash candidates cover everything ngramJaccard finds at 0.8+") {
    // LSH with 4 bands x 3 rows at j>=0.8: P(miss) = (1-j^3)^4 <= 0.054;
    // on the planted ~0.97 pairs it is ~1e-5 — exact join is the truth set
    val lsh = Dedup.dedupMinhash(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(t)
      .filter(col("jaccard") >= 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh) || (exact -- lsh).size <= math.max(1, exact.size / 10),
      s"LSH missed too many: ${(exact -- lsh).size} of ${exact.size}")
    assert(lsh.subsetOf(exact), "verified LSH pairs must all be exact-jaccard >= 0.8")
  }

  test("dedupSimhash: hamming bounded and symmetric-free") {
    val rows = Dedup.dedupSimhash(t).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 3)
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length === pairs.length)
  }

  test("dedupEmbedding: cell-blocked, scores in [threshold, 1]") {
    val rows = Dedup.dedupEmbedding(t).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) >= 0) // cell id
      assert(r.getDouble(3) >= 0.35 && r.getDouble(3) <= 1.0)
    }
  }

  test("plan: LSH join shuffles on bucket, no cartesian product") {
    val df = Dedup.dedupMinhash(t)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("bucket"))
  }

  test("decontaminate returns only cross-corpus pairs, subset of minhash pairs") {
    val srcEval = (s: String) =>
      s.replaceAll("[^0-9]", "").toLong % 5 == 0
    val sources = t.documents.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> srcEval(r.getString(1))).toMap
    val cross = Dedup.decontaminate(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    cross.foreach { case (e, tr, _) =>
      assert(sources(e), s"eval_id $e not in the eval corpus")
      assert(!sources(tr), s"train_id $tr not in the train corpus")
    }
    // exactly the cross-tag subset of the full near-dup pair set
    val full = Dedup.dedupMinhash(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => sources(a) != sources(b) }
      .map { case (a, b, j) => if (sources(a)) (a, b, j) else (b, a, j) }
      .toSet
    assert(cross.toSet === full)
  }

  test("containment dominates jaccard and orients the smaller set inward") {
    val jac = Dedup.ngramJaccard(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cont = Dedup.containment(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    cont.foreach { case (inner, outer, c) =>
      assert(c >= 0.9 && c <= 1.0)
      // containment >= jaccard for the same unordered pair when both exist
      val key = if (inner < outer) (inner, outer) else (outer, inner)
      jac.get(key).foreach(j => assert(c >= j - 1e-9))
    }
    assert(cont.nonEmpty)
  }

  test("ngramJaccard: a boilerplate shingle past the DF cap cannot quadraticize") {
    import spark.implicits._
    // > maxBucketSize docs share one boilerplate shingle ("common
    // boiler plate"); every other shingle is doc-unique. Without the
    // document-frequency cap the equi-join materializes ~n²/2
    // candidate rows from that single shingle; with it the shingle is
    // dropped before pairing, so NO pair among these docs survives —
    // while a genuine duplicate pair (ids 1,2 below) still scores 1.0
    // over the capped shingle space.
    val n = Dedup.maxBucketSize + 50
    val boiler = (0 until n).map(i =>
      (10000L + i, s"common boiler plate u${i}a u${i}b u${i}c"))
    val dups = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"))
    val docs = (boiler ++ dups).toDF("doc_id", "text")
    val rows = Dedup.ngramJaccardDocs(docs).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)),
      "only the genuine duplicate pair may survive the DF cap")
    assert(rows.head.getDouble(2) === 1.0)
  }

  test("plan: embedding pair join is a cell equi-join, not a cross join") {
    val df = Dedup.dedupEmbedding(t)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // the centroid-assignment BNLJ is upstream of the checkpoint; the
    // executed PAIR join itself must be keyed (hash or sort-merge)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"))
  }

  test("ngramOverlap matches a brute-force 13-gram intersection") {
    val got = Dedup.ngramOverlap(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = t.documents.select("doc_id", "source", "text").collect().map { r =>
      val num = "([0-9]+)$".r.findFirstMatchIn(r.getString(1))
        .map(_.group(1).toLong).getOrElse(1L)
      // mirror the engine exactly: Spark/DuckDB trim strips SPACES
      // only (Java String.trim would also strip \n/\t and shift the
      // token list on exotic inputs), and split keeps empty tokens
      val ws = r.getString(2).toLowerCase
        .replaceAll("^ +| +$", "").split("\\s+", -1).toSeq
      (r.getLong(0), num % 5 == 0,
        ws.sliding(13).filter(_.size == 13).map(_.mkString(" ")).toSet)
    }
    // DF cap is a no-op at this corpus size (no 13-gram spans >1000
    // docs) so plain intersections are the expected answer
    val expected = (for {
      (e, true, ge) <- docs
      (tr, false, gt) <- docs
      shared = (ge & gt).size if shared > 0
    } yield (e, tr) -> shared.toLong).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("dedupSpans: first occurrence survives, overlaps merge, full copies empty out") {
    import spark.implicits._
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val a = (1 to 20).map(i => s"a$i").mkString(" ")       // unique preamble
    val s13 = (1 to 13).map(i => s"s$i").mkString(" ")     // shared span
    val b = (1 to 5).map(i => s"b$i").mkString(" ")        // unique preamble
    val t13 = (1 to 13).map(i => s"t$i").mkString(" ")     // doc-4-only span
    val docs = Seq(
      (0L, "src1", s"$a $s13"),        // S's first occurrence: untouched
      (1L, "src1", s"$b $s13"),        // S repeats: removed here
      (2L, "src1", s"$a $s13"),        // full copy of doc 0: fully removed
      (3L, "src1", (1 to 12).map(i => s"c$i").mkString(" ")), // < 13 words
      (4L, "src1", s"$t13 x $t13")     // within-doc repeat: 2nd copy cut
    ).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-spans").toFile
    docs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = Dedup.dedupSpans(Tables(spark, dir.getAbsolutePath)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // docs 0 (first occurrence) and 3 (too short for any gram) lose
    // nothing and therefore do not appear at all
    assert(got.keySet === Set(1L, 2L, 4L))
    assert(got(1L) === ((18L, 13L, md5Of(b))))      // S cut, preamble kept
    assert(got(2L) === ((33L, 33L, md5Of("")))) // every gram repeats doc 0
    assert(got(4L) === ((27L, 13L, md5Of(s"$t13 x")))) // 2nd T cut, 1st kept
  }

  test("dedupSpans matches an independent brute-force on a random low-entropy corpus") {
    import spark.implicits._
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // tiny vocabulary → 13-grams collide by chance, overlapping and
    // nested repeats arise naturally rather than by construction
    val rnd = new scala.util.Random(421)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val base = (0 until 30).map { id =>
      val len = 13 + rnd.nextInt(28)
      (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // plus exact copies and a spliced half-copy for guaranteed mass
    val docs = base ++ Seq(
      (100L, base(3)._2),
      (101L, base(7)._2 + " " + base(3)._2))

    val n = graft.operators.Dedup.spanGramLen
    def toks(t: String) = t.toLowerCase
      .replaceAll("^ +| +$", "").split("\\s+", -1).toSeq
    val occs = for {
      (id, text) <- docs
      ws = toks(text)
      i <- 0 to ws.length - n
    } yield (id, i, ws.slice(i, i + n).mkString(" "))
    val firstOf = occs.groupBy(_._3)
      .map { case (g, os) => g -> os.map(o => (o._1, o._2)).min }
    val dupStarts = occs.filter(o => firstOf(o._3) != ((o._1, o._2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = docs.flatMap { case (id, text) =>
      val ws = toks(text)
      val starts = dupStarts.getOrElse(id, Set.empty[Int])
      val covered = ws.indices.map(p => starts.exists(s => s <= p && p < s + n))
      val nRem = covered.count(identity)
      if (nRem == 0) None
      else Some(id -> ((ws.length.toLong, nRem.toLong,
        md5Of(ws.indices.filterNot(covered).map(ws).mkString(" ")))))
    }.toMap
    assert(expected.nonEmpty, "random corpus produced no repeats — regenerate")

    val dir = java.nio.file.Files.createTempDirectory("graft-spans-rand").toFile
    docs.map { case (id, tx) => (id, "s", tx) }.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = Dedup.dedupSpans(Tables(spark, dir.getAbsolutePath)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got === expected)
  }

  test("dedupSpansIncremental equals full span dedup restricted to delta docs") {
    import spark.implicits._
    val base = t.documents.select(col("doc_id"), col("source"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    // planted delta docs: one verbatim copy of a base doc (dup only
    // via the persisted gram STATE) and two delta docs sharing a
    // 20-word sentence absent from base (dup only via the
    // within-delta first-occurrence window) — both detection paths
    // must fire
    val sentence = (1 to 20).map(i => s"spanword$i").mkString(" ")
    val baseCopy = base.filter(col("doc_id") === 1)
      .select((col("doc_id") + maxId).as("doc_id"), col("source"), col("text"))
    val fresh = Seq(
      (maxId + 10, "s", sentence),
      (maxId + 11, "s", sentence)).toDF("doc_id", "source", "text")
    val docs = base.unionByName(baseCopy).unionByName(fresh)
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-span").toFile
    docs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val t2 = Tables(spark, dir.getAbsolutePath)
    val w = Dedup.deltaWatermarkOf(t2.documents)
    assert(w < maxId + 1, "planted docs must fall in the delta")

    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val full = rowsOf(Dedup.dedupSpans(t2)).filter(_._1 > w)
    val inc = rowsOf(Dedup.dedupSpansIncremental(t2))
    assert(full.nonEmpty)
    assert(inc === full)
    // the base copy empties out entirely (state-membership path) ...
    val emptyHash = java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val copyRow = inc.find(_._1 === maxId + 1).get
    assert(copyRow._2 === copyRow._3 && copyRow._4 === emptyHash)
    // ... the SECOND sentence-sharer empties via the within-delta
    // window, the FIRST keeps everything (absent from the output)
    assert(!inc.exists(_._1 === maxId + 10))
    assert(inc.find(_._1 === maxId + 11).get._3 === 20L)
  }

  test("advanceSpanState closes the daily span loop and appends only new grams") {
    val base = t.documents.select(col("doc_id"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    val w1 = maxId - 50
    val dir = java.nio.file.Files.createTempDirectory("graft-daily-span")
    val path = s"$dir/state"
    Dedup.buildSpanState(base, w1, path)
    assert(Dedup.stateWatermark(path) === w1)
    val gramsBefore = Dedup.readState(spark, path).count()

    // advance folds the day-1 delta; watermark moves; idempotent
    assert(Dedup.advanceSpanState(base, path) === maxId)
    assert(Dedup.advanceSpanState(base, path) === maxId, "idempotent no-op")
    val grams1 = Dedup.readState(spark, path)
    // the folded state is EXACTLY the full corpus' distinct grams —
    // append added the new ones, duplicated none
    assert(grams1.count() === grams1.distinct().count(), "no duplicate grams")
    assert(grams1.count() >= gramsBefore)

    // day 2 appends a verbatim copy of a day-1-DELTA doc (> w1):
    // only the ADVANCED state can flag it
    import spark.implicits._
    val srcRow = base.filter(col("doc_id") === maxId).first()
    val day2 = base.unionByName(
      Seq((maxId + 1, srcRow.getString(1))).toDF("doc_id", "text"))
    val got = Dedup.dedupSpansIncrementalAgainst(day2, path).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.contains(maxId + 1),
      "a copy of a day-1-delta doc must be flagged through the folded state")
    assert(got(maxId + 1)._1 === got(maxId + 1)._2, "the copy empties out")
  }

  test("sourceOverlap: exact pairwise shingle Jaccard, upper triangle only, " +
    "non-intersecting pairs absent, within-source dups collapse") {
    import spark.implicits._
    // s1: shingles {a b c, b c d}; s2 shares {b c d} plus its own
    // {c d e}; s3 is disjoint; s1's duplicate doc adds NO new shingles
    val docs = Seq(
      (0L, "s1", "a b c d"),        // shingles: "a b c", "b c d"
      (1L, "s1", "a b c d"),        // duplicate — distinct set unchanged
      (2L, "s2", "b c d e"),        // shingles: "b c d", "c d e"
      (3L, "s3", "x y z w")         // disjoint: "x y z", "y z w"
    ).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-srcoverlap").toFile
    docs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = Dedup.sourceOverlap(Tables(spark, dir.getAbsolutePath)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // ONLY the intersecting (s1, s2) pair emits; |G1|=2, |G2|=2,
    // common=1, union=3 → jaccard 1/3
    assert(got.keySet === Set(("s1", "s2")))
    val (n1, n2, common, j) = got(("s1", "s2"))
    assert((n1, n2, common) === ((2L, 2L, 1L)))
    assert(math.abs(j - 0.333333) < 1e-9)
  }

  test("semDedup: equals an independent plain-Scala replication " +
    "(same-cell pair scoring, union-find groups, per-cell mean " +
    "centroid, farthest-from-centroid keeper)") {
    val assigned = Dedup.assignedCells(t).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0 else dot / (na * nb)
    }
    // independent pair scoring: ALL same-cell pairs, 6dp cosine —
    // not cellPairs' triangular join, so a blocking bug can't hide
    val byCell = assigned.groupBy(_._3)
    val edges = byCell.values.flatMap { ms =>
      for {
        i <- ms.indices; j <- (i + 1) until ms.length
        if r6(cos(ms(i)._2.map(_.toDouble), ms(j)._2.map(_.toDouble))) >=
          Dedup.semDedupThreshold
      } yield (math.min(ms(i)._1, ms(j)._1), math.max(ms(i)._1, ms(j)._1))
    }.toSeq
    assert(edges.nonEmpty, "corpus produced no qualifying pairs — lower epsilon")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.map(x => x -> find(x)).toMap
    // per-cell MEMBER mean centroid: 6dp-rounded components stored
    // as float, exactly lloydStep's contract
    val centroids = byCell.map { case (cell, ms) =>
      val dim = ms.head._2.length
      cell -> Array.tabulate(dim)(d =>
        r6(ms.map(_._2(d).toDouble).sum / ms.length).toFloat)
    }
    val cellOf = assigned.map(a => a._1 -> a._3).toMap
    val simOf = assigned.map { a =>
      a._1 -> r6(cos(a._2.map(_.toDouble), centroids(a._3).map(_.toDouble)))
    }.toMap
    val expected = comp.groupBy(_._2).flatMap { case (cid, members) =>
      val keep = members.keys.minBy(v => (simOf(v), v))
      members.keys.map(v =>
        v -> ((cid, cellOf(v), simOf(v), if (v == keep) 1 else 0)))
    }
    val got = Dedup.semDedup(t).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(got === expected)
    // exactly one keeper per group
    got.groupBy(_._2._1).foreach { case (cid, ms) =>
      assert(ms.values.count(_._4 == 1) === 1, s"group $cid keeper count")
      assert(ms.keys.min === cid, s"label $cid is not the min member")
    }
  }

  test("prototypes: equals an independent plain-Scala replication " +
    "(per-cell mean centroid, one FLAT global easiest-first rank, " +
    "prototypical-quarter drop)") {
    val assigned = Dedup.assignedCells(t).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0 else dot / (na * nb)
    }
    val byCell = assigned.groupBy(_._3)
    val centroids = byCell.map { case (cell, ms) =>
      val dim = ms.head._2.length
      cell -> Array.tabulate(dim)(d =>
        r6(ms.map(_._2(d).toDouble).sum / ms.length).toFloat)
    }
    val sims = assigned.map { a =>
      (a._1, a._3, r6(cos(a._2.map(_.toDouble), centroids(a._3).map(_.toDouble))))
    }
    // the ONE flat rank the engine's two-level (bin window +
    // broadcast suffix-sum offsets) plan must reproduce exactly
    val ranked = sims.sortBy { case (id, _, s) => (-s, id) }.zipWithIndex
    val n = sims.length
    val cut = math.floor(n * Dedup.protoPruneFrac).toLong
    val expected = ranked.map { case ((id, cell, s), i) =>
      id -> ((cell, s, i + 1L, if (i + 1L > cut) 1 else 0))
    }.toMap
    val got = Dedup.prototypes(t).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getLong(3), r.getInt(4)))).toMap
    assert(got === expected)
    // the rank is a permutation of 1..n and the drop set is exactly
    // the floor(n/4) most prototypical examples
    assert(got.values.map(_._3).toSeq.sorted === (1L to n.toLong).toSeq)
    assert(got.values.count(_._4 == 0) === cut)
    val dropMin = got.values.filter(_._4 == 0).map(_._2).min
    val keepMax = got.values.filter(_._4 == 1).map(_._2).max
    assert(dropMin >= keepMax,
      "a kept example outscores a dropped one — the cut is not by rank")
  }

  test("gramNovelty: equals an independent plain-Scala gram census " +
    "(13-word grams, corpus-wide dup and cross-source rates)") {
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
      .collect()
      .flatMap(r => Option(r.getString(2)).map(tx =>
        (r.getLong(0), r.getString(1), tx)))
    val n = Dedup.spanGramLen
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (gram, source) -> occurrence count, the mid level the engine
    // aggregates through
    val mid = docs.flatMap { case (_, src, tx) =>
      val ws = tx.trim.toLowerCase.split("\\s+").toSeq
      if (ws.length < n) Seq.empty
      else ws.sliding(n).map(g => (g.mkString(" "), src)).toSeq
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byGram = mid.groupBy(_._1._1).map { case (g, m) =>
      g -> ((m.values.sum, m.keys.map(_._2).toSet.size))
    }
    val expected = mid.groupBy(_._1._2).map { case (src, m) =>
      val nOcc = m.values.sum
      val dup = m.collect { case ((g, _), c) if byGram(g)._1 >= 2 => c }.sum
      val cross = m.collect { case ((g, _), c) if byGram(g)._2 >= 2 => c }.sum
      src -> ((nOcc, m.size.toLong, dup, r6(dup.toDouble / nOcc),
        cross, r6(cross.toDouble / nOcc)))
    }
    val got = Dedup.gramNovelty(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(got === expected)
    // the corpus carries real repeats: some source has a nonzero
    // dup share, and cross ≤ dup everywhere (a cross-source gram is
    // by definition duplicated)
    assert(got.values.exists(_._3 > 0), "no dup grams anywhere — vacuous")
    assert(got.values.forall(v => v._5 <= v._3))
  }

  test("noveltyIncremental: planted history and within-day repeats land in " +
    "the right columns, and the state rule equals the corpus-wide rule") {
    import spark.implicits._
    def txt(p: String) = (1 to 13).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (0L, "alpha", txt("b")),   // base: gram G enters the state
      (10L, "alpha", txt("b")),  // delta repeat of HISTORY -> seen_base + dup
      (11L, "beta", txt("c")),   // delta pair sharing new gram H ->
      (12L, "beta", txt("c")),   //   within-day dup, NOT seen_base
      (13L, "alpha", txt("d"))   // all-novel
    ).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty").toFile
    docs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val state = java.nio.file.Files
      .createTempDirectory("graft-novelty-state").toString
    val d2 = spark.read.parquet(s"${dir.getAbsolutePath}/documents.parquet")
    Dedup.buildSpanState(d2, watermark = 9L, state)
    val got = Dedup.noveltyIncrementalAgainst(d2, state).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))).toMap
    // alpha: G (history repeat) + the novel d-gram
    assert(got("alpha") === ((2L, 2L, 1L, 0.5, 1L, 0.5)))
    // beta: H twice within the day — dup but NOT seen_base
    assert(got("beta") === ((2L, 1L, 0L, 0.0, 2L, 1.0)))
    // the equivalence contract on the sf corpus: engine's
    // state-membership ∨ delta-count rule == the corpus-wide
    // count >= 2 rule restricted to delta occurrences
    val all = t.documents.select(col("doc_id"), col("source"), col("text"))
      .collect()
      .flatMap(r => Option(r.getString(2)).map(tx =>
        (r.getLong(0), r.getString(1), tx)))
    val wm = math.floor(all.map(_._1).max * 0.9).toLong
    val n = Dedup.spanGramLen
    val occ = all.flatMap { case (id, src, tx) =>
      val ws = tx.trim.toLowerCase.split("\\s+").toSeq
      if (ws.length < n) Seq.empty
      else ws.sliding(n).map(g => (id, src, g.mkString(" "))).toSeq
    }
    val cnt = occ.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val base = occ.filter(_._1 <= wm).map(_._3).toSet
    val delta = occ.filter(_._1 > wm)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = delta.groupBy(_._2).map { case (src, os) =>
      val nOcc = os.size.toLong
      val seen = os.count(o => base(o._3)).toLong
      val dup = os.count(o => cnt(o._3) >= 2).toLong
      src -> ((nOcc, os.map(_._3).distinct.size.toLong, seen,
        r6(seen.toDouble / nOcc), dup, r6(dup.toDouble / nOcc)))
    }
    val gotSf = Dedup.noveltyIncremental(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(gotSf === expected)
    // an occurrence seen in the base is by definition duplicated
    assert(gotSf.values.forall(v => v._3 <= v._5))
  }

  test("winnow: reconciles against an independent plain-Scala winnower on " +
    "the sf corpus, and the w+k-1 coverage guarantee holds on a planted run") {
    import spark.implicits._
    def gramHashes(text: String): Vector[String] = winnowGramHashes(text)
    def winnowSel(h: Vector[String]): Set[Int] = winnowSelIdx(h)
    def replicate(docs: Seq[(Long, String, String)])
        : Map[String, (Long, Long, Long, Double, Long, Long)] = {
      val per = docs.map { case (id, src, tx) =>
        val h = gramHashes(tx); (id, src, h, winnowSel(h))
      }
      val fpDocs = per.flatMap { case (id, _, h, sel) =>
        sel.map(p => (h(p), id)) }.distinct
        .groupBy(_._1).view.mapValues(_.size).toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      per.filter(_._3.nonEmpty).groupBy(_._2).map { case (src, ds) =>
        val nGrams = ds.map(_._3.size.toLong).sum
        val nFp = ds.map(_._4.size.toLong).sum
        val distinctFp = ds.flatMap(d => d._4.map(p => d._3(p))).distinct
        src -> ((ds.size.toLong, nGrams, nFp, r6(nFp.toDouble / nGrams),
          distinctFp.size.toLong,
          distinctFp.count(g => fpDocs(g) >= 2).toLong))
      }
    }
    val sfDocs = t.documents.select(col("doc_id"), col("source"), col("text"))
      .collect().flatMap(r => Option(r.getString(2)).map(tx =>
        (r.getLong(0), r.getString(1), tx))).toSeq
    val got = Dedup.winnow(t).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === replicate(sfDocs))
    // planted coverage: doc 0 and 1 share a 12-word (w+k-1) verbatim
    // run amid otherwise-unique words -> at least one SHARED
    // fingerprint is GUARANTEED; doc 2 is fully disjoint -> zero
    val run = (1 to 12).map(i => s"run$i").mkString(" ")
    def filler(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val planted = Seq(
      (0L, "sa", s"${filler("x", 10)} $run ${filler("y", 10)}"),
      (1L, "sa", s"${filler("u", 10)} $run ${filler("v", 10)}"),
      (2L, "sb", filler("z", 32))
    )
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow").toFile
    planted.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val p = Dedup.winnow(Tables(spark, dir.getAbsolutePath)).collect()
      .map(r => r.getString(0) -> r.getLong(6)).toMap
    assert(p("sa") >= 1L)
    assert(p("sb") === 0L)
    assert(Dedup.winnow(Tables(spark, dir.getAbsolutePath)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))).toMap
      === replicate(planted))
  }

  test("winnowOverlap: reconciles against a plain-Scala pair count on the " +
    "sf corpus, and a planted 12-word shared run surfaces its pair") {
    import spark.implicits._
    def fingerprints(text: String): Set[String] = {
      val h = winnowGramHashes(text)
      winnowSelIdx(h).map(h)
    }
    def replicate(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Long, Double)] = {
      val fps = docs.map { case (id, tx) => id -> fingerprints(tx) }
      val byGh = fps.flatMap { case (id, s) => s.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val kept = byGh.filter(_._2.size <= 1000)
      val capFp = fps.map { case (id, s) =>
        id -> s.filter(kept.contains) }.toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val pairs = for {
        Seq((i1, s1), (i2, s2)) <- capFp.toSeq.sortBy(_._1).combinations(2).toSeq
        shared = (s1 & s2).size if shared > 0
      } yield (i1, i2, s1.size.toLong, s2.size.toLong, shared.toLong,
        r6(shared.toDouble / math.min(s1.size, s2.size)))
      pairs.sortBy(p => (-p._5, p._1, p._2)).take(30)
    }
    val sf = t.documents.select(col("doc_id"), col("text")).collect()
      .flatMap(r => Option(r.getString(1)).map(tx => (r.getLong(0), tx))).toSeq
    val got = Dedup.winnowOverlap(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got === replicate(sf))
    // planted guarantee: docs 0/1 share a 12-word run -> their pair
    // MUST appear; doc 2 is disjoint -> never appears
    val run = (1 to 12).map(i => s"run$i").mkString(" ")
    def filler(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val planted = Seq(
      (0L, "sa", s"${filler("x", 10)} $run ${filler("y", 10)}"),
      (1L, "sa", s"${filler("u", 10)} $run ${filler("v", 10)}"),
      (2L, "sb", filler("z", 32)))
    val dir = java.nio.file.Files.createTempDirectory("graft-wover").toFile
    planted.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val p = Dedup.winnowOverlap(Tables(spark, dir.getAbsolutePath)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(p.exists(r => r._1 == 0L && r._2 == 1L && r._3 >= 1L))
    assert(!p.exists(r => r._1 == 2L || r._2 == 2L))
  }

  test("pruneCompose: equals composing semDedup and prototypes per vector " +
    "(non-members implicitly sem-kept, final verdict is the AND)") {
    val sem = Dedup.semDedup(t).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    val proto = Dedup.prototypes(t).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getInt(4)))
    assert(sem.nonEmpty, "corpus produced no semantic-duplicate groups")
    val expected = proto.map { case (id, cell, sim, rank, pk) =>
      val sk = sem.getOrElse(id, 1)
      id -> ((cell, sim, rank, sk, pk, if (sk == 1 && pk == 1) 1 else 0))
    }.toMap
    val got = Dedup.pruneCompose(t).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    assert(got === expected)
    assert(got.size === proto.length, "the verdict must cover every vector")
    // both rules actually bite somewhere, or the AND is vacuous here
    assert(got.values.exists(v => v._4 == 0),
      "no vector is sem-dropped — tighten the fixture")
    assert(got.values.exists(v => v._5 == 0),
      "no vector is proto-dropped — tighten the fixture")
  }
}
