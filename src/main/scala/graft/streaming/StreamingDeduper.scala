package graft.streaming

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One document on the wire. */
case class DocIn(doc_id: Long, text: String)

/** A verified near-duplicate pair (doc_a < doc_b, exact Jaccard). */
case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

/** A document exploded to one of its LSH band buckets, carrying the
  * distinct shingle set the exact verification needs. */
case class BucketDoc(bucket: String, doc_id: Long, shingles: Seq[String])

/** Per-bucket state: the docs seen in this bucket so far (id +
  * shingle set), and whether the bucket blew past the occupancy cap
  * (after which it emits nothing — the streaming analogue of batch
  * E2 dropping over-full buckets). */
case class BucketState(docs: List[(Long, Seq[String])], saturated: Boolean)

/** Streaming MinHash near-duplicate detection — the LIVE counterpart
  * of batch E2 (`Dedup.dedupMinhash`), the dedup shape a continuous
  * ingest pipeline runs: every arriving document is checked against
  * everything already seen WITHOUT recomputing the corpus (the same
  * incremental-first posture as the reference's update loop,
  * engine.py:57, applied to dedup — and the streaming sibling of the
  * batch `q_dedup_incremental` delta path).
  *
  * Shape: per-doc features (distinct word-3-gram shingles, the
  * 12-hash MinHash signature, 4 band buckets) are a PURE function of
  * one document's text, computed in a stateless flatMap with the
  * exact constants/hash salts of the batch side; docs then group by
  * band bucket and `flatMapGroupsWithState` keeps each bucket's doc
  * list as keyed state. A new arrival exact-Jaccard-verifies against
  * its bucket's stored docs (batch E2's candidate-then-verify,
  * collapsed into the state update) and emits pairs ≥ 0.8. A pair
  * sharing several buckets emits once per shared bucket — the sink
  * dedups, exactly like batch E2's `distinct()` on candidates.
  *
  * Cap semantics: a bucket past `maxBucketSize` docs SATURATES —
  * stops emitting and stops growing. Batch E2 drops an over-full
  * bucket's pairs retroactively; an append-mode stream cannot
  * retract, so saturation is the one semantic divergence, and only
  * for pathological buckets (StreamingSpec reconciles on a corpus
  * where no bucket nears the cap).
  *
  * Scale shape: state is one entry per (bucket, doc) with the doc's
  * shingle set — the same rows batch E2 shuffles, held resident and
  * partitioned by bucket; each micro-batch shuffles only its own
  * docs. State is unbounded in corpus size by design (dedup is
  * against ALL history); a production deployment bounds it by
  * retention (event-time timeout evicting buckets idle past the
  * dedup horizon), which is a policy knob, not a shape change. */
object StreamingDeduper {

  // the batch side's constants, shared so the two pipelines cannot
  // drift (StreamingSpec additionally reconciles end-to-end)
  private val numHashes = graft.operators.Dedup.numHashes
  private val numBands = graft.operators.Dedup.numBands
  private val maxBucketSize = graft.operators.Dedup.maxBucketSize
  private val threshold = graft.operators.Dedup.minhashJaccardThreshold

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** (distinct shingles, band buckets) for one document — the batch
    * pipeline's shingleRowsOf + signatureOf + bandBucketCols semantics
    * (same trim/lower/split, same hash salts, same string-min), as a
    * pure per-doc function. */
  private[graft] def features(text: String): (Seq[String], Seq[String]) = {
    // replicate Spark's lower() hybrid exactly: UTF8String takes a
    // locale-independent ASCII fast path for fully-ASCII strings and
    // falls back to java's default-locale toLowerCase only when the
    // string contains non-ASCII. A plain default-locale toLowerCase
    // here would diverge from batch on a tr/az-locale JVM for
    // all-ASCII text ('I' → dotless 'ı' while batch maps 'i');
    // Locale.ROOT everywhere would diverge on the non-ASCII path.
    val trimmed = text.trim
    val lowered =
      if (trimmed.forall(_ < 0x80))
        trimmed.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      else trimmed.toLowerCase
    val ws = lowered.split("\\s+", -1)
    val sh =
      if (ws.length < 3) Seq.empty[String]
      else ws.iterator.sliding(3).withPartial(false)
        .map(_.mkString(" ")).toSeq.distinct
    if (sh.isEmpty) (sh, Seq.empty)
    else {
      val sig = (0 until numHashes).map(k => sh.map(s => md5hex(s"$k:" + s)).min)
      val buckets = (0 until numBands).map(b =>
        md5hex(s"$b|" + sig(3 * b) + sig(3 * b + 1) + sig(3 * b + 2)))
      (sh, buckets)
    }
  }

  private def pairUp(bucket: String, docs: Iterator[BucketDoc],
      state: GroupState[BucketState]): Iterator[NearDupPair] = {
    var st = state.getOption.getOrElse(BucketState(Nil, saturated = false))
    val out = ListBuffer.empty[NearDupPair]
    // micro-batch delivery order is unspecified: process in doc_id
    // order so intra-batch pairs are deterministic
    docs.toSeq.sortBy(_.doc_id).foreach { d =>
      if (!st.saturated && !st.docs.exists(_._1 == d.doc_id)) {
        if (st.docs.size >= maxBucketSize)
          // a saturated bucket never pairs or grows again — drop its
          // doc list too, or up to maxBucketSize shingle sets per hot
          // bucket would ride the checkpoint forever as dead weight
          st = BucketState(Nil, saturated = true)
        else {
          val sa = d.shingles.toSet
          st.docs.foreach { case (oid, osh) =>
            val ob = osh.toSet
            val common = sa.count(ob)
            val j = common.toDouble / (sa.size + ob.size - common).toDouble
            if (j >= threshold)
              out += NearDupPair(math.min(d.doc_id, oid),
                math.max(d.doc_id, oid), j)
          }
          st = st.copy(docs = (d.doc_id, d.shingles) :: st.docs)
        }
      }
    }
    state.update(st)
    out.iterator
  }

  /** Drain all currently-available documents under `inputDir`,
    * appending verified pairs to a transactional parquet sink at
    * `outDir` (the memory sink cannot recover from a checkpoint, and
    * recovery is the point here). The CHECKPOINT carries the bucket
    * state across successive calls, so a later call after new files
    * land verifies ONLY the new docs against everything prior — the
    * incremental contract, live. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      checkpointDir: String, outDir: String): Unit =
    start(spark, inputDir, checkpointDir, outDir).awaitTermination()

  /** [[runAvailableNow]] without the await, returning the live query
    * handle — what a crash-recovery harness needs (kill mid-stream,
    * restart from the checkpoint). `maxFilesPerTrigger` bounds a
    * micro-batch to that many input files so multi-batch runs are
    * forceable on small corpora. */
  def start(spark: SparkSession, inputDir: String, checkpointDir: String,
      outDir: String, maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val reader = spark.readStream
      .schema("doc_id LONG, text STRING")
    val docs = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inputDir)
      .as[DocIn]
    pairs(spark, docs)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Verified near-dup pairs over a document stream. The caller's
    * sink dedups multi-bucket re-emissions (`dropDuplicates` /
    * DISTINCT on (doc_a, doc_b)). */
  def pairs(spark: SparkSession, docs: Dataset[DocIn]): Dataset[NearDupPair] = {
    import spark.implicits._
    docs.flatMap { d =>
      val (sh, buckets) = features(d.text)
      buckets.map(b => BucketDoc(b, d.doc_id, sh))
    }
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(pairUp)
  }
}
