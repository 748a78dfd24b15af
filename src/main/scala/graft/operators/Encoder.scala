package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** The embedding-model SEAM — the one interface a production user
  * replaces on day one (reference src/core/embeddings/processor.py:
  * 47-108 loads all-MiniLM-L6-v2, :174 batch-encodes; no model
  * runtime exists in this sandbox, so the shipped default is
  * deterministic feature hashing).
  *
  * Contract: [[encodeRaw]] maps a (doc_id, text) frame to
  * (doc_id, raw array&lt;double&gt;) — the UNNORMALIZED model output
  * at [[dim]] components, one row per input doc. Everything
  * downstream consumes only this contract through
  * [[EmbeddingStore.embedWith]], which adds the ONE shared
  * L2-normalize / float-cast / shard rule: the store layout, IVF
  * build/append/probe, PQ/SQ8 codes, recall evaluators and the
  * refresh orchestration never see the encoder, only vectors
  * (EncoderSpec proves the whole store→index→search→recall chain
  * under a second, structurally different encoder).
  *
  * Implementations MUST be deterministic per (doc_id, text): Spark
  * retries tasks, so a nondeterministic encoder makes a partially
  * failed store write irreproducible. A real model wrapper (ONNX
  * MiniLM etc.) satisfies this by being a pure function of the text;
  * batch it via `mapInPandas`/`mapPartitions` INSIDE encodeRaw — the
  * plan around it stays declarative. */
trait Encoder extends Serializable {
  /** Model output width (the reference's is 384). */
  def dim: Int

  /** (doc_id, text) → (doc_id, raw array&lt;double&gt;[dim]),
    * unnormalized, deterministic. */
  def encodeRaw(docs: DataFrame): DataFrame
}

/** The conf-driven encoder BINDING — how a deployment installs its
  * production model without touching engine code (reference
  * processor.py:47 hardcodes all-MiniLM-L6-v2; here the class name
  * is session conf). The batched `mapPartitions` wrapper shape a
  * real model uses is EXECUTED code, not a sketch — subclass
  * [[BatchedEncoder]] (grouping, heap-derived batch sizing and the
  * retry-determinism contract are already implemented there) and
  * supply only the model call:
  *
  * {{{
  * // --conf graft.encoder.class=com.example.MiniLmEncoder
  * final class MiniLmEncoder() extends BatchedEncoder {
  *   val dim = 384                      // the model's output width
  *   def encodeBatch(texts: Seq[String]): Seq[Array[Double]] =
  *     ModelCache.get().encode(texts)   // one ONNX session per task
  * }
  * }}}
  *
  * [[BatchedHashEncoder]] is the shipped proof of the path: the
  * default encoder's math driven through the batched wrapper,
  * vector-for-vector identical (EncoderSpec). */
object Encoder {
  /** Session conf naming the [[Encoder]] implementation class. */
  val classKey = "graft.encoder.class"

  /** Optional width passed to a `(dim: Int)` constructor. */
  val dimKey = "graft.encoder.dim"

  /** Resolve the session's encoder: the class named by
    * [[classKey]] — built via its `(dim: Int)` constructor when
    * [[dimKey]] is set, else its no-arg constructor (falling back to
    * the Int constructor at the library default width) — or the
    * shipped [[HashingEncoder]] when the conf is absent. Every
    * default-encoder entry point ([[EmbeddingStore.embed]],
    * searchText, updateSince) resolves through here, so the swap
    * needs ZERO engine changes (EncoderSpec loads a third encoder
    * purely via conf and runs the search chain under it). */
  def resolve(spark: org.apache.spark.sql.SparkSession): Encoder =
    spark.conf.getOption(classKey) match {
      case None => EmbeddingStore.defaultEncoder
      case Some(name) =>
        val cls = Class.forName(name)
        require(classOf[Encoder].isAssignableFrom(cls),
          s"$name does not implement graft.operators.Encoder")
        val ctors = cls.getConstructors
        def intCtor = ctors.find(
          _.getParameterTypes.toSeq == Seq(classOf[Int]))
        def nullary = ctors.find(_.getParameterCount == 0)
        val built = spark.conf.getOption(dimKey).map(_.toInt) match {
          case Some(d) =>
            intCtor.getOrElse(sys.error(
              s"$name has no (dim: Int) constructor but $dimKey is set"))
              .newInstance(Int.box(d))
          case None =>
            nullary.map(_.newInstance())
              .orElse(intCtor.map(_.newInstance(Int.box(EmbeddingStore.dim))))
              .getOrElse(sys.error(
                s"$name needs a no-arg or (dim: Int) constructor"))
        }
        built.asInstanceOf[Encoder]
    }
}

/** The shipped default: deterministic WORD-level feature hashing —
  * each token votes ±1 into one of `dim` md5-addressed buckets
  * (reference processor.py:174's batch encode re-expressed without a
  * model runtime). Components are small-integer vote sums, so float
  * casts and sparse cross-engine replays are EXACT (the G4
  * technique) and cosine over raw votes equals cosine over the
  * normalized store vectors (scale invariance).
  *
  * Scale shape: a doc's vector is a pure function of its own text, so
  * the whole encode is ONE row-local projection through the codegen'd
  * [[graft.functions.HashVotes]] kernel — embarrassingly parallel in
  * the corpus, ZERO exchange, no driver involvement. (The original
  * explode + two keyed aggregations shuffled ~one row per token —
  * ~10× the text bytes — to rebuild per-doc state the row already
  * had; the kernel computes the identical md5 bucket/sign votes in
  * place, and ±1 integer sums are order-exact in double, so vectors
  * are bit-identical — EncoderSpec's batched-path parity test and the
  * search-row oracles pin that.) The null-text filter keeps the old
  * explode semantics: a null text produced no token row, hence no
  * output row. */
final case class HashingEncoder(dim: Int = EmbeddingStore.dim)
    extends Encoder {
  def encodeRaw(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.VectorFunctions.hashVotes(
          words(cleanText(col("text"))), dim).as("raw"))
      .filter(col("raw").isNotNull)
}
