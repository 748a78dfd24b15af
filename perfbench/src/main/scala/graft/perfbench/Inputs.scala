package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingStore, Encoder}

/** The generated inputs of one run: a corpus directory holding
  * `documents.parquet` and `embeddings.parquet`, and the sorted doc ids
  * the workloads slice and sample from. */
final case class Inputs(dir: String, docIds: Array[Long], docBytes: Long,
    embBytes: Long) {
  def nDocs: Int = docIds.length
  /** Doc ids of the first half of the corpus (the indexed base). */
  def firstHalf: Array[Long] = docIds.take(nDocs / 2)
  def secondHalf: Array[Long] = docIds.drop(nDocs / 2)
}

object Inputs {

  /** Width of the generated embeddings: the reference model's width
    * (all-MiniLM-L6-v2, 384). */
  val dim = 384

  /** Write the seeded corpus into `dir`: the base documents with a
    * seeded suffix on every word (a bijective salt, the kind `CorpusScaling.ensureReplicatedDir`
    * gives each replica, so token statistics match the base corpus) and
    * a seeded doc-id offset. Two seeds give corpora of the same size with
    * different ids and words. The embeddings are `EmbeddingStore.embed`
    * of those documents, with a seeded `label` in 0..9. The documents
    * are written only if the workload reads them. */
  def generate(spark: SparkSession, baseDocs: String, seed: Long,
      dir: String, documents: Boolean): Inputs = {
    val rng = new scala.util.Random(seed)
    val idOffset = 1L + rng.nextInt(1000000)
    val salt = "q" + Seq.fill(5)(('a' + rng.nextInt(26)).toChar).mkString
    val docs = spark.read.parquet(baseDocs)
      .select((col("doc_id") + lit(idOffset)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1" + salt).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val docPath = s"$dir/documents.parquet"
    val embPath = s"$dir/embeddings.parquet"
    if (documents) docs.write.mode("overwrite").parquet(docPath)
    // bind EmbeddingStore.embed to the hashing encoder at the model width
    spark.conf.set(Encoder.classKey, "graft.operators.HashingEncoder")
    spark.conf.set(Encoder.dimKey, dim.toString)
    EmbeddingStore.embed(if (documents) spark.read.parquet(docPath) else docs)
      .select(col("doc_id").as("vec_id"), col("embedding"),
        pmod(xxhash64(col("doc_id"), lit(seed)), lit(10L)).cast("int")
          .as("label"))
      .write.mode("overwrite").parquet(embPath)
    val ids = (if (documents) spark.read.parquet(docPath).select(col("doc_id"))
      else spark.read.parquet(embPath).select(col("vec_id")))
      .collect().map(_.getLong(0)).sorted
    Inputs(dir, ids, treeBytes(new File(docPath)), treeBytes(new File(embPath)))
  }

  def treeBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum
}
