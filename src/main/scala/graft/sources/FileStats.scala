package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, XxHash64}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, OutputWriter, OutputWriterFactory, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{BinaryType, BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.CollectionAccumulator

import graft.operators.{AdaptiveBloomAggregate, JoinPruning}

/** One committed data file as a reader plans it: its URI (a manifest's
  * `file` value), and its length and modification time, both taken
  * from a directory listing. */
private[graft] final case class DataFile(path: String, length: Long,
    mtime: Long) {
  def name: String = path.substring(path.lastIndexOf('/') + 1)
}

/** A commit listed a data file that no successful writer task reported
  * stats for: its manifest would be missing a file, so the commit
  * refuses to publish. */
private[graft] final class FileStatsMissingException(file: String)
    extends IllegalStateException(
      s"no writer-side stats for committed data file $file")

/** Per-file manifest statistics collected DURING the write (the shape
  * of Delta's writer-side statistics tracker): a parquet write whose
  * every output file folds its row count, each key's min / max /
  * null-presence in the key's native type, and each Bloom key's
  * sketch as the rows stream past, then reports them through an
  * accumulator when the file closes. A manifested commit therefore
  * reads its data once; the manifest is built on the driver from the
  * commit's own listing, and read back through a file index that
  * lists nothing. */
private[graft] object FileStats {

  /** A manifested write's fresh manifest rows (`file` first) in
    * `schema`, and the data files they describe, in the same order. */
  final case class Written(schema: StructType, rows: Seq[Row],
      files: Seq[DataFile])

  /** The manifest columns for `keys` and `bloomKeys` over `data`: the
    * file URI and its row count, then `min_`, `max_` and `null_` per
    * key, then `bloom_` per Bloom key — with the nullability the
    * equivalent `_metadata.file_path` group-by yields. */
  def schema(data: StructType, keys: Seq[String],
      bloomKeys: Seq[String]): StructType =
    StructType(
      Seq(StructField("file", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false)) ++
      keys.flatMap { k =>
        val dt = data(k).dataType
        Seq(StructField(s"min_$k", dt), StructField(s"max_$k", dt),
          StructField(s"null_$k", BooleanType, nullable = false))
      } ++ bloomKeys.map(k => StructField(s"bloom_$k", BinaryType)))

  /** Write `df` as parquet into the new dir `dir`, folding each file's
    * stats on `keys` and `bloomKeys` while it writes, and return the
    * manifest rows of the files the committed listing of `dir` holds. */
  def write(df: DataFrame, dir: String, keys: Seq[String],
      bloomKeys: Seq[String]): Written = {
    import scala.jdk.CollectionConverters._
    val spark = df.sparkSession
    val sink = spark.sparkContext.collectionAccumulator[(String, InternalRow)]
    GraftColumnBridge.writeFiles(df,
      new StatsParquetFormat(keys, bloomKeys, sink), dir)
    val s = schema(df.schema, keys, bloomKeys)
    val toRow = CatalystTypeConverters.createToScalaConverter(s)
    val entries = manifestEntries(list(spark, dir), sink.value.asScala.toSeq)
    Written(s, entries.map { case (f, stats) =>
      toRow(new GenericInternalRow(
        (org.apache.spark.unsafe.types.UTF8String.fromString(f.path) +:
          stats.toSeq(s.drop(1).map(_.dataType))).toArray))
        .asInstanceOf[Row]
    }, entries.map(_._1))
  }

  /** The manifest builder: pair every listed file with the stats its
    * writer reported (keyed by file name). Stats for a file the
    * listing does not hold — an attempt whose output was never
    * committed — are dropped; a listed file without stats fails with
    * [[FileStatsMissingException]]. A file of zero rows (the one empty
    * file a write of no rows leaves) is no manifest entry, as no
    * group-by over the data has a group for it. */
  def manifestEntries(listed: Seq[DataFile],
      stats: Seq[(String, InternalRow)]): Seq[(DataFile, InternalRow)] = {
    val byName = stats.toMap
    listed.map(f => f -> byName.getOrElse(f.name,
      throw new FileStatsMissingException(f.path)))
      .filter(_._2.getLong(0) > 0L)
  }

  /** The data files directly under `dir`, by name: one listing. A
    * file's URI is written as a scan's `_metadata.file_path` names it
    * (`file:/…`, where the listed path's URI reads `file:///…`). */
  def list(spark: SparkSession, dir: String): Seq[DataFile] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(fs.makeQualified(p)).toSeq
      .filter(s => s.isFile && isData(s.getPath.getName))
      .sortBy(_.getPath.getName)
      .map(s => DataFile(SparkPath.fromPathString(s.getPath.toString).urlEncoded,
        s.getLen, s.getModificationTime))
  }

  /** `files` (manifest URIs) as data files, from one listing of each
    * distinct parent dir; a file the listing lacks is a
    * `FileNotFoundException`, as its read would be. */
  def listed(spark: SparkSession, files: Seq[String]): Seq[DataFile] = {
    val parents = files.map(f => SparkPath.fromUrlString(f).toPath.getParent)
      .distinct
    val byPath = parents.flatMap(d => list(spark, d.toString))
      .map(f => f.path -> f).toMap
    files.map(f => byPath.getOrElse(f,
      throw new java.io.FileNotFoundException(
        s"manifest names a missing data file $f")))
  }

  private def isData(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Read exactly `files` with `schema` through a [[ManifestFileIndex]]:
    * the scan plans from the given lengths, so no file is listed or
    * stat'ed; an empty list reads as an empty frame. */
  def read(spark: SparkSession, schema: StructType,
      files: Seq[DataFile]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(files), new StructType(),
      GraftColumnBridge.asNullable(schema), None, new ParquetFileFormat,
      Map.empty)(spark))
}

/** A file index over a manifest's file list: what Spark's
  * `InMemoryFileIndex` would discover by listing (in a distributed job
  * past 32 paths), handed over as the manifest already knows it. */
private[graft] final class ManifestFileIndex(files: Seq[DataFile])
    extends FileIndex {
  private val statuses = files.map(f => FileStatusWithMetadata(
    new FileStatus(f.length, false, 0, 0L, f.mtime,
      SparkPath.fromUrlString(f.path).toPath), Map.empty))

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  override def inputFiles: Array[String] = files.map(_.path).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.length).sum
  override def partitionSchema: StructType = new StructType()
}

/** Parquet whose output writers fold their file's manifest stats; each
  * closed file adds (file name, stats row) to `sink`. Spark merges a
  * result task's accumulator updates once, from its successful
  * attempt, and the committer drops anything the listing lacks. */
private final class StatsParquetFormat(keys: Seq[String],
    bloomKeys: Seq[String], sink: CollectionAccumulator[(String, InternalRow)])
    extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val parquet = super.prepareWrite(spark, job, options, dataSchema)
    val (ks, bks, out) = (keys, bloomKeys, sink)
    new OutputWriterFactory {
      override def getFileExtension(ctx: TaskAttemptContext): String =
        parquet.getFileExtension(ctx)
      override def newInstance(file: String, data: StructType,
          ctx: TaskAttemptContext): OutputWriter = {
        val writer = parquet.newInstance(file, data, ctx)
        val fold = new StatsFold(data, ks, bks)
        new OutputWriter {
          override def write(row: InternalRow): Unit = {
            fold.update(row)
            writer.write(row)
          }
          override def close(): Unit = {
            writer.close()
            out.add(new Path(file).getName -> fold.result)
          }
          override def path(): String = writer.path()
        }
      }
    }
  }
}

/** One file's stats, folded row by row with the orderings and the
  * sketch aggregate Spark's `min`, `max` and [[JoinPruning.bloomAgg]]
  * use, so each value equals the group-by's over the same rows: a
  * bound moves only on a strictly smaller (larger) value, and the
  * sketch is sized by the file's own key count. */
private final class StatsFold(data: StructType, keys: Seq[String],
    bloomKeys: Seq[String]) {
  private val ords = keys.map(data.fieldIndex).toArray
  private val types = ords.map(data(_).dataType)
  private val orderings = types.map(TypeUtils.getInterpretedOrdering)
  private val mins = new Array[Any](ords.length)
  private val maxs = new Array[Any](ords.length)
  private val nulls = new Array[Boolean](ords.length)
  private val sketches = bloomKeys.map { k =>
    val i = data.fieldIndex(k)
    AdaptiveBloomAggregate(
      new XxHash64(Seq(BoundReference(i, data(i).dataType, nullable = true))),
      JoinPruning.bloomMaxBits)
  }
  private val buffers = sketches.map(_.createAggregationBuffer())
  private var rows = 0L

  def update(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < ords.length) {
      if (row.isNullAt(ords(i))) nulls(i) = true
      else {
        val v = row.get(ords(i), types(i))
        if (mins(i) == null || orderings(i).lt(v, mins(i)))
          mins(i) = InternalRow.copyValue(v)
        if (maxs(i) == null || orderings(i).gt(v, maxs(i)))
          maxs(i) = InternalRow.copyValue(v)
      }
      i += 1
    }
    sketches.zip(buffers).foreach { case (s, b) => s.update(b, row) }
  }

  /** (n_rows, then min, max, null per key, then one sketch per Bloom
    * key) — the manifest row without its `file`. */
  def result: InternalRow = new GenericInternalRow(
    (Seq[Any](rows) ++ ords.indices.flatMap(i =>
      Seq(mins(i), maxs(i), nulls(i))) ++
      sketches.zip(buffers).map { case (s, b) => s.eval(b) }).toArray)
}
