package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.SeekableInputStream
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Projected parquet reading for the store's own files: data files,
  * snapshots, change-feed commits, deletion vectors and the `_stats`
  * manifest. One decode path, Spark's own `VectorizedParquetRecordReader`
  * ([[VectorizedFileRows]]), opening ONE file with a name-projected
  * schema so column pruning reaches the page level: pages decode into
  * columnar batches wholesale and rows are served as views over the
  * batch. [[readAll]] is the same cursor for callers that keep rows.
  *
  * Decode covers exactly the store's physical types: INT32, INT64,
  * BINARY (UTF8), BOOLEAN, and timestamps as either INT96 (Spark's
  * default parquet output) or annotated INT64 (MICROS/MILLIS) — both
  * served as Catalyst micros-since-epoch. Spark's reader owns every
  * type rule (INT96 arithmetic, timestamp units, int32→int64
  * promotion); this file only picks the Catalyst type to request.
  *
  * It is also where main code opens a parquet DataFrame whose schema
  * it does not declare: [[read]] pins the schema [[sparkSchema]]
  * resolves from one footer on the driver, so no read runs Spark's
  * schema-inference job.
  */
object ParquetGroups {

  /** Vectorized projected cursor over one parquet file: `advance()`
    * steps to the next row (a VIEW over the current columnar batch —
    * any UTF8String that outlives the row must be `.clone()`d),
    * `value(col)` returns the Catalyst-internal value for a projected
    * column (null when absent in this file's layout or null in the
    * row).
    */
  final class VectorizedFileRows(file: String, columns: Seq[String],
      requestedTypes: Map[String, DataType] = Map.empty)
      extends AutoCloseable {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
    import org.apache.spark.sql.types._

    // One conf, one stream, one footer per file: the footer read here
    // is handed to the reader below instead of being read again.
    private val conf = new Configuration(false)
    private val (input, stream, footer) = openFooter(new HPath(file), conf)
    private val full = footer.getFileMetaData.getSchema
    val present: Seq[String] = columns.filter(full.containsField)

    // Catalyst view of the projection: the caller's LOGICAL type when
    // given and servable over this file's physical type (equal, or a
    // lossless widening — Spark's vectorized reader promotes
    // int32→int64 natively), else derived from the store's physical
    // grammar (both timestamp encodings → TimestampType, so the
    // reader serves micros Longs either way). Serving the logical
    // type at the file boundary is what makes type widening and
    // narrow (int) evolved columns exact through the connector: an
    // int32 file under a widened bigint column decodes straight into
    // a Long vector, and an int column stays an Int.
    private val catalystTypes: Array[DataType] = orClose(stream)(present.map { n =>
      val t = full.getType(full.getFieldIndex(n)).asPrimitiveType()
      val fileType: DataType = t.getPrimitiveTypeName match {
        case PrimitiveType.PrimitiveTypeName.INT96 => TimestampType
        case PrimitiveType.PrimitiveTypeName.INT64 =>
          t.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              TimestampType
            case _ => LongType
          }
        case PrimitiveType.PrimitiveTypeName.INT32 => IntegerType
        case PrimitiveType.PrimitiveTypeName.BOOLEAN => BooleanType
        case PrimitiveType.PrimitiveTypeName.BINARY => StringType
        case other => throw new UnsupportedOperationException(
          s"graft-store vectorized reader: unsupported parquet type $other for ${t.getName}")
      }
      requestedTypes.get(n) match {
        case Some(req) if req == fileType => req
        case Some(LongType) if fileType == IntegerType => LongType
        case _ => fileType
      }
    }.toArray)

    private val reader = new VectorizedParquetRecordReader(false, 4096)
    locally {
      // The production initialize path (the test-only String/List one
      // hardcodes int96AsTimestamp=false and cannot read Spark's
      // default INT96 output): a one-file split + a task context whose
      // conf carries the requested Catalyst schema and the same
      // parquet-interpretation flags ParquetFileFormat sets. The reader
      // takes the open stream and footer (all three must be given, or
      // it reopens the file) and closes the stream with itself.
      val requested = StructType(present.zip(catalystTypes).map {
        case (n, dt) => StructField(n, dt)
      })
      conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[ParquetReadSupport].getName)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
      conf.setBoolean("spark.sql.parquet.binaryAsString", false)
      conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
      conf.setBoolean("spark.sql.caseSensitive", false)
      conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", false)
      conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
      val split = new org.apache.hadoop.mapred.FileSplit(
        input.getPath, 0, input.getLength, Array.empty[String])
      val attempt = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      orClose(stream)(reader.initialize(split, attempt, Some(input), Some(stream), Some(footer)))
    }

    private val extract: Array[(InternalRow, Int) => Any] = catalystTypes.map {
      case TimestampType | LongType => (r: InternalRow, i: Int) => r.getLong(i)
      // An IntegerType request is exact: the value IS an Int (callers
      // that want Long over an int32 file request LongType and the
      // vectorized reader promotes during decode).
      case IntegerType => (r: InternalRow, i: Int) => r.getInt(i)
      case BooleanType => (r: InternalRow, i: Int) => r.getBoolean(i)
      case StringType => (r: InternalRow, i: Int) => r.getUTF8String(i)
      case other => throw new IllegalStateException(s"unreachable type $other")
    }
    private val idx: Map[String, Int] = present.zipWithIndex.toMap
    private var row: InternalRow = _

    def advance(): Boolean = {
      val has = reader.nextKeyValue()
      if (has) row = reader.getCurrentValue.asInstanceOf[InternalRow]
      has
    }

    def value(col: String): Any = idx.get(col) match {
      case Some(i) => if (row.isNullAt(i)) null else extract(i)(row, i)
      case None => null
    }

    override def close(): Unit = reader.close()
  }

  /** Open `file` and read its whole footer from that one stream. The
    * caller owns the stream: [[VectorizedFileRows]] hands all three to
    * Spark's reader, [[readFooter]] closes it at once.
    */
  private def openFooter(file: HPath, conf: Configuration)
      : (HadoopInputFile, SeekableInputStream, ParquetMetadata) = {
    val input = HadoopInputFile.fromPath(file, conf)
    val stream = input.newStream()
    orClose(stream)((input, stream, ParquetFileReader.readFooter(
      input, HadoopReadOptions.builder(conf, file).build(), stream)))
  }

  /** `body`, closing `stream` if it throws. */
  private def orClose[T](stream: java.io.Closeable)(body: => T): T =
    try body catch { case e: Throwable => stream.close(); throw e }

  private def readFooter(file: HPath, conf: Configuration): ParquetMetadata = {
    val (_, stream, footer) = openFooter(file, conf)
    stream.close()
    footer
  }

  /** The file's full schema (footer read only). */
  def fileSchema(file: String): MessageType =
    readFooter(new HPath(file), new Configuration(false)).getFileMetaData.getSchema

  /** The schema Spark's parquet inference returns for `paths`, resolved
    * from ONE footer read on the driver instead of Spark's inference job
    * (`mergeSchemasInParallel` runs a job even for a single footer).
    * The footer is picked by Spark's own rule (`ParquetUtils.inferSchema`
    * without mergeSchema): over the leaf files of every path, sorted by
    * path, a `_common_metadata`, else a `_metadata`, else the first data
    * file; hidden names (a leading `_` or `.`) are never listed. It converts
    * through Spark's `readSchemaFromFooter`, so the stored Spark row
    * schema wins when present and the session's parquet settings
    * (nanosAsLong, inferTimestampNTZ, int96AsTimestamp, binaryAsString)
    * apply exactly as they do in inference. A missing path, or one
    * with no data file, fails naming the paths.
    */
  def sparkSchema(spark: SparkSession, paths: String*): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val leaves = paths.flatMap(p => leafFiles(new HPath(p), conf))
      .map(_.getPath).sortBy(_.toString)
    val pick = Summaries.flatMap(n => leaves.find(_.getName == n)).headOption
      .orElse(leaves.find(f => !Summaries.contains(f.getName)))
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data file to resolve a schema from under ${paths.mkString(", ")}"))
    ParquetFileFormat.readSchemaFromFooter(new Footer(pick, readFooter(pick, conf)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `spark.read.parquet(paths: _*)` with the schema pinned by
    * [[sparkSchema]]: the same frame, without the inference job. Only
    * metadata is resolved; every action still scans the files.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(sparkSchema(spark, paths: _*)).parquet(paths: _*)

  /** Parquet summary files, in the order Spark's inference prefers them. */
  private val Summaries = Seq("_common_metadata", "_metadata")

  /** Spark's file-index listing: a file path is its own leaf; a
    * directory contributes its files and recurses into its
    * subdirectories, skipping hidden names (a leading `.`, or a
    * leading `_` outside a `key=value` partition name) except the
    * summary files.
    */
  private def leafFiles(path: HPath, conf: Configuration): Seq[FileStatus] = {
    val fs = path.getFileSystem(conf)
    val root = try fs.getFileStatus(path) catch {
      case e: java.io.FileNotFoundException =>
        throw new java.io.FileNotFoundException(s"parquet path does not exist: $path")
          .initCause(e)
    }
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter { c =>
        val n = c.getPath.getName
        val hidden = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
        !hidden || Summaries.contains(n)
      }.flatMap(walk)
    walk(root)
  }

  /** Every row of one parquet file as owned arrays: `columns` in
    * order, null where the file lacks one, decoded by
    * [[VectorizedFileRows]] under the declared LOGICAL `types` (keyed
    * by the requested names). Strings are cloned out of the cursor's
    * reused batch, so rows may be kept. Rows stream one batch at a
    * time and the cursor closes when exhausted.
    *
    * A column without a declared type decodes to its physical type:
    * an INT32 column is an Int, so callers that want Long over
    * int32 files declare `LongType`.
    */
  def readAll(file: String, columns: Seq[String],
      types: Map[String, DataType] = Map.empty): Iterator[Array[Any]] = {
    val rows = new VectorizedFileRows(file, columns, types)
    Iterator.continually(rows.advance())
      .takeWhile { has => if (!has) rows.close(); has }
      .map(_ => columns.iterator.map(c => rows.value(c) match {
        case s: UTF8String => s.clone()
        case v => v
      }).toArray)
  }

  /** Total row count of the given parquet files — footer-only,
    * driver-side, cost ∝ files, opened through the session's Hadoop
    * conf (so any file system the session is configured for works).
    */
  def rowCount(spark: SparkSession, files: Seq[String]): Long =
    if (files.isEmpty) 0L
    else {
      val conf = spark.sessionState.newHadoopConf()
      files.map(f => readFooter(new HPath(f), conf).getBlocks.stream()
        .mapToLong(_.getRowCount).sum()).sum
    }

  /** Data files inside a directory (feed commit dir, snapshot dir). */
  def parquetFilesIn(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }
}
