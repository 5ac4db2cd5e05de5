package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.types.DataType
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

    private val full = fileSchema(file)
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
    private val catalystTypes: Array[DataType] = present.map { n =>
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
    }.toArray

    private val reader = new VectorizedParquetRecordReader(false, 4096)
    locally {
      // The production initialize path (the test-only String/List one
      // hardcodes int96AsTimestamp=false and cannot read Spark's
      // default INT96 output): a one-file split + a task context whose
      // conf carries the requested Catalyst schema and the same
      // parquet-interpretation flags ParquetFileFormat sets.
      val requested = StructType(present.zip(catalystTypes).map {
        case (n, dt) => StructField(n, dt)
      })
      val conf = new Configuration(false)
      conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[ParquetReadSupport].getName)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
      conf.setBoolean("spark.sql.parquet.binaryAsString", false)
      conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
      conf.setBoolean("spark.sql.caseSensitive", false)
      conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", false)
      conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
      val split = new org.apache.hadoop.mapred.FileSplit(
        new HPath(file), 0, new java.io.File(file).length(), Array.empty[String])
      val attempt = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
      reader.initialize(split, attempt)
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

  /** The file's full schema (footer read only). */
  def fileSchema(file: String): MessageType = {
    val conf = new Configuration(false)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf))
    try r.getFooter.getFileMetaData.getSchema
    finally r.close()
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

  /** Data files inside a directory (feed commit dir, snapshot dir). */
  def parquetFilesIn(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }
}
