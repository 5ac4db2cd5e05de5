package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSeq, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.classic.ClassicConversions.{castToImpl => impl}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The store's one parquet writer. [[apply]] writes a frame as the
  * files of one private directory in one Spark job: every task writes
  * `<prefix>-<commitId>-part-<split>-<attempt>…parquet` straight into
  * the directory ([[StagedCommitProtocol]]: no `_temporary` dir, no
  * task or job rename, no `_SUCCESS` file), and a stats tracker counts
  * each file's rows and folds them into a caller-defined per-file
  * state while they are written. A part no row reached (Spark's first
  * task writes one even when its partition is empty, so that an empty
  * job still leaves a file) is deleted with its checksum and never
  * reported: no written directory holds a 0-row file. [[local]] writes
  * a metadata-scale row set as one file on the driver, with no job. Both go through Spark's
  * own `ParquetFileFormat` write support, so the footer (schema,
  * nullability, row-metadata key, codec) is what `df.write.parquet`
  * writes.
  *
  * The caller owns the directory: it must be private to this write
  * (a staging dir, a tmp dir renamed into place afterwards), because
  * the job commit deletes every file in it that no task committed.
  * Lives under `org.apache.spark.sql` because `FileFormatWriter`,
  * `SQLExecution` and `Dataset.ofRows` are `private[sql]`.
  */
object StagedWrite {

  /** A per-file fold the write tasks run over `columns` of each written
    * row (resolved against the written frame on the driver, evaluated
    * in the task): `add` folds one projected row into a file's state,
    * `merge` combines two tasks' states of one file on the driver.
    */
  abstract class FileFold[S] extends Serializable {
    def zero(): S
    def add(s: S, row: InternalRow): S
    def merge(a: S, b: S): S
  }

  /** One written file: its basename, rows, bytes and folded state. */
  final case class WrittenFile[S](name: String, rows: Long, bytes: Long, state: Option[S])

  /** What one write produced, by file. */
  final case class Written[S](files: Seq[WrittenFile[S]]) {
    def rows: Long = files.map(_.rows).sum
  }

  /** Write `df` into `dir` (created if missing) as parquet files named
    * `<prefix>-<commitId>-…`, in the frame's own SQL execution (so
    * listeners and SQL metrics see it), folding `fold`'s columns per
    * file. Returns each written file's rows, bytes and state; 0-row
    * parts are deleted and left out, so a write no row reached leaves
    * `dir` without a file. A failed write removes what it wrote and
    * rethrows.
    */
  def apply[S](df: DataFrame, dir: java.io.File, prefix: String,
      fold: Option[(Seq[Column], FileFold[S])] = None): Written[S] = {
    val ds = impl(df)
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val protocol = new StagedCommitProtocol(dir.getAbsolutePath, s"$prefix-$commitId")
    SQLExecution.withNewExecutionId(qe) {
      val plan = qe.executedPlan
      val tracker = new FoldTracker[S](fold.map { case (cols, f) =>
        (resolve(session, plan.output, cols), f) })
      FileFormatWriter.write(session, plan, new ParquetFileFormat, protocol,
        FileFormatWriter.OutputSpec(dir.getAbsolutePath, Map.empty, plan.output),
        session.sessionState.newHadoopConf(), Nil, None, Seq(tracker), Map.empty)
      val (kept, empty) = tracker.result.toSeq.sortBy(_._1).partition(_._2._1 > 0L)
      empty.foreach { case (name, _) => StagedCommitProtocol.drop(new java.io.File(dir, name)) }
      Written(kept.map { case (name, (rows, state)) =>
        WrittenFile(name, rows, new java.io.File(dir, name).length(), state)
      })
    }
  }

  /** Write `rows` (external `Row`s of `schema`) as one parquet file
    * `<stem><codec extension>` in `dir` on the driver, through the same
    * write support as [[apply]]: no Spark job. For metadata-scale
    * files (the `_stats` manifest) whose rows already sit on the
    * driver. Returns the file.
    */
  def local(spark: SparkSession, schema: StructType, rows: Seq[Row], dir: java.io.File,
      stem: String): java.io.File = {
    val session = spark.asInstanceOf[ClassicSession]
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new java.io.File(dir, stem + factory.getFileExtension(ctx))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    dir.mkdirs()
    val w = factory.newInstance(file.getAbsolutePath, schema, ctx)
    try rows.foreach(r => w.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally w.close()
    file
  }

  /** `columns` resolved by the analyzer against `output` (the same
    * Catalyst expressions a select over the frame would evaluate),
    * bound to the written row's ordinals.
    */
  private def resolve(session: ClassicSession, output: Seq[Attribute],
      columns: Seq[Column]): Seq[Expression] =
    Dataset.ofRows(session, LocalRelation(output)).select(columns: _*)
      .queryExecution.analyzed match {
        case Project(exprs, _) => exprs.map {
          case a: Alias => BindReferences.bindReference(a.child, AttributeSeq(output))
          case e => BindReferences.bindReference(e: Expression, AttributeSeq(output))
        }
        case other => throw new IllegalStateException(s"unexpected fold plan $other")
      }

  /** One file's row count and fold state (null without a fold). */
  private final class FileAcc(var rows: Long, var state: Any) extends Serializable

  /** Per-file results of one task. */
  private final case class TaskFiles(files: Seq[(String, FileAcc)]) extends WriteTaskStats

  /** The write's stats tracker: task side counts each file's rows and
    * folds them; [[processStats]] merges the tasks' results on the
    * driver into [[result]].
    */
  private final class FoldTracker[S](fold: Option[(Seq[Expression], FileFold[S])])
      extends WriteJobStatsTracker {
    @transient lazy val result = mutable.HashMap.empty[String, (Long, Option[S])]

    override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private val files = mutable.LinkedHashMap.empty[String, FileAcc]
      private val folder = fold.map { case (exprs, f) => (UnsafeProjection.create(exprs), f) }
      private var lastPath: String = _
      private var last: FileAcc = _

      private def acc(path: String): FileAcc = {
        if (path ne lastPath) {
          last = files(new org.apache.hadoop.fs.Path(path).getName)
          lastPath = path
        }
        last
      }
      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit =
        files(new org.apache.hadoop.fs.Path(path).getName) =
          new FileAcc(0L, folder.fold(null: Any)(_._2.zero()))
      override def closeFile(path: String): Unit = ()
      override def newRow(path: String, row: InternalRow): Unit = {
        val a = acc(path)
        a.rows += 1
        folder.foreach { case (project, f) =>
          a.state = f.add(a.state.asInstanceOf[S], project(row))
        }
      }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskFiles(files.toSeq)
    }

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      stats.foreach { case TaskFiles(files) =>
        files.foreach { case (n, a) =>
          val state = fold.map(_ => a.state.asInstanceOf[S])
          result(n) = result.get(n) match {
            case Some((rows, prev)) =>
              (rows + a.rows, for (p <- prev; s <- state; (_, f) <- fold) yield f.merge(p, s))
            case None => (a.rows, state)
          }
        }
      }
  }
}

/** The staged writer's commit protocol: each task attempt writes its
  * files under their final names straight into `dir` and reports them
  * in its commit message; [[commitJob]] deletes every file in `dir`
  * that no committed message names (with its checksum sidecar), so a
  * failed or retried attempt leaves nothing behind. There is no
  * `_temporary` dir and no `_SUCCESS` file: the caller's own commit
  * (the rename of its staging dir) is the atomic step.
  */
final class StagedCommitProtocol(dir: String, stem: String)
    extends FileCommitProtocol with Serializable {
  @transient private var written: mutable.ArrayBuffer[String] = _

  override def setupJob(job: JobContext): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    require(d.isDirectory, s"staged write: cannot create $dir")
  }

  override def setupTask(ctx: TaskAttemptContext): Unit =
    written = mutable.ArrayBuffer.empty

  override def newTaskTempFile(ctx: TaskAttemptContext, subdir: Option[String],
      ext: String): String = newTaskTempFile(ctx, subdir, FileNameSpec("", ext))

  override def newTaskTempFile(ctx: TaskAttemptContext, subdir: Option[String],
      spec: FileNameSpec): String = {
    require(subdir.isEmpty && spec.prefix.isEmpty,
      s"staged write into $dir: partitioned or prefixed output is not supported")
    val id = ctx.getTaskAttemptID
    val name = f"$stem-part-${id.getTaskID.getId}%05d-${id.getId}${spec.suffix}"
    written += name
    new java.io.File(dir, name).getAbsolutePath
  }

  override def newTaskTempFileAbsPath(ctx: TaskAttemptContext, absoluteDir: String,
      ext: String): String =
    throw new UnsupportedOperationException(s"staged write into $dir: absolute-path output")

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(written.toList)

  override def abortTask(ctx: TaskAttemptContext): Unit =
    if (written != null) written.foreach(n => StagedCommitProtocol.drop(new java.io.File(dir, n)))

  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit = {
    val keep = commits.flatMap(_.obj.asInstanceOf[Seq[String]]).toSet
    StagedCommitProtocol.files(dir).filterNot(f => keep(f.getName))
      .foreach(StagedCommitProtocol.drop)
  }

  override def abortJob(job: JobContext): Unit =
    StagedCommitProtocol.files(dir).foreach(StagedCommitProtocol.drop)
}

object StagedCommitProtocol {
  /** The data files in `dir` (checksum sidecars go with their file). */
  private def files(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))

  /** Delete `f` and its `.<name>.crc` sidecar, if present. */
  private[graft] def drop(f: java.io.File): Unit = {
    val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
    if (crc.exists()) crc.delete(): Unit
    if (f.exists()) require(f.delete(), s"staged write: could not delete $f")
  }
}
