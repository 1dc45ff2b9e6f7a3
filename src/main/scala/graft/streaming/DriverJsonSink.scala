package graft.streaming

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.streaming.ManifestFileCommitProtocol
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog}
import org.apache.spark.sql.types.StructType

/** `NewsStream.startAllSinks`' JSON sink: writes a micro-batch's rows,
  * already collected on the driver, as the one part file Spark's
  * `FileStreamSink` writes for partition 0 (`part-00000-<uuid>-c000.json`,
  * through Spark's `JsonFileFormat` writer), and commits it through
  * Spark's `ManifestFileCommitProtocol` into the same `_spark_metadata`
  * log. Readers, restarts and the `format("json")` query's checkpoints
  * see the same sink. Like `FileStreamSink.addBatch`, a batch id the log
  * already holds is skipped, and an empty batch commits one empty file.
  *
  * No Spark job runs: the Hadoop conf, the writer factory and the
  * Row-to-InternalRow serializer are built once, here, so no conf ships
  * inside a task and nothing compiles per batch. Not thread-safe; the
  * stream thread is its only caller.
  */
private[streaming] final class DriverJsonSink(
    spark: SparkSession, path: String, schema: StructType) {
  private val options = Map("path" -> path)
  private val job = Job.getInstance(
    spark.sessionState.newHadoopConfWithOptions(options))
  private val log = {
    val base = new Path(path)
    new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      FileStreamSink.getMetadataLogPath(base.getFileSystem(job.getConfiguration),
        base, spark.sessionState.conf).toString)
  }
  private val writers = new JsonFileFormat().prepareWrite(spark, job, options, schema)
  // the one "task" of every batch: partition 0, which names the file
  private val task = new TaskAttemptContextImpl(job.getConfiguration,
    new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
  private val fileName = FileNameSpec("", "-c000" + writers.getFileExtension(task))
  private val toInternal =
    ExpressionEncoder(RowEncoder.encoderFor(schema, lenient = true)).createSerializer()

  def addBatch(batchId: Long, rows: Array[Row]): Unit =
    if (batchId > log.getLatestBatchId().getOrElse(-1L)) {
      val committer = new ManifestFileCommitProtocol(batchId.toString, path)
      committer.setupManifestOptions(log, batchId)
      committer.setupJob(task)
      committer.setupTask(task)
      try {
        val out = writers.newInstance(
          committer.newTaskTempFile(task, None, fileName), schema, task)
        try rows.foreach(r => out.write(toInternal(r))) finally out.close()
        val commit = committer.commitTask(task)
        committer.onTaskCommit(commit)
        committer.commitJob(task, Seq(commit))
      } catch {
        case e: Throwable =>
          try { committer.abortTask(task); committer.abortJob(task) }
          catch { case NonFatal(a) => e.addSuppressed(a) }
          throw e
      }
    }
}
