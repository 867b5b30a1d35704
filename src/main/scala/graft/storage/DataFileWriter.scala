package graft.storage

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Writes parquet data files without a DataFrameWriter job: from inside a
  * task of any Spark job, or on the driver. It uses Spark's own parquet
  * writer (the `OutputWriterFactory` of `ParquetFileFormat.prepareWrite`,
  * over the session's Hadoop conf), so the files and their footers are the
  * ones a DataFrameWriter writes.
  *
  * File protocol, shared with [[TxLogTable.appendWritten]]: every
  * [[open]] writes a HIDDEN file, `.part-<partition>-<uuid>-c000<ext>`
  * (Spark's file index skips a dot prefix), with one UUID per attempt, so
  * a retried task never collides with its failed attempt. A file becomes
  * visible only when the driver renames it (drops the dot) after the job.
  *
  * Built once per schema on the driver: the factory and the Hadoop conf
  * `prepareWrite` filled in travel in one broadcast, read once per
  * executor instead of shipped in every task's closure.
  */
final class DataFileWriter(spark: SparkSession, val schema: StructType) extends Serializable {

  private val shared: Broadcast[(OutputWriterFactory, SerializableConfiguration)] = {
    val job = Job.getInstance(shim.newHadoopConf(spark))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    spark.sparkContext.broadcast((factory, new SerializableConfiguration(job.getConfiguration)))
  }

  /** Opens a new hidden file in the directory `dir` (an absolute path) for
    * the calling task attempt, or for the driver outside any task.
    */
  def open(dir: String): DataFileWriter.Open = {
    val (factory, conf) = shared.value
    val tc = Option(TaskContext.get())
    val part = tc.map(_.partitionId).getOrElse(0)
    val ctx = new TaskAttemptContextImpl(conf.value, new TaskAttemptID(
      new TaskID(new JobID("graft", tc.map(_.stageId).getOrElse(0)), TaskType.MAP, part),
      tc.map(_.attemptNumber).getOrElse(0)))
    val name = f".part-$part%05d-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    new DataFileWriter.Open(factory.newInstance(s"$dir/$name", schema, ctx), name)
  }
}

object DataFileWriter {

  /** One open hidden file: [[write]] rows of the writer's schema, then
    * [[close]], which returns the file's hidden name.
    */
  final class Open private[DataFileWriter] (out: OutputWriter, val hidden: String) {
    def write(row: InternalRow): Unit = out.write(row)
    def close(): String = { out.close(); hidden }
  }

  /** The name a hidden file takes once committed. */
  def visible(hidden: String): String = hidden.stripPrefix(".")

  /** Makes the hidden file `hidden` in `dir` visible: one Hadoop
    * `FileSystem` rename (atomic on a local or HDFS path), which moves the
    * file's `.crc` sidecar too.
    */
  def publish(conf: Configuration, dir: String, hidden: String): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.rename(new Path(dir, hidden), new Path(dir, visible(hidden))))
      throw new java.io.IOException(s"could not publish $hidden in $dir")
  }

  /** Whether `name` is a data file this protocol left hidden (a checksum
    * sidecar of a visible file is not).
    */
  private[storage] def isHidden(name: String): Boolean =
    name.startsWith(".part-") && !name.endsWith(".crc")
}
