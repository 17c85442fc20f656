package graft.sources

import java.io.{BufferedOutputStream, InputStream}
import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.util.LineReader
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The word-count job's two I/O ends, the reference's reader threads and
  * per-reducer output files (`mpi_mapreduce.c:85-106,278-289`), without
  * Spark's generic file-format path around them: [[read]] gives
  * `spark.read.text`'s lines and [[write]] `write.text`'s files.
  *
  * Both ends share one broadcast Hadoop conf per session conf
  * ([[sharedConf]]). On a `file:` output the sink's job sets modes through
  * java.nio ([[NioLocalFileSystem]]), so a pass starts no `chmod` process
  * where libhadoop is absent; the files and their modes stay
  * `write.text`'s.
  */
object Lines {

  /** Bytes a range reads at a time. */
  private[graft] val BufferSize: Int = 64 << 10

  /** A byte range `[start, end)` of one file. A compressed file is one
    * range over its whole compressed length, read through its codec.
    */
  final case class Range(path: String, start: Long, end: Long, codec: Boolean) {
    def length: Long = end - start
  }

  /** One `value` line column, as `spark.read.text` gives. */
  val schema: StructType = new StructType().add("value", StringType)

  /** The lines of `paths`, as `spark.read.text` reads them. A path is a
    * file, a directory (its files, skipping `_`/`.` names and
    * subdirectories) or a glob; one that matches nothing fails here with
    * `PATH_NOT_FOUND`. A line ends at an LF, a CRLF or a lone CR; a BOM at
    * byte 0 of a file is dropped; every other byte passes through, invalid
    * UTF-8 included.
    *
    * One listing per call and one broadcast configuration per session
    * conf ([[sharedConf]]); files are cut into byte ranges packed by size
    * ([[pack]]), so many small files run as one wave. Each task adds its
    * ranges' bytes and lines to its input metrics.
    */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val (conf, shared) = sharedConf(spark)
    val codecs = new CompressionCodecFactory(conf)
    val files = paths.flatMap(list(conf, _)).map(st =>
      Range(st.getPath.toString, 0L, st.getLen, codecs.getCodec(st.getPath) != null))
    val sc = spark.sparkContext
    val parts = pack(files, Bridge.maxPartitionBytes(spark), sc.defaultParallelism)
    Bridge.createDataFrame(spark, new LinesRDD(sc, parts, shared.conf), schema)
  }

  /** One broadcast of a session's Hadoop conf, with its entries. */
  private[graft] final class SharedConf(val sc: SparkContext, val entries: Map[String, String],
      val conf: Broadcast[SerializableConfiguration])

  private var shared: SharedConf = _

  private[graft] def entries(conf: Configuration): Map[String, String] =
    conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** A fresh copy of the session's Hadoop conf, and the broadcast that
    * both ends share: one slot, broadcast again when the SparkContext or
    * the conf's entries change. Replaced broadcasts are left to the
    * ContextCleaner, since a frame read earlier may still use one.
    */
  private[graft] def sharedConf(spark: SparkSession): (Configuration, SharedConf) = {
    val conf = Bridge.hadoopConf(spark)
    val now = entries(conf)
    val sc = spark.sparkContext
    synchronized {
      if (shared == null || (shared.sc ne sc) || shared.entries != now)
        shared = new SharedConf(sc, now, sc.broadcast(new SerializableConfiguration(conf)))
      (conf, shared)
    }
  }

  private def list(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(fs.makeQualified(p))).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty) throw Bridge.pathNotFound(fs.makeQualified(p).toString)
    matched.toSeq.flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filter(st => st.isFile && !Bridge.hiddenName(st.getPath.getName))
  }

  /** Cut `files` (whole-file ranges) into ranges of at most
    * min(`maxPartitionBytes`, ⌈total / `parallelism`⌉) bytes, compressed
    * files whole, and pack them largest first into the least-loaded of
    * max(`parallelism`, ⌈total / `maxPartitionBytes`⌉) partitions. Empty
    * files and partitions are dropped; a partition reads in file order.
    */
  private[graft] def pack(files: Seq[Range], maxPartitionBytes: Long,
      parallelism: Int): Array[Array[Range]] = {
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val total = files.map(_.length).sum
    val cap = math.max(1L, math.min(maxPartitionBytes, ceilDiv(total, parallelism)))
    val ranges = files.filter(_.length > 0).flatMap { f =>
      if (f.codec) Seq(f)
      else (0L until f.end by cap).map(s => f.copy(start = s, end = math.min(s + cap, f.end)))
    }
    val n = math.max(parallelism.toLong, ceilDiv(total, maxPartitionBytes)).toInt
    val bins = Array.fill(n)(Vector.empty[Range])
    val load = new Array[Long](n)
    val byLoad = scala.collection.mutable.PriorityQueue.tabulate(n)(identity)(
      Ordering.by((i: Int) => (load(i), i)).reverse)
    ranges.sortBy(-_.length).foreach { r =>
      val i = byLoad.dequeue()
      bins(i) :+= r
      load(i) += r.length
      byLoad.enqueue(i)
    }
    bins.filter(_.nonEmpty).map(_.sortBy(r => (r.path, r.start)).toArray)
  }

  /** Overwrite `outDir` with `lines`' one string column, each row's raw
    * bytes then `\n` (a null row writes an empty line). As
    * `InsertIntoHadoopFsRelationCommand` does, it runs the session's
    * `spark.sql.sources.commitProtocolClass`, inside one SQL execution,
    * writes a part file for partition 0 and every non-empty partition
    * and, when a task fails, aborts the job and rethrows. The driver and
    * every task run on one job conf ([[setupJob]]), so on `file:` no file
    * or directory it creates starts a `chmod` process.
    */
  def write(lines: DataFrame, outDir: String): Unit = {
    val spark = lines.sparkSession
    val sc = spark.sparkContext
    val sink = setupJob(spark, outDir)
    // the task closure takes these, not the driver-only `Job`
    val (committer, base, extra) = (sink.committer, sink.base, sink.extra)
    try {
      val tracker = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
      val commits = Bridge.withNewExecution(lines, "save") { rows =>
        val data = if (rows.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rows
        val msgs = new Array[FileCommitProtocol.TaskCommitMessage](data.partitions.length)
        sc.runJob(data,
          (ctx: TaskContext, it: Iterator[InternalRow]) => writeTask(ctx, it, committer, base, extra, tracker),
          data.partitions.indices,
          (i: Int, m: FileCommitProtocol.TaskCommitMessage) => { committer.onTaskCommit(m); msgs(i) = m })
        msgs.toSeq
      }
      committer.commitJob(sink.job, commits)
    } catch {
      case t: Throwable =>
        committer.abortJob(sink.job)
        throw t
    }
  }

  /** A sink job after `setupJob`: a task's conf is `base`'s with `extra`
    * set, then the task's ids ([[taskConf]]).
    */
  private[graft] final case class SinkJob(job: Job, committer: FileCommitProtocol,
      base: Broadcast[SerializableConfiguration], extra: Map[String, String])

  /** Delete `outDir` and set up the commit protocol's job on it. The
    * job's conf is the session's, with the output format's entries and,
    * when the output is on `file:`, that scheme mapped to an uncached
    * [[NioLocalFileSystem]]; the session's own `FileSystem` instance and
    * every other writer keep Hadoop's. `extra` holds the entries the
    * job's conf adds to or changes in [[sharedConf]]'s; it removes none.
    */
  private[graft] def setupJob(spark: SparkSession, outDir: String): SinkJob = {
    val (conf, shared) = sharedConf(spark)
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val qualified = fs.makeQualified(out)
    if (fs.exists(qualified)) fs.delete(qualified, true)
    val job = Job.getInstance(conf)
    val jobConf = job.getConfiguration
    if (qualified.toUri.getScheme == "file") {
      jobConf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      jobConf.setBoolean("fs.file.impl.disable.cache", true)
    }
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, qualified)
    val committer = FileCommitProtocol.instantiate(Bridge.commitProtocolClass(spark),
      UUID.randomUUID().toString, qualified.toString, dynamicPartitionOverwrite = false)
    committer.setupJob(job)
    val extra = entries(jobConf).filter { case (k, v) => !shared.entries.get(k).contains(v) }
    SinkJob(job, committer, shared.conf, extra)
  }

  /** The conf of sink task `attempt`: the job's, with the five per-task
    * ids that `HadoopMapReduceCommitProtocol` sets.
    */
  private[graft] def taskConf(base: Broadcast[SerializableConfiguration], extra: Map[String, String],
      attempt: TaskAttemptID): JobConf = {
    val conf = new JobConf(base.value.value)
    extra.foreach { case (k, v) => conf.set(k, v) }
    conf.set("mapreduce.job.id", attempt.getJobID.toString)
    conf.set("mapreduce.task.id", attempt.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attempt.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    conf
  }

  private def writeTask(ctx: TaskContext, rows: Iterator[InternalRow], committer: FileCommitProtocol,
      base: Broadcast[SerializableConfiguration], extra: Map[String, String],
      tracker: String): FileCommitProtocol.TaskCommitMessage = {
    val attempt = new TaskAttemptID(new TaskID(new JobID(tracker, ctx.stageId()), TaskType.MAP,
      ctx.partitionId()), ctx.taskAttemptId().toInt & Int.MaxValue)
    val conf = taskConf(base, extra, attempt)
    val task = new TaskAttemptContextImpl(conf, attempt)
    committer.setupTask(task)
    try {
      var bytes, records = 0L
      if (ctx.partitionId() == 0 || rows.hasNext) {
        val file = new Path(committer.newTaskTempFile(task, None, FileNameSpec("", "-c000.txt")))
        val os = new BufferedOutputStream(file.getFileSystem(conf).create(file, false), BufferSize)
        try rows.foreach { row =>
          if (!row.isNullAt(0)) {
            val s = row.getUTF8String(0)
            s.writeTo(os)
            bytes += s.numBytes
          }
          os.write('\n')
          bytes += 1
          records += 1
        } finally os.close()
      }
      Bridge.setOutputMetrics(ctx, bytes, records)
      committer.commitTask(task)
    } catch {
      case t: Throwable =>
        committer.abortTask(task)
        throw t
    }
  }
}

private final case class LinesPartition(index: Int, ranges: Array[Lines.Range]) extends Partition

/** A task per partition, reading its ranges in turn. Its row is reused and
  * the row's string points into the reader's line buffer until the next row.
  */
private[graft] final class LinesRDD(sc: SparkContext, parts: Array[Array[Lines.Range]],
    val hadoopConf: Broadcast[SerializableConfiguration]) extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](parts.length)(i => LinesPartition(i, parts(i)))

  override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val hadoop = hadoopConf.value.value
    val row = new GenericInternalRow(1)
    split.asInstanceOf[LinesPartition].ranges.iterator.flatMap { r =>
      val path = new Path(r.path)
      val raw = path.getFileSystem(hadoop).open(path)
      val in: InputStream =
        if (r.codec) new CompressionCodecFactory(hadoop).getCodec(path).createInputStream(raw)
        else { if (r.start > 0) raw.seek(r.start - 1); raw }
      ctx.addTaskCompletionListener[Unit](_ => in.close())
      val lines = if (r.codec) new RangeLines(in, 0L, Long.MaxValue) else new RangeLines(in, r.start, r.end)
      var n = 0L
      Iterator.continually(lines.next()).takeWhile { more =>
        if (!more) {
          Bridge.addInputMetrics(ctx, r.length, n)
          in.close()
        }
        more
      }.map { _ =>
        n += 1
        row.update(0, UTF8String.fromBytes(lines.line.getBytes, lines.off, lines.line.getLength - lines.off))
        row
      }
    }
  }
}

/** The lines a byte range `[start, end)` of one file owns, split by
  * Hadoop's `LineReader` (the built-in text source's: LF, CRLF or a lone
  * CR ends a line). `in` is positioned at max(`start` − 1, 0). A range
  * owns each line that starts inside it, reading past `end` to finish its
  * last one: one that starts after byte 0 first skips through the break
  * ending the line that holds byte `start` − 1. A BOM opening the line at
  * byte 0 is dropped. Every `readLine` consumes at least one byte or
  * reports the end, so a read ends on any input.
  */
private[graft] final class RangeLines(in: InputStream, start: Long, end: Long,
    bufferSize: Int = Lines.BufferSize) {
  private val reader = new LineReader(in, bufferSize)
  /** The current line is `line.getBytes` from `off` to `line.getLength`. */
  val line = new Text
  var off = 0
  private var pos = if (start > 0) start - 1 + reader.readLine(line) else 0L

  /** Advance to the next line the range owns; false when there is none. */
  def next(): Boolean = {
    if (pos >= end) return false
    val at = pos
    val n = reader.readLine(line)
    pos = if (n == 0) end else pos + n
    val b = line.getBytes
    off = if (at == 0 && line.getLength >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte &&
      b(2) == 0xBF.toByte) 3 else 0
    n > 0
  }
}
