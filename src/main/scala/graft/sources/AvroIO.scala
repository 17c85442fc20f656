package graft.sources

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.AvroKeyInputFormat
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.NullWritable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Avro container-file source/sink built directly on the avro +
  * avro-mapred jars that ship inside the Spark distribution — the
  * `spark-avro` CONNECTOR is a separate artifact this environment
  * cannot resolve, but nothing about the format needs it:
  *
  *   - '''read''' rides `AvroKeyInputFormat` through
  *     `newAPIHadoopFile`, which splits container files at their SYNC
  *     MARKERS — scan parallelism scales with total bytes (one task
  *     per HDFS-block-sized split), not with file count, exactly the
  *     property that makes Avro a first-class 100 TB ingest format.
  *     Records convert to `Row`s INSIDE the same narrow map (the
  *     Hadoop record reader reuses its key object, so the datum must
  *     be consumed before the iterator advances — the conversion here
  *     copies every field out immediately, which also keeps raw
  *     `GenericRecord`s off Spark's serialization path).
  *   - '''write''' stages one container file per partition from the
  *     EXECUTORS through the Hadoop `FileSystem` API (cluster-honest:
  *     `file:` locally, `hdfs:`/`s3a:` URIs unchanged — not a
  *     driver-local temp-dir staging), with the writer schema derived
  *     from the DataFrame schema.
  *
  * Schema mapping (both directions): long/int/double/float/boolean/
  * string/binary map to their Avro primitives, `TimestampType` to
  * `long` with the `timestamp-micros` logical type (microsecond-exact
  * — the trap [[graft.queries.Relational.q43CsvRoundtrip]] documents
  * for CSV is structural here: Avro's encoding IS micros),
  * `DateType` to `int` with the `date` logical type (epoch days,
  * negative pre-1970), `DecimalType(p, s)` to `bytes` with the
  * `decimal` logical type (two's-complement unscaled value at the
  * schema's fixed scale), and
  * COMPOSITES recursively: arrays, string-keyed maps, and nested
  * structs to Avro arrays/maps/records (q66_avro_complex gates the
  * embeddings table — `array<float>` — riding this source), with
  * nullability as `union(null, T)` at every level. The RDD hop exists because
  * a file-format bridge is genuinely imperative per-partition work —
  * the narrow map carries no shuffle and the result lands back in a
  * DataFrame before any relational work starts.
  */
object AvroIO {

  /** Avro writer/reader schema for a Spark schema (records named for
    * the sink; field order preserved — position is the contract).
    * Complex types map to Avro's own composites, recursively:
    * `array<T>` → avro array, `map<string, T>` → avro map (Avro maps
    * are string-keyed by spec — other key types loud-fail), nested
    * `struct` → nested record (named by its path, so every record in
    * the file's schema has a unique full name), with nullability at
    * every level as `union(null, T)`.
    */
  def avroSchemaFor(st: StructType, name: String = "graft_record"): Schema = {
    val fields = SchemaBuilder.record(name).namespace("graft.avro").fields()
    st.fields.foldLeft(fields) { (fs, f) =>
      val base = avroTypeFor(f.dataType, s"${name}_${f.name}")
      if (f.nullable) {
        // union(null, T) with a null DEFAULT: the default is what lets
        // Avro's schema-resolution rules fill the field when a READER
        // schema contains it but an older writer schema does not — the
        // evolution path q65_avro_evolution gates
        val sch = Schema.createUnion(
          List(Schema.create(Schema.Type.NULL), base).asJava)
        fs.name(f.name).`type`(sch).withDefault(null)
      } else fs.name(f.name).`type`(base).noDefault()
    }.endRecord()
  }

  /** The recursive type walk under [[avroSchemaFor]]; `path` seeds
    * unique record names for nested structs.
    */
  private def avroTypeFor(dt: DataType, path: String): Schema = dt match {
    case LongType    => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case StringType  => Schema.create(Schema.Type.STRING)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      // Avro `date` logical type: days since the epoch as int —
      // negative for pre-1970, no time zone anywhere (structural, like
      // timestamp-micros above)
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case dt: DecimalType =>
      // Avro `decimal` logical type over bytes: two's-complement
      // unscaled value at the SCHEMA's fixed scale (the spec's
      // requirement — scale travels in the schema, not per value)
      LogicalTypes.decimal(dt.precision, dt.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      Schema.createArray(nullable(avroTypeFor(et, s"${path}_item"), containsNull))
    case MapType(StringType, vt, valueContainsNull) =>
      Schema.createMap(nullable(avroTypeFor(vt, s"${path}_value"), valueContainsNull))
    case MapType(kt, _, _) => throw new IllegalArgumentException(
      s"AvroIO: Avro maps are string-keyed by spec; map key type $kt at $path")
    case nested: StructType => avroSchemaFor(nested, path)
    case other => throw new IllegalArgumentException(
      s"AvroIO: unsupported type $other at $path")
  }

  private def nullable(s: Schema, isNullable: Boolean): Schema =
    if (isNullable)
      Schema.createUnion(List(Schema.create(Schema.Type.NULL), s).asJava)
    else s

  /** The non-null branch of a nullable union (the schema the VALUE
    * encodes under); pass-through for non-unions.
    */
  private def nonNullOf(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  /** Spark external value → Avro datum, driven by BOTH type systems so
    * composites recurse with the right element/value/field schemas
    * (the datum writer needs concrete `GenericRecord`s for nested
    * records and resolves unions itself).
    */
  private def toAvro(v: Any, dt: DataType, sch: Schema): Any = (v, dt) match {
    case (null, _) => null
    case (t: java.sql.Timestamp, _) =>
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    // with spark.sql.datetime.java8API.enabled=true Row.get hands back
    // java.time.Instant for TimestampType — same timestamp-micros
    // encoding (nanos already carry the sub-second part, [0, 1e9))
    case (i: java.time.Instant, _) =>
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case (d: java.sql.Date, _) => d.toLocalDate.toEpochDay.toInt
    // with spark.sql.datetime.java8API.enabled=true Row.get hands back
    // java.time.LocalDate for DateType — same epoch-days encoding
    case (d: java.time.LocalDate, _) => d.toEpochDay.toInt
    case (b: java.math.BigDecimal, dt: DecimalType) =>
      // setScale with no rounding mode is exact-or-throw: a value whose
      // scale disagrees with the column's declared scale fails LOUDLY
      // here instead of silently rescaling
      ByteBuffer.wrap(b.setScale(dt.scale).unscaledValue().toByteArray)
    case (b: Array[Byte], _) => ByteBuffer.wrap(b)
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      val es = nonNullOf(nonNullOf(sch).getElementType)
      val out = new java.util.ArrayList[Any](seq.size)
      seq.foreach(e => out.add(toAvro(e, et, es)))
      out
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      val vs = nonNullOf(nonNullOf(sch).getValueType)
      val out = new java.util.HashMap[String, Any](m.size * 2)
      m.foreach { case (k, mv) => out.put(k.toString, toAvro(mv, vt, vs)) }
      out
    case (r: Row, nested: StructType) =>
      val rs = nonNullOf(sch)
      val rec = new GenericData.Record(rs)
      var i = 0
      while (i < nested.length) {
        rec.put(i, toAvro(r.get(i), nested(i).dataType,
          rs.getFields.get(i).schema()))
        i += 1
      }
      rec
    // fail HERE with the runtime class, not deep inside Avro's union
    // writer: schema mapping already vetted the DataFrame types, so a
    // surprise can only be an external-type variant this bridge does
    // not handle yet (e.g. LocalDateTime for a TimestampNTZ column —
    // a type avroSchemaFor would have rejected anyway)
    case (d: java.time.temporal.Temporal, _) =>
      throw new IllegalArgumentException(
        s"AvroIO: unsupported runtime value type ${d.getClass.getName}")
    case (other, _) => other
  }

  private def fromAvro(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                     => null
    case (s: CharSequence, StringType) => s.toString
    case (m: java.lang.Long, TimestampType) =>
      val micros = m.longValue()
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
    case (i: java.lang.Integer, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case (bb: ByteBuffer, dt: DecimalType) =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a)
      new java.math.BigDecimal(new java.math.BigInteger(a), dt.scale)
    case (bb: ByteBuffer, BinaryType)  =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    // GenericData.Array implements java.util.Collection; elements
    // recurse (Utf8 strings, nested records, …)
    case (l: java.util.Collection[_], ArrayType(et, _)) =>
      l.asScala.map(fromAvro(_, et)).toSeq
    case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
      m.asScala.map { case (k, mv) => k.toString -> fromAvro(mv, vt) }.toMap
    case (r: GenericRecord, nested: StructType) =>
      Row.fromSeq(nested.fields.indices.map(i =>
        fromAvro(r.get(i), nested(i).dataType)))
    case (other, _)                    => other
  }

  /** Container-file compression codec for [[write]]: `"null"` (no
    * compression), `"deflate"` (JDK zlib — always available), or
    * `"snappy"` (snappy-java, shipped with Spark). Avro compresses
    * PER BLOCK inside the container, so sync-marker splitting — the
    * property that keeps reads parallel at 100 TB — survives
    * compression untouched (unlike whole-file gzip on text formats,
    * which kills splittability). Readers auto-detect the codec from
    * the block metadata; no read-side option exists or is needed.
    */
  private def codecFor(codec: String): Option[org.apache.avro.file.CodecFactory] =
    codec match {
      case "null"    => None
      case "deflate" => Some(org.apache.avro.file.CodecFactory.deflateCodec(6))
      case "snappy"  => Some(org.apache.avro.file.CodecFactory.snappyCodec())
      case other => throw new IllegalArgumentException(
        s"AvroIO: unsupported codec '$other' (null | deflate | snappy)")
    }

  /** Write `df` as Avro container files under `dir` (one file per
    * non-empty partition), replacing any prior content. File size is
    * governed the same way as parquet sinks — by the partitioning of
    * the incoming frame; the read side does not care (sync-marker
    * splits decouple scan parallelism from file layout). `codec`
    * selects per-block compression ([[codecFor]]).
    *
    * Commit discipline: each task writes an attempt-unique dot-temp
    * and renames it to its final `part-NNNNN.avro` name only after a
    * clean close, so failed or speculative attempts never surface as
    * readable data files (the rename-on-success contract every Hadoop
    * output committer provides; first attempt to rename wins).
    */
  def write(df: DataFrame, dir: String, codec: String = "null"): Unit = {
    codecFor(codec) // vet the name on the DRIVER, before any task runs
    val schemaJson = avroSchemaFor(df.schema).toString
    val sparkSchema = df.schema
    val confSer = new SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(confSer.value)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val schema = new Schema.Parser().parse(schemaJson)
        val tc = TaskContext.get()
        val pid = tc.partitionId()
        // task-commit protocol: write to an attempt-unique DOT-file
        // (invisible to the read glob and to Hadoop input listings),
        // rename to the final name only on a complete, closed
        // container. A speculative duplicate or a task that dies
        // mid-write can therefore never leave a half-written file
        // where a later read would treat it as data; on a rename race
        // the first committer wins and the loser discards its temp.
        val tmp = new Path(dir, f".part-$pid%05d-${tc.taskAttemptId()}.avro.tmp")
        val dst = new Path(dir, f"part-$pid%05d.avro")
        val taskFs = tmp.getFileSystem(confSer.value)
        val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        codecFor(codec).foreach(writer.setCodec)
        var committed = false
        try {
          writer.create(schema, taskFs.create(tmp, true))
          it.foreach { row =>
            val rec = new GenericData.Record(schema)
            var i = 0
            while (i < sparkSchema.length) {
              rec.put(i, toAvro(row.get(i), sparkSchema(i).dataType,
                schema.getFields.get(i).schema()))
              i += 1
            }
            writer.append(rec)
          }
          writer.close()
          committed = taskFs.rename(tmp, dst)
          // a false rename is only benign when it means "lost the
          // commit race" — i.e. dst already exists from a sibling
          // attempt. Any other false (transient FS error, missing
          // parent) with no dst would silently drop this partition's
          // data while the task reports success; fail the task so
          // Spark retries it instead.
          if (!committed && !taskFs.exists(dst)) {
            throw new java.io.IOException(
              s"AvroIO: rename($tmp -> $dst) failed and $dst does not exist")
          }
        } finally {
          if (!committed) {
            try writer.close() catch { case _: Throwable => }
            taskFs.delete(tmp, false)
          }
        }
      }
    }
    // an all-empty frame wrote no files; stage one schema-only
    // container so the layout stays readable (an empty glob would
    // otherwise fail the read — same contract as parquet's empty
    // part file)
    if (fs.globStatus(new Path(dirPath, "*.avro")).isEmpty) {
      val schema = new Schema.Parser().parse(schemaJson)
      val out = fs.create(new Path(dirPath, "part-empty.avro"), true)
      val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      try writer.create(schema, out) finally writer.close()
    }
  }

  /** Column-pruned read: resolves only `columns` out of files whose
    * writer schema is (a superset of) `full`. This is what projection
    * pushdown means for a row format: Avro's schema resolution matches
    * reader fields to writer fields BY NAME and drives every
    * writer-only field through the decoder's skip path — lengths are
    * read, payload bytes are stepped over, and no Java object is ever
    * materialized for an unprojected column. Bytes still stream off
    * disk (rows are contiguous — the structural gap vs columnar
    * formats), but decode cost and row width now track the projection,
    * which is most of a projection-light aggregate's Avro tax (the
    * round-9 formats study measured the unpruned read at 1.5× parquet
    * on a 4-of-6-column aggregate; the `formats` study's avro leg now
    * reads through this path).
    */
  def read(s: SparkSession, dir: String, full: StructType,
      columns: Seq[String]): DataFrame = {
    val missing = columns.filterNot(c => full.fieldNames.contains(c))
    require(missing.isEmpty, s"AvroIO: projected columns $missing not in schema")
    read(s, dir, StructType(columns.map(full(_))))
  }

  /** Read the Avro files under `dir` into a DataFrame with the given
    * schema (schema-on-read, never inference — one pass at 100 TB).
    * The reader schema is pinned via `avro.schema.input.key`, so files
    * written with a COMPATIBLE older schema resolve per Avro's
    * evolution rules rather than failing.
    */
  def read(s: SparkSession, dir: String, schema: StructType): DataFrame = {
    val conf = new Configuration(s.sparkContext.hadoopConfiguration)
    conf.set("avro.schema.input.key", avroSchemaFor(schema).toString)
    val types = schema.fields.map(_.dataType)
    val rows = s.sparkContext.newAPIHadoopFile(
        new Path(dir, "*.avro").toString,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable],
        conf)
      .map { case (k, _) =>
        val datum = k.datum()
        val vals = new Array[Any](types.length)
        var i = 0
        while (i < types.length) {
          vals(i) = fromAvro(datum.get(i), types(i))
          i += 1
        }
        Row.fromSeq(vals.toIndexedSeq)
      }
    s.createDataFrame(rows, schema)
  }
}
