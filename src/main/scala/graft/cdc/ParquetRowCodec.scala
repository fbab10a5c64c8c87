package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.io.api.{
  Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Scalar parquet ⇄ InternalRow codec for the DSv2 streaming surface —
  * built on parquet-hadoop's PUBLIC example Group API (no
  * `org.apache.spark.sql.execution.*`):
  *
  *  - the `graft-changelog` PartitionReaders read the lake's own data
  *    files (column-projected via a requested-schema pushdown, so a
  *    before-side key probe reads only (url, _lsn));
  *  - the `graft-lake` StreamingWrite DataWriters stage micro-batch rows
  *    as parquet the driver-side merge then reads back vectorized.
  *
  * Scope is the lake's column universe: scalar types only (the web-pages
  * shape plus anything ALTER TABLE can mint — add-column / widen-type
  * registry rules keep it scalar). Nested/array/map columns raise a
  * clear error rather than corrupting silently. Widening (INT32 file →
  * LONG/DOUBLE declared, FLOAT → DOUBLE) follows the schema registry;
  * timestamps handle INT64 MICROS/MILLIS/NANOS and legacy INT96
  * (stats-less pre-pin files) transparently.
  */
private[graft] object ParquetRowCodec {

  /** The driver session's FULL effective hadoopConfiguration as plain
    * pairs, for executor-side readers/writers to rebuild — a bare
    * `new Configuration()` on the executor drops what Spark injected
    * (`spark.hadoop.*`: FS impls, credentials) AND, in client mode,
    * whatever only the driver's HADOOP_CONF_DIR site XMLs carry
    * (review r5, twice: a driver-relative delta was still wrong when
    * executor containers lack the driver's XMLs). Every key the driver
    * resolves is shipped, classpath defaults included, with values read
    * expanded via get(). This is Spark's own SerializableConfiguration
    * contract re-expressed without the private[spark] class; the factory
    * holding it serializes once per stage (task binaries are broadcast),
    * so the ~tens-of-KB payload is per-stage, not per-task.
    */
  def hadoopConfDelta(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, String)] = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.asScala.flatMap(e => Option(hc.get(e.getKey)).map(e.getKey -> _))
      .toSeq
  }

  /** Executor side: the driver's full effective conf, rebuilt WITHOUT
    * classpath defaults — `new Configuration(false)`. The pairs already
    * hold every default the driver loaded, so re-parsing core-default.xml
    * and core-site.xml here would only re-derive them, at a cost that
    * dwarfs the bucket read itself.
    */
  def confFrom(delta: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    delta.foreach { case (k, v) => c.set(k, v) }
    c
  }

  // ---------- read side ----------

  /** Column-projecting DIRECT-to-row read support (round-6): materializes
    * each record straight into an `Array[Any]` laid out by the caller's
    * `target` StructType — no intermediate `SimpleGroup` (whose per-field
    * ArrayLists and boxing made the original Group path ~3× slower than
    * Spark's vectorized reader on narrow columns; measured via MorBench's
    * local-vs-agg A/B). Field mapping is by NAME against the file's own
    * schema: fields the file lacks stay null (schema-evolution
    * null-backfill), present fields widen per the registry rules, and
    * only `target`'s fields are requested from the column store (the
    * reader-side analog of Catalyst column pruning). Dictionary-encoded
    * binary/string columns convert each dictionary entry ONCE and reuse
    * it per row.
    */
  final class RowReadSupport(target: StructType)
      extends ReadSupport[Array[Any]] {
    private val wanted: Set[String] = target.fieldNames.toSet
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val fs = context.getFileSchema
      val kept = fs.getFields.asScala.filter(f => wanted.contains(f.getName))
      new ReadSupport.ReadContext(new MessageType(fs.getName, kept.asJava))
    }
    override def prepareForRead(conf: Configuration,
        meta: java.util.Map[String, String], fileSchema: MessageType,
        ctx: ReadSupport.ReadContext): RecordMaterializer[Array[Any]] =
      new RowMaterializer(ctx.getRequestedSchema, target)
  }

  private final class RowMaterializer(requested: MessageType,
      target: StructType) extends RecordMaterializer[Array[Any]] {
    private val root = new RowGroupConverter(requested, target)
    override def getCurrentRecord: Array[Any] = root.current
    override def getRootConverter: GroupConverter = root
  }

  private final class RowGroupConverter(requested: MessageType,
      target: StructType) extends GroupConverter {
    var current: Array[Any] = _
    private val fields: Array[Converter] =
      requested.getFields.asScala.map { f =>
        fieldConverter(this, target.fieldIndex(f.getName),
          target(f.getName).dataType, f)
      }.toArray
    override def getConverter(i: Int): Converter = fields(i)
    // a FRESH array per record: consumers buffer rows (layer-resolve
    // maps, before-side key sets), so the holder must never be recycled
    override def start(): Unit = { current = new Array[Any](target.length) }
    override def end(): Unit = ()
  }

  private def fieldConverter(row: RowGroupConverter, ti: Int,
      target: DataType, f: Type): Converter = {
    require(f.isPrimitive, s"ParquetRowCodec: non-scalar column " +
      s"'${f.getName}' ($f) is outside the lake's streaming column universe")
    val prim = f.asPrimitiveType.getPrimitiveTypeName
    def unsupported = throw new UnsupportedOperationException(
      s"ParquetRowCodec: cannot read parquet $prim as Spark $target " +
        s"for column '${f.getName}'")
    // binary/string converters opt into dictionary decoding: each
    // dictionary entry converts once, rows then reuse the object
    abstract class DictConverter extends PrimitiveConverter {
      protected var dict: Array[AnyRef] = _
      protected def convertEntry(b: Binary): AnyRef
      override def hasDictionarySupport: Boolean = true
      override def setDictionary(
          d: org.apache.parquet.column.Dictionary): Unit = {
        dict = new Array[AnyRef](d.getMaxId + 1)
        var i = 0
        while (i < dict.length) { dict(i) = convertEntry(d.decodeToBinary(i)); i += 1 }
      }
      override def addValueFromDictionary(id: Int): Unit =
        row.current(ti) = dict(id)
    }
    (target, prim) match {
      case (StringType, PrimitiveTypeName.BINARY) =>
        new DictConverter {
          override protected def convertEntry(b: Binary): AnyRef =
            UTF8String.fromBytes(b.getBytes)
          override def addBinary(b: Binary): Unit =
            row.current(ti) = UTF8String.fromBytes(b.getBytes)
        }
      case (BinaryType, PrimitiveTypeName.BINARY |
          PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY) =>
        new DictConverter {
          override protected def convertEntry(b: Binary): AnyRef = b.getBytes
          override def addBinary(b: Binary): Unit =
            row.current(ti) = b.getBytes
        }
      case (LongType, PrimitiveTypeName.INT64) =>
        new PrimitiveConverter {
          override def addLong(v: Long): Unit = row.current(ti) = v
        }
      case (LongType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toLong
        }
      case (IntegerType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v
        }
      case (ShortType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toShort
        }
      case (ByteType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toByte
        }
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        new PrimitiveConverter {
          override def addDouble(v: Double): Unit = row.current(ti) = v
        }
      case (DoubleType, PrimitiveTypeName.FLOAT) =>
        new PrimitiveConverter {
          override def addFloat(v: Float): Unit = row.current(ti) = v.toDouble
        }
      case (DoubleType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toDouble
        }
      case (DoubleType, PrimitiveTypeName.INT64) =>
        new PrimitiveConverter {
          override def addLong(v: Long): Unit = row.current(ti) = v.toDouble
        }
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        new PrimitiveConverter {
          override def addFloat(v: Float): Unit = row.current(ti) = v
        }
      case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
        new PrimitiveConverter {
          override def addBoolean(v: Boolean): Unit = row.current(ti) = v
        }
      case (DateType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v
        }
      case (TimestampType, PrimitiveTypeName.INT64) =>
        val toMicros: Long => Long =
          f.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit match {
              case TimeUnit.MILLIS => _ * 1000L
              case TimeUnit.MICROS => identity
              case TimeUnit.NANOS => _ / 1000L
            }
            case _ => identity // our own writes are always annotated MICROS
          }
        new PrimitiveConverter {
          override def addLong(v: Long): Unit = row.current(ti) = toMicros(v)
        }
      case (TimestampType, PrimitiveTypeName.INT96) =>
        // legacy Spark INT96: 8 bytes nanos-of-day LE + 4 bytes julian day
        new PrimitiveConverter {
          private def micros(b: Binary): Long = {
            val buf = java.nio.ByteBuffer.wrap(b.getBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
          }
          override def addBinary(b: Binary): Unit =
            row.current(ti) = micros(b)
        }
      case _ => unsupported
    }
  }

  /** Opens `path` over `conf` as given. Not `ParquetReader.builder(rs,
    * Path)`: that entry point builds (and reads options from) a fresh
    * `new Configuration()` before `withConf` replaces it, re-parsing the
    * Hadoop XML defaults on every file — far slower than reading a
    * bucket-sized file. The `InputFile` builder takes its conf and
    * options from the `HadoopInputFile` alone.
    */
  def openReader(path: String, target: StructType,
      conf: Configuration): ParquetReader[Array[Any]] =
    new ParquetReader.Builder[Array[Any]](
        HadoopInputFile.fromPath(new Path(path), conf)) {
      override protected def getReadSupport: ReadSupport[Array[Any]] =
        new RowReadSupport(target)
    }.build()

  /** Row count + warc_ts [min, max] (epoch micros) from the parquet
    * footer — metadata only, no data scan. The ts zone map feeds
    * [[graft.lake.GraftFileIndex]] scan pruning; it is None unless EVERY
    * row group has INT64 min/max stats (Spark's default INT96 timestamps
    * carry none — Merge.applyBatch pins the writer to TIMESTAMP_MICROS),
    * so a partial-stats file is kept, never mis-pruned. Options come from
    * `conf` via `HadoopReadOptions`: `ParquetFileReader.open(InputFile)`
    * would build its default options over a fresh `new Configuration()`,
    * re-parsing the XML defaults for every file a commit writes.
    */
  def footerMeta(path: Path, conf: Configuration)
      : (Long, Option[(Long, Long)]) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())
    try {
      val ranges = r.getFooter.getBlocks.asScala.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "warc_ts")
          .filter(_.getPrimitiveType.getPrimitiveTypeName ==
            PrimitiveTypeName.INT64)
          .map(_.getStatistics)
          .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
          .map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
      }
      val ts =
        if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
        else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
      (r.getRecordCount, ts)
    } finally r.close()
  }

  // ---------- write side (sink staging) ----------

  def messageTypeFor(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t: Type = f.dataType match {
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType =>
          Types.optional(PrimitiveTypeName.BINARY).named(f.name)
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType =>
          Types.optional(PrimitiveTypeName.INT32).named(f.name)
        case ShortType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(16, true)).named(f.name)
        case ByteType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(8, true)).named(f.name)
        case DoubleType =>
          Types.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case FloatType => Types.optional(PrimitiveTypeName.FLOAT).named(f.name)
        case BooleanType =>
          Types.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case TimestampType => Types.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
          .named(f.name)
        case DateType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case other => throw new UnsupportedOperationException(
          s"ParquetRowCodec: cannot stage Spark $other column '${f.name}' " +
            "(scalar lake columns only)")
      }
      b.addField(t)
    }
    b.named("graft_stage")
  }

  def openWriter(path: String, mt: MessageType,
      conf: Configuration): ParquetWriter[Group] =
    ExampleParquetWriter.builder(new Path(path))
      .withConf(conf).withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  /** One InternalRow → Group. Binary payloads go in as REUSED arrays so
    * parquet copies them immediately — the incoming row's buffers are
    * recycled by Spark after write() returns.
    */
  def toGroup(row: InternalRow, schema: StructType, mt: MessageType): Group = {
    val g = new SimpleGroup(mt)
    var i = 0
    while (i < schema.fields.length) {
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case StringType =>
          g.add(i, Binary.fromReusedByteArray(row.getUTF8String(i).getBytes))
        case BinaryType =>
          g.add(i, Binary.fromReusedByteArray(row.getBinary(i)))
        case LongType | TimestampType => g.add(i, row.getLong(i))
        case IntegerType | DateType => g.add(i, row.getInt(i))
        case ShortType => g.add(i, row.getShort(i).toInt)
        case ByteType => g.add(i, row.getByte(i).toInt)
        case DoubleType => g.add(i, row.getDouble(i))
        case FloatType => g.add(i, row.getFloat(i))
        case BooleanType => g.add(i, row.getBoolean(i))
        case other => throw new UnsupportedOperationException(
          s"ParquetRowCodec: cannot stage Spark $other")
      }
      i += 1
    }
    g
  }
}
