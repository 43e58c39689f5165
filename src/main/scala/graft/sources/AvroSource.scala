package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableFileInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro source-format support (q142): the remaining mainstream
  * interchange format a training-data pipeline meets (Kafka ecosystems,
  * schema-registry contracts). The engine's canonical format stays
  * parquet; this adapter proves the full fidelity loop
  * parquet → Avro container files → typed read-back.
  *
  * The Spark distribution in this environment ships the CORE Avro
  * library (`avro-1.12.x`, used internally for shuffle/`spark-core`
  * serialization) but not the `spark-avro` datasource module, so the
  * adapter binds the public Avro Java API directly — which also makes
  * the round-trip's fidelity obligations explicit instead of delegated:
  *
  *   - schema translation is EXPLICIT (Spark `StructType` → Avro record
  *     schema with nullable unions), never inferred from data;
  *   - timestamps map to the `timestamp-micros` logical type (long
  *     micros since epoch — Spark's own internal representation, so the
  *     round-trip is bit-exact with no format-string parsing at all,
  *     unlike the CSV/XML legs);
  *   - doubles/longs are native Avro primitives — binary encoding, no
  *     decimal-string representation loss;
  *   - the WRITE is distributed: `foreachPartition` streams each
  *     partition to its own container file (Avro container files are
  *     single-writer; file-per-partition is the shape that composes on a
  *     cluster, the `DuckDbLive.appendPartitioned` posture), with the
  *     deflate codec a real export would use;
  *   - the READ is distributed: the file list parallelizes and each task
  *     streams its file through `DataFileReader` — Avro containers are
  *     block-compressed and sync-marked; a production-scale reader would
  *     additionally split WITHIN files on sync markers, which the
  *     file-per-partition layout already bounds at one partition's rows.
  */
object AvroSource {

  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Spark → Avro schema translation for the flat scalar schemas the
    * TPC-H-ish tables use. Every field is a nullable union — Avro's
    * idiom for Spark's default nullability.
    */
  def avroSchemaFor(schema: StructType, name: String): Schema = {
    val fields = schema.fields.map { f =>
      val base = f.dataType match {
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case TimestampType =>
          val s = Schema.create(Schema.Type.LONG)
          org.apache.avro.LogicalTypes.timestampMicros().addToSchema(s)
        case TimestampNTZType =>
          val s = Schema.create(Schema.Type.LONG)
          org.apache.avro.LogicalTypes.localTimestampMicros().addToSchema(s)
        case DateType =>
          val s = Schema.create(Schema.Type.INT)
          org.apache.avro.LogicalTypes.date().addToSchema(s)
        case other => sys.error(s"avroSchemaFor: unsupported type $other for ${f.name}")
      }
      new Schema.Field(
        f.name,
        Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), base)),
        null,
        Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(name, null, "graft", false, fields.toList.asJava)
  }

  /** Spark value → Avro generic value for one field. Timestamps carry as
    * epoch MICROS (`timestamp-micros`), dates as epoch days — both are
    * Spark's internal representations, so no precision is shed.
    */
  private def toAvro(v: Any): AnyRef = v match {
    case null                   => null
    case t: java.sql.Timestamp  =>
      java.lang.Long.valueOf(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case ldt: java.time.LocalDateTime => // TimestampNTZ: micros since 1970-01-01T00:00
      java.lang.Long.valueOf(
        ldt.toLocalDate.toEpochDay * 86400000000L + ldt.toLocalTime.toNanoOfDay / 1000L)
    case d: java.sql.Date       =>
      java.lang.Integer.valueOf(d.toLocalDate.toEpochDay.toInt)
    case b: Array[Byte]         => java.nio.ByteBuffer.wrap(b)
    case s: String              => s
    case x                      => x.asInstanceOf[AnyRef]
  }

  /** Avro generic value → Spark row value for one field. */
  private def fromAvro(v: AnyRef, dt: DataType): Any = (v, dt) match {
    case (null, _)                      => null
    case (l: java.lang.Long, TimestampType) =>
      val micros = l.longValue()
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    case (l: java.lang.Long, TimestampNTZType) =>
      val micros = l.longValue()
      java.time.LocalDateTime.of(
        java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, 86400000000L)),
        java.time.LocalTime.ofNanoOfDay(Math.floorMod(micros, 86400000000L) * 1000L))
    case (i: java.lang.Integer, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: java.lang.CharSequence, StringType)    => s.toString
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case (x, _) => x
  }

  /** Stage `orders` as deflate-compressed Avro container files, one per
    * input partition, executor-side — once per (JVM, source dir), the
    * CsvSource/XmlSource staging pattern.
    */
  def stageOrdersAvro(spark: SparkSession, dir: String): String =
    stageCache.computeIfAbsent(
      dir,
      d => {
        val out = graft.ops.Scratch.scratchDir("graft_q142_")
        val orders = graft.ops.Tables.orders(spark, d)
        writeAvro(orders, s"$out/orders_avro")
        s"$out/orders_avro"
      }
    )

  /** Distributed Avro write: each partition streams to its own container
    * file. The Avro schema travels as its canonical JSON string (Schema
    * itself is not serializable-stable across Avro versions).
    */
  def writeAvro(df: DataFrame, path: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val sparkSchema = df.schema
    val avroJson = avroSchemaFor(sparkSchema, "orders").toString
    df.rdd.foreachPartition { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val schema = new Schema.Parser().parse(avroJson)
      val writer =
        new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(3))
      val file = new java.io.File(f"$path%s/part-$pid%05d.avro")
      writer.create(schema, file)
      try
        it.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < sparkSchema.length) {
            rec.put(i, toAvro(row.get(i)))
            i += 1
          }
          writer.append(rec)
        }
      finally writer.close()
    }
  }

  /** Distributed typed read-back: parallelize the container-file list,
    * stream each through `DataFileReader`, rebuild rows under the
    * EXPLICIT Spark schema (never inferred).
    */
  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    val files =
      try stream.iterator().asScala.map(_.toString).filter(_.endsWith(".avro")).toSeq.sorted
      finally stream.close()
    val fields = schema.fields
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .flatMap { f =>
        val reader = new DataFileReader[GenericRecord](
          new SeekableFileInput(new java.io.File(f)),
          new GenericDatumReader[GenericRecord]())
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        try
          while (reader.hasNext) {
            val rec = reader.next()
            val vals = new Array[Any](fields.length)
            var i = 0
            while (i < fields.length) {
              vals(i) = fromAvro(rec.get(i).asInstanceOf[AnyRef], fields(i).dataType)
              i += 1
            }
            rows += Row.fromSeq(vals.toIndexedSeq)
          }
        finally reader.close()
        rows
      }
    spark.createDataFrame(rdd, schema)
  }
}
