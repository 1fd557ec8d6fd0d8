package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Serializers for dead-letter frames — the analog of the reference's
  * DeadLetterConverter implementations:
  *  - JSON: codegen'd `to_json` (custom/debug converters).
  *  - Avro binary: error-handling-avro AvroDeadLetterConverter.java /
  *    DeadLetter.avsc, encoded with avro-1.12 (on the Spark classpath)
  *    against the exact reference schema.
  *  - Proto wire: error-handling-proto ProtoDeadLetterConverter.java /
  *    deadletter.proto, hand-encoded proto3 wire format (varint +
  *    length-delimited; the schema is small and fixed) so no
  *    protobuf-java dependency is needed.
  */
object DeadLetterSerde {

  /** The reference Avro schema, inlined from DeadLetter.avsc. */
  val avroSchemaJson: String =
    """{"type":"record","name":"DeadLetter","namespace":"com.bakdata.kafka","fields":[
      |{"name":"input_value","type":["null","string"]},
      |{"name":"topic","type":["null","string"],"default":null},
      |{"name":"partition","type":["null","int"],"default":null},
      |{"name":"offset","type":["null","long"],"default":null},
      |{"name":"description","type":"string"},
      |{"name":"cause","type":{"type":"record","name":"ErrorDescription","fields":[
      |{"name":"error_class","type":["null","string"],"default":null},
      |{"name":"message","type":["null","string"]},
      |{"name":"stack_trace","type":["null","string"]}]}},
      |{"name":"input_timestamp","type":["null",{"type":"long","logicalType":"timestamp-millis"}],"default":null}
      |]}""".stripMargin

  /** One dead letter, flattened: input_value, topic, partition, offset,
    * description, the cause's error class, message and stack trace, and
    * the input timestamp as a long.
    */
  private type Flat = (Option[String], Option[String], Option[Int], Option[Long], String,
    Option[String], Option[String], Option[String], Option[Long])

  // derived once: deriving a tuple encoder walks it by Scala reflection
  private lazy val flatEncoder: Encoder[Flat] = Encoders.product[Flat]

  /** dead letters → single JSON string column `value`. */
  def toJsonValue(deadLetters: DataFrame): DataFrame =
    deadLetters.select(to_json(struct(deadLetters.columns.map(col).toSeq: _*)).as("value"))

  /** dead letters → Avro binary column `value` (writer schema =
    * DeadLetter.avsc). Runs in mapPartitions with one reused encoder per
    * partition — the distributed analog of a per-task serde instance.
    */
  def toAvroValue(deadLetters: DataFrame): DataFrame = {
    val spark = deadLetters.sparkSession
    import spark.implicits._
    val schemaJson = avroSchemaJson
    deadLetters.select(
      $"input_value", $"topic", $"partition", $"offset", $"description",
      $"cause.error_class".as("cause_error_class"),
      $"cause.message".as("cause_message"),
      $"cause.stack_trace".as("cause_stack_trace"),
      // the schema field is timestamp-millis: unix_millis keeps sub-second
      // precision (cast-to-long would truncate to whole seconds)
      unix_millis($"input_timestamp").as("input_epoch_ms"))
      .as(flatEncoder)
      .mapPartitions { it =>
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val causeSchema = schema.getField("cause").schema()
        val writer = new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema)
        val out = new java.io.ByteArrayOutputStream()
        val encoder = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
        it.map { case (iv, topic, part, off, desc, ec, msg, st, ts) =>
          val cause = new org.apache.avro.generic.GenericData.Record(causeSchema)
          cause.put("error_class", ec.orNull)
          cause.put("message", msg.orNull)
          cause.put("stack_trace", st.orNull)
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          rec.put("input_value", iv.orNull)
          rec.put("topic", topic.orNull)
          rec.put("partition", part.map(Int.box).orNull)
          rec.put("offset", off.map(Long.box).orNull)
          rec.put("description", desc)
          rec.put("cause", cause)
          rec.put("input_timestamp", ts.map(Long.box).orNull)
          out.reset()
          val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, encoder)
          writer.write(rec, enc)
          enc.flush()
          out.toByteArray
        }
      }(Encoders.BINARY).toDF("value")
  }

  /** dead letters → proto3 wire-format binary column `value` matching
    * deadletter.proto field numbers:
    * 1=description, 2=cause{1=message,2=stack_trace,3=error_class as
    * StringValue}, 3=input_value, 4=topic, 5=partition (Int32Value),
    * 6=offset (Int64Value), 7=input_timestamp (Timestamp{1=seconds,2=nanos}).
    */
  def toProtoValue(deadLetters: DataFrame): DataFrame = {
    val spark = deadLetters.sparkSession
    import spark.implicits._
    deadLetters.select(
      $"input_value", $"topic", $"partition", $"offset", $"description",
      $"cause.error_class".as("ec"), $"cause.message".as("msg"), $"cause.stack_trace".as("st"),
      // proto Timestamp carries seconds+nanos (the reference converter uses
      // Instant.getEpochSecond/getNano): unix_micros is the full precision
      // a Spark timestamp has
      unix_micros($"input_timestamp").as("epoch_us"))
      .as(flatEncoder)
      .map { case (iv, topic, part, off, desc, ec, msg, st, ts) =>
        ProtoWire.deadLetter(desc, msg, st, ec, iv, topic, part, off, ts)
      }(Encoders.BINARY).toDF("value")
  }
}

/** Minimal proto3 wire-format writer (public format: varints, ZigZag-free
  * for unsigned, tag = fieldNumber<<3 | wireType).
  */
object ProtoWire {
  private def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(out: java.io.ByteArrayOutputStream, field: Int, wire: Int): Unit =
    varint(out, (field.toLong << 3) | wire)
  private def bytesField(out: java.io.ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    tag(out, field, 2); varint(out, b.length.toLong); out.write(b)
  }
  private def stringField(out: java.io.ByteArrayOutputStream, field: Int, s: String): Unit =
    bytesField(out, field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** google.protobuf.StringValue { string value = 1; } */
  private def stringValue(s: String): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    if (s.nonEmpty) stringField(o, 1, s)
    o.toByteArray
  }
  private def int64Value(v: Long): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    if (v != 0) { tag(o, 1, 0); varint(o, v) }
    o.toByteArray
  }

  def deadLetter(
      description: String,
      causeMessage: Option[String], causeStackTrace: Option[String], causeErrorClass: Option[String],
      inputValue: Option[String], topic: Option[String],
      partition: Option[Int], offset: Option[Long], epochMicros: Option[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (description.nonEmpty) stringField(out, 1, description)
    val cause = new java.io.ByteArrayOutputStream()
    causeMessage.foreach(m => bytesField(cause, 1, stringValue(m)))
    causeStackTrace.foreach(s => bytesField(cause, 2, stringValue(s)))
    causeErrorClass.foreach(c => bytesField(cause, 3, stringValue(c)))
    bytesField(out, 2, cause.toByteArray)
    inputValue.foreach(v => bytesField(out, 3, stringValue(v)))
    topic.foreach(t => bytesField(out, 4, stringValue(t)))
    partition.foreach(p => bytesField(out, 5, int64Value(p.toLong)))
    offset.foreach(o => bytesField(out, 6, int64Value(o)))
    epochMicros.foreach { us =>
      // google.protobuf.Timestamp { int64 seconds = 1; int32 nanos = 2; }
      // with nanos in [0, 1e9): floorDiv/floorMod keep that invariant for
      // pre-epoch instants, matching protobuf-java's Timestamps.fromMicros
      val secs = Math.floorDiv(us, 1000000L)
      val nanos = Math.floorMod(us, 1000000L) * 1000L
      val tsOut = new java.io.ByteArrayOutputStream()
      if (secs != 0) { tag(tsOut, 1, 0); varint(tsOut, secs) }
      if (nanos != 0) { tag(tsOut, 2, 0); varint(tsOut, nanos) }
      bytesField(out, 7, tsOut.toByteArray)
    }
    out.toByteArray
  }
}
