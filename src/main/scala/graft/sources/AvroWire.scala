package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import java.io.ByteArrayOutputStream

/** One decoded change event (Avro consumer side). Field shape mirrors
  * [[graft.cdc.Cdc.changeSchema]]; payload images are optional exactly
  * like the nullable unions on the wire. */
final case class AvroImage(id: Option[Long], cents: Option[Long], `type`: Option[String])

/** The evolved (v2) consumer view: one added field with a default
  * (null when the reader schema is v1, which has no such field). */
final case class AvroChangeV2(
    scn: Option[Long], tm: Option[Long], xid: Option[String], op: Option[String],
    key: Option[Long], after: Option[AvroImage], before: Option[AvroImage],
    origin: String)

/** Avro wire format for the change feed.
  *
  * The reference transports every change event as Avro with an explicit
  * registered schema (value.converter=AvroConverter + Schema Registry —
  * reference README.md:518-536, 698): producers serialize against the
  * schema, consumers deserialize with it. This module is that contract
  * re-expressed for Spark: [[changeAvroSchema]] is the explicit
  * writer/reader schema, `encode` the producer side, `decode` the
  * consumer side. `value` is exactly the Kafka `value: binary` column,
  * so Kafka-transport-with-Avro-payload is the composition with
  * [[KafkaWire]].
  *
  * Implementation note: this container ships Spark's Avro FILE format
  * and the Apache Avro runtime but NOT the spark-avro connector module
  * that backs the `to_avro`/`from_avro` expressions (they throw
  * AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE). Record-level encode/decode
  * therefore runs the public Avro runtime at a `mapPartitions`
  * serialization boundary — the same "batched codec at the edge"
  * pattern as the multimodal decode path: per-partition reused
  * encoder/decoder buffers, map-only, no shuffle, identical semantics
  * to the connector's expressions. On a build with spark-avro present,
  * `encode`/`decode` bodies collapse to one-line to_avro/from_avro
  * calls against the same [[changeAvroSchema]].
  *
  * AvroWireSpec pins (a) lossless round-trip of the full feed, (b) wire
  * compatibility — bytes decode with a plain `GenericDatumReader`, as
  * any reference consumer would — and (c) the Spark-native Avro file
  * format round-trip with this explicit schema.
  */
/** The Schema Registry SUBJECT model with register-time compatibility
  * enforcement — the contract the reference's registry service applies
  * (reference README.md:698-716: the compose stack runs a real
  * Confluent Schema Registry, which REJECTS a registration that breaks
  * the subject's compatibility mode, BACKWARD by default).
  *
  * BACKWARD means: a consumer holding the NEW schema must be able to
  * read every byte producers wrote with the PREVIOUS schema — i.e.
  * Avro reader/writer resolution (new = reader, previous = writer)
  * must succeed. The check runs at REGISTER time, so an incompatible
  * producer deploy fails before a single bad byte reaches the wire;
  * decode-time resolution ([[AvroWire.decodeFramed]]) then can't meet
  * a generation gap it cannot bridge. Ids are assigned sequentially
  * like the service does; [[byId]] is the `GET /schemas/ids/<id>` view
  * that [[AvroWire.decodeFramed]] consumes. */
final class SchemaRegistry(val compatibility: String = "BACKWARD") {
  // Reject an unknown mode at CONSTRUCTION, not first register(): a
  // misconfigured registry (e.g. "BACKWARDS") must not exist silently
  // until first use.
  require(
    Set("BACKWARD", "FORWARD", "FULL", "NONE")
      .contains(compatibility.stripSuffix("_TRANSITIVE")),
    s"unknown compatibility mode: $compatibility")

  private var versions = Vector.empty[(Int, String)]

  /** One reader/writer resolution check; Some(error detail) on
    * incompatibility. */
  private def resolves(readerJson: String, writerJson: String): Option[String] = {
    import org.apache.avro.{Schema, SchemaCompatibility}
    val reader = new Schema.Parser().parse(readerJson)
    val writer = new Schema.Parser().parse(writerJson)
    val result =
      SchemaCompatibility.checkReaderWriterCompatibility(reader, writer)
    if (result.getType == SchemaCompatibility.SchemaCompatibilityType.COMPATIBLE)
      None
    else Some(result.getResult.getIncompatibilities.toString)
  }

  /** Register the subject's next schema version; returns its id.
    * Throws (loud, nothing registered) if the schema is malformed or
    * violates the subject's compatibility mode against the prior
    * version(s) — the registry service's exact semantics:
    *
    *  - BACKWARD[_TRANSITIVE]: the NEW schema as reader must resolve
    *    bytes written with the previous (all previous) version(s) —
    *    consumers upgrade first.
    *  - FORWARD[_TRANSITIVE]: the previous (all previous) version(s)
    *    as reader must resolve bytes the NEW schema writes —
    *    producers upgrade first.
    *  - FULL[_TRANSITIVE]: both directions.
    *  - NONE: no check (the service's opt-out, kept for parity).
    *
    * Non-transitive modes check only the LATEST version, matching the
    * service default. */
  def register(schemaJson: String): Int = synchronized {
    // parse eagerly so a malformed schema is rejected even when the
    // subject is empty or the mode is NONE
    new org.apache.avro.Schema.Parser().parse(schemaJson)
    val transitive = compatibility.endsWith("_TRANSITIVE")
    val targets =
      if (transitive) versions else versions.lastOption.toVector
    val mode = compatibility.stripSuffix("_TRANSITIVE")
    targets.foreach { case (prevId, prevJson) =>
      val backward =
        if (mode == "BACKWARD" || mode == "FULL")
          resolves(schemaJson, prevJson).map(i => s"not BACKWARD-compatible" -> i)
        else None
      val forward =
        if (mode == "FORWARD" || mode == "FULL")
          resolves(prevJson, schemaJson).map(i => s"not FORWARD-compatible" -> i)
        else None
      (backward orElse forward).foreach { case (what, incompat) =>
        sys.error(s"schema rejected: $what with version id $prevId " +
          s"under $compatibility — $incompat")
      }
    }
    val id = versions.size + 1
    versions :+= (id -> schemaJson)
    id
  }

  /** The id -> writer-schema lookup a framed consumer resolves through. */
  def byId: Map[Int, String] = synchronized { versions.toMap }
}

object AvroWire {

  /** Explicit Avro schema of one change event (the Schema-Registry
    * subject in the reference stack). */
  val changeAvroSchema: String =
    """{
      |  "type": "record", "name": "ChangeEvent", "namespace": "graft.cdc",
      |  "fields": [
      |    {"name": "scn", "type": ["null", "long"], "default": null},
      |    {"name": "tm", "type": ["null", "long"], "default": null},
      |    {"name": "xid", "type": ["null", "string"], "default": null},
      |    {"name": "op", "type": ["null", "string"], "default": null},
      |    {"name": "key", "type": ["null", "long"], "default": null},
      |    {"name": "after", "type": ["null", {
      |      "type": "record", "name": "AfterImage", "fields": [
      |        {"name": "id", "type": ["null", "long"], "default": null},
      |        {"name": "cents", "type": ["null", "long"], "default": null},
      |        {"name": "type", "type": ["null", "string"], "default": null}]}],
      |     "default": null},
      |    {"name": "before", "type": ["null", {
      |      "type": "record", "name": "BeforeImage", "fields": [
      |        {"name": "id", "type": ["null", "long"], "default": null},
      |        {"name": "cents", "type": ["null", "long"], "default": null},
      |        {"name": "type", "type": ["null", "string"], "default": null}]}],
      |     "default": null}
      |  ]
      |}""".stripMargin

  /** The EVOLVED reader schema (v2 of the Schema-Registry subject):
    * same record plus one appended field `origin` with a default. This
    * is the Schema Registry BACKWARD-compatibility contract the
    * reference stack enforces (AvroConverter + registry — reference
    * README.md:518-536): a consumer on the new schema must keep reading
    * every byte producers wrote with the OLD schema, Avro schema
    * resolution filling the added field from its default. */
  val changeAvroSchemaV2: String = {
    val marker = "  ]\n}"
    val added =
      """    ,{"name": "origin", "type": "string", "default": "olr"}
        |  ]
        |}""".stripMargin
    val v2 = changeAvroSchema.replace(marker, added)
    require(v2 != changeAvroSchema, "v1 schema shape changed; update the v2 splice")
    v2
  }

  /** Producer side: typed change columns (the [[graft.cdc.Cdc.parse]]
    * output shape) -> one Avro-encoded binary `value` column. */
  def encode(parsed: DataFrame): Dataset[Array[Byte]] = {
    val schemaJson = changeAvroSchema
    parsed
      .select(col("scn"), col("tm"), col("xid"), col("op"), col("key"),
        col("after"), col("before"))
      .mapPartitions { rows =>
        import org.apache.avro.Schema
        import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
        import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
        val schema = new Schema.Parser().parse(schemaJson)
        def branch(field: String): Schema = {
          val u = schema.getField(field).schema()
          u.getTypes.get(if (u.getTypes.get(0).getType == Schema.Type.NULL) 1 else 0)
        }
        val (afterS, beforeS) = (branch("after"), branch("before"))
        val writer = new GenericDatumWriter[GenericRecord](schema)
        val baos = new ByteArrayOutputStream(128)
        var enc: BinaryEncoder = null
        def image(r: org.apache.spark.sql.Row, s: Schema): GenericRecord = {
          val img = new GenericData.Record(s)
          if (!r.isNullAt(0)) img.put("id", r.getLong(0))
          if (!r.isNullAt(1)) img.put("cents", r.getLong(1))
          if (!r.isNullAt(2)) img.put("type", r.getString(2))
          img
        }
        rows.map { r =>
          val rec = new GenericData.Record(schema)
          if (!r.isNullAt(0)) rec.put("scn", r.getLong(0))
          if (!r.isNullAt(1)) rec.put("tm", r.getLong(1))
          if (!r.isNullAt(2)) rec.put("xid", r.getString(2))
          if (!r.isNullAt(3)) rec.put("op", r.getString(3))
          if (!r.isNullAt(4)) rec.put("key", r.getLong(4))
          if (!r.isNullAt(5)) rec.put("after", image(r.getStruct(5), afterS))
          if (!r.isNullAt(6)) rec.put("before", image(r.getStruct(6), beforeS))
          baos.reset()
          enc = EncoderFactory.get().binaryEncoder(baos, enc)
          writer.write(rec, enc)
          enc.flush()
          baos.toByteArray
        }
      }(Encoders.BINARY)
  }

  /** Confluent Schema Registry wire framing: every framed record is
    * `[0x00 magic][4-byte big-endian schema id][Avro binary payload]`
    * — the envelope the reference's AvroConverter writes to Kafka
    * (magic byte + registry schema id; reference README.md:529-530;
    * the schema-registry compose service README.md:698-716). */
  val wireMagic: Byte = 0x0

  /** Producer side of the framed contract: stamp the registered
    * schema's id onto every encoded record. */
  def frame(wire: Dataset[Array[Byte]], schemaId: Int): Dataset[Array[Byte]] =
    wire.map { payload =>
      val out = new Array[Byte](5 + payload.length)
      out(0) = wireMagic
      out(1) = ((schemaId >> 24) & 0xff).toByte
      out(2) = ((schemaId >> 16) & 0xff).toByte
      out(3) = ((schemaId >> 8) & 0xff).toByte
      out(4) = (schemaId & 0xff).toByte
      System.arraycopy(payload, 0, out, 5, payload.length)
      out
    }(Encoders.BINARY)

  /** Consumer side of the framed contract: per record, validate the
    * magic byte, look up the WRITER schema by the stamped id in the
    * registry, and resolve onto the consumer's evolved reader schema
    * (v2) — so one consumer reads records produced against DIFFERENT
    * registered schema generations, each through its own resolution.
    * The registry is modeled as the id -> schema-JSON map a
    * `GET /schemas/ids/<id>` lookup returns — the whole consumer
    * contract without the HTTP service (absent in this container).
    * Unknown ids and foreign magic bytes fail LOUD: silently skipping
    * them would be data loss on a transport that guarantees delivery
    * (the dead-letter row is the place for tolerated corruption). */
  def decodeFramed(framed: Dataset[Array[Byte]],
                   registry: Map[Int, String]): DataFrame =
    resolve(framed, changeAvroSchemaV2, Some(registry))

  /** Schema-evolution consumer: decode bytes WRITTEN with the v1 schema
    * READ through the evolved v2 schema — Avro schema resolution
    * (`GenericDatumReader(writer, reader)`) maps old wire bytes onto
    * the new shape, surfacing the added `origin` field as its default.
    * This is the wire-side half of auto-evolution (cdc_schema_evolve is
    * the sink-side half): producers upgrade on their own schedule;
    * consumers on v2 read both generations of bytes. */
  def decodeEvolved(wire: Dataset[Array[Byte]]): DataFrame =
    resolve(wire, changeAvroSchemaV2, None)

  /** Consumer side: Avro binary values -> typed change columns (same
    * shape as [[graft.cdc.Cdc.parse]] output). */
  def decode(wire: Dataset[Array[Byte]]): DataFrame =
    resolve(wire, changeAvroSchema, None).drop("origin")

  /** The one resolving consumer every decode runs: each value is read
    * with its WRITER schema resolved onto `readerJson`
    * (`GenericDatumReader(writer, reader)`) and converted to a row.
    * Unframed values were written with [[changeAvroSchema]]; with a
    * `registry`, each value must carry the Confluent framing and its
    * stamped id names the writer schema (one resolving reader per id,
    * built on first use). Map-only, per-partition reused decoders. */
  private def resolve(wire: Dataset[Array[Byte]], readerJson: String,
                      registry: Option[Map[Int, String]]): DataFrame = {
    val plainWriter = changeAvroSchema
    wire.mapPartitions { bs =>
      import org.apache.avro.Schema
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      import org.apache.avro.io.{BinaryDecoder, DecoderFactory}
      val reader = new Schema.Parser().parse(readerJson)
      val hasOrigin = reader.getField("origin") != null
      val readers =
        scala.collection.mutable.Map.empty[Int, GenericDatumReader[GenericRecord]]
      def readerFor(id: Int) = readers.getOrElseUpdate(id, {
        val writerJson = registry.fold(plainWriter)(_.getOrElse(id, sys.error(
          s"schema id $id is not in the registry " +
            s"(known ids: ${registry.get.keys.toSeq.sorted.mkString(", ")})")))
        new GenericDatumReader[GenericRecord](
          new Schema.Parser().parse(writerJson), reader)
      })
      var dec: BinaryDecoder = null
      def s(rec: GenericRecord, f: String): Option[String] =
        Option(rec.get(f)).map(_.toString)
      def l(rec: GenericRecord, f: String): Option[Long] =
        Option(rec.get(f)).map(_.asInstanceOf[Long])
      def image(v: AnyRef): Option[AvroImage] = Option(v).map { o =>
        val rec = o.asInstanceOf[GenericRecord]
        AvroImage(l(rec, "id"), l(rec, "cents"), s(rec, "type"))
      }
      bs.map { bytes =>
        val (id, offset) = if (registry.isEmpty) (0, 0) else {
          if (bytes.length < 5 || bytes(0) != wireMagic)
            sys.error("not a Confluent-framed record: " +
              (if (bytes.isEmpty) "empty value"
               else f"magic byte 0x${bytes(0)}%02x, length ${bytes.length}"))
          (((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
            ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff), 5)
        }
        dec = DecoderFactory.get().binaryDecoder(bytes, offset, bytes.length - offset, dec)
        val rec = readerFor(id).read(null, dec)
        AvroChangeV2(l(rec, "scn"), l(rec, "tm"), s(rec, "xid"), s(rec, "op"),
          l(rec, "key"), image(rec.get("after")), image(rec.get("before")),
          if (hasOrigin) rec.get("origin").toString else null)
      }
    }(Encoders.product[AvroChangeV2]).toDF()
  }
}
