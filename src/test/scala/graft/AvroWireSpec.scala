package graft

import graft.sources.AvroWire
import org.apache.spark.sql.functions._

/** The Avro wire path: lossless round-trip through the explicit schema,
  * byte-level compatibility with the plain Apache Avro runtime (what
  * any non-Spark consumer of the reference's topic would run), and the
  * Spark-native Avro file format against the same schema. */
class AvroWireSpec extends SparkSpec {

  private def parsed = graft.cdc.Cdc.parse(
    graft.cdc.CdcQueries.feed(spark, sfDir), col("json"))

  test("encode -> decode round-trip is lossless over the full feed") {
    val original = parsed.collect().map(_.toSeq).toSet
    val roundTripped = AvroWire.decode(AvroWire.encode(parsed))
      .collect().map(_.toSeq).toSet
    assert(roundTripped == original)
    assert(original.nonEmpty)
  }

  test("encoded bytes decode with the plain Avro runtime (wire compatibility)") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.io.DecoderFactory

    val row = parsed.filter(col("op") =!= "d").orderBy("scn").limit(1)
    val bytes = AvroWire.encode(row).collect()(0)
    val expected = row.select("scn", "key", "op", "after.cents").collect()(0)

    val schema = new Schema.Parser().parse(AvroWire.changeAvroSchema)
    val reader = new GenericDatumReader[GenericRecord](schema)
    val rec = reader.read(null,
      DecoderFactory.get().binaryDecoder(bytes, null))

    assert(rec.get("scn") == expected.getLong(0))
    assert(rec.get("key") == expected.getLong(1))
    assert(rec.get("op").toString == expected.getString(2))
    assert(rec.get("after").asInstanceOf[GenericRecord].get("cents")
      == expected.getLong(3))
  }

  test("decode tolerates the op-dependent absent payload (null unions)") {
    val deletes = AvroWire.decode(AvroWire.encode(
      parsed.filter(col("op") === "d")))
    val r = deletes.select(
      count(lit(1)).as("n"),
      count(col("after")).as("n_after"),
      count(col("before")).as("n_before")).collect()(0)
    assert(r.getLong(0) > 0)
    assert(r.getLong(1) == 0L)      // deletes carry no after-image
    assert(r.getLong(2) == r.getLong(0))
  }

  test("schema evolution: v1-written bytes read through the v2 reader schema surface the defaulted field") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.io.DecoderFactory

    // plain-runtime proof first (what any reference consumer does):
    // old bytes + GenericDatumReader(writer=v1, reader=v2) -> default
    val row = parsed.orderBy("scn").limit(1)
    val bytes = AvroWire.encode(row).collect()(0)
    val v1 = new Schema.Parser().parse(AvroWire.changeAvroSchema)
    val v2 = new Schema.Parser().parse(AvroWire.changeAvroSchemaV2)
    val rec: GenericRecord = new GenericDatumReader[GenericRecord](v1, v2)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null))
    assert(rec.get("origin").toString == "olr")
    assert(rec.get("scn") == row.select("scn").collect()(0).getLong(0))

    // and the Spark path: every old-schema record decodes, origin filled
    val evolved = AvroWire.decodeEvolved(AvroWire.encode(parsed))
    val n = parsed.count()
    assert(evolved.count() == n)
    assert(evolved.filter(col("origin") === "olr").count() == n)
    // payload survives resolution unchanged
    val orig = parsed.select("scn", "key", "op").collect().map(_.toSeq).toSet
    assert(evolved.select("scn", "key", "op").collect().map(_.toSeq).toSet == orig)
  }

  test("schema evolution, forward direction: v2-written bytes still read through the v1 reader schema") {
    // the other half of the registry's FULL-compatibility contract: a
    // NOT-yet-upgraded consumer (v1 reader) keeps reading bytes from an
    // upgraded producer (v2 writer) — resolution skips the unknown field
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.{DecoderFactory, EncoderFactory}
    import java.io.ByteArrayOutputStream

    val v1 = new Schema.Parser().parse(AvroWire.changeAvroSchema)
    val v2 = new Schema.Parser().parse(AvroWire.changeAvroSchemaV2)
    val rec = new GenericData.Record(v2)
    rec.put("scn", 42L); rec.put("op", "c"); rec.put("key", 7L)
    rec.put("origin", "oracle19c")
    val baos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(baos, null)
    new GenericDatumWriter[GenericRecord](v2).write(rec, enc)
    enc.flush()

    val back: GenericRecord = new GenericDatumReader[GenericRecord](v2, v1)
      .read(null, DecoderFactory.get().binaryDecoder(baos.toByteArray, null))
    assert(back.get("scn") == 42L)
    assert(back.get("op").toString == "c")
    assert(back.get("key") == 7L)
    assert(back.getSchema.getField("origin") == null,
      "v1 reader must resolve v2 bytes by skipping the added field")
  }

  test("Confluent framing round-trips: magic + id envelope, id-resolved decode") {
    val framed = AvroWire.frame(AvroWire.encode(parsed), schemaId = 7)
    // wire shape: every record starts [0x00, 0x00, 0x00, 0x00, 0x07]
    val one = framed.head()
    assert(one.take(5).toSeq == Seq[Byte](0, 0, 0, 0, 7))
    val decoded = AvroWire.decodeFramed(
      framed, Map(7 -> AvroWire.changeAvroSchema))
    val n = parsed.count()
    assert(decoded.count() == n)
    assert(decoded.filter(col("origin") === "olr").count() == n,
      "v1-written framed bytes must surface the v2 reader's defaulted field")
    assert(decoded.select("scn", "key", "op").collect().map(_.toSeq).toSet
      == parsed.select("scn", "key", "op").collect().map(_.toSeq).toSet)
  }

  test("framed consumer resolves EACH record through its own stamped schema id") {
    // two producer generations interleaved on one topic: id 1 wrote v1
    // bytes, id 2 writes v2 bytes (origin present on the wire) — one
    // consumer must resolve both, per record
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import java.io.ByteArrayOutputStream
    import spark.implicits._

    val v2 = new Schema.Parser().parse(AvroWire.changeAvroSchemaV2)
    val rec = new GenericData.Record(v2)
    rec.put("scn", 42L); rec.put("op", "c"); rec.put("key", 7L)
    rec.put("origin", "oracle19c")
    val baos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(baos, null)
    new GenericDatumWriter[GenericRecord](v2).write(rec, enc)
    enc.flush()

    // both generations registered through the subject model: v2's
    // registration IS the BACKWARD-accept case (adds a defaulted field)
    val registry = new graft.sources.SchemaRegistry
    val id1 = registry.register(AvroWire.changeAvroSchema)
    val id2 = registry.register(AvroWire.changeAvroSchemaV2)
    val v1Framed = AvroWire.frame(
      AvroWire.encode(parsed.orderBy("scn").limit(2)), schemaId = id1)
    val v2Framed = AvroWire.frame(
      spark.createDataset(Seq(baos.toByteArray)), schemaId = id2)
    val out = AvroWire.decodeFramed(v1Framed.union(v2Framed), registry.byId)
      .select("scn", "origin").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.exists(_._2 == "olr") && out.contains((42L, "oracle19c")),
      s"per-record resolution failed: $out")
  }

  test("registry REJECTS a registration that is not BACKWARD-compatible") {
    // the reference's Schema Registry enforces this at register time
    // (README.md:698-716): a consumer on the new schema must still read
    // every byte written with the previous one. Renaming a field with
    // no default breaks that — old bytes have no value for it.
    val registry = new graft.sources.SchemaRegistry
    registry.register(AvroWire.changeAvroSchema)
    val incompatible = AvroWire.changeAvroSchema.replace(
      "{\"name\": \"scn\", \"type\": [\"null\", \"long\"], \"default\": null}",
      "{\"name\": \"scn_renamed\", \"type\": \"long\"}")
    assert(incompatible != AvroWire.changeAvroSchema)
    val ex = intercept[Exception] { registry.register(incompatible) }
    assert(ex.getMessage.contains("BACKWARD"), ex.getMessage)
    // the failed attempt registered nothing: the subject still serves
    // exactly one version, and a compatible evolve still lands as id 2
    assert(registry.byId.keySet == Set(1))
    assert(registry.register(AvroWire.changeAvroSchemaV2) == 2)
  }

  test("registry compatibility modes: FORWARD, FULL, and transitive semantics") {
    // the service's full mode matrix on minimal schemas that isolate
    // each direction:
    def rec(fields: String) =
      s"""{"type": "record", "name": "R", "fields": [$fields]}"""
    val a = rec("""{"name": "a", "type": "long"}""")
    val aPlusNoDefault = rec(
      """{"name": "a", "type": "long"}, {"name": "b", "type": "string"}""")
    val aPlusDefault = rec(
      """{"name": "a", "type": "long"},
        | {"name": "b", "type": "string", "default": "x"}""".stripMargin)
    val empty = rec("")

    // adding a no-default field: new reader can't fill b from old bytes
    // (BACKWARD-incompatible) but the old reader skips it in new bytes
    // (FORWARD-compatible)
    val fwd = new graft.sources.SchemaRegistry("FORWARD")
    fwd.register(a)
    assert(fwd.register(aPlusNoDefault) == 2)
    val back = new graft.sources.SchemaRegistry("BACKWARD")
    back.register(a)
    intercept[Exception] { back.register(aPlusNoDefault) }

    // dropping a no-default field: old reader can't fill a from new
    // bytes (FORWARD-incompatible); new reader just skips it in old
    // bytes (BACKWARD-compatible)
    val fwd2 = new graft.sources.SchemaRegistry("FORWARD")
    fwd2.register(a)
    val exF = intercept[Exception] { fwd2.register(empty) }
    assert(exF.getMessage.contains("FORWARD"), exF.getMessage)
    val back2 = new graft.sources.SchemaRegistry("BACKWARD")
    back2.register(a)
    assert(back2.register(empty) == 2)

    // FULL rejects both one-way evolutions, accepts the defaulted add
    val full = new graft.sources.SchemaRegistry("FULL")
    full.register(a)
    intercept[Exception] { full.register(aPlusNoDefault) }
    intercept[Exception] { full.register(empty) }
    assert(full.register(aPlusDefault) == 2)

    // transitive: v3 = {a, b no-default} resolves v2 = {a, b default}
    // (b present in v2 bytes) but NOT v1 = {a} — plain BACKWARD checks
    // only the latest version and accepts; BACKWARD_TRANSITIVE checks
    // every version and rejects against v1
    val plain = new graft.sources.SchemaRegistry("BACKWARD")
    plain.register(a); plain.register(aPlusDefault)
    assert(plain.register(aPlusNoDefault) == 3)
    val trans = new graft.sources.SchemaRegistry("BACKWARD_TRANSITIVE")
    trans.register(a); trans.register(aPlusDefault)
    val exT = intercept[Exception] { trans.register(aPlusNoDefault) }
    assert(exT.getMessage.contains("version id 1"), exT.getMessage)
    assert(trans.byId.keySet == Set(1, 2))

    // NONE registers anything parseable, still rejects garbage
    val none = new graft.sources.SchemaRegistry("NONE")
    none.register(a)
    assert(none.register(empty) == 2)
    intercept[Exception] { none.register("{not json") }
  }

  test("framed decode fails loud on an unknown schema id and on a foreign magic byte") {
    import spark.implicits._
    val framed = AvroWire.frame(
      AvroWire.encode(parsed.limit(1)), schemaId = 99)
    val unknown = intercept[Exception] {
      AvroWire.decodeFramed(framed, Map(1 -> AvroWire.changeAvroSchema)).collect()
    }
    assert(unknown.getMessage.contains("schema id 99") ||
      unknown.getCause != null &&
        unknown.getCause.getMessage.contains("schema id 99"),
      s"unknown-id error must name the id: ${unknown.getMessage}")

    val garbage = spark.createDataset(Seq(Array[Byte](1, 2, 3, 4, 5, 6)))
    val foreign = intercept[Exception] {
      AvroWire.decodeFramed(garbage, Map(1 -> AvroWire.changeAvroSchema)).collect()
    }
    val msg = foreign.getMessage +
      Option(foreign.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("not a Confluent-framed record"), msg)
  }

  test("Spark-native Avro file format round-trips the feed with the explicit schema") {
    // the "avro" shortname registration ships in the external connector
    // module; the file format itself is bundled — address it by class
    val fmt = "org.apache.spark.sql.avro.AvroFileFormat"
    val dir = tempDir("graft_avro_fmt")
    parsed.write.format(fmt)
      .option("avroSchema", AvroWire.changeAvroSchema)
      .mode("overwrite").save(dir)
    val back = spark.read.format(fmt)
      .option("avroSchema", AvroWire.changeAvroSchema).load(dir)
    assert(back.collect().map(_.toSeq).toSet == parsed.collect().map(_.toSeq).toSet)
  }
}
