package graft.operators

/** Avro Object Container File reader from scratch (pure JVM) — the
  * Kafka-dump / data-lake row format next to the compressed-shard
  * family: the OCF framing (Obj magic, the avro map-encoded file
  * metadata with writer schema + codec, the 16-byte sync marker,
  * count+size data blocks each closed by the sync), the Avro BINARY
  * encoding of records (zigzag LEB128 varints for int/long, length-
  * prefixed UTF-8 strings and bytes, little-endian IEEE float/double,
  * 1-byte booleans, union branch indexes), and both standard block
  * codecs — `deflate` is raw RFC 1951 via [[Inflate.inflateRaw]],
  * `snappy` is raw snappy via [[Snappy.uncompress]] plus Avro's
  * trailing BIG-endian CRC-32 of the uncompressed block (verified).
  *
  * Schema scope, rejected loudly by name outside it: one top-level
  * record of primitive fields (null/boolean/int/long/float/double/
  * bytes/string) and 2-branch `["null", primitive]` unions — the shape
  * row-oriented event dumps actually use. The writer-schema JSON is
  * parsed with jackson (on Spark's classpath; JSON is not the format
  * under test here).
  *
  * Cross-validated in AvroSpec against the INDEPENDENT avro-java
  * implementation on Spark's classpath: fixtures are avro-java-written
  * (foreign-origin bytes, like the [[Bzip2]] tier), across all three
  * codecs, multi-block files, and every supported primitive; torn
  * files (bad magic, wrong sync, wrong block CRC, truncation) reject
  * loudly.
  *
  * Format is the public Apache Avro 1.12 specification. Beyond-
  * reference source surface (SURVEY §2.1 scope).
  */
object Avro {

  final case class AvroField(name: String, typ: String,
      nullable: Boolean)

  final case class AvroFile(fields: Seq[AvroField], codec: String,
      nBlocks: Int, rows: Seq[Seq[Any]])

  private final class Cursor(val p: Array[Byte], var pos: Int) {
    def u8(): Int = {
      require(pos < p.length, "torn avro: read past end")
      val b = p(pos) & 0xff
      pos += 1
      b
    }
    def take(n: Int): Array[Byte] = {
      require(n >= 0 && pos + n <= p.length,
        s"torn avro: $n-byte read past end")
      val out = java.util.Arrays.copyOfRange(p, pos, pos + n)
      pos += n
      out
    }
    /** zigzag LEB128 — Avro's int/long encoding. */
    def varLong(): Long = {
      var n = 0L
      var shift = 0
      var b = 0
      do {
        require(shift <= 63, "torn avro: runaway varint")
        b = u8()
        n |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      (n >>> 1) ^ -(n & 1L)
    }
    def varInt(): Int = {
      val v = varLong()
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"avro int $v overflows 32 bits")
      v.toInt
    }
    def bytes(): Array[Byte] = {
      val n = varLong()
      require(n >= 0 && n <= Int.MaxValue, s"avro bytes length $n")
      take(n.toInt)
    }
    def str(): String = new String(bytes(), "UTF-8")
    def atEnd: Boolean = pos >= p.length
  }

  private def parseSchema(json: String): Seq[AvroField] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // a torn metadata block yields garbage JSON: jackson's parse errors
    // (IOException subclasses) and half-shaped trees alike must land on
    // the loud-reject contract, not an NPE deep in node navigation
    val root =
      try mapper.readTree(json)
      catch {
        case e: java.io.IOException => throw new IllegalArgumentException(
          s"torn avro schema JSON: ${e.getMessage}", e)
      }
    require(root != null && root.isObject && root.hasNonNull("type") &&
      root.get("type").asText == "record",
      "unsupported avro schema: top level must be a record")
    val prims = Set("null", "boolean", "int", "long", "float", "double",
      "bytes", "string")
    val fields = root.get("fields")
    require(fields != null && fields.isArray,
      "avro record schema without a fields array")
    val out = Vector.newBuilder[AvroField]
    val it = fields.elements()
    while (it.hasNext) {
      val f = it.next()
      require(f != null && f.isObject && f.hasNonNull("name") &&
        f.get("name").isTextual && f.hasNonNull("type"),
        "torn avro schema: field without name/type")
      val name = f.get("name").asText
      val t = f.get("type")
      if (t.isTextual) {
        require(prims.contains(t.asText),
          s"unsupported avro field type '${t.asText}' " +
            "(record-of-primitives scope)")
        out += AvroField(name, t.asText, nullable = false)
      } else if (t.isArray) {
        require(t.size == 2 && t.get(0).isTextual &&
          t.get(0).asText == "null" && t.get(1).isTextual &&
          prims.contains(t.get(1).asText),
          s"unsupported avro union for field '$name' " +
            "(only [\"null\", primitive])")
        out += AvroField(name, t.get(1).asText, nullable = true)
      } else throw new IllegalArgumentException(
        s"unsupported avro field type shape for '$name' " +
          "(nested records/arrays/maps out of scope)")
    }
    out.result()
  }

  private def readPrimitive(c: Cursor, typ: String): Any = typ match {
    case "null" => null
    case "boolean" => c.u8() match {
      case 0 => false
      case 1 => true
      case b => throw new IllegalArgumentException(s"avro boolean $b")
    }
    case "int" => c.varInt()
    case "long" => c.varLong()
    case "float" =>
      val b = c.take(4)
      java.lang.Float.intBitsToFloat((b(0) & 0xff) | ((b(1) & 0xff) << 8) |
        ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24))
    case "double" =>
      val b = c.take(8)
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= (b(i) & 0xffL) << (8 * i); i += 1 }
      java.lang.Double.longBitsToDouble(bits)
    case "bytes" => c.bytes()
    case "string" => c.str()
    case t => throw new IllegalArgumentException(s"avro type '$t'")
  }

  def decode(p: Array[Byte]): AvroFile = {
    val c = new Cursor(p, 0)
    require(p.length > 32 && p(0) == 'O' && p(1) == 'b' && p(2) == 'j' &&
      p(3) == 1, "not an avro object container file (Obj\\u0001 magic)")
    c.pos = 4
    // file metadata: avro map — count-prefixed key/value blocks, a
    // NEGATIVE count carries |count| plus a byte size to skip-enable
    var meta = Map.empty[String, Array[Byte]]
    var n = c.varLong()
    while (n != 0) {
      val cnt = if (n < 0) { c.varLong(); -n } else n
      var i = 0L
      while (i < cnt) {
        val k = c.str()
        val v = c.bytes()
        meta += (k -> v)
        i += 1
      }
      n = c.varLong()
    }
    val schemaJson = new String(meta.getOrElse("avro.schema",
      throw new IllegalArgumentException("avro file without a schema")),
      "UTF-8")
    val fields = parseSchema(schemaJson)
    val codec = meta.get("avro.codec").map(new String(_, "UTF-8"))
      .getOrElse("null")
    require(codec == "null" || codec == "deflate" || codec == "snappy",
      s"avro codec '$codec' unsupported (null/deflate/snappy)")
    val sync = c.take(16)
    val rows = Vector.newBuilder[Seq[Any]]
    var nBlocks = 0
    while (!c.atEnd) {
      val count = c.varLong()
      require(count > 0, s"torn avro: block count $count")
      val byteSize = c.varLong()
      require(byteSize >= 0 && byteSize <= Int.MaxValue,
        s"torn avro: block size $byteSize")
      val raw = c.take(byteSize.toInt)
      val data = codec match {
        case "null" => raw
        case "deflate" =>
          // avro 'deflate' is RAW RFC 1951
          val (out, end) = Inflate.inflateRaw(raw, 0)
          require(end == raw.length,
            "torn avro: deflate block has trailing garbage")
          out
        case _ =>
          // avro 'snappy' appends a BIG-endian CRC-32 of the
          // UNCOMPRESSED bytes to the raw-snappy payload
          require(raw.length >= 4, "torn avro: snappy block under 4 bytes")
          val out = Snappy.uncompress(raw, 0, raw.length - 4)
          val want = ((raw(raw.length - 4) & 0xffL) << 24) |
            ((raw(raw.length - 3) & 0xffL) << 16) |
            ((raw(raw.length - 2) & 0xffL) << 8) |
            (raw(raw.length - 1) & 0xffL)
          val crc = new java.util.zip.CRC32()
          crc.update(out)
          require(crc.getValue == want, "avro snappy block CRC mismatch")
          out
      }
      val bc = new Cursor(data, 0)
      var i = 0L
      while (i < count) {
        rows += fields.map { f =>
          if (f.nullable) {
            bc.varLong() match {
              case 0 => null
              case 1 => readPrimitive(bc, f.typ)
              case b => throw new IllegalArgumentException(
                s"avro union branch $b for field ${f.name}")
            }
          } else readPrimitive(bc, f.typ)
        }
        i += 1
      }
      require(bc.atEnd, "torn avro: block decoded short of its size")
      val gotSync = c.take(16)
      require(java.util.Arrays.equals(gotSync, sync),
        "avro block sync marker mismatch")
      nBlocks += 1
    }
    AvroFile(fields, codec, nBlocks, rows.result())
  }

  // -------------------------------------------------------------------
  // Fixture: avro-java-written shards (foreign-origin corpus)

  private val FixtureSchemaJson =
    """{"type":"record","name":"Doc","fields":[
      |{"name":"id","type":"long"},
      |{"name":"seq","type":"int"},
      |{"name":"host","type":"string"},
      |{"name":"quarters","type":"double"},
      |{"name":"flag","type":"boolean"},
      |{"name":"note","type":["null","string"]}]}""".stripMargin

  def fixtureRowCount(id: Long): Int = 40 + (id % 35).toInt

  /** Closed-form row k of shard id (quarters is an exact multiple of
    * 0.25 so double sums stay IEEE-exact in both engines).
    */
  def fixtureRow(id: Long, k: Int): (Long, Int, String, Double, Boolean,
      Option[String]) = (
    id,
    k,
    s"h${k % 7}.example.com",
    ((k * 31 + id % 9) % 250).toDouble / 4.0,
    (k + id) % 3 == 0,
    if (k % 5 == 0) None else Some(s"n${(k * 13 + id % 11) % 100}"))

  /** doc_id → an OCF shard WRITTEN BY avro-java: codec rotates
    * null/deflate/snappy by id%3, and id%4==1 shards use a small sync
    * interval so multiple data blocks appear.
    */
  def fixturePayload(id: Long): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser()
      .parse(FixtureSchemaJson)
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    (id % 3).toInt match {
      case 1 => writer.setCodec(org.apache.avro.file.CodecFactory
        .deflateCodec(6))
      case 2 => writer.setCodec(org.apache.avro.file.CodecFactory
        .snappyCodec())
      case _ => ()
    }
    if (id % 4 == 1) writer.setSyncInterval(256) // force multi-block
    val bos = new java.io.ByteArrayOutputStream()
    writer.create(schema, bos)
    for (k <- 0 until fixtureRowCount(id)) {
      val (i, s, h, q, f, note) = fixtureRow(id, k)
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("id", i)
      r.put("seq", s)
      r.put("host", h)
      r.put("quarters", q)
      r.put("flag", f)
      r.put("note", note.orNull)
      writer.append(r)
    }
    writer.close()
    bos.toByteArray
  }
}
