package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, CharConversionException, InputStreamReader}
import java.nio.charset.{CharacterCodingException, StandardCharsets}

import scala.util.control.{NoStackTrace, NonFatal}

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonGenerator, JsonParser, JsonProcessingException, JsonToken}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The export envelope's field extractor behind `graft_envelope`
  * ([[EnvelopeFields]]): the result of
  * `from_json(value, <the envelope schema>)` for the fields the export
  * reads, without Spark's per-row `InputStreamReader`, char parser and
  * filter set-up.
  *
  * The schema is the one the pipeline parsed with `from_json`: outer
  * `traceId`, `unitOfWorkId`, `@type`, `message`, `version`,
  * `timestamp`; under `message` the `db`, `collection`, `@type`, `_id`,
  * `_lastModifiedDateTime`, `encryption` (`keyEncryptionKeyId`,
  * `encryptedEncryptionKey`, `initialisationVector`) and `dbObject`,
  * every leaf a string. The result keeps outer `@type` and `message`
  * ([[DataType]]); the four other outer fields are never returned.
  *
  * Two paths, one converter (a port of Spark's `JacksonParser` for
  * structs of strings):
  *
  *  - '''clean''': one streaming pass over the value's UTF-8 bytes with
  *    a byte-level Jackson parser from Spark's own factory
  *    (`JSONOptions.buildJsonFactory`: single quotes and `NaN`/`Infinity`
  *    allowed), `skipChildren` on every field it does not return. Taken
  *    only for strictly valid UTF-8 with no byte-order mark, no NUL in
  *    its first four bytes (the byte parser would sniff another
  *    encoding) and fewer bytes than Jackson's string-length limit, and
  *    only while nothing throws: a type mismatch or a syntax error
  *    abandons it. On such input the unreturned outer fields cannot
  *    change the result, so skipping them is exact.
  *  - '''exact''': everything else — malformed or truncated JSON, a
  *    non-object root, a `message` or `encryption` that is not an
  *    object, invalid UTF-8 — re-reads the value the way `from_json`
  *    does: an `InputStreamReader` (invalid bytes become U+FFFD), every
  *    schema field converted, the same catch-and-skip on a failed field
  *    (`spark.sql.json.enablePartialResults`, read at execution as Spark
  *    does), a root failure giving a row of nulls and an empty value
  *    giving NULL.
  *
  * Both paths keep `from_json`'s field semantics: the last of
  * duplicate keys wins, an absent or JSON-null field is NULL, and a
  * non-string token under a string field (an object `_id`, a number)
  * is its JSON text re-serialized through `copyCurrentStructure`. The
  * differential test is `EnvelopeSpec`, against the `from_json` form.
  */
private[graft] object EnvelopeReader {

  /** One object level of the schema, in the schema's field order: a
    * field is a string (`kid == null`) or a nested object, and the
    * fields in `dropped` are converted on the exact path (as Spark
    * converts every schema field) but never returned. */
  private final class Obj(fields: Seq[(String, Obj)], dropped: Set[String] = Set.empty) {
    val names: Array[String] = fields.map(_._1).toArray
    val kids: Array[Obj] = fields.map(_._2).toArray
    /** Each field's position in the result row, -1 when dropped. */
    val slots: Array[Int] = {
      var n = -1
      names.map(f => if (dropped(f)) -1 else { n += 1; n })
    }
    val width: Int = slots.count(_ >= 0)

    private val positions = new java.util.HashMap[String, Integer]
    names.indices.foreach(i => positions.put(names(i), i))

    def index(name: String): Int = {
      val i = positions.get(name)
      if (i == null) -1 else i
    }

    def dataType: StructType = StructType(names.indices.filter(slots(_) >= 0).map(i =>
      StructField(names(i), if (kids(i) == null) StringType else kids(i).dataType)))
  }

  private val Encryption = new Obj(Seq("keyEncryptionKeyId" -> null,
    "encryptedEncryptionKey" -> null, "initialisationVector" -> null))
  private val Message = new Obj(Seq("db" -> null, "collection" -> null,
    "@type" -> null, "_id" -> null, "_lastModifiedDateTime" -> null,
    "encryption" -> Encryption, "dbObject" -> null))
  private val Root = new Obj(Seq("traceId" -> null, "unitOfWorkId" -> null,
    "@type" -> null, "message" -> Message, "version" -> null,
    "timestamp" -> null), dropped = Set("traceId", "unitOfWorkId", "version", "timestamp"))

  /** `struct<@type: string, message: struct<db, collection, @type, _id,
    * _lastModifiedDateTime, encryption: struct<keyEncryptionKeyId,
    * encryptedEncryptionKey, initialisationVector>, dbObject>>`. */
  val DataType: StructType = Root.dataType

  private lazy val factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC").buildJsonFactory()
  private lazy val maxBytes: Int = factory.streamReadConstraints().getMaxStringLength

  /** A field converter's type mismatch (Spark's
    * `CannotParseJSONFieldException`). */
  private object Mismatch extends RuntimeException with NoStackTrace
  /** A nested object converted with a failed field (Spark's
    * `PartialResultException`). */
  private final class Partial(val row: InternalRow, val cause: Throwable)
      extends Exception(cause) with NoStackTrace

  /** Spark's `JacksonParser` conversion for [[Obj]] schemas. `exact`
    * converts the dropped fields and catches like Spark; otherwise the
    * first exception escapes, so the caller re-reads on the exact path. */
  private final class Converter(exact: Boolean, partial: Boolean) {

    /** The value after the root's first token. */
    def root(p: JsonParser): InternalRow =
      if (p.currentToken == JsonToken.START_OBJECT) obj(p, Root, isRoot = true)
      else throw Mismatch

    private def obj(p: JsonParser, o: Obj, isRoot: Boolean): InternalRow = {
      val row = new GenericInternalRow(o.width)
      var bad: Throwable = null
      while (nextUntilEnd(p)) {
        val i = o.index(p.currentName)
        if (i < 0 || (!exact && o.slots(i) < 0)) p.skipChildren()
        else try {
          val v = if (o.kids(i) == null) string(p) else struct(p, o.kids(i))
          if (o.slots(i) >= 0) row.update(o.slots(i), v)
        } catch {
          case e: Partial if partial =>
            if (bad == null) bad = e.cause
            row.update(o.slots(i), e.row)
          case NonFatal(e) if exact && (isRoot || partial) =>
            if (bad == null) bad = e
            p.skipChildren()
        }
      }
      if (bad == null) row else throw new Partial(row, bad)
    }

    private def nextUntilEnd(p: JsonParser): Boolean = {
      val t = p.nextToken()
      t != null && t != JsonToken.END_OBJECT
    }

    private def struct(p: JsonParser, o: Obj): InternalRow = p.currentToken match {
      case JsonToken.FIELD_NAME => p.nextToken(); struct(p, o)
      case null | JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT => obj(p, o, isRoot = false)
      case JsonToken.VALUE_STRING =>
        p.getTextLength // Spark reads the token (finishing it) before failing
        throw Mismatch
      case _ => throw Mismatch
    }

    private def string(p: JsonParser): UTF8String = p.currentToken match {
      case JsonToken.FIELD_NAME => p.nextToken(); string(p)
      case null | JsonToken.VALUE_NULL => null
      case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
      case _ => copy(p)
    }
  }

  /** A generator from the same factory over a reusable buffer, one per
    * thread. With no root-value separator, each `copyCurrentStructure`
    * writes the bytes a fresh generator would (Spark makes one per
    * value); after a failure the generator is dropped. */
  private final class Copier {
    val out = new ByteArrayOutputStream(256)
    val gen: JsonGenerator = factory.createGenerator(out, JsonEncoding.UTF8)
    gen.setRootValueSeparator(null)
  }
  private val copiers = new ThreadLocal[Copier]

  /** The current value's JSON text, re-serialized. */
  private def copy(p: JsonParser): UTF8String = {
    var c = copiers.get()
    if (c == null) { c = new Copier; copiers.set(c) }
    c.out.reset()
    try { c.gen.copyCurrentStructure(p); c.gen.flush() }
    catch { case e: Throwable => copiers.remove(); throw e }
    UTF8String.fromBytes(c.out.toByteArray)
  }

  private val Clean = new Converter(exact = false, partial = false)
  private val ExactPartial = new Converter(exact = true, partial = true)
  private val ExactWhole = new Converter(exact = true, partial = false)

  /** Marks an abandoned clean read (NULL is a result: an empty value). */
  private val Abandoned = new GenericInternalRow(0)

  /** The envelope fields of one non-null `value`. */
  def read(value: UTF8String): InternalRow = {
    val bb = value.getByteBuffer
    val bytes = bb.array
    val off = bb.arrayOffset + bb.position
    val len = bb.remaining
    val clean =
      if (byteParsable(bytes, off, len)) {
        val p = factory.createParser(bytes, off, len)
        try if (p.nextToken() == null) null else Clean.root(p)
        catch { case NonFatal(_) => Abandoned }
        finally p.close()
      } else Abandoned
    if (clean ne Abandoned) clean else readExact(bytes, off, len)
  }

  /** `from_json`'s own read: `JacksonParser.parse` under
    * `FailureSafeParser` in PERMISSIVE mode. */
  private def readExact(bytes: Array[Byte], off: Int, len: Int): InternalRow = {
    val conv = if (SQLConf.get.jsonEnablePartialResults) ExactPartial else ExactWhole
    val p = factory.createParser(new InputStreamReader(
      new ByteArrayInputStream(bytes, off, len), StandardCharsets.UTF_8))
    try if (p.nextToken() == null) null else conv.root(p)
    catch {
      case e: Partial => e.row
      case _: RuntimeException | _: JsonProcessingException |
          _: CharacterCodingException | _: CharConversionException =>
        new GenericInternalRow(Root.width)
    } finally p.close()
  }

  /** Whether the byte parser reads these bytes as the reader path
    * would: strictly valid UTF-8, no encoding for Jackson to sniff, no
    * string past the length limit. */
  private def byteParsable(b: Array[Byte], off: Int, len: Int): Boolean = {
    if (len >= maxBytes) return false
    if (len >= 3 && (b(off) & 0xff) == 0xef && (b(off + 1) & 0xff) == 0xbb &&
        (b(off + 2) & 0xff) == 0xbf) return false
    var k = 0
    while (k < 4 && k < len) { if (b(off + k) == 0) return false; k += 1 }
    validUtf8(b, off, off + len)
  }

  /** Well-formed UTF-8 (Unicode Table 3-7): no overlong forms, no
    * surrogates, nothing past U+10FFFF, no truncated sequence — the
    * bytes the JDK decoder reads without a replacement. */
  private def validUtf8(b: Array[Byte], from: Int, end: Int): Boolean = {
    var i = from
    while (i < end) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        val n =
          if (c >= 0xc2 && c <= 0xdf) 1
          else if (c >= 0xe0 && c <= 0xef) 2
          else if (c >= 0xf0 && c <= 0xf4) 3
          else return false
        if (i + n >= end) return false
        val c1 = b(i + 1) & 0xff
        val lo = if (c == 0xe0) 0xa0 else if (c == 0xf0) 0x90 else 0x80
        val hi = if (c == 0xed) 0x9f else if (c == 0xf4) 0x8f else 0xbf
        if (c1 < lo || c1 > hi) return false
        var k = 2
        while (k <= n) {
          if ((b(i + k) & 0xc0) != 0x80) return false
          k += 1
        }
        i += n + 1
      }
    }
    true
  }
}
