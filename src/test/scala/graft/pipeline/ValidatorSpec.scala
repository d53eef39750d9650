package graft.pipeline

import java.text.{ParseException, SimpleDateFormat}
import java.util.{Date, TimeZone}

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.scalatest.funsuite.AnyFunSuite

/** Golden behavioral spec mirroring the reference's ValidatorTest.kt
  * (925 lines): id canonicalization incl. key sorting (:38-56), scalar
  * id → `$oid` (:58-76), bad-JSON rejection (:100-118), archived-drop
  * (:125-169), the `_lastModifiedDateTime` fallback chain (:171-398),
  * `$date`-aware element fetch (:400-450), absent-id reverse
  * engineering (:452-477). */
class ValidatorSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def tree(s: String) = mapper.readTree(s)

  private val fullDoc =
    """{"_id": {"someId":"RANDOM_GUID","declarationId":1234}, "type": "addressDeclaration",
      | "addressLine2": null, "postcode": "SM5 2LE",
      | "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z", "_archivedDateTime": "should be replaced by _removedDateTime"},
      | "_version": 2, "_archived": "should be replaced by _removed",
      | "_lastModifiedDateTime": "2019-07-04T07:27:35.104+0000"}""".stripMargin

  private def validateDefault(doc: String) =
    Validator.validate(doc, """{"record_id":"00001"}""", 1000L,
      "db", "collection", "OUTER_TYPE", "INNER_TYPE")

  test("valid json with object _id: manifest ids are key-sorted (ValidatorTest.kt:38-56)") {
    val v = validateDefault(fullDoc).toOption.get
    val idSorted = """{"declarationId":1234,"someId":"RANDOM_GUID"}"""
    assert(v.manifest == Validator.Manifest(idSorted, 1000L, "db", "collection",
      "EXPORT", "OUTER_TYPE", "INNER_TYPE", idSorted))
  }

  test("scalar _id becomes {$oid} (ValidatorTest.kt:58-76)") {
    val doc = fullDoc.replace("""{"someId":"RANDOM_GUID","declarationId":1234}""",
      "\"JSON_PRIMITIVE_STRING\"")
    val v = validateDefault(doc).toOption.get
    assert(v.manifest.id == """{"$oid":"JSON_PRIMITIVE_STRING"}""")
    assert(v.manifest.originalId == "JSON_PRIMITIVE_STRING")
    assert(tree(v.doc).get("_id").get("$oid").asText() == "JSON_PRIMITIVE_STRING")
  }

  test("invalid json rejected (ValidatorTest.kt:100-118)") {
    assert(validateDefault("""{"testOne":"test1", "testTwo":2""").isLeft)
    assert(validateDefault("hello").isLeft)
  }

  test("_archivedDateTime dropped only when _removedDateTime present (ValidatorTest.kt:125-169)") {
    val both =
      """{"_id": {"id": "12345"},
        | "_archivedDateTime": "2021-10-10T03:35:51.145+0000",
        | "_removedDateTime": "2021-10-12T10:06:01.280+0000",
        | "_lastModifiedDateTime": "2021-10-02T14:02:16.653+0000"}""".stripMargin
    val v1 = validateDefault(both).toOption.get
    assert(tree(v1.doc).has("_removedDateTime") && !tree(v1.doc).has("_archivedDateTime"))

    val onlyArchived =
      """{"_id": {"id": "12345"},
        | "_archivedDateTime": "2021-10-10T03:35:51.145+0000",
        | "_lastModifiedDateTime": "2021-10-02T14:02:16.653+0000"}""".stripMargin
    val v2 = validateDefault(onlyArchived).toOption.get
    assert(tree(v2.doc).has("_archivedDateTime") && !tree(v2.doc).has("_removedDateTime"))
  }

  // ---------------------------------------------------- fallback chain

  private def lastModified(json: String): String =
    Validator.retrieveLastModifiedDateTime(
      tree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])

  private val d1 = "2019-12-14T15:01:02.000+0000"
  private val d2 = "2018-12-14T15:01:02.000+0000"

  test("fallback chain: string _lastModifiedDateTime wins (ValidatorTest.kt:171-198)") {
    assert(lastModified(s"""{"_lastModifiedDateTime": "$d1", "createdDateTime": "$d2"}""") == d1)
    assert(lastModified(s"""{"_lastModifiedDateTime": {"$$date": "$d1"}, "createdDateTime": {"$$date": "$d2"}}""") == d1)
  }

  test("fallback chain: _removedDateTime next (ValidatorTest.kt:200-280)") {
    assert(lastModified(s"""{"_removedDateTime": "$d1"}""") == d1)
    assert(lastModified(s"""{"_lastModifiedDateTime": "", "_removedDateTime": "$d1"}""") == d1)
    assert(lastModified(s"""{"_lastModifiedDateTime": null, "_removedDateTime": "$d1"}""") == d1)
    assert(lastModified(s"""{"_removedDateTime": "$d1", "createdDateTime": "$d2"}""") == d1)
    assert(lastModified(s"""{"_removedDateTime": {"$$date": "$d1"}, "createdDateTime": {"$$date": "$d2"}}""") == d1)
  }

  test("fallback chain: createdDateTime next (ValidatorTest.kt:282-345)") {
    assert(lastModified(s"""{"createdDateTime": "$d1"}""") == d1)
    assert(lastModified(s"""{"_lastModifiedDateTime": {"date": "$d1"}, "createdDateTime": {"$$date": "$d2"}}""") == d2)
    assert(lastModified(s"""{"_lastModifiedDateTime": "", "createdDateTime": {"$$date": "$d1"}}""") == d1)
    assert(lastModified(s"""{"_lastModifiedDateTime": null, "createdDateTime": "$d1"}""") == d1)
  }

  test("fallback chain: epoch default (ValidatorTest.kt:347-398)") {
    val epoch = "1980-01-01T00:00:00.000Z"
    assert(lastModified("""{"a": 1}""") == epoch)
    assert(lastModified(s"""{"_lastModifiedDateTime": {"date": "$d1"}, "createdDateTime": {"date": "$d2"}}""") == epoch)
    assert(lastModified("""{"_lastModifiedDateTime": "", "createdDateTime": ""}""") == epoch)
    assert(lastModified("""{"_lastModifiedDateTime": null, "createdDateTime": null}""") == epoch)
  }

  test("$date-aware element fetch (ValidatorTest.kt:400-450)") {
    def fetch(json: String) = Validator.retrieveDateTimeElement("el",
      tree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    assert(fetch("""{"el": "A Date"}""") == "A Date")
    assert(fetch("""{"el": {"$date": "A Date"}}""") == "A Date")
    assert(fetch("""{"el": {"date": "x"}}""") == "")
    assert(fetch("""{"el": null}""") == "")
  }

  test("absent _id reverse-engineered from row key (ValidatorTest.kt toleratesAbsenceOfId)") {
    val doc =
      """{"_id1":{"test_key_a":"test_value_a","test_key_b":"test_value_b"},
        | "_lastModifiedDateTime": "2018-12-14T15:01:02.000+0000"}""".stripMargin
    val v = Validator.validate(doc, """{ "id": "12345" }""", 1000L,
      "db", "collection", "OUTER_TYPE", "INNER_TYPE").toOption.get
    assert(v.manifest.id == """{"$oid":"12345"}""")
    assert(v.manifest.originalId == "12345")
    assert(tree(v.doc).get("_lastModifiedDateTime").get("$date").asText()
      == "2018-12-14T15:01:02.000Z")
  }

  test("non-scalar row key id reverse-engineers to sorted json (IdUtility.kt:13-16)") {
    val (orig, altered) = Validator.reverseEngineerId("""{"b":"2","a":"1"}""")
    assert(orig == """{"a":"1","b":"2"}""" && altered == orig)
  }

  test("sortJsonByKey sorts top-level keys only (JsonUtils.kt:7-14)") {
    assert(Validator.sortJsonByKey("""{"b":{"z":1,"a":2},"a":3}""")
      == """{"a":3,"b":{"z":1,"a":2}}""")
  }

  test("dual-format parse + outgoing reformat (Validator.kt:153-170)") {
    assert(Validator.formatToOutgoing("2019-07-04T07:27:35.104+0000")
      == "2019-07-04T07:27:35.104Z")
    assert(Validator.formatToOutgoing("2019-07-04T07:27:35.104Z")
      == "2019-07-04T07:27:35.104Z")
    assert(Validator.formatToOutgoing("2001-12-01T15:01:02.000+0100")
      == "2001-12-01T14:01:02.000Z")
    intercept[java.text.ParseException](Validator.formatToOutgoing("A Date"))
  }

  test("manifest timestamp preference flips with snapshot type (Validator.kt:172-193)") {
    val created = "2015-03-20T12:23:25.183Z"
    val modified = "2018-12-14T15:01:02.000+0000"
    val createdMs = Validator.parseValidDateTime(created).getTime
    val modifiedMs = Validator.parseValidDateTime(modified).getTime
    assert(Validator.timestampAsLong(created, modified, "full") == createdMs)
    assert(Validator.timestampAsLong(created, modified, "incremental") == modifiedMs)
    assert(Validator.timestampAsLong("garbage", modified, "full") == modifiedMs)
  }

  test("validate stamps the manifest ts per record by snapshot type") {
    val modifiedMs = Validator.parseValidDateTime(
      "2019-07-04T07:27:35.104+0000").getTime
    // full: the cell timestamp, exactly the reference's ManifestRecord
    val full = validateDefault(fullDoc).toOption.get
    assert(full.manifest.timestamp == 1000L)
    // incremental: the record's own _lastModifiedDateTime
    val incr = Validator.validate(fullDoc, """{"record_id":"00001"}""", 1000L,
      "db", "collection", "OUTER_TYPE", "INNER_TYPE", "incremental").toOption.get
    assert(incr.manifest.timestamp == modifiedMs)
    // incremental with absent _lastModifiedDateTime: createdDateTime
    // fallback — here nested under $date, fetched date-aware (a
    // present-but-garbage value would skip the whole record in
    // wrapDates, reference-faithfully, before the manifest is built)
    val noLm = fullDoc.replace(
      """"_lastModifiedDateTime": "2019-07-04T07:27:35.104+0000"""",
      """"unrelated": 0""")
    val createdMs = Validator.parseValidDateTime("2015-03-20T12:23:25.183Z").getTime
    val fb = Validator.validate(noLm, """{"record_id":"00001"}""", 1000L,
      "db", "collection", "OUTER_TYPE", "INNER_TYPE", "incremental").toOption.get
    assert(fb.manifest.timestamp == createdMs)
    // both document fields unusable: the cell timestamp backstop
    val neither = """{"_id": "X", "a": 1}"""
    val bs = Validator.validate(neither, """{"record_id":"00001"}""", 1000L,
      "db", "collection", "OUTER_TYPE", "INNER_TYPE", "incremental").toOption.get
    assert(bs.manifest.timestamp == 1000L)
  }

  // ------------------------------------- differential against SdfReference

  /** A result or the exception it threw, comparable across paths. */
  private def outcome[A](body: => A): Either[(Class[_], String), A] =
    Try(body).toEither.left.map(e => (e.getClass, e.getMessage))

  /** Two exact-digit fields of `width` digits: mostly in [lo, hi], but
    * also just below and above it and anywhere. */
  private def field(r: Random, lo: Int, hi: Int, width: Int): String = {
    val top = math.pow(10, width).toInt - 1
    val v = r.nextInt(10) match {
      case 0 => math.max(lo - 1, 0)
      case 1 => math.min(hi + 1 + r.nextInt(3), top)
      case 2 => r.nextInt(top + 1)
      case _ => lo + r.nextInt(hi - lo + 1)
    }
    s"%0${width}d".format(v)
  }

  /** A seeded timestamp string: mostly one of the two exact shapes,
    * with every field sometimes out of its strict range (month 00 or
    * ≥ 13, day 00 or ≥ 32, hour ≥ 24, minute/second ≥ 60, offset
    * hh > 23 or mm > 59) and years 0000–1599 and 9999; sometimes a
    * near miss of the shapes. */
  private def timestamp(r: Random): String = {
    val year = r.nextInt(20) match {
      case 0 | 1 | 2 => r.nextInt(1600)
      case 3 => 9999
      case 4 => 1599 + r.nextInt(2)
      case _ => 1600 + r.nextInt(8400)
    }
    val body = f"$year%04d-${field(r, 1, 12, 2)}-${field(r, 1, 31, 2)}T" +
      s"${field(r, 0, 23, 2)}:${field(r, 0, 59, 2)}:${field(r, 0, 59, 2)}." +
      field(r, 0, 999, 3)
    r.nextInt(10) match {
      case 0 => body + Seq("-0130", "z", "Z ", "+01", "+01:30", "")(r.nextInt(6))
      case 1 | 2 | 3 | 4 => body + "Z"
      case _ => body + "+" + field(r, 0, 23, 2) + field(r, 0, 59, 2)
    }
  }

  test("timestamp codec agrees with SimpleDateFormat on 120k seeded strings") {
    val r = new Random(20240611L)
    val n = 120000
    var coded = 0
    (0 until n).foreach { _ =>
      val s = timestamp(r)
      val ref = outcome(SdfReference.parseValidDateTime(s).getTime)
      assert(outcome(Validator.parseValidDateTime(s).getTime) == ref, s)
      assert(outcome(Validator.formatToOutgoing(s)) ==
        outcome(SdfReference.formatToOutgoing(s)), s)
      val doc = s"""{"d": "$s", "a": ["$s", ["$s"]], "m": {"$$date": "$s"}}"""
      def wrapped(wrap: ObjectNode => Unit) = outcome {
        val node = mapper.readTree(doc).asInstanceOf[ObjectNode]
        wrap(node)
        mapper.writeValueAsString(node)
      }
      assert(wrapped(Validator.wrapDatesInTree(_)) ==
        wrapped(SdfReference.wrapDatesInTree(_)), s)
      if (ref.isRight) coded += 1
    }
    // both sides of the codec's split are exercised
    assert(coded > n / 2 && coded < n, s"$coded of $n parse")
  }

  /** A seeded document: dates (exact-shape, out-of-range and not) as
    * strings, `$date` objects and array elements at several depths, an
    * object `_id` with unsorted keys and doubles, a scalar `_id` or
    * none. */
  private def document(r: Random): String = {
    val doc = mapper.createObjectNode()
    def scalar(o: ObjectNode, k: String): Unit = r.nextInt(6) match {
      case 0 => o.put(k, r.nextDouble() * math.pow(10, r.nextInt(40) - 20))
      case 1 => o.put(k, Seq(-0.0, 1.0, 1e21, 2.5e-7, 123456789.125)(r.nextInt(5)))
      case 2 => o.put(k, r.nextLong())
      case 3 => o.put(k, timestamp(r))
      case 4 => o.putObject(k).put("$date", timestamp(r))
      case _ => o.put(k, r.alphanumeric.take(r.nextInt(8)).mkString)
    }
    def fill(o: ObjectNode, depth: Int): Unit =
      (0 until 1 + r.nextInt(4)).foreach { i =>
        val k = s"${('a' + r.nextInt(26)).toChar}$i"
        r.nextInt(5) match {
          case 0 if depth < 3 => fill(o.putObject(k), depth + 1)
          case 1 if depth < 3 =>
            val arr = o.putArray(k)
            (0 until r.nextInt(4)).foreach { _ =>
              r.nextInt(4) match {
                case 0 => arr.add(timestamp(r))
                case 1 => fill(arr.addObject(), depth + 1)
                case 2 => arr.addArray().add(timestamp(r))
                case _ => arr.add(r.nextDouble())
              }
            }
          case _ => scalar(o, k)
        }
      }
    r.nextInt(4) match {
      case 0 => ()
      case 1 => doc.put("_id", r.alphanumeric.take(6).mkString)
      case _ => fill(doc.putObject("_id"), 1)
    }
    for (k <- Seq(Validator.LastModifiedField, Validator.CreatedField,
        Validator.RemovedField, Validator.ArchivedField))
      r.nextInt(5) match {
        case 0 => ()
        case 1 => doc.putNull(k)
        case 2 => doc.putObject(k).put("$date", timestamp(r))
        case _ => doc.put(k, timestamp(r))
      }
    fill(doc, 0)
    mapper.writeValueAsString(doc)
  }

  test("validate agrees with the SimpleDateFormat reference on 12k seeded documents") {
    val r = new Random(7L)
    var right = 0
    (0 until 12000).foreach { _ =>
      val doc = document(r)
      val rowKey = if (r.nextBoolean()) """{"id":"42"}""" else """{"b":"2","a":1.5}"""
      val snapshotType = if (r.nextBoolean()) "full" else "incremental"
      val got = Validator.validate(doc, rowKey, 1000L, "db", "coll", "O", "I", snapshotType)
      assert(got == SdfReference.validate(doc, rowKey, 1000L, "db", "coll", "O", "I",
        snapshotType), doc)
      if (got.isRight) right += 1
    }
    assert(right > 3000 && right < 12000, s"$right of 12000 validate")
  }
}

/** The `SimpleDateFormat` implementation of the timestamp paths and of
  * [[Validator.validate]] that the `java.time` codec replaced, kept as the
  * differential reference: regex-gated, lenient, UTC-pinned, and ids
  * canonicalized by serialize → re-parse → sort. Single-threaded. */
private object SdfReference {

  private val mapper = new ObjectMapper()
  private val incomingRe =
    """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}\+\d{4}""".r
  private val outgoingRe =
    """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z""".r
  private def fmt(pattern: String): SimpleDateFormat = {
    val f = new SimpleDateFormat(pattern)
    f.setTimeZone(TimeZone.getTimeZone("UTC"))
    f
  }
  private val in = fmt(Validator.IncomingFormat)
  private val out = fmt(Validator.OutgoingFormat)

  def parseValidDateTime(s: String): Date =
    try in.parse(s)
    catch {
      case _: Exception =>
        try out.parse(s)
        catch {
          case _: Exception => throw new ParseException(
            s"Unparseable date found: '$s', did not match any supported date formats", 0)
        }
    }

  def formatToOutgoing(s: String): String = out.format(parseValidDateTime(s))

  private def parsedDate(s: String): Option[Date] = s match {
    case incomingRe() => Some(in.parse(s))
    case outgoingRe() => Some(out.parse(s))
    case _ => None
  }

  private def dateObject(d: Date): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put(Validator.DateField, out.format(d))
    o
  }

  def wrapDatesInTree(obj: ObjectNode, includeLastModified: Boolean = true): Unit =
    obj.fieldNames().asScala.toSeq
      .filter(k => k != Validator.LastModifiedField || includeLastModified)
      .foreach { key =>
        obj.get(key) match {
          case c if c != null && c.isObject && c.size() == 1 &&
              c.get(Validator.DateField) != null && c.get(Validator.DateField).isValueNode =>
            val o = c.asInstanceOf[ObjectNode]
            parsedDate(o.get(Validator.DateField).asText()).foreach { d =>
              o.remove(Validator.DateField)
              o.put(Validator.DateField, out.format(d))
            }
          case c: ObjectNode => wrapDatesInTree(c)
          case c: ArrayNode => processArray(c)
          case c if c != null && c.isTextual =>
            parsedDate(c.asText()).foreach(d => obj.set[JsonNode](key, dateObject(d)))
          case _ => ()
        }
      }

  private def processArray(arr: ArrayNode): Unit =
    (0 until arr.size()).foreach { i =>
      arr.get(i) match {
        case v: ObjectNode => wrapDatesInTree(v)
        case v: ArrayNode => processArray(v)
        case v if v.isTextual => parsedDate(v.asText()).foreach(d => arr.set(i, dateObject(d)))
        case _ => ()
      }
    }

  private def timestampAsLong(created: String, lastModified: String,
      snapshotType: String): Long = {
    val (preferred, fallback) =
      if (snapshotType == "full") (created, lastModified) else (lastModified, created)
    try parseValidDateTime(preferred).getTime
    catch { case _: ParseException => parseValidDateTime(fallback).getTime }
  }

  private def replaceWithKeyValuePair(obj: ObjectNode, keyToReplace: String,
      newKey: String, value: String): Unit = {
    val n = mapper.createObjectNode()
    n.put(newKey, value)
    obj.remove(keyToReplace)
    obj.set[JsonNode](keyToReplace, n)
  }

  private def elementAsString(n: JsonNode): String =
    if (n.isObject) Validator.sortJsonByKey(mapper.writeValueAsString(n))
    else n.asText()

  def validate(decrypted: String, hbaseIdJson: String, cellTimestamp: Long,
      db: String, collection: String, outerType: String, innerType: String,
      snapshotType: String): Either[String, Validator.Validated] =
    try {
      val parsed = mapper.readTree(decrypted)
      if (parsed == null || !parsed.isObject) Left("not a JSON object")
      else {
        val obj = parsed.asInstanceOf[ObjectNode]
        val manifestTs =
          if (snapshotType == "full") cellTimestamp
          else {
            val created = Validator.retrieveDateTimeElement(Validator.CreatedField, obj)
            val lastMod = Validator.retrieveDateTimeElement(Validator.LastModifiedField, obj)
            try timestampAsLong(created, lastMod, snapshotType)
            catch { case _: ParseException => cellTimestamp }
          }
        replaceWithKeyValuePair(obj, Validator.LastModifiedField, Validator.DateField,
          formatToOutgoing(Validator.retrieveLastModifiedDateTime(obj)))
        wrapDatesInTree(obj, includeLastModified = false)
        if (obj.has(Validator.ArchivedField) && obj.has(Validator.RemovedField))
          obj.remove(Validator.ArchivedField)
        val manifest = Option(obj.get("_id")) match {
          case Some(idEl) =>
            val originalId = elementAsString(idEl)
            if (idEl.isValueNode)
              replaceWithKeyValuePair(obj, "_id", Validator.OidField, idEl.asText())
            Validator.Manifest(elementAsString(obj.get("_id")), manifestTs, db,
              collection, "EXPORT", outerType, innerType, originalId)
          case None =>
            val (original, altered) = Validator.reverseEngineerId(hbaseIdJson)
            Validator.Manifest(altered, manifestTs, db, collection, "EXPORT",
              outerType, innerType, original)
        }
        Right(Validator.Validated(mapper.writeValueAsString(obj), manifest))
      }
    } catch {
      case e: Exception => Left(Option(e.getMessage).getOrElse(e.getClass.getName))
    }
}
