package graft.pipeline

import java.text.{ParseException, SimpleDateFormat}
import java.time.{DateTimeException, Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Date, TimeZone}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Validation / normalization semantics of the reference's Validator +
  * DateWrapper + JsonUtils + IdUtility, re-expressed as pure Scala
  * functions over Jackson trees (Jackson ships with Spark; nulls are
  * serialized by default, matching the reference's
  * `GsonBuilder().serializeNulls()` — reference: app/batch/Validator.kt:29).
  *
  * The pipeline calls [[Validator.validate]] from a UDF — a JSON-tree
  * rewrite is genuinely opaque to Catalyst (SURVEY §7.3), so a UDF is
  * the honest physical form; everything around it stays columnar.
  *
  * Timestamps go through one codec. A fixed-position shape check
  * accepts exactly the language of the reference's two full-match
  * regexes: ASCII digits in the shape `yyyy-MM-ddTHH:mm:ss.SSS`
  * followed by `Z` (24 chars) or `+dddd` (28 chars). An exact-shape
  * string whose fields are all in their strict ranges (month 1–12,
  * day within its month, hour ≤ 23, minute and second ≤ 59, offset
  * hours ≤ 23 and minutes ≤ 59) and whose year is ≥ 1600 — Gregorian
  * under both `GregorianCalendar` and `java.time`, even after the
  * offset shifts it back into 1599 — is decoded with a strict
  * `java.time.LocalDateTime` and formatted with a `DateTimeFormatter`
  * of the outgoing pattern. Every other string takes the reference's
  * lenient `SimpleDateFormat` path, which alone reproduces roll-over
  * (month 13, hour 24, …), the Julian calendar before the 1582
  * cutover, the `ParseException` for an offset past +2359, and, for
  * strings of neither exact shape, the prefix and variable-width
  * parse of [[parseValidDateTime]]. The split is chosen by the input
  * alone and gives the same result on both sides of it.
  */
object Validator {

  private val mapper = new ObjectMapper()

  val LastModifiedField = "_lastModifiedDateTime"
  val CreatedField = "createdDateTime"
  val RemovedField = "_removedDateTime"
  val ArchivedField = "_archivedDateTime"
  val DateField = "$date"
  val Epoch = "1980-01-01T00:00:00.000Z"

  /** Reference accepts exactly two timestamp shapes
    * (Validator.kt:24-27). */
  val IncomingFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSZZZZ"
  val OutgoingFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  // The two exact shapes gating date wrapping (the reference's
  // full-match regexes, DateWrapper.kt:101-107); '0' stands for one
  // ASCII digit.
  private val IncomingShape = "0000-00-00T00:00:00.000+0000"
  private val OutgoingShape = "0000-00-00T00:00:00.000Z"

  // SimpleDateFormat is not thread-safe; executors run many task
  // threads, so formatters are per-thread. Output is pinned to UTC for
  // determinism (the reference formats in the JVM default zone, UTC in
  // its deployment).
  private def fmt(pattern: String): SimpleDateFormat = {
    val f = new SimpleDateFormat(pattern)
    f.setTimeZone(TimeZone.getTimeZone("UTC"))
    // leniency deliberately left at the SimpleDateFormat default, like
    // the reference — a regex-gated rolled-over date wraps, not skips
    f
  }
  private val formats = ThreadLocal.withInitial[(SimpleDateFormat, SimpleDateFormat)](
    () => (fmt(IncomingFormat), fmt(OutgoingFormat)))

  private def hasShape(s: String, shape: String): Boolean =
    s.length == shape.length && {
      var i = 0
      while (i < shape.length && {
          val c = s.charAt(i)
          if (shape.charAt(i) == '0') c >= '0' && c <= '9' else c == shape.charAt(i)
        }) i += 1
      i == shape.length
    }

  /** The value of the ASCII digits `s(from until until)`. */
  private def digits(s: String, from: Int, until: Int): Int = {
    var v = 0
    var i = from
    while (i < until) { v = v * 10 + (s.charAt(i) - '0'); i += 1 }
    v
  }

  /** Marks a string outside the codec's domain. */
  private final val Uncoded = Long.MinValue

  /** Epoch millis of an exact-shape timestamp in the codec's domain
    * (strict fields, year ≥ 1600), else [[Uncoded]]. The offset is
    * read by hand because `java.time` offsets stop at ±18:00, while
    * the incoming shape allows up to +2359. */
  private def codedMillis(s: String): Long = {
    val offset = // minutes east of UTC, or -1 when not coded
      if (hasShape(s, OutgoingShape)) 0
      else if (hasShape(s, IncomingShape)) {
        val hh = digits(s, 24, 26)
        val mm = digits(s, 26, 28)
        if (hh > 23 || mm > 59) -1 else hh * 60 + mm
      } else -1
    if (offset < 0 || digits(s, 0, 4) < 1600) Uncoded
    else
      try LocalDateTime.of(digits(s, 0, 4), digits(s, 5, 7), digits(s, 8, 10),
          digits(s, 11, 13), digits(s, 14, 16), digits(s, 17, 19))
        .toEpochSecond(ZoneOffset.UTC) * 1000L + digits(s, 20, 23) - offset * 60000L
      catch { case _: DateTimeException => Uncoded }
  }

  // thread-safe, unlike SimpleDateFormat
  private val outgoing = DateTimeFormatter.ofPattern(OutgoingFormat).withZone(ZoneOffset.UTC)

  /** The outgoing shape of a codec-domain instant (year 1599–9999). */
  private def formatCoded(millis: Long): String =
    outgoing.format(Instant.ofEpochMilli(millis))

  /** Dual-format fallback parse (Validator.kt:153-163); throws
    * ParseException when neither format matches. */
  def parseValidDateTime(s: String): Date = {
    val millis = codedMillis(s)
    if (millis != Uncoded) new Date(millis)
    else {
      val (in, out) = formats.get()
      try in.parse(s)
      catch {
        case _: Exception =>
          try out.parse(s)
          catch {
            case _: Exception => throw new ParseException(
              s"Unparseable date found: '$s', did not match any supported date formats", 0)
          }
      }
    }
  }

  /** Reformat any accepted timestamp to the outgoing
    * `yyyy-MM-dd'T'HH:mm:ss.SSS'Z'` shape (Validator.kt:165-170). */
  def formatToOutgoing(s: String): String = {
    val millis = codedMillis(s)
    if (millis != Uncoded) formatCoded(millis)
    else formats.get()._2.format(parseValidDateTime(s))
  }

  /** Shape-gated reformat used by the recursive wrapper
    * (DateWrapper.kt:89-99): the outgoing form of a date-shaped
    * string, None when the string is not date-shaped. */
  private def wrappedDate(s: String): Option[String] = {
    val millis = codedMillis(s)
    if (millis != Uncoded) Some(formatCoded(millis))
    else {
      val (in, out) = formats.get()
      if (hasShape(s, IncomingShape)) Some(out.format(in.parse(s)))
      else if (hasShape(s, OutgoingShape)) Some(out.format(out.parse(s)))
      else None
    }
  }

  /** Manifest timestamp preference flips with snapshot type
    * (Validator.kt:172-193): full prefers createdDateTime, incremental
    * prefers _lastModifiedDateTime; parse failure falls back. */
  def timestampAsLong(createdDateTime: String, lastModifiedDateTime: String,
      snapshotType: String): Long = {
    val (preferred, fallback) =
      if (snapshotType == "full") (createdDateTime, lastModifiedDateTime)
      else (lastModifiedDateTime, createdDateTime)
    try parseValidDateTime(preferred).getTime
    catch { case _: ParseException => parseValidDateTime(fallback).getTime }
  }

  // --------------------------------------------------- canonical JSON

  /** Key-sorted (top level only) compact serialization — the
    * reference's id canonicalization (app/utils/JsonUtils.kt:7-14 uses
    * Klaxon `toSortedMap`, which sorts only the outer object). */
  def sortJsonByKey(unsorted: String): String =
    mapper.writeValueAsString(
      sortedByKey(mapper.readTree(unsorted).asInstanceOf[ObjectNode]))

  /** A new node holding `node`'s top-level fields in key order. */
  private def sortedByKey(node: JsonNode): ObjectNode = {
    val sorted = mapper.createObjectNode()
    node.fieldNames().asScala.toSeq.sorted.foreach { k =>
      sorted.set[JsonNode](k, node.get(k))
    }
    sorted
  }

  /** Recover (originalId, canonicalId) from the printable row-key JSON
    * when the payload has no `_id` (app/utils/IdUtility.kt:7-18). */
  def reverseEngineerId(hbaseIdJson: String): (String, String) = {
    val node = mapper.readTree(hbaseIdJson).asInstanceOf[ObjectNode]
    val scalar = node.size() == 1 && node.has("id")
    if (scalar) {
      val id = node.get("id").asText()
      val oid = mapper.createObjectNode()
      oid.put(OidField, id)
      (id, sortJsonByKey(mapper.writeValueAsString(oid)))
    } else {
      val sorted = sortJsonByKey(mapper.writeValueAsString(node))
      (sorted, sorted)
    }
  }
  val OidField = "$oid"

  // ------------------------------------------------- recursive wrapper

  /** Recursive `$date` wrapping (app/utils/DateWrapper.kt:11-107):
    * every date-shaped string anywhere in the tree (incl. arrays)
    * becomes `{"$date": <outgoing-format>}`; existing one-key
    * `{"$date": primitive}` objects are reformatted in place. The
    * top-level `_lastModifiedDateTime` is skipped when
    * `includeLastModified=false` (the validator wraps it itself). */
  def wrapDatesInTree(obj: ObjectNode, includeLastModified: Boolean = true): Unit = {
    obj.fieldNames().asScala.toSeq
      .filter(k => k != LastModifiedField || includeLastModified)
      .foreach { key => processElement(obj, key, obj.get(key)) }
  }

  private def isMongoDateObject(n: JsonNode): Boolean =
    n != null && n.isObject && n.size() == 1 && n.get(DateField) != null &&
      n.get(DateField).isValueNode

  private def processElement(parent: ObjectNode, key: String, child: JsonNode): Unit =
    child match {
      case c if isMongoDateObject(c) => processMongoDate(c.asInstanceOf[ObjectNode])
      case c: ObjectNode => wrapDatesInTree(c)
      case c: ArrayNode => processArray(c)
      case c if c != null && c.isTextual =>
        wrappedDate(c.asText()).foreach { d =>
          parent.set[JsonNode](key, dateObject(d))
        }
      case _ => ()
    }

  private def processMongoDate(dateObj: ObjectNode): Unit = {
    val ts = dateObj.get(DateField).asText()
    wrappedDate(ts).foreach { d =>
      dateObj.remove(DateField)
      dateObj.put(DateField, d)
    }
  }

  private def processArray(arr: ArrayNode): Unit =
    (0 until arr.size()).foreach { i =>
      arr.get(i) match {
        case v: ObjectNode => wrapDatesInTree(v)
        case v: ArrayNode => processArray(v)
        case v if v.isTextual =>
          wrappedDate(v.asText()).foreach(d => arr.set(i, dateObject(d)))
        case _ => ()
      }
    }

  private def dateObject(outgoing: String): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put(DateField, outgoing)
    o
  }

  // ------------------------------------------------------ field logic

  /** `$date`-aware field fetch (Validator.kt:131-151). */
  def retrieveDateTimeElement(key: String, obj: ObjectNode): String = {
    val el = obj.get(key)
    if (el == null || el.isNull) ""
    else if (el.isObject) {
      val sub = el.get(DateField)
      if (sub != null && !sub.isNull) sub.asText() else ""
    } else el.asText()
  }

  /** Fallback chain `_lastModifiedDateTime` → `_removedDateTime` →
    * `createdDateTime` → epoch (Validator.kt:114-129). */
  def retrieveLastModifiedDateTime(obj: ObjectNode): String = {
    val lm = retrieveDateTimeElement(LastModifiedField, obj)
    val rm = retrieveDateTimeElement(RemovedField, obj)
    val cr = retrieveDateTimeElement(CreatedField, obj)
    if (lm.trim.nonEmpty) lm
    else if (rm.trim.nonEmpty) rm
    else if (cr.trim.nonEmpty) cr
    else Epoch
  }

  private def replaceWithKeyValuePair(obj: ObjectNode, keyToReplace: String,
      newKey: String, value: String): Unit = {
    val n = mapper.createObjectNode()
    n.put(newKey, value)
    obj.remove(keyToReplace)
    obj.set[JsonNode](keyToReplace, n)
  }

  /** An object node's [[sortJsonByKey]] form, built from the node
    * itself rather than a serialize → re-parse round trip. */
  private def elementAsString(n: JsonNode): String =
    if (n.isObject) mapper.writeValueAsString(sortedByKey(n))
    else n.asText()

  // ------------------------------------------------------ entry point

  final case class Manifest(id: String, timestamp: Long, db: String,
      collection: String, source: String, outerSource: String,
      innerSource: String, originalId: String)

  final case class Validated(doc: String, manifest: Manifest)

  /** Manifest timestamp for one record. `full` snapshots stamp the
    * cell timestamp — the reference's PRODUCTION path for every
    * snapshot type (ManifestRecord always carries `item.timestamp`,
    * Validator.kt:53/60). For `incremental` this implements the
    * reference's `timestampAsLong` preference order (Validator.kt:
    * 172-193) — document `_lastModifiedDateTime` first, then
    * `createdDateTime`, then the cell ts — which the reference defines
    * and tests but never wires into its production manifest; we adopt
    * it deliberately (the envelope's lastModified flows through
    * SourceRecord for exactly this purpose), so incremental manifests
    * here are a documented DIVERGENCE from reference production
    * output, not exact parity. */
  def manifestTimestamp(obj: ObjectNode, cellTimestamp: Long,
      snapshotType: String): Long =
    if (snapshotType == "full") cellTimestamp
    else {
      val created = retrieveDateTimeElement(CreatedField, obj)
      val lastMod = retrieveDateTimeElement(LastModifiedField, obj)
      try timestampAsLong(created, lastMod, snapshotType)
      catch { case _: ParseException => cellTimestamp }
    }

  /** Full validation/normalization of one decrypted document
    * (Validator.kt:31-69): parse → wrap `_lastModifiedDateTime` (always
    * added, from the fallback chain) → recursive date wrap → drop
    * `_archivedDateTime` when `_removedDateTime` present → scalar `_id`
    * to `{"$oid"}` → manifest record (canonical ids; missing `_id`
    * reverse-engineered from the row key). Returns Left(reason) for the
    * skip side-channel (BadDecryptedDataException semantics).
    * `snapshotType` flips the manifest timestamp preference
    * (Validator.kt:172-193 — see [[manifestTimestamp]]).
    */
  def validate(decrypted: String, hbaseIdJson: String, cellTimestamp: Long,
      db: String, collection: String, outerType: String,
      innerType: String, snapshotType: String = "full"): Either[String, Validated] =
    try {
      val parsed = mapper.readTree(decrypted)
      if (parsed == null || !parsed.isObject)
        Left(s"not a JSON object")
      else {
        val obj = parsed.asInstanceOf[ObjectNode]

        // manifest ts reads the RAW document fields, pre-wrap
        val manifestTs = manifestTimestamp(obj, cellTimestamp, snapshotType)

        // wrapDates (Validator.kt:79-95)
        val lastModified = retrieveLastModifiedDateTime(obj)
        replaceWithKeyValuePair(obj, LastModifiedField, DateField,
          formatToOutgoing(lastModified))
        wrapDatesInTree(obj, includeLastModified = false)

        if (obj.has(ArchivedField) && obj.has(RemovedField))
          obj.remove(ArchivedField)

        val manifest = Option(obj.get("_id")) match {
          case Some(idEl) =>
            val originalId = elementAsString(idEl)
            if (idEl.isValueNode)
              replaceWithKeyValuePair(obj, "_id", OidField, idEl.asText())
            val newId = elementAsString(obj.get("_id"))
            Manifest(newId, manifestTs, db, collection, "EXPORT",
              outerType, innerType, originalId)
          case None =>
            val (original, altered) = reverseEngineerId(hbaseIdJson)
            Manifest(altered, manifestTs, db, collection, "EXPORT",
              outerType, innerType, original)
        }
        Right(Validated(mapper.writeValueAsString(obj), manifest))
      }
    } catch {
      case e: Exception => Left(Option(e.getMessage).getOrElse(e.getClass.getName))
    }
}
