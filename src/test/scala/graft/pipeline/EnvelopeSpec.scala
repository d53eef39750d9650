package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** `Envelope.parse`'s native `graft_envelope` extractor against the
  * `from_json` form it replaced ([[EnvelopeSpec.FromJsonReference]]):
  * every one of the 14 output columns, row for row, over a seeded
  * corpus of envelope values built to hit each `from_json` contract
  * case — absent / null / empty / wrongly typed mandatory fields,
  * `message` and `encryption` as a string, array, number or null,
  * `_id` of every JSON type, duplicate keys, unicode escapes, single
  * quotes, `NaN`, extra nested fields, whitespace, truncated and
  * malformed roots, empty values, non-object roots, byte-order marks,
  * NULs and invalid UTF-8. The corpus runs through an RDD-backed
  * relation, so both sides execute as generated code. */
class EnvelopeSpec extends SparkSuite {

  import EnvelopeSpec._

  private val Columns = Seq("hbase_id", "id_json", "id_raw", "ts", "db",
    "collection", "outer_type", "inner_type", "last_modified", "kek_id",
    "enc_key", "iv", "db_object", "err")

  /** Output rows keyed by record number (carried in the row key). */
  private def rows(parsed: DataFrame): Map[Int, Row] =
    parsed.select(Columns.map(c =>
        if (c == "hbase_id") hex(col(c)).as(c) else col(c)): _*)
      .collect().map(r => r.getString(1).filter(_.isDigit).toInt -> r).toMap

  test("graft_envelope equals from_json on all 14 columns over 24k seeded values") {
    val corpus = Corpus.generate(24000, seed = 5101)
    val cases = corpus.map(_._1).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(Corpus.Cases.forall(c => cases.getOrElse(c, 0) >= 200),
      s"case coverage collapsed: $cases")
    val invalidUtf8 = corpus.count { case (_, b) =>
      scala.util.Try(UTF_8.newDecoder().decode(java.nio.ByteBuffer.wrap(b))).isFailure
    }
    assert(invalidUtf8 >= 500, s"only $invalidUtf8 values carry invalid UTF-8")

    val schema = StructType(Seq(StructField("hbase_id", BinaryType),
      StructField("ts", LongType), StructField("value_bytes", BinaryType)))
    val data = corpus.zipWithIndex.map { case ((_, bytes), i) =>
      Row(Array[Byte](1, 2, 3, 4) ++ s"""{"id":"$i"}""".getBytes(UTF_8),
        if (i % 97 == 0) null else java.lang.Long.valueOf(1000L + i), bytes)
    }
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(data.toSeq, 4), schema)
      .withColumn("value", col("value_bytes").cast(StringType))
      .drop("value_bytes")

    // with a topic the db/collection fall back to it; without one
    // (an unparseable topic) their absence is a typed skip
    val errs = Seq("db.topicdb.topiccoll", "no-topic").flatMap { topic =>
      val expected = rows(FromJsonReference.parse(raw, topic))
      val actual = rows(Envelope.parse(raw, topic))
      assert(expected.size == corpus.length && actual.size == corpus.length)
      val diffs = corpus.indices.filter(i => expected(i) != actual(i))
      assert(diffs.isEmpty, s"topic $topic: ${diffs.length} rows differ; first:\n" +
        diffs.take(5).map { i =>
          val (e, a) = (expected(i), actual(i))
          val value = new String(corpus(i)._2, UTF_8)
          s"  [${corpus(i)._1}] value=${value.take(400)}\n    from_json=$e\n    native   =$a"
        }.mkString("\n"))
      actual.values.map(r => Option(r.getString(13)).getOrElse("ok"))
    }.toSet
    // the corpus reaches every err outcome, so the row equality above
    // compares real skip decisions, not one constant
    assert(Set("ok", "bad_envelope", "missing:dbObject", "missing:keyEncryptionKeyId",
      "missing:initializationVector", "missing:encryptedEncryptionKey",
      "missing:db", "missing:collection").subsetOf(errs), s"err outcomes: $errs")
  }

  test("graft_envelope: NULL value gives NULL fields and bad_envelope") {
    import spark.implicits._
    val raw = Seq((Array[Byte](0, 0, 0, 0), 1L, null: String)).toDF("hbase_id", "ts", "value")
    val r = Envelope.parse(raw, "db.d.c").select("outer_type", "db", "err").collect()(0)
    assert(r == Row("TYPE_NOT_SET", "d", "bad_envelope"))
  }
}

object EnvelopeSpec {

  /** The `from_json` form of [[Envelope.parse]] that the native
    * extractor replaced: the reference for the differential test. */
  object FromJsonReference {
    val MessageSchema: StructType = StructType(Seq(
      StructField("db", StringType),
      StructField("collection", StringType),
      StructField("@type", StringType),
      StructField("_id", StringType),
      StructField("_lastModifiedDateTime", StringType),
      StructField("encryption", StructType(Seq(
        StructField("keyEncryptionKeyId", StringType),
        StructField("encryptedEncryptionKey", StringType),
        StructField("initialisationVector", StringType)))),
      StructField("dbObject", StringType)))

    val EnvelopeSchema: StructType = StructType(Seq(
      StructField("traceId", StringType),
      StructField("unitOfWorkId", StringType),
      StructField("@type", StringType),
      StructField("message", MessageSchema),
      StructField("version", StringType),
      StructField("timestamp", StringType)))

    private def blankToNull(c: org.apache.spark.sql.Column) = when(c =!= "", c)

    def parse(raw: DataFrame, topic: String): DataFrame = {
      val (topicDb, topicColl) = Envelope.topicDbCollection(topic)
        .map { case (d, c) => (lit(d), lit(c)) }
        .getOrElse((lit(null).cast(StringType), lit(null).cast(StringType)))
      val msg = col("env.message")
      val withEnv = raw
        .withColumn("env", from_json(col("value"), EnvelopeSchema))
        .withColumns(scala.collection.immutable.ListMap(
          "id_json" ->
            expr("CAST(substring(hbase_id, 5, length(hbase_id) - 4) AS STRING)"),
          "outer_type" ->
            coalesce(blankToNull(trim(col("env").getField("@type"))), lit("TYPE_NOT_SET")),
          "inner_type" ->
            coalesce(blankToNull(trim(msg.getField("@type"))), lit("TYPE_NOT_SET")),
          "last_modified" ->
            coalesce(msg.getField("_lastModifiedDateTime"), lit("")),
          "db" -> coalesce(blankToNull(msg.getField("db")), topicDb),
          "collection" ->
            coalesce(blankToNull(msg.getField("collection")), topicColl),
          "kek_id" -> msg.getField("encryption").getField("keyEncryptionKeyId"),
          "enc_key" -> msg.getField("encryption").getField("encryptedEncryptionKey"),
          "iv" -> msg.getField("encryption").getField("initialisationVector"),
          "db_object" -> msg.getField("dbObject"),
          "id_raw" -> msg.getField("_id")))
      def missing(c: org.apache.spark.sql.Column) = c.isNull || c === ""
      val err =
        when(msg.isNull, "bad_envelope")
          .when(missing(col("db_object")), "missing:dbObject")
          .when(missing(col("kek_id")), "missing:keyEncryptionKeyId")
          .when(missing(col("iv")), "missing:initializationVector")
          .when(missing(col("enc_key")), "missing:encryptedEncryptionKey")
          .when(missing(col("db")), "missing:db")
          .when(missing(col("collection")), "missing:collection")
      withEnv.select(
        col("hbase_id"), col("id_json"), col("id_raw"), col("ts"),
        col("db"), col("collection"), col("outer_type"), col("inner_type"),
        col("last_modified"), col("kek_id"), col("enc_key"), col("iv"),
        col("db_object"), err.as("err"))
    }
  }

  /** A JSON tree the generator mutates, then writes in a random style. */
  sealed trait J
  final case class JObj(fields: Vector[(String, J)]) extends J
  final case class JArr(items: Vector[J]) extends J
  final case class JStr(s: String) extends J
  /** A literal token: number, `true`, `false`, `null`, `NaN`, … */
  final case class JLit(text: String) extends J

  /** The seeded envelope corpus: (case, value bytes). */
  object Corpus {

    val Cases: Seq[String] = Seq(
      "clean", "mandatory_absent", "mandatory_null", "mandatory_empty",
      "mandatory_wrong_type", "message_wrong_type", "encryption_wrong_type",
      "id_variant", "duplicate_keys", "unicode", "single_quotes",
      "non_numeric", "extra_nested", "whitespace", "truncated",
      "malformed", "empty", "non_object_root", "invalid_utf8",
      "bom_or_nul", "trailing", "mixed")

    private val Mandatory = Seq(
      Seq("message", "dbObject"), Seq("message", "encryption", "keyEncryptionKeyId"),
      Seq("message", "encryption", "initialisationVector"),
      Seq("message", "encryption", "encryptedEncryptionKey"),
      Seq("message", "db"), Seq("message", "collection"))
    private val StringPaths = Mandatory ++ Seq(Seq("@type"), Seq("message", "@type"),
      Seq("message", "_id"), Seq("message", "_lastModifiedDateTime"), Seq("traceId"),
      Seq("version"))

    /** Placeholder chars the writer turns into raw invalid UTF-8. */
    private val Invalid: Vector[Array[Int]] = Vector(
      Array(0xff), Array(0xc0, 0x80), Array(0xc1, 0xbf), Array(0xe0, 0x80, 0xaf),
      Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80),
      Array(0xf8, 0x88, 0x80, 0x80, 0x80), Array(0x80), Array(0xc3),
      Array(0xe2, 0x82), Array(0xf0, 0x9f, 0x98), Array(0xfe))
    private def placeholder(k: Int): Char = (0xe000 + k).toChar

    def generate(n: Int, seed: Long): Vector[(String, Array[Byte])] = {
      val r = new Random(seed)
      Vector.tabulate(n) { i =>
        val c = Cases(i % Cases.size)
        c -> one(c, i, r)
      }
    }

    private def word(r: Random): String = {
      val pool = Seq("db-1", "coll_2", "OUTER", "INNER", "x", "2018-12-14T15:01:02.000+0000",
        "AbC/+9==", "k-id", "é", "日本", "😀", "tab\there", "quote\"q", "back\\s",
        "new\nline", "   ", " padded ", "a'b")
      pool(r.nextInt(pool.size)) + (if (r.nextBoolean()) r.nextInt(1000).toString else "")
    }

    private def idValue(r: Random): J = r.nextInt(7) match {
      case 0 => JObj(Vector("record_id" -> JStr(word(r)), "n" -> JLit("1.10"),
        "b" -> JObj(Vector("z" -> JLit("true"), "a" -> JArr(Vector(JLit("1e5"), JLit("null")))))))
      case 1 => JArr(Vector(JLit("1"), JStr("two"), JObj(Vector("k" -> JLit("-0.0")))))
      case 2 => JLit(Seq("123", "-7", "1.5E3", "12345678901234567890123", "0.1")(r.nextInt(5)))
      case 3 => JLit(if (r.nextBoolean()) "true" else "false")
      case 4 => JStr("\"quoted\" \\ id\u0001\n")
      case 5 => JObj(Vector())
      case _ => JStr(word(r))
    }

    private def wrongType(r: Random): J = r.nextInt(5) match {
      case 0 => JLit(Seq("42", "-1.25", "true", "false")(r.nextInt(4)))
      case 1 => JObj(Vector("nested" -> JStr(word(r)), "n" -> JLit("7")))
      case 2 => JArr(Vector(JStr(word(r)), JLit("3")))
      case 3 => JArr(Vector())
      case _ => JLit("NaN")
    }

    private def notAnObject(r: Random): J = r.nextInt(6) match {
      case 0 => JStr(word(r))
      case 1 => JArr(Vector(JObj(Vector("db" -> JStr("d")))))
      case 2 => JLit("17")
      case 3 => JLit("null")
      case 4 => JStr("")
      case _ => JLit("true")
    }

    private def base(r: Random, i: Int): JObj = {
      def s(v: String) = JStr(v)
      JObj(Vector(
        "traceId" -> s(s"t$i"), "unitOfWorkId" -> s(s"u$i"), "@type" -> s(word(r)),
        "message" -> JObj(Vector(
          "db" -> s(word(r)), "collection" -> s(word(r)), "_id" -> idValue(r),
          "_timeBasedHash" -> s("hash"), "@type" -> s(word(r)),
          "_lastModifiedDateTime" -> s("2018-12-14T15:01:02.000+0000"),
          "encryption" -> JObj(Vector(
            "encryptionKeyId" -> s(""), "encryptedEncryptionKey" -> s(word(r)),
            "initialisationVector" -> s(word(r)), "keyEncryptionKeyId" -> s(word(r)))),
          "dbObject" -> s(word(r)))),
        "version" -> s("core-4"), "timestamp" -> s("2019-07-04T07:27:35.104+0000")))
    }

    /** `doc` with `f` applied at `path` (the field's value, or None to
      * remove it); a missing parent is left alone. */
    private def at(doc: J, path: Seq[String], f: Option[J] => Option[J]): J =
      (doc, path) match {
        case (JObj(fs), Seq(k)) =>
          val i = fs.lastIndexWhere(_._1 == k)
          if (i < 0) f(None).fold(doc)(v => JObj(fs :+ (k -> v)))
          else f(Some(fs(i)._2)).fold(JObj(fs.patch(i, Nil, 1)))(v => JObj(fs.updated(i, k -> v)))
        case (JObj(fs), k +: rest) =>
          val i = fs.lastIndexWhere(_._1 == k)
          if (i < 0) doc else JObj(fs.updated(i, k -> at(fs(i)._2, rest, f)))
        case _ => doc
      }

    private def set(doc: J, path: Seq[String], v: J) = at(doc, path, _ => Some(v))

    private def duplicate(doc: J, path: Seq[String], v: J): J = (doc, path) match {
      case (JObj(fs), Seq(k)) => JObj(fs :+ (k -> v))
      case (JObj(fs), k +: rest) =>
        val i = fs.lastIndexWhere(_._1 == k)
        if (i < 0) doc else JObj(fs.updated(i, k -> duplicate(fs(i)._2, rest, v)))
      case _ => doc
    }

    private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

    private def one(c: String, i: Int, r: Random): Array[Byte] = {
      var doc: J = base(r, i)
      val style = Style(r)
      def mutate(kind: String): Unit = kind match {
        case "mandatory_absent" => doc = at(doc, pick(r, Mandatory), _ => None)
        case "mandatory_null" => doc = set(doc, pick(r, Mandatory), JLit("null"))
        case "mandatory_empty" => doc = set(doc, pick(r, Mandatory), JStr(""))
        case "mandatory_wrong_type" => doc = set(doc, pick(r, StringPaths), wrongType(r))
        case "message_wrong_type" => doc = set(doc, Seq("message"), notAnObject(r))
        case "encryption_wrong_type" =>
          doc = set(doc, Seq("message", "encryption"), notAnObject(r))
        case "id_variant" => doc = set(doc, Seq("message", "_id"), idValue(r))
        case "duplicate_keys" =>
          val path = pick(r, StringPaths ++ Seq(Seq("message"), Seq("message", "encryption")))
          val v = if (path.last == "message" || path.last == "encryption") {
            if (r.nextBoolean()) notAnObject(r)
            else JObj(Vector("db" -> JStr("dup"), "keyEncryptionKeyId" -> JStr("dupk")))
          } else if (r.nextInt(3) == 0) wrongType(r) else JStr(word(r))
          doc = duplicate(doc, path, v)
        case "unicode" => doc = set(doc, pick(r, StringPaths),
          JStr(pick(r, Seq("é", "é́", "😀x", "\ud800", "\udc00z", "日本語", "\u0000", " "))))
        case "extra_nested" =>
          val path = pick(r, Seq(Seq("extra"), Seq("message", "extra"),
            Seq("message", "encryption", "extra")))
          val extra = JObj(Vector(
            "a" -> JArr(Vector(JObj(Vector("db" -> JStr("no"))))),
            "message" -> JObj(Vector("db" -> JStr("deep"))),
            "n" -> JLit("NaN")))
          doc = set(doc, path, extra)
        case "non_numeric" => doc = set(doc, pick(r, StringPaths),
          JLit(pick(r, Seq("NaN", "Infinity", "-Infinity", "+Infinity", "1e400", "-0"))))
        case "invalid_utf8" => doc = set(doc, pick(r, StringPaths),
          JStr(word(r).take(3) + placeholder(r.nextInt(Invalid.size)) + "z"))
        case _ =>
      }
      c match {
        case "mixed" => (1 to 1 + r.nextInt(3)).foreach(_ =>
          mutate(pick(r, Cases.filterNot(Set("mixed", "clean")))))
        case other => mutate(other)
      }
      val forced = c match {
        case "single_quotes" => style.copy(singleQuotes = true)
        case "unicode" => style.copy(escapeNonAscii = r.nextBoolean())
        case "whitespace" => style.copy(space = true)
        case _ => style
      }
      var bytes = forced.write(doc)
      c match {
        case "truncated" => bytes = bytes.take(r.nextInt(bytes.length))
        case "malformed" =>
          val at = r.nextInt(bytes.length)
          bytes = bytes.take(at) ++ pick(r, Seq("x", "}", "]", ",", ":", "\"", "\\q", "{{"))
            .getBytes(UTF_8) ++ bytes.drop(at)
        case "empty" => bytes = pick(r, Seq("", " ", "\n\t ", "  {", "{}")).getBytes(UTF_8)
        case "non_object_root" =>
          bytes = pick(r, Seq("[", "[{\"message\":{}}]", "17", "\"str\"", "null", "true",
            "'single'", "NaN")).getBytes(UTF_8)
        case "bom_or_nul" =>
          bytes = if (r.nextBoolean()) Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ bytes
          else if (r.nextBoolean()) Array[Byte](0) ++ bytes
          else bytes.take(2) ++ Array[Byte](0) ++ bytes.drop(2)
        case "trailing" => bytes = bytes ++ pick(r, Seq(" x", "}", "{\"a\":1}", ",", "\u0000"))
          .getBytes(UTF_8)
        case "invalid_utf8" if r.nextInt(4) == 0 =>
          // also outside strings, and a sequence cut by the end
          val at = r.nextInt(bytes.length)
          bytes = bytes.take(at) ++ Invalid(r.nextInt(Invalid.size)).map(_.toByte) ++
            bytes.drop(at)
        case _ =>
      }
      bytes
    }

    /** A random JSON writing style. */
    final case class Style(singleQuotes: Boolean, escapeNonAscii: Boolean,
        space: Boolean) {
      def write(j: J): Array[Byte] = {
        val sb = new StringBuilder
        def ws(): Unit = if (space) sb.append(" \n\t".charAt(sb.length % 3))
        def str(s: String): Unit = {
          val q = if (singleQuotes) '\'' else '"'
          sb.append(q)
          s.indices.foreach { n =>
            val ch = s.charAt(n)
            // a surrogate written raw only as half of a valid pair
            val paired = Character.isSurrogate(ch) &&
              (Character.isHighSurrogate(ch) && n + 1 < s.length &&
                Character.isLowSurrogate(s.charAt(n + 1)) ||
                Character.isLowSurrogate(ch) && n > 0 &&
                Character.isHighSurrogate(s.charAt(n - 1)))
            ch match {
              case '"' if !singleQuotes => sb.append("\\\"")
              case '\'' if singleQuotes => sb.append("\\'")
              case '\\' => sb.append("\\\\")
              case '\n' => sb.append("\\n")
              case '\t' => sb.append("\\t")
              case ch if ch >= 0xe000 && ch < 0xe000 + Invalid.size => sb.append(ch)
              case ch if ch < 0x20 || (escapeNonAscii && ch > 0x7e) ||
                  Character.isSurrogate(ch) && !paired =>
                sb.append(f"\\u${ch.toInt}%04x")
              case ch => sb.append(ch)
            }
          }
          sb.append(q)
        }
        def go(v: J): Unit = v match {
          case JObj(fs) =>
            sb.append('{'); ws()
            fs.zipWithIndex.foreach { case ((k, x), n) =>
              if (n > 0) { sb.append(','); ws() }
              str(k); ws(); sb.append(':'); ws(); go(x)
            }
            ws(); sb.append('}')
          case JArr(xs) =>
            sb.append('[')
            xs.zipWithIndex.foreach { case (x, n) => if (n > 0) sb.append(','); ws(); go(x) }
            sb.append(']')
          case JStr(s) => str(s)
          case JLit(t) => sb.append(t)
        }
        go(j)
        // placeholders become raw invalid UTF-8
        val out = new java.io.ByteArrayOutputStream()
        val text = sb.toString
        var from = 0
        text.indices.foreach { n =>
          val ch = text.charAt(n)
          if (ch >= 0xe000 && ch < 0xe000 + Invalid.size) {
            out.write(text.substring(from, n).getBytes(UTF_8))
            Invalid(ch - 0xe000).foreach(b => out.write(b))
            from = n + 1
          }
        }
        out.write(text.substring(from).getBytes(UTF_8))
        out.toByteArray
      }
    }

    object Style {
      def apply(r: Random): Style = Style(r.nextInt(6) == 0, r.nextInt(6) == 0,
        r.nextInt(4) == 0)
    }
  }
}
