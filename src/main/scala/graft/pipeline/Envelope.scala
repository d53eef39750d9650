package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType

import graft.expressions.EnvelopeFields

/** Envelope ("Kafka wrapper") parsing: one native `graft_envelope`
  * expression + projection + mandatory-field skip side-channel — the
  * Spark-first form of the reference's record-at-a-time Gson
  * extraction (app/batch/HBaseResultProcessor.kt:22-67).
  *
  * `graft_envelope(value)` ([[graft.expressions.EnvelopeFields]])
  * returns exactly what `from_json(value, <envelope schema>)` returned
  * for the fields the pipeline reads — outer `@type`; under `message`
  * the `db`, `collection`, `@type`, `_id`, `_lastModifiedDateTime`,
  * `encryption.{keyEncryptionKeyId, encryptedEncryptionKey,
  * initialisationVector}` and `dbObject` — as the same struct shape,
  * in one streaming Jackson pass over the value's UTF-8 bytes that
  * skips every other field. Its `from_json` contract
  * ([[graft.expressions.EnvelopeReader]]): Spark's own parser
  * features (single quotes, `NaN`); the last of duplicate keys wins; a
  * non-string token under a string field is its raw JSON text
  * (`copyCurrentStructure`), so an object `message._id` needs no
  * second pass; malformed JSON, a non-object root, or a `message` /
  * `encryption` of the wrong type give Spark's partial or all-null
  * result and an empty value NULL; invalid UTF-8 reads as U+FFFD, as
  * through Spark's `InputStreamReader`.
  *
  * Skip semantics: rather than throwing per record
  * (MissingFieldException → Spring Batch skip,
  * configuration/JobConfiguration.kt:57-61), the stage emits an `err`
  * column (`missing:<field>` for the first absent mandatory field, in
  * the reference's validation order, HBaseResultProcessor.kt:44-49);
  * downstream stages pass errors through and the pipeline tail splits
  * records from skip accounting. Column expressions only — the parse
  * stays inside whole-stage codegen.
  */
object Envelope {

  /** Topic `db.database.collection` → (database, collection)
    * (reference: app/utils/TextUtils.kt:7-8). */
  private val topicRe = """^(?:\w+\.)?([-\w]+)\.([-\w]+)$""".r
  def topicDbCollection(topic: String): Option[(String, String)] =
    topic match {
      case topicRe(db, coll) => Some((db, coll))
      case _ => None
    }

  // Emptiness by comparison with "", never by `length`: `length` counts
  // the UTF-8 characters of every value on every row, the base64
  // dbObject included, and these checks only need zero versus not.
  private def blankToNull(c: Column): Column = when(c =!= "", c)

  /** Parse a raw scan DataFrame with columns
    * (hbase_id: binary, ts: long, value: string) into SourceRecord
    * columns + `err`. The 4-byte CRC32 key prefix is stripped to give
    * the printable JSON id (reference: Validator.kt:32 copyOfRange). */
  def parse(raw: DataFrame, topic: String): DataFrame = {
    val (topicDb, topicColl) = topicDbCollection(topic)
      .map { case (d, c) => (lit(d), lit(c)) }
      .getOrElse((lit(null).cast(StringType), lit(null).cast(StringType)))

    val msg = col("env.message")
    // one withColumns pass for every env-derived field: each chained
    // withColumn is a full analyzer pass over a growing tree, and this
    // tree is re-analyzed/re-optimized on EVERY micro-batch of the
    // streaming export — collapsing 12 passes to 2 is measurable fixed
    // cost off each one (plan-construction altitude, not semantics)
    val withEnv = raw
      .withColumn("env", ColumnBridge.of(col("value"))(e => EnvelopeFields(e.head)))
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

    // Mandatory-field check in the reference's order
    // (HBaseResultProcessor.kt:44-49). A malformed envelope, an
    // explicit-null / absent / non-object `message` all surface as a
    // NULL message struct from the single envelope pass — the same
    // set the reference's `getAsJsonObject("message")` throws on — so
    // bad-envelope detection needs no second parse of `value`.
    def missing(c: Column): Column = c.isNull || c === ""
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
