package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Envelope ("Kafka wrapper") parsing: `from_json` with an explicit
  * StructType + projection + mandatory-field skip side-channel —
  * the Spark-first form of the reference's record-at-a-time Gson
  * extraction (app/batch/HBaseResultProcessor.kt:22-67).
  *
  * `message._id` is dynamically shaped (object or scalar —
  * images/hbase/hbase_data.py:85-96) and is declared as a StringType
  * field: Spark's JacksonParser captures a non-string token under a
  * StringType field as its raw JSON text, so the id needs no second
  * `get_json_object` pass. The envelope JSON — the pipeline's widest
  * column — is parsed EXACTLY ONCE per row.
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

  val MessageSchema: StructType = StructType(Seq(
    StructField("db", StringType),
    StructField("collection", StringType),
    StructField("@type", StringType),
    StructField("_id", StringType), // raw JSON text (object or scalar)
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

    // Mandatory-field check in the reference's order
    // (HBaseResultProcessor.kt:44-49). A malformed envelope, an
    // explicit-null / absent / non-object `message` all surface as a
    // NULL message struct from the single from_json pass — the same
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
