package graft.expressions

import java.util.Base64

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{KeyService, Transforms, Validator}

/** Static runtime for the custom Catalyst expressions — generated code
  * calls these via the object's static forwarders, so both the
  * interpreted (`nullSafeEval`) and codegen (`doGenCode`) paths share
  * one implementation. All methods return null on failure (the
  * expressions are nullable; errors surface as SQL NULL, which the
  * pipeline's skip side-channel converts to typed skips).
  */
object ExprRuntime {

  /** Canonical (top-level key-sorted) JSON — JsonUtils.kt:7-14. */
  def canonicalJson(json: UTF8String): UTF8String =
    if (json == null) null
    else try UTF8String.fromString(Validator.sortJsonByKey(json.toString))
    catch { case _: Exception => null }

  // Cipher + key-spec instances are reusable across rows after re-init;
  // one per task thread keeps the hot path allocation-free.
  private val localCipher = ThreadLocal.withInitial[Cipher](() =>
    Cipher.getInstance("AES/CTR/NoPadding"))
  private val localKey = new ThreadLocal[(String, SecretKeySpec)]

  private def keySpec(keyB64: String): SecretKeySpec = {
    val cached = localKey.get()
    if (cached != null && cached._1 == keyB64) cached._2
    else {
      val spec = new SecretKeySpec(Base64.getDecoder.decode(keyB64), "AES")
      localKey.set((keyB64, spec))
      spec
    }
  }

  /** Left-to-right float dot product in double — the shared kernel of
    * the interpreted path; codegen emits the same loop inline. Bitwise
    * identical to `aggregate(zip_with(a, b, x*y), 0D, +)` and the
    * DuckDB `list_sum(list_transform(...))` oracle twin — including on
    * ragged pairs: zip_with null-pads unequal lengths, poisoning the
    * sum to NULL, so a length mismatch returns null here too (never an
    * out-of-bounds task kill). Boxed return is interpreted-path only;
    * the generated code inlines a primitive loop with the same guard. */
  def vecDot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(sum)
  }

  /** Decimal-quantized squared L2 distance: Σ_i q6((double(x_i) − c_i)²)
    * accumulated in EXACT micro-units (long), returned as the double
    * value of the DECIMAL(25,6) sum — value-identical (any order) to
    * `SUM(CAST((x−c)*(x−c) AS DECIMAL(25,6)))` in either engine, and to
    * the `aggregate(zip_with(...))` decimal-fold form, because exact
    * decimal addition is associative. q6 replicates Spark's
    * double→decimal cast exactly: shortest-round-trip BigDecimal
    * (`BigDecimal.valueOf`) then setScale(6, HALF_UP). Ragged pair →
    * null (the vecDot convention). Overflow — a per-term micro-unit
    * value above Long.MAX (|x−c| ≳ 3e6) or accumulator wrap — returns
    * null, matching how the DECIMAL(25,6) SUM oracle degrades
    * (overflow → NULL under ANSI-off) instead of crashing or silently
    * wrapping. */
  def l2sqQ6(x: org.apache.spark.sql.catalyst.util.ArrayData,
      c: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != c.numElements()) return null
    var micros = 0L
    var i = 0
    try {
      while (i < n) {
        val d = x.getFloat(i).toDouble - c.getDouble(i)
        micros = Math.addExact(micros,
          java.math.BigDecimal.valueOf(d * d)
            .setScale(6, java.math.RoundingMode.HALF_UP)
            .unscaledValue().longValueExact())
        i += 1
      }
    } catch { case _: ArithmeticException => return null }
    java.lang.Double.valueOf(
      java.math.BigDecimal.valueOf(micros, 6).doubleValue())
  }

  /** SimHash signature over an array of hash ints: bit j of the result
    * is the sign of the per-bit ±1 vote summed over all hashes
    * (Charikar's simhash; the classic near-dup fingerprint of Manku et
    * al., WWW'07). Single pass with a primitive counter array — the
    * per-bit `aggregate()` HOF form costs `bits` interpreted passes
    * over the array per row. `bits` ≤ 63 keeps the result non-negative
    * in signed 64-bit for both engines. Empty array → -1 sentinel
    * (no signal; callers exclude it from banding). */
  def simhash(sh: org.apache.spark.sql.catalyst.util.ArrayData, bits: Int): Long = {
    val n = sh.numElements()
    if (n == 0) return -1L
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = sh.getLong(i)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) >= 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** All k affine MinHash values in ONE pass over the shingle array:
    * min over h of `(a_j * (h % P) + b_j) % P` for each coefficient
    * pair, P = 2^31-1 (products stay < 2^55, overflow-free in signed
    * 64-bit — identical arithmetic to the per-k
    * `array_min(transform(...))` HOF form and the DuckDB twin, which
    * each cost k interpreted passes). Empty input → null, matching
    * `array_min(empty)`. */
  def minhash(sh: org.apache.spark.sql.catalyst.util.ArrayData,
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val k = a.numElements()
    val p = 2147483647L
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val hp = sh.getLong(i) % p
      var j = 0
      while (j < k) {
        val v = (a.getLong(j) * hp + b.getLong(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }

  /** All SRP-LSH band keys in ONE pass over the embedding —
    * `neg` is the per-plane negative-index sets (1-based, ascending),
    * planes grouped into bands of `bitsPerBand` consecutive planes.
    * Arithmetic is EXACTLY the rendered-SQL form both dialects agreed
    * on (`Similarity.srpBandDuck`): a ±1 plane dot is
    * `total − 2·Σ v[neg]` with `total` summed over dims 1..dim
    * ascending and each neg sum accumulated left-to-right in double,
    * so the sign bits are bit-identical to the DuckDB twin. A null or
    * mis-sized embedding returns null (NULL band keys never equi-join
    * — degenerate rows drop out of candidate generation instead of
    * colliding in one all-pairs bucket; the LshBands NULL-band rule).
    *
    * Why native: at (8 bands × 8 bits × 64 dims) the rendered-SQL
    * Spark form is ~2k expression nodes per row and every band
    * self-join duplicates the tree — analysis + codegen dominated the
    * q55 bench (5.5 s at 500 vectors). One expression node with a
    * primitive loop makes plan size O(1) in planes·dims. */
  def srpBands(emb: org.apache.spark.sql.catalyst.util.ArrayData,
      neg: org.apache.spark.sql.catalyst.util.ArrayData,
      dim: Int, bitsPerBand: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    if (emb.numElements() != dim) return null
    var total = 0.0
    var i = 0
    while (i < dim) { total += emb.getFloat(i).toDouble; i += 1 }
    val planes = neg.numElements()
    val bands = planes / bitsPerBand
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var key = 0
      var j = 0
      while (j < bitsPerBand) {
        val idx = neg.getArray(b * bitsPerBand + j)
        val m = idx.numElements()
        var ns = 0.0
        var k = 0
        while (k < m) { ns += emb.getFloat(idx.getInt(k) - 1).toDouble; k += 1 }
        if (total - 2.0 * ns >= 0.0) key += (1 << j)
        j += 1
      }
      out(b) = key
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** AES-CTR decrypt of Base64 ciphertext with Base64 key + IV
    * (AESCipherService.kt:38-44 semantics); null on any failure. */
  def aesCtrDecrypt(key: UTF8String, iv: UTF8String, ct: UTF8String): UTF8String =
    if (key == null || iv == null || ct == null) null
    else try {
      val cipher = localCipher.get()
      cipher.init(Cipher.DECRYPT_MODE, keySpec(key.toString),
        new IvParameterSpec(Base64.getDecoder.decode(iv.toString)))
      UTF8String.fromBytes(
        cipher.doFinal(Base64.getDecoder.decode(ct.toString)))
    } catch { case _: Exception => null }

  // ------------------------------------------- export pipeline stages

  private def str(s: UTF8String): String = if (s == null) null else s.toString
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** [[EnvelopeFields]]: the envelope's `from_json` fields. */
  def envelope(value: UTF8String): InternalRow = EnvelopeReader.read(value)

  /** [[UnwrapKey]]: the record's data key; null on any failure. */
  def unwrapKey(keys: KeyService, kek: UTF8String, encKey: UTF8String): UTF8String =
    try utf8(keys.decryptKey(str(kek), str(encKey)))
    catch { case _: Exception => null }

  /** [[BusinessAudit]]: (lifted document, null) or (null, audit_failed). */
  def businessAudit(decrypted: UTF8String, lastModified: UTF8String): InternalRow =
    Transforms.businessAudit(str(decrypted), str(lastModified)) match {
      case Right(doc) => new GenericInternalRow(Array[Any](utf8(doc), null))
      case Left(_) => new GenericInternalRow(Array[Any](null, utf8("audit_failed")))
    }

  /** [[ValidateRecord]]: the document and manifest columns, or
    * bad_decrypted; null for a null cell timestamp. */
  def validate(snapshotType: String, decrypted: UTF8String, idJson: UTF8String,
      ts: java.lang.Long, db: UTF8String, collection: UTF8String,
      outer: UTF8String, inner: UTF8String): InternalRow =
    if (ts == null) null
    else Validator.validate(str(decrypted), str(idJson), ts, str(db),
        str(collection), str(outer), str(inner), snapshotType) match {
      case Right(v) =>
        val m = v.manifest
        new GenericInternalRow(Array[Any](utf8(v.doc), utf8(m.id), m.timestamp,
          utf8(m.db), utf8(m.collection), utf8(m.source), utf8(m.outerSource),
          utf8(m.innerSource), utf8(m.originalId), null))
      case Left(_) => new GenericInternalRow(Array[Any](null, null, 0L, null,
        null, null, null, null, null, utf8("bad_decrypted")))
    }

  /** [[EqualityWrap]]: `{"message": {...doc, "@type": inner}}`. */
  def equalityWrap(doc: UTF8String, inner: UTF8String): UTF8String =
    utf8(Transforms.equalityWrap(str(doc), str(inner)))
}
