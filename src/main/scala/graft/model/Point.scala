package graft.model

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * One data point of one series — the engine's single logical relation
 * (reference: lib/openinstrument.proto:72-89; ms timestamps per
 * lib/openinstrument.proto:73-74).
 *
 * `endTs` carries the reference's run-length encoding: a point with
 * `endTs` set means "value held from ts through endTs"
 * (lib/openinstrument.proto:78-79).
 */
final case class Point(
    name: String,
    labels: Map[String, String],
    value_type: String,
    ts: Long,
    dval: Option[Double],
    sval: Option[String],
    end_ts: Option[Long])

object Point {

  /** Canonical at-rest / in-flight schema for point DataFrames. */
  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("labels", MapType(StringType, StringType), nullable = true),
    StructField("value_type", StringType, nullable = true),
    StructField("ts", LongType, nullable = false),
    StructField("dval", DoubleType, nullable = true),
    StructField("sval", StringType, nullable = true),
    StructField("end_ts", LongType, nullable = true)))

  val columns: Seq[String] =
    Seq("name", "labels", "value_type", "ts", "dval", "sval", "end_ts")

  /**
   * Injective series key `name{k=v,...}`, keys sorted. Used as the
   * shuffle / window-partition key everywhere (Spark can't group on a
   * MapType column directly). Separator characters inside the name,
   * keys and values (`\ , = { }`) are backslash-escaped so distinct
   * label maps can never collide (e.g. {"a" -> "1,b=2"} vs
   * {"a" -> "1", "b" -> "2"}); clean values — the overwhelming case —
   * pass through unchanged, so `unkey`-style regex extraction of clean
   * values still works. Entries with a null value are left out; a map
   * whose every value is null keys as `name{}`; a null or empty map
   * keys as `name`; a null name keys as null.
   *
   * One native expression ([[graft.functions.SeriesKey]]): its
   * generated code is one static call to [[keyOf]], so the scan stage
   * that derives the key stays in whole-stage codegen. [[unkeyRow]] is
   * its exact inverse.
   */
  def seriesKey(name: Column, labels: Column): Column =
    GraftBridge.toColumn(graft.functions.SeriesKey(
      GraftBridge.toExpression(name), GraftBridge.toExpression(labels)))

  /** Adds the `skey` series-key column to a canonical point DataFrame. */
  def withSeriesKey(df: DataFrame): DataFrame =
    df.withColumn("skey", seriesKey(col("name"), col("labels")))

  private final val Esc = '\\'.toByte

  private def special(b: Byte): Boolean =
    b == Esc || b == ','.toByte || b == '='.toByte || b == '{'.toByte || b == '}'.toByte

  /** Bytes of `s` once escaped. UTF-8 continuation bytes are never
    * ASCII, so escaping byte-wise escapes exactly the characters. */
  private def escapedLength(s: UTF8String): Int = {
    val n = s.numBytes()
    var e = n
    var i = 0
    while (i < n) { if (special(s.getByte(i))) e += 1; i += 1 }
    e
  }

  /** Writes `s` escaped into `out` at `at`, `len` its [[escapedLength]];
    * returns the next free index. */
  private def putEscaped(s: UTF8String, len: Int, out: Array[Byte], at: Int): Int = {
    val n = s.numBytes()
    if (len == n) s.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + at)
    else {
      var o = at
      var i = 0
      while (i < n) {
        val b = s.getByte(i)
        if (special(b)) { out(o) = Esc; o += 1 }
        out(o) = b; o += 1; i += 1
      }
    }
    at + len
  }

  /** Entry order of the key: by key, then by value with nulls first —
    * the struct ordering `array_sort(map_entries(labels))` used. */
  private def before(keys: ArrayData, vals: ArrayData, i: Int, j: Int): Boolean = {
    val c = keys.getUTF8String(i).compareTo(keys.getUTF8String(j))
    if (c != 0) c < 0
    else if (vals.isNullAt(i)) !vals.isNullAt(j)
    else !vals.isNullAt(j) && vals.getUTF8String(i).compareTo(vals.getUTF8String(j)) < 0
  }

  /** The series key of one row: eval and generated code of
    * [[graft.functions.SeriesKey]]. `name` is non-null; `labels` may
    * be null. Stateless. */
  def keyOf(name: UTF8String, labels: MapData): UTF8String = {
    val n = if (labels == null) 0 else labels.numElements()
    val nameLen = escapedLength(name)
    if (n == 0) {
      val out = new Array[Byte](nameLen)
      putEscaped(name, nameLen, out, 0)
      return UTF8String.fromBytes(out)
    }
    val keys = labels.keyArray()
    val vals = labels.valueArray()
    // insertion sort of entry indices: label maps are small
    val order = new Array[Int](n)
    var i = 0
    while (i < n) {
      var j = i - 1
      while (j >= 0 && before(keys, vals, i, order(j))) { order(j + 1) = order(j); j -= 1 }
      order(j + 1) = i
      i += 1
    }
    // escaped key and value lengths, -1 for a left-out null value
    val kLen = new Array[Int](n)
    val vLen = new Array[Int](n)
    var len = nameLen + 2
    var live = 0
    i = 0
    while (i < n) {
      if (vals.isNullAt(i)) vLen(i) = -1
      else {
        kLen(i) = escapedLength(keys.getUTF8String(i))
        vLen(i) = escapedLength(vals.getUTF8String(i))
        len += kLen(i) + 1 + vLen(i)
        live += 1
      }
      i += 1
    }
    if (live > 1) len += live - 1
    val out = new Array[Byte](len)
    var o = putEscaped(name, nameLen, out, 0)
    out(o) = '{'.toByte; o += 1
    var first = true
    i = 0
    while (i < n) {
      val e = order(i)
      if (vLen(e) >= 0) {
        if (!first) { out(o) = ','.toByte; o += 1 }
        first = false
        o = putEscaped(keys.getUTF8String(e), kLen(e), out, o)
        out(o) = '='.toByte; o += 1
        o = putEscaped(vals.getUTF8String(e), vLen(e), out, o)
      }
      i += 1
    }
    out(o) = '}'.toByte
    UTF8String.fromBytes(out)
  }

  /** `b(from until to)` with each escaping backslash removed. */
  private def unescape(b: Array[Byte], from: Int, to: Int): UTF8String = {
    val out = new Array[Byte](to - from)
    var o = 0
    var i = from
    while (i < to) {
      if (b(i) == Esc && i + 1 < to) i += 1
      out(o) = b(i); o += 1; i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  /** Index of the first byte at or after `from` that is one of
    * `stops` and not escaped, or `b.length`. */
  private def unescapedIndex(b: Array[Byte], from: Int, stops: String): Int = {
    var i = from
    while (i < b.length && stops.indexOf(b(i).toInt) < 0)
      i += (if (b(i) == Esc) 2 else 1)
    math.min(i, b.length)
  }

  /**
   * Exact inverse of [[seriesKey]]: `(name, labels)` as a row of
   * [[graft.functions.ParseVariable.outType]]. The name ends at the
   * first unescaped `{`; entries split on an unescaped `,` and key from
   * value on the first unescaped `=`; one backslash is removed before
   * each escaped byte. A key without labels, or `name{}`, yields an
   * empty map; a token without an unescaped `=` is skipped. Stateless.
   */
  def unkeyRow(skey: UTF8String): InternalRow = {
    val b = skey.getBytes
    val brace = unescapedIndex(b, 0, "{")
    val ks = scala.collection.mutable.ArrayBuffer.empty[Any]
    val vs = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = brace + 1
    while (i < b.length && b(i) != '}'.toByte) {
      val end = unescapedIndex(b, i, ",}")
      val eq = unescapedIndex(b, i, "=,}")
      if (eq < end && b(eq) == '='.toByte) {
        ks += unescape(b, i, eq)
        vs += unescape(b, eq + 1, end)
      }
      i = if (end < b.length && b(end) == ','.toByte) end + 1 else end
    }
    InternalRow(unescape(b, 0, brace),
      new ArrayBasedMapData(new GenericArrayData(ks.toArray), new GenericArrayData(vs.toArray)))
  }

  /** [[unkeyRow]] for a driver-side key string. */
  def unkey(skey: String): (String, Map[String, String]) = {
    val r = unkeyRow(UTF8String.fromString(skey))
    val m = r.getMap(1)
    (r.getUTF8String(0).toString,
      (0 until m.numElements()).map(i =>
        m.keyArray().getUTF8String(i).toString -> m.valueArray().getUTF8String(i).toString).toMap)
  }
}
