package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Pins the [[graft.sources.PointSource.eventsKeyed]] data contract
 * (r17 VERDICT item: the cheap adapter-built series key is a
 * data-contract optimization — it is bit-identical to the generic
 * [[graft.model.Point.seriesKey]] ONLY while the events domain stays
 * inside the unescaped/single-label envelope; the DuckDB oracle makes
 * the SAME assumption, so it cannot catch a violation by itself).
 *
 * Three pins:
 *  1. generic ≡ cheap over the real events fixture (every SF the
 *     suite verifies from);
 *  2. the exact divergence boundary, documented as executable facts:
 *     a label VALUE containing an escapable char, and a null label
 *     value (the generic key escapes / renders `name{}`; the cheap
 *     key concatenates raw / null-propagates);
 *  3. the fixture actually stays inside the envelope (no escapable
 *     chars in event_type or user_id, no null user_id) — the
 *     precondition that makes pin 1 a theorem rather than luck.
 */
class SeriesKeyContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("eventsKeyed skey is bit-identical to the generic seriesKey on the events fixture") {
    val keyed = graft.sources.PointSource.eventsKeyed(spark, sf)
    val diverging = keyed
      .withColumn("generic",
        graft.model.Point.seriesKey(col("name"), col("labels")))
      .filter(!(col("skey") <=> col("generic")))
      .count()
    assert(diverging == 0L,
      s"$diverging event rows where the cheap adapter key differs from the generic key")
  }

  test("events fixture stays inside the cheap-key envelope (no escapables, no null user)") {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val offenders = raw.filter(
      col("user_id").isNull ||
        col("event_type").rlike("[\\\\,={}]") ||
        col("user_id").cast("string").rlike("[\\\\,={}]")).count()
    assert(offenders == 0L,
      s"$offenders event rows outside the envelope — eventsKeyed's cheap key " +
        "is no longer safe; switch the adapter back to Point.withSeriesKey " +
        "(and fix the oracle CTE, which unescapes the same way)")
  }

  test("divergence boundary: escapable label values split the keys (documented, out of domain)") {
    import spark.implicits._
    val hostile = Seq(("m", "a{b", 1L)).toDF("n", "u", "ts")
      .select(col("n").as("name"),
        map(lit("user"), col("u")).as("labels"))
    val generic = hostile
      .select(graft.model.Point.seriesKey(col("name"), col("labels")).as("k"))
      .head().getString(0)
    val cheap = hostile
      .select(concat(col("name"), lit("{user="),
        element_at(col("labels"), "user"), lit("}")).as("k"))
      .head().getString(0)
    assert(generic == "m{user=a\\{b}")
    assert(cheap == "m{user=a{b}")
    assert(generic != cheap) // the envelope test above is what keeps this out of the data
  }

  test("divergence boundary: null label value (generic renders name{}, cheap null-propagates)") {
    import spark.implicits._
    val nullUser = Seq(("m", 1L)).toDF("n", "ts")
      .select(col("n").as("name"),
        map(lit("user"), lit(null).cast("string")).as("labels"))
    val generic = nullUser
      .select(graft.model.Point.seriesKey(col("name"), col("labels")).as("k"))
      .head().getString(0)
    val cheap = nullUser
      .select(concat(col("name"), lit("{user="),
        element_at(col("labels"), "user"), lit("}")).as("k"))
      .head()
    assert(generic == "m{}")
    assert(cheap.isNullAt(0)) // the no-null-user envelope pin keeps this out of the data
  }

  /** The key as built-in functions composed it before the native
    * expression: the reference the native key must match byte for
    * byte. */
  private def lambdaKey(name: Column, labels: Column): Column = {
    def esc(c: Column): Column =
      regexp_replace(c, "([\\\\,={}])", "\\\\$1")
    concat(
      esc(name),
      when(size(labels) > 0,
        concat(
          lit("{"),
          concat_ws(",",
            transform(
              array_sort(map_entries(labels)),
              e => concat(esc(e.getField("key")), lit("="), esc(e.getField("value"))))),
          lit("}"))).otherwise(lit("")))
  }

  test("property: the native key equals the lambda form, and its inverse returns name and non-null entries") {
    import spark.implicits._
    val rnd = new scala.util.Random(1606)
    val alphabet = "ab\\,={}/ é漢"
    def text(max: Int) =
      Seq.fill(rnd.nextInt(max + 1))(alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = (0 until 400).map { i =>
      val labels = rnd.nextInt(6) match {
        case 0 => None
        case 1 => Some(Map.empty[String, String])
        case _ => Some((0 until 1 + rnd.nextInt(4)).map { _ =>
          text(4) -> (if (rnd.nextInt(5) == 0) null else text(5))
        }.toMap)
      }
      (i, if (i % 50 == 0) null else text(8), labels)
    }
    val local = rows.toDF("id", "name", "labels")
    // a parquet round trip puts the key in generated code; the local
    // relation evaluates it on the driver
    val dir = java.nio.file.Files.createTempDirectory("graft_skey_prop").toString + "/p"
    local.write.parquet(dir)
    val want = rows.map { case (i, n, l) =>
      i -> (n, l.getOrElse(Map.empty).filter(_._2 != null)) }.toMap
    for (df <- Seq(local, spark.read.parquet(dir))) {
      val got = df
        .select(col("id"),
          graft.model.Point.seriesKey(col("name"), col("labels")).as("k"),
          lambdaKey(col("name"), col("labels")).as("ref"))
        .withColumn("v", graft.functions.ParseVariable.parseVariable(col("k")))
        .select(col("id"), col("k"), col("ref"), col("v.name"), col("v.labels"))
        .collect()
      assert(got.length == rows.length)
      got.foreach { r =>
        val id = r.getInt(0)
        assert(r.getString(1) == r.getString(2), s"row $id: ${rows(id)}")
        if (rows(id)._2 == null) assert(r.isNullAt(1), s"row $id: a null name keys as null")
        else assert((r.getString(3), r.getMap[String, String](4).toMap) == want(id),
          s"row $id: key ${r.getString(1)}")
      }
    }
  }

  test("unkey gives usr \"\" for an skey without {user=, and splits the engine shape") {
    import spark.implicits._
    val rows = SparkEntry.unkey(Seq("/events/click{user=3}", "/events/click",
        "/events/click{host=a}", "{user=7}").toDF("skey"))
      .select("skey", "name", "usr").as[(String, String, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows("/events/click{user=3}") == (("/events/click", "3")))
    assert(rows("/events/click") == (("/events/click", "")))
    assert(rows("/events/click{host=a}") == (("/events/click", "")))
    assert(rows("{user=7}") == (("", "7")))
  }
}
