package graft.osm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Edge cases of the street-name fixer not exercised by shatin.osm,
  * checked against the reference's exact semantics
  * (parse_clean_and_csv.py:380-485). */
class StreetNameFixSpec extends SparkSpec {
  import spark.implicits._

  // official list: two entries
  val officialDf = Seq(
    ("Main Street", "大街"),
    ("Side Road", "小路")).toDF("eng", "chi")
  lazy val byName = OfficialList.byName(officialDf)

  /** Raw way rows (`_id`, `tag`) built from shaped tag tuples
    * (id, key, value, type, tag_pos): each id's tags in tag_pos order, the
    * raw key re-joined from type and key (`regular` → the bare key). */
  def waysDf(rows: (Long, String, String, String, Int)*): DataFrame =
    StreetNameFixSpec.waysDf(spark, rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (id, ts) => (id.toString, ts.sortBy(_._5).map {
        case (_, key, value, tpe, _) =>
          (if (tpe == "regular") key else s"$tpe:$key", value)
      }) })

  def fix(ways: DataFrame) = StreetNameFix.fix(ways, byName)

  test("duplicate name tags: the LAST one wins the version pivot") {
    // two name:en tags; the later (wrong) one decides the lookup — it
    // misses, the zh tag hits → exactly one match → way fixable
    val ways = waysDf(
      (1L, "highway", "residential", "regular", 0),
      (1L, "en", "Main Street", "name", 1),
      (1L, "en", "Wrong Street", "name", 2),
      (1L, "zh", "大街", "name", 3))
    val versions = StreetNameFix.versions(ways)
    val v = versions.collect().head
    assert(v.getAs[String]("en_only") == "Wrong Street")

    val out = fix(ways)
    val enVals = out.filter(col("key") === "en")
      .select("value").collect().map(_.getString(0)).toSet
    assert(enVals == Set("Main Street")) // both en tags overwritten
    // regular name appended at the end with canonical chi + ' ' + eng
    val reg = out.filter(col("type") === "regular" && col("key") === "name")
      .collect().head
    assert(reg.getAs[String]("value") == "大街 Main Street")
    assert(reg.getAs[Int]("tag_pos") == 4 + 2) // max_pos+1+ord(reg)=3+1+2
  }

  test("contradicting matches (two distinct officials) → way untouched") {
    val ways = waysDf(
      (2L, "highway", "primary", "regular", 0),
      (2L, "en", "Main Street", "name", 1),
      (2L, "zh", "小路", "name", 2))
    val out = fix(ways).collect()
    assert(out.forall(!_.getAs[Boolean]("name_changed")))
    assert(out.length == 3) // nothing appended
  }

  test("non-street ways and no-match streets are untouched") {
    val ways = waysDf(
      (3L, "building", "yes", "regular", 0), // not a street
      (3L, "en", "Main Street", "name", 1),
      (4L, "highway", "path", "regular", 0), // street, but no name match
      (4L, "en", "Nowhere Lane", "name", 1))
    val out = fix(ways).collect()
    assert(out.forall(!_.getAs[Boolean]("name_changed")))
    assert(out.length == 4)
  }

  test("all three tags present and correct → no update, no append") {
    val ways = waysDf(
      (5L, "highway", "road", "regular", 0),
      (5L, "en", "Side Road", "name", 1),
      (5L, "zh", "小路", "name", 2),
      (5L, "name", "小路 Side Road", "regular", 3))
    val out = fix(ways)
    assert(out.count() == 4)
    assert(out.filter(col("name_changed")).count() == 0)
  }

  test("append order is en, zh, reg after the way's last tag") {
    val ways = waysDf(
      (6L, "highway", "road", "regular", 0),
      (6L, "name", "小路 Side Road", "regular", 1))
    val out = fix(ways).orderBy("tag_pos").collect()
    val appended = out.filter(_.getAs[Boolean]("name_changed"))
    assert(appended.map(r => (r.getAs[String]("key"),
      r.getAs[String]("type"), r.getAs[Int]("tag_pos"))).toSeq ==
      Seq(("en", "name", 2), ("zh", "name", 3)))
  }

  test("two <way> elements sharing an id are fixed independently") {
    // per-element, like the reference's loop: each element matches one
    // official entry on its own and gets its own appends. (Grouping the
    // tags by id would see two distinct matches and fix neither.)
    val ways = StreetNameFixSpec.waysDf(spark, Seq(
      "7" -> Seq("highway" -> "road", "name:en" -> "Main Street"),
      "7" -> Seq("highway" -> "road", "name:zh" -> "小路")))
    val appended = fix(ways).filter(col("name_changed"))
      .select("key", "value", "tag_pos").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(appended == Set(
      ("zh", "大街", 3), ("name", "大街 Main Street", 4),
      ("en", "Side Road", 2), ("name", "小路 Side Road", 4)))
    assert(StreetNameFix.audit(ways, byName).count() == 2)
  }
}

object StreetNameFixSpec {
  /** The raw way schema's `_id` + `tag` columns. */
  val rawWaySchema: StructType = StructType(
    OsmIngest.waySchema.filter(f => f.name == "_id" || f.name == "tag"))

  /** Raw way rows from (id, [(k, v)]) pairs; a null tag list is a
    * tagless way. */
  def waysDf(spark: org.apache.spark.sql.SparkSession,
      ways: Seq[(String, Seq[(String, String)])]): DataFrame = {
    val rows = ways.map { case (id, tags) =>
      Row(id, Option(tags).map(_.map { case (k, v) => Row(k, v) }).orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), rawWaySchema)
  }
}
