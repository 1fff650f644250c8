package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.capwords

/** The HK Lands Department official street-name list pipeline (X4 in
  * SURVEY.md §2.10; ref: parse_clean_and_csv.py:296-374,536-538).
  *
  * S3 scan → capwords → null filter → exact dedup → conflict removal →
  * literal corrections → Shenzhen exclusion. ~4.5k rows — semantically a
  * broadcast dimension table; every probe against it is a broadcast hash
  * join, never a shuffle.
  *
  * The reference's O(n²) XOR-conflict double loop (lines 331-339) is
  * replaced by two window counts: post-dedup, a row is flagged iff its
  * English name OR its Chinese name appears in more than one row — identical
  * result (4,480 → 4,431 on the bundled file), O(n) instead of O(n²).
  *
  * The reference's positional list index (create_lookups:358-374) is only
  * ever used for "exactly one distinct match" set logic, so we use the
  * (eng, chi) pair itself as the identity — no ordering dependence at all.
  */
object OfficialList {

  /** Typos / capwords artifacts hand-corrected by the reference
    * (to_change_in_official, parse_clean_and_csv.py:81-100). */
  val Corrections: Map[String, String] = Map(
    "Aberdeent Tuntntel" -> "Aberdeen Tunnel",
    "Wan Chai Interchantge" -> "Wan Chai Interchange",
    "半山徑　" -> "半山徑", // trailing U+3000
    "D'aguilar Street" -> "D'Aguilar Street",
    "O'brien Road" -> "O'Brien Road",
    "Cape D'aguilar Road" -> "Cape D'Aguilar Road",
    "Mcgregor Street" -> "McGregor Street",
    "Boulevard De Cascade" -> "Boulevard de Cascade",
    "Boulevard De Fontaine" -> "Boulevard de Fontaine",
    "Boulevard De Foret" -> "Boulevard de Foret",
    "Boulevard De Mer" -> "Boulevard de Mer",
    "Boulevard Du Lac" -> "Boulevard du Lac",
    "Boulevard Du Palais" -> "Boulevard du Palais",
    "Haven Of Hope Road" -> "Haven of Hope Road")

  /** Streets across the Shenzhen border excluded from the list
    * (sz_street_names, parse_clean_and_csv.py:80). */
  val SzStreetNames: Seq[String] =
    Seq("文昌街", "福民路",
      "福祥街", "丹桂路")

  /** Raw scan of the PSI XML (S1 at rowTag=Row). Surrounding whitespace is
    * preserved — one official Chinese name really has a trailing ideographic
    * space that the corrections map later strips. */
  def raw(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "Row")
      .option("ignoreSurroundingSpaces", "false")
      .schema("English_Street_Name STRING, Chinese_Street_Name STRING, " +
        "District_Code STRING")
      .load(path)

  /** capwords + null filter + exact dedup + XOR-conflict removal
    * (get_official_name_list, parse_clean_and_csv.py:296-340) →
    * DataFrame(eng, chi). 4,510 → 4,431 on the bundled file. */
  def cleaned(spark: SparkSession, path: String): DataFrame = {
    // Spark's XML reader surfaces an empty/self-closed element as "" where
    // ElementTree gives None — normalize to null so the null filter (and the
    // uniqueness windows) see the reference's semantics.
    val base = raw(spark, path)
      .select(capwords(nullif(col("English_Street_Name"), lit(""))).as("eng"),
        nullif(col("Chinese_Street_Name"), lit("")).as("chi"))
      .filter(col("eng").isNotNull && col("chi").isNotNull)
      .dropDuplicates("eng", "chi")
    base
      .withColumn("n_eng", count(lit(1)).over(Window.partitionBy(col("eng"))))
      .withColumn("n_chi", count(lit(1)).over(Window.partitionBy(col("chi"))))
      .filter(col("n_eng") === 1 && col("n_chi") === 1)
      .select(col("eng"), col("chi"))
  }

  /** Apply the literal corrections to both columns, then drop Shenzhen
    * streets (update_official_list, parse_clean_and_csv.py:342-356). */
  def corrected(cleanedList: DataFrame): DataFrame = {
    val m = typedLit(Corrections)
    cleanedList
      .select(coalesce(element_at(m, col("eng")), col("eng")).as("eng"),
        coalesce(element_at(m, col("chi")), col("chi")).as("chi"))
      .filter(!col("chi").isin(SzStreetNames: _*))
  }

  /** Full pipeline: path → final official list (eng, chi). */
  def load(spark: SparkSession, path: String): DataFrame =
    corrected(cleaned(spark, path))

  /** The name → entries probe table (create_lookups equivalent): one row
    * per name either language uses, with every distinct official
    * (eng, chi) entry carrying it — more than one only where a name
    * collides across entries. Broadcast for probes; it replaces the
    * reference's in-memory dicts. The list is a few thousand rows, so one
    * task groups it (coalesce(1)) and the probe needs no shuffle. */
  def byName(official: DataFrame): DataFrame =
    official.coalesce(1)
      .select(explode(array(col("eng"), col("chi"))).as("name"),
        struct(col("eng"), col("chi")).as("entry"))
      .groupBy(col("name"))
      .agg(collect_set(col("entry")).as("entries"))
}
