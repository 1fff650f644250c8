package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shaped-tags formulation of the street-name fix and audit, kept as
  * the test reference for the row-wise [[StreetNameFix]]: it pivots the
  * exploded tag relation per way id (groupBy), probes a name → entry
  * relation, and joins the plan back onto the tags. Per-id grouping
  * merges ways that share an id, so cross-checks use unique ids.
  */
object StreetNameFixReference {

  /** The name → entry probe relation: one row per (name, eng, chi) where
    * name is either language's form. */
  def lookup(official: DataFrame): DataFrame =
    official.select(col("eng").as("name"), col("eng"), col("chi"))
      .union(official.select(col("chi").as("name"), col("eng"), col("chi")))
      .distinct()

  /** F2 — ids of ways that are streets: ∃ tag key='highway' with a street
    * value (is_street, parse_clean_and_csv.py:380-388). */
  def streetIds(tags: DataFrame): DataFrame =
    tags.filter(col("key") === "highway" &&
        col("value").isin(StreetNameFix.StreetValues: _*))
      .select(col("id")).distinct()

  /** Last-writer-wins pick of a conditional value: max over
    * (tag_pos, value) structs — rows failing `cond` contribute NULL and are
    * ignored by max. Mirrors the reference's dict-overwrite semantics when a
    * way carries duplicate name tags (get_street_names assigns per tag in
    * list order, parse_clean_and_csv.py:397-408). */
  private def lastBy(cond: Column, value: Column): Column =
    max(when(cond, struct(col("tag_pos"), value.as("v")))).getField("v")

  /** X1 — pivot each street way's tags into up-to-4 name versions:
    * en_only (name:en), zh_only (name:zh), reg_eng / reg_chi (regex split of
    * the plain `name` tag). An empty regex match means "version absent"
    * (Python re.search None → our nullif(…, '')). Also emits presence flags
    * and the way's max tag_pos for append ordering.
    * Returns one row per street way. */
  def nameVersions(tags: DataFrame, streets: DataFrame): DataFrame = {
    val isEn = col("type") === "name" && col("key") === "en"
    val isZh = col("type") === "name" && col("key") === "zh"
    val isReg = col("type") === "regular" && col("key") === "name"
    val regEng = nullif(
      regexp_extract(col("value"), StreetNameFix.EngNameRe, 1), lit(""))
    val regChi = nullif(
      regexp_extract(col("value"), StreetNameFix.ChiNameRe, 1), lit(""))
    tags.join(streets, Seq("id"), "left_semi")
      .groupBy(col("id"))
      .agg(
        lastBy(isEn, col("value")).as("en_only"),
        lastBy(isZh, col("value")).as("zh_only"),
        lastBy(isReg && regEng.isNotNull, regEng).as("reg_eng"),
        lastBy(isReg && regChi.isNotNull, regChi).as("reg_chi"),
        max(when(isEn, 1).otherwise(0)).as("has_en"),
        max(when(isZh, 1).otherwise(0)).as("has_zh"),
        max(when(isReg, 1).otherwise(0)).as("has_reg"),
        max(col("tag_pos")).as("max_pos"))
      .withColumn("n_versions",
        col("en_only").isNotNull.cast("int")
          + col("zh_only").isNotNull.cast("int")
          + col("reg_eng").isNotNull.cast("int")
          + col("reg_chi").isNotNull.cast("int"))
  }

  /** J1 — probe every present name version against the broadcast official
    * lookup; per way: number of DISTINCT official entries matched, number of
    * versions not found, and the (single) matched canonical pair
    * (name_look_up, parse_clean_and_csv.py:411-424 — the entry identity is
    * the (eng, chi) pair, replacing the reference's positional index). */
  def lookupResults(versions: DataFrame, lookup: DataFrame): DataFrame = {
    val probes = versions.select(col("id"),
        explode(array(col("en_only"), col("zh_only"), col("reg_eng"),
          col("reg_chi"))).as("name"))
      .filter(col("name").isNotNull)
    probes.join(broadcast(lookup), Seq("name"), "left")
      .groupBy(col("id"))
      .agg(
        // struct(null,null) is itself non-null — wrap in when() so unmatched
        // probes contribute NULL and are excluded from the distinct count
        countDistinct(when(col("eng").isNotNull,
          struct(col("eng"), col("chi")))).as("n_matches"),
        sum(when(col("eng").isNull, 1).otherwise(0)).as("not_found"),
        max(struct(col("eng"), col("chi"))).as("match"))
      .select(col("id"), col("n_matches"), col("not_found"),
        col("match.eng").as("c_eng"), col("match.chi").as("c_chi"))
  }

  /** X2 — the fix plan per way: canonical names for ways with EXACTLY ONE
    * distinct official match (fix_street_names, parse_clean_and_csv.py:
    * 426-485). Returns (id, c_eng, c_chi, c_reg, has_en, has_zh, has_reg,
    * max_pos). */
  def fixPlan(versions: DataFrame, lookup: DataFrame): DataFrame =
    lookupResults(versions, lookup)
      .filter(col("n_matches") === 1)
      .join(versions.select(col("id"), col("has_en"), col("has_zh"),
        col("has_reg"), col("max_pos")), Seq("id"))
      .withColumn("c_reg", concat(col("c_chi"), lit(" "), col("c_eng")))

  /** Apply the fix: overwrite the three name-tag kinds with canonical
    * values on fixable ways; append any of the three that are missing (at
    * the end of the way's tag list, order en → zh → reg, matching the
    * reference's append order at parse_clean_and_csv.py:469-484).
    * Input/out: shaped tags (id, key, value, type, tag_pos) +
    * `name_changed` on every row. */
  def applyFix(tags: DataFrame, plan: DataFrame): DataFrame = {
    val p = plan.select(col("id"), col("c_eng"), col("c_chi"), col("c_reg"),
      col("has_en"), col("has_zh"), col("has_reg"), col("max_pos"))
    val isEn = col("type") === "name" && col("key") === "en"
    val isZh = col("type") === "name" && col("key") === "zh"
    val isReg = col("type") === "regular" && col("key") === "name"
    val fixable = col("c_eng").isNotNull

    // pass through any extra columns the caller carries (e.g. the phone
    // fixer's per-tag phone_changed flag)
    val extras = tags.columns.toSeq
      .filterNot(Set("id", "key", "value", "type", "tag_pos"))
    val overwritten = tags.join(p, Seq("id"), "left")
      .withColumn("new_value",
        when(fixable && isEn, col("c_eng"))
          .when(fixable && isZh, col("c_chi"))
          .when(fixable && isReg, col("c_reg"))
          .otherwise(col("value")))
      .withColumn("name_changed", col("new_value") =!= col("value"))
      .select((Seq(col("id"), col("key"), col("new_value").as("value"),
        col("type"), col("tag_pos"), col("name_changed")) ++
        extras.map(col)): _*)

    val appended = p.select(col("id"), col("max_pos"),
        explode(array(
          when(col("has_en") === 0,
            struct(lit("en").as("key"), col("c_eng").as("value"),
              lit("name").as("type"), lit(0).as("ord"))),
          when(col("has_zh") === 0,
            struct(lit("zh").as("key"), col("c_chi").as("value"),
              lit("name").as("type"), lit(1).as("ord"))),
          when(col("has_reg") === 0,
            struct(lit("name").as("key"), col("c_reg").as("value"),
              lit("regular").as("type"), lit(2).as("ord"))))).as("t"))
      .filter(col("t").isNotNull)
      .select(col("id"), col("t.key").as("key"), col("t.value").as("value"),
        col("t.type").as("type"),
        (col("max_pos") + 1 + col("t.ord")).as("tag_pos"),
        lit(true).as("name_changed"))

    // appended tags never carry caller extras — fill with nulls/false
    val appendedAligned = extras.foldLeft(appended) { (df, c) =>
      df.withColumn(c,
        if (c == "phone_changed") lit(false)
        else lit(null).cast(tags.schema(c).dataType))
    }
    overwritten.unionByName(appendedAligned)
  }

  /** The bilingual street-name audit over shaped tags. */
  def bilingualStreetNames(tags: DataFrame, lookup: DataFrame): DataFrame = {
    val versions = nameVersions(tags, streetIds(tags))
    val results = lookupResults(versions, lookup)
    versions.join(results, Seq("id"))
      .filter(col("n_matches") === 1 &&
        (col("not_found") > 0 || col("n_versions") < 4))
      .select(col("id"), col("en_only"), col("reg_eng"), col("zh_only"),
        col("reg_chi"), col("c_eng").as("official_eng"),
        col("c_chi").as("official_chi"))
  }

  /** The full way-tag fix over raw way rows: shape, phone fix, then the
    * street-name fix — the order OsmPipeline ran them in. */
  def fix(rawWays: DataFrame, official: DataFrame): DataFrame = {
    val phoneFixed = PhoneFix.fixPhonesInTags(OsmIngest.tags(rawWays))
    val versions = nameVersions(phoneFixed, streetIds(phoneFixed))
    applyFix(phoneFixed, fixPlan(versions, lookup(official)))
  }
}
