package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bilingual street-name audit + fix (F2, X1, J1/J2, X2 in SURVEY.md §2;
  * ref: parse_clean_and_csv.py:380-485).
  *
  * Shape: one narrow pass per way ROW, like the reference's per-element
  * loop. Each raw way row (`_id` + its `tag` array) builds its four name
  * versions, presence flags and append position with higher-order array
  * functions; the versions probe the broadcast name → entries table
  * ([[OfficialList.byName]]) through four broadcast left joins; the fixed
  * tag array is exploded once and shaped like the ingest tags. Nothing is
  * keyed on the way id, so the way side never shuffles and nothing needs
  * staging mid-plan.
  *
  * Two `<way>` elements sharing an id are fixed (and audited)
  * independently, as the reference's per-element loop does.
  */
object StreetNameFix {

  /** highway values that make a way a government-named street
    * (STREET_VALUES, parse_clean_and_csv.py:72-76). */
  val StreetValues: Seq[String] = Seq(
    "motorway", "trunk", "primary", "secondary", "tertiary", "residential",
    "living_street", "pedestrian", "track", "road", "steps", "path")

  /** English / Chinese sub-name extraction from a combined `name` value
    * (ENG_NAME_RE / CHI_NAME_RE, parse_clean_and_csv.py:40-41). */
  val EngNameRe = "[ ]*([A-Za-z0-9'\\-,. ]{4,})"
  val ChiNameRe = "([^A-Za-z'\\-,. ]+[0-9]?[^A-Za-z'\\-,. ]+)"

  // The raw keys of the three name-tag kinds. Under the ingest's
  // first-colon split, (type, key) = (name, en) holds exactly for
  // `name:en`, (name, zh) for `name:zh` and (regular, name) for `name`;
  // none of them has a problem char.
  private val EnKey = "name:en"
  private val ZhKey = "name:zh"
  private val RegKey = "name"

  private def k(t: Column): Column = t.getField("_k")
  private def v(t: Column): Column = t.getField("_v")

  /** The shaped tag survives (no problem char in its key). */
  private def keyOk(key: Column): Column = !key.rlike(OsmIngest.ProblemChars)

  /** F2 — a street value under a shaped key `highway`: the raw key
    * `highway`, or `<type>:highway` with a colon-free type and no problem
    * char (is_street, parse_clean_and_csv.py:380-388). Cheapest test
    * first: it runs on every tag of every way. */
  private def isStreetTag(t: Column): Column =
    v(t).isin(StreetValues: _*) && (k(t) === "highway" ||
      (k(t).rlike("^[^:]*:highway$") && keyOk(k(t))))

  /** Last-writer-wins pick: the last non-null element. Mirrors the
    * reference's dict-overwrite semantics when a way carries duplicate
    * name tags (get_street_names assigns per tag in list order,
    * parse_clean_and_csv.py:397-408). `try_` because ANSI mode makes
    * `element_at` on an empty array an error. */
  private def lastOf(values: Column): Column =
    try_element_at(values, lit(-1))

  private def nameExtract(re: String)(s: Column): Column =
    nullif(regexp_extract(s, re, 1), lit(""))

  private val Versions = Seq("en_only", "zh_only", "reg_eng", "reg_chi")

  /** X1 — per way row: `is_street`, up-to-4 name versions en_only
    * (name:en), zh_only (name:zh), reg_eng / reg_chi (regex split of the
    * plain `name` tag), presence flags `has_en` / `has_zh` / `has_reg`,
    * `n_versions`, and `max_pos` — the last position among the tags whose
    * keys survive shaping, after which missing names are appended. An
    * empty regex match means "version absent" (Python re.search None →
    * nullif(…, '')); a name tag with a null value still wins as last
    * writer. Versions and `max_pos` are NULL on non-street ways.
    * Input: raw way rows (`_id`, `tag`); `id` replaces `_id`. */
  def versions(rawWays: DataFrame): DataFrame = {
    val tags = col("tag")
    def has(key: String) =
      coalesce(exists(tags, t => k(t) === key), lit(false))
    val regs = transform(filter(tags, t => k(t) === RegKey), v(_))
    val isStreet = coalesce(exists(tags, isStreetTag), lit(false))
    def street(c: Column) = when(col("is_street"), c)
    rawWays
      .select(col("_id").as("id"), tags, isStreet.as("is_street"))
      .select(col("id"), col("tag"), col("is_street"),
        street(lastOf(filter(tags, t => k(t) === EnKey)).getField("_v"))
          .as("en_only"),
        street(lastOf(filter(tags, t => k(t) === ZhKey)).getField("_v"))
          .as("zh_only"),
        street(lastOf(filter(transform(regs, nameExtract(EngNameRe)(_)),
          _.isNotNull))).as("reg_eng"),
        street(lastOf(filter(transform(regs, nameExtract(ChiNameRe)(_)),
          _.isNotNull))).as("reg_chi"),
        has(EnKey).as("has_en"), has(ZhKey).as("has_zh"),
        has(RegKey).as("has_reg"),
        street(array_max(transform(tags,
          (t, i) => when(keyOk(k(t)), i)))).as("max_pos"))
      .withColumn("n_versions",
        Versions.map(c => col(c).isNotNull.cast("int")).reduce(_ + _))
  }

  /** J1 — probe every present version against the broadcast name → entries
    * table (name_look_up, parse_clean_and_csv.py:411-424; the entry
    * identity is the (eng, chi) pair, replacing the reference's positional
    * index). Adds `n_matches` (DISTINCT official entries matched by any
    * version), `not_found` (present versions naming no entry) and `entry`,
    * the matched (eng, chi) when `n_matches` is exactly 1. */
  private def probed(rawWays: DataFrame, byName: DataFrame): DataFrame = {
    val table = broadcast(byName)
    val withHits = Versions.foldLeft(versions(rawWays)) { (df, ver) =>
      df.join(table.select(col("name").as(s"${ver}_name"),
          col("entries").as(s"${ver}_hits")),
        col(ver) === col(s"${ver}_name"), "left")
        .drop(s"${ver}_name")
    }
    val noHits = array().cast(byName.schema("entries").dataType)
    val matches = array_distinct(
      concat(Versions.map(ver => coalesce(col(s"${ver}_hits"), noHits)): _*))
    withHits
      .withColumn("n_matches", size(matches))
      .withColumn("not_found", Versions.map(ver =>
        (col(ver).isNotNull && col(s"${ver}_hits").isNull).cast("int"))
        .reduce(_ + _))
      .withColumn("entry", when(col("n_matches") === 1,
        try_element_at(matches, lit(1))))
      .drop(Versions.map(ver => s"${ver}_hits"): _*)
  }

  /** X2 — the fixed way tags (fix_street_names, parse_clean_and_csv.py:
    * 426-485), then the phone fix. A street way whose versions match
    * EXACTLY ONE official entry gets its three name-tag kinds overwritten
    * with the canonical values, and any kind it lacks appended after its
    * last tag in the order en → zh → reg (the reference's append order at
    * parse_clean_and_csv.py:469-484). The phone fix touches disjoint keys,
    * so applying it last equals the reference's phone-then-name order.
    * Output: shaped tags (id, key, value, type, tag_pos) + `name_changed`
    * + `phone_changed`. */
  def fix(rawWays: DataFrame, byName: DataFrame): DataFrame = {
    val fixable = col("n_matches") === 1
    val cEng = col("entry.eng")
    val cChi = col("entry.chi")
    val cReg = concat(cChi, lit(" "), cEng)
    val kept = transform(col("tag"), (t, i) => {
      val value = when(fixable && k(t) === EnKey, cEng)
        .when(fixable && k(t) === ZhKey, cChi)
        .when(fixable && k(t) === RegKey, cReg)
        .otherwise(v(t))
      struct(i.as("tag_pos"), k(t).as("k"), value.as("value"),
        (value =!= v(t)).as("name_changed"))
    })
    def append(has: String, key: String, value: Column, ord: Int) =
      when(fixable && !col(has),
        struct((col("max_pos") + 1 + ord).as("tag_pos"), lit(key).as("k"),
          value.as("value"), lit(true).as("name_changed")))
    val appended = filter(array(
      append("has_en", EnKey, cEng, 0),
      append("has_zh", ZhKey, cChi, 1),
      append("has_reg", RegKey, cReg, 2)), _.isNotNull)
    val flat = probed(rawWays, byName)
      .select(col("id"), explode(concat(kept, appended)).as("t"))
      .select(col("id"), col("t.tag_pos"), col("t.k"), col("t.value"),
        col("t.name_changed"))
    PhoneFix.fixPhonesInTags(OsmIngest.shape(flat))
  }

  /** X5 — the bilingual street-name audit
    * (audit_bilingual_street_names.py:230-278): street ways with exactly
    * one official match where something still disagrees — a version not
    * found, or fewer than 4 versions present. Output: the 4 name versions
    * + the matched official pair. */
  def audit(rawWays: DataFrame, byName: DataFrame): DataFrame =
    probed(rawWays, byName)
      .filter(col("n_matches") === 1 &&
        (col("not_found") > 0 || col("n_versions") < 4))
      .select(col("id"), col("en_only"), col("reg_eng"), col("zh_only"),
        col("reg_chi"), col("entry.eng").as("official_eng"),
        col("entry.chi").as("official_chi"))

  /** Per-way name-updated flag: any overwrite changed a value, or anything
    * was appended (ref `updated` flag, parse_clean_and_csv.py:431-485).
    * Returns (id, name_updated=true) rows only. */
  def nameUpdatedPerWay(fixedTags: DataFrame): DataFrame =
    fixedTags.filter(col("name_changed"))
      .select(col("id")).distinct()
      .withColumn("name_updated", lit(true))
}
