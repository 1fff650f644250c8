package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.GraftFunctions.capwords

/** Property-based checks (SURVEY.md §5): generators build a sample batch,
  * one Spark pass evaluates the property column-wise (per-sample Spark
  * jobs would be prohibitively slow). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)))

  val phoneishGen: Gen[String] = for {
    segs <- Gen.chooseNum(1, 3)
    parts <- Gen.listOfN(segs, for {
      cc <- Gen.oneOf("", "852", "+852 ", "(852)", "86", "+86", "0755",
        "＋852")
      digits <- Gen.chooseNum(4, 12)
      ds <- Gen.listOfN(digits, Gen.numChar)
      sep <- Gen.oneOf("", " ", "-", "  ")
    } yield s"$cc$sep${ds.mkString}")
    joiner <- Gen.oneOf(",", ";", ", ")
  } yield parts.mkString(joiner)

  test("phone canonicalization is idempotent on arbitrary phone-ish input") {
    val xs = samples(phoneishGen, 300)
    val bad = xs.toDF("v")
      .select(col("v"), PhoneFix.fixPhoneValue(col("v")).as("once"))
      .select(col("v"), col("once"),
        PhoneFix.fixPhoneValue(col("once")).as("twice"))
      .filter(col("once") =!= col("twice"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("phone canonicalization output shape: canonical or unchanged") {
    val xs = samples(phoneishGen, 300)
    val rows = xs.toDF("v")
      .select(col("v"), PhoneFix.fixPhoneValue(col("v")).as("out"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val canonical =
      "(\\+852 \\d{8}|\\+86 1[3-9]\\d{9}|\\+86 755 \\d{6,8})(;(\\+852 \\d{8}|\\+86 1[3-9]\\d{9}|\\+86 755 \\d{6,8}))*".r
    rows.foreach { case (in, out) =>
      assert(out == in || canonical.matches(out), s"<$in> → <$out>")
    }
  }

  val keyGen: Gen[String] = for {
    nParts <- Gen.chooseNum(1, 3)
    parts <- Gen.listOfN(nParts,
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
  } yield parts.mkString(":")

  test("tag-key split: type:key reassembles to the original key") {
    val xs = samples(keyGen, 300).distinct
    val shaped = xs.zipWithIndex
      .map { case (k, i) => (i.toLong, k, s"v$i") }
      .toDF("doc_id", "k", "value")
    // reuse the ingest split expressions through a synthetic tag relation
    val hasColon = col("k").contains(":")
    val out = shaped.select(col("k"),
        when(hasColon, regexp_extract(col("k"), "^(.*?):(.*)$", 1))
          .otherwise("regular").as("t"),
        when(hasColon, regexp_extract(col("k"), "^(.*?):(.*)$", 2))
          .otherwise(col("k")).as("key"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    out.foreach { case (k, t, key) =>
      if (k.contains(":")) assert(s"$t:$key" == k, s"<$k>")
      else assert(t == "regular" && key == k, s"<$k>")
      assert(!key.startsWith(":"), s"<$k>")
    }
  }

  val wordsGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 6)
    ws <- Gen.listOfN(n, Gen.nonEmptyListOf(
      Gen.frequency(5 -> Gen.alphaChar, 1 -> Gen.oneOf('\'', '-', '0', '9'))
    ).map(_.mkString))
    seps <- Gen.listOfN(n, Gen.oneOf(" ", "  ", "\t", " "))
  } yield ws.zip(seps).map { case (w, s) => w + s }.mkString.trim

  test("capwords is idempotent and produces single-spaced capitalized words") {
    val xs = samples(wordsGen, 300).filter(_.nonEmpty)
    val rows = xs.toDF("v")
      .select(col("v"), capwords(col("v")).as("once"))
      .select(col("v"), col("once"), capwords(col("once")).as("twice"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    rows.foreach { case (in, once, twice) =>
      assert(once == twice, s"not idempotent: <$in>")
      assert(!once.contains("  ") && once == once.trim, s"spacing: <$once>")
      once.split(" ").filter(_.nonEmpty).foreach { w =>
        assert(!w.charAt(0).isLower, s"word <$w> of <$once>")
        assert(w.drop(1).forall(c => !c.isUpper), s"word <$w> of <$once>")
      }
    }
  }

  // -------- street-name fix: row-wise vs the shaped-tags reference -------

  // An uncorrected official list whose corrections merge two entries onto
  // "Aberdeen Tunnel" and drop a Shenzhen street; "大埔道" names two
  // entries in either list (one's Chinese, the other's English form).
  val crossOfficial: Seq[(String, String)] = Seq(
    ("Main Street", "大街"), ("Side Road", "小路"),
    ("Aberdeent Tuntntel", "香港仔隧道"), ("Aberdeen Tunnel", "鴨脷洲隧道"),
    ("Mcgregor Street", "麥加力歌街"), ("Fu Min Road", "福民路"),
    ("Tai Po Road", "大埔道"), ("大埔道", "Tai Po Rd"))

  val engNames: Seq[String] = crossOfficial.map(_._1) ++
    Seq("McGregor Street", "Nowhere Lane", "Main Stret")
  val chiNames: Seq[String] = crossOfficial.map(_._2) ++ Seq("無名街")

  val nameValueGen: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf(engNames), 4 -> Gen.oneOf(chiNames),
    1 -> Gen.const(null), 1 -> Gen.oneOf("", "abc", "Rd 1"))
  val regValueGen: Gen[String] = Gen.frequency(
    5 -> (for { c <- Gen.oneOf(chiNames); e <- Gen.oneOf(engNames) }
      yield s"$c $e"),
    2 -> nameValueGen)

  /** One raw way's tag list (None = tagless): a highway tag under street,
    * non-street and problem-char keys; duplicate name tags with null
    * values; phone/other tags; a problem-char or null key, sometimes last. */
  val crossWayGen: Gen[Option[Seq[(String, String)]]] = for {
    tagless <- Gen.frequency(1 -> true, 12 -> false)
    hwKey <- Gen.frequency(8 -> Gen.const("highway"),
      1 -> Gen.oneOf("abc:highway", "a:b:highway", "high way"),
      2 -> Gen.const(null))
    hwValue <- Gen.frequency(6 -> Gen.oneOf(StreetNameFix.StreetValues),
      1 -> Gen.oneOf("service", "footway"), 1 -> Gen.const(null))
    ens <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, nameValueGen))
    zhs <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, nameValueGen))
    regs <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, regValueGen))
    other <- Gen.someOf(Seq("building" -> "yes", "phone" -> "2345 6789",
      "name:zh-Hant" -> "大街", "addr:street" -> "Main Street",
      (null, "orphan"), "fixme note" -> "x"))
    shuffleSeed <- Gen.chooseNum(0L, Long.MaxValue)
    badLast <- Gen.frequency(1 -> Gen.oneOf("a.b", "note;x"),
      3 -> Gen.const(null))
  } yield if (tagless) None else {
    val body = Option(hwKey).map(_ -> hwValue).toSeq ++
      ens.map("name:en" -> _) ++ zhs.map("name:zh" -> _) ++
      regs.map("name" -> _) ++ other
    Some(new scala.util.Random(shuffleSeed).shuffle(body) ++
      Option(badLast).map(_ -> "x"))
  }

  test("row-wise street fix + audit == the shaped-tags reference") {
    val gen = samples(crossWayGen, 400)
    val batch = gen.zipWithIndex.map { case (t, i) => (s"w$i", t.orNull) }
    val flat = gen.flatten.flatten
    assert(gen.exists(_.isEmpty) && flat.exists(_._2 == null) &&
      flat.exists(_._2 == "大埔道") &&
      gen.flatten.exists(_.lastOption.exists(_._1 == "a.b")),
      "generator lost a planted case")
    val ways = graft.ops.Stage.barrier(
      StreetNameFixSpec.waysDf(spark, batch))
    val uncorrected = crossOfficial.toDF("eng", "chi")
    val lists = Seq("uncorrected" -> uncorrected,
      "corrected" -> OfficialList.corrected(uncorrected))

    def diff(label: String, got: DataFrame, want: DataFrame): DataFrame = {
      val g = got.select(want.columns.map(col): _*)
      g.exceptAll(want).select(lit(s"$label: row-wise only").as("side"),
          to_json(struct(col("*"))).as("row"))
        .unionByName(want.exceptAll(g).select(
          lit(s"$label: reference only").as("side"),
          to_json(struct(col("*"))).as("row")))
    }
    val checks = lists.flatMap { case (name, list) =>
      val byName = OfficialList.byName(list)
      Seq(
        (s"fix/$name", StreetNameFix.fix(ways, byName),
          StreetNameFixReference.fix(ways, list)),
        (s"audit/$name", StreetNameFix.audit(ways, byName),
          StreetNameFixReference.bilingualStreetNames(
            OsmIngest.tags(ways), StreetNameFixReference.lookup(list))))
    }
    val bad = checks.map { case (l, got, want) => diff(l, got, want) }
      .reduce(_ unionByName _).collect()
    assert(bad.length == 0, bad.take(10).mkString("\n"))

    // the batch exercises the fix and the audit on both lists
    val hits = checks.map { case (l, got, _) =>
      l -> (if (l.startsWith("fix")) got.filter(col("name_changed"))
        else got).count() }
    assert(hits.forall(_._2 > 0), hits.mkString(", "))
    graft.ops.Stage.release(ways)
  }

  test("official list invariant: names unique per language after cleaning") {
    val official = OfficialList.load(spark,
      "/root/reference/PSI_Street Name_062017.xml").cache()
    val n = official.count()
    assert(official.select("eng").distinct().count() == n)
    assert(official.select("chi").distinct().count() == n)
  }
}
