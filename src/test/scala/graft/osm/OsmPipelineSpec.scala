package graft.osm

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** OsmPipeline over small self-made inputs: the plan shape of the street
  * fix and audit, and the input sizing that spreads a single-file scan. */
class OsmPipelineSpec extends SparkSpec {

  private def write(dir: Path, name: String, text: String): Unit =
    Files.write(dir.resolve(name), text.getBytes(UTF_8))

  private val attrs = """user="u" uid="1" version="1" changeset="1" """ +
    """timestamp="2017-01-01T00:00:00Z""""

  private def way(id: Int, tags: (String, String)*): String =
    s"""  <way id="$id" $attrs><nd ref="1"/>""" +
      tags.map { case (k, v) => s"""<tag k="$k" v="$v"/>""" }.mkString +
      "</way>\n"

  private val psi =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<Root>
      |  <Row><English_Street_Name>MAIN STREET</English_Street_Name>
      |    <Chinese_Street_Name>大街</Chinese_Street_Name></Row>
      |  <Row><English_Street_Name>SIDE ROAD</English_Street_Name>
      |    <Chinese_Street_Name>小路</Chinese_Street_Name></Row>
      |</Root>
      |""".stripMargin

  test("street fix and audit plans never shuffle on the way id") {
    val dir = Files.createTempDirectory("graft-osm-plan")
    write(dir, "map.osm",
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<osm version="0.6">
         |  <node id="1" lat="22.38" lon="114.18" $attrs/>
         |${way(10, "highway" -> "road", "name:en" -> "Main Street")}
         |${way(11, "highway" -> "road", "name" -> "小路 Side Road",
              "name:en" -> "Side Road", "name:zh" -> "小路")}
         |${way(12, "building" -> "yes")}
         |</osm>
         |""".stripMargin)
    write(dir, "psi.xml", psi)
    val p = OsmPipeline(spark, s"$dir/map.osm", s"$dir/psi.xml")
    try {
      Seq("wayTagsFixed" -> p.wayTagsFixedPlan,
          "streetAudit" -> p.streetAudit).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning(id"),
          s"$name shuffles on the way id:\n$plan")
        assert(nShuffles(df) == 0, s"$name shuffles:\n$plan")
      }
      // the guarded plans do the work: way 10 gains zh + reg, way 11 is
      // clean, so only way 10 is audited and updated
      val changed = p.wayTagsFixed.filter(col("name_changed"))
        .select("id", "key", "value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(changed == Set(("10", "zh", "大街"),
        ("10", "name", "大街 Main Street")))
      assert(p.streetAudit.select("id").collect().map(_.getString(0))
        .toSeq == Seq("10"))
    } finally p.release()
  }

  test("a directory holding one extract is sized by its file bytes") {
    // several MB of nodes as ONE file in a directory: the XML source
    // reads it on one task, and spread() fans it out by input bytes
    val dir = Files.createTempDirectory("graft-osm-dir")
    val osmDir = Files.createDirectory(dir.resolve("osm"))
    val sb = new StringBuilder(
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    (1 to 18000).foreach { i =>
      sb ++= s"""  <node id="$i" lat="22.${i % 1000}" lon="114.$i" $attrs>""" +
        s"""<tag k="name" v="node $i"/></node>\n"""
    }
    sb ++= "</osm>\n"
    write(osmDir, "extract.osm", sb.toString)
    write(dir, "psi.xml", psi)
    val bytes = Files.size(osmDir.resolve("extract.osm"))
    val byBytes = (bytes + (1L << 20) - 1) / (1L << 20)
    assert(byBytes >= 2 && byBytes < spark.sparkContext.defaultParallelism,
      s"extract of $bytes bytes does not separate the sizing from its cap")

    val p = OsmPipeline(spark, osmDir.toString, s"$dir/psi.xml")
    try {
      assert(p.nodes.rdd.getNumPartitions ==
        math.min(spark.sparkContext.defaultParallelism.toLong, byBytes))
      assert(p.nodes.count() == 18000)
    } finally p.release()
  }
}
