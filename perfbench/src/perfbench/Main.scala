package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it, generates inputs and
  * calls it once per run:
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *     --cores C --work DIR --out FILE [workload inputs...]
  *
  * It writes raw samples (the set-up time, per-operation latencies, pass wall
  * times, correctness, and with --trace 1 the per-layer totals) as JSON to
  * FILE; run.py turns them into the reported metrics. Other modes:
  * `record` (time + digest a query list once, released, for calibration
  * and the expected digests), `digest-dir` (digest every parquet result
  * under a directory, e.g. graft.Verify's output) and `selftest`. */
object Main {
  val json = new ObjectMapper()

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String): Int = apply(k).toInt
  }

  def parse(args: Array[String]): (String, Args) = {
    val mode = args.head
    val kv = args.tail.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    (mode, Args(kv))
  }

  def session(a: Args): SparkSession = {
    val n = a("cores")
    val s = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", a("work") + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // ready = the session has run an action (executor threads, codegen
    // and shuffle machinery initialised); reads no benchmark input
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  def main(args: Array[String]): Unit = {
    val (mode, a) = parse(args)
    mode match {
      case "run" => Run(a)
      case "record" => Record(a)
      case "digest-dir" => DigestDir(a)
      case "selftest" => SelfTest(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  def readJson(p: String): JsonNode = json.readTree(Files.readString(Paths.get(p)))

  def writeJson(p: String, n: JsonNode): Unit =
    Files.writeString(Paths.get(p),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(n))

  def lines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p), UTF_8).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Expected digest of one result: `digest` compares rows and hash,
    * `rows` compares the row count only (results that are not
    * bit-reproducible run to run). */
  final case class Expect(mode: String, rows: Long, hash: Long) {
    def matches(d: Digest): Boolean =
      d.rows == rows && (mode == "rows" || d.hash == hash)
  }

  def expectations(p: String): Map[String, Expect] = {
    val root = readJson(p).path("queries")
    root.fieldNames().asScala.map { k =>
      val n = root.get(k)
      k -> Expect(n.path("mode").asText(), n.path("rows").asLong(),
        java.lang.Long.parseUnsignedLong(n.path("hash").asText("0"), 16))
    }.toMap
  }

  /** Bytes held by cached RDDs (the staged barriers) right now. */
  def storageBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
}

/** Peak live old generation: its occupancy right after a full collection
  * (`System.gc()`, a full collection under the default G1), sampled after
  * each timed operation and OSM pass, before the release, where the
  * staged barriers are at their largest. Warm-up operations take no
  * sample, and the collections fall outside the timed spans. */
object HeapWatch {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .foreach(p => peak = math.max(peak, p.getUsage.getUsed))
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
