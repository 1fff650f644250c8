package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.ops.Stage
import graft.osm.{Audits, Explore, OsmPipeline}
import Main.{Args, Expect, json}

/** One benchmark run: set-up samples, then whole passes of the workload in
  * a closed loop with one client (one operation at a time), each
  * operation timed from released staged state. */
final class Run(a: Args) {
  private val spawnMs = a("spawn-ms").toLong
  private val seconds = a.int("seconds")
  private val trace = a("trace") == "1"
  private val cores = a.int("cores")

  // set-up: process start (run.py's spawn time) to a session that has
  // run an action
  private val spark: SparkSession = Main.session(a)
  private val setupS = (System.currentTimeMillis() - spawnMs) / 1e3

  val spans = new Spans
  private val tracer = if (trace) Some(new Tracer(spark)) else None
  private val out = json.createObjectNode()
  private val opsJson = out.putArray("ops")
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0
  private var opSeq = 0
  private def nextOp(): Int = { opSeq += 1; opSeq }

  // per-operation staging footprint, sampled before the next release
  private val stagedCounts = ArrayBuffer.empty[Int]
  private val stagedBytes = ArrayBuffer.empty[Long]

  private def sampleStaging(): Unit = if (recording) {
    stagedCounts += Stage.stagedCount(spark)
    if (trace) stagedBytes += Main.storageBytes(spark)
    HeapWatch.sample()
  }

  private def release(parent: Int): Span =
    spans.time(parent, 0, "release", "release")(_ =>
      Stage.releaseAll(spark))._2

  private def fail(what: String, why: String): Unit = {
    failures += s"$what: $why"
    System.err.println(s"[perfbench] FAIL $what: $why")
  }

  /** Construct + digest one operation; the op span covers both. */
  private def op(parent: Int, pass: Int, name: String, kind: String,
      expect: Option[Expect])(build: => DataFrame): Span = {
    val id = nextOp()
    attempted += 1
    spark.sparkContext.setJobGroup(s"perfbench/$name", name, false)
    var constructS = 0.0
    val (res, sp) = spans.time(parent, id, name, kind) { sid =>
      try {
        val (df, c) = spans.time(sid, id, "construct", "construct")(_ => build)
        constructS = c.durS
        Right(spans.time(sid, id, "action", "action")(_ => Digest.of(df))._1)
      } catch { case t: Throwable => Left(t.toString.take(400)) }
    }
    spark.sparkContext.clearJobGroup()
    val err = res match {
      case Left(e) => Some(e)
      case Right(_) if !recording => None
      case Right(d) => expect match {
        case None => Some(s"no expected digest (got ${d.rows} rows ${d.hex})")
        case Some(e) if !e.matches(d) =>
          Some(s"digest ${d.rows}/${d.hex} != expected ${e.rows}/" +
            f"${e.hash}%016x (${e.mode})")
        case _ => None
      }
    }
    err.foreach(fail(name, _))
    if (!recording)
      System.err.println(f"[perfbench] warm-up $name%-28s ${sp.durS}%7.3f s")
    if (recording) {
      val o = opsJson.addObject()
      o.put("name", name).put("kind", kind).put("pass", pass)
        .put("s", sp.durS).put("construct_s", constructS)
        .put("ok", err.isEmpty)
    }
    sp
  }

  // false during untimed warm-up runs: they count as attempted (a
  // failure still fails the run) but add no samples and no pass time
  private var recording = true
  private var warmupS = 0.0

  /** Untimed warm-up before the timed passes, so that they measure a
    * warmed JVM and do not depend on which operation a seed happens to
    * put first (measured in a cold JVM: the first heavy query paid up to
    * 7 s of class loading, JIT and code generation, and the pass total
    * moved by ~20% with the order). */
  private def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    recording = false
    try { Stage.releaseAll(spark); body; Stage.releaseAll(spark) }
    finally { recording = true; warmupS += (System.nanoTime() - t0) / 1e9 }
  }

  /** The timed part of one pass: the spans whose durations add up to
    * the pass time (and in whose intervals the trace counts events). */
  final case class Pass(span: Span, parts: Seq[Span]) {
    def durS: Double = parts.map(_.durS).sum
  }

  // ---------------------------------------------------------------- queries

  private def queryWorkload(): Seq[Pass] = {
    val fns = graft.SparkEntry.queries
    // one seeded permutation of the workload's queries per pass
    val orders = Main.readJson(a("orders")).elements().asScala.map(
      _.elements().asScala.map(_.asText()).toSeq).toIndexedSeq
    val expected = Main.expectations(a("expected"))
    val dir = a("data")
    orders.head.foreach(n => require(fns.contains(n), s"unknown query $n"))
    // the warm-up reads other files (the small tables), so every sf0.1
    // table still resolves cold in the timed pass
    warmup(Main.lines(a("warmup")).foreach { n =>
      Stage.releaseAll(spark)
      op(0, -1, n, "warmup", None)(fns(n)(spark, a("warmup-data")))
    })
    passes { pass =>
      val order = orders(pass % orders.size)
      val parts = ArrayBuffer.empty[Span]
      val sp = spans.time(0, 0, s"pass$pass", "pass") { pid =>
        order.foreach { n =>
          parts += release(pid)
          parts += op(pid, pass, n, "op", expected.get(n))(fns(n)(spark, dir))
          sampleStaging()
        }
        parts += release(pid)
      }._2
      Pass(sp, parts.toSeq)
    }
  }

  /** Whole passes until the next one would overrun --seconds (always at
    * least one). */
  private def passes(one: Int => Pass): Seq[Pass] = {
    val deadline = System.currentTimeMillis() + seconds * 1000L
    val done = ArrayBuffer(one(0))
    while (System.currentTimeMillis() + done.last.durS * 1000 < deadline)
      done += one(done.size)
    done.toSeq
  }

  // -------------------------------------------------------------------- osm

  private val osmStages = Seq("official", "ingest_nodes", "ingest_ways",
    "fix_node_tags", "fix_way_tags", "update_history", "csv_write")

  /** One ETL + explore pass of the paper's pipeline over `input` (the
    * generator's output directory). The timed parts are the pass span and
    * the release of what the pass staged; the output checks between them
    * are untimed. */
  private def osmPass(pass: Int, input: String, label: String): Pass = {
    val exp = Main.readJson(s"$input/expected.json")
    val csvOut = s"${a("work")}/csv-$label"
    var loaded: Option[OsmPipeline] = None
    val span = spans.time(0, 0, s"$label$pass", "pass") { pid =>
      release(pid)
      val p = OsmPipeline(spark, s"$input/osm", s"$input/psi.xml")
      val etlId = nextOp()
      attempted += 1
      val etlOk = spans.time(pid, etlId, "etl", "etl") { eid =>
        def stage(n: String)(body: => Any): Unit =
          spans.time(eid, etlId, s"osm.$n", "osm_stage")(_ => body)
        try {
          stage("official")(p.officialUncorrected)
          stage("ingest_nodes")(p.nodes)
          stage("ingest_ways")(p.ways)
          stage("fix_node_tags")(p.nodeTagsFixed)
          stage("fix_way_tags")(p.wayTagsFixed)
          stage("update_history")(p.updateHistory)
          stage("csv_write")(p.writeCsvs(csvOut))
          true
        } catch { case t: Throwable =>
          fail(s"$label etl", t.toString.take(400)); false }
      }._1
      if (etlOk) {
        spans.time(pid, 0, "explore", "explore_phase") { xid =>
          def rows(k: String) =
            Some(Expect("rows", exp.path("audits").path(k).asLong(), 0L))
          op(xid, pass, "phone_audit", "audit", rows("phone_audit"))(
            p.phoneAuditRows)
          op(xid, pass, "phone_key_counts", "audit",
            rows("phone_key_counts"))(Audits.phoneKeyCounts(p.phoneAuditRows))
          op(xid, pass, "phone_char_census", "audit",
            rows("phone_char_census"))(Audits.phoneCharCensus(p.phoneAudit))
          op(xid, pass, "street_audit", "audit", rows("street_audit"))(
            p.streetAudit)
          spans.time(xid, 0, "register_views", "explore_setup")(_ =>
            p.registerViews())
          Explore.queries.keys.toSeq.sorted.foreach { q =>
            val v = exp.path("explore").path(q).asLong()
            val e = if (q == "updated_users_vs_contributions")
              Expect("rows", v, 0L)
            else Expect("digest", 1L,
              XxHash64Function.hash(java.lang.Long.valueOf(v), LongType, 42L))
            op(xid, pass, q, "explore", Some(e))(Explore.run(spark, q))
          }
        }
        loaded = Some(p)
      }
    }._2
    sampleStaging()
    loaded.foreach(checkOsmOutputs(_, exp, csvOut, label))
    Pass(span, Seq(span, release(span.id)))
  }

  private var csvBytes = 0L
  private var fixCounts = Map.empty[String, Long]

  /** Untimed: the six CSVs hold the generator's counts and the update
    * history holds exactly the planted fixes. */
  private def checkOsmOutputs(p: OsmPipeline, exp: com.fasterxml.jackson
      .databind.JsonNode, csvOut: String, label: String): Unit = {
    csvBytes = 0L
    Seq("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags",
        "update_history").foreach { rel =>
      val parts = Option(new File(s"$csvOut/$rel").listFiles()).getOrElse(
        Array.empty[File]).filter(_.getName.startsWith("part-"))
      var rows = 0L
      parts.foreach { f =>
        val bytes = Files.readAllBytes(f.toPath)
        csvBytes += bytes.length
        val nl = bytes.count(_ == '\n')
        if (nl > 0) rows += nl - 1 // one header per part file
      }
      val want = exp.path(if (rel == "ways_nodes") "way_nodes" else rel)
        .asLong()
      if (rows != want) fail(s"$label csv $rel", s"$rows rows, expected $want")
    }
    fixCounts = p.updateHistory.groupBy(col("field_updated")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("phone", "name").foreach { f =>
      val got = fixCounts.getOrElse(f, 0L)
      val want = exp.path(s"fixes_$f").asLong()
      if (got != want) fail(s"$label fixes $f", s"$got, expected $want")
    }
  }

  private def osmWorkload(): Seq[Pass] =
    passes(osmPass(_, a("osm-input"), "osm"))

  // ----------------------------------------------------------------- driver

  def apply(): Unit = {
    val wl = a("workload")
    // osm_etl warms up on a small generated input (same pipeline)
    a.get("osm-warmup").foreach(in => warmup { osmPass(-1, in, "warmup") })
    val passes = if (wl == "osm_etl") osmWorkload() else queryWorkload()
    out.put("peak_heap_mb", HeapWatch.peakMb)
    out.put("warmup_s", warmupS)
    val osmPasses = passes.map(_.span.id).toSet
    def kids(kind: String) = spans.all.filter(s =>
      s.kind == kind && osmPasses.contains(s.parent))
    if (wl == "osm_etl") {
      val exp = Main.readJson(s"${a("osm-input")}/expected.json")
      out.put("input_mb", exp.path("input_bytes").asLong() / 1e6)
      val etl = out.putArray("etl_s")
      kids("etl").foreach(s => etl.add(s.durS))
      val ex = out.putArray("explore_s")
      kids("explore_phase").foreach(s => ex.add(s.durS))
    }
    tracer.foreach(t => layers(t, passes, wl))
    out.put("attempted", attempted).put("failed", failures.size)
    val fl = out.putArray("failures")
    failures.foreach(fl.add)
    out.put("setup_s", setupS)
    val ps = out.putArray("passes_s")
    passes.foreach(p => ps.add(p.durS))
    spark.stop()
    Main.writeJson(a("out"), out)
  }

  /** Per-layer totals of the traced run, per pass. */
  private def layers(t: Tracer, passes: Seq[Pass], wl: String): Unit = {
    val passSpans = passes.map(_.span)
    val timed = passes.flatMap(_.parts)
    val nPass = passes.size.toDouble
    val wall = passes.map(_.durS).sum
    def inPasses(kind: String): Seq[Span] = {
      val byId = spans.all.map(s => s.id -> s).toMap
      spans.all.filter(_.kind == kind).filter { s =>
        var p = s.parent
        while (p != 0 && !passSpans.exists(_.id == p)) p = byId(p).parent
        p != 0
      }.toSeq
    }
    // the OSM layer on the query workloads: a small-input probe run
    // after the timed passes (the pipeline's per-stage floor)
    val osmSpans = if (wl == "osm_etl") passSpans else {
      var probe: Seq[Span] = Nil
      warmup { probe = Seq(osmPass(0, a("osm-probe"), "probe").span) }
      probe
    }
    val tablesProbe = tablesResolve()
    t.flush()
    val L = out.putObject("layers")
    val totals = t.totals(timed)
    totals.foreach { case (k, v) => L.put(k, v / nPass) }
    L.put("exec.util", totals("exec.task_s") / (wall * cores))
    val cons = inPasses("construct")
    L.put("query.construct_s", cons.map(_.durS).sum / nPass)
    L.put("query.construct_jobs", t.jobsIn(cons) / nPass)
    L.put("stage.staged", stagedCounts.sum / nPass)
    L.put("stage.cached_mb", stagedBytes.sum / (1024.0 * 1024.0) / nPass)
    L.put("stage.release_s", inPasses("release").map(_.durS).sum / nPass)
    L.put("tables.resolve_cold_ms", tablesProbe._1)
    L.put("tables.resolve_hit_ms", tablesProbe._2)
    val osmIds = osmSpans.map(_.id).toSet
    val nOsm = osmSpans.size.toDouble
    def under(s: Span): Boolean = {
      val byId = spans.all.map(x => x.id -> x).toMap
      var p = s.parent
      while (p != 0 && !osmIds.contains(p)) p = byId(p).parent
      p != 0
    }
    val osmKids = spans.all.filter(under)
    osmStages.foreach { n =>
      L.put(s"osm.${n}_s",
        osmKids.filter(_.name == s"osm.$n").map(_.durS).sum / nOsm)
    }
    L.put("osm.audit_s",
      osmKids.filter(_.kind == "audit").map(_.durS).sum / nOsm)
    L.put("osm.explore_s",
      osmKids.filter(_.kind == "explore").map(_.durS).sum / nOsm)
    val inputDir = if (wl == "osm_etl") a("osm-input") else a("osm-probe")
    val inBytes = Main.readJson(s"$inputDir/expected.json")
      .path("input_bytes").asDouble()
    L.put("osm.csv_bytes_per_input_byte", csvBytes / inBytes)
    L.put("osm.fixes_phone", fixCounts.getOrElse("phone", 0L).toDouble)
    L.put("osm.fixes_name", fixCounts.getOrElse("name", 0L).toDouble)
    L.put("trace.suite_s", wall / nPass)
    writeTrace(t)
  }

  /** Median cold and memo-hit `Tables.resolved` time (ms) over the
    * workload's sf0.1 tables, each resolved cold in 5 fresh sessions and
    * then 5 times from the memo. */
  private def tablesResolve(): (Double, Double) = {
    val tables = Option(new File(a("data")).listFiles()).getOrElse(
      Array.empty[File]).map(_.getPath).filter(_.endsWith(".parquet")).sorted
    def ms(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    val cold = ArrayBuffer.empty[Double]
    val hit = ArrayBuffer.empty[Double]
    for (_ <- 1 to 5) {
      val s2 = spark.newSession()
      tables.foreach { p =>
        cold += ms(graft.Tables.resolved(s2, p))
        for (_ <- 1 to 5) hit += ms(graft.Tables.resolved(s2, p))
      }
    }
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    (median(cold.toSeq), median(hit.toSeq))
  }

  /** Spans (with per-operation scheduler totals) written out at the end. */
  private def writeTrace(t: Tracer): Unit = {
    val root = json.createObjectNode()
    val arr = root.putArray("spans")
    spans.all.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id).put("parent", s.parent).put("op", s.op)
        .put("name", s.name).put("kind", s.kind).put("start_ms", s.startMs)
        .put("end_ms", s.endMs).put("dur_s", s.durS)
      if (s.kind == "op" || s.kind == "audit" || s.kind == "explore" ||
          s.kind == "osm_stage") {
        val c = o.putObject("layers")
        t.totals(Seq(s)).foreach { case (k, v) => c.put(k, v) }
        c.put("construct_jobs", t.jobsIn(spans.all.filter(x =>
          x.parent == s.id && x.kind == "construct").toSeq))
      }
    }
    Main.writeJson(a("trace-out"), root)
  }
}

object Run {
  def apply(a: Args): Unit = new Run(a)()
}
