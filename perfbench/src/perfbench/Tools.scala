package perfbench

import java.io.File

import graft.ops.Stage
import Main.{Args, json}

/** `record`: run each listed query once from released state and write its
  * latency, construction time, job counts and digest (calibration of the
  * workload split, and the source of expected digests). */
object Record {
  def apply(a: Args): Unit = {
    val spark = Main.session(a)
    val tracer = new Tracer(spark)
    val spans = new Spans
    val fns = graft.SparkEntry.queries
    val names = Main.lines(a("queries"))
    val dir = a("data")
    val rows = names.map { n =>
      Stage.releaseAll(spark)
      val (r, sp) = spans.time(0, 0, n, "op") { id =>
        try {
          val (df, _) = spans.time(id, 0, "construct", "construct")(_ =>
            fns(n)(spark, dir))
          Right(spans.time(id, 0, "action", "action")(_ => Digest.of(df))._1)
        } catch { case t: Throwable => Left(t.toString.take(300)) }
      }
      System.err.println(f"[record] $n%-36s ${sp.durS}%8.3f s")
      (n, r, sp)
    }
    tracer.flush()
    val out = json.createObjectNode()
    rows.foreach { case (n, r, sp) =>
      val o = out.putObject(n)
      o.put("s", sp.durS)
      val cons = spans.all.filter(x => x.parent == sp.id &&
        x.kind == "construct").toSeq
      o.put("construct_s", cons.map(_.durS).sum)
      o.put("construct_jobs", tracer.jobsIn(cons))
      o.put("jobs", tracer.jobsIn(Seq(sp)))
      r match {
        case Right(d) => o.put("rows", d.rows).put("hash", d.hex)
        case Left(e) => o.put("error", e)
      }
    }
    spark.stop()
    Main.writeJson(a("out"), out)
  }
}

/** `digest-dir`: digest every parquet result directory under --dir. */
object DigestDir {
  def apply(a: Args): Unit = {
    val spark = Main.session(a)
    val out = json.createObjectNode()
    Option(new File(a("dir")).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).sortBy(_.getName).foreach { d =>
        try {
          val dg = Digest.of(spark.read.parquet(d.getPath))
          out.putObject(d.getName).put("rows", dg.rows).put("hash", dg.hex)
        } catch { case t: Throwable =>
          out.putObject(d.getName).put("error", t.toString.take(300)) }
      }
    spark.stop()
    Main.writeJson(a("out"), out)
  }
}

/** `selftest`: the digest is insensitive to row order and partitioning,
  * sensitive to any value, duplicate or column change, and hashes maps by
  * content. Prints `selftest ok` or throws. */
object SelfTest {
  def apply(a: Args): Unit = {
    val spark = Main.session(a)
    import spark.implicits._
    val base = Seq[(Long, String, Option[Double], Map[String, Int])](
      (1L, "a", Some(1.5), Map("x" -> 1, "y" -> 2)),
      (2L, "b", None, Map.empty),
      (3L, "a.b", Some(-0.0), Map("z" -> 3)),
      (3L, "a.b", Some(-0.0), Map("z" -> 3)),
      (4L, null, Some(2.0), Map("y" -> 2, "x" -> 1))
    ).toDF("id", "s", "d", "m")
    val d0 = Digest.of(base)
    def check(cond: Boolean, what: String): Unit =
      require(cond, s"selftest: $what")
    check(d0.rows == 5, "row count")
    check(Digest.of(base.orderBy($"id".desc)) == d0, "row order")
    check(Digest.of(base.repartition(7)) == d0, "partitioning")
    check(Digest.of(base.repartition(3).sortWithinPartitions($"s")) == d0,
      "partition-local order")
    check(Digest.of(base.filter($"id" > 2).union(base.filter($"id" <= 2))) ==
      d0, "split and reunited")
    val oneDupDropped = base.filter($"id" =!= 3)
      .union(base.filter($"id" === 3).limit(1))
    check(Digest.of(oneDupDropped) != d0, "duplicate rows count")
    check(Digest.of(base.withColumn("id", $"id" + 1)) != d0, "value change")
    check(Digest.of(base.drop("d")) != d0, "column dropped")
    // the same map built in another key order digests identically
    val m1 = Seq(Map("x" -> 1, "y" -> 2)).toDF("m")
    val m2 = Seq(Map("y" -> 2, "x" -> 1)).toDF("m")
    check(Digest.of(m1) == Digest.of(m2), "map entry order")
    check(Digest.of(spark.emptyDataFrame) == Digest(0, 0), "empty")
    // duplicate output column names are hashed positionally
    val dup = base.select($"id", $"id", $"s")
    check(Digest.of(dup).rows == 5, "duplicate column names")
    spark.stop()
    println("selftest ok")
  }
}
