package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Q, Registry}

/** query_suite: one dashboard client, closed loop, over the generated
  * tables. The dashboard is a fixed sample of `Registry.all` in a fixed
  * order: from each query family, the query of median committed reference
  * cost. The seed changes neither, because per-seed samples and per-seed
  * orders both moved the figures by most of their bounds. It runs once
  * cold (the dashboard's first view) and then in refresh passes for the
  * run's seconds; each execution is a noop-sink write. Result digests are
  * checked after the window against the committed ones.
  */
object QuerySuite {
  val Families = Seq("dedup", "doc", "emb", "ev", "star")

  /** name -> (rows, hash, reference ms), from the committed digests file. */
  final case class Ref(rows: Long, hash: String, refMs: Double)

  def loadDigests(path: String): Map[String, Ref] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val f = l.split("\t")
        f(0) -> Ref(f(1).toLong, f(2), f(3).toDouble)
      }.toMap

  def family(name: String): String = name.takeWhile(_ != '_')

  def sample(refs: Map[String, Ref]): Seq[Q] =
    Families.map { fam =>
      val qs = Registry.all.filter(q => family(q.name) == fam && refs.contains(q.name))
        .sortBy(q => (refs(q.name).refMs, q.name))
      require(qs.nonEmpty, s"family $fam has no digested queries")
      qs(qs.size / 2)
    }

  /** Row count and an order-sensitive SHA-256 over the rows' text. */
  def digest(df: DataFrame): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L
    df.toLocalIterator().asScala.foreach { r =>
      md.update(r.toString.getBytes(UTF_8)); md.update('\n'.toByte); n += 1
    }
    (n, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  private def compileMs(): Double = CodeGenerator.compileTime / 1e6
  private def classes(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One timed execution, with its layer split when tracing. */
  final case class Exec(name: String, pass: String, wallMs: Double,
      buildSpan: Option[Span], writeSpan: Option[Span], cgBuild: Double,
      cgWrite: Double, classes: Long, span: Option[Span])

  def run(ctx: Ctx, res: Result, trace: Option[Trace], digestsPath: String): Unit = {
    val refs = loadDigests(digestsPath)
    val qs = sample(refs)
    res.info("sample") = qs.map(_.name).mkString(",")
    val s = Common.repeatedSetup(3, res) { () =>
      val s = Common.session(ctx.cores)
      // session infrastructure only (scheduler, first job, codegen core):
      // the cold pass still pays each query's planning and compile
      s.range(1 << 20).selectExpr("sum(id)").collect()
      s
    }(Common.stop)
    trace.foreach(_.attach(s))

    val execs = mutable.ArrayBuffer.empty[Exec]
    var storageMaxMb = 0.0
    def once(q: Q, pass: String, passSpan: Int): Option[Double] = {
      res.attempted += 1
      val t0 = System.nanoTime()
      try {
        trace match {
          case None =>
            q.build(s, ctx.dataDir).write.format("noop").mode("overwrite").save()
          case Some(tr) =>
            val cls0 = classes()
            var bSpan, wSpan: Option[Span] = None
            var cgB, cgW = 0.0
            val qStart = tr.now
            tr.span(s, passSpan, q.name, pass) { qid =>
              val c0 = compileMs(); val b0 = tr.now
              val df = q.build(s, ctx.dataDir)
              val c1 = compileMs(); val b1 = tr.now
              df.write.format("noop").mode("overwrite").save()
              val c2 = compileMs(); val b2 = tr.now
              bSpan = Some(Span(0, qid, "build", b0, b1))
              wSpan = Some(Span(0, qid, "write", b1, b2))
              tr.record(qid, "build", b0, b1); tr.record(qid, "write", b1, b2)
              cgB = c1 - c0; cgW = c2 - c1
            }
            val wall = tr.now - qStart
            execs += Exec(q.name, pass, wall, bSpan, wSpan, cgB, cgW,
              classes() - cls0, Some(Span(0, passSpan, q.name, qStart, qStart + wall)))
            storageMaxMb = math.max(storageMaxMb, s.sparkContext.getRDDStorageInfo
              .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
        }
        val ms = Common.secsSince(t0) * 1000
        if (trace.isEmpty) execs += Exec(q.name, pass, ms, None, None, 0, 0, 0, None)
        Some(ms)
      } catch {
        case e: Throwable =>
          res.failed += 1
          res.fail(s"query.${q.name}: threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(160))
          None
      }
    }
    val passWalls = mutable.ArrayBuffer.empty[(String, Double)]
    def pass(name: String, bucket: String): Double = {
      val t0 = System.nanoTime()
      trace match {
        case Some(tr) => tr.span(s, 0, s"pass $name", bucket)(id => qs.foreach(q => once(q, bucket, id)))
        case None => qs.foreach(q => once(q, bucket, 0))
      }
      val sec = Common.secsSince(t0)
      passWalls += ((bucket, sec))
      sec
    }

    val w0 = System.nanoTime()
    val cold = pass("cold", "cold")
    val refresh = mutable.ArrayBuffer.empty[Double]
    val r0 = System.nanoTime()
    while (refresh.size < 2 || Common.secsSince(r0) < ctx.seconds)
      refresh += pass(s"refresh ${refresh.size + 1}", "refresh")
    res.info("window_s") = f"${Common.secsSince(w0)}%.3f"
    res.info("refresh_passes") = refresh.size.toString

    // each query's median refresh latency, so one slow pass does not move
    // the percentiles taken across the dashboard's queries
    val perQuery = execs.filter(_.pass == "refresh").groupBy(_.name).values
      .map(es => Common.median(es.map(_.wallMs).toSeq)).toSeq
    val warmPass = Common.median(refresh.toSeq)
    if (perQuery.nonEmpty) {
      res.e2e("latency_p50_ms") = (Common.quantile(perQuery, 0.5), "ms")
      res.e2e("latency_p95_ms") = (Common.quantile(perQuery, 0.95), "ms")
      res.e2e("throughput_per_s") = (qs.size / warmPass, "1/s")
      res.named("query_p50_ms") = res.e2e("latency_p50_ms")
      res.named("query_p95_ms") = res.e2e("latency_p95_ms")
    }
    res.named("cold_pass_s") = (cold, "s")
    res.named("warm_pass_s") = (warmPass, "s")

    trace.foreach(tr => layers(tr, s, res, execs.toSeq, passWalls.toSeq, refresh.size, storageMaxMb))

    // correctness, outside the window
    qs.zipWithIndex.foreach { case (q, i) =>
      val ref = refs(q.name)
      val want = if (ctx.canary == "flip_digest" && i == 0) ref.hash.reverse else ref.hash
      try {
        val (rows, hash) = digest(q.build(s, ctx.dataDir))
        if (rows != ref.rows || hash != want) {
          res.failed += 1
          res.fail(s"query.${q.name}: digest $rows/$hash, committed ${ref.rows}/$want")
        }
      } catch {
        case e: Throwable =>
          res.failed += 1
          res.fail(s"query.${q.name}: digest run threw ${e.getClass.getSimpleName}")
      }
    }
    trace.foreach { tr =>
      graft.CacheRegistry.clear(s)
      AnnBench.run(ctx, res, tr, s, ctx.annDataDir)
    }
    Common.stop(s)
  }

  private def layers(tr: Trace, s: SparkSession, res: Result, execs: Seq[Exec],
      passWalls: Seq[(String, Double)], nRefresh: Int,
      storageMaxMb: Double): Unit = {
    tr.drain(s)
    val jobs = tr.spans.asScala.toSeq.filter(_.name.startsWith("job "))
    val phases = tr.phases.asScala.toSeq
    val gaps = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.Map.empty[String, mutable.Map[String, Double]]
    execs.foreach { e =>
      val acc = perPass.getOrElseUpdate(e.pass, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      val q = e.span.get
      val b = e.buildSpan.get
      val w = e.writeSpan.get
      val iv = jobs.map(j => (j.startMs, j.endMs))
      val exec = Trace.covered(iv, q.startMs, q.endMs)
      val jobsInBuild = Trace.covered(iv, b.startMs, b.endMs)
      val ph = phases.filter { case (_, st, en) => st >= w.startMs - 1 && en <= w.endMs + 1 }
      Seq("analysis", "optimization", "planning").foreach { k =>
        acc(k) += ph.filter(_._1 == k).map(p => p._3 - p._2).sum
      }
      val phaseMs = ph.map(p => p._3 - p._2).sum
      val buildSelf = math.max(0.0, b.ms - jobsInBuild - e.cgBuild)
      acc("build") += buildSelf
      val driver = buildSelf + phaseMs
      val codegen = e.cgBuild + e.cgWrite
      acc("compile") += codegen
      acc("classes") += e.classes
      acc(s"family.${QuerySuite.family(e.name)}") += e.wallMs / 1000
      if (e.wallMs > 0) gaps += math.abs(e.wallMs - (driver + codegen + exec)) / e.wallMs * 100
    }
    Seq("cold" -> 1, "refresh" -> nRefresh).foreach { case (p, n) =>
      val acc = perPass.getOrElse(p, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      val div = math.max(1, n).toDouble
      Seq("build", "analysis", "optimization", "planning").foreach { k =>
        res.layer(s"driver.$p.${k}_ms", acc(k) / div, "ms")
      }
      res.layer(s"codegen.$p.compile_ms", acc("compile") / div, "ms")
      res.layer(s"codegen.$p.classes", acc("classes") / div, "count")
      val wallMs = passWalls.filter(_._1 == p).map(_._2).sum * 1000
      Trace.execLayers(res, p, tr.bucket(p), wallMs, n)
      Families.foreach { f =>
        res.layer(s"family.$f.${p}_wall_s", acc(s"family.$f") / div, "s")
      }
    }
    res.layer("cache.storage_mb_max", storageMaxMb, "MB")
    res.layer("trace.query_gap_pct_p50", if (gaps.isEmpty) 0.0 else Common.median(gaps.toSeq), "%")
    res.layer("trace.query_gap_pct_max", if (gaps.isEmpty) 0.0 else gaps.max, "%")
  }
}
