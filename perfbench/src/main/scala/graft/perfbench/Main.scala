package graft.perfbench

import java.nio.file.Paths

/** Entry point of one benchmark run; `run.py` builds and launches it.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --ann-data DIR --work DIR --digests FILE --out FILE [--canary KIND]
  *
  * Writes one JSON object to --out: the checks' verdict, the end-to-end
  * metrics (or, traced, the per-layer ones), the workload's named metrics
  * and the run's contention record. `--workload digest_all` instead times
  * and digests every registered query and writes the digests file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("data"), o.getOrElse("ann-data", ""), o("work"),
      o.getOrElse("canary", "none"),
      Runtime.getRuntime.availableProcessors())
    if (ctx.workload == "digest_all") { Digests.write(ctx, o("digests")); return }

    val mainStartMs = Common.nowMs
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val res = new Result
    res.info("seed") = ctx.seed.toString
    res.info("nproc") = ctx.cores.toString
    res.info("loadavg_start") = Common.loadavg()
    val gc0 = Common.gcMs()
    val trace = if (ctx.trace) Some(new Trace(s"${ctx.workload}-${ctx.seed}")) else None
    try ctx.workload match {
      case "news_stream" => NewsBench.run(ctx, res, trace)
      case "query_suite" => QuerySuite.run(ctx, res, trace, o("digests"))
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"${ctx.workload}: run aborted: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
        res.failed += 1
    }
    val endMs = Common.nowMs
    res.e2e("peak_rss_mb") = (Common.peakRssMb(), "MB")
    res.named("peak_rss_mb") = res.e2e("peak_rss_mb")
    res.named("setup_s") = res.e2e.getOrElse("setup_s", (Double.NaN, "s"))
    res.named("error_rate") =
      (if (res.attempted > 0) res.failed.toDouble / res.attempted else 1.0, "ratio")
    res.info("loadavg_end") = Common.loadavg()
    res.info("jvm_gc_ms") = (Common.gcMs() - gc0).toString
    res.info("jvm_boot_s") = f"${(mainStartMs - jvmStartMs) / 1000.0}%.3f"
    // run phases for the wall check: boot, setup (all repetitions), window,
    // teardown; run.py compares their sum with the process wall
    val setupAll = res.info.get("setup_reps_s").map(_.split(',').map(_.toDouble).sum).getOrElse(0.0)
    val window = res.info.get("window_s").map(_.toDouble).getOrElse(0.0)
    res.info("phases_s") = f"$setupAll%.3f,$window%.3f,${(endMs - jvmStartMs) / 1000.0 - setupAll - window}%.3f"
    trace.foreach { tr =>
      res.layer("trace.hook_ms", tr.hookNs.get / 1e6, "ms")
      res.layer("trace.spans", tr.spans.size.toDouble, "count")
      Seq("latency_p50_ms", "throughput_per_s").foreach { k =>
        res.e2e.get(k).foreach { case (v, u) => res.layer(s"trace.e2e.$k", v, u) }
      }
      res.layer("host.load1_end", Common.loadavg().split(' ').head.toDoubleOption.getOrElse(-1.0), "load")
      res.layer("jvm.gc_ms", (Common.gcMs() - gc0).toDouble, "ms")
      tr.root(ctx.workload, mainStartMs.toDouble, endMs.toDouble)
      tr.writeSpans(Paths.get(ctx.workDir, "spans.jsonl"))
    }
    Common.write(Paths.get(o("out")), json(res))
    System.exit(0)
  }

  private def obj(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"${Common.jsonStr(k)}:{\"value\":${Common.jsonNum(v)},\"unit\":${Common.jsonStr(u)}}"
    }.mkString("{", ",", "}")

  private def json(r: Result): String = {
    val info = r.info.map { case (k, v) => s"${Common.jsonStr(k)}:${Common.jsonStr(v)}" }
      .mkString("{", ",", "}")
    val fails = r.failures.map(Common.jsonStr).mkString("[", ",", "]")
    s"""{"correct":${r.failures.isEmpty},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""failures":$fails,"e2e":${obj(r.e2e)},"layers":${obj(r.layers)},""" +
      s""""named":${obj(r.named)},"info":$info}"""
  }
}

/** Times and digests every registered query over the generated tables, for
  * the committed digests file: cold run, digest, warm run (the reference
  * cost that stratifies the sample).
  */
object Digests {
  def write(ctx: Ctx, out: String): Unit = {
    val s = Common.session(ctx.cores)
    s.range(1 << 20).selectExpr("sum(id)").collect()
    val lines = graft.Registry.all.sortBy(_.name).map { q =>
      def timed(): Double = {
        val t = System.nanoTime()
        q.build(s, ctx.dataDir).write.format("noop").mode("overwrite").save()
        Common.secsSince(t) * 1000
      }
      try {
        val cold = timed()
        val (rows, hash) = QuerySuite.digest(q.build(s, ctx.dataDir))
        val warm = timed()
        System.err.println(f"[digest] ${q.name} rows=$rows cold=$cold%.0f warm=$warm%.0f")
        f"${q.name}\t$rows\t$hash\t$warm%.1f"
      } catch {
        case e: Throwable =>
          System.err.println(s"[digest] ${q.name} FAILED: ${e.getMessage}")
          s"# ${q.name} failed: ${e.getClass.getSimpleName}"
      }
    }
    Common.write(Paths.get(out),
      "# query\trows\tsha256-prefix\treference warm ms (4 cores)\n" +
        lines.mkString("", "\n", "\n"))
    Common.stop(s)
  }
}
