package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.queries.EmbQueries
import graft.streaming.AnnServing

/** The ANN serve-beside-upsert phase: reads beside writes on one versioned
  * IVF-PQ index, built from the small generated corpus. Open-loop
  * query-vector files are served by `startPublishedServingSink`
  * (ProcessingTime(0)) while a staged backlog of fresh vectors drains
  * through `startVersionedSelfHealingSink` with CAS publishes on the same
  * manifest root. A query file's latency runs from its due time to the
  * commit of the serving batch that answered it.
  *
  * It runs inside the traced query_suite run, after the query passes: as a
  * workload of its own (three set-ups of ~9 s index builds plus a ~15 s
  * maintenance batch per run) it did not fit the benchmark's run budget.
  * Its figures are per-layer metrics and named report metrics.
  */
object AnnBench {
  val IntervalMs = 80
  val VectorsPerFile = 3
  val FreshVectors = 300
  val FreshFiles = 3
  val FreshFilesPerTrigger = 3
  val K = 5
  val FreshBase = 1000000000L
  val QueryBase = 2000000000L
  private val Dim = 64

  private val serveSchema = StructType(Seq(
    StructField("qid", LongType), StructField("qvec", ArrayType(DoubleType))))
  private val freshSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)),
    StructField("label", LongType)))

  final class Stage(val spark: SparkSession, val root: java.nio.file.Path) {
    def p(n: String): String = root.resolve(n).toString
    var serve: StreamingQuery = _
  }

  private def unit(rnd: scala.util.Random): Array[Double] = {
    val v = Array.fill(Dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def vec(v: Array[Double]): String = v.map(x => f"$x%.6f").mkString("[", ",", "]")

  def run(ctx: Ctx, res: Result, tr: Trace, s: SparkSession, dataDir: String): Unit = {
    val nFiles = math.max(1, (ctx.seconds * 1000 / IntervalMs).round.toInt)
    val names = (0 until nFiles).map(i => f"q$i%06d.json")
    val root = Paths.get(ctx.dir("ann"))
    val st = new Stage(s, root)
    val setup0 = System.nanoTime()
    val idx = EmbQueries.ensureServedIndex(s, dataDir)
    val work = st.p("ix")
    s.read.parquet(s"$idx/codes").write.partitionBy("cell").parquet(s"$work/codes_v1")
    s.read.parquet(s"$idx/centroids").write.parquet(s"$work/centroids_v1")
    s.read.parquet(s"$idx/codebook").write.parquet(s"$work/codebook")
    EmbQueries.publishVersion(s, work, 1, s"$work/centroids_v1", s"$work/codes_v1")

    // fresh vectors: seeded unit vectors under ids no corpus vector has
    val rnd = new scala.util.Random(ctx.seed)
    val fresh = (0 until FreshVectors).map(i =>
      (FreshBase + i, unit(rnd), rnd.nextInt(10)))
    (0 until FreshFiles).foreach { f =>
      Common.write(root.resolve("maint_in").resolve(f"m$f%03d.json"),
        fresh.zipWithIndex.filter(_._2 % FreshFiles == f).map { case ((id, v, l), _) =>
          s"""{"vec_id":$id,"embedding":${vec(v)},"label":$l}"""
        }.mkString("", "\n", "\n"))
    }
    val emb = s.read.parquet(s"$dataDir/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    val freshDf = s.read.schema(freshSchema).json(st.p("maint_in"))
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label").cast("int").as("label"))
    emb.unionByName(freshDf).write.parquet(st.p("vecs"))

    (names :+ "warm.json").zipWithIndex.foreach { case (n, i) =>
      Common.write(root.resolve("serve_staged").resolve(n),
        (0 until VectorsPerFile).map { j =>
          s"""{"qid":${QueryBase + i.toLong * VectorsPerFile + j},"qvec":${vec(unit(rnd))}}"""
        }.mkString("", "\n", "\n"))
    }
    Files.createDirectories(root.resolve("serve_in"))
    Common.land(root.resolve("serve_staged/warm.json"), st.p("serve_in"))
    st.serve = AnnServing.startPublishedServingSink(
      s.readStream.schema(serveSchema).json(st.p("serve_in")),
      work, st.p("vecs"), st.p("serve_out"), st.p("ck_serve"), k = K,
      trigger = Trigger.ProcessingTime(0))
    st.serve.processAllAvailable()
    res.named("ann_setup_s") = (Common.secsSince(setup0), "s")

    val t0 = Common.nowMs + 20
    val maintStart = System.nanoTime()
    val maint = AnnServing.startVersionedSelfHealingSink(
      s.readStream.schema(freshSchema).option("maxFilesPerTrigger", FreshFilesPerTrigger)
        .json(st.p("maint_in")),
      st.p("ix"), st.p("vecs"), st.p("ck_maint"), casPublish = true)
    @volatile var maintSec = Double.NaN
    val waiter = new Thread(() => {
      maint.awaitTermination()
      maintSec = Common.secsSince(maintStart)
    }, "perfbench-maint-wait")
    waiter.start()
    val due = new Array[Long](nFiles)
    val gen = new Thread(() => {
      names.indices.foreach { i =>
        due(i) = t0 + i.toLong * IntervalMs
        val wait = due(i) - Common.nowMs
        if (wait > 0) Thread.sleep(wait)
        Common.land(st.root.resolve("serve_staged").resolve(names(i)), st.p("serve_in"))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    waiter.join()
    st.serve.processAllAvailable()
    tr.drain(s)
    val keys = Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
      "walCommit" -> "wal_commit")
    tr.streamLayers(res, "ann.serve", Some(st.serve.id), keys)
    tr.streamLayers(res, "ann.maintain", Some(maint.id), keys)
    res.layers.remove("ann.serve.batches")
    res.layers.remove("ann.maintain.batches")
    st.serve.stop()
    maint.exception.foreach(e => res.fail(s"ann.maintain: ${e.getMessage.take(160)}"))

    val batchOf = Common.batchOfFile(st.p("ck_serve"))
    val commit = Common.commitTimes(st.p("ck_serve/commits"))
    val lat = names.indices.flatMap { i =>
      val c = batchOf.get(names(i)).flatMap(commit.get)
      res.check(c.isDefined, s"ann.latency: ${names(i)} never committed by the serving sink")
      c.map(ms => (ms - due(i)).toDouble)
    }
    if (lat.nonEmpty) {
      res.named("ann_latency_p50_ms") = (Common.quantile(lat, 0.5), "ms")
      res.named("ann_latency_p95_ms") = (Common.quantile(lat, 0.95), "ms")
    }
    res.info("ann_latency_samples") = lat.size.toString

    // every query answered with K rows; served versions never go back
    val answers0 = s.read.parquet(st.p("serve_out"))
    val answers =
      if (ctx.canary == "drop_answer")
        answers0.filter(!(col("qid") === QueryBase && col("rank") === 1))
      else answers0
    val perQ = answers.groupBy("qid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asked = (0 until (nFiles + 1) * VectorsPerFile).map(QueryBase + _)
    val badQ = asked.filter(q => perQ.getOrElse(q, 0L) != K)
    res.attempted += asked.size
    res.failed += badQ.size
    res.check(badQ.isEmpty, s"ann.serve: ${badQ.size} queries not answered with $K rows, first qid ${badQ.headOption.getOrElse(-1)}")
    val versions = answers.select("batch_id", "version").distinct()
      .orderBy("batch_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    val regress = versions.sliding(2).count(w => w.length == 2 && w(1)._2 < w(0)._2)
    res.check(regress == 0, s"ann.serve: served version went back $regress times")

    val (ver, _, codesPath) = EmbQueries.readManifest(s, st.p("ix"))
    val applied = EmbQueries.readSegments(s, codesPath)
      .filter(col("vec_id") >= FreshBase).select("vec_id").distinct().count()
    res.attempted += FreshVectors
    res.failed += FreshVectors - applied
    res.check(applied == FreshVectors,
      s"ann.maintain: $applied of $FreshVectors fresh vectors in the final manifest")
    res.named("ann_upserts_per_s") = (applied / maintSec, "1/s")
    res.info("ann_maintain_s") = f"$maintSec%.3f"
    res.layer("ann.versions_published", (ver - 1).toDouble, "count")
    res.layer("ann.segments_final", codesPath.split(',').count(_.trim.nonEmpty).toDouble, "count")
    Common.deleteTree(st.root)
  }
}
