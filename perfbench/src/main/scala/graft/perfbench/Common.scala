package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One run's parameters, as `run.py` passes them. */
final case class Ctx(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    annDataDir: String,
    workDir: String,
    canary: String,
    cores: Int) {
  def dir(name: String): String = {
    val p = Paths.get(workDir, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** What one run measured and checked; `Main` writes it as JSON. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** the workload's named metrics, for the report line */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def fail(what: String): Unit = synchronized { failures += what }
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
  def layer(name: String, v: Double, unit: String): Unit =
    layers(name) = (v, unit)
}

object Common {
  def nowMs: Long = System.currentTimeMillis()
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The engine's shape: Spark in-process at N cores, N shuffle partitions.
    * Temporary and local dirs follow `java.io.tmpdir`, which `run.py`
    * points inside the run directory.
    */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = if (!s.sparkContext.isStopped) {
    s.streams.active.foreach(_.stop())
    graft.CacheRegistry.clear(s)
    s.stop()
  }

  /** Sets up `reps` times and reports the median set-up time: work moved
    * into set-up shows, while one slow repetition does not. The first
    * repetition is timed from JVM start, so it carries JVM boot too.
    * Every repetition but the last is torn down again.
    */
  def repeatedSetup[T](reps: Int, res: Result)(setup: () => T)(
      teardown: T => Unit): T = {
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (i <- 0 until reps) {
      val t0 = nowMs
      val st = setup()
      times += (nowMs - (if (i == 0) jvmStartMs else t0)) / 1000.0
      if (i < reps - 1) teardown(st) else last = Some(st)
    }
    res.info("setup_reps_s") = times.map(t => f"$t%.3f").mkString(",")
    res.e2e("setup_s") = (median(times.toSeq), "s")
    last.get
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(-1.0)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  def write(p: Path, body: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  /** Lands a staged file atomically, as a writer outside Spark would. */
  def land(staged: Path, dir: String): Unit =
    Files.move(staged, Paths.get(dir, staged.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)

  /** Modification time of a file, ms since the epoch. */
  def mtimeMs(p: Path): Long = Files.getLastModifiedTime(p).toMillis

  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.toList finally st.close()
    }

  /** file -> batch id, from a file-source checkpoint's `sources/0` log
    * (plain and compacted entries alike).
    */
  def batchOfFile(checkpoint: String): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":([0-9]+)".r
    list(Paths.get(checkpoint, "sources", "0"))
      .filter(_.getFileName.toString.head.isDigit).flatMap { f =>
      Files.readAllLines(f, UTF_8).asScala.flatMap(l =>
        entry.findFirstMatchIn(l).map(m =>
          Paths.get(new java.net.URI(m.group(1))).getFileName.toString ->
            m.group(2).toLong))
    }.toMap
  }

  /** batch id -> commit time (ms) of a metadata log dir whose entries are
    * named `<batchId>` or `<batchId>.compact` (`commits/`,
    * `_spark_metadata/`).
    */
  def commitTimes(logDir: String): Map[Long, Long] =
    list(Paths.get(logDir)).flatMap { f =>
      val n = f.getFileName.toString.stripSuffix(".compact")
      if (n.nonEmpty && n.forall(_.isDigit)) Some(n.toLong -> mtimeMs(f))
      else None
    }.toMap

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally st.close()
    }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
}

/** Seeded synthetic news articles as NDJSON. The mix exercises every branch
  * of the lineage: lexicon words with negators and intensifiers, markup,
  * URLs and digits for the cleaner, and a few descriptions that are null or
  * clean to nothing, which the non-empty filter drops.
  */
final class ArticleGen(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private val pos = Seq("good", "great", "excellent", "best", "happy",
    "success", "win", "growth", "strong", "improved", "gains", "record",
    "fresh", "efficient", "smart", "quick")
  private val neg = Seq("bad", "terrible", "worst", "sad", "fail",
    "failure", "loss", "crisis", "crash", "decline", "weak", "fear", "risk",
    "threat", "war", "poor", "broken")
  private val neutral = Seq("market", "report", "city", "council",
    "weather", "update", "schedule", "region", "team", "season", "company",
    "shares", "plan", "officials", "said", "on", "the", "in", "for", "of",
    "a", "week", "minister", "results", "energy", "policy", "data", "users")
  private val mods = Seq("not", "no", "never", "very", "really",
    "extremely", "slightly", "barely")
  private val noise = Seq("<b>", "</b>", "&amp;", "2024", "#news", "@desk",
    "https://t.co/x1", "--", "!!", "(update)", "3.5%")

  private def pick(xs: Seq[String]): String = xs(rnd.nextInt(xs.size))

  private def words(n: Int): String = (0 until n).map { _ =>
    val r = rnd.nextDouble()
    if (r < 0.08) pick(pos)
    else if (r < 0.15) pick(neg)
    else if (r < 0.22) pick(mods)
    else if (r < 0.28) pick(noise)
    else pick(neutral)
  }.mkString(" ")

  def article(id: String, out: StringBuilder): Unit = {
    val r = rnd.nextDouble()
    val desc =
      if (r < 0.01) "null"
      else if (r < 0.03) "\" -- !! 2024 ... \""
      else "\"" + words(8 + rnd.nextInt(23)) + "\""
    val minute = rnd.nextInt(60)
    out.append("{\"id\":\"").append(id)
      .append("\",\"title\":\"").append(words(3 + rnd.nextInt(6)))
      .append("\",\"description\":").append(desc)
      .append(",\"content\":null,\"url\":\"https://example.invalid/")
      .append(id).append("\",\"image\":null,\"publishedAt\":\"2024-01-01T10:")
      .append(f"$minute%02d").append(":00Z\",\"lang\":\"en\",")
      .append("\"fetched_at\":\"2024-01-01T10:00:00\"}\n")
  }

  /** Writes `n` articles with ids `<prefix>-<i>` into `path`. */
  def file(path: Path, prefix: String, n: Int): Unit = {
    val sb = new StringBuilder(n * 320)
    (0 until n).foreach(i => article(s"$prefix-$i", sb))
    Common.write(path, sb.toString)
  }
}
