package graft.index

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The VERSIONED ANN INDEX STORE — the one place that reads and writes
  * the manifest, the version log and the orphan records of an index
  * root. Versions are LOGICAL: a manifest points at immutable artifact
  * directories (the Iceberg/Delta convention), so building version v+1
  * never copies or touches version v's files, and publishing is ONE
  * atomic rename of MANIFEST.json (FileContext.rename with
  * Options.Rename.OVERWRITE — readers see the old or the new manifest,
  * never a torn state; plain FileSystem.rename refuses an existing
  * destination). Every path resolves its FS from its own scheme.
  *
  * Layout under `root`:
  *   - MANIFEST.json — the published version;
  *   - VERSION.&lt;v&gt;.json — the immutable per-version log entry,
  *     which [[gcPlan]] walks and [[readManifestAt]] resolves;
  *   - VERSION.&lt;v&gt;.orphan.&lt;k&gt;.json — the log entry of an
  *     abandoned fork, kept so GC still sees the fork's dirs;
  *   - the artifact dirs themselves.
  * Manifest, log entry and orphan record share one body,
  * `{"version":v,"centroids":"...","codes":"..."}`, where `codes` is an
  * ordered comma-separated list of code SEGMENT dirs ([[segments]]).
  *
  * FORWARD COMMITS ARE COMPARE-AND-SWAP ([[commitCas]]). The rename
  * alone is last-write-wins, so two writers that both built against
  * base v would silently lose one update. A forward commit therefore
  * targets exactly v+1 and first CLAIMS the log slot VERSION.&lt;v+1&gt;.json
  * with create(overwrite=false) — atomic on HDFS, precondition-guarded
  * on object stores (If-None-Match), best-effort two-step on the raw
  * local FS (the specs exercise the sequential interleavings, which
  * hold on any FS). Exactly one same-base writer wins the slot; a loser
  * touches nothing and rebases. The claim body IS the full next
  * manifest, so any process can finish a crashed winner's commit
  * (roll-forward helping, [[rollForwardClaim]]): no livelock behind an
  * abandoned claim and no lock to expire. A same-content claim is a
  * crash-retry replay of the writer's own commit and proceeds.
  *
  * [[publishVersion]] is the exact-version publish for bootstrap (v1 of
  * a fresh root, the batch publish chain) and for a serving-side
  * rollback that no op follows. A rollback that maintenance continues
  * from goes through [[rollbackTo]], which retires the abandoned fork's
  * log entries eagerly so no dead lineage squats the next CAS slot.
  */
object IndexStore {

  /** A CAS commit lost the optimistic race on every one of its attempts
    * (or a non-CAS writer keeps renaming the manifest underneath it).
    */
  final class ConcurrentPublishException(msg: String)
    extends RuntimeException(msg)

  /** The published state an op builds on, handed to a [[commitCas]]
    * build: version, centroid dir and ordered code segment dirs.
    * [[next]] names version+1's fresh dirs.
    */
  final case class View(root: String, version: Int, centroids: String,
      segments: Seq[String], tag: String) {
    def codes: String = segments.mkString(",")

    /** Version+1's fresh dir `<name>_v<v+1>.<tag>`. The writer's attempt
      * tag keeps racing builders' dirs disjoint, so the slot claim alone
      * decides whose dirs v+1 records; the tag is stable within one
      * driver, so a crash-retry overwrites its own dir.
      */
    def next(name: String): String = s"$root/${name}_v${version + 1}.$tag"
  }

  // ---- the one manifest codec ----------------------------------------

  private def body(version: Int, centroids: String, codes: String): String =
    s"""{"version":$version,"centroids":"$centroids","codes":"$codes"}\n"""

  /** Tolerant parse of a manifest / log / orphan body: None unless all
    * three fields are present and the version is an int. Quoted values
    * may hold commas (the segment list); bare values stop at the JSON
    * delimiters.
    */
  private def parse(txt: String): Option[(Int, String, String)] = {
    def field(k: String): Option[String] =
      ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(txt).map(_.group(1))
        .orElse(("\"" + k + "\":([^,}\"]+)").r.findFirstMatchIn(txt)
          .map(_.group(1)))
        .map(_.trim)
    for {
      v <- field("version").flatMap(_.toIntOption)
      c <- field("centroids")
      k <- field("codes")
    } yield (v, c, k)
  }

  /** The ordered segment dirs of a manifest `codes` field. */
  private[graft] def segments(csv: String): Seq[String] =
    csv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  // ---- FS primitives -------------------------------------------------

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String) = new Path(s"$root/MANIFEST.json")
  private def logPath(root: String, v: Int) = new Path(s"$root/VERSION.$v.json")

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, txt: String,
      overwrite: Boolean): Unit = {
    val o = fs.create(p, overwrite)
    try o.write(txt.getBytes("UTF-8")) finally o.close()
  }

  /** Per-writer attempt tag: the sanitized Spark applicationId. */
  private[graft] def attemptTag(s: SparkSession): String =
    s.sparkContext.applicationId.filter(c => c.isLetterOrDigit || c == '-')

  /** Atomically swap MANIFEST.json to `txt`: write a temp file, rename it
    * over the manifest. The temp file carries the writer's attempt tag,
    * so a roll-forward helper and a live claimant swapping the same
    * claim never share (and truncate) one temp file.
    */
  private def swap(s: SparkSession, root: String, version: Int,
      txt: String): Unit = {
    val fs = fsOf(s, root)
    val tmp = new Path(s"$root/MANIFEST.$version.${attemptTag(s)}.tmp")
    writeText(fs, tmp, txt, overwrite = true)
    FileContext.getFileContext(fs.getUri, s.sparkContext.hadoopConfiguration)
      .rename(tmp, manifestPath(root), Options.Rename.OVERWRITE)
  }

  /** Move VERSION.&lt;v&gt;.json to the first free orphan record
    * VERSION.&lt;v&gt;.orphan.&lt;k&gt;.json.
    */
  private def retire(fs: FileSystem, root: String, v: Int): Unit = {
    val free = Iterator.from(0)
      .map(k => new Path(s"$root/VERSION.$v.orphan.$k.json"))
      .find(p => !fs.exists(p)).get
    fs.rename(logPath(root, v), free)
  }

  // ---- publish -------------------------------------------------------

  /** Exact-version publish: log `version` and swap the manifest to it.
    * Used to bootstrap a root and to roll serving back or forward to a
    * logged version. An existing log entry with DIFFERENT content is an
    * abandoned fork (the first publish after a rollback reuses the
    * fork's version number): it is kept as an orphan record so GC can
    * still reclaim the fork's dirs; a same-content rewrite (rollback,
    * replay) is an idempotent overwrite.
    *
    * This publish is last-write-wins. A rollback that an op follows
    * must go through [[rollbackTo]]: after a plain re-publish of an old
    * version, the next [[commitCas]] finds the newer log entries in its
    * slots and rolls them forward, undoing the rollback.
    */
  private[graft] def publishVersion(
      s: SparkSession, root: String, version: Int,
      centroids: String, codes: String): Unit = {
    val fs = fsOf(s, root)
    val txt = body(version, centroids, codes)
    val log = logPath(root, version)
    if (fs.exists(log) && readText(fs, log) != txt) retire(fs, root, version)
    writeText(fs, log, txt, overwrite = true)
    swap(s, root, version, txt)
  }

  /** Compare-and-swap publish: commit `expectedBase + 1` iff this writer
    * wins the slot claim (or the claim already holds this exact body —
    * a crash-retry replay). False when the base moved or another writer
    * claimed the slot; nothing is written then.
    */
  private[graft] def publishVersionCas(
      s: SparkSession, root: String, expectedBase: Int,
      centroids: String, codes: String): Boolean = {
    val fs = fsOf(s, root)
    if (fs.exists(manifestPath(root)) &&
        readManifest(s, root)._1 != expectedBase) return false
    val version = expectedBase + 1
    val txt = body(version, centroids, codes)
    val log = logPath(root, version)
    def ours = readText(fs, log) == txt
    val claimed =
      if (fs.exists(log)) ours
      else try { writeText(fs, log, txt, overwrite = false); true }
      catch { case _: java.io.IOException => fs.exists(log) && ours }
    if (claimed) swap(s, root, version, txt)
    claimed
  }

  /** THE forward commit: run `build` against the published [[View]] and
    * CAS-publish the (centroids, codes) it returns as version+1. None
    * from `build` means nothing to publish. On a lost claim the attempt's
    * fresh dirs (those carrying this writer's tag that the base does not
    * reference) are deleted, an abandoned claim on the slot is rolled
    * forward, and `build` re-runs on the new base — so it must be safe to
    * re-execute. Returns the published version, or None.
    */
  private[graft] def commitCas(
      s: SparkSession, root: String, maxAttempts: Int = 5)(
      build: View => Option[(String, String)]): Option[Int] = {
    val fs = fsOf(s, root)
    val tag = attemptTag(s)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val (v, cent, codes) = readManifest(s, root)
      val view = View(root, v, cent, segments(codes), tag)
      val built = build(view)
      if (built.isEmpty) return None
      val (nc, nk) = built.get
      if (publishVersionCas(s, root, v, nc, nk)) return Some(v + 1)
      val base = (cent +: view.segments).toSet
      (segments(nc) ++ segments(nk)).distinct
        .filter(d => !base(d) && d.startsWith(root + "/") &&
          d.endsWith("." + tag))
        .foreach(d => fs.delete(new Path(d), true))
      if (readManifest(s, root)._1 == v) rollForwardClaim(s, root, v)
    }
    throw new ConcurrentPublishException(
      s"CAS commit at $root lost the race $maxAttempts times — either " +
        "pathological writer contention or a non-CAS writer is renaming " +
        "the manifest underneath this protocol")
  }

  /** Complete an abandoned winner's commit at slot `base + 1`: the claim
    * body IS the full next manifest, so publishing it is safe even if the
    * claimant is alive and about to do the same rename (each swaps
    * through its own temp file). A torn claim is refused loudly.
    */
  private[graft] def rollForwardClaim(
      s: SparkSession, root: String, base: Int): Unit = {
    val fs = fsOf(s, root)
    val log = logPath(root, base + 1)
    if (fs.exists(log)) {
      val claim = readText(fs, log)
      if (!parse(claim).exists(_._1 == base + 1))
        sys.error(s"claim $log does not parse as version ${base + 1} " +
          s"(torn write from a crashed writer?): $claim")
      swap(s, root, base + 1, claim)
    }
  }

  /** Rollback under the CAS discipline: re-publish logged version `v`
    * and retire every logged version above it to an orphan record now,
    * so the next [[commitCas]] finds a FREE slot v+1 and the fork's dirs
    * stay GC-visible.
    */
  private[graft] def rollbackTo(
      s: SparkSession, root: String, v: Int): Unit = {
    val fs = fsOf(s, root)
    val logged = listVersions(s, root)
    val (_, c, k) = logged.find(_._1 == v).getOrElse(
      sys.error(s"rollback target $v is not in the version log at " +
        s"$root (expired by GC?)"))
    logged.filter(_._1 > v).foreach(w => retire(fs, root, w._1))
    swap(s, root, v, body(v, c, k))
  }

  // ---- read ----------------------------------------------------------

  /** The published manifest: (version, centroidsPath, codes segment list). */
  private[graft] def readManifest(
      s: SparkSession, root: String): (Int, String, String) = {
    val p = manifestPath(root)
    val txt = readText(fsOf(s, root), p)
    parse(txt).getOrElse(sys.error(s"manifest $p does not parse: $txt"))
  }

  /** Read a code segment list as one DataFrame: each segment loads as its
    * own cell-partitioned root and the roots union — Spark rejects
    * several partitioned roots in one read
    * (CONFLICTING_DIRECTORY_STRUCTURES), and a filter on `cell` pushes
    * through the Union to prune directories per segment.
    */
  private[graft] def readSegments(s: SparkSession, csv: String): DataFrame = {
    val parts = segments(csv)
    if (parts.isEmpty)
      sys.error(s"manifest codes field holds no segment paths: '$csv'")
    parts.map(p => s.read.parquet(p)).reduce(_.unionByName(_))
  }

  /** Bodies of the files directly under `root` whose names match `re`. */
  private def records(s: SparkSession, root: String,
      re: scala.util.matching.Regex): Seq[(Path, (Int, String, String))] = {
    val rp = new Path(root)
    val fs = fsOf(s, root)
    if (!fs.exists(rp)) return Seq.empty
    fs.listStatus(rp).toSeq.map(_.getPath)
      .filter(p => re.findFirstIn(p.getName).isDefined)
      .map { p =>
        val txt = readText(fs, p)
        p -> parse(txt).getOrElse(
          sys.error(s"version record $p does not parse: $txt"))
      }
  }

  /** Every logged version at `root` — (version, centroidsPath, codes),
    * ascending.
    */
  private[graft] def listVersions(
      s: SparkSession, root: String): Seq[(Int, String, String)] =
    records(s, root, "^VERSION\\.\\d+\\.json$".r).map(_._2).sortBy(_._1)

  /** Abandoned-fork records with their own paths, so [[gcVersions]] can
    * retire them.
    */
  private def listOrphans(s: SparkSession, root: String)
      : Seq[(Path, (Int, String, String))] =
    records(s, root, "^VERSION\\.\\d+\\.orphan\\.\\d+\\.json$".r)

  /** TIME-TRAVEL resolve: the (centroids, codes) any LOGGED version
    * serves. Versions are logical and their dirs immutable, so an old
    * version returns its exact historical answers until GC expires it.
    * After a rollback a reused version number resolves to the current
    * lineage (orphans are dead lineages, not addressable here).
    */
  private[graft] def readManifestAt(
      s: SparkSession, root: String, version: Int): (String, String) = {
    val logged = listVersions(s, root)
    logged.find(_._1 == version).map(v => (v._2, v._3)).getOrElse(
      sys.error(s"version $version is not in the log at $root (expired " +
        s"by GC or never published); logged: " +
        s"[${logged.map(_._1).mkString(", ")}]"))
  }

  // ---- retention -----------------------------------------------------

  private def dirsOf(v: (Int, String, String)): Seq[String] =
    v._2 +: segments(v._3)

  /** VERSION GC plan: retain the newest `keep` versions PLUS the version
    * the manifest publishes (after a rollback that is an old one), expire
    * the rest, and list every artifact dir that only expired versions or
    * orphan records reference. A dir shared with a retained version is
    * never deletable, and only dirs under `root` are offered.
    *
    * @return (retainedVersions, expiredVersions, deletableDirs)
    */
  private[graft] def gcPlan(
      s: SparkSession, root: String, keep: Int)
      : (Seq[Int], Seq[Int], Seq[String]) = {
    require(keep >= 1, "must retain at least the published version")
    val versions = listVersions(s, root)
    val published =
      if (fsOf(s, root).exists(manifestPath(root)))
        Some(readManifest(s, root)._1)
      else None
    val retainIds =
      if (versions.size <= keep) versions.map(_._1).toSet
      else versions.takeRight(keep).map(_._1).toSet ++ published
    val (retained, expired) = versions.partition(v => retainIds(v._1))
    val keepDirs = retained.flatMap(dirsOf).toSet
    val orphanDirs = listOrphans(s, root).flatMap(o => dirsOf(o._2))
    val deletable = (expired.flatMap(dirsOf) ++ orphanDirs).distinct
      .filterNot(keepDirs).filter(_.startsWith(root + "/"))
    (retained.map(_._1), expired.map(_._1), deletable)
  }

  /** Execute a [[gcPlan]]: delete the expired-only dirs, the expired log
    * entries and the consumed orphan records. MANIFEST.json is untouched.
    * Returns the deleted dir count.
    */
  private[graft] def gcVersions(
      s: SparkSession, root: String, keep: Int): Int = {
    val (_, expired, dirs) = gcPlan(s, root, keep)
    val fs = fsOf(s, root)
    dirs.foreach(d => fs.delete(new Path(d), true))
    expired.foreach(v => fs.delete(logPath(root, v), false))
    listOrphans(s, root).foreach(o => fs.delete(o._1, false))
    dirs.size
  }

  /** Sweep what a writer that crashed BEFORE claiming its slot leaves
    * behind, which no record names: tag-suffixed attempt dirs
    * (`codes*` / `centroids*` with a `.tag` suffix) referenced by no
    * manifest, log entry or orphan record, and `MANIFEST.*.tmp` files
    * of a torn swap. Only entries older than `graceMs` go — the window
    * protects a live writer that has built but not yet claimed.
    * Returns the number of entries deleted.
    */
  private[graft] def gcStrayAttemptDirs(
      s: SparkSession, root: String,
      graceMs: Long = 6L * 3600 * 1000): Int = {
    val rp = new Path(root)
    val fs = fsOf(s, root)
    if (!fs.exists(rp)) return 0
    val referenced: Set[String] = {
      val published =
        if (fs.exists(manifestPath(root))) Seq(readManifest(s, root))
        else Seq.empty
      (published ++ listVersions(s, root) ++ listOrphans(s, root).map(_._2))
        .flatMap(dirsOf).toSet
    }
    val attemptDir = "^(codes|centroids)[^.]*\\.[A-Za-z0-9-]+$".r
    val tmpFile = "^MANIFEST\\..*\\.tmp$".r
    val now = System.currentTimeMillis()
    val stray = fs.listStatus(rp).toSeq.filter { st =>
      val name = st.getPath.getName
      val isStray =
        if (st.isDirectory)
          attemptDir.findFirstIn(name).isDefined &&
            !referenced(st.getPath.toUri.getPath) &&
            !referenced(st.getPath.toString)
        else tmpFile.findFirstIn(name).isDefined
      isStray && now - st.getModificationTime >= graceMs
    }
    stray.foreach(st => fs.delete(st.getPath, true))
    stray.size
  }
}
