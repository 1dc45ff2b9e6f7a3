package graft

import org.apache.spark.sql.SparkSession

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** The one session preset every entry point builds from: `local[N]`
  * with N shuffle partitions, UTC, UI off, AQE on, a suite-sized
  * codegen cache, fork-free local files on both Hadoop APIs
  * (`NioLocalFileSystem` as the context-wide, cached `file:` FileSystem
  * class for part files; `NioLocalFs` as the `file:` FileContext class,
  * through which Spark's stock checkpoint manager writes every
  * checkpoint file) and WARN logging. N comes from `SPARK_GRAFT_CPUS`
  * (default 4); callers that need one more setting add it to the
  * builder or, for runtime SQL confs, with `spark.conf.set` afterwards.
  *
  * Measured and rejected (r13 E1): parallelismFirst=false + advisory
  * partition sizing cut tiny-task overhead but SERIALIZED the CPU-bound
  * small-data queries onto one core (emb_operating_grid 3.8 -> 14.6 s;
  * suite 245.6 -> 278.3 s). Spark's default (parallelism-first
  * coalescing) is the right call for this compute-heavy-per-byte suite;
  * see OPTIMIZATION_r13.md.
  */
object Session {
  /** STATIC conf, must be set before the first session: the default
    * generated-class cache holds 100 entries while the suite compiles
    * ~1,500 distinct codegen classes — pure LRU thrash, so the warm
    * phase's compiles were evicted long before the measured twin ran
    * (r14, measured: repeat-run of a query is ~0.45x its first run,
    * almost all of it Janino+JIT). Sized to hold the whole suite;
    * memory cost is bytecode+source of ~1.5k small classes (~tens of
    * MB). Scale-independent: class count tracks query count, not
    * data volume.
    */
  val CodegenCacheEntries = 4096

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def builder(cpus: Int = Session.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.hadoop." + NioLocalFileSystem.ImplKey,
        classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop." + NioLocalFileSystem.FcImplKey,
        classOf[NioLocalFs].getName)

  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
