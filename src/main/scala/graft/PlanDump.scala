package graft

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * queries (or all) to text files, so plan claims in OPTIMIZATION_*.md
  * are checkable without running Spark (plans/rNN/<query>_{before,after}
  * deliverable). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Same session preset as Bench, so the dumped initial plans match what
  * the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Registry.all.map(_.name)
    val spark = Session.start()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = Registry.byName(n).build(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      ()
    }
    CacheRegistry.clear(spark)
    spark.stop()
  }
}
