package graft

/** Scale-probe timing: run a comma-separated list of registered queries
  * against a directory (which only needs the tables those queries read)
  * and print one JSON line of per-query seconds. Same session preset and
  * noop-sink consumer as [[Bench]]; used with tools/make_scale_probe.py
  * to measure the dedup chain at 10x/100x the sf0.1 document count —
  * the linearity evidence SCALE.md cites beyond the driver's fixed
  * scale factors.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, names) = args
    val spark = Session.start()
    // probe files are small but must still fan out across the cores —
    // the knob SCALE.md prescribes for partition sizing at any scale
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${4 << 20}")
    spark.range(1 << 20).selectExpr("sum(id)").collect() // JIT warm
    val results = names.split(",").toSeq.map { name =>
      val t0 = System.nanoTime()
      Registry.byName(name).build(spark, dir)
        .write.format("noop").mode("overwrite").save()
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","dir":"$dir","queries":$qs}""")
    CacheRegistry.clear(spark)
    spark.stop()
  }
}
