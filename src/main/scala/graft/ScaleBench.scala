package graft

/** Scale-curve runner: times a named subset of SparkEntry queries on
  * one scale dir — cold pass (JVM/codegen warm-up) then a timed warm
  * pass — and records `/proc/loadavg` beside each measurement so a
  * loaded VM can't masquerade as a regression (round-5/6 lesson: this
  * box drifts ±10-30% with background load).
  *
  * Usage: runMain graft.ScaleBench <sfDir> <outFile> <query> [query...]
  * Output: one JSON object {sf, loadavg_before/after, queries:{name:
  * warm_sec}, cold:{name: cold_sec}}.
  */
object ScaleBench {

  private def loadavg(): String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim.split(" ").take(3)
      .mkString(" ")
    catch { case _: Throwable => "?" }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleBench <sfDir> <outFile> <q>...")
    val sfDir = args(0)
    val out = args(1)
    val names = args.drop(2).toSeq
    // honor SPARK_GRAFT_CPUS like Bench does (r13): the core-scaling
    // probe runs the heavy queries at 8 vs 32 cores on sf10+, where
    // (unlike sf0.1) the work is large enough for core count to show
    val cpus = Engine.cpusFromEnv(32)
    val spark = Engine.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")

    val la0 = loadavg()
    def pass(): Seq[(String, Double)] = names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      // same block-hygiene rule as Bench: drop SQL-cache entries AND
      // pinned localCheckpoint blocks between queries, outside the
      // timed window (stale CacheManager entries from the scale-path
      // persists otherwise poison later queries — see Bench.scala)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      name -> t
    }
    val cold = pass()
    val warm = pass()
    val la1 = loadavg()

    def m(ts: Seq[(String, Double)]): String =
      ts.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val json =
      s"""{"sf":"$sfDir","cpus":$cpus,"loadavg_before":"$la0","loadavg_after":"$la1",""" +
      s""""warm_total":${f"${warm.map(_._2).sum}%.3f"},""" +
      s""""queries":${m(warm)},"cold":${m(cold)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}
