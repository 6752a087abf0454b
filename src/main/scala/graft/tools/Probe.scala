package graft.tools

import graft._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

/** Dev probes over the factory session (`Engine.session` on
  * `Engine.localCores`), one mode per investigation:
  *
  * {{{
  * tools/run_main.sh graft.tools.Probe jobs   <query> [sfDir] [keepcache] [joblog]
  * tools/run_main.sh graft.tools.Probe stages <query> <sfDir> [minFreeGb]
  * tools/run_main.sh graft.tools.Probe plan   <outDir> <tag> <query>...|ALL
  * tools/run_main.sh graft.tools.Probe sql    <corpus.tsv> <out.tsv>
  * tools/run_main.sh graft.tools.Probe scale  <sfDir> <outFile> <query>...
  * }}}
  *
  *  - `jobs`: min-of-3 warm wall of one SparkEntry query with its job
  *    and stage counts (at small SF the ~0.3 s/job scheduling floor
  *    dominates many-job DAGs); `joblog` adds per-job wall and tasks.
  *  - `stages`: one run printing, per stage, its task count and input /
  *    shuffle-read / shuffle-write / spill bytes, under a watchdog that
  *    halts the JVM when free spill disk drops under `minFreeGb`.
  *  - `plan`: `.explain("formatted")` per query to
  *    `<outDir>/<query>_<tag>.txt`.
  *  - `sql`: replays a conformance corpus (`tools/gen_conformance.py`
  *    TSV: name, kind, sql) through `Engine.query`, writing
  *    `OK|FAIL\tname\tkind\tdetail` for `tools/check_conformance.py`
  *    (an OK detail is one JSON document per row, joined by U+0001).
  *  - `scale`: a cold then a warm pass over the named queries, with
  *    `/proc/loadavg` beside each, as one JSON object (SCALE_CURVE
  *    shape: sf, cpus, loadavg_before/after, warm_total, queries, cold).
  *
  * Without an sfDir argument, `jobs` and `plan` read
  * `$SPARK_GRAFT_SF_DIR`.
  */
object Probe {

  private val modes: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "jobs" -> (jobs _), "stages" -> (stages _), "plan" -> (plan _),
    "sql" -> (sql _), "scale" -> (scale _))

  def main(args: Array[String]): Unit = {
    val run = args.headOption.flatMap(modes.get).getOrElse(
      throw new IllegalArgumentException(
        s"usage: Probe <${modes.keys.toSeq.sorted.mkString("|")}> <args...>"))
    val spark = Engine.session(Engine.localCores)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq.drop(1)) finally spark.stop()
  }

  private lazy val queries = SparkEntry.queries

  private def query(name: String): (SparkSession, String) => DataFrame =
    queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name' (not a SparkEntry.queries name)"))

  private def envSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("pass an sfDir or set SPARK_GRAFT_SF_DIR"))

  /** Result of `body` and its wall seconds. */
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Job and stage events of the session: counts, per-job lines
    * (wall, tasks, call site), and optionally one line per stage
    * submitted and completed. */
  private final class Events(printStages: Boolean) extends SparkListener {
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val jobLines = new ConcurrentLinkedQueue[String]()
    // jobId -> (t_start_nanos, numTasks, lastStageName)
    private val open = new ConcurrentHashMap[Int, (Long, Int, String)]()

    def reset(): Unit = { jobs.set(0); stages.set(0); jobLines.clear() }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val nTasks = j.stageInfos.map(_.numTasks).sum
      val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
      open.put(j.jobId, (System.nanoTime(), nTasks, site))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(open.remove(j.jobId)).foreach { case (t0, nTasks, site) =>
        jobLines.add(
          f"  job ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e3}%9.0f us tasks=$nTasks%4d  $site")
      }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      stages.incrementAndGet()
      if (printStages)
        println(f"[stage ${s.stageInfo.stageId}%3d SUBMIT tasks=${s.stageInfo.numTasks}%5d] ${s.stageInfo.name.take(90)}")
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (printStages) {
        val m = s.stageInfo.taskMetrics
        val wall = (for (t0 <- s.stageInfo.submissionTime; t1 <- s.stageInfo.completionTime)
          yield (t1 - t0) / 1e3).getOrElse(-1.0)
        println(f"[stage ${s.stageInfo.stageId}%3d DONE  ${wall}%7.1fs in=${m.inputMetrics.bytesRead / 1e9}%7.2fG sr=${m.shuffleReadMetrics.totalBytesRead / 1e9}%7.2fG sw=${m.shuffleWriteMetrics.bytesWritten / 1e9}%7.2fG spill=${m.diskBytesSpilled / 1e9}%7.2fG rows=${m.shuffleWriteMetrics.recordsWritten}%12d] ${s.stageInfo.name.take(70)}")
      }
  }

  private def listen(sp: SparkSession, printStages: Boolean): Events = {
    val ev = new Events(printStages)
    sp.sparkContext.addSparkListener(ev)
    ev
  }

  private def jobs(sp: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, "usage: Probe jobs <query> [sfDir] [keepcache] [joblog]")
    val name = args.head
    val dir = args.lift(1).filterNot(Set("keepcache", "joblog")).getOrElse(envSfDir)
    val fn = query(name)
    val ev = listen(sp, printStages = false)
    fn(sp, dir).collect() // warm (codegen + cache)
    // min of 3 measured runs — this box drifts ±30% (BENCH_NOTES), a
    // single run can't tell plan wins from VM noise
    val runs = (1 to 3).map { _ =>
      if (!args.contains("keepcache")) Engine.releaseCache(sp)
      Thread.sleep(300)
      ev.reset()
      val (n, dt) = timed(fn(sp, dir).collect().length)
      Thread.sleep(500) // let listener events drain
      (n, dt, ev.jobs.get, ev.stages.get)
    }
    val best = runs.minBy(_._2)
    println(f"query=$name rows=${best._1} warm_min=${best._2}%.3f " +
      f"all=${runs.map(r => f"${r._2}%.2f").mkString(",")} " +
      f"jobs=${best._3} stages=${best._4}")
    if (args.contains("joblog")) // the last run's jobs
      ev.jobLines.toArray(Array.empty[String]).foreach(println)
  }

  private def stages(sp: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2, "usage: Probe stages <query> <sfDir> [minFreeGb]")
    val Seq(name, dir) = args.take(2)
    val minFree = args.lift(2).fold(8)(_.toInt).toLong << 30
    val fn = query(name)
    listen(sp, printStages = true)
    val watchdog = new Thread(() => {
      while (true) {
        Thread.sleep(5000)
        // watch the directory shuffle spill actually lands in:
        // spark.local.dir, falling back to java.io.tmpdir
        val spillDir = sp.conf.getOption("spark.local.dir")
          .orElse(sys.env.get("SPARK_LOCAL_DIRS").map(_.split(",").head))
          .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
          .split(",").head
        val free = new java.io.File(spillDir).getUsableSpace
        if (free < minFree) {
          System.err.println(s"[watchdog] free disk ${free >> 30}G < ${minFree >> 30}G — aborting")
          Runtime.getRuntime.halt(42)
        }
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val (n, dt) = timed(fn(sp, dir).count())
    println(f"[done] rows=$n wall=$dt%.1f s")
  }

  private def plan(sp: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 3, "usage: Probe plan <outDir> <tag> <query>...|ALL")
    val Seq(outDir, tag) = args.take(2)
    val names =
      if (args.drop(2).contains("ALL")) queries.keys.toSeq.sorted
      else args.drop(2)
    val dir = envSfDir
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = query(name)(sp, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      Engine.releaseCache(sp)
    }
  }

  private def sql(sp: SparkSession, args: Seq[String]): Unit = {
    require(args.length == 2, "usage: Probe sql <corpus.tsv> <out.tsv>")
    val Seq(corpus, outFile) = args.take(2)
    // explicit UTF-8: the container JVM defaults to US-ASCII, which
    // chokes on unicode probe rows
    val src = scala.io.Source.fromFile(corpus, "UTF-8")
    val out = new java.io.PrintWriter(outFile, "UTF-8")
    for (line <- src.getLines() if line.nonEmpty && !line.startsWith("--")) {
      val Array(name, kind, stmt) = line.split("\t", 3)
      val res =
        try {
          val df = Engine.query(sp, stmt)
          // toJSON has no codec for CalendarInterval/TIME: fall back
          // to Row.toString (the comparer counts those as execute-only)
          val rendered =
            try {
              val js = df.toJSON.collect()
              // zero-row results carry their column list so the
              // comparer can check shape, not just emptiness (an
              // all-null row renders "{}", never "")
              if (js.isEmpty) "COLS:" + df.columns.mkString(",")
              else js.mkString("\u0001")
            }
            catch { case _: Throwable =>
              "RAW:" + df.collect().map(_.toString).mkString("\u0001") }
          s"OK\t$name\t$kind\t$rendered"
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("\\s+", " ").take(700)
            s"FAIL\t$name\t$kind\t$msg"
        }
      out.println(res)
      out.flush()
    }
    out.close(); src.close()
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3)
      .mkString(" ")
    catch { case _: Throwable => "?" }

  private def scale(sp: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 3, "usage: Probe scale <sfDir> <outFile> <query>...")
    val Seq(sfDir, outFile) = args.take(2)
    val fns = args.drop(2).map(name => name -> query(name))
    val la0 = loadavg()
    def pass(): Seq[(String, Double)] = fns.map { case (name, fn) =>
      val (_, t) = timed(fn(sp, sfDir).count())
      Engine.releaseCache(sp) // outside the timed window
      name -> t
    }
    val cold = pass()
    val warm = pass()
    val la1 = loadavg()
    def m(ts: Seq[(String, Double)]): String =
      ts.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val json =
      s"""{"sf":"$sfDir","cpus":${Engine.localCores},"loadavg_before":"$la0","loadavg_after":"$la1",""" +
      s""""warm_total":${f"${warm.map(_._2).sum}%.3f"},""" +
      s""""queries":${m(warm)},"cold":${m(cold)}}"""
    Files.writeString(Paths.get(outFile), json + "\n")
    println(json)
  }
}
