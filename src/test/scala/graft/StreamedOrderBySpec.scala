package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.server.PgWireServer

/** A root ORDER BY of a small input over the wire sorts in one range
  * partition ([[StreamedOrderBy]]): exact row order for every way the
  * wire streams a result, one job fewer than a 1024-partition range
  * sort, EXPLAIN showing what the wire runs, a large input and
  * DataFrame-API `collect()` plans left as they were. */
class StreamedOrderBySpec extends SparkSpecBase {
  import WireClient._

  /** 8 bytes a row: 800 KB, under the 1 MB one-partition limit */
  private val n = 100000
  /** every connection sees `r16`, ids 0 until n over 16 partitions, and
    * `big`, an 8 MB range */
  private lazy val port = new PgWireServer(spark, port = 0, { s =>
    s.range(0, n, 1, 16).createOrReplaceTempView("r16")
    s.range(0, 1000000, 1, 16).createOrReplaceTempView("big")
  }).start()

  private def cells(xs: Any*): Seq[Option[String]] =
    xs.map { case null => None; case x => Some(x.toString) }

  private def assertRows(sql: String, want: Seq[Seq[Option[String]]]): Unit = {
    val c = new WireClient(port)
    val got = rows(c.query(sql))
    c.close()
    assert(got.length == want.length, sql)
    got.indices.find(k => got(k) != want(k)).foreach { i =>
      fail(s"$sql: row $i is ${got(i)}, want ${want(i)}")
    }
  }

  private val ids = 0 until n

  test("DESC with ties broken by a second key") {
    assertRows("SELECT id % 100 AS k, id FROM r16 ORDER BY k DESC, id",
      (99 to 0 by -1).flatMap(k => (k until n by 100).map(cells(k, _))))
  }

  test("NULLS FIRST and NULLS LAST") {
    def k(id: Int): Any = if (id % 7 == 0) null else id % 13
    val nulls = ids.filter(_ % 7 == 0)
    assertRows("SELECT CASE WHEN id % 7 = 0 THEN NULL ELSE id % 13 END AS k, id " +
        "FROM r16 ORDER BY k NULLS FIRST, id DESC",
      (nulls.reverse ++ (0 to 12).flatMap(m => ids.reverse.filter(i => k(i) == m)))
        .map(i => cells(k(i), i)))
    assertRows("SELECT CASE WHEN id % 7 = 0 THEN NULL ELSE id % 13 END AS k, id " +
        "FROM r16 ORDER BY k DESC NULLS LAST, id",
      ((12 to 0 by -1).flatMap(m => ids.filter(i => k(i) == m)) ++ nulls)
        .map(i => cells(k(i), i)))
  }

  test("a GROUP BY child") {
    // 100000 = 997 * 100 + 300: groups below 300 hold 101 ids
    assertRows("SELECT id % 997 AS g, count(*) AS c FROM r16 GROUP BY id % 997 ORDER BY c DESC, g",
      (0 until 997).map(g => cells(g, if (g < 300) 101 else 100)))
  }

  test("a projection that drops the sort key") {
    assertRows("SELECT id * 2 AS x FROM r16 ORDER BY id % 1000, id DESC",
      (0 until 1000).flatMap(m => (n - 1000 + m to m by -1000).map(i => cells(i * 2L))))
  }

  test("a maxRows portal resumed across Execute messages") {
    val c = new WireClient(port)
    c.send('P', cstr(""), cstr("SELECT id % 100 AS k, id FROM r16 ORDER BY k DESC, id"), i16(0))
    c.send('B', cstr(""), cstr(""), i16(0), i16(0), i16(0))
    c.send('H')
    assert(c.until('2').map(_._1) == Vector('1', '2'))
    val got = Vector.newBuilder[Seq[Option[String]]]
    var last = 's'
    var executes = 0
    while (last == 's') {
      c.send('E', cstr(""), i32(777))
      c.send('H')
      val m = c.until('s', 'C', 'E')
      got ++= rows(m)
      last = m.last._1
      executes += 1
    }
    assert(last == 'C')
    c.send('S'); c.until('Z'); c.close()
    assert(executes == n / 777 + 1)
    assert(got.result() == (99 to 0 by -1).flatMap(k => (k until n by 100).map(cells(k, _))))
  }

  test("COPY (... ORDER BY ...) TO STDOUT") {
    val c = new WireClient(port)
    val out = c.query("COPY (SELECT id, id % 3 AS m FROM r16 ORDER BY m, id DESC) TO STDOUT")
    c.close()
    val lines = out.collect { case ('d', p) => new String(p, UTF_8) }.mkString.split('\n').toSeq
    assert(lines == (0 to 2).flatMap(m => ids.reverse.filter(_ % 3 == m).map(i => s"$i\t$m")))
  }

  /** Spark job starts, by job group; in listener-bus order */
  private object Jobs extends SparkListener {
    val groups = new ConcurrentLinkedQueue[String]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      groups.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))

    /** the groups of the jobs started so far, once the bus has
      * delivered them: a marker job's start arrives after theirs */
    def drain(): Seq[String] = {
      val sc = spark.sparkContext
      val marker = s"marker-${System.nanoTime}"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime < deadline) Thread.sleep(10)
      val seen = groups.asScala.toSeq
      groups.clear()
      seen.takeWhile(_ != marker)
    }
  }

  test("an ORDER BY over a scan runs 2 jobs: no range-sampling job") {
    val c = new WireClient(port)
    spark.sparkContext.addSparkListener(Jobs)
    try {
      // the sort at the root, under a projection, under a root OFFSET
      for ((sql, want) <- Seq(
          "SELECT id FROM r16 ORDER BY id DESC" -> ids.reverse.map(cells(_)),
          "SELECT id * 2 AS x FROM r16 ORDER BY id DESC" -> ids.reverse.map(i => cells(i * 2L)),
          "SELECT id FROM r16 ORDER BY id DESC OFFSET 5" -> ids.reverse.drop(5).map(cells(_)))) {
        Jobs.drain()
        val got = rows(c.query(sql))
        val wire = Jobs.drain().filter(_.startsWith("pgwire-"))
        assert(got == want, sql)
        // the map stage and the result job; a 1024-partition range
        // exchange runs a sampling job before them
        assert(wire.length == 2, s"$sql: $wire")
      }
    } finally {
      spark.sparkContext.removeSparkListener(Jobs)
      c.close()
    }
  }

  private def ranges(plan: String): Seq[String] =
    "rangepartitioning\\([^\\n]*".r.findAllIn(plan).map(_.replaceAll("#\\d+", "")).toSeq

  test("EXPLAIN shows what the wire runs; a large input keeps 1024 partitions") {
    val c = new WireClient(port)
    def explained(sql: String): Seq[String] =
      rows(c.query(sql)).flatMap(r => ranges(r(1).get))
    try {
      for ((sql, parts) <- Seq(
          "EXPLAIN SELECT id FROM r16 ORDER BY id DESC" -> ", 1)",
          "EXPLAIN ANALYZE SELECT id FROM r16 ORDER BY id DESC" -> ", 1)",
          // a broadcast counts by the rows it reads, not its hash table
          "EXPLAIN ANALYZE SELECT r.id, s.v FROM r16 r JOIN (VALUES ('0', 'a'), ('1', 'b')) " +
            "s(k, v) ON CAST(r.id % 2 AS STRING) = s.k ORDER BY r.id" -> ", 1)",
          "EXPLAIN SELECT id FROM big ORDER BY id DESC" -> ", 1024)",
          "EXPLAIN ANALYZE SELECT id FROM big ORDER BY id DESC" -> ", 1024)")) {
        val got = explained(sql)
        assert(got.nonEmpty && got.forall(_.contains(parts)), s"$sql: $got")
      }
    } finally c.close()
  }

  test("the wire plans one range partition; DataFrame collect() keeps 1024") {
    val wire = spark.range(0, n, 1, 16).toDF().orderBy(col("id").desc)
    assert(ColumnBridge.toLocalInternalIterator(wire.queryExecution).map(_.getLong(0)).toSeq ==
      ids.reverse.map(_.toLong))
    assert(ranges(wire.queryExecution.executedPlan.toString).forall(_.contains(", 1)")) &&
      ranges(wire.queryExecution.executedPlan.toString).nonEmpty,
      wire.queryExecution.executedPlan)
    // same thread, after the wire path: collect() plans as before
    val api = spark.range(0, n, 1, 16).toDF().orderBy(col("id").desc)
    assert(api.collect().map(_.getLong(0)).toSeq == ids.reverse.map(_.toLong))
    val planned = ranges(api.queryExecution.executedPlan.toString)
    assert(planned.nonEmpty && planned.forall(_.contains(", 1024)")), api.queryExecution.executedPlan)
  }
}
