package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** DuckDB `CREATE SEQUENCE` / `nextval` / `currval` (delegated surface —
  * README's persistence walkthrough uses sequences for id columns; the
  * bridge forwards the statements verbatim at
  * src/duckdb_pgwire_extension.cpp:52).
  *
  * Engine-global registry, like DuckDB's: a sequence is a catalog
  * object shared by every connection, and `nextval` on any connection
  * advances the same counter. `currval` is scoped PER SESSION like
  * DuckDB's (round 7): each wire connection sees only the last value
  * its own `nextval` calls drew, carried as a scope key — the
  * connection handler sets a Spark local property (task-side reads via
  * TaskContext) plus a driver-side ThreadLocal, and library callers
  * without a scope share the engine scope "".
  *
  * Scale honesty: `nextval` is an inherently serial oracle — one
  * atomic per sequence. That is exactly DuckDB's semantic (single
  * node, serialized), and it is fine for the wire-server use case
  * (DDL ids, small inserts). It is NOT the way to number 100 TB of
  * rows: for that, [[assignIds]] implements the standard block-
  * allocation recipe — the DRIVER grants each partition one
  * contiguous block ([[nextBlock]], a single fetch-and-add per
  * partition) and executors add a local offset, so no per-row call
  * ever crosses the driver boundary. The per-row UDF form evaluates
  * on the driver-side executor threads of local mode; on a multi-JVM
  * cluster each executor would hold its own copy, so the UDF form is
  * deliberately not the distributed path.
  */
object Sequences {

  private final case class SeqDef(counter: AtomicLong, increment: Long)

  private val seqs = new ConcurrentHashMap[String, SeqDef]()
  // keyed by scope + SEP + sequence: one currval slot per (session,
  // sequence), DuckDB's scoping
  private val lastVal = new ConcurrentHashMap[String, java.lang.Long]()
  private val SEP = "\u0000" // can appear in neither scope nor name

  /** Spark local-property key the wire server sets per connection;
    * task-side nextval/currval UDF calls read it via TaskContext.
    */
  val ScopeProp = "graft.sequence.scope"

  // driver-side fallback for UDF evaluation outside a task (constant
  // folding, local relations): the connection handler thread sets this
  // once — each connection owns its thread for its whole lifetime
  private val threadScope = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }

  def setThreadScope(scope: String): Unit = threadScope.set(scope)

  /** Resolve the calling session's scope: inside a task, the local
    * property the submitting (connection) thread carried; on the
    * driver, the handler thread's own ThreadLocal; else the engine
    * scope "".
    */
  def callerScope(): String = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) {
      val p = tc.getLocalProperty(ScopeProp)
      if (p != null) p else ""
    } else threadScope.get()
  }

  private def norm(name: String): String =
    name.toLowerCase.stripPrefix("\"").stripSuffix("\"")

  def create(name: String, start: Long, increment: Long,
      orReplace: Boolean, ifNotExists: Boolean): Unit = {
    require(increment != 0, "INCREMENT BY must be non-zero")
    val k = norm(name)
    if (seqs.containsKey(k) && !orReplace && !ifNotExists)
      throw new IllegalArgumentException(s"sequence $name already exists")
    if (!seqs.containsKey(k) || orReplace) {
      seqs.put(k, SeqDef(new AtomicLong(start), increment))
      clearLastVal(k)
    }
  }

  def drop(name: String, ifExists: Boolean): Unit = {
    val k = norm(name)
    if (seqs.remove(k) == null && !ifExists)
      throw new IllegalArgumentException(s"sequence $name does not exist")
    clearLastVal(k)
  }

  // a dropped/replaced sequence forgets currval in EVERY session
  private def clearLastVal(k: String): Unit =
    lastVal.keySet.removeIf(_.endsWith(SEP + k))

  /** a closed session forgets its currval slots */
  def endScope(scope: String): Unit =
    lastVal.keySet.removeIf(_.startsWith(scope + SEP))
  private[graft] def lastValSlots: Int = lastVal.size

  def next(name: String): Long = next(name, callerScope())

  def next(name: String, scope: String): Long = {
    val k = norm(name)
    val s = seqs.get(k)
    if (s == null)
      throw new IllegalArgumentException(s"sequence $name does not exist")
    // counter bump and currval update must be one atomic step: two
    // interleaving connections could otherwise leave a session's
    // currval reporting a value it never drew
    s.synchronized {
      val v = s.counter.getAndAdd(s.increment)
      lastVal.put(scope + SEP + k, v)
      v
    }
  }

  /** Draw a contiguous block of `n` values in ONE fetch-and-add: the
    * base is returned; the caller owns base, base+inc, …,
    * base+(n-1)·inc. This is the distributed-numbering primitive —
    * the driver grants each partition a block sized to its row count
    * and rows add a local offset (see [[assignIds]]), so `nextval`
    * semantics survive a 1000-executor INSERT..SELECT without a
    * per-row serial oracle. Gap-tolerant like PostgreSQL CACHE:
    * undershooting a grant burns ids, never reuses them.
    */
  def nextBlock(name: String, n: Long): Long = {
    require(n > 0, s"block size must be positive, got $n")
    val k = norm(name)
    val s = seqs.get(k)
    if (s == null)
      throw new IllegalArgumentException(s"sequence $name does not exist")
    s.synchronized {
      val base = s.counter.getAndAdd(s.increment * n)
      lastVal.put(callerScope() + SEP + k, base + s.increment * (n - 1))
      base
    }
  }

  /** Append a sequence-numbered id column via driver-granted blocks:
    * one job counts rows per partition, the driver draws one
    * contiguous block per partition ([[nextBlock]]), and a second
    * map-only pass adds the local offset — ids are unique, block-
    * contiguous within a partition, and monotonic in (partition,
    * row) order. The input is pinned with a localCheckpoint so both
    * passes see identical partition contents (a re-evaluated
    * nondeterministic source could otherwise overflow its grant).
    */
  def assignIds(df: org.apache.spark.sql.DataFrame, name: String,
      outCol: String = "id"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val k = norm(name)
    val s = seqs.get(k)
    if (s == null)
      throw new IllegalArgumentException(s"sequence $name does not exist")
    val inc = s.increment
    val pinned = df.localCheckpoint(eager = false)
    val rdd = pinned.rdd
    val counts = rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)),
        preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    val bases = counts.map(n => if (n == 0) 0L else nextBlock(name, n))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val base = bases(i)
      var off = 0L
      it.map { r =>
        val v = base + off * inc
        off += 1
        Row.fromSeq(r.toSeq :+ v)
      }
    }
    df.sparkSession.createDataFrame(out,
      df.schema.add(outCol, LongType, nullable = false))
  }

  def curr(name: String): Long = curr(name, callerScope())

  def curr(name: String, scope: String): Long = {
    val k = norm(name)
    if (!seqs.containsKey(k))
      throw new IllegalArgumentException(s"sequence $name does not exist")
    val v = lastVal.get(scope + SEP + k)
    if (v == null) throw new IllegalStateException(
      s"currval of $name before nextval in this session")
    v
  }

  /** (name, start-at-next, increment) rows for PRAGMA-style listings. */
  def list(): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    seqs.asScala.toSeq.sortBy(_._1).map { case (n, d) =>
      (n, d.counter.get(), d.increment)
    }
  }
}
