package graft.server

import graft.{Engine, Tables}

/** Standalone server entry point — the analogue of loading the
  * reference extension (src/duckdb_pgwire_extension.cpp:214 spawning
  * start_server): build the shared session, register the testdata
  * catalog, listen on :15432.
  *
  * Usage: runMain graft.server.ServerMain [port] [sfDir]
  * Then:  psql 'postgresql://localhost:15432/main?sslmode=disable' \
  *          -c 'select 1'   (mirrors README.md:52-55)
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(15432)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    // sized at 32 cores, not from the box: the configuration the wire
    // benchmark measures and stamps (default parallelism 32)
    val spark = Engine.session(32)
    Tables.registerAll(spark, sfDir)
    // temp views are per-session; re-register on each connection clone
    val server = new PgWireServer(spark, port, Tables.registerAll(_, sfDir))
    val actualPort = server.start()
    println(s"graft pgwire server listening on :$actualPort (sfDir=$sfDir)")
    Thread.currentThread.join() // serve until killed
  }
}
