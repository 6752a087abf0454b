package graft

/** Session-global settings belong to `Engine.session`, the one session
  * builder: connection clones inherit them from there, and registering
  * graft's functions on a session writes none of them. */
class SessionConfigSpec extends SparkSpecBase {

  test("function registration leaves the session's config alone") {
    val policy = "spark.sql.mapKeyDedupPolicy"
    // DuckDB's map_concat keeps the last value of a duplicate key
    assert(spark.newSession().conf.get(policy) == "LAST_WIN")
    val s = spark.newSession()
    s.conf.set(policy, "EXCEPTION")
    Functions.registerAll(s)
    assert(s.conf.get(policy) == "EXCEPTION")
  }
}
