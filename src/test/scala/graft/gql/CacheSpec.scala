package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Result/subquery cache subsystem (reference graphlite/src/cache/:
  * result_cache.rs QueryResultCache, subquery_cache.rs, invalidation.rs
  * versioned + write-through strategies).
  */
class CacheSpec extends AnyFunSuite with TempDirs {

  private def freshSession() = gqlSession(SparkFixture.fraudGraph)

  private def stats(s: graft.GqlSession, cache: String): Map[String, Long] = {
    val row = s.call("gql.result_cache_stats").collect()
      .find(_.getString(0) == cache).get
    Map("hits" -> row.getLong(2), "misses" -> row.getLong(3),
      "evictions" -> row.getLong(4), "invalidations" -> row.getLong(5),
      "entries" -> row.getLong(6))
  }

  test("repeated query hits the cache and returns identical rows") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) WHERE a.balance > 1000 " +
      "RETURN a.name AS name, a.balance AS bal ORDER BY name"
    val r1 = s.execute(q).collect()
    assert(stats(s, "result")("hits") == 0)
    val r2 = s.execute(q).collect()
    assert(stats(s, "result")("hits") == 1)
    assert(stats(s, "result")("entries") == 1)
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
  }

  test("cache is parameter-aware (QueryCacheKey, result_cache.rs:19-23)") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) WHERE a.balance > $minb RETURN count(a) AS n"
    s.setParameter("minb", 1000L)
    val n1 = s.execute(q).collect().head.getLong(0)
    s.setParameter("minb", 5000L)
    val n2 = s.execute(q).collect().head.getLong(0)
    // different parameter bindings must NOT share an entry
    assert(n1 != n2)
    assert(stats(s, "result")("hits") == 0)
    // same binding again → hit
    s.setParameter("minb", 1000L)
    assert(s.execute(q).collect().head.getLong(0) == n1)
    assert(stats(s, "result")("hits") == 1)
  }

  test("DML invalidates (write-through + versioned, invalidation.rs)") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) RETURN count(a) AS n"
    val before = s.execute(q).collect().head.getLong(0)
    s.execute(q) // cached now
    assert(stats(s, "result")("hits") == 1)
    s.execute("INSERT (:Account {id: 951, name: 'CacheTest', balance: 1.0})")
    // stale entry was dropped eagerly, fresh execution sees the new row
    assert(stats(s, "result")("entries") == 0)
    assert(s.execute(q).collect().head.getLong(0) == before + 1)
  }

  test("uncorrelated scalar subqueries memoize across statements " +
      "(subquery_cache.rs)") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    // two DIFFERENT outer queries share the same inner subquery AST
    val n1 = s.execute("MATCH (a:Account) WHERE a.balance > " +
      "(MATCH (b:Account) RETURN avg(b.balance)) RETURN count(a) AS n")
      .collect().head.getLong(0)
    val rows = s.execute("MATCH (a:Account) RETURN a.name AS name, " +
      "a.balance - (MATCH (b:Account) RETURN avg(b.balance)) AS diff " +
      "ORDER BY name LIMIT 3").collect()
    assert(n1 > 0 && rows.length == 3)
    val row = s.call("gql.result_cache_stats").collect()
      .find(_.getString(0) == "subquery").get
    assert(row.getLong(2) >= 1) // second statement hit the memo
    // and the inlined literal matches the real average
    val avg = s.execute("MATCH (b:Account) RETURN avg(b.balance) AS a")
      .collect().head.getDouble(0)
    val byName = s.execute("MATCH (a:Account) RETURN a.name AS name, " +
      "a.balance AS b ORDER BY name LIMIT 3").collect()
    rows.zip(byName).foreach { case (d, b) =>
      assert(math.abs(d.getDouble(1) - (b.getDouble(1) - avg)) < 1e-9)
    }
  }

  test("non-deterministic queries are never cached (NOW stays live)") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) RETURN count(a) AS n, NOW() AS at"
    s.execute(q).collect(); s.execute(q).collect()
    // neither run touched the cache: no entry, no hit — a cached NOW()
    // would freeze the clock for the TTL
    assert(stats(s, "result")("entries") == 0)
    assert(stats(s, "result")("hits") == 0)
    // and a NOW()-bearing scalar subquery skips the subquery memo too
    s.execute("MATCH (a:Account) WHERE a.balance > 0 AND " +
      "(MATCH (b:Account) RETURN min(b.balance) + SECOND(NOW()) * 0.0) " +
      "< 99999999999 RETURN count(a) AS n").collect()
    val sub = s.call("gql.result_cache_stats").collect()
      .find(_.getString(0) == "subquery").get
    assert(sub.getLong(6) == 0) // entries
  }

  test("subquery memo is parameter-aware (SubqueryCacheKey parity)") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) WHERE a.balance > " +
      "(MATCH (b:Account) WHERE b.balance > $minb RETURN avg(b.balance)) " +
      "RETURN count(a) AS n"
    s.setParameter("minb", 0L)
    val n1 = s.execute(q).collect().head.getLong(0)
    // a changed binding must re-evaluate the inner subquery, not inline
    // the memoized literal from the previous binding
    s.setParameter("minb", 4000L)
    val n2 = s.execute(q).collect().head.getLong(0)
    assert(n1 != n2, s"stale subquery memo: $n1 == $n2")
    // f64 mode keys separately as well: count(b)/4 changes value class
    val q2 = "MATCH (a:Account) WHERE a.balance >= 0 OR a.balance < " +
      "(MATCH (b:Account) RETURN count(b) / 4) RETURN count(a) AS n"
    s.execute(q2).collect()
    s.useF64Numbers(true)
    s.execute(q2).collect()
    s.useF64Numbers(false)
  }

  test("RESULT_CACHE OFF restores lazy execution and clears entries") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    s.execute("MATCH (a:Account) RETURN count(a) AS n")
    s.execute("SESSION SET RESULT_CACHE OFF")
    assert(stats(s, "result")("entries") == 0)
    // still correct, no cache interaction
    val m0 = stats(s, "result")("misses")
    s.execute("MATCH (a:Account) RETURN count(a) AS n")
    assert(stats(s, "result")("misses") == m0)
  }

  test("explicit clear procedure empties both caches") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    s.execute("MATCH (a:Account) RETURN count(a) AS n")
    assert(stats(s, "result")("entries") == 1)
    assert(s.call("gql.result_cache_clear").collect().head.getBoolean(0))
    assert(stats(s, "result")("entries") == 0)
  }

  test("user context scopes entries (row-level-security key component)") {
    // same text, different session user → distinct entries by design;
    // exercised via the session-level key (user is a Key field)
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) RETURN count(a) AS n"
    s.execute(q); s.execute(q)
    assert(stats(s, "result")("hits") == 1)
  }

  test("catalog-listing cache: version-invalidated per session " +
      "(catalog_cache_throughput.rs; CHANGELOG.md:22)") {
    val wh = tempDir("catcache").toString
    val gls = graft.GraphLiteSpark.open(SparkFixture.spark, wh)
    val a = gls.session("a")
    a.execute("CREATE SCHEMA /s1")
    val l1 = a.execute("CALL gql.list_schemas()")
    // a repeat serves the SAME cached snapshot (identity = cache hit)
    assert(a.execute("CALL gql.list_schemas()") eq l1)
    // DDL in ANOTHER session of the same instance bumps the catalog
    // version → this session's next listing re-reads (write-through)
    gls.session("b").execute("CREATE SCHEMA /s2")
    val l2 = a.execute("CALL gql.list_schemas()")
    assert(!(l2 eq l1))
    assert(l2.collect().map(_.getString(0)).toSet == Set("s1", "s2"))
  }

  test("EXPLAIN of a cached-subquery statement launches zero Spark jobs") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) WHERE a.balance > " +
      "(MATCH (b:Account) RETURN avg(b.balance)) RETURN count(a) AS n"
    // warm compile-time memos (anchor rowcounts etc.) on an unrelated
    // statement so only the subquery path is under the job counter
    s.explain("MATCH (a:Account) RETURN count(a) AS n")
    val (trace, st) =
      graft.obs.ExecStats.during(SparkFixture.spark.sparkContext)(s.explain(q))
    // the plan-only compile takes the LAZY subquery arm — the trace
    // shows the join-shaped plan and no job ever ran
    assert(st.jobs == 0,
      s"EXPLAIN launched ${st.jobs} job(s); must be plan-only")
    assert(trace.contains("Physical plan"))
    // and the EXECUTED statement still gets the memoized-literal win
    val n = s.execute(q).collect().head.getLong(0)
    assert(n > 0)
  }

  test("read-only CALLs do not invalidate the result cache") {
    val s = freshSession()
    s.execute("SESSION SET RESULT_CACHE ON")
    val q = "MATCH (a:Account) RETURN count(a) AS n"
    s.execute(q)
    // reads between the two query executions: none may bump the epoch
    s.call("gql.list_functions").collect()
    s.execute("CALL gql.show_session()")
    s.execute(q)
    assert(stats(s, "result")("hits") == 1)
  }
}
