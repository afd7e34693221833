package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.gql.{Ast, Compiler, GqlCompileException, Parser}
import graft.graph.{GraphCatalog, PropertyGraph, GraphMutations => graph2}

/** Public entry point — the Spark-native analog of the reference's
  * embedded API (sdk-rust/src/connection.rs: `GraphLite::open(path)` →
  * `session(user)` → `session.query(gql)`).
  *
  * `open` binds a SparkSession to a warehouse directory; sessions carry
  * the current-graph state (PostgreSQL-style precedence: explicit graph >
  * session current graph — query_coordinator.rs:242-274) and compile GQL
  * text straight to DataFrames.
  */
/** Authorization failure: the session user lacks a required grant on a
  * governed graph (reference: access-denied errors from
  * catalog/providers/security.rs ACE checks).
  */
class GqlAuthException(msg: String) extends RuntimeException(msg)

/** Session management mode (session/mode.rs): `Instance` — each
  * GraphLiteSpark instance keeps its own isolated session pool (embedded
  * use); `Global` — every instance opened on the SAME warehouse shares
  * one process-wide pool (server/daemon use), so a session created
  * through one instance is visible and resumable through another.
  */
sealed trait SessionMode {
  def isInstance: Boolean = this == SessionMode.Instance
  def isGlobal: Boolean = this == SessionMode.Global
}
object SessionMode {
  case object Instance extends SessionMode
  case object Global extends SessionMode
}

final class GraphLiteSpark(val spark: SparkSession, val warehouse: String,
    val sessionMode: SessionMode = SessionMode.Instance) {
  val catalog = new GraphCatalog(spark, warehouse)

  /** Monotonic catalog version (reference: version-invalidated catalog
    * cache, CHANGELOG.md:22). Bumped by every potentially-mutating
    * statement any session of this instance executes; per-session
    * catalog-listing caches key on it, so DDL anywhere in the instance
    * invalidates every session's cached listings write-through.
    */
  private[graft] val catalogVersion = new java.util.concurrent.atomic.AtomicLong(0L)

  /** An unmanaged ad-hoc session (sdk connection style) — never pooled,
    * never expired; the caller owns its lifetime.
    */
  def session(user: String = "default"): GqlSession = new GqlSession(this, user)

  // managed pool (session/manager.rs SessionManager analog) — Instance
  // mode owns a private pool; Global mode shares the process-wide pool
  // for this warehouse path
  private val pool: GraphLiteSpark.SessionPool = sessionMode match {
    case SessionMode.Instance => new GraphLiteSpark.SessionPool
    case SessionMode.Global => GraphLiteSpark.globalPool(warehouse)
  }

  /** Create a managed session and return its id (manager.rs:110-134). */
  def createSession(user: String = "default"): String = {
    val s = new GqlSession(this, user)
    pool.sessions.put(s.sessionId, s)
    s.sessionId
  }
  /** Look up a managed session by id (manager.rs:137-142). */
  def getSession(sessionId: String): Option[GqlSession] =
    pool.sessions.get(sessionId).filter(_.isActive)
  /** Deactivate and drop a managed session (manager.rs:144-170). */
  def removeSession(sessionId: String): Boolean =
    pool.sessions.remove(sessionId).map(_.deactivate()).isDefined
  /** Ids of every live managed session (manager.rs:173-185). */
  def activeSessionIds: Seq[String] = pool.sessions.keys.toSeq.sorted
  def sessionCount: Int = pool.sessions.size
  /** Drop managed sessions idle longer than `maxIdleMillis`
    * (manager.rs:187-213 cleanup_expired_sessions).
    */
  def cleanupExpiredSessions(maxIdleMillis: Long): Int =
    pool.sessions.toSeq.count { case (id, s) =>
      s.idleMillis > maxIdleMillis && removeSession(id)
    }
  /** Detach a dropped graph from every managed session currently bound
    * to it, so none serves stale data (manager.rs:237-303
    * invalidate_sessions_for_graph). Returns the count detached.
    */
  private[graft] def invalidateSessionsForGraph(path: String): Int =
    pool.sessions.values.count(_.detachGraphIfCurrent(path))
}

object GraphLiteSpark {
  def open(spark: SparkSession, warehouse: String): GraphLiteSpark =
    new GraphLiteSpark(spark, warehouse)
  def open(spark: SparkSession, warehouse: String,
      mode: SessionMode): GraphLiteSpark =
    new GraphLiteSpark(spark, warehouse, mode)

  private[graft] final class SessionPool {
    val sessions = scala.collection.concurrent.TrieMap.empty[String, GqlSession]
  }
  // one shared pool per warehouse path for SessionMode.Global
  private val globalPools =
    scala.collection.concurrent.TrieMap.empty[String, SessionPool]
  private def globalPool(warehouse: String): SessionPool =
    globalPools.getOrElseUpdate(warehouse, new SessionPool)
}

/** A user session: current graph + GQL execution (session/manager.rs
  * analog; session state here is just the current graph + parameters).
  */
final class GqlSession(private[graft] val gls: GraphLiteSpark, val user: String) {
  /** Stable id for pooled lookup (UserSession::session_id analog). */
  val sessionId: String = java.util.UUID.randomUUID().toString
  /** Whether `user` was a registered catalog USER when this session
    * opened. Pinned here so the security-DDL gate fails CLOSED if the
    * user is dropped mid-session — deletion must revoke, not escalate,
    * an open session's privileges (see GraphCatalog.isSecurityAdmin).
    */
  private[graft] val registeredAtOpen: Boolean = gls.catalog.isRegisteredUser(user)
  /** Liveness + idle tracking for the managed pool (manager.rs expiry
    * and deactivation semantics). Unmanaged sessions carry the same
    * state but nothing ever expires them.
    */
  @volatile private var activeFlag: Boolean = true
  @volatile private var lastAccess: Long = System.currentTimeMillis()
  def isActive: Boolean = activeFlag
  private[graft] def deactivate(): Unit = activeFlag = false
  private[graft] def idleMillis: Long =
    System.currentTimeMillis() - lastAccess
  private def touch(): Unit = {
    if (!activeFlag)
      throw new IllegalStateException(
        s"session $sessionId has been closed")
    lastAccess = System.currentTimeMillis()
  }
  /** Stale-data guard for DROP GRAPH: if this session's current graph is
    * the dropped one, detach it (the next graph-reading statement errors
    * with "no current graph" instead of serving dropped data).
    */
  private[graft] def detachGraphIfCurrent(path: String): Boolean = {
    val hit = currentName.contains(path)
    if (hit) { currentGraph = None; currentName = None; txStack = Nil; txModeStack = Nil }
    hit
  }
  private var currentGraph: Option[PropertyGraph] = None
  private var currentName: Option[String] = None
  /** Transaction snapshots (START TRANSACTION pushes, COMMIT pops,
    * ROLLBACK restores) — copy-on-write graphs make these O(1).
    */
  private var txStack: List[(Option[PropertyGraph], Option[String])] = Nil
  /** Graph type bound to this session's graph (SESSION SET GRAPH TYPE,
    * or auto-loaded from a CREATE GRAPH … TYPED binding) — the INSERT
    * validation schema (schema/validator.rs analog).
    */
  private var currentType: Option[graft.graph.GraphType.GraphTypeDef] = None
  /** Session parameters ($name refs) — set via [[setParameter]] or
    * NEXT…YIELD chains (executor.rs:8612-8641 analog).
    */
  private var sessionParams: Map[String, Any] = Map.empty
  /** Current schema context (SESSION SET SCHEMA — session/models.rs:
    * 267-275): relative graph names in catalog DDL and SESSION SET GRAPH
    * resolve against it, PostgreSQL search-path style.
    */
  private var currentSchema: Option[String] = None
  /** Session time zone (SESSION SET TIME ZONE — session/models.rs:
    * 277-285). None = engine default UTC. Stored values stay naive-UTC
    * instants (the reference's DateTime<Utc>, value.rs:151) and
    * spark.sql.session.timeZone stays pinned UTC; the zone is applied
    * EXPLICITLY by the compiler (from_utc_timestamp inside the EXTRACT
    * family), so parquet TIMESTAMP_NTZ columns and LTZ literals behave
    * identically and nothing depends on mutable global conf.
    */
  private var sessionTimeZone: Option[String] = None
  /** Graph-valued session parameters (SESSION SET GRAPH $p = path —
    * ast.rs:1019-1023): catalog paths, usable wherever a graph reference
    * is (SESSION SET GRAPH $p).
    */
  private var graphParams: Map[String, String] = Map.empty
  /** Binding-table-valued session parameters (SESSION SET BINDING TABLE
    * $p = query — ast.rs:1024-1028): compiled lazily-evaluable frames.
    */
  private var tableParams: Map[String, DataFrame] = Map.empty
  /** Opt-in reference number semantics (value.rs:449-453: all arithmetic
    * in f64) — `SESSION SET NUMBERS F64` or [[useF64Numbers]]. Default is
    * native Spark numerics.
    */
  private var f64Mode: Boolean = false
  /** Stored-procedure call depth + the DECLAREs made inside the current
    * call chain, newest first, with each variable's pre-DECLARE value
    * (None = absent). ISO GQL scopes a body's variable definitions to the
    * body (ast.rs:1090-1097 ProcedureBodyStatement), so CALL restores
    * them on exit — while NEXT…YIELD captures keep the reference's
    * session-state behavior and persist.
    */
  private var procDepth: Int = 0
  private var bodyDeclared: List[(String, Option[Any])] = Nil
  /** Opt-in result + subquery caching (cache/result_cache.rs,
    * subquery_cache.rs) — `SESSION SET RESULT_CACHE ON`. Off by default:
    * Spark results are lazy frames, and eager driver-side materialization
    * is a serving-layer trade the user must choose (same reasoning as
    * Dataset.cache being opt-in).
    */
  private var resultCacheOn: Boolean = false
  private val resultCache = new graft.cache.ResultCache()
  /** Per-session catalog-listing cache: (CALL text, catalog version) →
    * listing DataFrame (a LocalRelation snapshot). See executeOne. */
  private val catalogListCache =
    scala.collection.mutable.Map
      .empty[(String, Long, Map[String, Any]), DataFrame]
  private val subqueryCache = new graft.cache.SubqueryCache()
  /** Versioned-invalidation epoch (invalidation.rs Versioned strategy):
    * part of every cache key; bumped by any non-query statement and any
    * graph (re)attach.
    */
  private var cacheEpoch: Long = 0L

  /** (hits, misses, evictions, invalidations, entries, oversizeSkips). */
  def resultCacheStats: (Long, Long, Long, Long, Long, Long) = resultCache.stats
  /** (hits, misses, evictions, entries) for the scalar-subquery memo. */
  def subqueryCacheStats: (Long, Long, Long, Long) = {
    val (h, m, ev) = subqueryCache.stats
    (h, m, ev, subqueryCache.size.toLong)
  }
  def clearResultCache(): Unit = { resultCache.clear(); subqueryCache.clear() }
  def resultCacheEnabled: Boolean = resultCacheOn

  def useF64Numbers(on: Boolean): this.type = { f64Mode = on; this }

  def currentGraphName: Option[String] = currentName
  def currentSchemaName: Option[String] = currentSchema
  def currentTimeZone: Option[String] = sessionTimeZone
  def inTransaction: Boolean = txStack.nonEmpty
  def parameters: Map[String, Any] = sessionParams
  def setParameter(name: String, value: Any): this.type = {
    sessionParams += (name -> value); this
  }
  /** Binding-table parameter lookup ($p set via SESSION SET TABLE). */
  def tableParameter(name: String): Option[DataFrame] = tableParams.get(name)

  /** Resolve a possibly-relative catalog path against the current schema
    * (reference relative-path semantics, ddl_independent_tests.rs:150-176;
    * schema context from exec/context.rs:180-184).
    */
  private def resolvePath(path: String): String =
    if (path.startsWith("/")) path
    else currentSchema match {
      case Some(s0) => s"/$s0/$path"
      case None => throw new GqlCompileException(
        s"relative graph name '$path' needs SESSION SET SCHEMA first")
    }

  /** CALL gql.* — system procedures (system_procedures.rs:60-91). */
  def call(procedure: String, args: Seq[String] = Seq.empty):
      org.apache.spark.sql.DataFrame =
    SystemProcedures.call(gls, this, procedure, args)

  /** SESSION SET GRAPH — by catalog path "/schema/graph". */
  def useGraph(path: String): this.type = {
    val parts = path.stripPrefix("/").split("/")
    require(parts.length == 2, s"graph path must be /schema/graph, got $path")
    // canonical "/schema/graph" form everywhere downstream — DROP
    // GRAPH's stale-data guard compares currentName against the
    // canonical path, so an attach via "schema/graph" must not differ
    val canon = "/" + parts.mkString("/")
    // attach requires *some* grant on a governed graph (a user granted
    // only INSERT may attach to insert); the per-operation checks below
    // (SELECT at query compile, INSERT/UPDATE/DELETE in the DML branches)
    // mirror the reference Permission enum (security.rs:219-246)
    if (!gls.catalog.checkAccessAny(user, canon))
      throw new GqlAuthException(
        s"user '$user' has no grants on $canon")
    currentGraph = Some(gls.catalog.loadGraph(parts(0), parts(1)))
    currentName = Some(canon)
    currentType = gls.catalog.graphTypeFor(canon)
    cacheEpoch += 1
    this
  }

  /** Attach an in-memory graph as the session graph. */
  def useGraph(g: PropertyGraph): this.type = {
    currentGraph = Some(g)
    currentName = None
    currentType = None
    cacheEpoch += 1
    this
  }

  def graph: PropertyGraph = currentGraph.getOrElse(
    throw new IllegalStateException(
      "no current graph — call useGraph(...) first (reference: " +
        "'No graph context' error, executor.rs:242-274)"))

  /** Per-operation grant check against the attached catalog graph
    * (reference Permission enum, security.rs:219-246). In-memory graphs
    * (`currentName` empty) are ungoverned by definition. Package-visible
    * so graph-READING system procedures (gql.find_neighbors et al.) can
    * demand SELECT — the attach-time any-grant check alone would let an
    * INSERT-only user read node/edge data through CALL.
    */
  /** Transaction access mode: the current transaction's (from START
    * TRANSACTION READ ONLY|WRITE) and the session default for the next
    * one (from SET TRANSACTION — set_characteristics.rs). A READ ONLY
    * transaction refuses every write statement until COMMIT/ROLLBACK;
    * the reference merely records the mode, so enforcing is a strict
    * superset of its behavior.
    */
  /** One access-mode entry per open transaction, newest first, so a
    * nested START cannot clobber the enclosing transaction's mode and
    * COMMIT/ROLLBACK restores the enclosing entry.
    */
  private var txModeStack: List[Option[String]] = Nil
  private def txMode: Option[String] = txModeStack.headOption.flatten
  private var txDefaultMode: Option[String] = None
  def transactionAccessMode: Option[String] =
    if (txStack.nonEmpty) txMode else None
  /** Snapshot isolation over copy-on-write graphs is what this engine
    * actually provides; the reference accepts only READ COMMITTED and
    * rejects the rest (set_characteristics.rs:64-77) — same gate here.
    */
  private def requireSupportedIsolation(iso: Option[String]): Unit =
    iso.filter(_ != "READ COMMITTED").foreach(lvl =>
      throw new GqlCompileException(s"Isolation level $lvl not yet " +
        "supported. Only READ COMMITTED is currently implemented."))

  /** READ ONLY transactions refuse catalog/security writes too —
    * catalog state is not snapshot-backed, so ROLLBACK could never undo
    * them (the session-graph snapshot only covers DML).
    */
  private def requireTxWritable(what: String): Unit =
    if (txStack.nonEmpty && txMode.contains("READ ONLY"))
      throw new IllegalStateException(
        s"cannot $what in a READ ONLY transaction " +
          "(START TRANSACTION READ WRITE, or COMMIT first)")

  private[graft] def requirePerm(perm: String): Unit = {
    if (perm != "SELECT") requireTxWritable(perm)
    currentName.foreach { path =>
      if (!gls.catalog.checkAccess(user, path, perm))
        throw new GqlAuthException(
          s"user '$user' is not authorized to $perm on $path")
    }
  }

  /** Compile + return a GQL query as a DataFrame (lazy; actions execute
    * distributed). A seeded first hop runs its one bounded adjacency
    * job here (see Compiler `seededAdjacency`); [[explain]] does not.
    */
  def gql(query: String): DataFrame = {
    touch()
    requirePerm("SELECT")
    val q = Parser.parse(stripTrailingSemis(query))
    (new Compiler(queryGraph(q), sessionParams, f64Mode,
      sessionTz = tzName, lookups = true).compile(q))
  }

  private def tzName: String = sessionTimeZone.getOrElse("UTC")

  /** The graph a query compiles against: the session graph when one is
    * attached; otherwise graph-free queries (standalone RETURN / UNWIND
    * / LET chains, no MATCH anywhere) run over an empty graph, while a
    * pattern-bearing query raises the reference's 'No graph context'
    * error (executor.rs:242-274) through the [[graph]] accessor.
    */
  private def queryGraph(q: Ast.QueryExpr): PropertyGraph =
    if (currentGraph.isDefined || Ast.usesGraph(q)) graph
    else new PropertyGraph(Map.empty, Map.empty)

  /** Execute any GQL statement (ast.rs:24-39 dispatch): queries return
    * their result; DML mutates the session's current graph copy-on-write
    * and returns affected counts; DDL touches the catalog; `stmt NEXT
    * [YIELD …] stmt` chains execute sequentially with YIELD capturing the
    * previous result's first row into session parameters
    * (executor.rs:8559-8641). Persist a mutated graph with
    * [[saveGraphAs]].
    */
  /** Drop trailing statement terminators: the reference CLI/test
    * fixtures send `INSERT (...);` and a single `;` ends the one
    * statement (ISO GQL has no top-level semicolon-separated programs —
    * json_format_tests.rs header documents this).
    */
  private def stripTrailingSemis(text: String): String = {
    var t = text
    while ({ val s = t.trim; s.endsWith(";") }) t = t.trim.dropRight(1)
    t
  }

  def execute(text0: String): DataFrame = {
    val text = stripTrailingSemis(text0)
    touch()
    // CREATE PROCEDURE / AT keep their bodies as raw text (Parser
    // re-dispatches them), so a NEXT chain inside the body belongs to the
    // body — splitting here would truncate the stored procedure and run
    // the tail chunks in this session. AT still chains correctly: AtStmt
    // re-enters execute(body) with the target graph active.
    val chunks =
      if (NextChain.RawBodyRe.pattern.matcher(text).matches()) Seq(text)
      else NextChain.split(text)
    if (chunks.size > 1) return executeChain(chunks)
    executeOne(text)
  }

  private def executeChain(chunks: Seq[String]): DataFrame = {
    val spark = gls.spark
    import spark.implicits._
    var last = executeOne(chunks.head)
    chunks.tail.foreach { chunk =>
      val (yields, rest) = NextChain.yieldPrefix(chunk)
      if (yields.nonEmpty) {
        val row = last.limit(1).collect().headOption
        row.foreach { r =>
          yields.foreach { case (colName, outName) =>
            val idx = last.columns.indexOf(colName)
            if (idx < 0) throw new GqlCompileException(
              s"YIELD column $colName not in previous result " +
                s"(${last.columns.mkString(", ")})")
            sessionParams += (outName -> r.get(idx))
          }
        }
        if (rest.trim.isEmpty)
          last = yields.map(_._2).map(n =>
            (n, Option(sessionParams.getOrElse(n, null)).map(_.toString).orNull))
            .toDF("parameter", "value")
        else last = executeSeeded(rest, last, yields)
      } else last = executeOne(chunk)
    }
    last
  }

  /** NEXT…YIELD binding-table passing (executor.rs:8559-8641): the
    * yielded columns of the previous result seed the next statement as a
    * working table — every row, not just the first-row parameter
    * snapshot (which is also captured, for $refs and DML statements).
    * Non-query statements fall back to parameter passing.
    */
  private def executeSeeded(text: String, prev: DataFrame,
      yields: Seq[(String, String)]): DataFrame =
    Parser.parseStatement(text) match {
      case Ast.QueryStmt(q) =>
        val seed = prev.select(yields.map { case (c, o) => col(c).as(o) }: _*)
        (new Compiler(queryGraph(q), sessionParams, f64Mode,
          sessionTz = tzName).compileSeeded(q, seed))
      case _ => executeOne(text)
    }

  private def executeOne(text: String): DataFrame =
    Parser.parseStatement(text) match {
      case Ast.QueryStmt(q) => executeQuery(text, q)
      // read-only CALLs invalidate nothing (the reference's catalog
      // cache survives reads, catalog_cache_throughput.rs); the
      // catalog-backed listings additionally serve from a per-session
      // cache keyed on the instance catalog version — a DDL statement in
      // ANY session of this instance bumps the version, so staleness is
      // impossible within the instance (external writers to the same
      // warehouse directory are out of cache scope, like the reference's
      // embedded single-process assumption)
      case st @ Ast.CallStmt(name, _, _, _)
          if SystemProcedures.ReadOnly(name) =>
        if (!SystemProcedures.CatalogCacheable(name)) dispatchStmt(st)
        else {
          // $param references compile to literals, so a listing whose
          // WHERE reads a session parameter must key on the parameter
          // values too (NEXT…YIELD seeds params without a version bump);
          // param-free texts keep the cheap two-part key
          val ver = gls.catalogVersion.get
          val paramsKey: Map[String, Any] =
            if (text.contains("$")) sessionParams else Map.empty
          val key = (text.trim, ver, paramsKey)
          catalogListCache.getOrElse(key, {
            val df = dispatchStmt(st)
            if (catalogListCache.size > 64) {
              // stale-version entries can never hit again (the version is
              // monotonic) — drop those first and keep the hot set; only
              // wholesale-clear if the current version alone overflows
              catalogListCache.filterInPlace { case ((_, v, _), _) => v == ver }
              if (catalogListCache.size > 64) catalogListCache.clear()
            }
            catalogListCache(key) = df
            df
          })
        }
      case st =>
        // write-through invalidation (invalidation.rs:49-58): any
        // non-query statement may have changed the graph, the catalog, or
        // session semantics — bump the epoch so every cached result keyed
        // on the old version can never hit again, and free those entries
        // eagerly rather than waiting for LRU/TTL aging.
        // bump in a finally: a statement that throws AFTER mutating the
        // session graph (e.g. the second label of a multi-label INSERT)
        // must still invalidate, or a cached result could serve the
        // pre-mutation answer
        try dispatchStmt(st)
        finally {
          cacheEpoch += 1
          resultCache.invalidateBefore(cacheEpoch)
          gls.catalogVersion.incrementAndGet()
        }
    }

  /** Query execution with the opt-in result cache in front
    * (result_cache.rs:147 QueryResultCache::get_or_execute). Keys are
    * parameter-aware and user-scoped (QueryCacheKey, result_cache.rs:
    * 19-23); a hit replays collected rows as a local scan — no job.
    */
  private def executeQuery(text: String, q: Ast.QueryExpr): DataFrame = {
    requirePerm("SELECT")
    def compile() = (new Compiler(queryGraph(q), sessionParams, f64Mode,
      if (resultCacheOn) Some((subqueryCache, cacheEpoch)) else None,
      sessionTz = tzName, lookups = true).compile(q))
    // queries with non-deterministic functions (NOW, CURRENT_DATE, …)
    // must re-evaluate every time — a cached result would freeze the
    // clock for the TTL (result_cache.rs replays blindly; we refuse)
    if (!resultCacheOn || Ast.nonDeterministic(q)) return compile()
    val key = resultCache.Key(text.trim, sessionParams, cacheEpoch, user, f64Mode)
    resultCache.get(key, gls.spark).getOrElse {
      val df = compile()
      // bound the materialization: fetch one row past the cap so an
      // oversize result is detected without collecting it all
      val rows = df.limit(resultCache.maxRowsPerEntry + 1).collect()
      if (rows.length > resultCache.maxRowsPerEntry) df
      else {
        // mirror result_cache.rs is_valid: empty results are not cached
        // (the reference treats empty as not-worth-pinning)
        if (rows.nonEmpty) resultCache.put(key, rows, df.schema)
        gls.spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
      }
    }
  }

  private def dispatchStmt(stmt: Ast.Statement): DataFrame = {
    import Ast._
    val spark = gls.spark
    import spark.implicits._
    stmt match {
      case QueryStmt(q) =>
        requirePerm("SELECT")
        (new Compiler(queryGraph(q), sessionParams, f64Mode,
          sessionTz = tzName, lookups = true).compile(q))

      case InsertStmt(paths) =>
        requirePerm("INSERT")
        // Property values are full expressions, not just literals
        // (function_expression_insert_test.rs: upper('hello'), abs(-5),
        // NOW(), …): evaluate each ONCE up front — literals stay driver-
        // local, anything else goes through the session compiler.
        def norm(v: Any): Any = v match {
          case i: java.lang.Integer => i.longValue()
          case f: java.lang.Float => f.doubleValue()
          case other => other
        }
        // id-less nodes get CONTENT-HASH ids, and identical content
        // deduplicates with a warning + 0 rows affected
        // (duplicate_insert_test.rs: "hash-based deduplication" — three
        // identical INSERTs leave ONE node; re-insert warns "Duplicate
        // node detected"). Explicit `id:` props remain user-managed
        // identity (the fraud/TPC-H fixtures), documented divergence from
        // the reference's hash-everything internal ids.
        // render exactly as Spark's `cast(col AS STRING)` would: the
        // pipeline-INSERT path hashes a distributed cast-to-string canon,
        // and the same content inserted through either path must produce
        // the same id (cross-path dedup). String.valueOf diverges for
        // temporal values (java.sql.Timestamp appends ".0") and
        // collections (Seq.toString is "List(…)" vs Spark's "[…]").
        def hashRender(v: Any): String = v match {
          case null => "null"
          case t: java.sql.Timestamp =>
            // render the instant in the SPARK session time zone (what
            // cast-to-string uses), not the JVM default — when the two
            // differ, a JVM-zone render would give the same content two
            // different ids across the driver/pipeline insert paths
            hashRender(t.toInstant.atZone(java.time.ZoneId.of(
              spark.conf.get("spark.sql.session.timeZone"))).toLocalDateTime)
          case lt: java.time.LocalDateTime =>
            val base = f"${lt.getYear}%04d-${lt.getMonthValue}%02d-" +
              f"${lt.getDayOfMonth}%02d ${lt.getHour}%02d:" +
              f"${lt.getMinute}%02d:${lt.getSecond}%02d"
            val micros = lt.getNano / 1000
            if (micros == 0) base
            else base + "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
          case d: java.sql.Date => d.toString
          case ld: java.time.LocalDate => ld.toString
          case bd: java.math.BigDecimal => bd.toPlainString
          case bd: scala.math.BigDecimal => bd.bigDecimal.toPlainString
          case s: Seq[_] => s.map(hashRender).mkString("[", ", ", "]")
          case a: Array[_] => a.map(hashRender).mkString("[", ", ", "]")
          case other => String.valueOf(other)
        }
        def contentHash(label: String, props: Seq[(String, Any)]): Long = {
          val canon = label + "|" + props.sortBy(_._1).map {
            case (k, v) => k + "=" + hashRender(v) }.mkString("|")
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(canon.getBytes("UTF-8"))
          // 60-bit positive id from the digest prefix (same family as
          // TextAnalysis.stableHash60 — engine-stable)
          java.nio.ByteBuffer.wrap(md).getLong(0) & 0x0FFFFFFFFFFFFFFFL
        }
        // `id` may be an integer OR a string (reference parity: string
        // ids are idiomatic — with_clause_property_access_bug.rs,
        // duplicate_edge_warning_test.rs `{id: 'u1'}`). A string id makes
        // the label table's id column StringType; every downstream
        // consumer (hops, inline filters, identity set ops, analytics)
        // is an equi-join or comparison on the column, so the engine is
        // id-type-agnostic per label. Mixing id types within one label
        // widens via SchemaReconcile like any other property.
        case class Occ(label: String, props: Seq[(String, Any)],
            id: Any, hashed: Boolean)
        def mkOcc(np: NodePattern): Occ = {
          val label = np.labels.headOption.getOrElse(
            throw new GqlCompileException("INSERT nodes need a label"))
          val props0 = np.props.map { case (k, e) => k -> norm(evalStandalone(e)) }
          props0.collectFirst { case ("id", v) => v } match {
            case Some(v) =>
              val idv: Any = v match {
                case l: java.lang.Long => l.longValue()
                case s: String => s
                case other => throw new GqlCompileException(
                  s"INSERT id must be an integer or string, got $other")
              }
              Occ(label, props0, idv, hashed = false)
            case None =>
              val id = contentHash(label, props0)
              Occ(label, ("id" -> (id: Any)) +: props0, id, hashed = true)
          }
        }
        // identifier reuse across the statement
        // (insert_node_identifier_regression_test.rs: `INSERT (n:P {…}),
        // (m:P {…}), (n)-[:KNOWS]->(m)` must NOT create spurious empty
        // nodes): a bare `(v)` resolves to the earlier occurrence bound
        // to that variable; only labeled occurrences insert.
        val varOccs = scala.collection.mutable.Map.empty[String, Occ]
        val inserted = scala.collection.mutable.ArrayBuffer.empty[Occ]
        def resolveOcc(np: NodePattern): Occ = np.variable match {
          case Some(v) if np.labels.isEmpty && np.props.isEmpty =>
            varOccs.getOrElse(v, throw new GqlCompileException(
              s"INSERT references unbound variable $v"))
          case _ =>
            val o = mkOcc(np)
            np.variable.foreach(varOccs(_) = o)
            inserted += o
            // multi-label INSERT (dml_tests.rs:45,151 `(n:A:B {…})`): in
            // the per-label-table model a node carrying several labels is
            // the same (id, props) row in EVERY label's table — the
            // multi-label intersection scan then matches it by shared id,
            // and REMOVE n:B later drops just that table's row. The
            // PRIMARY occ (labels.head) carries the identity; edges bind
            // to it.
            np.labels.drop(1).foreach(extra => inserted += o.copy(label = extra))
            o
        }
        val pathOccs: Seq[(PathPattern, Seq[Occ])] =
          paths.map(p => p -> (p.start +: p.hops.map(_._2)).map(resolveOcc))
        val occs = inserted.toSeq
        // schema enforcement against the bound graph type (validator.rs:
        // 92-126): label known, NOT NULL props present, types conform,
        // unknown props rejected
        currentType.foreach { gt =>
          occs.foreach { o =>
            graft.graph.GraphType.validateNode(gt, o.label,
              o.props.filterNot(_._1 == "id" && o.hashed)
                .map { case (k, v) => k -> valueTag(v) })
          }
        }
        val byLabel = occs.groupBy(_.label)
        val counts = byLabel.toSeq.sortBy(_._1).map { case (label, os) =>
          val keys0 = os.head.props.map(_._1)
          if (os.exists(_.props.map(_._1) != keys0))
            throw new GqlCompileException(
              s"INSERT: all $label nodes must list the same properties")
          // in-batch dedupe (keep first), then drop ids already present;
          // only hash-identity nodes dedupe — explicit ids stay as given
          val seen = scala.collection.mutable.LinkedHashSet.empty[Any]
          val unique = os.filter(o => !o.hashed || seen.add(o.id))
          val hashedIds = unique.collect { case o if o.hashed => o.id }
          // compare as STRINGS: once a label's id column has widened to
          // StringType (string ids inserted earlier), the collected
          // existing ids are Strings while hash identities are Longs —
          // a typed Set membership would silently stop deduping
          val existing: Set[String] =
            if (hashedIds.isEmpty) Set.empty
            else graph.nodeTables.get(label) match {
              case Some(t) => t.select(col("id").cast("string"))
                .filter(col("id").cast("string")
                  .isin(hashedIds.map(String.valueOf): _*))
                .collect().map(_.getString(0)).toSet
              case None => Set.empty
            }
          val fresh = unique.filter(o =>
            !o.hashed || !existing(String.valueOf(o.id)))
          val dupSkipped = (os.size - fresh.size).toLong
          val warn =
            if (dupSkipped > 0)
              s"Duplicate node detected: $dupSkipped duplicate(s) skipped"
            else null
          if (fresh.isEmpty) (label, 0L, warn)
          else {
          // column type per key: the common supertype of EVERY non-null
          // value across the batch (one INSERT mixing id:5 and id:'u7'
          // widens the field to string — same SchemaReconcile meet the
          // cross-statement union applies — instead of inferring from the
          // first value and crashing createDataFrame on the second);
          // for an all-null column, the graph type's declared type or the
          // existing label column's type — never a String placeholder,
          // which would poison the label table's schema for later
          // non-null inserts (union/schema mismatch at read time)
          val schema = org.apache.spark.sql.types.StructType(
            fresh.head.props.map(_._1).map { k =>
              val nonNull = fresh.iterator.flatMap(_.props.collect {
                case (`k`, v) if v != null => v }).toSeq
              val dt =
                if (nonNull.isEmpty)
                  declaredSparkType(label, k)
                    .orElse(graph.nodeTables.get(label).flatMap(
                      _.schema.fields.find(_.name == k).map(_.dataType)))
                    .getOrElse(throw new GqlCompileException(
                      s"INSERT $label.$k: cannot infer a type for an " +
                        "all-null new column — declare the property in a " +
                        "graph type or insert a non-null value"))
                else nonNull.map(valueType).reduce { (a, b) =>
                  graft.graph.SchemaReconcile.widerType(a, b).getOrElse(
                    throw new GqlCompileException(
                      s"INSERT $label.$k: irreconcilable value types " +
                        s"${a.simpleString} and ${b.simpleString} within " +
                        "one batch"))
                }
              org.apache.spark.sql.types.StructField(k, dt)
            })
          // values coerce to the batch-meet field type (a Long 5 under a
          // string-widened field becomes "5" — the same rendering the eid
          // concat_ws convention and the edge-endpoint alignment use)
          def coerce(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
            import org.apache.spark.sql.types._
            if (v == null) null else (dt, v) match {
              case (StringType, s: String) => s
              case (StringType, other) => hashRender(other)
              case (DoubleType, n: java.lang.Number) => n.doubleValue()
              case (LongType, n: java.lang.Number) => n.longValue()
              case (_: DecimalType, bd: java.math.BigDecimal) => bd
              case (_: DecimalType, n: java.lang.Number) =>
                new java.math.BigDecimal(n.toString)
              case _ => v
            }
          }
          val rows = fresh.map { o =>
            org.apache.spark.sql.Row(o.props.map { case (k, v) =>
              coerce(v, schema(k).dataType) }: _*)
          }
          // a local relation: the insert reads its keys off the plan
          // and probes for duplicates inside its one restatement job
          val df = spark.createDataFrame(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava, schema)
          // declared graph-type property types are authoritative: cast
          // value-inferred columns (a DECIMAL(12,2) or INT128 property
          // inserted from an integer literal must not drift the label
          // table to LongType across statements)
          val aligned = df.columns.foldLeft(df) { (d, k) =>
            declaredSparkType(label, k).fold(d)(t => d.withColumn(k, col(k).cast(t)))
          }
          currentGraph = Some(graph2.insertNodes(graph, label, aligned))
          (label, fresh.size.toLong, warn)
          }
        }
        // inline edge patterns (duplicate_edge_warning_test.rs
        // test_duplicate_edge_with_regular_insert: INSERT
        // (:User {id:'u1'})-[:FOLLOWS]->(:User {id:'u2'})): edge identity
        // is eid = stableHash60(type#src#dst) — the SAME convention as
        // MATCH…INSERT, so the two statement forms dedupe against each
        // other; duplicate edges warn and affect 0 rows.
        val edgeCounts = pathOccs.flatMap { case (path, os) =>
          path.hops.zipWithIndex.map { case ((ep, _), i) =>
            if (ep.direction != Ast.Out)
              throw new GqlCompileException("INSERT edges must be directed ->")
            if (ep.quantifier.nonEmpty)
              throw new GqlCompileException(
                "INSERT edges cannot be quantified (*n..m)")
            val etype = ep.types.headOption.getOrElse(
              throw new GqlCompileException("INSERT edge needs a type"))
            val (srcO, dstO) = (os(i), os(i + 1))
            val eprops = ep.props.map { case (k, e) => k -> norm(evalStandalone(e)) }
            currentType.foreach(gt => graft.graph.GraphType.validateEdge(gt,
              etype, Some(srcO.label), Some(dstO.label),
              eprops.map { case (k, v) => k -> valueTag(v) }))
            // endpoint ids may be Long or String (see Occ): build the
            // two-column frame with each side's actual type — as a
            // LOCAL relation (the list overload), not an RDD: a
            // parallelize per inline edge would cost a cluster job per
            // row and hide the known-1-row size from the anti-join
            val epSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("src", valueType(srcO.id)),
              org.apache.spark.sql.types.StructField("dst", valueType(dstO.id))))
            var rows = spark.createDataFrame(
              java.util.List.of(org.apache.spark.sql.Row(srcO.id, dstO.id)),
              epSchema)
              .withColumn("eid", graft.text.TextAnalysis.stableHash60(
                org.apache.spark.sql.functions.concat_ws("#",
                  lit(etype), col("src"), col("dst"))))
            graph.edgeTables.get(etype).foreach { case (_, existing) =>
              rows = rows.join(existing.select(col("src"), col("dst")),
                Seq("src", "dst"), "left_anti")
            }
            eprops.foreach { case (k, v) =>
              rows = rows.withColumn(k, graft.plans.RefLiteral.lit(v)) }
            // evaluated once, by the job that restates the edge type and
            // counts the new rows (see the MATCH…INSERT path)
            val et = graft.graph.EdgeType(etype, srcO.label, dstO.label)
            val (g2, n) = graph2.insertEdgesCounted(graph, etype, et, rows)
            if (n > 0) currentGraph = Some(g2)
            (etype, n,
              if (n == 0L) "Duplicate edge detected: 1 duplicate(s) skipped"
              else null)
          }
        }
        (counts ++ edgeCounts).toDF("label", "inserted", "warning")

      // MATCH … [WITH …]* [WHERE …] INSERT (v:Label {props}), … —
      // one new node per binding row and per listed node pattern
      // (match_with_tests.rs:13-170, 1064-1177: property values are
      // expressions over the pipeline bindings, incl. WITH aggregates).
      // Identity keeps the INSERT convention: an explicit `id` property
      // is used as-is (duplicates error); otherwise an engine-stable
      // content hash of (label, props) — identical content dedups, and
      // re-running the same statement inserts 0 (idempotent like
      // MATCH…INSERT edge creation).
      case PipelineInsertStmt(q, inserts) =>
        requirePerm("INSERT")
        val plCompiler = new Compiler(graph, sessionParams, f64Mode)
        val propExprs = inserts.flatMap(_.start.props.map(_._2))
        val (bdf, plBindings) = plCompiler.compileMutationPipeline(q, propExprs)
        var g = graph
        var total = 0L
        inserts.foreach { path =>
          val np = path.start
          val label = np.labels.headOption.getOrElse(
            throw new GqlCompileException("INSERT nodes need a label"))
          if (np.props.isEmpty) throw new GqlCompileException(
            "pipeline INSERT nodes need at least one property")
          val propCols = np.props.map { case (k, e) =>
            plCompiler.columnFor(e, plBindings).as(k) }
          var rows = bdf.select(propCols: _*)
          val explicitId = np.props.exists(_._1 == "id")
          // static per-column validation against the bound graph type
          // (validator.rs:92-126; the synthetic hash id is not a schema
          // property, mirroring the literal-INSERT path)
          currentType.foreach { gt =>
            graft.graph.GraphType.validateNode(gt, label,
              rows.schema.fields.toSeq
                .filterNot(f => f.name == "id" && !explicitId)
                .map(f => f.name -> dtTag(f.dataType)))
          }
          if (explicitId) {
            // integral ids normalize to long; string ids stay strings
            // (same contract as the literal-INSERT path's Occ)
            val idDt = rows.schema("id").dataType
            if (idDt != org.apache.spark.sql.types.StringType)
              rows = rows.withColumn("id", col("id").cast("long"))
            val (m, n) = graft.graph.PropertyGraph.materializedCount(rows)
            total += n
            g = graph2.insertNodes(g, label, m)
          } else {
            // content-hash id, bit-identical to the driver-side
            // contentHash: low 60 bits of the first 16 hex digits of
            // md5("label|k1=v1|k2=v2") with keys sorted, nulls rendered
            // "null", and values rendered with cast-to-string semantics
            // (the driver-side hashRender mirrors this cast exactly)
            val canon = org.apache.spark.sql.functions.concat(
              lit(label) +: np.props.map(_._1).sorted.map { k =>
                org.apache.spark.sql.functions.concat(lit(s"|$k="),
                  org.apache.spark.sql.functions.coalesce(
                    col(k).cast("string"), lit("null")))
              }: _*)
            rows = rows.withColumn("id",
              org.apache.spark.sql.functions.conv(
                org.apache.spark.sql.functions.substring(
                  org.apache.spark.sql.functions.md5(canon), 2, 15),
                16, 10).cast("long"))
              .dropDuplicates("id")
            g.nodeTables.get(label).foreach { t =>
              rows = rows.join(t.select(col("id")), Seq("id"), "left_anti")
            }
            val out = graft.graph.PropertyGraph.materialized(rows)
            val n = out.count()
            if (n > 0)
              g = graph2.insertNodes(g, label, out, failOnDuplicate = false)
            total += n
          }
        }
        currentGraph = Some(g)
        Seq(total).toDF("nodes_inserted")

      case MatchInsertStmt(matches, where, inserts) =>
        requirePerm("INSERT")
        // INSERT (x)-[:T {props}]->(y)[-[:T2]->(z)…][, …]: one new edge
        // per distinct matched endpoint pair and per hop of every listed
        // chain (pattern_tests.rs inserts whole multi-hop paths at once);
        // engine-stable eid from (label, src, dst)
        val (binding, varLabels) =
          new Compiler(graph, sessionParams, f64Mode).compileBinding(matches, where)
        def insertOne(xVar: String, yVar: String,
            edgePat: Ast.EdgePattern): Long = {
          if (edgePat.direction != Ast.Out)
            throw new GqlCompileException("MATCH…INSERT edges must be directed ->")
          val label = edgePat.types.headOption.getOrElse(
            throw new GqlCompileException("INSERT edge needs a type"))
          for (v <- Seq(xVar, yVar) if !binding.columns.contains(s"${v}_id"))
            throw new GqlCompileException(s"INSERT endpoint $v is not bound by MATCH")
          // edge property values are expressions too (evaluated once)
          val edgeProps = edgePat.props.map { case (k, ve) =>
            k -> (evalStandalone(ve) match {
              case i: java.lang.Integer => i.longValue()
              case f: java.lang.Float => f.doubleValue()
              case other => other
            })
          }
          currentType.foreach(gt => graft.graph.GraphType.validateEdge(gt, label,
            varLabels.get(xVar), varLabels.get(yVar),
            edgeProps.map { case (k, v) => k -> valueTag(v) }))
          var rows = binding.select(col(s"${xVar}_id").as("src"),
              col(s"${yVar}_id").as("dst")).distinct()
            .withColumn("eid", graft.text.TextAnalysis.stableHash60(
              org.apache.spark.sql.functions.concat_ws("#",
                lit(label), col("src"), col("dst"))))
          // idempotent insert: an edge with the same (src, dst) already in
          // the table would get an identical eid (eid = hash(label#src#dst)),
          // and duplicate eids break TRAIL dedup and edge identity — so
          // anti-join new rows against the existing table first. Re-running
          // the same statement inserts 0.
          graph.edgeTables.get(label).foreach { case (_, existing) =>
            rows = rows.join(existing.select(col("src"), col("dst")),
              Seq("src", "dst"), "left_anti")
          }
          // property values bind by reference: the next insert with other
          // values reuses this one's generated code
          edgeProps.foreach { case (k, v) =>
            rows = rows.withColumn(k, graft.plans.RefLiteral.lit(v)) }
          // the new rows are evaluated once, by the job that restates the
          // edge type and counts them — they join its checkpointed delta,
          // so the MATCH and the anti-join never enter the table's lineage
          val et = graft.graph.EdgeType(label,
            varLabels.getOrElse(xVar, ""), varLabels.getOrElse(yVar, ""))
          val (g2, n) = graph2.insertEdgesCounted(graph, label, et, rows)
          currentGraph = Some(g2)
          n
        }
        var total = 0L
        inserts.foreach { path =>
          var from = path.start
          path.hops.foreach { case (edgePat, dstNode) =>
            val xVar = from.variable.getOrElse(throw new GqlCompileException(
              "INSERT edge endpoints must be bound variables"))
            val yVar = dstNode.variable.getOrElse(throw new GqlCompileException(
              "INSERT edge endpoints must be bound variables"))
            total += insertOne(xVar, yVar, edgePat)
            from = dstNode
          }
        }
        Seq(total).toDF("edges_inserted")

      case MatchSetStmt(pattern, where, assignments, labelAdds)
          if pattern.hops.nonEmpty || pattern.start.labels.size != 1 =>
        // ANY hop pattern routes through the compiled pipeline: the hop
        // machinery enforces the pattern's full semantics —
        // (orientation, endpoint-label) combos, row-level endpoint
        // constraints, inline props — and the pipeline DML partitions by
        // the per-row matched type and applies each variable's group
        // (node or edge) itself. This includes NODE targets
        // (`MATCH (a)-[t]->(m) SET a.flag = true` — round-14: the simple
        // path rejected these while the reference's executor iterates
        // matches for any variable) and label items (edge-var labels are
        // the reference's silent no-op, logged in the pipeline handler).
        val seg = Ast.Segment(Seq(pattern), Seq.empty, where, Seq.empty,
          Seq(Ast.ReturnItem(Ast.Star(), None)), None, distinct = false,
          Seq.empty, None, Seq.empty, None, None)
        dispatchStmt(PipelineMutationStmt(Ast.Query(Seq(seg)), "SET",
          assignments.headOption.map(_._1.variable)
            .orElse(labelAdds.headOption.map(_._1))
            .getOrElse(throw new GqlCompileException(
              "SET requires at least one item")),
          assignments, Seq.empty, detach = false, labelAdds = labelAdds))

      case MatchSetStmt(pattern, where, assignments, labelAdds) =>
        requirePerm("UPDATE")
        val targetVar = assignments.headOption.map(_._1.variable)
          .orElse(labelAdds.headOption.map(_._1))
          .getOrElse(throw new GqlCompileException(
            "SET requires at least one item"))
        val (label, isEdge, v) = dmlTarget(pattern, targetVar)
        (assignments.map(_._1.variable) ++ labelAdds.map(_._1))
          .find(_ != v).foreach(other =>
            throw new GqlCompileException(
              s"SET targets mix variables $v and $other — the simple form " +
                "mutates a single variable (use a WITH pipeline for several)"))
        if (labelAdds.nonEmpty && isEdge)
          throw new GqlCompileException("SET v:Label applies to nodes only")
        val tblSchema =
          if (isEdge) graph.edgeTables.get(label).map(_._2.schema)
          else graph.nodeTables.get(label).map(_.schema)
        val pred = dmlPred(pattern, where, v, isEdge, tblSchema)
        val assigns = assignments.map { case (Prop(_, p), e) =>
          p -> rawColumn(e, v, tblSchema) }.toMap
        // a pattern over a missing label matches nothing — 0 affected,
        // not an error (pattern_tests.rs; labels appear via INSERT)
        if (if (isEdge) !graph.edgeTables.contains(label)
            else !graph.nodeTables.contains(label))
          Seq(0L).toDF("properties_set")
        else {
          // capture the matched id set from the PRE-mutation table: the
          // same statement may rewrite the very property the WHERE
          // matched on, and the label items must still apply to the rows
          // the predicate originally selected
          val matchedIds =
            if (labelAdds.isEmpty) null
            else graph.nodeTables(label).filter(pred).select(col("id"))
          // the affected count comes from the job that applies the SET
          var (g2, affected) =
            if (assigns.isEmpty)
              (graph, graph.nodeScan(label, Some(pred)).count())
            else if (isEdge) graph2.setEdgePropsCounted(graph, label, pred, assigns)
            else graph2.setNodePropsCounted(graph, label, pred, assigns)
          // label adds copy the (already updated) matched rows into the
          // new label's table — multi-label scans then match them by id
          labelAdds.foreach { case (_, newLabel) =>
            g2 = graph2.addNodeLabel(g2, label, matchedIds, newLabel)
          }
          currentGraph = Some(g2)
          Seq(affected).toDF("properties_set")
        }

      case MatchRemoveStmt(pattern, where, props, labelRemoves)
          if pattern.hops.nonEmpty || pattern.start.labels.size != 1 =>
        // hop patterns route through the pipeline like SET (round-14):
        // the simple path only handles a single-variable pattern
        val seg = Ast.Segment(Seq(pattern), Seq.empty, where, Seq.empty,
          Seq(Ast.ReturnItem(Ast.Star(), None)), None, distinct = false,
          Seq.empty, None, Seq.empty, None, None)
        dispatchStmt(PipelineMutationStmt(Ast.Query(Seq(seg)), "REMOVE",
          props.headOption.map(_.variable)
            .orElse(labelRemoves.headOption.map(_._1))
            .getOrElse(throw new GqlCompileException(
              "REMOVE requires at least one item")),
          Seq.empty, props, detach = false, labelRemoves = labelRemoves))

      case MatchRemoveStmt(pattern, where, props, labelRemoves) =>
        requirePerm("UPDATE")
        val targetVar = props.headOption.map(_.variable)
          .orElse(labelRemoves.headOption.map(_._1))
          .getOrElse(throw new GqlCompileException(
            "REMOVE requires at least one item"))
        val (label, isEdge, v) = dmlTarget(pattern, targetVar)
        (props.map(_.variable) ++ labelRemoves.map(_._1))
          .find(_ != v).foreach(other =>
            throw new GqlCompileException(
              s"REMOVE targets mix variables $v and $other — the simple form " +
                "mutates a single variable (use a WITH pipeline for several)"))
        if (isEdge) throw new GqlCompileException("REMOVE on edges: use SET to null")
        val pred = dmlPred(pattern, where, v, isEdge,
          if (isEdge) graph.edgeTables.get(label).map(_._2.schema)
          else graph.nodeTables.get(label).map(_.schema))
        if (!graph.nodeTables.contains(label))
          return Seq(0L).toDF("properties_removed")
        // pre-mutation id capture, same reason as the SET label items
        val rmIds =
          if (labelRemoves.isEmpty) null
          else graph.nodeTables(label).filter(pred).select(col("id"))
        var (g2, affected) =
          if (props.isEmpty) (graph, graph.nodeScan(label, Some(pred)).count())
          else graph2.setNodePropsCounted(graph, label, pred,
            props.map(p => p.prop -> lit(null)).toMap)
        labelRemoves.foreach { case (_, rmLabel) =>
          g2 = graph2.removeNodeLabel(g2, rmIds, rmLabel)
        }
        currentGraph = Some(g2)
        Seq(affected).toDF("properties_removed")

      case MatchDeleteStmt(pattern, where, target, detach)
          if pattern.hops.nonEmpty || pattern.start.labels.size != 1 =>
        // EVERY hop-pattern DELETE routes through the compiled pipeline:
        // the hop machinery enforces the pattern's endpoint labels,
        // orientation, and row-level constraints (the legacy
        // single-label path ignored endpoints — a pattern matching zero
        // edges could still delete a whole table), and the pipeline's
        // multi-type binding partitions eids by the per-row matched
        // type. Round-14: node targets inside hop patterns
        // (`MATCH (a)-[:R]->(b) DETACH DELETE b`) route here too — the
        // simple path only handles a single-variable pattern
        val seg = Ast.Segment(Seq(pattern), Seq.empty, where, Seq.empty,
          Seq(Ast.ReturnItem(Ast.Star(), None)), None, distinct = false,
          Seq.empty, None, Seq.empty, None, None)
        dispatchStmt(PipelineMutationStmt(Ast.Query(Seq(seg)), "DELETE",
          target, Seq.empty, Seq.empty, detach))

      case MatchDeleteStmt(pattern, where, target, detach) =>
        requirePerm("DELETE")
        val (label, isEdge, v) = dmlTarget(pattern, target)
        val pred = dmlPred(pattern, where, v, isEdge,
          if (isEdge) graph.edgeTables.get(label).map(_._2.schema)
          else graph.nodeTables.get(label).map(_.schema))
        if (isEdge && !graph.edgeTables.contains(label)) {
          Seq(0L).toDF("edges_deleted")
        } else if (!isEdge && !graph.nodeTables.contains(label)) {
          Seq(0L).toDF("nodes_deleted")
        } else if (isEdge) {
          val (g2, affected) = graph2.deleteEdgesCounted(graph, label, pred)
          currentGraph = Some(g2)
          Seq(affected).toDF("edges_deleted")
        } else {
          // the doomed ids are found and counted by the job that
          // restates the label
          val (g2, n) = graph2.deleteNodesCounted(graph, label, pred, detach)
          currentGraph = Some(g2)
          Seq(n).toDF("nodes_deleted")
        }

      case CatalogStmt(op, kind, rawSchema, g, typed, ifNotExists, cascade) =>
        requireTxWritable(s"$op $kind")
        // a relative graph name (schema "") resolves against the session
        // schema (SESSION SET SCHEMA; ddl_independent_tests.rs:150-176)
        val schema =
          if (rawSchema.nonEmpty) rawSchema
          else currentSchema.getOrElse(throw new GqlCompileException(
            s"relative graph name '${g.getOrElse("")}' needs " +
              "SESSION SET SCHEMA first"))
        // "_"/"." prefixes are the warehouse's metadata namespace
        // (_graph_types, _security, .tmp_*) — a schema or graph so
        // named would be invisible to listings and DROP SCHEMA /_graph_types
        // CASCADE would delete the graph-type catalog
        (schema +: g.toSeq).find(n => n.startsWith("_") || n.startsWith("."))
          .foreach(n => throw new GqlCompileException(
            s"'$n' is a reserved name — schema/graph names may not " +
              "start with '_' or '.'"))
        (op, kind) match {
        case ("CREATE", "SCHEMA") =>
          // plain CREATE errors on an existing schema; IF NOT EXISTS
          // no-ops (ddl_independent_tests.rs:129-137)
          if (gls.catalog.listSchemas().contains(schema) && !ifNotExists)
            throw new GqlCompileException(s"schema /$schema already exists")
          gls.catalog.createSchema(schema); Seq(s"/$schema").toDF("created")
        case ("CREATE", "GRAPH") =>
          val exists = gls.catalog.listGraphs(schema).contains(g.get)
          if (exists && !ifNotExists)
            throw new GqlCompileException(
              s"graph /$schema/${g.get} already exists")
          if (!exists) {
            gls.catalog.createSchema(schema)
            gls.catalog.saveGraph(schema, g.get,
              new PropertyGraph(Map.empty, Map.empty))
            typed.foreach(t =>
              gls.catalog.bindGraphType(s"/$schema/${g.get}", t))
          }
          Seq(s"/$schema/${g.get}").toDF("created")
        case ("DROP", "SCHEMA") =>
          // a schema that still holds graphs needs CASCADE
          // (ddl_independent_tests.rs:95-113); the cascade detaches
          // every session bound to a contained graph
          val contained = gls.catalog.listGraphs(schema)
          if (contained.nonEmpty && !cascade)
            throw new GqlCompileException(
              s"schema /$schema is not empty (${contained.size} graphs) — " +
                "use DROP SCHEMA … CASCADE")
          contained.foreach { cg =>
            gls.invalidateSessionsForGraph(s"/$schema/$cg")
            detachGraphIfCurrent(s"/$schema/$cg")
          }
          Seq(gls.catalog.dropSchema(schema)).toDF("dropped")
        case ("DROP", "GRAPH") =>
          val dropped = gls.catalog.dropGraph(schema, g.get)
          // stale-data guard (manager.rs invalidate_sessions_for_graph):
          // every pooled session bound to the dropped graph is detached
          gls.invalidateSessionsForGraph(s"/$schema/${g.get}")
          detachGraphIfCurrent(s"/$schema/${g.get}")
          Seq(dropped).toDF("dropped")
        case other => throw new GqlCompileException(s"unsupported DDL $other")
      }

      case AlterGraphTypeStmt(name, changes) =>
        requireTxWritable("ALTER GRAPH TYPE")
        import graft.graph.GraphType.{GraphTypeDef, NodeTypeDef, EdgeTypeDef}
        val next = gls.catalog.alterGraphType(name, cur =>
          changes.foldLeft(cur) { (gt, ch) => ch match {
            case AddNodeType(nt) =>
              if (gt.nodes.exists(_.label == nt.label))
                throw new GqlCompileException(
                  s"node type ${nt.label} already exists in $name")
              gt.copy(nodes = gt.nodes :+ nt)
            case DropNodeType(l) =>
              gt.copy(nodes = gt.nodes.filterNot(_.label == l),
                edges = gt.edges.filterNot(e => e.from == l || e.to == l))
            case AddEdgeType(et) =>
              if (gt.edges.exists(_.name == et.name))
                throw new GqlCompileException(
                  s"edge type ${et.name} already exists in $name")
              gt.copy(edges = gt.edges :+ et)
            case DropEdgeType(t) =>
              gt.copy(edges = gt.edges.filterNot(_.name == t))
            case AddProperty(tn, prop) =>
              if (gt.nodes.exists(_.label == tn))
                gt.copy(nodes = gt.nodes.map(n =>
                  if (n.label == tn) n.copy(props = n.props :+ prop) else n))
              else if (gt.edges.exists(_.name == tn))
                gt.copy(edges = gt.edges.map(e =>
                  if (e.name == tn) e.copy(props = e.props :+ prop) else e))
              else throw new GqlCompileException(s"unknown type $tn in $name")
            case DropProperty(tn, pn) =>
              gt.copy(
                nodes = gt.nodes.map(n =>
                  if (n.label == tn) n.copy(props = n.props.filterNot(_.name == pn)) else n),
                edges = gt.edges.map(e =>
                  if (e.name == tn) e.copy(props = e.props.filterNot(_.name == pn)) else e))
          }})
        // a session bound to this type sees the new version immediately
        if (currentType.exists(_.name == name)) currentType = Some(next)
        Seq((name, changes.size.toLong,
          gls.catalog.graphTypeVersionCount(name).toLong))
          .toDF("graph_type", "changes_applied", "superseded_versions")

      case GraphTypeStmt(op, name, definition) =>
        requireTxWritable(s"$op GRAPH TYPE")
        op match {
        case "CREATE" =>
          Seq(gls.catalog.saveGraphType(definition.get)).toDF("created")
        case "DROP" =>
          Seq(gls.catalog.dropGraphType(name)).toDF("dropped")
        case other => throw new GqlCompileException(s"unknown graph type op $other")
      }

      case SessionSetGraphType(name) =>
        currentType = Some(gls.catalog.loadGraphType(name).getOrElse(
          throw new IllegalArgumentException(s"unknown graph type: $name")))
        Seq(name).toDF("graph_type")

      // DECLARE x INT = 5, …: typed session variables, coerced to the
      // declared type, visible as $x (DeclareStatement analog — the
      // reference scopes them to procedure bodies and evaluates
      // initializers with the session context, executor.rs:8502-8527;
      // procedure scope is enforced at the CALL site, session scope is
      // the superset that NEXT YIELD parameters already use).
      // Initializers may be scalar subqueries or any expression over
      // already-declared $vars; missing initializers take the reference's
      // typed defaults — ONLY TypeSpec::Integer/String/Boolean have
      // non-null defaults (0 / "" / false); every other type, including
      // BIGINT, DOUBLE, and DECIMAL, defaults to NULL
      // (executor.rs:8513-8523).
      case DeclareStmt(vars) =>
        val DecP = """DECIMAL\((\d+)(?:,(\d+))?\)""".r
        val rows = vars.map { case (name, tpe, init) =>
          // strip (n) length / (p) precision suffixes for the inexact
          // families; DECIMAL keeps its (p,s) for scale coercion below
          val baseT =
            if (tpe.startsWith("DECIMAL")) tpe
            else tpe.takeWhile(c => c != '(' && c != '[')
          val raw: Any = init match {
            case None => baseT match {
              case "INT" | "INTEGER" => 0L
              case "STRING" | "VARCHAR" | "TEXT" => ""
              case "BOOLEAN" | "BOOL" => java.lang.Boolean.FALSE
              case _ => null // incl. BIGINT/DOUBLE/DECIMAL (executor.rs:8513)
            }
            case Some(e) => evalStandalone(e)
          }
          val coerced: Any = (Option(raw), baseT) match {
            case (None, _) => null
            case (Some(v), "INT" | "INTEGER" | "BIGINT" | "SMALLINT") =>
              v match {
                case n: java.lang.Number => n.longValue()
                case other => throw new GqlCompileException(
                  s"DECLARE $name: $other is not $tpe")
              }
            case (Some(v), "DOUBLE" | "FLOAT" | "REAL" | "FLOAT32") =>
              v match {
                case n: java.lang.Number => n.doubleValue()
                case other => throw new GqlCompileException(
                  s"DECLARE $name: $other is not $tpe")
              }
            case (Some(v), "STRING" | "VARCHAR" | "TEXT") => v.toString
            case (Some(v), "BOOLEAN" | "BOOL") => v match {
              case b: java.lang.Boolean => b
              case other => throw new GqlCompileException(
                s"DECLARE $name: $other is not $tpe")
            }
            // DECIMAL(p,s): exact BigDecimal at declared scale (HALF_UP,
            // matching Spark's Cast to DecimalType); overflow past the
            // declared precision is a compile error (ast.rs:826-830)
            case (Some(v), DecP(p, sOrNull)) =>
              val scale = Option(sOrNull).map(_.toInt).getOrElse(0)
              val bd = v match {
                case n: java.math.BigDecimal => n
                case n: java.lang.Number => new java.math.BigDecimal(n.toString)
                case other => throw new GqlCompileException(
                  s"DECLARE $name: $other is not $tpe")
              }
              val scaled = bd.setScale(scale, java.math.RoundingMode.HALF_UP)
              if (scaled.precision > p.toInt)
                throw new GqlCompileException(
                  s"DECLARE $name: $scaled overflows $tpe")
              scaled
            case (Some(v), "DECIMAL") => v match {
              case n: java.lang.Number => new java.math.BigDecimal(n.toString)
              case other => throw new GqlCompileException(
                s"DECLARE $name: $other is not $tpe")
            }
            case (_, other) => throw new GqlCompileException(
              s"DECLARE $name: unsupported type $other")
          }
          if (procDepth > 0)
            bodyDeclared = (name -> sessionParams.get(name)) :: bodyDeclared
          sessionParams += (name -> coerced)
          (name, tpe, Option(coerced).map(_.toString).orNull)
        }
        rows.toDF("variable", "type", "value")

      case SessionSetGraph(path) =>
        val abs = resolvePath(path)
        useGraph(abs); Seq(abs).toDF("current_graph")

      case SessionSetSchema(name) =>
        // validated against the catalog like the reference
        // (executor.rs:6819-6835 CatalogError on a missing schema)
        if (!gls.catalog.listSchemas().contains(name))
          throw new GqlCompileException(s"schema does not exist: /$name")
        currentSchema = Some(name)
        Seq(s"/$name").toDF("current_schema")

      case SessionSetTimeZone(tz) =>
        // accept region ids and the common abbreviations ZoneId knows;
        // reject garbage eagerly (the reference stores the raw string —
        // we validate up front so EXTRACT can't fail mid-job)
        val zone = try {
          java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).getId
        } catch {
          case _: java.time.DateTimeException =>
            throw new GqlCompileException(s"invalid time zone: $tz")
        }
        sessionTimeZone = Some(zone)
        Seq(zone).toDF("time_zone")

      case SessionSetParam(kind, name, ifNotExists, vInit, gInit, tInit) =>
        val skip = ifNotExists && (kind match {
          case "VALUE" => sessionParams.contains(name)
          case "GRAPH" => graphParams.contains(name)
          case _ => tableParams.contains(name)
        })
        if (skip) Seq((name, "exists")).toDF("parameter", "status")
        else kind match {
          case "VALUE" =>
            val v = evalStandalone(vInit.get)
            sessionParams += (name -> v)
            Seq((name, String.valueOf(v))).toDF("parameter", "value")
          case "GRAPH" =>
            val abs = resolvePath(gInit.get)
            val parts = abs.stripPrefix("/").split("/")
            if (parts.length != 2 ||
                !gls.catalog.listGraphs(parts(0)).contains(parts(1)))
              throw new GqlCompileException(s"graph does not exist: $abs")
            graphParams += (name -> abs)
            // the path doubles as a scalar $ref (rendered as its path)
            sessionParams += (name -> abs)
            Seq((name, abs)).toDF("parameter", "graph")
          case _ =>
            val df = (new Compiler(graph, sessionParams, f64Mode,
              sessionTz = tzName).compile(tInit.get))
            tableParams += (name -> df)
            Seq((name, df.columns.mkString(","))).toDF("parameter", "columns")
        }

      case SessionReset(target, param) =>
        target match {
          case "ALL" =>
            // reference reset-everything (session/models.rs:412-418):
            // graph context, schema, time zone, AND parameters
            currentGraph = None; currentName = None; txStack = Nil; txModeStack = Nil
            currentType = None; currentSchema = None; sessionTimeZone = None
            sessionParams = Map.empty; graphParams = Map.empty
            tableParams = Map.empty
          case "SCHEMA" => currentSchema = None
          case "GRAPH" =>
            currentGraph = None; currentName = None; currentType = None
          case "TIME_ZONE" => sessionTimeZone = None
          case "PARAMETERS" =>
            sessionParams = Map.empty; graphParams = Map.empty
            tableParams = Map.empty
          case "CHARACTERISTICS" =>
            currentGraph = None; currentName = None; currentType = None
            currentSchema = None; sessionTimeZone = None
          case "PARAMETER" =>
            val n = param.get
            sessionParams -= n; graphParams -= n; tableParams -= n
          case other =>
            throw new GqlCompileException(s"unknown SESSION RESET $other")
        }
        Seq(target.toLowerCase).toDF("session_reset")

      case SessionCtl(op) => op match {
        case "RESET" =>
          currentGraph = None; currentName = None; txStack = Nil; txModeStack = Nil
          currentType = None; currentSchema = None; sessionTimeZone = None
          sessionParams = Map.empty; graphParams = Map.empty
          tableParams = Map.empty
          Seq("reset").toDF("session")
        case "CLOSE" =>
          currentGraph = None; currentName = None; txStack = Nil; txModeStack = Nil
          currentType = None; currentSchema = None; sessionTimeZone = None
          sessionParams = Map.empty; graphParams = Map.empty
          tableParams = Map.empty
          Seq("closed").toDF("session")
        case "NUMBERS_F64" =>
          f64Mode = true; Seq("f64").toDF("numbers")
        case "NUMBERS_NATIVE" =>
          f64Mode = false; Seq("native").toDF("numbers")
        case "RESULT_CACHE_ON" =>
          resultCacheOn = true; Seq("on").toDF("result_cache")
        case "RESULT_CACHE_OFF" =>
          resultCacheOn = false
          resultCache.clear(); subqueryCache.clear()
          Seq("off").toDF("result_cache")
        case other => throw new GqlCompileException(s"unknown SESSION op $other")
      }

      // transactions (ast.rs:1620-1679): snapshot semantics over the
      // copy-on-write session graph — START pushes the current version,
      // ROLLBACK restores it, COMMIT discards the snapshot. Multi-statement
      // atomicity across concurrent sessions stays out of scope (the
      // documented divergence from the reference's WAL, SURVEY.md §7.4.4).
      case TransactionStmt(op, iso, mode) => op match {
        case "START" =>
          requireSupportedIsolation(iso)
          txStack = (currentGraph, currentName) :: txStack
          // explicit mode on START wins; otherwise a nested transaction
          // inherits the enclosing mode, and a top-level one consumes
          // the SET TRANSACTION default (which, per SQL, applies to the
          // NEXT transaction only)
          val inherited =
            if (txModeStack.nonEmpty) txMode
            else { val d = txDefaultMode; txDefaultMode = None; d }
          txModeStack = mode.orElse(inherited) :: txModeStack
          Seq("started").toDF("transaction")
        case "COMMIT" =>
          if (txStack.isEmpty)
            throw new IllegalStateException("COMMIT outside a transaction")
          txStack = txStack.tail
          txModeStack = txModeStack.drop(1)
          Seq("committed").toDF("transaction")
        case "ROLLBACK" =>
          if (txStack.isEmpty)
            throw new IllegalStateException("ROLLBACK outside a transaction")
          val (g, n) = txStack.head
          currentGraph = g; currentName = n
          txStack = txStack.tail
          txModeStack = txModeStack.drop(1)
          Seq("rolled_back").toDF("transaction")
        // SET TRANSACTION (set_characteristics.rs:45-90): validates the
        // level, records the access-mode default for the next (or, when
        // inside one, the current) transaction, and returns the
        // reference's one-row status message
        case "SET_CHARACTERISTICS" =>
          requireSupportedIsolation(iso)
          mode.foreach { m =>
            if (txStack.nonEmpty)
              txModeStack = Some(m) :: txModeStack.drop(1)
            else txDefaultMode = Some(m)
          }
          val msg = "Transaction characteristics set:" +
            iso.map(i => s" ISOLATION LEVEL $i").getOrElse("") +
            mode.map(m => s" $m").getOrElse("")
          Seq(msg).toDF("status")
        case other => throw new GqlCompileException(s"unknown transaction op $other")
      }

      case SecurityStmt(op, kind, name, target, ifClause) =>
        requireTxWritable(s"$op $kind")
        // Security DDL is admin-gated as a UNIT for registered callers:
        // gating only password rotation (round-12 first cut) was
        // bypassable — a registered non-admin could CREATE ROLE admin,
        // GRANT it to themselves, and then rotate anyone's credential.
        // The rule mirrors GraphCatalog.mayManageUsers: a session whose
        // user is not a registered catalog USER is the embedding
        // application (trusted — it owns the warehouse files); a
        // registered user needs role admin for ANY security statement.
        if (!gls.catalog.isSecurityAdmin(user, registeredAtOpen))
          throw new GqlAuthException(
            s"user '$user' may not run security DDL ($op $kind) — " +
              "requires role admin")
        (op, kind) match {
        // for CREATE USER, `target` carries the IDENTIFIED BY/PASSWORD
        // secret. Duplicate create and missing drop ERROR unless the
        // statement carries IF NOT EXISTS / IF EXISTS
        // (security_role_user_tests.rs:26,44 "already exists"/"not found")
        case ("CREATE", k) =>
          val created = gls.catalog.createPrincipal(k, name, target)
          if (!created && !ifClause)
            throw new GqlCompileException(
              s"$k '$name' already exists (use IF NOT EXISTS to no-op)")
          Seq(created).toDF("created")
        case ("DROP", k) =>
          val dropped = gls.catalog.dropPrincipal(k, name)
          if (!dropped && !ifClause)
            throw new GqlCompileException(
              s"$k '$name' not found (use IF EXISTS to no-op)")
          Seq(dropped).toDF("dropped")
        case ("GRANT", "ACCESS") =>
          val Array(perm, path) = name.split("\\|", 2)
          Seq(gls.catalog.grantAccess(perm, path, target.get)).toDF("granted")
        case ("REVOKE", "ACCESS") =>
          val Array(perm, path) = name.split("\\|", 2)
          Seq(gls.catalog.revokeAccess(perm, path, target.get)).toDF("revoked")
        case ("GRANT", _) =>
          Seq(gls.catalog.grantRole(name, target.get)).toDF("granted")
        case ("REVOKE", "ROLE") =>
          Seq(gls.catalog.revokeRole(name, target.get)).toDF("revoked")
        case other => throw new GqlCompileException(s"unsupported security op $other")
      }

      case ProcedureStmt(op, name, body) =>
        requireTxWritable(s"$op PROCEDURE")
        op match {
        // the system namespace is reserved in both directions
        // (stored_procedure_no_prefix_test.rs: users may neither create
        // nor drop gql.* procedures)
        case "CREATE" | "DROP"
            if name.startsWith("gql.") || name.startsWith("system.") =>
          throw new GqlCompileException(
            s"the gql.*/system.* namespace is reserved for system " +
              s"procedures — cannot $op $name")
        case "CREATE" =>
          gls.catalog.saveProcedure(name, body.get)
          Seq(name).toDF("procedure_created")
        case "DROP" =>
          Seq(gls.catalog.dropProcedure(name)).toDF("dropped")
        case other => throw new GqlCompileException(s"unknown procedure op $other")
      }

      case IndexStmt(op, name, table, cols) =>
        requireTxWritable(s"$op INDEX")
        op match {
        case "CREATE" =>
          val created = gls.catalog.createIndex(name, table, cols)
          // apply the clustered layout now if the session graph is
          // catalog-backed; in-memory graphs pick it up on save. Full
          // rewrite (force) — incremental saves would skip clean datasets
          // that need the new layout.
          if (created) currentName.foreach(p => saveGraphAs(p, force = true))
          Seq(created).toDF("created")
        case "DROP" =>
          Seq(gls.catalog.dropIndex(name)).toDF("dropped")
        case "REINDEX" =>
          // rebuild = rewrite the persisted graph through the clustered
          // layout (OPTIMIZE/REINDEX analog)
          currentName.foreach(p => saveGraphAs(p, force = true))
          Seq(name).toDF("reindexed")
        case other => throw new GqlCompileException(s"unknown index op $other")
      }

      // ALTER INDEX name REBUILD|OPTIMIZE|SET OPTION k = v, and
      // OPTIMIZE INDEX name (parser.rs:4942-4996). REBUILD/OPTIMIZE map
      // to the clustered-layout rewrite REINDEX performs; SET OPTION
      // updates index metadata. Unknown index names error (the reference
      // validates against its index catalog).
      case AlterIndexStmt(name, op, option) =>
        requireTxWritable("ALTER INDEX")
        if (!gls.catalog.listIndexes().exists(_._1 == name))
          throw new IllegalArgumentException(s"unknown index: $name")
        op match {
          case "REBUILD" | "OPTIMIZE" =>
            currentName.foreach(p => saveGraphAs(p, force = true))
            Seq(name).toDF("optimized")
          case "SET_OPTION" =>
            val (k, v) = option.get
            gls.catalog.setIndexOption(name, k, v)
            Seq((name, k, v)).toDF("index_name", "option", "value")
          case other =>
            throw new GqlCompileException(s"unknown ALTER INDEX op $other")
        }

      case PipelineMutationStmt(q, op, target, assigns, removeProps, detach,
          labelAdds, labelRemoves) =>
        requirePerm(op match {
          case "SET" | "REMOVE" => "UPDATE"
          case "DELETE" => "DELETE"
          case _ => "INSERT"
        })
        val compiler = new Compiler(graph, sessionParams, f64Mode)
        val mutExprs: Seq[Ast.Expr] = assigns.map(_._2)
        val (bdf, bindings) = compiler.compileMutationPipeline(q, mutExprs)
        def nodeLabelOf(v: String): String = bindings.get(v) match {
          case Some(nb: compiler.NodeBinding) => nb.primary
          case Some(_: compiler.EdgeBinding) => throw new GqlCompileException(
            s"$op on edge variable $v: REMOVE is node-only — " +
              "use SET to null an edge property")
          case _ => throw new GqlCompileException(
            s"mutation target $v is not bound by the pipeline")
        }
        // label-less targets (`MATCH (n) DETACH DELETE n` —
        // set_operations_tests.rs:596 cleanup idiom): the union scan
        // carries (label, id) per row, so apply per label table; ids
        // cast back to each table's own id type (the union may have
        // widened mixed Long/string ids to string)
        def perUnionLabel(v: String)(
            apply: (String, (DataFrame, Long)) => Unit): Long = {
          graph.nodeTables.keys.toSeq.sorted.foreach { lbl =>
            val idT = graph.nodeTables(lbl).schema("id").dataType
            val ids = graft.graph.PropertyGraph.materializedCount(
              bdf.filter(col(s"${v}_label") === lit(lbl))
                .select(col(s"${v}_id").cast(idT).as("id")).distinct())
            if (ids._2 > 0) apply(lbl, ids)
          }
          // the mutation applies once per label TABLE (a multi-label
          // node is the same id row in every table, see the INSERT
          // comment above), but the reference counts logical NODES —
          // report distinct ids across the union, not per-table sums
          bdf.select(col(s"${v}_id").cast("string")).distinct().count()
        }
        op match {
          case "DELETE" =>
            bindings.get(target) match {
              case Some(eb: compiler.EdgeBinding) =>
                // multi-type edge vars: eids are only unique per type, so
                // partition the binding rows by the matched type column
                // and delete within each type's table
                val n =
                  if (eb.types.size == 1) {
                    // a pattern whose types don't exist binds "__missing"
                    // (emptyHop): zero rows, nothing to delete
                    if (!graph.edgeTables.contains(eb.primary)) 0L
                    else {
                      val (eids, c) = graft.graph.PropertyGraph.materializedCount(
                        bdf.select(col(s"${target}_eid").as("eid")).distinct())
                      currentGraph = Some(
                        graph2.deleteEdgesIn(graph, eb.primary, (eids, c)))
                      c
                    }
                  } else {
                    var g = graph
                    var total = 0L
                    eb.types.foreach { t =>
                      val (eids, c) = graft.graph.PropertyGraph.materializedCount(
                        bdf.filter(col(s"${target}_label") === lit(t))
                          .select(col(s"${target}_eid").as("eid")).distinct())
                      if (c > 0) { g = graph2.deleteEdgesIn(g, t, (eids, c)) }
                      total += c
                    }
                    currentGraph = Some(g)
                    total
                  }
                Seq(n).toDF("edges_deleted")
              case Some(compiler.UnionNode) =>
                var g = graph
                val n = perUnionLabel(target) { (lbl, ids) =>
                  g = graph2.deleteNodesIn(g, lbl, ids, detach)
                }
                currentGraph = Some(g)
                Seq(n).toDF("nodes_deleted")
              case _ =>
                val label = nodeLabelOf(target)
                val ids = graft.graph.PropertyGraph.materializedCount(
                  bdf.select(col(s"${target}_id").as("id")).distinct())
                currentGraph = Some(graph2.deleteNodesIn(graph, label, ids, detach))
                Seq(ids._2).toDF("nodes_deleted")
            }
          case "SET" =>
            // SET clauses may target several pipeline variables
            // (`SET a.x = 1, b.y = 2`): group assignments per variable and
            // apply each group to its own label table. All groups read the
            // same pre-mutation binding snapshot. One update row per id;
            // multi-row matches collapse via max (last-writer order is
            // undefined in the reference too — a deterministic reduction
            // beats arbitrary-row wins).
            var g = graph
            var total = 0L
            assigns.groupBy(_._1.variable).toSeq.sortBy(_._1).foreach {
              case (v, as) =>
                val valueCols = as.map { case (Ast.Prop(_, p), e) =>
                  org.apache.spark.sql.functions.max(
                    compiler.columnFor(e, bindings)).as(p)
                }
                val props = as.map(_._1.prop)
                bindings.get(v) match {
                  case Some(eb: compiler.EdgeBinding) =>
                    // per matched type; eids are only unique per type
                    def applyType(t: String, rows: DataFrame): Unit =
                      if (graph.edgeTables.contains(t)) {
                        val (updates, c) = graft.graph.PropertyGraph.materializedCount(
                          rows.groupBy(col(s"${v}_eid").as("eid"))
                            .agg(valueCols.head, valueCols.tail: _*))
                        if (c > 0)
                          g = graph2.setEdgePropsFrom(g, t, (updates, c), props)
                        total += c
                      }
                    if (eb.types.size == 1) applyType(eb.primary, bdf)
                    else eb.types.foreach(t => applyType(t,
                      bdf.filter(col(s"${v}_label") === lit(t))))
                  case Some(compiler.UnionNode) =>
                    graph.nodeTables.keys.toSeq.sorted.foreach { lbl =>
                      val idT = graph.nodeTables(lbl).schema("id").dataType
                      val (updates, c) = graft.graph.PropertyGraph.materializedCount(bdf
                        .filter(col(s"${v}_label") === lit(lbl))
                        .groupBy(col(s"${v}_id").cast(idT).as("id"))
                        .agg(valueCols.head, valueCols.tail: _*))
                      if (c > 0)
                        g = graph2.setNodePropsFrom(g, lbl, (updates, c), props)
                    }
                    // count logical nodes, not per-label-table rows — a
                    // multi-label node is the same id row in every table
                    total += bdf.select(col(s"${v}_id").cast("string"))
                      .distinct().count()
                  case _ =>
                    val label = nodeLabelOf(v)
                    val (updates, c) = graft.graph.PropertyGraph.materializedCount(
                      bdf.groupBy(col(s"${v}_id").as("id"))
                        .agg(valueCols.head, valueCols.tail: _*))
                    total += c
                    g = graph2.setNodePropsFrom(g, label, (updates, c), props)
                }
            }
            // SET v:Label items (after property groups — labels copy the
            // already-updated rows, same convention as the simple path).
            // An EDGE target is the reference's silent no-op
            // (match_set.rs:835-846 labels nodes only) — log and skip.
            labelAdds.foreach { case (v, newLabel) =>
              bindings.get(v) match {
                case Some(nb: compiler.NodeBinding) =>
                  val ids = bdf.select(col(s"${v}_id").as("id")).distinct()
                    .transform(graft.graph.PropertyGraph.materialized)
                  if (assigns.isEmpty) total += ids.count()
                  g = graph2.addNodeLabel(g, nb.primary, ids, newLabel)
                case Some(_: compiler.EdgeBinding) =>
                  org.slf4j.LoggerFactory.getLogger("graft.GraphLiteSpark")
                    .warn(s"SET $v:$newLabel: labels apply to nodes only — " +
                      "ignored on edge variable (reference parity: silent no-op)")
                case _ => throw new GqlCompileException(
                  s"SET $v:$newLabel applies to nodes only")
              }
            }
            currentGraph = Some(g)
            Seq(total).toDF("properties_set")
          case "REMOVE" =>
            var g = graph
            var total = 0L
            removeProps.groupBy(_.variable).toSeq.sortBy(_._1).foreach {
              case (v, prs) =>
                bindings.get(v) match {
                  case Some(compiler.UnionNode) =>
                    total += perUnionLabel(v) { (lbl, ids) =>
                      val withNulls = prs.foldLeft(ids._1)((d, pr) =>
                        d.withColumn(pr.prop, lit(null)))
                      g = graph2.setNodePropsFrom(g, lbl, (withNulls, ids._2),
                        prs.map(_.prop))
                    }
                  case _ =>
                    val label = nodeLabelOf(v)
                    val (updates, n) = graft.graph.PropertyGraph.materializedCount(
                      bdf.select(col(s"${v}_id").as("id")).distinct())
                    val withNulls = prs.foldLeft(updates)((d, pr) =>
                      d.withColumn(pr.prop, lit(null)))
                    total += n
                    g = graph2.setNodePropsFrom(g, label, (withNulls, n),
                      prs.map(_.prop))
                }
            }
            // REMOVE v:Label items through the pipeline (node-only, like
            // the simple path)
            labelRemoves.foreach { case (v, rmLabel) =>
              bindings.get(v) match {
                case Some(_: compiler.NodeBinding) =>
                  val ids = bdf.select(col(s"${v}_id").as("id")).distinct()
                    .transform(graft.graph.PropertyGraph.materialized)
                  if (removeProps.isEmpty) total += ids.count()
                  g = graph2.removeNodeLabel(g, ids, rmLabel)
                case _ => throw new GqlCompileException(
                  s"REMOVE $v:$rmLabel applies to nodes only")
              }
            }
            currentGraph = Some(g)
            Seq(total).toDF("properties_removed")
          case other => throw new GqlCompileException(s"unknown mutation $other")
        }

      case SelectStmt(paths, q) =>
        // FROM /s/g [UNION /s/g]* — the graph union expression
        // (ast.rs:1117; storage_manager.rs:400 union semantics)
        val g = paths match {
          case Seq() => graph
          case ps => ps.map { pth =>
            val parts = pth.stripPrefix("/").split("/")
            gls.catalog.loadGraph(parts(0), parts(1))
          }.reduce(gls.catalog.unionGraphs)
        }
        new Compiler(g, sessionParams, f64Mode).compile(q)

      // AT /s/g <stmt>: run against another graph's context, restore
      // after. Mutations inside AT follow session copy-on-write rules:
      // they affect the AT context only and are NOT auto-persisted (use
      // saveGraphAs inside an explicit session switch for durable writes).
      case AtStmt(path, body) =>
        val (savedG, savedN, savedT) = (currentGraph, currentName, currentType)
        useGraph(path)
        try execute(body)
        finally {
          currentGraph = savedG; currentName = savedN; currentType = savedT
        }

      case CallStmt(name0, args, yields, callWhere) =>
        // `system.` is an accepted alias prefix for the `gql.` namespace
        // (reference system_procedures.rs:102-107 normalizes it the same
        // way before dispatch)
        val name =
          if (name0.startsWith("system.")) "gql." + name0.stripPrefix("system.")
          else name0
        val base =
          if (name.startsWith("gql.")) {
            val strArgs = args.map {
              case Ast.Ident(s) => s // bare identifiers pass as strings
              case e => Option(litValue(e)).map(_.toString).getOrElse("")
            }
            SystemProcedures.call(gls, this, name, strArgs)
          } else gls.catalog.loadProcedure(name) match {
            case Some(body) =>
              // variables DECLAREd in the body are body-scoped: restore
              // each to its pre-call value (newest-first iteration makes
              // the oldest recorded value win for re-declared names)
              val mark = bodyDeclared
              procDepth += 1
              try execute(body)
              finally {
                procDepth -= 1
                bodyDeclared.take(bodyDeclared.length - mark.length).foreach {
                  case (n, Some(prev)) => sessionParams += (n -> prev)
                  case (n, None) => sessionParams -= n
                }
                bodyDeclared = mark
              }
            case None => throw new IllegalArgumentException(s"unknown procedure: $name")
          }
        // YIELD projects/renames the procedure's rowset; WHERE filters it
        // over the yielded (or raw) columns (ast.rs:90-96)
        var out = base
        if (yields.nonEmpty)
          out = out.select(yields.map { case (c, a) => col(c).as(a) }: _*)
        callWhere.foreach { w =>
          // procedure results are plain columns — compile the predicate
          // with every output column as a value binding (graph-free)
          val g0 = currentGraph.getOrElse(new PropertyGraph(Map.empty, Map.empty))
          val comp = new Compiler(g0, sessionParams, f64Mode)
          out = out.filter(comp.columnFor(w,
            out.columns.map(_ -> (comp.ValueBinding: comp.Binding)).toMap))
        }
        out
    }
  }

  /** Persist the session's (possibly mutated) graph as a new version,
    * then rebind the session to the persisted snapshot — the in-memory
    * copy-on-write tables may lazily read files the save just replaced.
    */
  def saveGraphAs(path: String, force: Boolean = false): Unit = {
    requireTxWritable("save a graph")
    val parts = path.stripPrefix("/").split("/")
    require(parts.length == 2, s"graph path must be /schema/graph, got $path")
    gls.catalog.createSchema(parts(0))
    currentGraph = Some(gls.catalog.saveAndReload(parts(0), parts(1), graph, force))
    currentName = Some(path)
  }

  /** Resolve the single DML variable to (label, isEdge). */
  private def dmlTarget(pattern: Ast.PathPattern, v: String): (String, Boolean, String) = {
    pattern match {
      case Ast.PathPattern(np, Seq(), _, _) if np.variable.contains(v) =>
        (np.labels.headOption.getOrElse(
          throw new GqlCompileException("DML pattern needs a label")), false, v)
      case Ast.PathPattern(_, Seq((ep, _)), _, _) if ep.variable.contains(v) =>
        (ep.types.headOption.getOrElse(
          throw new GqlCompileException("DML edge pattern needs a type")), true, v)
      case _ => throw new GqlCompileException(
        s"DML target $v must be the pattern's single node or edge variable")
    }
  }

  /** Simple-DML row predicate: the WHERE clause AND the target pattern's
    * inline property equalities. `MATCH (u:U {id: 2}) SET u.s = 99` must
    * constrain to id = 2 — the round-14 string-id sweep found the simple
    * SET/REMOVE/DELETE paths silently DROPPING inline props (only WHERE
    * was compiled), so such a statement mutated every row of the label;
    * the reference matches inline props in DML everywhere
    * (match_delete.rs `{name: 'X'}` idioms). A property the table
    * doesn't have compares as NULL → matches nothing (the same
    * missing-property semantics the MATCH compiler uses).
    */
  private def dmlPred(pattern: Ast.PathPattern, where: Option[Ast.Expr],
      v: String, isEdge: Boolean,
      tableSchema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.Column = {
    val tableCols =
      tableSchema.map(_.fieldNames.toSet).getOrElse(Set.empty[String])
    val inlineProps =
      if (isEdge) pattern.hops.headOption.map(_._1.props).getOrElse(Seq.empty)
      else pattern.start.props
    val inline = inlineProps.map { case (k, e) =>
      (if (tableCols(k)) col(k) else lit(null)) === rawColumn(e, v, tableSchema)
    }
    (inline ++ where.map(rawColumn(_, v, tableSchema)))
      .reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Static value kind of a DML expression, resolved against the target
    * table's schema — the DML-side analog of the query compiler's
    * staticKind, threaded into [[graft.gql.ScalarFns]] so the
    * kind-sensitive arms (NUMBER→string Rust-Display rendering,
    * non-convertible-kind NULL/empty/error arms, NULLIF's typed
    * equality) apply identically on both surfaces: SET n.x = UPPER(n.bal)
    * persists the same "3" that RETURN UPPER(n.bal) yields (ADVICE r16 —
    * the shared table existed but the DML side passed no kindOf).
    */
  private def dmlKind(e: Ast.Expr, v: String,
      schema: Option[org.apache.spark.sql.types.StructType]): Option[String] = {
    import Ast._
    def fieldKind(name: String): Option[String] =
      schema.flatMap(_.fields.find(_.name == name))
        .flatMap(f => graft.gql.ScalarFns.dtKind(f.dataType))
    e match {
      case NumLit(_, _) => Some("NUMBER")
      case StrLit(_) => Some("STRING")
      case BoolLit(_) => Some("BOOLEAN")
      case NullLit() => Some("NULL")
      case Prop(`v`, p) => fieldKind(p)
      case Ident(`v`) => fieldKind("id")
      case Neg(_) => Some("NUMBER")
      case Bin("+" | "-" | "*" | "/" | "%", _, _) => Some("NUMBER")
      case Bin("||", l, r) =>
        dmlKind(l, v, schema).orElse(dmlKind(r, v, schema))
      case Bin(_, _, _) | Not(_) | IsNull(_, _) | InList(_, _, _) =>
        Some("BOOLEAN")
      case CaseExpr(_, whens, otherwise) =>
        (whens.map(_._2) ++ otherwise)
          .flatMap(dmlKind(_, v, schema)).find(_ != "NULL")
      case Fn(name, fargs, _) => name.toUpperCase match {
        case "UPPER" | "LOWER" | "TRIM" | "SUBSTRING" | "REPLACE" =>
          Some("STRING")
        case "ABS" | "CEIL" | "CEILING" | "FLOOR" | "SQRT" | "POWER" |
            "POW" | "LOG" | "LOG10" | "EXP" | "SIN" | "COS" | "TAN" |
            "PI" | "SIGN" | "MOD" | "ROUND" | "LENGTH" | "CHAR_LENGTH" =>
          Some("NUMBER")
        case "REVERSE" | "COALESCE" | "NULLIF" =>
          fargs.headOption.flatMap(dmlKind(_, v, schema))
        case _ => None
      }
      case _ => None
    }
  }

  /** Compile a DML expression against the raw (unprefixed) table columns
    * of the single pattern variable. `schema` is the target table's
    * schema when known — it feeds [[dmlKind]] so the shared ScalarFns
    * table gets the same kind evidence the query compiler derives.
    */
  private def rawColumn(e: Ast.Expr, v: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : org.apache.spark.sql.Column = {
    import Ast._
    e match {
      case Prop(`v`, p) => col(p)
      case Ident(`v`) => col("id")
      case Prop(other, _) => throw new GqlCompileException(
        s"DML expressions may only reference $v, got $other")
      // numbers bind by reference: the next statement with other
      // values reuses this one's generated code
      case NumLit(x, isInt) =>
        graft.plans.RefLiteral.lit(if (isInt) x.toLong else x.toDouble)
      case StrLit(s0) => lit(s0)
      case BoolLit(b) => lit(b)
      case NullLit() => lit(null)
      case Bin(op, l, r) =>
        val (lc, rc) = (rawColumn(l, v, schema), rawColumn(r, v, schema))
        op match {
          case "+" => lc + rc; case "-" => lc - rc; case "*" => lc * rc
          case "/" => lc / rc; case "%" => lc % rc
          case "=" => lc === rc; case "<>" => lc =!= rc
          case "<" => lc < rc; case "<=" => lc <= rc
          case ">" => lc > rc; case ">=" => lc >= rc
          case "AND" => lc && rc; case "OR" => lc || rc
          case "||" => org.apache.spark.sql.functions.concat(lc, rc)
          case o => throw new GqlCompileException(s"unsupported DML operator $o")
        }
      case fn @ Fn(_, _, _) =>
        // constant function expression as a DML value
        // (set_function_expression_test.rs: SET p.x = upper('alice')):
        // evaluated once driver-side. Row-referencing args stay
        // unsupported in the simple form — use a WITH pipeline.
        def refsRow(x: Ast.Expr): Boolean = x match {
          case Prop(_, _) | Ident(_) => true
          case Bin(_, l, r) => refsRow(l) || refsRow(r)
          case Not(y) => refsRow(y)
          case Neg(y) => refsRow(y)
          case IsNull(y, _) => refsRow(y)
          case Fn(_, as, _) => as.exists(refsRow)
          case CaseExpr(s0, ws, o) => s0.exists(refsRow) ||
            ws.exists { case (c, y) => refsRow(c) || refsRow(y) } ||
            o.exists(refsRow)
          case Cast(y, _) => refsRow(y)
          case _ => false
        }
        if (refsRow(fn)) {
          // row-referencing args compile per-row like the reference's
          // evaluate_expression does for SET values (match_set.rs) —
          // through the SAME ScalarFns table the query compiler uses,
          // so the two surfaces cannot drift; richer shapes → WITH
          // pipeline
          val Fn(name, fargs, _) = fn
          val up = name.toUpperCase
          if (graft.gql.ScalarFns.names(up))
            graft.gql.ScalarFns(up, fargs.map(rawColumn(_, v, schema)), fargs,
              kindOf = dmlKind(_, v, schema))
          else throw new GqlCompileException(
            s"DML function $up may not reference pattern variables " +
              "in the simple form — use a WITH pipeline")
        } else lit(evalStandalone(fn) match {
          case i: java.lang.Integer => i.longValue()
          case f: java.lang.Float => f.doubleValue()
          case other => other
        })
      case Not(x) => !rawColumn(x, v, schema)
      case Neg(x) => -rawColumn(x, v, schema)
      case IsNull(x, n) =>
        val c = rawColumn(x, v, schema); if (n) c.isNotNull else c.isNull
      case InList(x, items, n) =>
        val c = rawColumn(x, v, schema).isin(items.map(litValue): _*)
        if (n) !c else c
      case other => throw new GqlCompileException(
        s"unsupported expression in DML: $other")
    }
  }

  /** Literal type tag for graph-type validation. */
  private def litTag(e: Ast.Expr): graft.graph.GraphType.Lit = {
    import graft.graph.GraphType._
    e match {
      case Ast.NumLit(_, true) => LInt
      case Ast.NumLit(_, false) => LFloat
      case Ast.StrLit(_) => LString
      case Ast.BoolLit(_) => LBool
      case Ast.NullLit() => LNull
      case other => throw new GqlCompileException(s"expected literal, got $other")
    }
  }

  /** Validation tag / Spark type for an already-EVALUATED property value
    * (INSERT property expressions — function_expression_insert_test.rs —
    * evaluate before the row is built, so tagging happens on values).
    */
  private def valueTag(v: Any): graft.graph.GraphType.Lit = {
    import graft.graph.GraphType._
    v match {
      case null => LNull
      case _: java.lang.Long | _: java.lang.Integer => LInt
      case _: java.lang.Double | _: java.lang.Float |
           _: java.math.BigDecimal => LFloat
      case _: String => LString
      case _: java.lang.Boolean => LBool
      case _: java.sql.Timestamp | _: java.sql.Date |
           _: java.time.Duration => LTemporal
      case other => throw new GqlCompileException(
        s"unsupported INSERT property value: $other (${other.getClass.getName})")
    }
  }

  /** Column-type analog of [[valueTag]] for distributed (pipeline)
    * INSERT validation, where values are per-row and only the static
    * column type is known. */
  private def dtTag(dt: org.apache.spark.sql.types.DataType):
      graft.graph.GraphType.Lit = {
    import org.apache.spark.sql.types._
    import graft.graph.GraphType._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => LInt
      case DoubleType | FloatType | _: DecimalType => LFloat
      case StringType => LString
      case BooleanType => LBool
      case TimestampType | TimestampNTZType | DateType |
           _: DayTimeIntervalType => LTemporal
      case NullType => LNull
      case other => throw new GqlCompileException(
        s"unsupported INSERT property type: $other")
    }
  }

  /** Spark type for a property the bound graph type declares (INSERT of
    * an all-null column must honor the declared INT/DOUBLE/… rather than
    * defaulting to a string placeholder).
    */
  private def declaredSparkType(label: String, prop: String):
      Option[org.apache.spark.sql.types.DataType] =
    currentType.flatMap(_.nodes.find(_.label == label))
      .flatMap(_.props.find(_.name == prop))
      .flatMap(pd => graft.graph.GraphType.sparkTypeOf(pd.dataType))

  private def valueType(v: Any): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    v match {
      case null => throw new GqlCompileException(
        "internal: all-null columns resolve via the declared graph type")
      case _: java.lang.Long | _: java.lang.Integer => LongType
      case _: java.lang.Double | _: java.lang.Float => DoubleType
      case bd: java.math.BigDecimal => DecimalType(
        math.max(bd.precision, bd.scale + 1), bd.scale)
      case _: String => StringType
      case _: java.lang.Boolean => BooleanType
      case _: java.sql.Timestamp => TimestampType
      case _: java.sql.Date => DateType
      // duration('P…') property values (function_expression_insert_test
      // .rs inserts these): Spark's external type for a day-time interval
      case _: java.time.Duration =>
        org.apache.spark.sql.types.DayTimeIntervalType()
      // list property literal (`tags: ['a', 'b']` —
      // utility_functions_test.rs inserts these); element type from the
      // first non-null element, string for an all-null/empty list
      case seq: scala.collection.Seq[_] =>
        ArrayType(seq.collectFirst { case e if e != null => e }
          .map(valueType).getOrElse(StringType))
      case other => throw new GqlCompileException(
        s"unsupported INSERT property value: $other (${other.getClass.getName})")
    }
  }

  /** Evaluate a DECLARE initializer eagerly: literals directly; scalar
    * subqueries against the current graph (first row, first column, null
    * on empty result); any other expression over a single-row frame with
    * the session parameters in scope.
    */
  private def evalStandalone(e: Ast.Expr): Any = e match {
    case Ast.Subquery(q) =>
      val g = currentGraph.getOrElse(throw new GqlCompileException(
        "DECLARE initializer is a subquery but the session has no current " +
          "graph — call useGraph(...) / SESSION SET GRAPH first"))
      new Compiler(g, sessionParams, f64Mode).compile(q)
        .limit(1).collect().headOption.map(_.get(0)).orNull
    case Ast.NumLit(_, _) | Ast.StrLit(_) | Ast.BoolLit(_) | Ast.NullLit() =>
      litValue(e)
    case other =>
      val g0 = currentGraph.getOrElse(new PropertyGraph(Map.empty, Map.empty))
      val comp = new Compiler(g0, sessionParams, f64Mode)
      gls.spark.range(1).select(comp.columnFor(other, Map.empty).as("v"))
        .collect().head.get(0)
  }

  private def litValue(e: Ast.Expr): Any = e match {
    case Ast.NumLit(v, true) => v.toLong
    case Ast.NumLit(v, false) => v.toDouble
    case Ast.StrLit(s0) => s0
    case Ast.BoolLit(b) => b
    case Ast.NullLit() => null
    case other => throw new GqlCompileException(s"expected literal, got $other")
  }

  private def litType(e: Ast.Expr): org.apache.spark.sql.types.DataType = e match {
    case Ast.NumLit(_, true) => org.apache.spark.sql.types.LongType
    case Ast.NumLit(_, false) => org.apache.spark.sql.types.DoubleType
    case Ast.StrLit(_) => org.apache.spark.sql.types.StringType
    case Ast.BoolLit(_) => org.apache.spark.sql.types.BooleanType
    case other => throw new GqlCompileException(s"expected literal, got $other")
  }

  /** EXPLAIN surface (reference: plan/trace.rs phase trace,
    * query_coordinator.rs:783): one section per compilation phase —
    * the parsed GQL AST, the pre-Catalyst join tree the compiler built
    * (the analyzed logical plan, before any optimizer rule has run),
    * the Catalyst-optimized logical plan, and the final physical plan.
    *
    * Plan-only by construction: this compile runs WITHOUT the subquery
    * cache and without adjacency lookups, so an uncorrelated scalar
    * subquery shows its lazy crossJoin(broadcast(…)) shape, a seeded
    * hop its join plan, and EXPLAIN never launches a Spark job — where
    * the executed statement may instead inline the memoized scalar as a
    * literal (RESULT_CACHE ON) or join the hop's collected edges. The
    * shapes are value-equivalent; CacheSpec pins the zero-job property.
    */
  def explain(query: String): String = {
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val (ast, msParse) = timed(Parser.parse(query))
    val (df, msCompile) =
      timed(new Compiler(queryGraph(ast), sessionParams, f64Mode).compile(ast))
    val qe = df.queryExecution
    // forcing each lazy plan attributes its phase cost, like the
    // reference's per-phase trace timings (plan/trace.rs)
    val (analyzed, msAnalyze) = timed(qe.analyzed.treeString)
    val (optimized, msOptimize) = timed(qe.optimizedPlan.treeString)
    val (physical, msPhysical) = timed(
      qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    f"""=== AST (parse $msParse%.2f ms) ===
       |$ast
       |
       |=== Logical plan (compile $msCompile%.2f ms, analyze $msAnalyze%.2f ms) ===
       |$analyzed=== Optimized logical plan (optimize $msOptimize%.2f ms) ===
       |$optimized=== Physical plan (plan $msPhysical%.2f ms) ===
       |$physical""".stripMargin
  }
}
