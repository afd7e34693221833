package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential DML fuzz: seeded random simple-DML statements run
  * against BOTH the engine and a ~60-line model interpreter holding the
  * graph as plain maps; after every statement the full node/edge state
  * must agree. This is the systematic version of the round-14 findings
  * (inline-prop predicates dropped, comma patterns ignoring their gate,
  * multi-label over-matching): each of those bugs made the engine mutate
  * a DIFFERENT row set than the semantics require, which is exactly what
  * a state diff catches and a crash fuzz cannot.
  *
  * Semantics mirrored by the model (= the reference's): inline props are
  * equalities (a missing/null prop matches nothing), WHERE compares only
  * non-null values (3VL), comma patterns gate on the OTHER pattern
  * matching at least one row, OPTIONAL MATCH null bindings no-op the
  * mutation, plain DELETE of a node with incident edges fails the WHOLE
  * statement, DETACH DELETE takes incident edges along, MATCH…INSERT of
  * an already-present (type,src,dst) edge is a dedup no-op that keeps
  * the OLD edge's properties, edge SET rewrites matched edges' props,
  * multi-item SET applies all items to the matched rows.
  */
class DmlDifferentialFuzzSpec extends AnyFunSuite with TempDirs {

  private type Props = Map[String, Any] // "s" -> Long | "name" -> String; null = removed
  private case class Model(
      var nodes: Map[String, Map[Long, Props]], // label -> id -> props
      var edges: Map[(Long, Long), Long]) // (L-id, M-id) -> w, over type R

  // 250 statements ≈ 3 min keeps the routine suite tractable; the full
  // 600 (which originally exposed the unbounded copy-on-write plan height
  // AND the BigInt stats blow-up fixed in PropertyGraph.mutated) was run
  // green end-to-end and stays reachable via GRAFT_DML_FUZZ_N=600.
  private val nStatements =
    sys.env.getOrElse("GRAFT_DML_FUZZ_N", "250").toInt

  test(s"$nStatements random DML statements keep engine and model in lockstep") {
    val wh = tempDir("dmlfuzz").toString
    val t = graft.GraphLiteSpark.open(SparkFixture.spark, wh).session("u")
    t.execute("CREATE GRAPH /main/dml_fuzz")
    t.execute("SESSION SET GRAPH /main/dml_fuzz")

    // default seed is fixed for reproducibility; rotate via
    // GRAFT_DML_FUZZ_SEED to shake out seed-dependent paths
    val rnd = new scala.util.Random(
      sys.env.getOrElse("GRAFT_DML_FUZZ_SEED", "20260814").toLong)
    val names = Array("x", "y", "z")

    // ---- seed an identical graph on both sides ----
    def seedProps(i: Int): Props =
      Map("s" -> (i % 5).toLong, "name" -> names(i % 3))
    val m = Model(
      Map("L" -> (1 to 6).map(i => i.toLong -> seedProps(i)).toMap,
        "M" -> (1 to 6).map(i => (10 + i).toLong -> seedProps(i + 1)).toMap),
      Map((1L, 11L) -> 1L, (2L, 12L) -> 2L, (2L, 13L) -> 3L, (4L, 14L) -> 4L))
    m.nodes.foreach { case (lbl, rows) =>
      rows.toSeq.sortBy(_._1).foreach { case (id, p) =>
        t.execute(s"INSERT (:$lbl {id: $id, s: ${p("s")}, " +
          s"name: '${p("name")}'})")
      }
    }
    m.edges.toSeq.sortBy(_._1).foreach { case ((a, b), w) =>
      t.execute(s"MATCH (a:L {id: $a}), (b:M {id: $b}) " +
        s"INSERT (a)-[:R {w: $w}]->(b)")
    }

    // ---- model-side helpers ----
    def nodeMatches(p: Props, inline: Seq[(String, Any)],
        whereGt: Option[(String, Long)]): Boolean =
      inline.forall { case (k, v) => p.get(k).exists(x => x != null && x == v) } &&
        whereGt.forall { case (k, b) =>
          p.get(k).exists(x => x != null && x.asInstanceOf[Long] > b) }
    def matched(lbl: String, inline: Seq[(String, Any)],
        whereGt: Option[(String, Long)]): Set[Long] =
      m.nodes(lbl).collect {
        case (id, p) if nodeMatches(p, inline, whereGt) => id }.toSet
    def lit(v: Any): String = v match {
      case s: String => s"'$s'"
      case other => other.toString
    }

    // ---- compare full state after every statement ----
    def verify(stmt: String): Unit = {
      Seq("L", "M").foreach { lbl =>
        val got = t.gql(s"MATCH (n:$lbl) RETURN n.id AS id, n.s AS s, " +
          "n.name AS name ORDER BY id").collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else r.getLong(1),
            if (r.isNullAt(2)) null else r.getString(2))).toSeq
        val want = m.nodes(lbl).toSeq.sortBy(_._1).map { case (id, p) =>
          (id, p.getOrElse("s", null), p.getOrElse("name", null)) }
        assert(got == want, s"$lbl state diverged after: $stmt\n" +
          s"engine: $got\nmodel:  $want")
      }
      val gotE = t.gql("MATCH (a:L)-[r:R]->(b:M) RETURN a.id AS a, b.id AS b, " +
        "r.w AS w ORDER BY a, b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val wantE = m.edges.toSeq.map { case ((a, b), w) => (a, b, w) }.sorted
      assert(gotE == wantE,
        s"edges diverged after: $stmt\nengine: $gotE\nmodel:  $wantE")
    }

    var executed = 0
    val t0 = System.nanoTime
    (0 until nStatements).foreach { _ =>
      val lbl = if (rnd.nextBoolean()) "L" else "M"
      val inline: Seq[(String, Any)] = rnd.nextInt(3) match {
        case 0 => Seq.empty
        case 1 => Seq("s" -> rnd.nextInt(6).toLong)
        case 2 => Seq("name" -> names(rnd.nextInt(3)))
      }
      val whereGt: Option[(String, Long)] =
        if (rnd.nextBoolean()) Some("s" -> rnd.nextInt(5).toLong) else None
      val inlineStr =
        if (inline.isEmpty) ""
        else inline.map { case (k, v) => s"$k: ${lit(v)}" }
          .mkString(" {", ", ", "}")
      val whereStr = whereGt.fold("") { case (k, b) => s" WHERE n.$k > $b" }
      val k = rnd.nextInt(6).toLong

      rnd.nextInt(11) match {
        case 0 => // SET
          val stmt = s"MATCH (n:$lbl$inlineStr)$whereStr SET n.s = $k"
          t.execute(stmt)
          val ids = matched(lbl, inline, whereGt)
          m.nodes += lbl -> m.nodes(lbl).map { case (id, p) =>
            id -> (if (ids(id)) p + ("s" -> k) else p) }
          verify(stmt)
        case 1 => // REMOVE property
          val stmt = s"MATCH (n:$lbl$inlineStr)$whereStr REMOVE n.s"
          t.execute(stmt)
          val ids = matched(lbl, inline, whereGt)
          m.nodes += lbl -> m.nodes(lbl).map { case (id, p) =>
            id -> (if (ids(id)) p + ("s" -> null) else p) }
          verify(stmt)
        case 2 => // DELETE (plain or DETACH)
          val detach = rnd.nextBoolean()
          val d = if (detach) "DETACH " else ""
          val stmt = s"MATCH (n:$lbl$inlineStr)$whereStr ${d}DELETE n"
          val ids = matched(lbl, inline, whereGt)
          val incident = ids.exists(id =>
            if (lbl == "L") m.edges.keys.exists(_._1 == id)
            else m.edges.keys.exists(_._2 == id))
          if (!detach && incident) {
            intercept[Exception] { t.execute(stmt) } // whole stmt fails
          } else {
            t.execute(stmt)
            m.nodes += lbl -> (m.nodes(lbl) -- ids)
            if (detach) m.edges = m.edges.filter { case ((a, b), _) =>
              !((lbl == "L" && ids(a)) || (lbl == "M" && ids(b))) }
          }
          verify(stmt)
        case 3 => // comma pattern with a gate on the OTHER label
          val other = if (lbl == "L") "M" else "L"
          val gateId = (if (other == "L") rnd.nextInt(9) + 1
            else 10 + rnd.nextInt(9) + 1).toLong // sometimes missing
          val stmt = s"MATCH (n:$lbl$inlineStr), (g:$other {id: $gateId})" +
            s"$whereStr SET n.s = $k"
          t.execute(stmt)
          if (m.nodes(other).contains(gateId)) {
            val ids = matched(lbl, inline, whereGt)
            m.nodes += lbl -> m.nodes(lbl).map { case (id, p) =>
              id -> (if (ids(id)) p + ("s" -> k) else p) }
          }
          verify(stmt)
        case 4 => // hop SET on the far end (b gets mutated)
          val stmt = s"MATCH (a:L$inlineStr)-[:R]->(b:M) SET b.s = $k"
          t.execute(stmt)
          val srcs = matched("L", inline, None)
          val dsts = m.edges.keys.collect { case (a, b) if srcs(a) => b }.toSet
          m.nodes += "M" -> m.nodes("M").map { case (id, p) =>
            id -> (if (dsts(id)) p + ("s" -> k) else p) }
          verify(stmt)
        case 5 => // edge DELETE constrained by the dst
          val stmt = s"MATCH (a:L)-[r:R]->(b:M$inlineStr) DELETE r"
          t.execute(stmt)
          val dsts = matched("M", inline, None)
          m.edges = m.edges.filter { case ((_, b), _) => !dsts(b) }
          verify(stmt)
        case 6 => // OPTIONAL MATCH SET on the optional end
          val stmt = s"MATCH (p:L) OPTIONAL MATCH (p)-[:R]->(q:M$inlineStr) " +
            s"SET q.s = $k"
          t.execute(stmt)
          val dsts = m.edges.keys.map(_._2).toSet
            .intersect(matched("M", inline, None))
          m.nodes += "M" -> m.nodes("M").map { case (id, p) =>
            id -> (if (dsts(id)) p + ("s" -> k) else p) }
          verify(stmt)
        case 7 => // MATCH…INSERT edge; duplicate (type,src,dst) dedups to a
          // no-op that KEEPS the old edge's props; missing endpoints no-op
          val a = (rnd.nextInt(12) + 1).toLong
          val b = (10 + rnd.nextInt(12) + 1).toLong
          val stmt = s"MATCH (a:L {id: $a}), (b:M {id: $b}) " +
            s"INSERT (a)-[:R {w: $k}]->(b)"
          t.execute(stmt)
          if (m.nodes("L").contains(a) && m.nodes("M").contains(b) &&
              !m.edges.contains((a, b)))
            m.edges += (a, b) -> k
          verify(stmt)
        case 8 => // edge-property SET constrained by the src
          val stmt = s"MATCH (a:L$inlineStr)-[r:R]->(b:M) SET r.w = $k"
          t.execute(stmt)
          val srcs = matched("L", inline, None)
          m.edges = m.edges.map { case ((a, b), w) =>
            (a, b) -> (if (srcs(a)) k else w) }
          verify(stmt)
        case 9 => // multi-item SET: both props rewritten in one statement
          val nm = names(rnd.nextInt(3))
          val stmt =
            s"MATCH (n:$lbl$inlineStr)$whereStr SET n.s = $k, n.name = '$nm'"
          t.execute(stmt)
          val ids = matched(lbl, inline, whereGt)
          m.nodes += lbl -> m.nodes(lbl).map { case (id, p) =>
            id -> (if (ids(id)) p + ("s" -> k) + ("name" -> nm) else p) }
          verify(stmt)
        case 10 => // self-referencing value: every item reads the
          // PRE-statement row (3VL: null s + 1 stays null)
          val nm = names(rnd.nextInt(3))
          val stmt = s"MATCH (n:$lbl$inlineStr)$whereStr " +
            s"SET n.s = n.s + 1, n.name = '$nm'"
          t.execute(stmt)
          val ids = matched(lbl, inline, whereGt)
          m.nodes += lbl -> m.nodes(lbl).map { case (id, p) =>
            id -> (if (ids(id)) {
              val s2: Any = p.get("s")
                .collect { case v: Long => v + 1 }.getOrElse(null)
              p + ("s" -> s2) + ("name" -> nm)
            } else p) }
          verify(stmt)
      }
      executed += 1
      if (executed % 100 == 0) // println: live progress (info() buffers)
        println(f"[dml-fuzz] $executed statements, ${(System.nanoTime - t0) / 1e9}%.0f s")
      // keep the graph populated: top up when a label runs dry
      Seq("L", "M").foreach { l =>
        if (m.nodes(l).size < 2) {
          val base = if (l == "L") 0L else 10L
          val newId = (base + 100 + executed).toLong
          val p: Props = Map("s" -> rnd.nextInt(5).toLong,
            "name" -> names(rnd.nextInt(3)))
          t.execute(s"INSERT (:$l {id: $newId, s: ${p("s")}, " +
            s"name: '${p("name")}'})")
          m.nodes += l -> (m.nodes(l) + (newId -> p))
        }
      }
    }
    assert(executed == nStatements)
  }
}
