package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for the DDL/catalog statement surface — the last
  * unfuzzed statement family (r16 verdict #6). Random sequences of
  * CREATE/DROP SCHEMA [CASCADE] / GRAPH / GRAPH TYPE, ALTER GRAPH TYPE,
  * CREATE/DROP/ALTER INDEX, CREATE/DROP USER/ROLE, GRANT/REVOKE (role
  * membership and graph ACEs) run lockstep against a driver-side model
  * catalog. After EVERY statement the spec asserts:
  *   - error outcomes match the model (named error iff the model expects
  *     one, with the expected message fragment);
  *   - all eight catalog listings (gql.list_schemas/graphs/graph_types/
  *     indexes/users/roles/grants/procedures) equal the model's view.
  * Every 10 statements it probes ENFORCEMENT with fresh sessions:
  *   - the security-DDL admin gate (a registered user may run security
  *     DDL iff granted role admin; the embedding caller always may);
  *   - the graph-attach ACE gate (a governed path admits exactly the
  *     principals holding a grant, directly or through a role).
  * Reference anchors: ddl_independent_tests.rs / ddl_shared_tests.rs /
  * security_role_user_tests.rs. Seed via GRAFT_DDL_FUZZ_SEED, count via
  * GRAFT_DDL_FUZZ_N.
  */
class DdlCatalogFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val nStatements =
    sys.env.getOrElse("GRAFT_DDL_FUZZ_N", "220").toInt

  private case class TypeModel(nodes: Set[String],
      edges: Set[(String, String, String)]) // (name, from, to)

  test(s"$nStatements random DDL/catalog statements stay in lockstep " +
      "with a model catalog (listings + error outcomes + enforcement)") {
    val wh = tempDir("ddlfuzz").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    // the driver user is NEVER created as a catalog USER, so it stays the
    // embedding application for the admin gate (fails open by design —
    // whoever can open an unregistered session owns the warehouse files)
    val t = gls.session("fuzz_driver")

    val rnd = new scala.util.Random(
      sys.env.getOrElse("GRAFT_DDL_FUZZ_SEED", "20260817").toLong)

    // name pools kept small so sequences collide (duplicate creates,
    // drops of missing names, grants to dropped users — the error arms)
    val schemaPool = Array("s0", "s1", "s2", "s3")
    val graphPool = Array("g0", "g1", "g2")
    val typePool = Array("T0", "T1", "T2")
    val labelPool = Array("N0", "N1", "N2", "N3")
    val edgeNamePool = Array("E0", "E1", "E2")
    val indexPool = Array("ix0", "ix1", "ix2", "ix3")
    val tablePool = Array("nodes_N0", "nodes_N1", "edges_E0")
    val colPool = Array("id", "s", "tag")
    val userPool = Array("u0", "u1", "u2", "u3")
    val rolePool = Array("r0", "r1", "admin")
    val permPool = Array("SELECT", "INSERT", "UPDATE", "DELETE", "ALL")

    // ---- the model catalog
    var schemas = Set.empty[String]
    var graphs = Set.empty[(String, String)]
    var types = Map.empty[String, TypeModel]
    var indexes = Map.empty[String, (String, String)] // name -> (table, cols)
    var procedures = Set.empty[String]
    var users = Set.empty[String]
    var roles = Set.empty[String]
    var roleGrants = Set.empty[(String, String)] // (role, user)
    var aces = Set.empty[(String, String, String)] // (perm, path, principal)

    def principals: Set[String] = users ++ roles

    def pick[A](xs: Array[A]): A = xs(rnd.nextInt(xs.length))

    /** Run `stmt`; expectErr = Some(fragment) means the engine must throw
      * with that fragment in the message, None means it must succeed.
      */
    def run(stmt: String, expectErr: Option[String]): Unit = {
      val got: Option[String] =
        try { t.execute(stmt).collect(); None }
        catch { case e: Throwable => Some(Option(e.getMessage).getOrElse("")) }
      (expectErr, got) match {
        case (None, None) => ()
        case (Some(frag), Some(msg)) =>
          assert(msg.contains(frag),
            s"wrong error for: $stmt\nwanted fragment: $frag\ngot: $msg")
        case (None, Some(msg)) =>
          fail(s"unexpected error for: $stmt\n$msg")
        case (Some(frag), None) =>
          fail(s"expected error ($frag) but succeeded: $stmt")
      }
    }

    def checkListings(stmt: String): Unit = {
      def ctx(what: String, got: Any, want: Any) =
        s"$what diverged after: $stmt\nengine: $got\nmodel:  $want"
      val sGot = t.call("gql.list_schemas").collect()
        .map(_.getString(0)).toSet
      assert(sGot == schemas, ctx("schemas", sGot, schemas))
      val gGot = t.call("gql.list_graphs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(gGot == graphs, ctx("graphs", gGot, graphs))
      val tGot = t.call("gql.list_graph_types").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val tWant = types.map { case (n, tm) =>
        (n, tm.nodes.size.toLong, tm.edges.size.toLong) }.toSet
      assert(tGot == tWant, ctx("graph types", tGot, tWant))
      val ixGot = t.call("gql.list_indexes").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val ixWant = indexes.map { case (n, (tb, cs)) => (n, tb, cs) }.toSet
      assert(ixGot == ixWant, ctx("indexes", ixGot, ixWant))
      val uGot = t.call("gql.list_users").collect().map(_.getString(0)).toSet
      assert(uGot == users, ctx("users", uGot, users))
      val rGot = t.call("gql.list_roles").collect().map(_.getString(0)).toSet
      assert(rGot == roles, ctx("roles", rGot, roles))
      val grGot = t.call("gql.list_grants").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(grGot == roleGrants, ctx("role grants", grGot, roleGrants))
      val pGot = t.call("gql.list_procedures").collect()
        .map(_.getString(0)).toSet
      assert(pGot == procedures, ctx("procedures", pGot, procedures))
    }

    /** Enforcement probes with FRESH sessions (registeredAtOpen is
      * sampled at open, so each probe must open its own).
      */
    def probeEnforcement(): Unit = {
      // (a) security-DDL admin gate: a registered user needs role admin;
      // the probe statement is a pure no-op on success (revoking a grant
      // that never existed), so it changes no state either way
      if (users.nonEmpty) {
        val u = pick(users.toArray.sorted)
        val expectAllowed = roleGrants.exists { case (r, gu) =>
          r.equalsIgnoreCase("admin") && gu == u }
        val s = gls.session(u)
        val threw =
          try { s.execute("REVOKE ROLE zzz_probe FROM zzz_nobody"); false }
          catch { case _: graft.GqlAuthException => true }
        assert(threw == !expectAllowed,
          s"admin gate for registered user $u: expected allowed=" +
            s"$expectAllowed (grants: ${roleGrants.filter(_._2 == u)})")
      }
      // (b) graph-attach ACE gate: a governed path admits exactly the
      // principals granted on it, directly or through a role
      if (graphs.nonEmpty && users.nonEmpty) {
        val (sc, gr) = pick(graphs.toArray.sortBy(p => p._1 + p._2))
        val path = s"/$sc/$gr"
        val u = pick(users.toArray.sorted)
        val pathAces = aces.filter(_._2 == path)
        val mine = Set(u) ++ roleGrants.collect { case (r, gu) if gu == u => r }
        val expectAllowed =
          pathAces.isEmpty || pathAces.exists(a => mine.contains(a._3))
        val s = gls.session(u)
        val threw =
          try { s.useGraph(path); false }
          catch { case _: graft.GqlAuthException => true }
        assert(threw == !expectAllowed,
          s"attach gate for $u on $path: expected allowed=$expectAllowed " +
            s"(aces: $pathAces, principals: $mine)")
        // (c) per-operation SELECT gate: an attached session may query
        // iff the path is ungoverned or a SELECT/ALL ACE names one of
        // the user's principals (a user granted only INSERT attaches
        // but may not read — security.rs Permission semantics)
        if (!threw) {
          val selAllowed = pathAces.isEmpty || pathAces.exists(a =>
            (a._1 == "SELECT" || a._1 == "ALL") && mine.contains(a._3))
          val selThrew =
            try { s.gql("MATCH (n:Nope) RETURN n.id AS id").collect(); false }
            catch { case _: graft.GqlAuthException => true }
          assert(selThrew == !selAllowed,
            s"SELECT gate for $u on $path: expected allowed=$selAllowed " +
              s"(aces: $pathAces, principals: $mine)")
        }
      }
    }

    val procPool = Array("p0", "p1", "p2", "gql.reserved_p", "system.reserved_p")

    (1 to nStatements).foreach { i =>
      rnd.nextInt(21) match {
        case 20 => // CREATE/DROP PROCEDURE (CREATE overwrites silently,
          // DROP of a missing name is a non-error dropped=false; the
          // gql.*/system.* namespace is reserved in BOTH directions —
          // stored_procedure_no_prefix_test.rs)
          val pn = pick(procPool)
          val reserved = pn.startsWith("gql.") || pn.startsWith("system.")
          if (rnd.nextBoolean()) {
            val stmt = s"CREATE PROCEDURE $pn AS RETURN $i AS x"
            run(stmt, if (reserved) Some("reserved") else None)
            if (!reserved) procedures += pn
            checkListings(stmt)
          } else {
            val stmt = s"DROP PROCEDURE $pn"
            run(stmt, if (reserved) Some("reserved") else None)
            if (!reserved) procedures -= pn
            checkListings(stmt)
          }
        case 0 => // CREATE SCHEMA [IF NOT EXISTS]
          val s = pick(schemaPool)
          val ine = rnd.nextBoolean()
          val stmt = s"CREATE SCHEMA ${if (ine) "IF NOT EXISTS " else ""}/$s"
          val err = if (schemas(s) && !ine) Some("already exists") else None
          run(stmt, err)
          if (err.isEmpty) schemas += s
          checkListings(stmt)
        case 1 => // DROP SCHEMA [CASCADE]
          val s = pick(schemaPool)
          val cascade = rnd.nextBoolean()
          val stmt = s"DROP SCHEMA /$s${if (cascade) " CASCADE" else ""}"
          val contained = graphs.filter(_._1 == s)
          val err = if (contained.nonEmpty && !cascade)
            Some("is not empty") else None
          run(stmt, err)
          if (err.isEmpty) { schemas -= s; graphs --= contained }
          checkListings(stmt)
        case 2 | 3 => // CREATE GRAPH [IF NOT EXISTS] (implicitly creates schema)
          val s = pick(schemaPool); val g = pick(graphPool)
          val ine = rnd.nextBoolean()
          val stmt = s"CREATE GRAPH ${if (ine) "IF NOT EXISTS " else ""}/$s/$g"
          val exists = graphs((s, g))
          val err = if (exists && !ine) Some("already exists") else None
          run(stmt, err)
          if (err.isEmpty && !exists) { schemas += s; graphs += ((s, g)) }
          checkListings(stmt)
        case 4 => // DROP GRAPH (missing drop is a non-error `dropped=false`)
          val s = pick(schemaPool); val g = pick(graphPool)
          val stmt = s"DROP GRAPH /$s/$g"
          run(stmt, None)
          graphs -= ((s, g))
          checkListings(stmt)
        case 5 => // CREATE GRAPH TYPE (duplicate create → created=false, no error)
          val tn = pick(typePool)
          val na = pick(labelPool); val nb = pick(labelPool)
          val en = pick(edgeNamePool)
          val stmt = s"CREATE GRAPH TYPE $tn (" +
            s"NODE TYPE $na (id INT NOT NULL, name STRING)" +
            (if (na != nb) s", NODE TYPE $nb (id INT NOT NULL)" else "") +
            s", EDGE TYPE $en (FROM $na TO $nb, w DOUBLE))"
          run(stmt, None)
          if (!types.contains(tn))
            types += tn -> TypeModel(Set(na, nb), Set((en, na, nb)))
          checkListings(stmt)
        case 6 => // DROP GRAPH TYPE
          val tn = pick(typePool)
          val stmt = s"DROP GRAPH TYPE $tn"
          run(stmt, None)
          types -= tn
          checkListings(stmt)
        case 7 => // ALTER GRAPH TYPE ADD NODE TYPE
          val tn = pick(typePool); val lbl = pick(labelPool)
          val stmt = s"ALTER GRAPH TYPE $tn ADD NODE TYPE $lbl (id INT NOT NULL)"
          val err =
            if (!types.contains(tn)) Some(s"unknown graph type: $tn")
            else if (types(tn).nodes(lbl)) Some("already exists")
            else None
          run(stmt, err)
          if (err.isEmpty)
            types += tn -> types(tn).copy(nodes = types(tn).nodes + lbl)
          checkListings(stmt)
        case 8 => // ALTER GRAPH TYPE DROP NODE TYPE (also drops touching edges)
          val tn = pick(typePool); val lbl = pick(labelPool)
          val stmt = s"ALTER GRAPH TYPE $tn DROP NODE TYPE $lbl"
          val err =
            if (!types.contains(tn)) Some(s"unknown graph type: $tn") else None
          run(stmt, err)
          if (err.isEmpty) {
            val tm = types(tn)
            types += tn -> TypeModel(tm.nodes - lbl,
              tm.edges.filterNot(e => e._2 == lbl || e._3 == lbl))
          }
          checkListings(stmt)
        case 9 => // ALTER GRAPH TYPE ADD EDGE TYPE
          val tn = pick(typePool); val en = pick(edgeNamePool)
          val na = pick(labelPool); val nb = pick(labelPool)
          val stmt = s"ALTER GRAPH TYPE $tn ADD EDGE TYPE $en (FROM $na TO $nb)"
          val err =
            if (!types.contains(tn)) Some(s"unknown graph type: $tn")
            else if (types(tn).edges.exists(_._1 == en)) Some("already exists")
            else None
          run(stmt, err)
          if (err.isEmpty)
            types += tn -> types(tn).copy(
              edges = types(tn).edges + ((en, na, nb)))
          checkListings(stmt)
        case 10 => // ALTER GRAPH TYPE ADD PROPERTY (unknown member type errors)
          val tn = pick(typePool)
          val member = if (rnd.nextBoolean()) pick(labelPool) else pick(edgeNamePool)
          val stmt = s"ALTER GRAPH TYPE $tn ADD PROPERTY $member.p$i STRING"
          val err =
            if (!types.contains(tn)) Some(s"unknown graph type: $tn")
            else if (!types(tn).nodes(member) &&
                !types(tn).edges.exists(_._1 == member))
              Some(s"unknown type $member in $tn")
            else None
          run(stmt, err)
          checkListings(stmt) // property changes don't surface in listings
        case 11 => // CREATE GRAPH INDEX (duplicate name → created=false)
          val ix = pick(indexPool); val tb = pick(tablePool)
          val c = pick(colPool)
          val stmt = s"CREATE GRAPH INDEX $ix ON $tb ($c)"
          run(stmt, None)
          if (!indexes.contains(ix)) indexes += ix -> (tb, c)
          checkListings(stmt)
        case 12 => // DROP INDEX
          val ix = pick(indexPool)
          val stmt = s"DROP INDEX $ix"
          run(stmt, None)
          indexes -= ix
          checkListings(stmt)
        case 13 => // ALTER INDEX SET OPTION (unknown index errors)
          val ix = pick(indexPool)
          val stmt = s"ALTER INDEX $ix SET OPTION buckets = ${2 + rnd.nextInt(6)}"
          val err =
            if (!indexes.contains(ix)) Some(s"unknown index: $ix") else None
          run(stmt, err)
          checkListings(stmt)
        case 14 => // CREATE USER [IF NOT EXISTS] [IDENTIFIED BY]
          val u = pick(userPool)
          val ine = rnd.nextBoolean()
          val pw = if (rnd.nextBoolean()) s" IDENTIFIED BY 'pw$i'" else ""
          val stmt = s"CREATE USER ${if (ine) "IF NOT EXISTS " else ""}$u$pw"
          val err = if (users(u) && !ine) Some("already exists") else None
          run(stmt, err)
          if (err.isEmpty) users += u
          checkListings(stmt)
        case 15 => // DROP USER [IF EXISTS] (drops the user's role grants too)
          val u = pick(userPool)
          val ife = rnd.nextBoolean()
          val stmt = s"DROP USER ${if (ife) "IF EXISTS " else ""}$u"
          val err = if (!users(u) && !ife) Some("not found") else None
          run(stmt, err)
          if (err.isEmpty && users(u)) {
            users -= u
            roleGrants = roleGrants.filterNot(g => g._1 == u || g._2 == u)
          }
          checkListings(stmt)
        case 16 => // CREATE/DROP ROLE (dropping a role drops its grants)
          val r = pick(rolePool)
          if (rnd.nextBoolean()) {
            val ine = rnd.nextBoolean()
            val stmt = s"CREATE ROLE ${if (ine) "IF NOT EXISTS " else ""}$r"
            val err = if (roles(r) && !ine) Some("already exists") else None
            run(stmt, err)
            if (err.isEmpty) roles += r
            checkListings(stmt)
          } else {
            val ife = rnd.nextBoolean()
            val stmt = s"DROP ROLE ${if (ife) "IF EXISTS " else ""}$r"
            val err = if (!roles(r) && !ife) Some("not found") else None
            run(stmt, err)
            if (err.isEmpty && roles(r)) {
              roles -= r
              roleGrants = roleGrants.filterNot(g => g._1 == r || g._2 == r)
            }
            checkListings(stmt)
          }
        case 17 => // GRANT role TO user (unknown role/user are named errors)
          val r = pick(rolePool); val u = pick(userPool)
          val kw = if (rnd.nextBoolean()) "ROLE " else ""
          val stmt = s"GRANT $kw$r TO $u"
          val err =
            if (!roles(r)) Some(s"unknown role: $r")
            else if (!users(u)) Some(s"unknown user: $u")
            else None
          run(stmt, err)
          if (err.isEmpty) roleGrants += ((r, u))
          checkListings(stmt)
        case 18 => // REVOKE role FROM user (no-op revoke is not an error)
          val r = pick(rolePool); val u = pick(userPool)
          val kw = if (rnd.nextBoolean()) "ROLE " else ""
          val stmt = s"REVOKE $kw$r FROM $u"
          run(stmt, None)
          roleGrants -= ((r, u))
          checkListings(stmt)
        case _ => // GRANT/REVOKE perm ON /path TO/FROM principal (ACEs)
          val perm = pick(permPool)
          val s = pick(schemaPool); val g = pick(graphPool)
          val path = s"/$s/$g"
          val p = if (rnd.nextBoolean()) pick(userPool) else pick(rolePool)
          if (rnd.nextBoolean()) {
            val stmt = s"GRANT $perm ON $path TO $p"
            val err =
              if (!principals(p)) Some(s"unknown principal: $p") else None
            run(stmt, err)
            if (err.isEmpty) aces += ((perm, path, p))
            checkListings(stmt)
          } else {
            val stmt = s"REVOKE $perm ON $path FROM $p"
            run(stmt, None)
            aces -= ((perm, path, p))
            checkListings(stmt)
          }
      }
      if (i % 10 == 0) probeEnforcement()
    }
  }
}
