package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, Path}
import graft.{SparkFixture, TempDirs}

/** Crash-atomicity of the graph-save commit (VERDICT r16 #1).
  *
  * [[GraphCatalog.saveGraph]] writes each version into a new directory
  * `<graph>/v<id>/` and commits it with ONE atomic write of the
  * `<graph>/_current` pointer (a `.tmp_` sibling renamed over it). A new
  * catalog over the warehouse deletes what the pointer does not name.
  * Each test constructs the exact on-disk aftermath of a kill at one
  * point of the protocol (the PipelineSpec crash-simulation idiom — the
  * state a SIGKILL leaves is just files, so we build it directly) and
  * asserts the next catalog open recovers a complete graph: the NEW
  * version once the pointer names it, the OLD version otherwise, with
  * every other version gone. The reference covers this class of crash
  * with WAL recovery (graphlite/src/txn/recovery.rs); this is the
  * immutable-version analog.
  */
class SaveCrashRecoverySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private def mkGraph(n: Int) = {
    import spark.implicits._
    val nodes = (1L to n.toLong).map(i => (i, s"name$i")).toDF("id", "nm")
    new PropertyGraph(Map("user" -> nodes), Map.empty)
  }

  private def fixture(name: String = "g1"): (GraphCatalog, String) = {
    val wh = tempDir("crash").toString
    val cat = new GraphCatalog(spark, wh)
    cat.createSchema("s")
    cat.saveGraph("s", name, mkGraph(5)) // current v1: 5 rows
    (cat, wh)
  }

  private def entries(p: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(p)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def current(wh: String, name: String = "g1"): Path =
    Paths.get(GraphCatalog.versionDir(wh, "s", name).get)

  /** Build a COMPLETE version of `name` holding `rows` rows that no
    * pointer names (the state just before the commit): save it under a
    * scratch graph and move its version directory over, numbered above
    * every version already there.
    */
  private def plantVersion(cat: GraphCatalog, wh: String, name: String,
      rows: Int): Path = {
    cat.saveGraph("s", "scratch", mkGraph(rows))
    val g = Files.createDirectories(Paths.get(s"$wh/s/$name"))
    val planted = Files.move(current(wh, "scratch"),
      g.resolve(s"v${entries(g).count(_.startsWith("v")) + 1}"))
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(s"$wh/s/scratch").toFile)
    planted
  }

  private def rowCount(wh: String, name: String): Long = {
    val cat2 = new GraphCatalog(spark, wh) // open = recovery point
    cat2.loadGraph("s", name).nodeTables("user").count()
  }

  test("a reopen keeps only the pointer and its version") {
    val (cat, wh) = fixture()
    val v1 = current(wh)
    cat.saveGraph("s", "g1", mkGraph(9))
    // the superseded version stays readable until the next open
    assert(Files.exists(v1))
    assert(entries(Paths.get(s"$wh/s")) == Seq("g1"))
    assert(rowCount(wh, "g1") == 9L)
    assert(entries(Paths.get(s"$wh/s/g1")) ==
      Seq(GraphCatalog.Current, current(wh).getFileName.toString).sorted)
  }

  test("killed version write: v1 current, version swept") {
    val (_, wh) = fixture()
    // aftermath: a partial version — dataset dir present, no pointer to it
    val partial = Paths.get(s"$wh/s/g1/vpartial")
    Files.createDirectories(partial.resolve("nodes_user"))
    Files.writeString(partial.resolve("nodes_user/part-0.parquet"), "junk")
    assert(rowCount(wh, "g1") == 5L) // v1 survives
    assert(!Files.exists(partial), "an unnamed version must be deleted")
  }

  test("torn .tmp_ pointer: v1 current, temp swept") {
    val (cat, wh) = fixture()
    val v2 = plantVersion(cat, wh, "g1", 9)
    // aftermath of a kill inside the pointer write: the temp sibling
    // holds part of v2's name and was never renamed over `_current`
    val tmp = Paths.get(s"$wh/s/g1/.tmp_${GraphCatalog.Current}_777")
    Files.writeString(tmp, v2.getFileName.toString.take(1))
    assert(rowCount(wh, "g1") == 5L)
    assert(!Files.exists(tmp) && !Files.exists(v2))
  }

  test("version written, not pointed to: v1 current") {
    val (cat, wh) = fixture()
    val v2 = plantVersion(cat, wh, "g1", 9)
    assert(rowCount(wh, "g1") == 5L)
    assert(!Files.exists(v2))
  }

  test("pointer written: v2 current, v1 swept at open") {
    val (cat, wh) = fixture()
    val v1 = current(wh)
    val v2 = plantVersion(cat, wh, "g1", 9)
    // aftermath of a kill right after the rename: v1 was never deleted
    Files.writeString(Paths.get(s"$wh/s/g1/${GraphCatalog.Current}"),
      v2.getFileName.toString)
    assert(rowCount(wh, "g1") == 9L)
    assert(Files.exists(v2) && !Files.exists(v1))
  }

  test("uncommitted first save leaves no graph") {
    val (cat, wh) = fixture()
    // a first save of g_2 killed before its pointer: a version, no pointer
    plantVersion(cat, wh, "g_2", 9)
    val cat2 = new GraphCatalog(spark, wh)
    assert(cat2.listGraphs("s") == Seq("g1"))
    assert(!Files.exists(Paths.get(s"$wh/s/g_2")))
  }

  test("the pointer, not recency, picks the version") {
    val (cat, wh) = fixture()
    val v1 = current(wh)
    val newer = Seq(7, 9).map(plantVersion(cat, wh, "g1", _))
    assert(rowCount(wh, "g1") == 5L)
    assert(Files.exists(v1) && newer.forall(!Files.exists(_)))
  }

  // ---- metadata torn-write protection: catalog files (`_indexes`,
  // `_security`, procedure/graph-type defs) write through a same-dir
  // `.tmp_` sibling + atomic rename, so a kill mid-write never truncates
  // the live file; stale temps are swept at open.

  test("kill mid-metadata-write: live _indexes/_security intact, " +
      ".tmp_ leftovers swept at open") {
    val (cat, wh) = fixture()
    cat.createIndex("ix1", "nodes_user", Seq("id"))
    cat.createPrincipal("user", "alice")
    // aftermath of a kill mid-writeAtomic: a half-written temp beside
    // each live file (the live file itself was never opened)
    Files.writeString(Paths.get(s"$wh/.tmp__indexes_777"), "ix-half\tnod")
    Files.writeString(Paths.get(s"$wh/.tmp__security_777"), "user\tmal")
    Files.createDirectories(Paths.get(s"$wh/_procedures"))
    Files.writeString(Paths.get(s"$wh/_procedures/.tmp_p.gql_777"), "RET")
    val cat2 = new GraphCatalog(spark, wh) // open = sweep point
    assert(cat2.listIndexes().map(_._1) == Seq("ix1"))
    assert(cat2.listPrincipals("user").contains("alice"))
    assert(!Files.exists(Paths.get(s"$wh/.tmp__indexes_777")))
    assert(!Files.exists(Paths.get(s"$wh/.tmp__security_777")))
    assert(!Files.exists(Paths.get(s"$wh/_procedures/.tmp_p.gql_777")))
    // and the temp names never leak into listings even BEFORE a sweep
    assert(!cat2.listSchemas().exists(_.startsWith(".")))
  }

  test("metadata writes leave no temp files behind and replace " +
      "atomically-in-place") {
    val (cat, wh) = fixture()
    cat.createIndex("ixa", "nodes_user", Seq("id"))
    cat.createIndex("ixb", "nodes_user", Seq("nm"))
    cat.setIndexOption("ixa", "buckets", "4")
    cat.createPrincipal("user", "bob", Some("pw"))
    cat.saveProcedure("p1", "RETURN 1 AS x")
    cat.saveGraphType(graft.graph.GraphType.GraphTypeDef("t1",
      Seq(graft.graph.GraphType.NodeTypeDef("user",
        Seq(graft.graph.GraphType.PropDef("id", "INT", required = true)))),
      Seq.empty))
    import scala.jdk.CollectionConverters._
    def temps(p: Path): Seq[String] = {
      val s = Files.list(p)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".tmp_")).toSeq
      finally s.close()
    }
    assert(temps(Paths.get(wh)).isEmpty)
    assert(temps(Paths.get(s"$wh/_procedures")).isEmpty)
    assert(temps(Paths.get(s"$wh/_graph_types")).isEmpty)
    // replacement really replaced: both indexes visible after two writes
    assert(cat.listIndexes().map(_._1).sorted == Seq("ixa", "ixb"))
    assert(cat.listIndexOptions("ixa").contains(("buckets", "4")))
    assert(cat.loadProcedure("p1").contains("RETURN 1 AS x"))
  }
}
