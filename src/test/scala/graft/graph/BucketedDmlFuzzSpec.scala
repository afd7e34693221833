package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Differential fuzz for the BUCKET-SCOPED incremental save: random DML
  * statements against a label persisted under a bucketed clustered
  * index, with a `saveGraphAs` + FRESH-session reload after EVERY
  * statement — so each assertion reads the persisted bytes the
  * bucket-scoped writer produced (touched keys → range buckets,
  * untouched buckets hard-linked), never the session's copy-on-write
  * frames. The in-memory model is the DmlDifferentialFuzzSpec
  * convention.
  *
  * The index rides on the MUTATED column `s`, so SETs move rows between
  * buckets (source+target rewrite), REMOVE drives keys to NULL (the
  * last bucket), DELETE shrinks buckets, and INSERT lands new keys —
  * every arm of the touched-bucket computation exercises under
  * composition. Statement count via GRAFT_BUCKET_FUZZ_N, seed via
  * GRAFT_BUCKET_FUZZ_SEED.
  */
class BucketedDmlFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private val nStatements =
    sys.env.getOrElse("GRAFT_BUCKET_FUZZ_N", "12").toInt

  test(s"$nStatements random DML statements, each followed by a " +
      "bucket-scoped save + fresh reload, stay in lockstep with the model") {
    val wh = tempDir("bucketfuzz").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val t = gls.session("u")
    t.execute("CREATE GRAPH /main/bfz")
    t.execute("SESSION SET GRAPH /main/bfz")

    val rnd = new scala.util.Random(
      sys.env.getOrElse("GRAFT_BUCKET_FUZZ_SEED", "20260815").toLong)
    val names = Array("x", "y", "z")

    // model: id -> (s: Option[Long], name: String)
    var m = (1 to 40).map { i =>
      i.toLong -> (Some((i * 37 % 100).toLong): Option[Long], names(i % 3))
    }.toMap
    m.toSeq.sortBy(_._1).foreach { case (id, (s, n)) =>
      t.execute(s"INSERT (:L {id: $id, s: ${s.get}, name: '$n'})")
    }
    t.execute("CREATE GRAPH INDEX bfz_s ON nodes_L (s)")
    t.execute("ALTER INDEX bfz_s SET OPTION buckets = 4")
    t.saveGraphAs("/main/bfz", force = true) // bucketed layout on disk
    var nextId = 100L

    def bucketDirs(): Seq[String] =
      new java.io.File(s"${GraphCatalog.versionDir(wh, "main", "bfz").get}/nodes_L").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__ixb="))
        .map(_.getName).toSeq.sorted

    def verify(stmt: String): Unit = {
      // FRESH session + reload: the assertion must read the persisted
      // bytes, not this session's lineage over the replaced directory
      val v = gls.session("verify").useGraph("/main/bfz")
      val got = v.gql("MATCH (n:L) RETURN n.id AS id, n.s AS s, " +
        "n.name AS name ORDER BY id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getString(2))).toSeq
      val want = m.toSeq.sortBy(_._1).map { case (id, (s, n)) => (id, s, n) }
      assert(got == want, s"persisted state diverged after: $stmt\n" +
        s"engine: $got\nmodel:  $want")
      assert(bucketDirs().nonEmpty,
        s"layout must stay bucketed after: $stmt")
    }

    (0 until nStatements).foreach { _ =>
      val k = rnd.nextInt(100).toLong
      val stmt = rnd.nextInt(5) match {
        case 0 => // SET on the INDEX KEY: moves rows between buckets
          val lo = rnd.nextInt(90).toLong
          val s0 = s"MATCH (n:L) WHERE n.s > $lo AND n.s <= ${lo + 12} " +
            s"SET n.s = $k"
          t.execute(s0)
          m = m.map { case (id, (s, n)) =>
            id -> (if (s.exists(v => v > lo && v <= lo + 12)) (Some(k), n)
                   else (s, n))
          }
          s0
        case 1 => // REMOVE the key: rows move to the NULL (last) bucket
          val nm = names(rnd.nextInt(3))
          val s0 = s"MATCH (n:L {name: '$nm'}) WHERE n.s > 80 REMOVE n.s"
          t.execute(s0)
          m = m.map { case (id, (s, n)) =>
            id -> (if (n == nm && s.exists(_ > 80)) (None, n) else (s, n))
          }
          s0
        case 2 => // DELETE a sparse id slice
          val id0 = (1 + rnd.nextInt(40)).toLong
          val s0 = s"MATCH (n:L) WHERE n.id >= $id0 AND n.id < ${id0 + 2} " +
            "DETACH DELETE n"
          t.execute(s0)
          m = m.filter { case (id, _) => id < id0 || id >= id0 + 2 }
          s0
        case 3 => // INSERT new rows (same schema — stays bucket-scoped)
          val id = nextId; nextId += 1
          val nm = names(rnd.nextInt(3))
          val s0 = s"INSERT (:L {id: $id, s: $k, name: '$nm'})"
          t.execute(s0)
          m += id -> (Some(k), nm)
          s0
        case _ => // SET a NON-key prop: buckets touched but keys unmoved
          val lo = rnd.nextInt(90).toLong
          val nm = names(rnd.nextInt(3))
          val s0 = s"MATCH (n:L) WHERE n.s > $lo SET n.name = '$nm'"
          t.execute(s0)
          m = m.map { case (id, (s, n)) =>
            id -> (if (s.exists(_ > lo)) (s, nm) else (s, n))
          }
          s0
      }
      // incremental save: the bucket-scoped path (saveGraphAs rebinds
      // this session to the persisted snapshot, so `t` keeps working)
      t.saveGraphAs("/main/bfz")
      verify(stmt)
    }
  }

  test(s"STRING-keyed bucketed layout: $nStatements random DML " +
      "statements, each with a bucket-scoped save + fresh reload, stay " +
      "in lockstep with the model (string lead keys are the reference's " +
      "native id shape — VERDICT r16 #2)") {
    val wh = tempDir("bucketfuzz-s").toString
    val gls = graft.GraphLiteSpark.open(spark, wh)
    val t = gls.session("u")
    t.execute("CREATE GRAPH /main/sfz")
    t.execute("SESSION SET GRAPH /main/sfz")

    val rnd = new scala.util.Random(
      sys.env.getOrElse("GRAFT_BUCKET_FUZZ_SEED", "20260815").toLong + 1)
    val words = Array("apple", "brie", "cedar", "delta", "ember", "fjord",
      "gamma", "heron", "iris", "jade", "kiwi", "lotus", "maple", "nova",
      "oak", "pine", "quartz", "rowan", "sage", "tulip")
    val names = Array("x", "y", "z")

    // model: id -> (tag: Option[String], name) — the INDEX KEY is the
    // mutable STRING column `tag`, so SETs move rows between string
    // range buckets, REMOVE drives them to the NULL (last) bucket
    var m = (1 to 40).map { i =>
      i.toLong -> (Some(words(i % words.length)): Option[String], names(i % 3))
    }.toMap
    m.toSeq.sortBy(_._1).foreach { case (id, (tag, n)) =>
      t.execute(s"INSERT (:S {id: $id, tag: '${tag.get}', name: '$n'})")
    }
    t.execute("CREATE GRAPH INDEX sfz_tag ON nodes_S (tag)")
    t.execute("ALTER INDEX sfz_tag SET OPTION buckets = 4")
    t.saveGraphAs("/main/sfz", force = true) // string-bucketed layout
    var nextId = 100L

    def bucketDirs(): Seq[String] =
      new java.io.File(s"${GraphCatalog.versionDir(wh, "main", "sfz").get}/nodes_S").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__ixb="))
        .map(_.getName).toSeq.sorted

    def verify(stmt: String): Unit = {
      val v = gls.session("verify").useGraph("/main/sfz")
      val got = v.gql("MATCH (n:S) RETURN n.id AS id, n.tag AS tag, " +
        "n.name AS name ORDER BY id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getString(1)),
          r.getString(2))).toSeq
      val want = m.toSeq.sortBy(_._1).map { case (id, (s, n)) => (id, s, n) }
      assert(got == want, s"persisted state diverged after: $stmt\n" +
        s"engine: $got\nmodel:  $want")
      assert(bucketDirs().nonEmpty,
        s"layout must stay bucketed after: $stmt")
    }

    (0 until nStatements).foreach { _ =>
      val w = words(rnd.nextInt(words.length))
      val stmt = rnd.nextInt(5) match {
        case 0 => // SET the string key: moves rows between range buckets
          val lo = words(rnd.nextInt(words.length))
          val s0 = s"MATCH (n:S) WHERE n.tag >= '$lo' AND n.tag <= '${lo}zz' " +
            s"SET n.tag = '$w'"
          t.execute(s0)
          m = m.map { case (id, (tag, n)) =>
            id -> (if (tag.exists(v => v >= lo && v <= s"${lo}zz")) (Some(w), n)
                   else (tag, n))
          }
          s0
        case 1 => // REMOVE the key: rows move to the NULL (last) bucket
          val nm = names(rnd.nextInt(3))
          val s0 = s"MATCH (n:S {name: '$nm'}) WHERE n.tag >= 'p' REMOVE n.tag"
          t.execute(s0)
          m = m.map { case (id, (tag, n)) =>
            id -> (if (n == nm && tag.exists(_ >= "p")) (None, n) else (tag, n))
          }
          s0
        case 2 => // DELETE a sparse id slice
          val id0 = (1 + rnd.nextInt(40)).toLong
          val s0 = s"MATCH (n:S) WHERE n.id >= $id0 AND n.id < ${id0 + 2} " +
            "DETACH DELETE n"
          t.execute(s0)
          m = m.filter { case (id, _) => id < id0 || id >= id0 + 2 }
          s0
        case 3 => // INSERT new rows (same schema — stays bucket-scoped)
          val id = nextId; nextId += 1
          val nm = names(rnd.nextInt(3))
          val s0 = s"INSERT (:S {id: $id, tag: '$w', name: '$nm'})"
          t.execute(s0)
          m += id -> (Some(w), nm)
          s0
        case _ => // SET a NON-key prop: buckets touched but keys unmoved
          val lo = words(rnd.nextInt(words.length))
          val nm = names(rnd.nextInt(3))
          val s0 = s"MATCH (n:S) WHERE n.tag >= '$lo' SET n.name = '$nm'"
          t.execute(s0)
          m = m.map { case (id, (tag, n)) =>
            id -> (if (tag.exists(_ >= lo)) (tag, nm) else (tag, n))
          }
          s0
      }
      t.saveGraphAs("/main/sfz")
      verify(stmt)
    }
  }
}
