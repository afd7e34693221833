package graft.gql

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import java.time.{LocalDateTime, ZoneOffset}

/** Differential fuzz for the temporal registry against a lockstep model
  * transcribed from the reference's chrono semantics
  * (temporal_functions.rs):
  *
  *  - DATE_ADD/DATE_SUB duration units are absolute instant shifts
  *    (chrono::Duration — a DAY is always 86,400 s);
  *  - MONTH steps are one-calendar-month-at-a-time with the `unwrap_or`
  *    keep-on-invalid quirk (with_month returns None when the target
  *    month lacks the day, and the reference keeps the previous value —
  *    Jan 31 + k MONTH stays Jan 31; temporal_functions.rs:770-790);
  *  - YEAR is a single with_year, so Feb 29 -> non-leap keeps the base
  *    (temporal_functions.rs:791-795);
  *  - EXTRACT fields follow chrono: DOW counts from Sunday = 0, WEEK is
  *    the ISO week, QUARTER = (month-1)/3+1, EPOCH = unix seconds of
  *    the instant (temporal_functions.rs:571-592);
  *  - DURATION_NUMERIC truncates the seconds total to a whole i64 and
  *    rejects negatives (parse_numeric_duration, rs:1168-1197).
  *
  * The r14 SUBSTRING/TRIM divergences came from hand line-walks of a
  * 609-line file; temporal_functions.rs + timezone_functions.rs are the
  * largest registry surface and get the same lockstep treatment here.
  */
class TemporalDifferentialFuzzSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkFixture.spark

  private lazy val t = {
    import spark.implicits._
    val g = new graft.graph.PropertyGraph(
      Map("N" -> Seq(1L).toDF("id")), Map.empty)
    graft.GraphLiteSpark.open(spark, tempDir("temporalfuzz").toString)
      .session("u").useGraph(g)
  }

  private val rnd = new scala.util.Random(
    sys.env.getOrElse("GRAFT_TEMPORAL_FUZZ_SEED", "20260815").toLong)

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Random timestamp biased toward calendar traps: month ends, Feb,
    * Dec/Jan boundaries, leap days.
    */
  private def randTs(): LocalDateTime = {
    val y = 1975 + rnd.nextInt(80)
    val m = rnd.nextInt(10) match {
      case 0 | 1 => 2                    // February (leap traps)
      case 2 => 12
      case 3 => 1
      case k => 1 + rnd.nextInt(12)
    }
    val maxD = java.time.YearMonth.of(y, m).lengthOfMonth
    val d = rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 => maxD         // month end
      case 4 => math.min(29, maxD)
      case 5 => math.min(30, maxD)
      case _ => 1 + rnd.nextInt(maxD)
    }
    LocalDateTime.of(y, m, d, rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60))
  }

  // ---- the lockstep model (transcribed from the reference source) ----

  private def modelArith(base: LocalDateTime, n: Long, unit: String,
      subtract: Boolean): LocalDateTime = {
    val k = if (subtract) -n else n
    unit match {
      case "SECOND" => base.plusSeconds(k)
      case "MINUTE" => base.plusSeconds(k * 60)
      case "HOUR" => base.plusSeconds(k * 3600)
      case "DAY" => base.plusSeconds(k * 86400)
      case "WEEK" => base.plusSeconds(k * 604800)
      case "MONTH" =>
        var cur = base
        var i = 0L
        var stuck = false
        while (i < math.abs(k) && !stuck) {
          val (ny, nm) =
            if (k > 0) { if (cur.getMonthValue == 12) (cur.getYear + 1, 1)
                         else (cur.getYear, cur.getMonthValue + 1) }
            else { if (cur.getMonthValue == 1) (cur.getYear - 1, 12)
                   else (cur.getYear, cur.getMonthValue - 1) }
          if (cur.getDayOfMonth <=
              java.time.YearMonth.of(ny, nm).lengthOfMonth)
            cur = LocalDateTime.of(ny, nm, cur.getDayOfMonth,
              cur.getHour, cur.getMinute, cur.getSecond)
          else stuck = true
          i += 1
        }
        cur
      case "YEAR" =>
        val ny = base.getYear + k.toInt
        if (base.getMonthValue == 2 && base.getDayOfMonth == 29 &&
            !java.time.Year.isLeap(ny.toLong)) base
        else base.withYear(ny)
    }
  }

  private def modelExtract(ts: LocalDateTime, field: String): Long =
    field match {
      case "YEAR" => ts.getYear.toLong
      case "MONTH" => ts.getMonthValue.toLong
      case "DAY" => ts.getDayOfMonth.toLong
      case "HOUR" => ts.getHour.toLong
      case "MINUTE" => ts.getMinute.toLong
      case "SECOND" => ts.getSecond.toLong
      case "DOW" => ts.getDayOfWeek.getValue % 7L  // Sunday = 0
      case "DOY" => ts.getDayOfYear.toLong
      case "WEEK" => ts.get(java.time.temporal.WeekFields.ISO
        .weekOfWeekBasedYear).toLong
      case "QUARTER" => ((ts.getMonthValue - 1) / 3 + 1).toLong
      case "EPOCH" => ts.toEpochSecond(ZoneOffset.UTC)
    }

  /** Evaluate a batch of GQL scalar expressions in one RETURN. */
  private def evalBatch(exprs: Seq[String]): Seq[Any] = {
    val cols = exprs.zipWithIndex
      .map { case (e, i) => s"$e AS c$i" }.mkString(", ")
    val row = t.gql(s"MATCH (n:N) RETURN $cols").collect().head
    exprs.indices.map(row.get)
  }

  private def gqlTs(ldt: LocalDateTime): String =
    s"DATETIME('${fmt.format(ldt)}')"

  private def instantOf(a: Any): Long = a match {
    case ts: java.sql.Timestamp => ts.getTime
    case other => fail(s"expected timestamp, got $other").asInstanceOf[Long]
  }

  test("DATE_ADD/DATE_SUB duration units are absolute instant shifts") {
    val units = Seq("SECOND", "MINUTE", "HOUR", "DAY", "WEEK")
    val cases = Seq.fill(120) {
      (randTs(), rnd.nextInt(20001) - 10000L,
        units(rnd.nextInt(units.size)), rnd.nextBoolean())
    }
    cases.grouped(24).foreach { batch =>
      val got = evalBatch(batch.map { case (ts, n, u, sub) =>
        s"${if (sub) "DATE_SUB" else "DATE_ADD"}(${gqlTs(ts)}, $n, '$u')" })
      batch.zip(got).foreach { case ((ts, n, u, sub), g) =>
        val want = modelArith(ts, n, u, sub)
        assert(instantOf(g) == want.toEpochSecond(ZoneOffset.UTC) * 1000L,
          s"$ts ${if (sub) "-" else "+"} $n $u")
      }
    }
  }

  test("DATE_ADD/DATE_SUB MONTH keeps the value when the target month " +
      "lacks the day (reference unwrap_or quirk)") {
    val cases = Seq.fill(120) {
      (randTs(), rnd.nextInt(81) - 40L, rnd.nextBoolean())
    } ++ Seq( // pinned trap cases from the reference's own arms
      (LocalDateTime.of(2024, 1, 31, 12, 0, 0), 1L, false),
      (LocalDateTime.of(2024, 1, 31, 12, 0, 0), 5L, false),
      (LocalDateTime.of(2024, 3, 31, 12, 0, 0), 1L, true),
      (LocalDateTime.of(2024, 2, 29, 12, 0, 0), 12L, false),
      (LocalDateTime.of(2023, 12, 31, 23, 59, 59), 2L, false),
      (LocalDateTime.of(2024, 4, 30, 0, 0, 0), -2L, false))
    cases.grouped(21).foreach { batch =>
      val got = evalBatch(batch.map { case (ts, n, sub) =>
        s"${if (sub) "DATE_SUB" else "DATE_ADD"}(${gqlTs(ts)}, $n, 'MONTH')" })
      batch.zip(got).foreach { case ((ts, n, sub), g) =>
        val want = modelArith(ts, n, "MONTH", sub)
        assert(instantOf(g) == want.toEpochSecond(ZoneOffset.UTC) * 1000L,
          s"$ts ${if (sub) "-" else "+"} $n MONTH (want $want)")
      }
    }
  }

  test("DATE_ADD/DATE_SUB YEAR no-ops on Feb 29 -> non-leap targets") {
    val cases = Seq.fill(60) {
      val base = if (rnd.nextInt(3) == 0)
        LocalDateTime.of(1976 + 4 * rnd.nextInt(20), 2, 29,
          rnd.nextInt(24), 0, 0)
      else randTs()
      (base, rnd.nextInt(21) - 10L, rnd.nextBoolean())
    }
    cases.grouped(20).foreach { batch =>
      val got = evalBatch(batch.map { case (ts, n, sub) =>
        s"${if (sub) "DATE_SUB" else "DATE_ADD"}(${gqlTs(ts)}, $n, 'YEAR')" })
      batch.zip(got).foreach { case ((ts, n, sub), g) =>
        val want = modelArith(ts, n, "YEAR", sub)
        assert(instantOf(g) == want.toEpochSecond(ZoneOffset.UTC) * 1000L,
          s"$ts ${if (sub) "-" else "+"} $n YEAR (want $want)")
      }
    }
  }

  test("EXTRACT fields match chrono component semantics") {
    val fields = Seq("YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND",
      "DOW", "DOY", "WEEK", "QUARTER", "EPOCH")
    val cases = Seq.fill(150) {
      (randTs(), fields(rnd.nextInt(fields.size)))
    } ++ Seq( // ISO-week and DOW edges: year boundaries, a known Sunday
      (LocalDateTime.of(2024, 12, 30, 0, 0, 0), "WEEK"),  // ISO week 1 of 2025
      (LocalDateTime.of(2027, 1, 1, 0, 0, 0), "WEEK"),    // ISO week 53 of 2026
      (LocalDateTime.of(2024, 3, 10, 12, 0, 0), "DOW"),   // a Sunday -> 0
      (LocalDateTime.of(2024, 3, 11, 12, 0, 0), "DOW"),   // a Monday -> 1
      (LocalDateTime.of(2024, 12, 31, 0, 0, 0), "DOY"))   // leap 366
    cases.grouped(25).foreach { batch =>
      val got = evalBatch(batch.map { case (ts, f) =>
        s"EXTRACT($f, ${gqlTs(ts)})" })
      batch.zip(got).foreach { case ((ts, f), g) =>
        assert(g == modelExtract(ts, f), s"EXTRACT($f, $ts)")
      }
    }
  }

  test("DURATION_NUMERIC truncates to whole seconds, knows MONTH/YEAR, " +
      "rejects negatives") {
    val units = Seq("SECONDS" -> 1L, "MINUTES" -> 60L, "HOURS" -> 3600L,
      "DAYS" -> 86400L, "WEEKS" -> 604800L, "MONTHS" -> 2592000L,
      "YEARS" -> 31536000L)
    val cases = Seq.fill(60) {
      val (u, mult) = units(rnd.nextInt(units.size))
      val v = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(1000).toDouble
        case _ => rnd.nextDouble() * 500
      }
      (v, u, mult)
    }
    cases.grouped(20).foreach { batch =>
      val got = evalBatch(batch.map { case (v, u, _) =>
        s"DURATION_NUMERIC($v, '$u')" })
      batch.zip(got).foreach { case ((v, u, mult), g) =>
        assert(g == (v * mult).toLong.toDouble, s"DURATION_NUMERIC($v, $u)")
      }
    }
    val err = intercept[Exception] {
      evalBatch(Seq("DURATION_NUMERIC(-5, 'SECONDS')"))
    }
    assert(err.getMessage.contains("Duration cannot be negative") ||
      Option(err.getCause).exists(
        _.getMessage.contains("Duration cannot be negative")))
  }

  test("zoned DATE_ADD steps the LOCAL calendar and keeps the zone " +
      "(add_duration_dst_aware month/year arms)") {
    val zone = "America/New_York"
    val zid = java.time.ZoneId.of(zone)
    // wall-clock hours 5-20 keep both the base and the stepped local
    // time away from the 1-3 AM DST window, so the local-calendar
    // comparison is resolver-independent
    val cases = Seq.fill(60) {
      val ts = randTs()
      val safe = LocalDateTime.of(ts.getYear, ts.getMonthValue,
        ts.getDayOfMonth, 5 + rnd.nextInt(16), ts.getMinute, ts.getSecond)
      (safe, rnd.nextInt(49) - 24L)
    }
    cases.grouped(20).foreach { batch =>
      val got = evalBatch(batch.map { case (utc, n) =>
        s"LOCAL_DATETIME(DATE_ADD(AT_TIME_ZONE(${gqlTs(utc)}, '$zone'), " +
          s"$n, 'MONTH'))" })
      batch.zip(got).foreach { case ((utc, n), g) =>
        // model: render the UTC instant in the zone, step the LOCAL
        // calendar with the sticky month rule, compare wall clocks
        val local = utc.atZone(ZoneOffset.UTC)
          .withZoneSameInstant(zid).toLocalDateTime
        val want = modelArith(local, n, "MONTH", subtract = false)
        // render via UTC explicitly — Timestamp.toLocalDateTime uses the
        // JVM default zone, which this assertion must not depend on
        val gotLocal = g.asInstanceOf[java.sql.Timestamp]
          .toInstant.atOffset(ZoneOffset.UTC).toLocalDateTime
        assert(gotLocal == want, s"$utc UTC + $n MONTH in $zone")
      }
    }
  }

  test("naive DATE_ADD duration units stay absolute instant shifts in " +
      "a non-UTC session (chrono Duration, even across DST)") {
    val tNy = {
      import spark.implicits._
      val g = new graft.graph.PropertyGraph(
        Map("N" -> Seq(1L).toDF("id")), Map.empty)
      val s = graft.GraphLiteSpark.open(spark, tempDir("temporalfuzz-ny").toString)
        .session("u").useGraph(g)
      s.execute("SESSION SET TIME ZONE 'America/New_York'")
      s
    }
    def evalNy(exprs: Seq[String]): Seq[Any] = {
      val cols = exprs.zipWithIndex
        .map { case (e, i) => s"$e AS c$i" }.mkString(", ")
      val row = tNy.gql(s"MATCH (n:N) RETURN $cols").collect().head
      exprs.indices.map(row.get)
    }
    // bases bracketing the 2024 New York transitions (spring forward
    // Mar 10 07:00 UTC, fall back Nov 3 06:00 UTC) plus random draws —
    // a wall-clock-preserving round-trip would make the +1 DAY crossing
    // 23 or 25 wall hours and shift the instant by ±1 h
    val units = Seq("SECOND", "MINUTE", "HOUR", "DAY", "WEEK")
    val cases = Seq(
      (LocalDateTime.of(2024, 3, 9, 12, 0, 0), 1L, "DAY", false),
      (LocalDateTime.of(2024, 3, 9, 12, 0, 0), 1L, "WEEK", false),
      (LocalDateTime.of(2024, 11, 2, 12, 0, 0), 1L, "DAY", false),
      (LocalDateTime.of(2024, 3, 11, 12, 0, 0), 1L, "DAY", true),
      (LocalDateTime.of(2024, 11, 4, 12, 0, 0), 2L, "DAY", true),
      (LocalDateTime.of(2024, 3, 10, 6, 30, 0), 60L, "MINUTE", false)) ++
      Seq.fill(40) {
        (randTs(), rnd.nextInt(20001) - 10000L,
          units(rnd.nextInt(units.size)), rnd.nextBoolean())
      }
    cases.grouped(23).foreach { batch =>
      val got = evalNy(batch.map { case (ts, n, u, sub) =>
        s"${if (sub) "DATE_SUB" else "DATE_ADD"}(${gqlTs(ts)}, $n, '$u')" })
      batch.zip(got).foreach { case ((ts, n, u, sub), g) =>
        val want = modelArith(ts, n, u, sub)
        assert(instantOf(g) == want.toEpochSecond(ZoneOffset.UTC) * 1000L,
          s"[NY session] $ts ${if (sub) "-" else "+"} $n $u")
      }
    }
    // calendar units DO run in the session zone (the repo's session-
    // local component convention). Pick a base where the zone offset
    // CHANGES across the step so the round-trip doesn't cancel:
    // Feb 15 01:00 UTC = Feb 14 20:00 EST (-5); +1 MONTH = Mar 14
    // 20:00, by then EDT (-4) = Mar 15 00:00 UTC — one hour EARLIER
    // than the UTC-calendar step would land
    val got = evalNy(Seq(
      s"DATE_ADD(${gqlTs(LocalDateTime.of(2024, 2, 15, 1, 0, 0))}, 1, 'MONTH')"))
    assert(instantOf(got.head) == LocalDateTime.of(2024, 3, 15, 0, 0, 0)
      .toEpochSecond(ZoneOffset.UTC) * 1000L)
  }

  test("timezone offsets across DST boundaries (AT_TIME_ZONE + " +
      "EXTRACT_TIMEZONE vs java.time zone rules)") {
    // America/New_York 2024: spring-forward Mar 10 07:00 UTC,
    // fall-back Nov 3 06:00 UTC; Asia/Kolkata is a half-hour zone;
    // Australia/Lord_Howe has a 30-minute DST shift
    val zones = Seq("America/New_York", "Europe/Paris", "Asia/Kolkata",
      "Australia/Lord_Howe", "UTC")
    val instants = Seq(
      LocalDateTime.of(2024, 3, 10, 6, 59, 0),
      LocalDateTime.of(2024, 3, 10, 7, 0, 0),
      LocalDateTime.of(2024, 11, 3, 5, 59, 0),
      LocalDateTime.of(2024, 11, 3, 6, 0, 0),
      LocalDateTime.of(2024, 10, 6, 1, 59, 0),
      LocalDateTime.of(2024, 10, 6, 2, 0, 0),
      LocalDateTime.of(2024, 7, 1, 12, 0, 0),
      LocalDateTime.of(2024, 1, 15, 12, 0, 0)) ++ Seq.fill(12)(randTs())
    val cases = for (z <- zones; i <- instants) yield (z, i)
    cases.grouped(20).foreach { batch =>
      val got = evalBatch(batch.map { case (z, ts) =>
        s"EXTRACT_TIMEZONE('TIMEZONE_HOUR', AT_TIME_ZONE(${gqlTs(ts)}, '$z'))" })
      batch.zip(got).foreach { case ((z, ts), g) =>
        val off = java.time.ZoneId.of(z).getRules
          .getOffset(ts.toInstant(ZoneOffset.UTC)).getTotalSeconds
        assert(g == off / 3600.0, s"offset of $z at $ts UTC")
      }
    }
  }
}
