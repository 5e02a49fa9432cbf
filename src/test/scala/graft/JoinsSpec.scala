package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Joins

class JoinsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val quotes = Seq(
    // key, ts, px
    ("A", ts("2024-01-01 10:00:00"), 100.0),
    ("A", ts("2024-01-01 10:05:00"), 101.0),
    ("A", ts("2024-01-01 10:10:00"), 102.0),
    ("B", ts("2024-01-01 10:01:00"), 50.0))
    .toDF("sym", "qts", "px")

  private val trades = Seq(
    ("A", ts("2024-01-01 09:59:00"), 1L), // before any quote → null
    ("A", ts("2024-01-01 10:05:00"), 2L), // equal ts → matches 101 (inclusive)
    ("A", ts("2024-01-01 10:07:30"), 3L), // between → 101
    ("A", ts("2024-01-01 11:00:00"), 4L), // after last → 102
    ("B", ts("2024-01-01 10:02:00"), 5L), // other key → 50
    ("C", ts("2024-01-01 10:02:00"), 6L)) // key with no quotes → null
    .toDF("sym", "tts", "trade_id")

  test("asOf attaches the latest right row at-or-before each left ts") {
    val out = Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts",
        Seq("px", "qts"))
      .collect()
      .map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[java.lang.Double]("asof_px")).map(_.doubleValue))
      .toMap
    assert(out(1L).isEmpty)
    assert(out(2L).contains(101.0))
    assert(out(3L).contains(101.0))
    assert(out(4L).contains(102.0))
    assert(out(5L).contains(50.0))
    assert(out(6L).isEmpty)
  }

  test("asOf preserves every left row and all left columns") {
    val out = Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts", Seq("px"))
    assert(out.count() == trades.count())
    assert(out.columns.toSeq == Seq("sym", "tts", "trade_id", "asof_px"))
  }

  test("asOf and rangeJoin never plan nested-loop joins") {
    // the whole point of both compositions: a naive inequality join plans
    // as BroadcastNestedLoop/Cartesian, which dies at scale
    val asofPlan = Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts",
      Seq("px")).queryExecution.executedPlan.toString
    assert(!asofPlan.contains("NestedLoop") && !asofPlan.contains("Cartesian"),
      s"as-of must not nested-loop:\n$asofPlan")
    assert(asofPlan.contains("Window"), "as-of runs on one sorted window")
    val intervals = Seq(("u1", 0L, 100L, "w1")).toDF("k", "lo", "hi", "win")
    val points = Seq(("u1", 25L, "p1")).toDF("k", "at", "pt")
    val rangePlan = Joins.rangeJoin(points, intervals, Seq("k"), "at", "lo",
      "hi", binWidth = 64).queryExecution.executedPlan.toString
    assert(!rangePlan.contains("NestedLoop") &&
      !rangePlan.contains("Cartesian"),
      s"range join must stay an equi-join:\n$rangePlan")
  }

  test("asOf matches the brute-force definition on a generated stream") {
    val left = spark.range(0, 300).select(
      (col("id") % 7).as("k"), col("id").as("lts"), col("id").as("lid"))
    val right = spark.range(0, 300, 3).select(
      (col("id") % 5).as("k"), col("id").as("rts"), (col("id") * 10).as("rv"))
    val got = Joins.asOf(left, right, Seq("k"), "lts", "rts", Seq("rv"))
      .select("lid", "asof_rv")
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Long]("asof_rv")).map(_.longValue)).toMap
    // brute force: per left row, max rts <= lts for same key
    val rRows = right.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lRows = left.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    lRows.foreach { case (k, lts, lid) =>
      val expect = rRows.filter(t => t._1 == k && t._2 <= lts)
        .sortBy(_._2).lastOption.map(_._3)
      assert(got(lid) == expect, s"lid=$lid k=$k lts=$lts")
    }
  }

  test("asOf forward and nearest match the brute force; backward " +
      "direction equals the default form") {
    val left = spark.range(0, 300).select(
      (col("id") % 7).as("k"), col("id").as("lts"), col("id").as("lid"))
    val right = spark.range(0, 300, 3).select(
      (col("id") % 5).as("k"), col("id").as("rts"), (col("id") * 10).as("rv"))
    def run(direction: String) =
      Joins.asOf(left, right, Seq("k"), "lts", "rts", Seq("rv"),
          prefix = "asof_", direction = direction)
        .select("lid", "asof_rv")
        .collect().map(r => r.getLong(0) ->
          Option(r.getAs[java.lang.Long]("asof_rv")).map(_.longValue)).toMap
    val rRows = right.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lRows = left.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val fwd = run("forward")
    val near = run("nearest")
    lRows.foreach { case (k, lts, lid) =>
      val before = rRows.filter(t => t._1 == k && t._2 <= lts)
        .sortBy(_._2).lastOption
      val after = rRows.filter(t => t._1 == k && t._2 >= lts)
        .sortBy(_._2).headOption
      assert(fwd(lid) == after.map(_._3), s"forward lid=$lid")
      val expNear = (before, after) match {
        case (Some(b), Some(a)) =>
          // tie goes backward (pandas convention)
          Some(if (lts - b._2 <= a._2 - lts) b._3 else a._3)
        case (b, a) => b.orElse(a).map(_._3)
      }
      assert(near(lid) == expNear, s"nearest lid=$lid lts=$lts")
    }
    assert(run("backward") ==
      Joins.asOf(left, right, Seq("k"), "lts", "rts", Seq("rv"))
        .select("lid", "asof_rv")
        .collect().map(r => r.getLong(0) ->
          Option(r.getAs[java.lang.Long]("asof_rv")).map(_.longValue)).toMap)
    // TIMESTAMP columns: `nearest` compares ts differences as day-time
    // intervals — a different comparison path than the numeric run above
    def runTs(direction: String) =
      Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts", Seq("px"),
          prefix = "asof_", direction = direction)
        .collect().map(r => r.getAs[Long]("trade_id") ->
          Option(r.getAs[java.lang.Double]("asof_px")).map(_.doubleValue))
        .toMap
    val tsFwd = runTs("forward")
    val tsNear = runTs("nearest")
    // trade 1 at 09:59: next quote 10:00 (100.0); nearest also 10:00
    assert(tsFwd(1L).contains(100.0) && tsNear(1L).contains(100.0))
    // trade 4 at 11:00: nothing after → forward None, nearest falls back
    // to the last preceding quote (102.0)
    assert(tsFwd(4L).isEmpty && tsNear(4L).contains(102.0))
    // trade 3 at 10:07:30 sits exactly between 10:05 and 10:10 — the tie
    // goes backward (101.0)
    assert(tsNear(3L).contains(101.0))
  }

  test("asOf: duplicate right timestamps resolve deterministically; " +
      "null-key rights never match") {
    val dupQuotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 100.0),
      ("A", ts("2024-01-01 10:00:00"), 999.0), // same (key, ts)
      (null.asInstanceOf[String], ts("2024-01-01 09:00:00"), 5.0))
      .toDF("sym", "qts", "px")
    val twoTrades = Seq(
      ("A", ts("2024-01-01 10:05:00"), 1L),
      (null.asInstanceOf[String], ts("2024-01-01 10:00:00"), 2L))
      .toDF("sym", "tts", "trade_id")
    def run(q: org.apache.spark.sql.DataFrame) =
      Joins.asOf(twoTrades, q, Seq("sym"), "tts", "qts", Seq("px"))
        .collect().map(r => r.getAs[Long]("trade_id") ->
          Option(r.getAs[java.lang.Double]("asof_px")).map(_.doubleValue))
        .toMap
    val a = run(dupQuotes)
    val b = run(dupQuotes.repartition(7)) // partitioning must not matter
    assert(a == b)
    assert(a(1L).contains(999.0)) // largest value tuple wins the tie
    assert(a(2L).isEmpty) // null key: left kept, right never matches
  }

  test("asOf tolerance declines matches beyond the horizon (inclusive at " +
      "the boundary) in all three directions — brute-force parity") {
    val left = spark.range(0, 300).select(
      (col("id") % 7).as("k"), (col("id") * 2).as("lts"), col("id").as("lid"))
    val right = spark.range(0, 300, 3).select(
      (col("id") % 5).as("k"), (col("id") * 2).as("rts"),
      (col("id") * 10).as("rv"))
    val tol = 6L // even spacing → exact ties AT the horizon occur
    def run(direction: String) =
      Joins.asOf(left, right, Seq("k"), "lts", "rts", Seq("rv"),
          prefix = "asof_", direction = direction, tolerance = Some(tol))
        .select("lid", "asof_rv")
        .collect().map(r => r.getLong(0) ->
          Option(r.getAs[java.lang.Long]("asof_rv")).map(_.longValue)).toMap
    val rRows = right.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lRows = left.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bwd = run("backward"); val fwd = run("forward")
    val near = run("nearest")
    var horizonTies = 0
    lRows.foreach { case (k, lts, lid) =>
      val before = rRows
        .filter(t => t._1 == k && t._2 <= lts && lts - t._2 <= tol)
        .sortBy(_._2).lastOption
      val after = rRows
        .filter(t => t._1 == k && t._2 >= lts && t._2 - lts <= tol)
        .sortBy(_._2).headOption
      if (before.exists(b => lts - b._2 == tol) ||
        after.exists(a => a._2 - lts == tol)) horizonTies += 1
      assert(bwd(lid) == before.map(_._3), s"backward lid=$lid")
      assert(fwd(lid) == after.map(_._3), s"forward lid=$lid")
      val expNear = (before, after) match {
        case (Some(b), Some(a)) =>
          Some(if (lts - b._2 <= a._2 - lts) b._3 else a._3)
        case (b, a) => b.orElse(a).map(_._3)
      }
      assert(near(lid) == expNear, s"nearest lid=$lid lts=$lts")
    }
    assert(horizonTies > 0, "fixture has no exact-horizon match — weaken")
    // a too-far backward candidate must YIELD to an in-range forward one
    // (per-side vetting before the closer-wins comparison)
    val l1 = Seq(("a", 100L, 1L)).toDF("k", "lts", "lid")
    val r1 = Seq(("a", 50L, 10L), ("a", 104L, 20L)).toDF("k", "rts", "rv")
    val n1 = Joins.asOf(l1, r1, Seq("k"), "lts", "rts", Seq("rv"),
        prefix = "asof_", direction = "nearest", tolerance = Some(5L))
      .select("asof_rv").collect().head
    assert(n1.getLong(0) == 20L,
      "vetting must run per side before closer-wins")
  }

  test("asOf differential fuzz: 24 scenarios (direction × tolerance × " +
      "duplicate timestamps × nulls) match the brute force") {
    val rnd = new scala.util.Random(9090)
    (1 to 24).foreach { i =>
      val n = 60 + rnd.nextInt(60)
      val lRows = (1 to n).map { j =>
        (rnd.nextInt(4).toLong,
          if (rnd.nextInt(15) == 0) None
          // coarse grid → plenty of exact ties and duplicate timestamps
          else Some(rnd.nextInt(40).toLong * 5),
          j.toLong)
      }
      val rRows = (1 to n).map { j =>
        (rnd.nextInt(4).toLong,
          if (rnd.nextInt(15) == 0) None
          else Some(rnd.nextInt(40).toLong * 5),
          j.toLong * 10)
      }
      val l = lRows.toDF("k", "lts", "lid")
      val r = rRows.toDF("k", "rts", "rv")
      val direction = Seq("backward", "forward", "nearest")(rnd.nextInt(3))
      val tol = if (rnd.nextBoolean()) Some(rnd.nextInt(30).toLong) else None
      val got = Joins.asOf(l, r, Seq("k"), "lts", "rts", Seq("rv"),
          prefix = "asof_", direction = direction, tolerance = tol)
        .select("lid", "asof_rv").collect()
        .map(row => row.getLong(0) ->
          Option(row.getAs[java.lang.Long](1)).map(_.longValue)).toMap
      assert(got.size == n, s"scenario $i lost left rows")
      lRows.foreach { case (k, ltsOpt, lid) =>
        val expect = ltsOpt.flatMap { lts =>
          val cand = rRows.filter(t => t._1 == k && t._2.isDefined)
            .map(t => (t._2.get, t._3))
          def ok(d: Long) = tol.forall(d <= _)
          val before = cand.filter(c => c._1 <= lts && ok(lts - c._1))
            // operator tie-break: largest (ts, value) wins backward
            .sortBy(c => (c._1, c._2)).lastOption
          val after = cand.filter(c => c._1 >= lts && ok(c._1 - lts))
            .sortBy(c => (c._1, c._2)).headOption
          direction match {
            case "backward" => before.map(_._2)
            case "forward" => after.map(_._2)
            case "nearest" => (before, after) match {
              case (Some(b), Some(a)) =>
                Some(if (lts - b._1 <= a._1 - lts) b._2 else a._2)
              case (b, a) => b.orElse(a).map(_._2)
            }
          }
        }
        assert(got(lid) == expect,
          s"scenario $i: lid=$lid k=$k lts=$ltsOpt dir=$direction tol=$tol")
      }
    }
  }

  test("asOf null timestamps follow SQL comparison semantics: null-ts " +
      "left rows keep nulls in every direction, null-ts right rows " +
      "never match") {
    val l = Seq((Some("a"), Some(100L), 1L), (Some("a"), None, 2L))
      .toDF("k", "lts", "lid")
    val r = Seq((Some("a"), Some(90L), 10L), (Some("a"), None, 99L))
      .toDF("k", "rts", "rv")
    for (d <- Seq("backward", "forward", "nearest")) {
      val out = Joins.asOf(l, r, Seq("k"), "lts", "rts", Seq("rv"),
          prefix = "asof_", direction = d)
        .collect().map(row => row.getAs[Long]("lid") ->
          Option(row.getAs[java.lang.Long]("asof_rv")).map(_.longValue))
        .toMap
      assert(out.size == 2, s"$d: every left row must survive")
      assert(out(2L).isEmpty, s"$d: null-ts left row must keep nulls")
      assert(out(1L) != Some(99L), s"$d: null-ts right row must not match")
      if (d != "forward") assert(out(1L).contains(10L),
        s"$d: the real preceding right row must still match")
    }
  }

  test("rangeJoin drops inverted intervals instead of exploding them") {
    val intervals = Seq(("u1", 0L, 100L, "ok"), ("u1", 500L, -500L, "bad"))
      .toDF("k", "lo", "hi", "win")
    val points = Seq(("u1", 50L, "p1")).toDF("k", "at", "pt")
    val got = Joins.rangeJoin(points, intervals, Seq("k"), "at", "lo", "hi",
        binWidth = 64)
      .select("pt", "win").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSet == Set(("p1", "ok")))
  }

  test("rangeJoin pairs points with containing intervals only") {
    val intervals = Seq(
      ("u1", 0L, 100L, "w1"),
      ("u1", 50L, 150L, "w2"), // overlaps w1
      ("u2", 0L, 100L, "w3"))
      .toDF("k", "lo", "hi", "win")
    val points = Seq(
      ("u1", 25L, "p1"),  // in w1 only
      ("u1", 75L, "p2"),  // in w1 and w2
      ("u1", 100L, "p3"), // in w2 only (hi is exclusive)
      ("u1", 200L, "p4"), // in nothing
      ("u2", 75L, "p5"))  // in w3
      .toDF("k", "at", "pt")
    val got = Joins.rangeJoin(points, intervals, Seq("k"), "at", "lo", "hi",
        binWidth = 64)
      .select("pt", "win").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(got == Set(("p1", "w1"), ("p2", "w1"), ("p2", "w2"),
      ("p3", "w2"), ("p5", "w3")))
  }

  test("rangeJoin and intervalOverlapJoin accept TIMESTAMP columns " +
      "directly (binWidth in micros)") {
    val hourUs = 3600L * 1000000
    val windows = Seq(
      ("u1", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), "w1"),
      ("u1", ts("2024-01-01 10:30:00"), ts("2024-01-01 11:30:00"), "w2"),
      ("u2", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), "w3"))
      .toDF("k", "w_lo", "w_hi", "win")
    val events = Seq(
      ("u1", ts("2024-01-01 10:15:00"), "p1"), // w1 only
      ("u1", ts("2024-01-01 10:45:00"), "p2"), // w1 and w2
      ("u1", ts("2024-01-01 11:00:00"), "p3"), // w2 only (hi exclusive)
      ("u1", ts("2024-01-01 12:00:00"), "p4"), // nothing
      ("u2", ts("2024-01-01 10:45:00"), "p5")) // w3
      .toDF("k", "at", "pt")
    val got = Joins.rangeJoin(events, windows, Seq("k"), "at", "w_lo",
        "w_hi", binWidth = hourUs)
      .select("pt", "win").as[(String, String)].collect().toSet
    assert(got == Set(("p1", "w1"), ("p2", "w1"), ("p2", "w2"),
      ("p3", "w2"), ("p5", "w3")))
    // left-outer form: p4 must surface with a null window
    val outer = Joins.rangeJoinLeftOuter(events, windows, Seq("k"), "at",
        "w_lo", "w_hi", binWidth = hourUs)
      .select("pt", "win").as[(String, Option[String])].collect().toSet
    assert(outer == Set(("p1", Some("w1")), ("p2", Some("w1")),
      ("p2", Some("w2")), ("p3", Some("w2")), ("p4", None),
      ("p5", Some("w3"))))
    // overlap form on 30-min sessions vs the windows, vs brute force
    val sessions = events
      .select($"k", $"at".as("s_lo"),
        ($"at" + expr("INTERVAL '30' MINUTE")).as("s_hi"), $"pt")
    val ov = Joins.intervalOverlapJoin(sessions, windows, Seq("k"),
        "s_lo", "s_hi", "w_lo", "w_hi", binWidth = hourUs)
      .select("pt", "win").as[(String, String)].collect().toSeq.sorted
    val brute = sessions.join(windows.withColumnRenamed("k", "k2"),
        $"k" === $"k2" && $"s_lo" < $"w_hi" && $"w_lo" < $"s_hi")
      .select("pt", "win").as[(String, String)].collect().toSeq.sorted
    assert(ov == brute, "timestamp overlap diverged from brute force")
    assert(ov == ov.distinct, "timestamp overlap duplicated pairs")
    assert(ov.nonEmpty)
  }

  test("multi-dimension rangeJoin matches the brute force and carries " +
      "both bin keys") {
    // points must co-reside in time AND value bins to become candidates
    val rnd = new scala.util.Random(7)
    val pts = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(100).toDouble))
      .toDF("pid", "at", "v")
    val ivs = (1 to 100).map { i =>
      val t0 = rnd.nextInt(1000).toLong
      val v0 = rnd.nextInt(100).toDouble
      (1000L + i, t0, t0 + rnd.nextInt(80).toLong,
        v0, v0 + rnd.nextInt(20))
    }.toDF("iid", "t_lo", "t_hi", "v_lo", "v_hi")
    val got = Joins.rangeJoin(pts, ivs, keyCols = Nil, dims = Seq(
        Joins.RangeDim("at", "t_lo", "t_hi", binWidth = 64),
        Joins.RangeDim("v", "v_lo", "v_hi", binWidth = 16)))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"2-D rangeJoin must stay an equi-join:\n$plan")
    assert(plan.contains("_graft_bin") && plan.contains("_graft_bin2"),
      s"both bin keys expected in:\n$plan")
    val expected = pts.crossJoin(ivs)
      .filter($"at" >= $"t_lo" && $"at" < $"t_hi" &&
        $"v" >= $"v_lo" && $"v" < $"v_hi")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
    assert(pairs(got) == pairs(expected))
    assert(pairs(got).nonEmpty, "fixture produced no matches — weaken it")
  }

  test("intervalOverlapJoin matches the brute force, including multi-bin " +
      "overlaps, zero-length intervals, and inverted rows") {
    val rnd = new scala.util.Random(11)
    // long intervals vs binWidth=16 → overlapping pairs share MANY bins;
    // the canonical-bin emission must still yield each pair exactly once.
    // Zero-length intervals ([s, s)) act as points. An INVERTED row can
    // still satisfy the raw predicate against a wide partner (left
    // (10, 5) × right (3, 20): 10 < 20 AND 3 < 5) — the brute force below
    // applies ONLY the predicate, so it checks those matches survive.
    def gen(n: Int, idBase: Long) = (1 to n).map { i =>
      val s = rnd.nextInt(500).toLong
      val len = rnd.nextInt(4) match {
        case 0 => 0L                       // zero-length
        case 1 => -(1 + rnd.nextInt(50)).toLong // inverted
        case _ => rnd.nextInt(120).toLong  // up to ~8 bins at width 16
      }
      (idBase + i, rnd.nextInt(3).toLong, s, s + len)
    }
    val l = gen(150, 0).toDF("lid", "k", "l_lo", "l_hi")
    val r = gen(150, 1000).toDF("rid", "k", "r_lo", "r_hi")
    val got = Joins.intervalOverlapJoin(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 16)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"overlap join must stay an equi-join:\n$plan")
    val expected = l.crossJoin(r)
      .filter(l("k") === r("k") &&
        $"l_lo" < $"r_hi" && $"r_lo" < $"l_hi")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
    val gotPairs = pairs(got)
    assert(gotPairs == gotPairs.distinct,
      "canonical-bin emission produced duplicate pairs")
    assert(gotPairs == pairs(expected))
    assert(gotPairs.nonEmpty, "fixture produced no overlaps — weaken it")
    // at least one surviving pair must involve an inverted interval, or
    // this test no longer covers the semantics it exists for
    val inverted = (l.filter($"l_hi" < $"l_lo").select("lid")
        .as[Long].collect().toSet,
      r.filter($"r_hi" < $"r_lo").select("rid").as[Long].collect().toSet)
    assert(gotPairs.exists(p =>
      inverted._1.contains(p._1) || inverted._2.contains(p._2)),
      "fixture produced no surviving inverted-interval match — weaken it")
  }

  test("multi-dimension intervalOverlapJoin matches the brute force, " +
      "carries both bin keys, and never duplicates") {
    // time overlap AND value-band overlap: candidates must co-reside in
    // BOTH dimensions' bins; each pair emits from its per-dimension
    // canonical bin combination exactly once
    val rnd = new scala.util.Random(31)
    def gen(n: Int, idBase: Long) = (1 to n).map { i =>
      val t0 = rnd.nextInt(400).toLong
      val v0 = rnd.nextInt(100).toLong
      (idBase + i, t0, t0 + rnd.nextInt(100).toLong - 10L, // some inverted
        v0, v0 + rnd.nextInt(30).toLong - 3L)
    }
    val l = gen(120, 0).toDF("lid", "l_t0", "l_t1", "l_v0", "l_v1")
    val r = gen(120, 1000).toDF("rid", "r_t0", "r_t1", "r_v0", "r_v1")
    val got = Joins.intervalOverlapJoin(l, r, keyCols = Nil, dims = Seq(
      Joins.OverlapDim("l_t0", "l_t1", "r_t0", "r_t1", binWidth = 64),
      Joins.OverlapDim("l_v0", "l_v1", "r_v0", "r_v1", binWidth = 16)),
      maxBinSize = 10000)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"2-D overlap join must stay an equi-join:\n$plan")
    assert(plan.contains("_graft_bin") && plan.contains("_graft_bin2"),
      s"both bin keys expected in:\n$plan")
    val expected = l.crossJoin(r)
      .filter($"l_t0" < $"r_t1" && $"r_t0" < $"l_t1" &&
        $"l_v0" < $"r_v1" && $"r_v0" < $"l_v1")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
    val gotPairs = pairs(got)
    assert(gotPairs == gotPairs.distinct, "2-D canonical emission duplicated")
    assert(gotPairs == pairs(expected))
    assert(gotPairs.nonEmpty, "fixture produced no 2-D overlaps — weaken it")
  }

  test("rangeJoinLeftOuter keeps every left row, nulls the unmatched, " +
      "and matches the vanilla LEFT JOIN") {
    val intervals = Seq(("u1", 0L, 100L, 10L), ("u1", 50L, 150L, 11L),
      ("u2", 0L, 100L, 12L), ("u1", 500L, 400L, 13L)) // 13 inverted
      .toDF("k", "lo", "hi", "iid")
    val points = Seq(
      (Some("u1"), Some(75L), 1L),  // two containing windows
      (Some("u1"), Some(200L), 2L), // none → null
      (Some("u3"), Some(50L), 3L),  // key with no intervals → null
      (Some("u1"), None, 4L),       // null point → null (SQL semantics)
      (None, Some(50L), 5L))        // null key → null
      .toDF("k", "at", "pid")
    val got = Joins.rangeJoinLeftOuter(points, intervals, Seq("k"),
      "at", "lo", "hi", binWidth = 64)
    assert(!got.queryExecution.executedPlan.toString.contains("NestedLoop"),
      "left-outer range join must stay an equi-join")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("pid"), coalesce(col("iid"), lit(-1L)).as("iid"))
      .as[(Long, Long)].collect().toSeq.sorted
    val expected = points.as("p").join(intervals.as("i"),
        col("p.k") === col("i.k") && $"at" >= $"lo" && $"at" < $"hi",
        "left_outer")
      .select(col("pid"), col("iid"))
    assert(rows(got) == rows(expected))
    assert(rows(got) == Seq((1L, 10L), (1L, 11L), (2L, -1L), (3L, -1L),
      (4L, -1L), (5L, -1L)))
  }

  test("intervalOverlapJoinLeftOuter matches the vanilla LEFT JOIN on a " +
      "generated fixture (multi-bin, inverted, null bounds)") {
    val rnd = new scala.util.Random(23)
    def gen(n: Int, idBase: Long) = (1 to n).map { i =>
      val s = rnd.nextInt(400).toLong
      val len = rnd.nextInt(5) match {
        case 0 => 0L
        case 1 => -(1 + rnd.nextInt(40)).toLong
        case _ => rnd.nextInt(100).toLong
      }
      (idBase + i, rnd.nextInt(4).toLong,
        if (rnd.nextInt(20) == 0) None else Some(s),
        if (rnd.nextInt(20) == 0) None else Some(s + len))
    }
    val l = gen(120, 0).toDF("lid", "k", "l_lo", "l_hi")
    val r = gen(120, 1000).toDF("rid", "k", "r_lo", "r_hi")
    val got = Joins.intervalOverlapJoinLeftOuter(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lid"), coalesce(col("rid"), lit(-1L)).as("rid"))
      .as[(Long, Long)].collect().toSeq.sorted
    val expected = l.as("L").join(r.as("R"),
        col("L.k") === col("R.k") &&
          $"l_lo" < $"r_hi" && $"r_lo" < $"l_hi", "left_outer")
      .select(col("lid"), col("rid"))
    val gotRows = rows(got)
    assert(gotRows == rows(expected))
    // the fixture must exercise both sides of the outer semantics
    assert(gotRows.exists(_._2 == -1L), "no unmatched left rows — weaken")
    assert(gotRows.exists(_._2 != -1L), "no matched left rows — weaken")
    assert(gotRows.count(_._2 == -1L) < gotRows.size)
    assert(gotRows.map(_._1).distinct.size == 120,
      "every left row must appear at least once")
  }

  test("multi-dimension intervalOverlapJoinLeftOuter matches the vanilla " +
      "2-D LEFT JOIN on a generated fixture") {
    val rnd = new scala.util.Random(31)
    def gen(n: Int, idBase: Long) = (1 to n).map { i =>
      val t = rnd.nextInt(300).toLong
      val v = rnd.nextInt(200).toLong
      (idBase + i, rnd.nextInt(3).toLong, t, t + rnd.nextInt(60).toLong,
        v, v + rnd.nextInt(40).toLong)
    }
    val l = gen(100, 0).toDF("lid", "k", "lt_lo", "lt_hi", "lv_lo", "lv_hi")
    val r = gen(100, 1000)
      .toDF("rid", "k", "rt_lo", "rt_hi", "rv_lo", "rv_hi")
    val got = Joins.intervalOverlapJoinLeftOuter(l, r, Seq("k"), Seq(
      Joins.OverlapDim("lt_lo", "lt_hi", "rt_lo", "rt_hi", binWidth = 64),
      Joins.OverlapDim("lv_lo", "lv_hi", "rv_lo", "rv_hi", binWidth = 32)),
      maxBinSize = 10000)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lid"), coalesce(col("rid"), lit(-1L)).as("rid"))
      .as[(Long, Long)].collect().toSeq.sorted
    val expected = l.as("L").join(r.as("R"),
        col("L.k") === col("R.k") &&
          $"lt_lo" < $"rt_hi" && $"rt_lo" < $"lt_hi" &&
          $"lv_lo" < $"rv_hi" && $"rv_lo" < $"lv_hi", "left_outer")
      .select(col("lid"), col("rid"))
    val gotRows = rows(got)
    assert(gotRows == rows(expected))
    assert(gotRows.exists(_._2 == -1L), "no unmatched left rows — weaken")
    assert(gotRows.exists(_._2 != -1L), "no matched left rows — weaken")
    assert(gotRows.map(_._1).distinct.size == 100,
      "every left row must appear at least once")
  }

  test("rangeJoinFullOuter matches the vanilla FULL JOIN with USING-style " +
      "keys (unmatched both sides, null keys/points, inverted intervals)") {
    val rnd = new scala.util.Random(41)
    val points = (1 to 120).map { i =>
      (if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(4).toLong),
        if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(600).toLong),
        i.toLong)
    }.toDF("k", "at", "pid")
    val intervals = (1 to 120).map { i =>
      val s = rnd.nextInt(600).toLong
      val len = rnd.nextInt(4) match {
        case 0 => -(1 + rnd.nextInt(40)).toLong // inverted: matches nothing
        case _ => rnd.nextInt(90).toLong
      }
      (if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(4).toLong),
        if (rnd.nextInt(20) == 0) None else Some(s),
        if (rnd.nextInt(20) == 0) None else Some(s + len), 1000L + i)
    }.toDF("k", "lo", "hi", "iid")
    val got = Joins.rangeJoinFullOuter(points, intervals, Seq("k"),
      "at", "lo", "hi", binWidth = 64)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"full-outer range join must stay an equi-join:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(coalesce(col("k"), lit(-9L)).as("k"),
        coalesce(col("pid"), lit(-1L)).as("pid"),
        coalesce(col("iid"), lit(-1L)).as("iid"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val expected = points.as("P")
      .join(intervals.withColumnRenamed("k", "k2").as("I"),
        col("k") === col("k2") && $"at" >= $"lo" && $"at" < $"hi",
        "full_outer")
      .select(coalesce(col("k"), col("k2")).as("k"), col("pid"), col("iid"))
    val gotRows = rows(got)
    assert(gotRows == rows(expected))
    // fixture must exercise all three row classes
    assert(gotRows.exists(r => r._2 != -1L && r._3 != -1L), "no matches")
    assert(gotRows.exists(r => r._3 == -1L), "no unmatched left rows")
    assert(gotRows.exists(r => r._2 == -1L), "no unmatched right rows")
    assert(gotRows.map(_._2).filter(_ != -1L).distinct.size == 120,
      "every left row must appear")
    assert(gotRows.map(_._3).filter(_ != -1L).distinct.size == 120,
      "every right row must appear")
  }

  test("rangeJoinFullOuter guard demotes over-cap cohorts to unmatched " +
      "rows instead of dropping them") {
    val pts = ((1 to 30).map(i => ("hot", 32L, i.toLong)) :+
      (("ok", 32L, 100L))).toDF("k", "at", "pid")
    val ivs = ((1 to 30).map(i => ("hot", 0L, 63L, 1000L + i)) :+
      (("ok", 0L, 63L, 1100L))).toDF("k", "lo", "hi", "iid")
    val got = Joins.rangeJoinFullOuter(pts, ivs, Seq("k"),
        "at", "lo", "hi", binWidth = 64, maxBinSize = 10)
      .select(coalesce(col("pid"), lit(-1L)).as("pid"),
        coalesce(col("iid"), lit(-1L)).as("iid"))
      .as[(Long, Long)].collect().toSeq
    // the healthy cohort still matches; the hot cohort's rows all surface
    // unmatched — full outer loses matches to the cap, never rows
    assert(got.contains((100L, 1100L)))
    assert(got.count(_._2 == -1L) == 30 && got.count(_._1 == -1L) == 30)
    assert(got.length == 61)
    // sentinel: exact full cross of the hot cohort
    assert(Joins.rangeJoinFullOuter(pts, ivs, Seq("k"),
      "at", "lo", "hi", binWidth = 64, maxBinSize = -1).count() ==
      30L * 30 + 1)
  }

  test("asOf tolerance rejects mixed timestamp families (days vs micros " +
      "would silently disagree)") {
    val l = Seq(("a", java.sql.Date.valueOf("2024-01-10"), 1L))
      .toDF("k", "lts", "lid")
    val r = Seq(("a", ts("2024-01-05 00:00:00"), 10L)).toDF("k", "rts", "rv")
    val e = intercept[IllegalArgumentException] {
      Joins.asOf(l, r, Seq("k"), "lts", "rts", Seq("rv"),
        prefix = "asof_", direction = "backward", tolerance = Some(5L))
    }
    assert(e.getMessage.contains("type family"), e.getMessage)
  }

  test("asOf tolerance on DATE columns counts in epoch DAYS") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val l = Seq(("a", d("2024-01-10"), 1L)).toDF("k", "lts", "lid")
    val r = Seq(("a", d("2024-01-05"), 10L), ("a", d("2023-12-01"), 20L))
      .toDF("k", "rts", "rv")
    def run(tol: Long) = Joins.asOf(l, r, Seq("k"), "lts", "rts",
        Seq("rv"), prefix = "asof_", direction = "backward",
        tolerance = Some(tol))
      .select("asof_rv").collect()
      .map(row => Option(row.getAs[java.lang.Long](0)).map(_.longValue))
      .head
    assert(run(5L).contains(10L), "5-day horizon reaches Jan 5 (inclusive)")
    assert(run(4L).isEmpty, "4-day horizon must decline the 5-day-old row")
  }

  test("full-outer forms pay exactly one id-window exchange beyond the " +
      "guard/join exchanges (plan pin)") {
    // rangeJoinFullOuter: left guard window + right guard window (both
    // reused by the sort-merge join) + the right-row-id count window = 3
    // hash exchanges; the overlap form adds the second side's id window
    val pts = Seq(("a", 5L, 1L)).toDF("k", "at", "pid")
    val ivs = Seq(("a", 0L, 10L, 10L)).toDF("k", "lo", "hi", "iid")
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges(Joins.rangeJoinFullOuter(pts, ivs, Seq("k"),
        "at", "lo", "hi", binWidth = 64)) == 3)
      val l = Seq(("a", 0L, 30L, 1L)).toDF("k", "l_lo", "l_hi", "lid")
      val r = Seq(("a", 20L, 80L, 10L)).toDF("k", "r_lo", "r_hi", "rid")
      assert(exchanges(Joins.intervalOverlapJoinFullOuter(l, r, Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 64)) == 4)
    }
  }

  test("rangeJoinFullOuter on TIMESTAMP columns matches the vanilla " +
      "FULL JOIN (micros bin image)") {
    val hourUs = 3600L * 1000000
    val windows = Seq(
      ("u1", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 10L),
      ("u2", ts("2024-03-01 00:00:00"), ts("2024-03-01 01:00:00"), 11L))
      .toDF("k", "w_lo", "w_hi", "iid")
    val events = Seq(
      ("u1", ts("2024-01-01 10:15:00"), 1L), // inside 10
      ("u1", ts("2024-01-01 12:00:00"), 2L), // unmatched left
      ("u3", ts("2024-01-01 10:15:00"), 3L)) // key with no window
      .toDF("k", "at", "pid")
    val got = Joins.rangeJoinFullOuter(events, windows, Seq("k"),
        "at", "w_lo", "w_hi", binWidth = hourUs)
      .select(coalesce(col("pid"), lit(-1L)), coalesce(col("iid"), lit(-1L)))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, -1L), (3L, -1L), (-1L, 11L)))
  }

  test("keyless full-outer forms match the vanilla keyless FULL JOIN") {
    val pts = Seq((1L, 5L), (2L, 500L)).toDF("pid", "at")
    val ivs = Seq((10L, 0L, 100L), (11L, 900L, 950L)).toDF("iid", "lo", "hi")
    val gotR = Joins.rangeJoinFullOuter(pts, ivs, Nil, "at", "lo", "hi",
        binWidth = 64)
      .select(coalesce(col("pid"), lit(-1L)), coalesce(col("iid"), lit(-1L)))
      .as[(Long, Long)].collect().toSet
    assert(gotR == Set((1L, 10L), (2L, -1L), (-1L, 11L)))
    val l = Seq((1L, 0L, 30L), (2L, 500L, 530L)).toDF("lid", "l_lo", "l_hi")
    val r = Seq((10L, 20L, 80L), (11L, 900L, 950L))
      .toDF("rid", "r_lo", "r_hi")
    val gotO = Joins.intervalOverlapJoinFullOuter(l, r, Nil,
        "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 64)
      .select(coalesce(col("lid"), lit(-1L)), coalesce(col("rid"), lit(-1L)))
      .as[(Long, Long)].collect().toSet
    assert(gotO == Set((1L, 10L), (2L, -1L), (-1L, 11L)))
  }

  test("intervalOverlapJoinFullOuter matches the vanilla FULL JOIN on a " +
      "generated fixture (multi-bin, inverted, null bounds/keys)") {
    val rnd = new scala.util.Random(43)
    def gen(n: Int, idBase: Long) = (1 to n).map { i =>
      val s = rnd.nextInt(400).toLong
      val len = rnd.nextInt(5) match {
        case 0 => 0L
        case 1 => -(1 + rnd.nextInt(40)).toLong
        case _ => rnd.nextInt(100).toLong
      }
      (idBase + i,
        if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(4).toLong),
        if (rnd.nextInt(20) == 0) None else Some(s),
        if (rnd.nextInt(20) == 0) None else Some(s + len))
    }
    val l = gen(120, 0).toDF("lid", "k", "l_lo", "l_hi")
    val r = gen(120, 1000).toDF("rid", "k", "r_lo", "r_hi")
    val got = Joins.intervalOverlapJoinFullOuter(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 16)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"full-outer overlap join must stay an equi-join:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(coalesce(col("k"), lit(-9L)).as("k"),
        coalesce(col("lid"), lit(-1L)).as("lid"),
        coalesce(col("rid"), lit(-1L)).as("rid"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val expected = l.as("L")
      .join(r.withColumnRenamed("k", "k2").as("R"),
        col("k") === col("k2") &&
          $"l_lo" < $"r_hi" && $"r_lo" < $"l_hi", "full_outer")
      .select(coalesce(col("k"), col("k2")).as("k"),
        col("lid"), col("rid"))
    val gotRows = rows(got)
    assert(gotRows == rows(expected))
    assert(gotRows.exists(r0 => r0._2 != -1L && r0._3 != -1L), "no matches")
    assert(gotRows.exists(_._3 == -1L), "no unmatched left rows")
    assert(gotRows.exists(_._2 == -1L), "no unmatched right rows")
    assert(gotRows.map(_._2).filter(_ != -1L).distinct.size == 120)
    assert(gotRows.map(_._3).filter(_ != -1L).distinct.size == 120)
  }

  test("multi-dimension intervalOverlapJoinFullOuter matches the vanilla " +
      "2-D FULL JOIN") {
    val rnd = new scala.util.Random(47)
    def gen(n: Int, idBase: Long) = (1 to n).map { i =>
      val t = rnd.nextInt(300).toLong
      val v = rnd.nextInt(200).toLong
      (idBase + i, rnd.nextInt(3).toLong, t, t + rnd.nextInt(60).toLong,
        v, v + rnd.nextInt(40).toLong)
    }
    val l = gen(90, 0).toDF("lid", "k", "lt_lo", "lt_hi", "lv_lo", "lv_hi")
    val r = gen(90, 1000)
      .toDF("rid", "k", "rt_lo", "rt_hi", "rv_lo", "rv_hi")
    val got = Joins.intervalOverlapJoinFullOuter(l, r, Seq("k"), Seq(
      Joins.OverlapDim("lt_lo", "lt_hi", "rt_lo", "rt_hi", binWidth = 64),
      Joins.OverlapDim("lv_lo", "lv_hi", "rv_lo", "rv_hi", binWidth = 32)),
      maxBinSize = 10000)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(coalesce(col("lid"), lit(-1L)).as("lid"),
        coalesce(col("rid"), lit(-1L)).as("rid"))
      .as[(Long, Long)].collect().toSeq.sorted
    val expected = l.as("L")
      .join(r.withColumnRenamed("k", "k2").as("R"),
        col("k") === col("k2") &&
          $"lt_lo" < $"rt_hi" && $"rt_lo" < $"lt_hi" &&
          $"lv_lo" < $"rv_hi" && $"rv_lo" < $"lv_hi", "full_outer")
      .select(col("lid"), col("rid"))
    val gotRows = rows(got)
    assert(gotRows == rows(expected))
    assert(gotRows.exists(r0 => r0._1 != -1L && r0._2 != -1L), "no matches")
    assert(gotRows.exists(_._2 == -1L), "no unmatched left rows")
    assert(gotRows.exists(_._1 == -1L), "no unmatched right rows")
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("rangeJoin hot-bin guard: over-cap (key, bin) cohorts drop, the " +
      "sentinel restores them, and the guard adds no exchange") {
    // 30 points and 30 intervals piled into ONE (key, bin) cohort — the
    // quadratic B_l × B_r shape the guard exists for — plus one healthy
    // cohort that must survive untouched
    val pts = ((1 to 30).map(i => ("hot", 32L, i.toLong)) :+
      (("ok", 32L, 100L))).toDF("k", "at", "pid")
    val ivs = ((1 to 30).map(i => ("hot", 0L, 64L, i.toLong)) :+
      (("ok", 0L, 64L, 100L))).toDF("k", "lo", "hi", "iid")
    def run(cap: Long) = Joins.rangeJoin(pts, ivs, Seq("k"),
      "at", "lo", "hi", binWidth = 64, maxBinSize = cap)
    assert(run(10).select("pid", "iid").as[(Long, Long)].collect().toSet ==
      Set((100L, 100L)), "cap=10 must drop the hot cohort, keep the healthy")
    assert(run(-1).count() == 30L * 30 + 1, "sentinel must restore all pairs")
    assert(Joins.rangeJoin(pts, ivs, Seq("k"), "at", "lo", "hi",
      binWidth = 64).count() == 30L * 30 + 1,
      "the 10000 default must not engage on a small cohort")
    // the guard windows partition on the join's own (key, bin) keys, so
    // the sort-merge join runs on the windows' exchanges — guarded and
    // unguarded plans shuffle the same number of times
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def exchanges(cap: Long) = run(cap).queryExecution.executedPlan
        .toString.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges(10) == exchanges(-1),
        "the hot-bin guard must not add a shuffle")
    }
  }

  test("hot-bin guard drops are observable: accumulators count dropped " +
      "rows and cohorts, stay zero on clean data") {
    import graft.operators.GuardMetrics
    val ctr = GuardMetrics.of(spark.sparkContext)
    val pts = ((1 to 30).map(i => ("hot", 32L, i.toLong)) :+
      (("ok", 32L, 100L))).toDF("k", "at", "pid")
    // hi=63 keeps the hot intervals inside bin 0 (one copy each), so the
    // expected counts below are exact: 30 rows + 1 cohort per side
    val ivs = ((1 to 30).map(i => ("hot", 0L, 63L, i.toLong)) :+
      (("ok", 0L, 63L, 100L))).toDF("k", "lo", "hi", "iid")
    ctr.reset()
    Joins.rangeJoin(pts, ivs, Seq("k"), "at", "lo", "hi",
      binWidth = 64, maxBinSize = 10).count()
    assert(ctr.droppedRows.value == 60L,
      s"expected 30 rows dropped per side, got ${ctr.droppedRows.value}")
    assert(ctr.droppedCohorts.value == 2L,
      s"expected one cohort per side, got ${ctr.droppedCohorts.value}")
    ctr.reset()
    Joins.rangeJoin(pts, ivs, Seq("k"), "at", "lo", "hi",
      binWidth = 64).count() // default cap: nothing engages
    assert(ctr.droppedRows.value == 0L && ctr.droppedCohorts.value == 0L,
      "clean data must not touch the drop counters")
  }

  test("two guarded operators in ONE query count independently under " +
      "their own tags; the untagged pair stays the session total") {
    import graft.operators.GuardMetrics
    val sc = spark.sparkContext
    // rangeJoin side: 30x30 hot cohort in bin 0 → 30 rows + 1 cohort per
    // side under tag "rangeJoin" (same fixture as the observability test)
    val pts = ((1 to 30).map(i => ("hot", 32L, i.toLong)) :+
      (("ok", 32L, 100L))).toDF("k", "at", "pid")
    val ivs = ((1 to 30).map(i => ("hot", 0L, 63L, i.toLong)) :+
      (("ok", 0L, 63L, 100L))).toDF("k", "lo", "hi", "iid")
    // overlap side: 25x25 hot cohort → 25 rows + 1 cohort per side under
    // tag "overlapJoin"
    val l = ((1 to 25).map(i => ("hot2", 0L, 60L, i.toLong)) :+
      (("ok2", 0L, 60L, 100L))).toDF("k", "l_lo", "l_hi", "lid")
    val r = ((1 to 25).map(i => ("hot2", 10L, 50L, i.toLong)) :+
      (("ok2", 10L, 50L, 100L))).toDF("k", "r_lo", "r_hi", "rid")
    GuardMetrics.resetAll(sc)
    val rj = Joins.rangeJoin(pts, ivs, Seq("k"), "at", "lo", "hi",
      binWidth = 64, maxBinSize = 10)
    val ov = Joins.intervalOverlapJoin(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 64, maxBinSize = 10)
    // ONE query running both guarded operators
    rj.select(lit(1).as("one")).union(ov.select(lit(1).as("one"))).count()
    val range = GuardMetrics.of(sc, "rangeJoin")
    val over = GuardMetrics.of(sc, "overlapJoin")
    val total = GuardMetrics.of(sc)
    assert(range.droppedRows.value == 60L &&
      range.droppedCohorts.value == 2L,
      s"rangeJoin tag: ${range.droppedRows.value}/" +
        s"${range.droppedCohorts.value}")
    assert(over.droppedRows.value == 50L &&
      over.droppedCohorts.value == 2L,
      s"overlapJoin tag: ${over.droppedRows.value}/" +
        s"${over.droppedCohorts.value}")
    assert(total.droppedRows.value == 110L &&
      total.droppedCohorts.value == 4L,
      s"untagged total: ${total.droppedRows.value}/" +
        s"${total.droppedCohorts.value}")
  }

  test("intervalOverlapJoin hot-bin guard engages and the sentinel " +
      "restores exactness") {
    val l = ((1 to 25).map(i => ("hot", 0L, 60L, i.toLong)) :+
      (("ok", 0L, 60L, 100L))).toDF("k", "l_lo", "l_hi", "lid")
    val r = ((1 to 25).map(i => ("hot", 10L, 50L, i.toLong)) :+
      (("ok", 10L, 50L, 100L))).toDF("k", "r_lo", "r_hi", "rid")
    def run(cap: Long) = Joins.intervalOverlapJoin(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 64, maxBinSize = cap)
    assert(run(10).select("lid", "rid").as[(Long, Long)].collect().toSet ==
      Set((100L, 100L)))
    assert(run(-1).count() == 25L * 25 + 1)
    assert(Joins.intervalOverlapJoin(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 64).count() == 25L * 25 + 1)
  }

  test("binned joins fail fast on mixed bound-type families instead of " +
      "silently matching nothing") {
    // a DATE point binned in days can never equi-match a TIMESTAMP
    // interval binned in micros — the exact predicate would coerce, the
    // bin keys would not, and every match would silently vanish
    val pts = Seq(("a", java.sql.Date.valueOf("2024-01-05")))
      .toDF("k", "at")
    val ivs = Seq(("a", ts("2024-01-01 00:00:00"), ts("2024-02-01 00:00:00")))
      .toDF("k", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      Joins.rangeJoin(pts, ivs, Seq("k"), "at", "lo", "hi",
        binWidth = 86400000000L)
    }
    assert(e.getMessage.contains("type family"), e.getMessage)
    // string bounds are not binnable at all
    val sIvs = Seq(("a", "x", "y")).toDF("k", "lo", "hi")
    val e2 = intercept[IllegalArgumentException] {
      Joins.rangeJoin(pts, sIvs, Seq("k"), "at", "lo", "hi", binWidth = 1L)
    }
    assert(e2.getMessage.contains("type family"), e2.getMessage)
  }

  test("intervalOverlapJoin rejects colliding boundary column names") {
    val df = Seq((1L, 0L, 1L)).toDF("id", "lo", "hi")
    intercept[IllegalArgumentException] {
      Joins.intervalOverlapJoin(df, df, Nil, "lo", "hi", "lo", "hi", 16)
    }
    // every other form runs the same check: a range point named like a
    // right bound, or a shared overlap bound, fails at the call instead
    // of as an ambiguous reference inside Spark
    val forms: Seq[() => Any] = Seq(
      () => Joins.rangeJoin(df, df, Nil, "lo", "lo", "hi", 16),
      () => Joins.rangeJoinLeftOuter(df, df, Nil, "hi", "lo", "hi", 16),
      () => Joins.rangeJoinFullOuter(df, df, Nil, "lo", "lo", "hi", 16),
      () => Joins.intervalOverlapJoinLeftOuter(df, df, Nil,
        "lo", "hi", "lo", "hi", 16),
      () => Joins.intervalOverlapJoinFullOuter(df, df, Nil,
        "lo", "hi", "lo", "hi", 16))
    forms.foreach { form =>
      val e = intercept[IllegalArgumentException](form())
      assert(e.getMessage.contains("boundary column names"), e.getMessage)
    }
  }
}
