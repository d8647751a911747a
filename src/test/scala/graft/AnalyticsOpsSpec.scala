package graft


/** Independent plain-Scala references for the corpus-maintenance and
  * retention queries (stopword strip with document reconstruction,
  * distributed global id assignment, cohort retention): recomputed
  * from collected sf0.001 rows with naive driver-side logic — whole-
  * corpus token maps, one global in-memory sort, full activity
  * matrices — and compared exactly. Agreement pins the distributed
  * rewrites (order-preserving rebuild via pos structs, two-phase
  * offset ids) against the specification shapes they replace. */
class AnalyticsOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def toks(t: String): Array[String] =
    t.replaceAll("\\s+", " ").trim.split(" ", -1)

  test("stopword_strip matches a naive rebuild and actually strips the top-3") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val df = docs.flatMap { case (id, t) => toks(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val stop = df.toSeq.sortBy { case (tk, n) => (-n, tk) }.take(3).map(_._1).toSet
    val expected = docs.sortBy(_._1).map { case (id, t) =>
      val ts = toks(t)
      val kept = ts.filterNot(stop)
      (id, kept.length.toLong, (ts.length - kept.length).toLong, kept.mkString(" "))
    }.toSeq
    val got = SparkEntry.queries("stopword_strip")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    got shouldEqual expected
    // the pass is non-degenerate: stopwords are actually removed from
    // the corpus, and no document is stripped to nothing
    assert(got.exists(_._3 > 0) && got.forall(_._2 > 0))
  }

  test("global_ids matches one in-memory global sort and is contiguous from 1") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((id, lang), i) => (id, lang, i + 1L) }.toSeq
    val got = SparkEntry.queries("global_ids")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    got shouldEqual expected
    got.map(_._3) shouldEqual (1L to docs.length).toSeq
  }

  test("sorted_neighborhood matches a naive two-pass windowed scan") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val recs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map { r =>
        val nt = r.getString(1).replaceAll("\\s+", " ").trim
        (r.getLong(0), nt.take(48), nt.take(32),
          nt.split(" ", -1).sorted.mkString(" ").take(32))
      }
    def pass(key: ((Long, String, String, String)) => String, flag: Long) = {
      val ordered = recs.sortBy(r => (key(r), r._1)).toIndexedSeq
      for {
        i <- ordered.indices; d <- 1 to 3; if i + d < ordered.length
      } yield {
        val (a, b) = (ordered(i), ordered(i + d))
        (math.min(a._1, b._1), math.max(a._1, b._1), lev(a._2, b._2), flag)
      }
    }
    val expected = (pass(_._3, 1L) ++ pass(_._4, 2L))
      .groupBy(t => (t._1, t._2)).toSeq
      .map { case ((d1, d2), vs) => (d1, d2, vs.map(_._4).sum, vs.map(_._3).min) }
      .sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("sorted_neighborhood")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    got shouldEqual expected
    // structural invariants: pass masks are 1/2/3 and both passes
    // contribute candidates on their own
    assert(got.map(_._3).toSet.subsetOf(Set(1L, 2L, 3L)))
    assert(got.exists(_._3 == 1L) && got.exists(_._3 == 2L))
  }

  test("poisson_bootstrap matches naive per-replicate weighted means") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val th = Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L, 65530L)
    def w(b: Int, k: Long): Long = {
      val u = java.lang.Long.parseLong(md5hex(s"graft-boot$b-$k").take(4), 16)
      th.indexWhere(u < _) match { case -1 => 7L; case i => i.toLong }
    }
    val rows = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact))
    val expected = (0 to 15).map { b =>
      val ws = rows.map { case (k, c) => (w(b, k), c) }
      val nEff = ws.map(_._1).sum
      val sc = ws.map { case (wt, c) => wt * c }.sum
      (b.toLong, nEff, sc, (BigInt(sc) * 1000000 / nEff).toLong)
    }
    val got = SparkEntry.queries("poisson_bootstrap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    got shouldEqual expected
    // replicate means genuinely vary (the CI is non-degenerate) and
    // effective sizes hover around n (Poisson(1) weights)
    assert(got.map(_._4).distinct.size > 1)
    val n = rows.length.toLong
    got.foreach { r => assert(r._2 > n / 2 && r._2 < n * 2) }
  }

  test("cohort_retention matches a naive full activity matrix") {
    def monthOf(v: Any): (Int, Int) = v match {
      case t: java.sql.Timestamp =>
        val d = t.toLocalDateTime; (d.getYear, d.getMonthValue)
      case t: java.time.LocalDateTime => (t.getYear, t.getMonthValue)
      case other => sys.error(s"unexpected month value: $other")
    }
    val act = Tables.orders(spark, sf).select("o_custkey", "o_orderdate")
      .collect().map(r => (r.getLong(0), monthOf(r.get(1)))).distinct
    val cohort = act.groupBy(_._1).view
      .mapValues(_.map(_._2).minBy(m => (m._1, m._2))).toMap
    val expected = act.map { case (c, m) =>
      val co = cohort(c)
      (co, ((m._1 - co._1) * 12 + (m._2 - co._2)).toLong)
    }.groupBy(identity).toSeq
      .map { case ((co, ms), vs) => (co, ms, vs.length.toLong) }
      .sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("cohort_retention")(spark, sf).collect()
      .map(r => (monthOf(r.get(0)), r.getLong(1), r.getLong(2))).toSeq
    got shouldEqual expected
    // months_since 0 exists for every cohort (the diagonal), and the
    // matrix has genuine later-month activity
    got.filter(_._2 == 0L).map(_._1).toSet shouldEqual got.map(_._1).toSet
    assert(got.exists(_._2 > 0L))
  }

  test("lateness_audit matches a naive arrival-order fold and bounds separate") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case t: java.time.LocalDateTime =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case other => sys.error(s"unexpected ts: $other")
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts").collect()
      .map { r =>
        val id = r.getLong(0)
        val delay =
          if (java.lang.Long.parseLong(md5hex(s"graft-late-arrival$id").take(4), 16) % 100 < 10)
            (java.lang.Long.parseLong(md5hex(s"graft-delay$id").take(4), 16) % 7200) * 1000000L
          else 0L
        (id, micros(r.get(1)) - delay)
      }.sortBy(_._1)
    var pm = Long.MinValue
    val late = ev.map { case (_, us) => pm = math.max(pm, us); pm - us }
    val bounds = Seq(("10_minutes", 600000000L), ("1_hour", 3600000000L),
      ("1_minute", 60000000L))
    val expected = bounds.map { case (b, bus) =>
      val n = late.count(_ > bus).toLong
      (b, ev.length.toLong, n, n * 1000000L / ev.length)
    }.sortBy(_._1)
    val got = SparkEntry.queries("lateness_audit")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    got shouldEqual expected
    // tighter watermarks drop at least as much as looser ones, and the
    // planted 10% late population is actually exercised
    val drops = got.map(g => g._1 -> g._3).toMap
    assert(drops("1_minute") >= drops("10_minutes"))
    assert(drops("10_minutes") >= drops("1_hour"))
    assert(drops("1_minute") > 0)
  }

  test("copurchase_pairs matches a naive basket cross-count") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = li.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSeq
    val expected = pairs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((a, b), n) => (a, b, n) }
      .sortBy(p => (-p._3, p._1, p._2)).take(20)
    val got = SparkEntry.queries("copurchase_pairs")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldEqual expected
    // pairs are canonical (p1 < p2) and counts positive
    got.foreach { p => assert(p._1 < p._2); assert(p._3 >= 1L) }
  }

  test("conversion_latency matches a naive latest-prior-view scan") {
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case t: java.time.LocalDateTime =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case other => sys.error(s"unexpected ts: $other")
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), micros(r.get(1)), r.getLong(2), r.getString(3)))
    val delays = ev.filter(_._4 == "purchase").flatMap { p =>
      val prior = ev.filter(e => e._4 == "view" && e._1 == p._1 && e._2 <= p._2)
      if (prior.isEmpty) None else Some((p._2 - prior.map(_._2).max, p._3))
    }.sortBy(d => (d._1, d._2))
    val n = delays.length
    val medianUs = (delays((n + 1) / 2 - 1)._1 + delays((n + 2) / 2 - 1)._1) /
      (if (n % 2 == 0) 2 else 2) // sum of the (coinciding) mid rows / count
    val expectedMedianUs =
      if (n % 2 == 1) delays((n + 1) / 2 - 1)._1
      else (delays(n / 2 - 1)._1 + delays(n / 2)._1) / 2
    val p90Us = delays((n * 9 + 9) / 10 - 1)._1
    val got = SparkEntry.queries("conversion_latency")(spark, "/root/testdata/sf0.001")
      .collect().head
    got.getLong(0) shouldEqual n.toLong
    got.getLong(1) shouldEqual expectedMedianUs / 1000000L
    got.getLong(2) shouldEqual p90Us / 1000000L
    medianUs shouldEqual expectedMedianUs // the div-by-count form agrees
    // latency is a real distribution here: the p90 dominates the median
    assert(got.getLong(2) >= got.getLong(1))
  }

  test("decayed_engagement matches a naive shifted-weight fold") {
    def dayOf(v: Any): java.time.LocalDate = v match {
      case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
      case t: java.time.LocalDateTime => t.toLocalDate
      case other => sys.error(s"unexpected ts: $other")
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "ts", "value").collect()
      .map(r => (r.getString(0), dayOf(r.get(1)),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact))
    val ref = ev.map(_._2).maxBy(_.toEpochDay)
    val expected = ev.groupBy(_._1).toSeq.map { case (t, vs) =>
      val ws = vs.map { case (_, day, cents) =>
        val age = java.time.temporal.ChronoUnit.DAYS.between(day.atStartOfDay, ref.atStartOfDay)
        val w = if (age <= 30) 1L << (30 - age).toInt else 0L
        (cents, w)
      }
      val s = ws.map { case (c, w) => BigInt(c) * w }.sum
      (t, vs.length.toLong, ws.count(_._2 > 0).toLong, (s / (1L << 30)).toLong)
    }.sortBy(_._1)
    val got = SparkEntry.queries("decayed_engagement")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    got shouldEqual expected
    // the horizon is real on this span: some events are recent (w > 0)
    assert(got.exists(_._3 > 0))
  }

  test("event_transitions matches a naive per-user sequential scan") {
    def millis(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime
      case t: java.time.LocalDateTime =>
        t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => sys.error(s"unexpected ts: $other")
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), millis(r.get(1)), r.getLong(2), r.getString(3)))
    val pairs = ev.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._2, e._3)).sliding(2).collect {
        case Array(a, b) if b._2 <= a._2 + 30 * 60 * 1000 => (a._4, b._4)
      }
    }.toSeq
    val counts = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totals = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expected = counts.toSeq.map { case ((f, t), n) =>
      (f, t, n, totals(f), n * 1000000L / totals(f))
    }.sortBy(p => (p._1, p._2))
    val got = SparkEntry.queries("event_transitions")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    got shouldEqual expected
    // per-from probabilities sum to ~1 (fixed-point floor loses < |types| ppm)
    got.groupBy(_._1).values.foreach { rs =>
      val s = rs.map(_._5).sum
      assert(s > 1000000L - rs.length && s <= 1000000L)
    }
  }
}
