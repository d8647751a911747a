package graft


/** X-161 paragraph_dedup / X-162 boilerplate_strip pinned against an
  * independent plain-Scala reference implementation over the sf0.001
  * corpus, plus non-vacuity assertions (the corpus plants duplicate
  * chunks — the ops must actually drop/strip something here). */
class ParagraphOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val P = 15

  /** (docId, chunkId, clen, hash) for every non-overlapping 15-token
    * chunk — the same arithmetic as the registered lineage, written
    * independently. */
  private lazy val allChunks: Seq[(Long, Int, Int, String)] = {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").trim.replaceAll("\\s+", " ").split(" ", -1).toSeq)
    docs.flatMap { case (id, toks) =>
      val nChunks = 1 + (math.max(toks.size - P, 0) + P - 1) / P
      (0 until nChunks).map { c =>
        val ch = toks.slice(c * P, c * P + P)
        (id, c, ch.size, md5hex(ch.mkString(" ")))
      }
    }.toSeq
  }

  test("paragraph_dedup matches a plain-Scala first-occurrence dedup and drops planted dups") {
    val keepOrd = allChunks.groupBy(_._4).map { case (h, cs) =>
      h -> cs.map(c => c._1 * 1000000L + c._2).min
    }
    val expected = allChunks.groupBy(_._1).map { case (id, cs) =>
      val kept = cs.filter(c => c._1 * 1000000L + c._2 == keepOrd(c._4))
      val nTok = cs.map(_._3.toLong).sum
      val keptTok = kept.map(_._3.toLong).sum
      (id, cs.size, kept.size, nTok, keptTok,
        math.floor(keptTok.toDouble * 1000 / nTok).toLong)
    }.toSeq.sortBy(_._1)
    val got = q("paragraph_dedup").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    got shouldEqual expected
    // non-vacuous: some doc loses a chunk to an earlier occurrence
    got.exists(r => r._3 < r._2) shouldBe true
    // the first occurrence of every hash is always kept: totals add up
    got.map(_._3.toLong).sum shouldEqual keepOrd.size.toLong
  }

  test("boilerplate_strip matches a plain-Scala >=3-distinct-doc template strip, including the first occurrence") {
    val nDocs = allChunks.groupBy(_._4).map { case (h, cs) =>
      h -> cs.map(_._1).distinct.size
    }
    val expected = allChunks.groupBy(_._1).map { case (id, cs) =>
      val bp = cs.filter(c => nDocs(c._4) >= 3)
      val nTok = cs.map(_._3.toLong).sum
      val cleanTok = cs.filter(c => nDocs(c._4) < 3).map(_._3.toLong).sum
      (id, cs.size, bp.size, nTok, cleanTok, bp.isEmpty)
    }.toSeq.sortBy(_._1)
    val got = q("boilerplate_strip").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    got shouldEqual expected
    // non-vacuous: the corpus plants >=3-doc template chunks
    got.exists(r => r._3 > 0) shouldBe true
    // unlike X-161, ALL occurrences of a template hash are stripped —
    // stripped-chunk mass equals the full occurrence count of every
    // boilerplate hash, not occurrences-minus-one
    val bpHashes = nDocs.filter(_._2 >= 3).keySet
    got.map(_._3.toLong).sum shouldEqual
      allChunks.count(c => bpHashes(c._4)).toLong
  }
}
