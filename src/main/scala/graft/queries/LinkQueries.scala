package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{LinkSelection, Scratch, UrlOps}

/** Link-selection pipeline + URL functions (F-6/F-7/F-8, P-2..P-4,
  * T-1..T-3) over a deterministic candidate frame derived from
  * `documents` — the testdata has no real URLs, so we synthesize them
  * reproducibly (pure column expressions, mirrored in the oracle SQL).
  *
  * The registered query scores with word-soup-adapted keywords so the
  * score distribution is non-trivial on this data; the reference's exact
  * keyword list and semantics are pinned in LinkSelectionSpec.
  */
object LinkQueries extends QueryModule {

  /** Keywords that actually occur in the synthetic corpus. */
  val SoupKeywords: Seq[String] = Seq(
    "table", "join", "query", "group", "customer",
    "row", "filter", "scan", "data", "value")

  /** Candidate link frame: one candidate per document. ~1/17 have a NULL
    * href (exercises P-2), ~1/5 are off-domain (exercises P-3). */
  def candidates(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("source").as("company"),
      concat(lit("https://www."), col("source"), lit(".example.com")).as("website"),
      when(col("doc_id") % 17 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 5 === 0, lit("https://external.example.org/offsite"))
        .otherwise(concat(lit("/"), col("lang"), lit("/p"), col("doc_id")))
        .as("href"),
      substring(col("text"), 1, 60).as("anchor_text"))

  private val candidatesSql =
    """SELECT source AS company,
      |       'https://www.' || source || '.example.com' AS website,
      |       CASE WHEN doc_id % 17 = 0 THEN NULL
      |            WHEN doc_id % 5 = 0 THEN 'https://external.example.org/offsite'
      |            ELSE '/' || lang || '/p' || doc_id END AS href,
      |       substr(text, 1, 60) AS anchor_text
      |FROM documents""".stripMargin

  /** F-8 as SQL, kept in sync with LinkSelection.keywordScore. */
  private def scoreSql(anchor: String, url: String, kws: Seq[String]): String =
    kws.map { k =>
      s"(CASE WHEN contains($anchor, '$k') THEN 2 ELSE 0 END + " +
        s"CASE WHEN contains(lower($url), '$k') THEN 3 ELSE 0 END)"
    }.mkString(" + ")

  def defs: Map[String, Q] = Map(
    // Full pipeline: null-filter → urljoin → same-domain → score → >0 →
    // dedup → per-company top-3.
    "link_topk" -> ((s, d) =>
      LinkSelection.selectLinks(candidates(s, d), k = 3, keywords = SoupKeywords)
        .orderBy("company", "rk")),

    // F-7: host extraction via parse_url (no UDF).
    "url_host" -> ((s, d) =>
      candidates(s, d).select(col("company"), col("website"),
          UrlOps.host(col("website")).as("host"))
        .distinct()
        .orderBy("company")),

    // PageRank over the document link graph (X-52): the iterative
    // graph op next to connected components, 3 unrolled power
    // iterations at damping 0.85. The graph is synthesized
    // deterministically — each doc links to 3 hash-derived targets,
    // EXCEPT every 7th doc, which emits nothing: a SINK. Sinks are
    // what make the dangling-mass term real — without it, their rank
    // would simply vanish each hop and Σrank would decay ~12%/round
    // on this graph. The operator shape is the production one: the
    // edge list is materialized once and pre-partitioned on src
    // exactly like the CC loop (it is consumed by every iteration's
    // join); each round materializes its rank frame (consumed twice —
    // contributions + dangling sum — and real deployments run tens of
    // rounds, so lineage must stay flat); contributions aggregate per
    // dst; the dangling mass is ONE tiny aggregate broadcast to all
    // nodes; no-inbound nodes pick up base + dangling share via left
    // join. All arithmetic is integer fixed-point (rank·1e12,
    // truncating div on non-negative operands) so three rounds of
    // mass-splitting reproduce bit-identically in both engines.
    "link_pagerank" -> ((s, d) => {
      val Scale = 1000000000000L
      val docs = Tables.documents(s, d).select("doc_id")
      val stats = docs.agg(count(lit(1)).as("n"))
      val edges = linkEdges(s, d)
      def iterate(rIn: DataFrame): DataFrame = {
        val r = Scratch.cut(rIn)
        val contrib = edges.join(r, edges("src") === r("doc_id"))
          .select(col("dst"), expr("r div 3").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("dsum"))
        // the rank mass sitting on sink nodes this round, spread
        // evenly over all n nodes (the standard dangling-node term)
        val dangling = r.filter(col("doc_id") % 7 === 0)
          .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
        docs.crossJoin(broadcast(stats)).crossJoin(broadcast(dangling))
          .join(contrib, docs("doc_id") === contrib("dst"), "left_outer")
          .select(col("doc_id"),
            expr(s"(($Scale div n) * 15) div 100 " +
              "+ (coalesce(dsum, 0L) + dmass div n) * 85 div 100").as("r"))
      }
      val r0 = docs.crossJoin(broadcast(stats))
        .select(col("doc_id"), expr(s"$Scale div n").as("r"))
      val r3 = iterate(iterate(iterate(r0)))
      r3.select(col("doc_id"), col("r").as("rank_fx"),
          (col("r").cast("double") / Scale).as("rank"))
        .orderBy("doc_id")
    }),

    // Triangle counting + local clustering coefficient (X-82) over the
    // same synthesized link graph as PageRank — the third classic graph
    // op beside CC and PageRank, and the textbook "curse of the last
    // reducer" case (Suri & Vassilvitskii, WWW'11): naive wedge
    // enumeration generates Σ deg² candidates, so one celebrity node
    // melts its task at corpus scale. The scale-safe shape is
    // DEGREE-ORDERED ORIENTATION: orient every undirected edge toward
    // its (degree, id)-larger endpoint, enumerate wedges only from each
    // node's ORIENTED out-neighbors (out-degree is O(√m) after
    // orientation, so wedges are O(m^1.5) total regardless of skew),
    // and close each wedge with one equi-join back against the oriented
    // edge list. Each triangle is found exactly once. The undirected
    // edge list is materialized once (the CC recipe — it feeds degree
    // counting and both orientation joins); the oriented frame's two
    // wedge-side uses share one exchange.
    "link_triangles" -> ((s, d) => {
      val raw = linkEdgesRaw(s, d)
      val und = Scratch.cut(
        raw.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct())
      val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val aLtB = und
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .withColumn("fwd",
          col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      // (u, v, dv): u → v with (deg(u), u) < (deg(v), v)
      val oriented = aLtB.select(
        when(col("fwd"), col("a")).otherwise(col("b")).as("u"),
        when(col("fwd"), col("b")).otherwise(col("a")).as("v"),
        when(col("fwd"), col("db")).otherwise(col("da")).as("dv"))
      // wedges u → {t2, t3} with order(t2) < order(t3); closing edge,
      // if present, is oriented t2 → t3 by transitivity of the order
      val wedges = oriented.as("x").join(oriented.as("y"),
          col("x.u") === col("y.u") &&
            (col("x.dv") < col("y.dv") ||
              (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
        .select(col("x.u").as("t1"), col("x.v").as("t2"), col("y.v").as("t3"))
      val tri = wedges.join(
        oriented.select(col("u").as("t2"), col("v").as("t3")), Seq("t2", "t3"))
      val tc = tri.select(explode(array(col("t1"), col("t2"), col("t3"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      deg.join(tc, Seq("node"), "left")
        .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
        .withColumn("cc_fx", expr(
          "CASE WHEN deg >= 2 THEN (2 * n_triangles * 1000000) div (deg * (deg - 1)) ELSE 0 END"))
        .select(col("node"), col("deg").as("degree"),
          col("n_triangles"), col("cc_fx"))
        .orderBy("node")
    }),

    // HITS hubs & authorities (X-111, Kleinberg, JACM'99) over the
    // same synthesized link graph — the query-independent ranking pair
    // next to PageRank (X-52): a good HUB points at good authorities,
    // a good AUTHORITY is pointed at by good hubs. Two unrolled
    // mutual-reinforcement rounds; where the textbook normalizes by
    // the L2 norm (a sqrt no two engines compute bit-identically),
    // scores are normalized by the MAX (L∞) in integer fixed point —
    // score·10⁶ div max, truncating division of non-negative longs,
    // so both engines reproduce every intermediate exactly and the
    // ranking is unchanged (normalization only rescales). Scale shape
    // = the PageRank recipe: edge list materialized once and
    // pre-partitioned on src; each round's score frame materialized
    // (consumed by the max aggregate AND the next join, and real runs
    // iterate to convergence, so lineage must stay flat); per-round
    // cost is two key joins + two aggregates + a 1-row max broadcast.
    // Sinks (no outlinks) get hub 0; no-inbound docs get authority 0
    // — kept via left join, never silently dropped.
    "link_hits" -> ((s, d) => {
      val F = 1000000L
      val docs = Tables.documents(s, d).select("doc_id")
      val edges = linkEdges(s, d)
      def normalized(scoresIn: DataFrame, c: String): DataFrame = {
        // scores MATERIALIZED before the max: both the 1-row max
        // aggregate and the rescale join consume it, and without the
        // cut the round's edges-join + aggregation lineage executes
        // twice (4 joins + 4 aggregates per round instead of the
        // stated 2 + 2)
        val scores = Scratch.cut(scoresIn)
        val m = scores.agg(max(col(c)).as("mx"))
        scores.crossJoin(broadcast(m))
          // mx = 0 on an edgeless graph (every score 0) — ANSI mode
          // makes the div a hard DIVIDE_BY_ZERO crash, so the zero
          // fixed point is spelled out (oracle carries the same CASE)
          .select(col("doc_id"),
            expr(s"CASE WHEN mx = 0 THEN 0L ELSE ($c * ${F}L) div mx END").as(c))
      }
      def round(aPrev: DataFrame): (DataFrame, DataFrame) = {
        val a = Scratch.cut(aPrev)
        val hRaw = edges.join(a, edges("dst") === a("doc_id"))
          .groupBy("src").agg(sum(col("a")).as("h"))
        val h = Scratch.cut(normalized(
          docs.join(hRaw, docs("doc_id") === hRaw("src"), "left_outer")
            .select(docs("doc_id"), coalesce(col("h"), lit(0L)).as("h")), "h"))
        val aRaw = edges.join(h, edges("src") === h("doc_id"))
          .groupBy("dst").agg(sum(col("h")).as("a"))
        val aNext = normalized(
          docs.join(aRaw, docs("doc_id") === aRaw("dst"), "left_outer")
            .select(docs("doc_id"), coalesce(col("a"), lit(0L)).as("a")), "a")
        (h, aNext)
      }
      val a0 = docs.select(col("doc_id"), lit(F).as("a"))
      val (_, a1) = round(a0)
      val (h2, a2) = round(a1)
      h2.join(a2, Seq("doc_id"))
        .select(col("doc_id"), col("h").as("hub_fx"), col("a").as("auth_fx"),
          (col("h").cast("double") / F).as("hub"),
          (col("a").cast("double") / F).as("auth"))
        .orderBy("doc_id")
    }),

    // Label-propagation community detection (X-141, Raghavan et al.
    // 2007, Phys. Rev. E 76:036106) over the same synthesized link
    // graph — the COMMUNITY op beside connectivity (X-32 CC merges
    // everything reachable) and centrality (X-52/X-111 rank nodes):
    // LPA finds locally dense neighborhoods by majority vote. The
    // textbook's asynchronous random-order sweep is not reproducible
    // across engines, so this is the SYNCHRONOUS variant with a total
    // tie rule — each round every node adopts the label occurring most
    // among its neighbors, ties to the LOWEST label — making the
    // result exact and oracle-mirrorable. Two unrolled rounds. Scale
    // shape: undirected simple-graph view derived once from the shared
    // edge synthesis and MATERIALIZED pre-partitioned on the probe key
    // (the CC recipe); per round ONE key join + a (node, label) count
    // + a per-node struct-min argmax (two hash aggregates — never a
    // window over the raw join); each round's label frame is
    // materialized because the next round consumes it twice (neighbor
    // join + isolated-node fallback). Isolated nodes keep their own
    // label; the community-size join-back keys on the label (community
    // count grows with the corpus — never hinted).
    "label_propagation" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id")
      val und = linkUndirected(s, d)
      def round(prevIn: DataFrame): DataFrame = {
        val prev = Scratch.cut(prevIn)
        val vote = und.join(prev, und("b") === prev("doc_id"))
          .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("a"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
          .select(col("a"), col("m.l").as("nlabel"))
        prev.join(vote, prev("doc_id") === vote("a"), "left_outer")
          .select(prev("doc_id"),
            coalesce(col("nlabel"), prev("label")).as("label"))
      }
      val l0 = docs.select(col("doc_id"), col("doc_id").as("label"))
      val lab = Scratch.cut(round(round(l0)))
      val sizes = lab.groupBy("label").agg(count(lit(1)).as("community_size"))
      lab.join(sizes, "label")
        .select(col("doc_id"), col("label"), col("community_size"))
        .orderBy("doc_id")
    }),

    // k-core peeling layers (X-148, Batagelj & Zaveršnik 2003's
    // peeling process / the "onion decomposition" of Hébert-Dufresne
    // et al. 2016) over the same synthesized link graph — the
    // DEGENERACY member of the graph family (connectivity X-32,
    // centrality X-52/X-111, density X-82/X-141, traversal X-144,
    // shortest path X-146): each round simultaneously removes every
    // node whose degree in the SURVIVING subgraph is < K, and a
    // node's label is the round it was peeled. null means "not
    // peeled within the 6 unrolled rounds" — NOT unconditionally
    // "K-core member": on a larger or differently-shaped graph the
    // cascade can still be running after 6 rounds. The per-row
    // `converged` flag certifies the peel finished (round 6 peeled
    // nobody — the alive set is stable — OR nobody survived, both
    // read off the materialized label frame); when true, null =
    // K-core member; when false, null = survived an unfinished
    // peel, and consumers must not read core membership into it.
    // On this corpus round 6 peels the last 9 nodes and nobody
    // survives, so converged = true. K=5 on this graph
    // drives a genuine multi-round cascade (500 → 428 → 347 → 227 →
    // 85 → 9 → 0 at sf0.001) — removals lower neighbors' degrees,
    // which is the point of peeling vs a one-shot degree filter. Six
    // unrolled rounds, deterministic per round. Scale shape: the
    // LPA simple-graph view, materialized pre-partitioned on the
    // probe key; per round TWO alive-set equi-joins against it + one
    // count aggregate + one null-safe split, the alive frame
    // materialized (it feeds both joins AND the split); every join
    // shrinks with the cascade.
    "kcore_peel" -> ((s, d) => {
      val K = 5
      val docs = Tables.documents(s, d).select("doc_id")
      val und = linkUndirected(s, d)
      def round(aliveIn: DataFrame, r: Int): (DataFrame, DataFrame) = {
        val alive = Scratch.cut(aliveIn)
        val deg = und
          .join(alive.select(col("node").as("na")), col("a") === col("na"))
          .join(alive.select(col("node").as("nb")), col("b") === col("nb"))
          .groupBy(col("a")).agg(count(lit(1)).as("deg"))
        val wd = alive.join(deg, alive("node") === deg("a"), "left_outer")
          .select(alive("node"), coalesce(col("deg"), lit(0L)).as("deg"))
        (wd.filter(col("deg") >= K).select("node"),
          wd.filter(col("deg") < K)
            .select(col("node"), lit(r).as("peel_round")))
      }
      val a0 = docs.select(col("doc_id").as("node"))
      val (aliveN, peels) = (1 to 6).foldLeft((a0, Seq.empty[DataFrame])) {
        case ((alive, acc), r) =>
          val (nxt, peeled) = round(alive, r)
          (nxt, acc :+ peeled)
      }
      val labeled = Scratch.cut(
        peels.reduce(_ unionByName _)
          .unionByName(aliveN.select(col("node"),
            lit(null).cast("int").as("peel_round"))))
      // 1-row convergence probe over the materialized frame: the
      // alive set is stable (round 6 peeled nobody) or empty ⇒ a
      // hypothetical round 7 would peel nobody ⇒ the peel finished
      val conv = labeled.agg(
        (count(when(col("peel_round") === 6, lit(1))) === 0 ||
          count(when(col("peel_round").isNull, lit(1))) === 0).as("converged"))
      labeled.crossJoin(broadcast(conv))
        .select(col("node").as("doc_id"), col("peel_round"), col("converged"))
        .orderBy("doc_id")
    }),

    // Anchor-text aggregation per target page (X-154) — the classic
    // web-graph ranking signal (Brin & Page 1998 §2.2: anchors
    // describe the TARGET better than its own body; every crawl/
    // search pipeline aggregates them): each non-sink doc emits 3
    // anchored links to hash-derived targets (the linkEdgesRaw
    // recipe, keeping j for the 6-cycle anchor rotation); the target
    // URL derives from the TARGET doc's identity via one equi-join —
    // distinct target docs sharing (source, lang, tgt%5) collapse to
    // one page, so the per-URL aggregation is real fan-in, not 1:1.
    // Per page: incoming-link count, distinct linking sources,
    // distinct anchor texts, and the majority anchor (ties to the
    // lexicographically smallest — deterministic). Scale shape: the
    // link-synthesis + target-join lineage collapses ONCE into a
    // materialized per-(url, src, anchor) rollup; every downstream
    // frame (per-anchor counts, totals + distinct sources, top-1
    // window, anchor-distinct count) is a cheap aggregate over that
    // checkpointed frame, so the heavy lineage executes exactly
    // once; the window partitions on the data-bound url key — never
    // a global sort (partial aggregation keeps the map side bounded).
    "anchor_text_agg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("lang"))
      val stats = docs.agg(count(lit(1)).as("n"))
      val links = docs.select(col("doc_id").as("src")).crossJoin(broadcast(stats))
        .filter(col("src") % 7 =!= 0)
        .select(col("src"), explode(array((1 to 3).map(j =>
          struct(((col("src") * 31 + j * 97) % col("n")).as("tgt"),
            ((col("src") + j) % 6).cast("int").as("a6"))): _*)).as("e"))
        .select(col("src"), col("e.tgt").as("tgt"),
          element_at(array(CapstoneAnchors.map(lit): _*), col("e.a6") + 1).as("anchor"))
      val urls = links.join(docs.withColumnRenamed("doc_id", "tgt"), Seq("tgt"))
        .select(col("src"), col("anchor"),
          concat(lit("https://www."), col("source"), lit(".example.com/"),
            col("lang"), lit("/p"), (col("tgt") % 5).cast("string")).as("url"))
      val usa = Scratch.cut(
        urls.groupBy("url", "src", "anchor").agg(count(lit(1)).as("n")))
      val pa = usa.groupBy("url", "anchor").agg(sum(col("n")).as("n_a"))
      val tot = usa.groupBy("url").agg(sum(col("n")).as("n_links"),
        countDistinct(col("src")).as("n_sources"))
      val top = pa.withColumn("rk", row_number().over(
          Window.partitionBy("url").orderBy(col("n_a").desc, col("anchor"))))
        .filter(col("rk") === 1)
        .select(col("url"), col("anchor").as("top_anchor"),
          col("n_a").as("top_anchor_n"))
      val na = pa.groupBy("url").agg(count(lit(1)).as("n_anchors"))
      tot.join(top, Seq("url")).join(na, Seq("url"))
        .select("url", "n_links", "n_sources", "n_anchors",
          "top_anchor", "top_anchor_n")
        .orderBy("url")
    }),

    // Link prediction by common neighbors + resource allocation
    // (X-152, Liben-Nowell & Kleinberg 2003; RA index Zhou–Lü–Zhang
    // 2009) over the same simple-graph view — the LINK-PREDICTION
    // member of the graph family: for every non-adjacent pair within
    // two hops, cn = |N(a)∩N(b)| and ra = Σ_{z∈N(a)∩N(b)} 1/deg(z).
    // RA beats Adamic–Adar here because 1/deg is EXACT in fixed point
    // (10⁶ div deg, summed as BIGINT — the hash-compare discipline;
    // 1/ln(deg) is not). Candidates enumerate over the MIDDLE node z
    // (pairs of z's neighbors), so the work is Σ deg(z)²/2 — bounded
    // by the DegCap=64 gate that drops hub middles, the standard
    // two-hop blow-up control (a web-scale hub would otherwise emit
    // deg² pairs; its evidence is weak anyway: 1/deg ≈ 0). Existing
    // edges leave via one left-anti join on the undirected pair view;
    // cn ≥ 2 keeps the report non-trivial. Scale shape: the
    // materialized pre-partitioned edge view feeds degree count,
    // candidate self-join (equi-join on z), and the anti join — one
    // build, three bounded consumers.
    "link_prediction" -> ((s, d) => {
      val DegCap = 64
      val und = linkUndirected(s, d)
      val deg = und.groupBy(col("a").as("z")).agg(count(lit(1)).as("deg"))
      val mids = und.join(deg, col("a") === col("z"))
        .filter(col("deg") <= DegCap)
        .select(col("z"), col("b").as("nb"),
          expr("CAST(1000000 DIV deg AS BIGINT)").as("ra_part"))
      val scored = mids.as("x").join(mids.as("y"),
          col("x.z") === col("y.z") && col("x.nb") < col("y.nb"))
        .select(col("x.nb").as("a"), col("y.nb").as("b"), col("x.ra_part"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("cn"), sum(col("ra_part")).as("ra_fx"))
      scored
        .join(und.filter(col("a") < col("b")), Seq("a", "b"), "left_anti")
        .filter(col("cn") >= 2)
        .select("a", "b", "cn", "ra_fx")
        .orderBy("a", "b")
    }),

    // Multi-source BFS distance labeling (X-146) over the same
    // synthesized link graph — the SHORTEST-PATH member of the graph
    // family (connectivity X-32, centrality X-52/X-111, density
    // X-82/X-141, traversal X-144): hop distance from the seed set
    // {doc_id < 5} following DIRECTED edges, the "crawl depth from the
    // seed list" every frontier scheduler reasons about. Three
    // unrolled level-synchronous relaxation rounds (the Bellman-Ford
    // step specialized to unit weights): dist_t(v) = min(dist_{t-1}(v),
    // 1 + min over in-edges of dist_{t-1}(u)); nodes unreached within
    // 3 hops report null, never drop. Scale shape = the PageRank
    // recipe: one key join against the materialized src-partitioned
    // edge list + one min-aggregate per round; per-round label frames
    // materialized (each feeds the join AND the union). Duplicate
    // edges are harmless under min — the raw synthesis needs no dedup
    // pass.
    "bfs_distances" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id")
      val edges = linkEdges(s, d)
      def relax(prevIn: DataFrame): DataFrame = {
        val prev = Scratch.cut(prevIn)
        val cand = edges.join(prev, edges("src") === prev("node"))
          .select(col("dst").as("node"), (col("hops") + 1L).as("hops"))
        prev.select("node", "hops").unionByName(cand)
          .groupBy("node").agg(min(col("hops")).as("hops"))
      }
      val d0 = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("node"), lit(0L).as("hops"))
      val d3 = (1 to 3).foldLeft(d0)((acc, _) => relax(acc))
      docs.join(d3, docs("doc_id") === d3("node"), "left_outer")
        .select(col("doc_id"), col("hops"))
        .orderBy("doc_id")
    }),

    // Deterministic random-walk corpus generation (X-144, DeepWalk —
    // Perozzi et al. 2014, KDD; node2vec's p=q=1 case) over the same
    // synthesized link graph: the graph→sequence data-prep op that
    // turns an edge list into the "sentences" a skip-gram embedding
    // trainer consumes. One length-4 walk per start node; step t's
    // neighbor pick is an md5 draw on (start, t) mod out-degree —
    // deterministic (rand() would re-corpus every run) and
    // oracle-mirrorable; dead ends (sink nodes) truncate the walk with
    // nulls rather than dropping the row. Scale shape: the sorted
    // adjacency frame is built once (one hash aggregate), MATERIALIZED
    // and pre-partitioned on the probe key; each step is ONE left
    // equi-join against it on the data-bound current-node key — L
    // joins total, shuffle ∝ walks, never degree². Walks fan out from
    // EVERY node, so output rows = |V| regardless of skew.
    "random_walks" -> ((s, d) => {
      val adj = Scratch.cut(
        linkEdgesRaw(s, d).distinct()
          .groupBy(col("src"))
          .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
          .withColumn("deg", size(col("nbrs")).cast("long"))
          .repartition(col("src")))
      def step(w: DataFrame, t: Int): DataFrame = {
        val pick = expr(
          s"CAST(conv(substring(md5(concat('graft-walk', CAST(start AS STRING), '|$t')), 1, 4), 16, 10) AS BIGINT)")
        w.join(adj, w("cur") === adj("src"), "left_outer")
          .withColumn(s"s$t",
            element_at(col("nbrs"), (pick % col("deg")).cast("int") + 1))
          .drop("src", "nbrs", "deg", "cur")
          .withColumn("cur", col(s"s$t"))
      }
      val w0 = Tables.documents(s, d)
        .select(col("doc_id").as("start"), col("doc_id").as("cur"))
      val walked = (1 to 4).foldLeft(w0)(step)
      walked.select("start", "s1", "s2", "s3", "s4").orderBy("start")
    }),

    // S-4: link scan as row explosion — each document yields its <a>
    // elements (href + anchor) as rows, the operator feeding P-2..P-4
    // (/root/reference/app.py:147-155). Links are synthesized
    // deterministically since the corpus has no markup.
    "link_scan" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          posexplode(sequence(lit(0), lit(2))).as(Seq("link_idx", "i")))
        .select(col("doc_id"), col("link_idx"),
          concat(lit("/"), col("lang"), lit("/p"), col("doc_id"),
            lit("/"), col("link_idx")).as("href"))
        .orderBy("doc_id", "link_idx")),

    // 2-hop neighbor feature aggregation (X-116): the GraphSAGE-style
    // message-passing round a graph-ML pipeline runs to featurize
    // nodes from their neighborhood — h1(v) = floor-mean of in-
    // neighbors' features, h2(v) = the same aggregation over h1 (so h2
    // summarizes the 2-hop neighborhood). Same synthesized link graph
    // as PageRank (1-in-7 sinks). Scale shape: the edge list is
    // MATERIALIZED once pre-partitioned on src (the CC recipe), each
    // hop is one key join + one hash aggregate on data-bound keys, and
    // h1 is materialized between hops — hop 2 re-embeds h1's
    // join+aggregate lineage otherwise (the ivf/kmeans discipline).
    // No-inbound nodes fall back to their own feature (the standard
    // self-loop fallback), exactly mirrored in the oracle. All
    // arithmetic is long sums + one floor division per hop (operands
    // non-negative, so floor = both engines' truncation).
    "neighbor_features" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val edges = linkEdges(s, d)
      def hop(h: DataFrame, valCol: String): DataFrame =
        edges.join(h, edges("src") === h("doc_id"))
          .groupBy("dst")
          .agg(count(lit(1)).as("indeg"), sum(col(valCol)).as("s"))
      val a1 = hop(docs, "n_chars")
      val h1 = Scratch.cut(
        docs.join(a1, docs("doc_id") === a1("dst"), "left_outer")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("indeg"), lit(0L)).as("in_deg"),
            coalesce(expr("s div indeg"), col("n_chars")).as("h1")))
      val a2 = hop(h1, "h1")
      h1.join(a2, h1("doc_id") === a2("dst"), "left_outer")
        .select(col("doc_id"), col("n_chars"), col("in_deg"), col("h1"),
          coalesce(expr("s div indeg"), col("h1")).as("h2"))
        .orderBy("doc_id")
    }),

    // X-132: canonical-URL dedup — the crawl-frontier "seen this page?"
    // operator. The testdata has no URLs, so variants are synthesized
    // deterministically from documents (case-shifted host, :443, a
    // trailing slash, a KEPT ?page= param, a stripped utm_source, a
    // fragment — every axis UrlOps.canonicalize normalizes, plus the
    // doc_id%5 path key that makes distinct docs genuinely collide).
    // Plan: per-row projection chain + one hash aggregate — no join, no
    // window; at 100 TB this is a single map+combine pass.
    "url_canonical_dedup" -> ((s, d) => {
      val did = col("doc_id")
      val u = Tables.documents(s, d).select(did,
        concat(
          lit("https://"),
          when(did % 5 === 0,
            concat(lit("WWW."), upper(col("source")), lit(".Example.com")))
            .otherwise(concat(lit("www."), col("source"), lit(".example.com"))),
          when(did % 7 === 0, lit(":443")).otherwise(lit("")),
          lit("/"), col("lang"), lit("/p"), (did % 5).cast("string"),
          when(did % 3 === 0, lit("/")).otherwise(lit("")),
          when(did % 4 === 0, concat(lit("?page="), (did % 2).cast("string")))
            .otherwise(lit("")),
          when(did % 2 === 0,
            concat(when(did % 4 === 0, lit("&")).otherwise(lit("?")),
              lit("utm_source=s"), (did % 3).cast("string")))
            .otherwise(lit("")),
          when(did % 6 === 0, concat(lit("#sec"), (did % 4).cast("string")))
            .otherwise(lit(""))).as("url"))
      u.withColumn("canon", UrlOps.canonicalize(col("url")))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_variants"),
          min(col("doc_id")).as("keep_doc"))
        .orderBy("canon")
    }),

    // X-133: robots.txt rule filtering — the crawl-governance gate
    // every fetch pipeline runs BEFORE WebFetch/graft-web touches a
    // URL. Disallow-prefix semantics with LONGEST-match reporting (the
    // REP convention when rules overlap); allow-by-default. Rules and
    // frontier are both synthesized deterministically (no robots.txt
    // corpus in the testdata): every host disallows /private/, hosts
    // with srcN%3∈{0,1} additionally disallow one language subtree.
    // Scale shape: the rules frame is |hosts|·|rules| — web-scale that
    // is millions of rows, NOT broadcastable, so the match is a plain
    // host equi-join (hash shuffle, AQE-skew-safe) + per-URL max
    // aggregation; prefix match via length-bounded substring equality
    // (portable to DuckDB, no LIKE-escape hazards).
    "robots_filter" -> ((s, d) => {
      val fr = frontier(s, d)
      val rules = robotsRules(s, d)
      val matched = fr.join(rules, Seq("host"), "left_outer")
        .withColumn("hit",
          substring(col("path"), lit(1), length(col("rule"))) === col("rule"))
      matched.groupBy("doc_id", "host", "path")
        .agg(max(when(col("hit"),
          struct(length(col("rule")).as("l"), col("rule").as("r")))).as("m"))
        .select(col("doc_id"), col("host"), col("path"),
          col("m").isNotNull.as("blocked"), col("m.r").as("rule"))
        .orderBy("doc_id")
    }),

    // X-135: FULL RFC 9309 precedence gate — Allow and Disallow rules,
    // most-specific (longest) match wins, Allow wins length ties
    // (§2.2.2); allow-by-default when nothing matches. This upgrades
    // the X-133 disallow-only gate (reference parity) to what real
    // crawl governance needs: carve-outs like "Disallow: /private/,
    // Allow: /private/pub/" are the dominant real-world robots idiom.
    // The decision is ONE struct-max per URL over (rule length,
    // allow-bit, rule) — lexicographic max implements the precedence
    // exactly, with the rule string as the deterministic last tiebreak.
    // Same scale shape as X-133: host equi-join (rules frame is
    // |hosts|·|rules| — never broadcast-hinted), per-URL max aggregate.
    "robots_allow_filter" -> ((s, d) => {
      val fr = frontierAllow(s, d)
      val rules = robotsAllowRules(s, d)
      val matched = fr.join(rules, Seq("host"), "left_outer")
        .withColumn("hit",
          substring(col("path"), lit(1), length(col("rule"))) === col("rule"))
      matched.groupBy("doc_id", "host", "path")
        .agg(max(when(col("hit"),
          struct(length(col("rule")).as("l"),
            col("allow").cast("int").as("a"),
            col("rule").as("r")))).as("m"))
        .select(col("doc_id"), col("host"), col("path"),
          (col("m").isNull || col("m.a") === 1).as("allowed"),
          col("m.r").as("rule"))
        .orderBy("doc_id")
    }),

    // X-134: per-host politeness scheduling — the other crawl-side
    // primitive: a frontier fetched at full parallelism ACROSS hosts
    // but serially WITHIN a host (one request per host per wave, the
    // crawl-delay discipline). wave = row_number per host (stable
    // doc_id order); eta_s = (wave−1)·crawl_delay. Composes on X-133:
    // blocked URLs never enter the schedule. One hash-partitioned
    // window keyed on host — thousands of URLs per host at most, no
    // global sort, no unbounded partition.
    "crawl_schedule" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val fr = frontier(s, d)
      val rules = robotsRules(s, d)
      val blocked = fr.join(rules, Seq("host"), "left_outer")
        .withColumn("hit",
          substring(col("path"), lit(1), length(col("rule"))) === col("rule"))
        .groupBy("doc_id", "host", "path")
        .agg(max(col("hit")).as("blocked"))
        .filter(!coalesce(col("blocked"), lit(false)))
      blocked
        .withColumn("wave", row_number().over(
          Window.partitionBy("host").orderBy("doc_id")))
        .withColumn("eta_s", (col("wave") - 1) * lit(10L))
        .select("doc_id", "host", "path", "wave", "eta_s")
        .orderBy("doc_id")
    }),

    // X-136: the crawl-pipeline CAPSTONE — X-132 → X-133 → link
    // selection (F-8/P-4/T-2) → X-134 composed end-to-end, the batch
    // mirror of the live WebCrawlPipelineSpec: raw discovered URLs
    // (with anchors) → canonical dedup ("seen this page?", best anchor
    // score and first discoverer kept per page) → robots disallow gate
    // on the canonical host/path → relevance-scored per-host top-5 →
    // per-host politeness waves. The synthesis extends the X-132 URL
    // variants with robots-relevant path classes (/private/ fenced
    // everywhere, /about/ keyword-bearing) and a 6-cycle anchor rotation
    // in which 4 anchors carry reference keywords and 2 score zero, so
    // every stage has real work. Scale shape: one hash aggregate
    // (canon), one host equi-join (rules frame never broadcast-hinted),
    // and two windows on the SAME host key — a single shuffle serves
    // both; no global sort, no unbounded partition.
    "crawl_frontier" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val did = col("doc_id")
      val raw = Tables.documents(s, d).select(
        did,
        // 6-cycle anchors: 0/1/2/5 carry scoring keywords, 3/4 do not
        (did % 6).cast("int").as("a6"),
        concat(
          lit("https://"),
          when(did % 5 === 0,
            concat(lit("WWW."), upper(col("source")), lit(".Example.com")))
            .otherwise(concat(lit("www."), col("source"), lit(".example.com"))),
          when(did % 7 === 0, lit(":443")).otherwise(lit("")),
          when(did % 11 === 0, concat(lit("/private/x"), did.cast("string")))
            .when(did % 9 === 0, concat(lit("/about/p"), (did % 5).cast("string")))
            .otherwise(concat(lit("/"), col("lang"), lit("/p"),
              (did % 5).cast("string"))),
          when(did % 3 === 0, lit("/")).otherwise(lit("")),
          when(did % 4 === 0, concat(lit("?page="), (did % 2).cast("string")))
            .otherwise(lit("")),
          when(did % 2 === 0,
            concat(when(did % 4 === 0, lit("&")).otherwise(lit("?")),
              lit("utm_source=s"), (did % 3).cast("string")))
            .otherwise(lit("")),
          when(did % 6 === 0, concat(lit("#sec"), (did % 4).cast("string")))
            .otherwise(lit(""))).as("url"))
        .withColumn("anchor",
          element_at(array(CapstoneAnchors.map(lit): _*), col("a6") + 1))
      // X-132: canonicalize, then dedup per page keeping the BEST anchor
      // score (the LinkSelection T-3 discipline) and the first
      // discoverer
      val pages = raw
        .withColumn("canon", UrlOps.canonicalize(col("url")))
        .withColumn("score", LinkSelection.keywordScore(
          graft.operators.Extraction.normToken(col("anchor")), col("canon")))
        .groupBy("canon")
        .agg(max(col("score")).as("score"), min(did).as("keep_doc"))
        .withColumn("host", regexp_extract(col("canon"), "^https?://([^/?#]+)", 1))
        .withColumn("path", regexp_replace(col("canon"), "^https?://[^/?#]+", ""))
      // X-133: robots disallow gate on the canonical host/path
      val rules = robotsRules(s, d)
      val open = pages.join(rules, Seq("host"), "left_outer")
        .withColumn("hit",
          substring(col("path"), lit(1), length(col("rule"))) === col("rule"))
        .groupBy("canon", "host", "score", "keep_doc")
        .agg(max(col("hit")).as("blocked"))
        .filter(!coalesce(col("blocked"), lit(false)))
      // link selection: positive-score gate (P-4) + per-host top-5 (T-2)
      val byHost = Window.partitionBy("host")
      val sel = open.filter(col("score") > 0)
        .withColumn("rk", row_number().over(
          byHost.orderBy(col("score").desc, col("canon"))))
        .filter(col("rk") <= 5)
      // X-134: politeness waves among the selected URLs
      sel
        .withColumn("wave", row_number().over(byHost.orderBy(col("canon"))))
        .withColumn("eta_s", (col("wave") - 1) * lit(10L))
        .select("host", "canon", "score", "keep_doc", "rk", "wave", "eta_s")
        .orderBy("host", "wave")
    }),
  )

  /** X-136 anchor rotation: indices 0/1/2/5 carry reference keywords
    * (about+company / leadership+management / investor+overview /
    * corporate+profile), 3/4 score zero — the P-4 gate has real work. */
  private val CapstoneAnchors: Seq[String] = Seq(
    "About the Company", "Leadership and Management",
    "Investor Relations Overview", "Products Catalog",
    "Contact Support", "Corporate Profile")

  /** Shared synthesized link graph for X-52/X-82/X-111/X-116: every
    * doc emits 3 hash-derived targets except every 7th (a SINK). ONE
    * definition, materialized and pre-partitioned on src (the CC
    * recipe — iterative consumers join it every round); the four graph
    * queries describe "the same synthesized link graph" and can only
    * mean it if they build it here. `raw` = the un-deduped directed
    * edge list before the materialize (link_triangles needs the
    * pre-materialization form to build its undirected view). */
  private def linkEdgesRaw(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id")
    val stats = docs.agg(count(lit(1)).as("n"))
    docs.crossJoin(broadcast(stats))
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("src"),
        explode(array((1 to 3).map(j =>
          (col("doc_id") * 31 + j * 97) % col("n")): _*)).as("dst"))
  }
  private def linkEdges(s: SparkSession, d: String): DataFrame =
    Scratch.cut(linkEdgesRaw(s, d).repartition(col("src")))

  /** The undirected simple-graph view of [[linkEdgesRaw]]: self-loops
    * dropped, both orientations, distinct (a, b) pairs, cut and
    * pre-partitioned on the probe key `a` — the shared input of
    * label_propagation, kcore_peel and link_prediction. Symmetrized
    * BEFORE the distinct: one explode + ONE dedup aggregate over 2·|E|
    * rows (a dedup-unordered-pairs-then-union form would embed the
    * distinct in both union branches and run the aggregate twice). */
  private def linkUndirected(s: SparkSession, d: String): DataFrame =
    Scratch.cut(
      linkEdgesRaw(s, d).filter(col("src") =!= col("dst"))
        .select(explode(array(
          struct(col("src").as("a"), col("dst").as("b")),
          struct(col("dst").as("a"), col("src").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .distinct()
        .repartition(col("a")))

  /** Shared crawl-frontier synthesis for X-133/X-134: one URL per doc
    * (host from source, path from lang; every 11th doc targets a
    * /private/ path so the robots gate has real work). */
  private def frontier(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      concat(lit("www."), col("source"), lit(".example.com")).as("host"),
      when(col("doc_id") % 11 === 0,
        concat(lit("/private/x"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/"), col("lang"), lit("/p"),
          (col("doc_id") % 5).cast("string"))).as("path"))

  /** X-135 frontier: the X-133 synthesis plus the two path classes the
    * Allow-precedence semantics needs — a /private/pub/ carve-out
    * (longer Allow overrides shorter Disallow) and a /tie/ class whose
    * Allow and Disallow rules have EQUAL length (the §2.2.2 tie the
    * allow-bit must break). Chained `when` = first match wins, and the
    * oracle mirrors the same CASE chain. */
  private def frontierAllow(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      concat(lit("www."), col("source"), lit(".example.com")).as("host"),
      when(col("doc_id") % 22 === 0,
        concat(lit("/private/pub/x"), col("doc_id").cast("string")))
        .when(col("doc_id") % 11 === 0,
          concat(lit("/private/x"), col("doc_id").cast("string")))
        .when(col("doc_id") % 13 === 0,
          concat(lit("/tie/t"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/"), col("lang"), lit("/p"),
          (col("doc_id") % 5).cast("string"))).as("path"))

  /** X-135 per-host rules with allow bits: every host disallows
    * /private/ but allows the /private/pub/ carve-out, and carries the
    * equal-length /tie/ allow+disallow pair; srcN%3=0 hosts also fence
    * /zh/ (so plain-language paths exercise the gate too). */
  private def robotsAllowRules(s: SparkSession, d: String): DataFrame = {
    // digit-suffix extraction, total on any source format: the empty
    // no-match string is nulled BEFORE the cast (Spark 4 runs ANSI
    // mode, where CAST('' AS INT) throws rather than nulling), so a
    // digit-less source drops its rule row exactly like the oracle's
    // TRY_CAST
    val digits = regexp_extract(col("source"), "([0-9]+)$", 1)
    val srcN = when(digits === "", lit(null)).otherwise(digits).cast("int")
    Tables.documents(s, d).select(col("source")).distinct()
      .select(concat(lit("www."), col("source"), lit(".example.com")).as("host"),
        explode(array(
          struct(lit("/private/").as("rule"), lit(false).as("allow")),
          struct(lit("/private/pub/").as("rule"), lit(true).as("allow")),
          struct(lit("/tie/").as("rule"), lit(false).as("allow")),
          struct(lit("/tie/").as("rule"), lit(true).as("allow")),
          when(srcN % 3 === 0,
            struct(lit("/zh/").as("rule"), lit(false).as("allow")))
        )).as("e"))
      .filter(col("e").isNotNull)
      .select(col("host"), col("e.rule").as("rule"), col("e.allow").as("allow"))
  }

  /** Per-host disallow rules: /private/ everywhere; srcN%3=0 hosts
    * also fence /zh/, srcN%3=1 hosts /es/. */
  private def robotsRules(s: SparkSession, d: String): DataFrame = {
    // digit-suffix extraction, total on any source format: the empty
    // no-match string is nulled BEFORE the cast (Spark 4 runs ANSI
    // mode, where CAST('' AS INT) throws rather than nulling), so a
    // digit-less source drops its rule row exactly like the oracle's
    // TRY_CAST
    val digits = regexp_extract(col("source"), "([0-9]+)$", 1)
    val srcN = when(digits === "", lit(null)).otherwise(digits).cast("int")
    Tables.documents(s, d).select(col("source")).distinct()
      .select(concat(lit("www."), col("source"), lit(".example.com")).as("host"),
        explode(array(lit("/private/"),
          when(srcN % 3 === 0, lit("/zh/"))
            .when(srcN % 3 === 1, lit("/es/")))).as("rule"))
      .filter(col("rule").isNotNull)
  }

  /** SQL mirror of [[frontier]] + [[robotsRules]] (X-133/X-134 CTEs). */
  private val crawlSql =
    """fr AS (SELECT doc_id,
      |         'www.' || source || '.example.com' AS host,
      |         CASE WHEN doc_id % 11 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
      |              ELSE '/' || lang || '/p' || CAST(doc_id % 5 AS VARCHAR) END AS path
      |       FROM documents),
      |hosts AS (SELECT DISTINCT source FROM documents),
      |rules AS (
      |  SELECT 'www.' || source || '.example.com' AS host, '/private/' AS rule FROM hosts
      |  UNION ALL
      |  SELECT 'www.' || source || '.example.com',
      |         CASE WHEN TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 3 = 0 THEN '/zh/'
      |              ELSE '/es/' END
      |  FROM hosts
      |  WHERE TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 3 IN (0, 1))""".stripMargin

  /** DuckDB mirror of UrlOps.canonicalize as a reusable CTE chain:
    * reads `url` (plus `carry` columns) from CTE `src`, ends in CTE
    * `out` carrying (carry..., url, canon). DuckDB regexp_replace
    * needs the explicit 'g' flag where Spark's is always-global, and
    * every pattern is backreference-free so Java regex and RE2 agree.
    * Shared by X-132 and the X-136 capstone so the mirrors can't
    * drift. The scheme gate (non-web URLs pass through unchanged) is
    * vacuous on the all-https syntheses but kept in lockstep with the
    * Spark operator. */
  private def canonSql(src: String, out: String, carry: Seq[String]): String = {
    val c = carry.map(_ + ", ").mkString
    s"""${out}_f AS (SELECT ${c}url, regexp_replace(url, '#.*', '', 'g') AS nf FROM $src),
       |${out}_r AS (SELECT ${c}url, nf,
       |         regexp_replace(nf, '(?i)^https?://[^/?#]+', '', 'g') AS rest
       |       FROM ${out}_f),
       |$out AS (SELECT ${c}url,
       |         CASE WHEN regexp_extract(nf, '(?i)^(https?)://', 1) = '' THEN url ELSE
       |         lower(regexp_extract(nf, '(?i)^(https?)://', 1)) || '://' ||
       |         (CASE WHEN lower(regexp_extract(nf, '(?i)^(https?)://', 1)) = 'https'
       |               THEN regexp_replace(lower(regexp_extract(nf, '(?i)^https?://([^/?#]+)', 1)),
       |                 ':443$$', '', 'g')
       |               ELSE regexp_replace(lower(regexp_extract(nf, '(?i)^https?://([^/?#]+)', 1)),
       |                 ':80$$', '', 'g') END) ||
       |         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$$', '', 'g') ||
       |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |           regexp_replace(rest, '^[^?]*', '', 'g'),
       |           '&(utm_[a-z_]+|fbclid|gclid)=[^&#]*', '', 'g'),
       |           '^\\?(utm_[a-z_]+|fbclid|gclid)=[^&#]*&', '?', 'g'),
       |           '^\\?(utm_[a-z_]+|fbclid|gclid)=[^&#]*$$', '', 'g'),
       |           '^\\?$$', '', 'g') END AS canon
       |       FROM ${out}_r)""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    // Mirrors UrlOps.canonicalize step-by-step via [[canonSql]].
    "url_canonical_dedup" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |         'https://' ||
         |         CASE WHEN doc_id % 5 = 0
         |              THEN 'WWW.' || upper(source) || '.Example.com'
         |              ELSE 'www.' || source || '.example.com' END ||
         |         CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
         |         '/' || lang || '/p' || CAST(doc_id % 5 AS VARCHAR) ||
         |         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         |         CASE WHEN doc_id % 4 = 0
         |              THEN '?page=' || CAST(doc_id % 2 AS VARCHAR) ELSE '' END ||
         |         CASE WHEN doc_id % 2 = 0
         |              THEN (CASE WHEN doc_id % 4 = 0 THEN '&' ELSE '?' END)
         |                   || 'utm_source=s' || CAST(doc_id % 3 AS VARCHAR)
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 6 = 0
         |              THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END AS url
         |  FROM documents),
         |${canonSql("u", "s3", Seq("doc_id"))}
         |SELECT canon, count(*) AS n_urls, count(DISTINCT url) AS n_variants,
         |       min(doc_id) AS keep_doc
         |FROM s3 GROUP BY canon ORDER BY canon""".stripMargin,

    // X-136: the full crawl pipeline composed — same canonSql chain,
    // same crawlSql rules frame, LinkSelection's score as CASE sums,
    // precedence/windows mirrored stage by stage.
    "crawl_frontier" ->
      s"""WITH $crawlSql,
         |raw0 AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS a6,
         |         'https://' ||
         |         CASE WHEN doc_id % 5 = 0
         |              THEN 'WWW.' || upper(source) || '.Example.com'
         |              ELSE 'www.' || source || '.example.com' END ||
         |         CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
         |         CASE WHEN doc_id % 11 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
         |              WHEN doc_id % 9 = 0 THEN '/about/p' || CAST(doc_id % 5 AS VARCHAR)
         |              ELSE '/' || lang || '/p' || CAST(doc_id % 5 AS VARCHAR) END ||
         |         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         |         CASE WHEN doc_id % 4 = 0
         |              THEN '?page=' || CAST(doc_id % 2 AS VARCHAR) ELSE '' END ||
         |         CASE WHEN doc_id % 2 = 0
         |              THEN (CASE WHEN doc_id % 4 = 0 THEN '&' ELSE '?' END)
         |                   || 'utm_source=s' || CAST(doc_id % 3 AS VARCHAR)
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 6 = 0
         |              THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END AS url
         |  FROM documents),
         |rawa AS (SELECT doc_id, url,
         |           CASE a6 ${CapstoneAnchors.zipWithIndex
                       .map { case (a, i) => s"WHEN $i THEN '$a'" }
                       .mkString(" ")} END AS anchor
         |         FROM raw0),
         |${canonSql("rawa", "cn", Seq("doc_id", "anchor"))},
         |pages AS (SELECT canon,
         |            max(${scoreSql("trim(lower(anchor))", "canon",
                        LinkSelection.ReferenceKeywords)}) AS score,
         |            min(doc_id) AS keep_doc
         |          FROM cn GROUP BY canon),
         |hp AS (SELECT canon, score, keep_doc,
         |        regexp_extract(canon, '^https?://([^/?#]+)', 1) AS host,
         |        regexp_replace(canon, '^https?://[^/?#]+', '', 'g') AS path
         |       FROM pages),
         |open0 AS (SELECT h.canon, h.host, h.score, h.keep_doc,
         |           max(substr(h.path, 1, length(r.rule)) = r.rule) AS blocked
         |          FROM hp h LEFT JOIN rules r ON h.host = r.host
         |          GROUP BY 1, 2, 3, 4),
         |sel AS (SELECT canon, host, score, keep_doc,
         |         CAST(row_number() OVER (PARTITION BY host
         |                                 ORDER BY score DESC, canon) AS INT) AS rk
         |        FROM open0 WHERE NOT coalesce(blocked, false) AND score > 0),
         |sched AS (SELECT host, canon, score, keep_doc, rk,
         |           CAST(row_number() OVER (PARTITION BY host ORDER BY canon) AS INT) AS wave
         |          FROM sel WHERE rk <= 5)
         |SELECT host, canon, score, keep_doc, rk, wave,
         |       CAST((wave - 1) * 10 AS BIGINT) AS eta_s
         |FROM sched ORDER BY host, wave""".stripMargin,

    // X-133: same frontier/rules synthesis; longest-match via a struct
    // max (lexicographic on (length, rule) — identical ordering in both
    // engines), prefix match via length-bounded substring equality.
    "robots_filter" ->
      s"""WITH $crawlSql
         |SELECT f.doc_id, f.host, f.path,
         |       max(CASE WHEN substr(f.path, 1, length(r.rule)) = r.rule
         |                THEN {'l': length(r.rule), 'r': r.rule} END) IS NOT NULL AS blocked,
         |       (max(CASE WHEN substr(f.path, 1, length(r.rule)) = r.rule
         |                 THEN {'l': length(r.rule), 'r': r.rule} END)).r AS rule
         |FROM fr f LEFT JOIN rules r ON f.host = r.host
         |GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,

    // X-135: same frontier/rule synthesis with allow bits; precedence
    // via lexicographic struct max on (length, allow, rule) — identical
    // ordering in both engines; allowed = no match OR winner is Allow.
    "robots_allow_filter" ->
      """WITH fra AS (SELECT doc_id,
        |         'www.' || source || '.example.com' AS host,
        |         CASE WHEN doc_id % 22 = 0 THEN '/private/pub/x' || CAST(doc_id AS VARCHAR)
        |              WHEN doc_id % 11 = 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |              WHEN doc_id % 13 = 0 THEN '/tie/t' || CAST(doc_id AS VARCHAR)
        |              ELSE '/' || lang || '/p' || CAST(doc_id % 5 AS VARCHAR) END AS path
        |       FROM documents),
        |hostsa AS (SELECT DISTINCT source FROM documents),
        |rulesa AS (
        |  SELECT 'www.' || source || '.example.com' AS host, '/private/' AS rule, false AS allow FROM hostsa
        |  UNION ALL
        |  SELECT 'www.' || source || '.example.com', '/private/pub/', true FROM hostsa
        |  UNION ALL
        |  SELECT 'www.' || source || '.example.com', '/tie/', false FROM hostsa
        |  UNION ALL
        |  SELECT 'www.' || source || '.example.com', '/tie/', true FROM hostsa
        |  UNION ALL
        |  SELECT 'www.' || source || '.example.com', '/zh/', false FROM hostsa
        |  WHERE TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 3 = 0),
        |m AS (SELECT f.doc_id, f.host, f.path,
        |             max(CASE WHEN substr(f.path, 1, length(r.rule)) = r.rule
        |                      THEN {'l': length(r.rule),
        |                            'a': CASE WHEN r.allow THEN 1 ELSE 0 END,
        |                            'r': r.rule} END) AS w
        |      FROM fra f LEFT JOIN rulesa r ON f.host = r.host
        |      GROUP BY 1, 2, 3)
        |SELECT doc_id, host, path,
        |       (w IS NULL OR (w).a = 1) AS allowed,
        |       (w).r AS rule
        |FROM m ORDER BY doc_id""".stripMargin,

    // X-134: robots-allowed frontier scheduled into per-host waves.
    "crawl_schedule" ->
      s"""WITH $crawlSql,
         |b AS (SELECT f.doc_id, f.host, f.path,
         |             max(substr(f.path, 1, length(r.rule)) = r.rule) AS blocked
         |      FROM fr f LEFT JOIN rules r ON f.host = r.host
         |      GROUP BY 1, 2, 3)
         |SELECT doc_id, host, path,
         |       CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) AS INT) AS wave,
         |       CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1) * 10
         |            AS BIGINT) AS eta_s
         |FROM b WHERE NOT coalesce(blocked, false) ORDER BY doc_id""".stripMargin,

    "link_pagerank" -> {
      def iterSql(prev: String, cn: String, dn: String, rn: String) =
        s"""$cn AS (SELECT e.dst, CAST(sum(r.r // 3) AS BIGINT) AS dsum
           |       FROM edges e JOIN $prev r ON e.src = r.doc_id GROUP BY e.dst),
           |$dn AS (SELECT COALESCE(CAST(sum(r.r) AS BIGINT), 0) AS dmass
           |       FROM $prev r WHERE r.doc_id % 7 = 0),
           |$rn AS (SELECT d.doc_id,
           |         CAST(((1000000000000 // st.n) * 15) // 100
           |              + (COALESCE($cn.dsum, 0) + $dn.dmass // st.n) * 85 // 100 AS BIGINT) AS r
           |       FROM docs d CROSS JOIN st CROSS JOIN $dn
           |       LEFT JOIN $cn ON d.doc_id = $cn.dst)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |st AS (SELECT count(*) AS n FROM docs),
         |edges AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
         |          FROM docs CROSS JOIN st, range(1, 4) t(j)
         |          WHERE doc_id % 7 <> 0),
         |r0 AS (SELECT doc_id, CAST(1000000000000 // n AS BIGINT) AS r
         |       FROM docs CROSS JOIN st),
         |${iterSql("r0", "c1", "d1", "r1")},
         |${iterSql("r1", "c2", "d2", "r2")},
         |${iterSql("r2", "c3", "d3", "r3")}
         |SELECT doc_id, r AS rank_fx, CAST(r AS DOUBLE) / 1000000000000 AS rank
         |FROM r3 ORDER BY doc_id""".stripMargin
    },

    // Same edge synthesis as link_pagerank; per round: hub sum over
    // out-edges, max-normalize, authority sum over in-edges,
    // max-normalize — every step exact-integer, mirroring Spark.
    "link_hits" -> {
      def roundSql(prevA: String, i: Int) =
        s"""h${i}r AS (SELECT e.src, CAST(sum(p.a) AS BIGINT) AS h
           |       FROM edges e JOIN $prevA p ON e.dst = p.doc_id GROUP BY e.src),
           |h${i}f AS (SELECT d.doc_id, COALESCE(h${i}r.h, 0) AS h
           |       FROM docs d LEFT JOIN h${i}r ON d.doc_id = h${i}r.src),
           |h$i AS (SELECT doc_id, CAST(CASE WHEN (SELECT max(h) FROM h${i}f) = 0 THEN 0
           |         ELSE (h * 1000000) // (SELECT max(h) FROM h${i}f) END AS BIGINT) AS h
           |       FROM h${i}f),
           |a${i}r AS (SELECT e.dst, CAST(sum(p.h) AS BIGINT) AS a
           |       FROM edges e JOIN h$i p ON e.src = p.doc_id GROUP BY e.dst),
           |a${i}f AS (SELECT d.doc_id, COALESCE(a${i}r.a, 0) AS a
           |       FROM docs d LEFT JOIN a${i}r ON d.doc_id = a${i}r.dst),
           |a$i AS (SELECT doc_id, CAST(CASE WHEN (SELECT max(a) FROM a${i}f) = 0 THEN 0
           |         ELSE (a * 1000000) // (SELECT max(a) FROM a${i}f) END AS BIGINT) AS a
           |       FROM a${i}f)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |st AS (SELECT count(*) AS n FROM docs),
         |edges AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
         |          FROM docs CROSS JOIN st, range(1, 4) t(j)
         |          WHERE doc_id % 7 <> 0),
         |a0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS a FROM docs),
         |${roundSql("a0", 1)},
         |${roundSql("a1", 2)}
         |SELECT h2.doc_id, h2.h AS hub_fx, a2.a AS auth_fx,
         |       CAST(h2.h AS DOUBLE) / 1000000 AS hub,
         |       CAST(a2.a AS DOUBLE) / 1000000 AS auth
         |FROM h2 JOIN a2 USING (doc_id) ORDER BY h2.doc_id""".stripMargin
    },

    // Same edge synthesis as link_pagerank; orientation, wedge, and
    // closure joins mirror the Spark side literally.
    "link_triangles" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |st AS (SELECT count(*) AS n FROM docs),
        |raw AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
        |        FROM docs CROSS JOIN st, range(1, 4) t(j)
        |        WHERE doc_id % 7 <> 0),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM raw WHERE src <> dst),
        |deg AS (SELECT node, count(*) AS deg
        |        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |        GROUP BY node),
        |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |                  THEN u.a ELSE u.b END AS u,
        |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |                  THEN u.b ELSE u.a END AS v,
        |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
        |                  THEN db.deg ELSE da.deg END AS dv
        |      FROM und u
        |      JOIN deg da ON u.a = da.node
        |      JOIN deg db ON u.b = db.node),
        |w AS (SELECT x.u AS t1, x.v AS t2, y.v AS t3
        |      FROM o x JOIN o y
        |        ON x.u = y.u
        |       AND (x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v))),
        |tri AS (SELECT t1, t2, t3 FROM w JOIN o ON w.t2 = o.u AND w.t3 = o.v),
        |tc AS (SELECT node, count(*) AS n_tri
        |       FROM (SELECT t1 AS node FROM tri
        |             UNION ALL SELECT t2 FROM tri
        |             UNION ALL SELECT t3 FROM tri)
        |       GROUP BY node)
        |SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
        |       CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_triangles,
        |       CAST(CASE WHEN d.deg >= 2
        |                 THEN (2 * COALESCE(tc.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
        |                 ELSE 0 END AS BIGINT) AS cc_fx
        |FROM deg d LEFT JOIN tc ON d.node = tc.node
        |ORDER BY d.node""".stripMargin,

    // Same edge synthesis as link_pagerank; the simple-graph view, the
    // two synchronous vote rounds (max count, ties to lowest label via
    // the same (cnt DESC, label) total order the struct-min encodes),
    // and the isolated-node fallback mirror the Spark side literally.
    "label_propagation" -> {
      def roundSql(prev: String, i: Int) =
        s"""v$i AS (SELECT u.a, p.label, count(*) AS cnt
           |      FROM und u JOIN $prev p ON u.b = p.doc_id GROUP BY u.a, p.label),
           |p$i AS (SELECT a, label FROM (
           |        SELECT a, label,
           |               row_number() OVER (PARTITION BY a
           |                 ORDER BY cnt DESC, label) AS rk
           |        FROM v$i) WHERE rk = 1),
           |l$i AS (SELECT p.doc_id, COALESCE(x.label, p.label) AS label
           |      FROM $prev p LEFT JOIN p$i x ON p.doc_id = x.a)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |st AS (SELECT count(*) AS n FROM docs),
         |raw AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
         |        FROM docs CROSS JOIN st, range(1, 4) t(j)
         |        WHERE doc_id % 7 <> 0),
         |pairs AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |          FROM raw WHERE src <> dst),
         |und AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
         |l0 AS (SELECT doc_id, doc_id AS label FROM docs),
         |${roundSql("l0", 1)},
         |${roundSql("l1", 2)},
         |sz AS (SELECT label, count(*) AS community_size FROM l2 GROUP BY label)
         |SELECT l2.doc_id, l2.label, sz.community_size
         |FROM l2 JOIN sz USING (label) ORDER BY l2.doc_id""".stripMargin
    },

    // Same simple-graph view as label_propagation; six unrolled peel
    // rounds, each recomputing degrees within the surviving set and
    // splitting on deg >= 5, mirroring the Spark side literally.
    "kcore_peel" -> {
      def roundSql(prev: String, i: Int) =
        s"""w$i AS (SELECT p.node, COALESCE(d.deg, 0) AS deg
           |      FROM $prev p LEFT JOIN (
           |        SELECT u.a AS node, count(*) AS deg FROM und u
           |        JOIN $prev x ON u.a = x.node
           |        JOIN $prev y ON u.b = y.node GROUP BY u.a) d
           |      ON p.node = d.node),
           |pl$i AS (SELECT node, $i AS peel_round FROM w$i WHERE deg < 5),
           |a$i AS (SELECT node FROM w$i WHERE deg >= 5)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |st AS (SELECT count(*) AS n FROM docs),
         |raw AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
         |        FROM docs CROSS JOIN st, range(1, 4) t(j)
         |        WHERE doc_id % 7 <> 0),
         |pairs AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |          FROM raw WHERE src <> dst),
         |und AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
         |a0 AS (SELECT doc_id AS node FROM docs),
         |${roundSql("a0", 1)},
         |${roundSql("a1", 2)},
         |${roundSql("a2", 3)},
         |${roundSql("a3", 4)},
         |${roundSql("a4", 5)},
         |${roundSql("a5", 6)},
         |lab AS (SELECT node, peel_round FROM pl1
         |        UNION ALL SELECT node, peel_round FROM pl2
         |        UNION ALL SELECT node, peel_round FROM pl3
         |        UNION ALL SELECT node, peel_round FROM pl4
         |        UNION ALL SELECT node, peel_round FROM pl5
         |        UNION ALL SELECT node, peel_round FROM pl6
         |        UNION ALL SELECT node, CAST(NULL AS INTEGER) FROM a6),
         |cv AS (SELECT count(*) FILTER (WHERE peel_round = 6) = 0
         |              OR count(*) FILTER (WHERE peel_round IS NULL) = 0 AS converged
         |       FROM lab)
         |SELECT node AS doc_id, CAST(peel_round AS INTEGER) AS peel_round, converged
         |FROM lab CROSS JOIN cv ORDER BY doc_id""".stripMargin
    },

    // Same 3-links-per-non-sink synthesis with the 6-cycle anchors,
    // target-join URL construction, majority-anchor window, and
    // distinct-source counts mirroring the Spark side literally.
    "anchor_text_agg" -> {
      val anchorCase = s"CASE a6 ${CapstoneAnchors.zipWithIndex
        .map { case (a, i) => s"WHEN $i THEN '$a'" }.mkString(" ")} END"
      s"""WITH docs AS (SELECT doc_id, source, lang FROM documents),
         |st AS (SELECT count(*) AS n FROM docs),
         |lk AS (SELECT d.doc_id AS src, (d.doc_id * 31 + j * 97) % n AS tgt,
         |              CAST((d.doc_id + j) % 6 AS INTEGER) AS a6
         |       FROM docs d CROSS JOIN st, range(1, 4) t(j)
         |       WHERE d.doc_id % 7 <> 0),
         |ur AS (SELECT l.src, $anchorCase AS anchor,
         |              'https://www.' || t.source || '.example.com/' || t.lang ||
         |                '/p' || CAST(l.tgt % 5 AS VARCHAR) AS url
         |       FROM lk l JOIN docs t ON l.tgt = t.doc_id),
         |pa AS (SELECT url, anchor, CAST(count(*) AS BIGINT) AS n_a
         |       FROM ur GROUP BY 1, 2),
         |tot AS (SELECT url, CAST(count(*) AS BIGINT) AS n_links,
         |               CAST(count(DISTINCT src) AS BIGINT) AS n_sources
         |        FROM ur GROUP BY 1),
         |tp AS (SELECT url, anchor AS top_anchor, n_a AS top_anchor_n,
         |              row_number() OVER (PARTITION BY url
         |                ORDER BY n_a DESC, anchor) AS rk
         |       FROM pa),
         |na AS (SELECT url, CAST(count(*) AS BIGINT) AS n_anchors
         |       FROM pa GROUP BY 1)
         |SELECT t.url, t.n_links, t.n_sources, na.n_anchors,
         |       tp.top_anchor, tp.top_anchor_n
         |FROM tot t JOIN tp ON t.url = tp.url AND tp.rk = 1
         |JOIN na ON t.url = na.url
         |ORDER BY t.url""".stripMargin
    },

    // Same simple-graph view; middle-node pair enumeration with the
    // DegCap=64 hub gate, exact 10⁶ // deg fixed-point RA parts, and
    // the NOT EXISTS anti join mirroring the Spark side literally.
    "link_prediction" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |st AS (SELECT count(*) AS n FROM docs),
        |raw AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
        |        FROM docs CROSS JOIN st, range(1, 4) t(j)
        |        WHERE doc_id % 7 <> 0),
        |prs AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM raw WHERE src <> dst),
        |und AS (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
        |deg AS (SELECT a AS z, count(*) AS deg FROM und GROUP BY 1),
        |mids AS (SELECT u.a AS z, u.b AS nb,
        |                CAST(1000000 // d.deg AS BIGINT) AS ra_part
        |         FROM und u JOIN deg d ON u.a = d.z WHERE d.deg <= 64),
        |sc AS (SELECT x.nb AS a, y.nb AS b, CAST(count(*) AS BIGINT) AS cn,
        |              CAST(sum(x.ra_part) AS BIGINT) AS ra_fx
        |       FROM mids x JOIN mids y ON x.z = y.z AND x.nb < y.nb
        |       GROUP BY 1, 2)
        |SELECT a, b, cn, ra_fx FROM sc
        |WHERE cn >= 2
        |  AND NOT EXISTS (SELECT 1 FROM prs p WHERE p.a = sc.a AND p.b = sc.b)
        |ORDER BY a, b""".stripMargin,

    // Same edge synthesis as link_pagerank (raw, duplicates harmless
    // under min); three unrolled relaxation rounds and the unreached-
    // null left join mirror the Spark side literally.
    "bfs_distances" -> {
      def relaxSql(prev: String, rN: String) =
        s"""$rN AS (SELECT node, min(hops) AS hops FROM (
           |        SELECT node, hops FROM $prev
           |        UNION ALL
           |        SELECT e.dst AS node, p.hops + 1 AS hops
           |        FROM edges e JOIN $prev p ON e.src = p.node)
           |      GROUP BY node)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |st AS (SELECT count(*) AS n FROM docs),
         |edges AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
         |          FROM docs CROSS JOIN st, range(1, 4) t(j)
         |          WHERE doc_id % 7 <> 0),
         |d0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS hops
         |       FROM docs WHERE doc_id < 5),
         |${relaxSql("d0", "d1")},
         |${relaxSql("d1", "d2")},
         |${relaxSql("d2", "d3")}
         |SELECT docs.doc_id, d3.hops
         |FROM docs LEFT JOIN d3 ON docs.doc_id = d3.node
         |ORDER BY docs.doc_id""".stripMargin
    },

    // Same edge synthesis; DISTINCT directed adjacency sorted per
    // node, and each step's md5-mod-degree draw mirrors the Spark
    // side's (start, step)-salted pick literally.
    "random_walks" -> {
      def stepSql(prev: String, cols: String, t: Int) =
        s"""w$t AS (SELECT w.start,$cols
           |        a.nbrs[1 + CAST(CAST('0x' || substr(md5('graft-walk' || CAST(w.start AS VARCHAR) || '|$t'), 1, 4) AS BIGINT) % a.deg AS INTEGER)] AS s$t
           |      FROM $prev w LEFT JOIN adj a ON w.cur = a.src)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |st AS (SELECT count(*) AS n FROM docs),
         |raw AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n AS dst
         |        FROM docs CROSS JOIN st, range(1, 4) t(j)
         |        WHERE doc_id % 7 <> 0),
         |e AS (SELECT DISTINCT src, dst FROM raw),
         |adj AS (SELECT src, list(dst ORDER BY dst) AS nbrs, count(*) AS deg
         |        FROM e GROUP BY src),
         |w0 AS (SELECT doc_id AS start, doc_id AS cur FROM docs),
         |${stepSql("w0", "", 1)},
         |w1c AS (SELECT start, s1, s1 AS cur FROM w1),
         |${stepSql("w1c", " w.s1,", 2)},
         |w2c AS (SELECT start, s1, s2, s2 AS cur FROM w2),
         |${stepSql("w2c", " w.s1, w.s2,", 3)},
         |w3c AS (SELECT start, s1, s2, s3, s3 AS cur FROM w3),
         |${stepSql("w3c", " w.s1, w.s2, w.s3,", 4)}
         |SELECT start, s1, s2, s3, s4 FROM w4 ORDER BY start""".stripMargin
    },

    "link_topk" ->
      s"""WITH cand AS ($candidatesSql),
         |resolved AS (
         |  SELECT company,
         |         CASE WHEN href LIKE 'http%' THEN href ELSE website || href END AS full_url,
         |         anchor_text, website
         |  FROM cand WHERE href IS NOT NULL),
         |same_domain AS (
         |  SELECT * FROM resolved
         |  WHERE contains(full_url, regexp_extract(website, '^https?://([^/:]+)', 1))),
         |scored AS (
         |  SELECT company, full_url,
         |         ${scoreSql("trim(lower(anchor_text))", "full_url", SoupKeywords)} AS score
         |  FROM same_domain),
         |deduped AS (SELECT company, full_url, max(score) AS score
         |            FROM scored WHERE score > 0 GROUP BY company, full_url),
         |ranked AS (
         |  SELECT company, full_url, score,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY company
         |              ORDER BY score DESC, full_url) AS INTEGER) AS rk
         |  FROM deduped)
         |SELECT company, full_url, score, rk FROM ranked
         |WHERE rk <= 3 ORDER BY company, rk""".stripMargin,

    // host validity mirrors Spark's parse_url (java.net.URI): an
    // authority with an empty label (..), a non-ASCII char, or an
    // underscore parses to NULL there — probed empirically r11 when
    // the adversarial empty-string/unicode sources diverged. A plain
    // regexp_extract would return the raw authority.
    "url_host" ->
      s"""WITH cand AS ($candidatesSql),
         |h AS (SELECT DISTINCT company, website,
         |             regexp_extract(website, '^https?://([^/:]+)', 1) AS rawhost
         |      FROM cand)
         |SELECT company, website,
         |       CASE WHEN regexp_matches(rawhost,
         |         '^[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?(\\.[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?)*$$')
         |       THEN rawhost END AS host
         |FROM h ORDER BY company""".stripMargin,

    "link_scan" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS link_idx,
        |       '/' || lang || '/p' || doc_id || '/' || i AS href
        |FROM documents, range(3) t(i)
        |ORDER BY doc_id, link_idx""".stripMargin,

    // Same synthesized edges and two floor-mean hops; operands are
    // non-negative so // = floor = Spark's div.
    "neighbor_features" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |e AS (SELECT doc_id AS src, (doc_id * 31 + j * 97) % n.n AS dst
        |      FROM documents, n, generate_series(1, 3) t(j)
        |      WHERE doc_id % 7 <> 0),
        |f AS (SELECT doc_id, n_chars FROM documents),
        |a1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg,
        |              CAST(sum(f.n_chars) AS BIGINT) AS s
        |       FROM e JOIN f ON e.src = f.doc_id GROUP BY dst),
        |h1 AS (SELECT f.doc_id, f.n_chars,
        |              coalesce(a1.indeg, 0) AS in_deg,
        |              coalesce(a1.s // a1.indeg, f.n_chars) AS h1
        |       FROM f LEFT JOIN a1 ON f.doc_id = a1.dst),
        |a2 AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg,
        |              CAST(sum(h1.h1) AS BIGINT) AS s
        |       FROM e JOIN h1 ON e.src = h1.doc_id GROUP BY dst)
        |SELECT h1.doc_id, h1.n_chars, h1.in_deg, h1.h1,
        |       coalesce(a2.s // a2.indeg, h1.h1) AS h2
        |FROM h1 LEFT JOIN a2 ON h1.doc_id = a2.dst
        |ORDER BY h1.doc_id""".stripMargin,
  )
}
