package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  private def edgesDf(pairs: (String, String)*) = {
    import spark.implicits._
    pairs.toDF("u", "v")
  }

  test("C2 connected components: chain + separate clique + isolatedless") {
    // component A: a-b-c-d chain; component B: x-y-z triangle
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d",
      "x" -> "y", "y" -> "z", "x" -> "z")
    val cc = Graphs.connectedComponents(e).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc.size == 7)
    assert(Set("a", "b", "c", "d").map(cc) == Set("a"))
    assert(Set("x", "y", "z").map(cc) == Set("x"))
  }

  test("C2 componentsGuarded: local union-find labels identical to the distributed CC on string AND long ids; over-guard falls back") {
    import spark.implicits._
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d",
      "x" -> "y", "y" -> "z", "x" -> "z")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.get(0) -> r.get(1)).toMap
    assert(toMap(Graphs.componentsGuarded(e)) ==
      toMap(Graphs.connectedComponents(e)),
      "guarded labels must equal the star-contraction fixed point")
    // long-id pair graph (the survivor faces' shape): min-LABEL is
    // numeric here, not lexicographic
    val le = Seq((10L, 9L), (9L, 2L), (100L, 7L)).toDF("u", "v")
    val gl = toMap(Graphs.componentsGuarded(le))
    assert(gl == toMap(Graphs.connectedComponents(le)))
    assert(gl(10L) == 2L && gl(100L) == 7L)
    // a guard of 0 forces the distributed path — same labels
    assert(toMap(Graphs.componentsGuarded(le, maxDriverRows = 0L)) == gl)
  }

  test("C2 connected components: long chain needs log-round convergence") {
    val chain = (0 until 64).map(i => (f"v$i%03d", f"v${i + 1}%03d"))
    val cc = Graphs.connectedComponents(edgesDf(chain: _*)).collect()
    assert(cc.length == 65)
    assert(cc.forall(_.getString(1) == "v000"))
  }

  test("C8 k-core: tail peels away, triangle core survives with its degrees") {
    // triangle x-y-z plus a pendant chain a-b-x: 2-core = the triangle
    // (b drops once a is gone, x keeps degree 2 within the core)
    val e = edgesDf("x" -> "y", "y" -> "z", "x" -> "z",
      "a" -> "b", "b" -> "x")
    val core = Graphs.kCore(e, k = 2, iterations = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == Map("x" -> 2L, "y" -> 2L, "z" -> 2L))
  }

  test("C8 k-core: k above max degree empties the graph") {
    val e = edgesDf("x" -> "y", "y" -> "z", "x" -> "z")
    assert(Graphs.kCore(e, k = 3, iterations = 2).isEmpty)
  }

  test("C38 onion: layers order the peel, coreness-kMax equals the kCore fixpoint") {
    // triangle x-y-z + pendant chain a-b-x: a drops in the first k=1
    // round (degree 1 < ... no: degree 1 >= 1) — a and b SURVIVE k=1;
    // at k=2, a (deg 1) drops round 1, b drops round 2 once a is gone,
    // the triangle survives to coreness 2
    val e = edgesDf("x" -> "y", "y" -> "z", "x" -> "z",
      "a" -> "b", "b" -> "x")
    val rows = Graphs.onion(e, kMax = 2, roundsPerK = 3).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    // k=1 stage (rounds 1-3) drops nobody; k=2 stage: round 4 drops a
    // (coreness 1), round 5 drops b; triangle survives (layer 7)
    assert(rows("a") == ((1, 4)) && rows("b") == ((1, 5)), s"$rows")
    assert(Seq("x", "y", "z").forall(rows(_) == ((2, 7))), s"$rows")
    // the coreness-kMax set is exactly the independent kCore fixpoint
    val core = Graphs.kCore(e, k = 2, iterations = 3).collect()
      .map(_.getString(0)).toSet
    assert(rows.filter(_._2._1 == 2).keySet == core)
  }

  test("C38 onion: an edge-orphaned vertex still drops with its layer") {
    // star: center c with leaves l1..l3; at k=2 every leaf (deg 1)
    // drops in round 1, which orphans c (deg 0 over remaining edges) —
    // c must still be emitted, in round 2
    val e = edgesDf("c" -> "l1", "c" -> "l2", "c" -> "l3")
    val rows = Graphs.onion(e, kMax = 2, roundsPerK = 3).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(Seq("l1", "l2", "l3").forall(rows(_) == ((1, 4))), s"$rows")
    assert(rows("c") == ((1, 5)), s"orphaned center must drop with a layer: $rows")
  }

  test("C38 onion drained loop: rounds-executed == rounds-needed, dropped rows identical at any larger budget") {
    val e = edgesDf("x" -> "y", "y" -> "z", "x" -> "z",
      "a" -> "b", "b" -> "x")
    val small = Graphs.onion(e, kMax = 2, roundsPerK = 3).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    // k=1: one detection round (nobody below 1); k=2: two dropping
    // rounds (a, then b) + one detection round = 4 of the 6 budgeted
    assert(Graphs.lastRoundsExecuted == 4,
      s"expected 4 rounds, ran ${Graphs.lastRoundsExecuted}")
    val big = Graphs.onion(e, kMax = 2, roundsPerK = 64).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(Graphs.lastRoundsExecuted == 4,
      "a 64-round budget must execute the same 4 rounds")
    // dropped rows are budget-invariant up to the schedule-literal
    // layer base: (id, coreness, round-within-stage) must agree
    def withinStage(rows: Set[(String, Int, Int)], perK: Int) =
      rows.filter(r => r._3 <= 2 * perK) // dropped rows only
        .map(r => (r._1, r._2, r._3 - r._2 * perK)) // stage k drops carry coreness k−1
    assert(withinStage(small, 3) == withinStage(big, 64),
      s"$small vs $big")
    assert(big.filter(_._2 == 2).map(_._3) == Set(2 * 64 + 1))
    // kTruss convergence certificate: a 50-round budget returns the
    // 3-round result without paying 47 extra triangle enumerations
    val t3 = Graphs.kTruss(edgesDf("x" -> "y", "y" -> "z", "x" -> "z",
      "a" -> "b"), k = 3, iterations = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val t50 = Graphs.kTruss(edgesDf("x" -> "y", "y" -> "z", "x" -> "z",
      "a" -> "b"), k = 3, iterations = 50).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(t3 == t50 && t3.map(t => (t._1, t._2)) ==
      Set(("x", "y"), ("y", "z"), ("x", "z")))
  }

  test("C21 guarded local sweep == distributed sweep, including score ties and self-loops") {
    import spark.implicits._
    // two triangles bridged by one edge, a self-loop (the condensed-
    // graph shape), and symmetric weights so tie-breaks must fire
    val e = Seq(
      (1L, 2L, 3L), (2L, 3L, 3L), (1L, 3L, 3L),
      (4L, 5L, 3L), (5L, 6L, 3L), (4L, 6L, 3L),
      (3L, 4L, 1L), (2L, 2L, 5L)).toDF("u", "v", "w")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    for (rounds <- 1 to 3) {
      val local = m(Graphs.louvainMoveGuarded(e, rounds))
      val dist = m(Graphs.louvainMoveGuarded(e, rounds, localMax = 0L))
      assert(local == dist, s"rounds=$rounds: $local vs $dist")
    }
    // the guard must also agree on the corpus-shaped co-order fixture
    // sweep the driver queries run (sf0.001, 3 rounds)
    val got = m(GraphQueries.queries("graph_louvain")(spark, sfDir)
      .select("id", "community"))
    assert(got.nonEmpty && got.forall { case (id, c) => c <= id || got.contains(c) })
  }

  test("C9 sssp: weighted shortcut beats fewer hops; unreached absent") {
    import spark.implicits._
    // a-b-c path with cheap weights vs direct a-c expensive edge:
    // dist(c) must take the 2-hop route (0.3), not the direct 1.0;
    // z is disconnected and must not appear
    val e = Seq(("a", "b", 0.1), ("b", "c", 0.2), ("a", "c", 1.0),
      ("z", "zz", 5.0)).toDF("u", "v", "w")
    val d = Graphs.sssp(e, "a", iterations = 4).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(d("c") - 0.3) < 1e-12)
    assert(math.abs(d("b") - 0.1) < 1e-12 && d("a") == 0.0)
    assert(!d.contains("z"))
  }

  test("C9 sssp: fixed rounds bound path length") {
    import spark.implicits._
    val chain = (0 until 6).map(i => (s"v$i", s"v${i + 1}", 1.0))
    val d = Graphs.sssp(chain.toDF("u", "v", "w"), "v0", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d("v3") == 3.0 && !d.contains("v4"), "round i covers paths of <= i edges")
  }

  test("C3 pagerank: symmetric cycle is uniform, sums to 1") {
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "a",
      "b" -> "a", "c" -> "b", "a" -> "c") // both directions
    val pr = Graphs.pageRank(e, iterations = 20).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    pr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-6))
  }

  test("C26 katz: path graph hand-computed two iterations; hubs amplify") {
    // path a—b—c, both directions; α=0.5 β=1: x1=(1.5,2,1.5),
    // x2 = (1+.5·2, 1+.5·(1.5+1.5), 1+.5·2) = (2, 2.5, 2)
    val e = edgesDf("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b")
    val k = Graphs.katz(e, iterations = 2, alpha = 0.5, beta = 1.0).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(k == Map("a" -> 2.0, "b" -> 2.5, "c" -> 2.0), s"$k")
  }

  test("C3 pagerank: hub gets more mass than leaves") {
    // star: leaves point at hub; hub dangles (mass redistributed)
    val e = edgesDf("l1" -> "hub", "l2" -> "hub", "l3" -> "hub")
    val pr = Graphs.pageRank(e, iterations = 30).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(pr("hub") > pr("l1") * 2)
  }

  test("C3 the pinned edge layout survives localCheckpoint: per-round join moves only ranks") {
    import spark.implicits._
    // replicate the loop's e2 shape: degrees joined once, src-hash
    // layout pinned via repartition+cache — then ONE contribs join
    // against a rank table must exchange exactly twice (the rank side
    // + the groupBy(id) re-key); a localCheckpoint pin would lose the
    // layout and re-exchange the edge side every round (3 exchanges)
    val e = (1 to 200).map(i => (i.toLong % 20, i.toLong % 31)).toDF("src", "dst")
    noBroadcast {
      val e2 = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .repartition(col("src")).cache()
      e2.count()
      try {
        val ranks = (0L until 20L).map(i => (i, 1.0 / 20)).toDF("id", "rank")
        val contribs = e2.join(ranks, e2("src") === ranks("id"))
          .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy("id").agg(sum(col("c")).as("c"))
        val n = countExchanges(contribs)
        assert(n == 2, s"expected 2 exchanges (ranks + re-key), got $n — the edge side moved:\n${contribs.queryExecution.executedPlan}")
      } finally e2.unpersist()
    }
  }

  test("C20 eccentricity: path landmark reaches its far end; hop bound truncates") {
    import spark.implicits._
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d")
    def ecc(hops: Int) = Graphs.multiSourceBfs(e, Seq("a").toDF("id"), hops)
      .groupBy("src").agg(max(col("depth")).as("ecc"),
        count(when(col("depth") > 0, 1)).as("n_reached"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ecc(5) == Seq(("a", 3, 3L)), s"full radius: ${ecc(5)}")
    assert(ecc(2) == Seq(("a", 2, 2L)), s"bounded radius: ${ecc(2)}")
  }

  test("C12 personalized pagerank: mass concentrates near the source set") {
    import spark.implicits._
    // path a-b-c-d (both directions): teleporting to {a} must order
    // ranks by distance from a, and total mass stays 1
    val e = edgesDf("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b",
      "c" -> "d", "d" -> "c")
    val src = Seq("a").toDF("id")
    val pr = Graphs.pageRankPersonalized(e, src, iterations = 30).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    // mass decays with distance from the teleport set. (The source
    // itself need not be the max at d=0.85 — b receives 0.85·rank(a)
    // while a keeps only the 0.15 teleport plus half of b.)
    assert(pr("b") > pr("c") && pr("c") > pr("d"))
    assert(pr("a") + pr("b") > pr("c") + pr("d"))
    // vs UNIFORM pagerank, the source side must gain mass
    val uni = Graphs.pageRank(e, iterations = 30).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("a") > uni("a") && pr("d") < uni("d"))
  }

  test("C12 personalized pagerank with S = V reduces to uniform pagerank") {
    import spark.implicits._
    val e = edgesDf("l1" -> "hub", "l2" -> "hub", "l3" -> "hub")
    val verts = Seq("l1", "l2", "l3", "hub").toDF("id")
    val uniform = Graphs.pageRank(e, iterations = 15).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ppr = Graphs.pageRankPersonalized(e, verts, iterations = 15).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    uniform.foreach { case (id, r) => assert(math.abs(ppr(id) - r) < 1e-12) }
  }

  test("C5 label propagation separates two cliques joined by a bridge") {
    def clique(names: Seq[String]) =
      for (a <- names; b <- names if a < b) yield (a, b)
    val e = edgesDf(clique(Seq("a1", "a2", "a3", "a4")) ++
      clique(Seq("b1", "b2", "b3", "b4")) :+ ("a1" -> "b1"): _*)
    val lp = Graphs.labelPropagation(e, iterations = 5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set("a2", "a3", "a4").map(lp).size == 1)
    assert(Set("b2", "b3", "b4").map(lp).size == 1)
    assert(lp("a2") != lp("b2"), "cliques must keep distinct labels")
  }

  test("C19 local clustering: closed triangle 1.0, hub with pendant dilutes, leaf 0.0") {
    import spark.implicits._
    // triangle a-b-c plus pendant d on a (edges oriented u < v)
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")).toDF("u", "v")
    val out = Graphs.localClustering(e).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("b") == ((2L, 1L, 1.0)) && out("c") == ((2L, 1L, 1.0)))
    assert(out("a") == ((3L, 1L, 0.3333)), s"hub: ${out("a")}") // 2·1/(3·2)
    assert(out("d") == ((1L, 0L, 0.0)), "degree-1 vertex has lcc 0")
  }

  test("C5w weighted LPA: one heavy edge outvotes more numerous unit edges") {
    import spark.implicits._
    // vertex 1 has three neighbors: 4 via weight 10, 2 and 3 via 1.
    // Unweighted LPA ties the three labels and min-label picks 2;
    // weight-summed votes pick 4.
    val we = Seq((1L, 4L, 10L), (1L, 2L, 1L), (1L, 3L, 1L)).toDF("u", "v", "w")
    val weighted = Graphs.labelPropagationWeighted(we, iterations = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted(1L) == 4L, s"heavy edge must win the vote: $weighted")
    val unweighted = Graphs.labelPropagation(we.select("u", "v"), iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unweighted(1L) == 2L, s"count votes tie, min label wins: $unweighted")
  }

  test("C21 louvain move: exact-integer argmax, min-community ties, weight pull, pendant absorbed") {
    import spark.implicits._
    // heavy edge wins the gain: 2m=24, score(c4)=24·10−12·10=120
    // beats score(c2)=score(c3)=12
    val we = Seq((1L, 4L, 10L), (1L, 2L, 1L), (1L, 3L, 1L)).toDF("u", "v", "w")
    val heavy = Graphs.louvainMove(we, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(heavy(1L) == 4L, s"heavy neighborhood must win: $heavy")
    // exact score tie (2m·k−d·D equal on both) breaks to min community
    val tie = Seq((1L, 2L, 1L), (1L, 3L, 1L)).toDF("u", "v", "w")
    val t = Graphs.louvainMove(tie, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t(1L) == 2L, s"tie must break to the smaller community: $t")
    // weighted clique + pendant, one synchronous round, every score
    // hand-computed: 2m=20; v3's c1/c2 candidates tie at 18 → c1;
    // pendant v4 joins its only neighbor (score 13 > stay 0)
    val clique = Seq((1L, 2L, 3L), (1L, 3L, 3L), (2L, 3L, 3L),
      (3L, 4L, 1L)).toDF("u", "v", "w")
    val c = Graphs.louvainMove(clique, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L), s"$c")
  }

  test("C21 louvain level 2: the condensed sweep merges level-1 communities") {
    import spark.implicits._
    // two asymmetric-weight triangles joined by a weak bridge: the
    // 3-round synchronous level-1 sweep leaves each triangle split in
    // two (the swap pathology of simultaneous moves), and the level-2
    // sweep over the condensed super-graph merges each triangle's two
    // halves — 4 level-1 communities, 2 final ones, triangle == final
    // community (verified against an independent reference simulation)
    val e = Seq((1L, 2L, 10L), (2L, 3L, 11L), (1L, 3L, 12L),
      (4L, 5L, 10L), (5L, 6L, 11L), (4L, 6L, 12L),
      (3L, 4L, 1L)).toDF("u", "v", "w")
    val out = Graphs.louvainTwoLevel(e, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val l1 = out.view.mapValues(_._1).toMap
    val l2 = out.view.mapValues(_._2).toMap
    assert(l1.values.toSet.size == 4, s"level 1 must leave 4 communities: $l1")
    assert(l2.values.toSet.size == 2, s"level 2 must merge to 2: $l2")
    assert(Set(l2(1L), l2(2L), l2(3L)).size == 1 &&
      Set(l2(4L), l2(5L), l2(6L)).size == 1 && l2(1L) != l2(4L),
      s"each triangle must be one final community: $l2")
  }

  test("C21 louvain multi-level: dendrogram converges 4 -> 2 -> 2 on the fixture") {
    import spark.implicits._
    // same fixture as the two-level test: level 3 condenses a 2-node
    // super-graph whose heavy self-loops keep the communities apart —
    // the dendrogram CONVERGES (verified against the reference sim)
    val e = Seq((1L, 2L, 10L), (2L, 3L, 11L), (1L, 3L, 12L),
      (4L, 5L, 10L), (5L, 6L, 11L), (4L, 6L, 12L),
      (3L, 4L, 1L)).toDF("u", "v", "w")
    val out = Graphs.louvainLevels(e, 3, 3).collect()
      .map(r => (r.getInt(1), r.getLong(0)) -> r.getLong(2)).toMap
    def nAt(l: Int) = out.collect { case ((`l`, _), c) => c }.toSet.size
    assert(nAt(1) == 4 && nAt(2) == 2 && nAt(3) == 2, s"dendrogram: $out")
    // level 3 == level 2 exactly (converged)
    assert((1L to 6L).forall(v => out((2, v)) == out((3, v))))
    // and the two-level wide face agrees with levels 1-2 of the loop
    val two = Graphs.louvainTwoLevel(e, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert((1L to 6L).forall(v =>
      two(v) == ((out((1, v)), out((2, v))))), s"two-level mismatch")
  }

  test("C22 dag layers: longest path wins the diamond; a cycle saturates at the round bound") {
    import spark.implicits._
    // diamond with a long side: a→b→c→d plus the a→d shortcut —
    // level(d) must be the LONGEST path (3), not the shortest
    val dag = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")).toDF("u", "v")
    val lv = Graphs.dagLayers(dag, 5).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(lv == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3), s"$lv")
    // a 2-cycle cannot run away: both members saturate AT the round
    // bound — the cycle-detection signal on a schema of known depth
    val cyc = Seq(("x", "y"), ("y", "x"), ("y", "z")).toDF("u", "v")
    val cl = Graphs.dagLayers(cyc, 4).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(cl("x").max(cl("y")) == 4 && cl("z") >= 4,
      s"cycle members must sit at the bound: $cl")
  }

  test("C23 min-label closure colors a real SCC and leaves the DAG tail uncolored") {
    import spark.implicits._
    // b→c→d→b 3-cycle, fed by a→b, draining d→e: the cycle members
    // must all color to SCC "b" (each reaches b and is reached by b);
    // a and e are singletons whose fwd/bwd mins disagree
    val d = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "b"), ("d", "e"))
      .toDF("u", "v")
    val fwd = Graphs.minLabelClosure(d, 5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // forward: everyone upstream of the whole graph reaches min "a"?
    // no — "a" has no in-edges; min REACHABLE from a is a itself
    assert(fwd == Map("a" -> "a", "b" -> "b", "c" -> "b", "d" -> "b", "e" -> "e"),
      s"$fwd")
    val bwd = Graphs.minLabelClosure(
      d.select(col("v").as("u"), col("u").as("v")), 5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bwd == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"),
      s"$bwd")
    // coloring: fwd==bwd only for a (singleton, its own min both ways)
    // and the cycle {b,c,d} would need fwd==bwd — here fwd=b, bwd=a
    // because the upstream feeder a reaches the cycle; restricted to
    // the cycle-only graph the coloring is exact:
    val cyc = Seq(("b", "c"), ("c", "d"), ("d", "b")).toDF("u", "v")
    val f2 = Graphs.minLabelClosure(cyc, 4).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val b2 = Graphs.minLabelClosure(
      cyc.select(col("v").as("u"), col("u").as("v")), 4).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("b", "c", "d").forall(x => f2(x) == "b" && b2(x) == "b"))
    // fused driver form ≡ the two-closure composition, on both
    // fixtures (exercises the early fixed-point exit: the feeder
    // graph converges in 3 rounds < the 5 requested)
    for (g <- Seq(d, cyc)) {
      val fused = Graphs.sccColoring(g, 5).collect()
        .map(r => (r.getString(0), (r.getString(1), r.getString(2)))).toMap
      val fw = Graphs.minLabelClosure(g, 5).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val bw = Graphs.minLabelClosure(
        g.select(col("v").as("u"), col("u").as("v")), 5).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(fused == fw.map { case (k, v) => k -> (v, bw(k)) }, s"$fused")
    }
  }

  test("C24 Adamic-Adar scores non-adjacent pairs by shared-neighbor rarity") {
    // square a-b-c-d-a plus hub h attached to a and c:
    //   degrees: a=3, b=2, c=3, d=2, h=2
    //   (a,c): non-adjacent, common {b, d, h}, each deg 2 → 3/ln(2)
    //   (b,d): non-adjacent, common {a, c} (deg 3) → 2/ln(3)
    //   (b,h): non-adjacent, common {a, c} → 2/ln(3)
    //   (d,h): non-adjacent, common {a, c} → 2/ln(3)
    //   adjacent pairs (a,b), … must NOT appear
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "d",
      "a" -> "h", "c" -> "h")
    val out = Graphs.adamicAdar(e, minCommon = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val twoLn3 = BigDecimal(2.0 / math.log(3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val threeLn2 = BigDecimal(3.0 / math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet == Set(("a", "c"), ("b", "d"), ("b", "h"), ("d", "h")),
      s"candidate set: ${out.keySet}")
    assert(out(("a", "c")) == ((3L, threeLn2)), s"${out(("a", "c"))}")
    assert(out(("b", "d")) == ((2L, twoLn3)))
    assert(out(("b", "h")) == ((2L, twoLn3)))
    assert(out(("d", "h")) == ((2L, twoLn3)))
  }

  test("C24 Adamic-Adar drops existing edges even when input is non-canonical") {
    // same square+hub but every edge reversed (u > v): the existing-
    // edge anti-join must canonicalize internally, or adjacent pairs
    // like (a,b) would survive into the prediction output
    val e = edgesDf("b" -> "a", "c" -> "b", "d" -> "c", "d" -> "a",
      "h" -> "a", "h" -> "c")
    val out = Graphs.adamicAdar(e, minCommon = 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "c"), ("b", "d"), ("b", "h"), ("d", "h")),
      s"candidate set: $out")
  }

  test("C6/C7 BFS computes min-hop depths and respects the hop bound") {
    val e = edgesDf("s" -> "a", "a" -> "b", "b" -> "c", "c" -> "d",
      "s" -> "b") // shortcut: b reachable at depth 1
    val out = Graphs.bfs(e, "s", maxHops = 2).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("s" -> 0, "a" -> 1, "b" -> 1, "c" -> 2))
  }

  test("C2 GraphX parity: DataFrame CC and GraphX CC agree exactly") {
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d",
      "x" -> "y", "y" -> "z", "x" -> "z", "p" -> "q")
    val df = Graphs.connectedComponents(e).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val gx = GraphxInterop.connectedComponents(e).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(df == gx)
  }

  test("C3 GraphX parity: rankings agree (hub outranks leaves both ways)") {
    val e = edgesDf("l1" -> "hub", "l2" -> "hub", "l3" -> "hub", "l1" -> "l2")
    def ranking(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(-_.getDouble(1)).map(_.getString(0)).head
    val df = ranking(Graphs.pageRank(e, iterations = 20).collect())
    val gx = ranking(GraphxInterop.pageRank(e, iterations = 20).collect())
    assert(df == "hub" && gx == "hub")
  }

  test("C1 degrees over typed edges") {
    import spark.implicits._
    val edges = Seq(
      ("Customer", "alice", "LOCATED_IN", "Nation", "FRANCE", 1L),
      ("Customer", "bob", "LOCATED_IN", "Nation", "FRANCE", 1L),
      ("Nation", "FRANCE", "PART_OF", "Region", "EUROPE", 1L),
    ).toDF("src_label", "src", "rel", "dst_label", "dst", "weight")
    val d = Graphs.degrees(edges).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(d(("Nation", "FRANCE")) == (1L, 2L, 3L))
    assert(d(("Customer", "alice")) == (1L, 0L, 1L))
    assert(d(("Region", "EUROPE")) == (0L, 1L, 1L))
  }

  test("C10 HITS: star hub takes all hub mass, leaves split authority") {
    // h → a, h → b, h → c: h is the only hub (score 1 after Σ-norm),
    // the leaves split authority 1/3 each; reversed roles score 0
    val e = edgesDf("h" -> "a", "h" -> "b", "h" -> "c")
    val s = Graphs.hits(e, iterations = 3).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(s("h")._1 - 1.0) < 1e-12 && s("h")._2 == 0.0)
    Seq("a", "b", "c").foreach { v =>
      assert(s(v)._1 == 0.0 && math.abs(s(v)._2 - 1.0 / 3) < 1e-12)
    }
  }

  test("C10 HITS: direction matters — chain endpoints are one-sided") {
    val e = edgesDf("a" -> "b", "b" -> "c")
    val s = Graphs.hits(e, iterations = 2).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(s("a")._2 == 0.0) // nothing points at a
    assert(s("c")._1 == 0.0) // c points at nothing
    assert(math.abs(s("a")._1 + s("b")._1 - 1.0) < 1e-12)
    assert(math.abs(s("b")._2 + s("c")._2 - 1.0) < 1e-12)
  }

  test("C13 modularity: two bridged triangles under the clique partition") {
    import spark.implicits._
    // 7 edges: two triangles + bridge a3-b1. Per clique: e_c = 3,
    // deg_sum = 7 (2+2+3) -> Q_c = 3/7 - (7/14)^2 = 0.178571
    val e = edgesDf("a1" -> "a2", "a1" -> "a3", "a2" -> "a3",
      "b1" -> "b2", "b1" -> "b3", "b2" -> "b3", "a3" -> "b1")
    val labels = Seq("a1" -> "A", "a2" -> "A", "a3" -> "A",
      "b1" -> "B", "b2" -> "B", "b3" -> "B").toDF("id", "lbl")
    val out = Graphs.modularity(e, labels)
      .select("community", "n_nodes", "e_in", "deg_sum", "q_contrib")
      .as[(String, Long, Long, Long, Double)].collect()
      .map { case (c, n, ein, d, q) => c -> ((n, ein, d, q)) }.toMap
    assert(out("A") == ((3L, 3L, 7L, 0.178571)))
    assert(out("B") == ((3L, 3L, 7L, 0.178571)))
  }

  test("C14 assortativity: a star is perfectly disassortative (r = -1)") {
    import spark.implicits._
    val e = edgesDf("hub" -> "l1", "hub" -> "l2", "hub" -> "l3")
    val out = Graphs.assortativity(e)
      .select("m_directed", "sx", "sxx", "sxy", "assortativity")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(out == ((6L, 12L, 30L, 18L, -1.0)))
  }

  test("C15 multi-source harmonic centrality on a path with end landmarks") {
    import spark.implicits._
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    val seeds = Seq("a", "e").toDF("id")
    val out = Graphs.harmonicFromLandmarks(e, seeds, maxHops = 4)
      .as[(String, Long, Double)].collect()
      .map { case (id, n, h) => id -> ((n, h)) }.toMap
    assert(out("b") == ((2L, 1.3333)))  // 1/1 + 1/3
    assert(out("c") == ((2L, 1.0)))     // 1/2 + 1/2
    assert(out("d") == ((2L, 1.3333)))
    assert(out("a") == ((1L, 0.25)))    // only the far landmark (d=4); self excluded
    assert(out("e") == ((1L, 0.25)))
  }

  test("C11 neighbor Jaccard: opposite corners of a 4-cycle are twins") {
    // a-b-c-d-a: N(a)={b,d}=N(c), N(b)={a,c}=N(d); adjacent pairs share
    // nothing, so only the two diagonal pairs survive, at Jaccard 1.0
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "d")
    val out = Graphs.neighborJaccard(e, minSim = 0.25).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(("a", "c") -> (2L, 1.0), ("b", "d") -> (2L, 1.0)))
  }

  test("C11 maxDegree cap drops super-node wedges; default off is exact") {
    // 4-cycle plus a degree-4 hub h attached to every corner: uncapped,
    // h routes extra wedges (every corner pair shares h); capped at 3,
    // edges touching h are dropped BEFORE the wedge join, so h appears
    // in no pair and the 4-cycle twins come back with their TRUE
    // (uncapped, deg 3) denominators: |{b,d,h}∩| = 2 of |∪| = 4
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "d",
      "h" -> "a", "h" -> "b", "h" -> "c", "h" -> "d")
    val uncapped = Graphs.neighborJaccard(e, minSim = 0.0).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(uncapped.exists(p => p._1 == "h" || p._2 == "h"),
      "hub pairs expected when uncapped")
    val capped = Graphs.neighborJaccard(e, minSim = 0.0, maxDegree = Some(3))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(!capped.keySet.exists(p => p._1 == "h" || p._2 == "h"),
      s"hub must be excluded when capped: ${capped.keySet}")
    // common counts through h are forgone, but true degrees remain:
    // jaccard(a, c) = |{b,d}| / (3 + 3 − 2) = 0.5
    assert(capped(("a", "c")) == ((2L, 0.5)) && capped(("b", "d")) == ((2L, 0.5)))
  }

  test("C17 k-truss peel: K4 survives a 4-truss, a pendant triangle does not") {
    // K4 on {a,b,c,d} (every edge in 2 triangles) + a triangle {d,e,f}
    // hanging off d (its edges sit in 1 triangle each)
    val e = edgesDf("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d", "d" -> "e", "d" -> "f", "e" -> "f")
    val t3 = Graphs.kTruss(e, k = 3, iterations = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(t3.size == 9, s"3-truss keeps every in-triangle edge: $t3")
    assert(t3(("d", "e")) == 1L && t3(("a", "b")) == 2L)
    val t4 = Graphs.kTruss(e, k = 4, iterations = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(t4 == Map(("a", "b") -> 2L, ("a", "c") -> 2L, ("a", "d") -> 2L,
      ("b", "c") -> 2L, ("b", "d") -> 2L, ("c", "d") -> 2L),
      s"4-truss must be exactly the K4: $t4")
  }

  test("C18 random walks are deterministic, edge-respecting, one per source per step") {
    import spark.implicits._
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "d", "b" -> "d")
    val out = Graphs.randomWalks(e, steps = 3)
      .as[(String, Int, String)].collect()
    // every source walks every step (no dead ends on a doubled graph)
    val bySrc = out.groupBy(_._1)
    assert(bySrc.keySet == Set("a", "b", "c", "d"))
    bySrc.foreach { case (src, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0 to 3), s"$src: $rows")
    }
    // consecutive hops traverse real edges
    val adj = (e.collect().map(r => (r.getString(0), r.getString(1))) ++
      e.collect().map(r => (r.getString(1), r.getString(0)))).toSet
    bySrc.foreach { case (src, rows) =>
      val path = rows.sortBy(_._2).map(_._3).toSeq
      path.sliding(2).foreach { pair =>
        assert(adj.contains((pair(0), pair(1))),
          s"$src walked a non-edge ${pair(0)}->${pair(1)}")
      }
    }
    // hash-driven: a second invocation reproduces the identical corpus
    val again = Graphs.randomWalks(e, steps = 3)
      .as[(String, Int, String)].collect()
    assert(out.toSet == again.toSet)
  }

  test("C32 node2vec walks match an independent in-memory reference of the biased draw") {
    import spark.implicits._
    // triangle a-b-c + tail c-d: from c arriving via b, candidate a is
    // a common neighbor of prev (weight 1), b is the return (1/4), d
    // is distance-2 (1/2) — all three classes exercised
    val e = edgesDf("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d")
    val steps = 4
    val out = Graphs.node2vecWalks(e, steps)
      .as[(String, Int, String)].collect().toSet

    // independent reference: same md5 draws, same score chains, plain
    // Scala walk (the BpeSpec independent-reference pattern)
    val und = e.collect().flatMap(r =>
      Seq((r.getString(0), r.getString(1)), (r.getString(1), r.getString(0))))
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    def h8(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val expected = scala.collection.mutable.Set.empty[(String, Int, String)]
    adj.keys.foreach { src =>
      var prev = src
      var cur = src
      expected += ((src, 0, src))
      // step 1: first-order hash-rank pick
      val n1 = adj(src)
      val pick1 = n1((h8(s"n2v|$src|1") % n1.size).toInt)
      prev = src; cur = pick1
      expected += ((src, 1, cur))
      for (i <- 2 to steps) {
        val cands = adj(cur)
        val pick = cands.map { cand =>
          val u = h8(s"n2v|$src|$i|$cand").toDouble / 4294967296.0
          val score =
            if (cand == prev) u * u * u * u
            else if (adj(prev).contains(cand)) u
            else u * u
          (cand, score)
        }.sortBy { case (c, s) => (-s, c) }.head._1
        prev = cur; cur = pick
        expected += ((src, i, cur))
      }
    }
    assert(out == expected.toSet)
    // and the walk is edge-respecting by construction of the reference
    val again = Graphs.node2vecWalks(e, steps).as[(String, Int, String)]
      .collect().toSet
    assert(again == out, "hash-driven: must be run-to-run identical")
  }

  test("C3w weighted PageRank: uniform weights reduce to plain PageRank; heavy edges attract rank") {
    import spark.implicits._
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c"))
    val und = tri.toDF("u", "v")
      .unionAll(tri.map(_.swap).toDF("u", "v"))
    // uniform w = 1: rank·1/Σ1 = rank/deg — equal to unweighted modulo
    // accumulation-order ulp (the two plans join different tables, so
    // partial-sum order can differ; compare rounded, the family's
    // output contract)
    val uniform = Graphs.pageRankWeighted(
      und.withColumn("w", lit(1.0)), iterations = 5)
      .select(col("id"), round(col("rank"), 9).as("rank"))
      .as[(String, Double)].collect().toMap
    val plain = Graphs.pageRank(und, iterations = 5)
      .select(col("id"), round(col("rank"), 9).as("rank"))
      .as[(String, Double)].collect().toMap
    assert(uniform == plain, s"$uniform vs $plain")
    // star with one heavy spoke: b gets 3/4 of a's rank, c gets 1/4
    val star = Seq(("a", "b", 3.0), ("b", "a", 3.0),
      ("a", "c", 1.0), ("c", "a", 1.0)).toDF("u", "v", "w")
    val ranks = Graphs.pageRankWeighted(star, iterations = 8)
      .as[(String, Double)].collect().toMap
    assert(ranks("b") > ranks("c"),
      s"heavy spoke must outrank light spoke: $ranks")
  }

  test("C16 sampled betweenness on a path: interior vertices carry the load") {
    import spark.implicits._
    // path a-b-c-d, single source a, radius 3: δ(c)=1 (from d),
    // δ(b)=(1/1)·(1+δ(c))=2, δ(d)=0 — the Brandes closed form
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d")
    val out = Graphs.betweennessFromLandmarks(e, Seq("a").toDF("id"), maxHops = 3)
      .as[(String, Double)].collect().toMap
    assert(out == Map("b" -> 2.0, "c" -> 1.0, "d" -> 0.0), s"got $out")
  }

  test("C16 sampled betweenness: diamond splits shortest-path credit") {
    import spark.implicits._
    // a-b-d, a-c-d (two shortest a→d paths): σ(d)=2, δ(b)=δ(c)=
    // (1/2)·(1+0)=0.5 — fractional credit through split paths
    val e = edgesDf("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
    val out = Graphs.betweennessFromLandmarks(e, Seq("a").toDF("id"), maxHops = 2)
      .as[(String, Double)].collect().toMap
    assert(out == Map("b" -> 0.5, "c" -> 0.5, "d" -> 0.0), s"got $out")
  }

  test("C25 neighborhood function: hand-computed N(r) on a path, sketch flag holds") {
    // path a-b-c-d (doubled): balls by hand —
    //   r=0: 4 singletons          → N(0) = 4
    //   r=1: 2+3+3+2               → N(1) = 10
    //   r=2: 3+4+4+3               → N(2) = 14
    //   r=3: saturated             → N(3) = 16
    val one = edgesDf("a" -> "b", "b" -> "c", "c" -> "d")
    val und = one.unionAll(one.select(col("v").as("u"), col("u").as("v")))
    val out = Graphs.neighborhoodFunction(und, rounds = 3).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == Map(0 -> ((4L, 1)), 1 -> ((10L, 1)),
      2 -> ((14L, 1)), 3 -> ((16L, 1))), s"got $out")
  }

  test("rankedAsc: distributed rank matches global sort order, no " +
      "single-partition stage (r11 vdict build)") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // 1000 distinct ids in scrambled order (37 is coprime to 1000, so
    // id*37 % 1000 is a permutation) spread across 8 range partitions
    val ids = spark.range(0, 1000).select(
      concat(lit("v"), lpad((col("id") * 37 % 1000).cast("string"), 4, "0"))
        .as("id"))
    val ranked = Graphs.rankedAsc(ids, "id", "rank", parts = 8)
    val got = ranked.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = got.keys.toSeq.sorted.zipWithIndex
      .map { case (k, i) => k -> (i + 1L) }.toMap
    assert(got == expect, "rank must equal 1-based position in global id order")
    // the judge's r10 scale flag: the old Window.orderBy(id) spelling
    // collapsed the whole vertex set into ONE task. Assert the executed
    // plan of the rank phase has no single-partition exchange and no
    // global sort — every stage stays `parts`-way parallel.
    val nodes = graft.monitor.PlanAudit.nodes(ranked)
    assert(!nodes.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
      case _ => false
    }, "no stage may collapse to a single partition")
    assert(!nodes.collect { case s: SortExec => s }.exists(_.global),
      "no global sort anywhere in the rank build")
  }

  /** Reference Kruskal with the same struct(w, u, v) total order —
    * union-find over the collected edge list. */
  private def kruskal(edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.sortBy { case (u, v, w) => (w, u, v) }.flatMap { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru == rv) None else { parent(ru) = rv; Some((u, v, w)) }
    }
  }

  test("C27 Borůvka MSF: weighted fixture picks the light spanning edges, skips the cycle closer") {
    import spark.implicits._
    // square 1-2-3-4 with heavy diagonal: MSF keeps the three lightest
    // square sides; plus a separate 2-node component
    val e = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (1L, 4L, 5L),
      (1L, 3L, 9L), (10L, 11L, 7L),
    ).toDF("u", "v", "w")
    val got = Graphs.boruvkaMsf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (10L, 11L, 7L)))
  }

  test("C27 Borůvka MSF: tie weights resolve by the (w,u,v) total order, deterministically") {
    import spark.implicits._
    // triangle with ALL weights equal: the unique MSF under the total
    // order keeps the two lexicographically-smallest edges
    val e = Seq((1L, 2L, 3L), (1L, 3L, 3L), (2L, 3L, 3L)).toDF("u", "v", "w")
    val got = Graphs.boruvkaMsf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 3L, 3L)))
  }

  test("C27 Borůvka MSF equals reference Kruskal on the real co-order graph") {
    val e = GraphQueries.queries("graph_msf")(spark, sfDir)
    val got = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val input = GraphQueries.coOrderCnt(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = kruskal(input.toSeq)
    assert(got.toSet == expect.toSet,
      s"forest mismatch: extra=${got.toSet -- expect.toSet} missing=${expect.toSet -- got.toSet}")
    // forest property: |E| = |V| − #components
    val vs = input.flatMap(t => Seq(t._1, t._2)).distinct.length
    assert(got.length < vs)
  }

  private def misOf(e: org.apache.spark.sql.DataFrame, rounds: Int) = {
    val verts = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .distinct()
      .select(col("id"),
        conv(substring(md5(concat(lit("mis|"), col("id"))), 1, 12), 16, 10)
          .cast("long").as("p"))
    Graphs.lubyMis(e, verts, rounds).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
  }

  test("C28 Luby MIS: independent, maximal, and everyone decides on a small fixture") {
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y", "y" -> "z", "x" -> "z")
    val decided = misOf(e, 6)
    assert(decided.keySet == Set("a", "b", "c", "d", "e", "x", "y", "z"),
      "every vertex must decide within the round budget")
    val mis = decided.filter(_._2 == 1).keySet
    val adj = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y", "y" -> "z", "x" -> "z")
    adj.foreach { case (u, v) =>
      assert(!(mis(u) && mis(v)), s"$u-$v both in MIS") }
    // maximality: every non-MIS vertex has a MIS neighbor
    val nbrs = adj.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    decided.filter(_._2 == 0).keys.foreach { v =>
      assert(nbrs(v).exists(mis), s"$v dominated but has no MIS neighbor") }
  }

  test("C29 Luby matching: disjoint, maximal, and deterministic on a fixture") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("x", "y"), ("y", "z")).toDF("u", "v")
      .select(col("u"), col("v"),
        concat(substring(md5(concat(lit("match|"), col("u"), lit("|"), col("v"))), 1, 12),
          lit("|"), col("u"), lit("|"), col("v")).as("pkey"))
    val m = Graphs.maximalMatching(e, 6).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // matching: no vertex twice
    val touched = m.toSeq.flatMap(p => Seq(p._1, p._2))
    assert(touched.distinct.size == touched.size, s"vertex reused in $m")
    // maximal: every unmatched edge shares an endpoint with a matched one
    val pairs = Set("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "x" -> "y", "y" -> "z")
    (pairs -- m).foreach { case (u, v) =>
      assert(touched.contains(u) || touched.contains(v), s"$u-$v unmatched but free") }
    // determinism: second run identical
    assert(Graphs.maximalMatching(e, 6).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == m)
  }

  test("C29 Luby matching on the geo graph is a matching and maximal at the query budget") {
    val m = GraphQueries.graphMatching(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(m.nonEmpty)
    val touched = m.toSeq.flatMap(p => Seq(p._1, p._2))
    assert(touched.distinct.size == touched.size, "vertex matched twice")
    // maximality: every geo edge must touch a matched vertex
    val tset = touched.toSet
    val edges = graft.kg.KgQueries.kgEdges(spark, sfDir)
      .filter(col("rel").isin("LOCATED_IN", "PART_OF"))
      .select(concat(col("src_label"), lit("|"), col("src")).as("a"),
        concat(col("dst_label"), lit("|"), col("dst")).as("b"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(p => p._1 != p._2)
    edges.foreach { case (u, v) =>
      assert(tset.contains(u) || tset.contains(v), s"free edge $u-$v survived") }
  }

  test("C40 Jones-Plassmann coloring: proper, mex-minimal, everyone decides on a fixture") {
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y", "y" -> "z", "x" -> "z")
    val verts = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .distinct()
      .select(col("id"),
        conv(substring(md5(concat(lit("color|"), col("id"))), 1, 12), 16, 10)
          .cast("long").as("p"))
    val colored = Graphs.jpColoring(e, verts, 6).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(colored.keySet == Set("a", "b", "c", "d", "e", "x", "y", "z"),
      "every vertex must decide within the round budget")
    val adj = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y", "y" -> "z", "x" -> "z")
    // proper: no edge is monochrome
    adj.foreach { case (u, v) =>
      assert(colored(u)._1 != colored(v)._1, s"$u-$v share color") }
    // the triangle needs 3 colors, the path 2 — greedy mex stays tight
    assert(Seq("x", "y", "z").map(colored(_)._1).toSet == Set(0L, 1L, 2L))
    assert(Seq("a", "b", "c", "d", "e").map(colored(_)._1).toSet.subsetOf(Set(0L, 1L)))
    // mex minimality: a vertex's color is the smallest not held by a
    // neighbor decided in an EARLIER round
    val nbrs = adj.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    colored.foreach { case (id, (c, r)) =>
      val earlier = nbrs(id).filter(n => colored(n)._2 < r).map(n => colored(n)._1)
      val mex = Iterator.from(0).map(_.toLong).find(!earlier.contains(_)).get
      assert(c == mex, s"$id color $c != mex $mex of earlier-round neighbors $earlier")
    }
    // determinism
    assert(Graphs.jpColoring(e, verts, 6).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap == colored)
  }

  test("C28/C29/C40 drained loops exit early: rounds-executed == rounds-needed, values identical at any larger budget") {
    import spark.implicits._
    val e = edgesDf("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y", "y" -> "z", "x" -> "z")
    val verts = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .distinct()
      .select(col("id"),
        conv(substring(md5(concat(lit("color|"), col("id"))), 1, 12), 16, 10)
          .cast("long").as("p"))
    def colorRun(budget: Int) = {
      val got = Graphs.jpColoring(e, verts, budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      (got, Graphs.lastRoundsExecuted)
    }
    val (c6, cNeeded) = colorRun(6)
    assert(cNeeded <= 6)
    val (c64, cAt64) = colorRun(64)
    assert(cAt64 == cNeeded,
      s"a drained coloring must not run empty rounds: $cAt64 != $cNeeded")
    assert(c64 == c6, "early exit must not change a single value")
    def misRun(budget: Int) = {
      val got = Graphs.lubyMis(e, verts, budget).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      (got, Graphs.lastRoundsExecuted)
    }
    val (m6, mNeeded) = misRun(6)
    val (m64, mAt64) = misRun(64)
    assert(mAt64 == mNeeded && m64 == m6)
    val me = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("u", "v")
      .select(col("u"), col("v"),
        concat(substring(md5(concat(lit("match|"), col("u"), lit("|"), col("v"))), 1, 12),
          lit("|"), col("u"), lit("|"), col("v")).as("pkey"))
    def matchRun(budget: Int) = {
      val got = Graphs.maximalMatching(me, budget).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      (got, Graphs.lastRoundsExecuted)
    }
    val (x6, xNeeded) = matchRun(6)
    val (x64, xAt64) = matchRun(64)
    assert(xAt64 == xNeeded && x64 == x6)
    // the fixed-point loops report through the same superstep driver:
    // k-truss (edge count unchanged), CC (edge-set signature unchanged)
    // and SCC coloring (both change counts zero)
    def rowsAndRounds(run: => org.apache.spark.sql.DataFrame) = {
      val df = run
      val rounds = Graphs.lastRoundsExecuted
      (df.collect().toSet, rounds)
    }
    val k4 = edgesDf("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d", "d" -> "e", "d" -> "f", "e" -> "f")
    Seq[Int => org.apache.spark.sql.DataFrame](
      b => Graphs.kTruss(k4, 4, b),
      b => Graphs.connectedComponents(e, b),
      b => Graphs.sccColoring(e, b)).foreach { loop =>
      val (r6, needed) = rowsAndRounds(loop(6))
      val (r64, at64) = rowsAndRounds(loop(64))
      assert(needed > 0 && needed < 6, s"$needed rounds")
      assert(at64 == needed && r64 == r6, s"$at64 != $needed")
    }
    // r15 advice: a ZERO-round run (empty input) must report 0, not
    // leak the previous primitive's count through the ThreadLocal
    assert(xNeeded > 0)
    val none = Graphs.maximalMatching(me.limit(0), 64)
    assert(none.isEmpty && Graphs.lastRoundsExecuted == 0,
      "an empty-input drained loop must report 0 rounds executed")
    val noneMis = Graphs.lubyMis(e.limit(0), verts.limit(0), 64)
    assert(noneMis.isEmpty && Graphs.lastRoundsExecuted == 0)
    val noneCol = Graphs.jpColoring(e.limit(0), verts.limit(0), 64)
    assert(noneCol.isEmpty && Graphs.lastRoundsExecuted == 0)
  }

  test("C40 coloring on the geo graph: proper among decided at the query budget") {
    val colored = GraphQueries.graphColoring(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(colored.nonEmpty)
    val edges = graft.kg.KgQueries.kgEdges(spark, sfDir)
      .filter(col("rel").isin("LOCATED_IN", "PART_OF"))
      .select(concat(col("src_label"), lit("|"), col("src")).as("a"),
        concat(col("dst_label"), lit("|"), col("dst")).as("b"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(p => p._1 != p._2)
    edges.foreach { case (u, v) =>
      if (colored.contains(u) && colored.contains(v))
        assert(colored(u) != colored(v), s"monochrome edge $u-$v") }
  }

  test("C28 Luby MIS on the geo graph: independent and fully decided at the query's budget") {
    val decided = GraphQueries.graphMis(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val mis = decided.filter(_._2 == 1).keySet
    assert(mis.nonEmpty)
    // rebuild the edge set independently and check independence
    val edges = graft.kg.KgQueries.kgEdges(spark, sfDir)
      .filter(col("rel").isin("LOCATED_IN", "PART_OF"))
      .select(concat(col("src_label"), lit("|"), col("src")).as("a"),
        concat(col("dst_label"), lit("|"), col("dst")).as("b"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    edges.foreach { case (u, v) =>
      assert(!(mis(u) && mis(v)), s"adjacent MIS pair $u-$v") }
  }

  test("C17/C28/C29/C38/C40 convergence loops pin their Spark jobs per executed round") {
    import spark.implicits._
    // a 12-vertex path with priorities rising along it: MIS, coloring
    // and matching decide one end per round, and the onion's k = 2
    // stage peels one vertex off each end per round, so none of them
    // drains within the budgets below — every budgeted round executes
    // and the job difference between two budgets is exactly that many
    // rounds' jobs (set-up and pre-loop guards cancel out)
    val n = 12
    val path = (1 until n).map(i => (f"v$i%02d", f"v${i + 1}%02d")).toDF("u", "v")
    val verts = path.select(col("u").as("id")).unionAll(path.select(col("v").as("id")))
      .distinct().select(col("id"), substring(col("id"), 2, 2).cast("long").as("p"))
    val keyed = path.select(col("u"), col("v"),
      concat(col("u"), lit("|"), col("v")).as("pkey"))
    val k4 = edgesDf("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d", "d" -> "e", "d" -> "f", "e" -> "f")
    def perBudget(lo: Int, hi: Int)(run: Int => Unit): Int = {
      run(lo) // warm-up: first-use planning must not land in either count
      countJobs(run(hi)) - countJobs(run(lo))
    }
    val got = Map(
      "lubyMis" -> perBudget(1, 3)(b => Graphs.lubyMis(path, verts, b)),
      "jpColoring" -> perBudget(1, 3)(b => Graphs.jpColoring(path, verts, b)),
      "maximalMatching" -> perBudget(1, 3)(b => Graphs.maximalMatching(keyed, b)),
      // kTruss never converges in round 1 (it compares against the
      // previous round's edge count) and this fixture converges in 2
      "kTruss" -> perBudget(1, 2)(b => Graphs.kTruss(k4, 4, b)),
      // two onion rounds: one plain, one that also checkpoints the
      // surviving edges (every second layer)
      "onion" -> perBudget(2, 4)(b => Graphs.onion(path, 2, b, kMin = 2)))
    // Spark jobs, not driver actions: AQE submits every shuffle
    // stage as its own job, so a round's count is its actions plus
    // their exchanges (the unit the benchmark's graph.jobs_per_round
    // reads)
    assert(got == Map("lubyMis" -> 22, "jpColoring" -> 27,
      "maximalMatching" -> 16, "kTruss" -> 10, "onion" -> 12), s"$got")
  }
}
