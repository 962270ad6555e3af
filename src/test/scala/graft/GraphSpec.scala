package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{stagedOnly, withConf}

  test("pageRankScaled: one iteration matches the hand computation, " +
       "dangling mass redistributes uniformly, duplicate edges " +
       "collapse") {
    // A→B, B→A, A→C (C dangling); duplicate A→B row must not double
    // A's out-degree or B's in-mass
    val edges = Seq(("A", "B"), ("A", "B"), ("B", "A"), ("A", "C"))
      .toDF("src", "dst")
    val r1 = Graph.pageRankScaled(edges, "src", "dst", 1)
      .as[(String, Long)].collect().toMap
    // N=3, S=10^12: r0 = 333333333333 each; base = 15S div 300 =
    // 50000000000. C is dangling: dang = 333333333333, uniform share
    // = dang div 3 = 111111111111 added to every node's in-mass.
    // contrib: A sends r0 div 2 = 166666666666 to B and C; B sends
    // 333333333333 to A.
    val share = 333333333333L / 3L
    assert(r1("A") ==
      50000000000L + 85L * (333333333333L + share) / 100L)
    assert(r1("B") ==
      50000000000L + 85L * (166666666666L + share) / 100L)
    assert(r1("C") == r1("B"))
    // mass is conserved up to integer-division truncation: each node
    // loses < 1 unit per div (base, share, contrib, damp) per round
    val leak = Graph.Scale - r1.values.sum
    assert(leak >= 0 && leak < 3L * 4L, s"mass leak: $leak")
  }

  test("pageRankScaled: dangling mass conservation holds over many " +
       "iterations and sinks do not deflate the total") {
    // star with a pure sink: 4 leaves → hub → sink; sink has no
    // out-edges, so ~all mass funnels there and MUST come back via
    // redistribution, not leak (pre-r11 drop semantics lost ~15% of
    // the dangling mass per round)
    val leaves = (1 to 4).map(i => s"leaf$i")
    val edges = (leaves.map(_ -> "hub") :+ ("hub" -> "sink"))
      .toDF("src", "dst")
    val iters = 8
    val r = Graph.pageRankScaled(edges, "src", "dst", iters)
      .as[(String, Long)].collect().toMap
    val leak = Graph.Scale - r.values.sum
    // 6 nodes × 4 truncating divisions × 8 rounds bounds the leak;
    // dropped-dangling semantics would leak ~0.85 × sink-rank ≫ this
    assert(leak >= 0 && leak < 6L * 4L * iters, s"mass leak: $leak")
    // the sink absorbs the hub's full mass: it must outrank the hub,
    // which outranks the symmetric leaves
    assert(r("sink") > r("hub") && r("hub") > r("leaf1"))
    assert(leaves.map(r).distinct.size == 1)
  }

  test("pageRankScaled: a sink-free cycle conserves total mass to " +
       "within integer-division truncation, hub outranks leaves") {
    // leaves all point at the hub, hub points back at every leaf —
    // no dangling nodes
    val leaves = (1 to 9).map(i => s"leaf$i")
    val edges = (leaves.map(_ -> "hub") ++ leaves.map("hub" -> _))
      .toDF("src", "dst")
    val r = Graph.pageRankScaled(edges, "src", "dst", 5)
      .as[(String, Long)].collect().toMap
    assert(leaves.forall(l => r("hub") > r(l)),
      s"hub must dominate: $r")
    // each of the 5 iterations truncates < 1 unit per node per div,
    // so 10 nodes × 5 rounds × 2 divisions bounds the leak
    assert(Graph.Scale - r.values.sum >= 0 &&
      Graph.Scale - r.values.sum < 10L * 5L * 2L * 2L,
      s"mass leak beyond truncation: ${Graph.Scale - r.values.sum}")
    // leaves are symmetric: identical ranks
    assert(leaves.map(r).distinct.size == 1)
  }

  test("pageRankScaledResume: on an unchanged graph, warm-starting " +
       "from fresh(k) for m rounds is bit-identical to fresh(k+m); " +
       "new nodes seed uniform") {
    val leaves = (1 to 9).map(i => s"leaf$i")
    val edges = (leaves.map(_ -> "hub") ++ leaves.map("hub" -> _) :+
      ("hub" -> "sink")).toDF("src", "dst")
    val fresh3 = Graph.pageRankScaled(edges, "src", "dst", 3)
    val resumed = Graph.pageRankScaledResume(edges, "src", "dst",
      fresh3, 2).as[(String, Long)].collect().toMap
    val fresh5 = Graph.pageRankScaled(edges, "src", "dst", 5)
      .as[(String, Long)].collect().toMap
    assert(resumed == fresh5)
    // grown graph: a node absent from the prior gets Scale div N —
    // one iteration on a 2-node cycle seeded (A -> prior 7, B -> new):
    // N=2, base = 15S div 200; B's seed = S div 2 contributes to A,
    // A's prior 7 contributes to B, no dangling nodes
    val two = Seq(("A", "B"), ("B", "A")).toDF("src", "dst")
    val prior = Seq(("A", 7L)).toDF("node", "rank_s")
    val r = Graph.pageRankScaledResume(two, "src", "dst", prior, 1)
      .as[(String, Long)].collect().toMap
    val base = Graph.Scale * 15L / 200L
    assert(r("A") == base + 85L * (Graph.Scale / 2L) / 100L)
    assert(r("B") == base + 85L * 7L / 100L)
  }

  test("pageRankScaledConverged: stops at the first iteration whose " +
       "L1 delta < eps and equals the fixed-budget run at that count") {
    val leaves = (1 to 9).map(i => s"leaf$i")
    val edges = (leaves.map(_ -> "hub") ++ leaves.map("hub" -> _) :+
      ("hub" -> "sink")).toDF("src", "dst")
    // measure the deltas the loop will see, from fixed-budget runs
    def ranks(i: Int): Map[String, Long] =
      Graph.pageRankScaled(edges, "src", "dst", i)
        .as[(String, Long)].collect().toMap
    val deltas = (2 to 6).map { i =>
      val a = ranks(i); val b = ranks(i - 1)
      i -> a.map { case (n, r) => math.abs(r - b(n)) }.sum
    }.toMap
    // pick eps strictly between delta_4 and delta_3 → stop must be 4
    assert(deltas(4) < deltas(3), "probe assumes decaying deltas")
    val eps = deltas(4) + 1L
    val conv = Graph.pageRankScaledConverged(edges, "src", "dst",
      eps, maxIters = 8)
    val rows = conv.as[(String, Long, Int)].collect()
    assert(rows.map(_._3).distinct.toSeq == Seq(4))
    assert(rows.map(r => r._1 -> r._2).toMap == ranks(4))
    // eps below every delta → runs to the cap
    val capped = Graph.pageRankScaledConverged(edges, "src", "dst",
      eps = 1L, maxIters = 3)
    val cr = capped.as[(String, Long, Int)].collect()
    assert(cr.map(_._3).distinct.toSeq == Seq(3))
    assert(cr.map(r => r._1 -> r._2).toMap == ranks(3))
    // huge eps → stops after the mandatory first iteration
    val one = Graph.pageRankScaledConverged(edges, "src", "dst",
      eps = Long.MaxValue, maxIters = 8)
    assert(one.as[(String, Long, Int)].collect()
      .map(_._3).distinct.toSeq == Seq(1))
    // warm + converged: on an UNCHANGED graph resume(fresh(3), m) ≡
    // fresh(3+m), so warm deltas at iteration i equal fresh deltas at
    // i+3 — the same eps that stopped the cold run at 4 stops the warm
    // run at 1, with ranks bit-equal to fresh(4). That equality IS the
    // warm-start saving, stated exactly.
    val prior = Graph.pageRankScaled(edges, "src", "dst", 3)
    val warm = Graph.pageRankScaledResumeConverged(edges, "src", "dst",
      prior, eps, maxIters = 8)
    val wr = warm.as[(String, Long, Int)].collect()
    assert(wr.map(_._3).distinct.toSeq == Seq(1))
    assert(wr.map(r => r._1 -> r._2).toMap == ranks(4))
  }

  test("personalizedPageRankScaled: teleport and dangling mass return " +
       "to seeds; one iteration matches the hand computation") {
    // A→B, B→C; seed = {A}. C is dangling. r0: A = S, B = C = 0.
    // iter 1: dang = r0(C) = 0; in(B) = S (A outdeg 1), in(C) = 0;
    //   A = base + 0, B = 85·S div 100, C = 0
    val edges = Seq(("A", "B"), ("B", "C")).toDF("src", "dst")
    val seeds = Seq("A", "ghost-not-in-graph").toDF("node")
    val r1 = graft.ops.Graph.personalizedPageRankScaled(
      edges, "src", "dst", seeds, 1)
      .as[(String, Long)].collect().toMap
    val base = Graph.Scale * 15L / 100L // |S ∩ nodes| = 1
    assert(r1("A") == base)
    assert(r1("B") == 85L * Graph.Scale / 100L)
    assert(r1("C") == 0L)
    // iter 2: dang = r1(C) = 0... run 2 iters: in(B) = r1(A) = base,
    // in(C) = r1(B); dang of r1 is C = 0
    val r2 = graft.ops.Graph.personalizedPageRankScaled(
      edges, "src", "dst", seeds, 2)
      .as[(String, Long)].collect().toMap
    assert(r2("A") == base)
    assert(r2("B") == 85L * base / 100L)
    assert(r2("C") == 85L * r1("B") / 100L)
    // iter 3 exercises the dangling return-to-seed: dang = r2(C) > 0
    // lands ONLY on A
    val r3 = graft.ops.Graph.personalizedPageRankScaled(
      edges, "src", "dst", seeds, 3)
      .as[(String, Long)].collect().toMap
    assert(r3("A") == base + 85L * r2("C") / 100L)
    // empty intersection fails loudly
    intercept[IllegalArgumentException] {
      graft.ops.Graph.personalizedPageRankScaled(
        edges, "src", "dst", Seq("ghost").toDF("node"), 1)
    }
  }

  test("hitsScaled: one iteration matches the hand computation and " +
       "duplicate edges collapse") {
    // A→B, A→C, B→C; S = 10^9. h0 = S each.
    // a_raw: B = S (from A), C = 2S (from A, B); ta = 3S ⇒ da = 3
    // a1: A = 0, B = S div 3, C = 2S div 3
    // h_raw: A = a(B)+a(C) = 999999999, B = a(C) = 666666666;
    // th = 1666666665 ⇒ dh = max(th div S, 1) = 1
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("A", "B"))
      .toDF("src", "dst")
    val r = Graph.hitsScaled(edges, "src", "dst", 1)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r("A") == ((0L, 999999999L)))
    assert(r("B") == ((333333333L, 666666666L)))
    assert(r("C") == ((666666666L, 0L)))
  }

  test("hitsScaled: bipartite roles separate — directories get hub " +
       "mass, targets get authority mass, and re-runs are bit-equal") {
    // two directory pages each linking all four targets
    val dirs = Seq("d1", "d2"); val tgts = (1 to 4).map(i => s"t$i")
    val edges = (for { d <- dirs; t <- tgts } yield (d, t))
      .toDF("src", "dst")
    val out = Graph.hitsScaled(edges, "src", "dst", 3)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    dirs.foreach { d =>
      assert(out(d)._1 == 0L && out(d)._2 > 0L, s"$d: ${out(d)}") }
    tgts.foreach { t =>
      assert(out(t)._1 > 0L && out(t)._2 == 0L, s"$t: ${out(t)}") }
    // symmetric nodes tie exactly; a second run is bit-identical
    assert(dirs.map(out).distinct.size == 1)
    assert(tgts.map(out).distinct.size == 1)
    val again = Graph.hitsScaled(edges, "src", "dst", 3)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(again == out)
  }

  test("triangleCounts: K4 closes everywhere, a pendant dilutes lcc, " +
       "direction/self-loops/duplicates collapse") {
    val k4 = for {
      a <- Seq("A", "B", "C", "D"); b <- Seq("A", "B", "C", "D")
      if a < b
    } yield (a, b)
    // feed BOTH directions of some edges, a self-loop, and a dup row:
    // the undirected simplification must ignore all of it
    val edges = (k4 ++ Seq(("B", "A"), ("C", "C"), ("A", "B"),
      ("A", "E"))).toDF("src", "dst")
    val r = Graph.triangleCounts(edges, "src", "dst")
      .as[(String, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // B, C, D: degree 3 inside K4, all 3 incident pairs closed
    Seq("B", "C", "D").foreach { n =>
      assert(r(n) == ((3L, 3L, 1.0)), s"$n: ${r(n)}") }
    // A additionally touches pendant E: degree 4, still 3 triangles,
    // lcc = 2·3/(4·3) = 0.5; E has degree 1 ⇒ lcc 0.0 by convention
    assert(r("A") == ((4L, 3L, 0.5)))
    assert(r("E") == ((1L, 0L, 0.0)))
  }

  test("triangleCounts: a pure wedge (path) has zero triangles and " +
       "zero lcc at the center") {
    val edges = Seq(("A", "B"), ("B", "C")).toDF("src", "dst")
    val r = Graph.triangleCounts(edges, "src", "dst")
      .as[(String, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r("B") == ((2L, 0L, 0.0)))
    assert(r("A") == ((1L, 0L, 0.0)) && r("C") == ((1L, 0L, 0.0)))
  }

  test("seededLabelPropagation: hops spread one ring per round, " +
       "majority beats the smaller label, ties pick the smaller, " +
       "seeds stay clamped, unreached stay null") {
    // path A—B—C—D (A seeded 7): after 2 rounds C is labeled, D not.
    // T is adjacent to seeds labeled 5,5,0 → majority 5 wins over the
    // smaller 0; U is adjacent to seeds 2 and 1 once each → tie → 1.
    // Seed S0 (label 0) sits in a sea of label-5 seeds but must stay 0.
    val edges = Seq(
      ("A", "B"), ("B", "C"), ("C", "D"),
      ("S5a", "T"), ("S5b", "T"), ("S0", "T"),
      ("S2", "U"), ("S1", "U"),
      ("S5a", "S0"), ("S5b", "S0")).toDF("src", "dst")
    val seeds = Seq(("A", 7L), ("S5a", 5L), ("S5b", 5L), ("S0", 0L),
      ("S2", 2L), ("S1", 1L)).toDF("node", "label")
    val r = graft.ops.Graph.seededLabelPropagation(
        edges, "src", "dst", seeds, 2)
      .collect().map(x => x.getString(0) ->
        (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    assert(r("A") == Some(7L) && r("B") == Some(7L) &&
      r("C") == Some(7L) && r("D").isEmpty)
    assert(r("T") == Some(5L), s"majority must win: ${r("T")}")
    assert(r("U") == Some(1L), s"tie must pick the smaller: ${r("U")}")
    assert(r("S0") == Some(0L), "seed must stay clamped")
    // degenerate inputs fail loudly
    intercept[IllegalArgumentException] {
      graft.ops.Graph.seededLabelPropagation(edges, "src", "dst",
        Seq(("ghost", 1L)).toDF("node", "label"), 1)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Graph.seededLabelPropagation(edges, "src", "dst",
        Seq(("A", 1L), ("A", 2L)).toDF("node", "label"), 1)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Graph.seededLabelPropagation(edges, "src", "dst",
        Seq(("A", 1L << 20)).toDF("node", "label"), 1)
    }
  }

  test("kCore: a pendant chain peels one ring per round into the " +
       "triangle core, the cap truncates, and duplicates/self-loops " +
       "collapse") {
    // triangle {A,B,C} (the 2-core) with a 3-link chain hanging off A:
    // A—p1—p2—p3. Peeling: round 1 drops p3 (deg 1), round 2 drops p2,
    // round 3 drops p1, round 4 observes the fixpoint.
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A"),
      ("A", "p1"), ("p1", "p2"), ("p2", "p3"),
      ("B", "A"), ("A", "A"), ("C", "A")).toDF("src", "dst")
    val r = graft.ops.Graph.kCore(edges, "src", "dst", k = 2,
        maxRounds = 8)
      .as[(String, Int)].collect()
    assert(r.map(_._1).sorted.toSeq == Seq("A", "B", "C"), s"$r")
    assert(r.forall(_._2 == 4), s"fixpoint observed at round 4: $r")
    // the cap truncates mid-peel: 2 rounds in, p1 is still present
    val capped = graft.ops.Graph.kCore(edges, "src", "dst", k = 2,
        maxRounds = 2)
      .as[(String, Int)].collect()
    assert(capped.map(_._1).sorted.toSeq == Seq("A", "B", "C", "p1"))
    assert(capped.forall(_._2 == 2))
    // k above the max degree empties the core (fixpoint at the first
    // repeated count — empty stays empty)
    val none = graft.ops.Graph.kCore(edges, "src", "dst", k = 10,
        maxRounds = 8)
    assert(none.count() == 0)
  }

  test("graphStats: reciprocity counts both directions of a mutual " +
       "pair, a star is perfectly disassortative, equal degrees null " +
       "the correlation") {
    // A↔B mutual, A→C one-way: 3 distinct directed edges, 2 reciprocal
    val r1 = graft.ops.Graph.graphStats(
        Seq(("A", "B"), ("B", "A"), ("A", "C"), ("A", "B"), ("C", "C"))
          .toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Option[Double], Long, Option[Double])]
      .collect().head
    assert(r1._1 == 3L && r1._2 == 2L && r1._3 == Some(0.666667))
    // star: hub degree 3 against leaf degree 1 on every edge ⇒ r = −1
    val r2 = graft.ops.Graph.graphStats(
        Seq(("A", "B"), ("A", "C"), ("A", "D")).toDF("src", "dst"),
        "src", "dst")
      .as[(Long, Long, Option[Double], Long, Option[Double])]
      .collect().head
    assert(r2._5 == Some(-1.0), s"star must be -1: $r2")
    // a cycle has every degree equal: zero variance ⇒ null, not NaN
    val r3 = graft.ops.Graph.graphStats(
        Seq(("A", "B"), ("B", "C"), ("C", "A")).toDF("src", "dst"),
        "src", "dst")
      .as[(Long, Long, Option[Double], Long, Option[Double])]
      .collect().head
    assert(r3._5.isEmpty, s"equal degrees must null out: $r3")
  }

  test("pageRankScaledWeighted: one iteration matches the hand " +
       "computation; all-1 weights are bit-identical to the uniform " +
       "variant; guards reject zero weights and parallel edges") {
    // A→B w=3, A→C w=1, B→A w=1; C dangling. N=3: r0 = 333333333333,
    // base = 50000000000, dangling share = r0 div 3 = 111111111111.
    // A receives (r0·1) div 1; B receives (r0·3) div 4; C (r0·1) div 4.
    val we = Seq(("A", "B", 3L), ("A", "C", 1L), ("B", "A", 1L))
      .toDF("src", "dst", "w")
    val r1 = Graph.pageRankScaledWeighted(we, "src", "dst", "w", 1)
      .as[(String, Long)].collect().toMap
    val share = 333333333333L / 3L
    assert(r1("A") ==
      50000000000L + 85L * (333333333333L + share) / 100L)
    assert(r1("B") ==
      50000000000L + 85L * (249999999999L + share) / 100L)
    assert(r1("C") ==
      50000000000L + 85L * (83333333333L + share) / 100L)
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"))
      .toDF("src", "dst")
    val uniform = Graph.pageRankScaled(edges, "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    val allOnes = Graph.pageRankScaledWeighted(
        edges.withColumn("w", lit(1L)), "src", "dst", "w", 3)
      .as[(String, Long)].collect().toMap
    assert(uniform == allOnes)
    intercept[IllegalArgumentException] {
      Graph.pageRankScaledWeighted(
        Seq(("A", "B", 0L)).toDF("src", "dst", "w"),
        "src", "dst", "w", 1)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankScaledWeighted(
        Seq(("A", "B", 1L), ("A", "B", 2L)).toDF("src", "dst", "w"),
        "src", "dst", "w", 1)
    }
  }

  test("bowTie: known bow-tie shape classifies " +
       "SCC/IN/OUT/TUBE/TENDRIL/DISC and the pivot election is " +
       "deterministic") {
    // core cycle c1→c2→c3→c1; IN chain in0→in1→c1; OUT chain
    // c2→o1→o2; tendril in1→t1 (hangs off IN: weakly connected,
    // reaches nothing that reaches the core); tube in0→u1→o1 (threads
    // IN to OUT avoiding the core); disconnected pair d1→d2.
    // Degrees: c1 = 3 (in1→c1, c3→c1, c1→c2), c2 = 3, in1 = 3,
    // o1 = 3 — tie → smallest node = "c1", inside the core as
    // required.
    val edges = Seq(
      ("c1", "c2"), ("c2", "c3"), ("c3", "c1"),
      ("in0", "in1"), ("in1", "c1"),
      ("c2", "o1"), ("o1", "o2"),
      ("in1", "t1"),
      ("in0", "u1"), ("u1", "o1"),
      ("d1", "d2"))
      .toDF("src", "dst")
    val out = Graph.bowTie(edges, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(out == Map(
      "c1" -> "SCC", "c2" -> "SCC", "c3" -> "SCC",
      "in0" -> "IN", "in1" -> "IN",
      "o1" -> "OUT", "o2" -> "OUT",
      "u1" -> "TUBE",
      "t1" -> "TENDRIL",
      "d1" -> "DISC", "d2" -> "DISC"))
  }

  test("bowTie: a pure cycle is all SCC and duplicate/null edges " +
       "collapse") {
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"),
      (null.asInstanceOf[String], "a"))
      .toDF("src", "dst")
    val out = Graph.bowTie(edges, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "SCC", "b" -> "SCC", "c" -> "SCC"))
  }

  test("sccCensus: two disjoint weak components, each containing a " +
       "known SCC, label every node; a chain of SCCs needs multiple " +
       "drain rounds; duplicate/null edges collapse") {
    // component 1: cycle {a,b,c} + downstream tail c→d + a second
    // cycle {e,f} fed FROM the tail (d→e) — a chain of three SCCs
    // ({a,b,c} → {d} → {e,f}), so the coloring drains over ≥2 outer
    // rounds: round 1's coloring paints everything 'a' but only
    // {a,b,c} reaches back to the root.
    // component 2: cycle {x,y} with feeder w→x.
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "f"), ("f", "e"),
      ("w", "x"), ("x", "y"), ("y", "x"),
      ("a", "b"), (null.asInstanceOf[String], "a"))
      .toDF("src", "dst")
    // maxRows = 0 forces the DISTRIBUTED drain (the r17 default
    // routes graphs this small through the driver-side fast path)
    val out = withConf(stagedOnly) {
      Graph.sccCensus(edges, "src", "dst")
        .as[(String, String, String)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
    }
    assert(out == Map(
      "a" -> (("a", "a")), "b" -> (("a", "a")), "c" -> (("a", "a")),
      "d" -> (("a", "d")),
      "e" -> (("a", "e")), "f" -> (("a", "e")),
      "w" -> (("w", "w")),
      "x" -> (("w", "x")), "y" -> (("w", "x"))), s"got $out")
    // the r17 small-graph fast path (default cutoff ⇒ driver-side
    // union-find + Tarjan) must agree bit-for-bit
    val fast = Graph.sccCensus(edges, "src", "dst")
      .as[(String, String, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(fast == out, s"fast path diverged: $fast")
    // the census view: component sizes and their internal SCC counts
    val census = out.toSeq.groupBy(_._2._1)
      .map { case (w, ns) => w -> (ns.size, ns.map(_._2._2).distinct.size) }
    assert(census == Map("a" -> ((6, 3)), "w" -> ((3, 2))))
  }

  test("sccCensus: an anti-sorted chain of SCCs converges in far " +
       "fewer outer rounds than the chain depth (randomized color " +
       "keys — VERDICT r15 #2)") {
    // 24 two-node SCCs a_i <-> b_i chained a_i -> a_{i+1} with node
    // ids ASCENDING along the chain — the r15 pathological case: raw
    // node-id coloring paints the whole chain with a_00's color, its
    // backward sweep removes ONE SCC, and the drain needs 24 outer
    // rounds. Per-round randomized keys drain every key-order prefix
    // minimum's class per round instead, so maxOuterRounds = 8 must
    // suffice: with the old coloring these labels would be null.
    val n = 24
    val pairs = (0 until n).flatMap { i =>
      val (a, b) = (f"$i%02d_a", f"$i%02d_b")
      Seq((a, b), (b, a)) ++
        (if (i < n - 1) Seq((a, f"${i + 1}%02d_a")) else Nil)
    }
    // maxRows = 0: this test exists to pin the DISTRIBUTED
    // coloring discipline on the pathological chain
    val out = withConf(stagedOnly) {
      Graph.sccCensus(pairs.toDF("src", "dst"), "src", "dst",
          maxOuterRounds = 8)
        .as[(String, String, String)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
    }
    val expected = (0 until n).flatMap { i =>
      Seq(f"$i%02d_a" -> (("00_a", f"$i%02d_a")),
        f"$i%02d_b" -> (("00_a", f"$i%02d_a")))
    }.toMap
    assert(out == expected,
      s"chain not fully labeled in 8 rounds: " +
        s"${out.count(_._2._2 == null)} null scc_ids")
    // the incremental op's driver-side Tarjan path must agree with
    // the distributed census on this 48-node 24-SCC graph too
    // (delta = everything, empty prior ⇒ the whole graph recomputes
    // through the fast path)
    val emptyPrior = Seq.empty[(String, String, String)]
      .toDF("node", "wcc_id", "scc_id")
    val viaDriver = Graph.sccCensusIncremental(
        pairs.toDF("src", "dst"), "src", "dst",
        pairs.toDF("src", "dst"), emptyPrior)
      .as[(String, String, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(viaDriver == expected, s"driver-side path diverged")
  }

  test("sccCensusIncremental: equals the full census, and an " +
       "untouched component's prior rows carry VERBATIM (poisoned-" +
       "row proof that no recompute happens there)") {
    // full graph: component 1 = cycle {a,b} plus the DELTA tail b->c;
    // component 2 = cycle {x,y}, untouched by the delta
    val all = Seq(("a", "b"), ("b", "a"), ("b", "c"),
      ("x", "y"), ("y", "x")).toDF("src", "dst")
    val delta = Seq(("b", "c")).toDF("src", "dst")
    val correctPrior = Seq(
      ("a", "a", "a"), ("b", "a", "a"),
      ("x", "x", "x"), ("y", "x", "x"))
      .toDF("node", "wcc_id", "scc_id")
    // 1. with a correct prior the incremental result IS the full
    // census of the full graph — via the driver-side fast path
    // (default cutoff) AND the distributed path (cutoff 0), which
    // must agree bit-for-bit
    val inc = Graph.sccCensusIncremental(all, "src", "dst", delta,
        correctPrior)
      .as[(String, String, String)].collect().toSet
    val incDist = withConf(stagedOnly) {
      Graph.sccCensusIncremental(all, "src", "dst", delta, correctPrior)
        .as[(String, String, String)].collect().toSet
    }
    // distributed-path full census (cutoff 0) so the three-way check
    // spans both implementations
    val full = withConf(stagedOnly) {
      Graph.sccCensus(all, "src", "dst")
        .as[(String, String, String)].collect().toSet
    }
    assert(inc == full && incDist == full && inc == Set(
      ("a", "a", "a"), ("b", "a", "a"), ("c", "a", "c"),
      ("x", "x", "x"), ("y", "x", "x")))
    // 2. poison the untouched component's prior rows: they must come
    // back verbatim — the only way that happens is zero recompute
    // work on that component
    val poisoned = Seq(
      ("a", "a", "a"), ("b", "a", "a"),
      ("x", "POISON", "BAD"), ("y", "POISON", "BAD"))
      .toDF("node", "wcc_id", "scc_id")
    val carried = Graph.sccCensusIncremental(all, "src", "dst", delta,
        poisoned)
      .as[(String, String, String)].collect().toSet
    assert(carried == Set(
      ("a", "a", "a"), ("b", "a", "a"), ("c", "a", "c"),
      ("x", "POISON", "BAD"), ("y", "POISON", "BAD")),
      s"untouched rows must carry untouched: $carried")
  }

  test("neighborhoodFunction: hand-computed N(t) on a path + cycle " +
       "mix, exact at fixture scale, self-pairs at t=0, effective " +
       "diameter marked once") {
    // a -> b -> c -> a (3-cycle) with a pendant chain c -> d -> e and
    // an isolated pair x -> y. Min-distance closure by hand:
    //  t=0: 7 self pairs
    //  t=1: +6 edges = 13
    //  t=2: +(a,c) (b,a) (c,b) (b,d) (c,e) = 18
    //  t=3: +(a,d) (b,e) = 20
    //  t=4: +(a,e) = 21; t>=5: 21 (saturated)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("x", "y")).toDF("src", "dst")
    val out = Graph.neighborhoodFunction(e, "src", "dst")
      .as[(Int, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(out.map(t => (t._1, t._2)) ==
      Seq((0, 7L), (1, 13L), (2, 18L), (3, 20L), (4, 21L)),
      s"N(t) mismatch: $out")
    // frac is pairs / N(inf); 90% effective diameter: smallest t with
    // pairs*10 >= 9*21 = 189 -> t=3 (20*10=200; N(2)=18 -> 180 misses)
    assert(out.count(_._4) == 1 && out.find(_._4).get._1 == 3)
    assert(out.last._3 == 1.0)
  }

  test("labelPropagationCommunities: two cliques with one bridge " +
       "settle into two communities (hand-unrolled rounds)") {
    // triangles {a,b,c} and {x,y,z} bridged by c—x; init labels are
    // 0-based ranks a=0,b=1,c=2,x=3,y=4,z=5. Hand-unrolled synchronous
    // rounds (most votes, tie → smallest label):
    //  r1: a→1 b→0 c→0 x→2 y→3 z→3
    //  r2: a→0 b→0 c→0 x→3 y→2 z→2
    //  r3: a→0 b→0 c→0 x→2 y→2 z→2
    //  r5: stable — {a,b,c}=0, {x,y,z}=2
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
      .toDF("src", "dst")
    val out = Graph.labelPropagationCommunities(e, "src", "dst", 5)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 0L, "b" -> 0L, "c" -> 0L,
      "x" -> 2L, "y" -> 2L, "z" -> 2L))
    // labelBits is a capacity knob, not a semantic one: the election
    // compares (votes, label) lexicographically at ANY bit width, so a
    // wider packing must be bit-identical where both fit (the r15
    // parameterization of the r14 hard-coded 2^20 cap)
    val out24 = Graph.labelPropagationCommunities(e, "src", "dst", 5,
        labelBits = 24)
      .as[(String, Long)].collect().toMap
    assert(out24 == out, s"labelBits=24 diverged: $out24 vs $out")
    // out-of-range bit widths fail loudly (B ≤ 31 keeps votes·2^B +
    // residue inside Long)
    intercept[IllegalArgumentException] {
      Graph.labelPropagationCommunities(e, "src", "dst", 1,
        labelBits = 32)
    }
  }

  test("r17 driver fast paths equal the distributed loops bit-for-bit " +
       "across the rank/election/bow-tie family (driverPath.maxRows " +
       "= 0 forces the staged path)") {
    // one fixture exercising every structural case the family
    // branches on: a 3-cycle, a dangling sink, a self-loop, a hub,
    // a disconnected pair, and a duplicate edge
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "d"),
      ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "sink"),
      ("p", "q"), ("a", "b")).toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toMap
    assert(m(Graph.pageRankScaled(edges, "src", "dst", 5)) ==
      withConf(stagedOnly)(m(Graph.pageRankScaled(edges, "src", "dst", 5))))
    // converged: the realized stop iteration must match too
    val cvF = Graph.pageRankScaledConverged(edges, "src", "dst",
        eps = 2000000000L, maxIters = 12)
      .as[(String, Long, Int)].collect().toSet
    val cvD = withConf(stagedOnly) {
      Graph.pageRankScaledConverged(edges, "src", "dst",
          eps = 2000000000L, maxIters = 12)
        .as[(String, Long, Int)].collect().toSet
    }
    assert(cvF == cvD, s"converged diverged: $cvF vs $cvD")
    // warm start: prior from a SUBSET graph (new nodes take the
    // uniform seed on both paths)
    val prior = Graph.pageRankScaled(
      edges.filter(col("src") =!= "hub"), "src", "dst", 3)
    assert(m(Graph.pageRankScaledResume(edges, "src", "dst", prior, 2))
      == withConf(stagedOnly)(
        m(Graph.pageRankScaledResume(edges, "src", "dst", prior, 2))))
    val rcF = Graph.pageRankScaledResumeConverged(edges, "src", "dst",
        prior, eps = 2000000000L, maxIters = 12)
      .as[(String, Long, Int)].collect().toSet
    val rcD = withConf(stagedOnly) {
      Graph.pageRankScaledResumeConverged(edges, "src", "dst",
          prior, eps = 2000000000L, maxIters = 12)
        .as[(String, Long, Int)].collect().toSet
    }
    assert(rcF == rcD, s"resume-converged diverged")
    // personalized: seeds include a non-graph ghost (ignored by both)
    val seeds = Seq("hub", "a", "ghost").toDF("node")
    assert(m(Graph.personalizedPageRankScaled(
        edges, "src", "dst", seeds, 5)) ==
      withConf(stagedOnly)(m(Graph.personalizedPageRankScaled(
        edges, "src", "dst", seeds, 5))))
    // weighted: unique pairs, mixed weights
    val we = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L),
      ("hub", "a", 5L), ("hub", "sink", 1L), ("p", "q", 4L))
      .toDF("src", "dst", "w")
    assert(m(Graph.pageRankScaledWeighted(we, "src", "dst", "w", 4)) ==
      withConf(stagedOnly)(
        m(Graph.pageRankScaledWeighted(we, "src", "dst", "w", 4))))
    // HITS: both scores
    def mh(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSet
    assert(mh(Graph.hitsScaled(edges, "src", "dst", 3)) ==
      withConf(stagedOnly)(mh(Graph.hitsScaled(edges, "src", "dst", 3))))
    // unseeded label propagation
    assert(m(Graph.labelPropagationCommunities(edges, "src", "dst", 4))
      == withConf(stagedOnly)(
        m(Graph.labelPropagationCommunities(edges, "src", "dst", 4))))
    // seeded label propagation: seed only one component so the other
    // stays null-labeled on both paths
    val slSeeds = Seq(("p", 1L)).toDF("node", "label")
    def ms(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Option[Long])].collect().toMap
    val slF = ms(Graph.seededLabelPropagation(
      edges, "src", "dst", slSeeds, 2))
    val slD = withConf(stagedOnly)(ms(Graph.seededLabelPropagation(
      edges, "src", "dst", slSeeds, 2)))
    assert(slF == slD, s"seeded LP diverged: $slF vs $slD")
    assert(slF("q") == Some(1L) && slF("hub").isEmpty,
      s"seed component labeled, far component null: $slF")
    // bow-tie, incl. the depth-capped degradation (maxRounds = 1
    // truncates the walks IDENTICALLY on both paths)
    def mb(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().toMap
    assert(mb(Graph.bowTie(edges, "src", "dst")) ==
      withConf(stagedOnly)(mb(Graph.bowTie(edges, "src", "dst"))))
    assert(mb(Graph.bowTie(edges, "src", "dst", maxRounds = 1)) ==
      withConf(stagedOnly)(
        mb(Graph.bowTie(edges, "src", "dst", maxRounds = 1))))
  }

  test("spark.graft.driverPath.maxRows = 0 moves the registered " +
       "link_pagerank onto its staged loop with identical rows") {
    val query = SparkEntry.queries("link_pagerank")
    val iterations = 5 // the query's pageRankScaled iteration count
    // result rows plus the staged writes the run made: the staged loop
    // writes one rank table per iteration, the driver replica none
    def run(): (Seq[org.apache.spark.sql.Row], Long) =
      graft.core.Tables.stagedScope {
        val s0 = graft.core.Tables.stagedWriteCount
        val rows = query(spark, "/root/testdata/sf0.001").collect().toSeq
        (rows, graft.core.Tables.stagedWriteCount - s0)
      }
    val (driverRows, driverWrites) = run()
    val (stagedRows, stagedWrites) = withConf(stagedOnly)(run())
    assert(driverRows.nonEmpty && stagedRows == driverRows)
    assert(driverWrites < iterations,
      s"default limit: expected the driver replica, saw $driverWrites " +
        "staged writes")
    assert(stagedWrites >= iterations,
      s"maxRows = 0: expected the staged loop, saw $stagedWrites " +
        "staged writes")
  }

  test("spark.graft.driverPath.maxRows rejects a value that is not a " +
       "non-negative long, naming the key") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    Seq("-1", "ten").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        withConf("spark.graft.driverPath.maxRows" -> bad) {
          Graph.pageRankScaled(edges, "src", "dst", 1)
        }
      }
      assert(e.getMessage.contains("spark.graft.driverPath.maxRows") &&
        e.getMessage.contains(bad), e.getMessage)
    }
  }

  test("extractLinks: attribute order, uppercase tags, and the " +
       "no-href trap") {
    import graft.llm.HtmlText
    val html =
      """<html><body>
        <a href="https://a.example.com/1">one</a>
        <a class="x" id="y" href="https://b.example.com/2?q=1">two</a>
        <A HREF="HTTPS://C.EXAMPLE.COM/3">three</A>
        <a name="no-href">trap: value contains href but no attr</a>
        <a href='https://single.quoted.out.of.contract/4'>skipped</a>
        </body></html>"""
    val out = Seq(html).toDF("h")
      .select(explode(HtmlText.extractLinks(col("h"))).as("u"))
      .as[String].collect().toSeq
    assert(out == Seq("https://a.example.com/1",
      "https://b.example.com/2?q=1", "HTTPS://C.EXAMPLE.COM/3"))
  }
}
