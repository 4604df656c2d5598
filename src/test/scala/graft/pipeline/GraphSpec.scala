package graft
package pipeline

import org.scalatest.funsuite.AnyFunSuite

/** [[Graph]] operators: hand-computed label propagation, Katz, k-truss
  * star-round and link-prediction cases, and the equivalence of the
  * screened and precomputed-support paths with the plain ones.
  */
class GraphSpec extends AnyFunSuite with SparkSpec {

  test("k-truss wedge Bloom screen is lossless: both closure paths give identical censuses") {
    import spark.implicits._
    // the gate-scale graphs sit below WedgeBloomMinEdges, so no gate
    // runs the screened path — force it here with bloomMinEdges = 0 and pin
    // equality against the unscreened path on a triangle-rich graph
    val rnd = new scala.util.Random(20260815)
    val edges = (0 until 400).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong; (a, b)
    }.toDF("a", "b")
    def run(minEdges: Long) =
      graft.pipeline.Graph.ktrussPeelRounds(edges, "a", "b", k = 4,
          rounds = 3, bloomMinEdges = minEdges)
        .orderBy("round")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val screened = run(0L)
    val plain = run(Long.MaxValue)
    assert(screened == plain)
    assert(screened.head._2 > 0L, "need a triangle-rich graph to exercise the screen")
  }

  test("edgeSupport: Σ supp = 3·triangles; triangleStatsFromSupport ≡ triangleStats") {
    import spark.implicits._
    // two triangles sharing edge (2,3), a pendant edge, an isolated edge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L)).toDF("a", "b")
    val sup = pipeline.Graph.edgeSupport(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup((2L, 3L)) == 2L) // in both triangles
    assert(sup((1L, 2L)) == 1L && sup((1L, 3L)) == 1L)
    assert(sup((2L, 4L)) == 1L && sup((3L, 4L)) == 1L)
    assert(sup((4L, 5L)) == 0L && sup((6L, 7L)) == 0L) // supp-0 covered
    assert(sup.values.sum == 6L) // 3 · 2 triangles
    val direct = pipeline.Graph.triangleStats(edges, "a", "b").collect().head
    val viaSup = pipeline.Graph.triangleStatsFromSupport(
      pipeline.Graph.edgeSupport(edges, "a", "b")).collect().head
    assert(direct == viaSup)
  }

  test("ktrussPeelRounds with a precomputed support plane is bit-identical") {
    import spark.implicits._
    // a 5-clique glued to a 4-clique plus scaffolding: several rounds
    // of real peeling at k=4
    val clique5 = for (i <- 1 to 5; j <- (i + 1) to 5) yield (i.toLong, j.toLong)
    val clique4 = for (i <- 10 to 13; j <- (i + 1) to 13) yield (i.toLong, j.toLong)
    val scaffold = Seq((5L, 10L), (5L, 11L), (1L, 20L), (20L, 21L))
    val edges = (clique5 ++ clique4 ++ scaffold).toDF("a", "b")
    val plain = pipeline.Graph.ktrussPeelRounds(edges, "a", "b", k = 4, rounds = 3)
      .orderBy("round").collect().toSeq
    val sup = pipeline.Graph.edgeSupport(edges, "a", "b")
    val withSup = pipeline.Graph.ktrussPeelRounds(edges, "a", "b", k = 4,
      rounds = 3, support = Some(sup)).orderBy("round").collect().toSeq
    assert(plain == withSup)
  }

  test("labelPropagation: barbell splits into its two triangles") {
    import spark.implicits._
    // two triangles {1,2,3}, {4,5,6} bridged by 3—4; synchronous
    // rounds with the smallest-label tiebreak converge to community
    // labels 1 and 3 (hand-traced: after round 2 the left triangle is
    // all-1 and the right all-3, both stable thereafter)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("a", "b")
    val got = Graph.labelPropagation(e, "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("katzCentralityFixed: path graph, exact integer attenuation") {
    import spark.implicits._
    // path 1—2—3, beta=10, attenDen=2, 2 rounds:
    // round 1: x = (15, 20, 15); round 2: x = (20, 25, 20)
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Graph.katzCentralityFixed(e, "a", "b", rounds = 2,
        beta = 10L, attenDen = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 20L, 2L -> 25L, 3L -> 20L))
  }

  test("labelPropagation: tie on the bridge resolves to the smaller label") {
    import spark.implicits._
    // single edge 7—9: each vertex sees exactly the other's label, so
    // round 1 swaps and round 2 swaps back — rounds must terminate on
    // the fixed count, and the result is the deterministic swap parity
    val e = Seq((7L, 9L)).toDF("a", "b")
    val r1 = Graph.labelPropagation(e, "a", "b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(7L -> 9L, 9L -> 7L))
    val r2 = Graph.labelPropagation(e, "a", "b", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(7L -> 7L, 9L -> 9L))
  }

  test("ktrussPeelRounds: K4 survives 4-truss peeling, pendant triangle does not") {
    import spark.implicits._
    // K4 on {1,2,3,4} (6 edges, 4 triangles, every edge in exactly 2)
    // plus a pendant triangle {4,5,6} whose 3 edges each sit in 1.
    // k = 4 ⇒ keep support ≥ 2: round 1 sees 5 triangles and peels
    // the pendant (6 edges left); round 2 sees K4's 4 triangles and
    // peels nothing — the fixpoint.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    val got = Graph.ktrussPeelRounds(e, "a", "b", k = 4, rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 5L, 6L), (2L, 4L, 6L)))
  }

  test("ktrussPeelRounds: triangle-free cycle empties in one round") {
    import spark.implicits._
    // C5 has no triangles, so every edge has support 0 < k−2 and the
    // first peel removes the whole graph; later rounds stay empty.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("a", "b")
    val got = Graph.ktrussPeelRounds(e, "a", "b", k = 3, rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("ktrussPeelRounds: fixpoint early-exit pads the census identically") {
    import spark.implicits._
    // Same K4 + pendant graph, but FOUR rounds: the edge set is stable
    // from round 2 on, so rounds 3–4 must be served by the early-exit
    // padding and read exactly what a full recount would produce
    // (4 triangles, 6 edges — the K4 fixpoint).
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    val got = Graph.ktrussPeelRounds(e, "a", "b", k = 4, rounds = 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 5L, 6L), (2L, 4L, 6L), (3L, 4L, 6L), (4L, 4L, 6L)))
  }

  test("ktrussPeelRounds: hoisted round-0 orientation still exact after peel") {
    import spark.implicits._
    // A hub (vertex 1, degree 5) whose degree COLLAPSES after round 1:
    // K4 on {1,2,3,4} plus pendant edges 1–5, 1–6 (support 0, peeled
    // immediately). With orientation frozen from round-0 degrees the
    // round-2 triangle count over the surviving K4 must still be exact
    // — any fixed acyclic direction counts each triangle once.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (1L, 6L)).toDF("a", "b")
    val got = Graph.ktrussPeelRounds(e, "a", "b", k = 4, rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 4L, 6L), (2L, 4L, 6L)))
  }

  test("ktrussPeelRounds: incremental decrement cascades removals across rounds") {
    import spark.implicits._
    // Triangle fan around vertex 1 along the path 2–3–4–5:
    // T1={1,2,3}, T2={1,3,4}, T3={1,4,5}. Interior spokes (1,3),(1,4)
    // have support 2; the five boundary edges have support 1.
    // k = 4: round 1 peels the boundary (3 triangles, 2 edges left);
    // the destroyed triangles decrement (1,3) twice (T1, T2) and
    // (1,4) twice (T2, T3), so round 2 peels the rest (0 triangles,
    // 0 edges). A stale support plane (the incremental path's failure
    // mode) would keep the spokes alive forever.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.ktrussPeelRounds(e, "a", "b", k = 4, rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L, 2L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }

  test("ktrussPeelRounds: triangle with TWO removed edges decrements the survivor once") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus pendant triangle {1,2,5}: supports are
    // (1,2)=3, other K4 edges=2, (1,5)=(2,5)=1. k = 4: round 1 peels
    // (1,5),(2,5) — ONE destroyed triangle reached via BOTH removed
    // edges; the canonical distinct must count it once, so the
    // survivor (1,2) drops 3 → 2 and the K4 stands. Double-counting
    // would push (1,2) to 1 and wrongly dismantle the K4 in round 2.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L)).toDF("a", "b")
    val got = Graph.ktrussPeelRounds(e, "a", "b", k = 4, rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 5L, 6L), (2L, 4L, 6L), (3L, 4L, 6L)))
  }

  test("ccStarRounds: triangle + path census, hand-traced") {
    import spark.implicits._
    // Triangle {1,2,3} (3 edges) + path 10–11–12 (2 edges): round 1's
    // large-star hooks 2,3 → 1 and 11,12 → 10 (the triangle loses an
    // edge: (2,3) re-hooks to the shared min); small-star keeps the
    // two stars. Edge count: 5 → 4, then stable.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("a", "b")
    val got = Graph.ccStarRounds(e, "a", "b", rounds = 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 4L)))
  }

  test("linkPrediction: the 4-cycle's two diagonals, hub cap respected") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 4L), (4L, 3L), (3L, 1L)).toDF("a", "b")
    val out = Graph.linkPrediction(e, "a", "b", k = 20, maxDegree = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq((1L, 4L, 2L, 4L), (2L, 3L, 2L, 4L)))
    // cap below every degree → no candidates survive
    assert(Graph.linkPrediction(e, "a", "b", k = 20, maxDegree = 1L)
      .collect().isEmpty)
  }
}
