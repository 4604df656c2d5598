package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StatsSpec extends AnyFunSuite with SparkSpec {

  test("frequencySpectrum: known count-of-counts and Good-Turing r*") {
    import spark.implicits._
    // keys: a,a,a  b,b  c,c  d  e  -> r=1:{d,e}=2, r=2:{b,c}=2, r=3:{a}=1
    val df = Seq("a", "a", "a", "b", "b", "c", "c", "d", "e").toDF("k")
    val got = Stats.frequencySpectrum(df, "k").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((2L, 2.0)))  // r*=(1+1)*n_2/n_1 = 2*2/2
    assert(got(2L) == ((2L, 1.5)))  // (2+1)*1/2
    assert(got(3L) == ((1L, 0.0)))  // n_4 absent
  }

  test("collocations: lift from known counts; min-count filter") {
    import spark.implicits._
    // "a b" x3 (c_a=4 incl. the stray, c_b=3, N=12) -> lift = 12*3/(4*3) = 3.0
    val df = Seq("a b a b", "a b c d", "a x y z").toDF("text")
    val got = TextAnalysis.collocations(df, "text", minCount = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(("a", "b")) == ((3L, 3.0)))
    assert(got.size == 1) // every other bigram is below minCount
  }

  test("nucleusVocabulary: deterministic cut at p, ranked share order") {
    import spark.implicits._
    // token counts: x=5, y=3, z=1, w=1 (total 10); p=0.8 keeps x,y
    // (pre(x)=0, pre(y)=5, pre(z)=8 = 0.8*10 -> excluded: strict <)
    val df = Seq("x x x x x y y y z w").toDF("text")
    val out = TextAnalysis.nucleusVocabulary(df, "text", p = 0.8)
      .orderBy(col("cnt").desc, col("token")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("x", 5L, 0.5), ("y", 3L, 0.8)))
    // p=1.0 keeps the whole vocabulary; last cum_share is exactly 1
    val all = TextAnalysis.nucleusVocabulary(df, "text", p = 1.0)
      .orderBy(col("cnt").desc, col("token")).collect()
    assert(all.length == 4 && all.last.getDouble(2) == 1.0)
  }

  test("chiSquare: hand-computed 2x2 grid incl. a materialized zero cell") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // observed: (x,0)=3, (x,1)=1, (y,0)=0 (absent!), (y,1)=4 → n=8
    val df = (Seq.fill(3)(("x", 0L)) ++ Seq(("x", 1L)) ++ Seq.fill(4)(("y", 1L)))
      .toDF("a", "b")
    val got = Stats.chiSquare(df, col("a"), col("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 4) // zero cell (y,0) materialized
    def cell(o: Long, ra: Long, cb: Long): (Long, Long) = {
      val e = ra.toDouble * cb / 8
      (math.floor(e * 1e6 + 0.5).toLong,
        math.floor((o - e) * (o - e) / e * 1e6 + 0.5).toLong)
    }
    assert(got(("x", 0L)) == ((3L, cell(3, 4, 3)._1, cell(3, 4, 3)._2)))
    assert(got(("y", 0L)) == ((0L, cell(0, 4, 3)._1, cell(0, 4, 3)._2)))
    assert(got(("x", 1L)) == ((1L, cell(1, 4, 5)._1, cell(1, 4, 5)._2)))
    assert(got(("y", 1L)) == ((4L, cell(4, 4, 5)._1, cell(4, 4, 5)._2)))
    // chi2 total for this table: e.g. x0: e=1.5 c=1.5; y0: e=1.5 c=1.5;
    // x1: e=2.5 c=0.9; y1: e=2.5 c=0.9 → Σ=4.8
    val total = got.values.map(_._3).sum
    assert(total == 4800000L)
  }

  test("misraGries: single partition, k large enough -> exact counts") {
    import spark.implicits._
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("k").coalesce(1)
    val got = Stats.misraGries(df, "k", k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // no decrement ever triggers: the sketch IS the exact counter
    assert(got == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("misraGries: guarantees hold on a skewed stream across partitionings") {
    import spark.implicits._
    // 1000 'hot' + uniform tail of 400 distinct cold keys x2; k=9
    // -> threshold n/10 = 180: 'hot' must always survive
    val rnd = new scala.util.Random(42)
    val stream = rnd.shuffle(
      Seq.fill(1000)("hot") ++ (0 until 400).flatMap(i => Seq(s"c$i", s"c$i")))
    val n = stream.size.toLong
    val k = 9
    for (parts <- Seq(1, 4, 32)) {
      val df = stream.toDF("k").repartition(parts)
      val mg = Stats.misraGries(df, "k", k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // completeness: every key above n/(k+1) survives
      exact.filter { case (_, c) => c * (k + 1) > n }.keys
        .foreach(h => assert(mg.contains(h), s"parts=$parts lost heavy $h"))
      // underestimate-only + bounded error, for every key
      exact.foreach { case (key, c) =>
        val est = mg.getOrElse(key, 0L)
        assert(est <= c, s"parts=$parts overestimated $key")
        assert((c - est) * (k + 1) <= n, s"parts=$parts error bound $key")
      }
      // output only contains real keys
      mg.keys.foreach(key => assert(exact.contains(key)))
    }
  }

  test("countMinSketch: overestimate-only; exact when collision-free; partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val stream = (0 until 300).map(_ => s"t${rnd.nextInt(40)}")
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 8)) {
      val df = stream.toDF("k").repartition(parts)
      val sketch = Stats.countMinSketch(df, "k", depth = 4, width = 2048)
      val probes = exact.keys.toSeq.toDF("k")
      val est = Stats.cmsEstimate(sketch, probes, depth = 4, width = 2048)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.foreach { case (key, c) =>
        assert(est(key) >= c, s"parts=$parts underestimated $key")
      }
      // 40 keys x 4 rows into 2048 cells: some row is collision-free
      // for most keys, so min-of-rows lands exactly for at least 90%
      val exactHits = exact.count { case (key, c) => est(key) == c }
      assert(exactHits >= 36, s"parts=$parts only $exactHits exact")
    }
  }

  test("acf: matches a driver-side Pearson-on-lag-pairs oracle; partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // AR(1)-ish integer series per key: strong positive lag-1 signal
    val rows = Seq("a", "b").flatMap { k =>
      var v = 100L
      (0 until 200).map { i =>
        v = v + (if (k == "a") (v % 7) - 3 else rnd.nextInt(21) - 10)
        (k, i.toLong, v)
      }
    }
    def oracle(k: String, lag: Int): Long = {
      val vs = rows.filter(_._1 == k).sortBy(_._2).map(_._3)
      val pairs = vs.drop(lag).zip(vs.dropRight(lag))
      val n = pairs.size.toDouble
      val (sx, sy) = (pairs.map(_._1).sum.toDouble, pairs.map(_._2).sum.toDouble)
      val (qx, qy) = (pairs.map(p => p._1 * p._1).sum.toDouble,
        pairs.map(p => p._2 * p._2).sum.toDouble)
      val pxy = pairs.map(p => p._1 * p._2).sum.toDouble
      math.floor((n * pxy - sx * sy) /
        (math.sqrt(n * qx - sx * sx) * math.sqrt(n * qy - sy * sy))
        * 1e6 + 0.5).toLong
    }
    for (parts <- Seq(1, 8)) {
      val df = rows.toDF("k", "o", "v").repartition(parts)
      val got = Stats.acf(df, Seq("k"), "o", "v", maxLag = 2).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
      assert(got.size == 4)
      for (k <- Seq("a", "b"); lag <- Seq(1, 2))
        assert(got((k, lag)) == oracle(k, lag), s"parts=$parts $k lag=$lag")
      // the deterministic series must show strong serial structure
      // (it oscillates: strongly negative lag-1), the random walk not
      assert(math.abs(got(("a", 1))) > 400000)
    }
  }

  test("benford: exact digit extraction, non-positives dropped, conforming data scores low") {
    import spark.implicits._
    // Benford-distributed sample: v = floor(10^u) spans 1..9 with the
    // right first-digit law; plus zeros/negatives that must be dropped
    val rnd = new scala.util.Random(3)
    val vals = (0 until 5000).map(_ => math.pow(10.0, rnd.nextDouble() * 3).toLong) ++
      Seq(0L, -5L, -17L)
    val out = Stats.benford(vals.toDF("v"), col("v")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == (1 to 9).toSet)
    assert(out.values.map(_._2).toSet == Set(5000L)) // n excludes non-positives
    assert(out.values.map(_._1).sum == 5000L)
    // exact digit check against driver-side strings
    val exp = vals.filter(_ > 0).groupBy(_.toString.head.asDigit)
      .view.mapValues(_.size.toLong).toMap
    (1 to 9).foreach(d => assert(out(d)._1 == exp(d), s"digit $d"))
    // expected share of digit 1 is log10(2) ≈ 0.30103
    assert(out(1)._3 == 301030L)
    // conforming data: per-digit chi2 contributions stay O(1)-ish
    // (a single cell at ~5 is ordinary fluctuation for n=5000)
    assert(out.values.map(_._4).max < 10000000L)
  }

  test("weightedMedian: hand-checked, tie- and partition-invariant") {
    import spark.implicits._
    // g: values 1(w3), 5(w1), 9(w2): W=6, threshold 3 -> cumw at v=1 is
    // 3 -> 2*3>=6 -> median 1. h: uniform weights -> plain lower median
    val rows = Seq(("g", 9L, 2L), ("g", 1L, 3L), ("g", 5L, 1L),
      ("h", 10L, 1L), ("h", 20L, 1L), ("h", 30L, 1L), ("h", 40L, 1L))
    for (parts <- Seq(1, 7)) {
      val got = Stats.weightedMedian(rows.toDF("g", "v", "w").repartition(parts),
          Seq("g"), "v", "w")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("g" -> 1L, "h" -> 20L), s"parts=$parts")
    }
    // duplicated values (ties) at the threshold behave as one mass
    val ties = Seq(("t", 5L, 1L), ("t", 5L, 1L), ("t", 5L, 1L), ("t", 7L, 2L))
    assert(Stats.weightedMedian(ties.toDF("g", "v", "w"), Seq("g"), "v", "w")
      .collect().head.getLong(1) == 5L)
  }

  test("jsDivergenceMatrix: zero for identical corpora, symmetric-positive for shifted") {
    import spark.implicits._
    val a = (0 until 50).map(i => ("a", s"x${i % 5} common tok"))
    val b = (0 until 50).map(i => ("b", s"x${i % 5} common tok"))  // same dist
    val c = (0 until 50).map(i => ("c", s"y${i % 5} other tok"))
    val out = Stats.jsDivergenceMatrix((a ++ b ++ c).toDF("d", "t"), "d", "t", 20)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("a", "b")) == 0L)          // identical distributions
    assert(out(("a", "c")) > 100000L)      // disjoint content words
    assert(out(("a", "c")) == out(("b", "c"))) // a and b interchangeable
    // bounded by ln 2
    assert(out.values.forall(v => v >= 0L && v <= 693148L))
  }

  test("olsTrend: exact line recovered; known slope on a perturbed ramp") {
    import spark.implicits._
    // y = 7x + 3 exactly -> slope 7.0, intercept 3.0
    val exactLine = (1 to 50).map(i => ("lin", i.toLong, 7L * i + 3L))
    // constant series -> slope 0, intercept = the constant
    val flat = (1 to 30).map(i => ("flat", i.toLong, 42L))
    val out = Stats.olsTrend((exactLine ++ flat).toDF("g", "o", "v"),
        Seq("g"), "o", col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("lin") == ((50L, 7000000L, 3000000L)))
    assert(out("flat") == ((30L, 0L, 42000000L)))
  }

  test("populationStability: identical halves give ~0 PSI; a shifted half flags") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = (0 until 2000).map(_ => ("g", rnd.nextInt(10).toLong, 1L))
    val sameCur = (0 until 2000).map(_ => ("g", rnd.nextInt(10).toLong, 0L))
    val shifted = (0 until 2000).map(_ => ("h", math.min(rnd.nextInt(6).toLong + 4L, 9L), 0L)) ++
      (0 until 2000).map(_ => ("h", rnd.nextInt(10).toLong, 1L))
    val df = (base ++ sameCur ++ shifted).toDF("g", "bin", "a")
    val out = Stats.populationStability(df, Seq("g"), col("bin"), col("a") === 1L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    // PSI contributions are non-negative by construction ((p−q), ln(p/q) same sign)
    assert(out.values.forall(_ >= 0L))
    val psiSame = (0 to 9).map(b => out(("g", b.toLong))).sum
    val psiShift = (0 to 9).map(b => out.getOrElse(("h", b.toLong), 0L)).sum
    assert(psiSame < 200000L)  // < 0.02: same distribution
    assert(psiShift > 200000L) // > 0.2: the conventional alarm line
  }

  test("runsTest: hand-computed runs; alternating series rejects low, ties dropped") {
    import spark.implicits._
    // g: + + - - -  => n1=2 n2=3 runs=2; tie row (=0 threshold) dropped
    val rows = Seq(("g", 1L, 5L), ("g", 2L, 3L), ("g", 3L, -2L),
      ("g", 4L, -7L), ("g", 5L, -1L), ("g", 6L, 0L)) ++
      (1 to 40).map(i => ("alt", i.toLong, if (i % 2 == 0) 10L else -10L))
    val df = rows.toDF("g", "o", "v")
    val out = Stats.runsTest(df, Seq("g"), "o", col("v"), threshold = 0L)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("g")._1 == 2L && out("g")._2 == 3L && out("g")._3 == 2L)
    // perfect alternation: runs = n, far above mu -> strongly positive z
    assert(out("alt")._3 == 40L)
    assert(out("alt")._4 > 5000000L) // z > 5
    // z for g: mu = 2*2*3/5+1 = 3.4, sigma = sqrt(2*2*3*(12-5)/(25*4)) = sqrt(0.84)
    val z = math.floor((2 - 3.4) / math.sqrt(0.84) * 1e6 + 0.5).toLong
    assert(out("g")._4 == z)
  }

  test("ksTwoSample: exact rational D vs brute-force ECDF; identical samples give 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val a = (0 until 150).map(_ => rnd.nextInt(50).toLong)
    val b = (0 until 120).map(_ => rnd.nextInt(50).toLong + 10L)
    val df = (a.map((_, 1L)) ++ b.map((_, 0L))).toDF("v", "is_a")
    val row = Stats.ksTwoSample(df, "v", col("is_a")).collect().head
    val (n, m) = (row.getLong(0), row.getLong(1))
    assert(n == 150 && m == 120)
    val brute = (a ++ b).distinct.map { v =>
      math.abs(a.count(_ <= v).toLong * m - b.count(_ <= v).toLong * n)
    }.max
    assert(row.getLong(2) == brute)
    assert(row.getLong(3) == n * m)
    assert(row.getLong(4) == brute * 1000000L / (n * m))
    // identical distributions: D = 0
    val same = (a.map((_, 1L)) ++ a.map((_, 0L))).toDF("v", "is_a")
    assert(Stats.ksTwoSample(same, "v", col("is_a"))
      .collect().head.getLong(2) == 0L)
  }

  test("mannWhitneyU: doubled midranks on a tied pooled sample") {
    import spark.implicits._
    // A = {1, 3}, B = {2, 3, 5}: U1 = 1.5 (one win + half a tie),
    // R1 = 1 + 3.5 → r1_twice = 2 + 7 = 9, u1_twice = 9 − 2·3 = 3,
    // one 2-way tie → tie_cubes = 2³−2 = 6
    val df = Seq((1L, 1L), (3L, 1L), (2L, 0L), (3L, 0L), (5L, 0L))
      .toDF("v", "a")
    val r = Stats.mannWhitneyU(df, "v", col("a") === 1L).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 3L, 9L, 3L, 6L)))
  }

  test("mannKendall: concordant/discordant/tied over one series") {
    import spark.implicits._
    // values by day: 1,2,2,1 → C=2, D=2, T=2, S=0
    val df = Seq(("g", 1, 1L), ("g", 2, 2L), ("g", 3, 2L), ("g", 4, 1L))
      .toDF("grp", "t", "v")
    val r = Stats.mannKendall(df, Seq("grp"), "t", "v").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 2L, 2L, 0L)))
  }

  test("cramersV: perfect 2x2 association gives V² = 1") {
    import spark.implicits._
    val df = Seq(("a", 0L), ("a", 0L), ("b", 1L), ("b", 1L)).toDF("x", "y")
    val r = Stats.cramersV(df, col("x"), col("y")).collect().head
    // per-cell χ²·10⁶ = 10⁶ each over the 4-cell grid (zeros included)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 2L, 2L, 4000000L, 1000000L)))
  }

  test("herfindahl: shares 3/4 and 1/4 give HHI = 0.625") {
    import spark.implicits._
    val df = Seq(("g", "m1", 3L), ("g", "m2", 1L)).toDF("grp", "m", "cents")
    val r = Stats.herfindahl(df, Seq("grp"), "m", "cents").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 4L, 625000L)))
  }

  test("rollingCorrMoments: window of 2 on a perfectly correlated pair") {
    import spark.implicits._
    val df = Seq((1L, 1L, 1L), (2L, 2L, 2L)).toDF("t", "x", "y")
    val rows = Stats.rollingCorrMoments(df, "t", "x", "y", window = 2)
      .orderBy("t").collect()
    assert(rows(0).isNullAt(7)) // single point: den = 0 → NULL
    val r = rows(1)
    assert((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(6)) ==
      ((2L, 3L, 5L, 5L)))
    assert(r.getLong(7) == 1000000L) // r² = 1, positive
  }
}
