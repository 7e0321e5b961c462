package graft

import graft.Model.Quad
import graft.sparql.{BgpPlanner, LocalBgp, Sparql}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential property test: the DataFrame BGP planner vs a naive
  * in-memory evaluator, over random micro-graphs and random queries
  * (including zero-or-more path steps). Distinct solution sets over the
  * named variables must agree exactly. */
class BgpPropertySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  import Sparql._

  val nodes = (0 until 6).map(i => s"urn:n$i")
  val preds = (0 until 3).map(i => s"urn:p$i")

  val graphGen: Gen[Set[(String, String, String)]] =
    Gen.listOfN(14, for {
      s <- Gen.oneOf(nodes); p <- Gen.oneOf(preds); o <- Gen.oneOf(nodes)
    } yield (s, p, o)).map(_.toSet)

  def termGen(vars: Seq[String]): Gen[Term] = Gen.frequency(
    3 -> Gen.oneOf(vars).map(V),
    1 -> Gen.oneOf(nodes).map(I))

  /** One path element exercising the whole step space: single/alternative,
    * forward/inverse, and the ' '/'*'/'+' modifiers. */
  def stepGen: Gen[Step] = for {
    p1 <- Gen.oneOf(preds)
    inv1 <- Gen.oneOf(true, false)
    alt <- Gen.frequency(3 -> Gen.const(Option.empty[(String, Boolean)]),
      1 -> (for { p2 <- Gen.oneOf(preds); inv2 <- Gen.oneOf(true, false) }
        yield Some((p2, inv2))))
    mod <- Gen.oneOf(' ', '*', '+')
  } yield Step((p1, inv1) :: alt.toList, mod)

  def patternGen(vars: Seq[String]): Gen[TriplePattern] = for {
    s <- termGen(vars)
    o <- termGen(vars)
    st1 <- stepGen
    twoStep <- Gen.oneOf(true, false)
    st2 <- stepGen
  } yield {
    val path = if (twoStep) List(st1, st2) else List(st1)
    TriplePattern(s, path, o)
  }

  val queryGen: Gen[Query] = for {
    nPat <- Gen.choose(1, 3)
    pats <- Gen.listOfN(nPat, patternGen(Seq("a", "b", "c")))
  } yield {
    val named = pats.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }.distinct
    Query(Nil, distinct = false, pats, named.toList)
  }

  // ---- naive evaluator -------------------------------------------------
  /** Single-step edge pairs of an alternative set (inverse alts swapped). */
  def stepEdges(ts: Set[(String, String, String)], st: Step): Set[(String, String)] =
    st.alts.toSet.flatMap { pi: (String, Boolean) =>
      val (p, inv) = pi
      ts.collect { case (s, q, o) if q == p => if (inv) (o, s) else (s, o) }
    }

  /** Transitive closure of `edges`; `withIdentity` adds the zero-length
    * pairs over every graph term (SPARQL `*` vs `+`). */
  def reach(ts: Set[(String, String, String)], edges: Set[(String, String)],
      withIdentity: Boolean): Set[(String, String)] = {
    val terms = ts.flatMap(t => Seq(t._1, t._3))
    var closure = edges
    var grew = true
    while (grew) {
      val next = for ((a, b) <- closure; (c, d) <- edges if b == c) yield (a, d)
      val merged = closure ++ next
      grew = merged.size > closure.size
      closure = merged
    }
    if (withIdentity) closure ++ terms.map(t => (t, t)) else closure
  }

  /** Solution mappings of a BGP over the triple set (internal path vars
    * dropped from the returned maps). */
  def naiveSols(ts: Set[(String, String, String)],
      patterns: List[TriplePattern]): Set[Map[String, String]] = {
    // expand paths into atoms with fresh internal vars
    var ctr = 0
    val atoms = patterns.flatMap { tp =>
      var subj = tp.s
      tp.path.zipWithIndex.map { case (st, i) =>
        val obj = if (i == tp.path.length - 1) tp.o else { ctr += 1; V(s"_i$ctr") }
        val a = (subj, st, obj); subj = obj; a
      }
    }
    def rel(st: Step): Set[(String, String)] = st.mod match {
      case '*' => reach(ts, stepEdges(ts, st), withIdentity = true)
      case '+' => reach(ts, stepEdges(ts, st), withIdentity = false)
      case _ => stepEdges(ts, st)
    }
    var sols: Set[Map[String, String]] = Set(Map.empty)
    atoms.foreach { case (s, st, o) =>
      val r = rel(st)
      // bind sequentially so a variable repeated within ONE atom
      // (e.g. `?c p ?c`) constrains both positions
      def bind(m: Map[String, String], t: Term, v: String): Option[Map[String, String]] =
        t match {
          case V(n) => m.get(n) match {
            case Some(b) => if (b == v) Some(m) else None
            case None => Some(m + (n -> v))
          }
          case I(i) => if (i == v) Some(m) else None
          case L(l) => if (l == v) Some(m) else None
        }
      sols = for {
        m <- sols
        (x, y) <- r
        m1 <- bind(m, s, x)
        m2 <- bind(m1, o, y)
      } yield m2
    }
    sols.map(_.filter { case (k, _) => !k.startsWith("_i") })
  }

  def naive(ts: Set[(String, String, String)], q: Query): Set[List[String]] =
    naiveSols(ts, q.patterns).map(m => q.selected.map(m.getOrElse(_, null)))

  test("planner solutions == naive BGP evaluation on random graphs/queries") {
    val s = spark
    import s.implicits._
    val cases = (1 to 20).flatMap { i =>
      for {
        g <- graphGen(Gen.Parameters.default, Seed(i.toLong))
        q <- queryGen(Gen.Parameters.default, Seed(1000L + i))
      } yield (g, q)
    }
    assert(cases.nonEmpty)
    cases.foreach { case (g, q) =>
      // skip degenerate queries with no named vars (planner requires ≥1)
      if (q.selected.nonEmpty) {
        val quads = g.toSeq.map { case (su, p, o) => Quad("urn:g#", su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naive(g, q)
        assert(got == want,
          s"mismatch for query ${q.patterns} over ${g.size} triples: " +
            s"planner=${got.size} naive=${want.size}")
      }
    }
  }

  // ---- OPTIONAL + FILTER differential fuzz (round 8) --------------------

  /** Naive filter evaluation. The generator only emits filters whose
    * variables are guaranteed bound in their scope (comparison vars come
    * from the group's own patterns), so SPARQL's error-propagation cases
    * can't arise — except BOUND, which never errors. */
  def feval(f: FExpr, m: Map[String, String]): Boolean = f match {
    case FCmp(FVar(v), op, FIriRef(i)) => m.get(v) match {
      case None => false
      case Some(x) => op match {
        case "<" => x < i; case "<=" => x <= i; case ">" => x > i
        case ">=" => x >= i; case "=" => x == i; case "!=" => x != i
      }
    }
    case FBound(v) => m.contains(v)
    case FNot(a) => !feval(a, m)
    case FAnd(a, b) => feval(a, m) && feval(b, m)
    case FOr(a, b) => feval(a, m) || feval(b, m)
    case other => throw new IllegalArgumentException(s"fuzz does not emit $other")
  }

  def cmpGen(vars: Seq[String]): Gen[FExpr] = for {
    v <- Gen.oneOf(vars)
    op <- Gen.oneOf("<", "<=", ">", ">=", "=", "!=")
    node <- Gen.oneOf(nodes)
  } yield FCmp(FVar(v), op, FIriRef(node))

  /** Query with one OPTIONAL group, optionally a filter inside the group
    * (vars from the group's patterns) and/or a top-level filter (vars from
    * the required patterns, or BOUND over any var). */
  val optQueryGen: Gen[Query] = for {
    nPat <- Gen.choose(1, 2)
    pats <- Gen.listOfN(nPat, patternGen(Seq("a", "b")))
    nOpt <- Gen.choose(1, 2)
    optPats <- Gen.listOfN(nOpt, patternGen(Seq("b", "c", "d")))
    wantOptF <- Gen.oneOf(true, false)
    wantTopF <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.const(1), 1 -> Gen.const(2))
    optFSeed <- cmpGen(Seq("b", "c", "d"))
    topFSeed <- cmpGen(Seq("a", "b"))
    boundVar <- Gen.oneOf(Seq("a", "b", "c", "d"))
    neg <- Gen.oneOf(true, false)
  } yield {
    def varsOf(ps: List[TriplePattern]) =
      ps.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }.distinct
    val reqVars = varsOf(pats)
    val optVars = varsOf(optPats)
    val optF =
      if (wantOptF && optVars.nonEmpty)
        List(optFSeed match { case FCmp(_, op, r) => FCmp(FVar(optVars.head), op, r); case o => o })
      else Nil
    val topF = wantTopF match {
      case 1 if reqVars.nonEmpty =>
        List(topFSeed match { case FCmp(_, op, r) => FCmp(FVar(reqVars.head), op, r); case o => o })
      case 2 if (reqVars ++ optVars).contains(boundVar) =>
        List(if (neg) FNot(FBound(boundVar)) else FBound(boundVar))
      case _ => Nil
    }
    val named = (reqVars ++ optVars).distinct
    Query(Nil, distinct = false, pats, named,
      filters = topF, optionals = List(PatternGroup(optPats, optF)))
  }

  /** SPARQL LeftJoin(Ω1, Ω2, F) + group-level Filter, naively. */
  def naiveOpt(ts: Set[(String, String, String)], q: Query): Set[List[String]] = {
    val base = naiveSols(ts, q.patterns)
    val joined = q.optionals.foldLeft(base) { (acc, grp) =>
      val optSols = naiveSols(ts, grp.patterns)
      acc.flatMap { m1 =>
        val matches = optSols.filter { m2 =>
          m2.keySet.intersect(m1.keySet).forall(k => m1(k) == m2(k)) &&
            grp.filters.forall(f => feval(f, m1 ++ m2))
        }
        if (matches.nonEmpty) matches.map(m1 ++ _) else Set(m1)
      }
    }
    joined.filter(m => q.filters.forall(f => feval(f, m)))
      .map(m => q.selected.map(m.getOrElse(_, null)))
  }

  test("planner OPTIONAL/FILTER == naive LeftJoin semantics on random graphs/queries") {
    val s = spark
    import s.implicits._
    val cases = (1 to 20).flatMap { i =>
      for {
        g <- graphGen(Gen.Parameters.default, Seed(2000L + i))
        q <- optQueryGen(Gen.Parameters.default, Seed(3000L + i))
      } yield (g, q)
    }
    assert(cases.nonEmpty)
    var run = 0
    cases.foreach { case (g, q) =>
      // planner precondition: the required group must bind ≥1 variable
      val reqHasVar = q.patterns.exists(tp => Seq(tp.s, tp.o).exists(_.isInstanceOf[V]))
      if (reqHasVar && q.selected.nonEmpty) {
        run += 1
        val quads = g.toSeq.map { case (su, p, o) => Quad("urn:g#", su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naiveOpt(g, q)
        assert(got == want,
          s"mismatch for ${q.patterns} OPTIONAL ${q.optionals} FILTER ${q.filters} " +
            s"over ${g.size} triples: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 10, s"only $run generated cases were runnable")
  }

  // ---- nested OPTIONAL differential fuzz (round 9) ----------------------

  /** Recursive group solutions: patterns, then nested OPTIONALs (their
    * top-level filters conditioning each LeftJoin), then the group's own
    * filters — mirroring BgpPlanner.evalGroup's §18.2.2.2 order. */
  def naiveGroupSols(ts: Set[(String, String, String)],
      g: PatternGroup): Set[Map[String, String]] = {
    val base = naiveSols(ts, g.patterns)
    val extended = g.optionals.foldLeft(base) { (acc, og) =>
      val inner = naiveGroupSols(ts, og.copy(filters = Nil))
      acc.flatMap { m1 =>
        val matches = inner.filter { m2 =>
          m2.keySet.intersect(m1.keySet).forall(k => m1(k) == m2(k)) &&
            og.filters.forall(f => feval(f, m1 ++ m2))
        }
        if (matches.nonEmpty) matches.map(m1 ++ _) else Set(m1)
      }
    }
    extended.filter(m => g.filters.forall(f => feval(f, m)))
  }

  /** Query with OPTIONAL-in-OPTIONAL: required pats over (a,b), outer
    * optional over (b,c) carrying an inner optional over (c,d); filters
    * possible at every level. The outer body's pattern vars are always
    * bound within the body, so the nested LeftJoin's shared-var equi-join
    * is exact (the divergence note's hazard needs a var bound ONLY by a
    * sibling optional, which this shape cannot produce). */
  val nestedOptQueryGen: Gen[Query] = for {
    pats <- Gen.listOfN(1, patternGen(Seq("a", "b")))
    // 1-in-4 cases: the outer OPTIONAL has NO own patterns — its body is
    // only the nested OPTIONAL, so the planner must evaluate the inner
    // extension over the empty mapping (the round-9 early-{μ0} bug shape)
    nOuter <- Gen.frequency(3 -> Gen.const(1), 1 -> Gen.const(0))
    outerPats <- Gen.listOfN(nOuter, patternGen(Seq("b", "c")))
    innerPats <- Gen.listOfN(1, patternGen(Seq("c", "d")))
    wantOuterF <- Gen.oneOf(true, false)
    wantInnerF <- Gen.oneOf(true, false)
    outerFSeed <- cmpGen(Seq("b", "c"))
    innerFSeed <- cmpGen(Seq("c", "d"))
  } yield {
    def varsOf(ps: List[TriplePattern]) =
      ps.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }.distinct
    val outerVars = varsOf(outerPats)
    val innerVars = varsOf(innerPats)
    val outerF =
      if (wantOuterF && outerVars.nonEmpty)
        List(outerFSeed match { case FCmp(_, op, r) => FCmp(FVar(outerVars.head), op, r); case o => o })
      else Nil
    val innerF =
      if (wantInnerF && innerVars.nonEmpty)
        List(innerFSeed match { case FCmp(_, op, r) => FCmp(FVar(innerVars.head), op, r); case o => o })
      else Nil
    val named = (varsOf(pats) ++ outerVars ++ innerVars).distinct
    Query(Nil, distinct = false, pats, named,
      optionals = List(PatternGroup(outerPats, outerF,
        optionals = List(PatternGroup(innerPats, innerF)))))
  }

  /** LeftJoin(Ω_required, LeftJoin(Ω_outer, Ω_inner, F_in), F_out), naively. */
  def naiveNestedOpt(ts: Set[(String, String, String)], q: Query): Set[List[String]] = {
    val whole = PatternGroup(q.patterns, q.filters, optionals = q.optionals)
    naiveGroupSols(ts, whole)
      .map(_.filter { case (k, _) => !k.startsWith("_i") })
      .map(m => q.selected.map(m.getOrElse(_, null)))
  }

  test("planner nested OPTIONAL == naive nested LeftJoin semantics on random graphs/queries") {
    val s = spark
    import s.implicits._
    val cases = (1 to 25).flatMap { i =>
      for {
        g <- graphGen(Gen.Parameters.default, Seed(7000L + i))
        q <- nestedOptQueryGen(Gen.Parameters.default, Seed(8000L + i))
      } yield (g, q)
    }
    assert(cases.nonEmpty)
    var run = 0
    cases.foreach { case (g, q) =>
      val reqHasVar = q.patterns.exists(tp => Seq(tp.s, tp.o).exists(_.isInstanceOf[V]))
      if (reqHasVar && q.selected.nonEmpty) {
        run += 1
        val quads = g.toSeq.map { case (su, p, o) => Quad("urn:g#", su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naiveNestedOpt(g, q)
        assert(got == want,
          s"mismatch for ${q.patterns} OPTIONAL(nested) ${q.optionals} " +
            s"over ${g.size} triples: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 15, s"only $run generated cases were runnable")
  }

  // ---- UNION differential fuzz (round 8) --------------------------------

  /** A UNION branch: one pattern anchored on shared subject ?u (so the
    * shared variable is bound by EVERY branch — the planner's null-padded
    * join is exact there; see the divergence note in BgpPlanner), with an
    * optional branch-scoped filter on ?u. */
  def branchGen(objVar: String): Gen[PatternGroup] = for {
    o <- Gen.frequency(2 -> Gen.const[Term](V(objVar)), 1 -> Gen.oneOf(nodes).map(I))
    p1 <- Gen.oneOf(preds)
    star <- Gen.oneOf(true, false)
    wantF <- Gen.oneOf(true, false)
    f <- cmpGen(Seq("u"))
  } yield PatternGroup(List(TriplePattern(V("u"), List(Step(p1, star)), o)),
    if (wantF) List(f) else Nil)

  val unionQueryGen: Gen[Query] = for {
    nPat <- Gen.choose(1, 2)
    pats <- Gen.listOfN(nPat, patternGen(Seq("a", "u")))
    br1 <- branchGen("c")
    br2 <- branchGen("d")
  } yield {
    def varsOf(ps: List[TriplePattern]) =
      ps.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
    val named = (varsOf(pats) ++ varsOf(br1.patterns) ++ varsOf(br2.patterns)).distinct
    Query(Nil, distinct = false, pats, named,
      unions = List(UnionGroup(List(br1, br2))))
  }

  /** Join(Ω_required, Union(Ω_b1, Ω_b2)) with branch filters, naively. */
  def naiveUnion(ts: Set[(String, String, String)], q: Query): Set[List[String]] = {
    val base = naiveSols(ts, q.patterns)
    val unionSols: Set[Map[String, String]] = q.unions.headOption match {
      case Some(ug) => ug.branches.flatMap { b =>
        naiveSols(ts, b.patterns).filter(m => b.filters.forall(feval(_, m)))
      }.toSet
      case None => Set(Map.empty)
    }
    val joined = for {
      m1 <- base
      m2 <- unionSols
      if m2.keySet.intersect(m1.keySet).forall(k => m1(k) == m2(k))
    } yield m1 ++ m2
    joined.map(m => q.selected.map(m.getOrElse(_, null)))
  }

  test("planner UNION == naive bag-union semantics on random graphs/queries") {
    val s = spark
    import s.implicits._
    val cases = (1 to 20).flatMap { i =>
      for {
        g <- graphGen(Gen.Parameters.default, Seed(4000L + i))
        q <- unionQueryGen(Gen.Parameters.default, Seed(5000L + i))
      } yield (g, q)
    }
    assert(cases.nonEmpty)
    var run = 0
    cases.foreach { case (g, q) =>
      if (q.selected.nonEmpty) {
        run += 1
        val quads = g.toSeq.map { case (su, p, o) => Quad("urn:g#", su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naiveUnion(g, q)
        assert(got == want,
          s"mismatch for ${q.patterns} UNION ${q.unions} over ${g.size} " +
            s"triples: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 10, s"only $run generated cases were runnable")
  }

  // ---- MINUS differential fuzz ------------------------------------------

  /** A MINUS group: one pattern on shared subject ?u whose object may be
    * shared (?a), fresh (?m — excluded from the anti-join key), or ground,
    * with an optional group-scoped filter. Every group var is bound by its
    * own pattern, so SPARQL compatibility over the domain intersection is
    * exactly the planner's anti-join on the shared columns. */
  def minusGroupGen: Gen[PatternGroup] = for {
    o <- Gen.frequency(2 -> Gen.oneOf(nodes).map(I),
      1 -> Gen.const[Term](V("a")), 1 -> Gen.const[Term](V("m")))
    st <- stepGen
    wantF <- Gen.oneOf(true, false)
    f <- cmpGen(Seq("u"))
  } yield PatternGroup(List(TriplePattern(V("u"), List(st), o)),
    if (wantF) List(f) else Nil)

  val minusQueryGen: Gen[Query] = for {
    nPat <- Gen.choose(1, 2)
    pats <- Gen.listOfN(nPat, patternGen(Seq("a", "u")))
    mg <- minusGroupGen
  } yield {
    val named = pats.flatMap(tp => Seq(tp.s, tp.o))
      .collect { case V(n) => n }.distinct
    Query(Nil, distinct = false, pats, named, minuses = List(mg))
  }

  /** Minus(Ω1, Ω2): drop μ1 when some μ2 is compatible AND their domains
    * overlap (the dom-disjoint rule keeps the row), naively. */
  def naiveMinus(ts: Set[(String, String, String)], q: Query): Set[List[String]] = {
    val base = naiveSols(ts, q.patterns)
    val out = q.minuses.foldLeft(base) { (acc, grp) =>
      val msols = naiveSols(ts, grp.patterns)
        .filter(m => grp.filters.forall(feval(_, m)))
      acc.filterNot { m1 =>
        msols.exists { m2 =>
          val shared = m1.keySet.intersect(m2.keySet)
          shared.nonEmpty && shared.forall(k => m1(k) == m2(k))
        }
      }
    }
    out.map(m => q.selected.map(m.getOrElse(_, null)))
  }

  test("planner MINUS == naive dom-overlap compatibility on random graphs/queries") {
    val s = spark
    import s.implicits._
    val cases = (1 to 20).flatMap { i =>
      for {
        g <- graphGen(Gen.Parameters.default, Seed(6000L + i))
        q <- minusQueryGen(Gen.Parameters.default, Seed(7000L + i))
      } yield (g, q)
    }
    assert(cases.nonEmpty)
    var run = 0
    cases.foreach { case (g, q) =>
      if (q.selected.nonEmpty) {
        run += 1
        val quads = g.toSeq.map { case (su, p, o) => Quad("urn:g#", su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naiveMinus(g, q)
        assert(got == want,
          s"mismatch for ${q.patterns} MINUS ${q.minuses} over ${g.size} " +
            s"triples: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 10, s"only $run generated cases were runnable")
  }

  // ---- EXISTS / NOT EXISTS differential fuzz (round 8) ------------------

  /** Query with one EXISTS or NOT EXISTS group. Group patterns draw from
    * a var pool overlapping the required patterns' (correlated) or
    * disjoint from it (uncorrelated — the global-probe path). */
  val existsQueryGen: Gen[Query] = for {
    nPat <- Gen.choose(1, 2)
    pats <- Gen.listOfN(nPat, patternGen(Seq("a", "b")))
    correlated <- Gen.frequency(3 -> true, 1 -> false)
    exPats <- Gen.listOfN(1, patternGen(
      if (correlated) Seq("b", "c") else Seq("x", "y")))
    positive <- Gen.oneOf(true, false)
  } yield {
    val named = pats.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }.distinct
    Query(Nil, distinct = false, pats, named,
      exists = List((PatternGroup(exPats, Nil), positive)))
  }

  /** Naive EXISTS: μ survives a positive group iff SOME group solution ν
    * agrees with μ on every shared domain variable (and a negative group
    * iff none does) — exactly the semi/anti-join reading the planner
    * compiles to. */
  def naiveExists(ts: Set[(String, String, String)], q: Query): Set[List[String]] = {
    val base = naiveSols(ts, q.patterns)
    val out = q.exists.foldLeft(base) { case (acc, (g, positive)) =>
      val gs = naiveSols(ts, g.patterns)
      acc.filter { m =>
        val hit = gs.exists(n =>
          (m.keySet & n.keySet).forall(v => m(v) == n(v)))
        if (positive) hit else !hit
      }
    }
    out.map(m => q.selected.map(m.getOrElse(_, null)))
  }

  test("planner EXISTS/NOT EXISTS == naive compatible-solution semantics on random graphs/queries") {
    val s = spark
    import s.implicits._
    val cases = (1 to 20).flatMap { i =>
      for {
        g <- graphGen(Gen.Parameters.default, Seed(8000L + i))
        q <- existsQueryGen(Gen.Parameters.default, Seed(9000L + i))
      } yield (g, q)
    }
    assert(cases.nonEmpty)
    var run = 0
    cases.foreach { case (g, q) =>
      if (q.selected.nonEmpty) {
        run += 1
        val quads = g.toSeq.map { case (su, p, o) => Quad("urn:g#", su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naiveExists(g, q)
        assert(got == want,
          s"mismatch for ${q.patterns} EXISTS ${q.exists} over ${g.size} " +
            s"triples: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 10, s"only $run generated cases were runnable")
  }

  // ---- VALUES-with-UNDEF differential fuzz (round 9) --------------------

  /** Random VALUES block over a subset of {a, b}: each cell is a node or
    * UNDEF (null), with ≥1 UNDEF somewhere so the non-equi path runs. */
  def undefValuesGen: Gen[ValuesBlock] = for {
    vars <- Gen.oneOf(List("a"), List("b"), List("a", "b"))
    nRows <- Gen.choose(1, 3)
    rows <- Gen.listOfN(nRows, Gen.listOfN(vars.length,
      Gen.frequency(1 -> Gen.const[String](null), 2 -> Gen.oneOf(nodes))))
  } yield ValuesBlock(vars,
    if (rows.exists(_.contains(null))) rows
    else rows.updated(0, rows.head.updated(0, null)))

  /** Single-step modifier-free patterns: the bag comparison below needs
    * solution multiplicity to come ONLY from VALUES rows — a multi-step
    * path projects away its internal join var, which duplicates planner
    * rows that the set-based naive evaluator deduplicates. */
  def flatPatternGen(vars: Seq[String]): Gen[TriplePattern] = for {
    s <- termGen(vars)
    o <- termGen(vars)
    p1 <- Gen.oneOf(preds)
  } yield TriplePattern(s, List(Step(p1, star = false)), o)

  val undefQueryGen: Gen[Query] = for {
    nPat <- Gen.choose(1, 2)
    pats <- Gen.listOfN(nPat, flatPatternGen(Seq("a", "b")))
    vb <- undefValuesGen
  } yield {
    val patVars = pats.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
    val named = (patVars ++ vb.vars).distinct
    Query(Nil, distinct = false, pats, named, values = List(vb))
  }

  /** Join(Ω_patterns, Ω_values) with UNDEF-compatible semantics (§10.2.2):
    * row r is compatible with μ iff every DEFINED cell matches μ where μ
    * binds it; the merged solution adopts r's defined cells for variables
    * μ does not bind. Bag semantics matter here (a μ compatible with two
    * rows yields two solutions) — compared as a multiset. */
  def naiveUndef(ts: Set[(String, String, String)], q: Query): Map[List[String], Int] = {
    val vb = q.values.head
    val sols = naiveSols(ts, q.patterns).toSeq
    val merged = for {
      m <- sols
      r <- vb.rows
      pairs = vb.vars.zip(r)
      if pairs.forall { case (v, cell) =>
        cell == null || m.get(v).forall(_ == cell) }
    } yield {
      val adopt = pairs.collect {
        case (v, cell) if cell != null && !m.contains(v) => v -> cell }
      m ++ adopt
    }
    merged.map(m => q.selected.map(m.getOrElse(_, null)))
      .groupBy(identity).map { case (k, g) => k -> g.size }
  }

  test("planner VALUES-UNDEF == naive compatible-row semantics (bag) on random graphs/queries") {
    val s = spark
    import s.implicits._
    val cases = (1 to 25).flatMap { i =>
      for {
        g <- graphGen(Gen.Parameters.default, Seed(10000L + i))
        q <- undefQueryGen(Gen.Parameters.default, Seed(11000L + i))
      } yield (g, q)
    }
    assert(cases.nonEmpty)
    var run = 0
    cases.foreach { case (g, q) =>
      val reqHasVar = q.patterns.exists(tp => Seq(tp.s, tp.o).exists(_.isInstanceOf[V]))
      if (reqHasVar && q.selected.nonEmpty) {
        run += 1
        val quads = g.toSeq.map { case (su, p, o) => Quad("urn:g#", su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSeq
          .groupBy(identity).map { case (k, grp) => k -> grp.size }
        val want = naiveUndef(g, q)
        assert(got == want,
          s"mismatch for ${q.patterns} VALUES ${q.values} over ${g.size} " +
            s"triples: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 15, s"only $run generated cases were runnable")
  }

  // ---- GRAPH ?g differential fuzz (round 9) -----------------------------

  val graphNames = Seq("urn:gA#", "urn:gB#", "urn:gC#")

  val quadGraphGen: Gen[Set[(String, String, String, String)]] =
    Gen.listOfN(18, for {
      g <- Gen.oneOf(graphNames); s <- Gen.oneOf(nodes)
      p <- Gen.oneOf(preds); o <- Gen.oneOf(nodes)
    } yield (g, s, p, o)).map(_.toSet)

  /** GRAPH ?g { 1-2 patterns (with path modifiers) } plus optionally one
    * outer default-union pattern sharing a variable. */
  val graphQueryGen: Gen[(List[TriplePattern], List[TriplePattern])] = for {
    nIn <- Gen.choose(1, 2)
    inner <- Gen.listOfN(nIn, patternGen(Seq("a", "b")))
    wantOuter <- Gen.oneOf(true, false)
    outer <- Gen.listOfN(1, patternGen(Seq("a", "c")))
  } yield (inner, if (wantOuter) outer else Nil)

  /** Per-graph evaluation: the inner group evaluates against each named
    * graph's triples with ?g bound, then joins the outer solutions over
    * the default-union graph on shared variables. */
  def naiveGraphVar(qs: Set[(String, String, String, String)],
      inner: List[TriplePattern], outer: List[TriplePattern],
      selected: List[String]): Set[List[String]] = {
    val perGraph = graphNames.flatMap { gn =>
      val ts = qs.collect { case (g, s, p, o) if g == gn => (s, p, o) }
      naiveSols(ts, inner).map(_ + ("g" -> gn))
    }.toSet
    val union = qs.map { case (_, s, p, o) => (s, p, o) }
    val outerSols = naiveSols(union, outer)
    val joined = perGraph.flatMap { m1 =>
      outerSols.collect {
        case m2 if m2.keySet.intersect(m1.keySet)
          .forall(k => m1(k) == m2(k)) => m1 ++ m2
      }
    }
    joined.map(m => selected.map(m.getOrElse(_, null)))
  }

  test("planner GRAPH ?g (incl. path modifiers) == naive per-graph evaluation on random quads") {
    val s = spark
    import s.implicits._
    val cases = (1 to 25).flatMap { i =>
      for {
        qs <- quadGraphGen(Gen.Parameters.default, Seed(12000L + i))
        gq <- graphQueryGen(Gen.Parameters.default, Seed(13000L + i))
      } yield (qs, gq)
    }
    assert(cases.nonEmpty)
    var run = 0
    cases.foreach { case (qs, (inner, outer)) =>
      val innerVars = inner.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
      val outerVars = outer.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
      if (innerVars.nonEmpty && (outer.isEmpty || outerVars.nonEmpty)) {
        run += 1
        val named = ("g" :: (innerVars ++ outerVars)).distinct
        val q = Query(Nil, distinct = false, outer, named,
          graphs = List((V("g"), PatternGroup(inner, Nil))))
        val quads = qs.toSeq.map { case (g, su, p, o) => Quad(g, su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naiveGraphVar(qs, inner, outer, q.selected)
        assert(got == want,
          s"mismatch for GRAPH ?g { $inner } + outer $outer over ${qs.size} " +
            s"quads: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 15, s"only $run generated cases were runnable")
  }

  test("structural GRAPH ?g (nested-group body) == naive per-graph evaluation") {
    val s = spark
    import s.implicits._
    // Same generated cases, but the body is wrapped in a plain nested
    // group — semantically identical, yet it forces the round-10
    // STRUCTURAL path (one evaluation per named graph, bag-unioned)
    // instead of the single-plan graph-column path. Both must match the
    // naive per-graph evaluator; together with the test above this is a
    // three-way differential over the same case distribution.
    val cases = (1 to 12).flatMap { i =>
      for {
        qs <- quadGraphGen(Gen.Parameters.default, Seed(12000L + i))
        gq <- graphQueryGen(Gen.Parameters.default, Seed(13000L + i))
      } yield (qs, gq)
    }
    var run = 0
    cases.foreach { case (qs, (inner, outer)) =>
      val innerVars = inner.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
      val outerVars = outer.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
      if (innerVars.nonEmpty && (outer.isEmpty || outerVars.nonEmpty)) {
        run += 1
        val named = ("g" :: (innerVars ++ outerVars)).distinct
        val q = Query(Nil, distinct = false, outer, named,
          graphs = List((V("g"),
            PatternGroup(Nil, Nil, groups = List(PatternGroup(inner, Nil))))))
        val quads = qs.toSeq.map { case (g, su, p, o) => Quad(g, su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q, None).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val want = naiveGraphVar(qs, inner, outer, q.selected)
        assert(got == want,
          s"structural mismatch for GRAPH ?g { { $inner } } + outer $outer " +
            s"over ${qs.size} quads: planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 8, s"only $run generated cases were runnable")
  }

  test("FROM dataset scoping == naive evaluation over the merged graph subset") {
    val s = spark
    import s.implicits._
    // random quads + random FROM subsets: the planner's merged default
    // graph (isin + distinct) must equal naive evaluation over exactly
    // the union of the listed graphs' triples
    val cases = (1 to 20).flatMap { i =>
      for {
        qs <- quadGraphGen(Gen.Parameters.default, Seed(30000L + i))
        pats <- Gen.listOfN(2, patternGen(Seq("a", "b")))(
          Gen.Parameters.default, Seed(31000L + i))
        subsetBits <- Gen.choose(1, 7).apply(Gen.Parameters.default, Seed(32000L + i))
      } yield (qs, pats, graphNames.zipWithIndex.collect {
        case (g, j) if ((subsetBits >> j) & 1) == 1 => g
      })
    }
    var run = 0
    cases.foreach { case (qs, pats, fromSet) =>
      val vars = pats.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
      if (vars.nonEmpty) {
        run += 1
        val q = Query(Nil, distinct = false, pats, vars.distinct,
          fromGraphs = fromSet.toList)
        val quads = qs.toSeq.map { case (g, su, p, o) => Quad(g, su, p, o) }.toDF()
        val got = BgpPlanner.evaluate(quads, q).collect()
          .map(r => q.selected.indices.map(r.getString).toList).toSet
        val merged = qs.collect {
          case (g, su, p, o) if fromSet.contains(g) => (su, p, o)
        }
        val want = naiveSols(merged, pats)
          .map(m => q.selected.map(m.getOrElse(_, null)))
        assert(got == want,
          s"FROM $fromSet over ${qs.size} quads, patterns $pats: " +
            s"planner=${got.size} naive=${want.size}")
      }
    }
    assert(run >= 15, s"only $run generated cases were runnable")
  }

  // ---- driver-side evaluator (LocalBgp) vs the planner --------------------

  /** Objects include literals whose lexical forms collide (`"x"@en` and
    * `"x"` both read `x` past the result boundary), so DISTINCT-before-lex
    * is exercised. Quads may repeat and span two named graphs. */
  val termNodes: Seq[String] = nodes ++ Seq("\"x\"@en", "\"x\"", "5")

  val bagQuadGen: Gen[Seq[(String, String, String, String)]] =
    Gen.listOfN(20, for {
      g <- Gen.oneOf(graphNames.take(2)); s <- Gen.oneOf(nodes)
      p <- Gen.oneOf(preds); o <- Gen.oneOf(termNodes)
    } yield (g, s, p, o))

  /** The whole conjunctive fragment: every step form plus `?`, blank
    * nodes (`_anon` joints), literal constants and projected subsets. */
  val bagQueryGen: Gen[Query] = {
    val term: Gen[Term] = Gen.frequency(
      6 -> Gen.oneOf("a", "b", "c").map(V),
      2 -> Gen.oneOf(nodes).map(I),
      1 -> Gen.oneOf(termNodes.drop(nodes.size)).map(L),
      1 -> Gen.oneOf("_anon1", "_anon2").map(V))
    val step: Gen[Step] = for {
      st <- stepGen
      opt <- Gen.frequency(4 -> false, 1 -> true)
    } yield if (opt) st.copy(mod = '?') else st
    val pattern: Gen[TriplePattern] = for {
      s <- term; o <- term
      path <- Gen.frequency(3 -> Gen.listOfN(1, step), 1 -> Gen.listOfN(2, step))
    } yield TriplePattern(s, path, o)
    for {
      nPat <- Gen.choose(1, 3)
      pats <- Gen.listOfN(nPat, pattern)
      keep <- Gen.choose(0, 2)
      distinct <- Gen.frequency(3 -> false, 1 -> true)
    } yield {
      val named = pats.flatMap(tp => Seq(tp.s, tp.o)).collect {
        case V(n) if !n.startsWith("_anon") => n }.distinct
      Query(if (keep == 0) Nil else named.take(keep), distinct, pats, named)
    }
  }

  def bag(rows: Seq[Seq[String]]): Map[Seq[String], Int] =
    rows.groupBy(identity).map { case (k, v) => k -> v.size }

  test("driver evaluator == planner as bags: union graph, two named graphs, DISTINCT") {
    val s = spark
    import s.implicits._
    var run = 0
    (1 to 25).foreach { i =>
      for {
        qs <- bagQuadGen(Gen.Parameters.default, Seed(40000L + i))
        q0 <- bagQueryGen(Gen.Parameters.default, Seed(41000L + i))
      } {
        val quads = qs.map { case (g, su, p, o) => Quad(g, su, p, o) }.toDF()
        val index = LocalBgp.Index.build(quads).get
        assert(LocalBgp.supports(q0))
        val vars = q0.patterns.flatMap(tp => Seq(tp.s, tp.o)).collect { case V(n) => n }
        // a projected variable no pattern binds is the planner's error
        if (vars.isEmpty || q0.selected.forall(vars.contains)) {
          run += 1
          for (q <- Seq(q0, q0.copy(distinct = true));
               graph <- Seq(None, Some(graphNames(0)), Some(graphNames(1)))) {
            val planned = BgpPlanner.evaluate(quads, q, graph).collect()
              .map(r => (0 until r.length).map(r.getString).toSeq).toSeq
            val local = LocalBgp.evaluate(
              graph.fold(index.union)(index.graph), q).get.map(_.toSeq)
            assert(bag(local) == bag(planned),
              s"${graph.getOrElse("union")} ${if (q.distinct) "DISTINCT " else ""}" +
                s"SELECT ${q.selected} ${q.patterns} over ${qs.size} quads: " +
                s"local=${bag(local)} planner=${bag(planned)}")
          }
        }
      }
    }
    assert(run >= 18, s"only $run generated cases were runnable")
  }

  /** Two sites sharing one ontology edge, the way the loader merges it. */
  def siteQuads(): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      Quad("urn:site1#", "urn:a", "urn:p", "urn:b"),
      Quad("urn:site1#", "urn:b", "urn:p", "urn:c"),
      Quad("urn:site1#", "urn:a", "urn:q", "1"),
      Quad("urn:site1#", "urn:K", "urn:sub", "urn:L"),
      Quad("urn:site2#", "urn:c", "urn:p", "urn:d"),
      Quad("urn:site2#", "urn:K", "urn:sub", "urn:L")).toDF()
  }

  def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString))

  test("queries outside the conjunctive fragment plan through BgpPlanner and answer right") {
    val engine = new Engine(spark, siteQuads(), spark.range(0).toDF())
    val cases = Seq(
      "SELECT ?x WHERE { ?x <urn:p> ?y FILTER(?y != <urn:c>) }" ->
        Seq(Seq("urn:a"), Seq("urn:c")),
      "SELECT ?x ?v WHERE { ?x <urn:p> ?y OPTIONAL { ?x <urn:q> ?v } }" ->
        Seq(Seq("urn:a", "1"), Seq("urn:b", null), Seq("urn:c", null)),
      "SELECT ?x WHERE { { ?x <urn:q> ?v } UNION { ?x <urn:p> <urn:d> } }" ->
        Seq(Seq("urn:a"), Seq("urn:c")),
      "SELECT ?g ?x WHERE { GRAPH ?g { ?x <urn:p> <urn:d> } }" ->
        Seq(Seq("urn:site2#", "urn:c")),
      "SELECT ?x ?y WHERE { VALUES ?x { <urn:a> <urn:c> } ?x <urn:p> ?y }" ->
        Seq(Seq("urn:a", "urn:b"), Seq("urn:c", "urn:d")),
      "SELECT (COUNT(?x) AS ?n) WHERE { ?x <urn:p> ?y }" -> Seq(Seq("3")),
      "ASK { <urn:a> <urn:p>+ <urn:d> }" -> Seq(Seq("true")),
      "CONSTRUCT { ?y <urn:r> ?x } WHERE { ?x <urn:p> ?y }" ->
        Seq(Seq("urn:b", "urn:r", "urn:a"), Seq("urn:c", "urn:r", "urn:b"),
          Seq("urn:d", "urn:r", "urn:c")),
      "DESCRIBE <urn:c>" -> Seq(Seq("urn:c", "urn:p", "urn:d")),
      "SELECT ?x FROM <urn:site2#> WHERE { ?x <urn:p> ?y }" -> Seq(Seq("urn:c")))
    cases.foreach { case (text, want) =>
      assert(!LocalBgp.supports(Sparql.parse(text)), text)
      assert(bag(rowsOf(engine.sparql(text))) == bag(want), text)
    }
    // ORDER BY / LIMIT: the order is part of the answer
    val ordered = "SELECT ?x WHERE { ?x <urn:p> ?y } ORDER BY DESC(?x) LIMIT 2"
    assert(!LocalBgp.supports(Sparql.parse(ordered)))
    assert(rowsOf(engine.sparql(ordered)) == Seq(Seq("urn:c"), Seq("urn:b")))
    // conjunctive, but planned: a projected ?site is overwritten by the
    // site column, and a variable projected twice is an error
    assert(rowsOf(engine.sparql("SELECT ?site WHERE { ?site <urn:p> ?y }",
      Seq("site1"))) == Seq(Seq("site1"), Seq("site1")))
    intercept[org.apache.spark.sql.AnalysisException] {
      engine.sparql("SELECT ?x ?x WHERE { ?x <urn:p> ?y }")
    }
    // and a conjunctive query over the same engine stays on the driver
    val conj = "SELECT ?x WHERE { ?x <urn:p>/<urn:p> ?z }"
    assert(engine.sparql(conj).queryExecution.logical.isInstanceOf[LocalRelation])
    assert(bag(rowsOf(engine.sparql(conj))) == bag(Seq(Seq("urn:a"), Seq("urn:b"))))
    assert(bag(rowsOf(engine.sparql(conj, Seq("site1", "site2")))) ==
      bag(Seq(Seq("urn:a", "site1"))))
  }

  test("a cross product past the row limit is abandoned on the driver and planned") {
    val s = spark
    import s.implicits._
    // 1415² = 2,002,225 solutions: just over DriverSide.OutputLimit
    val n = 1415
    val quads = (0 until n).map(i => Quad("urn:g#", s"urn:s$i", "urn:p", "urn:o")).toDF()
    val text = "SELECT ?a ?b WHERE { ?a <urn:p> ?x . ?b <urn:p> ?y }"
    val q = Sparql.parse(text)
    assert(LocalBgp.supports(q))
    assert(n.toLong * n > graft.plans.DriverSide.OutputLimit)
    val index = LocalBgp.Index.build(quads).get
    assert(LocalBgp.evaluate(index.union, q).isEmpty)
    val df = new Engine(spark, quads, spark.range(0).toDF()).sparql(text)
    assert(!df.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(df.count() == n.toLong * n)
    assert(df.filter($"a" === $"b").count() == n)
  }

  test("a graph over the driver-side cutoff plans through BgpPlanner") {
    import org.apache.spark.sql.functions._
    val limit = graft.plans.DriverSide.InputLimit
    val quads = spark.range(limit + 1).select(lit("urn:g#").as("graph"),
      concat(lit("urn:s"), col("id")).as("s"), lit("urn:p").as("p"),
      concat(lit("urn:o"), col("id")).as("o"))
    assert(LocalBgp.Index.build(quads).isEmpty)
    val df = new Engine(spark, quads, spark.range(0).toDF())
      .sparql("SELECT ?o WHERE { <urn:s7> <urn:p>* ?o }")
    assert(!df.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(bag(rowsOf(df)) == bag(Seq(Seq("urn:s7"), Seq("urn:o7"))))
  }
}
