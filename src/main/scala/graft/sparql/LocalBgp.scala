package graft.sparql

import graft.RdfTerms
import graft.plans.{Closure, DriverSide}
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** Driver-side evaluator for conjunctive SPARQL over a graph held in
  * memory — the in-process first level of the reference's two-level
  * query (oxigraph, reference: mortar-parquet-client/client.py:42,52).
  *
  * The metadata graph is small next to the time-series store, and a
  * Catalyst plan over it pays several Spark jobs per lookup for work
  * that takes milliseconds in one JVM. For the fragment it answers — a
  * SELECT (projection, `*`, DISTINCT) whose WHERE holds nothing but
  * triple patterns over IRI paths (sequence, alternative, inverse, the
  * ' '/'*'/'+'/'?' modifiers), blank nodes, repeated variables and ground
  * patterns — it returns exactly BgpPlanner's rows: the same columns,
  * the same bag multiplicities and the same `lex` result boundary.
  * Everything else, and any evaluation whose intermediate state passes
  * [[DriverSide.OutputLimit]], stays with BgpPlanner.
  *
  * Semantics mirrored from BgpPlanner, atom by atom:
  *   - every atom is a SET of (subject, object) pairs and the solutions
  *     are the distinct assignments of ALL variables, path joints and
  *     blank nodes included; projecting drops those, so a row repeats
  *     once per distinct witness (a bag) unless DISTINCT;
  *   - `p*`/`p?` with two variable endpoints add the zero-length pair for
  *     every subject or object term of the graph; with a constant
  *     endpoint they add the constant itself, in the graph or not.
  */
object LocalBgp {

  import Sparql._
  import BgpPlanner.{Atom, expandAtoms}

  /** One graph: per predicate, subject → objects (`fwd`) and object →
    * subjects (`rev`), each triple once; `terms` holds every subject and
    * object (the domain of zero-length paths). */
  final class Graph private[LocalBgp] (
      fwd: Map[String, Map[String, Array[String]]],
      rev: Map[String, Map[String, Array[String]]],
      val terms: Set[String]) {
    /** Adjacency of predicate `p`, read against the edge when `backward`. */
    def adjacency(p: String, backward: Boolean): Map[String, Array[String]] =
      (if (backward) rev else fwd).getOrElse(p, Map.empty)
  }

  /** The union graph and every named graph of a quads relation. */
  final class Index private[LocalBgp] (val union: Graph, named: Map[String, Graph]) {
    def graph(name: String): Graph = named.getOrElse(name, EmptyGraph)
  }

  private val EmptyGraph = new Graph(Map.empty, Map.empty, Set.empty)

  object Index {
    /** Collect `quads` (graph, s, p, o) into an index. None when
      * [[DriverSide]] leaves the relation on the cluster, or it holds a
      * null term the planner's SQL equality would treat differently. */
    def build(quads: DataFrame): Option[Index] =
      DriverSide.collect(quads.select("graph", "s", "p", "o").rdd)
        .filterNot(_.exists(r => r.isNullAt(1) || r.isNullAt(2) || r.isNullAt(3)))
        .map(indexOf)

    private def indexOf(rows: Array[Row]): Index = {
      val quad = rows.map(r => (r.getString(0), (r.getString(1), r.getString(2), r.getString(3))))
      val named = quad.filter(_._1 != null).groupBy(_._1)
        .map { case (g, qs) => g -> graphOf(qs.map(_._2)) }
      new Index(graphOf(quad.map(_._2)), named)
    }

    private def graphOf(triples: Iterable[(String, String, String)]): Graph = {
      type Adj = mutable.HashMap[String, mutable.HashMap[String, mutable.LinkedHashSet[String]]]
      val fwd, rev: Adj = mutable.HashMap.empty
      val terms = mutable.HashSet[String]()
      def add(m: Adj, p: String, from: String, to: String): Unit =
        m.getOrElseUpdate(p, mutable.HashMap.empty)
          .getOrElseUpdate(from, mutable.LinkedHashSet.empty) += to
      triples.foreach { case (s, p, o) =>
        add(fwd, p, s, o); add(rev, p, o, s); terms += s; terms += o
      }
      def freeze(m: Adj) =
        m.map { case (p, adj) => p -> adj.map { case (k, vs) => k -> vs.toArray }.toMap }.toMap
      new Graph(freeze(fwd), freeze(rev), terms.toSet)
    }
  }

  /** True for the conjunctive fragment: a SELECT with nothing but triple
    * patterns (no negated property sets, no variable predicates) in its
    * WHERE, and no modifier beyond projection and DISTINCT. A variable
    * projected twice stays with the planner, which rejects it. */
  def supports(q: Query): Boolean =
    q == Query(q.projection, q.distinct, q.patterns, q.userVars) &&
      q.patterns.forall(_.path.forall(st => !st.negated && st.varName.isEmpty)) &&
      q.selected.distinct.length == q.selected.length

  private object Abandon extends scala.util.control.ControlThrowable

  /** Rows of `q.selected` for a [[supports]]-ed query over `g`, through
    * the `lex` result boundary. None when an intermediate solution set
    * or the closures computed pass [[DriverSide.OutputLimit]], or when
    * a projected variable is bound by no pattern (BgpPlanner reports
    * that error). */
  def evaluate(g: Graph, q: Query): Option[Seq[Array[String]]] = {
    val rowLimit = DriverSide.outputLimit
    var joints = 0
    val atoms = expandAtoms(q.patterns, () => { joints += 1; V(s"_path$joints") })
    val vars = atoms.flatMap(_.vars).distinct
    if (vars.nonEmpty && !q.selected.forall(vars.contains)) return None
    val slot = vars.zipWithIndex.toMap
    var closed = 0L // elements of the closures computed so far
    def charge(n: Int): Unit = { closed += n; if (closed > rowLimit) throw Abandon }

    try {
      var sols = mutable.ArrayBuffer(new Array[String](vars.length))
      val pending = mutable.ListBuffer(atoms.map(a => new Rel(g, a, charge)): _*)
      while (pending.nonEmpty && sols.nonEmpty) {
        // most-determined atom first: constants and already-bound variables
        val next = pending.maxBy(r => (r.known(sols.head, slot), r.atom.constCount))
        pending -= next
        val out = mutable.ArrayBuffer[Array[String]]()
        sols.foreach { sol =>
          next.extend(sol, slot) { ext =>
            out += ext
            if (out.length > rowLimit) throw Abandon
          }
        }
        sols = out
      }
      val rows = sols.map(sol => q.selected.map(v => slot.get(v).map(sol(_)).orNull).toArray)
      val kept = if (q.distinct) rows.distinctBy(_.toSeq) else rows
      val lexical = mutable.HashMap[String, String]()
      Some(kept.map(_.map(t =>
        if (t == null) null else lexical.getOrElseUpdate(t, RdfTerms.lexicalOf(t)))).toSeq)
    } catch { case Abandon => None }
  }

  /** One atom's (subject, object) relation over `g`, as BgpPlanner builds
    * it. Reachable sets are computed on demand, memoized, and charged to
    * the evaluation's budget. */
  private final class Rel(g: Graph, val atom: Atom, charge: Int => Unit) {
    private val step = atom.step

    /** Single-step neighbours of `x` over the alternative set. */
    private def step1(x: String, backward: Boolean): mutable.LinkedHashSet[String] = {
      val out = mutable.LinkedHashSet[String]()
      step.alts.foreach { case (p, inv) =>
        g.adjacency(p, inv != backward).get(x).foreach(out ++= _)
      }
      out
    }

    /** Subjects of the single-step edges. */
    private def sources: Set[String] =
      step.alts.iterator.flatMap { case (p, inv) => g.adjacency(p, inv).keysIterator }.toSet

    private val zeroLength = step.mod == '*' || step.mod == '?'

    /** Nodes one step (' ', '?') or one or more steps ('*', '+') from `x`;
      * a fresh set. */
    private def along(x: String, backward: Boolean): mutable.Set[String] = {
      val far =
        if (step.mod == ' ' || step.mod == '?') step1(x, backward)
        else Closure.reachable(x, step1(_, backward))
      charge(far.size)
      far
    }

    private val memo = Array.fill(2)(mutable.HashMap[String, collection.Set[String]]())

    /** Partners of `x` at the other end: with two variable endpoints the
      * zero-length pair exists for graph terms only. */
    private def partners(x: String, backward: Boolean): collection.Set[String] =
      memo(if (backward) 1 else 0).getOrElseUpdate(x, {
        val far = along(x, backward)
        if (zeroLength && g.terms(x)) far += x
        far
      })

    /** A constant endpoint: BgpPlanner's targeted closure from it, which
      * always contains the constant itself under `*` and `?`. */
    private val anchor: Option[(String, collection.Set[String])] =
      if (step.mod == ' ') None
      else {
        val c = (atom.s, atom.o) match {
          case (V(_), I(c)) => Some((c, true))
          case (V(_), L(c)) => Some((c, true))
          case (I(c), _) => Some((c, false))
          case (L(c), _) => Some((c, false))
          case _ => None
        }
        c.map { case (c, backward) =>
          val far = along(c, backward)
          if (zeroLength) far += c
          (c, far)
        }
      }

    private def succ(x: String): collection.Set[String] = anchor match {
      case Some((c, reached)) =>
        if (atom.s.isInstanceOf[V]) { if (reached(x)) Set(c) else Set.empty }
        else if (x == c) reached else Set.empty
      case None => partners(x, backward = false)
    }

    private def pred(y: String): collection.Set[String] = anchor match {
      case Some((c, reached)) =>
        if (atom.s.isInstanceOf[V]) { if (y == c) reached else Set.empty }
        else if (reached(y)) Set(c) else Set.empty
      case None => partners(y, backward = true)
    }

    private def value(t: Term, sol: Array[String], slot: Map[String, Int]): String =
      t match {
        case V(n) => sol(slot(n))
        case I(i) => i
        case L(l) => l
      }

    /** Endpoints already fixed in `sol`: constants or bound variables. */
    def known(sol: Array[String], slot: Map[String, Int]): Int =
      Seq(atom.s, atom.o).count(value(_, sol, slot) != null)

    /** Every extension of `sol` by this atom, passed to `emit`. */
    def extend(sol: Array[String], slot: Map[String, Int])(emit: Array[String] => Unit): Unit = {
      def bind(t: Term, v: String, base: Array[String] = sol): Array[String] = {
        val ext = base.clone(); ext(slot(t.asInstanceOf[V].name)) = v; ext
      }
      val sv = value(atom.s, sol, slot)
      val ov = value(atom.o, sol, slot)
      (atom.s, atom.o) match {
        case (V(x), V(y)) if x == y =>
          if (sv != null) { if (succ(sv)(sv)) emit(sol) }
          // every graph term has its zero-length loop
          else if (zeroLength) g.terms.foreach(n => emit(bind(atom.s, n)))
          else sources.foreach(n => if (succ(n)(n)) emit(bind(atom.s, n)))
        case _ =>
          if (sv != null && ov != null) { if (succ(sv)(ov)) emit(sol) }
          else if (sv != null) succ(sv).foreach(o => emit(bind(atom.o, o)))
          else if (ov != null) pred(ov).foreach(s => emit(bind(atom.s, s)))
          else {
            // two unbound variables, so no constant endpoint
            val domain = if (zeroLength) g.terms else sources
            domain.foreach { s =>
              val withS = bind(atom.s, s)
              succ(s).foreach(o => emit(bind(atom.o, o, withS)))
            }
          }
      }
    }
  }
}
