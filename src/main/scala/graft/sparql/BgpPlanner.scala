package graft.sparql

import graft.functions.DateTimeParts
import graft.plans.Closure

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Basic-graph-pattern planner: SPARQL subset AST → DataFrame plan.
  *
  * Replaces the opaque oxigraph BGP evaluation the reference delegates to
  * (reference: mortar-parquet-client/client.py:42,52). Each triple pattern
  * becomes a filtered projection of the quads table; shared variables become
  * equi-joins; `p*` steps become reflexive-transitive closure relations;
  * OPTIONAL groups become left-outer joins carrying their FILTERs in the
  * join condition; UNION groups become null-padded bag unions of their
  * branch BGPs; FILTERs compile to Catalyst predicate Columns.
  *
  * Planner-level optimization (SURVEY.md §4): patterns are joined most-
  * selective-first (most constant terms bound), always extending the current
  * join tree through a shared variable when one exists; Catalyst then picks
  * the physical join (these relations are graph-sized → broadcast hash
  * joins, no sort-merge shuffles).
  *
  * Set semantics: per-pattern solutions are DISTINCT mappings (SPARQL BGP
  * matching is over a set of triples); the final SELECT projection keeps
  * duplicates unless DISTINCT — both faithful to rdflib's behavior.
  */
object BgpPlanner {

  import Sparql._

  /** One single-step triple pattern: a property path after expansion. */
  private[sparql] final case class Atom(s: Term, step: Step, o: Term) {
    def vars: Seq[String] =
      Seq(s, o).collect { case V(n) => n } ++ step.varName
    def constCount: Int = Seq(s, o).count { case V(_) => false; case _ => true }
  }

  /** Expand property paths into single-step atoms: a sequence `p1/p2`
    * joins its steps through a variable from `fresh`. */
  private[sparql] def expandAtoms(patterns: List[TriplePattern],
      fresh: () => Term): List[Atom] =
    patterns.flatMap { tp =>
      var subj: Term = tp.s
      tp.path.zipWithIndex.map { case (step, i) =>
        val obj = if (i == tp.path.length - 1) tp.o else fresh()
        val a = Atom(subj, step, obj)
        subj = obj
        a
      }
    }

  /** Internal column name for a variable (avoids collision with the quads
    * table's own `s`/`p`/`o`/`graph` columns). */
  private def vc(name: String): String = "v_" + name

  /** Variable-predicate atom → vc-named relation. `rel0` carries
    * `as`/`ap`/`ao` (plus any pre-seeded vc columns listed in `seeded`,
    * e.g. GRAPH's ?g). First occurrence of each variable selects its
    * column; a repeated variable (`?x ?p ?x`, `?s ?p ?p`, GRAPH var as
    * verb) becomes an equality filter; constants filter. DISTINCT because
    * atom relations are set-semantics inputs to the greedy join. */
  private def varPredRel(rel0: DataFrame, a: Atom, pv: String,
      seeded: Seq[(String, String)]): DataFrame = {
    var rel = rel0
    val seen = scala.collection.mutable.LinkedHashMap[String, String](seeded: _*)
    Seq(("as", a.s), ("ap", V(pv): Term), ("ao", a.o)).foreach {
      case (c, V(x)) => seen.get(x) match {
        case Some(c0) => rel = rel.filter(col(c0) === col(c))
        case None => seen += (x -> c)
      }
      case (c, I(i)) => rel = rel.filter(col(c) === i)
      case (c, L(l)) => rel = rel.filter(col(c) === l)
    }
    rel.select(seen.map { case (x, c) =>
      (if (c.startsWith("v_")) col(c) else col(c).as(vc(x))): Column
    }.toSeq: _*).distinct()
  }

  /** Evaluate `q` over `quads` ((graph,s,p,o) strings). `graph`=None means
    * default-union semantics (reference: setup-graphs.py:14). */
  def evaluate(quads: DataFrame, q: Query, graph: Option[String] = None): DataFrame = {
    // Graph scoping. Under union, the same triple may live in several named
    // graphs (the reference merges the ontology into EVERY graph,
    // setup-graphs.py:22) — union semantics are set semantics, so dedup.
    // Dataset clauses (§13.2, round 10): FROM graphs MERGE into the
    // default graph, FROM NAMED enumerates the GRAPH-visible graphs; the
    // presence of EITHER makes the dataset exactly what is listed — a
    // FROM-only query sees no named graphs (GRAPH matches nothing), a
    // FROM-NAMED-only query has an empty default graph. The explicit
    // `graph` API parameter is the reference client's site scoping and
    // takes precedence over clauses when set.
    val hasDataset = q.fromGraphs.nonEmpty || q.fromNamed.nonEmpty
    val scoped = graph match {
      case Some(g) => quads.filter(col("graph") === g).select("s", "p", "o")
      case None if !hasDataset => quads.select("s", "p", "o").distinct()
      case None if q.fromGraphs.nonEmpty =>
        quads.filter(col("graph").isin(q.fromGraphs: _*))
          .select("s", "p", "o").distinct()
      case None => // FROM NAMED only: empty default graph
        quads.filter(lit(false)).select("s", "p", "o")
    }
    val quadsScope =
      if (!hasDataset || graph.isDefined) quads
      else if (q.fromNamed.nonEmpty) quads.filter(col("graph").isin(q.fromNamed: _*))
      else quads.filter(lit(false)) // FROM only: no named graphs visible
    // strip the clauses: evaluateTriples rejects them (it cannot honor a
    // dataset without the quads relation, and subqueries may not carry
    // them per the grammar)
    evaluateTriples(scoped, q.copy(fromGraphs = Nil, fromNamed = Nil),
      Some(quadsScope))
  }

  /** Evaluate over an already graph-scoped, deduplicated (s,p,o) relation.
    * Callers issuing many queries should cache that relation once (see
    * Engine) — every triple pattern re-reads it, and re-running the
    * scope+distinct per atom is the planner's only repeated subtree.
    * `quadsG` is the un-scoped 4-column quads relation, needed only by
    * GRAPH groups (the one construct that re-scopes mid-query,
    * setup-graphs.py:13-19 semantics); absent → GRAPH errors. */
  def evaluateTriples(scoped: DataFrame, q: Query,
      quadsG: Option[DataFrame] = None, boundary: Boolean = true): DataFrame = {
    if (q.fromGraphs.nonEmpty || q.fromNamed.nonEmpty)
      throw new IllegalArgumentException(
        "FROM / FROM NAMED require evaluation over the quads relation — " +
          "call BgpPlanner.evaluate, not evaluateTriples (and dataset " +
          "clauses are not allowed in subqueries)")
    if (q.describeTerms.nonEmpty) return describePlan(scoped, q, quadsG)
    val spark = scoped.sparkSession
    var pathCounter = 0
    def freshPathVar(): Term = { pathCounter += 1; V(s"_path$pathCounter") }

    def atomsOf(patterns: List[TriplePattern]): List[Atom] =
      expandAtoms(patterns, () => freshPathVar())
    val atoms: List[Atom] = atomsOf(q.patterns)

    /** Single-step edge relation of an alternative set: union of one
      * predicate-filtered scan per alternative, direction swapped for
      * inverse (`^p`) elements. The one-forward-alt case reduces to the
      * plain filtered projection it always was.
      *
      * Negated sets (SPARQL 1.1 §9.1) flip the predicate filter: per the
      * spec's translation `!(f1|…|^i1|…) ≡ !(f1|…) | ^(!(i1|…))`, the
      * relation is forward edges whose predicate is NOT IN the forward
      * exclusions, union REVERSED edges whose predicate is NOT IN the
      * inverse exclusions — and each directional part exists only if the
      * set names ≥1 element of that direction (`!p` has no inverse part,
      * `!^p` no forward part). Still a single predicate-pruned scan per
      * part; NOT IN over constants pushes down like IN does. */
    def edgesFor(step: Step): DataFrame =
      if (!step.negated)
        step.alts.map { case (p, inv) =>
          val base = scoped.filter(col("p") === p)
          if (inv) base.select(col("o").as("src"), col("s").as("dst"))
          else base.select(col("s").as("src"), col("o").as("dst"))
        }.reduce(_ union _)
      else {
        val fwdExcl = step.alts.collect { case (p, false) => p }
        val invExcl = step.alts.collect { case (p, true) => p }
        val parts =
          (if (fwdExcl.isEmpty) Nil
           else Seq(scoped.filter(!col("p").isin(fwdExcl: _*))
             .select(col("s").as("src"), col("o").as("dst")))) ++
          (if (invExcl.isEmpty) Nil
           else Seq(scoped.filter(!col("p").isin(invExcl: _*))
             .select(col("o").as("src"), col("s").as("dst"))))
        parts.reduce(_ union _)
      }

    // Closure relations, one per (alt-set, modifier) — reused across atoms.
    // `p*` = reflexive-transitive; `p+` = transitive only (≥1 step);
    // `p?` = zero-or-one (single-step edges ∪ identity — no fixpoint).
    lazy val allTerms = scoped.select(col("s").as("t"))
      .union(scoped.select(col("o").as("t"))).distinct()
    val closures = scala.collection.mutable.Map[String, DataFrame]()
    def closureFor(step: Step): DataFrame = {
      val key = (if (step.negated) "!" else "") +
        step.alts.map { case (p, inv) => (if (inv) "^" else "") + p }
          .mkString("|") + step.mod
      closures.getOrElseUpdate(key, {
        if (step.mod == '?')
          Closure.withIdentity(edgesFor(step), allTerms)
        else {
          val tc = Closure.transitive(edgesFor(step))
          if (step.mod == '*') Closure.withIdentity(tc, allTerms) else tc
        }
      })
    }

    /** Closure atom with a constant endpoint: targeted BFS from the
      * constant instead of the full pairwise closure — the selective form
      * a query like `?x subClassOf* brick:Point` actually needs. `p*`
      * includes the zero-length path (the constant itself); `p+` does not
      * (the constant re-enters only via a cycle, which reachableFrom
      * already handles). */
    def targetedClosure(step: Step, const: String, constIsObject: Boolean): DataFrame = {
      // `?` needs only the constant's direct neighbors — no BFS at all
      val reached =
        if (step.mod == '?') {
          val e = edgesFor(step)
          (if (constIsObject) e.filter(col("dst") === const).select(col("src").as("node"))
           else e.filter(col("src") === const).select(col("dst").as("node"))).distinct()
        } else graft.plans.Closure.reachableFrom(
          edgesFor(step), const, reverse = constIsObject)
      val spark2 = scoped.sparkSession
      import spark2.implicits._
      val nodes =
        if (step.mod == '*' || step.mod == '?')
          reached.select(col("node")).union(Seq(const).toDF("node")).distinct()
        else reached.select(col("node"))
      if (constIsObject)
        nodes.select(col("node").as("as"), lit(const).as("ao"))
      else
        nodes.select(lit(const).as("as"), col("node").as("ao"))
    }

    def atomDF(a: Atom): Option[DataFrame] = {
      // VARIABLE predicate: the quads relation's own `p` column binds the
      // verb var — a 3-column projection instead of an edge relation.
      // First occurrence of each var selects its column; a repeat
      // (`?x ?p ?x`, `?s ?p ?p`) becomes an equality filter; constants
      // filter. Inherently a full scoped scan (the query names no
      // predicate to push down) — that is the semantics, not a plan gap.
      if (a.step.varName.isDefined)
        return Some(varPredRel(scoped.select(
          col("s").as("as"), col("p").as("ap"), col("o").as("ao")),
          a, a.step.varName.get, Nil))
      val rel =
        if (a.step.mod != ' ') (a.s, a.o) match {
          case (V(_), I(c)) => targetedClosure(a.step, c, constIsObject = true)
          case (V(_), L(c)) => targetedClosure(a.step, c, constIsObject = true)
          case (I(c), _) => targetedClosure(a.step, c, constIsObject = false)
          case (L(c), _) => targetedClosure(a.step, c, constIsObject = false)
          case _ => closureFor(a.step).toDF("as", "ao")
        }
        else edgesFor(a.step).select(col("src").as("as"), col("dst").as("ao"))
      val filtered = (a.s, a.o) match {
        case (V(x), V(y)) if x == y => rel.filter(col("as") === col("ao"))
        case _ =>
          var r = rel
          a.s match { case V(_) => (); case I(i) => r = r.filter(col("as") === i); case L(l) => r = r.filter(col("as") === l) }
          a.o match { case V(_) => (); case I(i) => r = r.filter(col("ao") === i); case L(l) => r = r.filter(col("ao") === l) }
          r
      }
      (a.s, a.o) match {
        case (V(x), V(y)) if x == y => Some(filtered.select(col("as").as(vc(x))).distinct())
        case (V(x), V(y)) => Some(filtered.select(col("as").as(vc(x)), col("ao").as(vc(y))).distinct())
        case (V(x), _) => Some(filtered.select(col("as").as(vc(x))).distinct())
        case (_, V(y)) => Some(filtered.select(col("ao").as(vc(y))).distinct())
        case _ =>
          // fully-ground pattern: existence test
          if (filtered.isEmpty) None else Some(spark.emptyDataFrame.withColumn("_one", lit(1)).limit(0))
      }
    }

    /** Per-atom relations of one pattern group (ground atoms become
      * existence tests); None = a ground atom failed, the group has no
      * solutions. Each entry carries the atom's constant count for the
      * greedy join's selectivity ordering. */
    def buildParts(as: List[Atom]): Option[Seq[(Int, DataFrame)]] = {
      val parts = new scala.collection.mutable.ArrayBuffer[(Int, DataFrame)]()
      var failed = false
      as.foreach { a =>
        if (!failed) {
          if (a.vars.isEmpty) { if (atomDF(a).isEmpty) failed = true }
          else parts += ((a.constCount, atomDF(a).get))
        }
      }
      if (failed) None else Some(parts.toSeq)
    }

    // Greedy selectivity-ordered join (shared by the required group, each
    // OPTIONAL group, and each UNION branch's internal join tree).
    def greedyJoin(parts: Seq[(Int, DataFrame)]): DataFrame = {
      val pending = parts.sortBy { case (c, _) => -c }
        .to(scala.collection.mutable.ListBuffer)
      var acc = pending.remove(0)._2
      var accCols = acc.columns.toSet
      while (pending.nonEmpty) {
        val idx = pending.indexWhere { case (_, d) => d.columns.exists(accCols.contains) }
        val pick = if (idx >= 0) {
          // among connectable atoms prefer max shared vars then max constants
          val candidates = pending.zipWithIndex.filter { case ((_, d), _) => d.columns.exists(accCols.contains) }
          candidates.maxBy { case ((c, d), _) => (d.columns.count(accCols.contains), c) }._2
        } else 0
        val (_, d) = pending.remove(pick)
        val shared = d.columns.filter(accCols.contains)
        acc = if (shared.nonEmpty) acc.join(d, shared.toSeq) else acc.crossJoin(d)
        accCols ++= d.columns
      }
      acc
    }

    // FILTER expression → Column (delegates to the hoisted pure
    // compiler so BIND's IF() can reuse it).
    def compileFilter(f: FExpr, resolve: String => Column): Column =
      compileFilterExpr(f, resolve)

    def resolveIn(d: DataFrame, cols: Set[String])(v: String): Column =
      if (cols.contains(vc(v))) d(vc(v))
      else throw new IllegalArgumentException(
        s"FILTER references variable ?$v bound by no pattern in scope")

    // ---- recursive group machinery (round 9: arbitrary-depth nesting) ----

    /** User-visible variables a group can bind, recursively (fresh _path/
      * _anon join vars excluded — they never leave their group). */
    def groupVarsOf(g: PatternGroup): List[String] = (
      g.patterns.flatMap(tp => Seq(tp.s, tp.o).collect { case V(n) => n } ++
        tp.path.flatMap(_.varName)) ++
        g.groups.flatMap(groupVarsOf) ++ g.optionals.flatMap(groupVarsOf) ++
        g.unions.flatMap(_.branches.flatMap(groupVarsOf)) ++
        g.values.flatMap(_.vars) ++ g.binds.map(_.alias) ++
        g.subqueries.flatMap(_.selected) ++
        g.graphs.flatMap { case (t, gg) =>
          (t match { case V(n) => List(n); case _ => Nil }) ++ groupVarsOf(gg)
        }
    ).distinct.filterNot(v => v.startsWith("_anon") || v.startsWith("_path"))

    // GRAPH groups (§13.3): re-scope pattern matching to one named graph.
    // GRAPH <iri> { … } evaluates the full recursive group against that
    // graph's triples only (the reference names one graph per building,
    // setup-graphs.py:13-19). GRAPH ?g { … } additionally BINDS ?g.
    // Variable form, two plans:
    //  - plain BGP + FILTER (the scale path): each atom keeps the quads
    //    `graph` column under vc(?g), so the greedy join's shared-column
    //    rule enforces same-graph matching in ONE plan whose size is
    //    independent of the graph count; path modifiers run one shared
    //    graph-encoded closure fixpoint.
    //  - nested structure inside the body (round 10): evaluated per named
    //    graph — the spec's own definition — and bag-unioned with
    //    lit(graphName) as vc(?g). The plan grows with |graphs|, which is
    //    the right trade for THIS construct: quads are building metadata
    //    (one graph per site, reference setup-graphs.py:13-19), not the
    //    100 TB timeseries; the planning-time graph listing is the same
    //    bounded driver action as Engine's uuid collect. A loud guard
    //    rejects pathological graph counts instead of silently planning a
    //    10⁵-branch union.
    // A `graphs` entry inside a NESTED group (round 10) evaluates through
    // the same builder and joins its enclosing group like any other part.
    def graphPart(term: Term, g: PatternGroup): (Int, DataFrame) = {
      val qg = quadsG.getOrElse(throw new IllegalArgumentException(
        "GRAPH requires evaluation over the 4-column quads relation — " +
          "call BgpPlanner.evaluate, not evaluateTriples"))
      term match {
        case I(iri) =>
          val gScoped = qg.filter(col("graph") === iri)
            .select("s", "p", "o").distinct()
          val vars = groupVarsOf(g)
          if (vars.isEmpty) {
            // all-ground group (round 10): a graph-scoped existence test
            // — "does site <g> hold exactly these triples". Evaluates as
            // an ASK against the scoped graph; the part is the zero-
            // column one-or-zero-row relation, which joins the enclosing
            // group as keep-all or annihilate (the same {mu0}/empty
            // algebra the ground-atom path uses).
            val ask = Query(Nil, distinct = false, patterns = g.patterns,
              userVars = Nil, filters = g.filters, optionals = g.optionals,
              unions = g.unions, groups = g.groups, values = g.values,
              minuses = g.minuses, binds = g.binds, exists = g.exists,
              subqueries = g.subqueries, graphs = g.graphs, askForm = true)
            val gScoped0 = qg.filter(col("graph") === iri)
              .select("s", "p", "o").distinct()
            val r = evaluateTriples(gScoped0, ask, quadsG, boundary = false)
            return (2, r.filter(col("ask") === "true").select())
          }
          val sub = Query(projection = vars, distinct = false,
            patterns = g.patterns, userVars = vars, filters = g.filters,
            optionals = g.optionals, unions = g.unions, groups = g.groups,
            values = g.values, minuses = g.minuses, binds = g.binds,
            exists = g.exists, subqueries = g.subqueries, graphs = g.graphs)
          val r = evaluateTriples(gScoped, sub, quadsG, boundary = false)
          (2, r.select(r.columns.map(c => col(c).as(vc(c))).toIndexedSeq: _*))
        case V(gv) if g.optionals.nonEmpty || g.unions.nonEmpty ||
            g.groups.nonEmpty || g.values.nonEmpty || g.minuses.nonEmpty ||
            g.binds.nonEmpty || g.exists.nonEmpty || g.subqueries.nonEmpty ||
            g.graphs.nonEmpty =>
          // structural form: one full recursive evaluation per named graph
          val allVars = groupVarsOf(g)
          val bindsG = allVars.contains(gv) // ?g also in a term position
          val inner = allVars.filterNot(_ == gv)
          // cap probe: collect AT MOST 513 names — a store with millions of
          // named graphs must trip the guard without materializing every
          // name on the driver first
          val probe = qg.select(col("graph")).distinct().limit(513).collect()
          if (probe.length > 512) throw new IllegalArgumentException(
            s"GRAPH ?$gv with nested structure plans one union branch per " +
              "named graph; more than 512 graphs exceeds the cap — " +
              "restructure to plain triple patterns + FILTER (single-plan " +
              "path) or scope with GRAPH <iri>")
          val names = probe.map(_.getString(0)).sorted
          if (inner.isEmpty && !bindsG) {
            // ground body (round 10): ?g binds each graph where the body
            // MATCHES — one ask per named graph, rows of the matching
            // graph names (metadata-scale loop, same bound as above)
            val hits = names.toSeq.map { name =>
              val gScoped0 = qg.filter(col("graph") === name)
                .select("s", "p", "o").distinct()
              val ask = Query(Nil, distinct = false, patterns = g.patterns,
                userVars = Nil, filters = g.filters, optionals = g.optionals,
                unions = g.unions, groups = g.groups, values = g.values,
                minuses = g.minuses, binds = g.binds, exists = g.exists,
                subqueries = g.subqueries, graphs = g.graphs, askForm = true)
              evaluateTriples(gScoped0, ask, quadsG, boundary = false)
                .filter(col("ask") === "true")
                .select(lit(name).as(vc(gv)))
            }
            return (1, hits.reduce(_ union _))
          }
          val pvars = if (bindsG) allVars else inner
          val branches = names.toSeq.map { name =>
            val gScoped = qg.filter(col("graph") === name)
              .select("s", "p", "o").distinct()
            val sub = Query(projection = pvars, distinct = false,
              patterns = g.patterns, userVars = pvars, filters = g.filters,
              optionals = g.optionals, unions = g.unions, groups = g.groups,
              values = g.values, minuses = g.minuses, binds = g.binds,
              exists = g.exists, subqueries = g.subqueries, graphs = g.graphs)
            val r0 = evaluateTriples(gScoped, sub, quadsG, boundary = false)
            // ?g in a term position must EQUAL this branch's graph name
            val r1 = if (bindsG) r0.filter(col(gv) === name) else r0
            r1.select(lit(name).as(vc(gv)) +:
              inner.map(v => col(v).as(vc(v))).toIndexedSeq: _*)
          }
          (1, branches.reduce(_ union _))
        case V(gv) =>
          val atoms2 = atomsOf(g.patterns)
          // Path modifiers per graph (round 9): encode the graph into the
          // node ids (graph  node) and run ONE shared closure
          // fixpoint over the union of all graphs' edges — endpoints of
          // any derived pair carry the same prefix by construction, so
          // per-graph scoping falls out of the encoding and no per-graph
          // loop exists. Decode splits the prefix back into vc(?g).
          // (Constant endpoints filter the decoded relation rather than
          // seeding a targeted BFS — the seed differs per graph.)
          val SEP = "\u0001"
          // Loud failure instead of silent corruption (round-9 advisory):
          // the decode below splits on the LAST separator, so a graph
          // name or node containing U+0001 would decode to a wrong
          // (graph, node) pair silently. U+0001 never appears in IRIs or
          // sane literals, so the guard costs a codegen'd contains() per
          // encoded value and fires never in practice.
          def enc2(g: Column, node: Column): Column =
            when(g.contains(SEP) || node.contains(SEP), raise_error(lit(
              "GRAPH ?var property paths encode (graph,node) with U+0001; " +
                "a graph name or term containing U+0001 cannot be encoded " +
                "faithfully"))).otherwise(concat(g, lit(SEP), node))
          // Per-graph single-step edges (graph, src, dst) — the quads-
          // relation counterpart of edgesFor, incl. the §9.1 negated-set
          // translation (same directional-part rule; predicates are
          // scoped per row's own graph, which is exactly GRAPH semantics)
          def qgStepEdges(step: Step): DataFrame =
            if (!step.negated)
              step.alts.map { case (p, inv) =>
                val base = qg.filter(col("p") === p)
                if (inv) base.select(col("graph"),
                  col("o").as("src"), col("s").as("dst"))
                else base.select(col("graph"),
                  col("s").as("src"), col("o").as("dst"))
              }.reduce(_ union _)
            else {
              val fwdExcl = step.alts.collect { case (p, false) => p }
              val invExcl = step.alts.collect { case (p, true) => p }
              ((if (fwdExcl.isEmpty) Nil
                else Seq(qg.filter(!col("p").isin(fwdExcl: _*))
                  .select(col("graph"), col("s").as("src"), col("o").as("dst")))) ++
               (if (invExcl.isEmpty) Nil
                else Seq(qg.filter(!col("p").isin(invExcl: _*))
                  .select(col("graph"), col("o").as("src"), col("s").as("dst"))))
              ).reduce(_ union _)
            }
          def pathRel(step: Step): DataFrame = {
            val enc = qgStepEdges(step).select(
              enc2(col("graph"), col("src")).as("src"),
              enc2(col("graph"), col("dst")).as("dst"))
            lazy val encTerms = qg.select(
                enc2(col("graph"), col("s")).as("t"))
              .union(qg.select(enc2(col("graph"), col("o")).as("t")))
              .distinct()
            val closed = step.mod match {
              case '+' => Closure.transitive(enc)
              case '*' => Closure.withIdentity(Closure.transitive(enc), encTerms)
              case _ => Closure.withIdentity(enc, encTerms) // '?'
            }
            closed.select(
              substring_index(col("src"), SEP, 1).as(vc(gv)),
              substring_index(col("src"), SEP, -1).as("as"),
              substring_index(col("dst"), SEP, -1).as("ao"))
          }
          val parts2 = atoms2.map { a =>
            // VARIABLE predicate under GRAPH ?g: the graph column is a
            // pre-seeded binding (?g may even BE the verb var — then the
            // predicate must equal the row's own graph name); same
            // seen-map compilation as the unscoped atom path
            if (a.step.varName.isDefined) {
              (1, varPredRel(qg.select(col("graph").as(vc(gv)),
                col("s").as("as"), col("p").as("ap"), col("o").as("ao")),
                a, a.step.varName.get, Seq(gv -> vc(gv))))
            } else {
            var rel =
              if (a.step.mod != ' ') pathRel(a.step)
              else qgStepEdges(a.step).select(col("graph").as(vc(gv)),
                col("src").as("as"), col("dst").as("ao"))
            a.s match { case V(_) => (); case I(i) => rel = rel.filter(col("as") === i); case L(l) => rel = rel.filter(col("as") === l) }
            a.o match { case V(_) => (); case I(i) => rel = rel.filter(col("ao") === i); case L(l) => rel = rel.filter(col("ao") === l) }
            // ?g itself may appear in a term position (legal SPARQL): the
            // term then has to EQUAL the graph name — filter, don't emit
            // a second column under the same vc name
            val out = (a.s, a.o) match {
              case (V(x), V(y)) if x == y && x == gv =>
                rel.filter(col("as") === col("ao") &&
                  col("as") === col(vc(gv))).select(col(vc(gv)))
              case (V(x), V(y)) if x == y =>
                rel.filter(col("as") === col("ao"))
                  .select(col(vc(gv)), col("as").as(vc(x)))
              case (V(x), V(y)) if x == gv =>
                rel.filter(col("as") === col(vc(gv)))
                  .select(col(vc(gv)), col("ao").as(vc(y)))
              case (V(x), V(y)) if y == gv =>
                rel.filter(col("ao") === col(vc(gv)))
                  .select(col(vc(gv)), col("as").as(vc(x)))
              case (V(x), V(y)) =>
                rel.select(col(vc(gv)), col("as").as(vc(x)), col("ao").as(vc(y)))
              case (V(x), _) if x == gv =>
                rel.filter(col("as") === col(vc(gv))).select(col(vc(gv)))
              case (_, V(y)) if y == gv =>
                rel.filter(col("ao") === col(vc(gv))).select(col(vc(gv)))
              case (V(x), _) => rel.select(col(vc(gv)), col("as").as(vc(x)))
              case (_, V(y)) => rel.select(col(vc(gv)), col("ao").as(vc(y)))
              case _ => rel.select(col(vc(gv))) // ground: binds only ?g
            }
            (a.constCount, out.distinct())
            }
          }
          var rel = greedyJoin(parts2)
          g.filters.foreach { f =>
            rel = rel.filter(compileFilter(f, resolveIn(rel, rel.columns.toSet)))
          }
          (1, rel)
        case L(_) => throw new IllegalArgumentException(
          "GRAPH needs an IRI or ?variable")
      }
    }

    // VALUES blocks → tiny local relations (one column per variable).
    // Catalyst broadcasts them (LocalRelation sizes are known), so a
    // VALUES-restricted query becomes a broadcast semi-join into the
    // pattern scan — the parameterized-id-list plan a user wants at scale.
    // High constCount sorts them first in the greedy join: start from the
    // most selective relation and extend through shared variables.
    def valuesPart(vb: ValuesBlock): (Int, DataFrame) = {
      val schema = org.apache.spark.sql.types.StructType(vb.vars.map(v =>
        org.apache.spark.sql.types.StructField(vc(v),
          org.apache.spark.sql.types.StringType)))
      val rows = vb.rows.map(r =>
        org.apache.spark.sql.Row.fromSeq(r)).asJava
      (3, spark.createDataFrame(rows, schema))
    }

    // VALUES with UNDEF cells (§10.2.2): an UNDEF cell is compatible with
    // ANY binding of that variable, which an equi-join cannot express —
    // so these blocks join via an explicit per-column null-or-equal
    // condition instead of entering the greedy equi-join. The block is a
    // broadcast LocalRelation, so the non-equi join is a broadcast
    // nested-loop over a handful of rows — constant work per solution.
    // Merged bindings: the solution's value wins where bound (it either
    // matched the cell or the cell was UNDEF); variables the solution
    // does not bind take the row's cell (null = stays unbound).
    // Divergence note (same family as the OPTIONAL-var rule): a solution
    // var that is NULL (unbound via an earlier OPTIONAL miss) never
    // matches a DEFINED cell here, where SPARQL would adopt the cell's
    // value — keep UNDEF-VALUES vars out of optional-bound columns.
    def applyValuesUndef(acc0: DataFrame, vb: ValuesBlock): DataFrame = {
      val rel0 = valuesPart(vb)._2
      val rel = rel0.toDF(rel0.columns.map("u_" + _).toIndexedSeq: _*)
      val accCols = acc0.columns.toSet
      val shared = vb.vars.filter(v => accCols.contains(vc(v)))
      val cond = shared.map { v =>
        rel("u_" + vc(v)).isNull || acc0(vc(v)) === rel("u_" + vc(v))
      }.reduceOption(_ && _).getOrElse(lit(true))
      val joined = acc0.join(rel, cond, "inner")
      joined.select(
        acc0.columns.map(joined(_)) ++
          vb.vars.filterNot(v => accCols.contains(vc(v)))
            .map(v => joined("u_" + vc(v)).as(vc(v))): _*)
    }

    // MINUS: SPARQL Minus(P1, P2) — drop a solution when some P2 solution
    // is compatible with it AND their domains overlap; disjoint domains
    // keep the row (the spec's dom-disjoint rule), which is exactly a
    // LEFT ANTI join on the shared variables — and a no-op when there are
    // none. Divergence note (same family as the OPTIONAL-var rule): a
    // left row NULL (unbound) in ONE of several shared columns never
    // anti-matches in SQL, where SPARQL would test compatibility over the
    // remaining overlap — avoid mixing OPTIONAL vars into multi-var MINUS
    // groups.
    def applyMinus(acc0: DataFrame, g: PatternGroup): DataFrame = {
      // the body is a full recursive group (late round 9): UNION-in-MINUS
      // etc. evaluate through evalGroup; filters apply inside the group
      evalGroup(g) match {
        case Some(Some(m)) =>
          val shared = m.columns.filter(acc0.columns.toSet)
          if (shared.nonEmpty)
            acc0.join(m.select(shared.map(col): _*).distinct(),
              shared.toSeq, "left_anti")
          else acc0
        // no solutions → removes nothing; {μ0} → dom-disjoint with every
        // solution (the spec's rule) → also removes nothing
        case _ => acc0
      }
    }

    // BIND: a withColumn over the joined solution — a pure codegen'd
    // projection, no shuffle. Scope simplification vs the spec: BIND is
    // group-final (applied after the group's OPTIONAL/MINUS, before its
    // FILTERs, which therefore CAN test BIND aliases) rather than
    // splitting the group at its syntactic position; identical for every
    // query whose BIND references only vars its group has bound by then.
    // Rebinding an in-scope variable is an error per the spec.
    def applyBind(acc0: DataFrame, b: Bind): DataFrame = {
      val cols = acc0.columns.toSet
      val resolve0: String => Column = resolveIn(acc0, cols)(_)
      // §18.2.2.6 scope: a group-parsed BIND sees only the variables
      // bound BEFORE it in the group. A forward reference to a var a
      // later pattern binds evaluates to unbound (error → NULL), not to
      // the later binding — the parser recorded the visible set.
      val resolve: String => Column = b.priorVars match {
        case Some(seen) =>
          v => if (seen.contains(v)) resolve0(v) else lit(null).cast("string")
        case None => resolve0
      }
      val c = compileBindTerm(b.expr, resolve)
      if (cols.contains(vc(b.alias))) b.priorVars match {
        case Some(_) =>
          // The alias is bound by a LATER triple pattern: BIND ends the
          // preceding BGP, so Join(Extend(A, v←f), B(v)) applies — on the
          // already-joined relation that is an equality on the alias,
          // with the SPARQL compatibility rule for an erroring expression
          // (unbound extend value is compatible with ANY μB(v), so a NULL
          // expression keeps the row rather than dropping it).
          acc0.filter(c.isNull || acc0(vc(b.alias)) === c)
        case None => throw new IllegalArgumentException(
          s"BIND would rebind ?${b.alias} — already in scope")
      }
      else acc0.withColumn(vc(b.alias), c)
    }

    // EXISTS / NOT EXISTS: SPARQL §8.1 pattern-based negation. Correlated
    // (≥1 shared variable) → LEFT SEMI / LEFT ANTI join on the shared
    // variables — the candidate group's relation is graph-sized, so
    // Catalyst broadcasts it and no solution row ever duplicates
    // (semi-join, not inner). Uncorrelated → the group's (non)emptiness
    // decides globally: a 1-row LIMIT probe joined on a constant key, so
    // the plan stays declarative (no driver-side isEmpty action).
    def applyExists(acc0: DataFrame, g: PatternGroup,
        positive: Boolean): DataFrame = {
      // the body is a full recursive group (late round 9); its filters
      // apply inside the group via evalGroup
      evalGroup(g) match {
        case Some(Some(m)) =>
          val shared = m.columns.filter(acc0.columns.toSet)
          if (shared.nonEmpty)
            acc0.join(m.select(shared.map(col).toIndexedSeq: _*),
              shared.toSeq, if (positive) "left_semi" else "left_anti")
          else {
            val probe = m.limit(1).select(lit(1).as("_k"))
            acc0.withColumn("_k", lit(1))
              .join(probe, Seq("_k"), if (positive) "left_semi" else "left_anti")
              .drop("_k")
          }
        case Some(None) =>
          // the group's one solution is the empty mapping, compatible
          // with every row — EXISTS keeps everything, NOT EXISTS nothing
          if (!positive) acc0.limit(0) else acc0
        case None =>
          // the group is unsatisfiable: EXISTS keeps nothing, NOT EXISTS
          // removes nothing
          if (positive) acc0.limit(0) else acc0
      }
    }

    /** Evaluate one PatternGroup recursively — patterns ∪ nested plain
      * groups ∪ nested unions ∪ VALUES join first, then optionals,
      * minuses, binds, exists, and the group's own filters, mirroring the
      * top-level order (§18.2.2.2 group scope). Returns None = the group
      * has ZERO solutions; Some(None) = exactly one solution, the empty
      * mapping (all-ground group that matched); Some(Some(df)) = the
      * binding relation (vc-named columns). */
    def evalGroup(g: PatternGroup): Option[Option[DataFrame]] = {
      val partsOpt = buildParts(atomsOf(g.patterns))
      if (partsOpt.isEmpty) return None // a ground atom failed
      val (plainVals, undefVals) = g.values.partition(!_.hasUndef)
      var parts: Seq[(Int, DataFrame)] = partsOpt.get ++ plainVals.map(valuesPart)
      g.groups.foreach { sub =>
        evalGroup(sub) match {
          case None => return None // join with the empty set
          case Some(None) => () // join with {μ0} = identity
          case Some(Some(d)) => parts = parts :+ ((0, d))
        }
      }
      g.unions.foreach { ug =>
        unionRel(ug) match {
          case None => return None
          case Some(None) => () // union of {μ0} branches: join identity
          case Some(Some(d)) => parts = parts :+ ((0, d))
        }
      }
      // group-scoped subqueries (§18.2.1): each evaluates as a complete
      // query against the same scoped triples and joins the group on its
      // projected variables — identical to the top-level treatment
      g.subqueries.foreach { sub =>
        val r = evaluateTriples(scoped, sub, quadsG, boundary = false)
        parts = parts :+
          ((1, r.select(r.columns.map(c => col(c).as(vc(c))).toIndexedSeq: _*)))
      }
      // group-scoped GRAPH (round 10): `OPTIONAL { GRAPH ?g { … } }` etc.
      // — the graph relation joins its enclosing group like any part
      g.graphs.foreach { case (t, gg) => parts = parts :+ graphPart(t, gg) }
      // No binding parts AND no sub-constructs: exactly {μ0}. With
      // sub-constructs present (an all-ground group with BIND, a group of
      // nothing but OPTIONALs, …) the pipeline below must still run —
      // over the one-row zero-column relation that IS the empty mapping.
      if (parts.isEmpty && undefVals.isEmpty && g.optionals.isEmpty &&
          g.minuses.isEmpty && g.binds.isEmpty && g.exists.isEmpty &&
          g.filters.isEmpty) return Some(None)
      var acc =
        if (parts.nonEmpty) greedyJoin(parts)
        else if (undefVals.nonEmpty) valuesPart(undefVals.head)._2
        else spark.range(1).select() // {μ0}
      (if (parts.nonEmpty || undefVals.isEmpty) undefVals else undefVals.tail)
        .foreach { vb => acc = applyValuesUndef(acc, vb) }
      g.optionals.foreach { og => acc = applyOptional(acc, og) }
      g.minuses.foreach { mg => acc = applyMinus(acc, mg) }
      g.binds.foreach { bd => acc = applyBind(acc, bd) }
      g.exists.foreach { case (eg, pos) => acc = applyExists(acc, eg, pos) }
      g.filters.foreach { f =>
        acc = acc.filter(compileFilter(f, resolveIn(acc, acc.columns.toSet)))
      }
      // still zero columns (e.g. ground group + EXISTS): the pipeline
      // decided between "no solutions" and "{μ0}" — report which (the
      // emptiness probe is a planning-time action on a ≤1-row relation)
      if (acc.columns.isEmpty)
        return if (acc.isEmpty) None else Some(None)
      Some(Some(acc))
    }

    // UNION groups → one relation each: every branch group evaluates
    // independently and recursively (branch FILTERs and nested
    // OPTIONAL/UNION scope to the branch — a UNION branch is its own
    // group in SPARQL), unshared variables are null-padded, and branch
    // solutions CONCATENATE (bag union, no dedup — faithful to rdflib).
    // Returns None = NO branch has any solution (the union empties its
    // group); Some(None) = every surviving branch yielded exactly {μ0}
    // (all-ground, matched — the union is a join identity); Some(Some) =
    // the padded relation, where each {μ0} branch contributes one
    // all-unbound row (its solution binds no variable). Divergence note
    // (same rule as OPTIONAL-var reuse below): a variable a branch
    // leaves unbound joins outer patterns through SQL NULL equality
    // (never matches) where SPARQL's compatible-mapping semantics would
    // accept any binding — share variables between the union and outer
    // patterns only when every branch binds them.
    def unionRel(ug: UnionGroup): Option[Option[DataFrame]] = {
      val evaled = ug.branches.map(evalGroup)
      val branchDfs = evaled.collect { case Some(Some(d)) => d }
      val mu0Count = evaled.count(_ == Some(None))
      if (branchDfs.isEmpty && mu0Count == 0) None
      // Documented collapse (round-9 advisory): an ALL-ground UNION where
      // k ≥ 2 branches matched contributes multiplicity k in SPARQL's bag
      // semantics but collapses to the join identity (one copy) here — a
      // zero-column k-row relation has no faithful part form. The mixed
      // case below IS multiplicity-correct (one all-null row per matched
      // ground branch).
      else if (branchDfs.isEmpty) Some(None)
      else {
        // pad with vars bound ONLY in failed (None) branches: a variable
        // the union can bind must exist in the output schema even when
        // its only branch matched nothing, so downstream SELECT/FILTER
        // sees unbound (null) instead of an AnalysisException
        val failedVars = ug.branches.zip(evaled)
          .collect { case (b, None) => groupVarsOf(b) }
          .flatten.distinct.map(vc)
        val allCols =
          (branchDfs.flatMap(_.columns) ++ failedVars).distinct
        val padded = branchDfs.map { d =>
          val have = d.columns.toSet
          d.select(allCols.map(c =>
            if (have(c)) col(c) else lit(null).cast("string").as(c)): _*)
        }
        val mu0Rows = Seq.fill(mu0Count)(spark.range(1)
          .select(allCols.map(c => lit(null).cast("string").as(c)): _*))
        Some(Some((padded ++ mu0Rows).reduce(_ union _)))
      }
    }

    // OPTIONAL: SPARQL algebra LeftJoin(P1, P2, F) — a LEFT OUTER join on
    // the shared variables whose join condition carries the group's own
    // top-level FILTERs (so an inner FILTER conditions the match, it does
    // not drop the left row; filters of groups nested DEEPER inside apply
    // within their own group first, via evalGroup). Each group's relation
    // is graph-sized → Catalyst broadcasts it; rows with no match keep
    // NULL (= unbound) optional columns. Divergence note: a variable
    // bound ONLY by an earlier OPTIONAL joins later groups through SQL
    // NULL equality (never matches) where SPARQL's compatible-mapping
    // semantics would re-bind — reuse a variable across two OPTIONAL
    // groups only when the first group always binds it.
    def applyOptional(acc0: DataFrame, g: PatternGroup): DataFrame = {
      var acc = acc0
      val accCols = acc.columns.toSet
      evalGroup(g.copy(filters = Nil)) match {
        case None | Some(None) =>
          // zero solutions (or none that bind anything): left rows survive
          // with the group's would-be fresh vars unbound
          val newVars = groupVarsOf(g).filterNot(v => accCols.contains(vc(v)))
          newVars.foreach { v =>
            acc = acc.withColumn(vc(v), lit(null).cast("string"))
          }
          acc
        case Some(Some(opt0)) =>
          // prefix EVERY optional column — unambiguous join condition, and
          // shared columns keep the LEFT side's value in the output
          val opt = opt0.toDF(opt0.columns.map("o_" + _).toIndexedSeq: _*)
          val optCols = opt0.columns.toSet
          val shared = opt0.columns.filter(accCols.contains)
          val newVars = groupVarsOf(g)
            .filter(v => optCols.contains(vc(v)))
            .filterNot(v => accCols.contains(vc(v)))
          val resolve: String => Column = v =>
            if (optCols.contains(vc(v))) opt("o_" + vc(v))
            else resolveIn(acc, accCols)(v)
          val cond = (shared.map(c => acc(c) === opt("o_" + c)) ++
            g.filters.map(f => compileFilter(f, resolve)))
            .reduceOption(_ && _).getOrElse(lit(true))
          val joined = acc.join(opt, cond, "left")
          joined.select(
            acc.columns.map(joined(_)) ++
              newVars.map(v => joined("o_" + vc(v)).as(vc(v))): _*)
      }
    }

    var unionFailed = false
    val unionRels: Seq[DataFrame] = q.unions.flatMap { ug =>
      unionRel(ug) match {
        case Some(Some(d)) => Some(d)
        case Some(None) => None // all-{μ0} union: join identity
        case None => unionFailed = true; None
      }
    }

    // Plain nested `{ … }` groups at the top level: inner joins (§18.2.2.2
    // — Join(A, B) over the group sequence; their filters scoped inside).
    var groupFailed = false
    val topGroupParts: Seq[(Int, DataFrame)] = q.groups.flatMap { g =>
      evalGroup(g) match {
        case None => groupFailed = true; None
        case Some(None) => None // {μ0}: joins as identity
        case Some(Some(d)) => Some((0, d))
      }
    }

    val graphParts: Seq[(Int, DataFrame)] =
      q.graphs.map { case (term, g) => graphPart(term, g) }

    val (plainVals, undefVals) = q.values.partition(!_.hasUndef)
    val valuesParts: Seq[(Int, DataFrame)] = plainVals.map(valuesPart)

    // Subqueries → one relation each: evaluated recursively (a subquery
    // is a complete query — aggregates, modifiers, deeper subqueries),
    // then renamed into the vc namespace so its PROJECTED variables (the
    // only ones visible outside, §18.2.1) join the outer group. An
    // aggregated subquery is group-key-sized → Catalyst broadcasts it.
    val subParts: Seq[(Int, DataFrame)] = q.subqueries.map { sub =>
      val r = evaluateTriples(scoped, sub, quadsG, boundary = false)
      (1, r.select(r.columns.map(c => col(c).as(vc(c))).toIndexedSeq: _*))
    }

    // Assemble the required group: triple-pattern relations + one
    // relation per UNION group + VALUES blocks + subqueries, greedily
    // joined. The empty path fires ONLY on actual failure (a ground atom
    // with no match, an all-branches-failed union, a failed nested
    // group): a WHERE whose constructs are simply ABSENT — the empty
    // group pattern {}, or an all-ground group that MATCHED — is the
    // one-empty-solution relation {μ0} per §18.2.2.2 (round 14: this
    // made `SELECT (COUNT(*) AS ?c) WHERE {}` count 0, and a matched
    // ground SELECT group produce no row; the W3C agg-empty-group
    // region needs exactly the {μ0} reading). ASK over a matched ground
    // group now falls out of the same {μ0} start + finish's count.
    val reqParts = buildParts(atoms)
    val selected = q.selected
    val baseParts: Seq[(Int, DataFrame)] =
      reqParts.getOrElse(Nil) ++ unionRels.map(r => (0, r)) ++ valuesParts ++
        subParts ++ topGroupParts ++ graphParts
    if (reqParts.isEmpty || unionFailed || groupFailed) {
      if (q.aggregates.isEmpty && q.groupBy.isEmpty)
        return finish(spark.range(0)
          .select(selected.map(v => lit(null).cast("string").as(vc(v))): _*),
          q, boundary)
      // aggregates over the empty solution set: a GLOBAL aggregate still
      // yields its one row (COUNT = 0), a grouped one yields none — both
      // fall out of running the normal aggregation over an empty relation
      val needed = (q.groupBy ++ q.aggregates.flatMap(_.v)).distinct
      return finish(spark.range(0)
        .select(needed.map(v => lit(null).cast("string").as(vc(v))): _*),
        q, boundary)
    }
    // Like evalGroup: a query whose WHERE has no binding parts but does
    // have OPTIONAL/BIND (e.g. `WHERE { BIND("v" AS ?x) }`) starts from
    // the one-row zero-column {μ0} relation and lets the pipeline extend
    // it — not from the empty relation.
    var acc =
      if (baseParts.nonEmpty) greedyJoin(baseParts)
      else if (undefVals.nonEmpty) valuesPart(undefVals.head)._2
      else spark.range(1).select() // {μ0}
    (if (baseParts.nonEmpty || undefVals.isEmpty) undefVals
     else undefVals.tail)
      .foreach { vb => acc = applyValuesUndef(acc, vb) }

    // OPTIONAL groups (recursive since round 9 — see applyOptional above).
    q.optionals.foreach { g => acc = applyOptional(acc, g) }

    // MINUS / BIND / EXISTS — shared appliers (see defs above); BIND runs
    // in writing order (later BINDs may reference earlier aliases), EXISTS
    // after BIND (aliases can correlate), both before the plain FILTERs.
    q.minuses.foreach { g => acc = applyMinus(acc, g) }
    q.binds.foreach { b => acc = applyBind(acc, b) }
    q.exists.foreach { case (g, positive) => acc = applyExists(acc, g, positive) }

    // Group-level FILTERs: applied after OPTIONAL extension (SPARQL group
    // scope), so BOUND/!BOUND over optional vars behaves correctly.
    q.filters.foreach { f =>
      acc = acc.filter(compileFilter(f, resolveIn(acc, acc.columns.toSet)))
    }

    // {μ0}-start queries (empty/all-ground WHERE): a projected or
    // aggregated variable that nothing bound is UNBOUND, not an error —
    // `SELECT ?x WHERE {}` is one row with ?x null, COUNT(?x) is 0
    // (§18.2.4.4). Scoped to baseParts-empty so normal queries keep the
    // loud unknown-variable projection error.
    if (baseParts.isEmpty) {
      val aliasish = (q.aggregates.map(_.alias) ++
        q.postSelectExprs.map(_.alias)).toSet
      val needed = (q.selected ++ q.groupBy ++ q.aggregates.flatMap(_.v) ++
        q.orderBy.map(_._1)).distinct.filterNot(aliasish)
      val have = acc.columns.toSet
      needed.filterNot(v => have(vc(v))).foreach { v =>
        acc = acc.withColumn(vc(v), lit(null).cast("string"))
      }
    }

    finish(acc, q, boundary)
  }

  /** BIND expression → string Column over the lexical quads encoding.
    * NULL propagates through every form (SPARQL: an error in a BIND
    * expression leaves the alias unbound — exactly SQL NULL semantics).
    * Arithmetic is integer-typed: operands try_cast to long (a non-integer
    * lexical → NULL → unbound), result rendered back to its lexical form,
    * so engine and oracle agree digit-for-digit; magnitudes past 2^63
    * wrap — out of scope for the integer fixtures this subset targets. */
  /** FILTER expression → Column, pure over (expr, resolver). SPARQL's
    * three-valued error semantics map exactly onto SQL NULL logic: a type
    * error (non-numeric string under a numeric comparison casts to NULL)
    * makes the comparison NULL, `error && false` is false, `error || true`
    * is true, and a NULL predicate drops the row — all of which is what
    * Catalyst already does. Shared by FILTER/OPTIONAL-join conditions and
    * BIND's IF() condition. */
  private def compileFilterExpr(f: Sparql.FExpr, resolve: String => Column): Column = {
    // try_cast, not cast: under ANSI mode a plain cast THROWS on a
    // non-numeric binding, where SPARQL wants a type error = row dropped
    // (try_cast's NULL gives exactly that)
    // Numeric dispatch reads the VALUE: the lexical form is extracted
    // first (RdfTerms.lex is identity on bare bindings), so an annotated
    // numeric like `"5.0"^^xsd:float` still compares numerically.
    def opCol(o: FOperand, numeric: Boolean): Column = o match {
      case FVar(v) =>
        if (numeric) graft.RdfTerms.lex(resolve(v)).try_cast("double")
        else resolve(v)
      case FNum(l) => lit(l.toDouble)
      case FStr(s) =>
        if (numeric) graft.RdfTerms.lex(lit(s)).try_cast("double") else lit(s)
      case FIriRef(i) => lit(i)
      case FBindOp(e) =>
        // non-numeric comparisons are TERM-level (round 13: a string
        // builtin's result wraps once so it matches stored/constant
        // string-literal terms); numeric coercion stays on the lexical
        if (!numeric) compileBindTerm(e, resolve)
        else {
          val c = compileBind(e, resolve)
          // builtin outputs are bare lexicals — skip the strip; a
          // compiled term-producing tree (IF/COALESCE/constructors)
          // binds once so lex's branches don't copy it (see bindOnce)
          if (bareLexical(e)) c.try_cast("double")
          else bindOnce(c)(graft.RdfTerms.lex).try_cast("double")
        }
    }
    f match {
      case FCmp(l, op, r) =>
      // Numeric dispatch, two tiers. (1) Syntactic: a numeric literal on
      // either side forces a numeric comparison (SPARQL operator dispatch
      // on xsd numerics) — the cheap, statically-typed path. (2) Per-row
      // (round 14, §17.3 + the XPath promotion lattice of the W3C
      // data-r2/type-promotion region): with no literal forcing it, read
      // the operand DATATYPES at evaluation — when BOTH sides are numeric
      // literals of ANY xsd numeric subtype ("5"^^xsd:byte, xsd:long,
      // shorthand-encoded bare terms…) they compare by VALUE, promoted
      // through double; every other pairing keeps the prior semantics —
      // `=`/`!=` compare TERMS (tagged/typed stay distinct), ordering ops
      // compare the LEXICAL forms (§17.3's string `<`).
      val numeric = l.isInstanceOf[FNum] || r.isInstanceOf[FNum]
      val ordering = op != "=" && op != "!="
      def cmpOp(lc: Column, rc: Column): Column = op match {
        case "<" => lc < rc
        case "<=" => lc <= rc
        case ">" => lc > rc
        case ">=" => lc >= rc
        case "=" => lc === rc
        case "!=" => lc =!= rc
        case other => throw new IllegalArgumentException(s"bad op $other")
      }
      if (numeric) cmpOp(opCol(l, numeric = true), opCol(r, numeric = true))
      else {
        // each side is referenced by the datatype test, the value cast,
        // and the fallback comparison — compiled builtin trees bind once
        // so the Catalyst tree stays additive (see bindOnce)
        def once(o: FOperand, c: Column)(f: Column => Column): Column =
          o match {
            case FBindOp(_) => bindOnce(c)(f)
            case _ => f(c)
          }
        once(l, opCol(l, numeric = false)) { lt =>
          once(r, opCol(r, numeric = false)) { rt =>
            // round 15: integer/integer pairs compare EXACTLY through
            // decimal(38,0) — §17.3 integer comparison is exact, and the
            // double promotion rounds past 2^53 (distinct values compare
            // equal, orderings invert). The double path now only covers
            // pairs with a genuine float/double/decimal operand (its
            // 2^53 bound is the floating lattice's own) and >38-digit
            // integers (try_cast null → graceful double fallback).
            val bothInt = graft.RdfTerms.isIntegerTerm(lt) &&
              graft.RdfTerms.isIntegerTerm(rt)
            val bothNum = graft.RdfTerms.isNumericTerm(lt) &&
              graft.RdfTerms.isNumericTerm(rt)
            val intCmp = cmpOp(
              graft.RdfTerms.lex(lt).try_cast("decimal(38,0)"),
              graft.RdfTerms.lex(rt).try_cast("decimal(38,0)"))
            val valueCmp = cmpOp(
              graft.RdfTerms.lex(lt).try_cast("double"),
              graft.RdfTerms.lex(rt).try_cast("double"))
            val termCmp =
              if (ordering)
                cmpOp(graft.RdfTerms.lex(lt), graft.RdfTerms.lex(rt))
              else cmpOp(lt, rt)
            when(bothInt, intCmp)
              .when(bothNum, valueCmp).otherwise(termCmp)
          }
        }
      }
      // String tests run on the LEXICAL FORM (§17.4.3 defers to XPath
      // fn:* over the value) — a tagged/typed binding is stripped first.
      case FRegex(v, p, fl) =>
      graft.RdfTerms.lex(resolve(v)).rlike(if (fl.isEmpty) p else s"(?$fl)$p")
      case FContains(v, s) => graft.RdfTerms.lex(resolve(v)).contains(s)
      case FStrStarts(v, s) => graft.RdfTerms.lex(resolve(v)).startsWith(s)
      case FStrEnds(v, s) => graft.RdfTerms.lex(resolve(v)).endsWith(s)
      case FLangMatches(a, r) =>
        graft.RdfTerms.langMatches(compileBind(a, resolve),
          graft.RdfTerms.lex(compileBind(r, resolve)))
      case FBound(v) => resolve(v).isNotNull
      case FIn(o, vals, neg) =>
      // compiled as the spec's own sugar (an `=`-disjunction), which
      // inherits FCmp's NULL/type-error semantics exactly: an unbound
      // or non-castable operand makes every disjunct NULL → row
      // dropped, for IN and NOT IN alike (both are errors in SPARQL)
      val numeric = o.isInstanceOf[FNum] || vals.exists(_.isInstanceOf[FNum])
      val c = opCol(o, numeric)
      val in = vals.map(v => c === opCol(v, numeric)).reduce(_ || _)
      if (neg) !in else in
      case FAnd(a, b) => compileFilterExpr(a, resolve) && compileFilterExpr(b, resolve)
      case FOr(a, b) => compileFilterExpr(a, resolve) || compileFilterExpr(b, resolve)
      case FNot(a) => !compileFilterExpr(a, resolve)
      case FSameTerm(l, r) =>
        // term identity: forced LEXICAL equality — sameTerm(?v, 1) with
        // ?v = "01" is false even though `= 1` numeric-dispatches true.
        // A numeric literal operand therefore stays its LEXICAL form
        // (opCol would render it lit(1.0) and re-introduce coercion).
        def lex(o: FOperand): Column = o match {
          case FNum(lexical) => lit(lexical)
          case other => opCol(other, numeric = false)
        }
        lex(l) === lex(r)
      case FIsBlank(v) => resolve(v).startsWith("_:")
      case FIsIri(v) => graft.RdfTerms.isIri(resolve(v))
      case FIsLiteral(v) => graft.RdfTerms.isLiteral(resolve(v))
      case FIsNumeric(v) =>
        // §17.4.4: true iff the term is a literal of a NUMERIC datatype
        // with a valid lexical form — so the datatype dispatch (shape or
        // ^^-annotation, via datatypeOf) must be numeric AND the STRIPPED
        // lexical must cast, matching FCmp's lex-strip coercion. A
        // lang-tagged "5"@en (rdf:langString) is NOT numeric even though
        // its lexical casts; an annotated "5.0"^^xsd:float IS. (Shared
        // with FCmp's round-14 per-row promotion dispatch.)
        graft.RdfTerms.isNumericTerm(resolve(v))
    }
    }

  /** Evaluate `c` once and feed the value to a body that references it
    * several times. Inlining copies the child's whole expression tree per
    * reference, so nested builtins grow MULTIPLICATIVELY — each `lex`
    * wrap is 5 copies, a dateTime accessor body ~8 — and a depth-5
    * expression reaches millions of Catalyst nodes (analyzer/codegen
    * heap death, the round-12 fuzz-suite OOM). `transform`'s lambda
    * binds the value to a LambdaVariable leaf instead: tree size becomes
    * ADDITIVE in expression depth. The one-element array wrap is a
    * per-row constant; reserved for compiled NON-LEAF children — leaf
    * (variable/literal) inputs keep the inline form, so every flat
    * query's plan is unchanged. */
  private def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** True when `e` compiles to a column that is ALWAYS a simple (bare)
    * lexical, so re-stripping with RdfTerms.lex is the identity and the
    * wrap can be skipped: every string/numeric/hash/dateTime builtin
    * constructs its result FROM lexical forms (§17.4 — results are
    * simple literals). Annotated TERMS can still flow through variables,
    * COALESCE/IF (which pass inputs through), and the STRLANG/STRDT
    * constructors — those keep the lex boundary. A literal constant is
    * bare unless its text is itself an encoded term. */
  private def bareLexical(e: Sparql.BExpr): Boolean = {
    import Sparql._
    e match {
      case BLit(s) => !s.startsWith("\"")
      // TIMEZONE is the one dateTime accessor that CONSTRUCTS an
      // annotated term (xsd:dayTimeDuration) rather than a lexical
      case BDtFn(fn, _) => fn != "TIMEZONE"
      case BConcat(_) | BEncodeUri(_) | BSubstr(_, _, _) | BReplace(_, _, _)
          | BStrCut(_, _, _) | BArith(_, _, _) | BNumFn(_, _) | BHashFn(_, _)
          | BStrFn(_, _) => true
      case _ => false // BVar, BCoalesce, BIf, BStrLang, BStrDt
    }
  }

  /** TERM encoding of a compiled BIND expression (round 13): builtins
    * compose internally over LEXICALS (compileBind — the additive-tree
    * property the round-12 OOM fix established), and the re-encode
    * happens ONCE where a value becomes a term: simple-literal-producing
    * builtins (§17.4: string functions return simple literals) wrap in
    * quotes; numeric/boolean producers keep the bare shorthand (which IS
    * their term encoding); DATATYPE yields an IRI (bare); everything
    * else (vars, constants, the pass-through and constructor forms)
    * already carries terms. The quote wrap references the child once —
    * no multiplicative tree growth. */
  private def termEncode(e: Sparql.BExpr, c: Column): Column = {
    import Sparql._
    e match {
      case BConcat(_) | BEncodeUri(_) | BSubstr(_, _, _) | BReplace(_, _, _)
          | BStrCut(_, _, _) | BHashFn(_, _)
          | BStrFn("STR", _) | BStrFn("UCASE", _) | BStrFn("LCASE", _)
          | BStrFn("LANG", _) | BDtFn("TZ", _) =>
        // shape-normalized like every other simple-literal entry point
        // (loader, parser): STRAFTER(…) yielding "3" IS the term 3 —
        // single-scan native expression, one child reference
        graft.functions.RdfLex.encodeSimple(c)
      case _ => c
    }
  }

  /** compileBind + [[termEncode]] — the form every TERM position
    * (BIND/SELECT-expression binding, non-numeric FILTER operand,
    * COALESCE/IF branch, LANG/DATATYPE/constructor argument) consumes. */
  private def compileBindTerm(e: Sparql.BExpr, resolve: String => Column): Column =
    termEncode(e, compileBind(e, resolve))

  private def compileBind(e: Sparql.BExpr, resolve: String => Column): Column = {
    import Sparql._
    // String/numeric/dateTime builtins operate on the LEXICAL FORM
    // (§17.4 defers to XPath fn:* over the value): a tagged or typed
    // input is stripped to its lexical first, so STRLEN("chat"@en) = 4
    // and YEAR("…"^^xsd:dateTime) works. Results are SIMPLE literals —
    // the spec's lang-tag carry-through on UCASE/SUBSTR/etc. is
    // documented out (the rdflib result boundary strips tags anyway).
    def lexed(x: BExpr): Column = {
      val c = compileBind(x, resolve)
      if (bareLexical(x)) c // builtin output: already a simple literal
      else x match {
        case BVar(_) | BLit(_) => graft.RdfTerms.lex(c) // leaf: inline
        case _ => bindOnce(c)(graft.RdfTerms.lex) // term tree: strip once
      }
    }
    /** Multi-reference consumer of a lexed input: leaf children inline
      * (identical plans to every prior round); compiled subtrees bind
      * once so the body's k references don't copy the child k times. */
    def withLexed(x: BExpr)(body: Column => Column): Column = x match {
      case BVar(_) | BLit(_) => body(lexed(x))
      case _ => bindOnce(lexed(x))(body)
    }
    e match {
      case BVar(v) => resolve(v)
      case BLit(s) => lit(s)
      case BConcat(args) => concat(args.map(lexed): _*)
      // COALESCE/IF pass TERMS through (their result can feed joins and
      // further term operations), so branch/argument expressions compile
      // at the TERM level — one quote-wrap per builtin arg, still
      // additive in tree size
      case BCoalesce(args) => coalesce(args.map(compileBindTerm(_, resolve)): _*)
      case BIf(c, t, e) =>
        // no .otherwise(): a NULL condition (type error / unbound input)
        // must yield NULL — §17.4.1.2 says an erroring condition errors
        // the whole IF, it does NOT fall through to the else branch
        val cc = compileFilterExpr(c, resolve)
        when(cc, compileBindTerm(t, resolve)).when(!cc, compileBindTerm(e, resolve))
      case BStrFn("STR", a) => lexed(a) // §17.4.2.1: the lexical form
      // LANG/DATATYPE and the constructors read their argument's TERM
      // encoding (a lexical would make every builtin result look like a
      // bare IRI under round 13's encoding)
      case BStrFn("LANG", a) =>
        graft.RdfTerms.langOf(compileBindTerm(a, resolve))
      case BStrFn("DATATYPE", a) =>
        graft.RdfTerms.datatypeOf(compileBindTerm(a, resolve))
      case BStrLang(a, t) =>
        graft.RdfTerms.strLang(compileBindTerm(a, resolve), lexed(t))
      case BStrDt(a, d) =>
        graft.RdfTerms.strDt(compileBindTerm(a, resolve), lexed(d))
      case BStrFn("UCASE", a) => upper(lexed(a))
      case BStrFn("LCASE", a) => lower(lexed(a))
      case BStrFn("STRLEN", a) =>
        length(lexed(a)).cast("long").cast("string")
      case BStrFn(other, _) =>
        throw new IllegalArgumentException(s"bad string builtin $other")
      case BNumFn(fn, a) =>
        // §17.4.4 over the lexical encoding: an integer lexical stays on
        // the exact long path (identity for CEIL/FLOOR/ROUND — no
        // double round-trip, so >2^53 ids are safe); any other numeric
        // lexical evaluates in xsd:double. Non-numeric → NULL = unbound.
        withLexed(a) { s =>
        val l = s.try_cast("long")
        val d = s.try_cast("double")
        fn match {
          case "ABS" =>
            when(l.isNotNull, abs(l).cast("string"))
              .otherwise(abs(d).cast("string"))
          case "CEIL" =>
            when(l.isNotNull, l.cast("string"))
              .otherwise(ceil(d).cast("string"))
          case "FLOOR" =>
            when(l.isNotNull, l.cast("string"))
              .otherwise(floor(d).cast("string"))
          case "ROUND" =>
            // XPath fn:round: half toward +∞ — floor(x + 0.5), NOT
            // Spark's round() (HALF_UP, away from zero): ROUND(-2.5)
            // must be -2, Spark round gives -3
            when(l.isNotNull, l.cast("string"))
              .otherwise(floor(d + lit(0.5)).cast("string"))
          case other =>
            throw new IllegalArgumentException(s"bad numeric builtin $other")
        }
        }
      case BHashFn(fn, a) =>
        // §17.4.6: hash of the UTF-8 lexical form, lowercase hex —
        // exactly Spark's md5/sha1/sha2 over the string's bytes
        val c = lexed(a).cast("binary")
        fn match {
          case "MD5" => md5(c)
          case "SHA1" => sha1(c)
          case "SHA256" => sha2(c, 256)
          case other =>
            throw new IllegalArgumentException(s"bad hash builtin $other")
        }
      case BEncodeUri(a) =>
        graft.functions.UriEncode.encodeForUri(lexed(a))
      case BDtFn("TIMEZONE", a) =>
        // §17.4.5.7 TIMEZONE: the literal's timezone as an
        // xsd:dayTimeDuration TERM — "-05:00" → "-PT5H"^^xsd:dayTime-
        // Duration, "Z"/"±00:00" → "PT0S" — rendered in the XSD 1.1
        // §3.3.7 canonical form (zero-valued H/M fields dropped, "PT0S"
        // for the zero duration). A dateTime WITHOUT a designator is a
        // type error → NULL (unlike TZ, which reads ""), as is a
        // non-dateTime lexical (NULL TZ field propagates through the
        // concat). Structural like the other accessors: the shared
        // DateTimeParts parse already isolated the designator.
        bindOnce(DateTimeParts.parts(lexed(a)).getField("TZ")) { tz =>
          val h = substring(tz, 2, 2).try_cast("int")
          val m = substring(tz, 5, 2).try_cast("int")
          val dur = when(tz === "Z" || (h === 0 && m === 0), lit("PT0S"))
            .otherwise(concat(
              when(tz.startsWith("-"), lit("-")).otherwise(lit("")),
              lit("PT"),
              when(h > 0, concat(h.cast("string"), lit("H"))).otherwise(lit("")),
              when(m > 0, concat(m.cast("string"), lit("M"))).otherwise(lit(""))))
          when(tz =!= "",
            concat(lit("\""), dur,
              lit("\"^^<" + graft.RdfTerms.XsdNs + "dayTimeDuration>")))
        }
      case BDtFn(fn, a) =>
        // §17.4.5 structurally on the canonical xsd:dateTime lexical —
        // XPath component accessors report the literal's OWN timezone's
        // components, so extraction must NOT convert the instant (a
        // timestamp cast would shift into the session zone). Lexicals
        // that don't match the xsd:dateTime shape → NULL = unbound
        // (field access on the NULL struct). One native single-scan
        // parse (DateTimeParts) serves every accessor: the seven
        // accessors of a q154-shaped query compile to getFields of
        // STRUCTURALLY EQUAL children, which whole-stage codegen's
        // subexpression elimination evaluates once per row — the
        // per-accessor re-validation (regex or substring algebra) was
        // the measured cost: 14 regex passes/row at 1.6 s, positional
        // substring rewrite 2.3 s, shared parse 7× cheaper per row.
        if (!DateTimeParts.schema.fieldNames.contains(fn))
          throw new IllegalArgumentException(s"bad dateTime builtin $fn")
        DateTimeParts.parts(lexed(a)).getField(fn)
      case BSubstr(a, start, len) =>
        // §17.4.3.3 = XPath fn:substring, 1-based; Spark's substring has
        // identical 1-based semantics, and the no-length form runs to the
        // end of the string
        len match {
          case Some(l) => lexed(a).substr(lit(start), lit(l))
          case None => withLexed(a)(s => s.substr(lit(start), length(s)))
        }
      case BReplace(a, pat, rep) =>
        // §17.4.3.4 over the portable regex subset (classes, alternation,
        // bounded quantifiers; $1-group references agree between XPath and
        // Java regex replacements)
        regexp_replace(lexed(a), pat, rep)
      case BStrCut(a, sep, after) =>
        withLexed(a) { s =>
        if (sep.isEmpty) {
          // SPARQL: STRAFTER(x, "") = x, STRBEFORE(x, "") = ""
          if (after) s else when(s.isNotNull, lit("")) // NULL-propagating ""
        } else {
          val p = instr(s, sep) // 1-based, 0 when absent
          if (after) when(p > 0, s.substr(p + sep.length, length(s))).otherwise(
            when(s.isNotNull, lit("")))
          else when(p > 0, s.substr(lit(1), p - 1)).otherwise(
            when(s.isNotNull, lit("")))
        }
        }
      case BArith(l, op, r) =>
        // operands coerce through the LEXICAL (round 13: a quoted or
        // annotated numeric still computes; lexed is a no-op on builtin
        // outputs and a single-reference native strip otherwise)
        val (lc, rc) = (lexed(l).try_cast("long"), lexed(r).try_cast("long"))
        op match {
          case '+' => (lc + rc).cast("long").cast("string")
          case '-' => (lc - rc).cast("long").cast("string")
          case '*' => (lc * rc).cast("long").cast("string")
          case '/' =>
            // SPARQL §17.3: integer ÷ integer is xsd:decimal. Exact where
            // the division IS exact (the canonical decimal lexical of an
            // integral quotient is its plain integer form — decimal-typed
            // long division, never a double round-trip); otherwise an
            // xsd:double APPROXIMATION rendered shortest-round-trip.
            // Documented divergence: digits beyond IEEE-754 binary64
            // precision differ from a fixed-point-decimal engine's
            // rendering. ÷0 and non-integer lexicals → NULL = unbound
            // (SPARQL error → BIND leaves the alias unbound).
            when(rc === 0, lit(null).cast("string"))
              .when(lc % rc === 0,
                try_divide(lc.cast("decimal(38,0)"), rc.cast("decimal(38,0)"))
                  .cast("long").cast("string"))
              .otherwise(try_divide(lc.cast("double"), rc.cast("double"))
                .cast("string"))
          case other => throw new IllegalArgumentException(s"bad op $other")
        }
    }
  }

  /** DESCRIBE: the described-resource set R (constants + the WHERE
    * group's bindings of the describe variables) semi-joins the scoped
    * triples on the SUBJECT position — the minimal common reading of the
    * spec's implementation-defined description (§16.4; oxigraph and most
    * stores return at least these). R is constant- or binding-sized →
    * Catalyst broadcasts the semi-join into the quads scan; DISTINCT
    * because a description is a graph (set of triples). */
  private def describePlan(scoped: DataFrame, q: Query,
      quadsG: Option[DataFrame]): DataFrame = {
    val spark = scoped.sparkSession
    import Sparql._
    val consts = q.describeTerms.collect { case I(i) => i case L(l) => l }
    val vars = q.describeTerms.collect { case V(v) => v }
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (consts.nonEmpty) {
      import spark.implicits._
      parts += consts.toDF("s")
    }
    if (vars.nonEmpty) {
      val inner = evaluateTriples(scoped,
        q.copy(describeTerms = Nil, projection = vars, distinct = true),
        quadsG, boundary = false)
      vars.foreach { v => parts += inner.select(col(v).as("s")) }
    }
    val resources = parts.reduce(_ union _).distinct()
    // set semantics on TERMS, then the str() result boundary (round 13:
    // strips quoted-plain string literals like every other encoding)
    scoped.join(resources, Seq("s"), "left_semi")
      .select("s", "p", "o").distinct()
      .select(col("s"), col("p"), graft.RdfTerms.lex(col("o")).as("o"))
  }

  /** Aggregation, HAVING, projection, DISTINCT, and the solution
    * modifiers — the tail every evaluation path (including the empty
    * one) flows through. Input columns are vc-named. The ASK and
    * CONSTRUCT forms short-circuit here: both consume the raw binding
    * relation instead of a variable projection. */
  /** The §18.2.4.7 trailing-VALUES join (also usable for any vc-named
    * relation): inner join; shared columns whose rows carry an UNDEF
    * cell join under the null-or-equal condition (a nested-loop over the
    * broadcast block — constant work per solution), while UNDEF-free
    * columns contribute plain equi-keys so an all-defined block plans as
    * a broadcast HASH join. Vars the relation doesn't have yet are
    * appended. Divergence note (same family as applyValuesUndef): a
    * solution var that is NULL (unbound via an earlier OPTIONAL miss)
    * never matches a DEFINED cell here, where SPARQL would adopt the
    * cell's value — keep trailing-VALUES vars out of optional-bound
    * columns. */
  private def joinValuesBlock(acc0: DataFrame,
      vb: Sparql.ValuesBlock): DataFrame = {
    val spark = acc0.sparkSession
    val schema = org.apache.spark.sql.types.StructType(vb.vars.map(v =>
      org.apache.spark.sql.types.StructField("u_" + vc(v),
        org.apache.spark.sql.types.StringType)))
    val rel = spark.createDataFrame(
      vb.rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
    val accCols = acc0.columns.toSet
    val shared = vb.vars.filter(v => accCols.contains(vc(v)))
    val undefCols = vb.vars.zipWithIndex.collect {
      case (v, i) if vb.rows.exists(r => r(i) == null) => v
    }.toSet
    val cond = shared.map { v =>
      if (undefCols(v))
        rel("u_" + vc(v)).isNull || acc0(vc(v)) === rel("u_" + vc(v))
      else acc0(vc(v)) === rel("u_" + vc(v))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val joined = acc0.join(rel, cond, "inner")
    joined.select(
      acc0.columns.map(joined(_)) ++
        vb.vars.filterNot(v => accCols.contains(vc(v)))
          .map(v => joined("u_" + vc(v)).as(vc(v))): _*)
  }

  private def finish(acc0: DataFrame, q: Query,
      boundary: Boolean): DataFrame = {
    if (q.askForm) {
      // one row always: LIMIT 1 bounds the work (any one solution
      // settles it — scans short-circuit), the global count makes the
      // empty case an explicit `false` row rather than an empty relation
      return acc0.limit(1).agg(count(lit(1)).as("_n"))
        .select((col("_n") > 0).cast("string").as("ask"))
    }
    if (q.template.nonEmpty) {
      // CONSTRUCT: one projection of the binding relation per template
      // triple, bag-unioned then DISTINCT (a graph is a SET of triples).
      // Rows where a template variable is unbound (OPTIONAL miss) are not
      // generated, per §16.2.
      val have = acc0.columns.toSet
      def termCol(t: Sparql.Term): Column = t match {
        case Sparql.V(v) =>
          if (!have(vc(v))) throw new IllegalArgumentException(
            s"CONSTRUCT template references ?$v bound by no WHERE pattern")
          col(vc(v))
        case Sparql.I(i) => lit(i)
        case Sparql.L(l) => lit(l)
      }
      // DISTINCT runs on TERMS (tagged/typed literals stay distinct);
      // the rdflib-parity str() boundary then strips the result columns
      // exactly as SELECT's finish does (round 13: quoted-plain strings
      // strip too)
      return q.template.map { tp =>
        acc0.select(termCol(tp.s).as("s"),
          lit(tp.path.head.alts.head._1).as("p"), termCol(tp.o).as("o"))
      }.reduce(_ union _)
        .filter(col("s").isNotNull && col("o").isNotNull)
        .distinct()
        .select(graft.RdfTerms.lex(col("s")).as("s"), col("p"),
          graft.RdfTerms.lex(col("o")).as("o"))
    }
    var acc = acc0
    if (q.aggregates.nonEmpty || q.groupBy.nonEmpty) {
      val aliasSet = q.aggregates.map(_.alias).toSet
      val badProj = q.selected.filterNot(aliasSet)
        .filterNot(q.groupBy.contains)
      if (badProj.nonEmpty) throw new IllegalArgumentException(
        s"projected variable(s) ${badProj.map("?" + _).mkString(", ")} must " +
          "appear in GROUP BY or inside an aggregate")
      val have = acc.columns.toSet
      (q.groupBy ++ q.aggregates.flatMap(_.v)).distinct
        .filterNot(v => have(vc(v))).foreach { v =>
          throw new IllegalArgumentException(
            s"GROUP BY/aggregate references variable ?$v bound by no pattern")
        }
      // SPARQL numeric aggregates run on xsd numerics; the quads encoding
      // stores lexical strings, so SUM/AVG try_cast — a non-numeric
      // binding contributes NULL (skipped), the pragmatic reading of the
      // spec's type-error rule. MIN/MAX dispatch PER GROUP (round 12):
      // when every non-null term is numeric (shape or ^^-annotation, the
      // same recognizer as FILTER's `<`), the extreme is taken by numeric
      // VALUE — min_by/max_by keep the TERM, so no cast-loss — with the
      // lexical as a deterministic tie-break ("01" vs "1"); any
      // non-numeric member falls the whole group back to codepoint order
      // (matching the FILTER comparison dispatch on strings). A Brick
      // user's MIN(?temp) over readings {"10","9"} is "9", per §18.5.1's
      // ORDER-BY-`<` definition. DISTINCT under MIN/MAX is a semantic
      // no-op.
      def aggCol(a: Sparql.Agg): Column = {
        lazy val c = col(vc(a.v.get))
        val out = a.fn match {
          case "COUNT" => a.v match {
            case None => count(lit(1))
            case Some(_) => if (a.distinct) count_distinct(c) else count(c)
          }
          case "SUM" =>
            // coerce via the lexical (round 13): matches FILTER's
            // numeric dispatch, and a quoted or annotated numeric like
            // "5"^^xsd:float still contributes
            if (a.distinct) sum_distinct(graft.RdfTerms.lex(c).try_cast("double"))
            else sum(graft.RdfTerms.lex(c).try_cast("double"))
          case "AVG" =>
            if (a.distinct) throw new IllegalArgumentException(
              "AVG(DISTINCT) is outside the supported subset")
            avg(graft.RdfTerms.lex(c).try_cast("double"))
          case "MIN" | "MAX" =>
            val k = graft.RdfTerms.lex(c).try_cast("double")
            // null ordering keys are skipped by min_by/max_by, so the
            // numeric extreme reads only the castable members; struct's
            // field-wise order makes the lexical a tie-break
            val numKey = when(k.isNotNull, struct(k, c))
            val allNum = count(when(c.isNotNull && k.isNull, 1)) === 0
            // the mixed-group fallback orders by the LEXICAL (§18.5.1's
            // ORDER-BY-`<` definition; round 13: quoted and bare terms
            // would codepoint-order by encoding, not value), with the
            // term as the deterministic tie-break
            val lexKey = struct(graft.RdfTerms.lex(c), c)
            if (a.fn == "MIN")
              when(allNum, min_by(c, numKey)).otherwise(min_by(c, lexKey))
            else
              when(allNum, max_by(c, numKey)).otherwise(max_by(c, lexKey))
          // The spec leaves GROUP_CONCAT's concatenation order
          // implementation-defined (§18.5.1.7); we SORT the collected
          // values (codepoint order, matching MIN/MAX dispatch) so the
          // output is deterministic and oracle-comparable — DuckDB's
          // `string_agg(… ORDER BY …)` expresses the same choice.
          // collect_list/collect_set skip NULLs, = the spec's rule that
          // unbound values don't contribute.
          case "GROUP_CONCAT" =>
            // §18.5.1.7 concatenates STR(x) — the LEXICALS — and returns
            // a simple literal: collect lex(c) (round 13: quoted/tagged
            // members contribute their lexical form, not the encoding)
            // and encode the result through the SAME shape rule as every
            // other simple-literal producer (round 14, ADVICE): a
            // shorthand-shaped concatenation ("1"+"2" → 12) must yield
            // the bare numeric term so it term-equals parsed constants
            // in HAVING/joins; manual quote-wrap broke exactly that
            graft.functions.RdfLex.encodeSimple(array_join(array_sort(
              if (a.distinct) collect_set(graft.RdfTerms.lex(c))
              else collect_list(graft.RdfTerms.lex(c))), a.sep))
          // SAMPLE returns "an arbitrary value" from the group — the
          // lexical-MIN term is a valid, deterministic arbiter (DISTINCT
          // is a semantic no-op; lexical key so round 13's quoted terms
          // pick the same representative bare ones always did)
          case "SAMPLE" => min_by(c, struct(graft.RdfTerms.lex(c), c))
          case other => throw new IllegalArgumentException(s"bad aggregate $other")
        }
        out.as(vc(a.alias))
      }
      val aggCols = q.aggregates.map(aggCol)
      acc =
        if (aggCols.isEmpty) acc.select(q.groupBy.map(v => col(vc(v))): _*).distinct()
        else if (q.groupBy.isEmpty) acc.agg(aggCols.head, aggCols.tail: _*)
        else acc.groupBy(q.groupBy.map(v => col(vc(v))): _*)
          .agg(aggCols.head, aggCols.tail: _*)
    }
    q.having.foreach { f =>
      if (q.aggregates.isEmpty && q.groupBy.isEmpty)
        throw new IllegalArgumentException("HAVING without GROUP BY/aggregates")
      acc = acc.filter(compileHaving(f, acc))
    }
    // §18.2.4.7: the trailing VALUES clause joins the solution sequence
    // HERE — after grouping/HAVING, before order/projection/slice. Same
    // null-or-equal compatibility condition as a group-scoped block
    // (UNDEF compatible with any binding) over a broadcast LocalRelation.
    q.postValues.foreach { vb => acc = joinValuesBlock(acc, vb) }
    // §18.2.4 Extend for SELECT expressions runs AFTER the trailing-VALUES
    // join (so an expression over a var bound only by that VALUES computes
    // from the joined cell). Unbound references evaluate to error → NULL,
    // the standard BIND rule.
    q.postSelectExprs.foreach { b =>
      val cols = acc.columns.toSet
      if (cols.contains(vc(b.alias))) throw new IllegalArgumentException(
        s"SELECT expression would rebind ?${b.alias} — already in scope")
      val resolve: String => Column =
        v => if (cols.contains(vc(v))) acc(vc(v)) else lit(null).cast("string")
      acc = acc.withColumn(vc(b.alias), compileBindTerm(b.expr, resolve))
    }
    // §18.2.5: ORDER BY evaluates BEFORE projection, so keys may be any
    // in-scope variable — sort the pre-projection relation and project
    // after (a narrow projection preserves the global sort). §15.1's one
    // carve-out stands: under SELECT DISTINCT the keys must be projected
    // (ordering by a column DISTINCT collapses away is unanswerable).
    val unprojectedKeys = q.orderBy.exists { case (v, _) => !q.selected.contains(v) }
    var out =
      if (q.orderBy.nonEmpty && unprojectedKeys) {
        if (q.distinct) throw new IllegalArgumentException(
          "ORDER BY keys must be projected variables/aliases under " +
            "SELECT DISTINCT (§15.1)")
        val accCols = acc.columns.toSet
        val keys = q.orderBy.flatMap { case (v, desc) =>
          if (!accCols.contains(vc(v))) throw new IllegalArgumentException(
            s"ORDER BY key ?$v is not an in-scope variable/alias")
          orderKeys(acc, vc(v), desc)
        }
        acc.orderBy(keys: _*).select(q.selected.map(v => col(vc(v)).as(v)): _*)
      } else {
        var o = acc.select(q.selected.map(v => col(vc(v)).as(v)): _*)
        if (q.distinct) o = o.distinct()
        if (q.orderBy.nonEmpty)
          o = o.orderBy(q.orderBy.flatMap { case (v, desc) =>
            orderKeys(o, v, desc) }: _*)
        o
      }
    q.offset.foreach(o => out = out.offset(o))
    q.limit.foreach(l => out = out.limit(l))
    // rdflib-parity result boundary (round 11): the OUTERMOST SELECT
    // projects terms through str() — tags/datatypes stripped to the
    // lexical form (reference: client.py:43,53) — AFTER DISTINCT and
    // ORDER BY, which per §18.5 operate on the terms themselves. Inner
    // evaluations (subqueries, GRAPH bodies, DESCRIBE resource sets)
    // pass boundary=false and keep the encoding: their outputs are
    // still terms mid-query. Only string columns carry encodings;
    // aggregate numerics pass through untouched.
    if (boundary)
      out = out.select(out.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          graft.RdfTerms.lex(col(f.name)).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)
    out
  }

  /** §15.1 ordering (round 12): numeric literals order by VALUE. A
    * string sort key expands to three physical keys —
    * (isNonNumericLiteral, numericValue, lexicalTerm) — so an
    * all-numeric column sorts numerically, an all-string/IRI column
    * sorts by codepoint exactly as before (flag and value are constant
    * null-ish there), and a mixed column orders unbound < numerics <
    * other terms, a deterministic total-order extension of the spec's
    * partial order. DESC reverses all three keys (exact reverse of the
    * ascending order). Non-string columns (aggregate numerics) keep
    * their native order. */
  private def orderKeys(d: DataFrame, name: String,
      desc: Boolean): Seq[Column] = {
    val c = d(name)
    val keys =
      if (d.schema(name).dataType !=
          org.apache.spark.sql.types.StringType) Seq(c)
      else {
        val k = graft.RdfTerms.lex(c).try_cast("double")
        // third key: the LEXICAL (round 13 — string terms order by value,
        // exactly the order bare encodings always gave); the raw term
        // stays as the final tie-break so tagged/typed twins order
        // deterministically
        Seq(c.isNotNull && k.isNull, k, graft.RdfTerms.lex(c), c)
      }
    if (desc) keys.map(_.desc) else keys.map(_.asc)
  }

  /** HAVING predicate over the aggregated relation: operands resolve to
    * group keys or aggregate outputs (including HAVING-synthesized
    * `_hagg` aliases); comparisons against a numeric literal cast the
    * aggregate side, mirroring the FILTER dispatch. */
  private def compileHaving(f: Sparql.FExpr, d: DataFrame): Column = {
    import Sparql._
    def resolve(v: String): Column =
      if (d.columns.contains(vc(v))) d(vc(v))
      else throw new IllegalArgumentException(
        s"HAVING references ?$v — not a group key or aggregate")
    def opCol(o: FOperand, numeric: Boolean): Column = o match {
      case FVar(v) => if (numeric) resolve(v).try_cast("double") else resolve(v)
      case FNum(l) => lit(l.toDouble)
      case FStr(s) => lit(s)
      case FIriRef(i) => lit(i)
      case FBindOp(_) => throw new IllegalArgumentException(
        "string builtins in HAVING are outside the supported subset " +
          "(compute with BIND before grouping)")
    }
    f match {
      case FCmp(l, op, r) =>
        val numeric = l.isInstanceOf[FNum] || r.isInstanceOf[FNum]
        val (lc, rc) = (opCol(l, numeric), opCol(r, numeric))
        op match {
          case "<" => lc < rc
          case "<=" => lc <= rc
          case ">" => lc > rc
          case ">=" => lc >= rc
          case "=" => lc === rc
          case "!=" => lc =!= rc
          case other => throw new IllegalArgumentException(s"bad op $other")
        }
      case FAnd(a, b) => compileHaving(a, d) && compileHaving(b, d)
      case FOr(a, b) => compileHaving(a, d) || compileHaving(b, d)
      case FNot(a) => !compileHaving(a, d)
      case other => throw new IllegalArgumentException(
        s"unsupported HAVING form: $other")
    }
  }
}
