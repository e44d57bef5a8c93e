package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** SURVEY.md §2-M (r8): graph analytics as first-class distributed
  * operators — connected components, single-source BFS, triangle
  * counting, PageRank — over a graph DERIVED RELATIONALLY from the
  * warehouse tables, so every op has a full rows+schema+hash DuckDB
  * oracle (recursive CTEs / unrolled iteration) instead of a rows-only
  * check.
  *
  * The graph: suppliers are nodes; an undirected edge joins two
  * suppliers that co-occur in at least one order (the classic
  * market-basket co-occurrence projection — one equi-join of lineitem
  * with itself on the order key). The pair set is then SPARSIFIED by a
  * deterministic hash predicate so component structure/triangle counts
  * are non-trivial at the oracle SF: `((a*2654435761 + b*40503) %
  * 1000003) % m = 0` — reduced mod a large prime BEFORE the small
  * modulus, per the repo's cross-engine bucketing invariant (the
  * unreduced affine form collapses to a correlated map of the keys mod
  * m). Two regimes share the derivation:
  *
  *  - m = 59 (sparse): 13 components at sf0.01 — the CC / BFS graph;
  *  - m = 11 (dense): ~100 triangles at sf0.01 — the triangle /
  *    PageRank graph.
  *
  * Scale posture: the edge derivation is one shuffle on the order key +
  * one distinct; every iterative op below runs on the one fixpoint
  * kernel ([[graft.util.Iterate.fixpoint]]: checkpoint per round,
  * release of the superseded round, the bound, the registration),
  * budget-dispatched ops go through [[graft.util.Probes.byBudget]], and
  * loops coalesce to a few partitions below 1M edges
  * ([[graft.util.Iterate.coalesceSmall]]) — above that the
  * full-parallelism shape is unchanged, which is the 1000-executor path.
  */
object Graph {

  /** (a, b), a < b — the sparsified co-order supplier pair relation. */
  private[graft] def supplierEdgesRaw(s: SparkSession, d: String,
      m: Int): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val x = li.select(col("ok"), col("sk").as("a"))
    val y = li.select(col("ok").as("ok2"), col("sk").as("b"))
    x.join(y, col("ok") === col("ok2") && col("a") < col("b"))
      .where(((col("a") * lit(2654435761L) + col("b") * lit(40503L))
        % lit(1000003L)) % lit(m.toLong) === 0)
      .select("a", "b").distinct()
  }

  /** The persisted edge relation: every graph op traverses one of the
    * same two derived graphs, so the lineitem self-join + distinct is
    * paid once and every later op reads the (tiny) edge table. */
  private[graft] def supplierEdges(s: SparkSession, d: String,
      m: Int): DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_graph_edges", d + "_m" + m) {
      supplierEdgesRaw(s, d, m)
    }

  /** (v, u) both directions — the adjacency the iterative ops traverse. */
  private def symmetrize(e: DataFrame): DataFrame =
    e.select(col("a").as("v"), col("b").as("u"))
      .union(e.select(col("b").as("v"), col("a").as("u")))

  /** Connected components over the sparse (m=59) graph: label = the
    * smallest reachable node id. Delegates to the budget-dispatched
    * closure shared with the dedup family ([[Llm.connectedComponents]]):
    * driver union-find under 2^19 symmetric edges, distributed
    * hook + pointer-jump label propagation above — each round one
    * shuffle on the node and one on the label, O(log diameter) rounds.
    * The oracle replays reachability as a recursive CTE and takes the
    * per-node min. */
  val graph_cc: Q = (s, d) =>
    Llm.connectedComponents(supplierEdges(s, d, 59), key = "graph_cc",
      memoKey = "graph_cc|" + d)
      .select(col("gid").as("node"), col("comp").as("component"))
      .orderBy("node")

  /** Single-source BFS on the sparse graph from the smallest node id:
    * (node, hops) for every node within 4 hops. Frontier expansion —
    * each round joins the previous frontier to the adjacency, anti-joins
    * the visited set, checkpoints (bounded 4 rounds, but the loop
    * invariant applies all the same: the visited set references itself
    * once per round). The oracle walks all paths of length ≤ 4 with a
    * recursive CTE and takes min depth per node. */
  val graph_bfs: Q = (s, d) =>
    bfsOf(s, d, Llm.CcDriverBudgetEdges)

  /** budget-dispatched like [[pagerankOf]]: under the edge budget the 4
    * frontier rounds run as a driver loop over the collected adjacency
    * (each distributed round is a join + anti-join + two checkpoints of
    * per-job overhead on a small graph); above it, the frontier-expansion
    * loop. Identical traversal → value-equal, arm-equality-tested with
    * budget = 0 (GraphSpec). */
  private[graft] def bfsOf(s: SparkSession, d: String,
      driverBudgetEdges: Long): DataFrame =
    bfsOnSym(s, symmetrize(supplierEdges(s, d, 59)).select(col("v"), col("u")),
      driverBudgetEdges, memoKey = "graph_bfs|" + d)

  /** edge-parameterized kernel — PropertySpec drives both arms over
    * random graphs (cycles, stars, disconnected pieces) beyond the
    * fixture's single topology. */
  private[graft] def bfsOnSym(s: SparkSession, symIn: DataFrame,
      driverBudgetEdges: Long, memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    graft.util.Probes.byBudget(symIn.as[(Long, Long)], driverBudgetEdges,
        memoKey) { es =>
      if (es.isEmpty) Seq.empty[(Long, Int)].toDF("node", "hops")
      else {
        val adj = es.groupBy(_._1).map { case (v, xs) =>
          v -> xs.map(_._2)
        }
        val seed = es.iterator.map(_._1).min
        val hops = scala.collection.mutable.LinkedHashMap(seed -> 0)
        var frontier = Seq(seed)
        for (h <- 1 to 4) {
          frontier = frontier
            .flatMap(v => adj.getOrElse(v, Array.empty[Long]))
            .distinct.filterNot(hops.contains)
          frontier.foreach(u => hops(u) = h)
        }
        s.createDataset(hops.toSeq).toDF("node", "hops")
          .orderBy("node")
      }
    }(sym => bfsDistributed(s, sym.toDF()))
  }

  private def bfsDistributed(s: SparkSession, sym: DataFrame): DataFrame = {
    val sp = s
    import sp.implicits._
    val g = graft.util.Iterate.coalesceSmall(sym, sym.count())
    val seedRow = g.agg(min(col("v"))).head()
    if (seedRow.isNullAt(0)) {
      // empty graph (possible at tiny SF): empty result, stable schema
      Seq.empty[(Long, Int)].toDF("node", "hops")
    } else {
      // one state: visited, whose round-(h-1) rows are the frontier
      graft.util.Iterate.rounds("graph_bfs",
          Seq((seedRow.getLong(0), 0)).toDF("node", "hops"), 4) {
        (visited, round) =>
          visited.union(visited.where(col("hops") === round.n - 1)
            .select(col("node").as("v"))
            .join(g, "v").select(col("u").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .withColumn("hops", lit(round.n)))
      }.orderBy("node")
    }
  }

  /** Per-node triangle participation counts on the dense (m=11) graph.
    * The oriented two-join formulation (a<b<c wedges closed against the
    * edge list) — no cartesian product, and the three references to the
    * same derived edge relation collapse to one computed Exchange via
    * Spark's ReuseExchange, so the derivation is paid once. Nodes on no
    * triangle are absent (both engines). */
  val graph_triangles: Q = (s, d) => {
    val e = supplierEdges(s, d, 11)
    val wedge = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tri = wedge.join(e.as("e3"),
      col("x") === col("e3.a") && col("z") === col("e3.b"))
      .select("x", "y", "z")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
      .orderBy("node")
  }

  /** PageRank, 8 fixed iterations, damping 0.85, on the dense graph made
    * bidirectional. Ranks are INTEGER-SCALED (seed 10^12 per node, each
    * step `150e9 + (incoming * 85) div 100`, per-edge share `rank div
    * out_degree`) so every iteration is exact 64-bit arithmetic — the
    * reason the oracle can unroll the same 8 iterations as chained CTEs
    * and hash-match, where a float formulation would diverge in the 15th
    * digit on summation order. Sink-free by construction (symmetric
    * adjacency). Headroom: sums stay < 2^63 up to ~10^5 nodes at this
    * seed; a larger graph scales the seed down. Each iteration is one
    * shuffle on the source (share), one on the target (sum), one label
    * checkpoint — the standard Pregel-style cost. */
  val graph_pagerank: Q = (s, d) =>
    pagerankOf(s, d, Llm.CcDriverBudgetEdges)

  /** budget-dispatched like [[Llm.connectedComponents]]: below the edge
    * budget the 8 iterations run as a driver loop over the collected
    * edge list (8 distributed rounds on a small graph are pure per-job
    * overhead — this is what tripped the sf0.001 bench smoke budget);
    * above it, the Pregel-style distributed loop. Both arms execute the
    * IDENTICAL integer arithmetic, so they are value-equal — directly
    * tested with budget = 0 forcing the distributed loop (GraphSpec). */
  private[graft] def pagerankOf(s: SparkSession, d: String,
      driverBudgetEdges: Long): DataFrame =
    pagerankOnSym(s,
      symmetrize(supplierEdges(s, d, 11)).select(col("v"), col("u")),
      driverBudgetEdges, memoKey = "graph_pagerank|" + d)

  /** edge-parameterized kernel — see [[bfsOnSym]]. */
  private[graft] def pagerankOnSym(s: SparkSession, symIn: DataFrame,
      driverBudgetEdges: Long, memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    graft.util.Probes.byBudget(symIn.as[(Long, Long)], driverBudgetEdges,
        memoKey) { es =>
      val deg = scala.collection.mutable.HashMap[Long, Long]()
      es.foreach { case (v, _) =>
        deg(v) = deg.getOrElse(v, 0L) + 1L
      }
      var rank = deg.keysIterator.map(_ -> 1000000000000L).toMap
      for (_ <- 1 to 8) {
        val inc = scala.collection.mutable.HashMap[Long, Long]()
        es.foreach { case (v, u) =>
          inc(u) = inc.getOrElse(u, 0L) + rank(v) / deg(v)
        }
        rank = rank.map { case (n, _) =>
          n -> (150000000000L + inc.getOrElse(n, 0L) * 85 / 100)
        }
      }
      s.createDataset(rank.toSeq).toDF("node", "rank")
        .orderBy(desc("rank"), asc("node"))
    } { sym =>
      val g = graft.util.Iterate.coalesceSmall(sym.toDF(), sym.count())
      val deg = g.groupBy(col("v").as("node"))
        .agg(count(lit(1)).as("od"))
      val nodes = g.select(col("v").as("node")).distinct()
      graft.util.Iterate.rounds("graph_pagerank",
          nodes.withColumn("rank", lit(1000000000000L)), 8) { (cur, _) =>
        val share = cur.join(deg, "node")
          .select(col("node").as("v"), expr("rank div od").as("c"))
        val contrib = share.join(g, "v")
          .groupBy(col("u").as("node")).agg(sum(col("c")).as("inc"))
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"), (lit(150000000000L) +
            expr("coalesce(inc, 0L) * 85 div 100")).as("rank"))
      }.orderBy(desc("rank"), asc("node"))
    }
  }

  /** Link prediction by neighbor-set similarity on the dense (m=11)
    * graph: for every NON-adjacent supplier pair with ≥ 2 common
    * neighbors, Jaccard(N(a), N(b)) as exact integer basis points
    * (`common * 10000 div (deg_a + deg_b - common)` — all operands
    * non-negative 64-bit, so Spark's trunc-div and DuckDB's floor-div
    * agree bit-for-bit; no float ratio to half-round). Top 20 by
    * (jaccard_bp DESC, a, b) — a total order, unique tiebreak.
    *
    * Shape: one self-join of the symmetric adjacency on the shared
    * neighbor (the wedge relation triangles already pay — ReuseExchange
    * collapses the two adjacency references), one count per pair, a
    * LEFT ANTI against the edge list to keep only predicted (absent)
    * links, two broadcast degree joins, and a top-k sort on the small
    * candidate relation. 100 TB posture: the wedge fan-out is
    * Σ deg(n)² — hub nodes dominate, exactly the skew story of every
    * bucket op — so the kernel carries a wedge-center DEGREE CAP
    * (r9 verdict #2, now coded, not just documented): centers with
    * deg > [[JaccardDegreeCap]] are excluded from wedge enumeration by
    * a broadcast anti-join against the (tiny by definition) hub list,
    * bounding wedge rows at Σ_{deg(n)≤cap} C(deg(n), 2) while the
    * TRUE degrees still feed the Jaccard denominator. When no node
    * exceeds the cap the anti-join is a provable no-op (the fixture
    * graphs never do — GraphSpec asserts capped ≡ uncapped on them),
    * and when a hub exists only pairs whose common-neighbor count is
    * hub-driven lose that hub's contribution — the standard
    * link-prediction mitigation (GraphSpec proves both halves on a
    * planted-hub graph). */
  val graph_jaccard: Q = (s, d) =>
    jaccardFromCommon(jaccardCommonPersisted(s, d, 11),
      supplierEdges(s, d, 11), supplierDeg(s, d, 11))

  /** The persisted hub-capped common-neighbor relation of
    * [[graph_jaccard]]: the wedge self-join + count is ~10 M wedge rows
    * at sf0.1 for a relation bounded by node PAIRS (≤ 500 k). The live
    * kernel stays [[jaccardCommon]] (spec-driven; equality seam in
    * OperatorSpec's persisted-artifact proofs). */
  private[graft] def jaccardCommonPersisted(s: SparkSession, d: String,
      m: Int): DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_graph_common", d + "_m" + m) {
      jaccardCommon(supplierEdges(s, d, m), supplierDeg(s, d, m),
        JaccardDegreeCap)
    }

  /** The persisted degree relation of [[supplierEdges]]: jaccardTopK
    * reads it THREE times (hub filter + both denominator broadcasts),
    * and re-aggregating the symmetrized adjacency per read measured
    * +0.3 s at sf0.1 (r10 verdict). One row per node — tiny. */
  private[graft] def supplierDeg(s: SparkSession, d: String,
      m: Int): DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_graph_deg", d + "_m" + m) {
      jaccardDeg(supplierEdges(s, d, m))
    }

  /** Wedge-center degree cap for [[graph_jaccard]]: far above any
    * fixture degree (sf0.1's densest supplier sits near 60), low
    * enough that a capped center's wedge fan-out C(cap, 2) stays a
    * bounded per-task unit at any corpus size. */
  private[graft] val JaccardDegreeCap = 256L

  /** [[graph_jaccard]] kernel over any (a, b), a < b edge relation —
    * recomputes the degree relation per use; the query passes the
    * persisted [[supplierDeg]] instead. */
  private[graft] def jaccardTopK(e: DataFrame, degCap: Long): DataFrame =
    jaccardTopK(e, jaccardDeg(e), degCap)

  private[graft] def jaccardTopK(e: DataFrame, deg: DataFrame,
      degCap: Long): DataFrame =
    jaccardFromCommon(jaccardCommon(e, deg, degCap), e, deg)

  /** the finishing steps over a (live or persisted) common relation —
    * shared so the persisted-artifact query provably runs the same
    * anti-join / denominator / top-20 logic the spec-driven kernel does. */
  private[graft] def jaccardFromCommon(common: DataFrame, e: DataFrame,
      deg: DataFrame): DataFrame = {
    common.join(e, Seq("a", "b"), "left_anti")
      .where(col("common") >= 2)
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("da"))),
        "a")
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("db"))),
        "b")
      .select(col("a"), col("b"), col("common"),
        expr("common * 10000 div (da + db - common)").as("jaccard_bp"))
      .orderBy(desc("jaccard_bp"), asc("a"), asc("b"))
      .limit(20)
  }

  private def jaccardDeg(e: DataFrame): DataFrame =
    symmetrize(e).groupBy(col("v").as("node")).agg(count(lit(1)).as("deg"))

  /** Common-neighbor counts with hub centers excluded — split out so
    * GraphSpec can bound the capped wedge fan-out directly. */
  private[graft] def jaccardCommon(e: DataFrame, degCap: Long): DataFrame =
    jaccardCommon(e, jaccardDeg(e), degCap)

  private[graft] def jaccardCommon(e: DataFrame, deg: DataFrame,
      degCap: Long): DataFrame = {
    val sym = symmetrize(e)
    val hubs = deg.where(col("deg") > degCap)
      .select(col("node").as("u"))
    val centers = sym.join(broadcast(hubs), Seq("u"), "left_anti")
    centers.as("p").join(centers.as("q"),
        col("p.u") === col("q.u") && col("p.v") < col("q.v"))
      .groupBy(col("p.v").as("a"), col("q.v").as("b"))
      .agg(count(lit(1)).as("common"))
  }

  /** 2-core decomposition of the sparse (m=59) graph: iteratively peel
    * nodes of degree < 2 (with the edges they carry) until fixpoint —
    * the classic leaf-stripping that reduces a graph to its cyclic
    * backbone — then report each survivor's in-core degree. Genuinely
    * iterative on the fixture: sf0.01 converges in 18 rounds (long
    * path components peel one layer from each end per round), keeping
    * a 15-node core; sf0.1 is already its own 2-core (round 1 no-op)
    * and sf0.001 peels to empty — all three are verified answers.
    *
    * Rounds are convergence-counted, never fixed; [[KcoreMaxRounds]]
    * (24, measured 18 + margin) is a LOUD `require` bound so a deeper
    * fixture fails the query rather than silently diverging from the
    * oracle, which unrolls exactly 24 peels as chained CTEs — peeling
    * is idempotent at fixpoint, so oracle rounds past convergence are
    * no-ops and the two sides agree whenever the require holds.
    *
    * Budget-dispatched like [[bfsOf]]: under the shared edge budget the
    * peel runs as a driver loop over the collected edge set (identical
    * integer logic, arm-equality-tested); above it, each round is one
    * degree aggregation + two semi-joins back onto the edge list, with
    * a checkpoint + count on the fixpoint kernel. */
  val graph_kcore: Q = (s, d) =>
    kcoreOf(s, supplierEdges(s, d, 59), Llm.CcDriverBudgetEdges,
      memoKey = "graph_kcore|" + d)

  private[graft] val KcoreMaxRounds = 24

  /** edge-parameterized kernel: e is an (a, b), a < b edge relation. */
  private[graft] def kcoreOf(s: SparkSession, e: DataFrame,
      driverBudgetEdges: Long, memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    graft.util.Probes.byBudget(e.select(col("a"), col("b")).as[(Long, Long)],
        driverBudgetEdges, memoKey) { probed =>
      var es = probed.toSet
      var rounds = 0
      var changed = true
      while (changed) {
        val deg = degreesOf(es)
        val next = es.filter { case (a, b) => deg(a) >= 2 && deg(b) >= 2 }
        changed = next.size != es.size
        if (changed) {
          rounds += 1
          require(rounds <= KcoreMaxRounds,
            s"2-core peel exceeded $KcoreMaxRounds rounds — raise " +
              "KcoreMaxRounds AND the oracle unroll together")
          es = next
        }
      }
      s.createDataset(degreesOf(es).toSeq.sortBy(_._1))
        .toDF("node", "core_deg")
        .orderBy("node")
    }(edges => kcoreDistributed(edges.toDF(), edges.count()))
  }

  private def degreesOf(es: Set[(Long, Long)]): Map[Long, Long] =
    es.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }

  private def kcoreDistributed(edges: DataFrame, n0: Long): DataFrame = {
    var size = n0
    // the bound trips on a CHANGING round past KcoreMaxRounds: round
    // KcoreMaxRounds + 1 may still run to confirm the fixpoint
    graft.util.Iterate.fixpoint("graph_kcore",
        graft.util.Iterate.coalesceSmall(edges, n0), KcoreMaxRounds + 1,
        s"2-core peel exceeded $KcoreMaxRounds rounds — raise " +
          "KcoreMaxRounds AND the oracle unroll together") { (cur, _) =>
      val keep = cur.select(col("a").as("v"))
        .unionAll(cur.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("dg"))
        .where(col("dg") >= 2).select("v")
      cur
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
    } { (_, next, r) =>
      r > 0 && {
        val nsize = next.count()
        val same = nsize == size
        size = nsize
        same
      }
    }._1.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
      .orderBy("node")
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007, public knowledge), [[LpaRounds]] fixed rounds on the
    * dense (m=11) graph: every node starts as its own label; each round
    * it adopts the most frequent label among its neighbors, ties broken
    * by the SMALLEST label — both choices deterministic, so "labels
    * after exactly 4 synchronous rounds" is a well-defined relation both
    * engines compute exactly (asynchronous/random-tie LPA is not
    * oracle-able). Fixed rounds also sidestep synchronous LPA's
    * documented 2-cycle oscillation on bipartite structures — the
    * semantics is the 4-round state, convergence deliberately not
    * asserted.
    *
    * Budget-dispatched like [[pagerankOf]]: under the shared edge budget
    * the rounds run as a driver loop over the collected edge list
    * (identical tie-break logic, arm-equality-tested at budget 0);
    * above it each round is one join of the adjacency with the label
    * relation, one (node, label) count, and one row_number window —
    * shuffle keys node then (node, label), the Pregel-style cost —
    * checkpointed by the fixpoint kernel. The oracle unrolls
    * the same 4 rounds as chained CTEs. */
  val graph_lpa: Q = (s, d) => lpaLabels(s, d, 11).orderBy("node")

  private[graft] val LpaRounds = 4

  /** The persisted (node, label) LPA partition: graph_lpa emits it and
    * graph_modularity joins it twice, so the rounds run once
    * (synchronous rounds, min-label ties — deterministic). */
  private[graft] def lpaLabels(s: SparkSession, d: String,
      m: Int): DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_graph_lpa", d + "_m" + m) {
      lpaOf(s, symmetrize(supplierEdges(s, d, m)), Llm.CcDriverBudgetEdges,
        memoKey = "graph_lpa|" + d + "|" + m)
    }

  /** kernel over a symmetric (v, u) adjacency — GraphSpec hand-checks a
    * planted two-clique bridge graph and arm-equality-tests budget 0. */
  private[graft] def lpaOf(s: SparkSession, symIn: DataFrame,
      driverBudgetEdges: Long, memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    graft.util.Probes.byBudget(
        symIn.select(col("v"), col("u")).as[(Long, Long)],
        driverBudgetEdges, memoKey) { es =>
      // symmetric-input contract, guarded LOUDLY: the distributed arm
      // takes its node set from sources only, so a node appearing only
      // as a target would make the two arms silently diverge (here: a
      // bare NoSuchElementException from lbl(u); there: a different
      // node universe). Misuse must fail the same way on both arms.
      val srcs = es.map(_._1).distinct
      val srcSet = srcs.toSet
      require(es.forall(e => srcSet(e._2)),
        "lpaOf requires a symmetrized adjacency: every target node " +
          "must also appear as a source (run symmetrize() first)")
      var lbl: Map[Long, Long] = srcs.map(v => v -> v).toMap
      for (_ <- 1 to LpaRounds) {
        val freq = scala.collection.mutable.HashMap[(Long, Long), Long]()
        es.foreach { case (v, u) =>
          val k = (v, lbl(u)); freq(k) = freq.getOrElse(k, 0L) + 1L
        }
        lbl = freq.toSeq.groupBy(_._1._1).map { case (v, xs) =>
          v -> xs.map { case ((_, l), c) => (c, l) }
            .min(Ordering.by[(Long, Long), (Long, Long)] {
              case (c, l) => (-c, l)
            })._2
        }
      }
      s.createDataset(lbl.toSeq).toDF("node", "label").orderBy("node")
    } { sym =>
      val g = graft.util.Iterate.coalesceSmall(sym.toDF(), sym.count())
      val nodes = g.select(col("v").as("node")).distinct()
      // the SAME symmetric-input contract as the driver arm, enforced
      // distributed (review finding, r12: a one-arm guard lets the
      // above-budget path silently compute over a sources-only node
      // universe): one anti-join existence probe on the cached input,
      // paid once per kernel call — not per round
      require(g.select(col("u").as("node")).distinct()
        .join(nodes, Seq("node"), "left_anti").limit(1).count() == 0,
        "lpaOf requires a symmetrized adjacency: every target node " +
          "must also appear as a source (run symmetrize() first)")
      graft.util.Iterate.rounds("graph_lpa",
          nodes.withColumn("lbl", col("node")), LpaRounds) { (cur, _) =>
        val freq = g
          .join(cur.select(col("node").as("u"), col("lbl")), "u")
          .groupBy(col("v"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("v").orderBy(desc("c"), asc("lbl"))
        freq.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("v").as("node"), col("lbl"))
      }.select(col("node"), col("lbl").as("label")).orderBy("node")
    }
  }

  /** Modularity of the LPA partition (Newman & Girvan, public
    * knowledge) — the community-quality eval every detection run is
    * judged by: Q = Σ_c [e_c/m − (d_c/2m)²] over communities c, with
    * e_c = intra-community edges, d_c = total degree inside c, m = all
    * edges. Computed EXACTLY in integers: per-community numerator
    * `4·m·e_c − d_c²` over the common denominator 4m² (can be negative —
    * emitted RAW, never divided, per the signed-div invariant), and the
    * global Q as basis points via the dq_drift shift rewrite
    * (`(q_num + 4m²)·10000 div 4m² − 10000` — the shifted numerator is
    * non-negative because Q ≥ −1 (Σ(d_c/2m)² ≤ (Σd_c/2m)² = 1), so
    * trunc ≡ floor across engines). 64-bit headroom: the shift
    * multiplies (q_num + 4m²) ≤ 8m² by 10⁴, safe to m ≈ 10⁷ edges;
    * a larger graph scales the bp constant down (the pagerank seed
    * discipline).
    *
    * Shape: one broadcast-joinable label relation (nodes ≪ edges), two
    * label lookups on the edge list, one aggregate per community, one
    * 1-row global aggregate cross-joined back — no shuffle carries
    * anything wider than (label, counts). */
  val graph_modularity: Q = (s, d) =>
    modularityOf(supplierEdges(s, d, 11), lpaLabels(s, d, 11))

  /** kernel over an (a, b) a<b edge relation and a (node, label)
    * partition — GraphSpec hand-checks the two-clique bridge graph
    * (Q = 4230 bp) and the all-in-one identity (a single community has
    * e_in = m, d_c = 2m, so the numerator 4m·m − 4m² is EXACTLY 0 —
    * the textbook Q(trivial partition) = 0). */
  private[graft] def modularityOf(e: DataFrame,
      labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("a"), col("label").as("lbl_a"))
    val lb = labels.select(col("node").as("b"), col("label").as("lbl_b"))
    val tagged = e.join(broadcast(la), "a").join(broadcast(lb), "b")
    // per-community intra-edge count; degree sums from the symmetric view
    val eIn = tagged.where(col("lbl_a") === col("lbl_b"))
      .groupBy(col("lbl_a").as("label"))
      .agg(count(lit(1)).as("e_in"))
    val degC = symmetrize(e)
      .join(broadcast(labels.select(col("node").as("v"), col("label"))), "v")
      .groupBy("label")
      .agg(count(lit(1)).as("d_c"),
        countDistinct(col("v")).as("n_nodes"))
    val m = e.agg(count(lit(1)).as("m"))
    // the global q_num rides a single-partition window over the tiny
    // per-community relation (the win_share pattern) instead of a
    // separate aggregate cross-joined back — the latter re-executes the
    // whole label-join + aggregation subtree a second time (review
    // finding, this session)
    val per = degC.join(eIn, Seq("label"), "left")
      .select(col("label"), col("n_nodes"), col("d_c"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("d_c"), col("e_in"),
        col("m"),
        (lit(4L) * col("m") * col("e_in") - col("d_c") * col("d_c"))
          .as("contrib_num"))
    per
      .withColumn("q_num", sum(col("contrib_num")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("label"), col("n_nodes"), col("d_c"), col("e_in"),
        col("contrib_num"),
        (expr("(q_num + 4 * m * m) * 10000 div (4 * m * m)") -
          lit(10000L)).as("q_bp"))
      .orderBy("label")
  }

  // ---- directed family (r13): strongly connected components ----

  /** (s, t) — the DIRECTED supplier graph (r12 verdict missing #6
    * opener): each sparsified co-order pair from a mid-density (m=23)
    * derivation is ORIENTED by a hash parity (reduced mod the large
    * prime BEFORE the small modulus, the repo invariant), and a sparse
    * hash slice of the pairs additionally contributes its REVERSE edge
    * — without it every 2-cycle would vanish under single-orientation
    * and SCCs would only form on odd cycles. Deterministic, both
    * engines replay it exactly. */
  private[graft] def directedSupplierEdges(s: SparkSession,
      d: String): DataFrame = {
    // m=23 picked by measurement: at sf0.01 it yields a giant SCC (39
    // nodes), a second multi-node SCC and singletons — m=11 collapses
    // to ONE all-node SCC (a trivially-passable fixture), m=59 to near-
    // all singletons
    val e = supplierEdges(s, d, 23)
    val fwd = ((col("a") * lit(40503L) + col("b") * lit(2654435761L))
      % lit(1000003L)) % lit(2L) === 0
    val oriented = e.select(
      when(fwd, col("a")).otherwise(col("b")).as("s"),
      when(fwd, col("b")).otherwise(col("a")).as("t"))
    val reversed = e
      .where(((col("a") * lit(7L) + col("b") * lit(13L))
        % lit(1000003L)) % lit(4L) === 0)
      .select(
        when(fwd, col("b")).otherwise(col("a")).as("s"),
        when(fwd, col("a")).otherwise(col("b")).as("t"))
    oriented.union(reversed).distinct()
  }

  /** The persisted SCC label relation (node, scc): [[graph_scc]] orders
    * it and [[graph_topo]]'s condensation joins it, so the Tarjan /
    * min-label matching pass is paid once. */
  private[graft] def sccLabels(s: SparkSession, d: String): DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_graph_scc", d) {
      sccOf(s, directedSupplierEdges(s, d), Llm.CcDriverBudgetEdges,
        memoKey = "graph_scc|" + d)
    }

  /** Strongly connected components of the directed supplier graph:
    * (node, scc) with scc = the smallest member id. Budget-dispatched
    * like [[graph_cc]]: iterative Tarjan on the driver under
    * [[Llm.CcDriverBudgetEdges]] (one linear pass — the right tool for
    * any collected subgraph), min-label forward/backward matching
    * above (see [[sccDistributed]]). The oracle replays mutual
    * reachability as a recursive CTE. */
  val graph_scc: Q = (s, d) =>
    sccLabels(s, d).orderBy("node")

  /** Bounded k-hop reachability over the directed supplier graph: per
    * node, how many DISTINCT nodes its ≤2-step out-neighborhood holds —
    * the friend-of-friend influence/exposure feature directed graphs
    * exist for (fraud blast radius, dependency fan-out). Exact and
    * bounded: k is FIXED, so the plan is k−1 static join+distinct
    * levels (each level dedups before the next expands — the
    * semi-naive discipline; without the per-level distinct a dense
    * level multiplies paths combinatorially), each level checkpointed
    * by the fixpoint kernel (the iterative-plan invariant).
    * Zero-out-degree nodes report 0 via the node-relation
    * left join, never drop out. k is 2 BY MEASUREMENT: the m=23
    * directed graph carries a giant SCC (24.7k edges at sf0.1), so the
    * ≤3 closure is ~n·|reach| ≈ millions of pairs (measured ~4 s) for
    * a feature whose signal saturates — the closure-y questions belong
    * to [[graph_scc]]/[[graph_topo]]; ≤2 stays candidate-bounded by
    * Σ in(t)·out(t). 100 TB: each level is one shuffle join keyed on
    * the frontier's tail + one dedup — no recursion, no driver loop.
    * Budget-dispatched like [[bfsOnSym]] (r16 optimization): under
    * [[Llm.CcDriverBudgetEdges]] the k-level walk runs as per-source
    * driver BFS over the collected edge list — the distributed loop is
    * 2(k+1) checkpoint/shuffle jobs of pure overhead on a small graph
    * (measured 1.24 s floor at sf0.1's 24.7k edges vs ~0.2 s collected);
    * arm equality at budget 0 in GraphSpec. */
  val graph_reach: Q = (s, d) =>
    reachOf(s, directedSupplierEdges(s, d), 2,
      memoKey = s"graph_reach|$d").orderBy("node")

  private[graft] def reachOf(s: SparkSession, edgesIn: DataFrame,
      k: Int,
      driverBudgetEdges: Long = Llm.CcDriverBudgetEdges,
      memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    // the raw edge list is probed (no distinct shuffle): the driver BFS
    // dedups edges itself (HashSet frontier/reached), so the distinct is
    // only needed on the distributed arm
    graft.util.Probes.byBudget(
        edgesIn.select(col("s"), col("t")).as[(Long, Long)],
        driverBudgetEdges, memoKey) { es =>
      val adj = es.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).distinct }
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val out = nodes.map { src =>
        // min-dist BFS to depth k: reached = nodes with a ≥1-step path
        // of length ≤ k (a cycle back to src counts src, same as the
        // distributed walk's (s, s) pair)
        val reached = scala.collection.mutable.HashSet.empty[Long]
        var frontier: Array[Long] = Array(src)
        var h = 0
        while (h < k && frontier.nonEmpty) {
          frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
            .distinct.filterNot(reached.contains)
          reached ++= frontier
          h += 1
        }
        (src, reached.size.toLong)
      }
      s.createDataset(out.toSeq).toDF("node", s"n_reach$k")
    } { raw =>
      // e is read by every level: a loop input, cached for the loop; the
      // final walk contains e, so it alone yields the node set
      val e = raw.toDF().distinct()
      val walk = graft.util.Iterate.rounds("graph_reach", e, k - 1,
          inputs = Seq(e)) { (walk, _) =>
        walk.union(
          walk.as("w").join(e.as("x"), col("w.t") === col("x.s"))
            .select(col("w.s").as("s"), col("x.t").as("t")))
          .distinct()
      }
      val nodes = walk.select(col("s").as("node"))
        .union(walk.select(col("t").as("node"))).distinct()
      nodes.join(walk.groupBy("s").agg(count(lit(1)).as("n")),
          nodes("node") === col("s"), "left")
        .select(col("node"),
          coalesce(col("n"), lit(0L)).as(s"n_reach$k"))
    }
  }

  private[graft] def sccOf(s: SparkSession, edgesIn: DataFrame,
      driverBudgetEdges: Long, memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    graft.util.Probes.byBudget(
        edgesIn.select(col("s").cast("long"), col("t").cast("long"))
          .as[(Long, Long)],
        driverBudgetEdges, memoKey) { es =>
      s.createDataset(tarjanScc(es)).toDF("node", "scc")
    }(edges => sccDistributed(edges.toDF()))
  }

  /** Iterative (explicit-stack) Tarjan — the driver arm. Linear in
    * V + E; SCC label = the smallest member id, matching the
    * distributed arm and the oracle. */
  private[graft] def tarjanScc(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = es.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStack = scala.collection.mutable.HashSet.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      val frames = scala.collection.mutable.ArrayBuffer((root, 0))
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack += root
      while (frames.nonEmpty) {
        val (v, ci) = frames.last
        val nbrs = adj.getOrElse(v, Array.empty[Long])
        if (ci < nbrs.length) {
          frames(frames.length - 1) = (v, ci + 1)
          val w = nbrs(ci)
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack += w
            frames += ((w, 0))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          frames.remove(frames.length - 1)
          if (frames.nonEmpty) {
            val p = frames.last._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            var members = List.empty[Long]
            var w = 0L
            do {
              w = stack.remove(stack.length - 1); onStack -= w
              members ::= w
            } while (w != v)
            val label = members.min
            members.foreach(m => comp(m) = label)
          }
        }
      }
    }
    nodes.map(nd => nd -> comp(nd)).toSeq
  }

  /** Distributed SCC by min-label forward/backward matching (the
    * FW-BW pivot family with the global structure done per ROUND, not
    * per pivot): each round computes f(v) = min node forward-reachable
    * from v and b(v) = min node backward-reachable, both restricted to
    * the remaining subgraph; every node with f(v) = b(v) = m is in
    * SCC(m) (m reaches v and v reaches m) and is emitted and removed.
    * The SCC holding the remaining subgraph's global min always
    * matches, so progress is guaranteed; real-world graphs shed most
    * SCCs per round (the FW-BW observation), while an adversarially
    * id-ordered chain degrades toward one SCC per round — the loud
    * 128-round bound names that case instead of hanging. The round
    * state is one (node, scc) relation, scc null while the node
    * remains; each round caches the edges among the remaining nodes
    * and runs two min-propagation fixpoints over them (one hash-join +
    * one aggregate per hop, O(longest chain) hops), nested loops of
    * the same kernel. Nothing wider than (node, label) ever shuffles. */
  private[graft] def sccDistributed(edges: DataFrame): DataFrame =
    graft.util.Iterate.fixpoint("graph_scc",
        edges.select(col("s").as("node"))
          .union(edges.select(col("t").as("node"))).distinct()
          .select(col("node"), lit(null).cast("long").as("scc")),
        128,
        "sccDistributed exceeded 128 pivot rounds — adversarially " +
          "chain-ordered ids; raise the driver budget for this graph") {
      (lbl, round) =>
        val remaining = lbl.where(col("scc").isNull).select("node")
        val live = round.cache(edges
          .join(remaining.select(col("node").as("s")), Seq("s"), "left_semi")
          .join(remaining.select(col("node").as("t")), Seq("t"), "left_semi")
          .select("s", "t"))
        val f = minReach(round, live, remaining, forward = true, "fmin")
        val b = minReach(round, live, remaining, forward = false, "bmin")
        val matched = f.join(b, "node").where(col("fmin") === col("bmin"))
          .select(col("node"), col("fmin").as("m"))
        lbl.join(matched, Seq("node"), "left")
          .select(col("node"), coalesce(col("scc"), col("m")).as("scc"))
    } { (_, lbl, _) =>
      lbl.where(col("scc").isNull).limit(1).count() == 0
    }._1

  /** Fixpoint of lbl(v) = min(v, min over v→u of lbl(u)) restricted to
    * `nodes` — the min node reachable along the edge direction
    * (`forward = false` flips the edges for backward reach). One
    * equi-join + one aggregate per hop; converges in O(longest
    * shortest-path chain) hops, loudly bounded. A nested loop of
    * `round`, which releases its result. */
  private def minReach(round: graft.util.Iterate.Round, edges: DataFrame,
      nodes: DataFrame, forward: Boolean, out: String): DataFrame = {
    val e =
      if (forward) edges
      else edges.select(col("t").as("s"), col("s").as("t"))
    round.fixpoint(nodes.select(col("node"), col("node").as("m")), 256,
        "minReach exceeded 256 hops — cycle bookkeeping broke") {
      (lbl, _) =>
        val pulled = e
          .join(lbl.select(col("node").as("t"), col("m").as("tm")), "t")
          .groupBy(col("s").as("node")).agg(min(col("tm")).as("pm"))
        lbl.join(pulled, Seq("node"), "left")
          .select(col("node"),
            least(col("m"), coalesce(col("pm"), col("m"))).as("m"))
    } { (lbl, next, r) =>
      r > 0 && next.join(lbl.select(col("node"), col("m").as("m0")), "node")
        .where(col("m") < col("m0")).limit(1).count() == 0
    }.select(col("node"), col("m").as(out))
  }

  /** The persisted SCC-condensation edge relation (cs, ct — distinct
    * cross-component edges), a join of the directed edges with
    * [[sccLabels]]; what stays live in [[graph_topo]] is the
    * longest-path layering — the scheduling computation the operator
    * exists for. */
  private def condensedEdges(s: SparkSession, d: String): DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_graph_ced", d) {
      val comp = sccLabels(s, d)
      val labS = comp.select(col("node").as("s"), col("scc").as("cs"))
      val labT = comp.select(col("node").as("t"), col("scc").as("ct"))
      directedSupplierEdges(s, d)
        .join(broadcast(labS), "s").join(broadcast(labT), "t")
        .where(col("cs") =!= col("ct"))
        .select("cs", "ct").distinct()
    }

  /** Topological LAYERING of the SCC condensation — the directed
    * family's scheduling primitive (what "which task batches can run in
    * parallel" asks of a dependency graph): condense the directed graph
    * to its SCC DAG (one node per component, distinct cross-component
    * edges), then layer(c) = the longest path length from any source to
    * c — the earliest parallel wave c can run in. Output one row per
    * component: (scc, layer, n_members). Composes the persisted
    * [[sccLabels]] relation with a budget-dispatched longest-path kernel
    * ([[topoLayersOf]]); the condensed relation is components-sized,
    * never edge-sized, and the label join broadcasts (labels ≪ edges).
    * The oracle replays condensation + the layer as a recursive max-
    * depth walk (finite BECAUSE the condensation is a DAG). */
  val graph_topo: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    // both inputs are persisted, tiny relations (SCC labels,
    // condensation edges) — under the shared budget the whole query is
    // two probe jobs + the Kahn DP + one createDataset, members counted
    // off the same label rows. One key for both probes: either input
    // over budget sends every later call straight to the distributed
    // path.
    val budget = Llm.CcDriverBudgetEdges
    val topoKey = s"graph_topo|$d"
    def distributed(comp: DataFrame, ced: DataFrame): DataFrame =
      topoLayersOf(sp, comp.select(col("scc")).distinct(), ced, budget)
        .join(comp.groupBy("scc").agg(count(lit(1)).as("n_members")), "scc")
        .select(col("scc"), col("layer"), col("n_members"))
        .orderBy("scc")
    graft.util.Probes.byBudget(sccLabels(s, d).as[(Long, Long)], budget,
        topoKey) { labels =>
      graft.util.Probes.byBudget(condensedEdges(s, d).as[(Long, Long)],
          budget, topoKey) { ces =>
        val members = labels.groupBy(_._2).map { case (c, xs) =>
          c -> xs.length.toLong
        }
        val layers = topoLayersLocal(members.keys.toArray, ces)
        s.createDataset(layers.map { case (c, l) => (c, l, members(c)) })
          .toDF("scc", "layer", "n_members")
          .orderBy("scc")
      }(ced => distributed(sccLabels(s, d), ced.toDF()))
    }(comp => distributed(comp.toDF(), condensedEdges(s, d)))
  }

  /** layer(c) = longest path from any source to c over a DAG, budget-
    * dispatched: driver DP in reverse-topological (Kahn) order under
    * the edge budget, distributed max-relaxation rounds above (each
    * round one join + one max-aggregate, layer values only ever grow,
    * fixpoint in O(longest path) rounds, loudly bounded — a cycle
    * would relax forever, and the bound names that instead of
    * hanging). Arm-equality is GraphSpec's. */
  private[graft] def topoLayersOf(s: SparkSession, compsIn: DataFrame,
      cedIn: DataFrame, driverBudgetEdges: Long): DataFrame = {
    val sp = s
    import sp.implicits._
    val comps = compsIn.select(col("scc").cast("long"))
    graft.util.Probes.byBudget(
        cedIn.select(col("cs").cast("long"), col("ct").cast("long"))
          .as[(Long, Long)],
        driverBudgetEdges, null) { es =>
      s.createDataset(topoLayersLocal(comps.as[Long].collect(), es))
        .toDF("scc", "layer")
    }(ced => topoLayersDistributed(comps, ced.toDF()))
  }

  /** the pure Kahn longest-path DP — shared by [[topoLayersOf]]'s driver
    * arm and [[graph_topo]]'s consolidated driver path (r16). */
  private[graft] def topoLayersLocal(all: Array[Long],
      es: Array[(Long, Long)]): Seq[(Long, Int)] = {
    val indeg = scala.collection.mutable.HashMap[Long, Int]()
    all.foreach(c => indeg(c) = 0)
    es.foreach { case (_, t) => indeg(t) = indeg(t) + 1 }
    val out = es.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val layer = scala.collection.mutable.HashMap[Long, Int]()
    all.foreach(c => layer(c) = 0)
    val queue = scala.collection.mutable.Queue(
      all.filter(indeg(_) == 0).sorted: _*)
    var seen = 0
    while (queue.nonEmpty) {
      val c = queue.dequeue(); seen += 1
      out.getOrElse(c, Array.empty[Long]).foreach { t =>
        if (layer(c) + 1 > layer(t)) layer(t) = layer(c) + 1
        indeg(t) -= 1
        if (indeg(t) == 0) queue.enqueue(t)
      }
    }
    require(seen == all.length,
      s"topoLayersOf: condensation is not a DAG ($seen of " +
        s"${all.length} drained) — SCC labeling broke")
    all.toSeq.map(c => (c, layer(c)))
  }

  private def topoLayersDistributed(comps: DataFrame,
      ced: DataFrame): DataFrame =
    graft.util.Iterate.fixpoint("graph_topo",
        comps.select(col("scc"), lit(0).as("layer")), 128,
        "topoLayersDistributed exceeded 128 relaxation rounds — the " +
          "condensation holds a cycle or a >128-layer chain") { (lay, _) =>
      val pushed = ced
        .join(lay.select(col("scc").as("cs"), col("layer").as("ls")), "cs")
        .groupBy(col("ct").as("scc"))
        .agg(max(col("ls") + 1).as("pushed"))
      lay.join(pushed, Seq("scc"), "left")
        .select(col("scc"),
          greatest(col("layer"), coalesce(col("pushed"), col("layer")))
            .as("layer"))
    } { (lay, next, r) =>
      r > 0 && next.join(lay.select(col("scc"), col("layer").as("l0")), "scc")
        .where(col("layer") > col("l0")).limit(1).count() == 0
    }._1

  /** The weighted directed derivation: the same m=23 orientation as
    * [[directedSupplierEdges]], but each edge carries the co-order
    * MULTIPLICITY (count of distinct orders both suppliers served) as
    * its weight — computed BEFORE the distinct that the unweighted
    * family applies, so the edge SET is identical and the weight is
    * the natural "relationship strength" a weighted-path question
    * asks about. (s, t) tuples are unique by construction (each
    * unordered a<b pair contributes one orientation, plus at most one
    * reverse edge — a different tuple), so no aggregation is needed
    * after the union and both engines replay the relation verbatim.
    * Persisted ([[weightedDirectedEdges]]): graph_sssp and
    * graph_closeness both traverse it. */
  private[graft] def weightedDirectedEdgesRaw(s: SparkSession,
      d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val x = li.select(col("ok"), col("sk").as("a"))
    val y = li.select(col("ok").as("ok2"), col("sk").as("b"))
    val wp = x.join(y, col("ok") === col("ok2") && col("a") < col("b"))
      .where(((col("a") * lit(2654435761L) + col("b") * lit(40503L))
        % lit(1000003L)) % lit(23L) === 0)
      .groupBy("a", "b")
      .agg(countDistinct(col("ok")).as("w"))
    val fwd = ((col("a") * lit(40503L) + col("b") * lit(2654435761L))
      % lit(1000003L)) % lit(2L) === 0
    val oriented = wp.select(
      when(fwd, col("a")).otherwise(col("b")).as("s"),
      when(fwd, col("b")).otherwise(col("a")).as("t"), col("w"))
    val reversed = wp
      .where(((col("a") * lit(7L) + col("b") * lit(13L))
        % lit(1000003L)) % lit(4L) === 0)
      .select(
        when(fwd, col("b")).otherwise(col("a")).as("s"),
        when(fwd, col("a")).otherwise(col("b")).as("t"), col("w"))
    oriented.union(reversed)
  }

  private[graft] def weightedDirectedEdges(s: SparkSession,
      d: String): DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_graph_wedges", d + "_wdir23") {
      weightedDirectedEdgesRaw(s, d)
    }

  /** The ONE hop/round bound shared by the driver arm's hop check, the
    * distributed arm's relaxation-round bound, AND the oracle's
    * unrolled Bellman–Ford depth: every min-distance path must settle
    * within this many edges or every path fails LOUDLY and
    * consistently — the engine can never silently disagree with an
    * oracle whose unroll was one round short. */
  private[graft] val SsspUnrollRounds = 32

  /** Single-source shortest paths over the weighted directed supplier
    * graph (source = the smallest node id, the BFS convention): (node,
    * dist) per node, NULL dist for unreachable — the weighted-distance
    * member the directed family lacked (r13 verdict missing #4).
    * Budget-dispatched like every Graph loop: a binary-heap Dijkstra
    * on the driver under the shared edge budget (positive integer
    * weights — counts ≥ 1 — so Dijkstra's settled order is exact, and
    * it additionally tracks the minimum HOP count among min-distance
    * paths to certify the [[SsspUnrollRounds]] bound); distributed
    * Bellman–Ford min-relaxation rounds above (each round one shuffle
    * join on the frontier + one min-aggregate, checkpointed per
    * the iterative invariant, loudly bounded). Exact BIGINT distances
    * end to end — no float discipline needed. Oracle: the identical
    * Bellman–Ford UNROLLED [[SsspUnrollRounds]] rounds as chained CTEs
    * (the llm_unigram / pagerank discipline) — d_k(v) = min over
    * ≤k-hop paths, exact because the engine certifies every shortest
    * path settles within the unroll. */
  val graph_sssp: Q = (s, d) =>
    ssspOf(s, weightedDirectedEdges(s, d), Llm.CcDriverBudgetEdges,
      memoKey = s"graph_sssp|$d")
      .orderBy("node")

  private[graft] def ssspOf(s: SparkSession, edgesIn: DataFrame,
      driverBudgetEdges: Long, memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    val sel = edgesIn.select(col("s").cast("long"),
      col("t").cast("long"), col("w").cast("long"))
    // on the driver arm the node set, the min-id source and the
    // unreachable-node NULLs all derive from the collected edges —
    // value-identical to the distributed arm's left join.
    graft.util.Probes.byBudget(sel.as[(Long, Long, Long)], driverBudgetEdges,
        memoKey) { es =>
      if (es.isEmpty) Seq.empty[(Long, Option[Long])].toDF("node", "dist")
      else {
        val nodesL = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
        val dm = dijkstra(es, nodesL.min).toMap
        s.createDataset(nodesL.map(n => (n, dm.get(n))).toSeq)
          .toDF("node", "dist")
      }
    } { ds =>
      val edges = ds.toDF()
      val nodes = edges.select(col("s").as("node"))
        .union(edges.select(col("t").as("node"))).distinct()
      val src = nodes.agg(min(col("node"))).head().getLong(0)
      val dist: DataFrame = ssspDistributed(edges, src)
      nodes.join(dist, Seq("node"), "left")
        .select(col("node"), col("dist"))
    }
  }

  /** Driver arm: binary-heap Dijkstra over positive integer weights,
    * tracking per node the min hop count among min-distance paths —
    * `require(hops < SsspUnrollRounds)` certifies the oracle's unroll
    * depth covers every settled path (and the distributed arm's round
    * bound with it). */
  private[graft] def dijkstra(es: Array[(Long, Long, Long)],
      src: Long): Seq[(Long, Long)] = {
    es.foreach { case (_, _, w) => require(w >= 1,
      s"sssp needs positive weights, got $w") }
    val adj = es.groupBy(_._1).map { case (v, xs) =>
      v -> xs.map(e => (e._2, e._3)) }
    val dist = scala.collection.mutable.HashMap.empty[Long, Long]
    val hops = scala.collection.mutable.HashMap.empty[Long, Int]
    val settled = scala.collection.mutable.HashSet.empty[Long]
    val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
      Ordering.by[(Long, Long), (Long, Long)](x => (-x._1, -x._2)))
    dist(src) = 0L; hops(src) = 0; pq.enqueue((0L, src))
    while (pq.nonEmpty) {
      val (du, u) = pq.dequeue()
      if (!settled(u) && du == dist(u)) {
        settled += u
        require(hops(u) < SsspUnrollRounds,
          s"a shortest path needs ${hops(u)} hops — past the " +
            s"$SsspUnrollRounds-round unroll the oracle replays; raise " +
            "SsspUnrollRounds in lockstep with the oracle")
        for ((v, w) <- adj.getOrElse(u, Array.empty[(Long, Long)])) {
          val nd = du + w
          if (!dist.contains(v) || nd < dist(v)) {
            dist(v) = nd; hops(v) = hops(u) + 1; pq.enqueue((nd, v))
          } else if (nd == dist(v) && hops(u) + 1 < hops(v)) {
            // equal-distance path with fewer hops: every min-dist
            // predecessor settles before v (positive weights), so the
            // hop minimum is exact when v settles
            hops(v) = hops(u) + 1
          }
        }
      }
    }
    dist.toSeq.sorted
  }

  /** Distributed arm: Bellman–Ford min-relaxation to fixpoint, one
    * shuffle join + one min-aggregate per round, loudly bounded by the
    * shared unroll constant. */
  private def ssspDistributed(edges: DataFrame, src: Long): DataFrame =
    graft.util.Iterate.fixpoint("graph_sssp",
        edges.sparkSession.range(1).select(lit(src).as("node"),
          lit(0L).as("dist")),
        SsspUnrollRounds,
        s"ssspDistributed exceeded $SsspUnrollRounds relaxation " +
          "rounds — raise SsspUnrollRounds in lockstep with the oracle") {
      (dist, _) =>
        val relaxed = dist.join(edges, dist("node") === edges("s"))
          .select(col("t").as("node"), (col("dist") + col("w")).as("nd"))
        dist.select(col("node"), col("dist").as("nd"))
          .union(relaxed)
          .groupBy("node").agg(min(col("nd")).as("dist"))
    } { (dist, next, r) =>
      r > 0 && next.join(dist.select(col("node"), col("dist").as("d0")),
          Seq("node"), "left")
        .where(col("d0").isNull || col("dist") < col("d0"))
        .limit(1).count() == 0
    }._1

  /** Source-set size for [[graph_closeness]]: the S smallest node ids —
    * deterministic in both engines (a total order, no sampling seed).
    * Pivot-set harmonic centrality is the published scale shape
    * (exact closeness is all-pairs); at 100 TB, S stays fixed while
    * each source's frontier shares ONE multi-source relaxation. */
  private[graft] val ClosenessSources = 8

  /** Harmonic closeness centrality of the [[ClosenessSources]] smallest
    * nodes over the weighted directed graph (r14 verdict missing #5 —
    * the path-centrality member beyond PageRank): per source v,
    * `n_reach` = |{u ≠ v reachable}| and `h_bp` = Σ (10000 div d(v,u))
    * — the harmonic sum as EXACT integer basis points (per-term integer
    * division; a float 1/d sum diverges cross-engine in the 4th
    * decimal, the Det ratio rule). Budget-dispatched on the shared
    * edge budget: per-source Dijkstra on the driver (the sssp kernel,
    * hop-certifying the shared unroll bound), ONE multi-source
    * Bellman–Ford above — (src, node) keyed state, so S sources cost
    * one relaxation fixpoint, not S. Oracle: the sssp unrolled-CTE
    * pattern keyed by (src, node). */
  val graph_closeness: Q = (s, d) =>
    closenessOf(s, weightedDirectedEdges(s, d), Llm.CcDriverBudgetEdges,
      memoKey = s"graph_closeness|$d")
      .orderBy("node")

  private[graft] def closenessOf(s: SparkSession, edgesIn: DataFrame,
      driverBudgetEdges: Long, memoKey: String = null): DataFrame = {
    val sp = s
    import sp.implicits._
    val sel = edgesIn.select(col("s").cast("long"),
      col("t").cast("long"), col("w").cast("long"))
    // on the driver arm the src list, per-source Dijkstra, n_reach and
    // the integer h_bp (10000 div dist, dist > 0) all derive from the
    // collected edge list; arm equality vs the distributed Bellman–Ford
    // is GraphSpec's.
    graft.util.Probes.byBudget(sel.as[(Long, Long, Long)], driverBudgetEdges,
        memoKey) { es =>
      val nodesL = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val srcsL = nodesL.take(ClosenessSources)
      val out = srcsL.map { src =>
        val dm = dijkstra(es, src).filter(_._1 != src)
        (src, dm.size.toLong, dm.map { case (_, dd) => 10000L / dd }.sum)
      }
      s.createDataset(out.toSeq).toDF("node", "n_reach", "h_bp")
    } { ds =>
      val edges = ds.toDF()
      val nodes = edges.select(col("s").as("node"))
        .union(edges.select(col("t").as("node"))).distinct()
      // S smallest ids — a bounded driver payload at any graph size
      val srcs = nodes.orderBy("node").limit(ClosenessSources)
        .as[Long].collect().toSeq
      val dist: DataFrame = closenessDistributed(s, edges, srcs)
      val agg = dist.where(col("node") =!= col("src"))
        .groupBy("src")
        .agg(count(lit(1)).as("nr"),
          sum(expr("10000 div dist")).as("hb"))
      srcs.toDF("node")
        .join(agg, col("node") === col("src"), "left")
        .select(col("node"),
          coalesce(col("nr"), lit(0L)).as("n_reach"),
          coalesce(col("hb"), lit(0L)).as("h_bp"))
    }
  }

  /** Distributed arm: ONE Bellman–Ford min-relaxation fixpoint over
    * (src, node)-keyed state — all sources relax together, each round
    * one shuffle join + one min-aggregate, checkpointed per the
    * iterative invariant, loudly bounded by the shared unroll constant. */
  private def closenessDistributed(s: SparkSession, edges: DataFrame,
      srcs: Seq[Long]): DataFrame = {
    val sp = s
    import sp.implicits._
    graft.util.Iterate.fixpoint("graph_closeness",
        srcs.toDF("src").select(col("src"), col("src").as("node"),
          lit(0L).as("dist")),
        SsspUnrollRounds,
        s"closenessDistributed exceeded $SsspUnrollRounds relaxation " +
          "rounds — raise SsspUnrollRounds in lockstep with the oracle") {
      (dist, _) =>
        val relaxed = dist.join(edges, dist("node") === edges("s"))
          .select(col("src"), col("t").as("node"),
            (col("dist") + col("w")).as("nd"))
        dist.select(col("src"), col("node"), col("dist").as("nd"))
          .union(relaxed)
          .groupBy("src", "node").agg(min(col("nd")).as("dist"))
    } { (dist, next, r) =>
      r > 0 && next.join(
          dist.select(col("src"), col("node"), col("dist").as("d0")),
          Seq("src", "node"), "left")
        .where(col("d0").isNull || col("dist") < col("d0"))
        .limit(1).count() == 0
    }._1
  }

  val queries: Seq[(String, Q)] = Seq(
    "graph_scc" -> graph_scc,
    "graph_sssp" -> graph_sssp,
    "graph_closeness" -> graph_closeness,
    "graph_reach" -> graph_reach,
    "graph_topo" -> graph_topo,
    "graph_cc" -> graph_cc,
    "graph_bfs" -> graph_bfs,
    "graph_triangles" -> graph_triangles,
    "graph_pagerank" -> graph_pagerank,
    "graph_jaccard" -> graph_jaccard,
    "graph_kcore" -> graph_kcore,
    "graph_lpa" -> graph_lpa,
    "graph_modularity" -> graph_modularity,
  )

  /** shared oracle CTE bodies (DuckDB): the edge derivation, its
    * symmetrization, and the node set, parameterized by the sparsity
    * modulus. */
  private def edgeCtes(m: Int): String =
    s"""edges AS (
          SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
          FROM lineitem x JOIN lineitem y
            ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
          WHERE ((x.l_suppkey * 2654435761 + y.l_suppkey * 40503)
                 % 1000003) % $m = 0),
        sym AS (SELECT a AS s, b AS t FROM edges
                UNION ALL SELECT b AS s, a AS t FROM edges),
        nodes AS (SELECT DISTINCT s AS node FROM sym)"""

  /** the directed-derivation replay CTEs (orientation parity + the
    * sparse reverse slice) shared by every directed-graph oracle. */
  private def dirCtes: String =
    s"""dedges AS (
            SELECT CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                             % 2 = 0 THEN a ELSE b END AS s,
                   CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                             % 2 = 0 THEN b ELSE a END AS t
            FROM edges
            UNION
            SELECT CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                             % 2 = 0 THEN b ELSE a END AS s,
                   CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                             % 2 = 0 THEN a ELSE b END AS t
            FROM edges
            WHERE ((a * 7 + b * 13) % 1000003) % 4 = 0),
          dnodes AS (
            SELECT DISTINCT s AS node FROM
              (SELECT s FROM dedges UNION ALL SELECT t AS s FROM dedges))"""

  /** the SCC replay CTEs shared by graph_scc and graph_topo: the
    * directed derivation, the reachability closure, and comp = per-node
    * min mutual partner. */
  private def sccCtes: String =
    s"""$dirCtes,
          reach(node, r) AS (
            SELECT node, node FROM dnodes
            UNION
            SELECT w.node, e.t FROM reach w JOIN dedges e ON w.r = e.s),
          comp AS (
            SELECT p.node, min(p.r) AS scc
            FROM reach p JOIN reach q ON p.node = q.r AND p.r = q.node
            GROUP BY p.node)"""

  /** 8 unrolled PageRank iterations as chained CTEs — the same integer
    * arithmetic as the Spark loop (`//` is DuckDB's integer division;
    * both engines truncate, and every intermediate is non-negative).
    * Integer sums CAST to BIGINT (DuckDB sums integers into HUGEINT). */
  private def pagerankOracle: String = {
    val iters = (1 to 8).map { i =>
      s"""c$i AS (
          SELECT y.t AS node, CAST(sum(p.rank // d.od) AS BIGINT) AS inc
          FROM pr${i - 1} p JOIN deg d ON d.node = p.node
            JOIN sym y ON y.s = p.node
          GROUP BY 1),
        pr$i AS (
          SELECT n.node, 150000000000 + COALESCE(c.inc, 0) * 85 // 100 AS rank
          FROM nodes n LEFT JOIN c$i c ON c.node = n.node)"""
    }.mkString(",\n        ")
    s"""WITH ${edgeCtes(11)},
        deg AS (SELECT s AS node, count(1) AS od FROM sym GROUP BY 1),
        pr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank
                FROM nodes),
        $iters
        SELECT node, CAST(rank AS BIGINT) AS rank FROM pr8
        ORDER BY rank DESC, node"""
  }

  /** [[SsspUnrollRounds]] unrolled Bellman–Ford rounds as chained CTEs
    * (the pagerank/unigram discipline): d_k(v) = min distance over
    * ≤k-hop paths — exact because the ENGINE certifies every shortest
    * path settles within the unroll (the dijkstra hop check / the
    * distributed round bound, all three reading the one constant). The
    * weighted directed derivation replays the engine's: per-pair
    * distinct-order multiplicity, the m=23 hash slice, orientation
    * parity + the sparse reverse slice. All-integer arithmetic. */
  private def ssspOracle: String = {
    // AS MATERIALIZED is load-bearing: each round references the
    // previous round TWICE (carry + relax), and DuckDB inlines plain
    // CTEs — 2^32 plan expansion, observed as a too-many-open-files
    // blowup re-opening lineitem per inlined leaf
    val rounds = (1 to SsspUnrollRounds).map { i =>
      s"""d$i AS MATERIALIZED (
          SELECT node, min(nd) AS dist FROM (
            SELECT node, dist AS nd FROM d${i - 1}
            UNION ALL
            SELECT e.t AS node, p.dist + e.w AS nd
            FROM d${i - 1} p JOIN wdedges e ON e.s = p.node)
          GROUP BY node)"""
    }.mkString(",\n        ")
    s"""WITH $weightedCtes,
        d0 AS (SELECT min(node) AS node, CAST(0 AS BIGINT) AS dist
               FROM wnodes),
        $rounds
        SELECT n.node, CAST(d.dist AS BIGINT) AS dist
        FROM wnodes n LEFT JOIN d$SsspUnrollRounds d ON d.node = n.node
        ORDER BY n.node"""
  }

  /** the weighted-directed-edge replay CTEs (distinct-order weights, the
    * m=23 hash slice, orientation parity + the sparse reverse slice) —
    * shared by the sssp and closeness oracles. */
  private def weightedCtes: String =
    s"""wpairs AS MATERIALIZED (
          SELECT x.l_suppkey AS a, y.l_suppkey AS b,
                 count(DISTINCT x.l_orderkey) AS w
          FROM lineitem x JOIN lineitem y
            ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
          WHERE ((x.l_suppkey * 2654435761 + y.l_suppkey * 40503)
                 % 1000003) % 23 = 0
          GROUP BY 1, 2),
        wdedges AS MATERIALIZED (
          SELECT CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                           % 2 = 0 THEN a ELSE b END AS s,
                 CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                           % 2 = 0 THEN b ELSE a END AS t, w
          FROM wpairs
          UNION ALL
          SELECT CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                           % 2 = 0 THEN b ELSE a END AS s,
                 CASE WHEN ((a * 40503 + b * 2654435761) % 1000003)
                           % 2 = 0 THEN a ELSE b END AS t, w
          FROM wpairs
          WHERE ((a * 7 + b * 13) % 1000003) % 4 = 0),
        wnodes AS MATERIALIZED (
          SELECT DISTINCT s AS node FROM
            (SELECT s FROM wdedges UNION ALL SELECT t AS s FROM wdedges))"""

  /** [[graph_closeness]] replay: the sssp unroll keyed (src, node) over
    * the [[ClosenessSources]] smallest nodes, then the exact-integer
    * harmonic aggregate — `//` floors like Spark's `div` on the
    * positive distances. */
  private def closenessOracle: String = {
    val rounds = (1 to SsspUnrollRounds).map { i =>
      s"""d$i AS MATERIALIZED (
          SELECT src, node, min(nd) AS dist FROM (
            SELECT src, node, dist AS nd FROM d${i - 1}
            UNION ALL
            SELECT p.src, e.t AS node, p.dist + e.w AS nd
            FROM d${i - 1} p JOIN wdedges e ON e.s = p.node)
          GROUP BY 1, 2)"""
    }.mkString(",\n        ")
    s"""WITH $weightedCtes,
        srcs AS MATERIALIZED (
          SELECT node AS src FROM wnodes
          ORDER BY node LIMIT $ClosenessSources),
        d0 AS (SELECT src, src AS node, CAST(0 AS BIGINT) AS dist
               FROM srcs),
        $rounds
        SELECT s.src AS node, count(d.node) AS n_reach,
            CAST(coalesce(sum(10000 // d.dist), 0) AS BIGINT) AS h_bp
        FROM srcs s LEFT JOIN d$SsspUnrollRounds d
          ON d.src = s.src AND d.node <> s.src
        GROUP BY 1 ORDER BY node"""
  }

  val oracle: Seq[(String, String)] = Seq(
    "graph_sssp" -> ssspOracle,
    "graph_closeness" -> closenessOracle,
    // the directed derivation replayed (orientation parity + the sparse
    // reverse slice), then mutual reachability as a recursive closure:
    // scc(v) = min u with v→*u AND u→*v (v itself included via the
    // reflexive seed)
    "graph_scc" ->
      s"""WITH RECURSIVE ${edgeCtes(23)},
          $sccCtes
          SELECT node, scc FROM comp ORDER BY node""",
    // bounded ≤2-step closure, unrolled (no recursion needed at fixed
    // k): the level dedups before counting, exactly the engine's
    // semi-naive levels
    "graph_reach" ->
      s"""WITH ${edgeCtes(23)},
          $dirCtes,
          w2 AS (SELECT DISTINCT s, t FROM (
                   SELECT s, t FROM dedges
                   UNION ALL
                   SELECT w.s, e.t FROM dedges w
                   JOIN dedges e ON w.t = e.s)),
          r AS (SELECT s, count(1) AS n FROM w2 GROUP BY 1)
          SELECT d.node, CAST(coalesce(r.n, 0) AS BIGINT) AS n_reach2
          FROM dnodes d LEFT JOIN r ON r.s = d.node
          ORDER BY node""",
    // condensation + longest-path layering: every component seeds the
    // walk at 0, each condensed edge adds 1, layer = max depth reached
    // — finite BECAUSE the condensation is a DAG (the recursion itself
    // would loop on a mislabeled SCC, which is its own loud check)
    "graph_topo" ->
      s"""WITH RECURSIVE ${edgeCtes(23)},
          $sccCtes,
          cedges AS (
            SELECT DISTINCT a.scc AS cs, b.scc AS ct
            FROM dedges e JOIN comp a ON a.node = e.s
              JOIN comp b ON b.node = e.t
            WHERE a.scc <> b.scc),
          walk(c, dep) AS (
            SELECT scc, 0 FROM (SELECT DISTINCT scc FROM comp)
            UNION
            SELECT e.ct, w.dep + 1 FROM walk w JOIN cedges e ON e.cs = w.c),
          lay AS (SELECT c AS scc, max(dep) AS layer FROM walk GROUP BY c),
          mem AS (SELECT scc, count(1) AS n_members FROM comp GROUP BY scc)
          SELECT l.scc, CAST(l.layer AS INT) AS layer,
              CAST(m.n_members AS BIGINT) AS n_members
          FROM lay l JOIN mem m ON m.scc = l.scc
          ORDER BY l.scc""",
    // reachability closure as a recursive CTE; component = min reachable
    "graph_cc" ->
      s"""WITH RECURSIVE ${edgeCtes(59)},
          reach(node, r) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT w.node, y.t FROM reach w JOIN sym y ON w.r = y.s)
          SELECT node, min(r) AS component FROM reach
          GROUP BY node ORDER BY node""",
    // all walks of length <= 4 from the smallest node; min depth = BFS
    // level (HAVING guards the empty-graph case at tiny SF)
    "graph_bfs" ->
      s"""WITH RECURSIVE ${edgeCtes(59)},
          walk(node, d) AS (
            SELECT min(s), 0 FROM sym HAVING min(s) IS NOT NULL
            UNION ALL
            SELECT y.t, w.d + 1 FROM walk w JOIN sym y ON w.node = y.s
            WHERE w.d < 4)
          SELECT node, CAST(min(d) AS INT) AS hops FROM walk
          GROUP BY node ORDER BY node""",
    "graph_triangles" ->
      s"""WITH ${edgeCtes(11)},
          tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM edges e1 JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
          ex AS (SELECT unnest([x, y, z]) AS node FROM tri)
          SELECT node, count(1) AS tri_cnt FROM ex
          GROUP BY node ORDER BY node""",
    "graph_pagerank" -> pagerankOracle,
    // wedge count per non-adjacent pair; integer-bp Jaccard; top-20
    // under a unique (jaccard_bp DESC, a, b) total order
    "graph_jaccard" ->
      s"""WITH ${edgeCtes(11)},
          deg AS (SELECT s AS node, count(1) AS deg FROM sym GROUP BY 1),
          -- wedge-center degree cap mirrors the Spark kernel: centers
          -- above JaccardDegreeCap contribute no wedges, while TRUE
          -- degrees still feed the denominator below — without this the
          -- oracle would only agree on hub-free fixtures
          common AS (
            SELECT p.s AS a, q.s AS b, count(1) AS common
            FROM sym p JOIN sym q ON p.t = q.t AND p.s < q.s
            JOIN deg dc ON dc.node = p.t
            WHERE dc.deg <= $JaccardDegreeCap
            GROUP BY 1, 2),
          cand AS (
            SELECT c.a, c.b, c.common FROM common c
            LEFT JOIN edges e ON e.a = c.a AND e.b = c.b
            WHERE e.a IS NULL AND c.common >= 2)
          SELECT c.a, c.b, CAST(c.common AS BIGINT) AS common,
              CAST(c.common * 10000 // (da.deg + db.deg - c.common)
                AS BIGINT) AS jaccard_bp
          FROM cand c JOIN deg da ON da.node = c.a
            JOIN deg db ON db.node = c.b
          ORDER BY jaccard_bp DESC, c.a, c.b LIMIT 20""",
    "graph_kcore" -> kcoreOracle,
    "graph_lpa" -> lpaOracle,
    "graph_modularity" -> modularityOracle,
  )

  /** [[LpaRounds]] unrolled synchronous LPA rounds as chained CTEs,
    * shared by [[lpaOracle]] and [[modularityOracle]] (the eval must
    * judge the EXACT partition the lpa row ships): the same
    * (count DESC, label ASC) argmax the Spark window computes, every
    * quantity integer, so the engines agree exactly. Each round reads
    * only its predecessor (linear chain), but MATERIALIZED keeps DuckDB
    * from re-inlining the base scan per reference, as in
    * [[kcoreOracle]]. */
  private def lpaChain: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS MATERIALIZED (
            SELECT v AS node, lbl FROM (
              SELECT v, lbl, row_number() OVER (
                  PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
              FROM (SELECT y.s AS v, p.lbl, count(1) AS c
                    FROM sym y JOIN l${i - 1} p ON y.t = p.node
                    GROUP BY 1, 2) f$i) r$i
            WHERE rn = 1)"""
    }.mkString(",\n        ")
    s"""l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
        $rounds"""
  }

  private def lpaOracle: String =
    s"""WITH ${edgeCtes(11)},
        $lpaChain
        SELECT node, CAST(lbl AS BIGINT) AS label FROM l$LpaRounds
        ORDER BY node"""

  /** The same integer modularity algebra as the Spark op: raw signed
    * per-community numerators (never divided), the one global division
    * through the non-negative shift so `//` ≡ `div`. */
  private def modularityOracle: String =
    s"""WITH ${edgeCtes(11)},
        $lpaChain,
        lab AS (SELECT node, lbl AS label FROM l$LpaRounds),
        mm AS (SELECT count(1) AS m FROM edges),
        ein AS (
          SELECT la.label, count(1) AS e_in
          FROM edges e JOIN lab la ON la.node = e.a
            JOIN lab lb ON lb.node = e.b
          WHERE la.label = lb.label GROUP BY 1),
        degc AS (
          SELECT la.label, count(1) AS d_c,
              count(DISTINCT y.s) AS n_nodes
          FROM sym y JOIN lab la ON la.node = y.s GROUP BY 1),
        per AS (
          SELECT d.label, CAST(d.n_nodes AS BIGINT) AS n_nodes,
              CAST(d.d_c AS BIGINT) AS d_c,
              CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in,
              CAST(4 * mm.m * coalesce(e.e_in, 0) - d.d_c * d.d_c
                AS BIGINT) AS contrib_num
          FROM degc d LEFT JOIN ein e ON e.label = d.label, mm),
        qq AS (
          SELECT CAST((sum(contrib_num) + 4 * mm.m * mm.m) * 10000
              // (4 * mm.m * mm.m) - 10000 AS BIGINT) AS q_bp
          FROM per, mm GROUP BY mm.m)
        SELECT p.label, p.n_nodes, p.d_c, p.e_in, p.contrib_num, q.q_bp
        FROM per p, qq q ORDER BY p.label"""

  /** [[KcoreMaxRounds]] unrolled peel rounds as chained CTEs: each round
    * drops edges touching a node of degree < 2 in the PREVIOUS round's
    * edge set. Peeling is idempotent at fixpoint, so unrolling past
    * convergence (the Spark side `require`s convergence within the same
    * bound) changes nothing and the two engines agree exactly. */
  private def kcoreOracle: String = {
    // AS MATERIALIZED: without it DuckDB inlines each CTE at every
    // reference site, and a chain where e(i+1) reads e(i) three times
    // (once directly, twice through d(i)) expands 3^24 scans — observed
    // as "Too many open files" on the base parquet.
    val rounds = (0 until KcoreMaxRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT v, count(1) AS dg FROM (
              SELECT a AS v FROM e$i UNION ALL SELECT b AS v FROM e$i) s$i
            GROUP BY v),
          e${i + 1} AS MATERIALIZED (
            SELECT a, b FROM e$i
            WHERE a IN (SELECT v FROM d$i WHERE dg >= 2)
              AND b IN (SELECT v FROM d$i WHERE dg >= 2))"""
    }.mkString(",\n")
    s"""WITH ${edgeCtes(59)},
        e0 AS MATERIALIZED (SELECT a, b FROM edges),
        $rounds
        SELECT v AS node, CAST(count(1) AS BIGINT) AS core_deg
        FROM (SELECT a AS v FROM e$KcoreMaxRounds
              UNION ALL SELECT b AS v FROM e$KcoreMaxRounds) f
        GROUP BY v ORDER BY node"""
  }
}
