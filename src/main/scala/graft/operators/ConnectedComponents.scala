package graft.operators

import graft.core.{BroadcastGate, CacheScope, Checkpoints, Fixpoint, Graft}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Connected components over an undirected pair list — the dedup
  * CLUSTERING step: near-dup PAIRS (x3/x4/x14 output) → duplicate
  * CLUSTERS, so a curation pipeline can keep exactly one representative
  * per cluster instead of dropping only one side of each pair.
  *
  * Algorithm: a size-gated driver union-find, else iterative min-label
  * propagation. Every node starts labeled with its own id and
  * repeatedly adopts the minimum label in its closed neighborhood until
  * no label changes. Each round is two hash-partitioned shuffles
  * (edge-label join + groupBy min) over the EDGE list only, and the
  * loop runs O(component diameter) rounds. Near-dup components are small
  * and dense (duplicates of one document all link to each other), so
  * 2–4 rounds close the fixpoint in practice. At extreme diameters use
  * [[clustersStarContraction]] — the large-star/small-star edge rewrite
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014) whose round count is logarithmic in component size
  * instead of linear in diameter.
  *
  * The reference has no graph/clustering surface at all; this extends
  * the dedup family (SURVEY §2.2) with the operator that makes pair
  * output actionable.
  *
  * Output: one row per node appearing in `pairs` — (id, cluster) with
  * cluster = minimum reachable node id, a deterministic canonical
  * representative (partitioning-independent).
  */
object ConnectedComponents {

  /** Min-label rounds before [[clusters]] gives up: a component of
    * diameter near this many hops wants [[clustersStarContraction]].
    */
  private val MaxLabelRounds = 1000

  /** Gate bytes per pair of the driver branch: a pair adds at most two
    * nodes of 64 B each to the label table.
    */
  private val PairBytes = 128L

  /** Connected components of `pairs` — see the object doc.
    *
    * The pair list is read with ONE evaluation of `pairs` and kept;
    * both branches read it, so the upstream pair generator never runs
    * twice.
    *
    *  - DRIVER branch: one bounded collect of the pairs. If they fit
    *    the [[graft.core.BroadcastGate]] at 128 B per pair (two nodes),
    *    the graph's label table fits it at 64 B per node — the table
    *    the distributed branch would broadcast anyway. Union-find on the
    *    driver then labels every node, and the result is a local
    *    relation (one job in all when `pairs` is materialized: the
    *    collect). Ids must be integral or binary-collated strings, which
    *    the driver orders as Spark's `min` does (strings by UTF-8 bytes);
    *    null ids go to the distributed branch.
    *  - DISTRIBUTED branch: min-label propagation over the symmetrized,
    *    deduplicated pairs, one checkpointed [[Fixpoint]] round at a
    *    time.
    */
  def clusters(pairs: DataFrame, id1: String, id2: String): DataFrame = {
    val spark = pairs.sparkSession
    val idField = symmetric(pairs, id1, id2).schema("src")
    // ONE evaluation of `pairs`: its id columns, kept as a LAZY local
    // checkpoint that the first job reading it fills
    val raw = Graft.labeled(spark, "clusters: edges")(pairs.select(
        col(id1).cast(idField.dataType).as("src"),
        col(id2).cast(idField.dataType).as("dst"))
      .localCheckpoint(eager = false))
    // one row past the gate: fewer rows than this is the whole pair list.
    // The collect reads it as ONE partition, so it is one job (a limit
    // over its partitions would scan them in waves).
    val limit =
      math.min(BroadcastGate.maxRows(PairBytes), Int.MaxValue - 9L).toInt + 1
    val onDriver = for {
      order <- driverOrder(idField.dataType)
      if limit > 1
      edges = Graft.labeled(spark, "clusters: driver")(
        raw.coalesce(1).limit(limit).collect())
      if BroadcastGate.rowsFit("clusters: driver", edges.length, PairBytes)
      labels <- unionFind(edges, order)
    } yield spark.createDataFrame(java.util.Arrays.asList(labels: _*),
      StructType(Seq("id", "label").map(idField.copy(_))))
    onDriver match {
      // one partition: the table came from the driver and fits the
      // broadcast gate, and a consumer's aggregate over it (a count)
      // then needs no exchange
      case Some(local) =>
        Checkpoints.release(raw)
        broadcast(local.coalesce(1))
      case None =>
        val edges = Graft.labeled(spark, "clusters: edges")(Fixpoint
          .truncate(symmetric(raw, "src", "dst").distinct(), reliable = false))
        Checkpoints.release(raw)
        try labelPropagation(edges) finally Checkpoints.release(edges)
    }
  }

  /** Both directions (src, dst) of every (a, b) row — an explode, not a
    * union: union's two branches would each re-run the upstream plan,
    * which for pair generators like the Jaccard pipeline doubles the
    * dominant cost.
    */
  private def symmetric(df: DataFrame, a: String, b: String): DataFrame =
    df.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Spark's order on ids of type `dt`, for the types whose external
    * values the driver hashes and orders exactly as Spark does.
    */
  private def driverOrder(dt: DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by[Any, Long](_.asInstanceOf[Number].longValue))
    case StringType => // the default, UTF8_BINARY collation
      Some(Ordering.by[Any, UTF8String](
        v => UTF8String.fromString(v.asInstanceOf[String]))(
        (a, b) => a.binaryCompare(b)))
    case _ => None
  }

  /** (id, min reachable id) for every node of `edges` — iterative
    * union-find with path halving, each root kept at its set's minimum;
    * None if an id is null.
    */
  private def unionFind(edges: Array[Row], order: Ordering[Any])
      : Option[Array[Row]] = {
    val index = new java.util.HashMap[Any, Integer]
    val ids = new Array[Any](2 * edges.length)
    val parent = new Array[Int](2 * edges.length)
    var n = 0
    def node(v: Any): Int = {
      val i = index.putIfAbsent(v, n)
      if (i != null) i
      else { ids(n) = v; parent(n) = n; n += 1; n - 1 }
    }
    def find(x: Int): Int = {
      var i = x
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var k = 0
    while (k < edges.length) {
      val e = edges(k)
      if (e.isNullAt(0) || e.isNullAt(1)) return None
      val (a, b) = (find(node(e.get(0))), find(node(e.get(1))))
      if (order.lt(ids(a), ids(b))) parent(b) = a
      else if (a != b) parent(a) = b
      k += 1
    }
    Some(Array.tabulate(n)(i => Row(ids(i), ids(find(i)))))
  }

  /** The distributed branch of [[clusters]] over the symmetric edges. */
  private def labelPropagation(edges: DataFrame): DataFrame = {
    // seed with what the first propagation round would compute from
    // self-labels anyway — min(id, min direct neighbor) — saving one
    // full iteration (three shuffles); size-2 components (most near-dup
    // clusters) then converge in a single convergence-check round.
    // The seed stays LAZY: round 1's materialization computes it.
    val seed = edges.groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("label"))
    val res = Fixpoint.run("clusters: round", seed, MaxLabelRounds) {
      (labels, probe) =>
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("label")).as("nmin"))
        // prev label rides along in the same join that computes the new
        // one, so the convergence count needs no second labels join
        probe(labels
          .join(neighborMin, Seq("id"), "left")
          .select(col("id"), col("label").as("__prev"),
            least(col("label"), coalesce(col("nmin"), col("label")))
              .as("label")),
          count(when(col("label") =!= col("__prev"), 1)))
          .select(col("id"), col("label"))
    }
    // a checkpointed frame carries NO stats (LogicalRDD defaults to
    // "huge"), so the corpus joins consumers run would plan sort-merge:
    // hint broadcast when the final round's row count fits the gate at
    // ~64 B of (id, label) per row; beyond it, consumers shuffle.
    if (BroadcastGate.rowsFit("clusters: labels", res.rounds.last.rows, 64L))
      broadcast(res.frame)
    else res.frame
  }

  /** INCREMENTAL connected components — the cluster-maintenance verb
    * that completes the incremental dedup story (index → delta pairs →
    * clusters, nothing corpus-sized recomputed): given the PRIOR
    * assignment (id, label) over every previously-paired doc and the
    * delta-touching pairs of a new batch
    * ([[Dedup.jaccardShinglePairsAgainst]] /
    * [[DedupIndex.jaccardPairsAgainst]] output), produce the
    * assignment every doc would get from re-clustering the merged pair
    * set — WITHOUT re-clustering it.
    *
    * New edges can only MERGE prior clusters (never split them), so
    * the merged components are exactly the components of the
    * delta-sized QUOTIENT graph: each delta edge's endpoints map
    * through the prior assignment (previously-unpaired endpoints map
    * to themselves), and [[clusters]] runs on those quotient edges
    * alone. Labels stay canonical: a prior label IS the min doc id of
    * its class, so the quotient component's min over (prior labels ∪
    * new doc ids) is the merged component's global min doc id —
    * byte-identical to a full recompute (oracle-checked as x68, and
    * spec-asserted including the bridge-merge case).
    *
    * At 100 TB: the quotient CC touches only delta-sized state; the
    * corpus-sized work is ONE join of the prior assignment against the
    * quotient relabel map (quotient-sized — AQE broadcasts it), which
    * rewrites only touched clusters. The prior assignment is read
    * once, never re-derived.
    */
  def incrementalClusters(assignment: DataFrame, deltaPairs: DataFrame,
      id1: String, id2: String): DataFrame = {
    // LINEAGE TRUNCATION, not just caching: the prior assignment
    // usually comes out of a CC fixpoint whose logical plan NESTS one
    // level per round (each round references the previous labels
    // twice), and this operator references that plan several more
    // times (quotient mapping ×2, relabel join, anti-join) — without
    // truncation the composed plan grows multiplicatively and every
    // later ACTION pays tens of seconds of driver-side analysis on a
    // 10⁴-node tree (measured: 38k-node plan, ~25 s per count at
    // sf0.1). localCheckpoint materializes both inputs and makes them
    // plan LEAVES — same device as [[clustersStarContraction]]'s
    // per-round truncation; blocks are reclaimed by the context
    // cleaner once the result frame is dereferenced.
    val a = assignment.select(col("id"), col("label")).localCheckpoint()
    val e = deltaPairs.select(col(id1).as("a"), col(id2).as("b"))
      .localCheckpoint()
    // quotient edges: endpoints through the prior assignment;
    // previously-unpaired endpoints (delta docs, or corpus docs in
    // their first-ever pair) are their own quotient node
    val mapped = e
      .join(a.select(col("id").as("a"), col("label").as("la")),
        Seq("a"), "left")
      .join(a.select(col("id").as("b"), col("label").as("lb")),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("q1"),
        coalesce(col("lb"), col("b")).as("q2"))
    val q = clusters(mapped, "q1", "q2").toDF("__qid", "__qlabel")
      .localCheckpoint()
    // corpus side: relabel ONLY clusters whose label appears in the
    // quotient result (untouched clusters pass through unchanged)
    val corpusUpdated = a
      .join(q, col("label") === col("__qid"), "left")
      .select(col("id"),
        coalesce(col("__qlabel"), col("label")).as("label"))
    // newly-paired docs: every quotient node that is not a prior doc
    // (a prior LABEL is always also a prior doc — the cluster's min
    // member) gets its first assignment here
    val newDocs = q
      .join(a.select(col("id").as("__qid")), Seq("__qid"), "left_anti")
      .select(col("__qid").as("id"), col("__qlabel").as("label"))
    corpusUpdated.unionByName(newDocs)
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * the high-diameter escalation of [[clusters]]: min-label propagation
    * needs O(diameter) rounds, so a 10⁶-node chain (reference-graph
    * dedup, citation paths, CDC segment adjacency) needs 10⁶ rounds;
    * star contraction converges in O(log n) alternations on such graphs
    * because each round rewires nodes directly to their neighborhood
    * minimum, halving star depth.
    *
    * Each alternation is two edge-rewrite steps over the CANONICAL
    * (hi→lo) edge list, each one aggregation plus one co-partitioned
    * join — the same two-linear-shuffle budget per round as [[clusters]]
    * spends, just spent on edges instead of labels:
    *
    *  - large-star: for every node `a`, every LARGER neighbor is rewired
    *    to `min(N(a) ∪ {a})` — connectivity-preserving because old edge
    *    (a,b) and new edge (b,m) share the path through a's minimum;
    *  - small-star: every canonical edge group (u → its smaller
    *    neighbors) collapses onto the group minimum.
    *
    * Fixpoint ⇔ the edge set is unchanged by a full alternation, at
    * which point every component is a star: each non-min node holds
    * exactly one edge to the component minimum. Output matches
    * [[clusters]] exactly: (id, label = component min) for every node
    * appearing in `pairs`, deterministic and partitioning-independent.
    * Nothing driver-side beyond the per-round convergence counts.
    *
    * A logarithmic loop still runs 10–20 rounds on deep graphs — enough
    * nested join/distinct/except layers to overflow Catalyst's analysis
    * recursion — so each round's edge set is a [[Fixpoint]] round with
    * truncated lineage: `localCheckpoint` by default, or a reliable
    * `checkpoint` when `reliable = true` (see [[Fixpoint.truncate]] for
    * its checkpoint-directory requirement and caveat).
    *
    * Self-pairs (id1 = id2) carry no connectivity but DO declare their
    * node: ids appearing only in self-pairs surface in the output with
    * their own label, matching [[clusters]] exactly for every node
    * appearing in `pairs`.
    *
    * Prefer [[clusters]] for the dense few-hop components near-dup
    * pipelines produce (its seeded init often closes them in one
    * convergence check); prefer this form when component diameter is
    * unknown or unbounded. `maxRounds` is a safety rail — O(log n)
    * convergence means 64 alternations cover any graph that fits in
    * storage (2⁶⁴ nodes); hitting it indicates a non-converging edge
    * generator upstream, and throwing beats looping forever.
    */
  def clustersStarContraction(pairs: DataFrame, id1: String, id2: String,
      maxRounds: Int = 64, reliable: Boolean = false): DataFrame = {
    // ONE materialization of the (possibly expensive) pair generator:
    // canonical distinct pairs, checkpointed, then split into real
    // edges (round 0) and the self-pair-only node labels — ids appearing
    // ONLY in self-pairs carry no edge but still belong in the output
    // with their own label, exactly as [[clusters]] reports them. The
    // self-pair count rides the canon job as an observe() metric, so
    // the common case (pair generators emit id1 < id2 only) pays no
    // probe job at all.
    val canonObs = new Observation
    val canon = Graft.labeled(pairs.sparkSession, "star: canon")(
      Fixpoint.truncate(
        pairs.select(greatest(col(id1), col(id2)).as("u"),
            least(col(id1), col(id2)).as("v")).distinct()
          .observe(canonObs,
            count(when(col("u") === col("v"), 1)).as("selfPairs")),
        reliable))
    val start = Fixpoint.start("star: round", reliable)(
      _(canon.filter(col("u") =!= col("v"))))
    val selfLab =
      if (canonObs.getAsJava.get("selfPairs").asInstanceOf[Long] == 0L) None
      else Some(Fixpoint.truncate(
        canon.filter(col("u") === col("v")).select(col("u").as("id"))
          .join(canon.filter(col("u") =!= col("v"))
              .select(explode(array(col("u"), col("v"))).as("id"))
              .distinct(),
            Seq("id"), "left_anti")
          .select(col("id"), col("id").as("label")), reliable))
    Checkpoints.release(canon)
    // both sides of a round are distinct canonical sets: equal counts +
    // empty one-way difference ⇒ set equality ⇒ fixpoint. The except
    // job runs only on candidate-convergence rounds (counts matched).
    var nEdges = -1L
    val res = Fixpoint.runFrom("star: round", start, maxRounds,
      done = (r, prev, next) => {
        val same = r.rows == 0L ||
          (r.rows == nEdges && next.except(prev).count() == 0L)
        nEdges = r.rows
        same
      }) { (edges, probe) =>
      // large-star over the symmetrized adjacency: one groupBy for the
      // per-node closed-neighborhood min, one co-partitioned join back;
      // cached for this round only (the loop releases it once the
      // round's edge set is checkpointed)
      val sym = symmetric(edges, "u", "v")
      val largeC = CacheScope.cached(sym
        .join(sym.groupBy(col("src"))
          .agg(least(col("src"), min(col("dst"))).as("m")), "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct())
      // small-star directly on the canonical direction: every group
      // (u, its smaller neighbors) collapses onto the group min — the
      // min rides the same join, then one explode emits both the u→m
      // edge and each displaced neighbor's v→m edge
      probe(largeC
        .join(largeC.groupBy(col("u")).agg(min(col("v")).as("m")), "u")
        .select(explode(array(
          struct(col("u").as("s"), col("m").as("t")),
          struct(col("v").as("s"), col("m").as("t")))).as("e"))
        .select(col("e.s").as("u"), col("e.t").as("v"))
        .filter(col("u") =!= col("v")).distinct())
    }
    // fixpoint stars: children are (u → component min); the roots only
    // appear on the dst side, so emit their self-label from there
    val out = res.frame.select(explode(array(
        struct(col("u").as("id"), col("v").as("label")),
        struct(col("v").as("id"), col("v").as("label")))).as("e"))
      .select(col("e.id").as("id"), col("e.label").as("label"))
      .distinct()
    // the self-label frame backs the result with the final edge set
    selfLab.foreach(f => CacheScope.onRelease(() => Checkpoints.release(f)))
    selfLab.fold(out)(out.unionByName)
  }

  /** Minimum hop distance from a SEED SET over an undirected pair list —
    * distributed frontier BFS. The graph-proximity primitive curation
    * pipelines use for seed-based quality propagation: label every
    * document by how many similarity/link hops separate it from a
    * trusted set (the "distance from curated seeds" family of web-scale
    * quality heuristics), then weight or threshold on that distance.
    *
    * Output: (id, dist) for every seed (dist 0 — seeds outside the
    * graph are still reported: they are trivially at distance 0 from
    * themselves) and every node reachable from a seed within `maxHops`,
    * with dist = length of the shortest path. Nodes further than
    * `maxHops` (or unreachable) are absent. Deterministic and
    * partitioning-independent; self-pairs carry no connectivity.
    *
    * Scale shape: classic frontier iteration. Round h joins the
    * CURRENT FRONTIER (nodes first reached at h−1) against the cached
    * symmetrized edge list — a shuffle proportional to the frontier's
    * adjacency, not the graph — dedups the discovered ids, and
    * anti-joins the visited set to keep only first sightings. Nothing
    * is collected to the driver; each hop is a [[Fixpoint]] round
    * (truncated lineage, reliable checkpoints under `reliable`), so a
    * deep BFS does not stack O(rounds) of Catalyst plan. The loop stops at the
    * first empty frontier — `maxHops` bounds it for cyclic graphs whose
    * useful horizon is known (quality propagation rarely wants more
    * than a few hops; distance saturates long before diameter).
    */
  def seedDistances(pairs: DataFrame, id1: String, id2: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 16,
      reliable: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val edges = CacheScope.cached(symmetric(pairs, id1, id2)
      .filter(col("src") =!= col("dst")).distinct())
    // hop 0 is the seed set; hop h keeps the nodes first reached at h
    val start = Fixpoint.start("seedDistances: hop", reliable)(
      _(seeds.select(col(seedCol).as("id")).distinct()
        .withColumn("dist", lit(0))))
    // the result is a plain UNION of the per-hop materialized frontiers —
    // each hop's rows are stored exactly once (its own truncated frame)
    // and the union is lazy plan glue over those leaves, so no hop pays
    // a second visited-sized materialization. The union plan stays
    // linear in hop count (≤ maxHops leaves), far below Catalyst's
    // recursion budget, and every leaf is already lineage-truncated.
    //
    // BLOCK RETENTION BOUND: every per-hop frame backs the returned
    // union, so the loop retains them all — the block-manager high-water
    // mark is the RESULT size (O(V) rows total across ≤ maxHops frames,
    // each row stored once), not one hop's frontier. That is the price
    // of returning the distances without a second O(V) materialization.
    val res = Fixpoint.runFrom("seedDistances: hop", start, maxHops,
      retain = true,
      done = (r, _, _) => r.rows == 0L || r.round == maxHops) {
      (frontier, probe) =>
        val visited = probe.history.reduce(_ unionByName _)
        probe(edges
          .join(frontier.select(col("id").as("src")), "src")
          .select(col("dst").as("id")).distinct()
          .join(visited.select(col("id")), Seq("id"), "left_anti")
          .withColumn("dist", lit(probe.round)))
    }
    edges.unpersist()
    res.frames.reduce(_ unionByName _)
  }
}
