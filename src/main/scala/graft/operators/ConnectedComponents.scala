package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the dedup
  * CLUSTERING step: near-dup PAIRS (x3/x4/x14 output) → duplicate
  * CLUSTERS, so a curation pipeline can keep exactly one representative
  * per cluster instead of dropping only one side of each pair.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with its own id and repeatedly adopts the minimum label in
  * its closed neighborhood until no label changes. Each round is two
  * hash-partitioned shuffles (edge-label join + groupBy min) over the
  * EDGE list only — nothing is collected to the driver, no per-row
  * windows — and the loop runs O(component diameter) rounds. Near-dup
  * components are small and dense (duplicates of one document all link
  * to each other), so 2–4 rounds close the fixpoint in practice. At
  * extreme diameters use [[clustersStarContraction]] — the
  * large-star/small-star edge rewrite (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014) whose round count is
  * logarithmic in component size instead of linear in diameter.
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

  def clusters(pairs: DataFrame, id1: String, id2: String): DataFrame = {
    // symmetrize with ONE evaluation of `pairs` (an explode, not a
    // union: union's two branches would each re-run the upstream plan —
    // for pair generators like the Jaccard pipeline that doubles the
    // dominant cost)
    val edges0 = pairs.select(explode(array(
        struct(col(id1).as("src"), col(id2).as("dst")),
        struct(col(id2).as("src"), col(id1).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    val edgesC = graft.core.CacheScope.cached(edges0)
    // seed with what the first propagation round would compute from
    // self-labels anyway — min(id, min direct neighbor) — saving one
    // full iteration (three shuffles); size-2 components (most near-dup
    // clusters) then converge in a single convergence-check round.
    // The seed stays LAZY: round 1's materialization computes it.
    var labels = edgesC.groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("label"))
    var prevRound: DataFrame = null
    var changed = 1L
    var resultRows = -1L
    while (changed > 0) {
      val neighborMin = edgesC
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nmin"))
      // prev label rides along in the same join that computes the new
      // one, so the convergence count needs no second labels join; the
      // count itself is an observe() metric collected BY the round's
      // materializing job — one job per round, no separate count action
      val obs = new Observation
      val stepped = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__prev"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
        .observe(obs,
          count(when(col("label") =!= col("__prev"), 1)).as("changed"),
          count(lit(1)).as("rows"))
        .select(col("id"), col("label"))
      // localCheckpoint, not cache: each round's logical plan would
      // otherwise NEST the previous round's (the cached form's final
      // plan measured 5,700+ explain lines at 3 rounds — every round's
      // count re-analyzed the whole stack, and every downstream
      // consumer re-planned it). Truncation keeps per-round planning
      // O(1) and lets the superseded round's blocks release eagerly.
      val steppedT = stepped.localCheckpoint()
      val metrics = obs.getAsJava
      changed = metrics.get("changed").asInstanceOf[Long]
      resultRows = metrics.get("rows").asInstanceOf[Long]
      if (prevRound != null) Checkpoints.release(prevRound)
      labels = steppedT
      prevRound = steppedT
    }
    edgesC.unpersist()
    // the final round's checkpointed blocks back the returned frame —
    // released by an enclosing CacheScope bracket at exit, else
    // reclaimed by the context cleaner once the result is dereferenced
    val fin = labels
    graft.core.CacheScope.onRelease(() => Checkpoints.release(fin))
    // a checkpointed frame carries NO stats (LogicalRDD defaults to
    // "huge"), so downstream joins — the representative/size joins every
    // consumer runs against the corpus — would plan sort-merge where the
    // cached form's measured stats picked broadcast. The row count rode
    // the final round's observe() metric for free; hint broadcast under
    // a byte gate (rows × ~64 B of (id,label) + hash-relation overhead,
    // same ceiling as Dedup.VerifyBroadcastMaxBytes). Beyond the gate —
    // a label table too big to broadcast — consumers shuffle as before.
    if (resultRows * 64L <= Dedup.VerifyBroadcastMaxBytes
        && resultRows >= 0L) broadcast(labels)
    else labels
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
    * Each round materializes one checkpointed edge set and releases the
    * previous round's blocks through its underlying RDD (a plain
    * `Dataset.unpersist` is a no-op on checkpointed frames); the FINAL
    * edge set backs the returned frame and is reclaimed by the context
    * cleaner once the result is dereferenced. Nothing driver-side
    * beyond the per-round convergence counts.
    *
    * Unlike [[clusters]] (whose 2–4 rounds tolerate a growing logical
    * plan), a logarithmic loop still runs 10–20 rounds on deep graphs —
    * enough nested join/distinct/except layers to overflow Catalyst's
    * analysis recursion. Each round therefore TRUNCATES LINEAGE by
    * checkpointing the new edge set: `localCheckpoint` (executor-local,
    * no configuration) by default, or a reliable `checkpoint` when
    * `reliable = true` (requires `sparkContext.setCheckpointDir`; the
    * right choice on a large cluster, where losing an executor must not
    * strand 20 rounds of contraction history). Reliable rounds persist
    * the edge set before the checkpoint write (the write runs as its
    * own job and would otherwise recompute the whole round) and release
    * the cache after. CAVEAT: each reliable round leaves one checkpoint
    * directory on the checkpoint filesystem for the lifetime of the
    * run — enable `spark.cleaner.referenceTracking.cleanCheckpoints`
    * (or clean the checkpoint dir between runs) so a long contraction
    * does not accumulate O(rounds) retired edge-set files.
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
  /** Eagerly materialize `df` with TRUNCATED lineage — the per-round
    * step of the iterative algorithms here, whose nested
    * join/distinct/union layers would otherwise overflow Catalyst's
    * analysis recursion after 10–20 rounds. `localCheckpoint`
    * (executor-local, no configuration) by default; a reliable
    * `checkpoint` when `reliable` (requires
    * `sparkContext.setCheckpointDir` — the right choice on a large
    * cluster, where losing an executor must not strand many rounds of
    * iteration history). Reliable rounds persist the frame before the
    * checkpoint write (the write runs as its own job and would
    * otherwise recompute the whole round) and release the cache after.
    * CAVEAT: each reliable round leaves one checkpoint directory on the
    * checkpoint filesystem for the lifetime of the run — enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints` (or clean the
    * checkpoint dir between runs) so a long loop does not accumulate
    * O(rounds) retired files.
    */
  private def truncated(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) {
      val p = df.persist()
      try p.checkpoint()
      finally p.unpersist(blocking = false)
    } else df.localCheckpoint()

  def clustersStarContraction(pairs: DataFrame, id1: String, id2: String,
      maxRounds: Int = 64, reliable: Boolean = false): DataFrame = {
    import graft.core.CacheScope
    def truncated(df: DataFrame): DataFrame =
      ConnectedComponents.truncated(df, reliable)
    // ONE materialization of the (possibly expensive) pair generator:
    // canonical distinct pairs, checkpointed, then split into real
    // edges and the self-pair-only node labels — ids appearing ONLY in
    // self-pairs carry no edge but still belong in the output with
    // their own label, exactly as [[clusters]] reports them. The
    // self-pair count rides the canon job as an observe() metric, so
    // the common case (pair generators emit id1 < id2 only) pays no
    // probe job at all.
    val canonObs = new Observation
    val canon = truncated(
      pairs.select(greatest(col(id1), col(id2)).as("u"),
          least(col(id1), col(id2)).as("v")).distinct()
        .observe(canonObs,
          count(when(col("u") === col("v"), 1)).as("selfPairs")))
    // the edge count rides the edge-split job the same way
    val edgesObs = new Observation
    var edges = truncated(canon.filter(col("u") =!= col("v"))
      .observe(edgesObs, count(lit(1)).as("n")))
    val selfIds = canon.filter(col("u") === col("v"))
      .select(col("u").as("id"))
    val selfLab =
      if (canonObs.getAsJava.get("selfPairs").asInstanceOf[Long] == 0L) None
      else Some(truncated(
        selfIds
          .join(canon.filter(col("u") =!= col("v"))
              .select(explode(array(col("u"), col("v"))).as("id"))
              .distinct(),
            Seq("id"), "left_anti")
          .select(col("id"), col("id").as("label"))))
    if (!reliable) Checkpoints.release(canon)
    var nEdges = edgesObs.getAsJava.get("n").asInstanceOf[Long]
    var converged = nEdges == 0L
    var round = 0
    while (!converged) {
      require(round < maxRounds,
        s"star contraction did not converge in $maxRounds rounds")
      // large-star over the symmetrized adjacency: one explode (NOT a
      // union — union would re-run the upstream pair generator per
      // branch), one groupBy for the per-node closed-neighborhood min,
      // one co-partitioned join back
      val sym = edges.select(explode(array(
          struct(col("u").as("a"), col("v").as("b")),
          struct(col("v").as("a"), col("u").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val large = sym
        .join(sym.groupBy(col("a"))
          .agg(least(col("a"), min(col("b"))).as("m")), "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val largeC = CacheScope.cached(large)
      // small-star directly on the canonical direction: every group
      // (u, its smaller neighbors) collapses onto the group min — the
      // min rides the same join, then one explode emits both the u→m
      // edge and each displaced neighbor's v→m edge
      val smallObs = new Observation
      val small = largeC
        .join(largeC.groupBy(col("u")).agg(min(col("v")).as("m")), "u")
        .select(explode(array(
          struct(col("u").as("s"), col("m").as("t")),
          struct(col("v").as("s"), col("m").as("t")))).as("e"))
        .select(col("e.s").as("u"), col("e.t").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .observe(smallObs, count(lit(1)).as("n"))
      // checkpoint (not just cache): truncates the logical plan so 20
      // rounds don't stack 20 rounds of Catalyst lineage. The new edge
      // count rides the checkpoint job as an observe() metric — one
      // job per alternation instead of checkpoint + count.
      val smallC = truncated(small)
      val n2 = smallObs.getAsJava.get("n").asInstanceOf[Long]
      // both sides are distinct canonical sets: equal counts + empty
      // one-way difference ⇒ set equality ⇒ fixpoint. The except job
      // runs only on candidate-convergence rounds (counts matched).
      converged = n2 == nEdges && smallC.except(edges).count() == 0L
      largeC.unpersist()
      if (!reliable) Checkpoints.release(edges)
      edges = smallC
      nEdges = n2
      round += 1
    }
    // fixpoint stars: children are (u → component min); the roots only
    // appear on the dst side, so emit their self-label from there
    val out = edges.select(explode(array(
        struct(col("u").as("id"), col("v").as("label")),
        struct(col("v").as("id"), col("v").as("label")))).as("e"))
      .select(col("e.id").as("id"), col("e.label").as("label"))
      .distinct()
    // the final edge set (and the self-label frame) back the returned
    // frame — released by an enclosing CacheScope bracket at exit, else
    // reclaimed by the context cleaner on dereference
    val finalEdges = edges
    if (!reliable) (finalEdges +: selfLab.toSeq)
      .foreach(f => CacheScope.onRelease(() => Checkpoints.release(f)))
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
    * is collected to the driver; per-round frames are eagerly
    * materialized with truncated lineage ([[truncated]]: localCheckpoint
    * by default, reliable checkpoint under `reliable`) so a deep BFS
    * does not stack O(rounds) of Catalyst plan. The loop stops at the
    * first empty frontier — `maxHops` bounds it for cyclic graphs whose
    * useful horizon is known (quality propagation rarely wants more
    * than a few hops; distance saturates long before diameter).
    */
  def seedDistances(pairs: DataFrame, id1: String, id2: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 16,
      reliable: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val edges = graft.core.CacheScope.cached(
      pairs.select(explode(array(
          struct(col(id1).as("a"), col(id2).as("b")),
          struct(col(id2).as("a"), col(id1).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
    val seedObs = new Observation
    var frontier = truncated(
      seeds.select(col(seedCol).as("id")).distinct()
        .withColumn("dist", lit(0))
        .observe(seedObs, count(lit(1)).as("n")), reliable)
    locally {
      val seedFrame = frontier
      if (!reliable)
        graft.core.CacheScope.onRelease(() => Checkpoints.release(seedFrame))
    }
    // `visited` is a plain UNION of the per-hop materialized frontiers —
    // each hop's rows are stored exactly once (its own truncated frame)
    // and the union is lazy plan glue over those leaves, so no hop pays
    // a second visited-sized materialization (the previous form
    // re-checkpointed the whole union every hop: O(V) extra bytes
    // written per hop and one extra job). The union plan stays linear
    // in hop count (≤ maxHops leaves), far below Catalyst's recursion
    // budget, and every leaf is already lineage-truncated.
    //
    // BLOCK RETENTION BOUND: every per-hop frame backs the returned
    // union, so none is released mid-loop — the block-manager
    // high-water mark is the RESULT size (O(V) rows total across ≤
    // maxHops frames, each row stored once), not one hop's frontier.
    // That is the price of returning the distances without a second
    // O(V) materialization; the frames are reclaimed by the context
    // cleaner once the result is dereferenced.
    var visited = frontier
    var hop = 0
    var frontierN = seedObs.getAsJava.get("n").asInstanceOf[Long]
    while (frontierN > 0 && hop < maxHops) {
      hop += 1
      // the frontier count rides the hop's checkpoint job as an
      // observe() metric — one job per hop instead of checkpoint+count
      val hopObs = new Observation
      val discovered = edges
        .join(frontier.select(col("id").as("a")), "a")
        .select(col("b").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
        .observe(hopObs, count(lit(1)).as("n"))
      val next = truncated(discovered, reliable)
      val hopFrame = next
      if (!reliable)
        graft.core.CacheScope.onRelease(() => Checkpoints.release(hopFrame))
      frontierN = hopObs.getAsJava.get("n").asInstanceOf[Long]
      visited = visited.unionByName(next)
      frontier = next
    }
    // per-hop frames back the returned union — released by an enclosing
    // CacheScope bracket at exit, else reclaimed by the context cleaner
    // once the result is dereferenced
    edges.unpersist()
    visited
  }
}
