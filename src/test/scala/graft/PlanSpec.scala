package graft

import graft.queries.{Extensions, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.expressions.Not
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{ExplainMode, FilterExec,
  GenerateExec, MapPartitionsExec, ProjectExec, SerializeFromObjectExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}

/** Physical-plan shape regressions: the properties that make the corpus
  * scale (scan pushdown, broadcast dimension joins, compiled kernels in
  * the hot path, no accidental cartesian products) asserted directly on
  * the executed plans, so a future change that silently loses one fails
  * here instead of at the 100 TB bench.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** `body` with every broadcast gate forced to its shuffle branch. */
  private def shuffled[A](body: => A): A =
    graft.core.BroadcastGate.forced.withValue(Some(0L))(body)

  /** Every physical node under `p`, looking through the AQE wrapper and
    * into cached relations.
    */
  private def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case m: InMemoryTableScanExec =>
      m +: physicalNodes(m.relation.cachedPlan)
    case _ => p +: p.children.flatMap(physicalNodes)
  }

  /** The banding step of the LSH paths: the posexplode that turns one
    * row per document into one row per (band, bucket).
    */
  private val bandExplode: SparkPlan => Boolean = {
    case g: GenerateExec => g.generator.prettyName == "posexplode"
    case _ => false
  }

  /** The capped candidate shape: the banded rows (the output of the
    * node `banding` matches) cross exactly ONE shuffle exchange, hash-
    * partitioned on `bucketKeys`, before the streaming pair pass (the
    * one node emitting (id1, id2[, pl1, pl2])); no BroadcastExchange
    * carries them, and no join anywhere is keyed on a bucket column.
    * With `touchedBuild` (the incremental form), exactly one join is
    * keyed on them: a left-semi hash join whose build side, and only
    * that side, holds a node `touchedBuild` matches; that build side is
    * the one broadcast of banded rows allowed.
    */
  private def assertOneBandedExchange(df: DataFrame,
      bucketKeys: Set[String],
      touchedBuild: Option[SparkPlan => Boolean] = None)
      (banding: SparkPlan => Boolean): Unit = {
    val all = physicalNodes(df.queryExecution.executedPlan)
    val tree = all.head.treeString
    val passes = all.collect {
      case s: SerializeFromObjectExec
          if s.output.map(_.name).take(2) == Seq("id1", "id2") => s
    }
    assert(passes.size == 1, s"expected one capped pair pass:\n$tree")
    val crossed = physicalNodes(passes.head).collect {
      case e: ShuffleExchangeExec if physicalNodes(e.child).exists(banding) =>
        e
    }
    assert(crossed.size == 1,
      s"banded rows cross ${crossed.size} shuffles:\n$tree")
    crossed.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.flatMap(_.references.map(_.name)).toSet ==
          bucketKeys, tree)
      case other => fail(s"banded exchange partitioned by $other:\n$tree")
    }
    val bucketJoins = all.collect { case j: BaseJoinExec
        if (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
          .exists(bucketKeys) => j
    }
    val allowed = touchedBuild match {
      case None =>
        assert(bucketJoins.isEmpty, s"a join on the bucket keys:\n$tree")
        Set.empty[SparkPlan]
      case Some(isBuild) =>
        assert(bucketJoins.size == 1, s"bucket-keyed joins:\n$tree")
        val (build, streamed) = bucketJoins.head match {
          case j: HashJoin if j.joinType == LeftSemi => j.buildSide match {
            case BuildRight => (j.right, j.left)
            case BuildLeft => (j.left, j.right)
          }
          case j => fail(s"not a left-semi hash join: ${j.nodeName}\n$tree")
        }
        assert(physicalNodes(build).exists(isBuild) &&
          !physicalNodes(streamed).exists(isBuild),
          s"the semi-join builds on the wrong side:\n$tree")
        Set(build)
    }
    assert(!all.exists {
      case b: BroadcastExchangeExec =>
        !allowed(b) && physicalNodes(b).exists(banding)
      case _ => false
    }, s"the banded rows are broadcast:\n$tree")
  }

  test("mega-stratum rank windows are gone: temperatureSampleApprox " +
      "gates by hash rate (no md5-ordered window anywhere), " +
      "lengthGroupedBatches ranks within (stratum, length) tie groups " +
      "— and both match their exact references on a planted " +
      "mega-stratum") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical
    // mega-stratum: half the corpus under one key, long tail beside it
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .withColumn("grp",
        when(col("doc_id") % 2 === 0, lit("mega"))
          .otherwise(concat(lit("s"), (col("doc_id") % 37)
            .cast("string"))))
    def logicalWindows(q: DataFrame): Seq[logical.Window] =
      q.queryExecution.optimizedPlan.collect {
        case w: logical.Window => w
      }
    // approx temperature: NO per-stratum window — the only windows
    // left are the |strata|-sized apportionment frame's, which
    // partition by NOTHING (single small partition by design). A
    // window partitioned by the stratum column is exactly the
    // mega-stratum sort this form exists to avoid.
    val approx = graft.operators.Mixing.temperatureSampleApprox(
      df, "grp", "doc_id", 500L)
    assert(logicalWindows(approx).forall(_.partitionSpec.isEmpty),
      "approx temperature still ranks the corpus under a per-stratum " +
        "window")
    // contrast: the exact oracle-reference form DOES carry that window
    val exact = graft.operators.Mixing.temperatureSample(
      df, "grp", "doc_id", 500L)
    assert(logicalWindows(exact).exists(_.partitionSpec.length == 1))
    // approx kept counts: binomial around the exact form's per-stratum
    // targets, at-target strata kept whole
    val exactCounts = exact.groupBy(col("grp")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approxCounts = approx.groupBy(col("grp")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exactCounts.foreach { case (g, tgt) =>
      val got = approxCounts.getOrElse(g, 0L)
      val sigma4 = 4 * math.sqrt(tgt.toDouble) + 1
      assert(math.abs(got - tgt) <= sigma4,
        s"stratum $g: approx kept $got vs target $tgt (±$sigma4)")
    }
    // lengthGroupedBatches: every remaining corpus window partitions by
    // at least (stratum, length)/(stratum, batch) — none by the stratum
    // alone, so a mega-stratum never sorts under one task
    val lgb = graft.operators.Packing.lengthGroupedBatches(
      df, "doc_id", "text", "grp", batchSize = 8, merges = Nil)
    val ws = logicalWindows(lgb)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.length >= 2),
      "a window still partitions by the stratum alone:\n" +
        ws.map(_.partitionSpec.map(_.sql)).mkString("\n"))
    // output identical to the single-window reference form
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"), col("batch_id"))
    val ref = df.select(col("grp"), col("doc_id"),
        size(graft.expressions.GraftFunctions.bpeEncode(col("text"),
          Nil, graft.functions.TextFunctions.bpeTokenPattern, true))
          .cast("long").as("n_tokens"))
      .withColumn("__rn", row_number().over(w1))
      .withColumn("batch_id", expr("CAST((__rn - 1) div 8 AS BIGINT)"))
      .withColumn("batch_max", max(col("n_tokens")).over(w2))
      .withColumn("padding", col("batch_max") - col("n_tokens"))
      .drop("__rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val got = lgb.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == ref,
      "histogram-offset batching diverged from the single-window form")
  }

  test("q2: filters and projection are pushed into the parquet scan") {
    val p = plan(Relational.q2FilterProject(spark, sfDir))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,5.0)"))
    // pruned read schema: exactly the 4 projected columns reach the scan
    assert(p.contains(
      "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_discount:double>"))
  }

  test("q3/q18: every dimension join is a broadcast hash join") {
    val p3 = plan(Relational.q3JoinAgg(spark, sfDir))
    assert(p3.split("BroadcastHashJoin").length - 1 >= 2, p3)
    assert(!p3.contains("SortMergeJoin"))
    val p18 = plan(Relational.q18StarJoin(spark, sfDir))
    assert(p18.split("BroadcastHashJoin").length - 1 >= 3, p18)
    assert(!p18.contains("CartesianProduct"))
  }

  test("x6: pair scoring runs on the compiled dot-product kernel") {
    val p = plan(Extensions.x6EmbeddingNearDup(spark, sfDir))
    assert(p.contains("graft_vec_dot"), p)
    // norms are hoisted map-side: normsq is computed on the scan side,
    // never per pair
    assert(p.contains("graft_vec_normsq"))
  }

  test("x3: prefix-filter pipeline has no cartesian product and uses the " +
      "merge-count verifier") {
    val p = plan(Extensions.x3JaccardPairs(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_sorted_intersect_count"))
    assert(p.contains("graft_word_shingles"))
  }

  test("x59: incremental pairs keep the prefix-filter shape — no " +
      "cartesian, compiled shingle + merge-count verifier") {
    val p = plan(Extensions.x59IncrementalJaccard(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_sorted_intersect_count"))
    assert(p.contains("graft_word_shingles"))
    // the candidate join's build side is the isNew-filtered prefix —
    // the corpus side never self-joins
    assert(p.contains("isNew"), p)
  }

  test("x60: incremental LSH rides the one capped pass — the banded " +
      "rows cross one (band, bucket) exchange, no bounded-agg buffer, " +
      "and the only bucket-keyed join is the touched-bucket semi-join " +
      "built on the delta") {
    val df = Extensions.x60IncrementalLsh(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the delta rows: filtered on isNew, not on NOT isNew
    val delta: SparkPlan => Boolean = {
      case f: FilterExec =>
        f.condition.references.exists(_.name == "isNew") &&
          f.condition.find(_.isInstanceOf[Not]).isEmpty
      case _ => false
    }
    assertOneBandedExchange(df, Set("band", "bucket"), Some(delta))(
      bandExplode)
    assert(!physicalNodes(df.queryExecution.executedPlan).exists {
      case a: ObjectHashAggregateExec => physicalNodes(a).exists(bandExplode)
      case _ => false
    }, s"an object aggregation over the banded rows:\n$p")
  }

  test("q1: aggregation is partial (map-side) before the single exchange") {
    val p = plan(Relational.q1Agg(spark, sfDir))
    assert(p.contains("partial_"), p)
    // one shuffle for the agg + one for the bounded sort
    assert(p.split("Exchange").length - 1 <= 4)
  }

  test("IVF cell assignment is map-only: zero exchanges scan→cell") {
    val emb = graft.core.Graft.table(spark, sfDir, "embeddings")
    val cents = Seq(Seq(0.1f, 0.2f, -0.3f), Seq(0.9f, -0.3f, 0.0f))
    val p = plan(
      graft.operators.SimilaritySearch.assignCells(emb, "embedding", cents))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("graft_nearest_cells"), p)
  }

  test("x13: multimodal decode is one MapPartitions node, no RDD round-trip") {
    val p = plan(Extensions.x13Multimodal(spark, sfDir))
    assert(!p.contains("Scan ExistingRDD"), p)
    assert(p.contains("MapPartitions"), p)
  }

  test("x14: banded near-dup plan has no cartesian/BNLJ pair enumeration") {
    val p = plan(Extensions.x14NearDupLsh(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_hyperplane_bands"), p)
    assertOneBandedExchange(Extensions.x14NearDupLsh(spark, sfDir),
      Set("band", "bucket"))(bandExplode)
  }

  test("x22/x23: shard window is lang-partitioned; centroid agg is partial") {
    val p22 = plan(Extensions.x22ShardAssign(spark, sfDir))
    // the packing window partitions by lang — never a global ordered window
    assert(p22.contains("partial_"), p22)
    val p23 = plan(Extensions.x23LabelCentroids(spark, sfDir))
    assert(p23.contains("partial_"), p23) // map-side combine on (label,pos)
    assert(!p23.contains("CartesianProduct"))
  }

  test("x24/x25: retrieval scoring joins are broadcast, corpus scalars " +
      "ride as one-row broadcasts, no cartesian blowup") {
    val p24 = plan(Extensions.x24TfIdf(spark, sfDir))
    // the only nested-loop join allowed is the 1-row corpus-size scalar
    // (a broadcast); the dictionary join must never be a cartesian
    assert(!p24.contains("CartesianProduct"), p24)
    assert(p24.contains("partial_"), p24) // map-side combine on (id, token)
    val p25 = plan(Extensions.x25Bm25(spark, sfDir))
    assert(!p25.contains("CartesianProduct"), p25)
    // top-k is a bounded TakeOrdered, not a global sort
    assert(p25.contains("TakeOrderedAndProject"), p25)
  }

  test("x29: contamination is membership against the DISTINCT train-" +
      "shingle set — equi-joins only, no doc-pair enumeration") {
    val p = plan(Extensions.x29Contamination(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_word_shingles"), p)
  }

  test("x21/x26/x32/x35: splits map-only, sampling partitioned, " +
      "profiling partial-agged — no cartesians anywhere") {
    val p21 = plan(Extensions.x21HashSplit(spark, sfDir))
    assert(p21.contains("partial_"), p21) // split tag is pure map + one agg
    val p26 = plan(Extensions.x26StratifiedSample(spark, sfDir))
    assert(!p26.contains("CartesianProduct"), p26)
    val p32 = plan(Extensions.x32TokenEntropy(spark, sfDir))
    assert(p32.contains("partial_"), p32)
    assert(!p32.contains("CartesianProduct"), p32)
    val p35 = plan(Extensions.x35UnigramSurprisal(spark, sfDir))
    assert(!p35.contains("CartesianProduct"), p35)
    assert(p35.contains("partial_"), p35)
    // the LM-scoring family shares the shape: linear aggs, no cartesian
    val p44 = plan(Extensions.x44BigramSurprisal(spark, sfDir))
    assert(!p44.contains("CartesianProduct"), p44)
    assert(p44.contains("partial_"), p44)
    val p45 = plan(Extensions.x45LangKlDrift(spark, sfDir))
    assert(!p45.contains("CartesianProduct"), p45)
    assert(p45.contains("partial_"), p45)
  }

  test("x118/x119: the blend artifact reads carry no Window and no " +
      "cartesian product — every rank comes from the published files " +
      "through compiled kernels and bounded-key joins") {
    import org.apache.spark.sql.catalyst.plans.logical
    for (q <- Seq(Extensions.x118BlendSchedule(spark, sfDir),
        Extensions.x119BlendEpochs(spark, sfDir))) {
      val wins = q.queryExecution.optimizedPlan.collect {
        case w: logical.Window => w
      }
      assert(wins.isEmpty,
        s"a blend read ranks through a window: ${wins.mkString}")
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("x120: the run-level resume read carries no Window and no " +
      "cartesian product — the cross-epoch union inherits each " +
      "epoch leg's shape") {
    import org.apache.spark.sql.catalyst.plans.logical
    val q = Extensions.x120RunResume(spark, sfDir)
    val wins = q.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(wins.isEmpty,
      s"the run resume read ranks through a window: ${wins.mkString}")
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x34: rerank coarse stage is a bounded partial-merge agg; the " +
      "only window ranks the <= k*overfetch candidate set") {
    val p = plan(Extensions.x34KnnRerank(spark, sfDir))
    assert(p.contains("partial_topkrows"), p) // coarse pass never sorts corpus
    // exactly one Window NODE (the bounded candidate rank) — matching
    // "- Window (" so WindowGroupLimit (the rank-pushdown helper) and the
    // per-node detail section don't inflate the count
    assert("- Window \\(".r.findAllIn(p).length <= 1, p)
  }

  test("q39: LATERAL decorrelates to a ranked join — no per-row " +
      "re-execution, no cartesian") {
    val p = plan(Relational.q39Lateral(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // Catalyst rewrites the correlated LIMIT into a ranked window join
    assert(p.contains("Window") || p.contains("WindowGroupLimit"), p)
  }

  test("x37: hash sample is a pure map-side filter — the only exchange " +
      "is the output sort") {
    val p = plan(Extensions.x37HashSample(spark, sfDir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"), p)
    assert(p.split("Exchange").length - 1 <= 2, p) // sort exchange only
  }

  test("x41/x42: mixture cap joins a strata-sized agg (no corpus window); " +
      "chunking is a pure map-side explode") {
    val p41 = plan(Extensions.x41SourceMix(spark, sfDir))
    assert(!p41.contains("Window"), p41) // cap filter, not a ranked sample
    assert(!p41.contains("CartesianProduct"), p41)
    assert(p41.contains("partial_"), p41) // strata counts partial-agg first
    val p42 = plan(Extensions.x42ChunkWindows(spark, sfDir))
    assert(!p42.contains("Window"), p42)
    assert(!p42.contains("HashAggregate") && !p42.contains("Join"), p42)
    assert(p42.split("Exchange").length - 1 <= 2, p42) // output sort only
    assert(p42.contains("Generate"), p42) // the posexplode
  }

  test("x47/x48: masking is a pure map (no agg, no join, no window); " +
      "quality budget is one partitioned window, no cartesian") {
    val p47 = plan(Extensions.x47MaskTokens(spark, sfDir))
    assert(!p47.contains("Window"), p47)
    assert(!p47.contains("Join"), p47)
    assert(!p47.contains("HashAggregate"), p47)
    assert(p47.split("Exchange").length - 1 <= 2, p47) // output sort only
    val p48 = plan(Extensions.x48QualityBudget(spark, sfDir))
    assert(!p48.contains("CartesianProduct"), p48)
    assert("- Window \\(".r.findAllIn(p48).length == 1, p48)
  }

  test("x51/x52: bloom decontamination joins nothing shingle-sized; " +
      "weighted sample is a bounded top-k, not a full sort") {
    val p51 = plan(Extensions.x51ContaminationBloom(spark, sfDir))
    // the whole point vs x29: no distinct-shingle membership JOIN —
    // the only join is the 1-row bitset broadcast
    assert(!p51.contains("SortMergeJoin"), p51)
    assert(!p51.contains("Window"), p51)
    assert(p51.contains("partial_"), p51) // bitset partials merge map-side
    val p52 = plan(Extensions.x52WeightedSample(spark, sfDir))
    assert(p52.contains("TakeOrderedAndProject"), p52) // bounded k, no sort
    assert(!p52.contains("Window"), p52)
  }

  test("x53/x54: the skew pair really runs shuffle joins — a silent " +
      "broadcast would hide the skew and void the salt-vs-AQE " +
      "comparison; x53 additionally carries the salt explode") {
    val p54 = plan(Extensions.x54SkewAqe(spark, sfDir))
    assert(p54.contains("SortMergeJoin"), p54)
    assert(!p54.contains("BroadcastHashJoin"), p54)
    val p53 = plan(Extensions.x53SkewSalted(spark, sfDir))
    assert(p53.contains("SortMergeJoin"), p53)
    assert(!p53.contains("BroadcastHashJoin"), p53)
    assert(p53.contains("Generate"), p53) // the salt-replication explode
  }

  test("x64/x65: the heavy-skew pair also runs genuine shuffle joins " +
      "and both variants return identical results (same oracle)") {
    val p65 = plan(Extensions.x65SkewHeavyAqe(spark, sfDir))
    assert(p65.contains("SortMergeJoin"), p65)
    assert(!p65.contains("BroadcastHashJoin"), p65)
    val p64 = plan(Extensions.x64SkewHeavySalted(spark, sfDir))
    assert(p64.contains("SortMergeJoin"), p64)
    assert(!p64.contains("BroadcastHashJoin"), p64)
    val a = Extensions.x64SkewHeavySalted(spark, sfDir).collect().toSeq
    val b = Extensions.x65SkewHeavyAqe(spark, sfDir).collect().toSeq
    assert(a == b, "salted and plain variants must agree row-for-row")
    assert(a.nonEmpty)
  }

  test("x4: capped LSH shuffles the banded rows once — one bucket-keyed " +
      "exchange feeds the streaming pair pass, with no broadcast of the " +
      "banded rows and no join on the bucket keys") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Graft.table(spark, sfDir, "documents")
    val sig = graft.operators.Dedup.withMinHashSignature(
      docs.select(col("doc_id"), col("text")), "text", 3, 64)
    val cand = graft.operators.Dedup
      .lshCandidatePairs(sig, "doc_id", 64, 16)
    val p = plan(cand)
    assert(p.contains("graft_minhash"), p)
    // the banded lineage (wordShingles → minhash → posexplode) crosses
    // one exchange on (band, bucket) into the pair pass — no second
    // exchange, broadcast or bucket-keyed join of the banded rows
    assertOneBandedExchange(cand, Set("band", "bucket"))(bandExplode)
  }

  test("x55: semantic dedup pairs never enumerate the corpus — compiled " +
      "cell assign, bounded per-cell candidates off one cell-keyed " +
      "exchange, no cartesian") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Graft.table(spark, sfDir, "embeddings")
    val pairs = graft.operators.SimilaritySearch.semDedupPairs(
      emb, "vec_id", "embedding", threshold = 0.8, nCells = 4)
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_nearest_cells"), p) // map-side compiled assign
    // per-cell candidates come off the same one-exchange capped pair
    // pass as the LSH paths: the assigned (id, cell) rows cross one
    // cell-keyed shuffle
    assertOneBandedExchange(pairs, Set("cell")) {
      case pr: ProjectExec =>
        pr.projectList.exists(_.toString.contains("graft_nearest_cells"))
      case _ => false
    }
  }

  test("x57: dup-ngram coverage is explode + linear shingle-keyed aggs — " +
      "compiled kernel, no doc-pair work, no window") {
    val p = plan(Extensions.x57DupNgramCoverage(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("graft_word_shingles_seq"), p) // one compiled pass
  }

  test("x58: dup-ngram removal adds only a per-doc start collection and " +
      "a compiled rebuild pass on top of the x57 shape") {
    val p = plan(Extensions.x58RemoveDupNgrams(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("graft_word_shingles_seq"), p)
    assert(p.contains("graft_remove_covered_tokens"), p)
  }

  test("x61: PQ encode is a map-side compiled pass and scoring is " +
      "ADC lookups against the broadcast query tables — no shuffle join") {
    val p = plan(Extensions.x61KnnPq(spark, sfDir))
    assert(p.contains("graft_nearest_cells"), p) // per-subspace encode
    assert(p.contains("graft_pq_adc_dot"), p)    // compiled ADC scoring
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)      // query side broadcasts
  }

  test("x30: top-k runs as a partial-merge aggregation, not a window sort") {
    val p = plan(Extensions.x30TopKAgg(spark, sfDir))
    assert(!p.contains("Window"), p) // the whole point: no per-group sort
    assert(p.contains("partial_topkrows"), p) // map-side combine of buffers
  }

  test("x27: inverted index is window-free — postings cap via the " +
      "bounded top-k buffer, one term-keyed aggregation") {
    val p = plan(Extensions.x27InvertedIndex(spark, sfDir))
    assert(!p.contains("Window"), p) // no per-term full-postings sort
    assert(p.contains("partial_topkrows"), p)
  }

  test("x19: composite pipeline is one dedup shuffle + map-side scoring + " +
      "one partial agg") {
    val p = plan(Extensions.x19PipelineStats(spark, sfDir))
    assert(p.contains("partial_"), p) // map-side combine before the agg
    assert(!p.contains("CartesianProduct"))
    // dedup window + final agg + bounded sort — nothing else shuffles
    assert(p.split("Exchange").length - 1 <= 6, p)
  }

  test("x66: perceptual-hash pairs ride the same capped one-exchange " +
      "shape as text SimHash — no cartesian, no pixel-pair work") {
    val df = Extensions.x66ImageHashPairs(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // candidates come off the one (blk, blkval)-keyed exchange into the
    // streaming pair pass, exactly like x4/x5 — never a self-join of
    // the fingerprinted rows
    assertOneBandedExchange(df, Set("blk", "blkval"))(bandExplode)
    // one dHash pass: the payloads decode in exactly one MapPartitions
    // besides the pair pass — its blocked rows have a single consumer
    val mapPartitions = physicalNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[MapPartitionsExec])
    assert(mapPartitions == 2, p)
    // three exchange nodes total (each printed twice by the formatted
    // dump): bucket repartition, pair distinct, result sort — nothing
    // else shuffles
    assert(p.split("Exchange").length - 1 <= 6, p)
  }

  test("x18: winnow screen feeds exact gram verification — no " +
      "cartesian, full gram sets materialize only behind the " +
      "candidate semi-join") {
    val df = Extensions.x18WinnowPairs(spark, sfDir)
    df.count()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the expensive full-gram materialization is gated on the screened
    // candidate ids: a LeftSemi join sits between the documents source
    // and the gram transform, so unscreened documents never pay the
    // k-gram explode
    assert(p.contains("LeftSemi"), p)
    // the verification intersect runs the compiled sorted-merge kernel,
    // not a per-row hash set
    assert(p.contains("graft_sorted_intersect_count"), p)
  }

  test("q40: recursion materializes only the month spine — fact table " +
      "aggregates once outside the UnionLoop and joins via broadcast") {
    val df = Relational.q40RecursiveSpine(spark, sfDir)
    val p = plan(df)
    // the recursive CTE executes as Spark's native iterative operator
    assert(p.contains("UnionLoop"), p)
    // the monthly aggregate (month-sized however big the fact table is)
    // meets the spine through a broadcast join — never a shuffle of the
    // spine against a fact-sized side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the orders scan reads exactly the two columns the query needs
    assert(p.contains("struct<o_custkey:bigint,o_orderdate:timestamp_ntz>"), p)
  }

  /** Count physical nodes named `name` in a formatted explain (each
    * node prints once in the tree and once as a "(n) name" detail
    * header — count the headers).
    */
  private def nodes(p: String, name: String): Int =
    p.linesIterator.count(_.trim.matches(s"\\(\\d+\\) $name.*"))

  test("x70: HTML extraction is scan -> filter -> project — the only " +
      "exchange is the output ordering, and the text filter pushes " +
      "into the scan") {
    val p = plan(Extensions.x70HtmlExtract(spark, sfDir))
    // the wrap + strip + decode + normalize chain is a single native
    // projection over the scan: no shuffle, no UDF, no generator
    assert(nodes(p, "Exchange") <= 1,
      s"extraction introduced a shuffle:\n$p")
    assert(nodes(p, "Project") == 1 && nodes(p, "Generate") == 0 &&
      !p.contains("BatchEvalPython"), p)
    assert(p.contains("PushedFilters: [IsNotNull(text)]"), p)
    assert(p.contains("struct<doc_id:bigint,text:string>"), p)
  }

  test("x69: WARC parse streams off the file RDD scan with no shuffle " +
      "before the output ordering") {
    val p = plan(Extensions.x69WarcStats(spark, sfDir))
    // records flow file->streaming parse (inside the binaryFiles RDD's
    // flatMap, BELOW the SQL plan)->project; only the final orderBy
    // may exchange (rangepartitioning for the sorted output)
    assert(nodes(p, "Exchange") <= 1,
      s"WARC ingest introduced a shuffle:\n$p")
    assert(p.contains("flatMap at Warc.scala"),
      s"parse no longer feeds the scan from the streaming flatMap:\n$p")
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("x72: URL curation is a map-side regexp chain + one BROADCAST " +
      "blocklist probe — the corpus never shuffles before the output " +
      "ordering") {
    val p = plan(Extensions.x72UrlCuration(spark, sfDir))
    assert(nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0 &&
      nodes(p, "CartesianProduct") == 0, p)
    // the only hash exchange is the blocklist's own dedup (keyed by
    // `domain`, 2 rows, inside the broadcast build side); the corpus
    // reaches the probe without shuffling
    val hashEx = p.split("hashpartitioning\\(").toSeq.drop(1)
    assert(hashEx.forall(_.startsWith("domain")),
      s"corpus shuffled for the blocklist probe:\n$p")
    assert(!p.contains("BatchEvalPython"), p)
  }

  test("x73: shard assignment is map-side — the only hash exchange " +
      "carries the 32-row partial aggregate, and no window or global " +
      "sort touches the corpus") {
    val p = plan(Extensions.x73ShuffleShards(spark, sfDir))
    // scan → project(assign) → partial agg → one tiny exchange →
    // final agg → output sort; a Window or a pre-agg Sort would mean
    // the assignment stopped being map-side
    assert(nodes(p, "Exchange") <= 2, s"extra shuffle:\n$p")
    assert(p.split("hashpartitioning").length - 1 == 1, p)
    assert(nodes(p, "Window") == 0, p)
    // string min/max forces SortAggregate (no fixed-size hash buffer);
    // the partial stays map-side either way — its sort is partition-
    // local (`false` = not global), never a corpus-wide ordering
    assert(nodes(p, "HashAggregate") + nodes(p, "SortAggregate") == 2, p)
    // the only GLOBAL sort is the 32-row output ordering; the partial
    // aggregate's sort is partition-local
    assert(p.split("\\], true, 0").length - 1 <= 1,
      s"global sort before the agg:\n$p")
  }

  test("x76: BPE encoding probes the vocab through ONE broadcast join " +
      "— the corpus never sort-merge joins, and the only corpus " +
      "shuffle is the per-document token reassembly") {
    val p = plan(Extensions.x76BpeEncode(spark, sfDir))
    assert(nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0 &&
      nodes(p, "CartesianProduct") == 0, p)
    // hash exchanges: the vocab-sized distinct-words dedup (build
    // side) and the doc_id reassembly groupBy — nothing else
    assert(p.split("hashpartitioning\\(").length - 1 <= 3, p)
  }

  test("x83: PSL registered-domain resolution is pure map-side — the " +
      "rule lookup is the compiled kernel, no join, and the only " +
      "exchange is the output ordering") {
    val p = plan(Extensions.x83PslDomains(spark, sfDir))
    assert(p.contains("graft_psl_registered_domain"), p)
    assert(nodes(p, "Exchange") <= 1, s"PSL lookup shuffled:\n$p")
    assert(nodes(p, "BroadcastHashJoin") + nodes(p, "SortMergeJoin") +
      nodes(p, "ShuffledHashJoin") + nodes(p, "CartesianProduct") == 0,
      s"PSL lookup joined:\n$p")
  }

  test("x87: latest-per-url runs as a partial-merged max_by " +
      "aggregation — no window, no per-group sort, one group shuffle") {
    val p = plan(Extensions.x87LatestPerUrl(spark, sfDir))
    assert(nodes(p, "Window") == 0, s"latest-per-url sorted a group:\n$p")
    // partial + final agg stages; exchanges = the group shuffle and
    // the output ordering, nothing else
    assert(nodes(p, "HashAggregate") + nodes(p, "SortAggregate") >= 2, p)
    assert(nodes(p, "Exchange") <= 2, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("Bpe.encode: the distinct-word broadcast is GATED on measured " +
      "bytes — hint under the bound, shuffle join above it (the " +
      "web-corpus distinct-word table must never force-broadcast)") {
    import graft.operators.Bpe
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
    val merges = Bpe.train(docs, "text", 5)
    // kill the auto-broadcast threshold so the plan reflects ONLY the
    // engine's explicit hint decision (at web scale the vocab exceeds
    // the auto threshold anyway — this simulates that regime)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pHinted = plan(Bpe.encode(docs, "doc_id", "text", merges))
      assert(nodes(pHinted, "BroadcastHashJoin") == 1,
        s"measured-small vocab did not broadcast:\n$pHinted")
      val pGated = plan(
        shuffled(Bpe.encode(docs, "doc_id", "text", merges)))
      assert(nodes(pGated, "BroadcastHashJoin") == 0,
        s"over-bound vocab still broadcast:\n$pGated")
      assert(nodes(pGated, "SortMergeJoin") +
        nodes(pGated, "ShuffledHashJoin") >= 1, pGated)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("x92: byte-BPE encode+decode keeps the x76 plan shape — ONE " +
      "broadcast vocab probe, no corpus sort-merge join, the byte " +
      "remap/unmap kernels compiled into the projection") {
    val p = plan(Extensions.x92BpeBytesRoundtrip(spark, sfDir))
    assert(nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0 &&
      nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("graft_byte_unmap"), p)
    // hash exchanges: the distinct-word dedup (build side) and the
    // doc_id reassembly groupBy — nothing else
    assert(p.split("hashpartitioning\\(").length - 1 <= 3, p)
  }

  test("x94: map-side BPE encoding is a pure projection — no join, " +
      "no aggregate, and the ONLY exchange is the output ordering") {
    val p = plan(Extensions.x94BpeMapSide(spark, sfDir))
    assert(p.contains("graft_bpe_encode"), p)
    assert(nodes(p, "BroadcastHashJoin") + nodes(p, "SortMergeJoin") +
      nodes(p, "ShuffledHashJoin") + nodes(p, "CartesianProduct") == 0,
      s"map-side encode joined:\n$p")
    assert(nodes(p, "HashAggregate") + nodes(p, "SortAggregate") == 0,
      s"map-side encode aggregated:\n$p")
    assert(nodes(p, "Exchange") <= 1, s"map-side encode shuffled:\n$p")
  }

  test("Curation.domainQuotaApprox: the domain-counts join-back is " +
      "GATED on measured bytes — broadcast under the bound, shuffle " +
      "join above it (open-web domain cardinality must never " +
      "force-broadcast)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
      .withColumn("dom", concat(lit("d"), (col("doc_id") % 37)
        .cast("string")))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pHinted = plan(graft.operators.Curation.domainQuotaApprox(
        df, "dom", "doc_id", 5))
      assert(nodes(pHinted, "BroadcastHashJoin") == 1,
        s"measured-small counts did not broadcast:\n$pHinted")
      val pGated = plan(shuffled(graft.operators.Curation.domainQuotaApprox(
        df, "dom", "doc_id", 5)))
      assert(nodes(pGated, "BroadcastHashJoin") == 0,
        s"over-bound counts still broadcast:\n$pGated")
      assert(nodes(pGated, "SortMergeJoin") +
        nodes(pGated, "ShuffledHashJoin") >= 1, pGated)
      // the gate changes the plan, never the kept set
      val kept = graft.operators.Curation.domainQuotaApprox(
        df, "dom", "doc_id", 5)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      val keptGated = shuffled(graft.operators.Curation.domainQuotaApprox(
        df, "dom", "doc_id", 5))
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      assert(kept.toSeq == keptGated.toSeq)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("round-12 packing plans: materialization is JOIN-FREE (window " +
      "+ assembly exchanges only), the first-fit fold carries ONE " +
      "stratum exchange, FIM and the token profile stay map/agg " +
      "passes") {
    // x96/x98: encode projection → stratum window → (strata, seq_id)
    // assembly; never a join
    for (e <- Seq(Extensions.x96MaterializeSequences _,
        Extensions.x98SeparatorSequences _)) {
      val p = plan(e(spark, sfDir))
      assert(nodes(p, "BroadcastHashJoin") + nodes(p, "SortMergeJoin") +
        nodes(p, "ShuffledHashJoin") + nodes(p, "CartesianProduct") == 0,
        s"materialization joined:\n$p")
      assert(p.contains("graft_bpe_encode"), p)
      assert(nodes(p, "Exchange") <= 3, s"extra shuffles:\n$p")
    }
    // x101/x102: one round-robin-free stratum repartition feeds the
    // streamed fold; x102 adds only the assembly exchange
    val p101 = plan(Extensions.x101PackNoStraddle(spark, sfDir))
    assert(nodes(p101, "BroadcastHashJoin") + nodes(p101, "SortMergeJoin") +
      nodes(p101, "ShuffledHashJoin") == 0, p101)
    assert(nodes(p101, "Window") == 0, s"fold must not be a window:\n$p101")
    assert(nodes(p101, "Exchange") <= 2, p101)
    val p102 = plan(Extensions.x102MaterializeNoStraddle(spark, sfDir))
    assert(nodes(p102, "BroadcastHashJoin") + nodes(p102, "SortMergeJoin") +
      nodes(p102, "ShuffledHashJoin") == 0, p102)
    assert(nodes(p102, "Exchange") <= 3, p102)
    // x99: kernel encode + ONE vocab-sized aggregate, id hop map-side
    val p99 = plan(Extensions.x99TokenFrequency(spark, sfDir))
    assert(nodes(p99, "BroadcastHashJoin") + nodes(p99, "SortMergeJoin") +
      nodes(p99, "ShuffledHashJoin") == 0, s"id hop joined:\n$p99")
    assert(nodes(p99, "HashAggregate") >= 1, p99)
    assert(nodes(p99, "Exchange") <= 2, p99)
    // x100: a pure map pass — no join, no aggregate, no window; the
    // only exchange is the output ordering
    val p100 = plan(Extensions.x100FimTransform(spark, sfDir))
    assert(nodes(p100, "BroadcastHashJoin") + nodes(p100, "SortMergeJoin") +
      nodes(p100, "ShuffledHashJoin") + nodes(p100, "HashAggregate") +
      nodes(p100, "SortAggregate") + nodes(p100, "Window") == 0, p100)
    assert(nodes(p100, "Exchange") <= 1, p100)
    // x104: packed SFT — example construction is a projection, then
    // the first-fit fold's stratum exchange and the assembly
    // aggregate; JOIN-FREE and WINDOW-FREE like x102
    val p104 = plan(Extensions.x104PackedSft(spark, sfDir))
    assert(nodes(p104, "BroadcastHashJoin") + nodes(p104, "SortMergeJoin") +
      nodes(p104, "ShuffledHashJoin") == 0, p104)
    assert(nodes(p104, "Window") == 0, s"fold must not be a window:\n$p104")
    assert(nodes(p104, "Exchange") <= 3, p104)
    // x105: preference pairs — a PURE map pass: no join, no
    // aggregate, no window; the only exchange is the output ordering
    val p105 = plan(Extensions.x105PreferencePairs(spark, sfDir))
    assert(nodes(p105, "BroadcastHashJoin") + nodes(p105, "SortMergeJoin") +
      nodes(p105, "ShuffledHashJoin") + nodes(p105, "HashAggregate") +
      nodes(p105, "SortAggregate") + nodes(p105, "Window") == 0, p105)
    assert(nodes(p105, "Exchange") <= 1, p105)
    // x106: kernel-count projection + ONE stratum aggregate
    val p106 = plan(Extensions.x106TokenizerFertility(spark, sfDir))
    assert(nodes(p106, "BroadcastHashJoin") + nodes(p106, "SortMergeJoin") +
      nodes(p106, "ShuffledHashJoin") + nodes(p106, "Window") == 0, p106)
    assert(nodes(p106, "HashAggregate") >= 1, p106)
    assert(nodes(p106, "Exchange") <= 2, p106)
    // x107 (round-13 shape): histogram-offset batching — the tiny
    // (stratum, length) histogram joins back broadcast under the
    // measured gate, and the two remaining windows partition by
    // (strata, n_tokens) tie groups and (strata, batch_id) — NO
    // window partitions by the stratum alone (the mega-stratum
    // assert lives in the dedicated round-13 test above)
    val p107 = plan(Extensions.x107LengthBatches(spark, sfDir))
    assert(nodes(p107, "SortMergeJoin") + nodes(p107, "ShuffledHashJoin") +
      nodes(p107, "CartesianProduct") == 0, p107)
    assert(nodes(p107, "BroadcastHashJoin") == 1,
      s"measured-small offsets did not broadcast:\n$p107")
    // the MAIN query carries 2 windows + 3 exchanges; the cached
    // histogram's InMemoryRelation prints its own subplan TWICE
    // (AQE initial + final), adding 2 windows and 4 exchanges of
    // display noise — the per-window partition-arity assert (no
    // window partitioned by the stratum alone) lives in the
    // dedicated mega-stratum test, on the optimized plan
    assert(nodes(p107, "Window") <= 4, p107)
    assert(nodes(p107, "Exchange") <= 7, p107)
    // x108: the corpus pays one count aggregate, the strata-sized
    // apportionment windows, the target join-back, and ONE rank
    // window — never a cartesian or a corpus-sized extra exchange
    val p108 = plan(Extensions.x108TemperatureSample(spark, sfDir))
    assert(nodes(p108, "CartesianProduct") == 0, p108)
    assert(nodes(p108, "Window") >= 2 && nodes(p108, "Window") <= 4, p108)
    // x109: ONE prompt-keyed aggregation with map-side partial
    // combine — no window, no join (max_by/min_by are declarative)
    val p109 = plan(Extensions.x109BestOfN(spark, sfDir))
    assert(nodes(p109, "BroadcastHashJoin") + nodes(p109, "SortMergeJoin") +
      nodes(p109, "ShuffledHashJoin") + nodes(p109, "Window") == 0, p109)
    assert(nodes(p109, "HashAggregate") + nodes(p109, "SortAggregate") +
      nodes(p109, "ObjectHashAggregate") >= 2,
      s"partial+final combine expected:\n$p109")
    assert(nodes(p109, "Exchange") <= 2, p109)
    // x112: BPE token-window chunking is a PURE MAP — encode,
    // posexplode, slice, decode; the only exchange is output ordering
    val p112 = plan(Extensions.x112TokenWindowsBpe(spark, sfDir))
    assert(nodes(p112, "BroadcastHashJoin") + nodes(p112, "SortMergeJoin") +
      nodes(p112, "ShuffledHashJoin") + nodes(p112, "HashAggregate") +
      nodes(p112, "SortAggregate") + nodes(p112, "Window") == 0, p112)
    assert(nodes(p112, "Exchange") <= 1, p112)
    // x111: the bucket-term table reaches the exploded corpus
    // features through a BROADCAST join (numBuckets rows, bounded by
    // the parameter), the doc-keyed sum is an aggregate, and the
    // 1-row total frames ride broadcast nested loops — never a
    // cartesian
    val p111 = plan(Extensions.x111DsirWeights(spark, sfDir))
    assert(nodes(p111, "BroadcastHashJoin") >= 1, p111)
    assert(nodes(p111, "CartesianProduct") +
      nodes(p111, "SortMergeJoin") + nodes(p111, "Window") == 0, p111)
    assert(nodes(p111, "HashAggregate") >= 2, p111)
    // x110: map-side shard assignment + ONE shard-keyed rank window
    val p110 = plan(Extensions.x110ResumeShuffle(spark, sfDir))
    assert(nodes(p110, "BroadcastHashJoin") + nodes(p110, "SortMergeJoin") +
      nodes(p110, "ShuffledHashJoin") + nodes(p110, "HashAggregate") +
      nodes(p110, "SortAggregate") == 0, p110)
    assert(nodes(p110, "Window") == 1, p110)
    assert(nodes(p110, "Exchange") <= 2, p110)
  }

  test("Curation.domainQuota (exact): WINDOW-FREE — bounded top-k " +
      "threshold agg + gated join-back, kept set identical to the " +
      "ranking-window form including a planted mega-domain") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
      // mega-domain: half the corpus under one key, long tail beside it
      .withColumn("dom",
        when(col("doc_id") % 2 === 0, lit("megafarm.com"))
          .otherwise(concat(lit("d"), (col("doc_id") % 37)
            .cast("string"))))
    val p = plan(graft.operators.Curation.domainQuota(
      df, "dom", "doc_id", 5))
    assert(nodes(p, "Window") == 0,
      s"exact quota still sorts per domain under a window:\n$p")
    assert(nodes(p, "BroadcastHashJoin") == 1,
      s"measured-small thresholds did not broadcast:\n$p")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pGated = plan(shuffled(graft.operators.Curation.domainQuota(
        df, "dom", "doc_id", 5)))
      assert(nodes(pGated, "BroadcastHashJoin") == 0,
        s"over-bound thresholds still broadcast:\n$pGated")
      assert(nodes(pGated, "SortMergeJoin") +
        nodes(pGated, "ShuffledHashJoin") >= 1, pGated)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // kept set ≡ the ranking-window reference, mega-domain included
    val got = graft.operators.Curation.domainQuota(
        df, "dom", "doc_id", 5)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dom"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val ref = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ref, "bounded-agg quota diverged from window form")
    assert(got.count(i => i % 2 == 0) == 5,
      "mega-domain must be thinned to exactly the quota")
  }

  test("Curation blocklist joins: broadcast under the measured " +
      "bound, shuffled anti/left join above it, identical kept sets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
      .withColumn("dom", concat(lit("d"), (col("doc_id") % 37)
        .cast("string")))
    val bl = Seq("d3", "d17").toDF("domain")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pHinted = plan(graft.operators.Curation.filterBlocklisted(
        df, "dom", bl))
      assert(nodes(pHinted, "BroadcastHashJoin") == 1, pHinted)
      val pGated = plan(shuffled(graft.operators.Curation.filterBlocklisted(
        df, "dom", bl)))
      assert(nodes(pGated, "BroadcastHashJoin") == 0, pGated)
      val a = graft.operators.Curation.filterBlocklisted(df, "dom", bl)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      val b = shuffled(graft.operators.Curation.filterBlocklisted(df, "dom",
          bl))
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      assert(a.toSeq == b.toSeq)
      // the mark form agrees with the drop form either way
      val kept = shuffled(graft.operators.Curation.markBlocklisted(df, "dom",
          bl))
        .filter(col("kept")).select(col("doc_id")).collect()
        .map(_.getLong(0)).sorted
      assert(kept.toSeq == a.toSeq)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("Mixing.epochsPerStratumTable: the factor-frame join is gated " +
      "the same way — broadcast under the bound, shuffle join above, " +
      "identical multiset either way") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val ft = Seq(("en", 2.0), ("de", 0.5)).toDF("lang", "factor")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pHinted = plan(graft.operators.Mixing.epochsPerStratumTable(
        df, "lang", "doc_id", ft))
      assert(nodes(pHinted, "BroadcastHashJoin") == 1, pHinted)
      val pGated = plan(shuffled(graft.operators.Mixing.epochsPerStratumTable(
        df, "lang", "doc_id", ft)))
      assert(nodes(pGated, "BroadcastHashJoin") == 0, pGated)
      val a = graft.operators.Mixing.epochsPerStratumTable(
        df, "lang", "doc_id", ft)
        .select(col("doc_id"), col("copy_idx")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      val b = shuffled(graft.operators.Mixing.epochsPerStratumTable(
        df, "lang", "doc_id", ft))
        .select(col("doc_id"), col("copy_idx")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(a.toSeq == b.toSeq)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
