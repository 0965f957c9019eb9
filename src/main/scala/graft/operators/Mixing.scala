package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mixture balancing for training corpora — downsample over-represented
  * strata (language, source domain, crawl snapshot) so no stratum
  * dominates the training mix. This is the corpus-balancing step that
  * multilingual/multi-source pipelines run between filtering and
  * sharding (the deterministic-cap form of temperature sampling: a
  * stratum with n_g documents keeps ~min(n_g, cap) of them).
  *
  * Selection is a pure function of the row id, like the other sampling
  * operators ([[Sampling]]): a row survives iff the first 8 hex digits
  * of md5(id) fall below the stratum's threshold
  * `floor(16^8 · min(1, cap/n_g))`, computed entirely in INTEGER
  * arithmetic (`(16^8 · cap) div n_g`, clamped) so the kept set is
  * engine-exact and reproducible across runs, partitionings, and
  * engines. Per-stratum kept counts are binomial around min(n_g, cap)
  * — the price of a map-only filter; [[Sampling.stratifiedSample]] is
  * the exact-count alternative when a per-group sort is affordable.
  *
  * Scale shape: one tiny groupBy to count each stratum (output is
  * |strata| rows — broadcast by AQE), then the threshold join and hash
  * compare are map-side over the corpus scan. Nothing corpus-sized
  * shuffles: THE form that survives 100 TB.
  */
object Mixing {

  /** Deterministically downsample each stratum to ≈`cap` rows.
    *
    * `16^8 · cap` must fit a long ⇒ cap < 2^31 — plenty: caps are
    * human-chosen budgets, not data-sized.
    */
  def capPerStratum(df: DataFrame, stratumCol: String, idCol: String,
      cap: Long): DataFrame = {
    require(cap >= 0 && cap < (1L << 31), s"cap out of range: $cap")
    val full = BigInt(16).pow(8).toLong
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      // integer threshold: full·cap div n, clamped to full (rate 1);
      // `div` (not `/`): Spark's / on longs is double division
      .withColumn("__thr",
        least(lit(full), expr(s"(${full}L * ${cap}L) div __n")))
      .withColumn("__thr_hex", format_string("%08x", col("__thr")))
      .select(col(stratumCol).as("__s"), col("__thr"), col("__thr_hex"))
    // null-safe: a null stratum is one cap group, never silently dropped
    df.join(counts, col(stratumCol) <=> col("__s"))
      // rate-1 strata keep everything outright: their threshold 16^8 is
      // nine hex digits and would compare LOW lexicographically
      .filter(col("__thr") === lit(full) ||
        substring(md5(col(idCol).cast("string")), 1, 8) < col("__thr_hex"))
      .drop("__s", "__thr", "__thr_hex")
  }

  /** TEMPERATURE-based mixture sampling — the multilingual-mix device
    * from the mT5/XLM-R line of work (public: Xue et al. NAACL'21 §3.2,
    * Conneau et al. ACL'20 §3): a stratum with n_g rows receives a
    * share of the `budget` proportional to n_g^α, so α = 1 reproduces
    * the natural distribution, α = 0 is uniform over strata, and the
    * usual α ∈ (0, 1) lifts low-resource strata without flattening the
    * mix. [[capPerStratum]] is the hard-ceiling form; this is the
    * smooth one.
    *
    * Everything that decides MEMBERSHIP is engine-exact:
    *
    *  - weights quantize to integer milli-units `⌊n^α · 1000⌋`. For the
    *    default α = 0.5 the power is `sqrt`, which IEEE 754 requires to
    *    be CORRECTLY ROUNDED — both JVM `Math.sqrt` and C `sqrt` return
    *    the identical double, so the floor can never straddle engines
    *    (α = 1 and α = 0 are pure integer arithmetic). Other α go
    *    through `pow`, which libms only bound to ~1 ulp — fine for a
    *    mix, but callers who need a bit-exact cross-engine oracle
    *    should stick to {0, 0.5, 1}.
    *  - per-stratum targets come from LARGEST-REMAINDER apportionment
    *    over the integer weights (base = budget·w div W, the leftover
    *    seats to the largest remainders, stratum name as the
    *    tiebreak), clamped to the stratum size — so targets sum to
    *    `budget` exactly unless clamping binds (a stratum smaller than
    *    its share contributes all it has; the shortfall is reported,
    *    not silently redistributed — redistribution would make every
    *    stratum's sample depend on every other's size, destroying
    *    incremental reproducibility).
    *  - WITHIN a stratum the winners are the md5-hash-order prefix
    *    ([[Sampling.stratifiedSample]]'s device): a pure function of
    *    the id, identical across runs, engines, and partitionings.
    *
    * Scale shape: one tiny groupBy to count strata (|strata| rows),
    * the apportionment windows run over that strata-sized frame (a
    * single-partition window over dozens of rows, not the corpus),
    * and the corpus pays exactly ONE stratum-keyed window for the
    * hash rank — the same shape as the exact stratified sampler.
    */
  /** The shared |strata|-sized apportionment frame: (stratumCol, __n,
    * __tgt) where targets are the largest-remainder apportionment of
    * `budget` over `n^α` weights, clamped to stratum size. The windows
    * here run over the STRATA frame (dozens-to-thousands of rows,
    * single partition by design), never the corpus.
    */
  private def temperatureTargets(df: DataFrame, stratumCol: String,
      budget: Long, alpha: Double): DataFrame = {
    require(budget >= 0 && budget < (1L << 31),
      s"budget out of range: $budget")
    require(alpha >= 0 && alpha <= 1, s"alpha out of range: $alpha")
    val n = col("__n").cast("double")
    val w = alpha match {
      case 0.0 => lit(1000L)
      case 0.5 => floor(sqrt(n) * 1000d).cast("long")
      case 1.0 => col("__n") * 1000L
      case a => floor(pow(n, a) * 1000d).cast("long")
    }
    val all = Window.partitionBy()
    df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", w)
      .withColumn("__tw", sum(col("__w")).over(all))
      // budget·w in DECIMAL(38,0): at α = 1 a 10¹²-row stratum has
      // w = 10¹⁵, and budget·w would overflow a long — the decimal
      // product is exact to 10³⁸ and the quotient (≤ budget) fits back
      .withColumn("__base", expr(
        s"CAST((CAST(${budget} AS DECIMAL(38,0)) * __w) div __tw " +
          "AS BIGINT)"))
      .withColumn("__rem", expr(
        s"CAST((CAST(${budget} AS DECIMAL(38,0)) * __w) % __tw " +
          "AS BIGINT)"))
      .withColumn("__rk", row_number().over(
        all.orderBy(col("__rem").desc, col(stratumCol))))
      .withColumn("__left", lit(budget) - sum(col("__base")).over(all))
      .withColumn("__tgt", least(col("__n"),
        col("__base") + when(col("__rk") <= col("__left"), 1L)
          .otherwise(0L)))
      .select(col(stratumCol), col("__n"), col("__tgt"))
  }

  def temperatureSample(df: DataFrame, stratumCol: String, idCol: String,
      budget: Long, alpha: Double = 0.5): DataFrame = {
    val counts = temperatureTargets(df, stratumCol, budget, alpha)
      .select(col(stratumCol).as("__s"), col("__tgt"))
    val rank = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    // null-safe: a null stratum is a stratum (one apportionment row of
    // its own — window partitions always handled it); a plain
    // equi-join would silently drop its rows
    df.join(counts, col(stratumCol) <=> col("__s"))
      .withColumn("__rn", row_number().over(rank).cast("long"))
      .filter(col("__rn") <= col("__tgt"))
      .drop("__s", "__tgt", "__rn")
  }

  /** [[temperatureSample]] WITHOUT the per-stratum rank window — the
    * 100 TB form: the exact sampler's `row_number() OVER (PARTITION BY
    * stratum ORDER BY md5(id))` sorts each stratum under ONE task, and
    * a stratum is a language/source — at corpus scale one stratum can
    * be half the data (the mega-stratum serialization the window-free
    * domainQuota eliminated for domains). Here membership is the
    * hash-RATE gate instead ([[Curation.domainQuotaApprox]]'s device):
    * a row survives iff its first 8 md5 hex digits fall under
    * `(16^8 · tgt) div n` — a pure map-side compare after the tiny
    * targets join, ZERO corpus-keyed windows or sorts (plan-asserted).
    * Kept counts are binomial around each target (the exact form
    * remains the oracle reference, x108); at-target strata (tgt = n)
    * keep everything outright — the threshold 16^8 is nine hex digits
    * and would compare LOW against 8-char prefixes, the
    * [[capPerStratum]] rate-1 guard.
    *
    * Selection is still a pure function of (id, stratum sizes):
    * reproducible across runs, engines, and partitionings, and the
    * SAME gate family as [[Sampling.hashSample]], so compositions
    * stay integer-exact.
    */
  def temperatureSampleApprox(df: DataFrame, stratumCol: String,
      idCol: String, budget: Long, alpha: Double = 0.5): DataFrame = {
    val full = BigInt(16).pow(8).toLong
    val counts = temperatureTargets(df, stratumCol, budget, alpha)
      .withColumn("__thr",
        expr(s"(${full}L * __tgt) div __n"))
      .withColumn("__thr_hex", format_string("%08x", col("__thr")))
      .select(col(stratumCol).as("__s"), col("__thr"), col("__thr_hex"))
    // null-safe: null strata sample like any other (see the exact form)
    df.join(counts, col(stratumCol) <=> col("__s"))
      .filter(col("__thr") === lit(full) ||
        substring(md5(col(idCol).cast("string")), 1, 8) <
          col("__thr_hex"))
      .drop("__s", "__thr", "__thr_hex")
  }

  /** The UPSAMPLING half of the mixture recipe: replicate each
    * stratum's rows by its "epochs" factor — the public LLM-mix device
    * (LLaMA/Pile-style: high-quality sources see >1 epoch per pass
    * over the mix, e.g. Wikipedia ×2.5, crawl ×0.67). A row with
    * factor r emits ⌊r⌋ copies plus one more iff the first 8 md5 hex
    * digits of its id fall under `floor(16^8·frac(r))` — the engine's
    * established integer-exact hash gate ([[Sampling.hashSample]]'s
    * device), so the emitted multiset is a PURE FUNCTION of (id,
    * factor): reproducible across runs, partitionings, and engines,
    * and statable bit-for-bit by a SQL oracle. Factors < 1 degrade to
    * plain deterministic downsampling (0 base copies + the fractional
    * gate), so ONE operator expresses the whole mixture row.
    *
    * Each copy carries `copy_idx` (0-based) — downstream shuffling
    * ([[Sampling.shuffleShards]] keyed by (id, copy_idx)) spreads
    * replicas across shards so no training batch sees a document
    * twice.
    *
    * Scale shape: factors are a tiny driver map compiled into the
    * projection; the replication is a pure map-side
    * `explode(sequence(...))` — ZERO shuffles at any corpus size, and
    * the output is at most ⌈max factor⌉ × input rows.
    */
  def epochsPerStratum(df: DataFrame, stratumCol: String, idCol: String,
      factors: Map[String, Double], defaultFactor: Double = 1.0)
      : DataFrame = {
    require(defaultFactor >= 0 && factors.values.forall(_ >= 0),
      "epoch factors must be >= 0")
    require(factors.values.forall(_ < 1000) && defaultFactor < 1000,
      "epoch factors above 1000 are a corpus explosion, not a mix")
    val full = BigInt(16).pow(8).toLong
    // integer-exact split: base copies + 16^8-scaled fractional gate,
    // computed on the DRIVER so the executor-side arithmetic is pure
    // long compares (no float anywhere in the row path)
    def base(r: Double): Long = math.floor(r).toLong
    def fracThr(r: Double): Long =
      math.floor((r - math.floor(r)) * full.toDouble).toLong
    val baseCol = factors.foldLeft(lit(base(defaultFactor))) {
      case (acc, (s, r)) =>
        when(col(stratumCol) === s, lit(base(r))).otherwise(acc)
    }
    val thrCol = factors.foldLeft(lit(fracThr(defaultFactor))) {
      case (acc, (s, r)) =>
        when(col(stratumCol) === s, lit(fracThr(r))).otherwise(acc)
    }
    val copies = (baseCol +
      when(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long") < thrCol, 1L).otherwise(0L)).as("__copies")
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("copy_idx",
        explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** [[epochsPerStratum]] with the factors as a TABLE instead of a
    * literal map — the form for data-sized factor inventories (e.g. a
    * per-domain mix over 10⁵ registered domains, where a literal CASE
    * chain would explode the expression tree). Base copies and the
    * 16^8-scaled fractional threshold are computed ONCE per factor row
    * (longs from that point on — same integer-exact row path as the
    * literal form, and provably the same output: asserted in the
    * spec). Strata absent from the table take `defaultFactor`.
    *
    * Two guards on the factor frame, both cheap against its intended
    * tiny size and load-bearing when a caller passes something bigger:
    * duplicate stratum rows are REJECTED loudly (the join would
    * otherwise fan each corpus row out once per duplicate — a silently
    * wrong multiset, the worst failure class), and the join-back goes
    * through [[graft.core.BroadcastGate]] (insurance against a
    * data-sized factor inventory OOMing the driver).
    */
  def epochsPerStratumTable(df: DataFrame, stratumCol: String,
      idCol: String, factors: DataFrame, factorCol: String = "factor",
      defaultFactor: Double = 1.0): DataFrame = {
    require(defaultFactor >= 0 && defaultFactor < 1000,
      s"defaultFactor out of range: $defaultFactor")
    val full = BigInt(16).pow(8).toLong
    val fBase = graft.core.CacheScope.cached(factors
      .select(col(stratumCol), col(factorCol).cast("double").as("__r"))
      .withColumn("__base", floor(col("__r")).cast("long"))
      .withColumn("__thr",
        floor((col("__r") - floor(col("__r"))) * lit(full.toDouble))
          .cast("long"))
      .drop("__r"))
    val nRows = fBase.count() // also materializes the gate's measurement
    val nStrata = fBase.select(col(stratumCol)).distinct().count()
    require(nRows == nStrata,
      s"factors has $nRows rows but only $nStrata distinct " +
        s"'$stratumCol' values — duplicate strata would silently " +
        "multiply their rows; aggregate to one factor per stratum first")
    val f = graft.core.BroadcastGate.hint("epochsPerStratumTable: factors",
      fBase)(fBase)
    val defBase = math.floor(defaultFactor).toLong
    val defThr = math.floor(
      (defaultFactor - math.floor(defaultFactor)) * full.toDouble).toLong
    df.join(f, Seq(stratumCol), "left")
      .withColumn("__copies",
        coalesce(col("__base"), lit(defBase)) +
          when(conv(substring(md5(col(idCol).cast("string")), 1, 8),
            16, 10).cast("long") < coalesce(col("__thr"), lit(defThr)),
            1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("copy_idx",
        explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies", "__base", "__thr")
  }
}
