package graft.operators

import graft.core.BroadcastGate
import graft.functions.UrlFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Domain-level corpus curation: the blocklist/allowlist pass every
  * web-crawl pipeline runs between URL parsing and content processing.
  *
  * Scale shape: the blocklist is domains (10⁴–10⁷ rows — always tiny
  * next to a 100 TB corpus), so every operation here is one BROADCAST
  * join against the corpus — no corpus shuffle, no skew exposure (a
  * mega-domain like a link farm hits one broadcast-probe partition-local
  * lookup, never a shuffled hot key).
  */
object Curation {

  /** Corpus rows annotated with parsed URL parts and the curation keys:
    * `host`, `registered_domain`, `url_normalized`. Pure map-side
    * projection (codegen'd regexp chain, no UDF) — composes with any
    * downstream filter without breaking pushdown of other predicates.
    */
  def withUrlParts(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val host = UrlFunctions.urlHost(u)
    df.withColumn("host", host)
      .withColumn("registered_domain", UrlFunctions.registeredDomain(host))
      .withColumn("url_normalized", UrlFunctions.normalizeUrl(u))
  }

  /** [[withUrlParts]] with `registered_domain` computed under a
    * caller-supplied public-suffix list instead of the built-in
    * heuristic — the production form (see [[UrlFunctions
    * .registeredDomain]]'s PSL overload). `host` is emitted in its
    * punycode grouping form ([[UrlFunctions.hostAscii]]) so BOTH keys
    * group IDN and wire-form URLs together — a unicode `host` next to
    * a punycode `registered_domain` would split per-host quotas while
    * per-domain quotas merged.
    */
  def withUrlParts(df: DataFrame, urlCol: String,
      pslRules: Seq[String]): DataFrame = {
    val u = col(urlCol)
    val host = UrlFunctions.hostAscii(UrlFunctions.urlHost(u))
    df.withColumn("host", host)
      .withColumn("registered_domain",
        UrlFunctions.registeredDomain(host, pslRules))
      .withColumn("url_normalized", UrlFunctions.normalizeUrl(u))
  }

  /** Collect a one-column PSL frame (rule lines, publicsuffix.org
    * format) into the rule Seq the PSL kernel ships to executors. The
    * list is bounded data (~10⁴ rules for the real PSL); the bound is
    * a loud guard, not a truncation.
    */
  def pslRules(psl: DataFrame, maxRules: Long = 1000000L): Seq[String] = {
    val n = psl.count()
    require(n <= maxRules,
      s"public-suffix table has $n rows > maxRules=$maxRules — not a " +
        "suffix list; pass the publicsuffix.org rule file, not a corpus")
    psl.select(psl.columns.head).collect()
      .map(_.getString(0)).toSeq
  }

  /** The blocklist side of both blocklist joins, deduped and gated by
    * [[graft.core.BroadcastGate]]: typical blocklists are 10⁴–10⁶
    * domains and broadcast, but aggressive open-web lists reach 10⁷+
    * (hundreds of MB after dedup). The last class of caller-fed frames
    * in src/main whose size the caller can get wrong now has the same
    * insurance as the corpus-derived ones.
    */
  private def gatedBlocklist(blocklist: DataFrame): DataFrame = {
    val bl = graft.core.CacheScope.cached(
      blocklist.select(col("domain")).distinct())
    BroadcastGate.hint("blocklist", bl)(bl)
  }

  /** Rows flagged `kept = false` when their registered domain appears in
    * the blocklist (a one-column `domain` frame). LEFT join (broadcast
    * under the measured gate — [[gatedBlocklist]]) so the flag is
    * auditable; [[filterBlocklisted]] is the drop form and is provably
    * `mark.filter(kept)` minus the bookkeeping columns.
    */
  def markBlocklisted(df: DataFrame, domainCol: String,
      blocklist: DataFrame): DataFrame = {
    val bl = gatedBlocklist(blocklist)
      .withColumn("__blocked", lit(true))
    df.join(bl, df(domainCol) === bl("domain"), "left")
      .withColumn("kept", coalesce(col("__blocked"), lit(false)) === lit(false))
      .drop("domain", "__blocked")
  }

  /** The production drop form: LEFT ANTI join (broadcast under the
    * measured gate) — rows whose registered domain is blocklisted
    * never survive the probe, nothing corpus-sized shuffles while the
    * list fits the bound.
    */
  def filterBlocklisted(df: DataFrame, domainCol: String,
      blocklist: DataFrame): DataFrame = {
    // qualify the probe key through the blocklist frame itself: an
    // unqualified col("domain") is ambiguous whenever the INPUT also
    // carries a column named "domain" (domainCol == "domain" is the
    // common caller shape)
    val bl = gatedBlocklist(blocklist)
    df.join(bl, df(domainCol) === bl("domain"), "left_anti")
  }

  /** Keep the LATEST capture of each canonical URL — the
    * revision-dedup pass a crawl pipeline runs before content dedup
    * (the same page is fetched every snapshot; only the newest
    * capture should enter the corpus). The winner per canonical URL is
    * the row with the greatest (fetch time, id) — the id tiebreak
    * makes the pick deterministic when a snapshot carries duplicate
    * timestamps.
    *
    * Scale shape: ONE shuffle keyed by canonical URL through a
    * `max_by` aggregate — partial-merged map-side with one-row state
    * per group, so a URL captured in every one of 100 snapshots costs
    * one comparison per capture, never a per-group sort (the
    * window-rank alternative sorts every group). Output columns = the
    * winning row's, plus `url_canonical`.
    */
  def latestPerUrl(df: DataFrame, urlCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val cols = df.columns
    df.withColumn("url_canonical", UrlFunctions.normalizeUrl(col(urlCol)))
      .groupBy(col("url_canonical"))
      .agg(max_by(struct(cols.map(col).toSeq: _*),
        struct(col(tsCol), col(idCol))).as("__w"))
      .select(col("url_canonical") +:
        cols.map(c => col(s"__w.$c").as(c)).toSeq: _*)
  }

  /** Diff two crawl snapshots by canonical URL + content fingerprint —
    * the incremental-crawl question ("what changed since the last
    * snapshot?") that decides how much of the pipeline re-runs. Emits
    * one row per URL present in either snapshot with
    * `status ∈ {new, changed, unchanged, deleted}` and both
    * fingerprints (null on the absent side). Callers pass
    * already-canonical URL keys (compose with [[latestPerUrl]] /
    * [[UrlFunctions.normalizeUrl]]) and any content fingerprint
    * ([[graft.functions.TextFunctions.fingerprint]] is the usual one).
    *
    * Scale shape: one full-outer shuffle join on the URL key — both
    * sides corpus-sized, nothing else; downstream stages filter on
    * `status` so only the new/changed slice (typically a few percent
    * of a recrawl) flows on.
    */
  def crawlDiff(prev: DataFrame, next: DataFrame, urlCol: String,
      fpCol: String): DataFrame = {
    val p = prev.select(col(urlCol).as("url"), col(fpCol).as("prev_fp"))
    val n = next.select(col(urlCol).as("url"), col(fpCol).as("next_fp"))
    p.join(n, Seq("url"), "full_outer")
      .withColumn("status",
        when(col("prev_fp").isNull, "new")
          .when(col("next_fp").isNull, "deleted")
          .when(col("prev_fp") === col("next_fp"), "unchanged")
          .otherwise("changed"))
  }

  /** Per-domain document quota — the over-representation cap every
    * web-corpus recipe applies after blocklisting (a handful of
    * template-heavy domains otherwise dominate the token budget): keep
    * at most `quota` rows per `domainCol` value, chosen by md5-hash
    * order of the id (uniform within the domain, deterministic across
    * runs/engines/partitionings — the [[Sampling]] contract).
    *
    * Scale shape: WINDOW-FREE and mega-domain-safe. A bounded
    * [[graft.functions.Aggregators.BottomKKey]] aggregate computes
    * each domain's quota-th smallest sort key (≤ `quota` keys per
    * (domain, partition) cross the exchange — partial-merged
    * map-side, never a per-domain sort), and a second corpus pass
    * keeps rows at or under their domain's threshold. A link-farm
    * domain with 10⁹ rows costs the same per row as any other — the
    * previous ranking-window form sorted the whole domain under one
    * task. The per-domain threshold frame scales with corpus
    * CARDINALITY (~10⁸ registered domains open-web), so its join-back
    * broadcasts only under [[graft.core.BroadcastGate]], exactly like
    * [[domainQuotaApprox]]'s counts frame.
    *
    * Selection key: `md5(id) || id` — the 32-hex md5 prefix decides
    * every comparison between distinct ids (fixed width), so the kept
    * set equals `row_number() OVER (ORDER BY md5(id), id) <= quota`
    * exactly (oracle x77, and the spec pins a planted mega-domain);
    * rows sharing an id share a key and are kept or dropped together.
    */
  def domainQuota(df: DataFrame, domainCol: String, idCol: String,
      quota: Int): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    val sortKey = concat(md5(col(idCol).cast("string")),
      col(idCol).cast("string"))
    val bottomK = udaf(new graft.functions.Aggregators.BottomKKey(quota),
      org.apache.spark.sql.Encoders.STRING)
    val thresholds = graft.core.CacheScope.cached(
      df.select(col(domainCol), sortKey.as("__k"))
        .groupBy(col(domainCol)).agg(bottomK(col("__k")).as("__thr")))
    val hint = BroadcastGate.hint("domainQuota: thresholds", thresholds)
    // NULL-SAFE join: rows whose domain extraction failed form one
    // quota group of their own (the ranking-window semantics this form
    // replaced). A plain equi-join never matches null keys and would
    // silently drop every null-domain row.
    val t = hint(thresholds).withColumnRenamed(domainCol, "__dom")
    df.join(t, col(domainCol) <=> col("__dom"))
      .filter(sortKey <= col("__thr"))
      .select(df.columns.map(col).toSeq: _*) // restore input column order
  }

  /** Map-side approximate quota: domains at or under `quota` pass
    * whole; oversized domains are thinned by the hash-threshold filter
    * at rate quota/n_domain (kept count binomial around the quota, the
    * price of skipping the per-domain sort). Two corpus passes — one
    * count agg joined back, one filter — and NOTHING sorts, so a
    * link-farm domain with 10⁹ rows costs the same per row as any
    * other. The domain-rate compare quantizes to the same 8-hex-digit
    * threshold as [[Sampling.hashSample]], so selection stays a pure
    * function of (id, domain size).
    *
    * The domain-counts frame scales with CORPUS CARDINALITY (an
    * open-web crawl has ~10⁸ registered domains — multi-GB), so its
    * join-back is gated by [[graft.core.BroadcastGate]]; above the
    * bound it runs as a shuffle join on the domain key. An
    * unconditional broadcast here is the driver-OOM pattern at
    * open-web domain counts.
    */
  def domainQuotaApprox(df: DataFrame, domainCol: String, idCol: String,
      quota: Int): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    val counts = graft.core.CacheScope.cached(
      df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n")))
    val hint = BroadcastGate.hint("domainQuotaApprox: counts", counts)
    val m = BigInt(16).pow(8).toLong
    // null-safe: null-domain rows are one quota group, not dropped
    // (same contract as the exact form)
    val joined = df.join(
      hint(counts).withColumnRenamed(domainCol, "__dom"),
      col(domainCol) <=> col("__dom"))
    // threshold hex = floor(16^8 * quota / n), compared against the
    // first 8 md5 hex digits — lexicographic on equal-length lowercase
    // hex ≡ numeric compare
    val thresholdHex = lpad(hex(
        (lit(m) * quota / col("__n")).cast("long")), 8, "0")
    joined.filter(col("__n") <= quota ||
        substring(md5(col(idCol).cast("string")), 1, 8) <
          lower(thresholdHex))
      .select(df.columns.map(col).toSeq: _*) // restore input column order
  }
}
