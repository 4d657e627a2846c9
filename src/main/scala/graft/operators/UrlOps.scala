package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL/host-level dedup + normalization — the CCNet / RefinedWeb
  * front-of-pipeline practice the engine's content-keyed families
  * (doc hash, paragraph, span, MinHash) sit BEHIND: a crawl dedups by
  * CANONICALIZED URL before content is ever fetched/cleaned (RefinedWeb
  * §3.1 "URL deduplication"; CCNet dedups its WET shards per URL), and
  * host-level aggregates drive blocklist-style filtering (RefinedWeb's
  * URL filtering scores hosts, Dolma filters by domain).
  *
  * Everything here is pure per-row regex/string projection plus the
  * repo's keep-min resolution — no UDF, no window, and the exact
  * regex chain is restated in the l40 DuckDB oracle (the explicit
  * character-class discipline of [[graft.functions.TextFunctions]]:
  * no lookahead/lookbehind, which RE2 engines lack).
  *
  * Canonicalization contract ([[canonicalizeUrl]]), applied in order:
  *  1. trim surrounding whitespace;
  *  2. lowercase the scheme://authority prefix (path/query keep case —
  *     paths are case-SENSITIVE on most servers, hosts never are);
  *  3. drop the `#fragment` (never sent to the server);
  *  4. drop explicit default ports (`http://h:80`, `https://h:443`);
  *  5. drop tracking parameters (`utm_*`, `gclid`, `fbclid`,
  *     `msclkid`, `mc_eid`, `igshid` — the public tracking-param
  *     blocklists' stable core), keeping all other params in order;
  *  6. re-anchor the query (`path&a=1` → `path?a=1` when the leading
  *     `?`-param was removed) and drop a bare trailing `?`;
  *  7. collapse trailing slashes: `/path/` → `/path`, `http://h/` →
  *     `http://h`, `/path/?q` → `/path?q` (`http://` itself is
  *     protected by the preceding-char class).
  * Assumptions (documented, not detected): http(s) URLs, no IPv6
  * bracket hosts, `&` appears only in query strings. NULL → NULL.
  */
object UrlOps {

  private val TrackingParams =
    "utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid"

  /** The 7-step canonical form (see object scaladoc). Pure per-row. */
  def canonicalizeUrl(url: Column): Column = {
    val t = trim(url)
    // 2. lowercase scheme://authority — extract the prefix, lower it,
    // re-attach the rest verbatim (no match → empty prefix → no-op)
    val pre = regexp_extract(t, "^[^:/?#]+://[^/?#]*", 0)
    val lowered = concat(lower(pre), t.substr(length(pre) + 1, length(t)))
    val noFrag = regexp_replace(lowered, "#.*$", "")
    // 4. default ports — host class excludes ':' so the port match is
    // anchored to the real authority boundary; unmatched optional tail
    // group substitutes as empty in both engines
    val noPort = regexp_replace(
      regexp_replace(noFrag, "^(http://[^/:?#]*):80([/?#].*)?$", "$1$2"),
      "^(https://[^/:?#]*):443([/?#].*)?$", "$1$2")
    val noTrack =
      regexp_replace(noPort, s"[?&]($TrackingParams)=[^&#]*", "")
    // 6. the first surviving param may have lost its '?': promote the
    // first '&' that appears before any '?' (anchored — single match)
    val reanchored = regexp_replace(
      regexp_replace(noTrack, "^([^?&]*)&", "$1?"), "\\?$", "")
    // 7. trailing slashes, both at end-of-url and before the query;
    // the preceding-char class [^:/] protects the '//' of 'http://'
    regexp_replace(
      regexp_replace(reanchored, "/+\\?", "?"),
      "([^:/])/+$", "$1")
  }

  /** Hostname of a canonicalized URL (authority minus any port). */
  def hostOf(canonicalUrl: Column): Column =
    regexp_extract(canonicalUrl, "^[^:/?#]+://([^/:?#]*)", 1)

  /** Exact dedup by canonical URL, keep-first (min id) — RefinedWeb's
    * URL dedup as a batch operator. NULL-url rows pass through (the
    * family convention). Scale shape: the canonical occurrence per URL
    * is a partial-agg groupBy-min (a URL crawled millions of times
    * collapses map-side, never a window), and the join back isolates
    * hot keys LOSSLESSLY — canonical rows above `hotOccurrences`
    * broadcast and their matches peel off BEFORE the cold shuffle (the
    * [[Dedup.paragraphDedup]] pattern: AQE's skew split cannot see a
    * join whose build child is an aggregate, so the isolation is
    * deterministic, not byte-threshold dependent). */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String,
      hotOccurrences: Int = 65536): DataFrame = {
    // EVERY temp column joined back against the full user frame goes
    // through Cols.fresh — a caller column literally named __mh/__mc
    // would otherwise make the post-join reference ambiguous and fail
    // the query (the __curl discipline, applied uniformly)
    val cu = graft.Cols.fresh(df.columns, "__curl")
    val m = graft.Cols.fresh(df.columns :+ cu, "__m")
    val n = graft.Cols.fresh(df.columns :+ cu :+ m, "__n")
    val mh = graft.Cols.fresh(df.columns :+ cu :+ m :+ n, "__mh")
    val mc = graft.Cols.fresh(df.columns :+ cu :+ m :+ n :+ mh, "__mc")
    val withC = df.where(col(urlCol).isNotNull)
      .withColumn(cu, canonicalizeUrl(col(urlCol)))
    val canonAll = withC.groupBy(col(cu))
      .agg(min(col(idCol)).alias(m), count(lit(1)).alias(n))
    val canonHot = canonAll.where(col(n) > hotOccurrences)
      .select(col(cu), col(m).alias(mh))
    val canonCold = canonAll.where(col(n) <= hotOccurrences)
      .select(col(cu), col(m).alias(mc))
    val hotJoined = withC.join(broadcast(canonHot), Seq(cu), "left")
    val hotKept = hotJoined.where(col(mh).isNotNull)
      .where(col(mh) === col(idCol)).drop(mh)
    val coldKept = hotJoined.where(col(mh).isNull).drop(mh)
      .join(canonCold, Seq(cu))
      .where(col(mc) === col(idCol)).drop(mc)
    hotKept.unionByName(coldKept)
      .select(df.columns.map(col).toIndexedSeq: _*)
      .unionByName(df.where(col(urlCol).isNull))
  }

  // ---- persisted canonical-URL history (cross-batch URL dedup — the
  // CCNet shape: a crawl sees the same URL across fetches/batches, so
  // production URL dedup is incremental). The history IS the exact-hash
  // machinery ([[Dedup.exactIncrementalDelta]] et al.) applied to the
  // CANONICAL url string, under its own `<table>_url` base name so it
  // can live next to the same intake table's text-hash `_xh` history;
  // [[Dedup.UrlHistory]] is its lifecycle (ensure / drop / fold).
  // All the `_xh` properties carry over verbatim: bucketed main +
  // overwrite-own-dir deltas + fold manifest, zero-exchange probe
  // (batch hashes broadcast, history never exchanges), same-id replay
  // guard, NULL urls pass (NULL canonical → NULL hash → no match). ----

  private def withCanonCol(df: DataFrame, urlCol: String): (DataFrame, String) = {
    val cu = graft.Cols.fresh(df.columns, "__curl")
    (df.withColumn(cu, canonicalizeUrl(col(urlCol))), cu)
  }

  /** Replay-safe delta append of a batch's canonical-URL hashes. */
  def appendUrlHistoryDelta(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, urlCol: String, idCol: String, table: String,
      batchId: Long): Unit = {
    val (withC, cu) = withCanonCol(df, urlCol)
    Dedup.appendHashHistoryDelta(spark, withC, cu, idCol, s"${table}_url", batchId)
  }

  /** Drop batch rows whose CANONICAL url the history (main ∪ delta)
    * holds under a DIFFERENT id — [[Dedup.exactIncrementalDelta]] over
    * the canonical column (see its scaladoc for the zero-exchange
    * probe shape and the same-id replay guard). Compose with
    * [[urlDedup]] for within-batch duplicates (the incremental family
    * contract: probes never dedup within the batch). NULL urls pass. */
  def urlIncrementalDelta(spark: org.apache.spark.sql.SparkSession,
      newDf: DataFrame, table: String, urlCol: String,
      idCol: String): DataFrame = {
    val (withC, cu) = withCanonCol(newDf, urlCol)
    Dedup.exactIncrementalDelta(spark, withC, s"${table}_url", cu, idCol)
      .drop(cu)
  }

  /** Host-level aggregates over canonicalized URLs — the blocklist /
    * host-quality filtering input (RefinedWeb URL scoring, Dolma
    * domain filters): per host, total rows, distinct canonical URLs,
    * and the duplicated-row count (rows − distinct URLs). One
    * partial-agg groupBy at (host, url) grain then one at host grain —
    * no countDistinct re-shuffle of raw rows. NULL urls are excluded
    * (they have no host). */
  def hostAggregates(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val cu = graft.Cols.fresh(df.columns, "__curl")
    val perUrl = df.where(col(urlCol).isNotNull)
      .withColumn(cu, canonicalizeUrl(col(urlCol)))
      .groupBy(hostOf(col(cu)).alias("host"), col(cu))
      .agg(count(lit(1)).alias("__nu"))
    perUrl.groupBy(col("host"))
      .agg(sum(col("__nu")).alias("n_rows"),
        count(lit(1)).alias("n_urls"),
        (sum(col("__nu")) - count(lit(1))).alias("n_dup_rows"))
  }

  /** Drop rows whose canonical-URL host is in a frozen blocklist
    * (RefinedWeb §3.1's URL filtering — a curated host blocklist or a
    * [[hostAggregates]]-derived score cut applied at intake, right
    * after [[urlDedup]] and BEFORE any content work). `blocked` is one
    * host string column (`hostCol`); rows with NULL url or an
    * unextractable host PASS (no evidence — NULL join keys never match
    * an anti join, so the convention is structural). Scale shape: a
    * blocklist is list-sized (RefinedWeb's was ~4.6M domains — tiny
    * next to the corpus), so it BROADCASTS into one anti join; the
    * corpus side never exchanges. */
  def hostFilter(df: DataFrame, urlCol: String, blocked: DataFrame,
      hostCol: String = "host"): DataFrame = {
    val h = graft.Cols.fresh(df.columns, "__host")
    df.withColumn(h, hostOf(canonicalizeUrl(col(urlCol))))
      .join(broadcast(blocked.select(col(hostCol).alias(h))), Seq(h),
        "left_anti")
      .drop(h)
  }
}
