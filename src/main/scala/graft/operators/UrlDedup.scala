package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL/metadata-level dedup — the RefinedWeb FIRST STAGE (Penedo et
  * al., 2023 §3.2): before any shingling or MinHash, drop documents
  * whose normalized URL was already ingested. At web scale this is the
  * cheapest dedup there is (one hash-keyed groupBy on a short string —
  * no tokenize, no n-grams) and removes whole re-crawls outright.
  *
  * Normalization rules (each deliberately simple, exactly replayable in
  * SQL — the q129 oracle re-derives them in DuckDB):
  *  1. strip the `#fragment`;
  *  2. lowercase SCHEME and HOST (never the path — paths are
  *     case-sensitive by spec);
  *  3. strip a leading `www.` from the host and an explicit default
  *     port (`:80`/`:443`);
  *  4. strip trailing `/` runs from the path;
  *  5. drop tracking query params (`utm_*`, `fbclid`, `gclid`, `ref`),
  *     SORT the survivors bytewise, rejoin with `&`; an emptied query
  *     loses its `?`.
  * Pure Column composition (regexp + array ops) — no UDF; the scan
  * stays zero-exchange.
  */
object UrlDedup {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val TrackingRe = "^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$"

  /** Canonical form of `url` under the object-doc rules. A null url
    * stays null (no metadata — the caller decides whether to gate), and
    * so does anything that is not a `scheme://` absolute URL (relative
    * paths, bare hosts, `mailto:`, malformed strings — r16 ADVICE:
    * `regexp_extract` returns '' on no match, so without the guard every
    * such value collapsed to the same `'://'+query` key and
    * [[dedupByUrl]] silently dropped distinct documents). Null already
    * means "no usable URL metadata, pass through" everywhere downstream,
    * which is exactly the right treatment for an unparseable value. */
  def normalizeUrl(url: Column): Column =
    when(url.rlike(SchemeRe), canonOf(url))

  /** The canonicalization body WITHOUT the scheme guard — only sound on
    * rows already known to match [[SchemeRe]] (on a non-matching row
    * every extract returns '' and distinct URLs collapse to one key —
    * the exact bug the guard exists to prevent). [[urlGroups]] /
    * [[hostStats]] use it behind a cheap `rlike` WHERE: the guarded
    * [[normalizeUrl]] is NULLABLE, so a consumer's
    * `filter(isNotNull(canon))` can no longer be optimized away and
    * partially re-evaluates the regex chain per row — measured +41% on
    * the urlGroups scan vs +14% for the prefiltered shape (rich1,
    * `scaling/r17/url_guard_ab.json`). */
  private def canonOf(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = regexp_extract(noFrag, "^([^?]*)", 1)
    val query = when(noFrag.contains("?"),
      regexp_extract(noFrag, "\\?(.*)$", 1)).otherwise(lit(""))
    val scheme = lower(regexp_extract(base, SchemeRe, 1))
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(base, SchemeRe + "([^/]*)", 2)),
      "^www\\.", ""), ":(80|443)$", "")
    val path = regexp_replace(
      regexp_extract(base, SchemeRe + "[^/]*(.*)$", 2), "/+$", "")
    val params = array_sort(filter(split(query, "&"),
      p => p =!= lit("") && !p.rlike(TrackingRe)))
    val q = array_join(params, "&")
    concat(scheme, lit("://"), host, path,
      when(length(q) > 0, concat(lit("?"), q)).otherwise(lit("")))
  }

  /** Host of a normalized (or raw) url, post-normalization rules. */
  def urlHost(url: Column): Column =
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, SchemeRe + "([^/?#]*)", 2)),
      "^www\\.", ""), ":(80|443)$", "")

  /** Canonical-URL dedup summary: one row per canonical URL with its
    * duplicate count and the kept (minimum) id — the audit frame a
    * curation run reports before dropping. One hash-keyed groupBy of
    * (short string, id): scale-safe at any corpus size. */
  def urlGroups(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    // prefiltered shape (see canonOf): the guard runs as a cheap WHERE
    // on the raw url (null urls fail rlike too), canon computes ONCE on
    // survivors — result-identical to filtering normalizeUrl's nulls
    df.filter(col(urlCol).rlike(SchemeRe))
      .select(col(idCol), canonOf(col(urlCol)).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** The deduped frame: keeps, per canonical URL, the row with the
    * MINIMUM id (keep-first — the [[Dedup.keyedKeepFirst]] convention);
    * rows with a null url pass through untouched (no metadata is not
    * a duplicate). Implemented as a min-id semi-join, not a window —
    * the groupBy is map-side combined and the join broadcast-able
    * when the duplicate summary is small. */
  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val withCanon = df.withColumn("__canon", normalizeUrl(col(urlCol)))
    val keep = withCanon.filter(col("__canon").isNotNull)
      .groupBy(col("__canon")).agg(min(col(idCol)).as("__keep"))
    withCanon.join(keep, Seq("__canon"), "left")
      .filter(col("__canon").isNull || col(idCol) === col("__keep"))
      .drop("__canon", "__keep")
  }

  /** Keep-BEST URL dedup (r16 verdict "What's missing #3" — production
    * RefinedWeb keeps the NEWEST crawl, not the smallest id): per
    * canonical URL keep the row with the MAXIMUM `priority` (e.g. fetch
    * timestamp), ties broken by MINIMUM id — the
    * [[Dedup.dedupClustersKeepBest]] q110 convention, as one struct-min
    * argmax (negated priority orders descending, id breaks ties
    * ascending). Null-priority rows never win their group (min ignores
    * the null-guarded struct); a group whose priorities are ALL null
    * falls back to [[dedupByUrl]]'s min-id keep. Rows with a null/
    * unparseable URL pass through untouched. Same scale shape as
    * [[dedupByUrl]]: one hash-keyed groupBy on the short canonical
    * string, zero extra exchanges. */
  def dedupByUrlKeepBest(df: DataFrame, idCol: String, urlCol: String,
                         priority: Column): DataFrame = {
    val withCanon = df.withColumn("__canon", normalizeUrl(col(urlCol)))
      .withColumn("__prio", priority)
    withCanon.schema("__prio").dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case other => throw new IllegalArgumentException(
        s"dedupByUrlKeepBest: priority must be numeric (argmax needs an " +
          s"ordered negatable value), got ${other.catalogString} — cast " +
          "or rank the column to a numeric score first")
    }
    val keep = withCanon.filter(col("__canon").isNotNull)
      .groupBy(col("__canon"))
      .agg(min(when(col("__prio").isNotNull,
          struct((col("__prio") * lit(-1)).as("np"),
            col(idCol).as("bid")))).as("__b"),
        min(col(idCol)).as("__minid"))
      .select(col("__canon"),
        coalesce(col("__b.bid"), col("__minid")).as("__keep"))
    withCanon.join(keep, Seq("__canon"), "left")
      .filter(col("__canon").isNull || col(idCol) === col("__keep"))
      .drop("__canon", "__keep", "__prio")
  }

  /** Per-host crawl health: docs, canonical URLs, and duplicate factor
    * per host — the RefinedWeb-style report that surfaces mirror sites
    * and crawler traps before they reach the expensive stages. */
  def hostStats(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.filter(col(urlCol).rlike(SchemeRe)) // prefiltered (see canonOf)
      .select(col(idCol), canonOf(col(urlCol)).as("__canon"))
      .select(urlHost(col("__canon")).as("host"), col("__canon"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__canon")).as("n_canonical"))
}
