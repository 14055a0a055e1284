"""URL/domain filtering for training-data pipelines.

The source-level gate every web corpus applies before any text-level
cleaning (C4 drops pages from a bad-word domain list, Raffel et al.
2020 §2.2; RefinedWeb weighs a curated blocklist of ~4.6M domains plus
URL-substring rules, Penedo et al. 2023 §3.1). Three layers:

1. ``url_part`` — scheme/host/path extraction as pure codegen
   ``regexp_extract`` expressions. Patterns stay in the RE2-compatible
   subset (no lookaround/backreferences) so Spark (java.util.regex)
   and DuckDB accept the SAME strings verbatim — the oracle replicates
   every extraction byte-for-byte (same contract as operators/pii.py).
2. ``domain_suffixes`` — the host's registrable-suffix chain
   (``a.b.example.com`` → ``[example.com, b.example.com,
   a.b.example.com]``), built row-local from one split. Blocklists
   match SUBDOMAINS of a listed domain; expressing that as an equi-join
   on exploded suffixes keeps it a hash join a broadcast can serve —
   the scalable alternative to a LIKE-pattern theta join, which Spark
   can only execute as BroadcastNestedLoopJoin (per-row scan of the
   whole list).
3. ``url_filter`` — the page gate: scheme allowlist, blocked-domain
   join, URL-substring rules; emits per-rule audit flags (c4_page_filter
   convention) so downstream can report WHY a page dropped, and
   ``url_report`` reduces the audit to |rules| cells.

No reference counterpart: URL gating is part of the training-data
pipeline extension this engine adds (nearest reference facility is the
char-class pattern encoder, CategoricalPatterns.py:46-92).

At 100 TB: parsing and suffix generation are per-row codegen (no
shuffle, no UDF); the blocklist is a dimension table (even RefinedWeb's
4.6M domains is ~100 MB — broadcastable; beyond that AQE picks a
shuffled hash join on the exploded-suffix key, which stays ~4 narrow
rows per doc). The filter itself never shuffles the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: RE2-compatible extraction patterns, shared VERBATIM with oracles.
#: regexp_extract(url, pattern, 1); empty string when no match.
URL_PATTERNS: dict[str, str] = {
    "scheme": r"^([A-Za-z][A-Za-z0-9+.-]*)://",
    # host = authority minus userinfo@ and :port
    "host": r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)",
    "path": r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)",
    "query": r"\?([^#]*)",
}

#: Max host labels a suffix chain expands to (registrable domains are
#: depth ≤ 4 in practice; deeper hosts still match via their suffixes).
MAX_SUFFIX_LABELS = 4

DEFAULT_SCHEMES = ("http", "https")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def url_part(col: Column | str, part: str) -> Column:
    """One URL component (lowercased for scheme/host; '' if absent)."""
    out = F.regexp_extract(_c(col), URL_PATTERNS[part], 1)
    return F.lower(out) if part in ("scheme", "host") else out


def domain_of(col: Column | str) -> Column:
    """Host with a leading ``www.`` stripped — the match key for
    single-label-exact blocklists and grouping by site."""
    host = url_part(col, "host")
    return F.regexp_replace(host, r"^www\.", "")


def domain_suffixes(col: Column | str) -> Column:
    """array<string> of the host's dot-suffixes, shortest (registrable)
    first, capped at MAX_SUFFIX_LABELS labels plus the full host.

    Row-local: one split + one bounded transform over the label count;
    no per-suffix regex. ``a.b.example.com`` →
    ``[example.com, b.example.com, a.b.example.com]`` (the full host is
    always present even past the cap, so exact-host entries match).
    Empty array for rows with no parseable host.
    """
    host = domain_of(col)

    def suffixes(labels: Column) -> Column:
        n = F.size(labels)
        depths = F.sequence(
            F.lit(2), F.greatest(F.least(n, F.lit(MAX_SUFFIX_LABELS)), F.lit(2))
        )
        tails = F.transform(
            depths, lambda d: F.array_join(F.slice(labels, n - d + 1, d), ".")
        )
        return F.when(n >= 2, F.array_distinct(F.concat(tails, F.array(F.array_join(labels, "."))))).otherwise(
            F.when(n == 1, F.array(labels[0])).otherwise(
                F.array().cast("array<string>")
            )
        )

    labels = F.split(host, r"\.")
    return F.when(host == "", F.array().cast("array<string>")).otherwise(
        F.transform(F.array(labels), suffixes)[0]
    )


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    *,
    blocked_domains: DataFrame | None = None,
    blocked_substrings: list[str] | None = None,
    allowed_schemes: tuple[str, ...] = DEFAULT_SCHEMES,
    keep: bool = True,
) -> DataFrame:
    """Flag (``keep=False``) or drop-to-survivors (``keep=True``) pages
    whose URL fails the source gate. Audit columns (c4_page_filter
    convention): ``bad_scheme``, ``blocked_domain``, ``bad_url_substring``,
    ``url_keep``.

    blocked_domains: one-column (``domain``) dimension; a URL is blocked
    when ANY of its host's dot-suffixes equals a listed domain (i.e.
    subdomains of a listed domain are blocked too). Implemented as
    explode(suffixes) → left_semi-style join → bounded re-agg, so the
    plan is a hash join on a narrow (id, suffix) side table — never a
    LIKE theta join over the corpus. The corpus itself is not shuffled:
    the hit set (bounded by true blocklist hits) joins back broadcast-
    or-AQE-sized on the row id.

    blocked_substrings: literal fragments (C4's bad-word URL rules);
    compiled into ONE case-insensitive regex alternation, metachars
    escaped, evaluated row-local.
    """
    import re as _re

    url = _c(url_col)
    # null URL ⇒ bad_scheme (a page with no source is not keepable)
    scheme_ok = url_part(url_col, "scheme").isin(*allowed_schemes)
    out = df.withColumn("bad_scheme", F.coalesce(~scheme_ok, F.lit(True)))

    if blocked_substrings:
        alt = "|".join(_re.escape(s) for s in blocked_substrings)
        out = out.withColumn(
            "bad_url_substring",
            F.coalesce(F.regexp_count(F.lower(url), F.lit(alt)) > 0, F.lit(False)),
        )
    else:
        out = out.withColumn("bad_url_substring", F.lit(False))

    if blocked_domains is not None:
        rid = F.xxhash64(url, F.lit(7919)).alias("_uid")
        sfx = out.select(rid, F.explode(domain_suffixes(url_col)).alias("domain"))
        hits = (
            sfx.join(blocked_domains.select("domain"), "domain")
            .select("_uid")
            .distinct()
        )
        out = out.withColumn("_uid", rid).join(
            hits.withColumn("blocked_domain", F.lit(True)), "_uid", "left"
        ).withColumn(
            "blocked_domain", F.coalesce(F.col("blocked_domain"), F.lit(False))
        ).drop("_uid")
    else:
        out = out.withColumn("blocked_domain", F.lit(False))

    out = out.withColumn(
        "url_keep",
        ~F.col("bad_scheme") & ~F.col("bad_url_substring") & ~F.col("blocked_domain"),
    )
    if keep:
        return out.filter("url_keep").drop(
            "bad_scheme", "bad_url_substring", "blocked_domain", "url_keep"
        )
    return out


def url_report(flagged: DataFrame, group_col: str | None = None) -> DataFrame:
    """Reduce ``url_filter(keep=False)`` audit columns to per-rule counts
    (optionally per group) — |groups| x 4 cells, map-side combined."""
    aggs = [
        F.sum(F.col(c).cast("long")).alias(f"n_{c}")
        for c in ("bad_scheme", "blocked_domain", "bad_url_substring")
    ] + [
        F.sum((~F.col("url_keep")).cast("long")).alias("n_dropped"),
        F.count(F.lit(1)).alias("n_docs"),
    ]
    if group_col:
        return flagged.groupBy(group_col).agg(*aggs)
    return flagged.agg(*aggs)
