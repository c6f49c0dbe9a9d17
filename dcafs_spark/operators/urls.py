"""URL canonicalization + URL-keyed dedup — the first stage of every
CommonCrawl-style corpus pipeline (a crawl sees the same page as
`HTTP://WWW.Site.com:80/a/?utm_source=feed` and `https://site.com/a`;
dedup must key on the canonical form, not the raw string).

Reference parity: the reference has no crawler stage — this is part of
the LLM-data-pipeline tier (SURVEY §6 extensions), same class as the
dedup/quality operators. Canonicalization follows the common subset of
RFC 3986 §6 syntax-based normalization plus the de-facto crawl rules:

  * scheme and host lowercase; fragment dropped
  * leading ``www.`` stripped from the host
  * default port stripped (``:80`` for http, ``:443`` for https)
  * trailing slashes stripped from the path
  * tracking parameters (``utm_*``) removed from the query; an
    all-tracking query disappears entirely; remaining params keep
    their original order (sorting is NOT applied — ``?a=1&b=2`` and
    ``?b=2&a=1`` are conservatively distinct). Param names match
    case-SENSITIVELY (``UTM_SOURCE`` survives): query keys are
    case-sensitive per RFC 3986, tracking emitters lowercase them in
    practice, and the conservative direction for a dedup key is to
    keep, not merge

Scale shape (100 TB): canonicalization is a pure NARROW map — a chain
of regexp extracts over one string column, no shuffle, no UDF, fully
inside whole-stage codegen. URL dedup then shuffles only a 16-byte
md5 of the canonical form (the exact-dedup convention from
`operators/dedup.py`): page bodies never enter the dedup shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dcafs_spark.runtime import checkpoint

_SCHEME_RX = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RX = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_REST_RX = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$"


def url_parts(url: Column) -> Column:
    """(canon, domain) struct for a URL column — see the module
    docstring for the exact normalization rules. Everything is
    Catalyst regexp/string expressions; the SQL oracle replicates the
    identical chain in DuckDB, so canonical forms (and therefore dedup
    groups) match cross-engine byte-for-byte."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, _SCHEME_RX, 1))
    hostport = F.lower(F.regexp_extract(nofrag, _HOST_RX, 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    rest = F.regexp_extract(nofrag, _REST_RX, 1)
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), r"/+$", "")
    query = F.when(
        rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    kept = F.filter(
        F.split(query, "&", -1), lambda p: (p != "") & ~p.startswith("utm_")
    )
    canonq = F.array_join(kept, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(canonq != "", F.concat(F.lit("?"), canonq)).otherwise(F.lit("")),
    )
    return F.struct(canon.alias("canon"), host.alias("domain"))


def with_url_parts(
    df: DataFrame,
    url_col: str,
    canon_col: str = "_canon",
    domain_col: str = "_domain",
) -> DataFrame:
    """`url_parts` as LAYERED projections (r14 optimization): identical
    values, radically smaller plan.

    The struct-returning `url_parts` inlines a COPY of the full regex
    chain into every field reference (SimplifyExtractValueOps rewrites
    `_p.domain` to the whole host tree), so consumers that touch canon
    AND domain several times carry a ~64 KB optimized plan that the
    driver re-optimizes on every execution (measured 0.83 s optimize +
    ~0.3 s per re-plan for `url_filter` — pure driver latency at any
    data scale). Here each chain stage materializes ONCE as a column in
    its own projection; downstream references are attributes, and
    CollapseProject never duplicates a non-cheap alias referenced more
    than once. The per-stage expressions are the SAME nodes in the same
    composition as `url_parts`, so canonical forms and domains are
    byte-identical (the streaming dedup tier keeps keying on
    `url_parts` itself — value identity is what the stream-vs-batch
    tests pin)."""
    # r14 advice: `select('*', alias)` would silently duplicate (and
    # `drop` then remove) a caller column named like a temp stage, and
    # an existing canon/domain output name would become ambiguous —
    # refuse loudly instead of corrupting the frame.
    taken = {"__up_nf", "__up_s", "__up_hp", "__up_r", "__up_h", "__up_p", "__up_q",
             canon_col, domain_col}
    clash = sorted(taken.intersection(df.columns))
    if clash:
        raise ValueError(
            f"with_url_parts: input already has column(s) {clash}; rename "
            "them or pass different canon_col/domain_col"
        )
    u = F.col(url_col)
    l0 = df.select("*", F.regexp_replace(u, r"#.*$", "").alias("__up_nf"))
    nofrag = F.col("__up_nf")
    l1 = l0.select(
        "*",
        F.lower(F.regexp_extract(nofrag, _SCHEME_RX, 1)).alias("__up_s"),
        F.lower(F.regexp_extract(nofrag, _HOST_RX, 1)).alias("__up_hp"),
        F.regexp_extract(nofrag, _REST_RX, 1).alias("__up_r"),
    )
    host0 = F.regexp_replace(F.col("__up_hp"), r"^www\.", "")
    host = (
        F.when(F.col("__up_s") == "http", F.regexp_replace(host0, r":80$", ""))
        .when(F.col("__up_s") == "https", F.regexp_replace(host0, r":443$", ""))
        .otherwise(host0)
    )
    rest = F.col("__up_r")
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), r"/+$", "")
    query = F.when(
        rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    kept = F.filter(
        F.split(query, "&", -1), lambda p: (p != "") & ~p.startswith("utm_")
    )
    canonq = F.array_join(kept, "&")
    l2 = l1.select(
        "*", host.alias("__up_h"), path.alias("__up_p"), canonq.alias("__up_q")
    )
    canon = F.concat(
        F.col("__up_s"),
        F.lit("://"),
        F.col("__up_h"),
        F.col("__up_p"),
        F.when(F.col("__up_q") != "", F.concat(F.lit("?"), F.col("__up_q"))).otherwise(
            F.lit("")
        ),
    )
    return l2.select(
        "*", canon.alias(canon_col), F.col("__up_h").alias(domain_col)
    ).drop("__up_nf", "__up_s", "__up_hp", "__up_r", "__up_h", "__up_p", "__up_q")


# Deterministic sample of the Mozilla public-suffix list (the full
# list is ~9k rules; a crawl pipeline ships it as a broadcast/literal
# the same way). Order here is irrelevant — `registered_domain` probes
# multi-label suffixes before single-label ones.
PUBLIC_SUFFIXES_SAMPLE = ["co.uk", "com.au", "com", "org", "net"]


def registered_domain(host: Column, suffixes: list[str] | None = None) -> Column:
    """eTLD+1 (registered-domain) extraction — the aggregation key for
    every per-site crawl statistic (robots budgets, domain quotas,
    per-site dedup rates). ``blog.brand3.co.uk`` → ``brand3.co.uk``;
    ``www.`` is expected to be stripped already (`url_parts` does).

    Pure Catalyst: one CASE chain over the suffix list, each arm a
    single anchored `regexp_extract` — no UDF, no join, fully codegen.
    Suffixes are probed longest-label-count first (``co.uk`` must win
    over ``uk``-style single labels); a host matching no suffix, or
    equal to a bare suffix, falls through unchanged. This literal form
    is for SMALL lists only: the nested-When tree overflows the
    analyzer stack at ≥384 rules (measured, StackOverflowError at plan
    build — SCALE.md, "Round-14 PSL-scale registered_domain"). The
    real public-suffix list (~9k rules) takes
    `with_registered_domain(mode='broadcast')`, the broadcast map keyed
    on the host's last 1..4 labels — identical semantics,
    identity-pinned by tests/test_curation_ops.py."""
    sufs = sorted(
        suffixes if suffixes is not None else PUBLIC_SUFFIXES_SAMPLE,
        key=lambda s: (-s.count("."), -len(s)),
    )
    out = host
    for s in reversed(sufs):
        pat = "([^.]+[.]" + s.replace(".", "[.]") + ")$"
        hit = F.regexp_extract(host, pat, 1)
        out = F.when(hit != "", hit).otherwise(out)
    return out


# Past this rule count `with_registered_domain(mode="auto")` switches
# from the literal CASE chain to the broadcast-join path. Measured
# (SCALE.md, "Round-14 PSL-scale registered_domain"): the chain is
# linear in rules (0.17 s @5 → 1.21 s @128 → 2.64 s @256 for 8k rows)
# and the nested-When tree OVERFLOWS THE ANALYZER STACK at ≥384 rules
# (StackOverflowError at plan build — harder than the ~1000-term
# codegen hazard); the broadcast path is flat ~0.9 s at 9,000 rules
# regardless of rule count. Crossover ≈64 rules.
PSL_BROADCAST_THRESHOLD = 64


def with_registered_domain(
    df: DataFrame,
    host_col: str,
    out_col: str = "domain",
    suffixes: list[str] | None = None,
    mode: str = "auto",
) -> DataFrame:
    """eTLD+1 extraction as a DataFrame stage, with the rule-count knob
    the r13 verdict asked for (ask #2): small suffix lists compile to
    `registered_domain`'s pure-Catalyst CASE chain (zero join, fully
    codegen — the gated default); PSL-scale lists (the real Mozilla
    list is ~9k rules) take the broadcast-map path. ``mode`` is
    ``'case'`` | ``'broadcast'`` | ``'auto'`` (auto = broadcast past
    `PSL_BROADCAST_THRESHOLD` rules).

    Broadcast path shape (100 TB): PSL rules are 1-4 labels, so the
    host's ONLY possible suffix matches are its last 1..4 labels — per
    label count k we derive `substring_index(host, '.', -k)` (narrow)
    and broadcast-hash-left-join it against the ≤9k-row rule table for
    that k. No corpus shuffle, no explode, no UDF; four broadcast
    probes per row, each against a table of a few KB..hundreds of KB.
    Longest-label match wins (``co.uk`` over ``uk``); a host equal to
    a bare suffix or matching no rule passes through unchanged —
    byte-identical semantics to the CASE chain on well-formed hosts
    (no empty labels), pinned by tests/test_curation_ops.py's identity
    test over both paths.

    Wildcard/exception PSL rules (``*.ck`` / ``!www.ck``) are out of
    scope here — they are <1% of the list and a production ingest
    pre-expands them against observed TLDs; documented, not silently
    mis-handled: rules containing ``*`` or ``!`` are rejected."""
    sufs = list(dict.fromkeys(suffixes if suffixes is not None else PUBLIC_SUFFIXES_SAMPLE))
    bad = [s for s in sufs if "*" in s or "!" in s]
    if bad:
        raise ValueError(
            f"wildcard/exception PSL rules are not supported here: {bad[:3]}"
        )
    if mode == "auto":
        mode = "broadcast" if len(sufs) > PSL_BROADCAST_THRESHOLD else "case"
    if mode == "case":
        return df.withColumn(out_col, registered_domain(F.col(host_col), sufs))
    if mode != "broadcast":
        raise ValueError(f"mode must be 'case' | 'broadcast' | 'auto', got {mode!r}")
    spark = df.sparkSession
    host = F.col(host_col)
    nlab = F.size(F.split(host, r"[.]"))
    by_k: dict[int, list[str]] = {}
    for s in sufs:
        by_k.setdefault(s.count(".") + 1, []).append(s)
    out = df
    expr = host
    # ascending k so each When wraps the previous — the OUTERMOST (and
    # therefore winning) branch is the largest label count
    for k in sorted(by_k):
        suf_col = f"__psl_suf_{k}"
        tbl = spark.createDataFrame([(s,) for s in by_k[k]], f"{suf_col} string")
        out = out.join(
            F.broadcast(tbl),
            F.substring_index(host, ".", -k) == F.col(suf_col),
            "left",
        )
        expr = F.when(
            F.col(suf_col).isNotNull() & (nlab > k),
            F.substring_index(host, ".", -(k + 1)),
        ).otherwise(expr)
    return out.withColumn(out_col, expr).drop(
        *[f"__psl_suf_{k}" for k in by_k]
    )


def domain_profile(
    df: DataFrame,
    url_col: str,
    id_col: str,
    suffixes: list[str] | None = None,
    psl_mode: str = "auto",
) -> DataFrame:
    """Per-registered-domain crawl curation profile: doc count, unique
    canonical pages, and the duplicate share — the table a crawl
    operator reads to set per-site quotas and spot mirror floods.

    Scale shape (100 TB): canonicalization and eTLD+1 are narrow maps;
    the single shuffle groups by registered domain carrying only the
    16-byte canonical md5 (for the distinct-page count) — bodies never
    move. Domain skew (one giant site) is bounded by Spark's partial
    `count_distinct` expansion; a truly pathological host can be
    pre-collapsed on (domain, md5) first, the `operators/dedup.py`
    convention."""
    parts = with_url_parts(
        df.select(F.col(id_col), F.col(url_col)), url_col, "__canon", "__host"
    ).select(id_col, F.md5("__canon").alias("_k"), "__host")
    parts = with_registered_domain(
        parts, "__host", "domain", suffixes, psl_mode
    ).drop("__host")
    return (
        parts.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("_k").alias("n_pages"),
        )
        .select(
            "domain",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_pages").cast("long").alias("n_pages"),
            F.round(
                F.lit(1.0) - F.col("n_pages") / F.col("n_docs"), 6
            ).alias("dup_share"),
        )
    )


def url_filter(
    df: DataFrame,
    url_col: str,
    blocked_domains: list[str] | None = None,
    blocked_path_rules: list[str] | None = None,
    keep_col: str = "kept",
    suffixes: list[str] | None = None,
    psl_mode: str = "auto",
) -> DataFrame:
    """Crawl-frontier URL filtering — the stage between
    canonicalization and dedup in every crawl pipeline: drop pages on
    blocklisted sites (the eTLD+1 matches, so `spam.com` blocks
    `cdn.spam.com` too) or with junk path shapes (login/search/calendar
    traps, infinite facet spaces).

    Returns every input row + (canon_url, domain, kept) — policy
    pipelines want the verdict column, not a silent drop; chain
    `.filter("kept")` for the drop.

    Scale shape (100 TB): a pure NARROW map. Small blocklists (the
    usual case: 10^2-10^4 entries) compile to an `isin` literal set /
    regexp alternation inside the scan projection — no join, no
    shuffle, no UDF. A blocklist past the ~10^5-literal codegen
    hazard becomes a broadcast LeftAnti on the registered domain —
    same verdict, one broadcast, still no shuffle of the corpus.
    Path rules are each a Java regexp over the canonical path."""
    blocked_domains = blocked_domains or []
    blocked_path_rules = blocked_path_rules or []
    parts = with_url_parts(df, url_col, "canon_url", "__host")
    parts = with_registered_domain(parts, "__host", "__reg", suffixes, psl_mode)
    reg = F.col("__reg")
    dom_bad = (
        reg.isin(list(blocked_domains)) if blocked_domains else F.lit(False)
    )
    path = F.regexp_extract(
        F.col("canon_url"), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path_bad = F.lit(False)
    for rule in blocked_path_rules:
        path_bad = path_bad | path.rlike(rule)
    return parts.select(
        *[c for c in df.columns],
        "canon_url",
        reg.alias("domain"),
        (~(dom_bad | path_bad)).alias(keep_col),
    )


def domain_capped_sample(
    df: DataFrame,
    url_col: str,
    id_col: str,
    k: int = 100,
    suffixes: list[str] | None = None,
    psl_mode: str = "auto",
) -> DataFrame:
    """Per-registered-domain quota cap — the diversity control every
    crawl-derived training set applies (one mega-site must not drown
    the mixture): keep at most `k` documents per eTLD+1, the k LOWEST
    ids (deterministic under repartitioning; swap the sort struct for
    a quality score upstream to keep the best-k instead).

    Scale shape (100 TB): ranking uses `bounded_topk`'s two-stage
    partial-agg prune — per-(domain, input-partition) local top-k,
    then a k×P-row merge — NO Window node, no global sort, and no
    single-reducer hot partition for mega-domains (the stage-1 bound
    is rows-per-domain-per-partition; see bounded_topk's caveats).
    Returns (domain, doc_id-named id col, rank) with rank 0-based."""
    from dcafs_spark.operators.similarity import bounded_topk

    parts = with_url_parts(
        df.select(F.col(id_col), F.col(url_col)), url_col, "__canon", "__host"
    ).select(id_col, "__host")
    parts = with_registered_domain(
        parts, "__host", "domain", suffixes, psl_mode
    ).select(id_col, "domain")
    ranked = bounded_topk(
        parts, "domain", F.struct(F.col(id_col).alias("_i")), k
    )
    return ranked.select(
        "domain",
        F.col("_e._i").alias(id_col),
        F.col("_pos").cast("int").alias("rank"),
    )


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """First-seen-wins dedup on the canonical URL: one row per input
    row with (id, canon, domain, n_dupes, kept) — kept is true for the
    lowest id in each canonical group (deterministic under
    repartitioning).

    One checkpointed scan feeds both the group rollup and the join
    back; the only shuffle key is the 16-byte md5 of the canonical
    form, and the rollup carries two longs per group."""
    parts = with_url_parts(
        df.select(F.col(id_col), F.col(url_col)), url_col, "canon_url", "domain"
    ).select(id_col, "canon_url", "domain", F.md5("canon_url").alias("_k"))
    parts = checkpoint(parts)
    grp = parts.groupBy("_k").agg(
        F.min(id_col).alias("_owner"), F.count(F.lit(1)).alias("n_dupes")
    )
    return parts.join(grp, "_k").select(
        id_col,
        "canon_url",
        "domain",
        F.col("n_dupes").cast("long").alias("n_dupes"),
        (F.col(id_col) == F.col("_owner")).alias("kept"),
    )
