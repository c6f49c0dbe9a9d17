"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all partition-parallel (no driver-side state, no collect):

* exact        — hash-groupBy on normalized content. One shuffle on the
                 content hash; at 100 TB, hash first (`xxhash64`/md5) so
                 the shuffle key is 16 bytes, not the document.
* minhash LSH  — word-shingle → K minhashes → B bands; candidate pairs
                 only where a whole band matches (bucket equi-join, so
                 the cross-product never materializes). Portable md5
                 hashing so a SQL oracle can replicate bit-for-bit.
* simhash      — 32-bit sign-of-sums fingerprint; near-dups differ in
                 few bits (hamming ≤ t via band join on fingerprint
                 nibbles for scale; exact hamming check after).
* n-gram Jaccard — exact Jaccard over shingle sets for candidate pairs.

Scale notes: every variant is (narrow map) → (equi-join on short keys)
→ (narrow verify). The LSH band join is the only shuffle; its key is
(band_idx, band_hash) — uniform for DISTINCT content, but exact copies
collide in EVERY band by construction, so duplicate-heavy corpora (the
norm for web-scale training data) would make the hottest bucket
quadratic in the largest copy-group. `minhash_lsh_pairs` therefore
pre-collapses exact duplicates on a 16-byte content hash and bands one
signature per DISTINCT content; copy-groups re-expand into the pair
output with est_jaccard=1.0 AFTER the join, so the band join's bucket
occupancy is bounded by near-dup (not exact-dup) density. For
boilerplate-heavy NEAR-dup skew an opt-in per-(band,bucket) cap
degrades recall explicitly instead of melting a reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from dcafs_spark.runtime import checkpoint


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the canonical pre-dedup map."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


# --- SQL-text expression builders (round 14 optimization) ------------
#
# Same trick as operators/similarity.py: the minhash/shingle expression
# trees cost a py4j roundtrip per Column-DSL node to BUILD —
# `minhash_signature` alone measured ~0.25 s of pure driver time per
# call at bench scale (the 16-term permutation array inside the fold
# lambda), `_band_explode` ~0.17 s, `_band_join_pairs` ~0.21 s; the
# LSH-family queries each pay that serially before any task runs, and
# at 100 TB the same driver seconds delay every job submission. These
# helpers emit the SAME tree as ONE SQL text parsed server-side in a
# single `F.expr` call. Arithmetic shape, literal types (INT coeffs,
# BIGINT casts), fold order and rounding are replicated node for node;
# value parity with the Column path is pinned by
# tests/test_dedup_similarity.py and the untouched oracle hashes of
# every gated caller. A str argument to the public builders below means
# an SQL expression fragment (a bare column name is one).


def _qcol(name: str) -> str:
    return f"`{name}`"


def _sql_normalize(col_sql: str) -> str:
    return f"regexp_replace(lower(trim({col_sql})), '\\\\s+', ' ')"


def _sql_word_shingles(col_sql: str, n: int = 3) -> str:
    words = f"split({_sql_normalize(col_sql)}, ' ')"
    return (
        f"array_distinct(transform(sequence(1, greatest(size({words}) - {n - 1}, 1)), "
        f"i -> array_join(slice({words}, i, {n}), ' ')))"
    )


def _sql_shingle_hashes(sh_sql: str) -> str:
    return f"transform({sh_sql}, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"


def _sql_minhash_fold(base_sql: str, num_hashes: int) -> str:
    a, b = minhash_coeffs(num_hashes)
    terms = ", ".join(f"(h * {a[j]} + {b[j]}) % {_MINHASH_M}" for j in range(num_hashes))
    return (
        f"aggregate({base_sql}, array_repeat(CAST({_MINHASH_M} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, array({terms}), (x, y) -> least(x, y)))"
    )


def _sql_minhash_signature(sh_sql: str, num_hashes: int = 16) -> str:
    base = (
        f"transform({sh_sql}, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
        f" % {_MINHASH_M})"
    )
    return _sql_minhash_fold(base, num_hashes)


def _sql_minhash_from_hashes(h_sql: str, num_hashes: int = 16) -> str:
    return _sql_minhash_fold(f"transform({h_sql}, x -> x % {_MINHASH_M})", num_hashes)


def _sql_band_bucket(sig_sql: str, band: int, rows: int) -> str:
    """md5 bucket of one band's minhash slice (same '|' join as the
    Column path)."""
    elems = ", ".join(f"element_at({sig_sql}, {band * rows + r + 1})" for r in range(rows))
    return f"md5(concat_ws('|', {elems}))"


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per distinct normalized text.

    groupBy on md5(normalized) — map-side partial agg, one shuffle of
    (16-byte key, id) pairs; the document bodies never shuffle."""
    norm = normalize_text(F.col(text_col))
    return (
        df.select(F.md5(norm).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text (array<string>).

    Pure Catalyst: split → sequence → transform/slice; no UDF. A str
    argument is an SQL expression fragment (e.g. a column name): the
    whole tree then crosses py4j as ONE parsed SQL text."""
    if isinstance(col, str):
        return F.expr(_sql_word_shingles(col, n))
    words = F.split(normalize_text(col), " ")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), k)
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    )


_MINHASH_M = (1 << 31) - 1  # Mersenne prime 2^31-1


def shingle_hashes(shingles: Column | str) -> Column:
    """Distinct shingles → 60-bit md5-prefix longs (portable across
    engines). Downstream set ops (Jaccard, minhash) on 8-byte longs
    instead of ~30-byte shingle strings: the candidate-verify shuffle
    shrinks ~4× and comparisons are integer equality. A str argument is
    the SQL fragment of the shingle array (single-`F.expr` build)."""
    if isinstance(shingles, str):
        return F.expr(_sql_shingle_hashes(shingles))
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )


def minhash_from_hashes(hashes: Column | str, num_hashes: int = 16) -> Column:
    """K minhashes from pre-hashed shingles (same scheme as
    :func:`minhash_signature`, md5 already applied). A str argument is
    the SQL fragment of the hash array (single-`F.expr` build)."""
    if isinstance(hashes, str):
        return F.expr(_sql_minhash_from_hashes(hashes, num_hashes))
    a, b = minhash_coeffs(num_hashes)
    base = F.transform(hashes, lambda h: h % _MINHASH_M)
    init = F.array_repeat(F.lit(_MINHASH_M).cast("long"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[(h * F.lit(a[j]) + F.lit(b[j])) % _MINHASH_M for j in range(num_hashes)]),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_coeffs(num_hashes: int, seed: int = 1) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) for the K permutation hashes — shared by
    the Spark implementation and the generated SQL oracle."""
    import random

    rnd = random.Random(seed)
    return (
        [rnd.randrange(1, _MINHASH_M) for _ in range(num_hashes)],
        [rnd.randrange(0, _MINHASH_M) for _ in range(num_hashes)],
    )


def minhash_signature(shingles: Column | str, num_hashes: int = 16) -> Column:
    """K portable minhashes via one md5 per shingle + K universal-hash
    permutations: h = md5_60bit(s) mod M; h_j = (a_j*h + b_j) mod M.

    One md5 per shingle (not per shingle×seed — 16x cheaper) and every
    step is portable 64-bit integer arithmetic, so a DuckDB oracle
    replicates bit-for-bit (('0x'||hex)::BIGINT). Products stay < 2^62
    (h, a_j < 2^31), no overflow on either engine. array<long> length K.

    Single fold over the shingle array: zip_with(least) accumulates the
    per-seed minimum; the lambda-bound element means md5 evaluates once
    per shingle regardless of K.

    NB: single-arg lambdas only — F.transform dispatches on lambda
    arity and would pass the element index into a second parameter.

    A str argument is the SQL fragment of the shingle array (the whole
    fold then crosses py4j as ONE parsed SQL text)."""
    if isinstance(shingles, str):
        return F.expr(_sql_minhash_signature(shingles, num_hashes))
    a, b = minhash_coeffs(num_hashes)
    base = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % _MINHASH_M,
    )
    init = F.array_repeat(F.lit(_MINHASH_M).cast("long"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[(h * F.lit(a[j]) + F.lit(b[j])) % _MINHASH_M for j in range(num_hashes)]),
            lambda x, y: F.least(x, y),
        ),
    )


def banded_signature(
    col: Column | str, shingle_n: int = 3, num_hashes: int = 16, bands: int = 4
) -> Column:
    """Full banded LSH signature as ONE string key: the per-band bucket
    hashes (same bands/buckets as `minhash_lsh_pairs`, so ingest and
    batch agree on bucket identity) concatenated with '#'. Two docs
    share the key iff they collide in EVERY band — the exact-mirror
    class the streaming first-wins dedup collapses
    (`streaming/dedup.py`). Pure column expression; codegen CSE
    evaluates the underlying minhash fold once per row."""
    rows = num_hashes // bands
    if isinstance(col, str):
        # one SQL text for the whole normalize→shingle→minhash→band tree
        sig_sql = _sql_minhash_signature(_sql_word_shingles(col, shingle_n), num_hashes)
        buckets = ", ".join(_sql_band_bucket(sig_sql, b, rows) for b in range(bands))
        return F.expr(f"concat_ws('#', {buckets})")
    sig = minhash_signature(word_shingles(col, shingle_n), num_hashes)
    return F.concat_ws(
        "#",
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.element_at(sig, b * rows + r + 1) for r in range(rows)]
                )
            )
            for b in range(bands)
        ],
    )


# --------------------------------------------------------------------------
# Duplicate-density probe — the collapse "auto" mode.
#
# The exact-copy pre-collapse is what keeps a duplicate flood from making
# the hottest LSH bucket quadratic, but its machinery (content-hash rollup,
# checkpoints, copy-group re-expansion joins) is a fixed per-query cost that
# buys nothing on a corpus with few exact copies. Auto mode pays ONE cheap
# statistics pass — count vs approx_count_distinct of the content hash, a
# narrow scan with a map-side-combined HLL aggregate — and skips the
# collapse when duplicates are rare. Both plan shapes produce row-identical
# output (within-copy-group pairs score exactly 1.0 either way), so the
# probe decision is performance-only, like any optimizer statistic.
#
# The ratio is memoized per probe-plan SEMANTIC hash (the Catalyst
# table-statistics pattern): repeated queries over the same corpus in one
# process pay the scan once. Staleness is perf-only by the argument above.
#
# 100 TB note: auto mode's probe is one extra narrow scan of the text
# column. Callers that already know their corpus (web crawls: duplicate-
# heavy, pass collapse=True and skip the probe; freshly exact-deduped
# batches: collapse=False) should say so explicitly.
# --------------------------------------------------------------------------

_DUP_RATIO_CACHE: dict[int, float] = {}

# collapse when more than ~3% of documents are exact copies: below that the
# largest copy-group a rare-dup corpus plausibly carries is far from bucket-
# melting, and the collapse's fixed cost dominates its benefit. The probe's
# rsd is 1%, so an all-distinct corpus cannot flap across this threshold.
COLLAPSE_RATIO = 0.97


def approx_distinct_ratio(df: DataFrame, key: Column) -> float:
    """Estimated DISTINCT fraction of `key` over df (HLL, rsd 1%),
    memoized on the probe plan's semantic hash. Clamped to [0, 1].

    Memo-key semantics: the key is the ANALYZED PLAN's semanticHash —
    two DIFFERENT DataFrame objects whose probe plans are semantically
    equal (same source, same expressions) share one cached ratio BY
    DESIGN; this is an optimizer statistic, not a per-frame value.
    That is correctness-safe everywhere it is consumed: the ratio only
    picks between collapse plan shapes that emit identical rows, so a
    stale or shared ratio can cost performance, never answers. Do not
    reuse this helper for anything where the number itself must be
    fresh (e.g. thresholds that change WHICH rows survive — see
    sampling.compute_stratum_counts for the deliberately-unmemoized
    counterpart)."""
    probe = df.select(key.alias("k"))
    try:
        h = probe._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # plan-introspection failure: probe uncached
        h = None
    if h is not None and h in _DUP_RATIO_CACHE:
        return _DUP_RATIO_CACHE[h]
    row = probe.agg(
        F.count(F.lit(1)).alias("n"), F.approx_count_distinct("k", 0.01).alias("d")
    ).first()
    ratio = 1.0 if not row["n"] else min(1.0, row["d"] / row["n"])
    if h is not None:
        _DUP_RATIO_CACHE[h] = ratio
    return ratio


def _band_explode(frame: DataFrame, key: str, num_hashes: int, bands: int) -> DataFrame:
    """(key, sig) → one row per (key, sig, band, bucket): bucket is the
    md5 of the band's minhash slice. Shared by both collapse paths.
    The band/bucket struct array is ONE parsed SQL text (~40 Column-DSL
    nodes otherwise — py4j roundtrips at plan-build time)."""
    rows = num_hashes // bands
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_sql_band_bucket('sig', b, rows)})"
        for b in range(bands)
    )
    return frame.select(
        key, "sig", F.explode(F.expr(f"array({structs})")).alias("bb")
    ).select(key, "sig", "bb.band", "bb.bucket")


def _band_join_pairs(
    banded: DataFrame, key: str, num_hashes: int, threshold: float, out_a: str, out_b: str, score: str
) -> DataFrame:
    """Band self-join → estimated Jaccard (fraction of equal minhash
    positions, computed IN the join projection so the multi-band dedup
    shuffles only (key_a, key_b, est), never two K-long signatures)."""
    left, right = banded.alias("l"), banded.alias("r")
    est = F.expr(
        "(aggregate(zip_with(l.sig, r.sig, (a, b) -> CASE WHEN (a = b) THEN 1 ELSE 0 END), 0, "
        f"(acc, x) -> acc + x) / {float(num_hashes)!r}D)"
    )
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .select(
            F.col(f"l.{key}").alias(out_a),
            F.col(f"r.{key}").alias(out_b),
            F.round(est, 4).alias(score),
        )
        .filter(F.col(score) >= threshold)
        .groupBy(out_a, out_b)
        .agg(F.first(score).alias(score))
    )


def expand_copy_groups(
    cand: DataFrame,
    members: DataFrame,
    score: str,
    within_value: Column,
    include_within: bool = True,
) -> DataFrame:
    """Shared re-expansion step of the exact-duplicate pre-collapse
    (used by every pair-emitting dedup tier): content-level candidate
    pairs (ch_a, ch_b, <score>) × the (chash, id) membership frame →
    document pairs (id_a < id_b, <score>), plus the within-copy-group
    pairs at the tier's exact-match score (`within_value`).

    Each member pair appears exactly once (rep pairs are deduped
    upstream, every doc has one chash), so no final distinct shuffle.
    `include_within=False` returns cross-group pairs only (the tiers'
    sentinel-threshold escape hatch)."""
    cross = (
        cand.join(members.select(F.col("chash").alias("ch_a"), F.col("id").alias("_ida")), "ch_a")
        .join(members.select(F.col("chash").alias("ch_b"), F.col("id").alias("_idb")), "ch_b")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            score,
        )
    )
    if not include_within:
        return cross
    within = (
        members.alias("a")
        .join(
            members.alias("b"),
            (F.col("a.chash") == F.col("b.chash")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            within_value.alias(score),
        )
    )
    return cross.unionByName(within)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Emits (id_a, id_b, est_jaccard) with id_a < id_b and estimated
    Jaccard (fraction of equal minhashes) >= threshold. The band join
    is the scale path: docs only compare when an entire band of
    num_hashes/bands minhashes matches.

    Hot-bucket mitigation (duplicate-heavy corpora are the norm at
    100 TB): exact copies share ALL bands, so banding per-document
    makes in-bucket candidate pairs quadratic in the largest copy-group
    (10^6 copies of a boilerplate page → ~10^12 in-bucket pairs). This
    implementation pre-collapses on md5(normalized_text) and bands ONE
    signature per distinct content; copy-groups re-expand into the
    output after the join (within-group pairs have est_jaccard = 1.0
    exactly — identical shingles ⇒ identical signatures — and
    cross-group pairs inherit their representatives' estimate, so the
    output is row-identical to the naive per-document join). Signatures
    are still computed map-side per document (linear CPU, scales with
    executors) rather than per distinct content, which would require
    shuffling document BODIES on the content hash — the collapse
    shuffles only (16-byte chash, K longs).

    `bucket_cap` (opt-in): additionally skip any (band, bucket) whose
    DISTINCT-content occupancy exceeds the cap — for boilerplate-heavy
    NEAR-dup skew that survives the exact collapse. Trades recall for a
    hard bound on join fan-out; pairs may still surface via the
    doc's other bands. Off (None) for the oracle-gated queries.

    `collapse`: True = always pre-collapse (duplicate-heavy corpora);
    False = band per document directly (corpora KNOWN to carry few
    exact copies — skips the collapse machinery's fixed cost); None
    (default) = decide from a memoized duplicate-density probe (see
    `approx_distinct_ratio`). Output rows are identical either way."""
    if bucket_cap is not None:
        collapse = True  # cap semantics are defined on DISTINCT-content occupancy
    if collapse is None:
        collapse = (
            approx_distinct_ratio(df, F.md5(normalize_text(F.col(text_col)))) < COLLAPSE_RATIO
        )
    if not collapse:
        # rare-duplicate fast path: band per DOCUMENT — no content-hash
        # rollup, no expansion joins. Checkpointed because the band
        # self-join consumes the shingle→hash pipeline on BOTH sides.
        sig = df.select(
            F.col(id_col).alias("id"),
            minhash_signature(_sql_word_shingles(_qcol(text_col), shingle_n), num_hashes).alias("sig"),
        ).transform(checkpoint)
        return _band_join_pairs(
            _band_explode(sig, "id", num_hashes, bands),
            "id",
            num_hashes,
            threshold,
            "id_a",
            "id_b",
            "est_jaccard",
        )
    # ONE checkpointed pass over the bodies computes chash + signature
    # per doc; everything downstream (membership, collapse, expansion)
    # derives from this (id, 16-byte chash, K longs) frame — the text
    # is read exactly once, as in the pre-collapse implementation.
    sig_all = df.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("chash"),
        minhash_signature(_sql_word_shingles(_qcol(text_col), shingle_n), num_hashes).alias("sig"),
    ).transform(checkpoint)
    # (chash, id) per doc — the only per-copy state past the map stage;
    # feeds the within-group expansion and two cross-group expansion
    # joins as cheap projections of the checkpoint
    members = sig_all.select("chash", "id")
    # one signature per DISTINCT content: copies normalize to the same
    # text ⇒ identical shingles ⇒ identical sig, so first() is
    # deterministic in value. Shuffle payload: 16-byte key + K longs.
    # Checkpointed because the band self-join references it twice.
    rep = (
        sig_all.groupBy("chash")
        .agg(F.first("sig").alias("sig"))
        .transform(checkpoint)
    )
    banded = _band_explode(rep, "chash", num_hashes, bands)
    if bucket_cap is not None:
        sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_occ"))
        # checkpointed: both self-join sides consume the capped frame,
        # and exchange reuse does not fire under writes — without this
        # the occupancy rollup + cap join execute twice
        banded = (
            banded.join(sizes.filter(F.col("_occ") <= bucket_cap), ["band", "bucket"])
            .drop("_occ")
            .transform(checkpoint)
        )

    cand = _band_join_pairs(
        banded, "chash", num_hashes, threshold, "ch_a", "ch_b", "est_jaccard"
    )
    # re-expansion: within-group pairs estimate exactly 1.0 (identical
    # shingles ⇒ identical signatures); cross-group pairs inherit their
    # representatives' estimate
    return expand_copy_groups(
        cand, members, "est_jaccard", F.round(F.lit(1.0), 4), include_within=threshold <= 1.0
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    bucket_hashes: int = 4,
    collapse: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH-pruned candidate pairs.

    Candidates come from a 1-row-per-band minhash join (cheap), then
    exact Jaccard = |A∩B| / |A∪B| verifies. Shingles are 60-bit hashed
    longs (:func:`shingle_hashes`), so the verify join shuffles 8-byte
    ints, not shingle strings — at 100 TB that shrinks the only
    payload-bearing shuffle ~4× (collisions at 60 bits are negligible
    and the oracle hashes identically).

    Same hot-bucket mitigation as :func:`minhash_lsh_pairs`: exact
    copies land in every bucket together, so the verify join is run on
    ONE shingle set per distinct content (collapsed on the 16-byte
    content hash); copy-groups re-expand afterwards — within-group
    pairs at Jaccard exactly 1.0 (identical shingle sets), cross-group
    pairs inheriting their representatives' score. Output is
    row-identical to the naive per-document join.

    `collapse` semantics as in :func:`minhash_lsh_pairs` (True / False
    / None=auto-probe)."""
    if collapse is None:
        collapse = (
            approx_distinct_ratio(df, F.md5(normalize_text(F.col(text_col)))) < COLLAPSE_RATIO
        )
    inter = F.size(F.array_intersect(F.col("l.sh"), F.col("r.sh")))
    union = F.size(F.array_union(F.col("l.sh"), F.col("r.sh")))
    jac = inter.cast("double") / union
    if not collapse:
        # rare-duplicate fast path: bucket + verify per document
        sh = df.select(
            F.col(id_col).alias("id"),
            shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n)).alias("sh"),
        ).transform(checkpoint)  # shared by both self-join sides
        sig = sh.select(
            "id", "sh", F.explode(minhash_from_hashes("sh", bucket_hashes)).alias("bucket")
        )
        return (
            sig.alias("l")
            .join(sig.alias("r"), (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.round(jac, 4).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
            .groupBy("id_a", "id_b")
            .agg(F.first("jaccard").alias("jaccard"))
        )
    # one checkpointed body pass (see minhash_lsh_pairs): chash +
    # hashed shingle set per doc; members/rep derive from it
    sh_all = df.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("chash"),
        shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n)).alias("sh"),
    ).transform(checkpoint)
    members = sh_all.select("chash", "id")
    rep = (
        sh_all.groupBy("chash")
        .agg(F.first("sh").alias("sh"))
        .transform(checkpoint)  # shared by both self-join sides
    )
    sig = rep.select(
        "chash", "sh", F.explode(minhash_from_hashes("sh", bucket_hashes)).alias("bucket")
    )
    cand = (
        sig.alias("l")
        .join(sig.alias("r"), (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.chash") < F.col("r.chash")))
        .select(
            F.col("l.chash").alias("ch_a"),
            F.col("r.chash").alias("ch_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("ch_a", "ch_b")
        .agg(F.first("jaccard").alias("jaccard"))
    )
    return expand_copy_groups(
        cand, members, "jaccard", F.round(F.lit(1.0), 4), include_within=threshold <= 1.0
    )


# 2^b for b in 0..31 as one SQL-parsed literal array: a single py4j call,
# and the per-token loop below divides by these instead of calling the
# double pow() kernel 32x per token (pow dominated the old profile)
_POW2_32 = "array(" + ",".join(f"{1 << b}L" for b in range(32)) + ")"


def simhash32(col: Column) -> Column:
    """32-bit SimHash over words: bit b is the sign of Σ_tokens ±1
    where the token's md5 bit b decides the sign. Pure Catalyst
    (aggregate over an int-array state); one pass per document.

    Hot-loop form: per token the 32 counters update via
    `acc[b] + (floor(h / 2^b) % 2) * 2 - 1` against a literal 2^b
    array — integer-only, branch-free. h < 2^32 and 2^b are exact in
    double, so floor(h/2^b) is the exact bit shift (bit-identical to
    the previous pow()-based form, ~2x less work per token)."""
    words = F.split(normalize_text(col), " ")
    # per-token 32-bit value from first 8 md5 hex chars — materialized
    # as its own array so each token is md5'd ONCE, not once per bit
    # (inlining tok_hash inside the bit lambda re-expands the md5 tree
    # 32x per token — measured ~8x slower at sf0.1)
    hashes = F.transform(words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"))
    pow2 = F.expr(_POW2_32)
    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a + (F.floor(h / p).cast("long") % 2) * 2 - 1,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counters,
            pow2,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _simhash_band_explode(frame: DataFrame, key: str) -> DataFrame:
    """(key, fp) → one row per (key, fp, band, byte): the 32-bit
    fingerprint banded into 4 bytes (pigeonhole: hamming ≤ 3 shares at
    least one exact byte band). Shared by both collapse paths."""
    return frame.select(
        key,
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", b * 8).bitwiseAND(F.lit(0xFF)).alias("byte"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(key, "fp", "bb.band", "bb.byte")


def _simhash_band_join(
    banded: DataFrame, key: str, max_hamming: int, out_a: str, out_b: str
) -> DataFrame:
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.byte") == F.col("r.byte"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .select(
            F.col(f"l.{key}").alias(out_a),
            F.col(f"r.{key}").alias(out_b),
            F.col("l.fp").alias("fp_a"),
            F.col("r.fp").alias("fp_b"),
        )
        .dropDuplicates([out_a, out_b])
        .select(out_a, out_b, ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    collapse: bool | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Scale path: band the 32-bit fingerprint into 4 bytes; pigeonhole —
    any pair within hamming ≤ 3 shares at least one exact byte band →
    equi-join per band, then exact hamming verify.

    Same hot-bucket mitigation as :func:`minhash_lsh_pairs`: exact
    copies share the fingerprint (hence every byte band), so the band
    join runs on ONE fingerprint per distinct content; copy-groups
    re-expand afterwards (within-group hamming is 0 by construction).
    Output row-identical to the naive per-document join.

    `collapse` semantics as in :func:`minhash_lsh_pairs` (True / False
    / None = memoized duplicate-density auto-probe)."""
    if collapse is None:
        collapse = (
            approx_distinct_ratio(df, F.md5(normalize_text(F.col(text_col)))) < COLLAPSE_RATIO
        )
    if not collapse:
        # rare-duplicate fast path: band per document directly
        fp = df.select(
            F.col(id_col).alias("id"), simhash32(F.col(text_col)).alias("fp")
        ).transform(checkpoint)  # both band-join sides
        return _simhash_band_join(_simhash_band_explode(fp, "id"), "id", max_hamming, "id_a", "id_b")
    # one checkpointed body pass (see minhash_lsh_pairs): chash +
    # fingerprint per doc; members/rep derive from it
    fp_all = df.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("chash"),
        simhash32(F.col(text_col)).alias("fp"),
    ).transform(checkpoint)
    members = fp_all.select("chash", "id")
    rep = (
        fp_all.groupBy("chash").agg(F.first("fp").alias("fp")).transform(checkpoint)
    )
    cand = _simhash_band_join(
        _simhash_band_explode(rep, "chash"), "chash", max_hamming, "ch_a", "ch_b"
    )
    return expand_copy_groups(
        cand, members, "hamming", F.lit(0), include_within=max_hamming >= 0
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Transitive closure of dup pairs → (node, cluster) with
    cluster = min node id of the component — the grouping step real
    dedup needs (A~B, B~C must condemn {B, C}, not just pairwise).

    Distributed min-label propagation with pointer jumping: per round
    every node takes the min over (its label, its neighbors' labels,
    its label's label). The neighbor step moves labels one edge-hop;
    the jump step (label(node) := label(label(node))) halves pointer
    paths, so convergence is O(log(diameter)) rounds even for long
    chains — the classic Hash-to-Min / GraphX-CC shape. Each round is
    two equi-joins + a min-aggregate, all shuffles on uniformly-hashed
    ids; a lineage cut (runtime.checkpoint, require_cut=True — persist
    mode escalates to a reliable checkpoint because an actual CUT is
    required here) keeps round N from re-executing
    rounds 1..N-1. The fixpoint test is a count of changed labels — one
    bounded action per round, no data collected. Result is independent
    of partitioning (min is commutative/associative).
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(checkpoint)
    # Initial labels are NOT checkpointed (r15): their only two
    # consumers are round 1's union branch and join build side, both
    # pruning the same (node, label) columns, so AQE stage reuse shares
    # the aggregate's exchange inside round 1's single action — the
    # separate materialization job bought nothing. Measured on the
    # dedup_clusters pairs at sf0.1 (OPTIMIZATION_r15.md §4):
    # 0.536 s / 8 jobs (r14 form) → 0.393 s / 5 jobs with this + the
    # observe() fold below, identical rows.
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.first("src"), F.min("dst")).alias("label"))
        .withColumnRenamed("src", "node")
    )
    for _ in range(max_iters):
        # One join does both propagation steps: real edges pull neighbor
        # labels; a pseudo-edge node→label pulls label(label(node)) — the
        # pointer jump — through the same dst lookup. (Every label IS a
        # node id: edges are symmetrized, so any min over ids occurs as a
        # src.) Halves the per-round join count vs separate
        # neighbor-min + jump joins.
        #
        # No join-back against the previous labels (r14: one fewer
        # shuffle per round): the pseudo-edge guarantees every node
        # appears in the aggregate, and since label(x) <= x invariantly,
        # the pseudo-edge's dlabel = label(label(node)) <= label(node),
        # so min(dlabel) alone IS least(old_label, neighbor mins) — the
        # old label is implied. It also carries the old label in _self
        # (null on real edges; min ignores nulls) so the chg flag needs
        # no extra join either.
        combined = edges.withColumn("_self", F.lit(None).cast("long")).unionByName(
            labels.select(
                F.col("node").alias("src"),
                F.col("label").alias("dst"),
                F.col("label").alias("_self"),
            )
        )
        # The convergence test rides the SAME action that materializes
        # the round (r15, verdict item 3): an Observation sums the chg
        # flags while the eager checkpoint computes the round — the r14
        # form's separate `filter(chg).count()` job per round is gone
        # (observe() completes under Dataset.checkpoint/localCheckpoint
        # because they run through withAction — probed explicitly).
        obs = Observation()
        stepped = (
            combined.join(labels.withColumnRenamed("label", "dlabel"), combined.dst == F.col("node"))
            .groupBy("src")
            .agg(F.min("dlabel").alias("new_label"), F.min("_self").alias("_old"))
            .select(
                F.col("src").alias("node"),
                "new_label",
                (F.col("new_label") < F.col("_old")).alias("chg"),
            )
            .observe(obs, F.sum(F.col("chg").cast("long")).alias("chg"))
            .transform(checkpoint, require_cut=True, eager=True)
        )
        changed = int(obs.get["chg"] or 0)
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
        # NOT a speculative double-round (measured r15): every gated
        # corpus converges with rounds == 1 — the first round IS the
        # convergence check (labels0 is already the fixpoint on
        # clique-shaped LSH components), so fusing two propagation
        # steps per materialization would add a full wasted round of
        # exchanges to the common case.
    return labels.select("node", F.col("label").alias("cluster"))


def decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    shingle_n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    n-gram with a probe/benchmark set (the standard n-gram-overlap
    check run before training to keep eval data out of the corpus).

    Returns (id, n_hits) per CONTAMINATED document; callers anti-join
    to drop them. Shingles hash to 60-bit longs (`shingle_hashes`), so
    the only join ships 8-byte ints; the probe shingle set (benchmarks
    are small next to a corpus) broadcasts — the corpus never
    shuffles. With a huge probe set pass broadcast_probes=False for a
    plain hash join on the uniformly-distributed hash key."""
    c_sh = corpus.select(
        F.col(id_col),
        F.explode(shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n))).alias("_sh"),
    )
    p_sh = probes.select(
        F.explode(shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n))).alias("_sh")
    ).distinct()
    if broadcast_probes:
        p_sh = F.broadcast(p_sh)
    return (
        c_sh.join(p_sh, "_sh")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def contamination_fraction(
    corpus: DataFrame,
    probes: DataFrame,
    shingle_n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Per-document contamination REPORT — the GPT-3-style overlap
    fraction (Brown et al. 2020 App. C; also PaLM/Llama eval-overlap
    methodology, all public): for EVERY corpus document, the fraction
    of its distinct word ``shingle_n``-grams that also occur in the
    probe/benchmark set. :func:`decontaminate` answers "which docs are
    contaminated at all" (hit counts, contaminated docs only); this
    answers "how contaminated is each doc" so a pipeline can apply a
    threshold policy (e.g. drop > 5%, keep-and-log below) instead of a
    binary flag.

    Returns (id_col, n_shingles, n_contaminated, contam_ppm) for every
    corpus document. contam_ppm is integer parts-per-million
    (n_contaminated·1e6 DIV n_shingles — exact integer arithmetic,
    bit-identical on any engine); zero-shingle docs (NULL/empty text
    never happens — word_shingles emits ≥1 shingle — but the guard
    stays) report (0, 0, 0).

    Scale shape: identical to :func:`decontaminate` — shingles hash to
    60-bit longs, the probe set (benchmarks are tiny next to a corpus)
    broadcasts, and the corpus-side explode joins map-side; the only
    shuffle is the per-doc count rollup on (id). The left join keeps
    uncontaminated documents in the report, which a threshold policy
    needs (an inner join would silently report only dirty docs)."""
    c_sh = corpus.select(
        F.col(id_col),
        F.explode_outer(shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n))).alias(
            "_sh"
        ),
    )
    p_sh = (
        probes.select(
            F.explode(shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n))).alias("_sh")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_probes:
        p_sh = F.broadcast(p_sh)
    return (
        c_sh.join(p_sh, "_sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("_sh").cast("long").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            F.when(F.col("n_shingles") > 0, F.expr("(n_contaminated * 1000000) DIV n_shingles"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("contam_ppm"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    sketch_k: int = 16,
    sketch_cap: int | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection (quote/subset pairs): overlap
    coefficient |A∩B| / min(|A|, |B|) over distinct-shingle sets, for
    candidate pairs that share a bottom-k sketch hash.

    WHY NOT the Jaccard band join: containment is invisible to it. A
    200-word doc fully quoted inside a 10k-word page has Jaccard
    ≈ 0.02 — banded minhash (tuned for J ≥ ~0.5) almost never
    candidates the pair, yet overlap coefficient = 1.0 and a curation
    pipeline usually wants exactly these (syndicated snippets, quoted
    posts, header-wrapped mirrors). The bottom-k sketch (the classic
    bottom-k minhash variant, e.g. Cohen & Kaplan 2007 — public
    method) keys each doc on its k SMALLEST shingle hashes: if the
    smaller set A is c-contained in B, a uniformly-hashed shared
    shingle is as likely as any to be among A's k smallest, so the
    pair shares ≥1 sketch slot with probability ≈ 1-(1-c)^k — for
    c ≥ 0.8, k = 16 that is ≈ 1-1e-11; docs with ≤ k shingles are
    sketched WHOLE (full recall). Exact verify on the full hashed
    shingle arrays then removes false candidates.

    Scale shape: the sketch join ships (8-byte hash, id) rows — k rows
    per doc regardless of doc size; candidate (id_a, id_b) pairs are
    DISTINCT'd as bare id pairs BEFORE the arrays join back (the
    verify arrays never enter the dedup shuffle). Hot-key exposure:
    a corpus-ubiquitous shingle with a small hash lands in many docs'
    sketches — the same bounded exposure as an LSH band bucket.
    ``sketch_cap`` (opt-in, the band-cap sibling of
    :func:`minhash_lsh_pairs`'s bucket_cap) additionally skips any
    sketch hash shared by more than that many docs: a boilerplate
    shingle hashing low would otherwise put a near-quadratic bucket
    through the candidate join. Recall degrades EXPLICITLY (a
    containment-c pair still shares ≈ k·c uncapped slots in
    expectation; only pairs whose ENTIRE shared sketch is
    corpus-ubiquitous are lost) instead of melting a reducer.
    ``collapse`` semantics as in :func:`minhash_lsh_pairs` (True /
    False / None = auto via the memoized duplicate-density probe):
    exact copies share their ENTIRE sketch, so a copy-group of size m
    puts C(m, 2) candidate pairs through the sketch join — the
    collapsed path sketches ONE representative per distinct normalized
    content and re-expands copy-groups afterwards (within-group pairs
    at overlap exactly 1.0 — identical shingle sets — cross-group
    pairs inheriting their representatives' score). Output
    row-identical to the direct path.

    Returns (id_a, id_b, overlap) with id_a < id_b, overlap ≥
    ``threshold``, rounded to 4 decimals (portable float)."""
    if sketch_cap is not None:
        collapse = True  # cap semantics are defined on DISTINCT-content
        # occupancy (as minhash's bucket_cap): a flood of exact copies
        # must not push a legitimate shingle over the cap
    if collapse is None:
        collapse = (
            approx_distinct_ratio(df, F.md5(normalize_text(F.col(text_col)))) < COLLAPSE_RATIO
        )
    ov = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.least(F.size("sh_a"), F.size("sh_b")),
        4,
    )

    def _sketch(frame: DataFrame, key: str) -> DataFrame:
        # `_bk` (the bottom-k slice) is precomputed INSIDE the
        # checkpointed frame: both sides of the self-join formerly
        # re-ran array_sort over the FULL shingle array past the
        # checkpoint — O(shingles log shingles) per doc, twice (r14).
        sk = frame.select(key, F.explode("_bk").alias("bk"))
        if sketch_cap is not None:
            sizes = sk.groupBy("bk").agg(F.count(F.lit(1)).alias("_occ"))
            # checkpointed: both self-join sides consume the capped
            # frame (exchange reuse does not fire under writes)
            sk = (
                sk.join(sizes.filter(F.col("_occ") <= sketch_cap), "bk")
                .drop("_occ")
                .transform(checkpoint)
            )
        return sk

    def _verified(frame: DataFrame, key: str, out_a: str, out_b: str) -> DataFrame:
        sk = _sketch(frame, key)
        cand = (
            sk.alias("l")
            .join(
                sk.alias("r"),
                (F.col("l.bk") == F.col("r.bk")) & (F.col(f"l.{key}") < F.col(f"r.{key}")),
            )
            .select(F.col(f"l.{key}").alias(out_a), F.col(f"r.{key}").alias(out_b))
            .distinct()
        )
        # r15 (verdict item 5, measured at sf0.1, OPTIMIZATION_r15.md
        # §6): candidate pairs are bare 16-byte id rows — the
        # DECISION-sized side — while `frame` carries the full shingle
        # arrays. Broadcasting the pairs keeps the array frame out of
        # the verify shuffles entirely (guide §8: attach decisions to
        # the payload without re-shuffling it): verify 0.905 s (SMJ off
        # unknown LogicalRDD stats) → 0.315 s. Holds while candidates
        # fit a broadcast (~1e8 pairs); a corpus past that needs the
        # prior SMJ form back — the join is otherwise unchanged.
        # Sketch-key skew measured and dismissed in the same probe: max
        # bucket occupancy 24 docs (p50 3, p99 16) — no salting target.
        j = F.broadcast(cand).join(
            frame.select(F.col(key).alias(out_a), F.col("sh").alias("sh_a")), out_a
        ).join(frame.select(F.col(key).alias(out_b), F.col("sh").alias("sh_b")), out_b)
        return j.select(out_a, out_b, ov.alias("overlap")).filter(
            F.col("overlap") >= threshold
        )

    bk_arr = F.slice(F.array_sort("sh"), 1, sketch_k).alias("_bk")
    if not collapse:
        # rare-duplicate fast path: sketch + verify per document
        sh = (
            df.select(
                F.col(id_col).alias("id"),
                shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n)).alias(
                    "sh"
                ),
            )
            .select("id", "sh", bk_arr)
            .transform(checkpoint)
        )  # sketch explode + both verify sides read it
        return _verified(sh, "id", "id_a", "id_b")
    base = df.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("chash"),
        shingle_hashes(_sql_word_shingles(_qcol(text_col), shingle_n)).alias("sh"),
    ).transform(checkpoint)
    members = base.select("chash", "id")
    rep = (
        base.groupBy("chash")
        .agg(F.first("sh").alias("sh"))
        .select("chash", "sh", bk_arr)
        .transform(checkpoint)
    )  # sketch explode + both verify sides
    scored = _verified(rep, "chash", "ch_a", "ch_b")
    return expand_copy_groups(scored, members, "overlap", F.lit(1.0))


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """C4/RefinedWeb-style cross-document span dedup: cut each document
    into non-overlapping `chunk_words`-word chunks, hash each chunk,
    and drop every chunk whose lowest owning doc id is another document
    (first occurrence wins — C4's "keep one copy of each duplicated
    line" rule, with word-chunks standing in for lines).

    Returns per-document (id, n_chunks, n_dropped, kept_words): the
    stats a curation pipeline thresholds on before rebuilding text.

    Scale shape: chunks hash to 60-bit longs before the explode, so
    the shuffles carry 16 bytes per chunk occurrence — document bodies
    never leave their scan partition. The min-owner comes from a
    window over the chunk hash (NOT an agg + self-join: that plan
    recomputes the whole chunk/md5 explode on both join sides — 2x
    the dominant cost at corpus scale). Exactly two shuffles, both on
    short keys: by chash for the window, by doc id for the rollup.
    All O(corpus tokens), no pairwise anything. A chunk duplicated
    across a large fraction of the corpus concentrates its (16-byte)
    occurrence rows in one window partition — same exposure the
    equivalent join would have on its probe side; rows this narrow
    spill gracefully.
    """
    from pyspark.sql import Window
    w = F.split(normalize_text(F.col(text_col)), " ")
    n_chunks = F.greatest(F.ceil(F.size(w) / F.lit(chunk_words)), F.lit(1)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice(w, i * chunk_words + 1, chunk_words), " ")),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("chash"),
            F.size(F.slice(w, i * chunk_words + 1, chunk_words)).alias("nw"),
        ),
    )
    occ = df.select(F.col(id_col).alias("id"), F.explode(chunks).alias("c")).select(
        "id", F.col("c.chash").alias("chash"), F.col("c.nw").alias("nw")
    )
    owned = occ.withColumn("owner", F.min("id").over(Window.partitionBy("chash")))
    return (
        owned.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("id") != F.col("owner"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(F.col("id") == F.col("owner"), F.col("nw")).otherwise(0))
            .cast("bigint")
            .alias("kept_words"),
        )
        .select(F.col("id").alias(id_col), "n_chunks", "n_dropped", "kept_words")
    )


def paragraph_chunks(text: Column, chunk_words: int, with_text: bool = False) -> Column:
    """Non-overlapping `chunk_words`-word paragraphs of a normalized
    document as an array of structs (chash: 60-bit md5-prefix long,
    nw: word count[, para: the joined words when `with_text`]).

    THE single definition of what a paragraph hash is: the batch
    operator (`paragraph_dedup_stats`) and the streaming ingest tier
    (`streaming/dedup.py:streaming_paragraph_dedup`) both build on it,
    so ingest and batch agree on paragraph identity byte-for-byte
    (pinned by tests/test_streaming_dedup.py). Pure Catalyst transform
    — no explode here, callers choose row shape."""

    w = F.split(normalize_text(text), " ")
    n_chunks = F.greatest(F.ceil(F.size(w) / F.lit(chunk_words)), F.lit(1)).cast("int")

    def mk(i):
        sl = F.slice(w, i * chunk_words + 1, chunk_words)
        joined = F.array_join(sl, " ")
        fields = [
            F.conv(F.substring(F.md5(joined), 1, 15), 16, 10)
            .cast("long")
            .alias("chash"),
            F.size(sl).alias("nw"),
        ]
        if with_text:
            fields.append(joined.alias("para"))
        return F.struct(*fields)

    return F.transform(F.sequence(F.lit(0), n_chunks - 1), mk)


def paragraph_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 20,
    min_docs: int = 3,
) -> DataFrame:
    """Repetition-aware paragraph dedup (the MassiveText/RefinedWeb
    "repetition" filter class, §2.1 of Rae et al. 2021): cut documents
    into non-overlapping `chunk_words`-word paragraphs and distinguish
    the two duplication regimes a curation pipeline treats differently:

      * CORPUS repetition — a paragraph occurring in ≥ `min_docs`
        distinct documents is boilerplate; every occurrence is removed
        (unlike `chunk_dedup_stats`' first-owner-wins, which keeps one
        copy: template headers/footers should survive in no document);
      * INTRA-document repetition — a non-boilerplate paragraph
        repeated within one document keeps its first occurrence only
        (loops/spam-padding collapse, content survives once).

    Returns per document (doc_id, n_paras, n_repeated_corpus,
    n_repeated_intra, kept_words).

    Scale shape: paragraphs hash to 60-bit longs before the explode —
    bodies never shuffle. The per-(doc, paragraph) rollup is map-side
    combined; because it already yields ONE row per (doc, chash), the
    corpus-frequency pass is a plain count (no count-distinct
    machinery), and the join back keys on the 8-byte hash. One
    checkpointed frame feeds both sides, so the tokenize explode runs
    once. No windows, no pairwise anything — O(corpus tokens).

    Boilerplate-flood contract (measured, SCALE.md round-13 rungs —
    one paragraph in 50% of docs, flat ≤1.10× through 256×): the
    frequency pass map-side-combines the hot chash to one partial row
    per partition, and at probe scale the frequency table broadcasts,
    so rollup rows never shuffle on chash. At 100 TB the join becomes
    sort-merge and the hot key lands 0.5N already-collapsed 32-byte
    rollup rows in one partition — AQE skew-join splits it; no
    cap/pre-collapse tier is needed for this operator."""
    chunks = paragraph_chunks(F.col(text_col), chunk_words)
    occ = df.select(F.col(id_col).alias("id"), F.explode(chunks).alias("c")).select(
        "id", F.col("c.chash").alias("chash"), F.col("c.nw").alias("nw")
    )
    per = occ.groupBy("id", "chash").agg(
        F.count(F.lit(1)).alias("cnt"),
        # occurrences of one chash are the same words → same length
        F.min("nw").alias("nw"),
    )
    per = checkpoint(per)
    glob = per.groupBy("chash").agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = F.col("n_docs") >= min_docs
    return (
        per.join(glob, "chash")
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_paras"),
            F.sum(F.when(boiler, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_repeated_corpus"),
            F.sum(F.when(~boiler, F.col("cnt") - 1).otherwise(0))
            .cast("bigint")
            .alias("n_repeated_intra"),
            F.sum(F.when(~boiler, F.col("nw")).otherwise(0))
            .cast("bigint")
            .alias("kept_words"),
        )
        .select(F.col("id").alias(id_col), "n_paras", "n_repeated_corpus", "n_repeated_intra", "kept_words")
    )


def substring_windows(text: Column, window_words: int) -> Column:
    """Sliding `window_words`-word window hashes of the normalized
    document, as an array of structs (pos: 1-based start index,
    whash: 60-bit md5-prefix long — the `paragraph_chunks` hash
    convention, so cross-engine replicas share identity exactly).

    THE single definition of what a duplicated-substring window is:
    `dup_span_stats` builds on it, and any future streaming
    tier must too. Pure Catalyst transform — no explode here, callers
    choose row shape. Documents shorter than the window emit an empty
    array (guarded: `sequence(1, k)` with k <= 0 would count DOWN).

    Perf shape (r14): each TOKEN is md5-hashed exactly once to a
    60-bit long (`token_hashes` — callers MUST materialize that array
    in its own projection, the `hashed_token_bids` hazard: HOFs are
    CodegenFallback with no cross-expression sharing, so referencing
    the transform from every window would re-hash the document once
    per window); a window's key is then xxhash64 over the sliced
    hash array — one JVM-native hash of 8 longs per window, vs the
    naive md5-per-window (array_join + 8× the hash bytes; a 31-radix
    polynomial fold was rejected: it overflows int64 under ANSI
    arithmetic). The window
    key is INTERNAL (equality-only, never output), so the oracle's
    md5-string grouping partitions windows identically — both keys
    are injective on window text up to negligible collision odds."""
    return substring_windows_from_hashes(token_hashes(text), window_words)


def token_hashes(text: Column) -> Column:
    """60-bit md5-prefix long per normalized token — the shared basis
    for xxhash64 window keys. Materialize in its own projection."""
    return F.transform(
        F.split(normalize_text(text), " "),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )


def substring_windows_from_hashes(toks: Column, window_words: int) -> Column:
    """Window structs (pos, whash) from a MATERIALIZED token-hash
    array (see `substring_windows` — the staged form callers use when
    they also need the token count from the same projection)."""
    k = F.size(toks) - F.lit(window_words) + F.lit(1)

    def mk(i):
        whash = F.xxhash64(F.slice(toks, i, window_words))
        return F.struct(i.cast("int").alias("pos"), whash.alias("whash"))

    return F.when(k >= 1, F.transform(F.sequence(F.lit(1), k), mk)).otherwise(
        F.array().cast("array<struct<pos:int,whash:bigint>>")
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 50,
) -> DataFrame:
    """Exact duplicated-substring detection — the ExactSubstr dedup of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better", §4.1: any substring of >= 50 tokens that repeats
    anywhere in the corpus is a duplicate) re-expressed for Spark:
    instead of the paper's monolithic suffix array (which needs the
    whole corpus addressable from one machine), every document emits
    its sliding `window_words`-word window hashes; a window hash
    occurring more than once corpus-wide (any document, including
    repeats within the SAME document) marks a duplicated substring,
    and per document the overlapping/adjacent duplicated windows
    coalesce into maximal spans — windows at positions p < q belong to
    one span iff q - p <= window_words (their token intervals touch).

    A substring of L >= window_words duplicated tokens yields exactly
    L - window_words + 1 duplicated windows coalescing back into one
    span of L covered tokens, so span count and covered-token count
    match the suffix-array answer for duplicates at or above the
    threshold; shorter repeats are invisible (by design — that IS the
    threshold semantics).

    Returns one row per document that contains at least one duplicated
    window: (id_col, n_words, dup_windows, dup_spans, dup_tokens,
    dup_frac) where dup_tokens is the union length of the covered
    token intervals and dup_frac = dup_tokens / n_words (6 dp).

    Scale shape: windows hash to 60-bit longs in the scan projection —
    document BODIES never shuffle; the exploded frame carries
    (id, n_words, pos, whash) only. The corpus-frequency pass is a
    map-side-combinable count on the 8-byte whash; the join back keys
    on whash (AQE broadcasts the >1-occurrence frequency table when it
    is small — boilerplate vocabularies usually are); span coalescing
    is a lead/lag window partitioned BY DOCUMENT (no global sort), and
    the final rollup reuses that doc partitioning. One checkpointed
    explode feeds both sides, so tokenization runs once. O(corpus
    tokens) rows end to end — the suffix array's O(corpus) memory on
    one node is what this shape removes at 100 TB."""
    from pyspark.sql import Window

    # token-hash array in its OWN projection (hashed_token_bids
    # hazard), then windows as integer folds over it
    occ = (
        df.select(
            F.col(id_col).alias("id"),
            token_hashes(F.col(text_col)).alias("__th"),
        )
        .select(
            "id",
            F.size("__th").alias("n_words"),
            F.explode(
                substring_windows_from_hashes(F.col("__th"), window_words)
            ).alias("s"),
        )
        .select("id", "n_words", F.col("s.pos").alias("pos"), F.col("s.whash").alias("whash"))
        .transform(checkpoint)
    )
    freq = (
        occ.groupBy("whash")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") > 1)
    )
    dup = occ.join(freq, "whash")
    byp = Window.partitionBy("id").orderBy("pos")
    nxt = F.lead("pos").over(byp)
    prv = F.lag("pos").over(byp)
    covered = F.when(nxt.isNull(), F.lit(window_words)).otherwise(
        F.least(F.lit(window_words), nxt - F.col("pos"))
    )
    new_span = F.when(
        prv.isNull() | (F.col("pos") - prv > window_words), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        dup.select("id", "n_words", covered.alias("covered"), new_span.alias("new_span"))
        .groupBy("id", "n_words")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_windows"),
            F.sum("new_span").cast("long").alias("dup_spans"),
            F.sum("covered").cast("long").alias("dup_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            "dup_windows",
            "dup_spans",
            "dup_tokens",
            F.round(F.col("dup_tokens") / F.col("n_words"), 6).alias("dup_frac"),
        )
    )


def boilerplate_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    chunk_words: int = 10,
) -> DataFrame:
    """The one tokenize pass behind :func:`source_boilerplate_stats`:
    (id, source, chash, nw) rows — one per non-overlapping
    ``chunk_words``-word window, chash a 60-bit md5 prefix. Exposed
    separately so the scale probe can attribute stage cost (explode vs
    rollup vs marker join); production callers use the full stats op."""
    chunks = paragraph_chunks(F.col(text_col), chunk_words)
    return df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.explode(chunks).alias("c"),
    ).select("id", "source", F.col("c.chash").alias("chash"), F.col("c.nw").alias("nw"))


def source_boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    chunk_words: int = 10,
    min_docs: int = 3,
) -> DataFrame:
    """CCNet/RefinedWeb-style per-source boilerplate detection: a
    chunk (non-overlapping `chunk_words`-word window of normalized
    text) whose hash appears in ≥ `min_docs` DISTINCT documents of the
    SAME source is boilerplate there (nav bars, cookie banners,
    footers — site templating, not content) and is dropped from EVERY
    document. This differs from :func:`chunk_dedup_stats`'
    first-owner-wins rule, which keeps one copy: boilerplate has no
    "first" worth keeping.

    Returns per-document (id_col, source_col, n_chunks, n_boiler,
    kept_words).

    Scale shape: one tokenize pass produces (id, source, 8-byte chash,
    nw) occurrence rows — bodies never shuffle. The boilerplate set is
    a map-side-combined count_distinct over (source, chash), and only
    the qualifying (source, chash) keys come back through the marker
    join — the boilerplate side is small by construction (site
    templates, not content). The occurrence frame is lazily
    checkpointed so the rollup and the marker join consume ONE explode
    pass. A chunk shared by most of a source concentrates 16-byte rows
    in one aggregation partition — the same bounded exposure as
    chunk_dedup_stats' window, and rows this narrow spill gracefully."""
    occ = boilerplate_occurrences(df, text_col, id_col, source_col, chunk_words).transform(
        checkpoint
    )
    boiler = (
        occ.groupBy("source", "chash")
        .agg(F.count_distinct("id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("source", "chash", F.lit(1).alias("_b"))
    )
    return (
        occ.join(boiler, ["source", "chash"], "left")
        .groupBy("id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_boiler"),
            F.sum(F.when(F.col("_b").isNull(), F.col("nw")).otherwise(0))
            .cast("bigint")
            .alias("kept_words"),
        )
        .select(
            F.col("id").alias(id_col), F.col("source").alias(source_col),
            "n_chunks", "n_boiler", "kept_words",
        )
    )


def chunk_dedup_apply(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """The apply step of C4-style span dedup: rebuild each document
    from only the chunks it OWNS (lowest doc id per chunk hash wins —
    same ownership rule as :func:`chunk_dedup_stats`).

    Returns (id, n_kept, clean_hash): documents whose every chunk is
    owned elsewhere disappear entirely (fully deduplicated away).

    Scale shape: the ownership pass shuffles only (id, chunk_idx,
    chunk_hash) — 24 bytes per chunk, never text. Kept chunk INDEXES
    (small int arrays, ~2% of text size) come back to the original
    rows through one equi-join on doc id, and the text is re-sliced
    from the original body in place — so document bodies cross the
    wire at most once (the id join), not per chunk.
    """
    from pyspark.sql import Window

    w = F.split(normalize_text(F.col(text_col)), " ")
    n_chunks = F.greatest(F.ceil(F.size(w) / F.lit(chunk_words)), F.lit(1)).cast("int")
    chash = lambda i: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.array_join(F.slice(w, i * chunk_words + 1, chunk_words), " ")), 1, 15
            ),
            16,
            10,
        ).cast("long")
    )
    occ = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(i.alias("idx"), chash(i).alias("chash")),
            )
        ).alias("c"),
    ).select("id", F.col("c.idx").alias("idx"), F.col("c.chash").alias("chash"))
    owned = occ.withColumn("owner", F.min("id").over(Window.partitionBy("chash")))
    kept = (
        owned.filter(F.col("id") == F.col("owner"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("idx")).alias("idxs"))
    )
    rebuilt = df.join(kept, df[id_col] == kept["id"]).select(
        F.col(id_col),
        F.size("idxs").cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.flatten(
                    F.transform(F.col("idxs"), lambda i: F.slice(w, i * chunk_words + 1, chunk_words))
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    return rebuilt


def incremental_dedup(
    spark,
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-run exact dedup for a GROWING corpus: drop new docs whose
    content hash is already in the persistent store at `store_path`,
    dedup the batch internally (lowest id wins), then append the
    surviving hashes to the store. Returns the surviving rows.

    The production ingest shape: each batch shuffles only (16-byte
    hash, id) pairs; the store is itself parquet, so the membership
    check is a hash equi-join that scales with #distinct docs, not
    corpus bytes — and the store stays broadcast-able far longer than
    the corpus (16B + id per unique doc). Pair with
    dropDuplicatesWithinWatermark for in-flight stream dedup; this
    handles the across-runs axis.

    Ordering note: the batch-internal winner is deterministic (min id);
    append is atomic per batch because Spark writes to a staging dir
    and commits — a crashed run leaves the store unchanged.
    """
    from pyspark.sql import Window
    from pyspark.sql.utils import AnalysisException

    hashed = new_docs.withColumn("content_hash", F.md5(normalize_text(F.col(text_col))))
    try:
        seen = spark.read.parquet(store_path).select("content_hash")
        have_store = True
    except AnalysisException:
        seen = None
        have_store = False
    fresh = hashed.join(seen, "content_hash", "left_anti") if have_store else hashed
    # batch-internal winner: lowest id per hash, full rows survive
    w_rank = F.row_number().over(
        Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    )
    survivors = (
        fresh.withColumn("_rk", w_rank).filter(F.col("_rk") == 1).drop("_rk")
    ).transform(checkpoint, eager=True)  # compute once: returned AND appended
    survivors.select("content_hash").write.mode("append").parquet(store_path)
    return survivors.drop("content_hash")


def cross_minhash_dedup(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    collapse: bool | None = None,
) -> DataFrame:
    """Fuzzy CROSS-corpus dedup: which new docs are near-duplicates of
    the reference corpus (dedupe a fresh crawl batch against the
    existing training set — the fuzzy sibling of incremental_dedup's
    exact-hash store).

    Returns one row per condemned new doc: (doc_id, ref_id,
    est_jaccard) — its best reference match (highest estimated Jaccard,
    lowest ref id on ties). Survivors = new_docs left-anti this.

    Scale shape: both corpora reduce to (id, K longs) signatures; the
    only join is band-bucket equi (16-byte keys); bodies never shuffle.
    The ref side can be precomputed once and persisted — batches then
    pay one signature pass over the NEW docs only.

    Same hot-bucket mitigation as :func:`minhash_lsh_pairs`: crawl
    batches are duplicate-heavy (mirror floods), and a 10^6-copy page
    in EITHER corpus would otherwise multiply the band join's fan-out
    by the copy count. Both sides band one signature per distinct
    content; the best-match election runs at content level (est is
    constant within a ref copy-group, its representative id is the
    group min — exactly the tie-break the per-doc election produces)
    and condemned new copy-groups re-expand afterwards. Output is
    row-identical to the per-document join.

    `collapse` semantics as in :func:`minhash_lsh_pairs`; auto mode
    probes BOTH corpora and collapses if either is duplicate-heavy
    (a flood on either side multiplies the band join's fan-out)."""
    from pyspark.sql import Window

    rows = num_hashes // bands

    if collapse is None:
        collapse = (
            approx_distinct_ratio(new_docs, F.md5(normalize_text(F.col(text_col))))
            < COLLAPSE_RATIO
            or approx_distinct_ratio(ref_docs, F.md5(normalize_text(F.col(text_col))))
            < COLLAPSE_RATIO
        )

    def _banded(rep: DataFrame, key: str, extra: list[str]) -> DataFrame:
        return rep.select(
            key,
            "sig",
            *extra,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    "|", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                                )
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(key, "sig", *extra, "bb.band", "bb.bucket")

    def _est(left: str, right: str):
        return (
            F.aggregate(
                F.zip_with(
                    F.col(f"{left}.sig"),
                    F.col(f"{right}.sig"),
                    lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            / F.lit(float(num_hashes))
        )

    if not collapse:
        # rare-duplicate fast path: band per DOCUMENT on both sides;
        # the per-new-doc best-match election runs directly (ties on
        # est break to min ref_id — identical to the content-level
        # election, whose group representative is the group min)
        sig_new = new_docs.select(
            F.col(id_col).alias("id"),
            minhash_signature(_sql_word_shingles(_qcol(text_col), shingle_n), num_hashes).alias("sig"),
        ).transform(checkpoint)
        sig_ref = ref_docs.select(
            F.col(id_col).alias("ref_id"),
            minhash_signature(_sql_word_shingles(_qcol(text_col), shingle_n), num_hashes).alias("sig"),
        ).transform(checkpoint)
        cand = (
            _banded(sig_new, "id", []).alias("n")
            .join(
                _banded(sig_ref, "ref_id", []).alias("r"),
                (F.col("n.band") == F.col("r.band")) & (F.col("n.bucket") == F.col("r.bucket")),
            )
            .select(
                F.col("n.id").alias("id"),
                F.col("r.ref_id").alias("ref_id"),
                F.round(_est("n", "r"), 4).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= threshold)
            .groupBy("id", "ref_id")
            .agg(F.first("est_jaccard").alias("est_jaccard"))
        )
        w = Window.partitionBy("id").orderBy(F.col("est_jaccard").desc(), F.col("ref_id").asc())
        return (
            cand.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("id").alias(id_col), "ref_id", "est_jaccard")
        )

    def _collapsed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.md5(normalize_text(F.col(text_col))).alias("chash"),
            minhash_signature(_sql_word_shingles(_qcol(text_col), shingle_n), num_hashes).alias("sig"),
        ).transform(checkpoint)

    nall = _collapsed(new_docs)
    members_new = nall.select("chash", "id")
    rep_new = nall.groupBy("chash").agg(F.first("sig").alias("sig"))
    rep_ref = (
        _collapsed(ref_docs)
        .groupBy("chash")
        .agg(F.first("sig").alias("sig"), F.min("id").alias("ref_id"))
    )
    cand = (
        _banded(rep_new, "chash", []).alias("n")
        .join(
            _banded(rep_ref, "chash", ["ref_id"]).alias("r"),
            (F.col("n.band") == F.col("r.band")) & (F.col("n.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col("n.chash").alias("ch_n"),
            F.col("r.chash").alias("ch_r"),
            F.col("r.ref_id").alias("ref_id"),
            F.round(_est("n", "r"), 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("ch_n", "ch_r")
        .agg(F.first("est_jaccard").alias("est_jaccard"), F.first("ref_id").alias("ref_id"))
    )
    # content-level election: est is identical for every member of a ref
    # copy-group, so max-est/min-ref_id over groups == over documents
    w = Window.partitionBy("ch_n").orderBy(F.col("est_jaccard").desc(), F.col("ref_id").asc())
    best = cand.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")
    return (
        members_new.join(best, members_new.chash == best.ch_n)
        .select(F.col("id").alias(id_col), "ref_id", "est_jaccard")
    )
