"""Similarity search over embedding columns (array<float>).

Two paths, both partition-parallel:

* brute-force cosine top-k — the correctness baseline. Queries are
  broadcast (they're small by definition); the corpus streams through
  one narrow map computing dot/norms with `zip_with`+`aggregate`
  (JVM-side, codegen), then per-query top-k via window rank. On a
  cluster this is one corpus scan, no corpus shuffle: the only shuffle
  is (n_queries × k) candidate rows into the final rank.

* LSH-bucketed (random hyperplanes) — the 100 TB path. A deterministic
  seeded set of H hyperplanes maps each vector to an H-bit bucket;
  probing compares only same-bucket (or neighboring-bucket) vectors.
  Bucketing is a narrow map; the per-bucket join key is uniform.

An IVF variant (k-means coarse quantizer) would slot in the same shape:
assign → equi-join on centroid id → rerank. Centroid training uses
sampled data; kept out of round 1.
"""

from __future__ import annotations

import json
import math
import random

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from dcafs_spark.runtime import checkpoint


def dlit_array(vals: list[float]) -> Column:
    """Double-array literal in ONE py4j call (SQL-parsed server-side).

    `F.array(*[F.lit(x) ...])` costs a py4j roundtrip per element —
    ~300 ms of pure driver-side plan-build for a 512-element plane set,
    and it dominated the LSH queries' wall time at bench scale. Python
    float repr is the shortest round-trip decimal and Double.parseDouble
    is correctly rounded, so the values are bit-exact."""
    return F.expr(_sql_dlit(vals))


# --- SQL-text expression builders (round 14 optimization) ------------
#
# Building the big literal-matrix expressions through the Column DSL
# costs a py4j roundtrip per node: profiling the ivfpq gates at sf0.1
# showed 2.3-2.9 s of a ~3.5 s bench second spent INSIDE
# `fn(spark, sf_dir)` — ivf_cells ~0.5 s per call (×3 calls),
# pq_code ~0.45 s, pq_adc_rel_distance ~0.3 s — all driver-side,
# serial, before a single task runs (and at 100 TB the same seconds of
# driver latency per query submission). These helpers emit the SAME
# expression as SQL text so the whole tree crosses py4j in ONE
# `F.expr` call, exactly the `dlit_array` trick generalized. Arithmetic
# shape, literal formatting (`repr(x)+'D'`), operation order and
# rounding are replicated node for node — value parity with the Column
# path is pinned by tests/test_dedup_similarity.py (identity test) and
# by the untouched DuckDB oracle hashes of every gated caller.


def _qident(name: str) -> str:
    """Backtick-quote a column NAME for SQL-text interpolation so
    reserved words / special characters resolve exactly as F.col(name)
    would (r14 advice). Only for identifiers — expression strings must
    not pass through here."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double_lit(v: float) -> str:
    """One double literal as SQL text. Finite values use repr (shortest
    round-trip decimal; Double.parseDouble is correctly rounded so the
    value is bit-exact). Non-finite values are not valid `<x>D` literal
    syntax — emit the documented string-cast forms instead (r14 advice:
    the old repr path produced unparseable 'infD'/'nanD')."""
    if math.isfinite(v):
        return repr(v) + "D"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"


def _sql_dlit(vals: list[float]) -> str:
    vals = [float(v) for v in vals]
    if len(vals) >= 16 and all(math.isfinite(v) for v in vals):
        # from_json of a constant string CONSTANT-FOLDS to the same
        # array<double> Literal (verified on the optimized plan), but
        # the pre-fold tree is 3 nodes instead of n literal children —
        # the analyzer and optimizer stop paying O(n) per pass on every
        # Dataset that embeds the matrix (measured: 25 ms vs 90 ms
        # analysis and ~50 ms less per exec for a 1024-double array).
        # Values are bit-exact: json.dumps emits repr's shortest
        # round-trip decimals and Jackson's double parse is correctly
        # rounded, same contract as the repr(x)+'D' path below. NaN/Inf
        # are not JSON — those (and tiny arrays) keep the array() text.
        return "from_json('" + json.dumps(vals) + "', 'array<double>')"
    return "array(" + ",".join(_sql_double_lit(v) for v in vals) + ")"


def _sql_dlit2(book: list[list[float]]) -> str:
    rows = [[float(v) for v in c] for c in book]
    if sum(len(c) for c in rows) >= 16 and all(
        math.isfinite(v) for c in rows for v in c
    ):
        return "from_json('" + json.dumps(rows) + "', 'array<array<double>>')"
    return "array(" + ",".join(_sql_dlit(c) for c in rows) + ")"


def _sql_dot(a: str, b: str) -> str:
    """SQL text of `dot(a, b)` — same zip_with+aggregate fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0D AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sql_l2(a: str) -> str:
    return f"sqrt(aggregate({a}, CAST(0.0D AS DOUBLE), (acc, x) -> acc + x * x))"


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_l2(a)} * {_sql_l2(b)}))"


# NOTE (r14, measured): do NOT unroll pair dots into element_at chains.
# A 64-term multiply-add chain in a join filter ran 3.4x SLOWER than the
# aggregate(zip_with(...)) HOF on a 570k-pair join (the generated method
# blows past JIT inlining limits and executes as interpreted bytecode,
# worse than Catalyst's interpreted HOF loop). The winning lever for
# pair predicates is evaluating FEWER folds per pair (hoist the per-row
# norms), not changing the dot's form.


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def bounded_topk(
    scored: DataFrame, key_col: str | list[str], sort_struct: Column, k: int
) -> DataFrame:
    """Per-key top-k WITHOUT a full per-key sort — the 100×-safe rank
    shape for the recall evals (round-11 review: `row_number()` over
    `partitionBy(query_id)` funnels N×|queries| scored rows into
    |queries| partitions and FULLY sorts each to keep 5).

    Two-stage partial-agg prune:
      1. group by (key, spark_partition_id) → each map partition's
         local top-k (`slice(array_sort(collect_list(struct)))`) —
         aggregation state is bounded by partition size, the sort is
         over one partition's candidates for one key, and no group
         ever spans partitions;
      2. re-group the ≤ k×P survivors by key alone → global top-k of
         the union of local top-ks (exact, since struct ordering is a
         total order).
    No Window node, no global sort; the only cross-partition traffic
    past stage 1 is k rows per (key, input-partition).

    `sort_struct` must be an ASCENDING-comparable struct whose field
    order encodes the ranking (order key first, tie-break second,
    payload after). Returns (key_col, _pos, _e) with `_pos` the
    0-based rank and `_e` the struct. `key_col` may be a LIST of
    column names (r14): a composite key ranks several independent
    score families in ONE two-stage pass instead of one pass each.

    Caveat (r12 ADVICE): stage 1's `collect_list` buffers every row of
    a (key, input-partition) group in the aggregation buffer before
    slicing — unlike the Window sort it replaced, that buffer cannot
    spill. The bound is the number of rows one key contributes to ONE
    input partition; callers whose keys can dominate very large
    partitions (≫10^7 rows per key per partition) should repartition
    or salt upstream so the per-partition per-key row count stays
    memory-sized. The recall evals satisfy this by construction
    (|queries| keys spread over all scan partitions)."""
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    local = (
        scored.groupBy(*keys, F.spark_partition_id().alias("__btk_part"))
        .agg(F.slice(F.array_sort(F.collect_list(sort_struct)), 1, k).alias("_top"))
        .drop("__btk_part")
    )
    merged = (
        local.select(*keys, F.explode("_top").alias("_e"))
        .groupBy(*keys)
        .agg(F.slice(F.array_sort(F.collect_list("_e")), 1, k).alias("_top"))
    )
    return merged.select(*keys, F.posexplode("_top").alias("_pos", "_e"))


def _cos_rank_key(id_col: str) -> Column:
    """Ascending sort key replicating `ORDER BY cos_sim DESC, id ASC`
    with Spark's null/NaN placement (NaN first under DESC, NULL last):
    NaN → -inf, NULL → +inf, else -cos_sim."""
    neg = (
        F.when(F.isnan("cos_sim"), F.lit(float("-inf")))
        .when(F.col("cos_sim").isNull(), F.lit(float("inf")))
        .otherwise(-F.col("cos_sim"))
    )
    return F.struct(
        neg.alias("_o"), F.col(id_col).alias("_i"), F.col("cos_sim").alias("_s")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Brute-force cosine top-k of corpus rows per query row.

    `queries` is broadcast — never do this with a large query set;
    split it and union instead."""
    q = F.broadcast(queries.select(F.col(query_id_col), F.col(query_vec_col)))
    # SQL-text cosine (r14): same tree as cosine(cast, cast) in ONE
    # py4j call — the Column-DSL HOF lambdas cost ~100 py4j roundtrips.
    # Identifiers are backtick-quoted so names F.col would accept
    # (reserved words, dots, spaces) parse identically here (r14 advice)
    cos_sql = _sql_cosine(
        f"CAST({_qident(vec_col)} AS ARRAY<DOUBLE>)",
        f"CAST({_qident(query_vec_col)} AS ARRAY<DOUBLE>)",
    )
    scored = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(q).select(
        query_id_col,
        id_col,
        F.round(F.expr(cos_sql), 6).alias("cos_sim"),
    )
    return bounded_topk(scored, query_id_col, _cos_rank_key(id_col), k).select(
        query_id_col,
        F.col("_e._i").alias(id_col),
        F.col("_e._s").alias("cos_sim"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes (pure-python RNG → reproducible
    across engines; embedded as plan literals, broadcast implicitly)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def normalize_centroids(centroids: list[list[float]]) -> list[list[float]]:
    """Unit-normalize centroids ONCE, driver-side, in pure python —
    the single float list both `semantic_dedup`'s plan literal AND its
    SQL oracle generator embed. Normalizing in one place (instead of
    Spark re-normalizing while the SQL side consumed raw values) is
    what makes the micro-quantized argmax genuinely ulp-proof
    cross-engine: both engines round the SAME dot products
    (round-11 review). Idempotent on already-unit vectors up to the
    deterministic python arithmetic both callers share."""
    out = []
    for cen in centroids:
        n = math.sqrt(sum(c * c for c in cen)) or 1.0
        out.append([x / n for x in cen])
    return out


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """H-bit bucket id: bit j = sign(dot(vec, plane_j)) ≥ 0.

    The planes ride as ONE nested 2-D literal (`array<array<double>>`,
    the `pq_code` pattern) and the bucket is one higher-order
    expression: transform over plane index j → zip_with/aggregate dot
    against the j-th literal subarray → weight by 2^j → sum. Three
    forms measured on the streaming tier's map stage (round 12, 300k
    offered, idle machine): flat-literal scalar fold with per-element
    index arithmetic 157k rows/s (the r11 form — each multiply paid
    two computed `element_at`s), THIS form 243k (1.55×), fully
    unrolled inline constants 219k (and H·dim expression nodes risk
    the codegen-size cliff `pq_code` documents). Per-plane
    accumulation order is unchanged (left fold over components), so
    the bits — and every oracle hash — are bit-identical to the prior
    forms. The r11 docstring's zip_with caveat concerned an H-wide
    ARRAY accumulator (one pass, H running sums allocated per
    element), which measured 40% slower; the per-plane dot here
    allocates one dim-array per (row, plane) and still wins on the
    interpreted-HOF path because element access is positional, not
    computed."""
    n_planes = len(planes)
    if isinstance(vec, str):
        # SQL-text fast path (round 14): same transform/aggregate fold
        # in one py4j call; bit weights, fold order and the CASE
        # branches replicate the Column path node for node.
        planes_sql = _sql_dlit2(planes)
        weights_sql = "array(" + ",".join(f"{1 << j}L" for j in range(n_planes)) + ")"
        vd_sql = f"CAST({vec} AS ARRAY<DOUBLE>)"
        d_sql = _sql_dot(vd_sql, f"element_at({planes_sql}, CAST(j AS INT) + 1)")
        bit_sql = (
            f"CASE WHEN {d_sql} >= 0 THEN element_at({weights_sql}, "
            f"CAST(j AS INT) + 1) ELSE CAST(0 AS BIGINT) END"
        )
        return F.expr(
            f"aggregate(transform(sequence(0, {n_planes - 1}), j -> {bit_sql}), "
            f"CAST(0 AS BIGINT), (acc, b) -> acc + b)"
        )
    planes2d = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in p) + ")" for p in planes
        )
        + ")"
    )
    weights = F.expr(
        "array(" + ",".join(f"{1 << j}L" for j in range(n_planes)) + ")"
    )
    jidx = F.sequence(F.lit(0), F.lit(n_planes - 1))
    vd = vec.cast("array<double>")

    def bit(j: Column) -> Column:
        d = dot(vd, F.element_at(planes2d, j.cast("int") + 1))
        return F.when(d >= 0, F.element_at(weights, j.cast("int") + 1)).otherwise(
            F.lit(0).cast("long")
        )

    return F.aggregate(F.transform(jidx, bit), F.lit(0).cast("long"), lambda acc, b: acc + b)


def _bucket_pairs(
    b: DataFrame, key: str, planes: list[list[float]], threshold: float, multiprobe: bool,
    out_a: str, out_b: str,
) -> DataFrame:
    """Shared bucket self-join of a (key, v, bucket, nrm) frame →
    (out_a, out_b, cos_sim) with out_a < out_b, cos ≥ threshold.
    With multiprobe the PROBE side explodes (H+1)× over hamming-1
    neighbor buckets (build side never moves) and pairs dedupe before
    returning (a pair can surface via several probes and both orders;
    cos_sim is identical in each, so first() is value-deterministic)."""
    cos = F.round(dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nrm") * F.col("r.nrm")), 6)
    if multiprobe:
        offs = [0] + [1 << j for j in range(len(planes))]
        probe = b.select(
            key,
            "v",
            "nrm",
            F.explode(F.array(*[F.lit(o).cast("long") for o in offs])).alias("_off"),
            "bucket",
        ).select(key, "v", "nrm", F.col("bucket").bitwiseXOR(F.col("_off")).alias("bucket"))
        return (
            probe.alias("l")
            .join(
                b.alias("r"),
                (F.col("l.bucket") == F.col("r.bucket")) & (F.col(f"l.{key}") != F.col(f"r.{key}")),
            )
            .select(
                F.least(F.col(f"l.{key}"), F.col(f"r.{key}")).alias(out_a),
                F.greatest(F.col(f"l.{key}"), F.col(f"r.{key}")).alias(out_b),
                cos.alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
            .groupBy(out_a, out_b)
            .agg(F.first("cos_sim").alias("cos_sim"))
        )
    return (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .select(
            F.col(f"l.{key}").alias(out_a),
            F.col(f"r.{key}").alias(out_b),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_dedup_pairs(
    emb: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.995,
    id_col: str = "vec_id",
    vec_col: str = "v",
    multiprobe: bool = False,
    center: bool = True,
    collapse: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a, id_b, cos_sim) with
    id_a < id_b: sign-LSH bucket equi-join prunes candidates, exact
    cosine verifies at 6 dp.

    Hot-bucket mitigation, mirroring `dedup.minhash_lsh_pairs`:
    duplicate documents embed to BIT-IDENTICAL vectors, which share
    every sign bit — so a copy-flood makes its bucket quadratic no
    matter how many planes. Vectors collapse on a 16-byte content
    hash (md5 of the exact per-component decimal strings — Spark's
    double→string cast is shortest-round-trip, so distinct doubles
    never merge and identical vectors always do), the bucket join
    runs on one representative per distinct vector, and copy-groups
    re-expand afterwards — within-group cos_sim is exactly 1.0 at
    6 dp, cross-group pairs inherit their representatives' cosine
    (members are bit-identical). Output is row-identical to the
    per-vector join.

    Scale shape: the collapse is a groupBy on the 16-byte hash with
    MAP-SIDE partial aggregation — a 10^6-copy flood collapses to one
    row per map partition before the shuffle, so no reducer ever sees
    the flood (the earlier Window-on-the-raw-vector form shipped
    every copy's ~512-byte vector to a single window task). Everything
    after moves 8-byte ids and one vector per DISTINCT value; norms
    are precomputed per representative so each candidate pair costs
    one array fold.

    Zero vectors (all components 0, or NULL) are EXCLUDED up front:
    they have no direction, so cosine to anything is undefined — the
    un-collapsed join dropped them through a NULL (or, under ANSI
    mode, crashed on the 0-norm division), and emitting within-group
    "cos 1.0" pairs for them would be wrong. Vectors with a NULL
    COMPONENT are excluded for the same reason (their cosine to
    anything is NULL) — and must never reach the content hash:
    concat_ws SKIPS NULL array elements, so [1.0, NULL, 2.0] and
    [1.0, 2.0] would collapse into one copy group and emit false
    within-group cos 1.0 pairs.

    `multiprobe=True` additionally probes every hamming-1 neighbor
    bucket: with H planes, P[all sign bits agree] for near-identical
    vectors is (1−θ/π)^H — at the production H=⌈log2 N⌉+3 that recall
    loss is material, and hamming-1 probing recovers the
    single-flipped-bit miss class (the dominant one for small θ). Cost
    model: the PROBE side explodes (H+1)×, the build side stays put —
    candidate volume grows ~(H+1)/2^H of a plane removed, far cheaper
    than dropping a plane. Pairs found via multiple probes are deduped
    at representative level before expansion.

    Bucket-balance precondition (measured, SCALE.md round 9): sign-LSH
    occupancy is uniform only for roughly CENTERED vectors. Real LM
    embedding spaces are anisotropic — with a dominant mean direction,
    most vectors agree on most plane signs, buckets collapse, and the
    join goes quadratic (measured 58× cliff at 128k vectors under a
    mean-shifted corpus). `center=True` — the DEFAULT, since real
    encoder outputs are the anisotropic case — subtracts the
    per-dimension corpus mean (one map-side-combined aggregate, dim
    doubles to the driver, re-broadcast as a plan literal — the
    kmeans-seeds pattern) INSIDE the bucketing expression only;
    collapse, candidates and cosines still use the ORIGINAL vectors,
    so centering changes which bucket a representative lands in
    (recall/balance) but never a pair's reported cos_sim. The
    oracle-gated queries pin center=False: the mean is a
    data-dependent parallel float sum, whose last-ulp ordering an
    engine-portable SQL oracle cannot replicate bit-for-bit.

    `collapse` (see `dedup.approx_distinct_ratio`): True = always
    pre-collapse; False = bucket per vector directly (skips the
    collapse machinery's fixed cost on corpora known to carry few
    bit-identical vectors); None = auto-probe. `center=True` forces
    the collapsed path: the centering mean is computed per DISTINCT
    vector so a copy-flood cannot drag it, and keeping one mean
    definition means the probe decision can never change which
    buckets (and therefore which candidate pairs) the operator sees.
    Output rows are identical across collapse settings."""
    base = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .filter(~F.exists("v", lambda x: x.isNull()))  # NULL components: cosine undefined
        .filter(F.exists("v", lambda x: x != 0.0))  # zero vectors: no direction
    )
    chash = F.md5(F.concat_ws(",", F.col("v").cast("array<string>")))
    if center:
        collapse = True  # mean is defined over DISTINCT vectors (flood-robust)
    if collapse is None:
        from dcafs_spark.operators.dedup import COLLAPSE_RATIO, approx_distinct_ratio

        collapse = approx_distinct_ratio(base, chash) < COLLAPSE_RATIO
    if not collapse:
        # rare-duplicate fast path: bucket + verify per vector — no
        # content-hash rollup, no expansion joins. One lazy checkpoint:
        # the self-join consumes the bucket/norm map on both sides.
        b = base.select(
            "id",
            "v",
            lsh_bucket(F.col("v"), planes).alias("bucket"),
            l2_norm(F.col("v")).alias("nrm"),
        ).transform(checkpoint)
        return _bucket_pairs(b, "id", planes, threshold, multiprobe, "id_a", "id_b")
    hashed = base.withColumn("chash", chash).transform(checkpoint)
    # one checkpointed pass feeds membership, reps, and both join sides
    members = hashed.select("chash", "id")
    # copies share chash ⇒ identical v, so first() is value-deterministic
    rep = hashed.groupBy("chash").agg(F.first("v").alias("v"))
    if center:
        dim = len(planes[0])
        # per-dim corpus mean: map-side-combined agg, dim doubles to
        # the driver, re-broadcast as a literal (kmeans-seeds pattern)
        mu_row = rep.agg(
            *[F.avg(F.element_at("v", i + 1)).alias(f"m{i}") for i in range(dim)]
        ).first()
        mu = dlit_array([float(mu_row[i] or 0.0) for i in range(dim)])
        bucket_vec = F.zip_with(F.col("v"), mu, lambda x, m: x - m)
    else:
        bucket_vec = F.col("v")
    b = rep.select(
        "chash",
        "v",
        lsh_bucket(bucket_vec, planes).alias("bucket"),
        l2_norm(F.col("v")).alias("nrm"),
    ).transform(checkpoint)
    # checkpoint: the self-join references b on BOTH sides; without it
    # each side re-runs the collapse + bucket/norm map
    cand = _bucket_pairs(b, "chash", planes, threshold, multiprobe, "ch_a", "ch_b")
    from dcafs_spark.operators.dedup import expand_copy_groups

    return expand_copy_groups(
        cand, members, "cos_sim", F.round(F.lit(1.0), 6), include_within=threshold <= 1.0
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    multiprobe: bool = False,
    center: bool = True,
) -> DataFrame:
    """Approximate top-k: exact cosine but only within the query's LSH
    bucket. With ``multiprobe`` the query also probes every hamming-1
    neighbor bucket (one flipped hyperplane bit) — recall rises toward
    brute force at ~(H+1)× the candidate count, still with zero corpus
    shuffle: only the tiny query side explodes.

    ``center=True`` (the DEFAULT — real encoder outputs are
    anisotropic, and a default that melts on them is the wrong
    default) subtracts the CORPUS per-dimension mean from both corpus
    and query vectors inside the bucketing only (same anisotropy
    hazard + mitigation as `embedding_dedup_pairs`: a dominant mean
    direction collapses sign buckets, degrading both balance and
    recall); cosines are still computed on the original vectors. The
    oracle-gated queries pin center=False (the mean's parallel float
    sum is not engine-portable bit-for-bit)."""
    planes = hyperplanes(dim, n_planes, seed)
    if center:
        mu_row = corpus.agg(
            *[F.avg(F.element_at(vec_col, i + 1)).alias(f"m{i}") for i in range(dim)]
        ).first()
        mu = dlit_array([float(mu_row[i] or 0.0) for i in range(dim)])

        def _bv(col: Column) -> Column:
            return F.zip_with(col.cast("array<double>"), mu, lambda x, m: x - m)

    else:

        def _bv(col):
            # plain column name → lsh_bucket's SQL-text fast path,
            # backtick-quoted so reserved-word names resolve (r14 advice)
            return _qident(col) if isinstance(col, str) else col

    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(_bv(F.col(vec_col) if center else vec_col), planes).alias("bucket"),
    )
    qsel = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        lsh_bucket(_bv(F.col(query_vec_col) if center else query_vec_col), planes).alias(
            "bucket"
        ),
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
        )
        qsel = qsel.withColumn("bucket", F.explode(probes))
    q = F.broadcast(qsel)
    # backtick-quoted identifiers: see cosine_topk (r14 advice)
    cos_sql = _sql_cosine(
        f"CAST({_qident(vec_col)} AS ARRAY<DOUBLE>)",
        f"CAST({_qident(query_vec_col)} AS ARRAY<DOUBLE>)",
    )
    scored = (
        c.join(q, "bucket")
        .select(
            query_id_col,
            id_col,
            F.round(F.expr(cos_sql), 6).alias("cos_sim"),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    return bounded_topk(scored, query_id_col, _cos_rank_key(id_col), k).select(
        query_id_col,
        F.col("_e._i").alias(id_col),
        F.col("_e._s").alias("cos_sim"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def kmeans_seeds(v: DataFrame, k: int) -> DataFrame:
    """First k vectors by id via orderBy+limit → TakeOrderedAndProject:
    each partition ships only its local top-k to the driver. (A global
    Window.orderBy row_number would funnel the whole corpus through one
    task — a straggler at 100× scale.)"""
    return v.orderBy("_id").limit(k)


_ITER_FRAME_CACHE: dict[tuple[str, int], DataFrame] = {}


def _iter_frame(v: DataFrame, row_bytes: int) -> DataFrame:
    """Materialize a training frame ONCE for an iteration loop (r14).

    Every Lloyd's/GD iteration is a fresh job over the same frame;
    without a lineage cut each job re-runs the upstream scan AND the
    ensure_parallelism repartition — iters full passes plus iters full
    shuffles of the corpus for identical bytes (the MLlib idiom is
    ``data.cache()`` before iterating, for exactly this reason). After
    materializing, tasks are re-sized to ~64 MB from the MEASURED row
    count: at bench SFs the loop then runs single-task jobs (scheduling
    floor, not task count, dominates there); at 100 TB the formula
    leaves the partitioning alone. Values are unchanged — only
    aggregation grouping may reorder float partial sums, which is the
    documented tolerance of every trained gate (rows-only + numpy
    allclose replica).

    Session-scoped by (application id, analyzed-plan semanticHash):
    `similarity_ivfpq_trained` trains the coarse quantizer AND the
    codebooks over the SAME frame — one materialization serves both
    trainers. Structurally bounded (oldest entry evicted past 8, and
    `queries.clear_training_memos` empties it between bench reps);
    dropping an entry releases the localCheckpoint blocks to the
    ContextCleaner once the Python/JVM references are gone."""
    from dcafs_spark.runtime import checkpoint

    key = (
        v.sparkSession.sparkContext.applicationId,
        int(v._jdf.queryExecution().analyzed().semanticHash()),
    )
    hit = _ITER_FRAME_CACHE.get(key)
    if hit is not None:
        return hit
    # row count rides the checkpoint's own action as an Observation
    # (r15 — one job instead of materialize + a separate count)
    obs = Observation()
    v = v.observe(obs, F.count(F.lit(1)).alias("n")).transform(checkpoint, eager=True)
    n = int(obs.get["n"] or 0)
    # Task sizing (r15 revision): ~64 MB of rows per task as before,
    # but with a PARALLELISM FLOOR of min(cores, n/128) — the r14
    # pure-bytes rule coalesced bench-SF frames to ONE task, and the
    # iteration jobs turned out compute-bound (interpreted HOF argmin
    # folds), not scheduling-floor-bound: one train_pq update measured
    # 0.93 s at 1 partition vs 0.24 s at 16 on the same 2000-row frame.
    # At scale the byte term dominates the max() and nothing changes.
    cores = v.sparkSession.sparkContext.defaultParallelism
    want = max(
        int(n * row_bytes // (64 << 20)) + 1,
        min(cores, int(n // 128) or 1),
    )
    if want < v.rdd.getNumPartitions():
        v = v.coalesce(want)
    while len(_ITER_FRAME_CACHE) >= 8:
        _ITER_FRAME_CACHE.pop(next(iter(_ITER_FRAME_CACHE)))
    _ITER_FRAME_CACHE[key] = v
    return v


def kmeans_train(
    vectors: DataFrame,
    k: int = 8,
    dim: int = 64,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer.

    Per iteration: centroids ride the plan as literal arrays (implicit
    broadcast), assignment is one narrow map (argmin over k dot
    products), and the update is a groupBy(cid) with `dim` avg
    aggregates — map-side combined, so the shuffle carries k×dim
    partial sums per task, independent of corpus size. Only the k×dim
    centroid matrix ever reaches the driver. Deterministic init: the
    first k vectors by id (no RNG → reproducible plans)."""
    v = vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
    v = _iter_frame(v, row_bytes=8 * dim + 16)
    first_k = kmeans_seeds(v, k).collect()
    cents = [list(r["_v"]) for r in sorted(first_k, key=lambda r: r["_id"])]
    for _ in range(iters):
        # argmax as array_min over (−d, cid) structs — each dot appears
        # exactly once in the plan. The earlier when-chain re-embedded
        # the growing best_dot tree twice per step (2^k expression
        # blowup: measured 227 s/3-iter train at k=12 vs 3 s for the
        # struct form in kmeans_train_l2 — round-12 anisotropy probe).
        # Ties: min(−d) = max(d), then min cid — same first-maximal
        # winner as the strict-> chain. r14: assignment as ONE
        # flat-literal-matrix SQL text (train_pq's data-addressed form
        # — the normalized centroids ride as a single k·dim array and
        # j/i index into it): same products, same left fold, same
        # bits, but the plan text and codegen stay O(1) in k·dim —
        # measured 0.39 s/iter vs 0.98 (per-centroid Column HOFs) and
        # 1.43 (inline-expanded text) at sf0.01.
        flat = [
            x / (math.sqrt(sum(y * y for y in cv)) or 1.0)
            for cv in cents
            for x in cv
        ]
        d_sql = (
            f"aggregate(sequence(0, {dim - 1}), CAST(0.0D AS DOUBLE), "
            f"(acc, i) -> acc + element_at(_v, i + 1)"
            f" * element_at({_sql_dlit(flat)}, j * {dim} + i + 1))"
        )
        assigned = v.selectExpr(
            f"array_min(transform(sequence(0, {k - 1}), "
            f"j -> named_struct('d', -({d_sql}), 'j', CAST(j AS INT)))).j AS cid",
            "_v",
        )
        # Update step as ONE avg over posexploded (cid, dim, x) rows
        # (r15): the former dim-wide agg built `dim` Column-DSL avg
        # aggregates (~0.29 s of py4j per iteration at dim=64) and its
        # 64-buffer hash-agg planned/executed in ~0.6 s on 2000 rows —
        # the exploded rollup measures 0.06 s build + 0.32-0.51 s exec
        # for the same means (still map-side combined; the shuffle
        # carries k×dim (sum,count) cells either way). Partial-sum
        # GROUPING changes (per (cid,i) key instead of per cid), which
        # is within the trained gates' documented tolerance — the
        # numpy differential (atol=1e-9) and rows-only driver gate, the
        # same class as r14's trainer changes.
        rows = (
            assigned.select("cid", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("cid", "_i")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]
        for r in rows:
            new_cents[r["cid"]][r["_i"]] = r["_m"]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


# --------------------------------------------------------------- product
# quantization (Jégou et al. 2011, "Product Quantization for Nearest
# Neighbor Search" — public method): split each vector into m subspaces,
# vector-quantize each against a k-entry codebook, and score candidates
# with an asymmetric-distance (ADC) table — the classic memory-bound ANN
# tier (an 8x16 PQ stores a 64-dim float vector in 8 BYTES, a 32x
# compression that lets a 100 TB embedding corpus fit hot memory).


def kmeans_train_l2(
    vectors: DataFrame,
    k: int = 16,
    dim: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Euclidean Lloyd's k-means (PQ codebooks quantize L2, unlike the
    IVF coarse quantizer's spherical variant above). Same distributed
    shape as :func:`kmeans_train`: centroids ride as literals,
    assignment is a narrow argmin map — argmin ||v−c||² = argmin
    (||c||² − 2·v·c), with ||c||² precomputed driver-side so the
    per-row work is one dot product per centroid — and the update is a
    map-side-combined groupBy carrying k×dim partial sums. Ties take
    the FIRST minimal centroid (strict-< improvement), matching the
    encode step and any SQL replication via first-position-of-min."""
    v = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    v = _iter_frame(v, row_bytes=8 * dim + 16)
    first_k = kmeans_seeds(v, k).collect()
    cents = [list(r["_v"]) for r in sorted(first_k, key=lambda r: r["_id"])]
    for _ in range(iters):
        # argmin as array_min over (d, cid) structs: struct comparison
        # orders by d then cid, so ties take the FIRST minimal centroid
        # — and each distance expression appears exactly once (a nested
        # when-chain would re-embed the growing best_d tree twice per
        # step: 2^k expression blowup at k=16). r14: the flat-literal-
        # matrix SQL text (see kmeans_train) — same bits, O(1) plan.
        flat = [x for cv in cents for x in cv]
        cn2_sql = _sql_dlit([float(sum(x * x for x in cv)) for cv in cents])
        d_sql = (
            f"element_at({cn2_sql}, j + 1) - 2.0D * "
            f"aggregate(sequence(0, {dim - 1}), CAST(0.0D AS DOUBLE), "
            f"(acc, i) -> acc + element_at(_v, i + 1)"
            f" * element_at({_sql_dlit(flat)}, j * {dim} + i + 1))"
        )
        assigned = v.selectExpr(
            f"array_min(transform(sequence(0, {k - 1}), "
            f"j -> named_struct('d', {d_sql}, 'j', CAST(j AS INT)))).j AS cid",
            "_v",
        )
        # exploded single-avg update — see kmeans_train (r15)
        rows = (
            assigned.select("cid", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("cid", "_i")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]
        for r in rows:
            new_cents[r["cid"]][r["_i"]] = r["_m"]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


def train_pq(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train the m per-subspace codebooks (m × k × dim/m floats — a
    driver-side constant at any corpus size; 8×16×8 doubles = 8 KiB).

    FUSED across subspaces: all m Lloyd's runs advance in ONE corpus
    scan per iteration — the corpus explodes to (subspace, subvector)
    rows (a narrow posexplode, m skinny rows per vector), each row
    argmins against ITS subspace's k centroids (flat m×k×dsub literal,
    first-min tie like `pq_code`), and one map-side-combined
    groupBy(subspace, cid) carries all m×k×dsub mean cells. The
    earlier per-subspace form scanned the corpus m times per iteration
    (24 scans for the default 8×3) — at 100 TB that is 8× the I/O for
    identical math; in the sandbox it was also 24 job submissions of
    pure overhead. Only m×k rows reach the driver per iteration.

    Init matches the per-subspace form: subspace s seeds from the
    first k corpus vectors by id, sliced — so results line up with the
    numpy differential the same way `kmeans_train_l2`'s do."""
    dsub = dim // m
    if dsub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    v = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    v = _iter_frame(v, row_bytes=8 * dim + 16)
    first_k = kmeans_seeds(v, k).collect()
    seeds = [list(r["_v"]) for r in sorted(first_k, key=lambda r: r["_id"])]
    # corpora with fewer than k vectors (including EMPTY — the
    # empty-input gate) still get k well-formed codewords: cycle the
    # available seeds, or all-zero codewords when there are none
    # (every distance ties at ||c||²=0 → code 0, deterministic).
    # Duplicate seeds stay duplicates under Lloyd's (first-min ties
    # route all mass to the first occurrence), which is fine: unused
    # codewords just never win the argmin.
    n_real = len(seeds)
    while len(seeds) < k:
        seeds.append(list(seeds[(len(seeds) - n_real) % n_real]) if n_real else [0.0] * dim)
    books = [[vec[s * dsub : (s + 1) * dsub] for vec in seeds] for s in range(m)]
    subs = v.select(
        F.posexplode(
            F.array(*[F.slice("_v", s * dsub + 1, dsub) for s in range(m)])
        ).alias("_s", "_sub")
    )
    for _ in range(iters):
        # assignment as ONE SQL text (r15 — the kmeans_train treatment):
        # the Column-DSL _cand lambda cost ~100 py4j roundtrips per
        # iteration rebuilding the same fold. Same tree node for node:
        # d(s, j) = ||c||² − 2·sub·c with the row-constant ||sub||²
        # dropped (same compare as kmeans_train_l2 / pq_code), first-min
        # tie via the (d, j) struct — bit-identical distances.
        cn2_sql = _sql_dlit([sum(x * x for x in c) for bs in books for c in bs])
        book_sql = _sql_dlit([x for bs in books for c in bs for x in c])
        d_sql = (
            f"element_at({cn2_sql}, CAST(_s * {k} + j + 1 AS INT)) - 2.0D * "
            f"aggregate(sequence(0, {dsub - 1}), CAST(0.0D AS DOUBLE), "
            f"(acc, i) -> acc + element_at(_sub, CAST(i + 1 AS INT)) "
            f"* element_at({book_sql}, CAST((_s * {k} + j) * {dsub} + i + 1 AS INT)))"
        )
        best_sql = (
            f"array_min(transform(sequence(0, {k - 1}), "
            f"j -> named_struct('d', {d_sql}, 'j', CAST(j AS INT)))).j"
        )
        # exploded single-avg update — see kmeans_train (r15). The
        # posexplode sits in its OWN projection: ExtractGenerator's
        # rewrite of a mixed generator+struct-lambda select drops the
        # lambda struct's field aliases (FIELD_NOT_FOUND on `.j`).
        rows = (
            subs.selectExpr("_s", f"{best_sql} AS _cid", "_sub")
            .select("_s", "_cid", F.posexplode("_sub").alias("_i", "_x"))
            .groupBy("_s", "_cid", "_i")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new_books = [[list(c) for c in bs] for bs in books]
        for r in rows:
            new_books[r["_s"]][r["_cid"]][r["_i"]] = r["_m"]
        if new_books == books:
            break
        books = new_books
    return books


def pq_codebooks_fixed(dim: int = 64, m: int = 8, k: int = 16, seed: int = 7) -> list[list[list[float]]]:
    """Deterministic data-independent codebooks (hyperplanes-style
    seeded RNG). Quantization error is worse than trained books — this
    exists so the encode/ADC MECHANICS can be oracle-gated with
    literals both engines share (the trained path is pytest-verified
    against a numpy Lloyd's instead, like the IVF trainer)."""
    rng = random.Random(seed)
    dsub = dim // m
    return [
        [[rng.gauss(0.0, 0.5) for _ in range(dsub)] for _ in range(k)] for _ in range(m)
    ]


def pq_code(
    vec: Column | str, codebooks: list[list[list[float]]], quantize_micro: bool = False
) -> Column:
    """Encode a vector to its array<int> of m codebook indices — a pure
    narrow map (m × k dot products per row, no shuffle, no UDF). Ties
    take the first minimal centroid; distance compares as
    ||c||² − 2·v_s·c (the row-constant ||v_s||² dropped), with ||c||²
    a python-computed literal so any SQL oracle replays the exact
    float sequence. ``quantize_micro`` compares int64 micro-units
    instead of raw doubles — the engine-portability mode the oracle
    gate uses (argmin over identical integers can never flip on a
    float ulp; the repo's standard quantization convention)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if isinstance(vec, str):
        # SQL-text fast path (one py4j call) — same expression tree:
        # per subspace, argmin via array_min over (d, j) structs with
        # the identical ||c||²−2·v_s·c fold and micro-rounding.
        parts = []
        for s in range(m):
            book = codebooks[s]
            book_sql = _sql_dlit2(book)
            cn2_sql = _sql_dlit([sum(x * x for x in c) for c in book])
            sub_sql = f"slice({vec}, {s * dsub + 1}, {dsub})"
            d_sql = (
                f"element_at({cn2_sql}, j + 1) - 2.0D * "
                f"{_sql_dot(sub_sql, f'element_at({book_sql}, j + 1)')}"
            )
            if quantize_micro:
                d_sql = f"CAST(round(({d_sql}) * 1000000.0D, 0) AS BIGINT)"
            parts.append(
                f"CAST(array_min(transform(sequence(0, {len(book) - 1}), "
                f"j -> named_struct('d', {d_sql}, 'j', j))).j AS INT)"
            )
        return F.expr("array(" + ", ".join(parts) + ")")
    codes = []
    for s in range(m):
        sub = F.slice(vec, s * dsub + 1, dsub)
        # argmin via array_min over (d, j) structs — first-min
        # tie-break by construction. The k candidates are ONE
        # transform over the codebook-as-literal-2D-array (the
        # lsh_bucket pattern): k unrolled fold trees made the plan
        # too large for whole-stage codegen and ran interpreted
        # (measured ~4 s for 10k rows at m=8, k=16; this form ~1 s).
        # Per-element arithmetic order is unchanged, so codes (and
        # oracle hashes) are identical.
        book = codebooks[s]
        book_lit = F.expr(
            "array("
            + ",".join("array(" + ",".join(repr(float(x)) + "D" for x in c) + ")" for c in book)
            + ")"
        )
        cn2_lit = dlit_array([sum(x * x for x in c) for c in book])

        def _mk(_sub, _book, _cn2):
            # closure, not default args: F.transform dispatches on the
            # lambda's ARITY (the word_shingles trap)
            def _cand(j):
                d = F.element_at(_cn2, j + 1) - 2.0 * dot(_sub, F.element_at(_book, j + 1))
                if quantize_micro:
                    d = F.round(d * 1e6).cast("long")
                return F.struct(d.alias("d"), j.alias("j"))

            return _cand

        cand = F.transform(F.sequence(F.lit(0), F.lit(len(book) - 1)), _mk(sub, book_lit, cn2_lit))
        codes.append(F.array_min(cand)["j"].cast("int"))
    return F.array(*codes)


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    out_col: str = "code",
    quantize_micro: bool = False,
    engine: str = "expr",
) -> DataFrame:
    """PQ-encode a vector column with an explicit ingest-vs-query
    engine split (r13 verdict ask #3):

    * ``engine='expr'`` — the `pq_code` Catalyst expression: right for
      the QUERY side (codes for a handful of probe rows ride the plan;
      nothing crosses the JVM boundary) and for the oracle gates (the
      expression replays in SQL). It is, however, an interpreted-HOF
      argmin — measured ~19k vectors/s on 32 threads (SCALE.md r13),
      the one linear stage in the ivfpq rungs.
    * ``engine='arrow'`` — Arrow-batched `mapInPandas` numpy encode:
      the INGEST side (encoding a 100 TB corpus once at index build).
      Still a pure narrow map — no shuffle, batch-at-a-time — and
      BYTE-IDENTICAL to the expression path: the numpy kernel replays
      the same left-associated accumulation order per dimension
      (vectorized across rows, ordered across dims), the same
      driver-side python-float ||c||² literals, and half-AWAY-from-zero
      micro-rounding (Spark F.round, not numpy banker's). Identity is
      pinned by tests/test_dedup_similarity.py over the fixture
      embeddings and a tie-crafted codebook; throughput measured ≥5×
      the expression path (SCALE.md, "Round-14 PQ-encode engine split").
    """
    if engine == "expr":
        return df.withColumn(
            out_col, pq_code(vec_col, codebooks, quantize_micro=quantize_micro)
        )
    if engine != "arrow":
        raise ValueError(f"engine must be 'expr' | 'arrow', got {engine!r}")

    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    books_py = [[[float(x) for x in c] for c in book] for book in codebooks]
    # EXACTLY the literals the expression path embeds: python-float
    # left-assoc sums, not np.sum (pairwise summation differs in ulps)
    cn2_py = [[sum(x * x for x in c) for c in book] for book in books_py]
    m = len(books_py)
    dsub = len(books_py[0][0])
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(IntegerType()))]
    )

    def encode(batches):
        import numpy as np

        B = np.array(books_py)  # (m, k, dsub) float64 — exact
        CN2 = np.array(cn2_py)  # (m, k)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(**{out_col: []})
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )  # float32→float64 widening is exact, same as the JVM promotion
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                sub = V[:, s * dsub : (s + 1) * dsub]
                # accumulate t-ascending: identical float sequence to
                # aggregate(zip_with(...), 0.0, acc+x), vectorized over
                # (row, centroid) only
                acc = np.zeros((n, B.shape[1]))
                for t in range(dsub):
                    acc = acc + sub[:, t : t + 1] * B[s][:, t][None, :]
                d = CN2[s][None, :] - 2.0 * acc
                if quantize_micro:
                    dm = d * 1e6
                    d = np.floor(np.abs(dm) + 0.5) * np.sign(dm)
                codes[:, s] = np.argmin(d, axis=1)  # first-min, like array_min
            yield pdf.assign(**{out_col: list(codes)})

    return df.mapInPandas(encode, out_schema)


def pq_adc_distance(
    codes: Column, query: list[float], codebooks: list[list[list[float]]]
) -> Column:
    """Asymmetric-distance (ADC) estimate of ||query − vec||²: the
    per-subspace lookup tables ||q_s − c||² are computed driver-side
    from the query and ride as m k-entry literal arrays; scoring a
    candidate is m array lookups + m−1 adds — no vector math per row
    at all, which is the point of PQ at scale (the corpus side touches
    only the 8-byte codes)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    total = None
    for s in range(m):
        qs = query[s * dsub : (s + 1) * dsub]
        table = [sum((q - x) ** 2 for q, x in zip(qs, c)) for c in codebooks[s]]
        term = F.element_at(dlit_array(table), F.element_at(codes, s + 1) + 1)
        total = term if total is None else total + term
    return total


def _sql_ivf_cands(vec: str, centroids: list[tuple[int, list[float]]]) -> str:
    """SQL text of the sorted (−cos_micro, cid) candidate array shared
    by `ivf_cells` / `ivf_assign` — identical per-centroid expression
    to the Column path (micro-quantized cosine, ties on lower cid)."""
    cands = ", ".join(
        "named_struct('nd', -CAST(round("
        + _sql_cosine(vec, _sql_dlit(cv))
        + " * 1000000.0D, 0) AS BIGINT), 'cid', CAST("
        + str(int(cid))
        + " AS BIGINT))"
        for cid, cv in centroids
    )
    return f"array_sort(array({cands}))"


def ivf_cells(
    vec: Column | str, centroids: list[tuple[int, list[float]]], nprobe: int
) -> Column:
    """The `nprobe` nearest IVF cells for a vector as an array<long>
    of cell ids — a PURE NARROW MAP against the centroid matrix as
    literals (an IVF index is driver-side state, like `kmeans_train`'s
    output; no crossJoin, no aggregate, no shuffle — at 100 TB the
    corpus-side assignment must not cost a full-corpus shuffle).
    Centroid cosine micro-quantizes before the sort so a float ulp
    can never flip a cell choice cross-engine; ties break on the
    lower cell id.

    Centroid components must be finite (r13 ADVICE): they interpolate
    as `repr(x)+'D'` literals into `F.expr`, so a NaN/Inf component
    would either fail to parse ('nanD') or silently poison every
    cosine it touches — rejected here with a clear error instead."""
    import math

    for cid, cv in centroids:
        if not all(math.isfinite(float(x)) for x in cv):
            raise ValueError(
                f"ivf_cells: centroid {cid} has a non-finite component "
                "(NaN/Inf cannot ride the plan as a literal and would "
                "poison cell assignment)"
            )
    if isinstance(vec, str):
        return F.expr(
            f"slice({_sql_ivf_cands(vec, centroids)}, 1, {int(nprobe)}).cid"
        )
    cands = []
    for cid, cv in centroids:
        cvlit = F.expr("array(" + ",".join(repr(float(x)) + "D" for x in cv) + ")")
        nd = -F.round(cosine(vec, cvlit) * 1e6).cast("long")
        cands.append(
            F.struct(nd.alias("nd"), F.lit(int(cid)).cast("long").alias("cid"))
        )
    return F.slice(F.array_sort(F.array(*cands)), 1, nprobe)["cid"]


def ivf_assign(vec: Column | str, centroids: list[tuple[int, list[float]]]) -> Column:
    """Nearest-cell assignment WITH the winning similarity: a
    struct(cell: long, cq_micro: long) per vector — `ivf_cells`'
    narrow-map shape (centroid matrix as plan literals, no crossJoin,
    no shuffle) for callers that also need the centrality score
    (cluster-balanced sampling ranks members by it). Same
    determinism contract: cosine micro-quantized before the argmax,
    ties to the lower cell id, non-finite centroids rejected."""
    import math

    for cid, cv in centroids:
        if not all(math.isfinite(float(x)) for x in cv):
            raise ValueError(
                f"ivf_assign: centroid {cid} has a non-finite component "
                "(NaN/Inf cannot ride the plan as a literal and would "
                "poison cell assignment)"
            )
    if isinstance(vec, str):
        best = f"{_sql_ivf_cands(vec, centroids)}[0]"
        return F.expr(
            f"named_struct('cell', {best}.cid, 'cq_micro', -({best}.nd))"
        )
    cands = []
    for cid, cv in centroids:
        cvlit = F.expr("array(" + ",".join(repr(float(x)) + "D" for x in cv) + ")")
        nd = -F.round(cosine(vec, cvlit) * 1e6).cast("long")
        cands.append(
            F.struct(nd.alias("nd"), F.lit(int(cid)).cast("long").alias("cid"))
        )
    best = F.array_sort(F.array(*cands))[0]
    return F.struct(best["cid"].alias("cell"), (-best["nd"]).alias("cq_micro"))


def pq_adc_rel_distance(
    codes: Column | str, qvec: Column | str, codebooks: list[list[list[float]]]
) -> Column:
    """ADC ranking score when the query is a ROW (a column), not a
    driver-side literal: Σ_s (||c_{s,code_s}||² − 2·q_s·c_{s,code_s})
    — the true ADC minus the per-query constant Σ_s ||q_s||², so the
    per-query ORDERING is identical to `pq_adc_distance` while the
    codebook norms stay python-computed literals (cross-engine exact).
    Cost per (query, candidate) pair is m lookups + m dsub-wide dots;
    a production query SET precomputes per-query lookup tables instead
    (the `pq_adc_distance` shape) — this form exists for query-as-data
    pipelines like IVF-PQ where queries live in a DataFrame."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if isinstance(codes, str) and isinstance(qvec, str):
        # SQL-text fast path (one py4j call) — identical left-assoc
        # sum of per-subspace ||c||² − 2·q_s·c terms.
        terms = []
        for s in range(m):
            book = codebooks[s]
            book_sql = _sql_dlit2(book)
            cn2_sql = _sql_dlit([sum(x * x for x in c) for c in book])
            j1 = f"(element_at({codes}, {s + 1}) + 1)"
            qs = f"slice({qvec}, {s * dsub + 1}, {dsub})"
            terms.append(
                f"(element_at({cn2_sql}, {j1}) - 2.0D * "
                f"{_sql_dot(qs, f'element_at({book_sql}, {j1})')})"
            )
        return F.expr(" + ".join(terms))
    total = None
    for s in range(m):
        book = codebooks[s]
        book_lit = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")" for c in book
            )
            + ")"
        )
        cn2_lit = dlit_array([sum(x * x for x in c) for c in book])
        j1 = F.element_at(codes, s + 1) + 1
        qs = F.slice(qvec, s * dsub + 1, dsub)
        term = F.element_at(cn2_lit, j1) - 2.0 * dot(qs, F.element_at(book_lit, j1))
        total = term if total is None else total + term
    return total


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark semantic duplicates WITHIN each cluster
    — pairs whose cosine clears `threshold` — keeping, per duplicate
    neighborhood, the member FARTHEST from its centroid (the paper's
    keep-low-centroid-similarity rule, which preserves diversity at
    the cluster fringe). Returns one row per vector:
    (vec_id, cluster, c_sim_micro, kept).

    Dominance semantics (deterministic, no connected components): x is
    dropped iff SOME near-duplicate neighbor y beats it — c_sim(y) <
    c_sim(x), ties on the micro-quantized similarity broken by lower
    id. A chain A~B~C therefore keeps every local minimum rather than
    electing one global representative per component; that matches the
    paper's per-pair pruning (ε-dedup is pairwise, not transitive) and
    keeps the decision local to a cluster partition.

    Scale shape (100 TB): centroid assignment is a NARROW map — the
    k×dim centroid matrix rides as one flat plan literal (broadcast
    implicitly), each row computes k folds, no shuffle. The only
    shuffle keys on the cluster id (pairing is a within-cluster
    self-join), so cluster occupancy bounds the quadratic term:
    pairs ≈ occupancy × N, and K IS THE KNOB — a production run
    sizes k ≈ N/5000 so the expected cluster holds ~5k vectors.
    Centroid TRAINING (`kmeans_train_l2`, or sphere k-means via
    `kmeans_train`) matters on anisotropic real-encoder corpora
    where random directions collapse occupancy — MEASURED both ways
    (SCALE.md): on a direction-clustered fixture (12 latent cones,
    16k vectors) 3 Lloyd iterations take occupancy max/mean from
    2.19× (random, one cone-merged hub cluster) to a perfect 1.00×
    and cut the dedup pass 8.9× (10.0 → 1.1 s) for 3.1 s of
    training; on the near-isotropic synthetic fixture the SAME
    training made occupancy WORSE than random directions (16× rung:
    max/mean 2.23× trained vs 1.57× random, dedup 160.8 vs
    140.0 s). Train when the embedding space has direction
    structure; probe occupancy before trusting either default.
    This gate pins a FIXED seeded centroid set so
    the DuckDB oracle can replay assignment verbatim (the trained
    path is numpy-differential-tested instead — data-dependent float
    reductions don't replicate bit-for-bit in portable SQL).
    Centroid scores micro-quantize (int64, 1e-6) BEFORE the argmax
    and the dominance compare, so a float ulp can never flip a
    cluster assignment or a keep decision cross-engine; pair cosines
    round to 6 dp like every other similarity gate.

    Zero-norm vectors have no direction: they assign to cluster 0
    (all scores tie at 0) and are excluded from pairing (cosine
    undefined), so they always come back kept=true.

    `cluster_cap` (opt-in): clusters with more than this many vectors
    skip the pair search — members return kept=true — bounding the
    worst-case join fan-out when centroid quality can't be vouched
    for (see the inline comment; k sized to the occupancy target is
    the primary control, the cap is the wedge guard).

    `collapse` (see `dedup.approx_distinct_ratio`): bit-identical
    vectors pre-collapse onto a 16-byte content hash before the pair
    join — the copy-flood guard every other dedup tier carries (a
    duplicate flood lands in ONE cluster and squares the join
    otherwise). True = always, False = per-vector direct path,
    None = auto density probe. Output rows identical across settings
    (path-equivalence tested); the dominance rule factors exactly
    through (c_sim, group-min-id) — see the inline derivation.
    """
    k = len(centroids)
    dim = len(centroids[0])
    # normalize_centroids: same driver-side floats the SQL oracle embeds
    flat = dlit_array([x for cen in normalize_centroids(centroids) for x in cen])
    didx = F.sequence(F.lit(0), F.lit(dim - 1))
    kidx = F.sequence(F.lit(0), F.lit(k - 1))

    v = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )

    if collapse is None:
        # probe the RAW vector frame, not the scored/checkpointed one:
        # a localCheckpoint plan carries a fresh RDD id, so its
        # semantic hash differs every invocation and the ratio memo
        # would never hit — each call would then pay the k-fold
        # scoring job twice (measured: 1.2 s → 3.2 s on the gate).
        # The raw select's plan hash is stable, and duplicate density
        # is a property of the vectors, not the scores.
        from dcafs_spark.operators.dedup import COLLAPSE_RATIO, approx_distinct_ratio

        probe_key = F.md5(F.to_json(F.struct(F.col("_v"))))
        collapse = approx_distinct_ratio(v, probe_key) < COLLAPSE_RATIO

    def score(j: Column) -> Column:
        # dot(v, centroid_j / |centroid_j|): |v| is a common positive
        # factor across j, so it cancels out of the argmax.
        d = F.aggregate(
            didx,
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(F.col("_v"), i + 1) * F.element_at(flat, j * dim + i + 1),
        )
        return F.round(d * 1e6).cast("long")

    scored = v.select(
        "_id",
        "_v",
        F.transform(kidx, score).alias("_scores"),
        l2_norm(F.col("_v")).alias("_norm"),
    ).select(
        "_id",
        "_v",
        "_norm",
        (F.array_position(F.col("_scores"), F.array_max("_scores")) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_max("_scores").alias("c_sim_micro"),
    )
    scored = checkpoint(scored)  # feeds both join sides + the output

    side = scored.filter(F.col("_norm") > 0.0)
    if cluster_cap is not None:
        # opt-in straggler guard, same contract as the band-join
        # bucket_cap / containment_pairs occupancy cap: a cluster
        # holding more than cluster_cap vectors skips the pair search
        # entirely (its members come back kept=true). Use when the
        # centroid set can't be trusted to bound occupancy — e.g.
        # fixed/random centroids on anisotropic data, where one hub
        # cluster turns the within-cluster join into a single
        # straggler task (SCALE.md: the fixed-k6 16x rung DNF'd on
        # exactly that). Sizing k to the occupancy target is the
        # primary fix (training helps only where measured to — see
        # the docstring); the cap is the backstop that keeps a bad
        # parameterization from wedging a 100 TB job.
        occ = side.groupBy("cluster").agg(F.count(F.lit(1)).alias("_occ"))
        side = (
            side.join(occ, "cluster")
            .filter(F.col("_occ") <= cluster_cap)
            .drop("_occ")
        )
    # Copy-flood guard, same contract as embedding_dedup_pairs /
    # minhash_lsh_pairs: bit-identical vectors (duplicate docs embed
    # identically) land in ONE cluster with equal c_sim, so a 10^6-copy
    # flood makes the within-cluster join quadratic no matter how k is
    # sized. Collapsed path: vectors roll up on a 16-byte content hash
    # (exact per-component decimal strings — distinct doubles never
    # merge), the pair join runs one row per DISTINCT content, and the
    # dominance rule factors exactly: every non-min member of a
    # multi-member group is dropped by the in-group (equal-c_sim,
    # lower-id) tie, and the min member g0 is dropped iff some OTHER
    # content Y in the cluster clears the threshold with
    # cs_Y < cs_X or (cs_Y == cs_X and min_id_Y < g0) — so rep-level
    # pairs with (cs, group-min-id) reproduce the per-member rule
    # row-identically. Auto mode probes duplicate density
    # (dedup.approx_distinct_ratio, perf-only decision).
    # null-preserving encoding (round-11 review): concat_ws silently
    # skips NULL array elements, so two vectors differing only in null
    # placement would hash identically and the collapse path could drop
    # one as a "bit-identical copy" while the direct path (cosine →
    # null → filtered) keeps both. to_json keeps nulls and element
    # boundaries unambiguous, so path-equivalence holds for
    # null-containing vectors too.
    chash = F.md5(F.to_json(F.struct(F.col("_v"))))
    if collapse and threshold <= 1.0:
        hashed = side.withColumn("_ch", chash).transform(checkpoint)
        grp = (
            hashed.groupBy("cluster", "_ch")
            .agg(
                F.min("_id").alias("_gmin"),
                F.count(F.lit(1)).alias("_gn"),
                F.first("_v").alias("_v"),  # copies are bit-identical
                F.first("_norm").alias("_nrm"),  # so are their norms
                F.first("c_sim_micro").alias("_cs"),
            )
            .transform(checkpoint)
        )
        ingroup = (
            hashed.join(
                grp.select("cluster", "_ch", "_gmin", "_gn"), ["cluster", "_ch"]
            )
            .filter((F.col("_gn") >= 2) & (F.col("_id") != F.col("_gmin")))
            .select("_id")
        )
        gl = grp.select(
            F.col("cluster").alias("_cl"),
            F.col("_ch").alias("_cha"),
            F.col("_v").alias("_va"),
            F.col("_nrm").alias("_na"),
            F.col("_cs").alias("_csa"),
            F.col("_gmin").alias("_gma"),
        )
        gr = grp.select(
            F.col("cluster").alias("_cl"),
            F.col("_ch").alias("_chb"),
            F.col("_v").alias("_vb"),
            F.col("_nrm").alias("_nb"),
            F.col("_cs").alias("_csb"),
            F.col("_gmin").alias("_gmb"),
        )
        crossdom = (
            gl.join(gr, "_cl")
            .filter(F.col("_cha") != F.col("_chb"))
            .filter(
                F.round(
                    dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                    6,
                )
                >= threshold
            )
            .filter(
                (F.col("_csb") < F.col("_csa"))
                | ((F.col("_csb") == F.col("_csa")) & (F.col("_gmb") < F.col("_gma")))
            )
            .select(F.col("_cl").alias("cluster"), F.col("_cha").alias("_ch"))
            .distinct()
        )
        crossdrop = hashed.join(crossdom, ["cluster", "_ch"], "left_semi").select("_id")
        dropped = ingroup.unionByName(crossdrop).distinct()
        return (
            scored.join(dropped.withColumn("_drop", F.lit(True)), "_id", "left")
            .select(
                F.col("_id").alias("vec_id"),
                "cluster",
                "c_sim_micro",
                F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
            )
        )
    left = side.select(
        F.col("cluster").alias("_cl"),
        F.col("_id").alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_norm").alias("_na"),
        F.col("c_sim_micro").alias("_csa"),
    )
    right = side.select(
        F.col("cluster").alias("_cl"),
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_norm").alias("_nb"),
        F.col("c_sim_micro").alias("_csb"),
    )
    # r14: the pair cosine reuses the PER-ROW norms `scored` already
    # carries — the former `cosine()` re-ran BOTH l2 folds per PAIR, so
    # each candidate pair paid three interpreted 64-element folds where
    # one suffices. Same floats, same fold order (dot unchanged; the
    # norm product is the identical l2(a)*l2(b) value).
    pair_cos = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    pairs = (
        left.join(right, "_cl")
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(pair_cos >= threshold)
    )
    # x (= _ida) is dominated when the neighbor sits closer to the
    # cluster fringe: lower c_sim, ties to the lower id.
    dropped = (
        pairs.filter(
            (F.col("_csb") < F.col("_csa"))
            | ((F.col("_csb") == F.col("_csa")) & (F.col("_idb") < F.col("_ida")))
        )
        .select(F.col("_ida").alias("_id"))
        .distinct()
    )
    return (
        scored.join(dropped.withColumn("_drop", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias("vec_id"),
            "cluster",
            "c_sim_micro",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )
