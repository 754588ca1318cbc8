"""Similarity search over embedding columns (array<float>), 100 TB design.

- **Brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the document side; dot products computed
  JVM-side via zip_with/aggregate folds in whole-stage codegen. One pass
  over the corpus, no shuffle of the corpus itself; the only shuffle is
  the per-query top-k. Norms are materialized once per side before the
  join (1 dot product per pair instead of 3).
- **Ball-cover similar-pairs** — cosine ≥ τ pairing with an EXACT
  candidate guarantee: deterministic k-means over L2-normalized vectors,
  per-cluster covering radii, and driver-side cluster-pair pruning via
  the triangle inequality (a qualifying pair's clusters must satisfy
  ‖c₁-c₂‖ ≤ r₁ + r₂ + √(2-2τ)). Candidates are the members of surviving
  cluster pairs — an equi-join on the cluster key — then exact cosine
  verifies. Unlike hyperplane banding, recall is 100% by construction at
  ANY τ (banding needs ~83 4-bit bands at τ=0.45, and its candidate set
  degenerates to all-pairs); pruning power tracks data clusteredness,
  which is the realistic shape of embedding corpora.
- **LSH-bucketed ANN** — the top-k scale path: random-hyperplane
  signatures (deterministic seeded projections) bucket both sides; only
  same-bucket (plus multiprobe-adjacent) pairs are scored.
- **IVF ANN** — inverted-file top-k via the same k-means machinery.

The top-k engines share one core: `_queries` / `_corpus` project the two
sides, `_rank_topk` scores and ranks the candidates, and the IVF engines
share `_ivf_train` / `_ivf_probes` / `_ivf_search`. Each engine keeps
only its own candidate generation.

All math is double-precision with a fixed left-fold order so results are
bit-identical to the DuckDB oracle's list_transform/list_sum pipeline.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints under
# `from __future__ import annotations` (hints become strings evaluated in
# module globals)
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _band_pairs, _pair_sides
from .materialize import materialize


def _scatter(df: DataFrame) -> DataFrame:
    """Round-robin the corpus before vector math — single-file inputs
    otherwise pin the whole scan (and all dot products) to one core."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product (deterministic association)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector has no direction — its cosine is
    # NULL under BOTH ANSI modes (plain `/` throws DIVIDE_BY_ZERO under
    # Spark 4's default ANSI, which would crash the whole job on one
    # degenerate vector instead of dropping the comparison)
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _sq_dist(a: Column, b: Column) -> Column:
    """Left-fold squared Euclidean distance."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _valid_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop rows whose vector is NULL or empty — they have no geometry,
    so no distance/cosine is defined for them. Without this a single
    NULL embedding reaches the k-means seed collect / radii aggregate as
    a NULL cluster and crashes the driver (sorted() on None), violating
    the must-not-crash contract the operators document."""
    return df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    )


def _first_width(df: DataFrame, vec_col: str) -> int | None:
    """Width of the first VALID vector, or None when there is none. A
    leading NULL/empty row must not decide (or crash) the probe:
    _valid_vecs drops such rows from the computation anyway."""
    row = (
        _valid_vecs(df, vec_col)
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return None if row is None else int(row["d"])


def _check_width(
    df: DataFrame,
    vec_col: str,
    dim: int,
    side: str = "query",
    ref: str = "corpus",
) -> None:
    """Width guard for the side that must match a known width (the query
    batch against the corpus, or a corpus against a codebook): a
    mismatched vector null-pads every zip_with projection, packs
    all-zero band keys, and returns garbage top-k with no error. Empty
    frames pass — the result is simply empty. Probes the caller's own
    frame and column, so the message names the column the caller
    passed."""
    width = _first_width(df, vec_col)
    if width is not None and width != dim:
        raise ValueError(
            f"{side} vector width {width} does not match the {ref} width "
            f"{dim} for column {vec_col!r}"
        )


def _check_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Resolve/validate the vector width. A wrong ``dim`` would fail
    SILENTLY: zip_with pads with nulls, every hyperplane dot goes null,
    all sign bits collapse to one bucket and the candidate equi-join
    degenerates to all-pairs. Fail loudly instead — but an EMPTY corpus
    with an explicit ``dim`` is fine (the result is simply empty; a
    filtered-out partition must not crash the caller)."""
    actual = _first_width(df, vec_col)
    if actual is None:
        if dim is not None:
            return dim
        raise ValueError(
            f"cannot infer dim: no rows with a valid vector in column "
            f"{vec_col!r}"
        )
    if dim is not None and dim != actual:
        raise ValueError(
            f"dim={dim} does not match the width of {vec_col!r} "
            f"(first row has {actual} elements)"
        )
    return actual


def _check_against_corpus(
    embeddings: DataFrame, queries: DataFrame, vec_col: str
) -> None:
    """Query width guard against the corpus's own width; an empty corpus
    has no width to compare, and its top-k is simply empty."""
    dim = _first_width(embeddings, vec_col)
    if dim is not None:
        _check_width(queries, vec_col, dim)


# ---------------------------------------------------------------------------
# shared top-k core: one projection per side, one cosine rank tail
# ---------------------------------------------------------------------------


def _queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Query side of every top-k engine: (query_id, q_vec, q_norm) over
    the valid query vectors, q_vec widened to double."""
    return (
        _valid_vecs(queries, vec_col)
        .select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("q_vec"),
        )
        .withColumn("q_norm", l2_norm(F.col("q_vec")))
    )


def _corpus(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Corpus side of every top-k engine: (neighbor_id, v, d_norm) over
    the valid corpus vectors, scattered so a single-file corpus does not
    pin every dot product to one core."""
    return (
        _scatter(_valid_vecs(embeddings, vec_col))
        .select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("d_norm", l2_norm(F.col("v")))
    )


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact cosine over (query, neighbor) candidates carrying both
    projections, then the per-query top-k. try_divide: a zero-norm
    vector has no direction, so its cosine is NULL (plain `/` throws
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode). Ranking ties
    break on neighbor id, so the order is deterministic."""
    scored = cand.withColumn(
        "cos_sim",
        F.try_divide(
            dot(F.col("q_vec"), F.col("v")),
            F.col("q_norm") * F.col("d_norm"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def _empty_topk(spark, query_id_type, neighbor_id_type) -> DataFrame:
    """Empty top-k result with the schema the non-empty path yields:
    query_id typed like the caller's id column and neighbor_id like the
    corpus's. A hardcoded long would type-skew unions and writers on
    exactly the empty-input edge."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    return spark.createDataFrame(
        [],
        StructType(
            [
                StructField("query_id", query_id_type),
                StructField("neighbor_id", neighbor_id_type),
                StructField("cos_sim", DoubleType()),
                StructField("rnk", IntegerType()),
            ]
        ),
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    ``queries`` is broadcast — the corpus is scanned once, never
    shuffled; ranking ties break on neighbor id for determinism. Each
    side's L2 norm is computed once BEFORE the join, so the per-pair
    work is one dot product (identical float result: sqrt(dot(v,v)) is
    the same value whether computed before or inside the join).
    """
    _check_against_corpus(embeddings, queries, vec_col)
    qs = _queries(queries, id_col, vec_col)
    cand = _corpus(embeddings, id_col, vec_col).join(
        F.broadcast(qs), F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_topk(cand, k)


# ---------------------------------------------------------------------------
# deterministic k-means (shared by ball-cover pairing and IVF ANN)
# ---------------------------------------------------------------------------


def _centroid_means_rows(assigned: DataFrame, vec_field: str) -> list:
    """Per-(cluster, position) element means as k × dim COLLECTED rows —
    metadata-scale (k clusters × vector dim). ``_kmeans`` assembles the
    ordered centroid arrays driver-side from these rows, so each Lloyd
    round is one Spark aggregation, not a second cluster-keyed
    collect_list/array_sort pass."""
    return (
        assigned.select("cluster", F.posexplode(vec_field).alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.avg("val").alias("m"))
        .collect()  # k × dim rows (metadata)
    )


def _assign_nearest(
    docs: DataFrame,
    vec_field: str,
    centroids: list[tuple[int, list[float]]],
    with_dist: bool = False,
) -> DataFrame:
    """``docs`` + a ``cluster`` column = argmin-distance centroid.

    Centroids travel as ONE VALUE, not an AST: ``from_json`` of a single
    string literal constant-folds to a lone ``array<array<double>>``
    Literal node, so the Catalyst tree is constant in k and dim (a k×dim
    literal tree costs seconds of analysis/codegen per distinct plan and
    gets re-analyzed by every downstream job). The plan stays strictly
    map-only — no join of any kind (a one-row crossJoin attach plans as
    BroadcastNestedLoopJoin, which the plan pins forbid; a constant-key
    equi-join gets constant-folded back into one). Ties resolve to the
    first (lowest-index) centroid via ``array_position`` —
    deterministic. (Earlier designs: a ``when(d<best,...)`` fold doubles
    the tree per centroid — 2^k — and OOMs the analyzer at k=16;
    per-centroid literal fold subtrees are linear but still dominate
    wall time at small scale.)

    Both projected columns are wrapped in ``opaque()`` (the pushdown
    barrier): the k×dim argmin tree must never become a
    Catalyst CONSTRAINT. Constraint propagation turns the alias into
    ``cluster = <argmin tree>``, localCheckpoint preserves it through
    the lineage cut (Spark keeps origin constraints on LogicalRDD), and
    InferFiltersFromConstraints then substitutes it across the
    candidate join's ``cluster == ca`` equality — producing a filter
    over the (ca, cb) pair list that references ``nv`` from the OTHER
    side, which fails task-side binding with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on the first (cold) execution
    (reproduced on Spark 4.1.2: a cold run of embedding_similar_pairs
    fails while a warm rerun passes). The nondeterministic guard
    suppresses the constraint; values are bit-identical (the guard is
    always true)."""
    import json as _json

    from .dedup import opaque

    cvecs = F.from_json(
        F.lit(_json.dumps([v for _, v in centroids])), "array<array<double>>"
    )
    cids = F.from_json(
        F.lit(_json.dumps([c for c, _ in centroids])), "array<int>"
    )
    dists = F.transform(cvecs, lambda c: _sq_dist(F.col(vec_field), c))
    out = docs.withColumn(
        "cluster",
        opaque(
            F.element_at(
                cids, F.array_position(dists, F.array_min(dists)).cast("int")
            )
        ),
    )
    if with_dist:
        # distance to the OWN centroid falls out of the argmin for free —
        # callers needing covering radii avoid a whole second plan that
        # re-evaluates the distance trees against a broadcast join
        out = out.withColumn("_cdist", opaque(F.sqrt(F.array_min(dists))))
    return out


def _kmeans(
    docs: DataFrame,
    vec_field: str,
    id_field: str,
    n_clusters: int,
    iters: int,
    with_dist: bool = False,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic k-means seeded from the k lowest-id vectors (a
    k-row ``limit`` collect — metadata-scale), then ``iters`` Lloyd
    rounds as DataFrame aggregations. Seeding from actual data points
    (not modulo-bucket means, which average across clusters and all
    collapse near the global mean) separates clustered data in a single
    round. Only k vectors ever reach the driver. Returns (docs +
    ``cluster`` column, final centroid list)."""
    cents: list[tuple[int, list[float]]] = [
        (i, list(r["_v"]))
        for i, r in enumerate(
            docs.select(F.col(id_field).alias("_id"), F.col(vec_field).alias("_v"))
            .orderBy("_id")
            .limit(n_clusters)
            .collect()  # k rows (metadata)
        )
    ]
    assigned = _assign_nearest(docs, vec_field, cents)
    rounds = max(1, iters)  # ≥1 Lloyd round so means are real
    for i in range(rounds):
        # driver-side array assembly over the k × dim mean rows
        # (_centroid_means_rows). Ordering note: cents order is the
        # tie-break order of _assign_nearest's argmin; sorting by
        # cluster id makes it deterministic across partition layouts
        # (the collect order is the final aggregate's hash-partition
        # order, which depends on the core count).
        by_c: dict[int, dict[int, float]] = {}
        for r in _centroid_means_rows(assigned, vec_field):
            by_c.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        cents = [
            (c, [pm[p] for p in sorted(pm)]) for c, pm in sorted(by_c.items())
        ]
        assigned = _assign_nearest(
            docs, vec_field, cents, with_dist=with_dist and i == rounds - 1
        )
    return assigned, cents


# ---------------------------------------------------------------------------
# ball-cover similar-pairs (exact-recall metric join)
# ---------------------------------------------------------------------------


# Auto-fallback gate for ball-cover degeneration (measured by a scale
# probe: on UNIFORM high-dim corpora the covering radii approach the
# full spread, the triangle bound prunes ~nothing, and the exact
# candidate set degenerates toward all-pairs — 800 M candidates at 40k
# vectors). When the driver-side pruning probe shows the surviving
# candidate volume is most of n²/2 AND τ is high enough for hyperplane
# banding to have selective bands (low τ, such as 0.45, needs so many
# bands that random pairs collide anyway), candidate generation
# switches to banded LSH: recall becomes probabilistic (~98% at the τ
# boundary by band-count choice) but candidate volume drops from O(n²)
# to near the true-pair volume, which is the only viable shape at scale.
_LSH_FB_FRACTION = 0.5  # engage when >50% of all pairs survive pruning
_LSH_FB_MIN_TAU = 0.7  # below this, banding itself degenerates — stay exact
_LSH_FB_BAND_BITS = 12  # 1/4096 random-pair collision per band


def _lsh_fallback_bands(threshold: float, band_bits: int) -> int:
    """Band count hitting ~98% recall AT the τ boundary (members above τ
    collide more often): p_plane = 1 − arccos(τ)/π, per-band match
    p_plane^bits, bands = ln(0.02)/ln(1 − p_band), capped at 64."""
    p_plane = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_band = max(p_plane**band_bits, 1e-12)
    if p_band >= 1.0:
        return 1
    return max(1, min(64, math.ceil(math.log(0.02) / math.log(1.0 - p_band))))


def _lsh_candidate_pairs(
    assigned: DataFrame, dim: int, n_bands: int, band_bits: int
) -> DataFrame:
    """Banded-LSH candidate pairs over the normalized vectors: explode
    per-band sign-packed keys (`_band_keys`, one numpy matmul per Arrow
    batch) into the band self-join `dedup._band_pairs`. Candidate volume
    tracks true-pair volume plus a 1/2^band_bits random-collision floor
    per band."""
    keys = assigned.select(
        "id",
        F.posexplode(_band_keys(F.col("nv"), dim, n_bands, band_bits)).alias(
            "band", "bkey"
        ),
    )
    return _band_pairs(keys, "id")


def similar_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    kmeans_iters: int = 1,
    candidates_only: bool = False,
    broadcast_verify: bool | None = None,
    lsh_fallback: bool | None = None,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding near-dedup.

    Exact metric join via a ball cover. On L2-normalized vectors,
    cosine(a,b) ≥ τ  ⟺  ‖â - b̂‖ ≤ d_max = √(2-2τ). Each vector joins
    its nearest of k deterministic k-means centroids; the covering
    radius r_c = max member distance per cluster is a k-row aggregate.
    For any qualifying pair in clusters (c₁, c₂) the triangle inequality
    forces ‖cent₁-cent₂‖ ≤ r₁ + r₂ + d_max, so pruning the k² cluster
    pairs against that bound DRIVER-SIDE (metadata-scale) loses nothing:
    **recall is 100% by construction at any τ**, including the low-τ
    regime (such as τ=0.45) where hyperplane banding needs so many
    bands that random pairs collide anyway. Exact cosine then verifies
    each candidate.

    Plan shape: candidate generation is a broadcast equi-join of the
    (id, cluster) table against the surviving (ca, cb) pair list, then a
    hash join back on the cluster key — no nested loop, no cartesian.
    The cluster key is low-cardinality, so at 100 TB the per-cluster-pair
    work is AQE's skew-split problem (or raise n_clusters: pruning power
    and balance both improve with k, at k extra driver-side floats).
    Candidate volume is Σ |c₁|·|c₂| over surviving pairs — on clustered
    corpora (the realistic embedding shape) that is ≪ n²/2, and the
    pruning is test-pinned on a clustered fixture; on adversarially
    uniform data every cluster pair survives, which is the information-
    theoretic floor for an exact join at low τ, not an artifact.

    ``candidates_only=True`` returns the unverified (id_a, id_b)
    candidate set — the knob the cardinality tests measure.

    **Degeneration fallback** (``lsh_fallback``: None = auto): the
    driver-side pruning probe already knows, before launching any
    candidate join, exactly how many of the n·(n−1)/2 pairs survive
    (Σ |c₁|·|c₂| over surviving cluster pairs — cluster sizes rode along
    with the radii collect). When that fraction exceeds 0.5 and τ is
    high enough for banding to be selective (≥ 0.7), candidate generation switches to banded hyperplane
    LSH (`_lsh_candidate_pairs`): recall becomes ~98% at the τ boundary
    instead of exact, but candidate volume drops from O(n²) to near the
    true-pair volume — the only viable shape for uniform corpora at
    scale. Every emitted pair is still exact-cosine-verified ≥ τ
    (precision stays 1.0). ``lsh_fallback=True/False`` forces/disables.
    """
    spark = embeddings.sparkSession
    d_max = math.sqrt(max(0.0, 2.0 - 2.0 * threshold))
    side = (
        _scatter(_valid_vecs(embeddings, vec_col))
        .select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .withColumn("norm", l2_norm(F.col("v")))
        # zero vectors have no direction: leave them unnormalized; their
        # cosine is NULL and the verify filter drops them, matching the
        # oracle's NULL comparison semantics
        .withColumn(
            "nv",
            F.when(
                F.col("norm") > 0,
                F.transform("v", lambda x: x / F.col("norm")),
            ).otherwise(F.col("v")),
        )
        .persist()
    )
    # lazy cache fill: the k-means seed/means jobs populate it as they
    # scan — an eager count() here is a whole extra pass over the corpus
    # (and at real scale, a full-materialization barrier) for nothing
    assigned, cents = _kmeans(
        side, "nv", "id", n_clusters, kmeans_iters, with_dist=True
    )
    # materialize the assignment: the nearest-centroid expression is a
    # large (k × dim literals) codegen unit, and the radii job plus BOTH
    # sides of the candidate join would otherwise re-analyze and
    # re-execute it. materialize, not persist — the returned frame
    # references assigned, so an in-function persist could never be
    # released (operators/materialize.py). LAZY form: the radii
    # aggregate below is a full-partition scan, so IT is the
    # materializing action — one job where an eager form would pay a
    # dedicated materialization pass plus the radii scan.
    assigned = materialize(assigned, eager=False)

    # covering radii from the _cdist the argmin already produced — a
    # plain k-row aggregate, and the action that fills assigned's cache
    # (reading side's cache, filled by the k-means means job); member
    # counts ride along so the verify-broadcast gate costs no extra job
    radii_rows = (
        assigned.groupBy("cluster")
        .agg(F.max("_cdist").alias("r"), F.count(F.lit(1)).alias("n"))
        .collect()  # k rows (metadata)
    )
    radii = {r["cluster"]: r["r"] for r in radii_rows}
    n_docs = sum(r["n"] for r in radii_rows)
    # assigned ⊇ side (id, v, norm, nv + cluster): everything downstream
    # — candidate join, verify — reads assigned's cache, so side's can
    # drop now instead of leaking for the session lifetime
    side.unpersist()
    # driver-side cluster-pair pruning over k² metadata pairs —
    # numpy-vectorized (BLAS gram matrix, k×k doubles) so k can grow to
    # thousands: pruning power on fine-grained corpora comes from k
    # tracking the number of natural modes, and a pure-Python k² loop
    # was the scale ceiling (k=2000 → 4M × dim ops ≈ minutes; this is
    # milliseconds). Squared-form comparison with a 1+1e-12 slack keeps
    # the bound conservative under float reassociation — never prunes a
    # pair the exact math would keep.
    live = sorted(radii)  # clusters that ended up with members
    counts = {r["cluster"]: r["n"] for r in radii_rows}
    pairs: list[tuple[int, int]] = []
    surviving_fraction = 0.0
    dim = 0
    if live:  # an empty/filtered-out corpus must not crash the caller
        cent_map = dict(cents)
        dim = len(cent_map[live[0]])
        C = np.asarray([cent_map[c] for c in live], dtype=np.float64)
        R = np.asarray([radii[c] for c in live], dtype=np.float64)
        sq = np.einsum("ij,ij->i", C, C)
        cd2 = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (C @ C.T), 0.0)
        # relative slack covers reassociation; the absolute 1e-9 term
        # covers cancellation error of the a²+b²−2ab form when the
        # bound itself is tiny (near-zero radii at very high τ) — both
        # only ever ADMIT borderline pairs, keeping the bound
        # conservative: recall stays 100% by construction
        bound = (R[:, None] + R[None, :] + d_max) ** 2 * (1.0 + 1e-12) + 1e-9
        keep = cd2 <= bound
        # surviving pairs via one vectorized nonzero on the upper
        # triangle (incl. diagonal) — the Python loop below runs only
        # over SURVIVORS (output-sized), not the k² grid; a full k² loop
        # with per-element numpy indexing was the same driver-side scale
        # ceiling the gram-matrix vectorization above removed
        iu_k, ju_k = np.nonzero(np.triu(keep))
        for i, j in zip(iu_k.tolist(), ju_k.tolist()):
            c1, c2 = live[i], live[j]
            pairs.append((c1, c2))
            if c1 != c2:
                pairs.append((c2, c1))  # both directions: a<b may sit either way
        # pruning-rate probe (metadata-scale): candidate volume the
        # surviving cluster pairs imply, as a fraction of n·(n−1)/2
        Nv = np.asarray([counts[c] for c in live], dtype=np.float64)
        iu, ju = np.triu_indices(len(live), 1)
        vol = float((Nv[iu] * Nv[ju] * keep[iu, ju]).sum()) + float(
            (Nv * (Nv - 1.0) / 2.0 * np.diag(keep)).sum()
        )
        total_pairs = n_docs * (n_docs - 1) / 2.0
        surviving_fraction = vol / total_pairs if total_pairs > 0 else 0.0

    if lsh_fallback is None:
        lsh_fallback = (
            threshold >= _LSH_FB_MIN_TAU
            and surviving_fraction >= _LSH_FB_FRACTION
        )

    # dim == 0 ⇔ empty corpus: no vectors to band — the ball-cover path
    # below handles it (empty pair list → empty result) even when the
    # caller forced lsh_fallback=True
    if lsh_fallback and dim > 0:
        n_bands = _lsh_fallback_bands(threshold, _LSH_FB_BAND_BITS)
        cand = _lsh_candidate_pairs(assigned, dim, n_bands, _LSH_FB_BAND_BITS)
    else:
        pair_df = F.broadcast(spark.createDataFrame(pairs, "ca INT, cb INT"))
        ids = assigned.select("id", "cluster")
        cand = (
            ids.alias("a")
            .join(pair_df, F.col("a.cluster") == F.col("ca"))
            .join(
                ids.alias("b"),
                (F.col("b.cluster") == F.col("cb"))
                & (F.col("a.id") < F.col("b.id")),
            )
            # each unordered pair matches exactly one (ca, cb) direction —
            # no distinct needed
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
    if candidates_only:
        return cand
    # verify join and its broadcast gate: dedup._pair_sides (the count
    # came free with the radii collect). Norms ride along from the
    # cached assignment — one dot product per candidate.
    return (
        _pair_sides(cand, assigned, "id", ("v", "norm"), n_docs, broadcast_verify)
        .withColumn(
            "cos_sim",
            # try_divide: NULL (→ dropped by the filter) on zero-norm
            # vectors under both ANSI modes, as the comment at the nv
            # normalization promises — plain `/` throws under Spark 4's
            # default ANSI instead
            F.try_divide(
                dot(F.col("v_a"), F.col("v_b")),
                F.col("norm_a") * F.col("norm_b"),
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Per-vector scalar quantization to ``[0, levels-1]`` ints (uint8
    storage at levels=256) — 4× smaller vectors through every downstream
    shuffle/scan, the standard first move before ANN at 100 TB.

    ``q_i = floor((x_i - vmin) / (vmax - vmin) * (levels-1))``, with the
    max element mapping exactly to ``levels-1``. Constant vectors (span
    0) quantize to all-zeros instead of dividing by zero (ANSI mode
    throws on x/0). Dequantization params (vmin, scale) ride along per
    row. floor (not round) keeps the math engine-agnostic — HALF_UP vs
    banker's rounding never enters. Narrow per-row transform, no
    shuffle."""
    if levels < 2:
        raise ValueError(
            f"levels must be >= 2 (levels-1 is the quantization "
            f"denominator); got {levels}"
        )
    v = as_double(F.col(vec_col))
    vmin, vmax = F.array_min(v), F.array_max(v)
    span = vmax - vmin
    q = F.when(
        span > 0,
        F.transform(
            v, lambda x: F.floor((x - vmin) / span * (levels - 1)).cast("int")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return embeddings.select(
        F.col(id_col),
        vmin.alias("vmin"),
        (span / (levels - 1)).alias("scale"),
        q.alias("q"),
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: splitmix64-style
    integer scramble of (plane, i) mapped to [-1, 1). No RNG state, no
    numpy — reproducible on any executor."""
    out = []
    for i in range(dim):
        x = (plane * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) % (2**64)
        x ^= x >> 30
        x = (x * 0x94D049BB133111EB) % (2**64)
        x ^= x >> 31
        out.append((x / 2**63) - 1.0)
    return out


def _band_keys_spec(
    vec: Column, dim: int, n_bands: int, band_bits: int, seed: int = 1
) -> Column:
    """Column-fold EXECUTABLE SPEC of the band-key computation, kept
    ONLY as the differential-test anchor
    for the vectorized `_band_keys` (the two must pack identical keys;
    tests/test_llm_ops.py pins equality per row per band). Do NOT route
    hot paths through this: Catalyst higher-order functions are
    CodegenFallback (never compiled), and this shape nests
    ``n_bands * band_bits`` folds per row against a per-row literal
    plane matrix — the ANN scale probe measured ~520 µs/vector
    (267.6 s for the signature stage alone at 512k vectors), which made
    LSH ~30× SLOWER than brute force at the scale it exists to beat."""
    planes = F.array(
        *[
            F.array(*[F.lit(w) for w in _hyperplane(dim, seed * 10007 + p + 1)])
            for p in range(n_bands * band_bits)
        ]
    )
    bits = F.transform(
        planes,
        lambda pl: F.when(dot(vec, pl) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda i: F.aggregate(
            F.slice(bits, i * band_bits + 1, band_bits),
            F.lit(0).cast("long"),
            lambda acc, bb: acc * 2 + bb,
        ),
    )


def _band_keys(
    vec: Column, dim: int, n_bands: int, band_bits: int, seed: int = 1
) -> Column:
    """array<long>[n_bands] of hyperplane-sign band keys, Arrow-vectorized.

    Computes ``n_bands * band_bits`` deterministic hyperplane projections
    and packs each consecutive ``band_bits`` sign bits into one long key
    (first bit of the band is the most significant — same packing as
    `_band_keys_spec`). Two vectors land in the same (band, key) bucket
    iff they agree on all of that band's sign bits — the equi-joinable
    LSH bucket unit.

    The projections run as ONE numpy/BLAS matmul per Arrow batch —
    ``(N, dim) @ (dim, n_bands·band_bits)`` → sign bits → packed longs —
    because the Column-fold form (`_band_keys_spec`) is interpreted per
    plane per row: the ANN scale probe clocked it at ~520 µs/vector
    (267.6 s signature stage at 512k vectors) vs 2.8 s for this matmul,
    a 96× gap that made `ann_topk_lsh` unusable at corpus scale despite
    recall 1.000. Same deterministic `_hyperplane` planes, so keys are
    reproducible on any executor; sign agreement between the BLAS sum
    and the spec's left-fold sum is pinned by a per-row differential
    test (a flip would need a projection within rounding error of 0).

    Caller contract: ``vec`` must be a non-null array<double>
    of width ``dim`` (`_valid_vecs` + `_check_dim`/`_check_width`
    enforce this on every call path; a ragged batch raises here rather
    than packing garbage keys)."""
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.asarray(
        [
            _hyperplane(dim, seed * 10007 + p + 1)
            for p in range(n_bands * band_bits)
        ],
        dtype=np.float64,
    ).T  # [dim, n_bands*band_bits]
    pows = 2 ** np.arange(band_bits - 1, -1, -1, dtype=np.int64)

    @pandas_udf("array<long>")
    def _keys_np(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.asarray(list(vecs), dtype=np.float64)  # [n, dim]
        bits = (M @ planes > 0).astype(np.int64)  # [n, bands*bits]
        packed = bits.reshape(len(M), n_bands, band_bits) @ pows  # [n, bands]
        return pd.Series(list(packed))

    return _keys_np(vec)


def lsh_signature(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Random-hyperplane sign signature packed into a long."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = _hyperplane(dim, p + 1)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(w) for w in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0))
    return sig


def ann_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int | None = None,
    k: int = 5,
    band_bits: int | None = None,
    n_bands: int = 16,
    multiprobe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via banded hyperplane LSH with multiprobe.

    Candidate generation is an **equi-join on exploded (band, key)
    buckets** — the corpus side emits its n_bands keys, the query side
    additionally enumerates every key within ``multiprobe_bits`` bit
    flips (multiprobe = querying adjacent buckets without re-hashing the
    corpus). No nested-loop signature comparison: the join is a plain
    hash join on (band, key), so the corpus is bucket-partitioned at
    100 TB and only colliding buckets are scored. Per-neighbor recall
    ≈ 1 - (1 - p^b - b·p^(b-1)(1-p))^L, with p the per-plane agreement
    probability of the neighbor's cosine; defaults tuned so measured
    recall vs brute force ≥ 0.8 on the near-random test embeddings
    (clustered real-world embeddings do far better at the same cost).

    ``dim`` defaults to the corpus vector width; an explicit mismatch
    raises (a silent mismatch would null every projection and collapse
    all buckets into one — all-pairs in disguise).

    ``band_bits=None`` (the default) SCALES WITH THE CORPUS:
    ``clamp(ceil(log2(n / 16)), 6, 20)`` — expected random-collision
    bucket occupancy stays ~16 rows, so candidate volume tracks the
    true-neighbor volume instead of the corpus. A static band width is
    the quiet 100 TB failure mode: 6-bit keys (keyspace 64) that prune
    fine at the 2k bench corpus collide on essentially EVERY pair at
    512k vectors — a re-measure clocked defaults-at-512k at
    95.6 s (≈ brute force with extra steps) vs 2.5 s with width keyed
    to the corpus, recall 1.000 both. Costs one corpus count() when
    left to auto; pass an explicit width to skip it (e.g. when the
    caller amortizes signatures across query batches)."""
    dim = _check_dim(embeddings, vec_col, dim)
    _check_width(queries, vec_col, dim)
    if band_bits is None:
        n = _valid_vecs(embeddings, vec_col).count()
        band_bits = min(20, max(6, math.ceil(math.log2(max(n, 2) / 16))))
    docs = _corpus(embeddings, id_col, vec_col).withColumn(
        "bk", _band_keys(F.col("v"), dim, n_bands, band_bits)
    )
    dbands = docs.select(
        "neighbor_id", "v", "d_norm", F.posexplode("bk").alias("band", "bkey")
    )
    qs = _queries(queries, id_col, vec_col).withColumn(
        "bk", _band_keys(F.col("q_vec"), dim, n_bands, band_bits)
    )
    # enumerate multiprobe keys: the key itself + every key within
    # ``multiprobe_bits`` bit flips (deterministic, query-side only) —
    # C(band_bits, m) masks per flip count m, e.g. 1+6+15 probes at
    # band_bits=6, multiprobe_bits=2
    import itertools

    probe_keys = [F.col("bkey0")]
    for m in range(1, min(max(multiprobe_bits, 0), band_bits) + 1):
        for combo in itertools.combinations(range(band_bits), m):
            mask = 0
            for j in combo:
                mask |= 1 << j
            probe_keys.append(F.col("bkey0").bitwiseXOR(F.lit(mask)))
    qbands = (
        qs.select(
            "query_id", "q_vec", "q_norm",
            F.posexplode("bk").alias("band", "bkey0"),
        )
        .withColumn("bkey", F.explode(F.array(*probe_keys)))
        .drop("bkey0")
    )
    cand = (
        dbands.join(
            F.broadcast(qbands),
            (dbands["band"] == qbands["band"])
            & (dbands["bkey"] == qbands["bkey"])
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "q_vec", "q_norm", "neighbor_id", "v", "d_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(cand, k)


# ---------------------------------------------------------------------------
# IVF-bucketed ANN (inverted-file index, the other scale path)
# ---------------------------------------------------------------------------


def _ivf_train(
    embeddings: DataFrame,
    n_clusters: int,
    kmeans_iters: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame, list[tuple[int, list[float]]]]:
    """Train an IVF index in-session: the materialized corpus projection,
    then deterministic k-means over it. Returns (corpus, corpus +
    ``cluster``, centroids). materialize, not persist: the k-means loop
    scans the corpus several times AND the caller's result reads it, so
    an in-function persist could never be released — one cached corpus
    per call (operators/materialize.py)."""
    docs = materialize(_corpus(embeddings, id_col, vec_col))
    assigned, cents = _kmeans(docs, "v", "neighbor_id", n_clusters, kmeans_iters)
    return docs, assigned, cents


def _ivf_probes(qs: DataFrame, cents: list, n_probe: int) -> DataFrame:
    """Each query's n_probe nearest centroids by squared distance, ties
    on the lower cluster id: a broadcast centroid crossjoin plus a
    per-query window. ``cents`` is [(cluster, centroid)] — driver
    metadata, k rows."""
    cent_df = qs.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in cents],
        "cluster INT, centroid ARRAY<DOUBLE>",
    )
    qd = qs.crossJoin(F.broadcast(cent_df)).withColumn(
        "dist", _sq_dist(F.col("q_vec"), F.col("centroid"))
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cluster")
    return (
        qd.withColumn("prnk", F.row_number().over(wq))
        .filter(F.col("prnk") <= n_probe)
        .select("query_id", "q_vec", "q_norm", "cluster")
    )


def _ivf_search(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Score only the probed clusters' members: ``assigned`` (neighbor_id,
    v, d_norm, cluster) joins the broadcast probe list on the cluster
    key, then the shared rank tail."""
    cand = assigned.join(
        F.broadcast(probes),
        (assigned["cluster"] == probes["cluster"])
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    return _rank_topk(cand, k)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 3,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an inverted-file (IVF) index.

    Train: deterministic k-means seeded from the k lowest-id data
    vectors (see _kmeans) + a few Lloyd iterations, all as DataFrame
    aggregations — only the k centroid vectors (metadata) ever reach
    the driver. Search: each query probes its n_probe nearest clusters;
    only those clusters' vectors are scored. This is the one-shot form
    of `build_ivf_index` + `ivf_index_topk`: the same training, kept
    in-session instead of persisted, and the same search half.
    """
    _check_against_corpus(embeddings, queries, vec_col)
    _, assigned, cents = _ivf_train(
        embeddings, n_clusters, kmeans_iters, id_col, vec_col
    )
    probes = _ivf_probes(_queries(queries, id_col, vec_col), cents, n_probe)
    return _ivf_search(assigned, probes, k)


# ---------------------------------------------------------------------------
# persisted IVF index (train once, query many — the amortization path)
# ---------------------------------------------------------------------------


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 8,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train and PERSIST an IVF index at ``path``: deterministic k-means
    over the corpus (the same `_ivf_train` as `ivf_topk`), then the
    assigned corpus — id, double vector, precomputed norm — written as
    parquet **hive-partitioned by cluster**, with the k centroids in a
    ``_centroids.json`` sidecar (k·dim floats — driver metadata).

    This is the amortization path the one-shot `ivf_topk` cannot offer:
    the ANN scale probe measured k-means training DOMINATING its
    512k-vector wall (29.6 s vs 17.8 s brute) — a cost that is pure
    waste when the same corpus serves many query batches. Here training
    is paid once at build; every `ivf_index_topk` afterwards probes
    n_probe clusters per query and the cluster directory layout turns
    probing into **static partition pruning** — only the probed
    clusters' files are ever opened (test-pinned via inputFiles). At
    100 TB the cluster column is exactly the lake partition key.

    Returns ``{"n_clusters", "dim", "rows"}``. Raises on an empty or
    all-invalid corpus (an index over nothing is a caller bug, not an
    empty result)."""
    import json
    import os as _os

    docs, assigned, cents = _ivf_train(
        embeddings, n_clusters, kmeans_iters, id_col, vec_col
    )
    first = docs.select(F.size("v").alias("d")).first()
    if first is None:
        raise ValueError("cannot build an IVF index over an empty corpus")
    dim = int(first["d"])
    (
        assigned.select("neighbor_id", "v", "d_norm", "cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path.rstrip('/')}/data")
    )
    rows = docs.count()
    meta = {
        "n_clusters": len(cents),
        "dim": dim,
        "rows": rows,
        "centroids": [[cid, cvec] for cid, cvec in cents],
    }
    _os.makedirs(path, exist_ok=True)
    # Publish the sidecar ATOMICALLY (tmp + os.replace), and only
    # now — after the parquet data write above succeeded. A crash
    # mid-dump must leave either no sidecar (index clearly absent,
    # rebuild starts clean) or a complete one; an in-place json.dump
    # could strand a TRUNCATED file that fails every later
    # ivf_index_topk with an opaque JSON decode error and poisons
    # rebuilds over the same path.
    final = f"{path.rstrip('/')}/_centroids.json"
    tmp = f"{final}.tmp.{_os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
        fh.flush()
        _os.fsync(fh.fileno())
    _os.replace(tmp, final)
    return {"n_clusters": len(cents), "dim": dim, "rows": rows}


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a PERSISTED IVF index (`build_ivf_index`).

    The k centroids load driver-side from the sidecar (metadata); the
    probe selection and the search are `ivf_topk`'s own (`_ivf_probes`,
    `_ivf_search`). The union of probed clusters across the query batch
    is collected (≤ n_clusters ints) and applied as a STATIC ``cluster
    IN (...)`` filter on the hive-partitioned index read, so Spark's
    partition pruning opens only the probed clusters' files — no
    training job, no full-corpus scan. Scoring and ranking match
    `ivf_topk` exactly (same tie order), so recall characteristics are
    identical for the same (n_clusters, n_probe)."""
    import json

    with open(f"{path.rstrip('/')}/_centroids.json") as fh:
        meta = json.load(fh)
    _check_width(queries, vec_col, int(meta["dim"]))
    probes = materialize(
        _ivf_probes(_queries(queries, id_col, vec_col), meta["centroids"], n_probe)
    )
    probed = sorted(
        r["cluster"] for r in probes.select("cluster").distinct().collect()
    )  # ≤ n_clusters ints — metadata
    data = f"{path.rstrip('/')}/data"
    if not probed:
        return _empty_topk(
            spark,
            queries.schema[id_col].dataType,
            spark.read.parquet(data).schema["neighbor_id"].dataType,
        )
    idx = spark.read.parquet(data).filter(F.col("cluster").isin(probed))
    return _ivf_search(idx, probes, k)


# ---------------------------------------------------------------------------
# product quantization (PQ): codebook → codes → ADC shortlist + exact rerank
# ---------------------------------------------------------------------------


def build_pq_codebook(
    embeddings: DataFrame,
    m: int = 8,
    bits: int = 4,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train a product-quantization codebook: split the vector into
    ``m`` contiguous subspaces of ``dim/m`` dims and run the SAME
    deterministic `_kmeans` per subspace (2^``bits`` centroids
    requested; tiny corpora may yield fewer — the dense per-subspace
    centroid LIST is the code alphabet either way). ``m`` sequential
    k-means passes over sliced columns; only m · 2^bits small centroid
    vectors ever reach the driver.

    Returns ``{"m", "bits", "dim", "dsub", "codebooks"}`` where
    ``codebooks[i]`` is the dense centroid list for subspace i. At
    100 TB this is a train-once artifact (persist the dict as JSON
    next to the encoded corpus, the `_centroids.json` pattern)."""
    docs = _scatter(_valid_vecs(embeddings, vec_col)).select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v")
    )
    first = docs.select(F.size("_v").alias("d")).first()
    if first is None or first["d"] is None:
        raise ValueError("cannot train a PQ codebook on an empty corpus")
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    docs = materialize(docs)
    codebooks = []
    for i in range(m):
        sub = docs.select(
            "_id", F.slice(F.col("_v"), i * dsub + 1, dsub).alias("_s")
        )
        _, cents = _kmeans(sub, "_s", "_id", 2**bits, kmeans_iters)
        codebooks.append(
            [[float(x) for x in vec] for _, vec in sorted(cents)]
        )
    return {
        "m": m,
        "bits": bits,
        "dim": dim,
        "dsub": dsub,
        "codebooks": codebooks,
    }


def pq_encode(
    embeddings: DataFrame,
    codebook: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus against a trained codebook: (neighbor_id,
    codes array<int>, d_norm). One Arrow pass computes every
    subspace's argmin via numpy (batch × centroid distance matrices);
    ``d_norm`` is the EXACT JVM-side L2 norm, kept so downstream
    cosine scoring only approximates the dot product, never the norm.
    8-bit-ish codes per subspace replace dim doubles — the 100 TB
    storage story (64-dim float64 → m small ints + one double)."""
    from pyspark.sql.pandas.functions import pandas_udf

    m, dsub = codebook["m"], codebook["dsub"]
    cents = [
        np.asarray(cb, dtype=np.float64) for cb in codebook["codebooks"]
    ]

    @pandas_udf("array<int>")
    def _codes_np(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.asarray(list(vecs), dtype=np.float64)  # [n, dim]
        out = np.empty((len(M), m), dtype=np.int32)
        for i in range(m):
            S = M[:, i * dsub : (i + 1) * dsub]  # [n, dsub]
            # ||s - c||^2 argmin == (||c||^2 - 2 s·c) argmin
            d2 = (cents[i] ** 2).sum(axis=1)[None, :] - 2.0 * (
                S @ cents[i].T
            )
            out[:, i] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    _check_width(
        embeddings, vec_col, codebook["dim"], side="corpus", ref="codebook"
    )
    return _corpus(embeddings, id_col, vec_col).select(
        "neighbor_id", _codes_np(F.col("v")).alias("codes"), "d_norm"
    )


def _pq_shortlist_driver(
    encoded: DataFrame, qrows: list, codebook: dict, shortlist: int
) -> DataFrame:
    """Broadcast-query ADC shortlist (the small-batch path): per-query
    lookup tables are built DRIVER-side from the collected query batch
    and shipped in the UDF closure — one table-gather pass over the
    encoded corpus, `cosine_topk_bruteforce`'s broadcast-query shape."""
    from pyspark.sql.pandas.functions import pandas_udf

    m, dsub = codebook["m"], codebook["dsub"]
    q_ids = [r["query_id"] for r in qrows]
    cents = [
        np.asarray(cb, dtype=np.float64) for cb in codebook["codebooks"]
    ]
    # per-query ADC tables: T[q][i][c] = q_sub_i · centroid_c — the dot
    # product decomposes over subspaces, so score = sum of m lookups
    tables = []
    for r in qrows:
        qv = np.asarray(r["q_vec"], dtype=np.float64)
        tables.append(
            [qv[i * dsub : (i + 1) * dsub] @ cents[i].T for i in range(m)]
        )

    @pandas_udf("array<double>")
    def _adc_np(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        C = np.asarray(list(codes), dtype=np.int64)  # [n, m]
        out = np.zeros((len(C), len(tables)), dtype=np.float64)
        for qi, tab in enumerate(tables):
            s = np.zeros(len(C), dtype=np.float64)
            for i in range(m):
                s += tab[i][C[:, i]]
            out[:, qi] = s
        return pd.Series(list(out))

    scored = encoded.select(
        "neighbor_id",
        "d_norm",
        F.posexplode(_adc_np(F.col("codes"))).alias("qi", "adc"),
    )
    q_id_df = F.array(*[F.lit(q) for q in q_ids])
    cand = scored.select(
        q_id_df[F.col("qi")].alias("query_id"),
        "neighbor_id",
        # approximate cosine: ADC dot over the EXACT norms — ranking
        # only; the rerank in pq_topk replaces it with the true cosine
        F.try_divide(F.col("adc"), F.col("d_norm")).alias("adc_cos"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("srnk", F.row_number().over(ws))
        .filter(F.col("srnk") <= shortlist)
        .select("query_id", "neighbor_id")
    )


def _pq_shortlist_blocked(
    encoded: DataFrame,
    qs: DataFrame,
    codebook: dict,
    shortlist: int,
    q_block_rows: int = 4096,
    c_block_rows: int = 65536,
) -> DataFrame:
    """Executor-side ADC shortlist for BULK query batches — no driver
    collect anywhere, so the query set can itself be corpus-sized.

    Block nested-loop over (corpus-block × query-block) cells via a
    cogrouped ``applyInPandas``: both sides get a block id (pmod of
    xxhash64 — no global sort, no monotonic-id materialization) and are
    replicated across the OTHER side's block range by a broadcast
    crossjoin of the tiny block-id ranges. Each cogroup cell builds the
    ADC tables for ITS query chunk from the broadcast-size codebook in
    the UDF closure (the same subspace matmul as the driver path, just
    computed on the executor) and emits a per-cell top-``shortlist``
    per query, selected over *non-self* candidates with the exact
    (-adc, neighbor_id) tie order; a global per-query window over the
    ≤ c_blocks·shortlist survivors then yields the same shortlist set
    the single-window driver path would (global top-s of a union is
    contained in the union of per-cell top-s).

    Scale accounting at 100 TB: shuffle volume is n_corpus·q_blocks
    code rows (m small ints + a norm each — the 100×-smaller encoded
    form, never the raw vectors) plus n_q·c_blocks query vectors;
    per-task memory is one corpus chunk (≤ c_block_rows codes) plus
    one query chunk (≤ q_block_rows vectors), scored in ≤256-query
    tiles so the [chunk × tile] score matrix stays ~130 MB; cell count
    c_blocks·q_blocks gives the scheduler uniform work units. Zero-norm
    corpus rows score -inf (ranked last — the driver path's NULL-last
    ordering) rather than dividing by zero.

    Engine-parity scope: ADC here is a tiled gemm
    (Qt @ cents[i].T) where the driver engine runs per-query gemv —
    BLAS builds may differ in the last ulp, so driver/blocked equality
    is exact wherever per-cell shortlists COVER the global one
    (shortlist ≥ corpus, the tested regime) and otherwise agrees up to
    shortlist membership at an ulp-tied cut; the exact-cosine rerank
    re-scores every surviving candidate identically either way."""
    import math

    spark = qs.sparkSession
    m, dsub = codebook["m"], codebook["dsub"]
    cents = [
        np.asarray(cb, dtype=np.float64) for cb in codebook["codebooks"]
    ]
    enc = materialize(encoded.select("neighbor_id", "codes", "d_norm"))
    n_enc = enc.count()  # cheap: counts the materialized blocks
    n_q = qs.count()
    if n_enc == 0 or n_q == 0:
        return (
            qs.select("query_id")
            .join(enc.select("neighbor_id"), F.lit(False))
            .select("query_id", "neighbor_id")
        )
    c_blocks = max(1, math.ceil(n_enc / c_block_rows))
    q_blocks = max(1, math.ceil(n_q / q_block_rows))
    encb = enc.withColumn(
        "cblk", F.pmod(F.xxhash64("neighbor_id"), F.lit(c_blocks)).cast("int")
    )
    qsb = qs.select("query_id", "q_vec").withColumn(
        "qblk", F.pmod(F.xxhash64("query_id"), F.lit(q_blocks)).cast("int")
    )
    qrange = spark.range(q_blocks).select(F.col("id").cast("int").alias("qblk"))
    crange = spark.range(c_blocks).select(F.col("id").cast("int").alias("cblk"))
    enc_rep = encb.crossJoin(F.broadcast(qrange))  # corpus × every q-block
    qs_rep = qsb.crossJoin(F.broadcast(crange))  # queries × every c-block

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("query_id", qs.schema["query_id"].dataType),
            StructField("neighbor_id", enc.schema["neighbor_id"].dataType),
            StructField("adc_cos", DoubleType()),
        ]
    )
    s_n = int(shortlist)
    q_tile = 256

    def _score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left: corpus chunk (neighbor_id, codes, d_norm), right: query
        # chunk (query_id, q_vec) — one (cblk, qblk) cell
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "adc_cos"])
        C = np.asarray(list(left["codes"]), dtype=np.int64)  # [n, m]
        dn = left["d_norm"].to_numpy(dtype=np.float64)
        nid = left["neighbor_id"].to_numpy()
        Q = np.asarray(list(right["q_vec"]), dtype=np.float64)  # [q, dim]
        qid = right["query_id"].to_numpy()
        pos = dn > 0.0
        # accumulate RAW index/value arrays and build ONE DataFrame per
        # cell at the end — a per-query DataFrame here would mean
        # q_block_rows tiny frame constructions + a giant concat per
        # cell, which profiling showed dominating the cell wall
        sel_parts, q_parts, a_parts = [], [], []
        for t0 in range(0, len(Q), q_tile):
            Qt = Q[t0 : t0 + q_tile]
            # accumulate in [tile, n] orientation: the gather
            # T[:, C[:, i]] is ALREADY that shape, so each subspace
            # adds contiguously (no strided transposed-view add), and
            # each query's score vector below is a contiguous row
            S = np.zeros((len(Qt), len(C)), dtype=np.float64)
            for i in range(m):
                # ADC tables for this tile, executor-side: [tile, n_cents]
                T = Qt[:, i * dsub : (i + 1) * dsub] @ cents[i].T
                S += T[:, C[:, i]]  # gather per corpus row -> [tile, n]
            A = np.where(pos[None, :], S / np.where(pos, dn, 1.0)[None, :], -np.inf)
            for j in range(len(Qt)):
                col = A[j]
                # top-(s+1) then drop the self row: the top-s of the
                # non-self candidates survives exactly. argpartition
                # breaks VALUE ties arbitrarily, so the boundary tie
                # group is widened to ALL rows at the cut value before
                # the (-adc, neighbor_id) lexsort — otherwise two runs
                # (or the two engines) could keep different members of
                # a tied group and the containment argument breaks on
                # exactly the duplicate-heavy corpora dedup exists for
                take = min(s_n + 1, len(col))
                if take < len(col):
                    part = np.argpartition(-col, take - 1)[:take]
                    v = col[part].min()
                    part = np.union1d(
                        part[col[part] > v], np.flatnonzero(col == v)
                    )
                else:
                    part = np.arange(len(col))
                order = np.lexsort((nid[part], -col[part]))
                sel = part[order]
                sel = sel[nid[sel] != qid[t0 + j]][:s_n]
                sel_parts.append(sel)
                q_parts.append(np.repeat(qid[t0 + j], len(sel)))
                a_parts.append(col[sel])
        if not sel_parts:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "adc_cos"])
        sel_all = np.concatenate(sel_parts)
        return pd.DataFrame(
            {
                "query_id": np.concatenate(q_parts),
                "neighbor_id": nid[sel_all],
                "adc_cos": np.concatenate(a_parts),
            }
        )

    cand = (
        enc_rep.groupBy("cblk", "qblk")
        .cogroup(qs_rep.groupBy("cblk", "qblk"))
        .applyInPandas(_score, schema=out_schema)
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("srnk", F.row_number().over(ws))
        .filter(F.col("srnk") <= s_n)
        .select("query_id", "neighbor_id")
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    bits: int = 4,
    shortlist: int = 100,
    codebook: dict | None = None,
    encoded: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_query_limit: int = 8192,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric-distance shortlisting plus
    EXACT cosine rerank — the standard two-stage: ADC (per-query
    lookup tables over the code alphabet, a table-gather per corpus
    row instead of a dim-wide dot) proposes ``shortlist`` candidates
    per query; the true vectors of only those candidates are fetched
    (a keyed semi-shape join) and rescored with the exact cosine, so
    returned cos_sim values and tie order match brute force wherever
    the shortlist contains the true neighbors.

    Precondition: corpus ``id_col`` values are UNIQUE (the normal ANN
    contract). The per-cell self-exclusion budgets exactly one self row
    per query; duplicate corpus ids sharing a query's id would shave
    that cell's candidate margin relative to the driver engine's global
    window (documented rather than widened: every caller feeds unique
    ids, and widening the take per cell for a contract violation would
    tax the universal case).

    ``driver_query_limit`` picks the shortlist engine. At or below it
    (a query BATCH, not a second corpus — the ceiling is the one knob
    to tune if driver memory differs), the batch is collected and
    broadcast into the scoring UDF, `cosine_topk_bruteforce`'s
    contract. ABOVE it, nothing is ever collected: the blocked
    cogroup path (`_pq_shortlist_blocked`) computes the same ADC
    tables executor-side per (corpus-block × query-block) cell, so
    million-query batches carry no driver ceiling; ≤ 0 forces the
    blocked path outright. Both engines feed the same exact-rerank
    tail and agree on the result wherever per-cell shortlists cover
    the global one (always, when ``shortlist`` ≥ the corpus size).
    Bulk query sets that re-run against ONE long-lived corpus are
    still better served by `ann_topk_ivf_index` — its partition-pruned
    reads skip the full-corpus scan this path always pays.
    Pass ``codebook``/``encoded`` to reuse train-once artifacts;
    omitted, both are built from the corpus (the one-shot form)."""
    if codebook is None:
        codebook = build_pq_codebook(
            embeddings, m=m, bits=bits, id_col=id_col, vec_col=vec_col
        )
    if encoded is None:
        encoded = pq_encode(embeddings, codebook, id_col, vec_col)
    qs = _queries(queries, id_col, vec_col)
    _check_width(queries, vec_col, codebook["dim"])
    qrows = None
    if driver_query_limit > 0:
        # Size probe as a limited COUNT, not a collect: a
        # limit(N+1).collect() would ship up to N+1 full query VECTORS
        # to the driver only to discard them whenever the batch turns
        # out bulk — at high dim a ~100 MB driver pull thrown away
        # before the blocked engine re-executes the same plan anyway.
        # The count ships one long; only a CONFIRMED-small batch (≤ N
        # rows, metadata-scale by definition) is collected — and that
        # collect is itself LIMIT-bounded: if qs is unstable between the
        # two evaluations the pull still cannot exceed N+1 rows, and an
        # over-limit re-evaluation falls through to the blocked engine
        # instead of trusting the stale count. Deliberate trade: the
        # small path pays 2 jobs (count + collect), so the bulk path
        # never ships vectors it will discard.
        probe_n = qs.limit(driver_query_limit + 1).count()
        if probe_n <= driver_query_limit:
            qrows = (
                qs.select("query_id", "q_vec")
                .limit(driver_query_limit + 1)
                .collect()
            )
            if len(qrows) > driver_query_limit:
                qrows = None  # unstable probe — use the blocked engine
    if qrows is not None and not qrows:
        return _empty_topk(
            qs.sparkSession,
            queries.schema[id_col].dataType,
            encoded.schema["neighbor_id"].dataType,
        )
    if qrows is not None:
        short = _pq_shortlist_driver(encoded, qrows, codebook, shortlist)
    else:
        short = _pq_shortlist_blocked(encoded, qs, codebook, shortlist)
    # exact rerank: fetch true vectors for shortlist rows only
    fetched = short.join(_corpus(embeddings, id_col, vec_col), "neighbor_id")
    # the query side is broadcast only when it IS the small side — on
    # the bulk path a forced broadcast of a corpus-sized query set
    # would be the driver ceiling all over again; AQE picks the join
    q_side = F.broadcast(qs) if qrows is not None else qs
    return _rank_topk(fetched.join(q_side, "query_id"), k)
