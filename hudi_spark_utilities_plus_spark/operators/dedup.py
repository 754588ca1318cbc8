"""Deduplication operators for LLM-data pipelines at 100 TB scale.

Four families, each a shuffle-bounded DataFrame program (no driver
collect, no cartesian products):

- **exact**: hash-groupBy on a SHA-256 fingerprint (32 bytes/doc through
  the shuffle instead of full bodies).
- **n-gram Jaccard**: inverted-index candidate join on shared shingles —
  pairs sharing no shingle are never materialized — then exact Jaccard
  verification on shingle sets.
- **MinHash + LSH**: k minhashes from a single 64-bit base hash
  (xxhash64) via independent affine rehashes; band signatures bucket the
  join so candidate generation is O(near-dup pairs), not O(n²); verified
  with exact Jaccard. The scale path: at 100 TB the inverted index on raw
  shingles skews on hot shingles, while band buckets stay balanced.
- **SimHash**: 64-bit signature via per-token hash bit-voting (JVM-side
  bit ops), Hamming-ball pairing via 4×16-bit band buckets.

Plus embedding near-dup pairing (cosine ≥ τ) in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize, materialize_counted
from .text import sha_fingerprint, ws_tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct text: canonical (min) id + copy count.
    Group key is the SHA-256 of the text, so the shuffle moves 32-byte
    keys; min/count are partial-aggregated map-side."""
    return (
        df.select(
            F.col(id_col), F.col(text_col), sha_fingerprint(F.col(text_col)).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (the min id) per distinct text value."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Documents shorter than n words get a
    single whole-text shingle so they still participate."""
    toks = ws_tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(grams)
    )


# scatter() decision memo, keyed by _scatter_key. Scan partitioning
# for a file source is a pure function of the file set, the plan over
# it, the split-size confs and the target parallelism, so one probe per
# key per session is enough: repeated calls over the same table skip the
# DataFrame→RDD conversion. The semantic hash keeps a repartitioned or
# post-shuffle DataFrame over the same file set from reusing the raw
# scan's decision. Bounded: cleared at _SCATTER_MEMO_MAX entries.
_SCATTER_MEMO: dict[tuple, bool] = {}
_SCATTER_MEMO_MAX = 256


def _scatter_key(df: DataFrame, target: int) -> tuple | None:
    """Memo key of ``scatter``'s partition-count probe, or None for a
    source that scans no files (nothing to key the decision on)."""
    try:
        files = df.inputFiles()
    except Exception:  # non-file source
        return None
    if not files:
        return None
    spark = df.sparkSession
    return (
        spark.sparkContext.applicationId,
        df.semanticHash(),  # analyzed-plan fingerprint, driver-side
        tuple(sorted(files)),
        spark.conf.get("spark.sql.files.maxPartitionBytes"),
        spark.conf.get("spark.sql.files.openCostInBytes"),
        target,
    )


def scatter(df: DataFrame, by: str | None = None) -> DataFrame:
    """Spread rows across the cluster before CPU-heavy per-row work.

    Small-file inputs (one parquet file → one scan partition) would
    otherwise serialize shingling/hashing on a single core; one cheap
    round-robin shuffle of the raw rows unlocks full parallelism. Gated
    on the input's partition count: a real lake scan already has
    thousands of partitions, and an unconditional repartition there would
    be a full extra shuffle of the corpus for nothing.

    ``by``: hash-partition on that column instead of round-robin. For a
    UNIQUE-id column the spread is just as even, the round-robin form's
    local pre-sort (``spark.sql.execution.sortBeforeRepartition``) is
    skipped, and — the real point — the partitioning is REUSABLE:
    every downstream groupBy/window whose keys include ``by`` (per-doc
    aggregates after an explode+broadcast-join chain, window top-k per
    doc) satisfies its clustering requirement from this one exchange
    instead of inserting another full shuffle of the derived rows,
    which at corpus scale are a multiple of the raw bytes (on
    contamination_check the post-join per-doc aggregation exchange
    disappears).

    Only wrap RAW-SCAN DataFrames (a file read, optionally projected/
    filtered): the partition-count probe converts the plan to an RDD, and
    doing that to a post-shuffle DataFrame under AQE can eagerly execute
    upstream stages. The probe result of a file source is memoized per
    ``_scatter_key``, so repeated calls over an unchanged key never touch
    ``.rdd``.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    key = _scatter_key(df, target)
    sparse = _SCATTER_MEMO.get(key)
    if sparse is None:
        sparse = df.rdd.getNumPartitions() < target
        if key is not None:
            if len(_SCATTER_MEMO) >= _SCATTER_MEMO_MAX:
                _SCATTER_MEMO.clear()
            _SCATTER_MEMO[key] = sparse
    if not sparse:
        return df
    return df.repartition(target, F.col(by)) if by else df.repartition(target)


def opaque(col: Column) -> Column:
    """Predicate-pushdown barrier around an EXPENSIVE projected expression.

    Catalyst's filter-inference rules (InferFiltersFromConstraints /
    InferFiltersFromGenerate) synthesize predicates like
    ``isnotnull(size(sh))`` from downstream filters and generates, then
    push them through the defining Project — re-inlining the full
    expression BELOW the scatter exchange. Plan-measured on
    contamination_check at sf0.1: the inferred filter re-evaluated the
    whole shingle program over every document in the single pre-scatter
    scan partition — 2.5 s of serial CPU, 63% of the query — while the
    32-way post-scatter stage computed it all again. At lake scale the
    same shape is a duplicated full-corpus pass on the narrow pre-shuffle
    side. Wrapping the projection in a CASE WHEN guarded by a
    NONDETERMINISTIC always-true predicate makes the Project
    non-pushable-through, so inferred filters stay above it and reference
    the column instead of its definition. ``spark_partition_id() >= 0``
    is used because it is always true by construction, costs nothing per
    row, and (unlike ``rand() >= -1``) survives Spark 4's expression
    bounds analysis, which constant-folds comparisons against rand's
    known [0,1) range. The guard never fires the NULL branch, so values
    are bit-identical; only plan shape changes (oracle-verified)."""
    return F.when(F.spark_partition_id() >= 0, col)


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    return scatter(df, by=id_col).select(
        F.col(id_col).alias("doc"),
        opaque(shingles(F.col(text_col), n)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dedup (inverted-index exact)
# ---------------------------------------------------------------------------


# Broadcast the verify side only while it plausibly fits in executor
# memory: ~1 KB/doc of hashed shingles → ~500 MB at this cap. Above it
# the verify join falls back to a shuffled (sort-merge/shuffled-hash)
# join on the item id, which ships each side row exactly once.
_BROADCAST_VERIFY_MAX_DOCS = 500_000


def _pair_sides(
    cand: DataFrame,
    side: DataFrame,
    key: str,
    cols: tuple[str, ...],
    n_items: int,
    broadcast_verify: bool | None,
) -> DataFrame:
    """The verify join of every pair operator: join the per-item ``side``
    table to the candidate pairs twice, on ``<key>_a`` and ``<key>_b``,
    carrying each of ``cols`` as ``<col>_a`` / ``<col>_b``. The caller
    adds only its own score and filter.

    Join strategy: candidates can outnumber items 50:1, and shipping
    KB-sized arrays through a shuffle per candidate dwarfs a map-side
    hash join, so ``side`` is broadcast while ``n_items`` ≤
    ``_BROADCAST_VERIFY_MAX_DOCS`` (read at call time). Above that cap
    the join shuffles on the key instead, each side row crossing the
    wire once: correct at any corpus size, never an executor OOM.
    ``broadcast_verify`` overrides the gate in either direction."""
    if broadcast_verify is None:
        broadcast_verify = n_items <= _BROADCAST_VERIFY_MAX_DOCS
    side = side.select(key, *cols)
    if broadcast_verify:
        side = F.broadcast(side)
    for s in ("a", "b"):
        cand = cand.join(
            side.select(*[F.col(c).alias(f"{c}_{s}") for c in (key, *cols)]),
            f"{key}_{s}",
        )
    return cand


def _verify_jaccard(
    cand: DataFrame,
    sets: DataFrame,
    threshold: float,
    n_docs: int,
    broadcast_verify: bool | None,
) -> DataFrame:
    """Keep the candidate (doc_a, doc_b) pairs whose shingle sets have
    exact Jaccard ≥ threshold.

    ``sets`` must carry (doc, shh: array<long> of distinct 64-bit shingle
    hashes, n_sh). Intersections run on 8-byte hashes instead of shingle
    strings — ~3× smaller broadcast and cheaper set ops; a 64-bit
    collision folding two shingles is ~5e-15 per doc, far below the
    driver-oracle's noise floor. Join strategy: ``_pair_sides``."""
    n_common = F.col("n_common")
    return (
        _pair_sides(cand, sets, "doc", ("shh", "n_sh"), n_docs, broadcast_verify)
        .withColumn("n_common", F.size(F.array_intersect("shh_a", "shh_b")))
        .withColumn(
            "jaccard",
            n_common.cast("double")
            / (F.col("n_sh_a") + F.col("n_sh_b") - n_common),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _lossless_prefix_len(size_col, num: int, den: int):
    """Integer-exact lossless prefix length ``n - ceil(num*n/den) + 1``
    for an overlap threshold of ``num/den`` (PPJoin's bound: a doc whose
    every qualifying partner shares >= ceil(num*n/den) shingles with it
    must post at least this many prefix shingles for the first common
    one to be indexed).

    The float form ``floor(n*(1 - num/den)) + 1`` is equal in exact
    arithmetic but NOT in IEEE double: ``1.0 - 0.8`` computes as
    0.19999999999999996, so at n=10 it yields floor(1.9999...)+1 = 2
    where losslessness needs 10 - ceil(8) + 1 = 3 — an exact-boundary
    pair (J = 0.8 with n_sh % 5 == 0) is then silently dropped, and
    frequency ordering makes the drop deterministic (the too-short
    prefix fills with the doc's rarest = unshared shingles).
    ``ceil(a/b) = floor((a+b-1)/b)`` with a = num*n + den - 1 well under
    2^53 keeps the double division correctly-rounded-exact. The product
    is computed in LONG: ``den`` can reach 1e6 (limit_denominator), and
    an int32 product would overflow at n_sh ≈ a few thousand — ANSI
    Spark throws, non-ANSI silently corrupts the bound."""
    need = F.floor(
        (size_col.cast("long") * F.lit(num) + F.lit(den - 1)) / F.lit(den)
    ).cast("int")
    return (size_col - need + F.lit(1)).cast("int")


def _rationalize_threshold(threshold: float) -> tuple[int, int]:
    """Recover the decimal rational a float threshold denotes (0.8 ->
    4/5) so filter bounds can be computed in exact integer arithmetic.
    Verify stages keep comparing in float — the oracle does too, and
    ``p/q >= lit(t)`` agrees for any pair at exactly the threshold
    (correctly rounded division of the same real) — only the LOSSLESS
    candidate filters need the rational form."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1_000_000)
    return fr.numerator, fr.denominator


def _jaccard_window(t_num: int, t_den: int) -> Column:
    """PPJoin length filter of a Jaccard threshold ``t_num/t_den`` over
    the ``x``/``y`` sides of a candidate self-join, lossless: J(a,b) ≥ τ
    forces τ·n_a ≤ n_b ≤ n_a/τ (the intersection alone is
    ≥ τ·max(n_a, n_b)), so size-mismatched collisions never reach the
    verify join. Integer-exact: the float form
    (n_sh * 0.8000000000000000444 > 8) rejected exact-boundary pairs."""
    nx = F.col("x.n_sh").cast("long")
    ny = F.col("y.n_sh").cast("long")
    return (ny * t_den >= nx * t_num) & (ny * t_num <= nx * t_den)


def _hashed_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, int]:
    """(sets, n_docs) for the prefix-filtered pair operators: each doc's
    sorted distinct shingle hashes ``shh`` with ``n_sh`` and their
    frequency-ordered ``shp``/``shc`` (``_freq_ordered``), materialized,
    plus the doc count that gates the verify broadcast."""
    base = (
        _shingled(df, text_col, id_col, n)
        .withColumn(
            "shh", F.array_sort(F.transform("sh", lambda x: F.xxhash64(x)))
        )
        # the raw shingle strings are only needed to compute shh; drop
        # them before persist so the cache holds 8-byte hash arrays, not
        # the ~3x-larger string arrays
        .drop("sh")
        .persist()
    )
    # The candidate join and the verify join both read the ordered
    # result: persist base so the ordering pass computes shingling once,
    # then MATERIALIZE (not persist) the shared frame — the returned
    # DataFrame still references it, so an in-function persist could
    # never be released and leaked one full shingle table per call (see
    # operators/materialize.py). The count is the materializing action:
    # one job.
    sets, n_docs = materialize_counted(_freq_ordered(base))
    base.unpersist()
    return sets, n_docs


def _prefix_candidates(
    s: DataFrame,
    t_num: int,
    t_den: int,
    prefix_den: int,
    window: Column,
    target,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) of an overlap join with
    threshold ``t_num/t_den``: the self-join of the docs' prefix postings
    (``_prefix_posts``) on the shingle, filtered losslessly.

    - Prefix: each doc posts its first ``n - ceil(t_num·n/prefix_den) + 1``
      shingles (``_lossless_prefix_len``), in frequency-ascending order
      (``shp``) when ``s`` carries it, else hash order (``shh``).
    - ``window``: the size-window predicate over ``x.n_sh``/``y.n_sh``.
    - Positional filter (PPJoin), integer-exact: both prefixes follow
      the same global token order, so a collision at 0-based positions
      (px, py) bounds the whole intersection by
      1 + min(n_x-px-1, n_y-py-1), which must reach
      ``t_num/t_den · target(n_x, n_y)`` (``target`` is ``F.greatest``
      or ``F.least``: the side the overlap is measured against). The
      FIRST common token
      (smallest positions → largest bound) always passes, so filtering
      each collision by its own bound never drops a true pair."""
    pref = "shp" if "shp" in s.columns else "shh"
    posts = _prefix_posts(s, _lossless_prefix_len(F.size(pref), t_num, prefix_den))
    nx, ny = F.col("x.n_sh"), F.col("y.n_sh")
    ubound = F.lit(1) + F.least(nx - F.col("x.pos") - 1, ny - F.col("y.pos") - 1)
    return (
        posts.alias("x")
        .join(posts.alias("y"), "shingle")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .filter(window)
        .filter(
            ubound.cast("long") * F.lit(t_den)
            >= target(nx, ny).cast("long") * F.lit(t_num)
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    broadcast_verify: bool | None = None,
) -> DataFrame:
    """All pairs (a < b) with Jaccard(shingles_a, shingles_b) ≥ threshold.

    Candidate generation uses **prefix filtering** (PPJoin-style): sort
    each doc's shingle hashes and index only its first
    ``n - ⌈τ·n⌉ + 1`` shingles — two docs with Jaccard ≥ τ MUST share
    at least one prefix shingle (otherwise their intersection is too
    small), so the candidate set is lossless while the inverted index
    shrinks ~(1-τ)× and hot-shingle fan-out collapses. Candidates are
    then verified with exact Jaccard on the full shingle sets.

    Scale: postings are 8-byte hashes; the only wide stages are the
    prefix join and the verify join — both shuffle-bounded, no O(n²).
    """
    s, n_docs = _hashed_sets(df, text_col, id_col, n)
    t_num, t_den = _rationalize_threshold(threshold)
    # Prefixes in frequency-ascending order (_freq_ordered): on the
    # 6x-amplified fixture this makes the filter EXACT — 8,508
    # candidates for 8,508 true pairs, vs 38,460 under hash order — so
    # the verify join does zero wasted intersections. Positional target:
    # J ≥ τ needs inter ≥ τ·union ≥ τ·max(n_a, n_b).
    cand = _prefix_candidates(
        s, t_num, t_den, t_den, _jaccard_window(t_num, t_den), F.greatest
    )
    return _verify_jaccard(cand, s, threshold, n_docs, broadcast_verify)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Affine rehash family over one xxhash64 base: h_i(x) = a_i * x + b_i
# (mod 2^64, Spark's native long overflow is the modulus). Constants are
# fixed odd multipliers — deterministic across runs and executors.
_MINHASH_K = 32
_LSH_ROWS = 2  # rows per band
_LSH_BANDS = _MINHASH_K // _LSH_ROWS  # 16 bands → P(miss | j=0.8) < 1e-7


# Affine family modulus: Mersenne prime 2^31-1. Base hashes and affine
# coefficients stay below 2^31, so a*h+b < 2^62 — no ANSI long overflow.
_MINHASH_P = 2**31 - 1


def _mix(i: int) -> int:
    """splitmix64-style scramble → deterministic coefficient in [1, P)."""
    x = (i * 0x9E3779B97F4A7C15) % (2**64)
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) % (2**64)
    x ^= x >> 31
    return x % (_MINHASH_P - 1) + 1


def _minhash_signature(sh_hashed: Column) -> Column:
    """Array of k minhashes from an array of bounded base shingle hashes.

    k independent ``array_min(transform(...))`` traversals, one per lane.
    Not a single fold with a length-k accumulator: that shape allocates
    two k-element arrays per shingle (the affine lane array + the
    zip_with result), and measured 2× slower at sf0.1 (1.48 s vs 0.73 s
    signatures-only). k plain traversals keep each lane's affine+min
    loop allocation-free inside whole-stage codegen — per-row cost is
    k·|sh| fused long ops, the shape that scales.
    """

    def _affine(a: int, b: int):
        # closure factory, not default-arg lambda: defaults would count as
        # extra lambda parameters to Spark's higher-order transform
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)

    def lane(i: int) -> Column:
        return F.array_min(
            F.transform(sh_hashed, _affine(_mix(2 * i + 1), _mix(2 * i + 2)))
        )

    return F.array(*[lane(i) for i in range(_MINHASH_K)])


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(doc, n_sh, sh_hashed, sig) — signature column is array<long>[k]."""
    s = _shingled(df, text_col, id_col, n)
    hashed = s.withColumn(
        "shh", F.transform("sh", lambda x: F.xxhash64(x))
    ).withColumn(
        "sh_hashed", F.transform("shh", lambda h: F.pmod(h, F.lit(_MINHASH_P)))
    )
    return hashed.withColumn("sig", _minhash_signature(F.col("sh_hashed")))


def _band_pairs(
    bands: DataFrame,
    key: str,
    on: Column | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct candidate pairs (``<key>_a`` < ``<key>_b``) of the banded
    LSH operators: the self-equi-join of ``bands`` (one row per item and
    band: ``key``, ``band``, ``bkey``) on (band, bkey), further restricted
    by ``on`` (a predicate over the ``x``/``y`` sides). Each column of
    ``carry`` rides along as ``<col>_a`` / ``<col>_b``. Pure equi-join:
    it shuffles on the band key, and the candidate volume tracks the
    bucket collisions, not n²."""
    cond = (
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bkey") == F.col("y.bkey"))
        & (F.col(f"x.{key}") < F.col(f"y.{key}"))
    )
    if on is not None:
        cond = cond & on
    return (
        bands.alias("x")
        .join(bands.alias("y"), cond)
        .select(
            *[
                F.col(f"{s}.{c}").alias(f"{c}_{t}")
                for c in (key, *carry)
                for s, t in (("x", "a"), ("y", "b"))
            ]
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    broadcast_verify: bool | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, exact-Jaccard verified.

    Pipeline: shingle → k=32 minhashes → 16 bands of 2 rows → explode
    band keys → self-join on (band, band-hash) → distinct candidate
    pairs → verify true Jaccard on the (distinct-)shingle sets via
    array_intersect. Verification makes the output exactly the ≥threshold
    pair set whenever banding recall holds (P(miss) < 1e-7 at τ=0.8),
    so the DuckDB brute-force oracle is the same relation.
    """
    # Signature computation feeds both sides of the band self-join and
    # the verify join — persist to compute shingles+signatures once.
    # Only doc/n_sh/shh/sig survive the select: the raw shingle-string
    # array and the mod-P intermediate would otherwise ~triple the
    # cached row (same drop-before-persist as _hashed_sets).
    sigs, n_docs = materialize_counted(
        minhash_signatures(df, text_col, id_col, n)
        .select("doc", "n_sh", "shh", "sig")
    )  # materialize (not persist — see _hashed_sets), fused with the
    # broadcast-gate count: one job
    t_num, t_den = _rationalize_threshold(threshold)
    bands = sigs.select(
        "doc",
        "n_sh",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at("sig", i * _LSH_ROWS + r + 1)
                            for r in range(_LSH_ROWS)
                        ]
                    )
                    for i in range(_LSH_BANDS)
                ]
            )
        ).alias("band", "bkey"),
    )
    # band collisions between size-mismatched docs can't reach τ
    cand = _band_pairs(bands, "doc", _jaccard_window(t_num, t_den))
    return _verify_jaccard(cand, sigs, threshold, n_docs, broadcast_verify)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text: Column) -> Column:
    """64-bit SimHash from whitespace tokens, fully JVM-side.

    For each bit j: sum over tokens of ±1 by bit j of xxhash64(token);
    bit set iff the vote is positive. ONE pass over the token array — a
    64-element vote-vector accumulator updated per token (zip_with) —
    instead of 64 separate folds: same signature bit-for-bit, ~64×
    less array traversal and a codegen tree that is O(1) aggregates
    instead of O(bits).
    """
    tok_hashes = F.transform(ws_tokens(text), lambda t: F.xxhash64(t))
    # single-bit masks for bits 0..63; bit 63 is the long's sign bit, so
    # its mask is MIN_LONG — bitwiseAND/bitwiseOR treat it uniformly
    masks = F.array(
        *[F.lit(1 << j) for j in range(63)], F.lit(-(2**63))
    )
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            ),
            lambda a, b: a + b,
        ),
    )
    # positive vote → that bit's mask; OR-fold packs the signature
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 6
) -> DataFrame:
    """Candidate pairs with Hamming distance ≤ max_hamming via 4×16-bit
    band buckets (pigeonhole: distance ≤ 6 < 4 bands ⇒ pairs at distance
    ≤6 share at least one intact 16-bit band... guaranteed only for
    distance ≤ 3; larger distances are best-effort recall, standard for
    SimHash banding). Distance verified exactly with bit_count."""
    sigs = scatter(df).select(
        F.col(id_col).alias("doc"), simhash(F.col(text_col)).alias("sim")
    )
    sigs = materialize(sigs)  # not persist — see _hashed_sets
    bands = sigs.select(
        "doc",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sim", 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "bkey"),
    )
    cand = _band_pairs(bands, "doc", carry=("sim",))
    dist = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# benchmark contamination (n-gram overlap against an eval set)
# ---------------------------------------------------------------------------


def benchmark_overlap(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_frac: float = 0.5,
) -> DataFrame:
    """Flag training documents whose n-gram shingles overlap a benchmark
    (eval-set) corpus — the decontamination step of LLM data curation:
    a doc sharing ``min_frac`` of its shingles with ANY benchmark text
    is a leak suspect and must be dropped before training.

    Returns (id_col, n_overlap, overlap_frac) for suspects only.

    Scale shape: the benchmark side collapses to its DISTINCT shingle
    hashes (eval sets are tiny — MB against the corpus's TB), broadcast
    to every executor; the corpus explodes to (doc, shingle-hash) rows
    and map-side hash-joins the broadcast set, then one partial-agg
    count per doc. No corpus self-join, no shuffle of shingle strings —
    only 8-byte hashes move, and only for matched grams. 64-bit shingle
    collisions (~5e-15/doc) are the same accepted noise floor as
    _verify_jaccard's.
    """
    sh = _shingled(df, text_col, id_col, n)
    # hash INSIDE the array, then explode: the Generate materializes
    # 8-byte longs instead of shingle strings — less row-buffer traffic
    # for every downstream operator
    hash_all = lambda c: F.transform(c, lambda g: F.xxhash64(g))  # noqa: E731
    bench_grams = (
        scatter(bench)
        .select(F.explode(hash_all(shingles(F.col(text_col), n))).alias("gh"))
        .distinct()
    )
    doc_grams = sh.select(
        "doc", "n_sh", F.explode(hash_all(F.col("sh"))).alias("gh")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gh")
        .groupBy("doc", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .withColumn("overlap_frac", F.col("n_overlap") / F.col("n_sh"))
        .filter(F.col("overlap_frac") >= min_frac)
        .select(
            F.col("doc").alias(id_col), "n_overlap", "overlap_frac"
        )
    )


def _prefix_posts(s: DataFrame, prefix_len) -> DataFrame:
    """Exploded prefix postings (doc, n_sh, pos, shingle) for the
    candidate self-joins, with the SINGLETON PRUNE: when ``s`` carries
    the aligned doc-frequency array ``shc`` (_freq_ordered), postings
    whose shingle occurs in exactly one document are dropped BEFORE the
    self-join exchange. Lossless for
    every prefix-collision candidate scheme: a candidate (a, b) exists
    only through a shingle BOTH docs contain, which forces its global
    doc-frequency ≥ 2 — a dfreq-1 posting can only ever join itself
    and is discarded by ``doc_a < doc_b``. ``pos`` keeps the ORIGINAL
    prefix position (the prune filters after posexplode), so the
    PPJoin positional bound is unchanged. Hash-ordered callers without
    ``shc`` get the plain explode."""
    if "shc" not in s.columns:
        pref = "shp" if "shp" in s.columns else "shh"
        return s.select(
            "doc",
            "n_sh",
            F.posexplode(F.slice(pref, 1, prefix_len)).alias("pos", "shingle"),
        )
    return (
        s.select(
            "doc",
            "n_sh",
            F.posexplode(
                F.arrays_zip(
                    F.slice("shp", 1, prefix_len).alias("h"),
                    F.slice("shc", 1, prefix_len).alias("c"),
                )
            ).alias("pos", "sc"),
        )
        .filter(F.col("sc.c") >= 2)
        .select("doc", "n_sh", "pos", F.col("sc.h").alias("shingle"))
    )


def _freq_ordered(s: DataFrame) -> DataFrame:
    """(doc, shp, shh, n_sh) with ``shp``: the doc's shingle hashes reordered by ASCENDING
    global document frequency (ties by hash) — PPJoin's canonical token
    order. The prefix-filter losslessness argument holds for ANY total
    order applied consistently to every doc; frequency-ascending puts
    the RAREST shingles in the prefix, so two unrelated docs almost
    never collide on a prefix posting (colliding on a shingle only ~2
    docs contain, instead of a stopword trigram half the corpus shares).
    Measured on the 6x-amplified 3k-doc fixture this cut containment
    candidates 3.4x (190,560 → 55,236 vs 8,508 true pairs) for one
    extra posting-volume aggregation; on natural text, whose shingle
    frequencies are far more skewed than this synthetic corpus, the
    reduction is larger (hot stopword shingles are exactly what the
    order evicts from prefixes).

    Scale: the df table is a groupBy on the 8-byte shingle hash (partial
    agg, shuffle bounded by distinct shingles); the re-order is one join
    on the hash + a per-doc collect — both posting-volume, the same
    magnitude the prefix join already shuffles. Hot shingles skew the
    join key; AQE skew-split handles it, and those are exactly the
    shingles the new order keeps OUT of prefixes."""
    # The df table is a combiner-safe groupBy on the shingle hash (map-
    # side partial agg collapses a hot shingle's postings BEFORE the
    # shuffle), then an equi-join back to the postings — broadcast by
    # AQE while the distinct-shingle table is small, sort-merge with AQE
    # skew-split beyond that. A window-over-h variant measured the same
    # speed at small scale but shuffles RAW postings keyed by h with no
    # partial agg: one stopword shingle in 10M docs becomes a single
    # unsplittable task at 100 TB, so the groupBy form is the one that
    # survives scale. Callers persist the shingled input first so its
    # subtree computes once.
    posts_all = s.select("doc", F.explode("shh").alias("h"))
    df_tab = posts_all.groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
    # Rebuild shh/n_sh FROM the ordered postings instead of joining back
    # to ``s``: shp carries exactly the doc's (distinct) shingle hashes,
    # so shh = array_sort(shp) and n_sh = size(shp) are value-identical
    # to the originals for every doc that has postings, and docs WITHOUT
    # postings (null text → null shh, dropped by the explode) were
    # dropped by the old inner join too. One fewer join = one fewer
    # exchange + query stage per near-dup operator (the per-stage cost,
    # not per-row compute, dominates these queries at bench scale, and at
    # 100 TB the removed exchange is a full postings shuffle).
    return (
        posts_all.join(df_tab, "h")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list(F.struct("dfreq", "h"))).alias("_p"))
        .select(
            "doc",
            F.transform("_p", lambda p: p["h"]).alias("shp"),
            # the aligned global doc-frequencies: prefix joins
            # prune postings whose shingle no OTHER doc contains
            # (dfreq == 1 ⇒ no partner can hold the shingle, in prefix
            # or anywhere) BEFORE the self-join exchange — the
            # zero-extra-join form of a bloom/semi-join pre-filter; on
            # natural corpora the frequency-ascending prefix is
            # dominated by exactly these singletons
            F.transform("_p", lambda p: p["dfreq"]).alias("shc"),
        )
        .withColumn("shh", F.array_sort("shp"))
        .withColumn("n_sh", F.size("shp"))
    )


def _containment_candidates(
    s: DataFrame, t_num: int, t_den: int, size_ratio: int
) -> DataFrame:
    """Candidate stage of ``containment_pairs`` (lossless prefix filter
    at the t/r effective threshold + size window), exposed separately so
    scale probes/tests can measure candidate volume directly: the bound
    under test is that candidates track TRUE pairs, not corpus².
    Prefixes are taken in frequency-ascending order (``shp``) when the
    caller provides it, else hash order (``shh``)."""
    # Effective overlap threshold for doc x is t/r of its own size (its
    # needed overlap is >= t*n_min >= (t/r)*n_x inside the size window);
    # the prefix length is computed integer-exactly — the float form
    # floor(n*(1 - t/(d*r))) + 1 loses 1 whenever the product rounds
    # down across an integer (e.g. t=9/10, r=2, n=20: 20*0.5499999...
    # -> floor 10, but losslessness needs 20 - ceil(9) + 1 = 12).
    # Positional target: containment needs inter·t_den ≥ t_num·n_min.
    nx, ny = F.col("x.n_sh"), F.col("y.n_sh")
    window = (nx <= F.lit(size_ratio) * ny) & (ny <= F.lit(size_ratio) * nx)
    return _prefix_candidates(
        s, t_num, t_den, t_den * size_ratio, window, F.least
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    *,
    t_num: int = 9,
    t_den: int = 10,
    size_ratio: int = 2,
    broadcast_verify: bool | None = None,
) -> DataFrame:
    """All pairs (a < b) with CONTAINMENT |sh_a ∩ sh_b| ≥ (t_num/t_den)
    · min(|sh_a|, |sh_b|), restricted to comparable sizes
    (max ≤ size_ratio · min) — the asymmetric dedup relation Jaccard
    misses: a boilerplate-padded copy of a smaller doc has low Jaccard
    (∩/∪ shrinks with the padding) but containment ≈ 1. The size window
    is part of the contract: it bounds the prefix-filter length so
    candidate generation stays lossless AND index-bounded (an unbounded
    containment join would have to post every shingle of arbitrarily
    large docs).

    Prefix filter: with overlap ≥ t·n_min and n ≤ r·n_min for both
    docs, each doc's needed overlap is ≥ (t/r)·n_self, so indexing its
    first n − ⌈(t/r)·n⌉ + 1 sorted shingle hashes is lossless (same
    argument as PPJoin's Jaccard prefix, with t/r as the effective
    threshold). The decision is integer-exact:
    inter·t_den ≥ t_num·n_min — no float boundary.

    Scale: same shape as ngram_jaccard_pairs — 8-byte hashed postings,
    prefix join + verify join, both shuffle-bounded, no O(n²)."""
    s, n_docs = _hashed_sets(df, text_col, id_col, n)
    cand = _containment_candidates(s, t_num, t_den, size_ratio)
    return (
        _pair_sides(cand, s, "doc", ("shh", "n_sh"), n_docs, broadcast_verify)
        .withColumn("inter", F.size(F.array_intersect("shh_a", "shh_b")))
        .withColumn("n_min", F.least("n_sh_a", "n_sh_b"))
        .filter(F.col("inter") * t_den >= F.lit(t_num) * F.col("n_min"))
        .select("doc_a", "doc_b", "inter", "n_min")
    )
