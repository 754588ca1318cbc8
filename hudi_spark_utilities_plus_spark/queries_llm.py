"""LLM-data-pipeline query registrations (dedup / similarity / text /
multimodal) over the ``documents`` and ``embeddings`` fixtures.

Oracle strategy: every operator whose semantics are deterministic
relational/scalar math gets a DuckDB brute-force oracle (the LSH/banded
implementations are *verified* against exact Jaccard/cosine, so their
output relation equals the brute-force one whenever recall holds — recall
shortfall probability < 1e-7 at the configured thresholds). Engine-
specific signatures (SimHash values, LSH probing) are rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import load_tables
from .operators import dedup as D
from .operators.dedup import scatter
from .operators import multimodal as M
from .operators import similarity as S
from .operators import spans as SP
from .operators import text as T
from .queries import query


def _t(spark, sf_dir, *names):
    return load_tables(spark, sf_dir, list(names), register=False)


# ---------------------------------------------------------------------------
# exact dedup + fingerprints
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup groups: hash-groupBy on SHA-256(text) — 32-byte keys
    through the shuffle, map-side partial agg."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return D.exact_dedup_groups(d, "text", "doc_id")


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           sha256(text) AS sha_fp,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT)),
             (acc, x) -> (acc * {T.ROLLING_BASE} + x) % {T.ROLLING_MOD}
           ) AS rolling_fp
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: SHA-256 + Karp-Rabin rolling hash, both
    computed inside codegen (F.sha2 / F.aggregate fold)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return d.select(
        "doc_id",
        T.sha_fingerprint(F.col("text")).alias("sha_fp"),
        T.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "token_counts",
    oracle=rf"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{T.BPE_TOKEN_RE}')) AS n_bpe_tokens
    FROM documents
    """,
)
def token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regexp pre-tokenizer."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return d.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        T.token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
    )


@query(
    "quality_model_score",
    # Portability-proof oracle (the r6 red row was oracle drift, not a
    # wrong answer): no lambda syntax (DuckDB's `->` lambdas are
    # version-sensitive — unnest + GROUP BY instead), no ascii() (UTF-16
    # vs codepoint engines disagree on astral first chars — the bucket
    # hash uses only length + strlen, identical everywhere), and an
    # integer-only checkable contract (score_ppm via non-negative
    # integer division, so no double ever reaches the value hash).
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS tok
      FROM documents
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_toks,
             CAST(sum(
               ((31 * length(tok) + 17 * strlen(tok)) % 64 * 2654435761) % 997
                 - 498
             ) AS BIGINT) AS raw
      FROM toks
      GROUP BY doc_id
    )
    SELECT doc_id,
           raw,
           n_toks,
           CAST(((raw + 498 * n_toks) * 1000000) // (996 * n_toks) AS BIGINT)
             AS score_ppm,
           raw >= 0 AS keep
    FROM agg
    """,
)
def quality_model_score(spark, sf_dir):
    """Model-based quality scoring: a hashed-feature linear classifier
    (fasttext-style) as a pure Column program — integer bucket weights
    summed exactly per doc, integer-scaled ppm score, keep/drop flag at
    the decision boundary. Map-only; scores in the scan stage at any
    scale (operators/text.quality_model_score)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    s = T.quality_model_score(F.col("text"))
    return d.select(
        "doc_id",
        s["raw"].alias("raw"),
        s["n_toks"].alias("n_toks"),
        s["score_ppm"].alias("score_ppm"),
        (s["raw"] >= 0).alias("keep"),
    )


@query(
    "text_quality",
    oracle=r"""
    SELECT doc_id,
           length(text) AS n_chars_m,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
           length(text) / len(regexp_split_to_array(trim(text), '\s+')) AS avg_word_len,
           len(regexp_extract_all(text, '[.!?,;:]')) / length(text) AS punct_ratio,
           ((length(' ' || lower(text) || ' ')
             - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5)
             / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring facets: length/punct/stopword ratios (single
    double divisions over exact integer counts — bit-stable)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    feats = T.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars_m"),
        feats["n_words"].alias("n_words"),
        feats["avg_word_len"].alias("avg_word_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )


def _lang_oracle() -> str:
    def occ(m):
        return (
            f"((length(' ' || lower(text) || ' ') - "
            f"length(replace(' ' || lower(text) || ' ', '{m}', ''))) / {len(m)})"
        )

    scores = {
        lang: " + ".join(occ(m) for m in ms) for lang, ms in T.LANG_MARKERS.items()
    }
    langs = list(T.LANG_MARKERS)
    expr = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        conds = " AND ".join(
            f"({scores[lang]}) >= ({scores[o]})" for o in langs if o != lang
        )
        expr = f"CASE WHEN {conds} THEN '{lang}' ELSE {expr} END"
    return f"SELECT doc_id, lang, {expr} AS pred_lang FROM documents"


@query("lang_id", oracle=_lang_oracle())
def lang_id(spark, sf_dir):
    """Language-ID heuristic: argmax of per-language stopword hits
    (n-gram/marker counting, pure string ops in codegen)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return d.select("doc_id", "lang", T.lang_id(F.col("text")).alias("pred_lang"))


# ---------------------------------------------------------------------------
# near-dedup: n-gram Jaccard (inverted index) and MinHash-LSH
# ---------------------------------------------------------------------------

_SHINGLE_CTE = r"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3
                  THEN [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')]
                  ELSE list_distinct([
                    array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
                    for i in range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1)
                  ])
             END AS sh
      FROM documents
    )
"""

_JACCARD_ORACLE = (
    _SHINGLE_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
"""
)


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram-Jaccard near-dup pairs (τ=0.8) via inverted-index
    candidate join — no O(n²) stage; oracle is DuckDB brute force."""
    d = _t(spark, sf_dir, "documents")["documents"]
    return D.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.8)


@query("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32)+LSH(16×2) banded candidates, exact-Jaccard verified —
    the 100 TB near-dedup path. Verified output equals the brute-force
    ≥0.8 pair set (banding miss probability < 1e-7 at τ=0.8), so it
    shares the exact-Jaccard oracle."""
    d = _t(spark, sf_dir, "documents")["documents"]
    return D.minhash_lsh_pairs(d, "text", "doc_id", n=3, threshold=0.8)


# shared CTEs for the substring-dedup family — the DuckDB mirror of
# operators/spans.py (both engines' substr is char-indexed, so no ASCII
# guard is needed). _GRID_CTE is the ONE definition of the grid
# (L=64/s=32 shingles, sha256 keys); every substring oracle builds on
# it so a grid change can never leave the family grading against
# different grids.
_GRID_CTE = """
    WITH d AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE length(text) >= 64
    ), sh AS (
      SELECT doc_id,
             CAST(UNNEST(generate_series(0, n - 64, 32)) AS BIGINT) AS pos,
             text
      FROM d
    ), sp AS (
      SELECT doc_id, pos, sha256(substr(text, pos + 1, 64)) AS k FROM sh
    )"""

# cross-doc (>= 2 distinct docs) duplicates merged per doc into maximal
# regions by running-max island detection
_SPAN_ISLANDS_CTE = _GRID_CTE + """
    , dup AS (
      SELECT k FROM sp GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT doc_id, pos, pos + 64 AS e
      FROM sp WHERE k IN (SELECT k FROM dup)
    ), isl AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ), g AS (
      SELECT doc_id, pos, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM isl
    ), spans AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(e) AS span_end,
             COUNT(*) AS n_shingles
      FROM g GROUP BY doc_id, grp
    )
"""


@query(
    "dedup_substring_spans",
    oracle=_SPAN_ISLANDS_CTE
    + """
    SELECT doc_id, span_start, span_end, n_shingles FROM spans
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Exact substring dedup, detection half (Lee et al. 2022 by way of
    a shuffle-bounded shingle join instead of a suffix array): maximal
    per-doc regions covered by length-64 grid shingles (stride 32)
    whose SHA-256 key occurs in >= 2 distinct documents. Exact oracle:
    DuckDB recomputes the same grid, distinct-doc counts, and island
    merge relationally.

    Scale: the scatter hash-partitions on doc_id (operators/dedup.py),
    so the per-doc island-merge window reuses the one exchange of the
    raw docs (explode + broadcast semi-join preserve partitioning)
    instead of re-shuffling the exploded shingle rows (r17)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"], by="doc_id")
    return SP.duplicated_spans(
        d, "text", "doc_id", span_len=64, stride=32, min_docs=2
    )


@query(
    "dedup_substring_coverage",
    oracle=_SPAN_ISLANDS_CTE
    + """
    , cov AS (
      SELECT doc_id,
             CAST(SUM(span_end - span_start) AS BIGINT) AS dup_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d0.doc_id,
           CAST(length(d0.text) AS BIGINT) AS doc_len,
           COALESCE(cov.dup_chars, 0) AS dup_chars,
           (2 * COALESCE(cov.dup_chars, 0)
              <= CAST(length(d0.text) AS BIGINT)) AS keep
    FROM documents d0 LEFT JOIN cov USING (doc_id)
    """,
)
def dedup_substring_coverage(spark, sf_dir):
    """Exact substring dedup, filter half: per-doc duplicated-char
    budget from the merged regions plus the integer-exact majority
    verdict (drop only when MORE than half duplicated: 2*dup_chars >
    doc_len; exactly-half and empty docs keep). Every document rows
    out — short and clean docs carry dup_chars = 0, keep = true."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"], by="doc_id")
    return SP.substring_dup_coverage(
        d, "text", "doc_id", span_len=64, stride=32, min_docs=2
    )


@query(
    "dedup_substring_strip",
    oracle=_GRID_CTE
    + """
    , meta AS (
      SELECT k, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS owner
      FROM sp GROUP BY k
    ), hits AS (
      SELECT sp.doc_id, sp.pos, sp.pos + 64 AS e
      FROM sp JOIN meta USING (k)
      WHERE meta.nd >= 2 AND sp.doc_id <> meta.owner
    ), isl AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ), g AS (
      SELECT doc_id, pos, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM isl
    ), cuts AS (
      SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
      FROM g GROUP BY doc_id, grp
    ), cut2 AS (
      SELECT c.doc_id, d0.text, c.s, c.e,
             COALESCE(LAG(c.e) OVER (
               PARTITION BY c.doc_id ORDER BY c.s), 0) AS prev_e
      FROM cuts c JOIN documents d0 USING (doc_id)
    ), recon AS (
      SELECT doc_id,
             string_agg(substr(text, CAST(prev_e + 1 AS BIGINT),
                               CAST(s - prev_e AS BIGINT)),
                        '' ORDER BY s)
               || substr(MIN(text), CAST(MAX(e) + 1 AS BIGINT))
               AS cleaned_text,
             CAST(SUM(e - s) AS BIGINT) AS removed_chars
      FROM cut2 GROUP BY doc_id
    )
    SELECT d0.doc_id,
           COALESCE(r.cleaned_text, d0.text) AS cleaned_text,
           COALESCE(r.removed_chars, 0) AS removed_chars
    FROM documents d0 LEFT JOIN recon r USING (doc_id)
    """,
)
def dedup_substring_strip(spark, sf_dir):
    """Exact substring dedup, transformation half: splice OUT each
    doc's cross-document duplicated regions, keeping the minimal-
    doc_id owner's copy per shingle key (every doc rows out; clean or
    canonical docs pass through verbatim). Exact oracle: DuckDB
    recomputes the owner rule, the removable-hit island merge, and the
    splice (string_agg of kept segments ordered by cut position)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"], by="doc_id")
    return SP.strip_duplicated_spans(
        d, "text", "doc_id", span_len=64, stride=32, min_docs=2
    )


@query(
    "dedup_substring_refine",
    oracle=_SPAN_ISLANDS_CTE
    + """
    , occ AS (
      SELECT sp.k, sp.pos, d.text, d.n
      FROM sp JOIN d USING (doc_id)
      WHERE sp.k IN (SELECT k FROM dup)
    ), lg AS (
      SELECT k,
             reverse(substr(text,
               CAST(pos - LEAST(31, pos) + 1 AS BIGINT),
               CAST(LEAST(31, pos) AS BIGINT))) AS flank,
             COUNT(*) AS cnt
      FROM occ GROUP BY 1, 2
    ), rg AS (
      SELECT k,
             substr(text, CAST(pos + 64 + 1 AS BIGINT),
               CAST(LEAST(31, n - pos - 64) AS BIGINT)) AS flank,
             COUNT(*) AS cnt
      FROM occ GROUP BY 1, 2
    ), nums AS (
      SELECT UNNEST(generate_series(1, 31)) AS i
    ), lx0 AS (
      SELECT k, flank, cnt,
             LAG(flank) OVER (PARTITION BY k ORDER BY flank) AS pf,
             LEAD(flank) OVER (PARTITION BY k ORDER BY flank) AS nf
      FROM lg
    ), rx0 AS (
      SELECT k, flank, cnt,
             LAG(flank) OVER (PARTITION BY k ORDER BY flank) AS pf,
             LEAD(flank) OVER (PARTITION BY k ORDER BY flank) AS nf
      FROM rg
    ), lext AS (
      SELECT x.k, x.flank,
             CASE WHEN x.cnt >= 2 THEN CAST(length(x.flank) AS BIGINT)
                  ELSE COALESCE(MAX(CASE WHEN n2.i <= length(x.flank)
                         AND ((substr(x.flank, 1, n2.i) = substr(x.pf, 1, n2.i))
                           OR (substr(x.flank, 1, n2.i) = substr(x.nf, 1, n2.i)))
                         THEN n2.i END), 0) END AS ext
      FROM lx0 x LEFT JOIN nums n2 ON TRUE
      GROUP BY x.k, x.flank, x.cnt, x.pf, x.nf
    ), rext AS (
      SELECT x.k, x.flank,
             CASE WHEN x.cnt >= 2 THEN CAST(length(x.flank) AS BIGINT)
                  ELSE COALESCE(MAX(CASE WHEN n2.i <= length(x.flank)
                         AND ((substr(x.flank, 1, n2.i) = substr(x.pf, 1, n2.i))
                           OR (substr(x.flank, 1, n2.i) = substr(x.nf, 1, n2.i)))
                         THEN n2.i END), 0) END AS ext
      FROM rx0 x LEFT JOIN nums n2 ON TRUE
      GROUP BY x.k, x.flank, x.cnt, x.pf, x.nf
    ), bf AS (
      SELECT s2.doc_id, s2.span_start, s2.span_end, s2.n_shingles,
             spl.k AS k_l, spr.k AS k_r,
             reverse(substr(d.text,
               CAST(s2.span_start - LEAST(31, s2.span_start) + 1 AS BIGINT),
               CAST(LEAST(31, s2.span_start) AS BIGINT))) AS lflank,
             substr(d.text, CAST(s2.span_end + 1 AS BIGINT),
               CAST(LEAST(31, d.n - s2.span_end) AS BIGINT)) AS rflank
      FROM spans s2
      JOIN sp spl ON spl.doc_id = s2.doc_id AND spl.pos = s2.span_start
      JOIN sp spr ON spr.doc_id = s2.doc_id AND spr.pos = s2.span_end - 64
      JOIN d ON d.doc_id = s2.doc_id
    )
    SELECT bf.doc_id, bf.span_start, bf.span_end, bf.n_shingles,
           CAST(bf.span_start - le.ext AS BIGINT) AS exact_start,
           CAST(bf.span_end + re.ext AS BIGINT) AS exact_end
    FROM bf
    JOIN lext le ON le.k = bf.k_l AND le.flank = bf.lflank
    JOIN rext re ON re.k = bf.k_r AND re.flank = bf.rflank
    """,
)
def dedup_substring_refine(spark, sf_dir):
    """Exact substring dedup, boundary-refinement pass (VERDICT r14's
    optional capability): the grid-snapped islands of
    dedup_substring_spans plus character-exact bounds — each boundary
    extends by the flank characters shared with another occurrence of
    the island's boundary shingle key (capped at stride-1 = 31 by the
    adjacent-grid-shingle argument in the operator docstring). Exact
    oracle: DuckDB recomputes the flank groups, the sorted-neighbor
    LCP (as an uncorrelated 31-row series join), and the boundary
    joins relationally.

    Scale (r17): the operator runs one occurrence pass (flanks computed
    in place, boundary keys via min_by/max_by in the island merge, one
    fused flank-group agg + window, one attach join) — see
    operators/spans.py; the scatter hash-partitions the raw docs on
    doc_id so the occurrence join's base side reuses that exchange."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"], by="doc_id")
    return SP.refine_span_bounds(
        d, "text", "doc_id", span_len=64, stride=32, min_docs=2
    )


@query(
    "dedup_simhash",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, TRUE AS sig_close
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash signature invariant, flag-form (the approx_distinct
    contract pattern): raw 64-bit signatures are engine-specific (they
    fold Spark's xxhash64), so the checkable output is the invariant —
    for every exact-Jaccard ≥ 0.8 pair (oracle-computable set), whether
    the two SimHash signatures are Hamming-close (≤ 16 bits).

    Threshold derivation (not just a measured constant): for equal-size
    shingle sets at the J = 0.8 boundary, indicator-vector cosine is
    2J/(1+J) ≈ 0.889, so each SimHash bit differs with p = acos(0.889)/π
    ≈ 0.151 — expected Hamming 64p ≈ 9.7, σ = √(64·p(1-p)) ≈ 2.9; 16 ≈
    mean + 2σ at the WORST admissible Jaccard, and almost all real
    near-dup pairs sit far above J = 0.8 (measured max Hamming 12 at
    sf0.01 AND sf0.1; random-pair average ≈ 20 on this shared-vocabulary
    corpus). tests/test_llm_ops.py re-measures the margin at sf0.01
    (early-warns at 14) so a corpus regeneration fails in pytest before
    it can flip the driver gate. The banded candidate join itself
    (simhash_pairs, 4×16-bit buckets) is pinned by unit tests."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    exact = D.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.8)
    sigs = d.select(F.col("doc_id").alias("doc"), D.simhash(F.col("text")).alias("sim"))
    return (
        exact.select("doc_a", "doc_b")
        .join(sigs.select(F.col("doc").alias("doc_a"), F.col("sim").alias("sim_a")), "doc_a")
        .join(sigs.select(F.col("doc").alias("doc_b"), F.col("sim").alias("sim_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= F.lit(16)
            ).alias("sig_close"),
        )
    )


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

_DOT = (
    "list_reduce(list_prepend(0.0, list_transform("
    "list_zip({a}::DOUBLE[], {b}::DOUBLE[]), p -> p[1] * p[2])), (x, y) -> x + y)"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


@query(
    "embedding_similar_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos('a.embedding', 'b.embedding')} >= 0.45
    """,
)
def embedding_similar_pairs(spark, sf_dir):
    """Embedding near-dup pairs (cosine ≥ 0.45) via the exact ball-cover
    metric join (k-means clusters + triangle-inequality cluster-pair
    pruning — 100% recall at any τ); double-precision left-fold dot
    products are bit-identical to the oracle's list_reduce."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return S.similar_pairs(e, threshold=0.45)


@query(
    "embedding_similar_pairs_lsh",
    # The corpus's only cosine-≥0.8 pairs are the ones this query PLANTS
    # (measured: zero native pairs above τ=0.7 at sf0.001/0.01/0.1), so
    # the oracle is exact: one pair per non-zero vector. Zero vectors
    # have no direction — excluded lambda-free via an unnest CTE.
    oracle="""
    WITH nz AS (
      SELECT DISTINCT vec_id
      FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings)
      WHERE u <> 0
    )
    SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, TRUE AS found
    FROM nz
    """,
)
def embedding_similar_pairs_lsh(spark, sf_dir):
    """The banded-LSH pair path (the 100 TB escape hatch the ball-cover
    auto-falls back to on uniform corpora — operators/similarity.py
    `_lsh_candidate_pairs`), driver-checked with an EXACT oracle: the
    corpus is unioned with direction-preserving scaled copies
    (vec_id + 1e6, embedding × 1.001). Scaling keeps every hyperplane
    projection's sign, so each planted pair shares ALL band keys —
    banded-LSH recall on them is structural, not probabilistic — and
    cosine(v, 1.001·v) ≈ 1 passes the exact verify at τ=0.8 while no
    native pair reaches 0.8. A banding bug (wrong keys, dropped band,
    broken verify) loses pairs and flips the row count; the emitted set
    is restricted to the planted (id, id+1e6) diagonal so the contract
    is closed under the corpus the driver generates."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"].filter(
        F.exists(S.as_double(F.col("embedding")), lambda x: x != 0)
    )
    planted = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            S.as_double(F.col("embedding")), lambda x: x * 1.001
        ).alias("embedding"),
    )
    both = e.select("vec_id", "embedding").unionByName(planted)
    pairs = S.similar_pairs(both, threshold=0.8, lsh_fallback=True)
    return pairs.filter(
        F.col("id_b") == F.col("id_a") + 1000000
    ).select("id_a", "id_b", F.lit(True).alias("found"))


def _topk_hits(e, qs, ann):
    """(query_id, h) for every query in ``qs``: how many of ``ann``'s
    neighbors are in the exact brute-force top-5 (0 when none are).
    Each approximate top-k id applies its own recall threshold to h."""
    bf = S.cosine_topk_bruteforce(e, qs, k=5).select("query_id", "neighbor_id")
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(bf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    return (
        qs.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select("query_id", F.coalesce(F.col("h"), F.lit(0)).alias("h"))
    )


def _mean_recall_ok(hits, min_recall: float):
    """One row: the query count and whether mean recall@5 reaches
    ``min_recall``."""
    return hits.agg(
        F.count("*").alias("n_queries"),
        (F.avg(F.col("h") / F.lit(5.0)) >= F.lit(min_recall)).alias("recall_ok"),
    )


@query(
    "ann_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0)
    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
           {_cos('q.embedding', 'd.embedding')} AS cos_sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos('q.embedding', 'd.embedding')} DESC, d.vec_id
           ) AS INT) AS rnk
    FROM embeddings d JOIN q ON d.vec_id <> q.vec_id
    QUALIFY rnk <= 5
    """,
)
def ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 per query (queries = vec_id % 50 == 0):
    broadcast queries, one corpus scan, per-query window top-k."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    qs = e.filter(F.col("vec_id") % 50 == 0)
    return S.cosine_topk_bruteforce(e, qs, k=5)


@query(
    "ann_topk_lsh",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def ann_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN (random hyperplanes + multiprobe), flag-form
    contract: bucket contents are hash-dependent, so the invariant is
    per-query recall vs the exact brute-force top-5 — ``recall_ok`` =
    ≥ 3 of 5 true neighbors found (measured min on this corpus: 5/5 at
    sf0.01, 4/5 at sf0.1 — collapsed buckets or broken scoring drop it
    to ~0 and flip the flags). The neighbor-returning operator API is
    S.ann_topk_lsh."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    qs = e.filter(F.col("vec_id") % 50 == 0)
    ann = S.ann_topk_lsh(e, qs, dim=64, k=5)
    return _topk_hits(e, qs, ann).select(
        "query_id", (F.col("h") >= F.lit(3)).alias("recall_ok")
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------


@query(
    "mm_features",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents
    """,
)
def mm_features(spark, sf_dir):
    """Multimodal plumbing: binary payload column → Arrow-batched
    mapInPandas feature extraction (byte length + checksum here; a real
    codec slots into the same batch loop)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    # use_codec=False pins the checksum stand-in branch (the oracle
    # contract) even on a deployment with Pillow installed
    feats = M.extract_features(M.attach_payload(d), use_codec=False)
    return feats.select("doc_id", "n_bytes", "payload_sha")


@query(
    "mm_frame_sample",
    oracle="""
    WITH d AS (
      -- char-wise substr == byte slice ONLY for ASCII; fail loudly if
      -- the corpus ever stops being ASCII instead of hash-mismatching
      SELECT doc_id, text,
             CASE WHEN octet_length(CAST(text AS BLOB)) <> length(text)
                  THEN error('mm oracle requires an ASCII corpus')
                  ELSE octet_length(CAST(text AS BLOB)) END AS len
      FROM documents
    ), f AS (
      SELECT doc_id, text,
             UNNEST(generate_series(0,
                      CAST(LEAST(8, GREATEST(1, len // 64)) AS BIGINT) - 1))
               AS frame_no
      FROM d
    )
    SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
           octet_length(CAST(substr(text, CAST(frame_no * 64 + 1 AS BIGINT), 64)
                             AS BLOB)) AS frame_bytes,
           sha256(substr(text, CAST(frame_no * 64 + 1 AS BIGINT), 64)) AS frame_sha
    FROM f
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: ≤8 fixed-stride byte-slice 'frames' per
    payload, one row per frame (video pipeline shape). Exact oracle: the
    stand-in payload is the UTF-8 text (pure ASCII in this corpus, so
    DuckDB's char-wise substr equals the byte slice); frame length and
    sha256 are recomputed slice-for-slice in SQL."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return M.sample_frames(M.attach_payload(d)).select(
        "doc_id",
        "frame_no",
        F.octet_length("frame").alias("frame_bytes"),
        F.sha2(F.col("frame"), 256).alias("frame_sha"),
    )


@query(
    "ann_topk_ivf",
    oracle="""
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def ann_topk_ivf(spark, sf_dir):
    """IVF-bucketed ANN (k-means inverted file, n_probe=3 of 8
    clusters), flag-form contract at corpus granularity: with only 3/8
    clusters probed a single query can legitimately miss (per-query min
    is 0 on the near-random test embeddings), so the invariant is the
    aggregate — query count (oracle-exact) plus ``recall_ok`` = mean
    recall vs brute-force top-5 ≥ 0.35 (measured 0.54 at sf0.01, 0.65
    at sf0.1; a broken index or scorer lands near 3/8·ε). The
    neighbor-returning operator API is S.ivf_topk."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    qs = e.filter(F.col("vec_id") % 50 == 0)
    ann = S.ivf_topk(e, qs, k=5, n_clusters=8, n_probe=3)
    return _mean_recall_ok(_topk_hits(e, qs, ann), 0.35)


@query(
    "ann_topk_ivf_index",
    oracle="""
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok, TRUE AS match_ok,
           TRUE AS prune_ok
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def ann_topk_ivf_index(spark, sf_dir):
    """Persisted-IVF ANN: S.build_ivf_index trains the deterministic
    k-means ONCE and writes the assigned corpus hive-partitioned by
    cluster; S.ivf_index_topk then answers with NO training job and a
    partition-pruned read (the amortization path: k-means dominated
    one-shot IVF's 512k-vector wall in the ANN scale probe). Flag-form
    contract at corpus granularity, the ann_topk_ivf model:
      ``n_queries`` — oracle-exact query count;
      ``recall_ok`` — mean recall vs brute-force top-5 >= 0.35
        (identical math to ivf_topk at the same (8, 3): measured mean
        0.54 at sf0.01);
      ``match_ok`` — the indexed results EQUAL one-shot ivf_topk on
        (query_id, rnk, neighbor_id) — same seeded k-means, same
        scoring, same tie order: amortization must not change answers;
      ``prune_ok`` — a 2-query batch (probes <= 6 of 8 clusters) runs
        with a PartitionFilters entry on the cluster column in its
        executed plan, its neighbors all live in the recomputed probed
        clusters, and a probed-cluster read physically opens files only
        under those partition dirs (input_file_name at execution) —
        the static pruning that makes the persisted index the 100 TB
        path."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re
    import tempfile

    from .plans import audit

    from .operators.materialize import materialize

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    qs = e.filter(F.col("vec_id") % 50 == 0)
    idx_path = _os.path.join(tempfile.mkdtemp(prefix="ivf_index_"), "ivf")
    meta = S.build_ivf_index(e, idx_path, n_clusters=8, kmeans_iters=2)

    # materialize both top-k frames: each feeds multiple actions below
    # (two exceptAll counts, the recall join, the returned aggregate) —
    # without it every action re-runs the index query and, for `want`,
    # the one-shot pipeline's whole k-means training
    ann = materialize(S.ivf_index_topk(spark, idx_path, qs, k=5, n_probe=3))
    keyed = ann.select("query_id", "rnk", "neighbor_id")
    want = materialize(
        S.ivf_topk(e, qs, k=5, n_clusters=8, n_probe=3, kmeans_iters=2)
        .select("query_id", "rnk", "neighbor_id")
    )
    match_ok = (
        keyed.exceptAll(want).count() == 0
        and want.exceptAll(keyed).count() == 0
    )

    # pruning leg: 2 fixed queries -> union of probes <= 6 < 8 clusters
    two = qs.filter(F.col("vec_id").isin([0, 50]))
    res2 = S.ivf_index_topk(spark, idx_path, two, k=5, n_probe=3)
    plan_ok = bool(
        _re.search(
            r"PartitionFilters: \[[^\]]*cluster[^\]]*\]",
            audit.executed_plan(res2),
        )
    )
    # recompute the probed set from the persisted sidecar (driver-side:
    # 2 vectors x 8 centroids), same (sq-dist, cluster) tie order as
    # ivf_index_topk; cross-validated below against the real path — a
    # divergence would surface as a neighbor outside the probed set
    with open(f"{idx_path}/_centroids.json") as fh:
        cents = _json.load(fh)["centroids"]
    probed: set[int] = set()
    for r in two.select("embedding").collect():
        v = [float(x) for x in r["embedding"]]
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(v, c)), int(cid))
            for cid, c in cents
        )
        probed |= {cid for _, cid in d[:3]}
    idx = spark.read.parquet(f"{idx_path}/data")
    neigh_clusters = {
        r["cluster"]
        for r in res2.join(
            idx, res2["neighbor_id"] == idx["neighbor_id"]
        ).select(idx["cluster"]).distinct().collect()
    }
    touched_dirs = {
        r[0].split("/data/")[1].split("/")[0]
        for r in idx.filter(F.col("cluster").isin(sorted(probed)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    n_files_total = len(
        _glob.glob(f"{idx_path}/data/cluster=*/*.parquet")
    )
    n_files_probed = len(
        [
            f
            for c in probed
            for f in _glob.glob(f"{idx_path}/data/cluster={c}/*.parquet")
        ]
    )
    prune_ok = (
        plan_ok
        and len(probed) < meta["n_clusters"]
        and neigh_clusters <= probed
        and touched_dirs <= {f"cluster={c}" for c in probed}
        and n_files_probed < n_files_total
    )

    return (
        _mean_recall_ok(_topk_hits(e, qs, ann), 0.35)
        .withColumn("match_ok", F.lit(bool(match_ok)))
        .withColumn("prune_ok", F.lit(bool(prune_ok)))
    )


# ---------------------------------------------------------------------------
# sessionization / repetition quality / deterministic sampling
# ---------------------------------------------------------------------------


@query(
    "sessionize_events",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN prev_ts IS NULL
                            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
      FROM o
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us
    FROM s GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap) — event logs →
    per-session rows, the standard pre-step for sequence training data.
    One user-keyed shuffle for the lag/cumsum windows (shared Exchange)
    + a keyed aggregate; span math is exact integer microseconds."""
    from .operators import sessions as SE

    e = _t(spark, sf_dir, "events")["events"]
    return SE.session_stats(e, gap_seconds=1800)


@query(
    "text_repetition",
    oracle=r"""
    WITH wc AS (
      SELECT doc_id, w, COUNT(*) AS cnt
      FROM (
        SELECT doc_id,
               UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents
      ) GROUP BY doc_id, w
    ), tw AS (
      SELECT doc_id,
             CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
               AS top_word_frac
      FROM wc GROUP BY doc_id
    )
    SELECT d.doc_id,
           1.0 - CAST(len(list_distinct(string_split(d.text, chr(10))))
                      AS DOUBLE)
               / CAST(len(string_split(d.text, chr(10))) AS DOUBLE)
             AS dup_line_frac,
           tw.top_word_frac
    FROM documents d JOIN tw ON d.doc_id = tw.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-line fraction
    (narrow, shuffle-free) + top-word fraction. Ratios are single double
    divisions — bit-identical to the oracle.

    Scale: the scatter hash-partitions on doc_id (operators/dedup.py),
    so ONE exchange of the raw docs satisfies every downstream
    clustering requirement — the (doc_id, word) count agg, the per-doc
    agg, and the final doc_id equi-join all reuse it instead of
    shuffling the exploded word rows (a multiple of the raw bytes at
    corpus scale; r16 plan: 5 → 3 Exchange nodes — the scatter plus
    two broadcast-side exchanges — and the final join flipped
    SMJ → BroadcastHashJoin; plans/r16/text_repetition_after.txt)."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"], by="doc_id")
    dup = d.select("doc_id", T.dup_line_fraction(F.col("text")).alias("dup_line_frac"))
    top = T.top_word_fraction(d, "doc_id", "text")
    return dup.join(top, "doc_id")


@query(
    "sample_hash_docs",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE list_reduce(
            list_prepend(0::BIGINT,
              list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT)),
            (acc, x) -> (acc * {T.ROLLING_BASE} + x) % {T.ROLLING_MOD}
          ) % 100 < 10
    """,
)
def sample_hash_docs(spark, sf_dir):
    """Deterministic 10% content-hash sample: rows whose Karp-Rabin
    fingerprint lands in buckets 0-9. Replay-stable (pure function of
    the text, no RNG state), embarrassingly parallel, and the bucket
    count makes any sampling rate expressible — the reproducible-subset
    primitive a training-data pipeline needs."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return d.filter(
        T.rolling_fingerprint(F.col("text")) % 100 < 10
    ).select("doc_id", "lang")


@query(
    "dedup_components",
    oracle=r"""
    WITH RECURSIVE s AS (
      SELECT doc_id,
             CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3
                  THEN [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')]
                  ELSE list_distinct([
                    array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
                    FOR i IN range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1)
                  ])
             END AS sh
      FROM documents
    ), e AS (
      SELECT a.doc_id AS x, b.doc_id AS y
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    ), ud AS (
      SELECT x, y FROM e UNION SELECT y, x FROM e
    ), reach(x, y) AS (
      SELECT x, y FROM ud
      UNION
      SELECT r.x, u.y FROM reach r JOIN ud u ON r.y = u.x
    ), root AS (
      SELECT x AS doc, LEAST(x, MIN(y)) AS canon FROM reach GROUP BY x
    )
    SELECT d.doc_id, COALESCE(root.canon, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN root ON d.doc_id = root.doc
    """,
)
def dedup_components(spark, sf_dir):
    """Duplicate-cluster assignment: MinHash-LSH near-dup pairs (exact-
    verified, == the brute-force Jaccard ≥ 0.8 relation) → connected
    components via hash-min label propagation → every doc mapped to its
    cluster's min doc id (itself when unduplicated). The oracle closes
    the same edge set with a recursive CTE — a genuinely iterative
    algorithm with an exact SQL oracle."""
    from .operators.graph import canonical_assignment

    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    pairs = D.minhash_lsh_pairs(d, "text", "doc_id", n=3, threshold=0.8)
    return canonical_assignment(
        d, pairs.select("doc_a", "doc_b"), "doc_id", src="doc_a", dst="doc_b"
    )


@query(
    "tfidf_topterms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             (tf.tf * nd.n_docs * 1000) // df.df AS score_scaled
      FROM tf JOIN df USING (token) CROSS JOIN nd
    )
    SELECT doc_id, token, tf, df, score_scaled FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score_scaled DESC, token) AS rn
      FROM scored) WHERE rn <= 3
    """,
)
def tfidf_topterms(spark, sf_dir):
    """Corpus keyword extraction, IR-style: top-3 terms per document by
    a tf-idf surrogate computed ENTIRELY in integer arithmetic —
    score = (tf * n_docs * 1000) div df is monotone in tf/df like
    tf*log-idf rankings but bit-identical across engines (no ln, no
    doubles), so the per-doc top-3 cut can't flip on float error. Ties
    break on token text; tf/df/score all emitted so the oracle checks
    the full scoring pipeline, not just the winners.

    Scale: explode -> tf groupBy (reusing the scatter's hash(doc_id)
    exchange) -> the (doc_id, token, tf) table MATERIALIZED once (lazy
    localCheckpoint; the df-aggregation's shuffle map stage is the
    materializing action) -> term-keyed join of tf against the much
    smaller df table (broadcast) -> per-doc window. r16 computed the
    explode + tf aggregation TWICE (once per consumer, the plan held
    two canonically-identical scan subtrees deduped only by runtime
    ReusedExchange); r17 materializes tf so each of explode/tf-agg
    runs structurally once — at corpus scale the exploded token stream
    is a multiple of the raw bytes. n_docs counts the RAW table (a
    column-pruned count-only scan, no scatter shuffle) and joins in as
    a broadcast scalar, not a driver constant (r16 plan: 10 → 7
    Exchange nodes; r17: 7 → 6 with one structural scan+agg instead of
    two — plans/r17/tfidf_topterms_after.txt)."""
    from .operators.materialize import materialize

    raw = _t(spark, sf_dir, "documents")["documents"]
    d = scatter(raw, by="doc_id")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    tf = materialize(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")),
        eager=False,
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    nd = raw.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.expr("(tf * n_docs * 1000) div df").alias("score_scaled"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_scaled").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


@query(
    "text_normalize",
    oracle=rf"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(translate(text, '{_UPPER}', '{_LOWER}'),
                            '[^a-z0-9 \t\n\r]', ' ', 'g'),
             '[ \t\n\r]+', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(
             regexp_replace(translate(text, '{_UPPER}', '{_LOWER}'),
                            '[^a-z0-9 \t\n\r]', ' ', 'g'),
             '[ \t\n\r]+', ' ', 'g'))) AS n_norm_chars
    FROM documents
    """,
)
def text_normalize(spark, sf_dir):
    """Training-corpus text normalization, PORTABLY: ASCII case-fold via
    translate (no locale/Unicode lowercasing divergence), every
    non-[a-z0-9 whitespace] codepoint replaced by a space, whitespace
    runs collapsed, ends trimmed. The output alphabet is pure ASCII, so
    string equality and length agree across engines even when the input
    holds astral-plane codepoints (where Spark's length counts UTF-16
    units but DuckDB counts codepoints — all removed before measuring).

    Scale: map-only Column program (translate + two regexp_replace),
    pipelined into the scan; no shuffle, no UDF."""
    d = _t(spark, sf_dir, "documents")["documents"]
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.col("text"), _UPPER, _LOWER),
                "[^a-z0-9 \t\n\r]",
                " ",
            ),
            "[ \t\n\r]+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("n_norm_chars"),
    )


@query(
    "dedup_embedding_semantic",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT a.vec_id AS x, b.vec_id AS y
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_cos('a.embedding', 'b.embedding')} >= 0.45
    ), ud AS (
      SELECT x, y FROM e UNION SELECT y, x FROM e
    ), reach(x, y) AS (
      SELECT x, y FROM ud
      UNION
      SELECT r.x, u.y FROM reach r JOIN ud u ON r.y = u.x
    ), root AS (
      SELECT x AS node, LEAST(x, MIN(y)) AS canon FROM reach GROUP BY x
    ), canon AS (
      SELECT v.vec_id, COALESCE(root.canon, v.vec_id) AS canonical_id
      FROM embeddings v LEFT JOIN root ON v.vec_id = root.node
    )
    SELECT canonical_id AS rep_id, COUNT(*) AS cluster_size
    FROM canon GROUP BY canonical_id
    """,
)
def dedup_embedding_semantic(spark, sf_dir):
    """SEMANTIC (embedding-cosine) corpus dedup end to end — the full
    keep-one-representative pipeline on top of the near-dup pair
    relation: exact cosine->=0.45 pairs (ball-cover metric join, 100%
    recall), connected components via hash-min label propagation, one
    surviving representative per cluster (min vec_id) with its member
    count. This is the training-data dedup step that actually SHRINKS
    the corpus, where `embedding_similar_pairs` only lists the edges
    and `dedup_components` labels documents by n-gram overlap. The
    oracle closes the identical edge set with a recursive CTE, so a
    missed pair, a broken component merge, or a wrong representative
    all flip the hash.

    Scale: pairs come from the bucketed equi-join (no all-pairs stage);
    label propagation is iterative hash-partitioned self-joins over the
    EDGE set (near-dup pairs, << corpus); the final keep is one keyed
    aggregate."""
    from .operators.graph import canonical_assignment

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    pairs = S.similar_pairs(e, threshold=0.45)
    canon = canonical_assignment(
        e.select("vec_id"),
        pairs.select("id_a", "id_b"),
        "vec_id",
        src="id_a",
        dst="id_b",
    )
    return canon.groupBy(
        F.col("canonical_id").alias("rep_id")
    ).agg(F.count(F.lit(1)).alias("cluster_size"))


@query(
    "html_boilerplate_strip",
    oracle=r"""
    WITH wrapped AS (
      SELECT doc_id,
             '<html><body><nav>menu</nav><p id="d' || doc_id || '">'
               || text ||
             '</p><script>track();</script><footer>(c) site</footer></body></html>'
               AS html
      FROM documents
    ), stripped AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '<script>.*?</script>', ' ', 'g'),
                   '<(nav|footer)>.*?</(nav|footer)>', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
               '[ \t\n\r]+', ' ', 'g')) AS clean
      FROM wrapped
    )
    SELECT doc_id, clean, length(clean) AS n_chars FROM stripped
    """,
)
def html_boilerplate_strip(spark, sf_dir):
    """Web-corpus cleaning: BOILERPLATE REMOVAL from HTML — the step
    between a CommonCrawl-style fetch and every text-quality operator
    here. Each document is wrapped in a deterministic page skeleton
    (nav/script/footer boilerplate around the payload), then cleaned by
    the strip pipeline: script and nav/footer blocks dropped whole
    (non-greedy spans), remaining tags replaced by spaces, whitespace
    collapsed. The oracle runs the IDENTICAL pipeline in DuckDB, so the
    check pins cross-engine regex semantics (non-greedy `.*?`, char
    classes, global replace) on real corpus text — any
    Java-regex-vs-RE2 divergence on these patterns flips the hash.

    Scale: map-only Column program, pipelined into the scan; no UDF —
    at 100 TB this runs at scan speed where a BeautifulSoup-style UDF
    would bottleneck on Python."""
    d = _t(spark, sf_dir, "documents")["documents"]
    html = F.concat(
        F.lit('<html><body><nav>menu</nav><p id="d'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.col("text"),
        F.lit(
            "</p><script>track();</script><footer>(c) site</footer>"
            "</body></html>"
        ),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(html, "<script>.*?</script>", " "),
                    "<(nav|footer)>.*?</(nav|footer)>",
                    " ",
                ),
                "<[^>]*>",
                " ",
            ),
            "[ \t\n\r]+",
            " ",
        )
    )
    return d.select(
        "doc_id", clean.alias("clean"), F.length(clean).alias("n_chars")
    )


@query(
    "mm_audio_energy",
    oracle=r"""
    WITH cps AS (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ''),
                                   c -> ascii(c)::BIGINT)) AS cp,
             unnest(range(len(string_split(text, '')))) AS pos
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, pos // 64 AS window_idx,
           COUNT(*) AS n_samples, CAST(SUM(cp * cp) AS BIGINT) AS energy
    FROM cps GROUP BY doc_id, pos // 64
    """,
)
def mm_audio_energy(spark, sf_dir):
    """Multimodal (audio-shape): per-window energy over the payload's
    sample stream — the PCM loudness/VAD stage with its one-to-many
    explode, Arrow-batched (operators/multimodal.audio_window_energy).
    The stand-in decode reads UTF-32 code units as samples so the
    DuckDB oracle can recompute windows exactly via codepoint lists;
    int64 energy keeps the contract repr-exact."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    return M.audio_window_energy(M.attach_payload(d))


@query(
    "dedup_containment",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.sh, b.sh)) AS inter,
           LEAST(len(a.sh), len(b.sh)) AS n_min
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE GREATEST(len(a.sh), len(b.sh))
            <= 2 * LEAST(len(a.sh), len(b.sh))
      AND len(list_intersect(a.sh, b.sh)) * 10
            >= 9 * LEAST(len(a.sh), len(b.sh))
    """,
)
def dedup_containment(spark, sf_dir):
    """CONTAINMENT near-dedup — the asymmetric relation Jaccard misses:
    a boilerplate-padded copy of a smaller doc scores low Jaccard (the
    union grows with padding) but containment |∩|/min ≈ 1. Exact
    inverted-index pairs at containment ≥ 9/10 within a 2x size window
    (the window is part of the contract — it bounds the prefix filter;
    operators/dedup.containment_pairs). The decision is integer-exact
    (inter·10 ≥ 9·n_min), the oracle brute-forces the identical
    relation."""
    d = _t(spark, sf_dir, "documents")["documents"]
    return D.containment_pairs(d, "text", "doc_id", n=3)


@query(
    "dedup_editdistance",
    oracle="""
    WITH t AS (
      SELECT doc_id, substr(text, 1, 40) AS title FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.title, b.title) AS dist
    FROM t a JOIN t b
      ON substr(a.title, 1, 8) = substr(b.title, 1, 8)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= 5
    """,
)
def dedup_editdistance(spark, sf_dir):
    """EDIT-DISTANCE near-dedup — the technique family for short fields
    (titles, names, addresses) where token shingles are too coarse:
    pairs whose 40-char prefixes are within Levenshtein distance 5,
    blocked on the first-8-char key. The blocking key is PART OF THE
    CONTRACT (like the containment size window): it turns the quadratic
    all-pairs comparison into a hash equi-join whose candidate count
    tracks block sizes, at the documented cost of missing pairs that
    edit inside the first 8 characters — production stacks run 2-3
    complementary blockings (prefix, suffix, sorted-token) the same way.
    Verification is exact levenshtein on both engines; distance emitted
    so the oracle checks the metric, not just the pairing.

    Scale: one equi-join on the block key + per-candidate O(40²) DP —
    no cartesian anywhere; skewed blocks split by AQE."""
    d = scatter(_t(spark, sf_dir, "documents")["documents"])
    t = d.select("doc_id", F.substring("text", 1, 40).alias("title"))
    a = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        F.substring("title", 1, 8).alias("blk"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        F.substring("title", 1, 8).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("dist", F.levenshtein("title_a", "title_b"))
        .filter(F.col("dist") <= 5)
        .select("doc_a", "doc_b", "dist")
    )


@query(
    "ann_topk_pq",
    oracle="""
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def ann_topk_pq(spark, sf_dir):
    """Product-quantization ANN (S.build_pq_codebook / S.pq_encode /
    S.pq_topk): per-subspace codebooks, Arrow-encoded codes, ADC
    lookup-table shortlist, EXACT-cosine rerank. Flag-form contract at
    corpus granularity (the ann_topk_ivf model — a bucketed/quantized
    path can legitimately miss per query): ``n_queries`` oracle-exact
    plus ``recall_ok`` = mean recall vs brute-force top-5 >= 0.5
    (measured 0.88 at sf0.001/sf0.01 and 0.65 at sf0.1 with a
    100-candidate shortlist on uniform random vectors — PQ's worst
    case; a broken codebook, gather, or rerank lands near k/corpus
    ~ 0.01). The neighbor-returning operator API is S.pq_topk."""
    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    qs = e.filter(F.col("vec_id") % 50 == 0)
    ann = S.pq_topk(e, qs, k=5, m=8, bits=4, shortlist=100)
    return _mean_recall_ok(_topk_hits(e, qs, ann), 0.5)
