"""Behavioral tests for the LLM-pipeline operators beyond oracle parity:
LSH recall vs brute force, near-dup detection on planted duplicates,
multimodal stub behavior."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hudi_spark_utilities_plus_spark.operators import dedup as D
from hudi_spark_utilities_plus_spark.operators import multimodal as M
from hudi_spark_utilities_plus_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different words about spark and large scale data systems"),
        (4, "another unrelated document mentioning lakes tables and columns"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_one_copy(spark, docs):
    out = D.exact_dedup(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 3, 4]  # doc 1 (exact dup of 0) dropped


def test_ngram_jaccard_finds_planted_pair(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # exact dup: jaccard 1.0
    assert (0, 2) in pairs and (1, 2) in pairs  # near dup
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_lsh_matches_exact_jaccard(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    # verification makes precision exact; banding recall should hold here
    assert lsh == exact


def test_verify_jaccard_smj_fallback_matches_broadcast(spark, docs):
    """The shuffled (non-broadcast) verify path is the 100-TB fallback —
    it must yield exactly the broadcast path's pair set, and the auto
    gate must pick it when the corpus exceeds the broadcast doc cap."""

    def pairs(broadcast_verify):
        return sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in D.ngram_jaccard_pairs(
                docs, "text", "doc_id", threshold=0.5,
                broadcast_verify=broadcast_verify,
            ).collect()
        )

    assert pairs(False) == pairs(True)
    lsh_smj = sorted(
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in D.minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.5, broadcast_verify=False
        ).collect()
    )
    assert lsh_smj == pairs(True)
    # auto gate: corpora above the cap must NOT take the broadcast path
    import unittest.mock as mock

    # patch the CONCRETE DataFrame class (pyspark.sql.classic) — the
    # abstract pyspark.sql.DataFrame base never sees the call
    with mock.patch.object(type(docs), "count", return_value=D._BROADCAST_VERIFY_MAX_DOCS + 1), \
         mock.patch.object(D.F, "broadcast", side_effect=AssertionError("broadcast above cap")):
        D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)


def test_containment_shuffled_verify_matches_broadcast(spark, docs):
    """containment_pairs' shuffled verify path (the fallback above the
    broadcast doc cap) must return exactly the broadcast path's rows,
    and the auto gate must never broadcast above the cap."""

    def rows(**kw):
        return sorted(
            tuple(r)
            for r in D.containment_pairs(
                docs, "text", "doc_id", t_num=1, t_den=2, **kw
            ).collect()
        )

    hinted = rows(broadcast_verify=True)
    assert hinted and rows(broadcast_verify=False) == hinted
    import unittest.mock as mock

    with mock.patch.object(type(docs), "count", return_value=D._BROADCAST_VERIFY_MAX_DOCS + 1), \
         mock.patch.object(D.F, "broadcast", side_effect=AssertionError("broadcast above cap")):
        assert rows() == hinted


def test_ngram_jaccard_equals_bruteforce_random_sweep(spark):
    """Property sweep: on seeded random corpora the prefix-filtered
    inverted-index + verify pipeline must return EXACTLY the brute-force
    O(n²) pure-Python pair set — the PPJoin filters are lossless by
    construction, and this guards every future tweak of the prefix /
    length-filter math."""
    import itertools
    import random

    vocab = [f"w{i}" for i in range(30)]
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        docs = []
        for i in range(24):
            docs.append((i, " ".join(rng.choices(vocab, k=rng.randint(3, 18)))))
        # planted near-dups: copy with a small tail edit
        for i, (base_id, text) in enumerate(docs[:4]):
            docs.append((100 + i, text + " w0"))

        def sh(text, n=3):
            toks = text.split()
            if len(toks) < n:
                return {" ".join(toks)}
            return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}

        brute = set()
        for (ida, ta), (idb, tb) in itertools.combinations(docs, 2):
            a, b = sh(ta), sh(tb)
            j = len(a & b) / len(a | b)
            if j >= 0.5:
                brute.add((min(ida, idb), max(ida, idb)))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in D.ngram_jaccard_pairs(
                df, "text", "doc_id", n=3, threshold=0.5
            ).collect()
        }
        assert got == brute, f"seed {seed}: {got ^ brute}"


def test_simhash_margin_on_corpus(spark, sf_dir):
    """Early warning for the dedup_simhash driver flag: the max Hamming
    distance over exact-Jaccard ≥ 0.8 pairs on the CURRENT corpus must
    stay ≤ 14 — two bits inside the gate's ≤ 16 — so a corpus
    regeneration that erodes the margin fails here first (derivation of
    the 16 in queries_llm.dedup_simhash's docstring)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = D.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.8)
    sigs = d.select(F.col("doc_id").alias("doc"), D.simhash(F.col("text")).alias("sim"))
    ham = (
        exact.select("doc_a", "doc_b")
        .join(sigs.select(F.col("doc").alias("doc_a"), F.col("sim").alias("sim_a")), "doc_a")
        .join(sigs.select(F.col("doc").alias("doc_b"), F.col("sim").alias("sim_b")), "doc_b")
        .select(F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("h"))
        .agg(F.max("h").alias("max_h"), F.count("*").alias("n"))
        .collect()[0]
    )
    assert ham["n"] > 0  # the corpus must keep planted near-dup pairs
    assert ham["max_h"] <= 14, f"simhash margin eroded: max Hamming {ham['max_h']}"


def test_simhash_close_for_near_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_pairs(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical text → identical signature
    assert (0, 2) in pairs  # near dup within the Hamming ball


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_bruteforce(emb, qs, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ann_topk_lsh(emb, qs, dim=64, k=5).collect()
    }
    # These embeddings are near-random (top-5 cosine ~0.3-0.5, no planted
    # clusters), the hard case for hyperplane LSH — banded buckets with
    # 1-bit multiprobe recover most of the exact top-k; tight near-dup
    # clusters (the actual dedup workload) collide at far lower cost.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"ANN recall too low: {recall}"


def test_band_keys_matches_fold_spec(spark, sf_dir):
    """Differential pin for the r14 vectorization: the Arrow-matmul
    `_band_keys` must pack keys IDENTICAL to the Column-fold executable
    spec (`_band_keys_spec`, the r11-r13 production form) — per row, per
    band, across several (n_bands, band_bits, seed) shapes including the
    `ann_topk_lsh` default (16×6). A sign flip needs a hyperplane
    projection within rounding error of zero, and any packing/ordering
    bug flips whole keys — either fails this test loudly."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", S.as_double(F.col("embedding")).alias("v"))
    )
    for n_bands, band_bits, seed in ((16, 6, 1), (4, 12, 1), (8, 8, 3)):
        cmp = emb.select(
            S._band_keys(F.col("v"), 64, n_bands, band_bits, seed).alias("fast"),
            S._band_keys_spec(F.col("v"), 64, n_bands, band_bits, seed).alias(
                "spec"
            ),
        )
        bad = cmp.filter(F.col("fast") != F.col("spec")).count()
        n = cmp.count()
        assert n > 0
        assert bad == 0, (
            f"band-key mismatch at bands={n_bands} bits={band_bits} "
            f"seed={seed}: {bad}/{n} rows differ"
        )


def test_similar_pairs_lsh_matches_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ids = {
        (r["id_a"], r["id_b"])
        for r in S.similar_pairs(emb, threshold=0.45).collect()
    }
    # brute-force reference relation, computed inline (small sf)
    side = emb.select(
        F.col("vec_id").alias("id"), S.as_double(F.col("embedding")).alias("v")
    )
    a = side.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = side.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("c", S.cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("c") >= 0.45)
        .collect()
    }
    assert ids == brute  # banding recall is exact on this data (deterministic)


def test_multimodal_decode_paths():
    """Whichever codec path this environment has must behave per
    contract: without Pillow decode_image raises NotImplementedError;
    with it, real bytes decode and junk falls through PIL's own error.
    decode_dims is total either way, and the stand-in branch (always
    taken for non-media bytes) is deterministic — the driver oracles'
    contract."""
    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False

    payload = b"not an image"
    # stand-in branch: deterministic, PIL-independent
    assert M.decode_dims(payload) == M.fake_decode_dims(payload)
    assert M.fake_decode_dims(payload) == M.fake_decode_dims(payload)
    w, h = M.fake_decode_dims(payload)
    assert 1 <= w <= 1920 and 1 <= h <= 1080

    if not have_pil:
        with pytest.raises(NotImplementedError):
            M.decode_image(payload)
    else:
        from io import BytesIO

        from PIL import Image

        buf = BytesIO()
        Image.new("RGB", (5, 3)).save(buf, format="PNG")
        png = buf.getvalue()
        assert M.decode_dims(png) == (5, 3)  # real branch
        with M.decode_image(png) as im:
            assert im.size == (5, 3)
        with pytest.raises(Exception):
            M.decode_image(payload)  # junk: PIL's own decode error


def test_multimodal_use_codec_false_pins_standin(spark, docs):
    """use_codec=False must produce the checksum stand-in dims for every
    payload regardless of whether Pillow is installed — the invariant
    the mm driver oracles rest on (PIL's PPM/XBM plugins can decode some
    plain-ASCII payloads, so text-ness alone doesn't pin the branch)."""
    src = M.attach_payload(docs.limit(4))
    feats = {
        r["doc_id"]: (r["width"], r["height"])
        for r in M.extract_features(src, use_codec=False).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.limit(4).collect()}
    for doc_id, (w, h) in feats.items():
        assert (w, h) == M.fake_decode_dims(texts[doc_id].encode("utf-8"))
    rs = M.resize_media(src, use_codec=False).collect()
    for r in rs:
        iw, ih = M.fake_decode_dims(texts[r["doc_id"]].encode("utf-8"))
        assert (r["in_w"], r["in_h"]) == (iw, ih)


def test_multimodal_frame_sampling_shape(spark, docs):
    frames = M.sample_frames(M.attach_payload(docs), every_n_bytes=16, max_frames=3)
    rows = frames.filter(F.col("doc_id") == 0).collect()
    assert 1 <= len(rows) <= 3
    assert all(len(bytes(r["frame"])) <= 16 for r in rows)


def test_multimodal_metadata_struct(spark, docs):
    out = M.attach_payload(docs).select("doc_id", "media_meta.n_bytes").collect()
    by_id = {r["doc_id"]: r["n_bytes"] for r in out}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert by_id[0] == len(texts[0].encode())


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_bruteforce(emb, qs, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, qs, k=5, n_clusters=8, n_probe=4).collect()
    }
    # near-random vectors are the worst case for IVF too; probing half
    # the clusters must still recover most of the true top-k
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """4 well-separated blobs of 50 vectors each (8-dim): the realistic
    embedding-corpus shape where ball-cover pruning must pay off."""
    rows = []
    vid = 0
    for c in range(4):
        center = [10.0 if j == c else 0.0 for j in range(8)]
        for _ in range(50):
            jitter = [((vid * 31 + j * 7) % 13 - 6) / 100.0 for j in range(8)]
            rows.append((vid, [center[j] + jitter[j] for j in range(8)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ballcover_prunes_candidates_on_clustered_data(spark, clustered_emb):
    """The exact ball-cover join must materialize far fewer candidates
    than n(n-1)/2 when the corpus is clustered — the 100 TB property the
    round-2 hyperplane banding lost at low τ."""
    n = clustered_emb.count()
    n_cand = S.similar_pairs(
        clustered_emb, threshold=0.8, n_clusters=8, candidates_only=True
    ).count()
    all_pairs = n * (n - 1) / 2
    assert n_cand < 0.5 * all_pairs, f"{n_cand} of {all_pairs} pairs materialized"


def test_ballcover_exact_recall_on_clustered_data(spark, clustered_emb):
    """Ball-cover recall is 100% by construction: output == brute force."""
    got = {
        (r["id_a"], r["id_b"])
        for r in S.similar_pairs(clustered_emb, threshold=0.8, n_clusters=8).collect()
    }
    side = clustered_emb.select(
        F.col("vec_id").alias("id"), S.as_double(F.col("embedding")).alias("v")
    )
    a = side.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = side.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("c", S.cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("c") >= 0.8)
        .collect()
    }
    assert got == brute


def test_ann_lsh_dim_mismatch_raises(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="dim=32"):
        S.ann_topk_lsh(emb, emb.limit(1), dim=32, k=5)


def test_sessionize_gap_semantics(spark):
    """Strictly-greater gap starts a new session; an exactly-equal gap
    does not. Session seqs are 1-based per user."""
    from hudi_spark_utilities_plus_spark.operators.sessions import (
        session_stats,
        with_session_seq,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1),
        (1, "2024-01-01 00:30:00", 2),   # gap == 1800 s → same session
        (1, "2024-01-01 01:00:01", 3),   # gap 1801 s → new session
        (2, "2024-01-01 00:00:00", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    tagged = {
        r["event_id"]: r["session_seq"]
        for r in with_session_seq(df, gap_seconds=1800).collect()
    }
    assert tagged == {1: 1, 2: 1, 3: 2, 4: 1}
    stats = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["span_us"])
        for r in session_stats(df, gap_seconds=1800).collect()
    }
    assert stats == {(1, 1): (2, 1800_000_000), (1, 2): (1, 0), (2, 1): (1, 0)}


def test_dup_line_and_top_word_fractions(spark):
    from hudi_spark_utilities_plus_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a\nb\na\na"), (2, "x y z"), (3, "w w w w")],
        "doc_id long, text string",
    )
    dup = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", T.dup_line_fraction(F.col("text")).alias("f")
        ).collect()
    }
    assert dup[1] == 0.5 and dup[2] == 0.0 and dup[3] == 0.0
    top = {
        r["doc_id"]: r["top_word_frac"]
        for r in T.top_word_fraction(df, "doc_id", "text").collect()
    }
    assert top[1] == 0.75  # \s+ splits on newlines too: [a, b, a, a]
    assert top[2] == 1.0 / 3.0
    assert top[3] == 1.0


def test_asof_join_semantics(spark):
    """Backward-inclusive match, no-match NULLs, tolerance cutoff."""
    from hudi_spark_utilities_plus_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "p1"),
         (1, "2024-01-01 12:00:00", "p2"),
         (2, "2024-01-01 09:00:00", "p3")],  # no click ever for user 2
        "user_id long, lts string, pid string",
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "c_at"),    # equal ts: inclusive
         (1, "2024-01-01 11:30:00", "c_mid")],
        "user_id long, rts string, cid string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = {
        r["pid"]: r["cid"]
        for r in asof_join(left, right, "user_id", "lts", "rts").collect()
    }
    assert out == {"p1": "c_at", "p2": "c_mid", "p3": None}
    # 10-minute tolerance: p2's newest candidate (11:30) is 30 min old
    tol = {
        r["pid"]: r["cid"]
        for r in asof_join(
            left, right, "user_id", "lts", "rts", tolerance_seconds=600
        ).collect()
    }
    assert tol == {"p1": "c_at", "p2": None, "p3": None}


def test_asof_join_directions(spark):
    """forward/nearest (pandas merge_asof parity): inclusive bounds both
    ways, nearest ties resolve backward, direction-sensitive tolerance,
    and the nearest plan reuses ONE key exchange for both window passes."""
    import re

    from hudi_spark_utilities_plus_spark.operators.asof import asof_join

    l = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 7), (3, 0, 30), (4, 1, 5)],
        "lid long, k long, lts long",
    )
    r = spark.createDataFrame(
        [(0, 8, 100), (0, 12, 200), (1, 5, 300)], "k long, rts long, rv long"
    )

    def run(**kw):
        return {
            x["lid"]: x["rv"]
            for x in asof_join(l, r, "k", "lts", "rts", **kw).collect()
        }

    # forward: smallest rts >= lts, inclusive (lid 4 at equal ts)
    assert run(direction="forward") == {1: 200, 2: 100, 3: None, 4: 300}
    # nearest: lid 1 gap 2 both ways -> tie resolves BACKWARD (rv 100)
    assert run(direction="nearest") == {1: 100, 2: 100, 3: 200, 4: 300}
    # nearest + tolerance in column units: lid 3's closest (12) is 18
    # away -> nulled; lid 1's tie still resolves backward
    assert run(direction="nearest", tolerance_seconds=5) == {
        1: 100, 2: 100, 3: None, 4: 300,
    }
    # forward + tolerance: lid 2's candidate (8) is 1 ahead, inside
    assert run(direction="forward", tolerance_seconds=1) == {
        1: None, 2: 100, 3: None, 4: 300,
    }
    with pytest.raises(ValueError, match="direction"):
        asof_join(l, r, "k", "lts", "rts", direction="sideways")
    # composite keys (pandas by=[...] parity): both columns must match;
    # a NULL in EITHER key column matches nothing
    l2 = spark.createDataFrame(
        [(1, 0, "a", 10), (2, 0, "b", 10), (3, None, "a", 10)],
        "lid long, k1 long, k2 string, lts long",
    )
    r2 = spark.createDataFrame(
        [(0, "a", 8, 100), (0, "b", 9, 200), (0, None, 7, 300)],
        "k1 long, k2 string, rts long, rv long",
    )
    got = {
        x["lid"]: x["rv"]
        for x in asof_join(l2, r2, ["k1", "k2"], "lts", "rts").collect()
    }
    assert got == {1: 100, 2: 200, 3: None}
    # one hash exchange feeds both window passes — no second shuffle
    plan = (
        asof_join(l, r, "k", "lts", "rts", direction="nearest")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bWindow ", plan)) == 2


def test_asof_tolerance_alias_and_ts_dtype_guard(spark):
    """`tolerance` is the preferred alias of `tolerance_seconds` (the
    unit is dtype-dependent, so the _seconds name misleads on epoch
    columns); passing both raises, and mismatched left_ts/right_ts
    dtypes raise instead of letting the union's implicit coercion pick
    which tolerance-unit branch applies."""
    from hudi_spark_utilities_plus_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 0, 10)], "lid long, k long, lts long")
    r = spark.createDataFrame([(0, 8, 100)], "k long, rts long, rv long")
    alias = asof_join(l, r, "k", "lts", "rts", tolerance=5).collect()
    legacy = asof_join(l, r, "k", "lts", "rts", tolerance_seconds=5).collect()
    assert alias == legacy and alias[0]["rv"] == 100
    with pytest.raises(ValueError, match="not both"):
        asof_join(l, r, "k", "lts", "rts", tolerance=5, tolerance_seconds=5)
    r_int = spark.createDataFrame([(0, 8, 100)], "k long, rts int, rv long")
    with pytest.raises(TypeError, match="same data type"):
        asof_join(l, r_int, "k", "lts", "rts")
    with pytest.raises(TypeError, match="same data type"):
        asof_join(
            l.withColumn("lts", F.timestamp_seconds("lts")), r, "k", "lts", "rts"
        )


def test_materialize_warns_once_on_checkpoint_dir_downgrade(
    spark, tmp_path, caplog
):
    """A set checkpoint dir with the cleaner conf off silently downgrades
    to localCheckpoint (executor-loss resilience lost) — materialize()
    must say why, once per context, not once per call."""
    import logging

    from hudi_spark_utilities_plus_spark.operators import materialize as mat

    sc = spark.sparkContext
    mat._WARNED_APPS.discard(sc.applicationId)
    df = spark.range(10)
    try:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        with caplog.at_level(logging.WARNING, logger=mat.__name__):
            mat.materialize(df)
            mat.materialize(df)
        warns = [
            r for r in caplog.records if "localCheckpoint" in r.getMessage()
        ]
        assert len(warns) == 1, f"expected one downgrade warning, got {warns}"
        assert "cleanCheckpoints" in warns[0].getMessage()
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None
    # no checkpoint dir: no warning at all
    mat._WARNED_APPS.discard(sc.applicationId)
    with caplog.at_level(logging.WARNING, logger=mat.__name__):
        caplog.clear()
        mat.materialize(df)
    assert not [
        r for r in caplog.records if "localCheckpoint" in r.getMessage()
    ]


def test_pack_token_budget_boundaries(spark):
    """A doc starting exactly at a pack boundary opens the next pack;
    a doc straddling the boundary stays in the pack of its first token."""
    from hudi_spark_utilities_plus_spark.operators.packing import pack_assignments

    df = spark.createDataFrame(
        [(1, 600), (2, 400), (3, 700), (4, 300)], "doc_id long, tok long"
    )
    # cum-before: d1=0, d2=600, d3=1000, d4=1700 → packs 0,0,1,1 @1000
    got = {
        r["doc_id"]: r["pack_id"]
        for r in pack_assignments(df, "doc_id", "tok", budget=1000).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


def test_quantize_constant_and_range(spark):
    from hudi_spark_utilities_plus_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0]), (2, [5.0, 5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[1]["q"] == [0, 127, 255]  # floor(1/2*255)=127
    assert rows[1]["vmin"] == 0.0 and rows[1]["scale"] == 2.0 / 255
    assert rows[2]["q"] == [0, 0, 0] and rows[2]["scale"] == 0.0


def test_bigrams_and_pii(spark):
    from hudi_spark_utilities_plus_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, "")], "doc_id long, text string"
    )
    bg = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", T.bigram_array(F.col("text")).alias("b")
        ).collect()
    }
    assert bg == {1: ["a b", "b c"], 2: [], 3: []}
    # email redacted before phone: digits inside an address never
    # half-match the phone pattern
    s = spark.createDataFrame(
        [(1, "mail me at abc123-4567@x.co or call 555-1234 now")],
        "i long, t string",
    )
    r = s.select(
        T.pii_redact(F.col("t")).alias("red"),
        T.pii_counts(F.col("t"))["n_emails"].alias("ne"),
        T.pii_counts(F.col("t"))["n_phones"].alias("np"),
    ).collect()[0]
    assert r["red"] == "mail me at <EMAIL> or call <PHONE> now"
    assert r["ne"] == 1 and r["np"] >= 1


def test_mm_resize_plumbing(spark, docs):
    """Aspect-preserving fit into the 224x224 box; resized byte budget
    follows the output area; deterministic across runs."""
    from hudi_spark_utilities_plus_spark.operators import multimodal as M

    out = {r["doc_id"]: r for r in M.resize_media(M.attach_payload(docs)).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    for r in out.values():
        assert 1 <= r["out_w"] <= 224 and 1 <= r["out_h"] <= 224
        assert max(r["out_w"], r["out_h"]) >= 200  # fit touches the box
        assert len(r["resized"]) == max(1, r["out_w"] * r["out_h"] // 256)
        # aspect preserved within integer truncation (each dim truncates
        # by < 1, so the ratio can drift by at most ~ratio*(1/ow + 1/oh))
        ratio = r["in_w"] / r["in_h"]
        tol = ratio * (1 / r["out_w"] + 1 / r["out_h"]) + 1e-9
        assert abs(r["out_w"] / r["out_h"] - ratio) <= tol
    again = {r["doc_id"]: r for r in M.resize_media(M.attach_payload(docs)).collect()}
    assert {k: bytes(v["resized"]) for k, v in out.items()} == {
        k: bytes(v["resized"]) for k, v in again.items()
    }


def test_asof_null_right_ts_never_matches(spark):
    """A right row with NULL ts must never be handed out as a match
    (DuckDB ASOF parity: NULL never satisfies right_ts <= left_ts)."""
    from hudi_spark_utilities_plus_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(2, "2024-01-01 09:00:00", "p")], "user_id long, lts string, pid string"
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(2, None, "junk")], "user_id long, rts string, cid string"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join(left, right, "user_id", "lts", "rts").collect()
    assert out[0]["cid"] is None


def test_ann_lsh_empty_corpus_with_explicit_dim(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    empty = emb.filter(F.col("vec_id") < 0)
    assert S.ann_topk_lsh(empty, emb.limit(2), dim=64, k=3).count() == 0


def test_dim_guards_tolerate_leading_null_vector(spark):
    """The width guards probe the first VALID vector: a NULL/empty
    vector in the FIRST row (F.size -> NULL under ANSI) must not
    TypeError the guard — those rows are _valid_vecs-dropped from the
    computation, so they carry no width information either."""
    rows = [(0, None), (1, []), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(10, None), (11, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = S.cosine_topk_bruteforce(corpus, queries, k=2)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    assert got == {(11, 2), (11, 3)}
    ivf = S.ivf_topk(corpus, queries, k=1, n_clusters=1)
    assert {r["query_id"] for r in ivf.collect()} == {11}
    # all-null corpus without an explicit dim still fails loudly
    allnull = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<double>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot infer dim"):
        S.ann_topk_lsh(allnull, queries, k=1)


def test_connected_components_chain_and_singletons(spark):
    """Multi-hop chains collapse to the min id; disjoint edges stay
    separate; nodes outside any edge are their own canonical."""
    from hudi_spark_utilities_plus_spark.operators.graph import (
        canonical_assignment,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (10, 11)], "src long, dst long"
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10}
    ids = spark.createDataFrame([(i,) for i in [2, 3, 4, 5, 10, 11, 99]], "id long")
    got = {
        r["id"]: r["canonical_id"]
        for r in canonical_assignment(ids, edges, "id").collect()
    }
    assert got == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10, 99: 99}


def test_chunk_documents_boundaries(spark):
    """Chunking edges: short doc = one whole chunk; exact-size doc = one
    chunk; size+1 tokens = two chunks with the second partial; overlap
    region repeats the last (size-stride) tokens of the prior chunk."""
    from hudi_spark_utilities_plus_spark.operators.packing import chunk_documents

    rows = [
        (1, "a b c"),                                # 3 toks < size
        (2, " ".join(f"t{i}" for i in range(8))),    # == size
        (3, " ".join(f"u{i}" for i in range(9))),    # size+1 -> 2 chunks
        (4, " ".join(f"v{i}" for i in range(20))),   # multi-chunk
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = chunk_documents(df, size=8, stride=6)
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.chunk_tokens)
        for r in out.collect()
    }
    assert got[(1, 0)] == ("a b c", 3)
    assert got[(2, 0)][1] == 8 and (2, 1) not in got
    assert got[(3, 0)][1] == 8 and got[(3, 1)] == ("u6 u7 u8", 3)
    # 20 toks, size 8 stride 6: chunks at 0,6,12 -> 1+ceil(12/6)=3
    assert {(d, i) for (d, i) in got if d == 4} == {(4, 0), (4, 1), (4, 2)}
    # overlap: chunk k starts with the last 2 tokens of chunk k-1
    assert got[(4, 1)][0].split()[:2] == got[(4, 0)][0].split()[-2:]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, size=4, stride=5)


def test_chunk_documents_properties(spark):
    """Property sweep over token counts 1..40 x three window shapes:
    chunk count matches the closed form, every token index is covered,
    consecutive chunks overlap by exactly min(size-stride, prior-chunk
    tokens past the next start), and concatenating stride-aligned
    prefixes reconstructs the document."""
    import math as _math

    from hudi_spark_utilities_plus_spark.operators.packing import chunk_documents

    shapes = [(8, 6), (5, 5), (10, 3)]
    rows = [(n, " ".join(f"w{n}_{i}" for i in range(n))) for n in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for size, stride in shapes:
        out = chunk_documents(df, size=size, stride=stride)
        got = {}
        for r in out.collect():
            got.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk_text.split()
        for n in range(1, 41):
            chunks = got[n]
            expect = 1 + _math.ceil(max(n - size, 0) / stride)
            assert len(chunks) == expect, (n, size, stride, len(chunks))
            toks = [f"w{n}_{i}" for i in range(n)]
            # chunk k must equal toks[k*stride : k*stride+size] exactly
            for k, ch in chunks.items():
                assert ch == toks[k * stride : k * stride + size]
            # coverage: union of chunk token positions is the whole doc
            seen = set()
            for k, ch in chunks.items():
                seen.update(range(k * stride, k * stride + len(ch)))
            assert seen == set(range(n)), (n, size, stride)


def test_similar_pairs_smj_fallback_matches_broadcast(spark, clustered_emb):
    """similar_pairs' non-broadcast verify path (the 100-TB fallback)
    must return exactly the broadcast path's pair set and must plan
    without a BroadcastHashJoin when the hint is dropped."""
    from hudi_spark_utilities_plus_spark.plans import audit

    def pairs(bv):
        return sorted(
            (r["id_a"], r["id_b"], round(r["cos_sim"], 9))
            for r in S.similar_pairs(
                clustered_emb, threshold=0.8, broadcast_verify=bv
            ).collect()
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert pairs(False) == pairs(True)
        assert len(pairs(True)) > 0  # the blobs guarantee within-cluster pairs
        fb = S.similar_pairs(clustered_emb, threshold=0.8, broadcast_verify=False)
        plan = audit.executed_plan(fb)
        # the pair list itself is always broadcast (k² metadata rows);
        # the VECTOR verify joins must not be
        assert plan.count("BroadcastHashJoin") <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_quality_model_score_adversarial_oracle_sweep(spark, tmp_path):
    """r7 property sweep over the exact surface that made the r6 oracle
    environment-sensitive: astral-plane first chars (UTF-16 `ascii()`
    surrogates vs codepoint engines), non-ASCII tokens, empty /
    whitespace-only / 1-token / NULL docs. Spark vs in-process DuckDB
    compared EXACTLY (tol=0) — the contract is integer-only, so any
    engine drift is a hard failure here, not a hash surprise at the
    driver."""
    import duckdb as _duckdb

    from hudi_spark_utilities_plus_spark.queries import ORACLES, QUERIES
    from tests.oracle_utils import compare

    rows = [
        (1, "hello world plain ascii"),
        (2, "\U0001f600 astral first char"),  # emoji leads a token
        (3, "héllo wörld café naïve"),  # latin-1 sup
        (4, "日本語 テキスト 中文"),
        (5, ""),  # empty doc -> one empty token
        (6, "   \t  \n "),  # whitespace-only
        (7, "single"),  # 1-token doc
        (8, "\U0001d54c\U0001d55f\U0001d55a \U0001d52a\U0001d586 x"),
        (9, None),  # NULL text -> coalesced to ''
        (10, "mixed \U0001f600emoji\U0001f600 inside töken"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)

    out = QUERIES["quality_model_score"](spark, str(tmp_path))
    con = _duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}/*.parquet'")
    ok, msg = compare(out, con, ORACLES["quality_model_score"], tol=0.0)
    assert ok, msg


@pytest.fixture(scope="module")
def uniform_emb(spark):
    """Deterministic uniform-ish 16-dim corpus (the r6 scale probe's
    adversarial shape: covering radii ≈ full spread, triangle pruning
    defeated) with 5 planted near-dup pairs above cosine 0.8."""
    import random as _random

    rng = _random.Random(7)
    rows = []
    base = []
    for vid in range(400):
        v = [rng.gauss(0.0, 1.0) for _ in range(16)]
        base.append(v)
        rows.append((vid, v))
    for i in range(5):  # planted near-dups: tiny perturbation of vec i
        v = [x + rng.gauss(0.0, 0.01) for x in base[i]]
        rows.append((1000 + i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_similar_pairs_uniform_engages_lsh_fallback(spark, uniform_emb):
    """r7 (VERDICT r6 item 3): on a uniform corpus the pruning-rate probe
    must switch candidate generation to the banded-LSH path (observable:
    the candidate plan explodes band keys — Generate — and materializes
    FAR fewer candidates than the surviving-cluster-pair volume), and
    every emitted pair must still verify exactly at the same tau."""
    from hudi_spark_utilities_plus_spark.plans import audit

    tau = 0.8
    cand = S.similar_pairs(
        uniform_emb, threshold=tau, n_clusters=8, candidates_only=True
    )
    plan = audit.executed_plan(cand)
    assert "Generate" in plan, f"LSH fallback did not engage:\n{plan}"
    n = uniform_emb.count()
    n_cand = cand.count()
    assert n_cand < 0.2 * n * (n - 1) / 2, f"{n_cand} candidates — not pruned"

    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in S.similar_pairs(
            uniform_emb, threshold=tau, n_clusters=8
        ).collect()
    }
    # precision 1.0: every emitted pair is a true pair at the same tau
    side = uniform_emb.select(
        F.col("vec_id").alias("id"), S.as_double(F.col("embedding")).alias("v")
    )
    brute = {
        (r["id_a"], r["id_b"]): r["c"]
        for r in side.alias("a")
        .select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
        .join(
            side.alias("b").select(
                F.col("id").alias("id_b"), F.col("v").alias("v_b")
            ),
            F.col("id_a") < F.col("id_b"),
        )
        .withColumn("c", S.cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("c") >= tau)
        .collect()
    }
    assert set(got) <= set(brute), f"false positives: {set(got) - set(brute)}"
    for k, v in got.items():
        assert abs(v - brute[k]) < 1e-12
    # the planted near-identical pairs are exactly what high-tau LSH must
    # recover (cos ~0.999 -> per-plane agreement ~1): all 5 found
    planted = {(i, 1000 + i) for i in range(5)}
    assert planted <= set(got), f"missed planted pairs: {planted - set(got)}"


def test_similar_pairs_clustered_does_not_engage_fallback(spark, clustered_emb):
    """Clustered corpora (the realistic shape) must keep the EXACT
    ball-cover path: the probe's surviving fraction is low, so no
    Generate in the candidate plan."""
    from hudi_spark_utilities_plus_spark.plans import audit

    cand = S.similar_pairs(
        clustered_emb, threshold=0.8, n_clusters=8, candidates_only=True
    )
    assert "Generate" not in audit.executed_plan(cand)


def test_winsorize_small_group_edges(spark):
    """winsorize_cap cut definition on tiny groups: ceil(0.05*n) is 1
    for n<=20 (lo = group min) and ceil(0.95*n)=n for n<=... — verify
    the discrete-rank contract on a 3-row group: lo = min, hi = the
    ceil(0.95*3)=3rd value = max, so nothing clamps."""
    from hudi_spark_utilities_plus_spark.queries import QUERIES
    import tempfile, os
    import pyspark.sql.functions as F

    root = tempfile.mkdtemp(prefix="winsor_edge_")
    rows = [(1, 100.0, "A"), (2, 200.0, "A"), (3, 300.0, "A")]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderpriority string"
    ).withColumn("o_custkey", F.lit(1)).withColumn(
        "o_orderstatus", F.lit("O")
    ).withColumn("o_orderdate", F.lit("2024-01-01").cast("timestamp"))
    df.write.parquet(os.path.join(root, "orders.parquet"))
    out = {r["o_orderpriority"]: r for r in QUERIES["winsorize_cap"](spark, root).collect()}
    a = out["A"]
    assert a["lo"] == 10000 and a["hi"] == 30000  # cents: min / max
    assert a["n_below"] == 0 and a["n_above"] == 0
    assert a["winsorized_cents"] == 60000


def test_interval_join_boundary_inclusion(spark):
    """join_interval_bucketed containment is [start, end): a point
    exactly at w_start joins, a point exactly at w_end does not."""
    from hudi_spark_utilities_plus_spark.queries import QUERIES
    import tempfile, os
    import pyspark.sql.functions as F
    import datetime

    root = tempfile.mkdtemp(prefix="ivl_edge_")
    d0 = datetime.datetime(2024, 1, 1)
    events = [
        (1, d0, 0, "view", 1.0, None),                                  # == w0 start -> in w0
        (2, d0 + datetime.timedelta(days=3), 0, "view", 2.0, None),     # == w0 end -> NOT in w0; in w1 [d2,d5)
    ]
    spark.createDataFrame(
        events, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(os.path.join(root, "events.parquet"))
    spark.createDataFrame(
        [(0, "W0", 0), (1, "W1", 0)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.parquet(os.path.join(root, "nation.parquet"))
    got = {r["window_id"]: r["n_events"] for r in QUERIES["join_interval_bucketed"](spark, root).collect()}
    # window 0 = [d0, d0+3d): only event 1. window 1 = [d0+2d, d0+5d): only event 2.
    assert got == {0: 1, 1: 1}, got


def test_containment_catches_padded_copy_jaccard_misses(spark):
    """The asymmetric case that motivates containment dedup: doc B =
    doc A + ~60% boilerplate padding. Jaccard(A,B) ≈ 0.6 < 0.8 (the
    jaccard op must NOT pair them) while containment = |∩|/|A| ≈ 1
    (the containment op MUST)."""
    from hudi_spark_utilities_plus_spark.operators import dedup as D

    base = " ".join(f"tok{i}" for i in range(40))
    padded = base + " " + " ".join(f"pad{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, base), (2, padded), (3, "completely different words here")],
        "doc_id long, text string",
    )
    cont = {(r["doc_a"], r["doc_b"]) for r in
            D.containment_pairs(df, "text", "doc_id", n=3).collect()}
    assert (1, 2) in cont, cont
    jac = {(r["doc_a"], r["doc_b"]) for r in
           D.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.8)
           .select("doc_a", "doc_b").collect()}
    assert (1, 2) not in jac, jac


def test_editdistance_blocking_contract(spark):
    """dedup_editdistance's blocking contract: a 2-char edit past the
    block prefix is caught with its exact distance; an edit INSIDE the
    first 8 chars is the documented blocking miss; distance > 5 is
    rejected."""
    from hudi_spark_utilities_plus_spark.operators.dedup import scatter  # noqa: F401
    from hudi_spark_utilities_plus_spark.queries import QUERIES
    import os, tempfile

    base = "the quick brown fox jumps over the lazy"  # 39 chars
    rows = [
        (1, base),
        (2, base[:20] + "XY" + base[22:]),      # 2-edit past the block
        (3, "ZZZ" + base[3:]),                  # edit inside the block -> miss
        (4, "completely different title text here!!"),
    ]
    root = tempfile.mkdtemp(prefix="edt_")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(root, "documents.parquet")
    )
    got = {(r["doc_a"], r["doc_b"]): r["dist"]
           for r in QUERIES["dedup_editdistance"](spark, root).collect()}
    assert got.get((1, 2)) == 2, got
    assert (1, 3) not in got and (2, 3) not in got
    assert all(k != (1, 4) for k in got)


def test_containment_candidate_volume_tracks_true_pairs(spark, sf_dir):
    """Scale contract of the containment prefix filter: on an amplified
    corpus (each doc duplicated K times under fresh ids) the candidate
    count must track the PLANTED true pairs (N·K·(K-1)/2 copy-pairs plus
    whatever near-dup structure the base corpus already has), not the
    corpus² cross product — the bound that makes the operator viable at
    100 TB. K=6 on the 500-doc fixture gives 3,000 docs: corpus² is
    ~4.5M ordered pairs; the assert holds candidates an order of
    magnitude under that, at O(true pairs)."""
    from hudi_spark_utilities_plus_spark.operators import dedup as D

    K = 6
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    n_base = base.count()
    amplified = base.selectExpr(
        f"explode(sequence(0, {K - 1})) AS copy", "doc_id", "text"
    ).selectExpr("concat(doc_id, '#', copy) AS doc_id", "text")

    s = D._shingled(amplified, "text", "doc_id", 3).withColumn(
        "shh", F.array_sort(F.transform("sh", lambda x: F.xxhash64(x)))
    )
    n_cand_hash = D._containment_candidates(s, 9, 10, 2).count()
    n_cand_freq = D._containment_candidates(
        D._freq_ordered(s), 9, 10, 2
    ).count()
    true_pairs = D.containment_pairs(
        amplified, "text", "doc_id", n=3
    ).count()

    planted = n_base * K * (K - 1) // 2
    assert true_pairs >= planted, (true_pairs, planted)
    corpus_sq = (n_base * K) * (n_base * K - 1) // 2
    # frequency-ascending prefixes (what containment_pairs uses): the
    # candidate set is a small multiple of the TRUE pairs — unrelated
    # docs essentially never collide on a rare prefix shingle
    assert n_cand_freq <= 4 * true_pairs + 10 * n_base * K, (
        n_cand_freq,
        true_pairs,
    )
    assert n_cand_freq < corpus_sq / 10, (n_cand_freq, corpus_sq)
    # and it must actually beat hash-ordered prefixes (the ordering is
    # the load-bearing optimization, not a no-op)
    assert n_cand_freq < n_cand_hash / 2, (n_cand_freq, n_cand_hash)


def _brute_pairs(docs, n, pred):
    """O(n²) reference: shingle sets in Python, pred(inter, na, nb)."""
    import itertools

    def sh(text):
        toks = text.split()
        return {
            " ".join(toks[i : i + n]) for i in range(max(0, len(toks) - n + 1))
        }

    sets = {d: sh(t) for d, t in docs if len(t.split()) >= n}
    out = set()
    for (da, sa), (db, sb) in itertools.combinations(sorted(sets.items()), 2):
        if pred(len(sa & sb), len(sa), len(sb)):
            out.add((da, db))
    return out


@pytest.mark.parametrize("shape", ["random", "boilerplate", "chains"])
def test_prefix_filters_lossless_vs_bruteforce(spark, shape):
    """Lossless-filter property of the PPJoin upgrades (frequency-
    ordered prefixes + positional filter): on seeded corpora — uniform
    random vocab, a HOT-SHINGLE corpus where every doc shares the same
    boilerplate sentence (the skew case the frequency order exists
    for), and mutation chains with graded overlap — both prefix-filter
    dedups must return EXACTLY the brute-force O(n²) pair set. A
    positional-filter off-by-one or an ordering inconsistency between
    docs shows up here as a missing pair."""
    import random

    rng = random.Random(1234 + len(shape))
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    if shape == "random":
        for i in range(60):
            docs.append((f"d{i:03d}", " ".join(rng.choices(vocab, k=rng.randint(12, 40)))))
        # plant exact + padded copies
        docs.append(("dup_a", docs[0][1]))
        docs.append(("pad_a", docs[1][1] + " " + " ".join(rng.choices(vocab, k=10))))
    elif shape == "boilerplate":
        boiler = "terms of service apply to all content on this site"
        for i in range(60):
            body = " ".join(rng.choices(vocab, k=rng.randint(10, 30)))
            docs.append((f"d{i:03d}", boiler + " " + body))
        docs.append(("dup_b", docs[5][1]))
    else:  # chains: successive small mutations
        base = rng.choices(vocab, k=30)
        cur = list(base)
        for i in range(40):
            if i % 4 == 3:
                cur = list(cur)
                cur[rng.randrange(len(cur))] = rng.choice(vocab)
            docs.append((f"d{i:03d}", " ".join(cur)))

    from hudi_spark_utilities_plus_spark.operators import dedup as D

    df = spark.createDataFrame(docs, "doc_id string, text string")

    got_j = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in D.ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    want_j = _brute_pairs(
        docs, 3, lambda i, a, b: a and b and i / (a + b - i) >= 0.8
    )
    assert got_j == want_j, (
        f"jaccard {shape}: missing={sorted(want_j - got_j)[:5]} "
        f"extra={sorted(got_j - want_j)[:5]}"
    )

    got_c = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in D.containment_pairs(df, "text", "doc_id", n=3).collect()
    }
    want_c = _brute_pairs(
        docs,
        3,
        lambda i, a, b: a
        and b
        and max(a, b) <= 2 * min(a, b)
        and i * 10 >= 9 * min(a, b),
    )
    assert got_c == want_c, (
        f"containment {shape}: missing={sorted(want_c - got_c)[:5]} "
        f"extra={sorted(got_c - want_c)[:5]}"
    )


def test_lossless_prefix_len_integer_exact(spark):
    """_lossless_prefix_len must equal n - ceil(num*n/den) + 1 EXACTLY
    for every size — the float form floor(n*(1-t))+1 loses 1 whenever
    the product rounds down across an integer (1.0-0.8 is
    0.19999999999999996, so n=10 gave 2 where losslessness needs 3;
    containment's 1 - 9/20 loses at n=20). Sweep the thresholds the
    operators ship plus adversarial rationals over n = 1..400."""
    # the last case is an overflow probe: den ~1e6 (limit_denominator's
    # cap) times a 100k-shingle doc overflows int32 — the LONG widening
    # must keep the bound exact instead of throwing under ANSI
    cases = [(4, 5), (9, 10), (9, 20), (1, 2), (17, 20), (7, 10), (1, 3),
             (123457, 999983)]
    sizes = list(range(1, 401)) + [50_000, 100_000]
    df = spark.createDataFrame([(n,) for n in sizes], "n int")
    for num, den in cases:
        got = {
            r["n"]: r["p"]
            for r in df.select(
                "n", D._lossless_prefix_len(F.col("n"), num, den).alias("p")
            ).collect()
        }
        for n in sizes:
            # exact rational ceil, no float: ceil(a/b) = -((-a)//b) —
            # math.ceil(num*n/den) itself disagrees on this very sweep,
            # which is the defect class under test
            want_exact = n - (num * n + den - 1) // den + 1
            assert got[n] == want_exact, (num, den, n, got[n], want_exact)


def test_prefix_filter_exact_boundary_pairs(spark):
    """Regression for the float prefix-length off-by-one: pairs sitting
    EXACTLY at the threshold, with sizes that make floor(n*(1-t))+1
    come up one short, must still be emitted. Jaccard: x has 10
    shingles, y's 8 are a subset -> J = 8/10 = threshold; the old code
    indexed only x's 2 rarest (= its 2 unshared) shingles, so the pair
    never collided. Containment: x has 20 shingles, y has 10, overlap 9
    -> C = 9/10 = t at the 2x size-window edge; the old prefix (11)
    covered only x's 11 unshared shingles."""
    wx = [f"jx{i}" for i in range(12)]
    docs_j = [
        ("jbig", " ".join(wx)),  # 10 shingles
        ("jsub", " ".join(wx[:10])),  # 8 shingles, all shared
        ("jnoise", " ".join(f"z{i}" for i in range(8))),
    ]
    df_j = spark.createDataFrame(docs_j, "doc_id string, text string")
    got_j = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(
            df_j, "text", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    assert ("jbig", "jsub") in got_j, got_j

    wy = [f"cy{i}" for i in range(12)]
    big = wy[:11] + [f"cpad{i}" for i in range(11)]  # 22 words, 20 shingles
    docs_c = [
        ("cbig", " ".join(big)),
        ("csmall", " ".join(wy)),  # 10 shingles, 9 shared with cbig
        ("cnoise", " ".join(f"q{i}" for i in range(8))),
    ]
    df_c = spark.createDataFrame(docs_c, "doc_id string, text string")
    got_c = {
        (r["doc_a"], r["doc_b"])
        for r in D.containment_pairs(df_c, "text", "doc_id", n=3).collect()
    }
    assert ("cbig", "csmall") in got_c, got_c


def test_similarity_degenerate_inputs(spark):
    """Robustness guards added after the similarity review: NULL/empty
    embeddings must be dropped (not crash the k-means seed / radii
    driver code), zero-norm vectors must yield NULL cosine under ANSI
    (try_divide) instead of DIVIDE_BY_ZERO, a query-side width mismatch
    must raise, levels<2 quantization must raise, and multiprobe_bits=2
    must actually enumerate 2-bit probes."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.operators import similarity as S

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, None),                      # NULL embedding
        (4, []),                        # empty embedding
        (5, [0.0, 0.0, 0.0, 0.0]),      # zero-norm vector
        (6, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    # similar_pairs: must not crash; pair (1,2) found; 3/4/5 absent
    got = {
        (r["id_a"], r["id_b"])
        for r in S.similar_pairs(
            df, threshold=0.9, id_col="vec_id", vec_col="embedding",
            n_clusters=2,
        ).collect()
    }
    assert (1, 2) in got, got
    assert not any(3 in p or 4 in p or 5 in p for p in got), got

    # brute-force top-k: zero-norm corpus row must not throw under ANSI
    res = S.cosine_topk_bruteforce(df, df.filter("vec_id = 1"), k=2)
    assert [r["neighbor_id"] for r in res.collect()] == [2, 6]

    # query-side width mismatch raises loudly
    bad_q = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="width"):
        S.ann_topk_lsh(df, bad_q)
    with _pytest.raises(ValueError, match="width"):
        S.cosine_topk_bruteforce(df, bad_q)
    with _pytest.raises(ValueError, match="width"):
        S.ivf_topk(df, bad_q)

    # degenerate quantization rejected
    with _pytest.raises(ValueError, match="levels"):
        S.quantize_embeddings(df.filter("embedding is not null"), levels=1)


def test_ann_lsh_multiprobe_enumerates_requested_bits(spark):
    """multiprobe_bits=2 was silently treated as 1; the probe set must
    now contain all C(band_bits, m) masks for m <= multiprobe_bits —
    verified behaviorally: recall at bits=2 must be >= recall at bits=0
    and the candidate sets must differ on a fixture where 1-bit probes
    miss."""
    from hudi_spark_utilities_plus_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(8)
    counts = []
    for bits in (0, 1, 2):
        res = S.ann_topk_lsh(
            emb, q, k=5, band_bits=6, n_bands=4, multiprobe_bits=bits
        )
        counts.append(res.count())
    # more probes can only add candidates -> result size monotone
    assert counts[0] <= counts[1] <= counts[2], counts


def test_packing_degenerate_inputs(spark):
    """Packing/chunking guards from the round-8 review: fractional and
    NULL token columns must not skew pack_id (the long-cast running sum
    minus the RAW double used to shift every assignment to -1);
    budget<=0 and preceding<=0 raise; empty/NULL documents yield ZERO
    chunks (not a phantom 1-token empty chunk); range_frame_sum keeps
    NULL-key rows as their own peer group like the native RANGE
    window."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.operators import packing as P
    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        range_frame_sum,
    )

    # fractional tokens: both docs fit pack 0 (budget huge)
    frac = spark.createDataFrame(
        [(1, 0.5), (2, 0.5), (3, None)], "doc_id int, tok double"
    )
    got = {r["doc_id"]: r["pack_id"] for r in P.pack_assignments(
        frac, "doc_id", "tok", budget=1000).collect()}
    assert got == {1: 0, 2: 0, 3: 0}, got

    with _pytest.raises(ValueError, match="budget"):
        P.pack_assignments(frac, "doc_id", "tok", budget=0)

    # empty / whitespace / NULL docs yield no chunks
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, "   "), (4, None)],
        "doc_id int, text string",
    )
    chunks = P.chunk_documents(docs, "text", "doc_id", size=3, stride=2)
    rows = chunks.collect()
    assert {r["doc_id"] for r in rows} == {1}, rows
    assert all(r["chunk_tokens"] >= 1 and r["chunk_text"] for r in rows)

    # range_frame_sum: NULL keys form their own peer group
    kv = spark.createDataFrame(
        [(None, 5), (None, 7), (10, 1), (12, 2)], "k int, v int"
    )
    out = {r["k"]: r["frame_sum"] for r in range_frame_sum(
        kv, "k", F.col("v"), preceding=5).collect()}
    assert out == {None: 12, 10: 1, 12: 3}, out
    with _pytest.raises(ValueError, match="preceding"):
        range_frame_sum(kv, "k", F.col("v"), preceding=0)


def test_global_row_number_no_second_exchange(spark):
    """The local ordinal comes off monotonically_increasing_id after the
    in-partition sort — a Window.partitionBy(partition-tag) would plan a
    SECOND full hash exchange on data the range shuffle already
    colocated. Pin: no hashpartitioning exchange in the executed plan,
    and the result matches a ground-truth global sort."""
    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        global_row_number,
    )

    df = spark.range(5000).select(
        F.col("id"), (F.col("id") * 37 % 4999).alias("k")
    )
    out, n = global_row_number(df, [F.col("k"), F.col("id")])
    assert n == 5000
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan[:2000]
    got = [r["id"] for r in out.orderBy("rn").collect()]
    want = [r["id"] for r in df.orderBy("k", "id").collect()]
    assert got == want


def test_text_and_multimodal_degenerate_inputs(spark):
    """Round-8 review guards: astral-plane chars fingerprint by CODEPOINT
    (cross-engine — Spark's old split('')+ascii() iterated UTF-16
    surrogates); NULL text gets NULL lang/fingerprint; NULL payloads and
    undecodable bytes never kill a mapInPandas task; window energies sum
    exactly in int64 past the float53 boundary; the 224-fit's bound side
    is exactly 224."""
    from hudi_spark_utilities_plus_spark.operators import multimodal as MM
    from hudi_spark_utilities_plus_spark.operators import text as T

    # astral codepoint fingerprint: the reference fold is Python ord()
    # (true codepoints — what DuckDB's ascii() also returns)
    texts = ["plain ascii", "emoji \U0001F600 and \U0001F680 here", ""]
    df = spark.createDataFrame([(t,) for t in texts] + [(None,)], "t string")
    got = {
        r["t"]: r["fp"]
        for r in df.select(
            "t", T.rolling_fingerprint(F.col("t")).alias("fp")
        ).collect()
    }
    for t in texts:
        acc = 0
        for ch in t:
            acc = (acc * 31 + ord(ch)) % 1_000_000_007
        assert got[t] == acc, (t, got[t], acc)
    assert got[None] is None

    # NULL text -> NULL language, not 'zh'
    lang = df.select(T.lang_id(F.col("t")).alias("lang")).collect()
    assert any(r["lang"] is None for r in lang)
    assert not any(r["lang"] == "zh" for r in lang if r["lang"] is None)

    # NULL payload rows must not kill the Arrow task in any operator
    pay = spark.createDataFrame(
        [(1, b"hello world"), (2, None), (3, b"\xff\xfe\xff")],
        "doc_id long, payload binary",
    )
    feats = {r["doc_id"]: r["n_bytes"] for r in MM.extract_features(
        pay, use_codec=False).collect()}
    assert feats[2] == 0 and feats[1] == 11
    frames = MM.sample_frames(pay).groupBy("doc_id").count().collect()
    assert {r["doc_id"] for r in frames} == {1, 2, 3}
    # undecodable payload (0xff) emits no audio windows; valid one does
    energy = MM.audio_window_energy(pay, window=4).collect()
    assert {r["doc_id"] for r in energy} == {1}

    # int64-exact energy past the float53 boundary: 8000 max codepoints
    big = spark.createDataFrame(
        [(9, ("\U0010FFFF" * 8000).encode("utf-8"))],
        "doc_id long, payload binary",
    )
    e = MM.audio_window_energy(big, window=8000).collect()[0]
    assert e["energy"] == 8000 * 0x10FFFF * 0x10FFFF  # exact int sum
    assert e["n_samples"] == 8000

    # 224-fit: the bound side is EXACTLY the target for widths that the
    # float form truncated to 223 (e.g. 55 -> 223.99999999999997)
    from hudi_spark_utilities_plus_spark.operators.multimodal import (
        resize_media,
    )
    docs = spark.createDataFrame(
        [(1, "x" * 100)], "doc_id long, text string"
    )
    # drive _fit directly through the stand-in by checking the invariant
    rows = resize_media(MM.attach_payload(docs), use_codec=False).collect()
    for r in rows:
        assert max(r["out_w"], r["out_h"]) == 224 or (
            r["in_w"] <= 224 and r["in_h"] <= 224
        )
        # the bound side is exact: scale ratios imply one side == 224
        assert 224 in (r["out_w"], r["out_h"])


def test_ivf_index_build_query_and_partition_pruning(spark, sf_dir, tmp_path):
    """Persisted IVF index: build once (k-means paid at build), then
    query with NO training job and a partition-pruned read — only the
    probed clusters' files are opened (inputFiles-pinned). Results
    must EXACTLY match the one-shot ivf_topk at the same
    (n_clusters, n_probe, kmeans_iters): same deterministic k-means,
    same scoring, same tie order."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    idx_path = str(tmp_path / "ivf")
    meta = S.build_ivf_index(emb, idx_path, n_clusters=4, kmeans_iters=2)
    assert meta["n_clusters"] == 4 and meta["dim"] == 64
    assert os.path.exists(os.path.join(idx_path, "_centroids.json"))
    # hive layout: one directory per cluster
    part_dirs = {
        d for d in os.listdir(os.path.join(idx_path, "data"))
        if d.startswith("cluster=")
    }
    assert part_dirs == {f"cluster={i}" for i in range(4)}, part_dirs

    got = S.ivf_index_topk(spark, idx_path, qs, k=5, n_probe=2)
    want = S.ivf_topk(emb, qs, k=5, n_clusters=4, n_probe=2, kmeans_iters=2)
    g = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in got.collect()}
    w = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in want.collect()}
    assert g == w, "persisted-index results diverge from one-shot ivf_topk"

    # partition pruning, pinned two ways for a single-query n_probe=1
    # run: (a) the executed plan carries a PartitionFilters entry on the
    # cluster column (the pruning mechanism), and (b) input_file_name()
    # at execution — the files ACTUALLY read, where inputFiles() would
    # report the unpruned FileIndex — touches exactly one cluster dir
    from hudi_spark_utilities_plus_spark.plans import audit

    one_q = emb.filter(F.col("vec_id") == 0)
    res = S.ivf_index_topk(spark, idx_path, one_q, k=3, n_probe=1)
    assert res.count() == 3
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*cluster[^\]]*)\]",
                  audit.executed_plan(res))
    assert m and m.group(1).strip(), audit.executed_plan(res)
    probed_scan = spark.read.parquet(os.path.join(idx_path, "data")).filter(
        F.col("cluster") == 0
    )
    touched = {
        r[0].split("/data/")[1].split("/")[0]
        for r in probed_scan.select(F.input_file_name()).distinct().collect()
    }
    assert touched == {"cluster=0"}, touched


def test_ivf_index_guards(spark, sf_dir, tmp_path):
    """Empty corpus refuses to build; mismatched query width refuses to
    query; an empty query frame returns an empty typed result; the
    centroid sidecar is published atomically (complete JSON, no tmp
    debris — a crash mid-dump must never strand a truncated sidecar
    that poisons every later ivf_index_topk)."""
    import json as _json
    import os as _os

    import pytest as _pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx_path = str(tmp_path / "ivf2")
    with _pytest.raises(ValueError, match="empty corpus"):
        S.build_ivf_index(emb.filter(F.lit(False)), str(tmp_path / "nope"))
    S.build_ivf_index(emb, idx_path, n_clusters=2, kmeans_iters=1)
    assert not [f for f in _os.listdir(idx_path) if ".tmp." in f]
    with open(_os.path.join(idx_path, "_centroids.json")) as fh:
        side = _json.load(fh)  # parses => complete, not truncated
    assert len(side["centroids"]) == side["n_clusters"] == 2
    bad_q = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="width"):
        S.ivf_index_topk(spark, idx_path, bad_q)
    empty = S.ivf_index_topk(spark, idx_path, emb.filter(F.lit(False)), k=3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "neighbor_id", "cos_sim", "rnk",
    ]


def test_duplicated_spans_fixture(spark):
    """Substring dedup on a crafted corpus: a 16-char block shared by
    two docs merges its three overlapping grid hits (L=8, s=4) into ONE
    [0, 16) region; a doc with TWO shared blocks separated by unique
    middles reports two islands; within-doc-only repetition (distinct
    docs = 1) and sub-L docs report nothing."""
    from hudi_spark_utilities_plus_spark.operators import spans as SP

    shared = "ABCDEFGHIJKLMNOP"        # 16 chars
    shared2 = "0a1b2c3d4e5f6g7h"       # 16 chars, disjoint 8-grams
    rows = [
        (1, shared + "qrstuvwxyz!?????"),          # dup [0,16) of 32
        (2, shared + "QRSTUVWXYZ678###"),          # dup [0,16) of 32
        (3, "zyxwvutsrqponmlkjihgfedcba"),         # clean
        (4, "tiny"),                               # < span_len: no grid
        (5, "1234567812345678123456781234"),       # within-doc only
        (6, shared + "!!!###$$$%%%" + shared2),    # two islands, len 44
        (7, shared + "&&&***((();;" + shared2),    # two islands, len 44
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_shingles"])
        for r in SP.duplicated_spans(df, span_len=8, stride=4).collect()
    }
    assert got == {
        (1, 0, 16, 3), (2, 0, 16, 3),
        (6, 0, 16, 3), (6, 28, 44, 3),
        (7, 0, 16, 3), (7, 28, 44, 3),
    }, got

    cov = {
        r["doc_id"]: (r["doc_len"], r["dup_chars"], r["keep"])
        for r in SP.substring_dup_coverage(
            df, span_len=8, stride=4
        ).collect()
    }
    # doc 1: EXACTLY half duplicated -> 2*16 <= 32 -> keeps (the rule
    # drops only MORE-than-half; empty docs keep by the same test)
    assert cov[1] == (32, 16, True)
    assert cov[2] == (32, 16, True)
    assert cov[3] == (26, 0, True)
    assert cov[4] == (4, 0, True)       # sub-L doc still rows out
    assert cov[5] == (28, 0, True)      # within-doc repeats don't count
    assert cov[6] == (44, 32, False)    # 64 > 44: more than half -> drop
    assert cov[7] == (44, 32, False)
    assert len(cov) == 7

    # transformation half: the minimal owner of a shared block keeps
    # its copy; everyone else gets the block spliced out. doc 1 owns
    # the prefix block (min doc_id), doc 6 owns shared2.
    stripped = {
        r["doc_id"]: (r["cleaned_text"], r["removed_chars"])
        for r in SP.strip_duplicated_spans(
            df, span_len=8, stride=4
        ).collect()
    }
    assert stripped[1] == (rows[0][1], 0)              # canonical: intact
    assert stripped[2] == ("QRSTUVWXYZ678###", 16)     # prefix cut
    assert stripped[3] == (rows[2][1], 0)
    assert stripped[4] == ("tiny", 0)
    assert stripped[5] == (rows[4][1], 0)              # within-doc: kept
    assert stripped[6] == ("!!!###$$$%%%" + shared2, 16)  # owns shared2
    assert stripped[7] == ("&&&***((();;", 32)         # loses both
    assert len(stripped) == 7


def test_pq_codebook_encode_and_topk(spark, sf_dir):
    """Product quantization: deterministic per-subspace codebooks,
    Arrow-batched encoding (codes in-alphabet, exact norms), ADC
    shortlist + exact-cosine rerank recall vs brute force, and the
    train-once contract — one-shot pq_topk equals the prebuilt
    codebook/encoded path exactly (same deterministic k-means)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    cb = S.build_pq_codebook(emb, m=8, bits=4)
    assert cb["dim"] == 64 and cb["dsub"] == 8 and len(cb["codebooks"]) == 8
    assert all(1 <= len(c) <= 16 for c in cb["codebooks"])

    enc = S.pq_encode(emb, cb)
    rows = enc.collect()
    sizes = [len(c) for c in cb["codebooks"]]
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < sizes[i] for i, c in enumerate(r["codes"]))
        assert r["d_norm"] > 0
    again = {r["neighbor_id"]: tuple(r["codes"]) for r in S.pq_encode(emb, cb).collect()}
    assert {r["neighbor_id"]: tuple(r["codes"]) for r in rows} == again

    pq = S.pq_topk(emb, qs, k=5, codebook=cb, encoded=enc, shortlist=100)
    bf = S.cosine_topk_bruteforce(emb, qs, k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in pq.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    recall = len(got & want) / len(want)
    # uniform random vectors are PQ's worst case; measured 0.88 at a
    # 100-of-500 shortlist — a broken codebook or gather lands near 0.2
    assert recall >= 0.8, recall

    one = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in S.pq_topk(emb, qs, k=5, m=8, bits=4, shortlist=100).collect()
    }
    two = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in pq.collect()
    }
    assert one == two, "one-shot PQ diverges from the prebuilt-artifact path"


def test_pq_guards_and_planted_duplicate(spark):
    """dim % m != 0 and an empty corpus refuse loudly; a width mismatch
    on either side names the caller's vector column; a query whose
    exact duplicate lives in the corpus retrieves it at rank 1 with
    cos_sim 1.0 (the shortlist covers the corpus, rerank is exact)."""
    import pytest as _pytest

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="not divisible"):
        S.build_pq_codebook(df, m=3, bits=2)
    with _pytest.raises(ValueError, match="empty corpus"):
        S.build_pq_codebook(df.filter(F.lit(False)), m=4, bits=2)

    # a width mismatch names the caller's column, not an internal one
    cb = S.build_pq_codebook(df, m=4, bits=2)
    narrow = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="query vector width 4.*'embedding'"):
        S.pq_topk(df, narrow, k=3, codebook=cb, encoded=S.pq_encode(df, cb))
    with _pytest.raises(ValueError, match="corpus vector width 4.*'embedding'"):
        S.pq_encode(narrow, cb)

    dup_of_7 = [(999, rows[7][1])]
    q = spark.createDataFrame(dup_of_7, "vec_id long, embedding array<double>")
    res = S.pq_topk(df, q, k=3, m=4, bits=2, shortlist=40)
    top = res.filter(F.col("rnk") == 1).first()
    assert top["neighbor_id"] == 7, top
    assert abs(top["cos_sim"] - 1.0) < 1e-12


def test_pq_blocked_path_matches_driver_path(spark, sf_dir):
    """The executor-side blocked-cogroup ADC path (bulk query batches,
    VERDICT r14 ask 4) returns EXACTLY the driver-broadcast path's
    top-k: at a shortlist covering the corpus both engines rerank the
    same candidate set with the exact cosine, so equality is a
    contract, not a recall statement. Blocks are forced tiny so the
    parity run crosses MANY (corpus-block x query-block) cells, and
    the plan is pinned: the blocked engine runs a cogrouped Arrow UDF
    (FlatMapCoGroupsInPandas) and never collects the query batch; the
    driver engine never cogroups."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    cb = S.build_pq_codebook(emb, m=8, bits=4)
    enc = S.pq_encode(emb, cb)

    drv = S.pq_topk(emb, qs, k=5, codebook=cb, encoded=enc, shortlist=600)
    blk = S.pq_topk(
        emb, qs, k=5, codebook=cb, encoded=enc, shortlist=600,
        driver_query_limit=0,
    )
    d = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"], round(r["cos_sim"], 12))
        for r in drv.collect()
    )
    b = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"], round(r["cos_sim"], 12))
        for r in blk.collect()
    )
    assert d == b and len(d) > 0

    # many-cell crossing: shortlist still covers the corpus, so the
    # union-of-cell-top-s must reconstruct the identical global result
    qsd = S._valid_vecs(qs, "embedding").select(
        F.col("vec_id").alias("query_id"),
        S.as_double(F.col("embedding")).alias("q_vec"),
    )
    cells = S._pq_shortlist_blocked(
        enc, qsd, cb, 600, q_block_rows=3, c_block_rows=50
    )
    n_q = qsd.count()
    n_corpus = enc.count()
    assert cells.count() == n_q * (n_corpus - 1)  # every non-self pair

    assert "FlatMapCoGroupsInPandas" in blk._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in drv._jdf.queryExecution().executedPlan().toString()


def test_pq_threshold_boundary_and_typed_empty(spark):
    """driver_query_limit semantics: a batch AT the limit stays on the
    broadcast engine, one past it flips to the blocked engine, and both
    return the same neighbors. Empty query batches return a frame typed
    from the INPUTS (string ids stay strings — the hardcoded-long skew
    the r14 ADVICE flagged)."""
    rows = [
        (i, [float((i * 13 + j * 5) % 17) - 8.0 for j in range(8)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") < 4)
    cb = S.build_pq_codebook(emb, m=4, bits=2)
    enc = S.pq_encode(emb, cb)
    at = S.pq_topk(
        emb, qs, k=3, codebook=cb, encoded=enc, shortlist=30,
        driver_query_limit=4,
    )
    past = S.pq_topk(
        emb, qs, k=3, codebook=cb, encoded=enc, shortlist=30,
        driver_query_limit=3,
    )
    plan_at = at._jdf.queryExecution().executedPlan().toString()
    plan_past = past._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan_at
    assert "FlatMapCoGroupsInPandas" in plan_past
    a = sorted((r["query_id"], r["rnk"], r["neighbor_id"]) for r in at.collect())
    p = sorted((r["query_id"], r["rnk"], r["neighbor_id"]) for r in past.collect())
    assert a == p and len(a) == 12

    s_emb = emb.select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    e = S.pq_topk(s_emb, s_emb.filter(F.lit(False)), k=3, m=4, bits=2)
    assert e.schema["query_id"].dataType.simpleString() == "string"
    assert e.schema["neighbor_id"].dataType.simpleString() == "string"
    assert e.count() == 0


def test_refine_span_bounds_fixture(spark):
    """Boundary refinement on a crafted corpus: a 28-char block planted
    at offsets 2 and 6 of two docs (equal mod stride 4, so the grid
    detects it) leaves stride-snap gaps of 2 chars on each side; the
    refinement must recover the character-exact copy bounds. stride=1
    is the identity (grid already exact)."""
    from hudi_spark_utilities_plus_spark.operators import spans as SP

    shared = "ABCDEFGHIJKLMNOPQRSTUVWX"
    copy = "zz" + shared + "qq"  # the true duplicated region, 28 chars
    d1 = "01" + copy + "345678"  # copy at [2, 30)
    d2 = "ABCDEF" + copy + "GHI"  # copy at [6, 34)
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["span_start"], r["span_end"], r["exact_start"], r["exact_end"]
        )
        for r in SP.refine_span_bounds(
            df, span_len=8, stride=4, min_docs=2
        ).collect()
    }
    # grid snaps to [4,28)/[8,32); exact bounds recover the full copy
    assert got == {1: (4, 28, 2, 30), 2: (8, 32, 6, 34)}, got

    one = SP.refine_span_bounds(df, span_len=8, stride=1, min_docs=2)
    for r in one.collect():
        assert r["exact_start"] == r["span_start"]
        assert r["exact_end"] == r["span_end"]


def test_pq_blocked_tie_groups_match_driver(spark):
    """Duplicate-heavy corpus + a shortlist SMALLER than the ADC tie
    group — the exact shape argpartition's arbitrary tie-breaking used
    to corrupt: the blocked engine must widen the boundary tie group
    and keep the same (adc desc, neighbor_id) members the driver
    engine's global window keeps."""
    base_vec = [1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 0.25, 1.5]
    rows = [(i, base_vec) for i in range(12)]  # 12-way exact tie group
    rows += [
        (100 + i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(18)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id").isin(0, 105))
    cb = S.build_pq_codebook(emb, m=4, bits=2)
    enc = S.pq_encode(emb, cb)
    drv = S.pq_topk(emb, qs, k=4, codebook=cb, encoded=enc, shortlist=5)
    blk = S.pq_topk(
        emb, qs, k=4, codebook=cb, encoded=enc, shortlist=5,
        driver_query_limit=0,
    )
    d = sorted((r["query_id"], r["rnk"], r["neighbor_id"]) for r in drv.collect())
    b = sorted((r["query_id"], r["rnk"], r["neighbor_id"]) for r in blk.collect())
    assert d == b and len(d) == 8


def test_pq_blocked_zero_norm_rows_rank_last(spark):
    """Zero-norm corpus vectors have no cosine direction: the driver
    engine gives them NULL adc_cos (desc-NULLS-LAST), the blocked
    engine -inf — both must rank them after every finite candidate,
    and the engines must agree on the final top-k."""
    rows = [(i, [float(i + j + 1) for j in range(8)]) for i in range(10)]
    rows += [(50, [0.0] * 8), (51, [0.0] * 8)]  # zero-norm rows
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") == 0)
    cb = S.build_pq_codebook(emb, m=4, bits=2)
    enc = S.pq_encode(emb, cb)
    # k covers every finite candidate plus one zero-norm slot
    drv = S.pq_topk(emb, qs, k=10, codebook=cb, encoded=enc, shortlist=12)
    blk = S.pq_topk(
        emb, qs, k=10, codebook=cb, encoded=enc, shortlist=12,
        driver_query_limit=0,
    )
    d = [(r["rnk"], r["neighbor_id"]) for r in drv.sort("rnk").collect()]
    b = [(r["rnk"], r["neighbor_id"]) for r in blk.sort("rnk").collect()]
    assert d == b, (d, b)
    # the 9 finite candidates occupy ranks 1-9; the first zero-norm row
    # (tie-broken by neighbor_id: 50 < 51) takes rank 10 in BOTH engines
    assert len(d) == 10
    assert set(n for _, n in d[:9]) == set(range(1, 10))
    assert d[9][1] == 50, d


def test_pq_blocked_string_ids(spark):
    """The blocked engine's numpy path (object-dtype id arrays through
    repeat/lexsort/union-select) must work for STRING ids end to end
    and agree with the driver engine — the operator API does not
    restrict id types to longs."""
    rows = [
        (f"doc-{i:02d}", [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    qs = emb.filter(F.col("vec_id").isin("doc-00", "doc-07"))
    cb = S.build_pq_codebook(emb, m=4, bits=2)
    enc = S.pq_encode(emb, cb)
    drv = S.pq_topk(emb, qs, k=3, codebook=cb, encoded=enc, shortlist=30)
    blk = S.pq_topk(
        emb, qs, k=3, codebook=cb, encoded=enc, shortlist=30,
        driver_query_limit=0,
    )
    d = sorted((r["query_id"], r["rnk"], r["neighbor_id"]) for r in drv.collect())
    b = sorted((r["query_id"], r["rnk"], r["neighbor_id"]) for r in blk.collect())
    assert d == b and len(d) == 6
    assert all(isinstance(q, str) and isinstance(n, str) for q, _, n in b)


def test_refine_span_bounds_min_docs_three(spark):
    """min_docs=3: a block shared by only two docs is NOT duplicated,
    one shared by three is — and its boundary refinement still
    recovers the exact copy bounds from the three-way flank groups."""
    from hudi_spark_utilities_plus_spark.operators import spans as SP

    shared = "ABCDEFGHIJKLMNOPQRSTUVWX"
    copy = "zz" + shared + "qq"
    pair_only = "PAIRBLOCKpairblockPAIRBLOCKpair!"  # 32 chars, in 2 docs
    docs = [
        (1, "01" + copy + "345678"),
        (2, "ABCDEF" + copy + "GHI"),
        (3, "XY" + copy + "Z123"),
        (4, "@@" + pair_only + "##"),
        (5, "%%" + pair_only + "&&"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["exact_start"], r["exact_end"])
        for r in SP.refine_span_bounds(
            df, span_len=8, stride=4, min_docs=3
        ).collect()
    }
    # three-way copy refined to exact bounds; the pair-only block and
    # the pair docs produce NO islands at min_docs=3
    assert got == {1: (2, 30), 2: (6, 34), 3: (2, 30)}, got


def test_materialize_counted_fuses_count_and_cuts_lineage(spark):
    """materialize_counted must return the exact row count AND a frame
    whose plan is a scan of the materialized blocks (lineage cut), with
    values identical to the input — the single-job fusion of
    materialize() + count()."""
    from hudi_spark_utilities_plus_spark.operators.materialize import (
        materialize_counted,
    )

    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    out, n = materialize_counted(df)
    assert n == 1000
    # lineage cut: the returned plan scans the checkpointed RDD, not the
    # original range
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Range" not in plan, plan
    got = sorted((r["id"], r["v"]) for r in out.collect())
    assert got == [(i, 2 * i) for i in range(1000)]


def test_opaque_is_value_identical(spark):
    """opaque() is a plan-shape device only: wrapped expressions must
    produce bit-identical values (incl. NULL propagation) to the bare
    expression."""
    from hudi_spark_utilities_plus_spark.operators.dedup import opaque, shingles

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, ""), (4, "x y")],
        "doc_id long, text string",
    )
    bare = df.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    wrapped = df.select("doc_id", opaque(shingles(F.col("text"), 3)).alias("sh"))
    assert sorted(map(tuple, bare.collect())) == sorted(
        map(tuple, wrapped.collect())
    )


def test_freq_ordered_rebuilds_shh_and_nsh_exactly(spark):
    """_freq_ordered (rebuilds shh/n_sh from the ordered postings
    instead of joining back to the input — one fewer exchange) must
    return, per doc: shh == the input's shh, n_sh == the input's n_sh,
    and shp a permutation of shh ordered by ascending global document
    frequency (ties by hash)."""
    from hudi_spark_utilities_plus_spark.operators.dedup import (
        _freq_ordered,
        _shingled,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox leaps over the lazy cat"),
        (3, "completely different text with no overlap here at all"),
        (4, None),  # null text: dropped (no postings), as before
        (5, ""),    # single empty-ish shingle set
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = (
        _shingled(df, "text", "doc_id", 3)
        .withColumn(
            "shh", F.array_sort(F.transform("sh", lambda x: F.xxhash64(x)))
        )
        .drop("sh")
    )
    want = {
        r["doc"]: (r["shh"], r["n_sh"])
        for r in base.collect()
        if r["shh"]  # docs with no postings are dropped by _freq_ordered
    }
    got = {r["doc"]: r for r in _freq_ordered(base).collect()}
    assert set(got) == set(want)
    for doc, (shh, n_sh) in want.items():
        r = got[doc]
        assert r["shh"] == shh, (doc, r["shh"], shh)
        assert r["n_sh"] == n_sh
        assert sorted(r["shp"]) == shh  # permutation of the same hashes


def test_prefix_singleton_prune_is_lossless(spark):
    """_prefix_posts drops prefix postings whose
    shingle no other document contains (dfreq == 1) before the
    candidate self-join. The candidate set must be IDENTICAL with and
    without the prune (a candidate needs a shingle both docs contain,
    forcing dfreq >= 2), while the posting volume strictly drops on a
    corpus with unique shingles."""
    docs = [
        # doc 1's trigrams are a SUBSET of doc 2's (full containment),
        # so (1, 2) survives every lossless candidate filter
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "totally unrelated words that appear nowhere else ever"),
        (4, "another completely unique document body with rare terms"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = (
        D._shingled(df, "text", "doc_id", 3)
        .withColumn(
            "shh", F.array_sort(F.transform("sh", lambda x: F.xxhash64(x)))
        )
        .drop("sh")
    )
    s = D._freq_ordered(base)
    pruned = {
        (r["doc_a"], r["doc_b"])
        for r in D._containment_candidates(s, 9, 10, 2).collect()
    }
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in D._containment_candidates(s.drop("shc"), 9, 10, 2).collect()
    }
    assert pruned == plain == {(1, 2)}
    full = F.size("shp")
    n_pruned = D._prefix_posts(s, full).count()
    n_plain = D._prefix_posts(s.drop("shc"), full).count()
    assert n_pruned < n_plain  # docs 3/4 contribute no postings at all
    # exact-Jaccard pairs through the pruned pipeline stay exact
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.7
        ).collect()
    }
    assert pairs == {(1, 2)}
