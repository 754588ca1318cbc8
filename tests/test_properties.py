"""Property-based differential tests (hypothesis) — randomized inputs,
independent oracles.

Each test drives a distributed operator over hypothesis-generated data
and compares against an independent implementation of the same
semantics: DuckDB's native window/ASOF engine, or a direct Python
computation (union-find, brute-force Jaccard). These cover the input
shapes hand-written fixtures never enumerate — NULL placement, ties,
negative/huge keys, empty sides, self-loops.

Example counts are deliberately small (each example runs real Spark
jobs); the value is the generator's edge-case bias plus shrinking, not
volume. Deterministic seeds (derandomize) keep CI stable — a failure
here is a real counterexample, reproducible by copying the printed
falsifying example into a unit test.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


# ---------------------------------------------------------------------------
# as-of join vs DuckDB ASOF LEFT JOIN
# ---------------------------------------------------------------------------

_asof_left = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3)),  # NULL keys match nothing
        st.one_of(st.none(), st.integers(0, 20)),  # NULL probe ts: nothing
    ),
    min_size=1,
    max_size=12,
)
# right side unique on (key, ts): both engines' tie policies (among
# equal-(key, ts) right rows) are deliberately unspecified, so the
# differential property quantifies only over tie-free right sides.
# NULL right keys/ts are injected separately (they match nothing, but
# must not poison the window — a NULL-key right row used to pair with
# NULL-key left rows because partitionBy groups NULLs).
_asof_right = st.dictionaries(
    st.tuples(st.integers(0, 3), st.integers(0, 20)),
    st.integers(-100, 100),
    max_size=12,
)
_asof_right_nulls = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3)),
        st.one_of(st.none(), st.integers(0, 20)),
        st.integers(-100, 100),
    ).filter(lambda t: t[0] is None or t[1] is None),
    max_size=3,
)


@PROP
@given(
    left=_asof_left,
    right=_asof_right,
    right_nulls=_asof_right_nulls,
    tol=st.one_of(st.none(), st.integers(0, 5)),
)
def test_asof_join_matches_duckdb(spark, left, right, right_nulls, tol):
    from hudi_spark_utilities_plus_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)], "lid long, k long, lts long"
    )
    rrows = [(k, ts, v) for (k, ts), v in right.items()] + right_nulls
    rdf = spark.createDataFrame(
        rrows or [(None, None, None)], "k long, rts long, rv long"
    )
    if not rrows:
        rdf = rdf.filter(F.lit(False))
    got = {
        r["lid"]: (r["rts"], r["rv"])
        for r in asof_join(
            ldf, rdf, "k", "lts", "rts", tolerance_seconds=tol
        ).collect()
    }

    con = duckdb.connect()
    # nullable Int64, NOT default float64: pandas turns None into NaN in
    # numeric columns, and DuckDB compares NaN (NaN = NaN, NaN > x) where
    # SQL NULL matches nothing — the oracle would join NULL keys/ts
    con.register("l", pd.DataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)],
        columns=["lid", "k", "lts"],
    ).astype({"k": "Int64", "lts": "Int64"}))
    con.register("r", pd.DataFrame(
        rrows, columns=["k", "rts", "rv"]
    ).astype({"k": "Int64", "rts": "Int64", "rv": "Int64"}))
    # Predicate-semantics oracle, NOT DuckDB's ASOF syntax: DuckDB 1.0.0
    # sorts NULL ts last, so its ASOF matches a NULL-ts probe to the
    # key's LATEST right row (and a NULL-ts right row acts as +∞) —
    # judge-verified, documented in operators/asof.py. asof_join
    # deliberately implements the predicate reading (NULL matches
    # nothing), so the oracle states the predicate directly: a LEFT
    # JOIN on ``l.k = r.k AND l.lts >= r.rts`` + per-probe argmax.
    # Right is tie-free on (k, ts) by construction, so arg_max is
    # deterministic; NULL keys/ts on either side fail the ON clause.
    # tolerance on a NUMERIC event time applies in column units (pandas
    # merge_asof convention). "Pick latest ≤ lts, then null if older
    # than lts - tol" ≡ "latest within [lts - tol, lts]" because the
    # picked candidate is the max rts.
    bound = "" if tol is None else f" AND r.rts >= l.lts - {tol}"
    if rrows:
        rel = con.execute(
            "SELECT l.lid, max(r.rts) AS rts, arg_max(r.rv, r.rts) AS rv "
            f"FROM l LEFT JOIN r ON l.k = r.k AND l.lts >= r.rts{bound} "
            "GROUP BY l.lid"
        ).fetchall()
        want = {lid: (rts, rv) for lid, rts, rv in rel}
    else:
        want = {i: (None, None) for i in range(len(left))}
    assert got == want


@PROP
@given(
    left=_asof_left,
    right=_asof_right,
    right_nulls=_asof_right_nulls,
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tol=st.one_of(st.none(), st.integers(0, 5)),
)
def test_asof_directions_match_pandas(
    spark, left, right, right_nulls, direction, tol
):
    """All three directions against pandas merge_asof itself (the
    semantics donor): inclusivity at equal ts both ways, the
    nearest-tie-resolves-backward rule, and direction-sensitive
    tolerance. pandas rejects NULL merge keys, so the oracle drops
    NULL-key/ts rows first — exactly the rows asof_join's predicate
    semantics guarantee match nothing."""
    from hudi_spark_utilities_plus_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)], "lid long, k long, lts long"
    )
    rrows = [(k, ts, v) for (k, ts), v in right.items()] + right_nulls
    rdf = spark.createDataFrame(
        rrows or [(None, None, None)], "k long, rts long, rv long"
    )
    if not rrows:
        rdf = rdf.filter(F.lit(False))
    got = {
        r["lid"]: (r["rts"], r["rv"])
        for r in asof_join(
            ldf, rdf, "k", "lts", "rts",
            tolerance_seconds=tol, direction=direction,
        ).collect()
    }

    lpd = pd.DataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)],
        columns=["lid", "k", "lts"],
    )
    good = lpd.dropna().astype("int64").sort_values(["lts", "lid"])
    rpd = (
        pd.DataFrame(
            [t for t in rrows if t[0] is not None and t[1] is not None],
            columns=["k", "rts", "rv"],
        )
        .astype("int64")
        .sort_values("rts")
    )
    want = {int(i): (None, None) for i in lpd["lid"]}
    if len(good):
        m = pd.merge_asof(
            good, rpd, by="k", left_on="lts", right_on="rts",
            direction=direction,
            **({} if tol is None else {"tolerance": tol}),
        )
        for _, row in m.iterrows():
            want[int(row["lid"])] = (
                None if pd.isna(row["rts"]) else int(row["rts"]),
                None if pd.isna(row["rv"]) else int(row["rv"]),
            )
    assert got == want


# ---------------------------------------------------------------------------
# global running sum vs DuckDB window
# ---------------------------------------------------------------------------


@PROP
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-1000, 1000)), min_size=1, max_size=25
    ),
    n_parts=st.integers(1, 5),
)
def test_global_running_sum_matches_duckdb(spark, vals, n_parts):
    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        global_running_sum,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = global_running_sum(
        df, [F.col("id")], F.col("v"), n_partitions=n_parts, out_col="cum"
    )
    got = {r["id"]: r["cum"] for r in out.collect()}

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["id", "v"]).astype(
        {"id": "int64", "v": "Int64"}
    ))
    want = {
        lid: (None if c is None else int(c))
        for lid, c in con.execute(
            "SELECT id, SUM(v) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS cum FROM t"
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# range-frame sum vs DuckDB RANGE window (unique keys, incl. negative and
# beyond-double-precision magnitudes)
# ---------------------------------------------------------------------------


@PROP
@given(
    keys=st.sets(
        st.one_of(
            st.integers(-50, 50),
            st.integers(2**54 - 40, 2**54 + 40),
            st.integers(-(2**54) - 40, -(2**54) + 40),
        ),
        min_size=1,
        max_size=20,
    ),
    preceding=st.integers(1, 12),
)
def test_range_frame_sum_matches_duckdb(spark, keys, preceding):
    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        range_frame_sum,
    )

    rows = [(k, (k % 7) - 3) for k in sorted(keys)]
    df = spark.createDataFrame(rows, "k long, v long")
    out = range_frame_sum(
        df, "k", F.col("v"), preceding=preceding, out_col="s", keys_unique=True
    )
    got = {r["k"]: r["s"] for r in out.collect()}

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "v"]))
    want = {
        k: int(s)
        for k, s in con.execute(
            f"SELECT k, SUM(v) OVER (ORDER BY k RANGE BETWEEN {preceding} "
            "PRECEDING AND CURRENT ROW) AS s FROM t"
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# connected components vs union-find
# ---------------------------------------------------------------------------


@PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from hudi_spark_utilities_plus_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["comp"] for r in connected_components(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id in the component
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    want = {n: min(ms) for _root, ms in members.items() for n in ms}
    assert got == want


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dedup vs brute force over the same shingle sets
# ---------------------------------------------------------------------------

_WORDS = ["aa", "bb", "cc", "dd"]


def _py_shingles(text: str, n: int = 3) -> frozenset[str]:
    # mirrors operators/dedup.py shingles(): trim + \s+ split (an empty
    # doc yields one phantom '' token, pinned behavior), whole-text
    # shingle under n tokens, else distinct word n-grams
    toks = re.split(r"\s+", text.strip())
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6).map(
            " ".join
        ),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.5, 0.8]),
)
def test_ngram_jaccard_pairs_matches_bruteforce(spark, docs, threshold):
    from hudi_spark_utilities_plus_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, "text", "id", threshold=threshold).collect()
    }

    sets = [_py_shingles(d) for d in docs]
    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                want.add((a, b))
    assert got == want


# ---------------------------------------------------------------------------
# Hudi engine state machine vs dict replay (COW and MOR must agree)
# ---------------------------------------------------------------------------

# An op sequence over a small key space. Timestamps strictly increase
# across the whole sequence, which makes the reference model unambiguous
# AND mode-independent: a fresh delete marker always outranks current
# rows, a later upsert always outranks any earlier marker, so
# COPY_ON_WRITE's eager physical replay and MERGE_ON_READ's deferred
# (precombine, seq) merge must both land on the same final state.
# - upsert: latest-wins per key (payload derived from (key, ts), so any
#   within-batch tie resolution yields identical rows)
# - delete fresh: marker ts newer than every row -> removes the keys
# - delete stale: marker ts=0, older than every row -> MUST be a no-op
#   (the conditional-delete contract; a redelivered CDC delete must not
#   kill newer data)
# - delete key-only: no precombine column -> unconditional remove
# - delete null-ts: marker row with a NULL precombine value -> treated
#   as an UNCONDITIONAL marker (an at-least-once CDC feed emitting
#   NULL-ts deletes must still delete; COW's _unc flag and the MOR
#   read-merge's NULL-seq-barrier must agree)
# - delete mixed: one batch carries BOTH a stale valued marker (ts=0,
#   alone a no-op) and a NULL marker for the SAME key — the key must
#   still die unconditionally (max(ts) alone would silently degrade
#   this to conditional-at-0)
# - overwrite: insert_overwrite — on an unpartitioned table the whole
#   model is replaced by the batch; on a partitioned table only the
#   partitions the batch touches (p = k % 2) are replaced (dynamic
#   partition overwrite, both the hive-layout and the manifest
#   envelope-classified forms)
_hudi_ops = st.lists(
    st.tuples(
        st.sampled_from(
            [
                "upsert",
                "del_fresh",
                "del_stale",
                "del_keyonly",
                "del_nullts",
                "del_mixed",
                "crash_gap",
                "overwrite",
            ]
        ),
        st.sets(st.integers(0, 4), min_size=1, max_size=3),
    ),
    min_size=1,
    max_size=6,
)


@PROP
@given(ops=_hudi_ops, compact_at_end=st.booleans(), inline=st.booleans())
@pytest.mark.parametrize(
    "table_type,commit_mode,partitioned",
    [
        ("COPY_ON_WRITE", None, False),
        ("MERGE_ON_READ", None, False),
        # manifest COW drives the file-group-pruned partial-rewrite
        # upsert/delete paths (per-file key envelopes) through the same
        # random op sequences — any pruning miss diverges from the dict
        ("COPY_ON_WRITE", "manifest", False),
        # manifest MOR drives the envelope-pruned POINT READ's hardest
        # configuration (base file-pruning UNDER a live delta log) plus
        # log-folding compaction against the same sequences
        ("MERGE_ON_READ", "manifest", False),
        # PARTITIONED manifest tables (partition column is a data
        # column; mutations ride the same file-group paths, overwrite
        # classifies by partition envelope) — p is derived from the key
        # so the model needs no extra state; delete markers lack p and
        # must still kill (global-key merge, not partition-local)
        ("COPY_ON_WRITE", "manifest", True),
        ("MERGE_ON_READ", "manifest", True),
        # hive-layout partitioned COW: dynamic partition overwrite via
        # staging + directory swap — the oldest partitioned path, now
        # also driven through the random sequences incl. `overwrite`
        ("COPY_ON_WRITE", None, True),
    ],
)
def test_hudi_table_matches_dict_replay(
    spark, table_type, commit_mode, ops, compact_at_end, inline, partitioned
):
    import tempfile

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    with tempfile.TemporaryDirectory() as tmp:
        opts = (
            # inline compaction INTERLEAVED with the op sequence (fires
            # mid-replay every 3 delta commits on MOR): the seqbase
            # watermark, stale/NULL delete markers, and compaction must
            # commute with the dict model, not just compact-at-end
            {
                "hoodie.compact.inline": "true",
                "hoodie.compact.inline.max.delta.commits": "3",
            }
            if inline
            else {}
        )
        if commit_mode:
            opts["hoodie.commit.mode"] = commit_mode
        t = HudiTable(
            path=f"{tmp}/t",
            record_key="id",
            precombine="ts",
            table_type=table_type,
            partition_field="p" if partitioned else None,
            options=opts,
        )
        model: dict[int, tuple[int, str]] = {}
        ts = 0
        for kind, keys in ops:
            if kind == "upsert":
                rows = []
                for k in sorted(keys):
                    ts += 1
                    rows.append((k, ts, f"v{k}_{ts}"))
                    model[k] = (ts, f"v{k}_{ts}")
                if partitioned:
                    batch = spark.createDataFrame(
                        [(k, s, k % 2, v) for k, s, v in rows],
                        "id long, ts long, p long, v string",
                    )
                else:
                    batch = spark.createDataFrame(
                        rows, "id long, ts long, v string"
                    )
                t.upsert(batch, spark)
            elif kind == "del_fresh":
                ts += 1
                t.delete(
                    spark.createDataFrame(
                        [(k, ts) for k in sorted(keys)], "id long, ts long"
                    ),
                    spark,
                )
                for k in keys:
                    model.pop(k, None)
            elif kind == "del_stale":
                t.delete(
                    spark.createDataFrame(
                        [(k, 0) for k in sorted(keys)], "id long, ts long"
                    ),
                    spark,
                )  # marker older than every row: no-op
            elif kind == "del_keyonly":  # unconditional
                t.delete(
                    spark.createDataFrame(
                        [(k,) for k in sorted(keys)], "id long"
                    ),
                    spark,
                )
                for k in keys:
                    model.pop(k, None)
            elif kind == "del_nullts":  # NULL precombine — unconditional
                t.delete(
                    spark.createDataFrame(
                        [(k, None) for k in sorted(keys)], "id long, ts long"
                    ),
                    spark,
                )
                for k in keys:
                    model.pop(k, None)
            elif kind == "overwrite":
                rows = []
                for k in sorted(keys):
                    ts += 1
                    rows.append((k, ts, f"o{k}_{ts}"))
                if partitioned:
                    touched = {k % 2 for k in keys}
                    for mk in [m for m in model if m % 2 in touched]:
                        del model[mk]
                    batch = spark.createDataFrame(
                        [(k, s, k % 2, v) for k, s, v in rows],
                        "id long, ts long, p long, v string",
                    )
                else:
                    model.clear()
                    batch = spark.createDataFrame(
                        rows, "id long, ts long, v string"
                    )
                for k, s, v in rows:
                    model[k] = (s, v)
                t.insert_overwrite(batch, spark)
            elif kind == "crash_gap":
                # the allocation-crash window: a commit seq was claimed
                # but its parquet append never landed. Later commits
                # must skip the gap (never re-issue a seq) and every
                # read/merge/compaction path must be unaffected — the
                # model ignores it entirely.
                claims = t._seq_claim_store.list_claims()
                if claims:
                    t._seq_claim_store.claim(max(claims) + 1)
            else:  # del_mixed — stale valued + NULL marker, same keys
                t.delete(
                    spark.createDataFrame(
                        [(k, v) for k in sorted(keys) for v in (0, None)],
                        "id long, ts long",
                    ),
                    spark,
                )  # the NULL marker wins: unconditional despite ts=0
                for k in keys:
                    model.pop(k, None)
        if not t.exists(spark):
            # only delete ops ran: deletes on a nonexistent table no-op
            assert model == {}
            return
        if compact_at_end and table_type == "MERGE_ON_READ":
            t.compact(spark)
        got = {
            r["id"]: (r["ts"], r["v"])
            for r in t.read(spark).select("id", "ts", "v").collect()
        }
        assert got == model
        if partitioned:
            # the derived partition value must survive every path
            # (partial rewrites, log merges, compaction)
            got_p = {
                r["id"]: r["p"]
                for r in t.read(spark).select("id", "p").collect()
            }
            assert got_p == {k: k % 2 for k in model}
            # partition-scoped read == model restricted to the even
            # partition, whatever mix of base files / stale or fresh
            # log entries / envelope pruning currently serves it (the
            # MOR log-guard's random differential)
            got_ps = {
                r["id"]: (r["ts"], r["v"])
                for r in t.read(spark, partitions=[0])
                .select("id", "ts", "v")
                .collect()
            }
            assert got_ps == {
                k: val for k, val in model.items() if k % 2 == 0
            }
        # point read: read(keys=...) must equal the model restricted to
        # the probed keys, whatever mix of base files / delta log /
        # envelope pruning currently serves them (key 99 is absent from
        # every replay — the prune-to-nothing branch)
        probe = spark.createDataFrame(
            [(k,) for k in (0, 2, 4, 99)], "id long"
        )
        got_pt = {
            r["id"]: (r["ts"], r["v"])
            for r in t.read(spark, keys=probe)
            .select("id", "ts", "v")
            .collect()
        }
        assert got_pt == {k: v for k, v in model.items() if k in (0, 2, 4)}


# Partition-scoped read vs full-read-then-filter, under adversarial
# GENESIS DUPLICATES: bulk_insert appends without an index lookup, so
# the genesis batch may carry the same record key in several partitions
# and files — the base-duplicate-guard scenario (ADVICE r11 medium).
# Distinct (key, ver) pairs keep every merge winner deterministic
# (genesis rows share seq -1, so a ver tie would make the winner — and
# its partition — arbitrary, which no differential can compare).
_dup_genesis = st.lists(
    st.tuples(
        st.integers(0, 4),  # record key: small domain forces collisions
        st.integers(0, 9),  # precombine
        st.sampled_from(["a", "b", None]),  # partition (None = null part)
    ),
    min_size=1,
    max_size=12,
).map(lambda rows: sorted({(k, ver): p for k, ver, p in rows}.items()))

_log_ops = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.integers(0, 5),  # key (5 = never in genesis)
        st.integers(0, 14),  # precombine: may be STALE vs genesis
        st.sampled_from(["a", "b", "c", None]),  # may MOVE partitions
    ),
    max_size=5,
)


@PROP
@given(
    genesis=_dup_genesis,
    log_ops=_log_ops,
    n_files=st.integers(1, 3),
    verify=st.booleans(),
)
def test_partition_scoped_read_matches_filtered_full_read(
    spark, genesis, log_ops, n_files, verify
):
    """read(partitions=sel) must equal read().filter(p in sel) as a row
    multiset for EVERY selection — across genesis base duplicates
    (same key, several partitions/files), stale and fresh log entries,
    partition moves via the log, the null partition, and both
    key_unique states (the load-time verification claims it only when
    the random genesis happens to be duplicate-free; either way the
    answers must be identical, only the pruning differs) — and again
    after compaction folds the log and publishes the claim."""
    import tempfile

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    with tempfile.TemporaryDirectory() as tmp:
        opts = {"hoodie.commit.mode": "manifest"}
        if verify:
            opts["hoodie.bulkinsert.verify.unique.keys"] = "true"
        t = HudiTable(
            path=f"{tmp}/t",
            record_key="id",
            precombine="ver",
            partition_field="p",
            table_type="MERGE_ON_READ",
            options=opts,
        )
        rows = [
            (k, ver, p, f"g{k}_{ver}_{p}") for (k, ver), p in genesis
        ]
        schema = "id long, ver long, p string, v string"
        t.bulk_insert(
            spark.createDataFrame(rows, schema).repartition(n_files)
        )
        for kind, k, ver, p in log_ops:
            batch = spark.createDataFrame(
                [(k, ver, p, f"l{k}_{ver}_{p}")], schema
            )
            if kind == "upsert":
                t.upsert(batch, spark)
            else:
                t.delete(batch.select("id", "ver"), spark)

        def check(sel):
            scoped = sorted(
                map(tuple, t.read(spark, partitions=sel).collect())
            )
            full = t.read(spark)
            nonnull = [x for x in sel if x is not None]
            cond = F.col("p").isin(nonnull) if nonnull else F.lit(False)
            if None in sel:
                cond = cond | F.col("p").isNull()
            filtered = sorted(map(tuple, full.filter(cond).collect()))
            assert scoped == filtered, (sel, scoped, filtered)

        for sel in (["a"], ["b"], [None], ["a", None], ["a", "b", "c"]):
            check(sel)
        had_log = t._has_log(spark)
        t.compact(spark)
        if had_log:
            # an actual compaction is a merged full rewrite and must
            # publish the claim; with no log it's a no-op and the
            # genesis claim (False under duplicates) rightly stands
            assert t._manifest().key_unique
        check(["b", None])


@PROP
@given(ops=_hudi_ops, prefix_len=st.integers(0, 6))
def test_hudi_incremental_cursor_protocol(spark, ops, prefix_len):
    """Mirror protocol: capture latest_commit_seq() after a random
    prefix of the op sequence, then read_incremental(cursor) at the end
    must return the CURRENT snapshot rows of exactly the keys touched by
    log commits after the cursor — genesis-load keys excluded (the
    bootstrap is a full read), net-deleted keys absent (Hudi
    semantics)."""
    import tempfile

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    prefix_len = min(prefix_len, len(ops))
    with tempfile.TemporaryDirectory() as tmp:
        t = HudiTable(
            path=f"{tmp}/t",
            record_key="id",
            precombine="ts",
            table_type="MERGE_ON_READ",
        )
        model: dict[int, tuple[int, str]] = {}
        exists = False
        ts = 0
        cursor = None
        touched: set[int] = set()

        def _after_cursor() -> bool:
            return cursor is not None

        for i, (kind, keys) in enumerate(ops):
            if i == prefix_len:
                cursor = t.latest_commit_seq(spark) if exists else -1
            if kind == "upsert":
                rows = []
                for k in sorted(keys):
                    ts += 1
                    rows.append((k, ts, f"v{k}_{ts}"))
                    model[k] = (ts, f"v{k}_{ts}")
                log_commit = exists  # first upsert = genesis base load
                t.upsert(
                    spark.createDataFrame(rows, "id long, ts long, v string"),
                    spark,
                )
                exists = True
                if _after_cursor() and log_commit:
                    touched |= keys
            else:
                if not exists:
                    continue  # delete on a nonexistent table no-ops
                if kind == "del_keyonly":
                    t.delete(
                        spark.createDataFrame(
                            [(k,) for k in sorted(keys)], "id long"
                        ),
                        spark,
                    )
                else:
                    if kind == "del_fresh":
                        ts += 1
                        marker_ts: list[int | None] = [ts]
                    elif kind == "del_stale":
                        marker_ts = [0]
                    elif kind == "del_nullts":
                        marker_ts = [None]
                    else:  # del_mixed: stale valued + NULL, same keys
                        marker_ts = [0, None]
                    t.delete(
                        spark.createDataFrame(
                            [
                                (k, mts)
                                for k in sorted(keys)
                                for mts in marker_ts
                            ],
                            "id long, ts long",
                        ),
                        spark,
                    )
                if kind != "del_stale":
                    for k in keys:
                        model.pop(k, None)
                if _after_cursor():
                    touched |= keys  # a marker touches the key either way
        if cursor is None:
            cursor = t.latest_commit_seq(spark) if exists else -1
        if not exists:
            return
        got = {
            r["id"]: (r["ts"], r["v"])
            for r in t.read_incremental(spark, cursor)
            .select("id", "ts", "v")
            .collect()
        }
        want = {k: model[k] for k in touched if k in model}
        assert got == want


@PROP
@given(ops=_hudi_ops, restore_pick=st.integers(0, 10))
def test_hudi_time_travel_and_restore_match_history(spark, ops, restore_pick):
    """Timeline protocol: after every log commit, record the model
    snapshot; at the end every read(as_of_seq=s) must reproduce its
    snapshot exactly (time travel is a read-side view), and
    restore(to_seq=s) must roll the TABLE back to that same snapshot."""
    import tempfile

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    with tempfile.TemporaryDirectory() as tmp:
        t = HudiTable(
            path=f"{tmp}/t",
            record_key="id",
            precombine="ts",
            table_type="MERGE_ON_READ",
        )
        model: dict[int, tuple[int, str]] = {}
        exists = False
        ts = 0
        seq = -1
        history: list[tuple[int, dict[int, tuple[int, str]]]] = []
        for kind, keys in ops:
            if kind == "upsert":
                rows = []
                for k in sorted(keys):
                    ts += 1
                    rows.append((k, ts, f"v{k}_{ts}"))
                    model[k] = (ts, f"v{k}_{ts}")
                was_genesis = not exists
                t.upsert(
                    spark.createDataFrame(rows, "id long, ts long, v string"),
                    spark,
                )
                exists = True
                if not was_genesis:
                    seq += 1
                history.append((seq, dict(model)))
            else:
                if not exists:
                    continue
                if kind == "del_fresh":
                    ts += 1
                    t.delete(
                        spark.createDataFrame(
                            [(k, ts) for k in sorted(keys)], "id long, ts long"
                        ),
                        spark,
                    )
                    for k in keys:
                        model.pop(k, None)
                elif kind == "del_stale":
                    t.delete(
                        spark.createDataFrame(
                            [(k, 0) for k in sorted(keys)], "id long, ts long"
                        ),
                        spark,
                    )
                elif kind == "del_keyonly":
                    t.delete(
                        spark.createDataFrame(
                            [(k,) for k in sorted(keys)], "id long"
                        ),
                        spark,
                    )
                    for k in keys:
                        model.pop(k, None)
                else:  # del_nullts / del_mixed — unconditional markers
                    marker_ts = [None] if kind == "del_nullts" else [0, None]
                    t.delete(
                        spark.createDataFrame(
                            [
                                (k, mts)
                                for k in sorted(keys)
                                for mts in marker_ts
                            ],
                            "id long, ts long",
                        ),
                        spark,
                    )
                    for k in keys:
                        model.pop(k, None)
                seq += 1
                history.append((seq, dict(model)))
        if not exists:
            return

        def snap(df) -> dict[int, tuple[int, str]]:
            return {
                r["id"]: (r["ts"], r["v"])
                for r in df.select("id", "ts", "v").collect()
            }

        for s, want in history:
            assert snap(t.read(spark, as_of_seq=s)) == want, f"as_of {s}"
        s, want = history[restore_pick % len(history)]
        t.restore(spark, s)
        assert snap(t.read(spark)) == want, f"restore {s}"


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=2,
        max_size=10,
    )
)
def test_containment_pairs_matches_bruteforce(spark, docs):
    """Containment dedup vs brute force: |A∩B| >= (9/10)·min(|A|,|B|)
    within the size window max <= 2·min — the prefix/positional filter
    machinery must be lossless at exactly these integer boundaries."""
    from hudi_spark_utilities_plus_spark.operators.dedup import (
        containment_pairs,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in containment_pairs(df, "text", "id").collect()
    }

    sets = [_py_shingles(d) for d in docs]
    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            na, nb = len(sets[a]), len(sets[b])
            if max(na, nb) > 2 * min(na, nb):
                continue
            if 10 * len(sets[a] & sets[b]) >= 9 * min(na, nb):
                want.add((a, b))
    assert got == want


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=2,
        max_size=10,
    )
)
def test_minhash_lsh_pairs_subset_of_true_pairs(spark, docs):
    """MinHash-LSH precision is exact by construction (candidates are
    verified with true Jaccard), so every reported pair must be a true
    >= threshold pair — banding only affects RECALL, and identical
    documents (Jaccard 1) collide in every band, so exact-duplicate
    pairs must always be reported."""
    from hudi_spark_utilities_plus_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, "text", "id", threshold=0.8).collect()
    }

    sets = [_py_shingles(d) for d in docs]
    true_pairs = set()
    exact_dups = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= 0.8:
                true_pairs.add((a, b))
            if sets[a] == sets[b]:
                exact_dups.add((a, b))
    assert got <= true_pairs
    assert exact_dups <= got


# ---------------------------------------------------------------------------
# streaming CDC apply vs Python replay (the demux hot path, end to end)
# ---------------------------------------------------------------------------

# A randomized CDC envelope stream in micro-batches. Covers what the
# hand-written fixtures don't enumerate: malformed events (NULL op,
# NULL key, shouting/whitespace-padded op strings, ops outside the
# envelope contract), several ops per key per batch (within-batch
# compaction, with ts ties resolved by binlog position), and the same
# stream applied to COPY_ON_WRITE and MERGE_ON_READ — which must agree,
# since delivery here is in order across batches (cross-batch ts bands
# are disjoint; the out-of-order competition semantics are pinned by
# test_hudi_table_matches_dict_replay instead).
_cdc_raw_ops = st.sampled_from(
    ["insert", "update", "delete", " DELETE\n", "Insert", "truncate", None]
)
_cdc_stream = st.lists(
    st.lists(
        st.tuples(
            _cdc_raw_ops,
            st.one_of(st.none(), st.integers(0, 3)),  # record key
            st.integers(0, 2),  # ts jitter -> within-batch ties
        ),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=3,
)


def _norm_op(op: str | None) -> str | None:
    if op is None:
        return None
    s = op.strip().lower()
    return s if s in ("insert", "update", "delete") else None


@PROP
@given(batches=_cdc_stream)
@pytest.mark.parametrize("table_type", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_apply_cdc_batch_matches_replay(spark, table_type, batches):
    import tempfile

    from hudi_spark_utilities_plus_spark.lake import HudiTable
    from hudi_spark_utilities_plus_spark.streaming.cdc import apply_cdc_batch

    with tempfile.TemporaryDirectory() as tmp:
        t = HudiTable(
            path=f"{tmp}/t",
            record_key="id",
            precombine="ts",
            table_type=table_type,
        )
        model: dict[int, tuple[int, str]] = {}
        off = 0
        for bi, batch in enumerate(batches):
            rows, oracle_rows = [], []
            for op, key, jit in batch:
                off += 1  # globally unique binlog position
                ts = (bi + 1) * 10 + jit  # disjoint per-batch ts bands
                data = f"v_{key}_{ts}_{off}"
                rows.append(
                    (op, "shop", "orders", key, data, ts,
                     "mysql-bin.000001", off)
                )
                oracle_rows.append((op, key, ts, off, data))
            bdf = spark.createDataFrame(
                rows,
                "op string, db string, `table` string, id long, "
                "data string, ts long, binlog_file string, "
                "binlog_offset long",
            )
            apply_cdc_batch(t, bdf, spark)
            # replay oracle: drop malformed, compact per key by
            # (ts, position), then apply the single winner per key
            winners: dict[int, tuple[str, int, int, str]] = {}
            for op, key, ts, o, data in oracle_rows:
                nop = _norm_op(op)
                if nop is None or key is None:
                    continue
                cur = winners.get(key)
                if cur is None or (ts, o) > (cur[1], cur[2]):
                    winners[key] = (nop, ts, o, data)
            for key, (nop, ts, o, data) in winners.items():
                if nop == "delete":
                    if key in model and model[key][0] <= ts:
                        del model[key]
                elif key not in model or model[key][0] < ts:
                    model[key] = (ts, data)
        if not t.exists(spark):
            assert model == {}
            return
        got = {
            r["id"]: (r["ts"], r["data"])
            for r in t.read(spark).select("id", "ts", "data").collect()
        }
        assert got == model


# ---------------------------------------------------------------------------
# token-budget packing vs Python scan
# ---------------------------------------------------------------------------


@PROP
@given(
    toks=st.lists(
        st.one_of(st.none(), st.integers(0, 50)), min_size=1, max_size=25
    ),
    budget=st.integers(1, 20),
)
def test_pack_assignments_matches_python_scan(spark, toks, budget):
    """Contiguous concat-and-chunk: pack_id = floor(cum_before / budget)
    in id order, NULL token counts occupying zero budget — the global
    running-sum program (range partition + offsets) must agree with a
    sequential scan for any NULL placement and budget."""
    from hudi_spark_utilities_plus_spark.operators.packing import (
        pack_assignments,
    )

    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "id long, n_tok long")
    got = {
        r["id"]: r["pack_id"]
        for r in pack_assignments(df, "id", "n_tok", budget).collect()
    }
    want, cum = {}, 0
    for i, t in rows:
        want[i] = cum // budget
        cum += t or 0
    assert got == want


# ---------------------------------------------------------------------------
# context-window chunking vs Python slicing
# ---------------------------------------------------------------------------


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    size=st.integers(1, 6),
    stride=st.integers(1, 6),
)
def test_chunk_documents_matches_python_slicing(spark, docs, size, stride):
    """Every chunk is the exact token window toks[i*stride : i*stride+
    size]; blank docs yield zero chunks (no phantom-token chunk); the
    final partial window is kept."""
    from hudi_spark_utilities_plus_spark.operators.packing import (
        chunk_documents,
    )

    stride = min(stride, size)  # operator contract: 0 < stride <= size
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["chunk_tokens"])
        for r in chunk_documents(
            df, size=size, stride=stride
        ).collect()
    }
    want = {}
    for i, d in enumerate(docs):
        toks = re.split(r"\s+", d.strip())
        if d.strip() == "":
            continue  # blank doc: zero chunks
        n = len(toks)
        n_chunks = 1 + max(0, -(-(max(n - size, 0)) // stride))
        for c in range(n_chunks):
            w = toks[c * stride : c * stride + size]
            want[(i, c)] = (" ".join(w), len(w))
    assert got == want


# ---------------------------------------------------------------------------
# gap sessionization vs Python scan
# ---------------------------------------------------------------------------


@PROP
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)),  # (user, ts sec)
        min_size=1,
        max_size=20,
    ),
    gap=st.integers(1, 10),
)
def test_session_seq_matches_python_scan(spark, events, gap):
    """A new session starts exactly when the gap to the previous event
    is STRICTLY greater than gap_seconds (equal-gap events stay in the
    session); simultaneous events order by the tiebreak column. The
    windowed lag/cumsum program must agree with a per-user sequential
    scan for any duplicate-ts placement."""
    from hudi_spark_utilities_plus_spark.operators.sessions import (
        with_session_seq,
    )

    rows = [
        (i, u, ts * 1_000_000) for i, (u, ts) in enumerate(events)
    ]  # event_id, user_id, epoch micros
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, us long"
    ).withColumn("ts", F.timestamp_micros(F.col("us"))).drop("us")
    got = {
        r["event_id"]: (r["user_id"], r["session_seq"])
        for r in with_session_seq(df, gap_seconds=gap).collect()
    }
    want = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for eid, u, us in rows:
        by_user.setdefault(u, []).append((us, eid))
    for u, evs in by_user.items():
        evs.sort()  # (ts, tiebreak)
        seq, prev = 0, None
        for us, eid in evs:
            if prev is None or (us - prev) > gap * 1_000_000:
                seq += 1
            want[eid] = (u, seq)
            prev = us
    assert got == want


# ---------------------------------------------------------------------------
# envelope-disjointness helpers vs brute force (pure logic, no Spark)
# ---------------------------------------------------------------------------

# These three functions carry SOUNDNESS claims: a wrong True from the
# disjointness proofs publishes a false key_unique claim (an unsound
# partition-scoped read), and a missed overlap in the duplicate guard
# prunes a file the merge needed. Small integer domains force heavy
# endpoint collisions; the oracle is the O(n²) definition.
_env = st.tuples(st.integers(0, 9), st.integers(0, 9), st.booleans()).map(
    lambda t: [min(t[0], t[1]), max(t[0], t[1]), t[2]]
)
_env_or_null = st.one_of(_env, st.just([None, None, True]))


def _overlaps(a, b):
    if a[2] and b[2]:
        return True  # both may hold a null key
    if a[0] is None or b[0] is None:
        return False  # an all-null side shares nothing non-null
    return a[0] <= b[1] and b[0] <= a[1]


@PROP
@given(envs=st.lists(_env_or_null, max_size=8))
def test_key_envelopes_disjoint_matches_bruteforce(envs):
    from hudi_spark_utilities_plus_spark.lake import _key_envelopes_disjoint

    ranges = {f"f{i}": e for i, e in enumerate(envs)}
    files = sorted(ranges)
    want = bool(files) and not any(
        _overlaps(ranges[a], ranges[b])
        for i, a in enumerate(files)
        for b in files[i + 1 :]
    )
    assert _key_envelopes_disjoint(ranges, files) == want
    # a single missing envelope must always defeat the proof
    if files:
        assert not _key_envelopes_disjoint(ranges, files + ["absent"])


@PROP
@given(
    group_a=st.lists(_env_or_null, max_size=6),
    group_b=st.lists(_env_or_null, max_size=6),
)
def test_envelope_groups_disjoint_matches_bruteforce(group_a, group_b):
    from hudi_spark_utilities_plus_spark.lake import _envelope_groups_disjoint

    want = not any(_overlaps(a, b) for a in group_a for b in group_b)
    assert _envelope_groups_disjoint(group_a, group_b) == want


@PROP
@given(
    kept=st.lists(_env_or_null, max_size=6),
    pruned=st.lists(_env_or_null, max_size=6),
    drop_env_idx=st.one_of(st.none(), st.integers(0, 5)),
)
def test_base_duplicate_guard_matches_bruteforce(kept, pruned, drop_env_idx):
    """_base_duplicate_guard (interval merge + bisect) vs the O(K·P)
    definition: a pruned file stays pruned only when provably
    key-disjoint from EVERY kept file; any file without an envelope —
    kept or pruned — defeats the proof conservatively."""
    from hudi_spark_utilities_plus_spark.lake import _base_duplicate_guard

    ranges = {f"k{i}": e for i, e in enumerate(kept)}
    ranges.update({f"p{i}": e for i, e in enumerate(pruned)})
    kept_files = sorted(k for k in ranges if k.startswith("k"))
    pruned_files = sorted(k for k in ranges if k.startswith("p"))
    if drop_env_idx is not None and pruned_files:
        # a pruned file with no envelope: must always be re-admitted
        del ranges[pruned_files[drop_env_idx % len(pruned_files)]]

    got = _base_duplicate_guard(ranges, kept_files, pruned_files)

    if any(f not in ranges for f in kept_files):
        want = set(pruned_files)
    else:
        want = {
            p
            for p in pruned_files
            if p not in ranges
            or any(_overlaps(ranges[p], ranges[k]) for k in kept_files)
        }
    assert got == want, (ranges, kept_files, pruned_files, got, want)


_penv = st.one_of(
    st.none(),  # no envelope: legacy manifest or unsupported dtype
    st.tuples(st.integers(0, 5), st.integers(0, 5), st.booleans()).map(
        lambda t: [min(t[0], t[1]), max(t[0], t[1]), t[2]]
    ),
    st.just([None, None, True]),  # the null partition only
    # a retyped partition column: string bounds against int values
    st.tuples(st.sampled_from("abc"), st.sampled_from("abc"), st.booleans()).map(
        lambda t: [min(t[0], t[1]), max(t[0], t[1]), t[2]]
    ),
)


@PROP
@given(
    envs=st.lists(_penv, max_size=6),
    values=st.lists(st.integers(0, 5), max_size=3, unique=True),
    want_null=st.booleans(),
)
def test_prange_class_matches_bruteforce(envs, values, want_null):
    """_prange_class vs the set definition. A file's possible partition
    values are its [min, max] interval (enumerated on a half-step grid,
    so a wide interval always holds an unrequested value) plus null
    when it carries nulls. 'disjoint' (read prunes, overwrite carries)
    means no possible value is requested; 'inside' (overwrite drops)
    means every one is; otherwise 'mixed' (read keeps, overwrite
    rewrites). No envelope, or string bounds that cannot compare with
    the requested ints, is always 'mixed'."""
    from hudi_spark_utilities_plus_spark.lake import _prange_class

    grid = [x / 2 for x in range(11)]
    asked = set(values) | ({None} if want_null else set())
    for env in envs:
        got = _prange_class(env, set(values), want_null)
        # the read passes a list, the overwrite a set: same answer
        assert _prange_class(env, list(values), want_null) == got
        if env is None:
            assert got == "mixed"
            continue
        pmin, pmax, pnull = env
        if isinstance(pmin, str):
            if values:
                assert got == "mixed", (env, values, want_null)
                continue
            possible = {pmin}
        elif pmin is None:
            possible = set()
        else:
            possible = {x for x in grid if pmin <= x <= pmax}
        if pnull:
            possible.add(None)
        if not possible & asked:
            want = "disjoint"
        elif possible <= asked:
            want = "inside"
        else:
            want = "mixed"
        assert got == want, (env, values, want_null, got, want)


# ---------------------------------------------------------------------------
# binlog stand-in offset model vs a sequential-tail oracle
# ---------------------------------------------------------------------------

# an action per step: arrive a new (monotonic-named) file, purge the
# oldest unpurged file, or restart the reader (offset round-trips the
# checkpoint as JSON, which is what a real stop/start does)
_tail_actions = st.lists(
    st.sampled_from(["arrive", "arrive", "purge", "restart", "tick"]),
    min_size=1,
    max_size=30,
)


@PROP
@given(actions=_tail_actions)
def test_binlog_offset_model_tails_like_sequential_reader(actions):
    """Whatever interleaving of file arrivals, front-purges (MySQL
    PURGE BINARY LOGS), reader restarts, and idle ticks occurs, the
    name-mark offset model must deliver every arrived file EXACTLY once
    and never regress the mark — the invariant a count-based offset
    breaks the moment a consumed file is purged. Pure driver-side
    functions, so the differential runs without Spark."""
    import json as _json
    import os as _os

    from hudi_spark_utilities_plus_spark.sources.standin import (
        _end_offset,
        _files_between,
    )

    live: list[str] = []  # directory listing, arrival order == sorted order
    n_arrived = 0
    delivered: list[str] = []
    offset = {"last": ""}
    for act in actions:
        if act == "arrive":
            n_arrived += 1
            live.append(f"/d/binlog.{n_arrived:06d}.json")
        elif act == "purge" and live:
            live.pop(0)
        elif act == "restart":
            offset = _json.loads(_json.dumps(offset))  # checkpoint trip
        # every step behaves like one micro-batch read()
        files = sorted(live)
        new = _files_between(files, offset, None)
        end = _end_offset(files, offset)
        delivered.extend(new)
        # mark never regresses
        assert end["last"] >= offset["last"]
        offset = end
        # replaying the same batch between the same offsets is stable
        assert _files_between(files, {"last": offset["last"]}, offset) == []
    # exactly-once: every file that was ever visible while unconsumed
    # arrived in name order with no duplicates
    assert delivered == sorted(set(delivered))
    # nothing was delivered twice and nothing visible was skipped: any
    # file still live and above the mark would be delivered next tick
    files = sorted(live)
    assert _files_between(files, offset, None) == []
    # a purge can drop a never-read file (the tailer was down — that is
    # data loss by PURGE, not by the offset model); everything else must
    # have been delivered: check all arrived files that were never
    # purged-before-read are in `delivered`
    never_seen = {
        _os.path.basename(f) for f in delivered
    }
    for f in files:  # still live => must have been read by now
        assert _os.path.basename(f) in never_seen


# ---------------------------------------------------------------------------
# Excel reader round-trip fuzz (SpreadsheetML escaping / ragged grids)
# ---------------------------------------------------------------------------

# XML-hostile but XML-1.0-legal text: entities, quotes, whitespace,
# unicode. \r is excluded because the XML spec normalizes it to \n in
# ANY compliant parser — a writer that wants literal CR must emit
# &#13;, which the test fixture writer (stdlib SpreadsheetML) does not.
_xl_text = st.one_of(
    st.sampled_from(
        ["<&>", "a&amp;b", '"quoted"', "it's", " lead", "trail ",
         "line\nbreak", "\ttab", "naïve café 日本語", "0", "1.5", "TRUE",
         # ']]>' in character data is not well-formed XML unless the
         # '>' is escaped — found by this fuzz in the fixture writer
         "]]>", "<!--x-->", "&#60;"]
    ),
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"), blacklist_characters="\r"
        ),
        max_size=12,
    ),
)
_xl_grid = st.lists(
    st.lists(st.one_of(st.none(), _xl_text), min_size=1, max_size=5),
    min_size=1,
    max_size=6,
)


@PROP
@given(grid=_xl_grid)
def test_excel_roundtrip_matches_written_grid(spark, grid, tmp_path_factory):
    """Whatever text lands in a workbook (entities, quotes, newlines,
    unicode, ragged/absent cells) must come back cell-exact through
    read_excel. Grid width is the widest row that has any written cell
    — a cell is written for every non-None value, including '' (which
    reads back NULL under the default treatEmptyValuesAsNulls)."""
    from hudi_spark_utilities_plus_spark.sources.excel import read_excel
    from tests.xlsx_util import write_xlsx

    # the sheet must contain at least one cell or there is no grid
    if all(v is None for row in grid for v in row):
        grid = [["x"]] + grid
    width = max(
        (i + 1 for row in grid for i, v in enumerate(row) if v is not None),
        default=0,
    )
    p = str(tmp_path_factory.mktemp("xlroundtrip") / "g.xlsx")
    write_xlsx(p, grid)
    df = read_excel(spark, p, {"header": "false"})
    assert len(df.columns) == width
    got = [
        [r[c] for c in df.columns]
        for r in df.orderBy(F.monotonically_increasing_id()).collect()
    ]
    # rows with no written cell at all are still sheet rows (the writer
    # emits an empty <row/>), so expected keeps every row
    want = [
        [
            (None if (v is None or v == "") else v)
            for v in (list(row) + [None] * width)[:width]
        ]
        for row in grid
    ]
    assert got == want


# BIFF8 (.xls) round-trip: the SST string table's compressed-8-bit vs
# UTF-16 encodings, interior row gaps (materialized as all-NULL rows),
# and long strings. TRAILING all-None rows are trimmed from the
# expectation: a BIFF row with no cell records is physically absent
# from the file (Excel used-range semantics) — unlike the xlsx writer,
# which emits an empty <row/> element.
_xls_text = st.one_of(
    st.sampled_from(
        # 𐀀 (U+10000) is a surrogate PAIR in UTF-16: BIFF cch counts
        # code units, not characters — fuzz-found in the fixture writer
        ["plain", "naïve", "日本語テキスト", "mixé日本", " ", "a" * 300,
         "𐀀", "x𐀀y"]
    ),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
        max_size=20,
    ),
)
_xls_grid = st.lists(
    st.lists(st.one_of(st.none(), _xls_text), min_size=1, max_size=4),
    min_size=1,
    max_size=5,
)


@PROP
@given(grid=_xls_grid)
def test_xls_biff_roundtrip_matches_written_grid(spark, grid, tmp_path_factory):
    from hudi_spark_utilities_plus_spark.sources.excel import read_excel
    from tests.xls_util import write_xls

    if all(v is None for row in grid for v in row):
        grid = [["x"]] + grid
    while grid and all(v is None for v in grid[-1]):
        grid = grid[:-1]  # trailing unrecorded rows are absent in BIFF
    width = max(
        (i + 1 for row in grid for i, v in enumerate(row) if v is not None),
        default=0,
    )
    p = str(tmp_path_factory.mktemp("xlsroundtrip") / "g.xls")
    write_xls(p, grid)
    df = read_excel(spark, p, {"header": "false"})
    assert len(df.columns) == width
    got = [
        [r[c] for c in df.columns]
        for r in df.orderBy(F.monotonically_increasing_id()).collect()
    ]
    want = [
        [
            (None if (v is None or v == "") else v)
            for v in (list(row) + [None] * width)[:width]
        ]
        for row in grid
    ]
    assert got == want


# ---------------------------------------------------------------------------
# vectorized band keys vs the Column-fold spec (r14 differential)
# ---------------------------------------------------------------------------


@PROP
@given(
    vecs=st.lists(
        st.lists(
            st.one_of(
                st.just(0.0),
                st.floats(
                    min_value=-10.0,
                    max_value=10.0,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
            ),
            min_size=6,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    ),
    n_bands=st.integers(1, 3),
    band_bits=st.integers(1, 4),
    seed=st.integers(1, 5),
)
def test_band_keys_matmul_matches_fold_spec(
    spark, vecs, n_bands, band_bits, seed
):
    """The Arrow-matmul `_band_keys` must pack keys identical to the
    Column-fold spec on ADVERSARIAL vectors hand-written fixtures miss
    — all-zero vectors (every projection 0 → every sign bit 0),
    negatives, float32-representable values near sign boundaries —
    across random (bands, bits, seed) shapes. A BLAS-vs-left-fold
    summation difference can only flip a key when a projection lands
    within rounding error of zero; this quantifies over that space."""
    from hudi_spark_utilities_plus_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>"
    )
    cmp = df.select(
        S._band_keys(F.col("v"), 6, n_bands, band_bits, seed).alias("fast"),
        S._band_keys_spec(F.col("v"), 6, n_bands, band_bits, seed).alias(
            "spec"
        ),
    )
    assert cmp.filter(F.col("fast") != F.col("spec")).count() == 0


# ---------------------------------------------------------------------------
# substring dedup (grid shingles + island merge) vs direct Python
# ---------------------------------------------------------------------------


def _ref_substring(rows, L, s, min_docs=2):
    """Direct-Python reference for duplicated_spans/_dup_coverage:
    dict-of-sets shingle index, per-doc sorted island merge."""
    from collections import defaultdict

    owners: dict[str, set[int]] = defaultdict(set)
    grid: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for doc_id, text in rows:
        n = len(text)
        if n < L:
            continue
        for pos in range(0, n - L + 1, s):
            k = text[pos : pos + L]
            owners[k].add(doc_id)
            grid[doc_id].append((pos, k))
    spans = set()
    cov = {doc_id: 0 for doc_id, _ in rows}
    for doc_id, lst in grid.items():
        hits = sorted(p for p, k in lst if len(owners[k]) >= min_docs)
        cur_s = cur_e = None
        cnt = 0
        for p in hits:
            if cur_s is None or p > cur_e:
                if cur_s is not None:
                    spans.add((doc_id, cur_s, cur_e, cnt))
                    cov[doc_id] += cur_e - cur_s
                cur_s, cur_e, cnt = p, p + L, 1
            else:
                cur_e, cnt = p + L, cnt + 1
        if cur_s is not None:
            spans.add((doc_id, cur_s, cur_e, cnt))
            cov[doc_id] += cur_e - cur_s
    keep = {
        doc_id: (2 * cov[doc_id] <= len(text), len(text))
        for doc_id, text in rows
    }
    return spans, cov, keep


@PROP
@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=20),
        min_size=1,
        max_size=8,
    ),
    span_len=st.integers(3, 5),
    stride=st.integers(1, 6),
)
def test_substring_dedup_matches_python_reference(
    spark, texts, span_len, stride
):
    """Two-char alphabet forces dense shingle collisions; stride may
    exceed span_len (gapped grid). Spans, per-doc duplicated chars,
    and the keep verdict must all equal the direct computation."""
    from hudi_spark_utilities_plus_spark.operators import spans as SP

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_shingles"])
        for r in SP.duplicated_spans(
            df, span_len=span_len, stride=stride
        ).collect()
    }
    got_cov = {
        r["doc_id"]: (r["doc_len"], r["dup_chars"], r["keep"])
        for r in SP.substring_dup_coverage(
            df, span_len=span_len, stride=stride
        ).collect()
    }
    want_spans, want_cov, want_keep = _ref_substring(rows, span_len, stride)
    assert got_spans == want_spans
    assert got_cov == {
        d: (n, want_cov[d], k) for d, (k, n) in want_keep.items()
    }

    got_strip = {
        r["doc_id"]: (r["cleaned_text"], r["removed_chars"])
        for r in SP.strip_duplicated_spans(
            df, span_len=span_len, stride=stride
        ).collect()
    }
    assert got_strip == _ref_strip(rows, span_len, stride)


def _ref_strip(rows, L, s, min_docs=2):
    """Direct-Python reference for strip_duplicated_spans: per-key
    minimal owner keeps; other owners' hits merge and splice out."""
    from collections import defaultdict

    owners: dict[str, set[int]] = defaultdict(set)
    grid: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for doc_id, text in rows:
        n = len(text)
        if n < L:
            continue
        for pos in range(0, n - L + 1, s):
            k = text[pos : pos + L]
            owners[k].add(doc_id)
            grid[doc_id].append((pos, k))
    out = {}
    for doc_id, text in rows:
        hits = sorted(
            p
            for p, k in grid.get(doc_id, [])
            if len(owners[k]) >= min_docs and doc_id != min(owners[k])
        )
        cuts = []
        for p in hits:
            if cuts and p <= cuts[-1][1]:
                cuts[-1][1] = p + L
            else:
                cuts.append([p, p + L])
        kept, last = [], 0
        for cs, ce in cuts:
            kept.append(text[last:cs])
            last = ce
        kept.append(text[last:])
        out[doc_id] = ("".join(kept), sum(ce - cs for cs, ce in cuts))
    return out


def _ref_refine(rows, L, s, min_docs=2):
    """Direct-Python reference for refine_span_bounds, implementing
    the CONTRACT directly (brute-force max-LCP over every other
    occurrence of the boundary key) rather than the operator's
    sorted-neighbor shortcut — so the property run also validates the
    neighbor-LCP equivalence."""
    from collections import defaultdict

    owners: dict[str, set[int]] = defaultdict(set)
    grid: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for doc_id, text in rows:
        n = len(text)
        if n < L:
            continue
        for pos in range(0, n - L + 1, s):
            k = text[pos : pos + L]
            owners[k].add(doc_id)
            grid[doc_id].append((pos, k))
    dup = {k for k, v in owners.items() if len(v) >= min_docs}
    fl = max(0, s - 1)
    lpool: dict[str, list[str]] = defaultdict(list)
    rpool: dict[str, list[str]] = defaultdict(list)
    texts = dict(rows)
    for doc_id, lst in grid.items():
        text = texts[doc_id]
        for pos, k in lst:
            if k in dup:
                lpool[k].append(text[max(0, pos - fl) : pos][::-1])
                rpool[k].append(text[pos + L : pos + L + fl])

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    def best_ext(pool, f):
        best, self_skipped = 0, False
        for g in pool:
            if g == f and not self_skipped:
                self_skipped = True  # the island's own occurrence
                continue
            best = max(best, lcp(f, g))
        return best

    out = set()
    for doc_id, lst in grid.items():
        text = texts[doc_id]
        hits = sorted((p, k) for p, k in lst if k in dup)
        islands = []
        for p, k in hits:
            if islands and p <= islands[-1][1]:
                islands[-1][1] = p + L
                islands[-1][2] += 1
                islands[-1][4] = k
            else:
                islands.append([p, p + L, 1, k, k])
        for st_, en, cnt, kl, kr in islands:
            if s <= 1:
                out.add((doc_id, st_, en, cnt, st_, en))
                continue
            lf = text[max(0, st_ - fl) : st_][::-1]
            rf = text[en : en + fl]
            out.add(
                (
                    doc_id,
                    st_,
                    en,
                    cnt,
                    st_ - best_ext(lpool[kl], lf),
                    en + best_ext(rpool[kr], rf),
                )
            )
    return out


@PROP
@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=20),
        min_size=1,
        max_size=8,
    ),
    span_len=st.integers(3, 5),
    stride=st.integers(1, 6),
)
def test_refine_span_bounds_matches_python_reference(
    spark, texts, span_len, stride
):
    """Boundary refinement vs the brute-force reference: grid bounds,
    island counts, AND the character-exact bounds must all match —
    including stride 1 (identity), stride > span_len (gapped grid),
    doc-edge-truncated flanks, and the two-char alphabet's dense
    key collisions."""
    from hudi_spark_utilities_plus_spark.operators import spans as SP

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (
            r["doc_id"],
            r["span_start"],
            r["span_end"],
            r["n_shingles"],
            r["exact_start"],
            r["exact_end"],
        )
        for r in SP.refine_span_bounds(
            df, span_len=span_len, stride=stride
        ).collect()
    }
    assert got == _ref_refine(rows, span_len, stride)
