"""Keyed, upsertable lake tables (the reference's Hudi write semantics).

Reference parity (SURVEY §1.2): a Hudi table is defined by config keys —
``hoodie.datasource.write.recordkey.field`` (row identity),
``...precombine.field`` (latest-wins tiebreak),
``...partitionpath.field`` (hive-style layout), ``hoodie.table.type``
(COPY_ON_WRITE), ``...write.operation`` (upsert | bulk_insert | insert |
delete). The reference forwards these verbatim to
``df.write.format("hudi")`` (``HoodieExcelImporter.scala:109-113`` and the
three sibling importers).

This rebuild implements the same semantics PySpark-native on plain parquet
(the primary correctness path — the driver's oracle is DuckDB over
parquet), with a passthrough to ``format("hudi")`` when the bundle is on
the classpath:

- **upsert**  = union(existing, incoming) → latest-wins window dedup on
  (recordkey, precombine) → atomic rewrite. COPY_ON_WRITE semantics.
- **MERGE_ON_READ** (``hoodie.table.type=MERGE_ON_READ``): writes append
  to a delta log at the sibling dir ``<path>__hudi_log`` (O(batch), base
  untouched); ``read()`` merges base + log with the same latest-wins
  window; ``compact()`` folds the log into the base — the parquet-native
  analogue of Hudi's base-file/log-file split.
- **bulk_insert / insert** = plain append (no index lookup), matching
  ``hoodie.datasource.write.operation=bulk_insert``
  (``hudi_mongodb_batch.properties:15``).
- **delete** = anti-join existing against incoming keys → rewrite.
- partitioning = ``.partitionBy(partition_field)`` hive-style dirs, so
  Catalyst partition-prunes reads for free.

Scale notes (100 TB posture): the merge is a single shuffle on the record
key (Spark plans partial window aggregation per partition); AQE splits
skewed keys. For partitioned tables the COW rewrite cost is bounded by
a **partition swap**: the merge reads only the partitions the incoming
batch touches, writes them once to staging and swaps each staged
partition directory into place (``_rewrite_partitions``); other
partitions' files are never opened. Unpartitioned tables are rewritten
whole via a staging dir + backup rename. Both commit layouts run on a
local filesystem only: the manifest layout (``hoodie.commit.mode=
manifest``) models the object-store protocol — immutable data files and
a conditional put of each manifest version — but performs that put as a
hard link on a local filesystem. Other schemes are refused rather than
pretend a rename or link is atomic there; a shared-storage deployment
goes through format("hudi")'s commit protocol via
``write_via_hudi_bundle``. Nothing here collects to the driver except
the touched partition-value list (metadata-scale).

Hive sync (``hoodie.datasource.hive_sync.*``,
``hudi_mongodb_batch.properties:22-29``): when enabled, every write
registers/refreshes the table in the session catalog under
``<database>.<table>`` so it is queryable by name — the session-catalog
analogue of the reference's Hive-metastore sync.
"""

from __future__ import annotations

import bisect
import functools
import json
import logging
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

# Hudi option keys the reference exercises (SURVEY §1.2 table).
RECORDKEY_FIELD = "hoodie.datasource.write.recordkey.field"
PRECOMBINE_FIELD = "hoodie.datasource.write.precombine.field"
PARTITIONPATH_FIELD = "hoodie.datasource.write.partitionpath.field"
TABLE_TYPE = "hoodie.table.type"
WRITE_OPERATION = "hoodie.datasource.write.operation"
TABLE_NAME = "hoodie.table.name"
TABLE_PATH = "path"
HIVE_SYNC_ENABLE = "hoodie.datasource.hive_sync.enable"
META_SYNC_ENABLE = "hoodie.datasource.meta.sync.enable"
HIVE_SYNC_DATABASE = "hoodie.datasource.hive_sync.database"
HIVE_SYNC_TABLE = "hoodie.datasource.hive_sync.table"


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency conflict: another writer committed between
    this batch's read and its write (see HudiTable.upsert
    expected_seq)."""


def _locked(fn):
    """Serialize a mutating table op under the filesystem lock provider
    (no-op unless ``hoodie.write.lock.provider`` enables it — see
    HudiTable._commit_lock)."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._commit_lock():
            return fn(self, *args, **kwargs)

    return wrapper


def merge_latest_wins(
    df: DataFrame,
    record_key: str | list[str],
    precombine: str,
    tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """Latest-wins dedup: keep, per record key, the row with the greatest
    precombine value (Hudi's precombine contract, SURVEY §1.2).

    ``tiebreak`` orders rows whose precombine values are equal; defaults
    to no extra tiebreak (Hudi keeps an arbitrary one — callers that need
    determinism pass an ingest-order column).

    One shuffle on the record key; window row_number is planned as a
    single sort within each hash partition — no driver involvement, AQE
    handles skewed keys.
    """
    keys = [record_key] if isinstance(record_key, str) else list(record_key)
    order = [F.col(precombine).desc_nulls_last()]
    if tiebreak:
        tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak)
        order += [F.col(c).desc() for c in tb]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__hudi_rn", F.row_number().over(w))
        .filter(F.col("__hudi_rn") == 1)
        .drop("__hudi_rn")
    )


def _widened(memo, schema):
    """The base-schema memo after an append of ``schema``: columns the
    batch lacks stay (older files carry them; the explicit-schema read
    null-fills them for the new files), new columns are added, and a
    column the batch retypes makes it None, so the next read infers."""
    from pyspark.sql.types import StructField, StructType

    have = {f.name: f.dataType for f in memo.fields}
    added = []
    for f in schema.fields:
        if f.name not in have:
            added.append(StructField(f.name, f.dataType, True))
        elif f.dataType != have[f.name]:
            return None
    return StructType(list(memo.fields) + added)


def _hidden_name(name: str) -> bool:
    """Spark's file-index rule for names it never reads: a ``.`` prefix,
    or a ``_`` prefix on anything but a ``col=value`` partition dir."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _in_list_exact(probe_type, table_type) -> bool:
    """Whether probe-key values collected to Python and pushed back as
    an IN-list select exactly the table rows an equi-join on the key
    keeps: both sides integral, or both binary-collated strings.
    Floating, temporal and other types keep the join."""
    from pyspark.sql.types import IntegralType, StringType

    def family(t):
        if isinstance(t, IntegralType):
            return "integral"
        if (
            isinstance(t, StringType)
            and getattr(t, "collation", "UTF8_BINARY") == "UTF8_BINARY"
        ):
            return "string"
        return None

    return family(probe_type) is not None and family(probe_type) == family(
        table_type
    )


def _key_envelopes_disjoint(ranges: dict[str, list], files: list[str]) -> bool:
    """Driver-side PROOF that no record key can span two of ``files``:
    every file has a key envelope, at most one carries nulls, and the
    [min, max] intervals are pairwise disjoint. Sufficient, not
    necessary (a merged rewrite is key-unique even with overlapping
    envelopes — those paths assert key_unique semantically instead);
    used where the write path has no semantic claim, e.g. a
    range-clustered genesis bulk_insert. Metadata-scale: O(F log F)
    over file counts, no data read."""
    if not files or any(f not in ranges for f in files):
        return False
    nulls = 0
    ivals = []
    for f in files:
        kmin, kmax, knull = ranges[f]
        nulls += bool(knull)
        if kmin is not None:
            ivals.append((kmin, kmax))
    if nulls > 1:
        return False
    try:
        ivals.sort()
        return all(
            ivals[i][1] < ivals[i + 1][0] for i in range(len(ivals) - 1)
        )
    except TypeError:
        return False


def _envelope_hits(index: list[list], probes: list[list]) -> list[bool]:
    """The key-envelope overlap index: for each probe envelope, whether
    a record key inside it may also lie inside one of the ``index``
    envelopes. Envelopes are [min, max, has_null] lists. Null keys meet
    when a probe and at least one index envelope both carry them; an
    all-null probe meets nothing else. The index intervals may overlap
    each other, so they are merged into a sorted disjoint list and each
    probe is one bisect: O((I+P) log I) over file counts. Incomparable
    bounds make every probe a hit — never prune on a guess."""
    index_null = any(e[2] for e in index)
    try:
        merged: list[list] = []
        for lo, hi in sorted((e[0], e[1]) for e in index if e[0] is not None):
            if merged and lo <= merged[-1][1]:
                if hi > merged[-1][1]:
                    merged[-1][1] = hi
            else:
                merged.append([lo, hi])
        starts = [iv[0] for iv in merged]
        hits = []
        for lo, hi, has_null in probes:
            if has_null and index_null:
                hits.append(True)
            elif lo is None:
                hits.append(False)
            else:
                i = bisect.bisect_right(starts, hi) - 1
                hits.append(i >= 0 and merged[i][1] >= lo)
        return hits
    except TypeError:
        return [True] * len(probes)


def _envelope_groups_disjoint(
    group_a: list[list], group_b: list[list]
) -> bool:
    """True when no record key can appear in BOTH envelope groups: no
    interval of ``group_a`` overlaps one of ``group_b`` and at most one
    GROUP carries nulls (within-group overlap is fine — callers pair
    this with a within-group uniqueness argument). An unknown envelope
    never reaches here (callers return False first)."""
    return not any(_envelope_hits(group_b, group_a))


def _base_duplicate_guard(
    ranges: dict[str, list], part_kept: list[str], pruned: list[str]
) -> set[str]:
    """Files in ``pruned`` that cannot be PROVEN record-key-disjoint
    from every file in ``part_kept`` by the key envelopes in ``ranges``
    — the base-vs-base half of the partition-scoped MOR read's
    soundness guard (the log half is the guard_keys path).

    Why it exists: the snapshot merge dedupes duplicate keys ACROSS
    base files (a genesis bulk_insert appends without index lookup, so
    key k's winning precombine version can sit in partition-a file F1
    while a stale duplicate sits in partition-b file F2).
    read(partitions=['b']) keeps F2; pruning F1 would let F2's stale
    row win the merge unopposed, while the unpruned read suppresses it
    — so any pruned file whose key envelope overlaps a kept file's
    envelope must stay in the merge (its own rows still fail the
    post-merge partition filter; it participates only as a
    suppressor). Overlap against the PARTITION-kept files suffices, no
    transitive closure: a wrong winner can only reach the output
    through a kept file's key, and that key pins every file whose
    envelope contains it directly.

    A file without an envelope defeats the proof: an unknown kept file
    re-admits every pruned file, an unknown pruned file re-admits
    itself. Skipped entirely when the manifest carries the
    ``key_unique`` proof (the caller checks), and a no-op on
    range-clustered layouts whose envelopes are disjoint by
    construction."""
    if any(f not in ranges for f in part_kept):
        return set(pruned)
    known = [f for f in pruned if f in ranges]
    hits = _envelope_hits(
        [ranges[f] for f in part_kept], [ranges[f] for f in known]
    )
    return {f for f in pruned if f not in ranges} | {
        f for f, hit in zip(known, hits) if hit
    }


def _prange_class(env: list | None, values, want_null: bool) -> str:
    """How a file's partition-value envelope ``env`` ([min, max,
    has_null], None when unknown) meets a partition set — the non-null
    ``values`` plus the null partition when ``want_null``:
    ``"disjoint"`` when the file can hold no row of the set,
    ``"inside"`` when every row it can hold is in the set, else
    ``"mixed"``. An unknown envelope or incomparable types (e.g. a
    retyped partition column) are ``"mixed"``: the classification
    never prunes on a guess."""
    if env is None:
        return "mixed"
    pmin, pmax, pnull = env
    try:
        if not (
            (pmin is not None and any(pmin <= v <= pmax for v in values))
            or (pnull and want_null)
        ):
            return "disjoint"
        if (pmin is None or (pmin == pmax and pmin in values)) and (
            not pnull or want_null
        ):
            return "inside"
    except TypeError:
        pass
    return "mixed"


def _put_if_absent(target: str, data: str) -> bool:
    """Conditional put of ``data`` at ``target``; True when this call
    created it, False when ``target`` already existed. The data goes to
    a unique tmp file that is hard-linked into place — the link fails
    atomically on an existing name and never exposes a partial file,
    the local model of an object store's if-none-match PUT. A
    filesystem without hard links (exFAT, SMB, some FUSE mounts) falls
    back to an ``O_EXCL`` exclusive create: a racing loser still fails,
    but a reader racing the write may see a partial file there. The
    tmp file is always removed."""
    tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(data)
    try:
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        except OSError:
            try:
                fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            with os.fdopen(fd, "w") as out:
                out.write(data)
            return True
    finally:
        os.unlink(tmp)


def _numbered_files(dirpath: str, prefix: str, suffix: str) -> list[int]:
    """Sorted numbers ``n`` of the files ``<prefix><n:012d><suffix>`` in
    ``dirpath`` (one LIST); [] when the directory does not exist."""
    if not os.path.isdir(dirpath):
        return []
    pattern = re.escape(prefix) + r"(\d{12})" + re.escape(suffix)
    out = []
    for f in os.listdir(dirpath):
        m = re.fullmatch(pattern, f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


class SeqClaimStore:
    """Conditional-put surface that hands out MOR commit seqs. A claim
    is an immutable object named ``seq-%012d``; allocating is one LIST
    (max claimed seq) + one if-none-match PUT per seq, with a
    bump-and-retry on contention — unique across writers with no lock,
    and durable BEFORE the log append so a crash wastes a seq (gap)
    instead of duplicating one. The LIST stays bounded because
    ``_truncate_claims`` deletes the claims whenever the log itself is
    truncated (compaction advances the seqbase watermark; restore
    rewinds the timeline).

    Local paths use ``_LocalSeqClaimStore``; deployments on other
    schemes back this with their object-store client
    (``register_seq_claim_store``); ``claim()`` must map the store's
    conditional-put failure (HTTP 412 / precondition failed) to False.
    """

    def list_claims(self) -> list[int]:
        """Seq numbers currently claimed (one LIST call). Order is NOT
        required — consumers take max(); a store may return its
        listing order verbatim."""
        raise NotImplementedError

    def claim(self, seq: int) -> bool:
        """If-none-match PUT of ``seq-%012d``: True = claimed, False =
        another writer holds it (caller bumps and retries)."""
        raise NotImplementedError

    def truncate(self) -> None:
        """Delete every claim — called when the delta log itself is
        truncated (compact/restore); the next allocation re-bootstraps
        from the seqbase watermark / surviving log.

        CONCURRENCY SCOPE: allocation needs no lock against OTHER
        ALLOCATORS (the conditional put arbitrates), but truncation must
        EXCLUDE allocators — a truncate racing an in-flight allocation
        could delete a just-won claim before its log append lands,
        letting a later writer re-claim the same seq (two commits merge
        as one). Both callers (compact, restore) already run under the
        table lock (@_locked); cross-process deployments get the same
        guarantee from the filesystem lock provider / their maintenance
        scheduler, the standard Hudi table-service posture."""
        raise NotImplementedError


class _LocalSeqClaimStore(SeqClaimStore):
    """Claim dir ``<path>__hudi_seqclaim`` of every local or ``file://``
    MOR table: each claim is one ``_put_if_absent``, the conditional put
    ``_publish_manifest`` uses."""

    def __init__(self, dirpath: str):
        self.dir = dirpath

    def _claim_path(self, seq: int) -> str:
        return os.path.join(self.dir, f"seq-{seq:012d}.claim")

    def list_claims(self) -> list[int]:
        return _numbered_files(self.dir, "seq-", ".claim")

    def claim(self, seq: int) -> bool:
        os.makedirs(self.dir, exist_ok=True)
        return _put_if_absent(self._claim_path(seq), str(seq))

    def truncate(self) -> None:
        for seq in self.list_claims():
            try:
                os.remove(self._claim_path(seq))
            except FileNotFoundError:
                pass


# scheme -> factory(claim_prefix_uri) -> SeqClaimStore. Deployments
# register their object-store client here; the table resolves it by the
# scheme of its path (see HudiTable._seq_claim_store).
_SEQ_CLAIM_STORES: dict[str, "Callable[[str], SeqClaimStore]"] = {}


def register_seq_claim_store(scheme: str, factory) -> None:
    """Register a SeqClaimStore factory for a URI scheme (e.g. ``s3``).
    ``factory`` receives the claim-dir URI ``<table-path>__hudi_seqclaim``
    and returns the store. With a store registered, a MOR commit on that
    scheme claims its seq in O(1) conditional-put RPCs; without one,
    every append pays a Spark max-agg scan of the delta log."""
    _SEQ_CLAIM_STORES[scheme.lower()] = factory


def unregister_seq_claim_store(scheme: str) -> None:
    _SEQ_CLAIM_STORES.pop(scheme.lower(), None)


@dataclass(frozen=True)
class _Manifest:
    """One parsed manifest version (``HudiTable._manifest``): the live
    data files, their record-key and partition-value envelopes
    (``{path: [min, max, has_null]}``; {} in manifests written before
    the envelope existed, which disables that pruning) and the
    ``key_unique`` claim (False in manifests that predate it, which only
    costs the base-duplicate guard's conservatism)."""

    version: int
    files: list[str]
    ranges: dict[str, list]
    pranges: dict[str, list]
    key_unique: bool


@dataclass
class HudiTable:
    """A keyed, upsertable, optionally partitioned lake table.

    Parquet-backed COPY_ON_WRITE implementation of the write semantics
    the reference delegates to ``format("hudi")``.

    FILESYSTEM SCOPE (deployment note): (1) MOR commit seqs are claimed
    by conditional put in a ``SeqClaimStore`` — the hard-link claim dir
    on a local path, the store registered for the scheme
    (``register_seq_claim_store``) elsewhere. A non-local scheme with no
    registered store degrades — never breaks: every MOR append scans
    the delta log since the last compaction for the max seq, O(log) per
    write instead of O(1), and seqs are unique only under the table
    lock. (2) The filesystem lock provider
    (``hoodie.write.lock.provider``) needs atomic ``O_CREAT|O_EXCL``
    exclusive create (and rename) — local filesystems and NFSv4+; on
    object stores it raises at lock-path resolution rather than
    pretending. (3) Both commit layouts run on local paths only and
    guard via ``_local_fs_path``: the rename layout needs atomic
    directory renames, and the manifest layout, which models the
    object-store protocol, publishes each version by a hard-link
    conditional put (``_put_if_absent``).
    """

    path: str
    record_key: str
    precombine: str
    partition_field: str | None = None
    table_name: str | None = None
    table_type: str = "COPY_ON_WRITE"
    options: dict[str, str] = field(default_factory=dict)
    # per-(instance, thread) reentrancy depth for the commit lock —
    # compound maintenance ops (cluster -> compact) must not
    # self-deadlock, while distinct threads sharing one instance (the
    # demux table cache) still exclude each other
    _lock_local: threading.local = field(
        default_factory=threading.local, repr=False, compare=False
    )
    # per-instance base-schema memo: Spark 4 launches a 1-task footer
    # job for EVERY `spark.read.parquet(...).schema` inference, so each
    # merge read would pay one. The memo holds the schema from THIS
    # instance's own genesis write, full rewrite or one actual
    # inference, normalized all-nullable (inference's posture); an
    # append by this instance adds its new columns (_widened). It is
    # dropped whenever this instance rewrites base files, and when an
    # append retypes a column — the next read re-infers once.
    # Unpartitioned non-manifest tables only: on hive layouts the
    # partition column's type comes from directory-value inference,
    # which a cached write-side schema would override.
    # Trust model matches the other per-instance memos (seq store,
    # lock): an EXTERNAL writer evolving the schema mid-lifetime is
    # outside the single-writer-per-instance contract; cross-process
    # readers always start cold and infer.
    _base_schema_memo: object = field(default=None, repr=False, compare=False)

    @classmethod
    def from_props(cls, props: dict[str, str]) -> "HudiTable":
        """Build from a hoodie.* property map, as every reference importer
        does (``HoodieExcelImporter.scala:87-92``)."""
        return cls(
            path=props[TABLE_PATH],
            record_key=props[RECORDKEY_FIELD],
            precombine=props[PRECOMBINE_FIELD],
            partition_field=props.get(PARTITIONPATH_FIELD) or None,
            table_name=props.get(TABLE_NAME),
            table_type=props.get(TABLE_TYPE, "COPY_ON_WRITE"),
            options=dict(props),
        )

    # -- read ----------------------------------------------------------
    @property
    def is_mor(self) -> bool:
        return self.table_type.upper() == "MERGE_ON_READ"

    def _sidecar(self, kind: str, local: bool = True) -> str:
        """``<path>__hudi_<kind>``: the table's log, seqbase, seqclaim and
        lock siblings, on the local filesystem path (raising
        NotImplementedError off it) or, with ``local=False``, on the
        table URI. Siblings, not children: Spark's file index treats
        `_`/`.` prefixed dirs as hidden even when passed as the read
        root, and a non-hidden child dir would corrupt the base read's
        partition discovery — a sibling keeps base scans of self.path
        pristine."""
        root = self._local_fs_path() if local else self.path
        return f"{root.rstrip('/')}__hudi_{kind}"

    @property
    def _log_path(self) -> str:
        return self._sidecar("log", local=False)

    def exists(self, spark: SparkSession) -> bool:
        if self._is_manifest:
            try:
                return bool(self._manifest_versions())
            except NotImplementedError:
                return False
        try:
            # local paths: a cheap fs check, and no JVM stack-trace noise
            # from probing a table that simply isn't there yet
            local = self._local_fs_path()
        except NotImplementedError:
            pass
        else:
            if not os.path.exists(local):
                return False
            # driver-side table probe: any VISIBLE parquet data file
            # under the root means a read can succeed, with no Spark
            # footer-inference job. Hidden names are skipped by the same
            # rule Spark's file index applies, so a crashed writer's
            # `_temporary/**.parquet` never makes an empty root a table;
            # an unreadable footer surfaces at read time instead.
            for _dirpath, dirs, files in os.walk(local):
                dirs[:] = [d for d in dirs if not _hidden_name(d)]
                if any(
                    f.endswith(".parquet") and not _hidden_name(f)
                    for f in files
                ):
                    return True
            return False
        try:
            spark.read.parquet(self.path).schema
            return True
        except Exception:
            return False

    def _has_log(self, spark: SparkSession) -> bool:
        try:
            local = self._local_fs_path()
        except NotImplementedError:
            try:  # non-local path: probe via a schema read
                spark.read.parquet(self._log_path).schema
                return True
            except Exception:
                return False
        return os.path.isdir(self._sidecar("log"))

    def _memo_base_schema(self, schema) -> None:
        """Populate the per-instance base-schema memo (unpartitioned
        non-manifest tables only — see the field note), normalized
        all-nullable to match what inference would report."""
        if (
            schema is not None
            and self.partition_field is None
            and not self._is_manifest
        ):
            from pyspark.sql.types import StructField, StructType

            self._base_schema_memo = StructType(
                [StructField(f.name, f.dataType, True) for f in schema.fields]
            )

    def _base_read(self, spark: SparkSession) -> DataFrame:
        """Base-files DataFrame. Supplies the memoized schema (no
        Spark 4 footer-inference job) when this instance knows it;
        otherwise infers once and memoizes."""
        if self._base_schema_memo is not None:
            return spark.read.schema(self._base_schema_memo).parquet(
                self.path
            )
        df = spark.read.parquet(self.path)
        self._memo_base_schema(df.schema)
        return df

    def _base_schema(self, spark: SparkSession, m: _Manifest | None = None):
        """The base files' Spark schema, driver-side (memoized or a
        single inference); None when unavailable. Manifest tables read
        the files of ``m``, by default the head."""
        try:
            if self._is_manifest:
                return self._manifest_read(spark, m or self._manifest()).schema
            return self._base_read(spark).schema
        except Exception:
            return None

    def _log_full_schema(self, spark: SparkSession):
        """EXACT full schema of the delta log, derived DRIVER-SIDE from
        parquet footers, as the manifest envelopes are (_footer_envelopes):
        candidate = base schema + (__hudi_op string, __hudi_seq long),
        verified against every log file's parquet footer via pyarrow —
        column names must be ⊆ the candidate's and each file's arrow
        type must equal the BASE footer's arrow type for that column
        (same writer ⇒ same physical encoding; no arrow→Spark type
        conversion is ever trusted). Any surprise — log-side schema
        evolution, retyping, unreadable footer, non-local scheme,
        partitioned layout (dir-encoded values need Spark's own
        discovery), or more than ``_FOOTER_MAX_FILES`` log files
        (object-store posture: k sequential driver RPCs lose to one
        job) — returns None and the caller pays the distributed
        mergeSchema inference exactly as before. Callers' downstream is
        name-based (unionByName / named selects), so column order
        differences vs a merged inference are immaterial."""
        try:
            import pyarrow.parquet as _pq
        except Exception:
            return None
        if self.partition_field:
            return None
        try:
            local = self._local_fs_path()
        except NotImplementedError:
            return None
        logdir = self._sidecar("log")
        try:
            log_files = [
                os.path.join(logdir, f)
                for f in os.listdir(logdir)
                if f.endswith(".parquet")
            ]
            base_files = sorted(
                os.path.join(local, f)
                for f in os.listdir(local)
                if f.endswith(".parquet")
            )
        except OSError:
            return None
        if not log_files or not base_files:
            return None
        if len(log_files) > self._FOOTER_MAX_FILES:
            return None
        base_schema = self._base_schema(spark)
        if base_schema is None:
            return None
        try:
            base_arrow = {
                f.name: str(f.type) for f in _pq.read_schema(base_files[0])
            }
            if set(base_arrow) != set(base_schema.fieldNames()):
                return None
            for p in log_files:
                for f in _pq.read_schema(p):
                    if f.name == "__hudi_op":
                        if str(f.type) not in ("string", "large_string"):
                            return None
                    elif f.name == "__hudi_seq":
                        if str(f.type) != "int64":
                            return None
                    elif str(f.type) != base_arrow.get(f.name):
                        return None
        except Exception:
            return None
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        return StructType(
            list(base_schema.fields)
            + [
                StructField("__hudi_op", StringType()),
                StructField("__hudi_seq", LongType()),
            ]
        )

    def _log_read(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        base_schema=None,
    ) -> DataFrame:
        """Delta-log DataFrame without the distributed mergeSchema
        inference job wherever the schema is derivable driver-side.

        ``columns``: a NARROW projection every log entry is guaranteed
        to carry (writer invariant: each entry is the batch frame —
        which always holds the record key — plus __hudi_op/__hudi_seq),
        so an explicit schema of just those fields is exact with no
        verification; data-column types come from ``base_schema``. The
        partition column of a partitioned table is the exception: its
        values live in the log's directory names, whose type Spark
        infers from the log's own directories, so a request for it
        takes the mergeSchema read.
        ``columns=None``: the full merge read — exact only under the
        footer-verified contract of ``_log_full_schema``. Either path
        falls back to the mergeSchema read whenever the cheap schema is
        unavailable; correctness never depends on the fast path."""
        if columns is not None and not (
            self.partition_field and self.partition_field in columns
        ):
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                StructType,
            )

            fields = []
            for c in columns:
                if c == "__hudi_seq":
                    fields.append(StructField("__hudi_seq", LongType()))
                elif c == "__hudi_op":
                    fields.append(StructField("__hudi_op", StringType()))
                elif base_schema is not None and c in base_schema.fieldNames():
                    fields.append(base_schema[c])
                else:
                    fields = None
                    break
            if fields is not None:
                return spark.read.schema(StructType(fields)).parquet(
                    self._log_path
                )
        else:
            schema = self._log_full_schema(spark)
            if schema is not None:
                return spark.read.schema(schema).parquet(self._log_path)
        return spark.read.option("mergeSchema", "true").parquet(
            self._log_path
        )

    def read(
        self,
        spark: SparkSession,
        mode: str = "snapshot",
        as_of_seq: int | None = None,
        *,
        keys: DataFrame | None = None,
        partitions: list | None = None,
        _keys: DataFrame | None = None,
    ) -> DataFrame:
        """Current table state. COPY_ON_WRITE: the base files are the
        state. MERGE_ON_READ: merge base + delta log at read time —
        latest-wins per key by (unconditional-delete, precombine, commit
        seq), winners with a delete op dropped. The merge is the same
        single key-shuffle as the COW write-side merge, paid per read
        until compact() folds the log into the base.

        ``mode`` mirrors Hudi's MOR query types: ``snapshot`` (default)
        merges the log; ``read_optimized`` returns the base files only —
        no shuffle, latest compaction's state, pending log commits not
        visible (Hudi's ``hoodie.datasource.query.type=read_optimized``).

        ``as_of_seq`` is time travel (Hudi's ``as.of.instant`` query,
        HoodieSparkUtils reads with ``hoodie.datasource.read.end.instanttime``):
        the snapshot as of delta commit ``as_of_seq`` inclusive — the
        merge simply ignores younger log entries, so the cost is the
        same one key-shuffle. History folded by a compaction is gone
        (same horizon rule as read_incremental); asking for it raises.

        ``keys`` (point lookup): a frame carrying the record-key column;
        the read returns the current state of exactly those keys. Base
        and log are BOTH semi-joined to it BEFORE the merge, so the
        merge's shuffle volume tracks the key set, not the table —
        exact unconditionally, because the latest-wins merge is
        independent per key. On manifest tables the base scan is
        additionally FILE-pruned against the per-file key envelopes
        (_manifest_split_touched): a point lookup on a range-clustered
        100 TB table opens one file, not the table. Small key sets
        (``hoodie.read.pointlookup.inlist.max``, default 1000) are also
        pushed as a parquet-native IN filter — row-group min/max skip
        on plain tables, and inside the touched files of manifest
        tables; for integral or string keys that IN-list is exact and
        replaces the two semi-joins. ``_keys`` is the
        same hook for internal callers whose EXACTNESS argument spans
        two reads (read_cdc's before/after diff: every commit after a
        valid cursor still lives in the log).

        ``partitions`` (partition-scoped read): a list of partition
        VALUES (``None`` selects the null partition); the read returns
        only rows whose CURRENT partition value is in the list. On
        hive-layout tables the filter prunes partition directories via
        Catalyst; on manifest tables the base file list is pruned
        against the per-file partition-value envelopes — the dominant
        100 TB read pattern opens one partition's file groups, not the
        table. MOR subtlety: a base file outside the requested
        partitions may still hold the WINNING version of a key whose
        stale duplicate survives the pruning — via a STALE log entry,
        or via a duplicate base row (bulk_insert appends without index
        lookup, so a genesis batch can land key k's winner in partition
        'a' and a stale copy in partition 'b') — and dropping it would
        let the stale row win the merge. So under a live delta log a
        base file is only pruned when its key envelope is disjoint from
        the log's key set (the log-guard) AND, unless the manifest's
        ``key_unique`` claim rules base duplicates out, from every kept
        file's key envelope (_base_duplicate_guard); the partition
        filter is applied AFTER the merge. Composes with
        ``keys``/``_keys`` (both prunings intersect; each is
        independently sound).
        """
        if mode not in ("snapshot", "read_optimized"):
            raise ValueError(
                f"unsupported read mode {mode!r}: snapshot | read_optimized"
            )
        if _keys is None:
            _keys = keys
        elif keys is not None:
            raise ValueError("pass keys= or _keys=, not both")
        # Public point lookups additionally push a parquet-native IN
        # filter when the probed key set is SMALL: one capped collect
        # (<= cap+1 rows, metadata-scale — a point lookup's key set is
        # user-sized by definition) turns the probe into PushedFilters
        # row-group pruning, which works on PLAIN tables with no
        # manifest (min/max row-group skip) and inside the touched
        # files of manifest tables. It selects exactly the rows the
        # semi-join below keeps (NULL probe keys match no row under
        # either) wherever the key type round-trips through Python
        # exactly, and there it stands in for the semi-join; other key
        # types keep both. Large key frames skip the probe and keep the
        # pure semi-join plan.
        # The internal _keys hook (read_cdc/read_incremental) never
        # probes — its key sets are delta-sized, not user-sized.
        in_filter = None
        if keys is not None:
            cap = int(
                self.options.get("hoodie.read.pointlookup.inlist.max", 1000)
            )
            if cap > 0:
                vals = [
                    r[0]
                    for r in keys.select(self.record_key)
                    .distinct()
                    .limit(cap + 1)
                    .collect()
                ]
                if len(vals) <= cap:
                    vals = [v for v in vals if v is not None]
                    in_filter = (
                        F.col(self.record_key).isin(vals)
                        if vals
                        else F.lit(False)
                    )
        pfilter = None
        part_spec = None
        if partitions is not None:
            if not self.partition_field:
                raise ValueError(
                    "partitions= requires a table with a partition_field"
                )
            pvals = list(partitions)
            nonnull = [v for v in pvals if v is not None]
            want_null = len(nonnull) < len(pvals)
            pcol = F.col(self.partition_field)
            if nonnull and want_null:
                pfilter = pcol.isin(nonnull) | pcol.isNull()
            elif nonnull:
                pfilter = pcol.isin(nonnull)
            elif want_null:
                pfilter = pcol.isNull()
            else:
                pfilter = F.lit(False)
            part_spec = (nonnull, want_null)
        if as_of_seq is not None:
            if not self.is_mor:
                raise ValueError(
                    "time travel requires a MERGE_ON_READ table "
                    "(COPY_ON_WRITE rewrites keep no commit history)"
                )
            if mode != "snapshot":
                raise ValueError("time travel is a snapshot-mode read")
            if as_of_seq < self._seq_base() - 1:
                raise ValueError(
                    f"as_of_seq {as_of_seq} predates the last compaction "
                    f"(history before seq {self._seq_base()} was folded "
                    "into the base files)"
                )
        # the log-guard: under a live merging delta log, a base file
        # outside the requested partitions may hold the WINNING version
        # of a key with a STALE log entry (bulk_insert routes through
        # the log, so out-of-order precombine values reach it) — prune
        # such a file and the stale entry wins the merge unopposed.
        # Guarding with the log's key set keeps every file that could
        # influence a merge outcome; the guard key set is delta-sized.
        m = self._manifest() if self._is_manifest else None
        guard = None
        if (
            part_spec is not None
            and m is not None
            and mode == "snapshot"
            and self.is_mor
            and self._has_log(spark)
        ):
            guard = (
                self._log_read(
                    spark,
                    columns=[self.record_key],
                    base_schema=self._base_schema(spark, m),
                )
                .select(self.record_key)
                .distinct()
            )
        base = (
            self._manifest_read(
                spark, m, keys=_keys, part_spec=part_spec, guard_keys=guard
            )
            if m is not None
            else self._base_read(spark)
        )
        semi_keys = _keys
        if in_filter is not None:
            base = base.filter(in_filter)
            # the IN-list holds the WHOLE probe set; where the key type
            # round-trips exactly it keeps exactly the rows the
            # semi-join would, so the key frame is not evaluated again
            # (the manifest file pruning above still used it)
            if _in_list_exact(
                keys.schema[self.record_key].dataType,
                base.schema[self.record_key].dataType,
            ):
                semi_keys = None
        if semi_keys is not None:
            base = base.join(semi_keys, self.record_key, "left_semi")
        if mode == "read_optimized" or not (
            self.is_mor and self._has_log(spark)
        ):
            # no log merges here, so the partition filter is a plain
            # selection — it reaches the parquet scan (and on
            # hive-layout tables prunes partition directories)
            return base.filter(pfilter) if pfilter is not None else base
        # full-width log read: delete markers carry fewer columns than
        # upsert entries, so the schema is either derived driver-side
        # and footer-verified (_log_read, no Spark job — missing marker
        # columns null-fill exactly as a merged inference would) or
        # falls back to the mergeSchema inference job
        log = self._log_read(spark)
        if in_filter is not None:
            log = log.filter(in_filter)
        if semi_keys is not None:
            log = log.join(semi_keys, self.record_key, "left_semi")
        if as_of_seq is not None:
            log = log.filter(F.col("__hudi_seq") <= as_of_seq)
        out = self._merge_log(base, log)
        if pfilter is not None:
            # AFTER the merge: a row's partition membership is decided
            # by its WINNING version (a key may have moved partitions
            # via the log), so pre-merge row filtering would be unsound
            out = out.filter(pfilter)
        return out

    def _merge_log(self, base: DataFrame, log: DataFrame) -> DataFrame:
        """The MERGE_ON_READ snapshot of ``base`` + delta-log rows
        ``log``: latest-wins per key by (unconditional-delete,
        precombine, commit seq), winners with a delete op dropped."""
        from pyspark.sql.types import NumericType

        # hive-layout partition values are typed by directory inference,
        # separately for base and log: base dirs p=1, p=2 infer INT where
        # a log dir p=x infers STRING, and the union's implicit cast of
        # 'x' to a number fails under ANSI. Types that do not both widen
        # as numbers meet as STRING, the type the mixed directory set
        # infers after compaction.
        pf = self.partition_field
        if pf and pf in base.columns and pf in log.columns:
            bt, lt = base.schema[pf].dataType, log.schema[pf].dataType
            if bt != lt and not (
                isinstance(bt, NumericType) and isinstance(lt, NumericType)
            ):
                base = base.withColumn(pf, F.col(pf).cast("string"))
                log = log.withColumn(pf, F.col(pf).cast("string"))
        tagged_base = base.withColumn("__hudi_op", F.lit("upsert")).withColumn(
            "__hudi_seq", F.lit(-1).cast("long")
        )
        merged = tagged_base.unionByName(log, allowMissingColumns=True)
        # A key-only delete marker (null precombine) is an unconditional
        # delete: it acts as a BARRIER — only records from later commits
        # survive it (so a subsequent re-insert resurrects the key),
        # and the survivors then merge by (precombine, commit seq).
        # Both windows share the record-key partitioning → one shuffle.
        uncond = (F.col("__hudi_op") == "delete") & F.col(self.precombine).isNull()
        wk = Window.partitionBy(self.record_key)
        barrier = F.max(F.when(uncond, F.col("__hudi_seq"))).over(wk)
        live = merged.withColumn("__hudi_barrier", barrier).filter(
            (~uncond)
            & (F.col("__hudi_seq") > F.coalesce(F.col("__hudi_barrier"), F.lit(-2)))
        )
        w = Window.partitionBy(self.record_key).orderBy(
            F.col(self.precombine).desc_nulls_last(),
            F.col("__hudi_seq").desc(),
        )
        return (
            live.withColumn("__hudi_rn", F.row_number().over(w))
            .filter((F.col("__hudi_rn") == 1) & (F.col("__hudi_op") != "delete"))
            .drop("__hudi_rn", "__hudi_op", "__hudi_seq", "__hudi_barrier")
        )

    def latest_commit_seq(self, spark: SparkSession) -> int:
        """Highest delta-commit seq in the log (-1 = no log commits) —
        the cursor callers persist between incremental pulls."""
        return self._next_seq(spark) - 1

    def read_incremental(
        self, spark: SparkSession, since_seq: int = -1
    ) -> DataFrame:
        """Hudi's third MOR query type (incremental): the CURRENT
        snapshot rows of every key touched by a delta commit with
        ``seq > since_seq``. Keys whose net effect since the cursor is
        deletion simply don't appear (Hudi semantics). The key set is a
        seq-pruned log scan + semi-join — cost tracks the delta, not the
        table.

        Cursor protocol: the GENESIS base load is the seq ``-1`` commit,
        so ``since_seq=-1`` means "consumed through genesis" — exactly
        what ``latest_commit_seq()`` returns right after the initial
        load. A mirror bootstraps with a full ``read()`` + cursor
        ``latest_commit_seq()``, then polls incrementally; every LATER
        bulk_insert routes through the log with a real seq (see
        bulk_insert), so no post-genesis load can bypass the cursor."""
        if not self.is_mor:
            raise ValueError(
                "incremental read requires a MERGE_ON_READ table "
                "(COPY_ON_WRITE rewrites have no commit log to diff)"
            )
        base = self._seq_base()
        if since_seq < base - 1:
            raise ValueError(
                f"incremental cursor {since_seq} predates the last "
                f"compaction (history before seq {base} was folded into "
                "the base files) — run a full read() to resync, then "
                "continue from latest_commit_seq()"
            )
        if not self._has_log(spark):
            return self.read(spark).limit(0)
        # feed the touched-key set through read()'s _keys hook: base and
        # log are semi-joined to it BEFORE the latest-wins merge (and on
        # manifest tables the base scan is file-pruned), so the
        # incremental feed's merge shuffle tracks the DELTA, not the
        # table — same exactness argument as read_cdc: the merge is
        # independent per key, and every commit after a valid cursor
        # still lives in the log (the base-horizon check above raised
        # otherwise)
        return self.read(spark, _keys=self._touched_keys(spark, since_seq))

    def _touched_keys(self, spark: SparkSession, since_seq: int) -> DataFrame:
        """The distinct record keys of every delta commit with seq >
        ``since_seq``: a key-and-seq projection of the log, so the scan
        tracks the delta, not the table (callers check the log
        exists)."""
        return (
            self._log_read(
                spark,
                columns=[self.record_key, "__hudi_seq"],
                base_schema=self._base_schema(spark),
            )
            .filter(F.col("__hudi_seq") > since_seq)
            .select(self.record_key)
            .distinct()
        )

    # -- write ---------------------------------------------------------
    def _writer(self, df: DataFrame, mode: str):
        w = df.write.mode(mode)
        if self.partition_field and self.partition_field in df.columns:
            w = w.partitionBy(self.partition_field)
        return w

    @_locked
    def bulk_insert(self, df: DataFrame) -> None:
        """Append without index lookup (``write.operation=bulk_insert``).

        On an EXISTING MOR table the batch is routed through the log
        (op=upsert) instead of the base, for two reasons. (1) Ordering:
        base rows merge at seq=-1, so a base append would be killed by
        any EARLIER unconditional delete marker — in Hudi a later
        insert survives an earlier delete; the log entry gets a commit
        seq after the marker. (2) Timeline visibility: a base append
        carries no commit seq, so it would be invisible to
        read_incremental/read_cdc cursors (silent loss for downstream
        mirrors) and RETROACTIVELY visible to read(as_of_seq=old) —
        rows appearing in a historical snapshot that predates them.
        Only the GENESIS load (table doesn't exist yet) writes the
        base: seq -1 is the genesis commit, correctly visible at every
        as_of; ``latest_commit_seq()`` returns -1 right after it, so
        the incremental cursor protocol (bootstrap = full read() +
        that cursor) hands the load to mirrors without a log entry —
        see read_incremental's cursor-protocol note."""
        spark = df.sparkSession
        df = self._with_partition_col(df, spark)
        if self.is_mor and self.exists(spark):
            self._commit_log(df, "upsert", spark)
            return
        if self._is_manifest:
            files, ranges, pranges = self._manifest_write_batch(df)
            # append commit: the head list is merged INSIDE the
            # conditional-put retry loop (a stale-head retry would drop
            # a concurrent committer's files — see _publish_manifest).
            # key_unique: bulk_insert has no semantic uniqueness claim
            # (no index lookup), but a range-clustered genesis PROVES it
            # from envelope disjointness — and when the loader KNOWS its
            # batch is key-unique (the common genesis case) it can opt
            # into a one-pass verification instead of losing the claim
            # to envelope overlap: hoodie.bulkinsert.verify.unique.keys
            # runs one count/count-distinct aggregate over the KEY
            # COLUMN of the just-written files (column-pruned scan,
            # map-side partial agg, 1-row collect) — at 100 TB that is
            # the difference between partition-scoped MOR reads keeping
            # their file pruning forever and paying the base-duplicate
            # guard until the first compact()/cluster() publishes the
            # claim. merge_head demotes the claim whenever the head
            # turns out non-empty (cross-commit disjointness unproven).
            ku = _key_envelopes_disjoint(ranges, files)
            if (
                not ku
                and files
                and str(
                    self.options.get(
                        "hoodie.bulkinsert.verify.unique.keys", "false"
                    )
                ).lower()
                == "true"
            ):
                row = (
                    spark.read.parquet(*files)
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.count(self.record_key).alias("nn"),
                        F.countDistinct(self.record_key).alias("d"),
                    )
                    .collect()[0]
                )
                ku = row["n"] == row["nn"] == row["d"]
                if not ku:
                    _LOG.warning(
                        "bulk_insert(%s): verify.unique.keys found "
                        "duplicate or null record keys (%d rows, %d "
                        "non-null, %d distinct) — key_unique not "
                        "claimed; partition-scoped MOR reads will use "
                        "the base-duplicate guard",
                        self.table_name or self.path,
                        row["n"],
                        row["nn"],
                        row["d"],
                    )
            self._publish_manifest(
                files,
                merge_head=True,
                ranges=ranges,
                pranges=pranges,
                key_unique=ku,
            )
        else:
            genesis = not self.exists(spark)
            self._writer(df, "append").parquet(self.path)
            if genesis:
                # the base is exactly df's columns: memo, so later reads
                # skip the footer-inference job
                self._memo_base_schema(df.schema)
            elif self._base_schema_memo is not None:
                self._base_schema_memo = _widened(
                    self._base_schema_memo, df.schema
                )
        self._maybe_sync_catalog(spark)

    # insert shares the bulk path in the parquet fallback (no small-file
    # bin-packing layer here).
    insert = bulk_insert

    def overwrite(self, df: DataFrame) -> None:
        df = self._with_partition_col(df)
        self._base_schema_memo = None
        self._writer(df, "overwrite").parquet(self.path)
        self._memo_base_schema(df.schema)
        self._maybe_sync_catalog(df.sparkSession)

    def _with_partition_col(
        self, df: DataFrame, spark: SparkSession | None = None
    ) -> DataFrame:
        """A configured partition column missing from the batch is
        materialized as NULL — routed to ``__HIVE_DEFAULT_PARTITION__``,
        which the read scope already includes (_partition_scope) — rather
        than crashing the write (``Partition column not found``) or
        silently flipping the table to an unpartitioned layout for that
        batch. The CDC demux path hits this whenever a table is
        configured with ``partitionpath.field`` but its change events
        don't carry the column and no transformer derives it; the crash
        variant wedged the streaming query in a checkpoint-replay loop.
        The NULL's type follows the existing table schema when there is
        one, so later batches that DO carry the column union cleanly."""
        if not self.partition_field or self.partition_field in df.columns:
            return df
        # memoized: the demux hot path hits this once per micro-batch
        # per table, and the dtype probe costs a read-plan construction
        # (file listing + schema inference) — pay it once per instance,
        # not per batch. The dtype of a partition column can't drift
        # within one table lifetime (partition discovery types the
        # whole dt= dir set together).
        dtype = getattr(self, "_partition_dtype_memo", None)
        if dtype is None:
            dtype = "string"
            spark = spark or df.sparkSession
            try:
                if self.exists(spark):
                    existing = dict(self.read(spark).dtypes)
                    dtype = existing.get(self.partition_field, "string")
            except Exception:
                # a missing/unreadable table must not fail the write
                # that is about to create it; real read errors resurface
                # on the next read() call
                pass
            self._partition_dtype_memo = dtype
            # once per table instance, not per batch: a partition_field
            # TYPO (column never present in any batch) would otherwise
            # silently land the whole table in the null partition with
            # pruning permanently dead — make the fallback visible.
            _LOG.warning(
                "table %s: configured partition column %r is absent from "
                "the batch schema; materializing it as NULL "
                "(__HIVE_DEFAULT_PARTITION__). If every batch lacks it, "
                "check the partitionpath.field spelling or derive the "
                "column with a transformer.sql hook.",
                self.path,
                self.partition_field,
            )
        return df.withColumn(self.partition_field, F.lit(None).cast(dtype))

    def _touched_partitions(self, df: DataFrame) -> tuple[list, bool]:
        """Distinct partition values in a batch — metadata-scale collect
        (the partition-pruning key list, not data). Returns
        ``(non_null_values, has_null)``: a null partition value is a real
        partition (Spark writes it to ``__HIVE_DEFAULT_PARTITION__``) and
        MUST be part of the touched scope — dropping it would make the
        partition rewrite replace the null-partition directory with only
        the batch's rows, deleting pre-existing null-partition data."""
        vals = [
            r[0] for r in df.select(self.partition_field).distinct().collect()
        ]
        return [v for v in vals if v is not None], any(v is None for v in vals)

    def _partition_scope(self, parts: list, has_null: bool):
        """Filter predicate selecting exactly the touched partitions,
        null partition included when the batch touches it."""
        pred = F.col(self.partition_field).isin(parts)
        if has_null:
            pred = pred | F.col(self.partition_field).isNull()
        return pred

    # -- write lock (Hudi FileSystemBasedLockProvider analog) -----------
    def _lock_enabled(self) -> bool:
        """On when ``hoodie.write.lock.provider`` names a filesystem
        provider (accepts Hudi's full class name
        ``org.apache.hudi.client.transaction.lock.FileSystemBasedLockProvider``
        or any value containing 'filesystem')."""
        prov = str(self.options.get("hoodie.write.lock.provider", ""))
        return "filesystem" in prov.lower()

    def _lock_file(self) -> str:
        custom = self.options.get("hoodie.write.lock.filesystem.path")
        if custom:
            os.makedirs(custom, exist_ok=True)
            name = re.sub(r"[^A-Za-z0-9_.-]", "_", self.path.rstrip("/"))
            return os.path.join(custom, name + ".lock")
        try:
            return self._sidecar("lock")
        except NotImplementedError:
            raise ValueError(
                "the filesystem lock provider needs a local table path "
                "or an explicit hoodie.write.lock.filesystem.path"
            ) from None

    @contextmanager
    def _commit_lock(self):
        """Serialize writers via an exclusive lock file (the analog of
        Hudi's ``FileSystemBasedLockProvider`` — the provider real Hudi
        ships for exactly this). With the lock held, the
        ``expected_seq`` check in upsert() and the commit it guards
        become an atomic compare-and-commit instead of check-then-write:
        two writers that both pass the check can no longer both write.

        ``O_CREAT|O_EXCL`` is atomic on the local filesystems the
        rename-based commit already requires (same trust boundary).
        Options (public Hudi keys): ``hoodie.write.lock.wait_time_ms``
        (acquisition timeout, default 60000 — expiring raises
        ConcurrentWriteError, the retryable class) and
        ``hoodie.write.lock.filesystem.expire`` (MINUTES; >0 lets a
        lock whose mtime is older than this be stolen, so a crashed
        holder does not wedge the table forever — Hudi's own expire
        semantics; default 0 = never, matching Hudi).

        Ownership protocol: each acquisition writes a unique token into
        the lock file; ownership is re-verified AFTER the exclusive
        create (an expiry-stealer may have renamed the fresh file away
        in the race window) and BEFORE the release-remove (a holder
        that ran past the expiry and was lawfully dispossessed must not
        delete the thief's lock). Stealing is a RENAME to a unique
        grave name — of two racing stealers only one moves the file —
        followed by an mtime re-check of the moved file: a mistaken
        steal of a fresh lock is restored via conditional link, never a
        clobbering rename. With ``expire`` > 0 a holder whose critical
        section outruns the expiry can still be dispossessed while it
        runs — mtime-expiry locks trade strict mutual exclusion for
        liveness (real Hudi's filesystem lock has the same property;
        fencing requires a CAS store, which is what the manifest
        conditional-put provides for the commits themselves).

        Reentrant per (instance, thread): compound ops (cluster →
        compact, insert_overwrite → compact) take it once."""
        if not self._lock_enabled():
            yield
            return
        held = getattr(self._lock_local, "held", 0)
        if held:
            self._lock_local.held = held + 1
            try:
                yield
            finally:
                self._lock_local.held -= 1
            return
        path = self._lock_file()
        wait_ms = int(
            self.options.get("hoodie.write.lock.wait_time_ms", 60000)
        )
        expire_s = 60.0 * float(
            self.options.get("hoodie.write.lock.filesystem.expire", 0)
        )
        deadline = time.monotonic() + wait_ms / 1000.0
        token = f"{os.getpid()}:{uuid.uuid4().hex}"
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                if self._lock_token(path) == token:
                    break  # created AND still ours: acquired
                # a racing stealer renamed our fresh file away (its
                # mtime re-check will restore it, or not) — not ours
            except FileExistsError:
                if self._lock_token(path) == token:
                    break  # our mistakenly-stolen lock was restored
                if expire_s > 0 and self._steal_expired_lock(
                    path, expire_s
                ):
                    continue  # stale holder cleared: retry the create
            # every other outcome — held by someone else, stat/steal
            # failure, lost create race — waits through ONE deadline
            # check (a persistent stat failure can no longer busy-spin
            # past the timeout)
            if time.monotonic() >= deadline:
                raise ConcurrentWriteError(
                    f"could not acquire commit lock {path} within "
                    f"{wait_ms} ms — another writer holds it (or a "
                    "crashed writer left it behind: set "
                    "hoodie.write.lock.filesystem.expire to let "
                    "stale locks expire, or remove the file)"
                )
            time.sleep(0.05)
        self._lock_local.held = 1
        try:
            yield
        finally:
            self._lock_local.held = 0
            # remove only OUR lock: if an expiry-steal lawfully
            # dispossessed us mid-hold, the file at path is the
            # thief's and must survive our release
            if self._lock_token(path) == token:
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass

    @staticmethod
    def _lock_token(path: str) -> str | None:
        """The owner token in the lock file; None when unreadable
        (absent, or a transient filesystem error — callers treat both
        as 'not ours')."""
        try:
            with open(path) as fh:
                return fh.read()
        except OSError:
            return None

    @staticmethod
    def _steal_expired_lock(path: str, expire_s: float) -> bool:
        """Clear ``path`` if its mtime is older than ``expire_s``.
        Returns True when the path was cleared for the caller to retry
        its exclusive create.

        The steal is a rename to a unique grave name: atomic claim, so
        of two racing stealers exactly one moves the file and the loser
        gets ENOENT — the remove-based steal let the loser delete the
        winner's freshly created lock. The moved file's age is then
        RE-CHECKED: if it was actually fresh (the stale holder released
        and a new writer acquired between our stat and our rename), the
        steal was mistaken and the file is restored via os.link —
        conditional, so a third writer's lock created in the gap is
        never clobbered. Residual window: when the mistaken steal
        dispossessed a FRESH victim that had already passed its
        post-create verification AND a third writer created in the
        path-absent gap, the EEXIST-failed restore leaves BOTH believing
        they hold the lock; in that window mutual exclusion comes from
        the manifest conditional-put, not the lock. (The victim's
        post-create verification only protects victims that verify
        AFTER the steal.)"""
        try:
            if time.time() - os.path.getmtime(path) <= expire_s:
                return False  # live holder
        except OSError:
            return False  # released between probe and stat, or stat error
        grave = f"{path}.steal-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(path, grave)
        except OSError:
            return False  # another stealer claimed it first
        try:
            stolen_fresh = time.time() - os.path.getmtime(grave) <= expire_s
        except OSError:
            return True  # grave vanished: nothing left to restore
        if stolen_fresh:
            try:
                os.link(grave, path)
                os.remove(grave)
            except OSError:
                # path re-occupied before the restore: leave the grave
                # as debris rather than clobber a third writer's lock
                pass
            return False
        os.remove(grave)  # genuinely expired — crashed holder's debris
        return True

    # -- MOR delta log --------------------------------------------------
    def _seq_base(self) -> int:
        """First commit seq that can still be served from the delta log.
        Compaction folds seqs < base into the base files and records the
        watermark in a sidecar so seqs stay MONOTONIC across compactions
        (a reset would silently break persisted incremental cursors)."""
        try:
            p = self._sidecar("seqbase")
        except NotImplementedError:
            return 0
        if os.path.exists(p):
            with open(p) as fh:
                return int(fh.read().strip() or 0)
        return 0

    @functools.cached_property
    def _seq_claim_store(self) -> SeqClaimStore | None:
        """The claim store that allocates this table's commit seqs: the
        local claim dir on a local or ``file://`` path, else the factory
        registered for the scheme; None on a non-local scheme with no
        registered store (allocation then scans the log per append).
        Memoized: the path and registry entry are fixed for the table's
        lifetime, and a deployment factory may construct a real store
        client, which the append hot path must not pay for."""
        m = re.match(r"^([a-z][a-z0-9+.-]*)://(.*)$", self.path)
        scheme = m.group(1) if m else None
        if scheme is None or scheme == "file":
            return _LocalSeqClaimStore(self._sidecar("seqclaim"))
        factory = _SEQ_CLAIM_STORES.get(scheme)
        if factory is None:
            return None
        return factory(self._sidecar("seqclaim", local=False))

    def _truncate_claims(self) -> None:
        """Delete every seq claim. Called by every path that REMOVES log
        entries (compact, restore): the next _next_seq re-derives the
        floor from the advanced seqbase watermark or the surviving log,
        and the claim LIST stays bounded by commits-since-compaction
        like the log itself."""
        store = self._seq_claim_store
        if store is not None:
            store.truncate()

    def _log_scan_next(self, spark: SparkSession) -> int:
        """The 1-row max agg over the log's seq column, floored by the
        seqbase watermark: O(log-since-compaction), one Spark job."""
        row = (
            self._log_read(spark, columns=["__hudi_seq"])
            .agg(F.max("__hudi_seq").alias("m"))
            .collect()[0]
        )
        return max(int(row["m"] or 0) + 1, self._seq_base())

    def _next_seq(self, spark: SparkSession) -> int:
        """Monotonic commit sequence for log records, floored by the
        post-compaction watermark. READ-ONLY peek — allocation (which
        must be durable and multi-writer-unique) is _alloc_seq.

        Every allocated seq holds a claim until compact/restore truncates
        the claims, so with claims present the answer is one LIST: past
        the highest claim, which is at or above the highest logged seq
        (above it after a crash gap — claimed, never logged). With no
        claims, a surviving log is scanned once: a table written before
        the claim store, or one whose claims restore just truncated; the
        next allocation re-establishes the claims. On a non-local scheme
        with no registered store every call takes the scan."""
        store = self._seq_claim_store
        claims = store.list_claims() if store is not None else []
        if claims:
            # max(), not claims[-1]: the abstract list_claims contract
            # does not require sorted order
            return max(max(claims) + 1, self._seq_base())
        if self._has_log(spark):
            return self._log_scan_next(spark)
        return self._seq_base()

    def _alloc_seq(self, spark: SparkSession, n: int = 1) -> int:
        """Durably allocate ``n`` consecutive commit seqs BEFORE the log
        append; returns the first.

        One LIST for the candidate (the _next_seq peek), one conditional
        PUT per seq, bump-and-retry on contention — O(1) RPCs,
        multi-writer-unique with no lock. A lost claim restarts the run
        just past it, so a run is always contiguous; seqs this writer
        already won below it become gaps. A crash after allocation
        wastes seqs (gaps — the read merge and cursors don't care)
        instead of re-issuing one (two commits sharing a seq would merge
        as one). Without a store (non-local scheme, nothing registered)
        the seq is the log scan's, unique only under the table lock."""
        seq = self._next_seq(spark)
        store = self._seq_claim_store
        if store is not None:
            won = 0
            while won < n:
                if store.claim(seq + won):
                    won += 1
                else:
                    seq, won = seq + won + 1, 0
        return seq

    def _delete_markers(self, keys_df: DataFrame) -> DataFrame:
        """A delete's log entry: the (key[, precombine][, partition])
        columns of ``keys_df``. A marker carrying the precombine
        competes by (precombine, commit seq); a key-only marker deletes
        unconditionally. Duplicate markers merge as one."""
        cols = [self.record_key]
        if self.precombine in keys_df.columns:
            cols.append(self.precombine)
        if self.partition_field and self.partition_field in keys_df.columns:
            cols.append(self.partition_field)
        return keys_df.select(*cols)

    def _commit_log(
        self,
        df: DataFrame,
        op: str,
        spark: SparkSession,
        markers: DataFrame | None = None,
    ) -> None:
        """The MERGE_ON_READ commit of upsert, delete and bulk_insert on
        an existing table: one delta commit of ``df`` with op ``op``.

        ``markers`` (delete markers, see _delete_markers) ride in the
        SAME write: ``df`` takes seq s and the markers seq s+1, so the
        timeline — time travel, incremental and CDC reads, restore and
        the inline-compaction count — is exactly that of two commits,
        while the batch costs one write job and one set of files.

        The entry is appended to the delta log: no base files are
        opened, the write cost is O(batch), and the merge is deferred to
        read()/compact(). Inline compaction (Hudi's
        ``hoodie.compact.inline``, off by default, and
        ``hoodie.compact.inline.max.delta.commits``, default 5) replaces
        the append on the commit whose seqs bring the delta commits
        since the last compaction to the threshold: base, log and the
        new entry are folded in one base rewrite (compact() with the
        entry pending), and the entry is never written to the log or
        read back from it. The base files, seqbase, seq claims and catalog
        end state are those of appending and then calling compact(). A
        two-seq commit compacts as a whole."""
        n = 1 if markers is None else 2
        seq = self._alloc_seq(spark, n)
        # materialize, don't guard: on a partitioned table a log entry
        # missing the partition column (typically a key-only delete
        # marker) would append at the log ROOT while sibling entries sit
        # in dt=... dirs, and Spark's partition discovery drops the
        # root-level files of such a mixed layout — the marker would be
        # lost. NULL routes the entry to __HIVE_DEFAULT_PARTITION__,
        # keeping one consistent layout; the merge joins on record_key,
        # so a marker's partition value is irrelevant to its semantics.
        entry = (
            self._with_partition_col(df, spark)
            .withColumn("__hudi_op", F.lit(op))
            .withColumn("__hudi_seq", F.lit(seq).cast("long"))
        )
        if markers is not None:
            entry = entry.unionByName(
                self._with_partition_col(markers, spark)
                .withColumn("__hudi_op", F.lit("delete"))
                .withColumn("__hudi_seq", F.lit(seq + 1).cast("long")),
                allowMissingColumns=True,
            )
        # commits SINCE the last compaction, not the absolute seq: seqs
        # are monotonic across compactions (the seqbase watermark)
        inline = (
            str(self.options.get("hoodie.compact.inline", "false")).lower()
            == "true"
        )
        max_commits = int(
            self.options.get("hoodie.compact.inline.max.delta.commits", 5)
        )
        if inline and seq + n - self._seq_base() >= max_commits:
            self.compact(spark, _pending=(entry, seq + n))
            return
        # one shuffle to few right-sized tasks: a small batch writes one
        # file (per partition), where the upstream plan's partitioning
        # would write one per shuffle partition; AQE splits large ones
        if self.partition_field:
            entry = entry.hint("rebalance", self.partition_field)
        else:
            entry = entry.hint("rebalance")
        self._writer(entry, "append").parquet(self._log_path)
        self._maybe_sync_catalog(spark)

    @_locked
    def compact(
        self,
        spark: SparkSession,
        *,
        _pending: tuple[DataFrame, int] | None = None,
    ) -> None:
        """Fold the MOR delta log into the base files (Hudi compaction):
        rewrite the base as the merged snapshot, drop the log, and
        record the next commit seq as the seqbase watermark. Later
        commits continue from it, so incremental cursors stay valid (or
        fail loudly, never silently empty) across compaction. After
        compaction read() is a plain base scan again.

        ``_pending`` is _commit_log's inline compaction: a delta commit
        that is not written yet, as (entry rows, the seq after it),
        folded in together with the log."""
        import shutil

        has_log = self.is_mor and self._has_log(spark)
        if _pending is None:
            if not has_log:
                return
            # the watermark is taken BEFORE the log drops
            entry, next_seq = None, self._next_seq(spark)
        else:
            entry, next_seq = _pending
        log = self._log_read(spark) if has_log else None
        if entry is not None:
            log = (
                entry
                if log is None
                else log.unionByName(entry, allowMissingColumns=True)
            )
        base = (
            self._manifest_read(spark, self._manifest())
            if self._is_manifest
            else self._base_read(spark)
        )
        self._atomic_rewrite(self._merge_log(base, log), spark)
        log_local = self._sidecar("log")
        if os.path.exists(log_local):
            shutil.rmtree(log_local)
        with open(self._sidecar("seqbase"), "w") as fh:
            fh.write(str(next_seq))
        # the log is gone: the seqbase watermark is the allocation floor
        # until the next append claims past it
        self._truncate_claims()
        # base == snapshot again: re-sync so the snapshot name returns
        self._maybe_sync_catalog(spark)

    def read_cdc(
        self, spark: SparkSession, since_seq: int = -1
    ) -> DataFrame:
        """Hudi's CDC incremental query
        (``hoodie.datasource.query.incremental.format=cdc``): the CHANGE
        FEED between commit ``since_seq`` and now — one row per changed
        key with ``op`` ('i'/'u'/'d') and full BEFORE/AFTER images
        (``before_<col>`` / ``after_<col>``), where read_incremental
        only returns current rows and silently drops deletions.

        Implementation: the two as-of snapshots (cursor and head) full-
        outer-join on the record key — both merges and the join share the
        key partitioning, one shuffle family. Keys present only after →
        'i'; only before → 'd'; in both with any payload column changed →
        'u'; unchanged keys are excluded. Semantics are NET-EFFECT
        between the two cursors (delete+reinsert inside the window
        collapses to 'u', or to nothing when the payload round-tripped) —
        the form downstream mirrors want; Hudi's per-commit feed is
        recoverable by walking cursors one commit at a time.

        Delta-pruned (the read_incremental trick, extended to the
        before/after diff): the touched-key set is a seq-pruned log
        scan, and BOTH as-of snapshots semi-join their base and log
        inputs to it before the merge windows run — shuffle volume and
        the full-outer diff track the DELTA, not the table. Exact
        because (a) the per-key latest-wins merge is independent across
        keys, and (b) every commit after a VALID cursor still lives in
        the log: compaction folding any of the range makes the as-of
        read below raise the horizon error first. Untouched keys are by
        construction identical in both snapshots and would be dropped
        by the unchanged-guard anyway."""
        if not self.is_mor:
            # guard here, not via the time-travel read below: its
            # 'time travel requires a MERGE_ON_READ table' message
            # misdirects a caller who never asked for time travel
            raise ValueError(
                "CDC read requires a MERGE_ON_READ table (COPY_ON_WRITE "
                "rewrites keep no commit history to diff against)"
            )
        key = self.record_key
        if self._has_log(spark):
            touched = self._touched_keys(spark, since_seq)
        else:
            # freshly compacted: no commit can postdate a reachable
            # cursor — empty key set, PropagateEmptyRelation collapses
            # the rest of the plan (read_optimized is manifest-aware
            # and skips the merge)
            touched = (
                self.read(spark, mode="read_optimized").select(key).limit(0)
            )
        before = self.read(spark, as_of_seq=since_seq, _keys=touched)
        after = self.read(spark, _keys=touched)
        payload = [c for c in after.columns if c != key]
        b = before.select(
            F.col(key),
            *[F.col(c).alias(f"before_{c}") for c in payload],
            F.lit(1).alias("__in_b"),
        )
        a = after.select(
            F.col(key),
            *[F.col(c).alias(f"after_{c}") for c in payload],
            F.lit(1).alias("__in_a"),
        )
        j = b.join(a, key, "full_outer")
        changed = F.lit(False)
        for c in payload:
            changed = changed | ~F.col(f"before_{c}").eqNullSafe(
                F.col(f"after_{c}")
            )
        op = (
            F.when(F.col("__in_b").isNull(), F.lit("i"))
            .when(F.col("__in_a").isNull(), F.lit("d"))
            .when(changed, F.lit("u"))
        )
        return (
            j.withColumn("op", op)
            .filter(F.col("op").isNotNull())
            .drop("__in_b", "__in_a")
        )

    def savepoint(self, spark: SparkSession) -> int:
        """Record the current commit position (Hudi savepoint): returns
        the seq to hand back to restore(). Metadata-only — nothing is
        copied; the delta log IS the history, so a savepoint is just a
        fence the caller keeps."""
        return self.latest_commit_seq(spark)

    @_locked
    def restore(self, spark: SparkSession, to_seq: int) -> None:
        """Hudi restore-to-savepoint: physically DISCARD every delta
        commit with seq > ``to_seq`` — unlike time travel (a read-side
        view), restore rolls the table itself back; subsequent reads see
        the savepoint state and new commits continue the timeline from
        there. Commits folded by a compaction can't be unwound (the base
        rewrite destroyed per-commit history) — same horizon rule as
        time travel, and asking for it raises.

        Cost: one seq-pruned log rewrite — O(surviving log), base files
        untouched."""
        if not self.is_mor:
            raise ValueError(
                "restore requires a MERGE_ON_READ table (COPY_ON_WRITE "
                "rewrites keep no commit history to roll back)"
            )
        if to_seq < self._seq_base() - 1:
            raise ValueError(
                f"restore target {to_seq} predates the last compaction "
                f"(history before seq {self._seq_base()} was folded into "
                "the base files)"
            )
        if not self._has_log(spark):
            return  # already at or before the savepoint
        import shutil

        log_local = self._sidecar("log")
        kept = self._log_read(spark).filter(F.col("__hudi_seq") <= to_seq)
        if kept.limit(1).count() == 0:
            shutil.rmtree(log_local)
            self._truncate_claims()
            self._maybe_sync_catalog(spark)
            return
        # materialize the surviving log BEFORE dropping the source dir
        tmp = log_local + ".restore_tmp"
        self._writer(kept, "overwrite").parquet(tmp)
        shutil.rmtree(log_local)
        os.rename(tmp, log_local)
        # the claims cover seqs that restore just discarded — drop them
        # so the next _next_seq rescans the SURVIVING log and the
        # timeline continues from the savepoint, not past the gap
        self._truncate_claims()
        self._maybe_sync_catalog(spark)

    @_locked
    def cluster(
        self,
        spark: SparkSession,
        sort_cols: list[str],
        *,
        strategy: str = "zorder",
        target_files: int | None = None,
    ) -> None:
        """Layout optimization (Hudi clustering: ``hoodie.clustering.*``
        with ``hoodie.layout.optimize.strategy`` = linear | z-order):
        rewrite the base files so rows with nearby sort-key values are
        co-located, shrinking each file's per-column min/max envelope —
        parquet footer stats then let multi-column range filters skip
        whole files/row-groups instead of scanning the table.

        ``linear`` range-partitions + sorts on ``sort_cols``
        lexicographically (perfect skipping on the leading column only).
        ``zorder`` interleaves the bits of each column's 2^16-bucket
        rank (equi-width via min/max; strings get hash buckets, i.e.
        equality-locality), so the envelope shrinks on EVERY sort column
        — the right layout when queries filter on different columns.

        Scale: one agg for min/max (driver sees 2 scalars per column),
        one range-shuffle of the data, no driver-side rows. Partitioned
        tables cluster within each hive partition (the range shuffle
        keys on the partition column first). MOR tables are compacted
        first — clustering rewrites the merged state.
        """
        if strategy not in ("zorder", "linear"):
            raise ValueError(f"unknown strategy {strategy!r}: zorder | linear")
        if not sort_cols:
            raise ValueError("cluster() needs at least one sort column")
        if self.is_mor and self._has_log(spark):
            self.compact(spark)
        if not self.exists(spark):
            return
        df = self.read(spark)
        n = target_files or max(
            1, int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )
        if strategy == "linear":
            keys = [F.col(c) for c in sort_cols]
            parted = (
                df.repartitionByRange(n, F.col(self.partition_field), *keys)
                if self.partition_field
                else df.repartitionByRange(n, *keys)
            )
            clustered = parted.sortWithinPartitions(*keys)
        else:
            zkey = self._zorder_key(df, sort_cols, spark)
            df = df.withColumn("__hudi_zkey", zkey)
            parted = (
                df.repartitionByRange(
                    n, F.col(self.partition_field), F.col("__hudi_zkey")
                )
                if self.partition_field
                else df.repartitionByRange(n, "__hudi_zkey")
            )
            clustered = parted.sortWithinPartitions("__hudi_zkey").drop(
                "__hudi_zkey"
            )
        if self.partition_field and not self._is_manifest:
            self._rewrite_partitions(clustered, spark, rebalance=False)
        else:
            # manifest tables (partitioned or not): full-replace commit;
            # the partition column is a data column, and the range
            # partitioning above makes files partition-pure AND
            # key-ranged — both envelope dimensions get tight
            self._atomic_rewrite(clustered, spark)
        self._maybe_sync_catalog(spark)

    @_locked
    def rectify_file_sizes(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Small-file compaction (Hudi's file-sizing guarantee:
        ``hoodie.parquet.small.file.limit`` steering writes into
        under-sized file groups): when the table has accumulated many
        small files — the classic outcome of frequent small batches —
        rewrite it into ``ceil(total_bytes / target)`` right-sized
        files. Returns the new file count (0 = no rewrite needed).

        Small files are a first-order 100 TB problem: every file is a
        scan task + a NameNode/listing entry, and a table written by
        10k micro-batches reads 10k× slower than its byte size
        justifies. Only file *metadata* reaches the driver (sizes from
        the listing); the data moves through one round-robin shuffle.
        MOR log segments are folded in first (compact) so the rewrite
        sees the merged state.
        """
        if self.is_mor and self._has_log(spark):
            self.compact(spark)
        if not self.exists(spark):
            return 0
        if self._is_manifest:
            # size only the LIVE file list: os.walk would also count
            # every superseded commit's dead files, inflating the
            # fragmentation estimate so the trigger mis-fires — and
            # since each rectify publishes a new manifest while leaving
            # old files on disk (clean() reclaims them), the walk-based
            # count would grow with every pass and never converge
            sizes = [os.path.getsize(f) for f in self._manifest().files]
        else:
            local = self._local_fs_path()
            sizes = [
                os.path.getsize(os.path.join(dirpath, f))
                for dirpath, _, files in os.walk(local)
                for f in files
                if f.endswith(".parquet")
            ]
        total = sum(sizes)
        n_target = max(1, -(-total // target_file_bytes))  # ceil
        # only rewrite meaningful fragmentation (>2x the needed file
        # count) — re-running after a rectify is then a no-op even as
        # compression shifts the byte total a little between layouts
        if len(sizes) <= 2 * n_target:
            return 0
        if self.partition_field and not self._is_manifest:
            # co-locate each hive partition's rows in one task: a plain
            # round-robin would hand every task a slice of every
            # partition and the partitionBy write would MULTIPLY files
            # (tasks × partitions) instead of compacting them
            df = self.read(spark).repartition(
                n_target, F.col(self.partition_field)
            )
            self._rewrite_partitions(df, spark, rebalance=False)
        elif self.partition_field:
            # partitioned manifest: keep the compacted files
            # partition-clustered so the partition envelopes stay tight
            df = self.read(spark).repartition(
                n_target, F.col(self.partition_field)
            )
            self._atomic_rewrite(df, spark)
        else:
            df = self.read(spark).repartition(n_target)
            self._atomic_rewrite(df, spark)
        self._maybe_sync_catalog(spark)
        return n_target

    def _zorder_key(
        self, df: DataFrame, sort_cols: list[str], spark: SparkSession
    ):
        """Morton (Z-curve) key: per column, rank into 2^bits equi-width
        buckets (numeric/temporal via one min/max agg + width_bucket;
        strings via xxhash64 — equality-locality only), then interleave
        the bit planes so the curve alternates columns. All JVM-side
        codegen expressions: bits_per_col × n_cols shift/and/or terms,
        no UDF, no driver data beyond the min/max scalars."""
        from functools import reduce

        bits = min(16, 48 // len(sort_cols))  # ≤3 cols keep full 16 bits
        n_buckets = 1 << bits
        numeric = {}
        for c in sort_cols:
            dt = df.schema[c].dataType.simpleString()
            # exact names, not startswith("int"): 'interval day to
            # second' startswith 'int' too, and interval types can't
            # cast to double — they belong on the hash-bucket path
            if dt in ("int", "bigint", "smallint", "tinyint",
                      "float", "double") or dt.startswith("decimal"):
                numeric[c] = F.col(c).cast("double")
            elif dt == "date" or dt.startswith("timestamp"):
                # NTZ/date can't cast to double under ANSI; epoch micros
                # preserves order, which is all bucketing needs
                numeric[c] = F.unix_micros(
                    F.col(c).cast("timestamp")
                ).cast("double")
        if numeric:
            row = df.agg(
                *[F.min(e).alias(f"mn_{c}") for c, e in numeric.items()],
                *[F.max(e).alias(f"mx_{c}") for c, e in numeric.items()],
            ).first()
        buckets = []
        for c in sort_cols:
            if c in numeric:
                mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
                if mn is None or mx is None or mn == mx:
                    b = F.lit(0).cast("long")
                else:
                    # width_bucket: below-range→0, v==max→n+1; clamp to
                    # [0, n_buckets-1] and send nulls to bucket 0
                    wb = F.width_bucket(
                        numeric[c], F.lit(float(mn)), F.lit(float(mx)),
                        F.lit(n_buckets),
                    )
                    b = F.coalesce(
                        F.least(
                            F.lit(n_buckets - 1),
                            F.greatest(F.lit(0), (wb - 1).cast("long")),
                        ),
                        F.lit(0).cast("long"),
                    )
            else:
                b = F.coalesce(
                    F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets)),
                    F.lit(0).cast("long"),
                ).cast("long")
            buckets.append(b)
        k = len(buckets)
        planes = [
            F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j
            )
            for i in range(bits)
            for j, b in enumerate(buckets)
        ]
        return reduce(lambda a, p: a.bitwiseOR(p), planes)

    @_locked
    def upsert(
        self,
        df: DataFrame,
        spark: SparkSession | None = None,
        expected_seq: int | None = None,
        *,
        deletes: DataFrame | None = None,
    ) -> None:
        """Upsert: merge incoming with existing, latest-wins on
        (record_key, precombine); incoming beats existing on ties, which
        makes re-running the same batch idempotent.

        COPY_ON_WRITE merges eagerly and rewrites; partitioned tables
        merge and rewrite **only the partitions the incoming batch
        touches** (staged, then swapped in partition by partition) —
        the rewrite cost is proportional to the touched partitions, not
        the table. MERGE_ON_READ appends the batch to the delta log
        (O(batch) write) and defers the merge to read()/compact().

        ``deletes`` (Hudi's upsert with deleted records): a key frame
        applied as ``delete(deletes)`` right after the upsert, in the
        same commit-lock scope. On an existing MERGE_ON_READ table the
        upserts and the delete markers go into ONE log append holding
        two delta commits (upserts at seq s, markers at s+1), so every
        reader sees exactly the upsert-then-delete timeline; elsewhere
        it is the upsert followed by the delete. The markers are
        written as given, without delete()'s dedup shuffle: a
        duplicate marker costs log bytes, never a different result.

        ``expected_seq`` is OPTIMISTIC CONCURRENCY CONTROL (Hudi's
        ``hoodie.write.concurrency.mode=optimistic_concurrency_control``
        conflict check, compare-and-commit form): pass the head observed
        when the batch was computed — ``latest_commit_seq`` for
        MERGE_ON_READ (delta-log seq), the newest manifest version for
        manifest-mode COW — and the write refuses with
        ``ConcurrentWriteError`` if another writer committed in between,
        instead of silently merging over a state the batch never saw.
        Retry = recompute against the new head and resubmit.

        The check only works on table types whose commits ADVANCE a
        sequence; plain directory-rename COPY_ON_WRITE commits leave no
        counter behind, so passing ``expected_seq`` there raises
        ``ValueError`` rather than silently never tripping.

        Without a lock provider the check is check-then-write: two
        writers that both pass it before either commits will both
        write. Enabling the filesystem lock provider
        (``hoodie.write.lock.provider`` naming
        ``FileSystemBasedLockProvider`` — real Hudi's own answer here)
        serializes every mutating entry point on the table's lock
        file, making the check + commit an atomic compare-and-commit
        (see _commit_lock for the wait/expiry options)."""
        spark = spark or df.sparkSession
        df = self._with_partition_col(df, spark)
        if expected_seq is not None:
            # is_mor is checked FIRST: on a MOR table (manifest mode or
            # not) the write path below appends to the delta log, so the
            # log seq is the counter this commit advances — a
            # manifest-mode MOR table's manifest version stays frozen
            # across log-appending upserts and would never trip the check.
            if self.is_mor:
                head = self.latest_commit_seq(spark)
            elif self._is_manifest:
                head = (self._manifest_versions() or [-1])[-1]
            else:
                raise ValueError(
                    "expected_seq requires a table whose commits advance "
                    "a sequence (MERGE_ON_READ delta log, or manifest "
                    "commit mode); directory-rename COPY_ON_WRITE "
                    "commits leave latest_commit_seq at -1, so the "
                    "conflict check would never trip"
                )
            if head != expected_seq:
                raise ConcurrentWriteError(
                    f"concurrent commit detected: expected head seq "
                    f"{expected_seq} but found {head} — recompute the "
                    "batch against the current state and retry"
                )
        # one probe per write: exists() is a file-listing/schema job,
        # and the streaming demux upserts many tables per micro-batch
        table_exists = self.exists(spark)
        if self.is_mor and table_exists:
            markers = None if deletes is None else self._delete_markers(deletes)
            self._commit_log(df, "upsert", spark, markers=markers)
            return
        self._merge_rewrite(df, spark, table_exists)
        if deletes is not None:
            self.delete(deletes, spark)

    def _merge_rewrite(
        self, df: DataFrame, spark: SparkSession, table_exists: bool
    ) -> None:
        """The eager (COPY_ON_WRITE, or MOR genesis) upsert: merge the
        batch with the rows it can collide with and rewrite them."""
        incoming = df.withColumn("__hudi_src", F.lit(1))
        # manifest tables keep the partition column as a DATA column
        # (no hive dirs), so the key-envelope file-group path below is
        # the partitioned path too — the hive-layout machinery
        # (_touched_partitions/_rewrite_partitions) is for plain tables
        partitioned = (
            self.partition_field is not None
            and table_exists
            and not self._is_manifest
        )
        if table_exists and not partitioned and self._is_manifest:
            # file-group pruning (partial-rewrite upsert): only files
            # whose key envelope may contain a batch key are read,
            # merged, and replaced; the rest are carried into the new
            # manifest BY REFERENCE — write cost tracks touched file
            # groups, not the table (the manifest analog of Hudi's
            # file-group upsert; after cluster() range-partitions the
            # layout, a hot-key batch touches few files)
            m = self._manifest()
            touched, untouched = self._manifest_split_touched(df, spark, m)
            if untouched:
                if touched:
                    existing = spark.read.parquet(*touched).withColumn(
                        "__hudi_src", F.lit(0)
                    )
                    merged = incoming.unionByName(
                        existing, allowMissingColumns=True
                    )
                else:
                    merged = incoming
                result = merge_latest_wins(
                    merged,
                    self.record_key,
                    self.precombine,
                    tiebreak="__hudi_src",
                ).drop("__hudi_src")
                new_files, new_ranges, new_pranges = (
                    self._manifest_write_batch(result)
                )
                # key_unique is PRESERVED: the rewritten files hold
                # merge_latest_wins output over touched ∪ batch (unique
                # within), untouched files provably hold no batch key
                # (that is what classified them untouched), and
                # untouched-vs-untouched uniqueness is the prior claim
                self._publish_manifest(
                    untouched + new_files,
                    ranges=new_ranges,
                    pranges=new_pranges,
                    key_unique=m.key_unique,
                )
                self._maybe_sync_catalog(spark)
                return
        if partitioned:
            parts, has_null = self._touched_partitions(df)
            existing = (
                self.read(spark)
                .filter(self._partition_scope(parts, has_null))
                .withColumn("__hudi_src", F.lit(0))
            )
            merged = existing.unionByName(incoming, allowMissingColumns=True)
        elif table_exists:
            existing = self.read(spark).withColumn("__hudi_src", F.lit(0))
            merged = existing.unionByName(incoming, allowMissingColumns=True)
        else:
            merged = incoming
        result = merge_latest_wins(
            merged, self.record_key, self.precombine, tiebreak="__hudi_src"
        ).drop("__hudi_src")
        if partitioned:
            self._rewrite_partitions(result, spark, touched=(parts, has_null))
        else:
            self._atomic_rewrite(result, spark)
        self._maybe_sync_catalog(spark)

    @_locked
    def delete(self, keys_df: DataFrame, spark: SparkSession | None = None) -> None:
        """Remove rows whose record key appears in ``keys_df``.

        Partitioned COW tables locate the partitions holding doomed keys
        (semi-join → metadata-scale partition list) and rewrite only
        those. MOR tables append delete markers to the delta log; a
        marker carrying the precombine column competes by (precombine,
        commit-seq), a key-only marker deletes unconditionally. COW
        applies the same contract at rewrite time: precombine-carrying
        markers kill only rows at or below the marker's timestamp."""
        spark = spark or keys_df.sparkSession
        if not self.exists(spark):
            return
        if self.is_mor:
            self._commit_log(
                self._delete_markers(keys_df).distinct(), "delete", spark
            )
            return
        keys = keys_df.select(self.record_key).distinct()
        # COW conditional delete: when the marker frame carries the
        # precombine column, only rows at or below the marker's
        # timestamp die — a redelivered/out-of-order delete from an
        # at-least-once CDC bus must not kill a NEWER upsert (the MOR
        # path above already competes markers by precombine; this gives
        # COW the same latest-wins contract). Key-only markers stay
        # unconditional.
        _dts = "__hsup_del_ts"
        _unc = "__hsup_del_uncond"
        marks = None
        if self.precombine in keys_df.columns:
            # _unc (any-marker-NULL, boolean max = OR) doubles as the
            # presence flag: a left-join miss leaves it NULL ("no marker
            # for this key" -> keep), while a marker whose precombine is
            # NULL sets it TRUE — an UNCONDITIONAL marker, same as a
            # key-only delete. Without the distinction a NULL-ts delete
            # from an at-least-once CDC feed silently never deleted
            # anything; and a key carrying BOTH a NULL and a valued
            # marker in one batch must still die unconditionally (the
            # MOR read-merge treats any NULL-precombine marker as a
            # seq barrier — F.max alone would silently degrade the
            # mixed case to conditional-at-max-ts, diverging from MOR
            # on identical input).
            marks = keys_df.groupBy(self.record_key).agg(
                F.max(self.precombine).alias(_dts),
                F.max(F.col(self.precombine).isNull()).alias(_unc),
            )

        def _survivors(scoped_df: DataFrame) -> DataFrame:
            if marks is None:
                return scoped_df.join(
                    keys, on=self.record_key, how="left_anti"
                )
            # _unc FALSE implies every marker was valued, so _dts is
            # non-null there by construction
            return (
                scoped_df.join(marks, on=self.record_key, how="left")
                .filter(
                    F.col(_unc).isNull()
                    | (
                        ~F.col(_unc)
                        & (F.col(self.precombine) > F.col(_dts))
                    )
                )
                .drop(_dts, _unc)
            )

        existing = self.read(spark)
        if self.partition_field is not None and not self._is_manifest:
            affected = existing.join(keys, on=self.record_key, how="left_semi")
            parts, has_null = self._touched_partitions(affected)
            if not parts and not has_null:
                return
            scoped = existing.filter(self._partition_scope(parts, has_null))
            # a touched partition whose every row is deleted stages no
            # directory; the swap drops it
            self._rewrite_partitions(
                _survivors(scoped), spark, touched=(parts, has_null)
            )
        else:
            if self._is_manifest:
                # file-group pruning, delete form: only files whose key
                # envelope may hold a doomed key are opened; the rest
                # are carried by reference (see the upsert-side note)
                m = self._manifest()
                touched, untouched = self._manifest_split_touched(
                    keys, spark, m
                )
                if untouched:
                    new_files: list[str] = []
                    new_ranges: dict[str, list] = {}
                    new_pranges: dict[str, list] = {}
                    if touched:
                        remaining = _survivors(spark.read.parquet(*touched))
                        new_files, new_ranges, new_pranges = (
                            self._manifest_write_batch(remaining)
                        )
                    # delete only removes rows — key_unique preserved
                    # on the same argument as the upsert partial rewrite
                    self._publish_manifest(
                        untouched + new_files,
                        ranges=new_ranges,
                        pranges=new_pranges,
                        key_unique=m.key_unique,
                    )
                    self._maybe_sync_catalog(spark)
                    return
            remaining = _survivors(existing)
            self._atomic_rewrite(remaining, spark)
        self._maybe_sync_catalog(spark)

    def write_via_hudi_bundle(self, df: DataFrame, mode: str = "append") -> None:
        """A13 passthrough: forward every property verbatim to
        ``format("hudi")`` exactly as the reference importers do
        (HoodieExcelImporter.scala:109-113) — available when the Apache
        Hudi Spark bundle jar is on the classpath. The parquet
        implementation above is the primary (oracle-checked) path."""
        try:
            df.write.format("hudi").mode(mode).options(**self.options).save(
                self.path
            )
        except Exception as e:  # pragma: no cover — bundle absent here
            raise RuntimeError(
                "format('hudi') failed — is the Apache Hudi Spark bundle on "
                "the classpath? The parquet-native HudiTable methods "
                "(upsert/bulk_insert/delete) provide the same semantics "
                "without it."
            ) from e

    @_locked
    def insert_overwrite(self, df: DataFrame, spark: SparkSession | None = None) -> None:
        """Hudi's ``insert_overwrite`` operation: REPLACE the partitions
        the batch touches with the batch's rows (after the standard
        precombine dedup) — no merge with existing rows, unlike upsert.
        Partitions the batch doesn't touch are never opened. On an
        unpartitioned table this overwrites the whole table (Hudi's
        ``insert_overwrite_table``).

        MERGE_ON_READ: real Hudi makes this a ``replacecommit`` that
        atomically supersedes both base files and pending log entries.
        The parquet-native path merges the log at read time with log
        entries (seq >= 0) outranking base rows (seq -1), so a base-only
        rewrite would let stale log entries resurrect overwritten rows
        and stale delete markers erase the new data on the next read.
        Guard: fold the pending delta log into the base FIRST (table-wide
        compaction — the same fold compact() performs; the seq watermark
        advances so incremental cursors stay valid), then rewrite. Cost
        is one extra table-wide merge only when a log is actually
        pending."""
        spark = spark or df.sparkSession
        df = self._with_partition_col(df, spark)
        if self.is_mor and self._has_log(spark):
            self.compact(spark)
        result = merge_latest_wins(df, self.record_key, self.precombine)
        if self.partition_field and self.exists(spark):
            if self._is_manifest:
                self._manifest_overwrite_partitions(result, spark)
            else:
                self._rewrite_partitions(result, spark)
        else:
            self._atomic_rewrite(result, spark)
        self._maybe_sync_catalog(spark)

    def write(self, df: DataFrame, operation: str = "upsert") -> None:
        """Dispatch on ``hoodie.datasource.write.operation``."""
        op = operation.lower()
        if op == "upsert":
            self.upsert(df)
        elif op in ("bulk_insert", "insert"):
            self.bulk_insert(df)
        elif op == "delete":
            self.delete(df)
        elif op in ("insert_overwrite", "insert_overwrite_table"):
            self.insert_overwrite(df)
        else:
            raise ValueError(f"unsupported write operation: {operation}")

    def _local_fs_path(self) -> str:
        """The table's local filesystem path. Both commit layouts need
        one: the rename layout's swaps are atomic only there (os.replace),
        and the manifest layout publishes by hard link. On object stores
        / DFS schemes neither rename nor link is atomic (or cheap), so
        refuse loudly instead of silently risking the table."""
        m = re.match(r"^([a-z][a-z0-9+.-]*)://(.*)$", self.path)
        if m is None:
            return self.path
        if m.group(1) == "file":
            return "/" + m.group(2).lstrip("/")
        raise NotImplementedError(
            f"tables on scheme '{m.group(1)}://' paths are not supported "
            "by the parquet fallback: its commits need the atomic rename "
            "and hard link of a local filesystem — use the Hudi bundle "
            "passthrough (write_via_hudi_bundle) on shared storage"
        )

    # -- manifest commit protocol -----------------------------------------
    @property
    def _is_manifest(self) -> bool:
        """``hoodie.commit.mode=manifest``: commits publish an atomic
        MANIFEST naming the table's live data files instead of renaming
        directories. Readers load exactly the files the newest complete
        manifest lists; data files are immutable once written and stale
        ones are simply unlisted. This models the Iceberg/Delta-style
        object-store commit (immutable files plus an if-none-match put
        of each version), performed here as a hard-link conditional put
        on a local filesystem — and it gives COW tables version history
        for free (``read_manifest_version``). Directory-rename mode
        stays the default."""
        return (
            str(self.options.get("hoodie.commit.mode", "")).lower()
            == "manifest"
        )

    @property
    def _manifest_dir(self) -> str:
        # underscore prefix: Spark's file index treats it as hidden, so
        # accidental directory-level scans of self.path never see it
        return os.path.join(self._local_fs_path(), "_manifests")

    def _manifest_versions(self) -> list[int]:
        return _numbered_files(self._manifest_dir, "manifest-", ".json")

    def _manifest(self, version: int | None = None) -> _Manifest:
        """Manifest ``version`` (default: the head), parsed once; an empty
        record with version -1 when the table has none. An operation
        reads it once and passes it down, so every decision it makes
        sees one version."""
        versions = self._manifest_versions()
        if not versions:
            return _Manifest(-1, [], {}, {}, False)
        v = versions[-1] if version is None else version
        if v not in versions:
            raise ValueError(
                f"manifest version {v} does not exist (have {versions})"
            )
        with open(
            os.path.join(self._manifest_dir, f"manifest-{v:012d}.json")
        ) as fh:
            doc = json.load(fh)
        return _Manifest(
            v,
            doc["files"],
            doc.get("ranges", {}),
            doc.get("pranges", {}),
            bool(doc.get("key_unique", False)),
        )

    def _manifest_split_touched(
        self, keys_df: DataFrame, spark: SparkSession, m: _Manifest
    ) -> tuple[list[str], list[str]]:
        """Split manifest ``m``'s files into ``(touched, untouched)``
        against a batch's record keys using the per-file key envelopes —
        the file-group pruning behind partial-rewrite upsert/delete.

        EXACT on membership-possibility: a file containing key k always
        has k inside its [min, max] (and a NULL-key row sets has_null),
        so a file classified untouched provably holds none of the
        batch's keys; false positives (range overlap without actual
        membership) only cost an unnecessary rewrite, never
        correctness. Files without an envelope (legacy manifests,
        unsupported key dtypes) are always touched. The probe is ONE
        action: a broadcast join of the batch's distinct keys against
        k envelope rows with a ≤k-row collect — metadata-scale. A key
        hits a file when it lies in the file's [min, max], and a NULL
        key hits exactly the files that carry nulls. Any probe failure
        (e.g. envelope values that overflow a NARROWER batch key dtype
        — the full-rewrite path would have implicit-casted) falls back
        to all-touched: pruning may never fail a write it merely
        optimizes."""
        files, ranges = m.files, m.ranges
        key = self.record_key
        no_env = [f for f in files if f not in ranges]
        env = [(f, *ranges[f]) for f in files if f in ranges]
        if not env or keys_df.schema[key].dataType.typeName() not in self._RANGE_TYPES:
            return files, []
        from pyspark.sql.types import (
            BooleanType,
            StringType,
            StructField,
            StructType,
        )

        try:
            ktype = keys_df.schema[key].dataType
            rdf = spark.createDataFrame(
                [(f, kmin, kmax, bool(knull)) for f, kmin, kmax, knull in env],
                StructType(
                    [
                        StructField("f", StringType()),
                        StructField("kmin", ktype),
                        StructField("kmax", ktype),
                        StructField("knull", BooleanType()),
                    ]
                ),
            )
            k = F.col("k")
            hit = {
                r["f"]
                for r in keys_df.select(F.col(key).alias("k"))
                .distinct()
                .join(
                    F.broadcast(rdf),
                    ((k >= F.col("kmin")) & (k <= F.col("kmax")))
                    | (k.isNull() & F.col("knull")),
                    "inner",
                )
                .select("f")
                .distinct()
                .collect()
            }
        except Exception:
            return files, []
        touched = no_env + [f for f, *_ in env if f in hit]
        untouched = [f for f, *_ in env if f not in hit]
        return touched, untouched

    def _publish_manifest(
        self,
        files: list[str],
        merge_head: bool = False,
        ranges: dict[str, list] | None = None,
        pranges: dict[str, list] | None = None,
        key_unique: bool = False,
    ) -> int:
        """Atomically publish the next manifest version. The data files
        are fully written BEFORE this point, so a crash anywhere earlier
        leaves the previous manifest authoritative and the half-written
        commit invisible (debris, reclaimed by listing unreferenced
        files). Publication is a CONDITIONAL put (``_put_if_absent``):
        it atomically FAILS if the version already exists, so two
        committers that read the same head can't clobber each other —
        the loser re-reads the head and retries with the next number.
        Plain rename would let the second committer silently overwrite
        the first's published manifest.

        Each attempt reads the head once; the version, the merged file
        list and the carried envelopes all come from that one read.
        ``merge_head=True`` is the APPEND commit form: ``files`` are the
        new files only, merged with the head's list of the attempt, so
        each attempt merges against the version it is actually
        contending for. Reading the head only before the loop would
        make a lost race silently publish the STALE head + our files —
        dropping the winning committer's files from the new head (and
        clean() would then delete them as unreferenced). With
        merge_head=False (full-replace commits: overwrite, compaction
        rewrite) the file list is unchanged across retries —
        last-writer-wins is the intended overwrite semantic.

        ``ranges`` carries the NEW files' record-key envelopes
        (_manifest_write_batch). The published manifest stores an
        envelope for every payload file it has one for — new entries
        plus the head's entries for carried-over files — so pruning
        survives partial rewrites; files with no envelope (legacy
        manifests, unsupported key dtypes) are simply never pruned.

        ``key_unique`` is the writer's claim that no record key SPANS
        TWO published base files. Within-file duplicates are not
        excluded by the envelope proof: a bulk_insert batch whose
        duplicate keys land in one output file still publishes the
        claim. Every current consumer needs only the cross-file
        property (the base-duplicate guard skip and the
        overwrite/upsert propagation reason file-to-file); a consumer
        wanting the row-level property — e.g. skipping merge dedup —
        must NOT trust this claim. Merge-derived payloads do satisfy
        the stronger form; envelope-proven ones may not. Merge-head
        appends against a non-empty head demote the claim: the merged
        payload spans two commits and cross-commit key disjointness is
        unproven."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        while True:
            head = self._manifest()
            v = head.version + 1
            if merge_head:
                payload = sorted(set(head.files) | set(files))
                pay_unique = key_unique and not head.files
            else:
                payload = sorted(files)
                pay_unique = key_unique
            # envelope union: head's entries (carried files) overlaid
            # with the new commit's, restricted to the payload — same
            # rule for the record-key and partition-value envelopes
            payset = set(payload)
            doc = {
                "version": v,
                "files": payload,
                "ranges": {
                    p: r
                    for p, r in {**head.ranges, **(ranges or {})}.items()
                    if p in payset
                },
                "pranges": {
                    p: r
                    for p, r in {**head.pranges, **(pranges or {})}.items()
                    if p in payset
                },
                "key_unique": pay_unique,
            }
            target = os.path.join(
                self._manifest_dir, f"manifest-{v:012d}.json"
            )
            if _put_if_absent(target, json.dumps(doc)):
                return v

    # record-key dtypes whose min/max round-trip JSON with ordering
    # intact — the precondition for per-file range pruning
    _RANGE_TYPES = ("byte", "short", "integer", "long", "float", "double", "string")

    # Subset of _RANGE_TYPES whose parquet ROW-GROUP footer statistics
    # are trusted verbatim as the file envelope: integral types are
    # stored exactly, and parquet-mr (Spark's writer) keeps string
    # row-group min/max exact at any length we observed (3000-char
    # probe) and DROPS them outright (has_min_max=False) rather than
    # truncating when oversized — so "stats present" ⇒ exact here, and
    # absence falls back to the distributed aggregate. float/double are
    # deliberately EXCLUDED: IEEE NaN/-0.0 ordering in footer stats is
    # writer-defined, while the Spark aggregate pins Spark's ordering.
    _FOOTER_STAT_TYPES = ("byte", "short", "integer", "long", "string")
    # Above this many files per commit the driver-side footer read (one
    # sequential open per file; one RPC each on an object store) loses
    # to the one distributed stats job.
    _FOOTER_MAX_FILES = 256

    @staticmethod
    def _footer_envelopes(
        files: list[str], cols: list[str]
    ) -> dict[str, dict[str, list]] | None:
        """Per-file ``{col: [min, max, has_null]}`` read DRIVER-SIDE from
        the parquet row-group footers the writer already populated —
        zero Spark jobs in place of the per-commit distributed stats
        aggregate. Returns ``None`` whenever ANY needed stat is absent
        or uncertain (stats dropped for oversized values, unknown null
        counts, unreadable footer) — callers then run the exact
        aggregate; correctness never depends on this path. Empty files
        get no entry, matching the aggregate's no-group behavior."""
        try:
            import pyarrow.parquet as pq
        except Exception:
            return None
        out: dict[str, dict[str, list]] = {}
        for p in files:
            # the WHOLE per-file stats walk sits inside the fallback
            # try: an unexpected pyarrow error on any stats accessor
            # demotes to the exact distributed aggregate, never aborts
            # the write
            try:
                md = pq.ParquetFile(p).metadata
                if md.num_rows == 0:
                    continue
                idx = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                env: dict[str, list] = {}
                for c in cols:
                    ci = idx.get(c)
                    if ci is None:
                        return None
                    # truncation guard: where this pyarrow exposes
                    # exactness flags, byte-array (string) columns must
                    # assert exact min AND max — a writer with
                    # statistics truncation enabled would otherwise
                    # silently yield widened string bounds. Absent flags
                    # (older pyarrow) keep the trust contract of
                    # _FOOTER_STAT_TYPES (parquet-mr DROPS oversized
                    # string stats rather than truncating).
                    want_exact = (
                        md.schema.column(ci).physical_type == "BYTE_ARRAY"
                    )
                    mn = mx = None
                    has_null = False
                    seen = False
                    for g in range(md.num_row_groups):
                        rg = md.row_group(g)
                        if rg.num_rows == 0:
                            continue
                        st = rg.column(ci).statistics
                        if st is None or st.null_count is None:
                            return None
                        if st.null_count > 0:
                            has_null = True
                        if rg.num_rows - st.null_count > 0:
                            if not st.has_min_max:
                                return None
                            if want_exact and (
                                getattr(st, "is_min_value_exact", True)
                                is False
                                or getattr(st, "is_max_value_exact", True)
                                is False
                            ):
                                return None
                            gmn, gmx = st.min, st.max
                            if not seen or gmn < mn:
                                mn = gmn
                            if not seen or gmx > mx:
                                mx = gmx
                            seen = True
                    env[c] = [mn, mx, has_null]
            except Exception:
                return None
            out[p] = env
        return out

    def _manifest_write_batch(
        self, df: DataFrame, collect_parts: bool = False
    ) -> (
        tuple[list[str], dict[str, list], dict[str, list]]
        | tuple[list[str], dict[str, list], dict[str, list], tuple[list, bool]]
    ):
        """Write a commit's data files under an immutable unique dir and
        return ``(paths, ranges, pranges)`` — never reuses or overwrites
        a prior commit's files. ``ranges`` maps each file to its
        record-key ``[min, max, has_null]`` envelope (the file-group
        statistics behind partial-rewrite upsert/delete — Hudi's
        file-group pruning); ``pranges`` is the same envelope over the
        PARTITION column (manifest tables keep it as a data column —
        no hive dirs), the statistics behind dynamic partition
        overwrite's drop/carry/rewrite classification. Either is empty
        when its column's dtype doesn't JSON-round-trip with ordering
        intact (dates/decimals), which simply disables that pruning
        dimension. Cost: ZERO Spark jobs on the common path — the
        envelopes come from the parquet row-group footers the write
        just produced (``_footer_envelopes``; exactness/fallback
        contract there). The distributed stats aggregate remains as the
        exact fallback for non-footer-safe dtypes (float/double),
        absent stats, commits above ``_FOOTER_MAX_FILES`` files, and
        the ``collect_parts`` form (a distinct SET can't be read off
        min/max); that read reuses the batch's KNOWN schema (write
        preserves it verbatim — no partitionBy directory encoding
        here), skipping the per-commit schema-inference job a bare
        ``spark.read.parquet`` pays.

        ``collect_parts=True`` additionally returns
        ``(touched_partition_values, has_null)`` — the distinct
        partition values of the batch, folded into the SAME stats
        aggregate as a per-file ``collect_set`` (partition columns are
        low-cardinality by contract, so the per-file set is small).
        Callers that need the touched-partition list (dynamic
        overwrite) take it from here, not from a separate
        ``distinct().collect()`` over the batch, which would evaluate
        the batch plan a second time — at 100 TB an entire extra pass
        over the commit's data."""
        commit_dir = os.path.join(
            self._local_fs_path(), "data", f"commit-{uuid.uuid4().hex[:12]}"
        )
        df.write.parquet(commit_dir)
        files = [
            os.path.join(commit_dir, f)
            for f in os.listdir(commit_dir)
            if f.endswith(".parquet")
        ]
        ranges: dict[str, list] = {}
        pranges: dict[str, list] = {}
        key = self.record_key
        key_ok = (
            key in df.columns
            and df.schema[key].dataType.typeName() in self._RANGE_TYPES
        )
        part = self.partition_field
        part_ok = bool(
            part
            and part in df.columns
            and df.schema[part].dataType.typeName() in self._RANGE_TYPES
        )
        want_parts = collect_parts and bool(part and part in df.columns)
        parts_vals: set = set()
        parts_null = False
        # Fast path: envelopes straight from the parquet footers
        # the write just produced — zero Spark jobs per commit instead
        # of the distributed stats aggregate. Only when the exact
        # per-file DISTINCT set isn't needed (want_parts requires
        # collect_set — min/max can't reconstruct it), every needed
        # column's dtype has trustworthy footer stats, and the commit is
        # small enough that k sequential driver-side footer opens beat
        # one distributed job.
        if (key_ok or part_ok) and not want_parts and files:
            need = [c for c, ok in ((key, key_ok), (part, part_ok)) if ok]
            types_ok = all(
                df.schema[c].dataType.typeName() in self._FOOTER_STAT_TYPES
                for c in need
            )
            if types_ok and len(files) <= self._FOOTER_MAX_FILES:
                envs = self._footer_envelopes(files, need)
                if envs is not None:
                    for p, env in envs.items():
                        if key_ok:
                            ranges[p] = env[key]
                        if part_ok:
                            pranges[p] = env[part]
                    if collect_parts:  # part column absent from df
                        return files, ranges, pranges, ([], False)
                    return files, ranges, pranges
        if (key_ok or part_ok or want_parts) and files:
            from urllib.parse import unquote, urlparse

            spark = df.sparkSession
            aggs = []
            if key_ok:
                aggs += [
                    F.min(key).alias("kmin"),
                    F.max(key).alias("kmax"),
                    F.max(F.col(key).isNull()).alias("knull"),
                ]
            if part_ok or want_parts:
                aggs += [
                    F.min(part).alias("pmin"),
                    F.max(part).alias("pmax"),
                    F.max(F.col(part).isNull()).alias("pnull"),
                ]
            if want_parts:
                aggs += [F.collect_set(part).alias("pset")]
            stats = (
                spark.read.schema(df.schema)
                .parquet(commit_dir)
                .groupBy(F.input_file_name().alias("f"))
                .agg(*aggs)
                .collect()
            )
            fileset = set(files)
            for r in stats:
                p = unquote(urlparse(r["f"]).path)
                # normalization sanity: stats paths must be listed files
                if p not in fileset:
                    continue
                if key_ok:
                    ranges[p] = [r["kmin"], r["kmax"], bool(r["knull"])]
                if part_ok:
                    pranges[p] = [r["pmin"], r["pmax"], bool(r["pnull"])]
                if want_parts:
                    parts_vals.update(r["pset"])
                    parts_null = parts_null or bool(r["pnull"])
        if collect_parts:
            return files, ranges, pranges, (sorted(parts_vals), parts_null)
        return files, ranges, pranges

    def _manifest_read(
        self,
        spark: SparkSession,
        m: _Manifest,
        keys: DataFrame | None = None,
        part_spec: tuple[list, bool] | None = None,
        guard_keys: DataFrame | None = None,
    ) -> DataFrame:
        """Scan manifest ``m``'s file list (the pruning forms below are
        passed by read(), always with the head). With ``keys``, the list
        is FILE-pruned against the per-file key envelopes — a point
        lookup opens only the files that may hold a probed key; callers
        still semi-join rows to the key set, so the pruning is exact on
        the same envelope argument as the partial-rewrite paths. With
        ``part_spec`` = (non-null values, want_null), files whose
        partition-value envelope is disjoint from the requested set are
        pruned — EXCEPT, when the caller will merge (``guard_keys`` is
        passed), files that may still decide a kept row's fate: those
        whose key envelope touches ``guard_keys`` (the MOR log-guard)
        and, unless the manifest's ``key_unique`` claim proves base
        keys appear in one file only, those whose key envelope overlaps
        a kept file's (_base_duplicate_guard). Both prunings intersect;
        each drops only files that cannot contribute to the final
        result."""
        files = m.files
        if not files:
            raise FileNotFoundError(f"no manifest for table {self.path}")
        scan = list(files)
        if part_spec is not None:
            nonnull, want_null = part_spec
            part_kept: list[str] = []
            pruned: list[str] = []
            for f in scan:
                cls = _prange_class(m.pranges.get(f), nonnull, want_null)
                (pruned if cls == "disjoint" else part_kept).append(f)
            keep = set(part_kept)
            pruned_set = set(pruned)
            if guard_keys is not None and pruned:
                # the caller is about to MERGE (MOR snapshot under a
                # live log) — two suppressor guards re-admit pruned
                # files whose rows cannot pass the post-merge filter
                # but may decide which rows DO:
                # (1) log-guard: the file may hold the winning base
                #     version of a key with a stale log entry;
                keep.update(
                    f
                    for f in self._manifest_split_touched(
                        guard_keys, spark, m
                    )[0]
                    if f in pruned_set
                )
                # (2) base-duplicate guard: the file may hold the
                #     winning version of a key a KEPT base file also
                #     carries (genesis bulk_insert appends without
                #     index lookup). Skipped when the manifest proves
                #     base keys unique — the state compact/cluster
                #     publish and upsert/delete preserve.
                if not m.key_unique:
                    keep.update(
                        _base_duplicate_guard(m.ranges, part_kept, pruned)
                    )
            scan = [f for f in scan if f in keep]
        if keys is not None:
            touched, untouched = self._manifest_split_touched(keys, spark, m)
            if untouched:
                tset = set(touched)
                scan = [f for f in scan if f in tset]
        if len(scan) < len(files) and not scan:
            # nothing can hold a requested row: zero-row frame via the
            # SAME all-files scan (identical schema resolution to the
            # unpruned path; limit 0 means footer-only cost)
            return spark.read.parquet(*files).limit(0)
        return spark.read.parquet(*scan)

    def read_manifest_version(self, spark: SparkSession, version: int) -> DataFrame:
        """COW time travel under the manifest protocol: the table exactly
        as manifest ``version`` published it (old manifests stay until a
        cleaner trims them)."""
        if not self._is_manifest:
            raise ValueError("read_manifest_version requires manifest commit mode")
        return self._manifest_read(spark, self._manifest(version))

    def clean(self, keep_last: int = 1, grace_seconds: float = 0.0) -> dict:
        """Hudi's CLEANER service for manifest-mode tables: retain the
        newest ``keep_last`` manifests, delete older manifest files and
        every data file no retained manifest references (including
        crashed-writer debris that never made it into any manifest).
        Returns {"manifests_removed": n, "files_removed": n} — the
        bounded-storage counterpart to time travel: history you keep is
        queryable, history you clean is reclaimed.

        Safe ordering: old manifests are deleted BEFORE their
        now-unreferenced files, so a crash mid-clean never leaves a
        manifest pointing at deleted data.

        CONCURRENCY: an in-flight commit writes its data files before
        publishing its manifest, so to the cleaner those files look like
        unreferenced debris. ``grace_seconds=0`` (the default) therefore
        assumes a SINGLE writer that is not mid-commit while cleaning.
        When concurrent committers may exist, pass a ``grace_seconds``
        larger than any plausible write-to-publish gap: unreferenced
        files younger than the grace age are kept for a later clean
        (Hudi/Iceberg cleaners use the same modification-age guard)."""
        if not self._is_manifest:
            raise ValueError("clean() applies to manifest commit mode")
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        import time as _time

        now = _time.time()
        versions = self._manifest_versions()
        drop = versions[:-keep_last]
        keep = versions[-keep_last:]
        live: set[str] = set()
        for v in keep:
            live.update(self._manifest(v).files)
        for v in drop:
            os.remove(
                os.path.join(self._manifest_dir, f"manifest-{v:012d}.json")
            )
        removed = 0
        data_root = os.path.join(self._local_fs_path(), "data")
        if os.path.isdir(data_root):
            for commit in sorted(os.listdir(data_root)):
                cdir = os.path.join(data_root, commit)
                for f in sorted(os.listdir(cdir)):
                    fp = os.path.join(cdir, f)
                    if fp not in live and (
                        f.endswith(".parquet") or f.startswith(("_", "."))
                    ):
                        if (
                            grace_seconds > 0
                            and now - os.path.getmtime(fp) < grace_seconds
                        ):
                            # possibly an in-flight commit's data file
                            # (written, manifest not yet published) —
                            # leave it for a later clean
                            continue
                        os.remove(fp)
                        if f.endswith(".parquet"):
                            removed += 1
                if not os.listdir(cdir):
                    os.rmdir(cdir)
        return {"manifests_removed": len(drop), "files_removed": removed}

    def _atomic_rewrite(self, df: DataFrame, spark: SparkSession) -> None:
        """Full rewrite via staging + backup rename (unpartitioned
        tables; partitioned tables use _rewrite_partitions).

        Order: write staging → rename live table to a backup → move
        staging into place → drop backup. Reading the table being
        overwritten inside the same job is unsafe, hence the staging
        materialization. A crash window exists between the two renames;
        the backup dir survives it, so the table is recoverable (never
        deleted before its replacement is fully written). Local-fs only
        (see _local_fs_path).
        """
        if self._is_manifest:
            # manifest protocol: write immutable files, publish the list —
            # no directory rename anywhere (object-store-safe).
            # key_unique=True: every caller of this full-replace path
            # (compact, cluster, rectify, the upsert/delete/overwrite
            # fallbacks) passes a frame derived from a latest-wins merge
            # or a merged read() — one row per key by construction. A
            # caller with an unmerged frame must not route through here.
            files, ranges, pranges = self._manifest_write_batch(df)
            self._publish_manifest(
                files, ranges=ranges, pranges=pranges, key_unique=True
            )
            return
        local = self._local_fs_path()
        suffix = uuid.uuid4().hex[:8]
        staging = f"{local.rstrip('/')}__staging_{suffix}"
        backup = f"{local.rstrip('/')}__prev_{suffix}"
        # base files are about to change: drop the schema memo first so
        # a crash mid-rename leaves the next reader inferring fresh
        self._base_schema_memo = None
        # _writer carries the membership guard: callers materialize a
        # missing partition column via _with_partition_col, but a
        # direct call must not crash on a column the frame doesn't
        # carry.
        self._writer(df, "overwrite").parquet(staging)
        import shutil

        had_old = os.path.exists(local)
        if had_old:
            os.replace(local, backup)
        os.replace(staging, local)
        if had_old:
            shutil.rmtree(backup)
        self._memo_base_schema(df.schema)

    def _manifest_overwrite_partitions(
        self, df: DataFrame, spark: SparkSession
    ) -> None:
        """Dynamic partition overwrite on a MANIFEST table: publish a
        new manifest version in which the batch's touched partitions
        are served ONLY by the batch's files. Live files are classified
        against the touched-partition set via their per-file
        partition-value envelopes (``pranges``):

        - DISJOINT (no touched value inside [min, max]; null untouched
          or absent): carried into the new manifest BY REFERENCE —
          never opened.
        - INSIDE (every value the envelope allows is touched: [v, v]
          with v touched / all-null with null touched): dropped
          from the manifest. The files STAY on disk — older manifest
          versions still reference them (time travel), clean()
          reclaims them.
        - anything else (mixed envelope, no envelope — legacy manifest
          or unsupported partition dtype, or a classification type
          error): rewritten retaining only rows OUTSIDE the touched
          partitions.

        The classification is ``_prange_class``, the same envelope test
        a partition-scoped read prunes with.

        Exact: a carried file provably holds no touched-partition row,
        a dropped file provably holds only touched-partition rows, and
        the mixed rewrite filters row-by-row; classification
        uncertainty only ever costs an unnecessary rewrite. Write cost
        therefore tracks the touched partitions (plus mixed-file
        rewrites), not the table."""
        # Write the batch FIRST; its touched-partition set comes out of
        # the post-write stats aggregate (collect_parts), so the batch
        # plan is evaluated once — a separate distinct().collect() would
        # evaluate it a second time. Classification of prior files
        # happens after, against the batch-derived set; the manifest
        # publish at the end is the single atomic commit point, so
        # failure anywhere before it leaves the table on the old version
        # (the new data dir is unreferenced garbage, same as any failed
        # commit).
        new_files, new_ranges, new_pranges, (parts, has_null) = (
            self._manifest_write_batch(df, collect_parts=True)
        )
        m = self._manifest()
        pset = set(parts)
        by_class: dict[str, list[str]] = {
            "disjoint": [], "inside": [], "mixed": []
        }
        for f in m.files:
            by_class[_prange_class(m.pranges.get(f), pset, has_null)].append(f)
        carry, mixed = by_class["disjoint"], by_class["mixed"]
        batch_env = list(new_ranges.values())  # batch files only
        # the disjointness proof below needs an envelope for EVERY
        # batch file (an unenveloped file could hold any key)
        batch_env_complete = len(batch_env) == len(new_files)
        mixed_env: list[list] = []
        if mixed:
            col = F.col(self.partition_field)
            not_in = ~col.isin(parts) if parts else F.lit(True)
            keep = (
                (col.isNotNull() & not_in)
                if has_null
                else (col.isNull() | not_in)
            )
            survivors = spark.read.parquet(*mixed).filter(keep)
            mixed_files, mixed_ranges, mixed_pranges = (
                self._manifest_write_batch(survivors)
            )
            new_files += mixed_files
            new_ranges.update(mixed_ranges)
            new_pranges.update(mixed_pranges)
            mixed_env = list(mixed_ranges.values())
            mixed_env_complete = len(mixed_env) == len(mixed_files)
        else:
            mixed_env_complete = True
        # key_unique survives the overwrite only when the prior claim
        # held AND no batch key can live in a surviving prior row:
        # carried and mixed-survivor rows are all prior rows (unique
        # among themselves by the prior claim), the batch files are a
        # latest-wins merge (unique within), so the only possible
        # duplicate is batch-vs-survivor — ruled out when their key
        # envelopes are group-disjoint (replacing partition 'a' while
        # key k keeps an old row in partition 'c' is exactly the
        # duplicate insert_overwrite CAN create under global keys).
        carried_env = [m.ranges.get(f) for f in carry]
        unique = (
            m.key_unique
            and batch_env_complete
            and mixed_env_complete
            and all(e is not None for e in carried_env)
            and _envelope_groups_disjoint(
                batch_env, carried_env + mixed_env
            )
        )
        self._publish_manifest(
            carry + new_files,
            ranges=new_ranges,
            pranges=new_pranges,
            key_unique=unique,
        )

    def _rewrite_partitions(
        self,
        df: DataFrame,
        spark: SparkSession,
        touched: tuple[list, bool] | None = None,
        rebalance: bool = True,
    ) -> None:
        """Replace the partitions ``df`` covers with its rows: write
        ``df`` ONCE to a sibling staging dir (the source table is being
        read), then swap each staged ``field=value`` directory into
        place — live → backup, staged → live — and drop the backups.
        Untouched partitions' files are never opened or moved.

        ``touched`` is the ``(values, has_null)`` scope the caller
        merged over; touched partitions that staged no rows (the merge
        emptied them — every row deleted, or every key moved to another
        partition) are dropped. Without it only staged partitions are
        replaced.

        ``rebalance`` shuffles ``df`` by the partition column first, so
        a small partition is one file and AQE splits a large one;
        callers whose frame is already shaped (cluster, rectify) pass
        False to keep their layout.

        A crash before the first swap leaves the live table in its
        pre-merge state (re-running the batch is idempotent by the
        upsert contract); mid-swap, each partition is old, new, or
        parked in the backup dir. Local-fs only (see _local_fs_path)."""
        if self._is_manifest:
            raise AssertionError(
                "internal: manifest tables never use the hive-layout "
                "rewrite — mutations route through the file-group paths "
                "and _manifest_overwrite_partitions"
            )
        import shutil

        local = self._local_fs_path().rstrip("/")
        suffix = uuid.uuid4().hex[:8]
        staging = f"{local}__staging_{suffix}"
        backup = f"{local}__prev_{suffix}"
        if rebalance:
            df = df.hint("rebalance", self.partition_field)
        df.write.mode("overwrite").partitionBy(self.partition_field).parquet(
            staging
        )
        prefix = f"{self.partition_field}="
        staged = sorted(d for d in os.listdir(staging) if d.startswith(prefix))
        os.makedirs(backup)
        for d in staged:
            live = os.path.join(local, d)
            if os.path.exists(live):
                os.replace(live, os.path.join(backup, d))
            os.replace(os.path.join(staging, d), live)
        if touched is not None:
            parts, has_null = touched
            self._drop_partitions(parts + [None] * has_null, keep=set(staged))
        shutil.rmtree(backup)
        shutil.rmtree(staging)

    def _drop_partitions(self, values: list, keep: set[str]) -> None:
        """Physically remove the directories of partition ``values``
        (``None`` = the null partition) except those named in ``keep``:
        a rewrite may empty a touched partition entirely, and the swap
        only replaces partitions that still have rows.

        Matching is by UNESCAPED value against the listed directories,
        not by constructing ``k=str(v)``: Spark percent-escapes special
        characters in partition paths ('a:b' -> ``k=a%3Ab``, spaces and
        colons in timestamps likewise), so a constructed raw name would
        miss the real directory and the 'deleted' partition's rows
        would silently resurrect on the next read."""
        import shutil
        from urllib.parse import unquote

        local = self._local_fs_path()
        want = {
            "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
            for v in values
        }
        prefix = f"{self.partition_field}="
        for d in os.listdir(local):
            if not d.startswith(prefix) or d in keep:
                continue
            leaf = d[len(prefix):]
            # unquote inverts Spark's escapePathName for any value Spark
            # actually wrote (it always escapes '%' itself, so the
            # round-trip is unambiguous); the hive default token is
            # literal
            val = (
                leaf
                if leaf == "__HIVE_DEFAULT_PARTITION__"
                else unquote(leaf)
            )
            if val in want:
                shutil.rmtree(os.path.join(local, d))

    # -- catalog sync ---------------------------------------------------
    def _maybe_sync_catalog(self, spark: SparkSession) -> None:
        """Hive-sync analogue (``hoodie.datasource.hive_sync.*``,
        hudi_mongodb_batch.properties:22-29): register the written table
        in the session catalog so it is queryable by
        ``<database>.<table>``. With ``enableHiveSupport`` the session
        catalog IS a Hive metastore, so this is the same registration
        the reference performs via Hudi's HiveSyncTool."""
        on = str(
            self.options.get(HIVE_SYNC_ENABLE)
            or self.options.get(META_SYNC_ENABLE)
            or "false"
        ).lower() == "true"
        if not on:
            return
        db = self.options.get(HIVE_SYNC_DATABASE, "default")
        tbl = self.options.get(HIVE_SYNC_TABLE) or self.table_name
        if not tbl:
            raise ValueError(
                "hive_sync enabled but neither "
                f"{HIVE_SYNC_TABLE} nor {TABLE_NAME} is set"
            )
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")

        if self._is_manifest:
            # a path-based parquet table at the root would recursively
            # list EVERY commit-* dir — the union of all versions, with
            # stale/duplicate rows — because only the head manifest's
            # file list is live and a LOCATION clause can't express
            # that. Same fail-loud rule as the MOR pending-log case:
            # drop the by-name entry rather than serve wrong data;
            # manifest tables are read via read()/read_manifest_version.
            spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{tbl}`")
            return

        def _register(name: str) -> None:
            # external (path-based) table; re-registered each write so
            # the location/schema stay current, then partitions recovered
            spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{name}`")
            spark.sql(
                f"CREATE TABLE `{db}`.`{name}` USING parquet "
                f"LOCATION '{self.path}'"
            )
            if self.partition_field:
                try:
                    spark.catalog.recoverPartitions(f"`{db}`.`{name}`")
                except Exception:
                    pass  # in-memory catalog infers partitions from path

        if not self.is_mor:
            _register(tbl)
            return
        # MOR: a path-based parquet table can only serve the BASE files —
        # pending log commits are invisible to it. Mirroring Hudi's
        # HiveSyncTool naming, register `<tbl>_ro` (read-optimized view,
        # always valid as base-only) and `<tbl>_rt` (real-time/snapshot
        # view — HiveSyncTool's convention consumers expect), plus the
        # unsuffixed `<tbl>` as the snapshot's short name. The two
        # snapshot names are registered only while base == snapshot (no
        # pending log); otherwise they're dropped so a by-name query
        # fails loudly instead of silently serving stale pre-merge data.
        # compact() re-syncs, restoring them.
        _register(f"{tbl}_ro")
        if self._has_log(spark):
            spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{tbl}`")
            spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{tbl}_rt`")
        else:
            _register(tbl)
            _register(f"{tbl}_rt")
