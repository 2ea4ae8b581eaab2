"""Partitioned-table IO with snapshot manifests (Iceberg-style, parquet
fallback).

The reference tracks incremental state by diffing hive partition directories
(``featurestore/base/feature_preprocessing.py:290-312``) and re-lays folders
after writes (``materialize_pipeline.py:178-201``).  Here every committed
write records a *snapshot*: an immutable mapping ``partition → [versioned
data dirs]``.  Data files are never mutated or deleted by commits — each
write lands in a fresh ``data/v{seq}`` directory — so any historical
snapshot remains readable (time travel), incremental processing and
checkpoint/resume key off snapshot ids, and commit cost is proportional to
the rows written, not the table size.  This is the Iceberg model (SURVEY.md
§1.4) without the runtime jar (unavailable in-sandbox); the IO seam is this
one module, so swapping in ``df.writeTo(...)`` is local.

Layout:  <root>/<table>/data/v{seq}/<partition_col>=<value>/*.parquet
         <root>/<table>/data/v{seq}/_schema.json  (schema written there)
         <root>/<table>/_manifest.jsonl  (append-only snapshot log)
         <root>/<table>/_manifest.json   (legacy array-format log prefix)

Commit cost is the Spark write job and nothing else.  The per-partition
row counts come from the parquet footers of the files just written (local
metadata reads, no read-back job), and the written schema — the frame's
schema minus the partition column, all fields nullable, which is what
footer inference returns — is recorded in the version dir's
``_schema.json`` before the manifest append.  It lives and dies with its
dir, so ``expire_snapshots`` keeps it exactly as long as the dir is
referenced.  Reads merge the recorded schemas of the wanted dirs locally
and pass the result to the reader, so planning a read launches no
``mergeSchema`` inference job either.  Dirs committed before the sidecar
existed have none; a read touching one falls back to inference.

The snapshot log is APPEND-ONLY JSONL — one line per commit, O(rows
written) commit cost on the metadata side too.  Round 3 rewrote the whole
JSON array every commit, making manifest maintenance O(P²) in commits
(round-3 ADVICE).  Tables written by older rounds keep their
``_manifest.json`` as an immutable prefix; new commits only ever append
lines to the JSONL.  A torn final line (crash mid-append) is ignored on
read — its version dir was never referenced, and the next commit reuses
the sequence number and overwrites that dir (``io/jsonl.py``, shared with
the pipeline's checkpoint and lineage logs).

Concurrency contract: ONE writer per table (the orchestrator's per-table
checkpointed pipelines give this naturally).  Concurrent committers
would race on the version sequence number; real Iceberg resolves that
with optimistic concurrency on the catalog pointer — the swap-in point
if multi-writer tables are ever needed (SURVEY §1.4).  Readers are
always safe: they see a prefix of the log, and data dirs are immutable.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

from feature_store_spark.io.jsonl import append_jsonl, read_jsonl

# Spark's ExternalCatalogUtils.escapePathName char set (Spark 4,
# catalyst/catalog/ExternalCatalogUtils.scala): control chars, DEL, and
# these printable chars are %XX-escaped in partition dir names; '+' and
# space are NOT (hive paths are not form-encoded).
_PATH_ESCAPE_CHARS = (
    set('"#%\'*/:=?\\{[]^')
    | {chr(c) for c in range(1, 0x20)}
    | {chr(0x7F)}
)


def escape_path_name(value: str) -> str:
    """Partition value → on-disk dir component, matching what Spark's
    writer produced (so manifest-driven reads never list directories)."""
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE_CHARS else c for c in value
    )


def unescape_path_name(name: str) -> str:
    """On-disk dir component → partition value (inverse of
    :func:`escape_path_name`, Spark's ``unescapePathName``)."""
    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


# per-version-dir sidecar holding the schema of the files written there
_SCHEMA_FILE = "_schema.json"
_NULL_PARTITION_DIR = "__HIVE_DEFAULT_PARTITION__"


def _as_nullable(dt: DataType) -> DataType:
    """Every field, element and map value nullable: the schema Spark's
    parquet writer stores and schema inference reads back."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


class _NeedsInference(Exception):
    """Recorded schemas whose merge needs Spark's own rules (a type or
    name-case conflict): the read falls back to ``mergeSchema``."""


def _merge_types(a: DataType, b: DataType) -> DataType:
    """Spark's ``StructType.merge`` where only structs evolve: ``a``'s
    fields in order (merged with ``b``'s same-named ones), then ``b``'s
    new fields.  Any other difference raises :class:`_NeedsInference`."""
    if isinstance(a, StructType) and isinstance(b, StructType):
        theirs = {f.name: f for f in b.fields}
        mine = {f.name for f in a.fields}
        new = [f for f in b.fields if f.name not in mine]
        if {f.name.lower() for f in new} & {n.lower() for n in mine}:
            raise _NeedsInference
        return StructType([
            StructField(
                f.name,
                _merge_types(f.dataType, theirs[f.name].dataType)
                if f.name in theirs else f.dataType,
                True,
                f.metadata,
            )
            for f in a.fields
        ] + new)
    if a == b:
        return a
    raise _NeedsInference


@dataclass
class Snapshot:
    snapshot_id: str
    partitions: dict[str, int]  # partition value -> row count
    op: str
    mapping: dict[str, list[str]]  # partition value -> version dirs
    meta: dict = field(default_factory=dict)  # caller metadata for this commit
    touched: list[str] = field(default_factory=list)  # partitions this commit wrote


class PartitionedTable:
    """One partitioned parquet table + snapshot manifest."""

    def __init__(self, root: str, name: str, partition_col: str):
        self.path = os.path.join(root, name)
        self.data_path = os.path.join(self.path, "data")
        self.partition_col = partition_col
        self._legacy_manifest_path = os.path.join(self.path, "_manifest.json")
        self._manifest_path = os.path.join(self.path, "_manifest.jsonl")

    # -- manifest ------------------------------------------------------
    def _read_manifest(self) -> list[dict]:
        log: list[dict] = []
        if os.path.exists(self._legacy_manifest_path):
            with open(self._legacy_manifest_path) as f:
                log = json.load(f)
        return log + read_jsonl(self._manifest_path)

    def _append_manifest(self, entry: dict) -> None:
        # a torn final line's version dir was never referenced; the
        # reused seq overwrites it
        append_jsonl(self._manifest_path, [entry])

    def _entry_to_snapshot(self, e: dict) -> Snapshot:
        return Snapshot(
            e["snapshot_id"], e["partitions"], e["op"], e["mapping"],
            e.get("meta", {}), e.get("touched", []),
        )

    def current_snapshot(self) -> Snapshot | None:
        log = self._read_manifest()
        return self._entry_to_snapshot(log[-1]) if log else None

    def snapshot(self, snapshot_id: str) -> Snapshot:
        for e in self._read_manifest():
            if e["snapshot_id"] == snapshot_id:
                return self._entry_to_snapshot(e)
        raise KeyError(f"unknown snapshot {snapshot_id!r}")

    def partitions(self, snapshot_id: str | None = None) -> list[str]:
        snap = (
            self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        )
        return sorted(snap.partitions) if snap else []

    def partition_info(self) -> dict[str, dict]:
        """Latest write metadata per partition: partition value → the
        ``meta`` dict of the most recent commit that (re)wrote it, with
        the commit's per-partition ``partition_meta`` overlay merged in
        (a batched commit covering many partitions records shared meta
        once plus each partition's own, e.g. its input dirs).  The
        incremental feature pipeline keys its cache-validity checks on
        this (content-addressed by input dirs), mirroring the reference's
        raw-vs-saved date diff (``feature_preprocessing.py:290-312``)."""
        info: dict[str, dict] = {}
        for e in self._read_manifest():
            pmeta = e.get("partition_meta", {})
            for p in e.get("touched", []):
                info[p] = {**e.get("meta", {}), **pmeta.get(p, {})}
        return info

    # -- IO ------------------------------------------------------------
    def _leaf(self, vdir: str, partition: str) -> str:
        return os.path.join(
            vdir, f"{self.partition_col}={escape_path_name(partition)}"
        )

    def _recorded_schema(self, vdirs: list[str]) -> StructType | None:
        """The commit-recorded schemas of ``vdirs`` merged in order; None
        when a dir predates the sidecar or the merge needs inference."""
        schemas = []
        for d in vdirs:
            path = os.path.join(d, _SCHEMA_FILE)
            if not os.path.exists(path):
                return None
            with open(path) as f:
                schemas.append(StructType.fromJson(json.load(f)))
        try:
            return functools.reduce(_merge_types, schemas)
        except _NeedsInference:
            return None

    def _footer_counts(self, vdir: str) -> dict[str, int]:
        """Rows per partition of a just-written version dir, summed from
        its parquet footers.  A NULL partition value (Spark's
        ``__HIVE_DEFAULT_PARTITION__`` dir) rejects the commit."""
        prefix = f"{self.partition_col}="
        counts = {}
        for name in sorted(os.listdir(vdir)):
            if not name.startswith(prefix):
                continue
            if name[len(prefix):] == _NULL_PARTITION_DIR:
                raise ValueError(
                    f"{self.path}: NULL values in partition column "
                    f"{self.partition_col!r} — commit rejected (filter or "
                    "fill nulls before writing)"
                )
            leaf = os.path.join(vdir, name)
            counts[unescape_path_name(name[len(prefix):])] = sum(
                pq.read_metadata(os.path.join(leaf, f)).num_rows
                for f in os.listdir(leaf) if f.endswith(".parquet")
            )
        return counts

    def read(
        self,
        spark: SparkSession,
        partitions: list[str] | None = None,
        snapshot_id: str | None = None,
        merge_schema: bool = True,
        schema=None,
    ) -> DataFrame:
        """Read the table at a snapshot (default: current), optionally
        restricted to partitions.

        Scale shape: ONE parquet scan over all manifest-selected leaf dirs
        (O(1) plan nodes at any partition count — a 1,000-partition daily
        table is one relation, not a 1,000-leaf union), with the partition
        value derived from the file path.  File-level pruning comes from
        the manifest (only wanted dirs are listed), no directory walking.

        ``merge_schema=True`` unifies schemas across version dirs (columns
        added by later snapshots read as NULL in older files) — the
        reference's ``mergeSchema=true`` daily-feed contract
        (``featurestore/base/utils/fileops.py:97-103``).

        ``schema`` (DDL string or StructType) ENFORCES a user-supplied read
        schema instead of inferring from footers — the reference's optional
        explicit-schema read (``featurestore/base/utils/fileops.py:85-101``);
        production hygiene for evolving feeds (a type drift fails the read,
        not a downstream join).  Mutually exclusive with ``merge_schema``
        semantics (the explicit schema IS the merged view), so it wins.

        Without ``schema``, the read schema is the one each wanted version
        dir recorded at commit (``_schema.json``), merged locally in
        scan order exactly as ``mergeSchema`` would merge the footers — or
        the first dir's alone with ``merge_schema=False`` — so planning a
        read launches no Spark job.  Dirs committed before the sidecar
        existed fall back to footer inference.

        A partition name missing from the snapshot raises, and so does a
        manifest-listed dir missing on disk (silently skipping either
        would under-read committed data).
        """
        snap = (
            self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        )
        if snap is None:
            raise FileNotFoundError(f"table {self.path} has no snapshot")
        if partitions is not None:
            unknown = sorted(set(partitions) - set(snap.mapping))
            if unknown:
                raise FileNotFoundError(
                    f"{self.path}: partitions {unknown} are not in snapshot "
                    f"{snap.snapshot_id}"
                )
        wanted = sorted(snap.mapping if partitions is None else set(partitions))
        leaf_dirs, missing = [], []
        for p in wanted:
            for d in snap.mapping[p]:
                leaf = self._leaf(d, p)
                (leaf_dirs if os.path.exists(leaf) else missing).append(leaf)
        # version dirs in scan order: the order mergeSchema meets them
        vdirs = list(dict.fromkeys(d for p in wanted for d in snap.mapping[p]))
        if missing:
            raise FileNotFoundError(
                f"{self.path}: {len(missing)} manifest-listed dirs missing on "
                f"disk (data corruption or external delete), e.g. {missing[0]}"
            )
        if not wanted:
            raise FileNotFoundError(
                f"no data for partitions={partitions} in {self.path}"
            )
        if not leaf_dirs:
            # every wanted partition is a legitimately committed EMPTY
            # partition (zero-dir mapping): it reads back as an empty
            # frame, not a crash of an incremental run whose changed
            # partitions decoded to zero rows.  Schema comes from the
            # caller or from any non-empty partition of the same snapshot.
            if schema is None:
                donor = next(
                    ((d, p) for p in sorted(snap.mapping)
                     for d in snap.mapping[p]
                     if os.path.exists(self._leaf(d, p))),
                    None,
                )
                if donor is None:
                    raise FileNotFoundError(
                        f"{self.path}: all wanted partitions are empty and "
                        "the table holds no data to infer a schema from — "
                        "pass `schema=` to read an all-empty table"
                    )
                schema = self._recorded_schema([donor[0]])
                if schema is None:  # pre-sidecar donor: infer
                    schema = spark.read.parquet(self._leaf(*donor)).schema
            return spark.createDataFrame([], schema).withColumn(
                self.partition_col, F.lit(None).cast("string")
            )
        if schema is None:
            schema = self._recorded_schema(
                vdirs if merge_schema else vdirs[:1]
            )
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        elif merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*leaf_dirs)
        # partition value from the file path (exact string — no partition
        # type inference): greedy .* anchors on the LAST `col=value` path
        # component.  ``_metadata.file_path`` is a URI, so the dir name is
        # percent-encoded TWICE when escapes are present (hive %XX escaping
        # at write, then URI encoding of '%'/space) — decode twice.  Both
        # encodings are %XX ONLY; url_decode additionally maps '+' to space
        # (form-encoding, which neither writes), so literal '+' is
        # pre-escaped to %2B each pass and decodes back to itself (round-2
        # ADVICE: 'a+b:c' read back as 'a b:c').
        pat = f".*/{re.escape(self.partition_col)}=([^/]+)/"
        raw = F.regexp_extract(F.col("_metadata.file_path"), pat, 1)

        def _decode_pct(col):
            return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))

        val = F.when(
            raw.contains("%"), _decode_pct(_decode_pct(raw))
        ).otherwise(raw)
        return df.withColumn(self.partition_col, val)

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite_partitions",
        meta: dict | None = None,
        partition_meta: dict[str, dict] | Callable[[], dict] | None = None,
    ) -> Snapshot:
        """Commit a write as a new snapshot.  ``overwrite_partitions``
        replaces only the partitions present in ``df`` (idempotent re-runs —
        the backfill contract); ``append`` adds files to them; ``overwrite``
        replaces the whole table.  Existing snapshot data is never touched.
        ``meta`` is recorded verbatim in the manifest entry (stream batch
        ids, input lineage, ...); ``partition_meta`` adds a per-partition
        overlay for batched commits (ONE commit, one Spark write job, may
        cover many partitions, each content-addressed by its own inputs —
        see :meth:`partition_info`).  A callable ``partition_meta`` is
        called after the data write and before the manifest append, so it
        can record values observed on the write itself.

        Rows with a NULL partition value reject the whole commit (they land
        in an on-disk ``__HIVE_DEFAULT_PARTITION__`` dir that a manifest
        keyed by value could never read back); the manifest is not appended,
        so the snapshot log stays consistent and the orphaned version dir is
        never referenced.
        """
        if mode not in ("overwrite_partitions", "append", "overwrite"):
            raise ValueError(f"unknown mode {mode!r}")
        log = self._read_manifest()
        # next version number = 1 + max referenced by ANY snapshot — NOT
        # len(log): expire_snapshots compacts the log, and a length-based
        # seq would then reuse numbers of dirs still referenced by
        # retained snapshots
        max_seq = -1
        for e in log:
            for dirs in e["mapping"].values():
                for d in dirs:
                    m = re.search(r"v(\d+)$", d)
                    if m:
                        max_seq = max(max_seq, int(m.group(1)))
        seq = max(max_seq + 1, len(log))
        vdir = os.path.join(self.data_path, f"v{seq:04d}")
        df.write.partitionBy(self.partition_col).mode("overwrite").parquet(vdir)
        if callable(partition_meta):
            partition_meta = partition_meta()
        # bookkeeping without a Spark job: row counts from the
        # footers of the files just written (commit cost ∝ rows written),
        # schema recorded next to them for reads to use instead of
        # inference.  A zero-row write leaves no partition dir and commits
        # an empty snapshot.
        new_counts = self._footer_counts(vdir)
        data_schema = StructType(
            [f for f in df.schema.fields if f.name != self.partition_col]
        )
        with open(os.path.join(vdir, _SCHEMA_FILE), "w") as f:
            f.write(_as_nullable(data_schema).json())

        # `log` already holds the parsed manifest — don't re-read it
        prev = self._entry_to_snapshot(log[-1]) if log else None
        if mode == "overwrite" or prev is None:
            mapping = {p: [vdir] for p in new_counts}
            counts = dict(new_counts)
        else:
            mapping = {p: list(dirs) for p, dirs in prev.mapping.items()}
            counts = dict(prev.partitions)
            for p, n in new_counts.items():
                if mode == "append" and p in mapping:
                    mapping[p] = mapping[p] + [vdir]
                    counts[p] = counts.get(p, 0) + n
                else:  # overwrite_partitions, or a brand-new partition
                    mapping[p] = [vdir]
                    counts[p] = n

        digest = hashlib.sha256(
            json.dumps(counts, sort_keys=True).encode()
        ).hexdigest()[:16]
        snap_id = f"snap-{seq:04d}-{digest}"
        touched = sorted(new_counts)
        entry = {
            "snapshot_id": snap_id,
            "parent": prev.snapshot_id if prev else None,
            "op": mode,
            "partitions": counts,
            "mapping": mapping,
            "meta": meta or {},
            "touched": touched,
        }
        if partition_meta:
            unknown = set(partition_meta) - set(touched)
            if unknown:
                # A planned partition can legitimately produce zero rows
                # (e.g. an upstream commit leaving an empty partition in
                # a batched span).  Record it as a real, EMPTY partition
                # (count 0, no dirs) rather than dropping its overlay or
                # failing the commit: dropping would leave its
                # content-address unrecorded, so every subsequent
                # incremental run would re-detect it as changed and
                # recompute forward from it forever (round-5 review).
                warnings.warn(
                    f"{self.path}: committing empty partitions for "
                    f"partition_meta entries with no rows: "
                    f"{sorted(unknown)}",
                    stacklevel=2,
                )
                for p in sorted(unknown):
                    # append mode INHERITS the partition's existing dirs:
                    # an empty append adds nothing, it must not clobber
                    # already-committed data with an empty dir list
                    # (round-5 ADVICE).  overwrite modes record a real,
                    # EMPTY partition as before.
                    if mode == "append" and p in mapping:
                        continue
                    mapping[p] = []
                    counts[p] = 0
                touched = sorted(set(touched) | unknown)
                entry["partitions"] = counts
                entry["mapping"] = mapping
                entry["touched"] = touched
            entry["partition_meta"] = partition_meta
        self._append_manifest(entry)
        return Snapshot(snap_id, counts, mode, mapping, meta or {}, touched)

    # -- lifecycle ------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Iceberg-style maintenance: retain the newest ``keep_last``
        snapshots, compact the log, and DELETE version dirs no retained
        snapshot references (storage reclamation — commits never delete,
        so without this a year of daily overwrites keeps every
        superseded file forever).  Time travel now only reaches retained
        snapshots.

        Per-partition METADATA survives expiration: the effective
        :meth:`partition_info` of partitions whose latest writer is an
        expired commit is folded into a synthetic ``expire_base`` entry
        at the head of the compacted log — the incremental pipeline's
        content-addressed validity checks (``input_dirs`` /
        ``features_key``) must keep working, or every expire would trigger
        a permanent full-history recompute.

        The log rewrite is atomic (tmp + rename, legacy-prefix file
        folded in); deletion targets every on-disk version dir NOT
        referenced by a retained snapshot — which also sweeps orphans
        from earlier crashes (torn commits, a prior expire killed
        mid-delete).  Safe under the single-writer contract: no
        concurrent commit can be mid-flight.  Returns
        ``{"expired": n, "deleted_dirs": [...]}``."""
        import glob as _glob
        import shutil

        log = self._read_manifest()
        # keep_last counts REAL snapshots only: after one expiration the
        # log head holds a synthetic ``expire_base`` entry, and counting
        # it would silently retain keep_last-1 real snapshots.  The
        # expire_base always sits at the head, so cutting at the
        # keep_last-th real entry from the end expires it too — its
        # folded metadata is re-folded into the new expire_base below.
        real = [e for e in log if e.get("op") != "expire_base"]
        if keep_last < len(real):
            cutoff = log.index(real[-keep_last])
        else:
            cutoff = 0
        kept = log[cutoff:]
        expired = log[:cutoff]
        if expired:
            info_before: dict[str, dict] = {}
            for e in log:
                pmeta = e.get("partition_meta", {})
                for p in e.get("touched", []):
                    info_before[p] = {**e.get("meta", {}), **pmeta.get(p, {})}
            touched_kept = {
                p for e in kept for p in e.get("touched", [])
            }
            folded = {
                p: m for p, m in info_before.items() if p not in touched_kept
            }
            entries = []
            if folded:
                digest = hashlib.sha256(
                    json.dumps(folded, sort_keys=True).encode()
                ).hexdigest()[:16]
                entries.append(
                    {
                        "snapshot_id": f"snap-expire-base-{digest}",
                        "parent": None,
                        "op": "expire_base",
                        "partitions": {},
                        "mapping": {},
                        # meta MUST stay empty: commit-level meta merges
                        # into every touched partition's info, and the
                        # folded values must round-trip exactly
                        "meta": {},
                        "partition_meta": folded,
                        "touched": sorted(folded),
                    }
                )
            entries += kept
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                for e in entries:
                    f.write(json.dumps(e) + "\n")
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._manifest_path)
            if os.path.exists(self._legacy_manifest_path):
                os.remove(self._legacy_manifest_path)  # folded into JSONL
        referenced = {
            os.path.normpath(d)
            for e in kept
            for dirs in e["mapping"].values()
            for d in dirs
        }
        deleted = []
        for d in sorted(_glob.glob(os.path.join(self.data_path, "v*"))):
            if os.path.normpath(d) not in referenced and os.path.isdir(d):
                shutil.rmtree(d)
                deleted.append(d)
        return {"expired": len(expired), "deleted_dirs": deleted}

    # -- incremental bookkeeping (reference X1 semantics) ---------------
    def new_partitions_vs(self, processed: list[str]) -> list[str]:
        """Partitions present here but not yet processed — the reference's
        raw-minus-saved date diff, off the manifest instead of the dirs."""
        return sorted(set(self.partitions()) - set(processed))


_AST_FILTER_OPS = {
    "Eq": "=", "NotEq": "!=", "Lt": "<", "LtE": "<=", "Gt": ">",
    "GtE": ">=", "In": "in", "NotIn": "not in",
}


_AST_FLIPPED_OPS = {
    "=": "=", "!=": "!=", "<": ">", "<=": ">=", ">": "<", ">=": "<=",
}


def parse_filter_strings(filters: list[str]) -> list[tuple]:
    """Reference P7 (``base/utils/utils.py:103-163``): pandas-query-style
    filter strings lowered to tuple specs.  Each string is a conjunction
    of comparisons ``col OP literal`` (e.g. ``"a > 1"``,
    ``"t == 'click'"``, ``"k in [1, 2]"``, ``"a > 1 and b in [1, 2]"``,
    chained ``"1 < a <= 5"``); a list of strings is ANDed, as is ``and``
    within one string (the reference accepts single comparisons only;
    users write compound pandas-query strings, so ``ast.BoolOp(And)``
    and chained comparisons lower to multiple tuples).  ``or`` is
    rejected — the tuple spec is a pure conjunction.  Literal-first
    comparisons (``"5 > a"``) flip the operator.  Parsed with the Python
    expression grammar, so literals arrive as real typed values (ints,
    floats, strings, lists for ``in``), then handed to
    :func:`apply_filter_spec` — config-file sugar over the tuple ops.
    """
    import ast

    def lower_pair(q: str, left: ast.expr, opname: str, right: ast.expr):
        op = _AST_FILTER_OPS.get(opname)
        if op is None:
            raise ValueError(f"filter {q!r}: unsupported operator")
        if isinstance(left, ast.Name):
            col, lit = left.id, right
        elif isinstance(right, ast.Name) and op not in ("in", "not in"):
            col, lit, op = right.id, left, _AST_FLIPPED_OPS[op]
        else:
            raise ValueError(
                f"filter {q!r}: one side must be a column name"
            )
        try:
            val = ast.literal_eval(lit)
        except ValueError as e:
            raise ValueError(
                f"filter {q!r}: comparison value must be a literal"
            ) from e
        return (col, op, val)

    def lower(q: str, node: ast.expr) -> list[tuple]:
        if isinstance(node, ast.BoolOp):
            if not isinstance(node.op, ast.And):
                raise ValueError(
                    f"filter {q!r}: only 'and' conjunctions are supported"
                )
            return [t for v in node.values for t in lower(q, v)]
        if isinstance(node, ast.Compare):
            operands = [node.left, *node.comparators]
            return [
                lower_pair(q, operands[i], type(op).__name__, operands[i + 1])
                for i, op in enumerate(node.ops)
            ]
        raise ValueError(
            f"filter {q!r}: want comparisons 'col OP literal' "
            "joined by 'and'"
        )

    out: list[tuple] = []
    for q in filters:
        out.extend(lower(q, ast.parse(q, mode="eval").body))
    return out


def apply_filter_strings(df: DataFrame, filters: list[str]) -> DataFrame:
    """String-filter front door: parse (P7) then interpret (P2/S4)."""
    return apply_filter_spec(df, parse_filter_strings(filters))


def apply_filter_spec(df: DataFrame, spec: list[tuple]) -> DataFrame:
    """Reference P2/S4 filter-op interpreter (``fileops.py:236-319``):
    tuples ``(col, op, value)`` with op in
    ``in / not in / = / != / < / > / <= / >=``; a DataFrame value for
    ``in``/``not in`` becomes a semi/anti join (J4/J5)."""
    for col, op, val in spec:
        if op == "in":
            if isinstance(val, DataFrame):
                df = df.join(val, on=col, how="left_semi")
            else:
                df = df.where(F.col(col).isin(list(val)))
        elif op == "not in":
            if isinstance(val, DataFrame):
                df = df.join(val, on=col, how="left_anti")
            else:
                df = df.where(~F.col(col).isin(list(val)))
        elif op in ("=", "=="):
            df = df.where(F.col(col) == val)
        elif op == "!=":
            df = df.where(F.col(col) != val)
        elif op == "<":
            df = df.where(F.col(col) < val)
        elif op == ">":
            df = df.where(F.col(col) > val)
        elif op == "<=":
            df = df.where(F.col(col) <= val)
        elif op == ">=":
            df = df.where(F.col(col) >= val)
        else:
            raise ValueError(f"unknown filter op {op!r}")
    return df
