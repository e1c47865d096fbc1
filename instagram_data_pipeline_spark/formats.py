"""The transaction-log table format behind the A1 MERGE path (SURVEY §7
risk 1).

``Warehouse.upsert_partitioned`` / ``read_merged`` commit through
:class:`TransactionLogFormat` — a minimal transaction-log table (the
Delta/Iceberg commit model): every merge writes NEW immutable data
files, then publishes a versioned snapshot manifest via an atomic
create-if-absent. The publish IS the commit point — a crash anywhere
before it leaves the previous version fully intact and readers never
observe a partial merge. Orphaned data files from failed commits are
invisible (not referenced by any manifest) and can be vacuumed.

Incoming keys hash to ``num_buckets`` buckets, and only touched buckets
are read and rewritten (the property that makes per-batch merges viable
at 100 TB — a batch touching b buckets costs b/num_buckets of the
table, not all of it). The bucket of a row is a pure function of its
keys, so data files never store it — it lives in the manifest per file.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUCKET_COL = "_kb"


class CommitConflict(RuntimeError):
    """Another writer published the manifest version this commit was
    about to claim (lost the compare-and-swap)."""


def bucket_expr(keys: list[str], num_buckets: int):
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), num_buckets
    ).cast("int")


def _stat_key(v):
    """Normalize a parquet-footer statistic (or a caller's range bound)
    to a JSON-storable, ORDER-PRESERVING key: numbers stay numbers,
    strings stay strings, datetimes/dates become ISO-8601 strings
    (lexicographic order == chronological order, including the
    truncated-fraction forms isoformat emits). Plain dates normalize to
    midnight-datetime form ('1995-03-31T00:00:00'), so a date bound and
    a datetime stat (or vice versa) stay mutually order-consistent —
    the bare date form sorts BEFORE its own midnight and would prune
    the boundary file (ADVICE r7 #3). Returns None for types zone maps
    don't cover (binary, decimal, nested) — the file is then
    conservatively unprunable on that column."""
    import datetime as _dt

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime.combine(v, _dt.time.min).isoformat()
    return None


import re as _re

_BARE_DATE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")
_NAIVE_DT = _re.compile(r"^\d{4}-\d{2}-\d{2}T[0-9:.]+$")
_AWARE_DT = _re.compile(r"^\d{4}-\d{2}-\d{2}T[0-9:.]+\+00:00$")


def _mixed_form_fix(a, b) -> tuple:
    """Make two ISO temporal keys mutually order-comparable when they
    arrived in DIFFERENT forms — a LEGACY bare-date stat vs a
    midnight-normalized datetime bound ('1995-03-31' sorts BEFORE
    '1995-03-31T00:00:00'), or a tz-aware UTC footer stat vs a naive
    bound (the '+00:00' suffix sorts an equal instant AFTER its naive
    twin) — by promoting the shorter form: bare date -> midnight
    datetime, then naive -> '+00:00' (this codebase pins the session
    to UTC, so naive == UTC wall time). Same-form pairs (including
    plain strings that merely look like dates) pass through untouched,
    so genuine string-column ordering is never rewritten."""
    if isinstance(a, str) and isinstance(b, str):
        if _BARE_DATE.match(a) and (
            _NAIVE_DT.match(b) or _AWARE_DT.match(b)
        ):
            a = a + "T00:00:00"
        elif _BARE_DATE.match(b) and (
            _NAIVE_DT.match(a) or _AWARE_DT.match(a)
        ):
            b = b + "T00:00:00"
        if _NAIVE_DT.match(a) and _AWARE_DT.match(b):
            a = a + "+00:00"
        elif _NAIVE_DT.match(b) and _AWARE_DT.match(a):
            b = b + "+00:00"
    return a, b


#: reserved key inside a file's stats dict holding its bloom bitmaps
#: ({col: base64}); never a real column name (zone-map lookups use
#: plain column names and cannot collide)
BLOOM_KEY = "__bloom__"


def _bloom_positions(value, bits: int, k: int) -> list[int]:
    """The ``k`` bit positions a value sets/tests — double hashing
    (Kirsch-Mitzenmacher) over one md5: position_i = (h1 + i*h2) mod
    bits. Values canonicalize as str() — bloom columns are type-gated
    to integer/string at write time, where str() is injective and
    engine-independent (floats are refused: equality probes on floats
    are ill-defined anyway)."""
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full-period stepping
    return [(h1 + i * h2) % bits for i in range(k)]


def _bloom_build(values, bits: int, k: int) -> str:
    """Base64 bitmap with every value's positions set — the per-file
    bloom entry stored in the manifest."""
    import base64

    bm = bytearray((bits + 7) // 8)
    for v in values:
        if v is None:
            continue
        for p in _bloom_positions(v, bits, k):
            bm[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bm)).decode("ascii")


def _bloom_maybe_contains(b64: str, value, k: int) -> bool:
    import base64

    bm = base64.b64decode(b64)
    bits = len(bm) * 8
    return all(
        bm[p >> 3] & (1 << (p & 7))
        for p in _bloom_positions(value, bits, k)
    )


def _bloom_entry_maybe_contains(
    entry, value, default_k: int | None
) -> bool:
    """Probe a manifest bloom entry with the hash count IT was built
    with: entries are ``{"k": n, "bm": b64}`` (the k is persisted
    alongside the bitmap — ADVICE r7 #1: probing with a reader-side k
    that differs from the writer's produces FALSE NEGATIVES, silently
    pruning files that contain the value). A bare-string entry (legacy
    pre-k manifest) falls back to ``default_k`` when the caller KNOWS
    the writer's k (the format object carries its own config); with
    ``default_k=None`` the entry is treated as unprunable — keep the
    file (ADVICE r8 #3: a reader that merely assumes the default k
    reproduces the very false-negative bug the persisted k fixed)."""
    if isinstance(entry, dict):
        return _bloom_maybe_contains(entry["bm"], value, int(entry["k"]))
    if default_k is None:
        return True  # legacy entry, unknown writer k: never prune
    return _bloom_maybe_contains(entry, value, default_k)


def _footer_minmax(meta) -> dict:
    """Per-column [min, max] from a just-written parquet FOOTER
    (row-group statistics folded together) — the zone-map entry stored
    in the manifest. Columns with missing/untyped stats in ANY row
    group are omitted (absent == unprunable, never wrong)."""
    out: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(meta.num_row_groups):
        row_group = meta.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:
                continue  # nested leaves aren't top-level zone maps
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                out.pop(name, None)
                continue
            try:
                # pyarrow raises (not returns None) for stat types it
                # cannot extract — DECIMAL logical types notably; a
                # column the writer can't zone-map is unprunable, not
                # unwritable
                lo, hi = _stat_key(st.min), _stat_key(st.max)
            except Exception:
                bad.add(name)
                out.pop(name, None)
                continue
            if lo is None or hi is None:
                bad.add(name)
                out.pop(name, None)
                continue
            if name in out:
                out[name][0] = min(out[name][0], lo)
                out[name][1] = max(out[name][1], hi)
            else:
                out[name] = [lo, hi]
    return out


# ---------------------------------------------------------------------------
# Deletion-vector bitmaps: base64 bitsets over row ORDINALS within one
# immutable data file (bit i set == physical row i is deleted) — the
# Delta deletion-vector / Iceberg v2 positional-delete design, inlined
# in the manifest because point-delete DVs are control-plane sized.
# ---------------------------------------------------------------------------

def _dv_build(ordinals) -> str:
    import base64

    ords = sorted(set(int(o) for o in ordinals))
    if not ords:
        return ""
    bm = bytearray(ords[-1] // 8 + 1)
    for o in ords:
        bm[o >> 3] |= 1 << (o & 7)
    return base64.b64encode(bytes(bm)).decode("ascii")


def _dv_ordinals(b64: str) -> list[int]:
    import base64

    bm = base64.b64decode(b64)
    return [
        (i << 3) | j
        for i, byte in enumerate(bm)
        if byte
        for j in range(8)
        if byte & (1 << j)
    ]


def _dv_union(b64_a: str, b64_b: str) -> str:
    return _dv_build(_dv_ordinals(b64_a) + _dv_ordinals(b64_b))


def _dv_count(entry: dict | None) -> int:
    """Deleted-row count of one manifest dv entry ({"bm", "n"})."""
    return int(entry["n"]) if entry else 0


# ---------------------------------------------------------------------------
# Change-detection identity — ONE definition shared by the Spark-side
# changes_between and the txlog_changes stream/batch sources, so the
# three CDF faces can never drift apart on what counts as a change.
# ---------------------------------------------------------------------------

def _fields_or_identity(snap: dict) -> list | None:
    """Field metadata of a manifest version, synthesizing the identity
    list a later ``_bootstrap_fields`` would assign (ids in schema
    field order) for versions that PREDATE column mapping — without
    this, a rename whose FROM version is pre-mapping would silently
    drop the renamed column from cross-version alignment."""
    if "fields" in snap:
        return snap["fields"]
    if "schema" not in snap:
        return None
    names = [f["name"] for f in json.loads(snap["schema"])["fields"]]
    return [
        {"id": i + 1, "name": n, "phys": n} for i, n in enumerate(names)
    ]


def changed_buckets(snap_a: dict, snap_b: dict) -> set:
    """Buckets whose LIVE content can differ between two manifests: a
    file's identity includes its deletion-vector state (a DV added
    between the versions changes live rows without changing the file
    set), so carried-by-reference means identical files AND identical
    DVs."""
    dv_a, dv_b = snap_a.get("dv", {}), snap_b.get("dv", {})
    by_a: dict[int, set] = {}
    by_b: dict[int, set] = {}
    for f, b in snap_a.get("files", {}).items():
        by_a.setdefault(b, set()).add(
            (f, json.dumps(dv_a.get(f), sort_keys=True))
        )
    for f, b in snap_b.get("files", {}).items():
        by_b.setdefault(b, set()).add(
            (f, json.dumps(dv_b.get(f), sort_keys=True))
        )
    return {
        b
        for b in (by_a.keys() | by_b.keys())
        if by_a.get(b, set()) != by_b.get(b, set())
    }


def rename_map(snap_a: dict, snap_b: dict) -> dict[str, str]:
    """old-logical -> new-logical for columns RENAMED between two
    versions (matched by field id — a rename is the same field under a
    new name, not a drop+add). Pre-mapping versions synthesize
    identity ids by schema order (``_fields_or_identity``), so
    alignment holds across the bootstrap boundary."""
    fa, fb = _fields_or_identity(snap_a), _fields_or_identity(snap_b)
    if not fa or not fb:
        return {}
    a_by_id = {f["id"]: f["name"] for f in fa}
    return {
        a_by_id[f["id"]]: f["name"]
        for f in fb
        if f["id"] in a_by_id and a_by_id[f["id"]] != f["name"]
    }


class TransactionLogFormat:
    """Mini transaction-log table: immutable data files + versioned JSON
    manifests, commit = one atomic rename.

    Layout under ``<root>/<table>/``::

        _txlog/00000001.json   {"version": 1, "files": {relpath: bucket}}
        data/<commit>/b=<n>/part-*.parquet

    A manifest is a FULL snapshot (file -> bucket). ``merge`` reads only
    the live files of touched buckets, merges, writes the replacement
    files under a fresh commit dir, and publishes version N+1 carrying
    untouched files forward by reference — old versions stay readable
    (time travel for free) and a crash before the rename changes
    nothing. Each manifest records the table schema; merges may ADD
    columns (old files null-fill under the recorded schema at read
    time; type changes are rejected), RENAME/DROP are metadata-only
    commits through column-mapping indirection (``rename_column`` /
    ``drop_column`` — field-id -> physical-name, the Delta column
    mapping / Iceberg field-ID design), and time travel reads each
    version under its own schema AND its own mapping. Point deletes
    can be MERGE-ON-READ (``delete_keys_dv``): per-file deletion
    vectors in the manifest, applied at read, materialized away by
    ``compact`` — zero data files touched at delete time.

    Multi-writer: the version publish is COMPARE-AND-SWAP — an atomic
    create-if-absent of ``{version:08d}.json`` (``os.link`` here; the
    if-none-match conditional PUT on an object store). A loser detects
    the conflict and either REBASES (the winner touched disjoint
    buckets and the same schema: re-point the carried files at the new
    snapshot and re-CAS — its already-written data files are reused)
    or REDOES the merge from the winning snapshot (overlapping buckets
    or a concurrent schema change). Orphaned data files from abandoned
    attempts are invisible and vacuumable — the optimistic-concurrency
    protocol Delta/Iceberg run."""

    #: publish attempts before a write gives up under contention.
    #: Sized for REAL multi-driver contention, not just in-process
    #: races: a loser that must REDO its merge can lose several
    #: rounds in a row to faster writers (the r11 cross-process test
    #: starved a 3-writer race at the old value of 5), and optimistic
    #: table formats keep retrying far longer (Delta's commit-attempt
    #: budget is effectively unbounded). Still finite so a livelocked
    #: writer fails loudly instead of spinning forever.
    MAX_COMMIT_RETRIES = 20

    @staticmethod
    def _conflict_backoff(attempt: int) -> None:
        """Jittered backoff before retrying a lost CAS. The r12
        contention probe measured the failure mode this breaks: N
        fully-overlapping writers whose merges take ~the same time
        retry in LOCKSTEP — each redo round re-collides, and at 4
        writers the unluckiest merge burned 18 of the 20-conflict
        budget. A random sleep growing with the attempt count breaks
        the symmetry (the standard optimistic-concurrency answer;
        Delta backs off the same way). Capped small: the redo's own
        recompute is the dominant spacing, jitter only de-phases it."""
        import random as _random
        import time as _time

        if attempt > 0:
            _time.sleep(_random.uniform(0, min(2.0, 0.1 * attempt)))

    # class-level defaults so subclasses that replace __init__ (test
    # fault-injection shims) still get plain unclustered layout
    cluster_col: str | None = None
    zorder_cols: tuple[str, ...] | None = None
    zorder_equidepth: bool = False
    max_records_per_file: int | None = None
    bloom_cols: tuple[str, ...] | None = None
    bloom_bits: int = 1 << 16
    bloom_hashes: int = 7

    def __init__(
        self,
        cluster_col: str | None = None,
        max_records_per_file: int | None = None,
        zorder_cols: list[str] | tuple[str, ...] | None = None,
        bloom_cols: list[str] | tuple[str, ...] | None = None,
        bloom_bits: int = 1 << 16,
        bloom_hashes: int = 7,
        zorder_equidepth: bool = False,
    ) -> None:
        """``cluster_col`` turns on within-bucket clustering — the
        ZORDER/liquid-clustering half of the Delta/Iceberg layout
        story: rows inside each bucket are sorted by this column at
        write time and split into multiple files
        (``max_records_per_file``), so each file's min/max zone map
        covers a NARROW range of the column. Without it, a hash bucket
        mixes the full value range into one file and range pruning
        can't drop anything; with it, a range predicate opens only the
        overlapping slice — the commonest 100 TB scan (``ts > X``)
        touches O(range), not O(table).

        ``zorder_cols`` is the MULTI-column form (Delta ``OPTIMIZE
        ZORDER BY (a, b)``): rows are sorted by the Morton code of the
        named columns — each column min-max-scaled to 16 bits, bits
        interleaved — so every file's zone map is a small BOX in the
        multi-dimensional value space and a predicate on ANY subset of
        the columns prunes files. A single sort column gives perfect
        pruning on one dimension and none on the others; the Z-curve
        trades a little per-dimension narrowness for usable pruning on
        all of them. Mutually exclusive with ``cluster_col``.
        ``zorder_equidepth`` switches the per-column ranks from linear
        min/max scaling to EQUI-DEPTH quantile buckets
        (approx_percentile cut points, 8-bit): on a power-law column,
        linear ranks collapse the dense region into a few codes (one
        outlier stretches the range) and box pruning degrades — rank
        space keeps every bucket ~equal row count, so Z-boxes stay
        balanced whatever the distribution (the Delta
        range_partition_id practice).

        ``bloom_cols`` stores a per-file Bloom bitmap in the manifest
        for each named column (integer/string typed) — the Delta/
        Parquet bloom-index design: a point lookup on a NON-key,
        NON-clustered column (zone maps can't prune those: hash-mixed
        files span the full value range) opens only the files whose
        bloom may contain the probe. For a high-cardinality column
        (fingerprints, URLs, ids) each value lives in O(1) files, so
        the lookup opens O(1) + false-positive files at any table
        size, paying ``bloom_bits``/8 manifest bytes per file per
        column (size ~10-16 bits per expected distinct value for ~1%
        false positives at the default 7 hashes)."""
        if cluster_col is not None and zorder_cols:
            raise ValueError(
                "cluster_col and zorder_cols are mutually exclusive"
            )
        if zorder_cols is not None and len(zorder_cols) < 2:
            raise ValueError("zorder_cols needs >= 2 columns")
        if zorder_equidepth and not zorder_cols:
            raise ValueError("zorder_equidepth requires zorder_cols")
        self.cluster_col = cluster_col
        self.zorder_cols = tuple(zorder_cols) if zorder_cols else None
        self.zorder_equidepth = bool(zorder_equidepth)
        self.max_records_per_file = max_records_per_file
        self.bloom_cols = tuple(bloom_cols) if bloom_cols else None
        self.bloom_bits = int(bloom_bits)
        self.bloom_hashes = int(bloom_hashes)

    def _log_dir(self, wh, table: str) -> Path:
        return Path(wh.path(table)) / "_txlog"

    def _latest(self, wh, table: str) -> dict | None:
        d = self._log_dir(wh, table)
        if not d.exists():
            return None
        versions = sorted(d.glob("*.json"))
        if not versions:
            return None
        with open(versions[-1]) as f:
            return json.load(f)

    def _publish(
        self, wh, table: str, version: int, files: dict,
        schema_json: str | None = None,
        rows: dict | None = None,
        stats: dict | None = None,
        **extra,
    ) -> None:
        """``extra`` carries the optional manifest sections a version
        may record: ``fields`` / ``dropped_fields`` / ``next_fid``
        (column-mapping indirection) and ``dv`` (deletion vectors).
        None-valued extras are omitted from the manifest."""
        import time as _time

        d = self._log_dir(wh, table)
        d.mkdir(parents=True, exist_ok=True)
        final = d / f"{version:08d}.json"
        tmp = d / f".{version:08d}.{uuid.uuid4().hex[:8]}.json.tmp"
        # wall-clock commit stamp: the resolution key for TIMESTAMP AS
        # OF time travel (Delta's commit-timestamp design; readers fall
        # back to the manifest file's mtime for pre-stamp versions)
        manifest = {
            "version": version,
            "files": files,
            "committed_at": _time.time(),
        }
        if schema_json is not None:
            manifest["schema"] = schema_json
        if rows is not None:
            manifest["rows"] = rows
        if stats is not None:
            manifest["stats"] = stats
        for k, v in extra.items():
            if v is not None:
                manifest[k] = v
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            # hard link = atomic create-if-absent: THE commit point,
            # and the CAS — a second writer publishing the same version
            # number loses loudly instead of silently overwriting
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"{table}: version {version} was published concurrently"
            )
        finally:
            os.unlink(tmp)

    def _write_commit(
        self, wh, table: str, df: DataFrame, keys, num_buckets,
        mapping: dict | None = None,
    ) -> tuple[dict, dict, dict]:
        """Write ``df`` as one immutable commit dir, one subdir per
        bucket (repartitioned so each bucket is a single task; with
        ``cluster_col`` set, rows are sorted by that column inside the
        bucket and split by ``max_records_per_file`` into range-
        clustered files). Returns ({relpath: bucket}, {relpath:
        n_rows}, {relpath: {col: [min, max]}}) — counts AND per-column
        min/max zone maps come straight from the parquet footers just
        written (a local metadata read, no second scan) and live in the
        manifest, so COUNT and range-scan questions are answered from
        the log without opening data files.

        ``df`` arrives under LOGICAL column names; with ``mapping``
        (logical -> physical, column-mapping tables) columns are
        renamed to their physical names just before the write, so
        every data file of the table shares one physical naming
        regardless of later renames. Zone-map/bloom stats are keyed by
        PHYSICAL name (they come from the footers); readers translate
        through the manifest mapping."""
        root = Path(wh.path(table))
        commit = f"data/{uuid.uuid4().hex[:12]}"
        bcol = BUCKET_COL
        out = df.withColumn(bcol, bucket_expr(keys, num_buckets))
        out = out.repartition(F.col(bcol))
        if self.cluster_col is not None:
            # bcol FIRST: partitionBy-writes require task rows sorted
            # by the partition column and insert their own (cluster-
            # destroying) sort otherwise — leading with bcol satisfies
            # that requirement so the cluster_col order survives into
            # the files (verified by zone-map narrowness in tests)
            out = out.sortWithinPartitions(bcol, self.cluster_col)
        elif self.zorder_cols is not None:
            # Morton sort key from operators.layout (the same codegen
            # interleave zorder_layout uses on vanilla parquet), with
            # this batch's per-column bounds arriving as a 1-row
            # BROADCAST stats frame — no driver-side read at all.
            # Timestamps enter as epoch seconds via CAST to double;
            # a NULL value yields a NULL key (sorts first — a
            # placement choice, never correctness: zone maps only
            # over-approximate). Same bcol-first sort discipline as
            # cluster_col so partitionBy doesn't re-sort.
            from .operators.layout import (
                EQUIDEPTH_BITS,
                _equidepth_rank,
                _normalize,
                equidepth_bounds,
                zorder_key,
            )

            zcols = list(self.zorder_cols)
            if self.zorder_equidepth:
                # quantile cut points instead of min/max: balanced
                # Z-boxes under power-law skew (see __init__)
                bits = EQUIDEPTH_BITS
                stats = F.broadcast(
                    df.agg(
                        *[
                            equidepth_bounds(c, bits).alias(f"_zbd_{c}")
                            for c in zcols
                        ]
                    )
                )
                ranks = [
                    _equidepth_rank(F.col(c), F.col(f"_zbd_{c}"))
                    for c in zcols
                ]
                drop_cols = [f"_zbd_{c}" for c in zcols]
            else:
                bits = 16
                aggs = []
                for c in zcols:
                    d = F.col(c).cast("double")
                    aggs += [
                        F.min(d).alias(f"_zmn_{c}"),
                        F.max(d).alias(f"_zmx_{c}"),
                    ]
                stats = F.broadcast(df.agg(*aggs))
                ranks = [
                    _normalize(
                        F.col(c).cast("double"),
                        F.col(f"_zmn_{c}"),
                        F.col(f"_zmx_{c}"),
                        16,
                    )
                    for c in zcols
                ]
                drop_cols = [f"_zmn_{c}" for c in zcols] + [
                    f"_zmx_{c}" for c in zcols
                ]
            out = (
                out.crossJoin(stats)
                .withColumn("_zkey", zorder_key(ranks, bits))
                .drop(*drop_cols)
                .sortWithinPartitions(bcol, "_zkey")
                .drop("_zkey")
            )
        if mapping:
            # logical -> physical rename LAST (sorts/bucketing above
            # ran on logical names); a projection is a narrow map, so
            # the within-partition cluster order survives it
            out = out.select(
                F.col(bcol),
                *[
                    F.col(c).alias(mapping.get(c, c))
                    for c in df.columns
                ],
            )
        writer = out.write.partitionBy(bcol).mode("overwrite")
        if self.max_records_per_file is not None:
            writer = writer.option(
                "maxRecordsPerFile", int(self.max_records_per_file)
            )
        # Spark's default INT96 timestamp encoding carries NO parquet
        # footer min/max, which would silently void every timestamp
        # zone map (ts is the commonest range-scan column). Pin the
        # stats-bearing micros encoding for the format's own writes.
        spark = df.sparkSession
        ts_conf = "spark.sql.parquet.outputTimestampType"
        prev = spark.conf.get(ts_conf, None)
        spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
        try:
            writer.parquet(str(root / commit))
        finally:
            if prev is None:
                spark.conf.unset(ts_conf)
            else:
                spark.conf.set(ts_conf, prev)
        import pyarrow.parquet as pq

        files: dict[str, int] = {}
        rows: dict[str, int] = {}
        stats: dict[str, dict] = {}
        for bdir in (root / commit).glob(f"{bcol}=*"):
            b = int(bdir.name.split("=", 1)[1])
            for f in bdir.glob("*.parquet"):
                rel = str(f.relative_to(root))
                files[rel] = b
                meta = pq.ParquetFile(str(f)).metadata
                rows[rel] = meta.num_rows
                stats[rel] = _footer_minmax(meta)
                if self.bloom_cols:
                    # one LOCAL column-pruned read of the file just
                    # written (a real writer computes this inline);
                    # the bitmap rides the stats dict, so every carry/
                    # rebase/compact path moves it with its file
                    import pyarrow as pa

                    phys_bloom = {
                        c: (mapping or {}).get(c, c)
                        for c in self.bloom_cols
                    }
                    t = pq.read_table(
                        str(f), columns=list(phys_bloom.values())
                    )
                    blooms = {}
                    for c in self.bloom_cols:
                        pc = phys_bloom[c]
                        typ = t.schema.field(pc).type
                        if not (
                            pa.types.is_integer(typ)
                            or pa.types.is_string(typ)
                            or pa.types.is_large_string(typ)
                        ):
                            raise TypeError(
                                f"bloom_cols: {c!r} is {typ} — bloom "
                                "probes are equality tests, supported "
                                "for integer/string columns only"
                            )
                        # k persisted WITH the bitmap (bits derive from
                        # its length): probes always use the writer's k,
                        # whatever the reader was configured with.
                        # Keyed by PHYSICAL name like every footer stat.
                        blooms[pc] = {
                            "k": self.bloom_hashes,
                            "bm": _bloom_build(
                                t.column(pc).to_pylist(),
                                self.bloom_bits,
                                self.bloom_hashes,
                            ),
                        }
                    stats[rel][BLOOM_KEY] = blooms
        return files, rows, stats

    @staticmethod
    def _check_evolution(old_schema, new_schema) -> None:
        """Additive-only schema evolution ON THE MERGE PATH: every
        current logical column must survive with an identical type; new
        columns may appear anywhere (old files read back with NULL for
        them — the Delta/Iceberg rule). Renames and drops are NOT
        merge-side operations — they are explicit metadata commits
        (:meth:`rename_column` / :meth:`drop_column`, column-mapping
        indirection), after which merges simply use the new logical
        names. Type changes stay rejected: in an immutable-file format
        they would silently corrupt old snapshots rather than evolve
        them."""
        new_fields = {f.name: f.dataType for f in new_schema.fields}
        for f in old_schema.fields:
            if f.name not in new_fields:
                raise ValueError(
                    f"schema evolution is additive-only: column "
                    f"{f.name!r} missing from incoming batch (use "
                    f"drop_column/rename_column for non-additive "
                    f"evolution)"
                )
            if new_fields[f.name] != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change types: {f.name!r} "
                    f"is {f.dataType.simpleString()}, incoming has "
                    f"{new_fields[f.name].simpleString()}"
                )

    # -- CHECK constraints (manifest-recorded, protocol-enforced) ----------
    #
    # The constraint set {name: check_expr} lives IN the versioned
    # manifest (the Delta design: constraints are table metadata, so
    # ADD/DROP CONSTRAINT is one CAS commit and every writer validates
    # against the exact snapshot it publishes onto). Round 11 kept it
    # in a ``_constraints.json`` sidecar OUTSIDE the commit protocol,
    # which the cross-process serializability standard outgrew: a
    # writer could validate against a stale sidecar while a concurrent
    # ADD CONSTRAINT landed, then publish violating rows (TOCTOU), and
    # two concurrent ADDs were last-writer-wins. Legacy sidecars stay
    # readable (fallback below) until the first ADD/DROP migrates them
    # into the manifest.

    @staticmethod
    def _constraints_of(snap: dict | None, root) -> dict:
        """Effective CHECK-constraint set of a snapshot: the manifest's
        ``constraints`` section when present (authoritative — an
        explicit ``{}`` masks any stale legacy sidecar, which makes
        CREATE OR REPLACE's constraint reset atomic with its commit),
        else the legacy ``_constraints.json`` sidecar, else none."""
        if snap is not None and "constraints" in snap:
            return dict(snap["constraints"])
        p = Path(root) / "_constraints.json"
        if p.exists():
            with open(p) as f:
                return json.load(f)
        return {}

    @staticmethod
    def _validate_constraints(
        df: DataFrame, cons: dict, op: str, table: str
    ) -> None:
        """Refuse ``op`` if any row of ``df`` violates a recorded CHECK
        constraint. ONE aggregate pass counts every constraint's
        violations together (not one filter-count job per constraint);
        NULL results satisfy CHECK (ANSI three-valued logic, matched by
        ``when(NOT expr, 1).otherwise(0)`` mapping NULL to 0)."""
        if not cons:
            return
        names = sorted(cons)
        counts = df.agg(
            *[
                F.sum(
                    F.when(F.expr(f"NOT ({cons[n]})"), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).alias(f"_c{i}")
                for i, n in enumerate(names)
            ]
        ).collect()[0]
        for i, n in enumerate(names):
            if counts[i]:
                raise ValueError(
                    f"{op} on {table!r}: {counts[i]} row(s) violate "
                    f"constraint {n!r} CHECK ({cons[n]})"
                )

    @staticmethod
    def _constraint_references(expr: str, col: str) -> bool:
        """Whether a CHECK expression's text references ``col`` as a
        word (conservative: string literals in the expr can false-
        positive, which only makes rename/drop refuse more loudly —
        never corrupts)."""
        import re as _re

        return _re.search(rf"\b{_re.escape(col)}\b", expr) is not None

    def constraints(self, wh, table: str) -> dict:
        """Recorded CHECK constraints of the LATEST snapshot."""
        return self._constraints_of(
            self._latest(wh, table), wh.path(table)
        )

    def add_constraint(
        self, wh, table: str, cname: str, expr: str
    ) -> tuple[int, int]:
        """``ALTER TABLE t ADD CONSTRAINT n CHECK (expr)`` as ONE CAS
        manifest commit: the expression must analyze against the
        snapshot's schema, every EXISTING row must satisfy it (one full
        validation scan — the documented Delta ADD CONSTRAINT cost,
        paid once), and the constraint set publishes as version N+1
        metadata carrying every data section by reference. Losing the
        CAS re-validates against the WINNING snapshot (its rows may be
        new), so the published invariant is always true of the version
        it lands on — closing the TOCTOU the sidecar design had.
        Migrates any legacy sidecar set into the manifest (and removes
        the sidecar — the manifest key is authoritative from then on).
        Returns (published_version, num_constraints)."""
        from pyspark.sql.types import StructType

        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            cons = self._constraints_of(snap, wh.path(table))
            if cname in cons:
                raise ValueError(
                    f"ADD CONSTRAINT: {cname!r} already exists on "
                    f"{table!r} (CHECK ({cons[cname]}))"
                )
            schema = StructType.fromJson(json.loads(snap["schema"]))
            try:
                wh.spark.createDataFrame([], schema).where(expr)
            except Exception as e:
                raise ValueError(
                    f"ADD CONSTRAINT: CHECK expression {expr!r} does "
                    f"not analyze against {table!r}'s schema ({e})"
                ) from None
            cur = self._read_snapshot(wh, Path(wh.path(table)), snap)
            bad = cur.where(f"NOT ({expr})").count()
            if bad:
                raise ValueError(
                    f"ADD CONSTRAINT: {bad} existing row(s) of "
                    f"{table!r} violate CHECK ({expr}) — fix the "
                    f"data first"
                )
            new_cons = {**cons, cname: expr}
            try:
                self._publish_metadata_only(
                    wh, table, snap, constraints=new_cons
                )
            except CommitConflict:
                continue  # re-validate against the winning snapshot
            self._remove_constraint_sidecar(wh, table)
            return snap["version"] + 1, len(new_cons)
        raise CommitConflict(
            f"add_constraint on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def drop_constraint(
        self, wh, table: str, cname: str, if_exists: bool = False
    ) -> tuple[int | None, int]:
        """``ALTER TABLE t DROP CONSTRAINT [IF EXISTS] n`` as one CAS
        manifest commit (no scan — releasing a policy validates
        nothing). Returns (published_version | None when absent under
        IF EXISTS, num_constraints)."""
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            cons = self._constraints_of(snap, wh.path(table))
            if cname not in cons:
                if if_exists:
                    return None, len(cons)
                raise ValueError(
                    f"DROP CONSTRAINT: no constraint {cname!r} on "
                    f"{table!r} (recorded: {sorted(cons)})"
                )
            new_cons = {k: v for k, v in cons.items() if k != cname}
            try:
                self._publish_metadata_only(
                    wh, table, snap, constraints=new_cons
                )
            except CommitConflict:
                continue
            self._remove_constraint_sidecar(wh, table)
            return snap["version"] + 1, len(new_cons)
        raise CommitConflict(
            f"drop_constraint on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def _publish_metadata_only(
        self, wh, table: str, snap: dict, **overrides
    ) -> None:
        """Publish version N+1 carrying every section of ``snap`` by
        reference with ``overrides`` replacing named sections — the
        shared shape of constraint commits (and any future metadata-
        only op). One manifest write, zero data files."""
        sections = dict(
            rows=snap.get("rows"), stats=snap.get("stats"),
            dv=snap.get("dv"), fields=snap.get("fields"),
            dropped_fields=snap.get("dropped_fields"),
            next_fid=snap.get("next_fid"), keys=snap.get("keys"),
            num_buckets=snap.get("num_buckets"), txns=snap.get("txns"),
            constraints=snap.get("constraints"),
        )
        schema = overrides.pop("schema", snap.get("schema"))
        sections.update(overrides)
        self._publish(
            wh, table, snap["version"] + 1, snap["files"],
            schema, **sections
        )

    # -- NOT NULL (schema-recorded, protocol-enforced) ---------------------
    #
    # Column nullability lives in the manifest's schema JSON (where the
    # Delta protocol keeps it too), so SET/DROP NOT NULL is one
    # metadata-only CAS commit, reverts with RESTORE, and travels with
    # rename_column for free. Enforcement reuses the CHECK-constraint
    # validator: every write path folds the snapshot's non-nullable
    # fields into the constraint set as implicit ``c IS NOT NULL``
    # entries — same single aggregate pass, same
    # revalidate-on-snapshot-change caching, no second scan.

    @staticmethod
    def _not_null_cons(schema) -> dict:
        """Implicit validation entries for the snapshot schema's
        non-nullable fields, in the CHECK-constraint dict shape."""
        return {
            f"NOT NULL ({f.name})": f"`{f.name}` IS NOT NULL"
            for f in schema.fields
            if not f.nullable
        }

    @staticmethod
    def _carry_nullability(snap: dict | None, new_schema) -> str:
        """The schema JSON a WRITE commit publishes: the incoming
        batch's structure, with each field's ``nullable`` flag
        NORMALIZED — the snapshot's own flag for fields the table
        already had, ``True`` for fields the batch adds. Publishing
        ``incoming.schema.json()`` verbatim is wrong in BOTH
        directions now that the flag is a contract: Spark DataFrames
        are nullable-typed by default (a merge would silently demote a
        SET NOT NULL promote), while literal/expression columns are
        often non-nullable-typed (an ``UPDATE SET c = 'x'`` would
        silently PROMOTE ``c``, skipping the validated scan). The
        incoming DATA's freedom from NULLs is enforced separately by
        :meth:`_not_null_cons` entries; added columns must stay
        nullable because old files read them back as NULL. A FIRST
        commit (or a legacy pre-schema manifest) normalizes to
        all-nullable: a literal-sourced frame (``VALUES ...``) types
        every column non-nullable as an accident of its expressions,
        not a declaration — recorded NOT NULL must only ever come from
        an explicit contract (``create_table``/``replace_table``
        schema) or the validated :meth:`set_not_null` promote."""
        from pyspark.sql.types import StructField, StructType

        if snap is None or "schema" not in snap:
            old: dict[str, bool] = {}
        else:
            old = {
                f.name: f.nullable
                for f in StructType.fromJson(
                    json.loads(snap["schema"])
                ).fields
            }
        out = [
            StructField(
                f.name, f.dataType, old.get(f.name, True), f.metadata
            )
            for f in new_schema.fields
        ]
        return StructType(out).json()

    def set_not_null(self, wh, table: str, col: str) -> tuple[int, bool]:
        """``ALTER TABLE t ALTER COLUMN c SET NOT NULL`` — the
        validated promote (Delta parity; the legal path the
        metadata-only ``ADD COLUMN ... NOT NULL`` refusal points at:
        add nullable, backfill, then promote). One CAS commit: every
        EXISTING row must be non-NULL in ``col`` (one validation scan,
        the same cost ADD CONSTRAINT pays — losing the publish race
        re-validates against the winning snapshot, so the recorded
        invariant is always true of the version it lands on), then the
        manifest's schema republishes with ``nullable=False``. Every
        subsequent write validates its batch through the implicit
        constraint entry. Returns (version, promoted) — promoted False
        when the column already records NOT NULL (no-op, no publish)."""
        from pyspark.sql.types import StructField, StructType

        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            if "schema" not in snap:
                raise ValueError(
                    f"SET NOT NULL: {table!r} has a pre-schema manifest "
                    f"(no recorded schema to promote) — rewrite the table "
                    f"through a schema-publishing commit first"
                )
            schema = StructType.fromJson(json.loads(snap["schema"]))
            names = [f.name for f in schema.fields]
            if col not in names:
                raise ValueError(
                    f"SET NOT NULL: no column {col!r} on {table!r} "
                    f"(columns: {names})"
                )
            fld = schema[col]
            if not fld.nullable:
                return snap["version"], False  # already promoted
            cur = self._read_snapshot(wh, Path(wh.path(table)), snap)
            nulls = cur.where(F.col(col).isNull()).count()
            if nulls:
                raise ValueError(
                    f"SET NOT NULL: {nulls} existing row(s) of "
                    f"{table!r} are NULL in {col!r} — backfill first"
                )
            new_schema = StructType(
                [
                    StructField(f.name, f.dataType, False, f.metadata)
                    if f.name == col
                    else f
                    for f in schema.fields
                ]
            )
            try:
                self._publish_metadata_only(
                    wh, table, snap, schema=new_schema.json()
                )
            except CommitConflict:
                continue  # re-validate against the winning snapshot
            return snap["version"] + 1, True
        raise CommitConflict(
            f"set_not_null on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def drop_not_null(self, wh, table: str, col: str) -> tuple[int, bool]:
        """``ALTER TABLE t ALTER COLUMN c DROP NOT NULL`` — release the
        nullability invariant: one metadata-only CAS commit, no scan
        (releasing a policy validates nothing, like DROP CONSTRAINT).
        Returns (version, dropped) — dropped False when the column was
        already nullable (no-op, no publish)."""
        from pyspark.sql.types import StructField, StructType

        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            if "schema" not in snap:
                raise ValueError(
                    f"DROP NOT NULL: {table!r} has a pre-schema manifest "
                    f"(no recorded schema to demote) — rewrite the table "
                    f"through a schema-publishing commit first"
                )
            schema = StructType.fromJson(json.loads(snap["schema"]))
            names = [f.name for f in schema.fields]
            if col not in names:
                raise ValueError(
                    f"DROP NOT NULL: no column {col!r} on {table!r} "
                    f"(columns: {names})"
                )
            if schema[col].nullable:
                return snap["version"], False
            new_schema = StructType(
                [
                    StructField(f.name, f.dataType, True, f.metadata)
                    if f.name == col
                    else f
                    for f in schema.fields
                ]
            )
            try:
                self._publish_metadata_only(
                    wh, table, snap, schema=new_schema.json()
                )
            except CommitConflict:
                continue
            return snap["version"] + 1, True
        raise CommitConflict(
            f"drop_not_null on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    @staticmethod
    def _remove_constraint_sidecar(wh, table: str) -> None:
        """Best-effort removal of a migrated legacy sidecar (the
        manifest's ``constraints`` key is already authoritative, so a
        survivor is dead weight, not a hazard)."""
        p = Path(wh.path(table)) / "_constraints.json"
        try:
            if p.exists():
                p.unlink()
        except OSError:
            pass

    def merge(self, wh, table, incoming, keys, order_col, num_buckets,
              txn=None):
        """``txn=(app_id, version)`` — idempotent transactional merge
        (the Delta txnAppId/txnVersion design): the manifest records
        each app's last applied version, and a merge at or below it is
        a SILENT NO-OP. This is the exactly-once contract a streaming
        foreachBatch sink needs — Spark replays a failed batch with
        the SAME batch id, so the replay must commit nothing twice."""
        from .operators.writes import upsert_keep_newest

        return self.merge_with(
            wh, table, incoming, keys, num_buckets, txn,
            lambda existing, inc: upsert_keep_newest(
                existing, inc, keys, order_col
            ),
        )

    def merge_source_wins(self, wh, table, incoming, keys, num_buckets,
                          txn=None):
        """SQL ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
        MATCHED THEN INSERT *`` semantics: the SOURCE row replaces the
        target row on key match unconditionally (no order column — the
        statement's contract is source-wins, Delta's simple-merge
        form). Same CAS/rebase/redo concurrency machinery and ``txn``
        idempotence as :meth:`merge`; only the per-bucket transform
        differs (anti-join + union instead of keep-newest window)."""

        def source_wins(existing, inc):
            dedup = inc.dropDuplicates(list(keys))
            keep = existing.join(dedup, list(keys), "left_anti")
            return keep.unionByName(dedup)

        return self.merge_with(
            wh, table, incoming, keys, num_buckets, txn, source_wins
        )

    def merge_with(self, wh, table, incoming, keys, num_buckets, txn,
                   transform):
        """The optimistic-merge loop behind :meth:`merge` and
        :meth:`merge_source_wins`, public for callers with their own
        upsert rule (``streaming.rollup``'s counter-adding merge):
        ``transform(existing_scoped, incoming) -> replacement``
        supplies the rule for each touched bucket; everything
        else (first-commit race, bucket/key contracts, txn fence,
        additive evolution, bucket-scoped read, CAS publish with
        disjoint-winner rebase / overlap redo) is common.

        CHECK constraints are enforced HERE, inside the optimistic
        loop, against the exact snapshot the commit publishes onto: a
        concurrent ADD CONSTRAINT changes the manifest's constraint
        section, which the conflict classifier treats as an overlap
        (redo), so the retry re-reads and re-validates under the
        winner's policy — no stale-policy TOCTOU. The batch is only
        re-validated when the effective set actually changed."""
        validated_cons: dict | None = None
        for attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(attempt)
            snap = self._latest(wh, table)
            if snap is None:
                empty = wh.spark.createDataFrame([], incoming.schema)
                first = transform(empty, incoming)
                files, rows, stats = self._write_commit(
                    wh, table, first, keys, num_buckets
                )
                try:
                    self._publish(
                        wh, table, 1, files,
                        self._carry_nullability(None, incoming.schema),
                        rows=rows, stats=stats, keys=list(keys),
                        num_buckets=int(num_buckets),
                        txns=(
                            {txn[0]: int(txn[1])} if txn else None
                        ),
                    )
                    return
                except CommitConflict:
                    continue  # lost the create race: merge into theirs
            self._check_buckets(snap, num_buckets, "merge")
            self._check_keys(snap, keys, "merge")
            if txn is not None:
                last = snap.get("txns", {}).get(txn[0])
                if last is not None and int(txn[1]) <= int(last):
                    return  # replay of an applied batch: no-op
            cons = self._constraints_of(snap, wh.path(table))
            if "schema" in snap:
                from pyspark.sql.types import StructType

                old_schema = StructType.fromJson(json.loads(snap["schema"]))
                self._check_evolution(old_schema, incoming.schema)
                # non-nullable fields validate as implicit constraints
                # (same one aggregate pass, same caching)
                cons = {**cons, **self._not_null_cons(old_schema)}
            if cons != validated_cons:
                self._validate_constraints(incoming, cons, "write", table)
                validated_cons = cons
            touched = {
                r.b
                for r in incoming.select(
                    bucket_expr(keys, num_buckets).alias("b")
                )
                .dropDuplicates()
                .collect()
            }
            root = Path(wh.path(table))
            scoped_files = {
                f: b for f, b in snap["files"].items() if b in touched
            }
            if scoped_files:
                # bucket is a pure function of the keys — data files
                # never store it, so reading specific files needs no
                # basePath. The snapshot read applies the version's
                # column mapping and deletion vectors (a DV'd row must
                # NOT resurrect through a merge rewrite); columns this
                # batch ADDS (additive evolution) null-fill below.
                sub = dict(snap)
                sub["files"] = scoped_files
                existing = self._read_snapshot(wh, root, sub)
                for fld in incoming.schema.fields:
                    if fld.name not in existing.columns:
                        existing = existing.withColumn(
                            fld.name, F.lit(None).cast(fld.dataType)
                        )
                existing = existing.select(*incoming.columns)
            else:
                existing = wh.spark.createDataFrame([], incoming.schema)
            merged = transform(existing, incoming)
            fields, dropped, next_fid = self._evolve_fields(
                snap, incoming.schema
            )
            if self._rewrite_and_publish(
                wh, table, snap, touched, merged,
                self._carry_nullability(snap, incoming.schema),
                keys, num_buckets,
                fields=fields, dropped_fields=dropped, next_fid=next_fid,
                txn=txn,
            ):
                return
        raise CommitConflict(
            f"merge on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def _rewrite_and_publish(
        self,
        wh,
        table: str,
        snap: dict,
        touched: set[int],
        replacement: DataFrame,
        schema_json: str,
        keys: list[str],
        num_buckets: int,
        fields: list | None = None,
        dropped_fields: list | None = None,
        next_fid: int | None = None,
        txn: tuple | None = None,
        rebase_disjoint: bool = True,
    ) -> dict | None:
        """Write ``replacement`` as the new content of the ``touched``
        buckets and CAS-publish it on top of ``snap``, carrying every
        untouched file by reference (deletion vectors ride WITH their
        carried files; replaced files shed theirs — the rewrite
        materialized them). Optimistic publish: rebase over DISJOINT
        winners (re-point carried files at the new snapshot, reuse our
        already-written data files, re-CAS). Shared by merge (upsert
        transform) and delete_keys (anti-join transform). ``fields``/
        ``dropped_fields``/``next_fid`` are the column-mapping metadata
        to publish (None on unmapped tables). Returns the published
        manifest dict, or None when the caller must redo its
        read-transform from the winning snapshot (a winner rewrote one
        of OUR buckets or evolved the schema).

        ``rebase_disjoint=False`` disables the disjoint-winner rebase:
        ANY winner that changed data state (files / DVs / schema /
        constraints) forces a redo. Key-scoped ops (merge, delete) own
        a read-set that IS their touched buckets, so a winner outside
        them is provably invisible to the transform — rebase is safe.
        A PREDICATE-scoped op (``replace_where``) reads "every row
        matching pred", which a winner can extend in a bucket the
        predicate's first evaluation never touched; rebasing over it
        would let a pred-matching row silently survive the scoped
        overwrite (the Delta concurrent-append conflict,
        VERDICT r12 #6) — so such callers must redo and re-derive
        their matching set from the winning snapshot."""
        mapping = (
            {f["name"]: f["phys"] for f in fields} if fields else None
        )
        new_files, new_rows, new_stats = self._write_commit(
            wh, table, replacement, keys, num_buckets, mapping=mapping
        )
        base = snap
        for attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(attempt)
            carried = {
                f: b
                for f, b in base["files"].items()
                if b not in touched
            }
            base_rows = base.get("rows", {})
            carried_rows = {
                f: base_rows[f] for f in carried if f in base_rows
            }
            base_stats = base.get("stats", {})
            carried_stats = {
                f: base_stats[f] for f in carried if f in base_stats
            }
            base_dv = base.get("dv", {})
            carried_dv = {
                f: base_dv[f] for f in carried if f in base_dv
            }
            try:
                published = {
                    "version": base["version"] + 1,
                    "files": {**carried, **new_files},
                    "rows": {**carried_rows, **new_rows},
                    "stats": {**carried_stats, **new_stats},
                    "schema": schema_json,
                }
                if carried_dv:
                    published["dv"] = carried_dv
                if fields is not None:
                    published["fields"] = fields
                    published["next_fid"] = next_fid
                    if dropped_fields:
                        published["dropped_fields"] = dropped_fields
                # key/bucket recording bootstraps on the first rewrite
                # of a pre-contract table (the caller's values ARE the
                # contract)
                published["keys"] = base.get("keys", list(keys))
                published["num_buckets"] = int(
                    base.get("num_buckets", num_buckets)
                )
                # transaction bookkeeping: carry every app's last
                # applied version; stamp ours MONOTONICALLY (ADVICE
                # r8 #4: a disjoint concurrent winner under the SAME
                # app id may have advanced past the caller's stale
                # version — rebasing must never regress the recorded
                # high-water mark, or later replays of the winner's
                # batch would slip past the idempotence check)
                txns = dict(base.get("txns", {}))
                if txn is not None:
                    txns[txn[0]] = max(
                        int(txn[1]), int(txns.get(txn[0], -1))
                    )
                if txns:
                    published["txns"] = txns
                # the constraint set rides the manifest like every
                # metadata section; the caller validated against it
                if "constraints" in base:
                    published["constraints"] = base["constraints"]
                self._publish(
                    wh, table, published["version"],
                    published["files"], schema_json,
                    rows=published["rows"],
                    stats=published["stats"],
                    dv=published.get("dv"),
                    fields=published.get("fields"),
                    dropped_fields=published.get("dropped_fields"),
                    next_fid=published.get("next_fid"),
                    keys=published["keys"],
                    num_buckets=published["num_buckets"],
                    txns=published.get("txns"),
                    constraints=published.get("constraints"),
                )
                return published
            except CommitConflict:
                cur = self._latest(wh, table)
                if not rebase_disjoint:
                    # predicate-scoped caller: any data-state change
                    # may have grown the predicate's row set — redo
                    # unless the winner was purely bookkeeping
                    if (
                        cur.get("files") != base.get("files")
                        or cur.get("dv") != base.get("dv")
                        or cur.get("schema") != base.get("schema")
                        or cur.get("constraints")
                        != base.get("constraints")
                    ):
                        return None
                    base = cur  # txns-only winner: re-CAS on top
                    continue
                base_t = {
                    f for f, b in base["files"].items() if b in touched
                }
                cur_t = {
                    f for f, b in cur["files"].items() if b in touched
                }
                # a winner that added a DELETION VECTOR to one of our
                # touched files changed its live content without
                # changing the file set — that is an overlap too
                base_dvt = {
                    f: base.get("dv", {}).get(f) for f in base_t
                }
                cur_dvt = {f: cur.get("dv", {}).get(f) for f in cur_t}
                if (
                    base_t != cur_t
                    or base_dvt != cur_dvt
                    or base.get("schema") != cur.get("schema")
                    or base.get("constraints") != cur.get("constraints")
                ):
                    # the winner rewrote one of OUR buckets (our
                    # transform read stale inputs), evolved the
                    # schema, or changed the CHECK-constraint policy
                    # (our batch was validated under the OLD set) —
                    # abandon these files (vacuumable) and redo from
                    # the winning snapshot, re-validating there
                    return None
                base = cur  # disjoint winner: reuse our data files
        return None

    def delete_keys(
        self,
        wh,
        table: str,
        keys: list[str],
        key_rows: DataFrame,
        num_buckets: int,
        broadcast_keys: bool = True,
    ) -> int:
        """Targeted key erasure — the A8 DELETE at format level (and
        the GDPR/right-to-be-forgotten path a 100 TB store needs):
        rewrite ONLY the buckets the requested keys hash to, anti-join
        the keys out, CAS-publish version N+1 carrying every other file
        by reference. Cost is O(touched buckets), not O(table); the
        erased rows stop being served immediately, and disappear from
        STORAGE once retention expires the older versions
        (``expire_versions`` + ``vacuum`` — the same two-step erasure
        contract Delta/Iceberg document). A bucket whose rows are all
        deleted simply publishes no replacement file. Returns the exact
        number of rows deleted (manifest row-count arithmetic over the
        replaced vs replacement files — no extra scan; concurrency-safe
        because an overlapping winner forces a redo from its snapshot).
        Same optimistic-concurrency protocol as ``merge``.

        ``broadcast_keys`` (default) pins the anti-join's build side to
        the victim frame — right for the common point-erasure batch.
        A BULK erasure (millions of keys) must pass False so the
        anti-join shuffles both sides instead of materializing the key
        set on every executor."""
        base_keys = key_rows.select(*keys).dropDuplicates()
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            self._check_buckets(snap, num_buckets, "delete_keys")
            self._check_keys(snap, keys, "delete_keys")
            # probe under the TABLE's key types (xxhash64 bucketing is
            # type-sensitive — see _align_key_types)
            typed_keys = self._align_key_types(snap, base_keys, keys)
            key_frame = (
                F.broadcast(typed_keys) if broadcast_keys else typed_keys
            )
            touched = {
                r.b
                for r in typed_keys.select(
                    bucket_expr(keys, num_buckets).alias("b")
                )
                .dropDuplicates()
                .collect()
            }
            root = Path(wh.path(table))
            live = {
                f: b for f, b in snap["files"].items() if b in touched
            }
            if not live:
                return 0  # keys hash only to empty buckets: no-op
            sub = dict(snap)
            sub["files"] = live
            existing = self._read_snapshot(wh, root, sub)
            remaining = existing.join(key_frame, keys, "anti")
            schema_json = snap.get("schema", existing.schema.json())
            # the snapshot's column-mapping metadata rides along: the
            # replacement files must write PHYSICAL names and the new
            # manifest must keep fields/tombstones, or carried files
            # would be read under the wrong names and a re-added
            # dropped column could resurrect old bytes
            published = self._rewrite_and_publish(
                wh, table, snap, touched, remaining,
                schema_json, keys, num_buckets,
                fields=snap.get("fields"),
                dropped_fields=snap.get("dropped_fields"),
                next_fid=snap.get("next_fid"),
            )
            if published:
                # before-count from the REPLACED files only (manifest
                # rows, else that file's parquet footer — still
                # metadata). Never a whole-table version diff: a
                # concurrent DISJOINT winner's row delta in OTHER
                # buckets would pollute (even negate) the reported
                # count (ADVICE r7 #2).
                rows_rec = snap.get("rows", {})
                dv_rec = snap.get("dv", {})
                before = 0
                for f in live:
                    if f in rows_rec:
                        before += int(rows_rec[f])
                    else:
                        import pyarrow.parquet as pq

                        before += pq.ParquetFile(
                            str(root / f)
                        ).metadata.num_rows
                    # rows already DV-deleted were never served: they
                    # are not part of this delete's count
                    before -= _dv_count(dv_rec.get(f))
                after = sum(
                    int(published["rows"][f])
                    for f, b in published["files"].items()
                    if b in touched
                )
                return before - after
        raise CommitConflict(
            f"delete_keys on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def rename_column(self, wh, table: str, old: str, new: str) -> int:
        """Metadata-only column RENAME (the Delta column-mapping /
        Iceberg field-ID design): the field keeps its id and PHYSICAL
        name — every data file is carried untouched by reference — and
        only the logical name the new version serves changes. Cost is
        one manifest publish at any table size; on a 100 TB table the
        alternative (rewrite every file under the new name) is the
        exact failure mode column mapping exists to avoid. Bootstraps
        identity field metadata on a table that predates mapping. Time
        travel reads each version under ITS OWN mapping, so history
        keeps answering under the pre-rename name. Returns the
        published version. CAS-retried like every commit."""
        from pyspark.sql.types import StructField, StructType

        if old == new:
            raise ValueError("rename_column: old == new")
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            if "schema" not in snap:
                raise ValueError(
                    f"rename_column: {table!r} has a pre-schema manifest"
                )
            schema = StructType.fromJson(json.loads(snap["schema"]))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"rename_column: no column {old!r}")
            if new in names:
                raise ValueError(f"rename_column: {new!r} already exists")
            fields, dropped, next_fid = self._bootstrap_fields(
                snap, schema
            )
            for fm in fields:
                if fm["name"] == old:
                    fm["name"] = new
            new_schema = StructType(
                [
                    StructField(
                        new if f.name == old else f.name,
                        f.dataType, f.nullable, f.metadata,
                    )
                    for f in schema.fields
                ]
            )
            # the key list tracks the rename: it names LOGICAL columns
            # and a rename does not change hashing (physical bytes and
            # bucket function are untouched)
            rec_keys = self._keys_of(snap)
            if rec_keys is not None:
                rec_keys = [new if k == old else k for k in rec_keys]
            cons = self._constraints_of(snap, wh.path(table))
            referencing = [
                n for n, e in sorted(cons.items())
                if self._constraint_references(e, old)
            ]
            if referencing:
                # a CHECK expression is SQL text over logical names —
                # renaming a referenced column would break it at the
                # next validation (Delta refuses exactly this)
                raise ValueError(
                    f"rename_column: {old!r} is referenced by CHECK "
                    f"constraint(s) {referencing} on {table!r} — drop "
                    f"them first"
                )
            try:
                self._publish(
                    wh, table, snap["version"] + 1, snap["files"],
                    new_schema.json(),
                    rows=snap.get("rows"), stats=snap.get("stats"),
                    dv=snap.get("dv"), fields=fields,
                    dropped_fields=dropped or None, next_fid=next_fid,
                    keys=rec_keys, num_buckets=snap.get("num_buckets"),
                    txns=snap.get("txns"),
                    constraints=snap.get("constraints"),
                )
                return snap["version"] + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"rename_column on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def drop_column(self, wh, table: str, name: str) -> int:
        """Metadata-only column DROP: the field moves to the manifest's
        tombstone list (its physical name stays RESERVED — a later
        re-add of the same logical name gets a fresh physical name, so
        old file bytes can never resurrect into the new column), every
        data file is carried by reference, and the new version's
        schema simply omits the column. The bytes remain in history
        (time travel still serves them) until retention expires the
        old versions — the same two-step erasure contract as
        ``delete_keys``. The caller must not drop a MERGE key column
        (the format cannot know key sets; a later merge on that key
        would fail to resolve it). Returns the published version."""
        from pyspark.sql.types import StructField, StructType

        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            if "schema" not in snap:
                raise ValueError(
                    f"drop_column: {table!r} has a pre-schema manifest"
                )
            schema = StructType.fromJson(json.loads(snap["schema"]))
            names = [f.name for f in schema.fields]
            if name not in names:
                raise ValueError(f"drop_column: no column {name!r}")
            if len(names) == 1:
                raise ValueError("drop_column: cannot drop the last column")
            rec_keys = self._keys_of(snap)
            if rec_keys is not None and name in rec_keys:
                raise ValueError(
                    f"drop_column: {name!r} is a merge key of {table!r} "
                    f"(recorded keys {rec_keys}) — later merges could "
                    f"not resolve the bucket function"
                )
            cons = self._constraints_of(snap, wh.path(table))
            referencing = [
                n for n, e in sorted(cons.items())
                if self._constraint_references(e, name)
            ]
            if referencing:
                # dropping a referenced column would leave a CHECK
                # expression that no longer analyzes, failing every
                # future write with a confusing error (Delta refuses)
                raise ValueError(
                    f"drop_column: {name!r} is referenced by CHECK "
                    f"constraint(s) {referencing} on {table!r} — drop "
                    f"them first"
                )
            fields, dropped, next_fid = self._bootstrap_fields(
                snap, schema
            )
            keep_fields = []
            for fm in fields:
                (dropped if fm["name"] == name else keep_fields).append(fm)
            new_schema = StructType(
                [
                    StructField(f.name, f.dataType, f.nullable, f.metadata)
                    for f in schema.fields
                    if f.name != name
                ]
            )
            try:
                self._publish(
                    wh, table, snap["version"] + 1, snap["files"],
                    new_schema.json(),
                    rows=snap.get("rows"), stats=snap.get("stats"),
                    dv=snap.get("dv"), fields=keep_fields,
                    dropped_fields=dropped, next_fid=next_fid,
                    keys=rec_keys, num_buckets=snap.get("num_buckets"),
                    txns=snap.get("txns"),
                    constraints=snap.get("constraints"),
                )
                return snap["version"] + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"drop_column on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def add_column(self, wh, table: str, name: str, dtype) -> int:
        """Metadata-only column ADD — single-column spelling of
        :meth:`add_columns` (same manifest shape, same rules)."""
        return self.add_columns(wh, table, [(name, dtype)])

    def add_columns(self, wh, table: str, cols) -> int:
        """Metadata-only column ADD: publish version N+1 whose schema
        appends every ``(name, dtype)`` in ``cols`` as NULLABLE — one
        manifest commit for the whole list (``ALTER TABLE ... ADD
        COLUMNS (a INT, b STRING)`` is one statement, so one version).
        Every data file is carried by reference and reads back NULL
        for the new columns (the additive-evolution read rule merges
        already rely on; this is the explicit-DDL spelling of the same
        evolution). On a column-mapped table each new field gets a
        fresh id and a physical name no live OR TOMBSTONED field has
        ever used, so a re-add of a previously dropped logical name
        can never resurrect the old bytes (the drop_column reservation
        rule). One manifest publish at any table size; returns the
        published version."""
        from pyspark.sql.types import StructField, StructType

        if not cols:
            raise ValueError("add_columns: empty column list")
        parsed: list[tuple[str, object]] = []
        for name, dtype in cols:
            if isinstance(dtype, str):
                dtype = StructType.fromDDL(f"__x {dtype}").fields[0].dataType
            parsed.append((name, dtype))
        seen: set[str] = set()
        for name, _ in parsed:
            if name in seen:
                raise ValueError(
                    f"add_columns: {name!r} listed twice in one statement"
                )
            seen.add(name)
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            if "schema" not in snap:
                raise ValueError(
                    f"add_column: {table!r} has a pre-schema manifest"
                )
            schema = StructType.fromJson(json.loads(snap["schema"]))
            existing = {f.name for f in schema.fields}
            for name, _ in parsed:
                if name in existing:
                    raise ValueError(f"add_column: {name!r} already exists")
            if "fields" in snap:
                fields, dropped, next_fid = self._bootstrap_fields(
                    snap, schema
                )
                used_phys = {f["phys"] for f in fields + dropped}
                for name, _ in parsed:
                    phys = (
                        name
                        if name not in used_phys
                        else f"{name}_f{next_fid}"
                    )
                    fields.append(
                        {"id": next_fid, "name": name, "phys": phys}
                    )
                    used_phys.add(phys)
                    next_fid += 1
            else:  # unmapped table stays unmapped (identity naming)
                fields, dropped, next_fid = None, None, None
            new_schema = StructType(
                list(schema.fields)
                + [StructField(n, t, True) for n, t in parsed]
            )
            try:
                self._publish(
                    wh, table, snap["version"] + 1, snap["files"],
                    new_schema.json(),
                    rows=snap.get("rows"), stats=snap.get("stats"),
                    dv=snap.get("dv"), fields=fields,
                    dropped_fields=dropped or None, next_fid=next_fid,
                    keys=self._keys_of(snap),
                    num_buckets=snap.get("num_buckets"),
                    txns=snap.get("txns"),
                    constraints=snap.get("constraints"),
                )
                return snap["version"] + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"add_column on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def widen_column(self, wh, table: str, col: str, new_type) -> int:
        """Metadata-only TYPE WIDENING (the Delta type-widening
        feature): publish version N+1 whose schema records ``col`` at
        a strictly wider type from the safe lattice (``_WIDENINGS`` —
        integral up-chain, float->double, small-integral->double; all
        conversions Spark's parquet reader upcasts losslessly at scan
        time, verified: int32 files read exactly under a long/double
        schema). Every data file is carried by reference; subsequent
        merges simply arrive with the wider type. Time travel keeps
        each version's own narrower type.

        A MERGE KEY column is refused: xxhash64 hashes int32 and int64
        to DIFFERENT values, so widening a key would silently re-bucket
        incoming rows away from their stored twins (verified:
        xxhash64(CAST(5 AS INT)) != xxhash64(CAST(5 AS BIGINT))) —
        duplicate keys, the corruption this guard exists to prevent.
        Widening to a floating type also strips the column's manifest
        BLOOM entries (bloom values canonicalize via str(); str(5.0)
        != str(5) would turn probes into silent false negatives —
        absent blooms merely cost extra file opens). Returns the
        published version."""
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            ShortType,
            StructField,
            StructType,
        )

        named = {
            "short": ShortType(), "smallint": ShortType(),
            "integer": IntegerType(), "int": IntegerType(),
            "long": LongType(), "bigint": LongType(),
            "double": DoubleType(),
        }
        if isinstance(new_type, str):
            if new_type not in named:
                raise ValueError(
                    f"widen_column: unknown target type {new_type!r} "
                    f"(one of {sorted(named)})"
                )
            new_dt = named[new_type]
        else:
            new_dt = new_type
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            if "schema" not in snap:
                raise ValueError(
                    f"widen_column: {table!r} has a pre-schema manifest"
                )
            schema = StructType.fromJson(json.loads(snap["schema"]))
            names = [f.name for f in schema.fields]
            if col not in names:
                raise ValueError(f"widen_column: no column {col!r}")
            rec_keys = self._keys_of(snap)
            if rec_keys is not None and col in rec_keys:
                raise ValueError(
                    f"widen_column: {col!r} is a merge key of "
                    f"{table!r} — xxhash64 buckets int32 and int64 "
                    f"differently, widening would silently re-bucket"
                )
            old_dt = schema[col].dataType
            pair = (old_dt.typeName(), new_dt.typeName())
            if pair not in self._WIDENINGS:
                raise ValueError(
                    f"widen_column: {pair[0]} -> {pair[1]} is not a "
                    f"safe widening (allowed: integral up-chain, "
                    f"float->double, small-integral->double)"
                )
            new_schema = StructType(
                [
                    StructField(
                        f.name,
                        new_dt if f.name == col else f.dataType,
                        f.nullable, f.metadata,
                    )
                    for f in schema.fields
                ]
            )
            stats = snap.get("stats")
            if new_dt.typeName() in ("float", "double") and stats:
                pc = self._phys(snap, col)
                stats = {
                    f: {
                        **{k: v for k, v in s.items() if k != BLOOM_KEY},
                        **(
                            {
                                BLOOM_KEY: {
                                    c: b
                                    for c, b in s[BLOOM_KEY].items()
                                    if c != pc
                                }
                            }
                            if BLOOM_KEY in s
                            else {}
                        ),
                    }
                    for f, s in stats.items()
                }
            try:
                self._publish(
                    wh, table, snap["version"] + 1, snap["files"],
                    new_schema.json(),
                    rows=snap.get("rows"), stats=stats,
                    dv=snap.get("dv"), fields=snap.get("fields"),
                    dropped_fields=snap.get("dropped_fields"),
                    next_fid=snap.get("next_fid"), keys=rec_keys,
                    num_buckets=snap.get("num_buckets"),
                    txns=snap.get("txns"),
                    constraints=snap.get("constraints"),
                )
                return snap["version"] + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"widen_column on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def rebucket(self, wh, table: str, new_num_buckets: int) -> int:
        """Partition-layout evolution (the Iceberg partition-evolution
        / Delta OPTIMIZE-relayout analog for this format's hash
        buckets): rewrite EVERY bucket under the new modulus and
        publish it as the recorded ``num_buckets``. A growing table
        eventually outgrows its bucket count (each bucket's per-merge
        rewrite slice gets too large); this is the sanctioned way to
        change it — per-call overrides are refused by
        ``_check_buckets`` because a mismatched modulus mis-scopes
        every bucket read. Cost is a FULL table rewrite by design
        (every row changes bucket); time travel keeps old versions
        under their own layout (bucket ids live in the manifest, so
        old manifests stay self-consistent). Deletion vectors
        materialize away in the rewrite. Returns the published
        version."""
        if new_num_buckets < 1:
            raise ValueError("rebucket: new_num_buckets must be >= 1")
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            keys = self._keys_of(snap)
            if keys is None:
                raise ValueError(
                    f"rebucket: {table!r} predates key recording — "
                    f"run one merge first to bootstrap the contract"
                )
            root = Path(wh.path(table))
            df = self._read_snapshot(wh, root, snap)
            new_files, new_rows, new_stats = self._write_commit(
                wh, table, df, keys, int(new_num_buckets),
                mapping=self._mapping(snap) or None,
            )
            try:
                self._publish(
                    wh, table, snap["version"] + 1, new_files,
                    snap.get("schema"),
                    rows=new_rows, stats=new_stats,
                    fields=snap.get("fields"),
                    dropped_fields=snap.get("dropped_fields"),
                    next_fid=snap.get("next_fid"),
                    keys=keys, num_buckets=int(new_num_buckets),
                    txns=snap.get("txns"),
                    constraints=snap.get("constraints"),
                )
                return snap["version"] + 1
            except CommitConflict:
                continue  # a writer won the version: re-read, redo
        raise CommitConflict(
            f"rebucket on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def delete_keys_dv(
        self,
        wh,
        table: str,
        keys: list[str],
        key_rows: DataFrame,
        num_buckets: int,
    ) -> int:
        """Targeted key erasure, MERGE-ON-READ (the Delta deletion-
        vector / Iceberg v2 positional-delete design): instead of
        rewriting the touched buckets (``delete_keys``, copy-on-write),
        publish version N+1 that carries EVERY data file by reference
        and records the victims' (file, row-ordinal) positions as
        per-file bitmaps in the manifest. A point delete therefore
        touches ZERO data files — at 100 TB with GDPR erasures arriving
        daily, copy-on-write would rewrite a multi-GB bucket per key
        while this publishes one manifest. Reads apply the DV as a
        broadcast anti-join on (file, ordinal); ``compact`` later
        materializes DVs away. Answers are identical to the
        copy-on-write path (pinned in tests). Returns the number of
        rows newly deleted.

        Victim positions are computed by ONE metadata-augmented scan of
        just the touched buckets' files (already-DV'd rows excluded so
        re-deleting is a counted no-op) and collected driver-side —
        bounded by the number of deleted rows, the same control-plane
        budget the manifest itself pays to store them. Bulk erasures
        (millions of rows) belong on ``delete_keys``.

        Concurrency: same CAS protocol; any winner that touched our
        buckets' files OR their DVs forces a recompute (positions are
        only valid against the exact file+DV state they were read
        from)."""
        base_keys = key_rows.select(*keys).dropDuplicates()
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            self._check_buckets(snap, num_buckets, "delete_keys_dv")
            self._check_keys(snap, keys, "delete_keys_dv")
            # probe under the TABLE's key types (xxhash64 bucketing is
            # type-sensitive — see _align_key_types)
            typed_keys = self._align_key_types(snap, base_keys, keys)
            key_frame = F.broadcast(typed_keys)
            touched = {
                r.b
                for r in typed_keys.select(
                    bucket_expr(keys, num_buckets).alias("b")
                )
                .dropDuplicates()
                .collect()
            }
            root = Path(wh.path(table))
            live = {
                f: b for f, b in snap["files"].items() if b in touched
            }
            if not live:
                return 0
            # scan ONLY the touched buckets' files, under the snapshot
            # mapping + existing DVs, keeping the scan to the key
            # columns plus file/ordinal metadata
            sub = dict(snap)
            sub["files"] = live
            mapping = self._mapping(snap)
            if "schema" in snap:
                from pyspark.sql.types import StructField, StructType

                logical = StructType.fromJson(json.loads(snap["schema"]))
                phys = StructType(
                    [
                        StructField(
                            mapping.get(f.name, f.name),
                            f.dataType, f.nullable, f.metadata,
                        )
                        for f in logical.fields
                    ]
                )
                scan = wh.spark.read.schema(phys).parquet(
                    *[str(root / f) for f in live]
                )
            else:
                scan = wh.spark.read.parquet(
                    *[str(root / f) for f in live]
                )
            # key rows by the manifest-relative path suffix (same
            # symlink-proof pairing as _apply_dv / _dv_path_key)
            scan = scan.select(
                self._dv_path_key(live).alias("_dv_fp"),
                F.col("_metadata.row_index").alias("_dv_ri"),
                *[
                    F.col(mapping.get(k, k)).alias(k) for k in keys
                ],
            )
            old_dv = {
                f: e for f, e in snap.get("dv", {}).items() if f in live
            }
            if old_dv:
                already = wh.spark.createDataFrame(
                    [
                        (f, o)
                        for f, e in old_dv.items()
                        for o in _dv_ordinals(e["bm"])
                    ],
                    "_dv_fp string, _dv_ri long",
                )
                scan = scan.join(
                    F.broadcast(already), ["_dv_fp", "_dv_ri"], "anti"
                )
            victims = (
                scan.join(key_frame, keys, "semi")
                .select("_dv_fp", "_dv_ri")
                .collect()
            )  # bounded: one row per newly deleted row (see docstring)
            if not victims:
                return 0
            by_file: dict[str, list[int]] = {}
            for r in victims:
                if r._dv_fp not in live:
                    raise ValueError(
                        f"delete_keys_dv: scanned row's path suffix "
                        f"{r._dv_fp!r} is not a manifest file"
                    )
                by_file.setdefault(r._dv_fp, []).append(r._dv_ri)
            new_dv = dict(snap.get("dv", {}))
            for f, ords in by_file.items():
                prev = new_dv.get(f)
                bm = (
                    _dv_union(prev["bm"], _dv_build(ords))
                    if prev
                    else _dv_build(ords)
                )
                new_dv[f] = {
                    "bm": bm,
                    "n": _dv_count(prev) + len(ords),
                }
            try:
                self._publish(
                    wh, table, snap["version"] + 1, snap["files"],
                    snap.get("schema"),
                    rows=snap.get("rows"), stats=snap.get("stats"),
                    dv=new_dv, fields=snap.get("fields"),
                    dropped_fields=snap.get("dropped_fields"),
                    next_fid=snap.get("next_fid"),
                    keys=snap.get("keys", list(keys)),
                    num_buckets=int(
                        snap.get("num_buckets", num_buckets)
                    ),
                    txns=snap.get("txns"),
                    constraints=snap.get("constraints"),
                )
                return len(victims)
            except CommitConflict:
                continue  # recompute: positions bind to exact file+DV
        raise CommitConflict(
            f"delete_keys_dv on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    # -- column mapping (Delta column-mapping / Iceberg field-ID design) --
    #
    # A mapped table's manifest carries ``fields`` ([{id, name, phys}]),
    # ``dropped_fields`` (tombstones — their physical names stay
    # reserved so a re-added same-named column can never resurrect old
    # file data), and ``next_fid``. Data files always store PHYSICAL
    # names; ``name`` is the logical name the version serves. RENAME
    # flips ``name`` only (metadata-only, zero data files touched);
    # DROP moves the field to the tombstone list. Unmapped tables
    # (no ``fields``) behave exactly as before: identity mapping.

    #: safe read-time widenings (the Delta type-widening lattice,
    #: restricted to conversions Spark's parquet reader upcasts
    #: losslessly): integral up-chain, float->double, and small
    #: integrals -> double (every int32 is exact in a double).
    #: long->double is NOT here — it loses precision above 2^53.
    _WIDENINGS = frozenset(
        {
            ("byte", "short"), ("byte", "integer"), ("byte", "long"),
            ("short", "integer"), ("short", "long"),
            ("integer", "long"),
            ("float", "double"),
            ("byte", "double"), ("short", "double"),
            ("integer", "double"),
        }
    )

    @staticmethod
    def _keys_of(snap: dict) -> list | None:
        """The merge-key column list this table was committed under
        (recorded at first write; ORDER matters — xxhash64(*keys) is
        order-sensitive, so the key list is part of the table's
        physical contract)."""
        return snap.get("keys")

    @classmethod
    def _check_keys(cls, snap: dict, keys, op: str) -> None:
        """Validate the caller's key list against the recorded merge
        keys (ORDER included — xxhash64(*keys) is order-sensitive): a
        wrong list computes wrong touched/wanted buckets, so deletes
        silently miss their victims and lookups silently miss rows —
        the merge-side hazard, on every other bucket-scoped op."""
        rec = cls._keys_of(snap)
        if rec is not None and rec != list(keys):
            raise ValueError(
                f"{op}: table committed under keys {rec}, caller "
                f"passed {list(keys)} — a different key list scopes "
                f"the wrong buckets"
            )

    @staticmethod
    def _align_key_types(
        snap: dict, frame: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Cast a CALLER-provided key frame's key columns to the
        table's recorded types before any bucketing or join: the bucket
        function is ``pmod(xxhash64(keys), n)`` and xxhash64 is
        TYPE-sensitive (int 159 and long 159 hash differently — 76% of
        values land in different buckets at n=4), so a long-typed probe
        frame against an int-keyed table scopes to the WRONG buckets
        and silently misses rows: lost deletes for delete_keys[_dv],
        missing rows for read_for_keys. Found in round 9 by the
        model-based sequence test — multi-key frames usually mask the
        bug through bucket overlap; single-key frames miss outright.
        This is the probe-side twin of the recorded-contract refusals
        (wrong num_buckets, key widening) which already guard the
        TABLE side of the same hazard. A value that cannot represent
        in the stored type cannot exist in the table; ``try_cast``
        maps it to a NULL key, which joins nothing."""
        if "schema" not in snap:
            return frame
        from pyspark.sql.types import StructType

        stored = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(snap["schema"])).fields
        }
        have = {f.name: f.dataType for f in frame.schema.fields}
        out = frame
        for k in keys:
            want = stored.get(k)
            if want is not None and have.get(k) != want:
                out = out.withColumn(
                    k,
                    F.expr(f"try_cast(`{k}` AS {want.simpleString()})"),
                )
        return out

    @staticmethod
    def _check_buckets(snap: dict, num_buckets: int, op: str) -> None:
        """The bucket COUNT is the other half of the physical contract
        (bucket = pmod(hash, num_buckets)): an operation computing
        touched/wanted buckets under a different modulus than the
        table was written with scopes its reads to the WRONG files —
        merges silently duplicate keys, point lookups silently miss
        rows. Recorded at first write; changing it is a full rewrite
        (:meth:`rebucket`), never a per-call argument."""
        rec = snap.get("num_buckets")
        if rec is not None and int(rec) != int(num_buckets):
            raise ValueError(
                f"{op}: table committed with num_buckets={rec}, "
                f"caller passed {num_buckets} — a different modulus "
                f"mis-scopes every bucket read (use rebucket() to "
                f"change the layout)"
            )

    @staticmethod
    def _mapping(snap: dict) -> dict[str, str]:
        """logical -> physical column mapping of one manifest version
        (empty == identity for every column)."""
        return {f["name"]: f["phys"] for f in snap.get("fields", [])}

    @classmethod
    def _phys(cls, snap: dict, col: str) -> str:
        return cls._mapping(snap).get(col, col)

    @staticmethod
    def _bootstrap_fields(snap: dict, schema) -> tuple[list, list, int]:
        """Current (fields, dropped_fields, next_fid) of a manifest,
        initializing identity field metadata from ``schema`` for a
        table that predates column mapping (ids in field order — the
        Iceberg assignment rule)."""
        if "fields" in snap:
            fields = [dict(f) for f in snap["fields"]]
            dropped = [dict(f) for f in snap.get("dropped_fields", [])]
            default_next = 1 + max(
                (f["id"] for f in fields + dropped), default=0
            )
            return fields, dropped, int(snap.get("next_fid", default_next))
        fields = [
            {"id": i + 1, "name": f.name, "phys": f.name}
            for i, f in enumerate(schema.fields)
        ]
        return fields, [], len(fields) + 1

    @classmethod
    def _evolve_fields(cls, snap: dict, new_schema):
        """Field metadata after an ADDITIVE merge under ``new_schema``:
        unmapped tables stay unmapped (returns (None, None, None));
        mapped tables assign each new column a fresh field id and a
        physical name no live or tombstoned field has ever used (else
        old file bytes under a recycled name would leak into the new
        logical column)."""
        if "fields" not in snap:
            return None, None, None
        fields, dropped, next_fid = cls._bootstrap_fields(snap, new_schema)
        known = {f["name"] for f in fields}
        used_phys = {f["phys"] for f in fields + dropped}
        for fld in new_schema.fields:
            if fld.name in known:
                continue
            phys = (
                fld.name
                if fld.name not in used_phys
                else f"{fld.name}_f{next_fid}"
            )
            fields.append({"id": next_fid, "name": fld.name, "phys": phys})
            used_phys.add(phys)
            next_fid += 1
        return fields, dropped, next_fid

    @staticmethod
    def _dv_path_key(files) -> "F.Column":
        """Spark-side join key matching a manifest RELPATH: the last
        ``depth+1`` components of ``_metadata.file_path``. Matching on
        the manifest-relative suffix instead of an absolute path makes
        the (file, ordinal) pairing immune to path aliasing between
        the JVM and Python views of the same file — symlinked
        warehouse roots (macOS ``/tmp`` -> ``/private/tmp``), scheme
        prefixes, double slashes (ADVICE r8 #2: abspath-vs-URI-regex
        equality silently matched nothing on a symlinked root,
        resurrecting DV-deleted rows). Every ``_write_commit`` relpath
        has the fixed shape ``data/<commit>/<bcol>=<n>/<file>``; the
        depth is still derived from the manifest entries defensively,
        and mixed depths (impossible for format-written manifests) are
        rejected loudly rather than mismatched silently."""
        depths = {f.count("/") for f in files}
        if len(depths) != 1:
            raise ValueError(
                f"deletion-vector manifest entries have mixed path "
                f"depths {sorted(depths)}; cannot derive a unique "
                f"suffix key"
            )
        d = depths.pop()
        return F.regexp_extract(
            F.col("_metadata.file_path"),
            r"((?:[^/]+/){%d}[^/]+)$" % d,
            1,
        )

    @classmethod
    def _apply_dv(cls, wh, root: Path, df: DataFrame, dv: dict) -> DataFrame:
        """Merge-on-read deletes: anti-join the manifest's deleted
        (file, row-ordinal) positions out of a file scan — the
        read-time half of the Delta deletion-vector design. Positions
        come from ``_metadata.file_path``/``row_index`` (stable
        per-file ordinals), the deleted set arrives as a BROADCAST
        frame (DV cardinality is point-delete sized by contract; bulk
        erasure belongs on the copy-on-write ``delete_keys``). The
        pairing key is the manifest-relative path suffix
        (``_dv_path_key``), never an absolute path."""
        pairs = [
            (f, o)
            for f, e in dv.items()
            for o in _dv_ordinals(e["bm"])
        ]
        pos = wh.spark.createDataFrame(
            pairs, "_dv_fp string, _dv_ri long"
        )
        out = df.withColumn(
            "_dv_fp", cls._dv_path_key(dv)
        ).withColumn("_dv_ri", F.col("_metadata.row_index"))
        out = out.join(F.broadcast(pos), ["_dv_fp", "_dv_ri"], "anti")
        return out.drop("_dv_fp", "_dv_ri")

    @classmethod
    def _read_snapshot(cls, wh, root: Path, snap: dict) -> DataFrame:
        """Read a manifest's file set under its RECORDED schema so a
        mixed-physical-schema file set (post-evolution) null-fills
        uniformly instead of depending on parquet inference order.
        Column-mapping tables read under PHYSICAL names and alias back
        to the version's logical names; files with a deletion vector
        get their deleted ordinals anti-joined out — every read path
        of the format funnels through here, so DV/rename semantics
        hold uniformly (snapshot, time travel, range/point/box scans,
        merge's own re-reads)."""
        paths = [str(root / f) for f in snap["files"]]
        dv = {
            f: e
            for f, e in snap.get("dv", {}).items()
            if f in snap["files"] and e and e.get("bm")
        }
        if "schema" in snap:
            from pyspark.sql.types import StructField, StructType

            logical = StructType.fromJson(json.loads(snap["schema"]))
            mapping = cls._mapping(snap)
            phys = StructType(
                [
                    StructField(
                        mapping.get(f.name, f.name),
                        f.dataType,
                        f.nullable,
                        f.metadata,
                    )
                    for f in logical.fields
                ]
            )
            df = wh.spark.read.schema(phys).parquet(*paths)
            if dv:
                df = cls._apply_dv(wh, root, df, dv)
            if mapping:
                df = df.select(
                    *[
                        F.col(mapping.get(f.name, f.name)).alias(f.name)
                        for f in logical.fields
                    ]
                )
            return df
        df = wh.spark.read.parquet(*paths)
        if dv:
            df = cls._apply_dv(wh, root, df, dv)
        return df

    def read_merged(self, wh, table):
        snap = self._latest(wh, table)
        if snap is None:
            raise FileNotFoundError(f"no committed version for {table}")
        return self._read_snapshot(wh, Path(wh.path(table)), snap)

    def read_for_keys(
        self,
        wh,
        table: str,
        keys: list[str],
        key_rows: DataFrame,
        num_buckets: int,
    ) -> DataFrame:
        """Point-lookup path: read ONLY the buckets the requested keys
        hash to — the manifest is the index, no data-file footer is
        even opened for other buckets. A lookup of k keys scans at most
        min(k, num_buckets)/num_buckets of the table regardless of
        table size (the property that makes key-scoped reads viable at
        100 TB). ``key_rows`` is a small frame carrying the key
        columns; the scan is filtered to the exact keys afterwards via
        a broadcast semi join, so the result equals
        ``read_merged(...).join(key_rows, keys, "semi")``."""
        snap = self._latest(wh, table)
        if snap is None:
            raise FileNotFoundError(f"no committed version for {table}")
        self._check_buckets(snap, num_buckets, "read_for_keys")
        self._check_keys(snap, keys, "read_for_keys")
        # probe under the TABLE's key types (xxhash64 bucketing is
        # type-sensitive — see _align_key_types)
        typed_keys = self._align_key_types(
            snap, key_rows.select(*keys).dropDuplicates(), keys
        )
        wanted = {
            r.b
            for r in typed_keys.select(
                bucket_expr(keys, num_buckets).alias("b")
            )
            .dropDuplicates()
            .collect()
        }
        root = Path(wh.path(table))
        scoped = {
            f: b for f, b in snap["files"].items() if b in wanted
        }
        if not scoped:
            return wh.spark.createDataFrame(
                [], self.read_merged(wh, table).schema
            )
        sub = dict(snap)
        sub["files"] = scoped
        df = self._read_snapshot(wh, root, sub)
        return df.join(F.broadcast(typed_keys), keys, "semi")

    @classmethod
    def files_for_range(cls, snap: dict, col: str, lo, hi) -> list[str]:
        """The zone-map pruning decision, exposed for tests and
        planning: relpaths of manifest files whose recorded [min, max]
        for ``col`` OVERLAPS [lo, hi] (inclusive), plus — conservatively
        — every file with no recorded stats for the column (absent
        stats must never drop rows). ``col`` is a LOGICAL name (stats
        are keyed physical; the manifest mapping translates). A file
        with a deletion vector stays prunable: its zone map merely
        over-approximates the live rows — extra opens, never row loss.
        Pure manifest arithmetic: no file is opened, O(manifest) at
        any table size."""
        lo_k, hi_k = _stat_key(lo), _stat_key(hi)
        if lo_k is None or hi_k is None:
            raise TypeError(
                f"files_for_range: unsupported bound type for {col!r} "
                f"({type(lo).__name__}/{type(hi).__name__})"
            )
        pc = cls._phys(snap, col)
        stats = snap.get("stats", {})
        out = []
        for f in snap["files"]:
            mm = stats.get(f, {}).get(pc)
            if mm is None:
                out.append(f)
                continue
            # mixed ISO forms (legacy bare-date stats, tz-aware footer
            # vs naive bound) promote to one form before comparing —
            # the boundary file must never prune on a formatting
            # artifact
            hi_s, lo_b = _mixed_form_fix(mm[1], lo_k)
            lo_s, hi_b = _mixed_form_fix(mm[0], hi_k)
            if not (hi_s < lo_b or lo_s > hi_b):
                out.append(f)
        return out

    def read_for_range(
        self, wh, table: str, col: str, lo, hi
    ) -> DataFrame:
        """Range-scan path: open ONLY the files whose manifest zone map
        overlaps [lo, hi] — the data-skipping read Delta/Iceberg serve
        from their file-level min/max stats, and the commonest 100 TB
        scan shape (``ts > X``). With ``cluster_col`` layout the
        overlap set is O(range); without it (hash-mixed files) pruning
        degrades gracefully to a full file list, never a wrong answer.
        The exact predicate is re-applied to the surviving files, so
        the result equals ``read_merged(...).filter(col BETWEEN lo AND
        hi)`` (inclusive bounds)."""
        snap = self._latest(wh, table)
        if snap is None:
            raise FileNotFoundError(f"no committed version for {table}")
        keep = self.files_for_range(snap, col, lo, hi)
        if not keep:
            return wh.spark.createDataFrame(
                [], self.read_merged(wh, table).schema
            ).filter(F.col(col).between(F.lit(lo), F.lit(hi)))
        sub = dict(snap)
        sub["files"] = {f: snap["files"][f] for f in keep}
        df = self._read_snapshot(wh, Path(wh.path(table)), sub)
        return df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))

    @classmethod
    def files_for_box(
        cls, snap: dict, preds: dict[str, tuple]
    ) -> list[str]:
        """Multi-column zone-map pruning: relpaths surviving the
        INTERSECTION of per-column [lo, hi] overlap tests — the prune a
        conjunctive box predicate (``a BETWEEN .. AND b BETWEEN ..``)
        earns. With ``zorder_cols`` layout each file's zone map is a
        small box, so every conjunct drops files; with a single-column
        sort only that column prunes and the rest pass everything
        through (conservative, never wrong). Pure manifest arithmetic."""
        keep = None
        for col, (lo, hi) in preds.items():
            got = set(cls.files_for_range(snap, col, lo, hi))
            keep = got if keep is None else (keep & got)
        if keep is None:
            raise ValueError("files_for_box: empty predicate dict")
        return sorted(keep)

    def read_for_box(
        self, wh, table: str, preds: dict[str, tuple]
    ) -> DataFrame:
        """Box-scan path: open only the files whose zone maps overlap
        EVERY conjunct, then re-apply the exact predicate — equals
        ``read_merged(...).filter(a BETWEEN .. AND b BETWEEN ..)``
        (inclusive bounds) at O(box) files under Z-order layout."""
        snap = self._latest(wh, table)
        if snap is None:
            raise FileNotFoundError(f"no committed version for {table}")
        keep = self.files_for_box(snap, preds)
        cond = None
        for col, (lo, hi) in preds.items():
            c = F.col(col).between(F.lit(lo), F.lit(hi))
            cond = c if cond is None else (cond & c)
        if not keep:
            return wh.spark.createDataFrame(
                [], self.read_merged(wh, table).schema
            ).filter(cond)
        sub = dict(snap)
        sub["files"] = {f: snap["files"][f] for f in keep}
        df = self._read_snapshot(wh, Path(wh.path(table)), sub)
        return df.filter(cond)

    def files_for_value(self, snap: dict, col: str, value) -> list[str]:
        """Bloom pruning decision: relpaths whose manifest bloom MAY
        contain ``value`` for ``col`` — plus, conservatively, every
        file with no bloom for the column (absent must never drop
        rows). False positives only ever open extra files. Pure
        manifest arithmetic, no file opened."""
        stats = snap.get("stats", {})
        pc = self._phys(snap, col)
        out = []
        for f in snap["files"]:
            entry = stats.get(f, {}).get(BLOOM_KEY, {}).get(pc)
            if entry is None or _bloom_entry_maybe_contains(
                entry, value, self.bloom_hashes
            ):
                out.append(f)
        return out

    def read_for_value(self, wh, table: str, col: str, value) -> DataFrame:
        """Point-lookup on a NON-key column via the manifest blooms:
        open only the files whose bloom may contain the probe, then
        re-apply the exact equality — equals
        ``read_merged(...).filter(col == value)`` at O(1 + fp) files
        for a high-cardinality column, at any table size."""
        snap = self._latest(wh, table)
        if snap is None:
            raise FileNotFoundError(f"no committed version for {table}")
        keep = self.files_for_value(snap, col, value)
        if not keep:
            return wh.spark.createDataFrame(
                [], self.read_merged(wh, table).schema
            ).filter(F.col(col) == F.lit(value))
        sub = dict(snap)
        sub["files"] = {f: snap["files"][f] for f in keep}
        df = self._read_snapshot(wh, Path(wh.path(table)), sub)
        return df.filter(F.col(col) == F.lit(value))

    def compact(
        self,
        wh,
        table: str,
        keys: list[str],
        num_buckets: int,
        min_files: int = 2,
    ) -> tuple[int, int]:
        """Small-file compaction (the Delta OPTIMIZE / Iceberg rewrite
        analog): rewrite every bucket that currently holds >=
        ``min_files`` data files into a fresh commit (one file per
        bucket, or the ``max_records_per_file``-bounded minimum),
        carry all other buckets forward BY REFERENCE, and
        publish version N+1. Answers never change — only layout; with
        ``cluster_col`` set, the rewrite re-sorts, so compaction also
        repairs zone-map narrowness degraded by many small merges —
        and compacting with a ``zorder_cols`` instance IS ``OPTIMIZE
        ZORDER``: it re-clusters hash-mixed files into Z-curve boxes
        (pinned in tests/test_io.py). Returns (files_before,
        files_after) for the touched buckets.

        Cost is proportional to the compacted buckets only — an
        incremental-merge table accumulates one file per merge per
        touched bucket, and at 100 TB reading 40 small files per bucket
        costs 40 footer reads + seeks per scan; periodic compaction
        caps that at 1. Concurrency: the publish is the same CAS as
        merge; on conflict the compaction simply retries from the
        winning snapshot (its rewrite is layout-only, so redoing is
        always safe)."""
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
            self._check_buckets(snap, num_buckets, "compact")
            self._check_keys(snap, keys, "compact")
            dv = snap.get("dv", {})
            by_bucket: dict[int, list[str]] = {}
            for f, b in snap["files"].items():
                by_bucket.setdefault(b, []).append(f)
            touched = {
                b for b, fs in by_bucket.items() if len(fs) >= min_files
            }
            # a bucket holding any DV'd file compacts too: the rewrite
            # MATERIALIZES the deletion vector away (the Delta/Iceberg
            # contract — DVs are a read-time overlay until OPTIMIZE)
            touched |= {
                b
                for f, b in snap["files"].items()
                if _dv_count(dv.get(f))
            }
            if not touched:
                n = len(snap["files"])
                return n, n
            root = Path(wh.path(table))
            sub = dict(snap)
            sub["files"] = {
                f: b for f, b in snap["files"].items() if b in touched
            }
            df = self._read_snapshot(wh, root, sub)
            before = len(sub["files"])
            # layout-only rewrite: same rows, same bucket function
            new_files, new_rows, new_stats = self._write_commit(
                wh, table, df, keys, num_buckets,
                mapping=self._mapping(snap) or None,
            )
            carried = {
                f: b for f, b in snap["files"].items() if b not in touched
            }
            base_rows = snap.get("rows", {})
            base_stats = snap.get("stats", {})
            carried_dv = {f: dv[f] for f in carried if f in dv}
            try:
                self._publish(
                    wh, table, snap["version"] + 1,
                    {**carried, **new_files},
                    snap.get("schema"),
                    rows={
                        **{f: base_rows[f] for f in carried
                           if f in base_rows},
                        **new_rows,
                    },
                    stats={
                        **{f: base_stats[f] for f in carried
                           if f in base_stats},
                        **new_stats,
                    },
                    dv=carried_dv or None,
                    fields=snap.get("fields"),
                    dropped_fields=snap.get("dropped_fields"),
                    next_fid=snap.get("next_fid"),
                    keys=snap.get("keys", list(keys)),
                    num_buckets=int(
                        snap.get("num_buckets", num_buckets)
                    ),
                    txns=snap.get("txns"),
                    constraints=snap.get("constraints"),
                )
                return before, len(new_files)
            except CommitConflict:
                continue  # a writer won the version: recompact on top
        raise CommitConflict(
            f"compact on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def vacuum(
        self, wh, table: str, grace_seconds: float = 3600.0
    ) -> list[str]:
        """Delete ORPHANED data files — files referenced by NO manifest
        version (the residue of commits that crashed before their
        manifest publish). Every published version stays fully
        readable; trimming old versions themselves is a retention
        policy this minimal format deliberately leaves to the caller.
        Returns the deleted relpaths.

        ``grace_seconds`` is the multi-writer safety window (the Delta
        VACUUM retention analog): a CONCURRENT writer that has run
        ``_write_commit`` but not yet published its manifest has exactly
        "unreferenced" files, and deleting them would let its CAS
        publish succeed with a manifest pointing at deleted files — an
        unreadable committed version. Files younger than the window
        (mtime-based) are therefore skipped; pass ``0.0`` only when the
        caller guarantees writer quiescence (e.g. single-writer crash
        recovery in tests).

        Scale shape (round 13, VERDICT r12 #7): the live set is the
        union over EVERY surviving manifest — O(versions x files) of
        driver-side JSON per vacuum, measured linear (~0.6 s at 1k
        versions x 1k files, so minutes at 100 TB manifest sizes). Vacuum therefore
        maintains a LIVE-SET CHECKPOINT (root-level ``_liveset.json``
        — NOT in ``_txlog/``, whose ``*.json`` listing is the version
        log; a sidecar outside the commit protocol is sound here,
        where it was a TOCTOU for constraints, because staleness can
        only ever WIDEN the kept set, never delete a referenced file —
        Delta checkpoint-manifest analog): the union through ``vmax``
        is cached, and the next vacuum unions only the manifests
        published SINCE — O(new commits), not O(history). The cache is
        purely advisory and crash-safe (atomic tmp+rename; validity
        requires the oldest surviving version and the cached ``vmax``
        to still be present, so :meth:`expire_versions`' manifest
        deletions invalidate it and the next vacuum rebuilds from a
        full walk). Staleness can only ever WIDEN the live set kept —
        never delete a referenced file."""
        import time

        root = Path(wh.path(table))
        log = self._log_dir(wh, table)
        ckpt = root / "_liveset.json"
        vs = self.versions(wh, table)
        live: set[str] = set()
        start = 0  # index into vs of the first manifest still to union
        if ckpt.exists():
            try:
                with open(ckpt) as f:
                    cached = json.load(f)
                if (
                    vs
                    and cached.get("vmin") == vs[0]
                    and cached.get("vmax") in vs
                ):
                    live = set(cached["files"])
                    start = vs.index(cached["vmax"]) + 1
            except (OSError, ValueError, KeyError):
                pass  # unreadable checkpoint: full walk rebuilds it
        for v in vs[start:]:
            with open(log / f"{v:08d}.json") as f:
                live.update(json.load(f)["files"])
        if vs:
            # unique tmp per writer: two concurrent vacuums sharing one
            # tmp path race each other's os.replace (writer A renames
            # the tmp away mid-B-write -> B's replace raises); a PID
            # suffix keeps each publish independently atomic
            tmp = root / f".liveset.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(
                    {"vmin": vs[0], "vmax": vs[-1],
                     "files": sorted(live)}, f
                )
            os.replace(tmp, ckpt)
            # ADVICE r14 #3: a vacuum that crashed between write and
            # replace leaves its PID-suffixed tmp behind forever (live
            # writers' tmps must not be touched, so only age them out:
            # anything older than this vacuum's own grace window cannot
            # belong to an in-flight publish — the write+replace is
            # sub-second)
            # the floor holds even at grace_seconds=0, which callers pass
            # to reclaim DATA files and must not unlink a live tmp
            cutoff_tmp = time.time() - max(grace_seconds, 60.0)
            for orphan in root.glob(".liveset.tmp.*"):
                try:
                    if orphan.stat().st_mtime <= cutoff_tmp:
                        orphan.unlink()
                except OSError:
                    pass  # concurrently published/removed: fine
        cutoff = time.time() - grace_seconds
        deleted = []
        for f in sorted((root / "data").rglob("*.parquet")):
            rel = str(f.relative_to(root))
            if rel not in live and f.stat().st_mtime <= cutoff:
                f.unlink()
                deleted.append(rel)
        # drop empty commit dirs left behind
        for d in sorted((root / "data").glob("*"), reverse=True):
            for sub in sorted(d.glob("*"), reverse=True):
                if sub.is_dir() and not any(sub.iterdir()):
                    sub.rmdir()
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
        return deleted

    def versions(self, wh, table: str) -> list[int]:
        d = self._log_dir(wh, table)
        return sorted(
            int(p.stem) for p in d.glob("*.json")
        ) if d.exists() else []

    def expire_versions(
        self, wh, table: str, keep_last: int = 2,
        grace_seconds: float = 3600.0,
    ) -> tuple[list[int], list[str]]:
        """Retention: drop all but the newest ``keep_last`` manifest
        versions, then delete the data files only those dropped
        versions referenced (the Delta VACUUM-with-retention half that
        :meth:`vacuum` — orphans only — deliberately leaves out).

        Order matters for crash safety: manifests are removed FIRST, so
        a crash mid-way leaves either extra-but-consistent history or a
        fully trimmed log — never a live manifest pointing at deleted
        files. Returns (expired versions, deleted relpaths)."""
        if keep_last < 1:
            raise ValueError("expire_versions: keep_last must be >= 1")
        vs = self.versions(wh, table)
        expired = vs[:-keep_last]
        if not expired:
            return [], []
        d = self._log_dir(wh, table)
        for v in expired:
            (d / f"{v:08d}.json").unlink()
        # everything not referenced by a SURVIVING version is now orphan;
        # the grace window still protects a concurrent unpublished writer
        # (its fresh files survive this vacuum and a later one reclaims
        # them once aged out)
        return expired, self.vacuum(wh, table, grace_seconds=grace_seconds)

    def create_table(
        self, wh, table: str, schema, keys: list[str],
        num_buckets: int,
    ) -> dict:
        """Publish version 1 of an EMPTY table: no data files, just the
        recorded contract — schema, merge keys, bucket modulus — so
        readers see a valid (empty) snapshot immediately and every
        later merge validates against the declared contract instead of
        bootstrapping one from its own arguments (the CREATE TABLE
        half of the Delta story; CTAS is this followed by an ordinary
        merge). Fails loudly if the location already holds a committed
        table, if a key column is missing from the schema, or via the
        CAS if another writer creates it concurrently."""
        if self._latest(wh, table) is not None:
            raise ValueError(
                f"create_table: {wh.path(table)!r} already holds a "
                f"committed table (register/merge into it instead)"
            )
        names = {f.name for f in schema.fields}
        missing = set(keys) - names
        if missing:
            raise ValueError(
                f"create_table: key column(s) {sorted(missing)} not in "
                f"schema {sorted(names)}"
            )
        if int(num_buckets) < 1:
            raise ValueError("create_table: num_buckets must be >= 1")
        self._publish(
            wh, table, 1, {}, schema.json(),
            rows={}, stats={},
            keys=list(keys), num_buckets=int(num_buckets),
        )
        return self._latest(wh, table)

    def replace_table(
        self, wh, table: str, schema, keys: list[str],
        num_buckets: int, df: DataFrame | None = None,
        keep_constraints: bool = False, op: str = "replace_table",
    ) -> dict:
        """``CREATE OR REPLACE`` / ``INSERT OVERWRITE`` / ``TRUNCATE``
        as a FORWARD commit (Delta parity; ADVICE r10 — the original
        implementation rmtree'd the table root, erasing all history):
        publish version N+1 under the given schema / merge-key /
        bucket contract, leaving every prior manifest — and the data
        files they reference — untouched, so time travel to
        pre-replace versions keeps working until VACUUM expires them.
        Nothing is deleted here.

        With ``df`` (the AS-SELECT / OVERWRITE data), the new files
        are written ONCE, BEFORE the publish loop, and the replacement
        lands as ONE commit carrying them — never an empty
        intermediate version followed by a merge. The write-first
        ordering is load-bearing for two reasons: (a) crash-atomicity —
        a crash between write and publish leaves only invisible,
        vacuumable orphans, never a committed empty table; (b) a
        self-referencing source (``INSERT OVERWRITE t ... FROM t``)
        reads through a temp view whose DataSource PINNED its manifest
        at view creation (see ``txlog_catalog.register``), so the scan
        serves the pre-replace snapshot however late it executes — the
        data does NOT re-resolve at execution time, which is also why
        the files are version-independent and writing them inside the
        CAS retry loop would be pure waste (ADVICE r11: up to
        MAX_COMMIT_RETRIES full rewrites under contention).

        Conflict policy: an overwrite is a BLIND replacement, so a
        concurrent commit that changed the table's DATA state (files /
        deletion vectors / schema) is a real write-write race — the
        loser fails LOUDLY (the Delta WriteSerializable answer; a
        silent last-writer-wins would discard the winner's rows
        without anyone having seen them). A metadata-only winner (a
        constraint ADD/DROP) is safe to re-CAS over, re-validating
        ``df`` when the policy changed.

        ``keep_constraints=True`` (INSERT OVERWRITE / TRUNCATE — the
        statement replaces data, not policy) carries the effective
        CHECK-constraint set into the new version and validates ``df``
        against it; False (CREATE OR REPLACE — a new table identity)
        publishes an EXPLICIT empty set, atomically retiring the old
        policy with the same commit (a legacy sidecar is masked by the
        manifest key, closing the crash window where stale constraints
        outlived the replace).

        The new version carries no column-mapping section (its files
        are fresh — no old bytes a physical name could collide with)
        and no ``txns`` markers (streaming idempotence restarts with
        the new table identity). One manifest publish at any table
        size; returns the published snapshot.

        ADVICE r14 #4 — caller contract for ``keep_constraints=True``:
        pass the MANIFEST-RECORDED schema verbatim (as both in-repo
        callers do), never a df-derived one. The stale-schema guard
        compares full schema JSON deep-equality (nullability, field
        metadata, field order included), so ``df.schema`` — which
        typically marks every field nullable — raises a spurious
        CommitConflict reporting a concurrent DDL that never
        happened."""
        names = {f.name for f in schema.fields}
        missing = set(keys) - names
        if missing:
            raise ValueError(
                f"{op}: key column(s) {sorted(missing)} not "
                f"in schema {sorted(names)}"
            )
        if int(num_buckets) < 1:
            raise ValueError(f"{op}: num_buckets must be >= 1")
        snap0 = self._latest(wh, table)
        if snap0 is None:
            raise ValueError(
                f"{op}: no committed table at "
                f"{wh.path(table)!r} — use create_table"
            )
        if keep_constraints and "schema" in snap0 and (
            json.loads(snap0["schema"]) != json.loads(schema.json())
        ):
            # ADVICE r13: the caller read the schema BEFORE our snap0
            # read; a DDL (SET NOT NULL / ADD COLUMN / widen) landing in
            # that window would otherwise be silently reverted by this
            # publish — and the nn validation set below would be derived
            # from the stale schema. keep_constraints ops replace DATA,
            # not the contract, so a stale contract is a loud conflict.
            raise CommitConflict(
                f"{op} on {table!r}: the table's schema changed between "
                f"the statement's read and the overwrite (a concurrent "
                f"DDL landed) — re-run the statement against the "
                f"current schema"
            )
        validated: dict | None = None
        # the PUBLISHED schema's non-nullable fields validate as
        # implicit entries (for OVERWRITE/TRUNCATE that schema is the
        # snapshot's, so a SET NOT NULL promote is enforced; for
        # CREATE OR REPLACE it is the new contract's own declaration)
        nn = self._not_null_cons(schema)
        if df is not None:
            # validate BEFORE writing: a violating batch costs one
            # aggregate job, not a full file write plus orphans
            validated = (
                self._constraints_of(snap0, wh.path(table))
                if keep_constraints
                else {}
            )
            self._validate_constraints(
                df, {**validated, **nn}, op, table
            )
        if df is not None:
            files, rows, stats = self._write_commit(
                wh, table, df, keys, int(num_buckets)
            )
        else:
            files, rows, stats = {}, {}, {}
        snap = snap0
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            cons = (
                self._constraints_of(snap, wh.path(table))
                if keep_constraints
                else {}
            )
            if df is not None and cons != validated:
                self._validate_constraints(df, {**cons, **nn}, op, table)
                validated = cons
            try:
                self._publish(
                    wh, table, snap["version"] + 1, files, schema.json(),
                    rows=rows, stats=stats,
                    keys=list(keys), num_buckets=int(num_buckets),
                    constraints=cons,
                )
                if not keep_constraints:
                    # the manifest's explicit {} is already
                    # authoritative; the sidecar is dead weight
                    self._remove_constraint_sidecar(wh, table)
                return self._latest(wh, table)
            except CommitConflict:
                cur = self._latest(wh, table)
                if (
                    cur.get("files") != snap.get("files")
                    or cur.get("dv") != snap.get("dv")
                    or cur.get("schema") != snap.get("schema")
                ):
                    raise CommitConflict(
                        f"{op} on {table!r}: a concurrent commit "
                        f"changed the table's data while this "
                        f"overwrite was in flight (v{snap['version']} "
                        f"-> v{cur['version']}) — a blind replacement "
                        f"would silently discard it; re-run the "
                        f"statement against the current state"
                    ) from None
                snap = cur  # metadata-only winner: re-CAS on top
        raise CommitConflict(
            f"{op} on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def replace_where(
        self, wh, table: str, pred: str, df: DataFrame,
        keys: list[str], num_buckets: int,
        op: str = "INSERT OVERWRITE ... WHERE",
    ) -> tuple[int, int]:
        """Predicate-scoped overwrite (Delta ``replaceWhere`` parity):
        atomically replace exactly the rows matching ``pred`` with
        ``df``, as ONE commit. Semantics (Delta's):

        * every incoming row must itself satisfy ``pred`` (a row the
          statement claims to scope to ``pred`` but that falls outside
          it would silently survive the next replace — refused);
        * rows NOT matching ``pred`` are untouched;
        * this table's key-unique contract adds one rule Delta doesn't
          have: an incoming key that already exists on a row NOT
          matching ``pred`` is refused (keeping both would duplicate
          the key; silently replacing a row the predicate excludes
          would break the statement's own contract).

        Scale shape: ONE pushdown-filtered scan finds the buckets that
        hold matching rows (parquet row-group pruning applies — the
        scan reads O(matching buckets), not O(table)); only the
        TOUCHED buckets (matching ∪ incoming-key buckets) are
        rewritten as ``(kept rows) ∪ df`` through the CAS machinery —
        every other file is carried by reference, the same
        touched-fraction story as a MoR delete. Concurrency: because
        the read-set is the PREDICATE's row set (not a fixed bucket
        set), any concurrent data-state winner forces a REDO that
        re-derives the matching buckets from the winning snapshot —
        never the disjoint-bucket rebase key-scoped ops get (a winner
        could add a matching row in a bucket the first evaluation
        never touched; Delta refuses the same race as a
        concurrent-append conflict — r13, VERDICT r12 #6). CHECK
        constraints are kept and enforced on ``df`` inside the
        protocol. Returns (n_replaced, n_inserted)."""
        validated: dict | None = None
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            snap = self._latest(wh, table)
            if snap is None:
                raise ValueError(
                    f"{op}: no committed table at {wh.path(table)!r}"
                )
            self._check_buckets(snap, num_buckets, op)
            self._check_keys(snap, keys, op)
            # additive-only evolution, same rule as the merge path: a
            # replacement batch missing a table column (or retyping
            # one) must be refused — untouched buckets' carried files
            # still hold the old column, so publishing df.schema would
            # silently narrow/retype it out of latest-version reads
            # (ADVICE r12). Re-checked per retry: the winning snapshot
            # may have widened the schema under us.
            cons = self._constraints_of(snap, wh.path(table))
            if "schema" in snap:
                from pyspark.sql.types import StructType

                old_schema = StructType.fromJson(json.loads(snap["schema"]))
                self._check_evolution(old_schema, df.schema)
                cons = {**cons, **self._not_null_cons(old_schema)}
            if cons != validated:
                self._validate_constraints(df, cons, op, table)
                validated = cons
            # every incoming row must satisfy the predicate (NULL
            # fails here: the row would NOT be replaced by a re-run)
            outside = df.where(
                F.coalesce(F.expr(pred), F.lit(False)) == F.lit(False)
            ).count()
            if outside:
                raise ValueError(
                    f"{op}: {outside} incoming row(s) do not satisfy "
                    f"the predicate ({pred}) — a scoped overwrite may "
                    f"only write rows inside its own scope"
                )
            root = Path(wh.path(table))
            existing = self._read_snapshot(wh, root, snap)
            # one pushdown-filtered scan: the buckets holding matching
            # rows (row-group pruning keeps this O(matching data))
            match_buckets = {
                r.b
                for r in existing.where(pred)
                .select(bucket_expr(keys, num_buckets).alias("b"))
                .dropDuplicates()
                .collect()
            }
            incoming_buckets = {
                r.b
                for r in df.select(
                    bucket_expr(keys, num_buckets).alias("b")
                )
                .dropDuplicates()
                .collect()
            }
            touched = match_buckets | incoming_buckets
            # key-unique guard: an incoming key living on a row OUTSIDE
            # the predicate cannot be replaced by this statement
            clash = (
                existing.join(
                    df.select(*keys).dropDuplicates(), list(keys), "semi"
                )
                .where(
                    F.coalesce(F.expr(pred), F.lit(False))
                    == F.lit(False)
                )
                .count()
            )
            if clash:
                raise ValueError(
                    f"{op}: {clash} incoming key(s) already exist on "
                    f"row(s) NOT matching the predicate ({pred}) — "
                    f"the table's key-unique contract refuses the "
                    f"ambiguity (use MERGE INTO or widen the predicate)"
                )
            n_inserted = df.count()
            if not touched and n_inserted == 0:
                return 0, 0  # nothing matched, nothing incoming: no-op
            if touched:
                sub = dict(snap)
                sub["files"] = {
                    f: b
                    for f, b in snap["files"].items()
                    if b in touched
                }
                scoped = self._read_snapshot(wh, root, sub)
                kept = scoped.where(
                    F.coalesce(F.expr(pred), F.lit(False))
                    == F.lit(False)
                )
                n_replaced = (
                    scoped.count() - kept.count()
                )
                for fld in df.schema.fields:
                    if fld.name not in kept.columns:
                        kept = kept.withColumn(
                            fld.name, F.lit(None).cast(fld.dataType)
                        )
                replacement = kept.select(*df.columns).unionByName(df)
            else:
                n_replaced = 0
                replacement = df
            fields, dropped, next_fid = self._evolve_fields(
                snap, df.schema
            )
            if self._rewrite_and_publish(
                wh, table, snap, touched, replacement,
                self._carry_nullability(snap, df.schema),
                keys, num_buckets,
                fields=fields, dropped_fields=dropped,
                next_fid=next_fid,
                # the read-set is PREDICATE-defined, not bucket-defined:
                # a disjoint winner can add a matching row in a bucket
                # this evaluation never touched, so any data-state
                # winner forces a redo that re-derives the matching set
                # (Delta's concurrent-append conflict, VERDICT r12 #6)
                rebase_disjoint=False,
            ):
                return int(n_replaced), int(n_inserted)
        raise CommitConflict(
            f"{op} on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def convert_to_txlog(self, wh, table: str, keys: list[str]) -> dict:
        """Adopt a FLAT directory of existing parquet files as version
        1 of a transaction-log table WITHOUT rewriting a byte (the
        Delta ``CONVERT TO DELTA`` shape): the manifest references the
        files in place, per-file row counts and zone maps come from
        one local footer read each (the same metadata ``_write_commit``
        harvests), and the schema is the files' own. Reads, time
        travel, metadata COUNT/MIN-MAX, and zone-map pruning work
        immediately.

        The recorded contract is ``num_buckets=1`` with every adopted
        file in bucket 0 — the one honest choice: foreign files are
        not bucketed by key-hash, and any finer claimed modulus would
        let a later merge scope AWAY from files that still hold its
        keys (duplicate-key corruption). Under the 1-bucket contract
        the FIRST merge necessarily reads and rewrites the adopted
        set — the bounded one-time migration cost, amortized into the
        first write — after which the table is an ordinary txlog
        table that :meth:`rebucket` can spread to any modulus. The
        key-unique contract is validated up front (one distinct-count
        scan); duplicate keys are refused loudly rather than silently
        collapsed by the first merge's keep-newest window."""
        import pyarrow.parquet as pq

        root = Path(wh.path(table))
        log = root / "_txlog"
        if log.exists() and any(log.glob("*.json")):
            raise ValueError(
                f"convert_to_txlog: {root} already holds a committed "
                f"txlog table"
            )
        paths = sorted(root.glob("*.parquet"))
        if not paths:
            raise ValueError(
                f"convert_to_txlog: no *.parquet files at {root} "
                f"(adoption is defined for a FLAT parquet directory)"
            )
        df = wh.spark.read.parquet(str(root))
        names = set(df.columns)
        missing = set(keys) - names
        if missing:
            raise ValueError(
                f"convert_to_txlog: key column(s) {sorted(missing)} "
                f"not in the files' schema {sorted(names)}"
            )
        n = df.count()
        nd = df.select(*keys).dropDuplicates().count()
        if n != nd:
            raise ValueError(
                f"convert_to_txlog: {n - nd} duplicate key group(s) "
                f"under {keys} — the format's key-unique contract "
                f"would silently collapse them on the first merge; "
                f"dedup first"
            )
        files: dict[str, int] = {}
        rows: dict[str, int] = {}
        stats: dict[str, dict] = {}
        for p in paths:
            rel = str(p.relative_to(root))
            meta = pq.ParquetFile(str(p)).metadata
            files[rel] = 0
            rows[rel] = meta.num_rows
            stats[rel] = _footer_minmax(meta)
        self._publish(
            wh, table, 1, files, df.schema.json(),
            rows=rows, stats=stats,
            keys=list(keys), num_buckets=1,
        )
        return self._latest(wh, table)

    def restore_version(self, wh, table: str, version: int) -> dict:
        """RESTORE: re-publish committed ``version``'s data state as a
        NEW version on top of the current history (the Delta
        ``RESTORE TABLE`` design — a rollback is a FORWARD commit;
        history is immutable, so the bad versions stay inspectable and
        time-travel-able while the table's latest answer reverts).

        Everything data-plane is copied from the target manifest BY
        REFERENCE: files, per-file row counts / zone maps / blooms,
        deletion vectors, schema, column-mapping metadata
        (fields/dropped_fields/next_fid — a restore across a rename or
        widen reverts the logical schema too, exactly what the target
        version's readers saw), and the key/bucket contract (a restore
        across a rebucket reverts the modulus — the referenced files
        ARE laid out under it). One manifest published, zero data
        files written: O(manifest) at any table size.

        The idempotent-writer high-water marks (``txns``) are carried
        from the LATEST version instead, never the target: regressing
        them would let a streaming sink re-apply a batch it already
        committed, silently breaking exactly-once.

        Restoring to an expired version fails loudly (its manifest is
        gone); an unexpired target's files are guaranteed present
        because :meth:`vacuum` never deletes files a live manifest
        references. Restoring to the CURRENT version is a no-op (no
        manifest published — the Delta behavior). Returns the
        published (or current) manifest dict."""
        log = self._log_dir(wh, table)
        path = log / f"{int(version):08d}.json"
        if not path.exists():
            raise FileNotFoundError(
                f"{table}: cannot restore to version {version} — it "
                f"was never committed or has been expired (committed: "
                f"{self.versions(wh, table)})"
            )
        with open(path) as f:
            target = json.load(f)
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            self._conflict_backoff(_attempt)
            latest = self._latest(wh, table)
            if latest is None:
                raise FileNotFoundError(
                    f"no committed version for {table}"
                )
            if latest["version"] == int(version):
                return latest  # already there: no-op, Delta-alike
            # CHECK constraints revert WITH the rest of the metadata
            # (Delta-alike: constraints live in table metadata, and
            # every manifest's data satisfies its OWN constraint set —
            # ADD validated existing rows, writers validated new ones —
            # so target data + target constraints is consistent by
            # construction)
            published = {
                k: target[k]
                for k in (
                    "files", "schema", "rows", "stats", "dv", "fields",
                    "dropped_fields", "next_fid", "keys", "num_buckets",
                    "constraints",
                )
                if k in target
            }
            if "constraints" not in published:
                # target predates constraint recording (pre-r12
                # manifest, no "constraints" key). Its governing set
                # lived in the legacy sidecar — which the first
                # ADD/DROP CONSTRAINT migration DELETED — so the
                # target's own set is unrecoverable. Carry the CURRENT
                # effective set instead of publishing neither key nor
                # sidecar, which would silently reset policy to {}
                # (ADVICE r12): policy-over-future-writes survives the
                # rollback, same rationale as carrying txns.
                published["constraints"] = self._constraints_of(
                    latest, wh.path(table)
                )
            published["version"] = latest["version"] + 1
            txns = latest.get("txns")
            if txns:
                published["txns"] = dict(txns)
            try:
                self._publish(
                    wh, table, published["version"],
                    published["files"], published.get("schema"),
                    rows=published.get("rows"),
                    stats=published.get("stats"),
                    dv=published.get("dv"),
                    fields=published.get("fields"),
                    dropped_fields=published.get("dropped_fields"),
                    next_fid=published.get("next_fid"),
                    keys=published.get("keys"),
                    num_buckets=published.get("num_buckets"),
                    txns=published.get("txns"),
                    constraints=published.get("constraints"),
                )
                return published
            except CommitConflict:
                continue  # a writer slipped in: re-read latest, re-CAS
        raise CommitConflict(
            f"restore on {table!r}: gave up after "
            f"{self.MAX_COMMIT_RETRIES} commit conflicts"
        )

    def count_rows(
        self, wh, table: str, version: int | None = None
    ) -> int:
        """COUNT(*) served from the transaction log: sums the per-file
        row counts the manifest recorded at write time (parquet footer
        numbers — exact, not estimates). No data file is opened, no
        Spark job runs: O(manifest) regardless of table size, the same
        metadata-only count Delta/Iceberg serve. Files committed by a
        pre-stats manifest (no "rows" entry) fall back to reading just
        their parquet FOOTERS — still metadata, still no scan."""
        if version is None:
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
        else:
            with open(
                self._log_dir(wh, table) / f"{version:08d}.json"
            ) as f:
                snap = json.load(f)
        rows = snap.get("rows", {})
        dv = snap.get("dv", {})
        total = 0
        missing = []
        for f in snap["files"]:
            if f in rows:
                total += int(rows[f])
            else:
                missing.append(f)
            # LIVE rows = physical rows minus the file's deletion
            # vector (popcount cached in the manifest entry)
            total -= _dv_count(dv.get(f))
        if missing:
            import pyarrow.parquet as pq

            root = Path(wh.path(table))
            for f in missing:
                total += pq.ParquetFile(str(root / f)).metadata.num_rows
        return total

    #: types whose parquet footer min/max are exact by construction
    #: (order-preserving physical encodings, no writer truncation) —
    #: the set MIN/MAX may be served for without opening data files.
    #: Strings/binary are excluded: the parquet spec lets writers
    #: TRUNCATE long byte-array stats to any valid bound, so a footer
    #: bound need not be an attained value — fine for pruning (bounds
    #: stay conservative), wrong for an exact aggregate.
    _MINMAX_EXACT_TYPES = frozenset(
        {
            "byte", "short", "integer", "long", "float", "double",
            "boolean", "date", "timestamp", "timestamp_ntz",
        }
    )

    def minmax_stats(
        self,
        wh,
        table: str,
        cols: list[str],
        version: int | None = None,
    ) -> dict[str, tuple]:
        """MIN/MAX served from the transaction log — the aggregate-
        pushdown twin of :meth:`count_rows`: the true column minimum is
        the min of per-file minima (maximum symmetric) because every
        snapshot file holds exactly live rows (merges rewrite whole
        touched buckets, never leave superseded rows behind). Exactness
        is type-gated to numeric/temporal columns (see
        ``_MINMAX_EXACT_TYPES``); files a pre-stats manifest committed
        fall back to their parquet FOOTERS — still metadata — and a
        file whose footer carries no stats for the column (e.g. all
        NULL) falls back to a column-pruned scan of just that file,
        so the answer is exact in every case and the fast path opens
        zero data files. Timestamps come back as the manifest's
        ISO-8601 strings (lexicographic == chronological); an empty
        table or all-NULL column yields ``(None, None)`` — SQL MIN/MAX
        semantics (NULLs ignored)."""
        if version is None:
            snap = self._latest(wh, table)
            if snap is None:
                raise FileNotFoundError(f"no committed version for {table}")
        else:
            with open(
                self._log_dir(wh, table) / f"{version:08d}.json"
            ) as f:
                snap = json.load(f)
        if "schema" in snap:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(snap["schema"]))
            for c in cols:
                tn = schema[c].dataType.typeName()
                if tn not in self._MINMAX_EXACT_TYPES:
                    raise TypeError(
                        f"minmax_stats: {c!r} is {tn} — footer stats "
                        "for string/binary/nested types may be "
                        "truncated bounds, not attained values; scan "
                        "instead"
                    )
        stats = snap.get("stats", {})
        dv = snap.get("dv", {})
        mapping = self._mapping(snap)
        root = Path(wh.path(table))
        out: dict[str, list] = {c: [None, None] for c in cols}
        must_scan: dict[str, list[str]] = {c: [] for c in cols}
        footer_cache: dict[str, dict] = {}
        dv_files: list[str] = []
        for f in snap["files"]:
            if _dv_count(dv.get(f)):
                # a deleted row may BE the footer extremum: files with
                # a deletion vector fall to an exact DV-applied scan
                dv_files.append(f)
                continue
            fstats = stats.get(f)
            if fstats is None:  # pre-stats commit: footer fallback
                if f not in footer_cache:
                    import pyarrow.parquet as pq

                    footer_cache[f] = _footer_minmax(
                        pq.ParquetFile(str(root / f)).metadata
                    )
                fstats = footer_cache[f]
            for c in cols:
                mm = fstats.get(mapping.get(c, c))
                if mm is None:
                    # stats-less column in this file (all-NULL or
                    # untyped): metadata can't answer — exact scan of
                    # just this file, just this column
                    must_scan[c].append(f)
                    continue
                cur = out[c]
                cur[0] = mm[0] if cur[0] is None else min(cur[0], mm[0])
                cur[1] = mm[1] if cur[1] is None else max(cur[1], mm[1])

        def _fold(c: str, row) -> None:
            lo, hi = _stat_key(row["lo"]), _stat_key(row["hi"])
            cur = out[c]
            if lo is not None:
                cur[0] = lo if cur[0] is None else min(cur[0], lo)
            if hi is not None:
                cur[1] = hi if cur[1] is None else max(cur[1], hi)

        for c, files in must_scan.items():
            if not files:
                continue
            pc = mapping.get(c, c)
            row = (
                wh.spark.read.parquet(*[str(root / f) for f in files])
                .agg(F.min(pc).alias("lo"), F.max(pc).alias("hi"))
                .first()
            )
            _fold(c, row)
        if dv_files:
            sub = dict(snap)
            sub["files"] = {f: snap["files"][f] for f in dv_files}
            live = self._read_snapshot(wh, root, sub)
            row = live.agg(
                *[F.min(c).alias(f"lo_{c}") for c in cols],
                *[F.max(c).alias(f"hi_{c}") for c in cols],
            ).first()
            for c in cols:
                _fold(c, {"lo": row[f"lo_{c}"], "hi": row[f"hi_{c}"]})
        return {c: (v[0], v[1]) for c, v in out.items()}

    def read_version(self, wh, table: str, version: int) -> DataFrame:
        """Time travel: read the table exactly as of ``version``, under
        that version's own recorded schema (a later evolution does not
        retroactively widen history). An expired version (VACUUM KEEP k
        VERSIONS dropped its manifest) is refused with an error naming
        it — never silently served from a neighbor."""
        snap = self._snap_at(wh, table, version)
        return self._read_snapshot(wh, Path(wh.path(table)), snap)

    def _snap_at(self, wh, table: str, version: int) -> dict:
        path = self._log_dir(wh, table) / f"{version:08d}.json"
        if not path.exists():
            live = self.versions(wh, table)
            span = f"{live[0]}..{live[-1]}" if live else "none"
            raise FileNotFoundError(
                f"{table}: version {version} is not in the log "
                f"(surviving versions: {span}) — it was never committed "
                f"or has been expired by VACUUM KEEP k VERSIONS"
            )
        with open(path) as f:
            return json.load(f)

    def changes_between(
        self,
        wh,
        table: str,
        keys: list[str],
        v_from: int,
        v_to: int,
    ) -> DataFrame:
        """Change data feed between two committed versions — the Delta
        CDF / Iceberg changelog analog, derived entirely from time
        travel (no per-write change files): one row per key whose value
        changed, tagged ``_change_type`` in {insert, delete,
        update_preimage, update_postimage} (updates emit BOTH images,
        the CDF convention downstream MERGE consumers need).

        Scale shape: a bucket whose file list is IDENTICAL in both
        manifests was carried by reference — it cannot contain a
        change, so both sides read only the buckets whose file sets
        differ (pure manifest arithmetic). An incremental merge touches
        O(batch) buckets, so the diff costs O(changed data), not
        O(table) — then ONE full-outer join on the key and a single-
        pass classify-and-explode (rows in rewritten buckets that are
        byte-identical across versions classify unchanged and emit
        nothing). Value comparison is null-safe per column
        (NULL-to-value transitions are updates); compared columns are
        the non-key columns common to both versions' schemas, output
        under the ``v_to`` ordering."""
        snap_a = self._snap_at(wh, table, v_from)
        snap_b = self._snap_at(wh, table, v_to)
        # shared change-detection identity (module helpers, also used
        # by the txlog_changes stream/batch sources): DV state is part
        # of a file's identity, renames align by field id
        changed = changed_buckets(snap_a, snap_b)
        root = Path(wh.path(table))

        def scoped(snap):
            sub = dict(snap)
            sub["files"] = {
                f: b
                for f, b in snap["files"].items()
                if b in changed
            }
            if not sub["files"]:
                return wh.spark.createDataFrame(
                    [], self._read_snapshot(wh, root, snap).schema
                )
            return self._read_snapshot(wh, root, sub)

        old, new = scoped(snap_a), scoped(snap_b)
        # a column RENAMED between the versions is the SAME field
        # (same id) under a new logical name — align the old frame to
        # v_to's names before diffing, so a metadata-only rename never
        # fakes an update storm (and a rename whose FROM version
        # predates mapping still aligns via synthesized identity ids)
        renames = rename_map(snap_a, snap_b)
        if renames:
            old = old.select(
                *[
                    F.col(c).alias(renames.get(c, c))
                    for c in old.columns
                ]
            )
        vals = [
            c for c in new.columns if c in old.columns and c not in keys
        ]
        o = old.select(
            *keys,
            *[F.col(c).alias(f"_o_{c}") for c in vals],
            F.lit(True).alias("_in_old"),
        )
        n = new.select(
            *keys,
            *[F.col(c).alias(f"_n_{c}") for c in vals],
            F.lit(True).alias("_in_new"),
        )
        j = o.join(n, keys, "full_outer")
        same = F.lit(True)
        for c in vals:
            same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))

        def img(side: str, tag: str):
            return F.struct(
                F.lit(tag).alias("_change_type"),
                *[F.col(f"_{side}_{c}").alias(c) for c in vals],
            )

        # unchanged rows inside a rewritten bucket drop out BEFORE the
        # explode — the remaining three cases are exhaustive
        j = j.filter(
            F.col("_in_old").isNull() | F.col("_in_new").isNull() | ~same
        )
        entries = (
            F.when(F.col("_in_old").isNull(), F.array(img("n", "insert")))
            .when(F.col("_in_new").isNull(), F.array(img("o", "delete")))
            .otherwise(
                F.array(
                    img("o", "update_preimage"),
                    img("n", "update_postimage"),
                )
            )
        )
        e = j.select(*keys, F.explode(entries).alias("_e"))
        return e.select(
            F.col("_e._change_type").alias("_change_type"),
            *keys,
            *[F.col(f"_e.{c}").alias(c) for c in vals],
        )
