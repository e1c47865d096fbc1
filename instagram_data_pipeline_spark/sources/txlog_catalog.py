"""SQL surface for transaction-log tables: snapshot + time travel
through ``spark.sql`` (VERDICT r8 Next #5).

A real user's first attempt at a table format is

    spark.sql("SELECT ... FROM orders VERSION AS OF 3")

Spark only parses ``VERSION AS OF`` into a resolvable relation for
DSv2 catalog tables, and the PySpark 4 Python DataSource API (which
``format("txlog")`` is built on, `txlog_source.py`) has no catalog
plugin hook — a Python process cannot register a JVM `TableCatalog`.
So the SQL ergonomics layer is an explicit, documented shim:

* ``register(name, root)`` publishes the table's LATEST snapshot as a
  temp view ``name`` (re-resolved against the newest manifest on every
  execution — the reader loads the manifest per scan, so new commits
  are visible without re-registering);
* ``sql(query)`` rewrites ``<name> VERSION AS OF <n>`` (and the
  ``FOR SYSTEM_VERSION AS OF <n>`` spelling) into per-version temp
  views backed by ``option("version", n)`` reads, then hands the
  rewritten text to ``spark.sql``. Rewrites touch ONLY registered
  names OUTSIDE string literals and comments (the rewriter masks
  ``'...'``/``"..."`` literals, ``--`` line comments, and nested
  ``/* */`` bracketed comments before matching), so arbitrary SQL
  passes through byte-identical;
* ``sql(query)`` additionally executes the transactional DML
  statements a table format owes its users — the restricted
  Delta-style ``MERGE INTO``, plus ``UPDATE <name> SET ... WHERE
  <key-pred>`` and ``DELETE FROM <name> WHERE <key-pred>`` — by
  mapping them onto the format's existing primitives
  (``merge_source_wins`` / ``delete_keys_dv``). The WHERE clause
  must reference ONLY the table's recorded merge keys (key-scoped
  DML is the storage contract: a key names a whole logical row);
  anything else is refused loudly, mirroring the MERGE validation.
  ``INSERT INTO`` completes the DML square — append through the same
  merge machinery with the key-unique contract enforced up front
  (bucket-scoped existence probe, never a full-table anti-join) —
  and ``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF`` rolls back as
  a forward commit (``restore_version``: one manifest, zero data
  files, history intact);
* the maintenance statements complete the story: ``OPTIMIZE <name>
  [ZORDER BY (...)]`` runs the format's small-file compaction /
  Z-curve re-cluster, and ``VACUUM <name> [RETAIN n HOURS] [KEEP k
  VERSIONS]`` reclaims orphaned files (plus, with KEEP, expired
  manifest versions' files) — each returning a metrics frame.

Everything downstream is the ordinary txlog DataSource scan: manifest
schema, one input partition per surviving file, zone-map/bloom
pushdown via Spark's own ``pushFilters`` — the shim adds parsing
sugar, never a second execution path. At 100 TB the per-version views
cost one manifest read each; data files are only opened by the scan
itself.

No reference analog (the reference delegates storage to PostgreSQL);
this is the "table format speaks SQL time travel" leg of the
Delta/Iceberg story (`DeltaCatalog` / Iceberg's `SparkCatalog`),
re-expressed within what a pure-Python engine can register.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .txlog_source import TxlogDataSource, _load_manifest

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# `<name> VERSION AS OF <n>` or `<name> FOR [SYSTEM_]VERSION AS OF <n>`
_TRAVEL = re.compile(
    rf"\b({_IDENT})\s+(?:FOR\s+)?(?:SYSTEM_)?VERSION\s+AS\s+OF\s+(\d+)",
    re.IGNORECASE,
)
# `<name> TIMESTAMP AS OF '<ts>'` / `<name> FOR SYSTEM_TIME AS OF '<ts>'`
_TRAVEL_TS = re.compile(
    rf"\b({_IDENT})\s+(?:FOR\s+)?(?:SYSTEM_TIME|TIMESTAMP)\s+AS\s+OF\s+"
    r"'([^']+)'",
    re.IGNORECASE,
)
# restricted MERGE INTO (the Delta simple-merge / source-wins form):
#   MERGE INTO <target> USING <source> [AS alias] ON <equi-keys>
#   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
_MERGE = re.compile(
    rf"^\s*MERGE\s+INTO\s+({_IDENT})\s+(?:AS\s+)?(?:({_IDENT})\s+)?"
    rf"USING\s+({_IDENT})\s+(?:AS\s+)?(?:({_IDENT})\s+)?"
    r"ON\s+(.*?)\s+"
    r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+"
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ON_EQ = re.compile(
    rf"({_IDENT})\s*\.\s*({_IDENT})\s*=\s*({_IDENT})\s*\.\s*({_IDENT})"
)
# key-scoped DML: the restricted grammar is the contract (no
# subqueries in SET/WHERE — the first WHERE keyword splits the clause)
_DELETE = re.compile(
    rf"^\s*DELETE\s+FROM\s+({_IDENT})\s+WHERE\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE = re.compile(
    rf"^\s*UPDATE\s+({_IDENT})\s+SET\s+(.*?)\s+WHERE\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ASSIGN = re.compile(rf"^\s*({_IDENT})\s*=\s*(.+?)\s*$", re.DOTALL)
# INSERT INTO with an optional column list; the tail is any query
# body Spark can run (VALUES / SELECT / WITH / TABLE), time-travel
# rewrites included
_INSERT = re.compile(
    rf"^\s*INSERT\s+INTO\s+({_IDENT})\s*"
    rf"(?:\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\))?\s*"
    r"((?:VALUES|SELECT|WITH|TABLE|FROM)\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# INSERT OVERWRITE [TABLE] <name> [(cols)] [WHERE <pred>] <query>:
# replace the DATA under the recorded contract — one forward commit,
# history preserved. With WHERE, a PREDICATE-SCOPED rewrite (Delta
# replaceWhere): only matching rows are replaced, the rest carry by
# reference. The predicate is plain column expressions over the TARGET
# table (no subqueries — the first VALUES/SELECT/WITH/TABLE/FROM
# keyword ends it, the same restricted-grammar contract as key-scoped
# DML).
_INSERT_OVERWRITE = re.compile(
    rf"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?({_IDENT})\s*"
    rf"(?:\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\))?\s*"
    r"(?:WHERE\s+(.+?)\s+)?"
    r"((?:VALUES|SELECT|WITH|TABLE|FROM)\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE = re.compile(
    rf"^\s*TRUNCATE\s+TABLE\s+({_IDENT})\s*;?\s*$", re.IGNORECASE
)
# RESTORE TABLE <t> TO VERSION AS OF <n> | TO TIMESTAMP AS OF '<ts>'
_RESTORE = re.compile(
    rf"^\s*RESTORE\s+(?:TABLE\s+)?({_IDENT})\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# DDL: CREATE TABLE with the Hive/Spark CLUSTERED BY bucketing clause
# (this format's bucket contract IS a clustered-by spec), explicit
# LOCATION (the catalog addresses tables by root), column list XOR
# AS <query>
_CREATE = re.compile(
    rf"^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+"
    rf"(?:(IF\s+NOT\s+EXISTS)\s+)?({_IDENT})\s*"
    # lazy up to the ') USING' that ends the list, so parenthesized
    # types (DECIMAL(10,2), VARCHAR(8)) survive inside the column spec
    r"(?:\((.*?)\)\s*)?"
    r"USING\s+TXLOG\s+"
    r"CLUSTERED\s+BY\s*\(([^)]*)\)\s+INTO\s+(\d+)\s+BUCKETS\s+"
    r"LOCATION\s+'([^']+)'"
    r"(?:\s+AS\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP = re.compile(
    rf"^\s*DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?({_IDENT})"
    r"(?:\s+(PURGE))?\s*;?\s*$",
    re.IGNORECASE,
)
# ALTER TABLE — the four metadata-only schema-evolution spellings
# (Spark's own syntax); each maps to one manifest publish
_ALTER = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RENAME = re.compile(
    rf"^RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})$", re.IGNORECASE
)
_ALTER_DROPCOL = re.compile(
    rf"^DROP\s+COLUMN\s+({_IDENT})$", re.IGNORECASE
)
# Capture the whole column spec and hand it to Spark's own DDL parser
# (StructType.fromDDL) — a field-by-field regex mangled both the
# plural 'ADD COLUMNS (a INT, b STRING)' spelling (silently dropping
# every column after the first) and parenthesized types like
# DECIMAL(10,2) (ADVICE r10)
_ALTER_ADD = re.compile(
    r"^ADD\s+COLUMNS?\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_ALTER_TYPE = re.compile(
    rf"^ALTER\s+COLUMN\s+({_IDENT})\s+TYPE\s+([A-Za-z0-9_]+)$",
    re.IGNORECASE,
)
# SET NOT NULL: the VALIDATED promote (one existing-rows scan, like
# ADD CONSTRAINT) that the metadata-only ``ADD COLUMN ... NOT NULL``
# refusal points at; DROP NOT NULL releases it with no scan
_ALTER_SETNN = re.compile(
    rf"^ALTER\s+COLUMN\s+({_IDENT})\s+SET\s+NOT\s+NULL$", re.IGNORECASE
)
_ALTER_DROPNN = re.compile(
    rf"^ALTER\s+COLUMN\s+({_IDENT})\s+DROP\s+NOT\s+NULL$", re.IGNORECASE
)
_ALTER_ADDCON = re.compile(
    rf"^ADD\s+CONSTRAINT\s+({_IDENT})\s+CHECK\s*\((.+)\)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROPCON = re.compile(
    rf"^DROP\s+CONSTRAINT\s+(?:(IF\s+EXISTS)\s+)?({_IDENT})$",
    re.IGNORECASE,
)
# CONVERT TO TXLOG: adopt a flat parquet directory in place (the
# Delta CONVERT TO DELTA shape) under a declared key contract
_CONVERT = re.compile(
    rf"^\s*CONVERT\s+TO\s+TXLOG\s+({_IDENT})\s+"
    r"LOCATION\s+'([^']+)'\s+"
    r"CLUSTERED\s+BY\s*\(([^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
# SHOW TXLOG TABLES (distinct spelling: Spark's own SHOW TABLES lists
# every temp view and must keep doing so — this one reports the
# catalog's registry with roots and versions)
_SHOW = re.compile(r"^\s*SHOW\s+TXLOG\s+TABLES\s*;?\s*$", re.IGNORECASE)
_DETAIL = re.compile(
    rf"^\s*DESCRIBE\s+DETAIL\s+({_IDENT})\s*;?\s*$", re.IGNORECASE
)
# maintenance statements (Delta spellings; KEEP n VERSIONS is this
# format's explicit retention extension — see sql() docstring)
_OPTIMIZE = re.compile(
    rf"^\s*OPTIMIZE\s+({_IDENT})"
    r"(?:\s+ZORDER\s+BY\s+\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM = re.compile(
    rf"^\s*VACUUM\s+({_IDENT})"
    r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?"
    r"(?:\s+KEEP\s+(\d+)\s+VERSIONS)?\s*;?\s*$",
    re.IGNORECASE,
)


def _strip_wrapping_parens(s: str) -> str:
    """Remove parens only when they wrap the WHOLE string as one
    balanced pair — ``(a INT, b STRING)`` loses them, but the closing
    paren of ``a DECIMAL(10,2)`` is part of the type and survives."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, c in enumerate(s):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    return s  # first paren closes mid-string: not a wrapper
        s = s[1:-1].strip()
    return s


def _parse_add_columns_spec(spec: str) -> list:
    """Parse the column spec of ``ADD COLUMN[S]`` with Spark's own DDL
    parser so every accepted spelling is handled in full: multi-column
    lists become one field each (never silently truncated to the
    first) and parenthesized types — DECIMAL(10,2), VARCHAR(8) —
    parse instead of failing (ADVICE r10). Returns [(name, DataType)]."""
    from pyspark.sql.types import StructType

    ddl = _strip_wrapping_parens(spec)
    try:
        struct = StructType.fromDDL(ddl)
    except Exception as exc:
        raise ValueError(
            f"ALTER TABLE ADD COLUMN(S): cannot parse column spec "
            f"{spec!r}: {exc}"
        ) from None
    if not struct.fields:
        raise ValueError(
            f"ALTER TABLE ADD COLUMN(S): empty column spec {spec!r}"
        )
    banned = [f.name for f in struct.fields if not f.nullable]
    if banned:
        # a metadata-only ADD cannot honor NOT NULL: every existing
        # file reads the new column back as NULL. Silently recording
        # it nullable would invert the declared contract (ADVICE r11);
        # Delta refuses NOT NULL adds on existing tables for the same
        # reason.
        raise ValueError(
            f"ALTER TABLE ADD COLUMN(S): column(s) {banned} declare "
            f"NOT NULL, but a metadata-only add reads existing rows "
            f"back as NULL — add the column nullable, backfill, then "
            f"promote with ALTER COLUMN <c> SET NOT NULL (or enforce "
            f"via ADD CONSTRAINT)"
        )
    return [(f.name, f.dataType) for f in struct.fields]


def _masked_spans(text: str) -> list[tuple[int, int]]:
    """Half-open [start, end) spans of string literals ('' and \\'
    escapes honored), double-quoted literals, ``--`` line comments,
    and nested ``/* */`` bracketed comments — the regions the
    time-travel rewriter must never touch (ADVICE r9: a table name
    inside a literal/comment was being rewritten)."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'" or c == '"':
            j = i + 1
            while j < n:
                if text[j] == "\\":
                    j += 2
                    continue
                if text[j] == c:
                    if c == "'" and j + 1 < n and text[j + 1] == "'":
                        j += 2  # '' escape
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n)))
            i = min(j + 1, n)
        elif text.startswith("--", i):
            j = text.find("\n", i)
            j = n if j == -1 else j
            spans.append((i, j))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


def _sub_outside_literals(pattern: re.Pattern, repl, text: str) -> str:
    """``pattern.sub(repl, text)`` restricted to matches that START
    outside every literal/comment span (splice-based so replacement
    lengths may differ)."""
    spans = _masked_spans(text)
    out, last = [], 0
    for m in pattern.finditer(text):
        if any(a <= m.start() < b for a, b in spans):
            continue
        out.append(text[last: m.start()])
        out.append(repl(m))
        last = m.end()
    out.append(text[last:])
    return "".join(out)


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0 and outside string literals —
    SET lists may hold function calls with commas."""
    parts, cur, depth = [], [], 0
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            j = i + 1
            while j < n and text[j] != "'":
                j += 2 if text[j] == "\\" else 1
            cur.append(text[i: j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    parts.append("".join(cur))
    return parts


class TxlogSqlCatalog:
    """Name -> table-root registry exposing txlog tables to SQL text,
    snapshot and time travel included. One instance per SparkSession;
    view names are plain temp views, so they compose with every other
    registered view (testdata tables, CTEs, joins across versions)."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.roots: dict[str, str] = {}
        spark.dataSource.register(TxlogDataSource)
        # the reader implements pushFilters, which Spark refuses to
        # plan unless the session opts in; set-and-leave (views plan
        # at execution time, after any registering function returns)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    # -- registration -------------------------------------------------------
    def register(self, name: str, root: str) -> None:
        """Publish the LATEST snapshot of the table at ``root`` as temp
        view ``name``. The Python DataSource pins the manifest when the
        view is created, so ``sql()`` transparently re-registers the
        latest view of every referenced table before parsing — direct
        ``spark.sql`` users see the version current as of the last
        ``register``/``sql`` call."""
        if not re.fullmatch(_IDENT, name):
            raise ValueError(f"txlog catalog: invalid table name {name!r}")
        self.roots[name] = root
        self.spark.read.format("txlog").load(root).createOrReplaceTempView(
            name
        )

    def snapshot(self, name: str, version: int | None = None) -> DataFrame:
        """DataFrame of one version (latest when ``version`` is None) —
        the programmatic twin of the SQL surface."""
        root = self._root(name)
        reader = self.spark.read.format("txlog")
        if version is not None:
            reader = reader.option("version", int(version))
        return reader.load(root)

    def versions(self, name: str) -> list[int]:
        """Committed version numbers of a registered table (ascending)."""
        import os

        log = os.path.join(self._root(name), "_txlog")
        return sorted(
            int(n.split(".")[0])
            for n in os.listdir(log)
            if n.endswith(".json") and not n.startswith(".")
        )

    def _root(self, name: str) -> str:
        if name not in self.roots:
            raise KeyError(
                f"txlog catalog: {name!r} is not registered "
                f"(known: {sorted(self.roots)})"
            )
        return self.roots[name]

    # -- SQL with time travel ------------------------------------------------
    def _travel_view(self, name: str, version: int) -> str:
        """Materialize (idempotently) the temp view serving one pinned
        version and return its view name. Manifests are immutable, so
        the view never goes stale; re-creating it is a no-op."""
        root = self._root(name)
        # fail fast with a catalog-level error instead of a deep scan
        # error when the version was never committed / already expired
        _load_manifest(root, str(version))
        view = f"{name}__v{int(version)}"
        (
            self.spark.read.format("txlog")
            .option("version", int(version))
            .load(root)
            .createOrReplaceTempView(view)
        )
        return view

    def _session_tzinfo(self):
        """tzinfo for ``spark.sql.session.timeZone`` — region names via
        zoneinfo, ``GMT+8`` / ``+08:00`` style fixed offsets parsed
        directly. Commit stamps are UTC epochs; naive AS-OF timestamps
        resolve in the session zone (Delta's semantics)."""
        import datetime as dt

        tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
        tz = (tz or "UTC").strip()
        m = re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2}):?(\d{2})?", tz)
        if m:
            sign = 1 if m.group(1) == "+" else -1
            delta = dt.timedelta(
                hours=int(m.group(2)), minutes=int(m.group(3) or 0)
            )
            return dt.timezone(sign * delta)
        from zoneinfo import ZoneInfo

        return ZoneInfo(tz)  # raises on garbage — loud beats wrong

    def version_as_of(self, name: str, ts: "str | float") -> int:
        """Newest committed version whose commit stamp is <= ``ts``
        (Delta TIMESTAMP AS OF semantics). ``ts`` is an ISO string
        (explicit UTC offsets honored; NAIVE timestamps resolve in
        ``spark.sql.session.timeZone``, never the driver process's
        local zone — ADVICE r9) or an epoch-seconds float; manifests
        predating the commit stamp fall back to the manifest file's
        mtime."""
        import datetime as dt
        import os

        if isinstance(ts, str):
            parsed = dt.datetime.fromisoformat(ts)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=self._session_tzinfo())
            at = parsed.timestamp()
        else:
            at = float(ts)
        root = self._root(name)
        log = os.path.join(root, "_txlog")
        best = None
        for v in self.versions(name):
            snap = _load_manifest(root, str(v))
            stamp = snap.get("committed_at")
            if stamp is None:
                stamp = os.path.getmtime(
                    os.path.join(log, f"{v:08d}.json")
                )
            if float(stamp) <= at:
                best = v
        if best is None:
            raise ValueError(
                f"txlog catalog: {name!r} has no version committed at "
                f"or before {ts!r} (earliest is after it)"
            )
        return best

    def history(self, name: str) -> DataFrame:
        """``DESCRIBE HISTORY`` analog: one row per committed version —
        (version, committed_at, n_files, n_rows, n_deleted, n_buckets,
        n_constraints) — computed from the manifests alone
        (control-plane sized, no data file opened). ``committed_at``
        is NULL for manifests predating the commit stamp; ``n_rows``
        is the LIVE row count (recorded footer counts minus
        deletion-vector popcounts), NULL for pre-rows manifests;
        ``n_constraints`` makes constraint commits (r12: one CAS
        manifest publish each) visible in history instead of reading
        as anonymous version bumps — NULL for manifests predating
        constraint recording."""
        import datetime as dt

        root = self._root(name)
        out = []
        for v in self.versions(name):
            snap = _load_manifest(root, str(v))
            rows = snap.get("rows")
            dv = snap.get("dv", {})
            n_deleted = sum(
                int(e.get("n", 0)) for e in dv.values() if e
            )
            n_rows = (
                sum(int(rows.get(f, 0)) for f in snap["files"]) - n_deleted
                if rows is not None
                else None
            )
            stamp = snap.get("committed_at")
            out.append(
                (
                    v,
                    # tz-AWARE: a naive fromtimestamp() is the driver
                    # process's local wall clock, which PySpark would
                    # re-interpret under a different zone — the same
                    # hazard class version_as_of fixed (ADVICE r9);
                    # aware datetimes store the exact epoch, rendered
                    # in spark.sql.session.timeZone like every
                    # TimestampType
                    dt.datetime.fromtimestamp(stamp, dt.timezone.utc)
                    if stamp
                    else None,
                    len(snap["files"]),
                    n_rows,
                    n_deleted,
                    snap.get("num_buckets"),
                    (
                        len(snap["constraints"])
                        if "constraints" in snap
                        else None
                    ),
                )
            )
        return self.spark.createDataFrame(
            out,
            "version int, committed_at timestamp, n_files int, "
            "n_rows long, n_deleted long, n_buckets int, "
            "n_constraints int",
        )

    def merge_into(self, target: str, source_df: DataFrame) -> DataFrame:
        """Programmatic MERGE INTO (source-wins upsert) against a
        registered table: keys and bucket modulus come from the
        table's recorded contract, concurrency from the format's CAS
        machinery. Returns a 1-row metrics frame (Delta-style)."""
        from ..formats import TransactionLogFormat

        root = self._root(target)
        snap = _load_manifest(root, None)
        keys, num_buckets = snap.get("keys"), snap.get("num_buckets")
        if not keys or not num_buckets:
            raise ValueError(
                f"txlog catalog: {target!r} records no key/bucket "
                f"contract; MERGE INTO needs both"
            )
        fmt = TransactionLogFormat()
        handle = _TableHandle(self.spark, root)
        self._enforce_constraints(target, source_df, "MERGE INTO")
        n_source = source_df.count()
        fmt.merge_source_wins(
            handle, target, source_df, list(keys), int(num_buckets)
        )
        self.register(target, root)  # latest view reflects the merge
        new_version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(n_source, int(new_version))],
            "num_source_rows long, table_version long",
        )

    def sql(self, query: str) -> DataFrame:
        """``spark.sql`` with txlog extensions for registered tables:

        * ``<name> VERSION AS OF <n>`` / ``<name> TIMESTAMP AS OF
          '<ts>'`` (also the ``FOR SYSTEM_VERSION/SYSTEM_TIME``
          spellings) rewrite to pinned-version temp views;
        * ``MERGE INTO <name> USING <view> ON <keys> WHEN MATCHED THEN
          UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` executes the
          format's source-wins transactional merge and returns a
          metrics frame;
        * ``UPDATE <name> SET col = expr, ... WHERE <key-pred>`` and
          ``DELETE FROM <name> WHERE <key-pred>`` execute as the
          format's transactional merge / deletion-vector delete; the
          WHERE clause must reference only the recorded merge keys;
        * ``INSERT INTO <name> [(cols)] VALUES ... | SELECT ...``
          appends through the same transactional merge with the
          key-unique contract enforced (colliding keys refused loudly
          — batch-internal, NULL, or already present); the source
          tail may itself time travel;
        * ``INSERT OVERWRITE [TABLE] <name> [(cols)] <query>``
          replaces the DATA under the recorded contract as ONE
          forward commit (files written first, so a self-referencing
          source reads the pre-overwrite table; history preserved);
          ``TRUNCATE TABLE <name>`` is the empty-file-set spelling of
          the same commit (constraints kept — they govern future
          writes);
        * ``RESTORE TABLE <name> TO VERSION AS OF <n>`` (or ``TO
          TIMESTAMP AS OF '<ts>'``) rolls the table back as a forward
          commit: one manifest published, zero data files written,
          history preserved;
        * ``OPTIMIZE <name> [ZORDER BY (c1, ...)]`` compacts small
          files (ZORDER: full Z-curve re-cluster); ``VACUUM <name>
          [RETAIN n HOURS] [KEEP k VERSIONS]`` deletes orphaned files
          (KEEP additionally expires old manifest versions first);
        * DDL/introspection: ``CREATE [OR REPLACE] TABLE [IF NOT
          EXISTS] <name> [(cols)] USING txlog CLUSTERED BY (keys)
          INTO <n> BUCKETS LOCATION '<root>' [AS <query>]``,
          ``DROP TABLE <name> [PURGE]`` (registered names; data stays
          without PURGE), ``ALTER TABLE <name> RENAME COLUMN / DROP
          COLUMN / ADD COLUMN / ALTER COLUMN ... TYPE`` (metadata-only
          schema evolution, one manifest publish each), ``ALTER TABLE
          <name> ADD CONSTRAINT n CHECK (expr) / DROP CONSTRAINT n``
          (sidecar-recorded; every INSERT/UPDATE/MERGE INTO through
          this catalog validates its rows against the recorded
          checks), ``SHOW TXLOG TABLES``, ``DESCRIBE DETAIL <name>``,
          ``DESCRIBE HISTORY <name>``;
        * everything else passes through to ``spark.sql`` untouched
          (unregistered names included). Rewrites never fire inside
          string literals or comments."""
        cm = _CREATE.match(query)
        if cm:  # USING TXLOG makes it ours, registered or not
            return self._sql_create(cm)
        cv = _CONVERT.match(query)
        if cv:  # CONVERT TO TXLOG is ours by spelling
            return self._sql_convert(cv)
        drm = _DROP.match(query)
        if drm and drm.group(2) in self.roots:
            return self._sql_drop(drm)
        am = _ALTER.match(query)
        if am and am.group(1) in self.roots:
            return self._sql_alter(am)
        if _SHOW.match(query):
            return self._show_tables()
        dd = _DETAIL.match(query)
        if dd and dd.group(1) in self.roots:
            return self.detail(dd.group(1))
        m = _MERGE.match(query)
        if m and m.group(1) in self.roots:
            return self._sql_merge(m)
        um = _UPDATE.match(query)
        if um and um.group(1) in self.roots:
            return self._sql_update(um)
        dm = _DELETE.match(query)
        if dm and dm.group(1) in self.roots:
            return self._sql_delete(dm)
        iom = _INSERT_OVERWRITE.match(query)
        if iom and iom.group(1) in self.roots:
            return self._sql_insert_overwrite(iom)
        tm = _TRUNCATE.match(query)
        if tm and tm.group(1) in self.roots:
            return self._sql_truncate(tm)
        im = _INSERT.match(query)
        if im and im.group(1) in self.roots:
            return self._sql_insert(im)
        rm = _RESTORE.match(query)
        if rm and rm.group(1) in self.roots:
            return self._sql_restore(rm)
        om = _OPTIMIZE.match(query)
        if om and om.group(1) in self.roots:
            return self._sql_optimize(om)
        vm = _VACUUM.match(query)
        if vm and vm.group(1) in self.roots:
            return self._sql_vacuum(vm)
        dh = re.match(
            rf"^\s*DESCRIBE\s+HISTORY\s+({_IDENT})\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if dh and dh.group(1) in self.roots:
            return self.history(dh.group(1))
        return self._run_select(query)

    def _run_select(self, query: str) -> DataFrame:
        """The read path shared by ``sql()`` and INSERT INTO's source
        tail: time-travel rewrites (outside literals/comments), latest-
        view refresh for referenced tables, then ``spark.sql``."""

        def repl(mt: re.Match) -> str:
            name, version = mt.group(1), int(mt.group(2))
            if name not in self.roots:
                return mt.group(0)  # not ours: leave for Spark to judge
            return self._travel_view(name, version)

        def repl_ts(mt: re.Match) -> str:
            name, ts = mt.group(1), mt.group(2)
            if name not in self.roots:
                return mt.group(0)
            return self._travel_view(name, self.version_as_of(name, ts))

        rewritten = _sub_outside_literals(_TRAVEL, repl, query)
        rewritten = _sub_outside_literals(_TRAVEL_TS, repl_ts, rewritten)
        # refresh the LATEST view of every referenced table: the
        # DataSource pins its manifest at view creation, so a commit
        # since then would otherwise be invisible (one manifest-JSON
        # read per referenced table — control-plane sized). Masked
        # text so a name appearing only inside a literal/comment
        # doesn't trigger a refresh.
        spans = _masked_spans(rewritten)
        plain = "".join(
            " " if any(a <= i < b for a, b in spans) else ch
            for i, ch in enumerate(rewritten)
        )
        for name, root in self.roots.items():
            if re.search(rf"\b{name}\b", plain):
                self.register(name, root)
        return self.spark.sql(rewritten)

    def _sql_merge(self, m: re.Match) -> DataFrame:
        """Execute a parsed MERGE INTO statement. The ON clause must be
        a conjunction of equality predicates pairing the SAME column
        name across the two aliases, and that column set must equal the
        table's recorded merge keys — anything else is rejected loudly
        (the restricted grammar IS the contract; a silently-narrowed
        MERGE would corrupt data)."""
        target, t_alias, source, s_alias, cond = (
            m.group(1), m.group(2), m.group(3), m.group(4), m.group(5),
        )
        # SQL scoping: once an alias is declared, the base name is no
        # longer a valid qualifier; each equality must pair exactly one
        # target-side and one source-side qualifier (ADVICE r9: the old
        # single-set check accepted degenerate `ON t.k = t.k`, silently
        # merging on the recorded keys while the text said TRUE)
        t_quals = {t_alias} if t_alias else {target}
        s_quals = {s_alias} if s_alias else {source}
        if t_quals & s_quals:
            raise ValueError(
                f"MERGE INTO: target and source share a qualifier "
                f"{sorted(t_quals & s_quals)} — alias one of them"
            )
        stripped = _ON_EQ.sub("", cond)
        if re.sub(r"(?i)\bAND\b|\s", "", stripped):
            raise ValueError(
                f"MERGE INTO: unsupported ON clause {cond!r} — only "
                f"AND-ed equality predicates on the merge keys are "
                f"supported"
            )
        keys = set()
        for qa, ca, qb, cb in _ON_EQ.findall(cond):
            side_a = "t" if qa in t_quals else "s" if qa in s_quals else None
            side_b = "t" if qb in t_quals else "s" if qb in s_quals else None
            if side_a is None or side_b is None or side_a == side_b:
                raise ValueError(
                    f"MERGE INTO: ON predicate {qa}.{ca} = {qb}.{cb} "
                    f"must pair exactly one target-side and one "
                    f"source-side column (target: {sorted(t_quals)}, "
                    f"source: {sorted(s_quals)})"
                )
            if ca != cb:
                raise ValueError(
                    f"MERGE INTO: ON pairs different columns "
                    f"({qa}.{ca} = {qb}.{cb}); only same-named key "
                    f"equality is supported"
                )
            keys.add(ca)
        snap = _load_manifest(self._root(target), None)
        recorded = set(snap.get("keys") or [])
        if keys != recorded:
            raise ValueError(
                f"MERGE INTO: ON keys {sorted(keys)} != the table's "
                f"recorded merge keys {sorted(recorded)}"
            )
        return self.merge_into(target, self.spark.table(source))

    # -- key-scoped DML (UPDATE / DELETE) ------------------------------------
    def _dml_contract(self, name: str) -> tuple[str, list[str], int]:
        root = self._root(name)
        snap = _load_manifest(root, None)
        keys, num_buckets = snap.get("keys"), snap.get("num_buckets")
        if not keys or not num_buckets:
            raise ValueError(
                f"txlog catalog: {name!r} records no key/bucket "
                f"contract; UPDATE/DELETE need both"
            )
        return root, list(keys), int(num_buckets)

    def _key_predicate(self, name: str, keys: list[str], pred: str,
                       stmt: str) -> DataFrame:
        """Validate that ``pred`` references ONLY the recorded merge
        keys — analysis over an EMPTY keys-only LocalRelation makes
        Spark the judge, no expression parser (a projection of the
        real scan would not do: ResolveMissingReferences happily
        resolves filter columns through a Project into its child) —
        and return the filtered distinct-key frame. Key-scoped DML is
        the contract: a key names a whole logical row, so a non-key
        predicate (which could hit a strict subset of a key's rows
        under future multi-row keys, and defeats bucket pruning) is
        refused."""
        from pyspark.sql.types import StructType

        snap_df = self.snapshot(name)
        probe_schema = StructType(
            [f for f in snap_df.schema.fields if f.name in keys]
        )
        try:
            self.spark.createDataFrame([], probe_schema).where(pred)
        except Exception as e:
            raise ValueError(
                f"{stmt}: WHERE clause {pred!r} must reference only "
                f"the table's recorded merge keys {sorted(keys)} — "
                f"non-key predicates are refused ({e})"
            ) from None
        return snap_df.select(*keys).where(pred).dropDuplicates()

    def _sql_delete(self, m: re.Match) -> DataFrame:
        """``DELETE FROM <name> WHERE <key-pred>`` → the format's
        MERGE-ON-READ deletion-vector path (`formats.py
        delete_keys_dv`): zero data files rewritten, one manifest
        published. Returns a Delta-style metrics frame."""
        from ..formats import TransactionLogFormat

        name, pred = m.group(1), m.group(2)
        root, keys, num_buckets = self._dml_contract(name)
        victims = self._key_predicate(name, keys, pred, "DELETE")
        fmt = TransactionLogFormat()
        n = fmt.delete_keys_dv(
            _TableHandle(self.spark, root), name, keys, victims,
            num_buckets,
        )
        self.register(name, root)  # latest view reflects the delete
        version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(int(n), int(version))],
            "num_affected_rows long, table_version long",
        )

    def _sql_update(self, m: re.Match) -> DataFrame:
        """``UPDATE <name> SET col = expr, ... WHERE <key-pred>`` →
        source-wins merge of the matched rows with the assignments
        applied (all SET expressions see the OLD row values, standard
        UPDATE semantics). Key columns cannot be SET (that would be a
        re-key, which the format's evolution rules refuse anyway);
        returns a Delta-style metrics frame."""
        from pyspark.sql import functions as F

        from ..formats import TransactionLogFormat

        name, set_clause, pred = m.group(1), m.group(2), m.group(3)
        root, keys, num_buckets = self._dml_contract(name)
        assignments: dict[str, str] = {}
        for part in _split_top_level(set_clause):
            am = _ASSIGN.match(part)
            if not am:
                raise ValueError(
                    f"UPDATE: unsupported SET assignment {part.strip()!r}"
                    f" — expected `column = expression`"
                )
            col, expr = am.group(1), am.group(2)
            if col in keys:
                raise ValueError(
                    f"UPDATE: cannot SET key column {col!r} (recorded "
                    f"merge keys: {sorted(keys)})"
                )
            if col in assignments:
                raise ValueError(f"UPDATE: column {col!r} SET twice")
            assignments[col] = expr
        self._key_predicate(name, keys, pred, "UPDATE")  # validate only
        cur = self.snapshot(name)
        unknown = set(assignments) - set(cur.columns)
        if unknown:
            raise ValueError(
                f"UPDATE: unknown column(s) {sorted(unknown)} "
                f"(table has {cur.columns})"
            )
        matched = cur.where(pred)
        # one select → every SET expression evaluates against the OLD
        # row; schema (names, order) preserved for the merge contract
        updated = matched.select(
            *[
                F.expr(assignments[c]).cast(cur.schema[c].dataType)
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in cur.columns
            ]
        )
        n = matched.count()
        if n:  # an empty match publishes no version (Delta-alike)
            self._enforce_constraints(name, updated, "UPDATE")
            fmt = TransactionLogFormat()
            fmt.merge_source_wins(
                _TableHandle(self.spark, root), name, updated, keys,
                num_buckets,
            )
        self.register(name, root)  # latest view reflects the update
        version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(int(n), int(version))],
            "num_affected_rows long, table_version long",
        )

    def _sql_insert(self, m: re.Match) -> DataFrame:
        """``INSERT INTO <name> [(cols)] VALUES ... | SELECT ...`` →
        the format's transactional merge, with the KEY-UNIQUE contract
        enforced loudly first: the table records merge keys (a key
        names exactly one logical row), so an INSERT whose keys
        collide — within the batch or with existing rows — is refused
        with a pointer at MERGE INTO / UPDATE, never silently
        upserted. The existence probe reads ONLY the buckets the new
        keys hash to (`read_for_keys` — manifest-indexed, bloom-pruned
        — the 100 TB point-lookup path, not a full-table anti-join).

        Column rules (Delta/ANSI): no column list → positional, full
        arity; with a list → listed columns map positionally to the
        source, every merge key must be listed, unlisted table columns
        null-fill; every column casts to the table's recorded type.
        The source tail is any query body ``sql()`` can read —
        time-travel rewrites included, so
        ``INSERT INTO t SELECT ... FROM u VERSION AS OF 3`` works.

        Enforcement is per-statement: two CONCURRENT INSERTs of the
        same new key can each pass the probe and then serialize
        through the merge CAS, resolving source-wins instead of
        erroring (the same outcome Delta gives, which checks nothing);
        within one statement the contract is airtight."""
        from ..formats import TransactionLogFormat

        name, cols_text, body = m.group(1), m.group(2), m.group(3)
        root, keys, num_buckets = self._dml_contract(name)
        aligned = self._aligned_insert_source(
            name, cols_text, body, keys, "INSERT"
        )
        self._check_key_unique(aligned, keys, "INSERT")
        self._enforce_constraints(name, aligned, "INSERT")
        fmt = TransactionLogFormat()
        handle = _TableHandle(self.spark, root)
        clash = fmt.read_for_keys(
            handle, name, keys, aligned.select(*keys), num_buckets
        ).count()
        if clash:
            raise ValueError(
                f"INSERT: {clash} key(s) already present in {name!r} "
                f"— the table records a key-unique contract; use "
                f"MERGE INTO to upsert or UPDATE to change rows"
            )
        n = aligned.count()
        if n:
            fmt.merge_source_wins(
                handle, name, aligned, keys, num_buckets
            )
        self.register(name, root)
        version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(int(n), int(version))],
            "num_inserted_rows long, table_version long",
        )

    def _aligned_insert_source(self, name: str, cols_text,
                               body: str, keys: list[str],
                               stmt: str) -> DataFrame:
        """Shared INSERT INTO / INSERT OVERWRITE source shaping.
        Column rules (Delta/ANSI): no column list → positional, full
        arity; with a list → listed columns map positionally to the
        source, every merge key must be listed, unlisted table columns
        null-fill; every column casts to the table's recorded type.
        The source tail is any query body ``sql()`` can read —
        time-travel rewrites included."""
        from pyspark.sql import functions as F

        src = self._run_select(body)
        cur = self.snapshot(name)
        table_cols = cur.columns
        if cols_text is not None:
            listed = [c.strip() for c in cols_text.split(",")]
            unknown = set(listed) - set(table_cols)
            if unknown:
                raise ValueError(
                    f"{stmt}: unknown column(s) {sorted(unknown)} "
                    f"(table has {table_cols})"
                )
            if len(listed) != len(set(listed)):
                raise ValueError(
                    f"{stmt}: duplicate column in list {listed}"
                )
            missing_keys = set(keys) - set(listed)
            if missing_keys:
                raise ValueError(
                    f"{stmt}: column list must include every merge "
                    f"key (missing: {sorted(missing_keys)})"
                )
        else:
            listed = list(table_cols)
        if len(src.columns) != len(listed):
            raise ValueError(
                f"{stmt}: source has {len(src.columns)} column(s), "
                f"target list has {len(listed)} ({listed})"
            )
        # positional mapping, then cast to the table's types and
        # null-fill unlisted columns — one projection, schema order
        # preserved for the merge contract
        named = src.toDF(*listed)
        return named.select(
            *[
                (
                    F.col(c) if c in listed else F.lit(None)
                ).cast(cur.schema[c].dataType).alias(c)
                for c in table_cols
            ]
        )

    def _sql_insert_overwrite(self, m: re.Match) -> DataFrame:
        """``INSERT OVERWRITE [TABLE] <name> [(cols)] [WHERE <pred>]
        VALUES ... | SELECT ...`` — replace the table's DATA under its
        RECORDED contract. With ``WHERE``, a PREDICATE-SCOPED rewrite
        (Delta ``replaceWhere``, `formats.replace_where`): exactly the
        matching rows are replaced by the source as ONE commit — every
        incoming row must itself satisfy the predicate, non-matching
        rows are untouched (carried by reference outside the touched
        buckets), and an incoming key already living on a
        NON-matching row is refused under the key-unique contract.
        Without ``WHERE``, the full-table replacement below.

        Full-table form: replace the table's DATA under its RECORDED
        contract (schema, merge keys, bucket modulus unchanged): the
        Spark/Delta statement for idempotent full rewrites. The new
        files are written ONCE, before the publish loop, then ONE
        forward commit publishes them (`formats.replace_table`); a
        self-referencing source (``... FROM <name>`` itself) works
        because the source's temp view PINNED its manifest when
        ``_run_select`` registered it — the scan serves the
        pre-overwrite snapshot however late it executes. Pre-overwrite
        versions stay time-travel-able until vacuumed. Column rules
        are INSERT's; the batch pays the same key-unique and
        CHECK-constraint enforcement (constraints are KEPT — the
        statement replaces data, not policy) — but no existence
        probe, since the old rows are going away. A concurrent DATA
        commit fails the overwrite loudly (blind replacement would
        silently discard it — the Delta WriteSerializable answer).
        Returns (num_overwritten_rows, table_version)."""
        import json as _json

        from pyspark.sql.types import StructType

        from ..formats import TransactionLogFormat

        name, cols_text, pred, body = (
            m.group(1), m.group(2), m.group(3), m.group(4),
        )
        root, keys, num_buckets = self._dml_contract(name)
        stmt = (
            "INSERT OVERWRITE ... WHERE" if pred else "INSERT OVERWRITE"
        )
        man = _load_manifest(root, None)
        schema = StructType.fromJson(_json.loads(man["schema"]))
        if pred is not None:
            # predicate-scoped rewrite (Delta replaceWhere): the
            # predicate must analyze against the TABLE's schema alone —
            # unknown or source-side columns are refused here. Checked
            # BEFORE the body parse and with the restricted grammar
            # spelled out (ADVICE r12): the lazy WHERE capture ends at
            # the first VALUES/SELECT/WITH/TABLE/FROM word, so a
            # predicate CONTAINING one of those keywords — a subquery,
            # `extract(epoch FROM ts)`, a keyword-bearing string
            # literal — mis-splits into a truncated predicate that
            # fails right here with the contract named, instead of a
            # baffling downstream body parse error.
            try:
                self.spark.createDataFrame([], schema).where(pred)
            except Exception as e:
                raise ValueError(
                    f"{stmt}: predicate ({pred}) does not analyze "
                    f"against {name!r}'s schema ({e}). Note the "
                    f"restricted grammar: the predicate is plain "
                    f"column expressions over the target table — no "
                    f"subqueries, and the words VALUES/SELECT/WITH/"
                    f"TABLE/FROM may not appear ANYWHERE inside it "
                    f"(not in extract(... FROM ...), not in string "
                    f"literals) because the first such word ends the "
                    f"predicate and starts the source query"
                ) from None
        aligned = self._aligned_insert_source(
            name, cols_text, body, keys, stmt
        )
        self._check_key_unique(aligned, keys, stmt)
        self._enforce_constraints(name, aligned, stmt)
        fmt = TransactionLogFormat()
        handle = _TableHandle(self.spark, root)
        if pred is not None:
            n_replaced, n_inserted = fmt.replace_where(
                handle, name, pred, aligned, keys, num_buckets,
                op=stmt,
            )
            self.register(name, root)
            version = _load_manifest(root, None)["version"]
            return self.spark.createDataFrame(
                [(int(n_replaced), int(n_inserted), int(version))],
                "num_replaced_rows long, num_inserted_rows long, "
                "table_version long",
            )
        n = aligned.count()
        fmt.replace_table(
            handle, name, schema, keys, num_buckets,
            df=aligned if n else None,
            keep_constraints=True, op="INSERT OVERWRITE",
        )
        self.register(name, root)
        version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(int(n), int(version))],
            "num_overwritten_rows long, table_version long",
        )

    def _sql_truncate(self, m: re.Match) -> DataFrame:
        """``TRUNCATE TABLE <name>`` — remove every row as ONE forward
        commit with an empty file set under the UNCHANGED recorded
        contract (Delta parity): zero data files touched — the old
        ones are simply no longer referenced — and every pre-truncate
        version stays time-travel-able until vacuumed. CHECK
        constraints are KEPT: they are policy over future writes, not
        over data. Returns (num_removed_rows, table_version)."""
        import json as _json

        from pyspark.sql.types import StructType

        from ..formats import TransactionLogFormat

        name = m.group(1)
        root, keys, num_buckets = self._dml_contract(name)
        fmt = TransactionLogFormat()
        handle = _TableHandle(self.spark, root)
        n = fmt.count_rows(handle, name)
        man = _load_manifest(root, None)
        schema = StructType.fromJson(_json.loads(man["schema"]))
        fmt.replace_table(
            handle, name, schema, keys, num_buckets,
            keep_constraints=True, op="TRUNCATE TABLE",
        )
        self.register(name, root)
        version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(int(n), int(version))],
            "num_removed_rows long, table_version long",
        )

    def _check_key_unique(self, df: DataFrame, keys: list[str],
                          stmt: str) -> None:
        """The key-unique half of the storage contract, enforced at
        the statement boundary: NULL keys and batch-internal duplicate
        keys are refused loudly (a merge would silently collapse them;
        the statement said INSERT/CREATE, not upsert)."""
        null_keys = df.where(
            " OR ".join(f"{k} IS NULL" for k in keys)
        ).count()
        if null_keys:
            raise ValueError(
                f"{stmt}: {null_keys} row(s) with NULL merge key(s) "
                f"{keys} — keys name logical rows and must be non-NULL"
            )
        dup_in_batch = (
            df.groupBy(*keys).count().where("count > 1").count()
        )
        if dup_in_batch:
            raise ValueError(
                f"{stmt}: {dup_in_batch} key(s) repeated within the "
                f"batch — the table records a key-unique contract"
            )

    # -- DDL (CREATE / DROP) + catalog introspection --------------------------
    def _sql_create(self, m: re.Match) -> DataFrame:
        """``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] <name>
        [(col type, ...)] USING txlog CLUSTERED BY (keys) INTO <n>
        BUCKETS LOCATION '<root>' [AS <query>]`` — the CLUSTERED BY
        clause (Spark's own bucketing spelling) declares the merge-key
        / bucket contract the format records in version 1; the column
        list XOR the AS query supplies the schema. Plain CREATE
        publishes an EMPTY v1 (readers see a valid empty snapshot;
        later merges validate against the declared contract); CTAS
        follows it with an ordinary transactional merge (v2), with the
        same key-unique enforcement as INSERT. ``OR REPLACE`` is a
        FORWARD commit over the existing log (Delta parity, ADVICE
        r10): the new schema/contract — and, for REPLACE ... AS
        SELECT, the new data, written FIRST so a self-referencing AS
        query reads the pre-replace table — lands as ONE version N+1;
        prior versions stay time-travel-able until vacuumed, and the
        CHECK-constraint sidecar is cleared (it governed the replaced
        table's columns). ``IF NOT EXISTS``
        no-ops when a table is already there — but only after
        validating that the statement's CLUSTERED BY keys, bucket
        count, and (when a column list is given) schema match the
        committed table's recorded contract; a silent success under a
        different contract than the caller declared is refused
        (ADVICE r10)."""
        import json as _json
        import os

        from pyspark.sql.types import StructType

        from ..formats import TransactionLogFormat

        (or_replace, if_not_exists, name, colspec, ccols, nbuckets,
         loc, select) = m.groups()
        if or_replace and if_not_exists:
            raise ValueError(
                "CREATE TABLE: OR REPLACE and IF NOT EXISTS are "
                "mutually exclusive"
            )
        if (colspec is None) == (select is None):
            raise ValueError(
                "CREATE TABLE: exactly one of a column list or "
                "AS <query> must supply the schema"
            )
        keys = [c.strip() for c in ccols.split(",") if c.strip()]
        if not keys:
            raise ValueError("CREATE TABLE: empty CLUSTERED BY list")
        exists = os.path.isdir(os.path.join(loc, "_txlog"))
        if exists and if_not_exists:
            man = _load_manifest(loc, None)
            rec_keys = man.get("keys")
            if rec_keys is not None and list(rec_keys) != keys:
                raise ValueError(
                    f"CREATE TABLE IF NOT EXISTS: {loc!r} holds a "
                    f"table CLUSTERED BY {list(rec_keys)}, statement "
                    f"declares {keys} — refusing to register under a "
                    f"different contract"
                )
            rec_nb = man.get("num_buckets")
            if rec_nb is not None and int(rec_nb) != int(nbuckets):
                raise ValueError(
                    f"CREATE TABLE IF NOT EXISTS: {loc!r} holds a "
                    f"table with {int(rec_nb)} buckets, statement "
                    f"declares {int(nbuckets)} — refusing to register "
                    f"under a different contract"
                )
            if colspec is not None and "schema" in man:
                declared = StructType.fromDDL(colspec)
                recorded = StructType.fromJson(
                    _json.loads(man["schema"])
                )
                if [(f.name, f.dataType) for f in declared.fields] != [
                    (f.name, f.dataType) for f in recorded.fields
                ]:
                    raise ValueError(
                        f"CREATE TABLE IF NOT EXISTS: {loc!r} holds a "
                        f"table with schema "
                        f"{recorded.simpleString()}, statement "
                        f"declares {declared.simpleString()} — "
                        f"refusing to register under a different "
                        f"contract"
                    )
            self.register(name, loc)
            return self.spark.createDataFrame(
                [(False, 0, int(man["version"]))],
                "created boolean, num_rows long, table_version long",
            )
        if exists and not or_replace:
            raise ValueError(
                f"CREATE TABLE: {loc!r} already holds a committed "
                f"table — use OR REPLACE, IF NOT EXISTS, or "
                f"register() to attach it"
            )
        fmt = TransactionLogFormat()
        handle = _TableHandle(self.spark, loc)
        src, n = None, 0
        if select is not None:
            src = self._run_select(select)
            schema = src.schema
            self._check_key_unique(src, keys, "CREATE TABLE AS")
            n = src.count()
        else:
            schema = StructType.fromDDL(colspec)
        if exists:
            # OR REPLACE: ONE forward commit carrying the new
            # contract AND data — files are written first (a crash in
            # between leaves only vacuumable orphans; an AS query
            # reading the table it replaces serves the pre-replace
            # snapshot its view pinned at creation), and the commit's
            # EXPLICIT empty constraint set atomically retires the
            # replaced table's policy (the new identity starts clean)
            fmt.replace_table(
                handle, name, schema, keys, int(nbuckets),
                df=src if n else None,
                op="CREATE OR REPLACE TABLE",
            )
        else:
            fmt.create_table(handle, name, schema, keys, int(nbuckets))
            if n:
                fmt.merge_source_wins(
                    handle, name, src, keys, int(nbuckets)
                )
        self.register(name, loc)
        version = _load_manifest(loc, None)["version"]
        return self.spark.createDataFrame(
            [(True, int(n), int(version))],
            "created boolean, num_rows long, table_version long",
        )

    def _sql_convert(self, m: re.Match) -> DataFrame:
        """``CONVERT TO TXLOG <name> LOCATION '<path>' CLUSTERED BY
        (keys)`` — adopt a flat parquet directory in place as version 1
        (`formats.py convert_to_txlog`): no byte rewritten, footer
        metadata harvested into the manifest, key-uniqueness validated
        up front, contract recorded as 1 bucket (the first merge
        migrates the layout; `rebucket` spreads it afterwards). The
        table registers under ``<name>`` and immediately serves every
        read AND write statement."""
        from ..formats import TransactionLogFormat

        name, loc, ccols = m.groups()
        keys = [c.strip() for c in ccols.split(",") if c.strip()]
        if not keys:
            raise ValueError("CONVERT TO TXLOG: empty CLUSTERED BY list")
        fmt = TransactionLogFormat()
        snap = fmt.convert_to_txlog(
            _TableHandle(self.spark, loc), name, keys
        )
        self.register(name, loc)
        rows = snap.get("rows") or {}
        n_rows = sum(int(v) for v in rows.values())
        return self.spark.createDataFrame(
            [(len(snap["files"]), int(n_rows), int(snap["version"]))],
            "num_files long, num_rows long, table_version long",
        )

    def _sql_drop(self, m: re.Match) -> DataFrame:
        """``DROP TABLE <name> [PURGE]`` for REGISTERED names:
        unregisters the table and drops its temp views (latest +
        pinned-version). Without PURGE the data stays on disk —
        external-table semantics, re-attachable via ``register()``;
        PURGE deletes the table root. Unregistered names pass through
        to ``spark.sql`` (this method is only dispatched for
        registered ones)."""
        import shutil

        _if_exists, name, purge = m.groups()
        root = self.roots.pop(name)
        for view in [name] + [
            t.name
            for t in self.spark.catalog.listTables()
            if t.isTemporary and t.name.startswith(f"{name}__v")
        ]:
            self.spark.catalog.dropTempView(view)
        if purge:
            shutil.rmtree(root, ignore_errors=True)
        return self.spark.createDataFrame(
            [(name, root, bool(purge))],
            "table string, location string, purged boolean",
        )

    def _sql_alter(self, m: re.Match) -> DataFrame:
        """``ALTER TABLE <name> RENAME COLUMN a TO b | DROP COLUMN c |
        ADD COLUMN[S] <spec> | ALTER COLUMN c TYPE <wider> | ALTER
        COLUMN c SET NOT NULL | ALTER COLUMN c DROP NOT NULL`` — the
        schema-evolution statements, each ONE manifest publish at any
        table size (a multi-column ``ADD COLUMNS (a INT, b STRING)``
        list is still one manifest; the spec goes through Spark's DDL
        parser so parenthesized types like DECIMAL(10,2) work)
        (column-mapping indirection for rename/drop, appended nullable
        field for add, safe-lattice widening for type — a merge-key
        rename tracks the key list, a merge-key drop/widen is refused
        by the format). SET NOT NULL is the one with a data cost: the
        validated promote scans existing rows once, like ADD
        CONSTRAINT (r13, VERDICT r12 #5). Returns an
        (operation, table_version) metrics frame."""
        from ..formats import TransactionLogFormat

        name, action = m.group(1), " ".join(m.group(2).split())
        root = self._root(name)
        fmt = TransactionLogFormat()
        handle = _TableHandle(self.spark, root)
        ac = _ALTER_ADDCON.match(action)
        dc = _ALTER_DROPCON.match(action)
        if ac:
            return self._add_constraint(name, ac.group(1), ac.group(2))
        if dc:
            return self._drop_constraint(
                name, dc.group(2), bool(dc.group(1))
            )
        rm = _ALTER_RENAME.match(action)
        dm = _ALTER_DROPCOL.match(action)
        ad = _ALTER_ADD.match(action)
        ty = _ALTER_TYPE.match(action)
        sn = _ALTER_SETNN.match(action)
        dn = _ALTER_DROPNN.match(action)
        if sn:
            version, changed = fmt.set_not_null(handle, name, sn.group(1))
            op = (
                f"set not null {sn.group(1)}"
                + ("" if changed else " (already)")
            )
        elif dn:
            version, changed = fmt.drop_not_null(handle, name, dn.group(1))
            op = (
                f"drop not null {dn.group(1)}"
                + ("" if changed else " (already)")
            )
        elif rm:
            version = fmt.rename_column(
                handle, name, rm.group(1), rm.group(2)
            )
            op = f"rename {rm.group(1)} -> {rm.group(2)}"
        elif dm:
            version = fmt.drop_column(handle, name, dm.group(1))
            op = f"drop {dm.group(1)}"
        elif ad:
            cols = _parse_add_columns_spec(ad.group(1))
            version = fmt.add_columns(handle, name, cols)
            op = "add " + ", ".join(n for n, _ in cols)
        elif ty:
            version = fmt.widen_column(
                handle, name, ty.group(1), ty.group(2).lower()
            )
            op = f"widen {ty.group(1)}"
        else:
            raise ValueError(
                f"ALTER TABLE: unsupported action {action!r} — one of "
                f"RENAME COLUMN a TO b, DROP COLUMN c, ADD COLUMN "
                f"c <type>, ADD COLUMNS (a <type>, b <type>, ...), "
                f"ALTER COLUMN c TYPE <wider>, ALTER COLUMN c "
                f"SET NOT NULL, ALTER COLUMN c DROP NOT NULL, ADD "
                f"CONSTRAINT n CHECK (expr), DROP CONSTRAINT n"
            )
        self.register(name, root)
        return self.spark.createDataFrame(
            [(op, int(version))], "operation string, table_version long"
        )

    # -- CHECK constraints (manifest-recorded, protocol-enforced) -------------
    def constraints(self, name: str) -> dict:
        """Recorded CHECK constraints of a registered table:
        {name: expr}. Since round 12 the set lives IN the versioned
        manifest (``formats.py`` "CHECK constraints" section — the
        Delta design: constraints are table metadata, so ADD/DROP is
        one CAS commit and every writer validates against the exact
        snapshot it publishes onto; the round-11 sidecar was a TOCTOU
        against concurrent writers). Legacy ``_constraints.json``
        sidecars are still honored until the first ADD/DROP migrates
        them."""
        from ..formats import TransactionLogFormat

        root = self._root(name)
        return TransactionLogFormat._constraints_of(
            _load_manifest(root, None), root
        )

    def _add_constraint(self, name: str, cname: str,
                        expr: str) -> DataFrame:
        """``ALTER TABLE t ADD CONSTRAINT n CHECK (expr)`` — one CAS
        manifest commit; the expression must analyze against the
        table's schema and every EXISTING row must satisfy it (one
        full validation scan — the documented Delta ADD CONSTRAINT
        cost; at 100 TB that is the price of making the invariant
        true, paid once; losing the publish race re-validates against
        the winner's rows). NULL results satisfy CHECK (ANSI
        three-valued logic)."""
        from ..formats import TransactionLogFormat

        root = self._root(name)
        fmt = TransactionLogFormat()
        _version, n_cons = fmt.add_constraint(
            _TableHandle(self.spark, root), name, cname, expr
        )
        return self.spark.createDataFrame(
            [(f"add constraint {cname}", n_cons)],
            "operation string, num_constraints int",
        )

    def _drop_constraint(self, name: str, cname: str,
                         if_exists: bool) -> DataFrame:
        """``ALTER TABLE t DROP CONSTRAINT [IF EXISTS] n`` — one CAS
        manifest commit (no scan)."""
        from ..formats import TransactionLogFormat

        root = self._root(name)
        fmt = TransactionLogFormat()
        version, n_cons = fmt.drop_constraint(
            _TableHandle(self.spark, root), name, cname,
            if_exists=if_exists,
        )
        suffix = " (absent)" if version is None else ""
        return self.spark.createDataFrame(
            [(f"drop constraint {cname}{suffix}", n_cons)],
            "operation string, num_constraints int",
        )

    def _enforce_constraints(self, name: str, df: DataFrame,
                             stmt: str) -> None:
        """Statement-boundary pre-check: refuse with a STATEMENT-named
        error if any incoming/updated row violates a recorded CHECK
        constraint — one aggregate pass over the statement's rows only
        (never the table). The authoritative, race-proof enforcement
        lives INSIDE the commit protocol (``formats.merge_with`` /
        ``replace_table`` re-validate against the snapshot actually
        published onto); this pre-check exists for error UX and costs
        one batch-sized job only when constraints are recorded."""
        from ..formats import TransactionLogFormat

        cons = self.constraints(name)
        if cons:
            TransactionLogFormat._validate_constraints(
                df, cons, stmt, name
            )

    def _show_tables(self) -> DataFrame:
        """``SHOW TXLOG TABLES``: the catalog's registry — one row per
        registered table with its root and latest committed version
        (manifest reads only). A distinct spelling from Spark's SHOW
        TABLES, which keeps listing every temp view untouched."""
        out = [
            (name, root, int(_load_manifest(root, None)["version"]))
            for name, root in sorted(self.roots.items())
        ]
        return self.spark.createDataFrame(
            out, "table string, location string, version int"
        )

    def detail(self, name: str) -> DataFrame:
        """``DESCRIBE DETAIL`` analog (Delta's): one row of
        control-plane facts about the LATEST snapshot — version,
        files, live rows, DV'd rows, bucket modulus, merge keys, and
        on-disk bytes of the referenced files. Everything comes from
        the manifest plus one stat() per referenced file — no data
        file is opened."""
        import os

        root = self._root(name)
        snap = _load_manifest(root, None)
        rows = snap.get("rows") or {}
        dv = snap.get("dv") or {}
        from ..formats import _dv_count

        n_deleted = sum(_dv_count(dv.get(f)) for f in snap["files"])
        n_rows = (
            sum(int(rows[f]) for f in snap["files"] if f in rows)
            - n_deleted
        )
        size = 0
        for f in snap["files"]:
            p = os.path.join(root, f)
            if os.path.exists(p):
                size += os.path.getsize(p)
        cons = [
            f"{n} CHECK ({e})"
            for n, e in sorted(self.constraints(name).items())
        ]
        return self.spark.createDataFrame(
            [(
                name, root, "txlog", int(snap["version"]),
                len(snap["files"]), int(n_rows), int(n_deleted),
                int(snap.get("num_buckets") or 0),
                list(snap.get("keys") or []),
                int(size),
                cons,
            )],
            "table string, location string, format string, "
            "version int, num_files int, num_rows long, "
            "num_deleted long, num_buckets int, "
            "keys array<string>, size_bytes long, "
            "constraints array<string>",
        )

    def _sql_restore(self, m: re.Match) -> DataFrame:
        """``RESTORE TABLE <name> TO VERSION AS OF <n>`` (or ``TO
        TIMESTAMP AS OF '<ts>'``) → the format's control-plane
        rollback (`formats.py restore_version`): a NEW version whose
        data state copies the target manifest by reference — one
        manifest published, zero data files written, history intact
        (the bad versions stay time-travel-able). Returns a
        Delta-style metrics frame."""
        from ..formats import TransactionLogFormat

        name, ver_text, ts_text = m.group(1), m.group(2), m.group(3)
        root = self._root(name)
        version = (
            int(ver_text)
            if ver_text is not None
            else self.version_as_of(name, ts_text)
        )
        fmt = TransactionLogFormat()
        published = fmt.restore_version(
            _TableHandle(self.spark, root), name, version
        )
        self.register(name, root)
        rows = published.get("rows") or {}
        dv = published.get("dv") or {}
        from ..formats import _dv_count

        n_rows = sum(int(rows[f]) for f in published["files"] if f in rows)
        n_rows -= sum(_dv_count(dv.get(f)) for f in published["files"])
        return self.spark.createDataFrame(
            [(
                int(version),
                int(published["version"]),
                len(published["files"]),
                int(n_rows),
            )],
            "restored_source_version long, table_version long, "
            "num_files long, num_rows long",
        )

    # -- maintenance statements (OPTIMIZE / VACUUM) ---------------------------
    def _sql_optimize(self, m: re.Match) -> DataFrame:
        """``OPTIMIZE <name> [ZORDER BY (c1, c2, ...)]`` → the format's
        small-file compaction (`formats.py compact`): buckets holding
        >= 2 files rewrite into one commit, everything else carries by
        reference — answers never change, only layout. The ZORDER form
        compacts through a Z-curve-clustering format instance (Delta's
        ``OPTIMIZE ... ZORDER BY``), re-sorting the rewritten files
        into Morton boxes so zone maps prune multi-column ranges."""
        from ..formats import TransactionLogFormat

        name, zcols_text = m.group(1), m.group(2)
        root, keys, num_buckets = self._dml_contract(name)
        if zcols_text is not None:
            zcols = [c.strip() for c in zcols_text.split(",") if c.strip()]
            if not zcols:
                raise ValueError("OPTIMIZE: empty ZORDER BY column list")
            cols = set(self.snapshot(name).columns)
            unknown = set(zcols) - cols
            if unknown:
                raise ValueError(
                    f"OPTIMIZE: ZORDER BY column(s) {sorted(unknown)} "
                    f"not in table columns {sorted(cols)}"
                )
            fmt = TransactionLogFormat(zorder_cols=tuple(zcols))
            # a ZORDER rewrite must touch every bucket's files, not
            # just multi-file buckets — min_files=1 is the re-cluster
            min_files = 1
        else:
            fmt = TransactionLogFormat()
            min_files = 2
        before, after = fmt.compact(
            _TableHandle(self.spark, root), name, keys, num_buckets,
            min_files=min_files,
        )
        self.register(name, root)
        version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(int(before), int(after), int(version))],
            "files_before long, files_after long, table_version long",
        )

    def _sql_vacuum(self, m: re.Match) -> DataFrame:
        """``VACUUM <name> [RETAIN <n> HOURS] [KEEP <k> VERSIONS]`` —
        the two retention halves, explicit: the plain form deletes
        ORPHANED data files only (crashed-commit residue; every
        published version stays readable), with RETAIN as the
        multi-writer grace window (Delta's retention check; default
        1 hour here). ``KEEP k VERSIONS`` additionally expires all but
        the newest k manifests FIRST and reclaims the files only they
        referenced (`formats.py expire_versions` — manifests drop
        before files, so a crash never leaves a live manifest pointing
        at deleted data).

        Contract with time travel AND the streaming change feed: an
        expired version is gone. A later ``VERSION AS OF <expired>``,
        ``RESTORE ... TO VERSION AS OF <expired>``, or a
        ``txlog_changes`` readStream whose CHECKPOINTED offset
        predates the oldest surviving manifest fails CLEANLY with an
        error naming the expired version and the surviving span
        (Delta parity: vacuuming commits a stream still needs breaks
        the stream; it never silently skips to the next surviving
        version, which would drop changes without a trace). Size
        ``KEEP k`` to cover the slowest consumer's lag."""
        from ..formats import TransactionLogFormat

        name, retain_hours, keep = m.group(1), m.group(2), m.group(3)
        root = self._root(name)
        grace = (
            float(retain_hours) * 3600.0
            if retain_hours is not None
            else 3600.0
        )
        fmt = TransactionLogFormat()
        handle = _TableHandle(self.spark, root)
        expired: list[int] = []
        if keep is not None:
            expired, deleted = fmt.expire_versions(
                handle, name, keep_last=int(keep), grace_seconds=grace
            )
        else:
            deleted = fmt.vacuum(handle, name, grace_seconds=grace)
        self.register(name, root)
        version = _load_manifest(root, None)["version"]
        return self.spark.createDataFrame(
            [(len(deleted), len(expired), int(version))],
            "num_deleted_files long, num_expired_versions long, "
            "table_version long",
        )


class _TableHandle:
    """Minimal Warehouse-shaped adapter for one table root: the format
    methods only need ``.spark`` and ``.path(table) -> root``, and the
    catalog addresses tables by root, not by warehouse layout."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self._root = root

    def path(self, table: str) -> str:
        return self._root
