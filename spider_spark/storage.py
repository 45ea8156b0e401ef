"""Versioned-parquet table layer — the Iceberg stand-in.

The design target is Iceberg (`MERGE INTO`, snapshot isolation, snapshot
expiry); this sandbox has no Iceberg runtime jar, so the same contract is
emulated on plain parquet with a single-writer protocol (SURVEY.md §7
"hard parts" (b)):

- a table version is a MANIFEST (``_manifests/v{N}.json``) listing
  immutable member data paths (segments, or partition subdirs of
  segments) — exactly Iceberg's snapshot = manifest-list design,
- ``_CURRENT`` is a one-line pointer file, written atomically
  (write tmp + os.replace) — readers always see a complete snapshot,
- ``append`` writes ONLY the new rows as a fresh segment and links it
  into the next manifest: per-round cost is O(delta), not O(table) —
  the seen/documents/lineage tables never get rewritten,
- partitioned MERGE rewrites only the LIVE partitions: terminal
  partitions (fetched/dead frontier rows) are carried forward as
  manifest references, never re-read or re-written,
- per-round commit manifests (``rounds/round_{k}.json``) pin the version
  of every table at the end of a round; resume rolls every pointer back
  to the last complete manifest — exactly Iceberg snapshot-id pinning
  (SURVEY.md §2.8 T1).  Tables created after the pinned round (no entry
  in the round manifest) get their pointer cleared so a crashed
  half-round can never leak rows into the resumed run.

Every commit takes one path.  ``_next_version`` first CLAIMS the version
number by creating its segment directory ``seg{N}`` (``os.mkdir`` is
atomic: two writers never hold one number, and no write ever lands in a
directory another writer owns; metadata-only commits claim too).  The
data lands in that directory, then ``_commit`` builds the manifest from
the parent's, CASes on the base version (``_check_base``) and flips the
pointer.  ``_replace`` is the one atomic metadata write (pointer,
manifests, round manifests).

On a real cluster this module swaps for Iceberg catalog calls 1:1 (the
API is MERGE-shaped on purpose); nothing else in the engine changes.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this operation's snapshot read
    and its commit — the Iceberg optimistic-concurrency conflict.  The
    caller must re-read the table and retry; committing anyway would
    silently drop the other writer's members from the manifest chain."""


class TableStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, "rounds"), exist_ok=True)

    # ------------------------------------------------------------ pointers
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_CURRENT")

    def _mdir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_manifests")

    def _mpath(self, table: str, version: str) -> str:
        return os.path.join(self._mdir(table), f"{version}.json")

    def current_version(self, table: str) -> str | None:
        try:
            with open(self._pointer(table)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def _set_pointer(self, table: str, version: str) -> None:
        self._replace(self._pointer(table), version)

    @staticmethod
    def _replace(path: str, text: str) -> None:
        """The one atomic metadata write: a tmp file ``os.replace``d over
        ``path``, so readers see the old content or the new, never a torn
        file."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def _clear_pointer(self, table: str) -> None:
        try:
            os.remove(self._pointer(table))
        except FileNotFoundError:
            pass

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    # ------------------------------------------------------------ manifest io
    def _manifest(self, table: str, version: str | None = None) -> dict:
        v = version or self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} has no committed version")
        with open(self._mpath(table, v)) as f:
            return json.load(f)

    def _write_manifest(self, table: str, version: str, manifest: dict) -> None:
        self._replace(self._mpath(table, version), json.dumps(manifest))

    def _versions(self, table: str) -> list[str]:
        """Every manifest version of ``table`` on disk, oldest first."""
        try:
            return sorted(
                f[:-5] for f in os.listdir(self._mdir(table)) if f.endswith(".json")
            )
        except (FileNotFoundError, NotADirectoryError):
            return []

    def _next_version(self, table: str) -> str:
        """Claim the next version: one past every manifest on disk (a
        resumed store's pointer can sit below manifests a crashed round
        wrote), made this writer's by creating its segment directory.
        The loser of a race for ``seg{N}`` moves on to N+1 and never
        writes into (or replaces) the winner's segment; a torn write's
        directory is skipped, never reused, and ``expire_snapshots``
        sweeps it."""
        n = max((int(v[1:]) for v in self._versions(table)), default=-1) + 1
        os.makedirs(self._tdir(table), exist_ok=True)
        while True:
            try:
                os.mkdir(os.path.join(self._tdir(table), f"seg{n:05d}"))
                return f"v{n:05d}"
            except FileExistsError:
                n += 1

    # ------------------------------------------------------------ segments
    def _write_segment(
        self,
        table: str,
        version: str,
        df: DataFrame,
        partition_by: list[str] | None,
        stats_col: str | None = None,
    ) -> list[dict]:
        """Write df into the segment directory `version` claimed; return
        its member records (one per partition subdir when partitioned).

        ``stats_col`` attaches the member's [min, max] of that column to
        the manifest (Iceberg's column-stats / file-skipping analog) —
        ``read_range`` then prunes members whose interval cannot match
        without opening them.  Stats are tight exactly when the caller
        writes range-clustered segments (sorted appends), which is the
        point: sort order is what makes skipping work in Iceberg too."""
        if partition_by is not None and len(partition_by) != 1:
            raise ValueError("only single-column partition specs are supported")
        seg = f"seg{version[1:]}"
        seg_path = os.path.join(self._tdir(table), seg)
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(seg_path)
        stats: dict = {}
        if stats_col is not None:
            c = F.col(stats_col)
            if partition_by:
                for r in df.groupBy(partition_by[0]).agg(
                    F.min(c).alias("lo"), F.max(c).alias("hi")
                ).collect():
                    stats[str(r[partition_by[0]])] = [r["lo"], r["hi"]]
            else:
                r = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
                stats[None] = [r["lo"], r["hi"]]
        def _jsonable(pair) -> bool:
            # manifests are JSON; stats only attach for types that
            # round-trip (numbers, strings) — others simply don't skip
            return pair is not None and all(
                isinstance(v, (int, float, str)) for v in pair
            )

        if not partition_by:
            m = {"path": seg, "value": None, "rows": self._footer_rows(seg_path)}
            if stats_col is not None and _jsonable(stats.get(None)):
                m["stats"] = {stats_col: stats[None]}
            return [m]
        col = partition_by[0]
        members = []
        for d in sorted(os.listdir(seg_path)):
            if d.startswith(f"{col}="):
                raw = unquote(d[len(col) + 1 :])
                value = None if raw == _HIVE_NULL else raw
                m = {
                    "path": f"{seg}/{d}",
                    "value": value,
                    "rows": self._footer_rows(os.path.join(seg_path, d)),
                }
                s = stats.get(str(value)) if value is not None else None
                if stats_col is not None and _jsonable(s):
                    m["stats"] = {stats_col: s}
                members.append(m)
        return members

    @staticmethod
    def _footer_rows(path: str) -> int:
        """Row count from parquet FOOTERS only (pyarrow metadata read —
        zero data pages touched): how Iceberg records per-file counts at
        write time.  Cost is one small tail read per file of a segment
        the writer just produced, so it is O(files in THIS segment),
        never O(table)."""
        import pyarrow.parquet as pq

        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total

    def _commit(
        self,
        table: str,
        version: str,
        prev: dict,
        members: list[dict],
        base: str | None,
        mark: tuple[str, int] | None = None,
        **fields,
    ) -> str:
        """The one manifest builder.  The new manifest is ``prev``'s with
        ``members`` replaced: schema, columns, partition spec, outstanding
        deletes, the spec-evolution boundary and the txn high-water marks
        are inherited (Delta txn / Iceberg snapshot-summary analog —
        maintenance commits must never reset a streaming sink's
        exactly-once watermark).  ``fields`` override keys; ``mark=(key,
        id)`` records one more txn mark.

        The commit CASes on ``base`` and flips the pointer; ``base=None``
        is a full rewrite, a new table generation (``write``/``create``)."""
        manifest = dict(
            prev, members=members, deletes=prev.get("deletes") or [], txn=prev.get("txn") or {}
        )
        manifest.update(fields)
        if mark is not None:
            manifest["txn"] = {**manifest["txn"], mark[0]: int(mark[1])}
        if base is not None:
            self._check_base(table, base)
        self._write_manifest(table, version, manifest)
        self._set_pointer(table, version)
        return version

    def _check_base(self, table: str, base: str) -> None:
        """The one optimistic-concurrency check (Iceberg CAS): the table
        must still serve ``base``, the snapshot the operation read."""
        cur = self.current_version(table)
        if cur != base:
            raise ConcurrentCommitError(
                f"table '{table}': expected version {base} at commit time "
                f"but found {cur} — another writer committed first; re-read and retry"
            )

    @staticmethod
    def _member_seq(member: dict) -> int:
        """A member's write sequence = the version whose segment wrote it
        (Iceberg's data-sequence-number analog), recoverable from the
        immutable segment path — old manifests need no migration."""
        return int(member["path"].split("/", 1)[0][3:])

    @classmethod
    def _pre_spec(cls, manifest: dict, member: dict) -> bool:
        """True if the member was written BEFORE the manifest's partition
        spec took effect (evolve_partition_spec): it carries the partition
        column physically and has no manifest partition value, so reads
        must scan it with a residual filter instead of pruning."""
        since = manifest.get("spec_since")
        return since is not None and cls._member_seq(member) < since

    # ------------------------------------------------------------ read
    def read(self, table: str) -> DataFrame:
        return self._read_members(table, self._manifest(table))

    def read_at(self, table: str, round_id: int | None = None, version: str | None = None) -> DataFrame:
        """Iceberg time-travel read: the table AS OF a committed round
        (or an explicit snapshot version), without moving any pointer.
        The crawl keeps appending while consumers read a frozen snapshot
        — the isolation a training-data export needs.  Snapshots stay
        readable as long as ``expire_snapshots`` keeps their manifest
        (reference capability: the crawler's re-parse of old crawls,
        credit_person_web.py:234-249, done here without raw-body copies)."""
        if version is None:
            if round_id is None:
                raise ValueError("read_at needs round_id or version")
            version = self._version_at_round(table, round_id)
        return self._read_members(table, self._manifest(table, version))

    def _version_at_round(self, table: str, round_id: int) -> str:
        rpath = os.path.join(self.root, "rounds", f"round_{round_id:06d}.json")
        if not os.path.exists(rpath):
            raise ValueError(f"round {round_id} was never committed")
        with open(rpath) as f:
            tables = json.load(f)["tables"]
        if table not in tables:
            raise ValueError(f"table '{table}' did not exist at round {round_id}")
        return tables[table]

    def read_changes(self, table: str, since_round: int, until_round: int | None = None) -> DataFrame:
        """Iceberg incremental-scan analog: ONLY the rows appended after
        ``since_round`` (exclusive), up to ``until_round`` (inclusive;
        default current).  With delta appends each round adds new segment
        members, so the changed slice is the member-set difference —
        O(delta) I/O, never a full-table diff.  This is the incremental
        training-data export path: ship each round's new documents
        without rescanning 100 TB of history.

        Sound only while history is append-only between the two
        snapshots: compaction REWRITES members, so if the base members
        are not a subset of the target's, this raises instead of
        answering wrong (Iceberg's incremental scan has the same
        append-only constraint)."""
        base_version = self._version_at_round(table, since_round)
        if until_round is None:
            target_manifest = self._manifest(table)
        else:
            target_manifest = self._manifest(
                table, self._version_at_round(table, until_round)
            )
        base_manifest = self._manifest(table, base_version)
        base_paths = {m["path"] for m in base_manifest["members"]}
        target_paths = {m["path"] for m in target_manifest["members"]}
        if not base_paths <= target_paths:
            raise ValueError(
                f"history of '{table}' was rewritten (compaction) between the "
                f"snapshots; incremental read is unsound — use read_at + anti-join"
            )
        if (base_manifest.get("deletes") or []) != (target_manifest.get("deletes") or []):
            raise ValueError(
                f"history of '{table}' includes row-level deletes between the "
                f"snapshots; the appended-rows scan would be unsound — use "
                f"read_at + anti-join"
            )
        delta = dict(
            target_manifest,
            members=[m for m in target_manifest["members"] if m["path"] not in base_paths],
        )
        return self._read_members(table, delta)

    def read_partitions(self, table: str, values) -> DataFrame:
        """Manifest-level partition-pruned scan: assemble ONLY the members
        whose partition value is in ``values`` — the files of every other
        partition are never opened (Iceberg partition-pruning analog).

        This is how grow-forever key sets stay joinable at 10^10 rows:
        the seen/media tables are bucketed by pmod(hash, N), and a round's
        exact dedup anti-join reads just the buckets its candidates hash
        into — O(candidate buckets), not O(all-ever-seen) (VERDICT r2 #4)."""
        keep = {str(v) for v in values}
        m = self._manifest(table)
        pre = [x for x in m["members"] if self._pre_spec(m, x)]
        post = [
            x
            for x in m["members"]
            if not self._pre_spec(m, x) and str(x["value"]) in keep
        ]
        out = self._read_members(table, dict(m, members=pre + post))
        if pre:
            # members predating the partition spec can hold ANY value:
            # they are scanned with a residual row filter (the Iceberg
            # old-spec-file behavior); on the manifest-pruned branches the
            # same predicate constant-folds against the attached literal
            out = out.filter(
                F.col(m["partition_col"]).cast("string").isin(sorted(keep))
            )
        return out

    def range_members(self, table: str, col: str, lo, hi) -> list[dict]:
        """Members that COULD hold rows with ``lo <= col <= hi``: a member
        with [min, max] stats disjoint from the range is skipped at the
        manifest level; members without stats are conservatively kept."""
        out = []
        for m in self._manifest(table)["members"]:
            s = (m.get("stats") or {}).get(col)
            if s is not None and (s[1] < lo or s[0] > hi):
                continue
            out.append(m)
        return out

    def read_range(self, table: str, col: str, lo, hi) -> DataFrame:
        """Iceberg file-skipping analog: a range scan that opens ONLY the
        members whose [min, max] column stats intersect [lo, hi] (exact
        filter still applied — stats only prune, never answer).  With
        range-clustered appends (a time- or id-ordered ingest, the normal
        shape of a crawl's documents) a narrow range touches O(1)
        members of a 100 TB table."""
        m = self._manifest(table)
        pruned = dict(m, members=self.range_members(table, col, lo, hi))
        return self._read_members(table, pruned).filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)
        )

    def count_rows(self, table: str, values=None) -> int:
        """Iceberg count-pushdown analog: COUNT(*) answered ENTIRELY from
        manifest metadata — zero parquet I/O, zero Spark jobs.  With
        ``values`` the count is restricted to those partition members
        (a per-state frontier census of a 10^10-row table costs a JSON
        read).

        Refuses rather than lies: raises if the table carries unapplied
        merge-on-read deletes (a delete segment anti-joins older members,
        so metadata counts overstate — Iceberg falls back to a scan in
        exactly this case; ``compact`` materializes deletes and makes
        counts answerable again) or if any relevant member predates the
        recorded-counts feature."""
        man = self._manifest(table)
        if man.get("deletes"):
            raise ValueError(
                f"count_rows('{table}'): table has unapplied merge-on-read "
                "deletes; metadata counts would overstate — compact() first "
                "or scan"
            )
        members = man["members"]
        if values is not None:
            if any(self._pre_spec(man, m) for m in members):
                raise ValueError(
                    f"count_rows('{table}'): partition-restricted counts "
                    "need file scans over pre-evolution members (their "
                    "rows span arbitrary partition values) — compact() "
                    "migrates them to the new spec, or scan"
                )
            keep = {str(v) for v in values}
            members = [m for m in members if str(m["value"]) in keep]
        missing = [m["path"] for m in members if "rows" not in m]
        if missing:
            raise ValueError(
                f"count_rows('{table}'): members without recorded counts "
                f"(pre-feature segments): {missing[:3]} — scan instead"
            )
        return sum(m["rows"] for m in members)

    def partition_files(self, table: str, values) -> list[str]:
        """Member paths a read_partitions(table, values) would open —
        for tests asserting the prune touches only candidate buckets."""
        keep = {str(v) for v in values}
        man = self._manifest(table)
        return [
            m["path"]
            for m in man["members"]
            if str(m["value"]) in keep or self._pre_spec(man, m)
        ]

    def _read_members(
        self, table: str, manifest: dict, skip_values: set[str] | None = None
    ) -> DataFrame:
        """Assemble the table DataFrame from manifest members.

        Partitioned members are read per partition value with the
        partition column re-attached as a literal: a filter like
        ``state IN ('pending','retry')`` constant-folds each union branch,
        so terminal partitions are pruned at the MANIFEST level — their
        files are never opened (the Iceberg partition-pruning analog).
        """
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        cols = manifest["columns"]
        pcol = manifest.get("partition_col")
        members = manifest["members"]
        if skip_values is not None:
            members = [m for m in members if m["value"] not in skip_values]
        deletes = manifest.get("deletes") or []
        tdir = self._tdir(table)

        def applicable(m: dict) -> tuple[int, ...]:
            """Equality deletes apply only to members OLDER than the
            delete (Iceberg v2 sequence rule): a key re-inserted after
            its delete lands in a newer segment and stays visible."""
            s = self._member_seq(m)
            return tuple(i for i, d in enumerate(deletes) if s < d["applies_below"])

        def anti(df: DataFrame, appl: tuple[int, ...]) -> DataFrame:
            if not appl:
                return df
            paths = [os.path.join(tdir, deletes[i]["path"]) for i in appl]
            key = deletes[appl[0]]["key"]
            kd = self.spark.read.parquet(*paths).select(key).distinct()
            return df.join(kd, on=key, how="left_anti")

        parts: list[DataFrame] = []
        if pcol is None:
            by_appl: dict[tuple[int, ...], list[str]] = {}
            for m in members:
                by_appl.setdefault(applicable(m), []).append(os.path.join(tdir, m["path"]))
            for appl, paths in by_appl.items():
                parts.append(
                    anti(self.spark.read.schema(schema).parquet(*paths).select(cols), appl)
                )
        else:
            ptype = schema[pcol].dataType
            data_schema = StructType([f for f in schema.fields if f.name != pcol])
            by_group: dict[tuple[str | None, tuple[int, ...]], list[str]] = {}
            pre_by_appl: dict[tuple[int, ...], list[str]] = {}
            for m in members:
                if self._pre_spec(manifest, m):
                    # written before the spec: the partition column is
                    # physical in the file — read the full schema, no
                    # literal attach, no pruning
                    pre_by_appl.setdefault(applicable(m), []).append(
                        os.path.join(tdir, m["path"])
                    )
                    continue
                by_group.setdefault((m["value"], applicable(m)), []).append(
                    os.path.join(tdir, m["path"])
                )
            for appl, paths in pre_by_appl.items():
                parts.append(
                    anti(self.spark.read.schema(schema).parquet(*paths).select(cols), appl)
                )
            for (value, appl), paths in by_group.items():
                parts.append(
                    anti(
                        self.spark.read.schema(data_schema)
                        .parquet(*paths)
                        .withColumn(pcol, F.lit(value).cast(ptype))
                        .select(cols),
                        appl,
                    )
                )
        if not parts:
            return self.spark.createDataFrame([], schema).select(cols)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _check_schema(
        self,
        table: str,
        df: DataFrame,
        manifest: dict,
        what: str,
        allow_evolution: bool = False,
    ) -> None:
        """Fail fast when an incoming frame's columns don't match the
        committed manifest schema — without this an append with an extra
        column (e.g. toggling keep_raw_body on an existing documents
        table) would be silently truncated on read, and a missing column
        would read back as nulls (ADVICE r2).

        ``allow_evolution=True`` (Iceberg add-column analog) permits the
        incoming frame to carry NEW columns on top of the committed set;
        missing columns and type drift on existing columns stay hard
        errors either way — evolution is additive only."""
        self._check_fields(
            table,
            [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            manifest,
            what,
            allow_evolution,
        )

    def _check_fields(
        self,
        table: str,
        fields: list[tuple[str, str]],
        manifest: dict,
        what: str,
        allow_evolution: bool = False,
    ) -> None:
        """``_check_schema`` over (name, Spark simpleString) pairs: the one
        rule both the DataFrame writes and the driver-row writes obey."""
        have = [name for name, _t in fields]
        want = manifest["columns"]
        if sorted(have) != sorted(want):
            extra = sorted(set(have) - set(want))
            missing = sorted(set(want) - set(have))
            if not (allow_evolution and extra and not missing):
                raise ValueError(
                    f"{what} to table '{table}': schema mismatch vs committed manifest "
                    f"(extra columns {extra}, missing columns {missing}); "
                    f"evolve the table with write() or append(allow_evolution=True) "
                    f"to add columns"
                )
        # names match — now types (ADVICE r3): a same-named column of a
        # different type would otherwise surface later as a confusing
        # parquet read error or a silent coercion.  simpleString ignores
        # nullability (a non-null frame may append into a nullable column).
        committed = StructType.fromJson(json.loads(manifest["schema"]))
        want_types = {f.name: f.dataType.simpleString() for f in committed.fields}
        drift = {
            name: (t, want_types[name])
            for name, t in fields
            if name in want_types and t != want_types[name]
        }
        if drift:
            raise ValueError(
                f"{what} to table '{table}': column type mismatch vs committed "
                f"manifest {{name: (incoming, committed)}} = {drift}; "
                f"evolve the table with write() to change its schema"
            )

    # ------------------------------------------------------------ write paths
    def write(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        stats_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> str:
        """Full-snapshot write: one new segment is the whole table.

        ``partition_by`` is the Iceberg partition-spec analog: the frontier
        is partitioned by ``state`` so a dequeue scan of pending/retry rows
        prunes fetched/dead members entirely (at 10^10 rows the vast
        majority of the frontier is terminal — pruning is the difference
        between scanning the whole table and scanning the live slice)."""
        v = self._next_version(table)
        members = self._write_segment(table, v, df, partition_by, stats_col=stats_col)
        pcol = partition_by[0] if partition_by else None
        fresh = {"schema": df.schema.json(), "columns": df.columns, "partition_col": pcol}
        return self._commit(table, v, fresh, members, None, mark=txn)

    def create(self, table: str, schema: StructType) -> str:
        """An empty unpartitioned table as a metadata-only commit: what a
        ``write`` of an empty frame gives, without its Spark job and its
        empty file.  Like ``write`` it starts a new table generation."""
        fresh = {"schema": schema.json(), "columns": schema.fieldNames(), "partition_col": None}
        return self._commit(table, self._next_version(table), fresh, [], None)

    def append(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        allow_evolution: bool = False,
        stats_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> str:
        """Iceberg-append analog: write ONLY df as a new segment and link
        it into the next manifest — O(delta) I/O per append, the existing
        members are untouched (round 1 rewrote the whole table here;
        VERDICT r1 #4).

        ``allow_evolution=True`` is the Iceberg add-column analog: new
        columns in df extend the manifest schema (forced nullable — old
        segments don't have them); existing segments are NOT rewritten,
        their rows read back with the new columns null-filled via the
        explicit read schema, and time-travel (`read_at`) keeps serving
        each snapshot with its own snapshot-time schema."""
        base = self.current_version(table)
        if base is None:
            return self.write(table, df, partition_by, stats_col=stats_col, txn=txn)
        prev = self._manifest(table, base)
        pcol = prev.get("partition_col")
        if partition_by and partition_by[0] != pcol:
            raise ValueError(f"append partition spec {partition_by} != table spec {pcol}")
        self._check_schema(table, df, prev, "append", allow_evolution=allow_evolution)
        v = self._next_version(table)
        new_members = self._write_segment(
            table, v, df, [pcol] if pcol else None, stats_col=stats_col
        )
        fields = {}
        added = [f for f in df.schema.fields if f.name not in prev["columns"]]
        if added:  # only reachable with allow_evolution (checked above)
            schema = StructType(
                StructType.fromJson(json.loads(prev["schema"])).fields
                + [StructField(f.name, f.dataType, nullable=True) for f in added]
            )
            fields = {"schema": schema.json(), "columns": schema.fieldNames()}
        return self._commit(
            table, v, prev, prev["members"] + new_members, base, mark=txn, **fields
        )

    # ------------------------------------------------------------ driver rows
    def append_rows(self, table: str, cols: dict) -> str:
        """``append`` for rows the driver already holds, given as
        ``{column: values}``: written with pyarrow as one
        ``seg{N}/part-00000.parquet`` and committed through the same
        version/CAS path — no Spark job.  For driver-sized deltas of an
        existing unpartitioned table (a round's per-partition lineage
        rows); names and types are checked like ``append``'s."""
        base = self.current_version(table)
        prev = self._manifest(table, base)
        rows = self._rows_table(table, cols, prev, "append_rows")
        return self._commit_rows(table, base, prev, prev["members"], rows)

    def upsert_rows(self, table: str, cols: dict, key: str) -> str:
        """``merge_upsert`` for a driver-sized unpartitioned table (a
        crawl's ``host_state``, one row per host): the current rows are
        read with pyarrow, every row whose ``key`` the update carries is
        replaced, and the result is committed as one new segment — no
        Spark job.  A NULL key matches nothing, as in ``merge_upsert``'s
        left-anti join: NULL-key rows already stored are kept, NULL-key
        update rows are inserted.  Refuses a table with outstanding
        equality deletes (``compact`` it first)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        base = self.current_version(table)
        prev = self._manifest(table, base)
        rows = self._rows_table(table, cols, prev, "upsert_rows")
        if key not in prev["columns"]:
            raise ValueError(f"upsert key '{key}' not a column of '{table}'")
        if prev.get("deletes"):
            raise ValueError(
                f"upsert_rows to table '{table}': outstanding equality deletes; "
                f"compact the table first"
            )
        cur = pa.concat_tables(
            [rows.schema.empty_table()]
            + [
                pq.read_table(os.path.join(self._tdir(table), m["path"]), schema=rows.schema)
                for m in prev["members"]
            ]
        )
        replaced = pc.is_in(cur[key], value_set=rows[key].drop_null())
        merged = pa.concat_tables([cur.filter(pc.invert(replaced)), rows])
        return self._commit_rows(table, base, prev, [], merged)

    # Spark simpleString -> pyarrow type alias, for the driver-row writes
    _ARROW_TYPES = {
        "string": "string", "bigint": "int64", "int": "int32",
        "boolean": "bool", "double": "float64",
    }

    def _rows_table(self, table: str, cols: dict, manifest: dict, what: str):
        """``{column: values}`` -> an arrow table in the manifest's column
        order and types.  A column's incoming type is what pyarrow infers
        from its values; an all-NULL column takes the committed type and
        an integer column may land in an ``int`` or ``bigint`` column it
        fits.  Mismatches raise ``_check_fields``' ValueError."""
        import pyarrow as pa

        if manifest.get("partition_col") is not None:
            raise ValueError(
                f"{what} to table '{table}': driver-row writes are for "
                f"unpartitioned tables; use append()/merge_upsert()"
            )
        arrow = {t: pa.type_for_alias(a) for t, a in self._ARROW_TYPES.items()}
        spark_of = {a: t for t, a in arrow.items()}
        committed = StructType.fromJson(json.loads(manifest["schema"]))
        want = {f.name: f.dataType.simpleString() for f in committed.fields}
        for name, t in want.items():
            if t not in arrow:
                raise ValueError(
                    f"{what} to table '{table}': column '{name}' is {t}; "
                    f"driver-row writes support {sorted(arrow)}"
                )
        arrays, fields = {}, []
        for name, values in cols.items():
            arr = pa.array(values)
            got = spark_of.get(arr.type, str(arr.type))
            target = arrow.get(want.get(name))
            if target is not None and (
                pa.types.is_null(arr.type)
                or (pa.types.is_integer(arr.type) and pa.types.is_integer(target))
            ):
                try:
                    arr, got = arr.cast(target), want[name]
                except pa.ArrowInvalid:  # out of the column's range
                    pass
            arrays[name] = arr
            fields.append((name, got))
        self._check_fields(table, fields, manifest, what)
        return pa.table(
            [arrays[name] for name in want],
            schema=pa.schema([(name, arrow[t]) for name, t in want.items()]),
        )

    def _commit_rows(self, table: str, base: str, prev: dict, members: list[dict], rows) -> str:
        """Write an arrow table as the next version's one-file segment and
        commit ``members`` plus it against ``base``."""
        import pyarrow.parquet as pq

        v = self._next_version(table)
        seg = f"seg{v[1:]}"
        pq.write_table(rows, os.path.join(self._tdir(table), seg, "part-00000.parquet"))
        member = {"path": seg, "value": None, "rows": rows.num_rows}
        return self._commit(table, v, prev, members + [member], base)

    def history(self, table: str) -> list[dict]:
        """Iceberg ``table.history``/``snapshots`` analog: one record per
        manifest on disk, oldest first — version, PHYSICAL member/row
        totals (footer counts as written; logically-deleted rows still
        count until compact materializes the delete), outstanding
        equality-delete segments, partition spec, and which one the
        pointer currently serves.
        Metadata-only: JSON reads, zero parquet I/O — the audit surface a
        takedown/compliance review reads before touching data."""
        out = []
        cur = self.current_version(table)
        for v in self._versions(table):
            man = self._manifest(table, v)
            out.append(
                {
                    "version": int(v[1:]),
                    "members": len(man["members"]),
                    "rows": sum(m.get("rows", 0) for m in man["members"]),
                    "deletes": len(man.get("deletes") or []),
                    "partition_col": man.get("partition_col"),
                    "current": v == cur,
                }
            )
        return out

    def files(self, table: str, version: str | None = None) -> DataFrame:
        """Iceberg ``SELECT * FROM t.files`` metadata-table analog: the
        current (or any) snapshot's data-file census as a queryable
        DataFrame — member path, write sequence, partition value, footer
        row count, which columns carry [min, max] stats for it, and
        whether it predates the partition-spec boundary.  Metadata-only:
        built from manifest JSON, zero parquet I/O — the planning surface
        a maintenance job (compaction targeting, small-file reports,
        stats-coverage audits) queries at 100 TB without touching data.  Like
        ``history`` this is the PHYSICAL census: rows under an
        outstanding equality delete still count until compact
        materializes them away."""
        man = self._manifest(table, version)
        recs = [
            (
                m["path"],
                self._member_seq(m),
                m.get("value"),
                int(m.get("rows", 0)),
                sorted((m.get("stats") or {}).keys()),
                self._pre_spec(man, m),
            )
            for m in man["members"]
        ]
        schema = (
            "path string, seq int, part string, rows bigint, "
            "stats_cols array<string>, pre_spec boolean"
        )
        return self.spark.createDataFrame(recs, schema)

    def evolve_partition_spec(self, table: str, col: str) -> str:
        """Iceberg partition-spec evolution analog (unpartitioned ->
        partitioned), as a METADATA-ONLY commit: no data file is read or
        rewritten.  Members written before this commit (their sequence
        predates ``spec_since``) carry the partition column physically
        and are scanned with a residual row filter by read_partitions;
        members appended afterwards get manifest partition values and
        prune as usual.  ``compact`` migrates the pre-evolution group to
        the new spec when it is the compaction victim, so the table
        converges to fully-pruned reads under normal maintenance.
        count_rows(values=) refuses while pre-evolution members remain
        (their rows span arbitrary values — metadata would lie).

        Only unpartitioned -> partitioned is supported: one live spec at
        a time; changing an existing spec is a rewrite, not metadata
        (use compact after a fresh write)."""
        base = self.current_version(table)
        prev = self._manifest(table, base)
        if prev.get("partition_col") is not None:
            raise ValueError(
                f"table '{table}' is already partitioned by "
                f"'{prev['partition_col']}' — spec evolution only supports "
                "unpartitioned -> partitioned"
            )
        if col not in prev["columns"]:
            raise ValueError(f"partition column '{col}' not a column of '{table}'")
        v = self._next_version(table)
        return self._commit(
            table, v, prev, prev["members"], base, partition_col=col, spec_since=int(v[1:])
        )

    # ------------------------------------------------- idempotent writes
    def last_txn(self, table: str, txn_key: str) -> int:
        """Highest transaction id committed for ``txn_key`` on the current
        snapshot, or -1 (Delta's txnVersion analog).  Maintenance commits
        (append/merge/compact/delete) inherit the map, so the mark
        survives table upkeep; a full ``write()`` rewrite resets it."""
        base = self.current_version(table)
        if base is None:
            return -1
        return int((self._manifest(table, base).get("txn") or {}).get(txn_key, -1))

    def append_txn(
        self,
        table: str,
        df: DataFrame,
        txn_key: str,
        txn_id: int,
        partition_by: list[str] | None = None,
    ) -> str | None:
        """Idempotent append for at-least-once producers (the Structured
        Streaming foreachBatch contract): commit ``df`` and record
        ``txn_id`` as ``txn_key``'s high-water mark IN THE SAME manifest
        write, or return None if this (key, id) — or a later id — already
        committed.  A replayed micro-batch after a crash between the
        table commit and the producer's own checkpoint is therefore
        skipped, never double-appended: at-least-once delivery × this
        mark = exactly-once table rows.

        ``txn_key`` must identify the producer's checkpoint lineage
        (batch ids are per-checkpoint): reusing a key with a FRESH
        checkpoint would silently skip the restarted stream's first
        batches.  Replaces the reference's IntegrityError dup-key retry
        on re-delivered rows (db_config.py:46-54) with a transactional
        watermark — no unique index needed."""
        if txn_id <= self.last_txn(table, txn_key):
            return None
        return self.append(table, df, partition_by, txn=(txn_key, int(txn_id)))

    def delete_rows(self, table: str, keys: DataFrame, key: str) -> str:
        """Iceberg v2 equality-delete analog (merge-on-read): commit the
        key set as a DELETE segment — NO data member is read or
        rewritten, O(keys) I/O regardless of table size.  Readers
        anti-join each delete against only the members OLDER than it
        (sequence rule), so a key re-inserted by a later append/merge is
        visible again; time-travel reads before the delete still see the
        rows.  ``compact`` materializes applicable deletes into the
        rewritten slice and prunes entries nothing references anymore —
        the read-amplification stays bounded by the delete generations
        outstanding since the last compaction.

        Complements the copy-on-write path: ``merge_upsert(delete_keys=)``
        pays a live-slice rewrite per call (right for the frontier's
        small hot slice); ``delete_rows`` is the GDPR-takedown /
        dedup-purge shape — tiny key sets against a 100 TB table where
        any rewrite would dominate."""
        base_v = self.current_version(table)
        prev = self._manifest(table, base_v)
        if key not in prev["columns"]:
            raise ValueError(f"delete key '{key}' not a column of '{table}'")
        want = StructType.fromJson(json.loads(prev["schema"]))[key].dataType
        got = keys.schema[key].dataType
        if got.simpleString() != want.simpleString():
            raise ValueError(
                f"delete key '{key}' type {got.simpleString()} != table's "
                f"{want.simpleString()} — an implicit cast could silently "
                f"miss (or over-match) keys"
            )
        for d in prev.get("deletes") or []:
            if d["key"] != key:
                raise ValueError(
                    f"table '{table}' already has deletes on '{d['key']}'; "
                    "one equality-delete key per table"
                )
        v = self._next_version(table)
        members = self._write_segment(table, v, keys.select(key).distinct(), None)
        deletes = (prev.get("deletes") or []) + [
            {"path": members[0]["path"], "key": key, "applies_below": int(v[1:])}
        ]
        return self._commit(table, v, prev, prev["members"], base_v, deletes=deletes)

    def merge_upsert(
        self,
        table: str,
        updates: DataFrame,
        key: str,
        partition_by: list[str] | None = None,
        immutable_partitions: list[str] | None = None,
        delete_keys: DataFrame | None = None,
        txn: tuple[str, int] | None = None,
    ) -> str:
        """MERGE INTO t USING updates ON t.key=u.key
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
        [WHEN MATCHED (key IN delete_keys) THEN DELETE].

        Replaces the reference's IntegrityError-driven upsert loop
        (db_config.py:46-54), destructive retry-queue dequeue
        (shixin_python_sql.py:27-33), and resolved-error delete
        (deleteErrItems, shixin_python_sql.py:80-94) with one atomic
        snapshot swap.

        ``immutable_partitions``: partition values the caller guarantees
        contain no matched keys (frontier terminal states — fetched/dead
        rows are never re-dequeued, so never updated).  Those members are
        carried into the new manifest by REFERENCE: only live partitions
        are read, merged, and rewritten — O(live+delta), not O(table).
        Updates may still INSERT rows whose partition value is terminal
        (a pending row transitioning to fetched lands in the new
        segment's fetched subdir).

        RESTRICTION: ``delete_keys`` applies only to the merged live
        slice — a delete key whose row lives in an immutable partition
        would survive (that member is carried by reference, never read).
        Callers must only delete keys from live partitions; the engine
        upholds this by construction (terminal frontier rows are never
        re-dequeued, so never re-deleted — CLAUDE.md invariant)."""
        if not self.exists(table):
            merged = updates
            if delete_keys is not None:
                merged = merged.join(delete_keys.select(key), on=key, how="left_anti")
            return self.write(table, merged, partition_by, txn=txn)
        base_v = self.current_version(table)
        prev = self._manifest(table, base_v)
        pcol = prev.get("partition_col")
        immutable = set(immutable_partitions or [])
        if immutable and pcol is None:
            raise ValueError("immutable_partitions requires a partitioned table")
        self._check_schema(table, updates, prev, "merge_upsert")
        base = self._read_members(table, prev, skip_values=immutable or None)
        merged = base.join(updates.select(key), on=key, how="left_anti").unionByName(updates)
        if delete_keys is not None:
            merged = merged.join(delete_keys.select(key), on=key, how="left_anti")
        v = self._next_version(table)
        new_members = self._write_segment(table, v, merged, [pcol] if pcol else None)
        kept = [m for m in prev["members"] if m["value"] in immutable]
        # outstanding equality deletes were applied to the rewritten live
        # slice by the read above (and the new segment's sequence exempts
        # it); they are carried ONLY for the kept-by-reference members
        return self._commit(table, v, prev, kept + new_members, base_v, mark=txn)

    def compact(self, table: str, max_members: int = 16) -> str | None:
        """Iceberg rewrite_data_files analog: delta appends accumulate
        small segments; once a table (or one partition of it) has more
        than ``max_members`` members, rewrite THAT slice into a single
        segment and re-link the rest by reference.  Readers are untouched
        (snapshot flip); expire_snapshots reclaims the old files.

        For a partitioned table only the worst partition is compacted per
        call — terminal frontier partitions compact without touching the
        live ones, keeping the maintenance write O(partition), and
        repeated calls converge."""
        base_v = self.current_version(table)
        prev = self._manifest(table, base_v)
        pcol = prev.get("partition_col")
        members = prev["members"]
        # members predating a partition-spec evolution form their own
        # group (their rows span arbitrary partition values): compacting
        # that group MIGRATES it to the current spec — the Iceberg
        # rewrite_data_files path that converges an evolved table back to
        # fully-pruned reads
        prespec = object()
        by_value: dict[object, list[dict]] = {}
        for m in members:
            key = prespec if self._pre_spec(prev, m) else m["value"]
            by_value.setdefault(key, []).append(m)
        if not by_value:
            return None
        # NB: the unpartitioned group's key IS None — don't sentinel on it
        worst = max(by_value, key=lambda v: len(by_value[v]))
        if len(by_value[worst]) <= max_members:
            return None
        victim = by_value[worst]
        slice_manifest = dict(prev, members=victim)
        df = self._read_members(table, slice_manifest)
        v = self._next_version(table)
        if worst is prespec:
            # spec migration: rewrite the old-spec slice PARTITIONED —
            # its members get manifest values and prune from now on
            new_members = self._write_segment(table, v, df, [pcol])
        else:
            if pcol is not None:
                # single-partition rewrite: drop the constant column, write
                # unpartitioned, re-tag the member with the partition value
                df = df.drop(pcol)
            new_members = self._write_segment(table, v, df, None)
            if pcol is not None:
                new_members = [dict(m, value=worst) for m in new_members]
        victim_paths = {m["path"] for m in victim}
        kept = [m for m in members if m["path"] not in victim_paths]
        # the rewrite materialized every delete applicable to the victim
        # slice; prune delete entries no remaining member is older than
        deletes = [
            d
            for d in (prev.get("deletes") or [])
            if any(self._member_seq(m) < d["applies_below"] for m in kept + new_members)
        ]
        return self._commit(table, v, prev, kept + new_members, base_v, deletes=deletes)

    # ------------------------------------------------------------ manifests
    def commit_round(self, round_id: int, extra: dict | None = None) -> None:
        """Commit (or RE-commit) the round manifest.  Table pointers are
        rebuilt fresh, but extra fields recorded by an earlier commit of
        the SAME round (audit_lost's {'audit': n}, a prior seed batch's
        {'seed_ingest': n}) are carried forward, not dropped (ADVICE r4):
        a numeric key present in both accumulates (two seed batches in one
        round report their total), any other collision takes the new
        value."""
        manifest = {
            "round_id": round_id,
            "tables": {
                t: self.current_version(t)
                for t in os.listdir(self.root)
                if os.path.isdir(self._tdir(t)) and t != "rounds" and self.exists(t)
            },
        }
        path = os.path.join(self.root, "rounds", f"round_{round_id:06d}.json")
        if os.path.exists(path):
            with open(path) as f:
                prev = json.load(f)
            for k, v in prev.items():
                if k not in ("round_id", "tables"):
                    manifest[k] = v
        if extra:
            for k, v in extra.items():
                old = manifest.get(k)
                if isinstance(old, (int, float)) and isinstance(v, (int, float)):
                    manifest[k] = old + v
                else:
                    manifest[k] = v
        self._replace(path, json.dumps(manifest))

    def last_committed_round(self) -> int | None:
        rdir = os.path.join(self.root, "rounds")
        rounds = sorted(f for f in os.listdir(rdir) if f.startswith("round_"))
        if not rounds:
            return None
        with open(os.path.join(rdir, rounds[-1])) as f:
            return json.load(f)["round_id"]

    def restore_last_committed(self) -> int | None:
        """Roll every table pointer back to the last complete manifest.

        Versions written after the manifest (a crashed half-round) become
        unreachable — the resume-from-checkpoint semantics of T1.  A table
        with NO entry in the manifest was first created during the crashed
        round: its pointer is cleared entirely, otherwise the resumed
        round would re-append onto the half-written version and duplicate
        rows (ADVICE r1 #2)."""
        rid = self.last_committed_round()
        if rid is None:
            return None
        with open(os.path.join(self.root, "rounds", f"round_{rid:06d}.json")) as f:
            manifest = json.load(f)
        for t, v in manifest["tables"].items():
            self._set_pointer(t, v)
        for t in os.listdir(self.root):
            if (
                t != "rounds"
                and os.path.isdir(self._tdir(t))
                and t not in manifest["tables"]
            ):
                self._clear_pointer(t)
        return rid

    def _referenced(self, table: str, versions) -> set[str]:
        """Data and delete-file paths the given manifests of ``table``
        reference (a version whose manifest is gone references nothing)."""
        referenced: set[str] = set()
        for v in versions:
            try:
                man = self._manifest(table, v)
            except FileNotFoundError:
                continue
            referenced.update(m["path"] for m in man["members"])
            referenced.update(d["path"] for d in man.get("deletes") or [])
        return referenced

    def _sweep_unreferenced(self, table: str, referenced: set[str]) -> None:
        """Delete every ``seg*`` directory of ``table`` that ``referenced``
        does not name — for a partitioned segment, every unreferenced
        partition subdirectory (merge carries live slices by reference),
        then the segment once none is left.  This also takes a crashed
        writer's debris: a claimed segment whose commit never landed."""
        tdir = self._tdir(table)
        for seg in sorted(os.listdir(tdir)):
            seg_path = os.path.join(tdir, seg)
            if not seg.startswith("seg") or not os.path.isdir(seg_path) or seg in referenced:
                continue
            for d in os.listdir(seg_path):
                if "=" in d and f"{seg}/{d}" not in referenced:
                    shutil.rmtree(os.path.join(seg_path, d), ignore_errors=True)
            if not any("=" in d for d in os.listdir(seg_path)):
                shutil.rmtree(seg_path, ignore_errors=True)

    def expire_snapshots(self, keep: int = 2) -> None:
        """Iceberg snapshot-expiry analog: drop all but the newest `keep`
        manifests of each table (never the current one), then delete any
        segment data no surviving manifest references."""
        for t in os.listdir(self.root):
            versions = self._versions(t)
            if not versions:
                continue
            cur = self.current_version(t)
            kept = set(versions[-keep:])
            if cur:
                kept.add(cur)
            referenced = self._referenced(t, kept)
            for v in versions:
                if v not in kept:
                    try:
                        os.remove(self._mpath(t, v))
                    except FileNotFoundError:
                        pass
            self._sweep_unreferenced(t, referenced)
