"""From-scratch snapshot-table format on parquet ("IceTable").

The north rule targets an Iceberg output table at 10^12-document
scale: atomic commits, snapshot isolation, time travel, incremental
(changelog) reads, and scan planning from file-level statistics
instead of directory listings. The engine does not depend on the
Iceberg runtime jars, so this module implements the table-format
*semantics* from scratch over plain parquet + JSON metadata, following
the published Iceberg spec ideas (spec v2, apache/iceberg docs) — no
Iceberg code:

  <root>/data/<commit-uuid>/part-*.parquet     immutable data files
  <root>/deletes/<commit-uuid>/part-*.parquet  position-delete files (MOR)
  <root>/metadata/snap-<v>.json                one snapshot per commit
  <root>/metadata/version-hint.text            current-version pointer

Scale properties (the parts that matter at 10^12 docs):

* **Commit cost is O(files added), not O(table).** A snapshot records
  only the files it ADDS plus a parent pointer; the live file set is
  the chain walk, cut short by the nearest ``overwrite`` snapshot
  (Iceberg's manifest-list reuse). Appending 1 shard to a 10^12-doc
  table writes one small JSON.
* **Stats are gathered task-side.** Per-file row counts and column
  min/max come from parquet footers read in a Spark job over the
  file list (the write tasks' footers, exactly what Iceberg collects
  at write time); the driver only ever holds the (path, rows,
  min/max) manifest rows.
* **Scan planning never lists directories.** ``files()`` plans from
  the manifest chain and prunes by stats overlap against a column
  range predicate — with range-clustered writes (``repartitionByRange``
  on the stats column) a narrow predicate plans a handful of files
  out of millions.
* **Sparse deletes never rewrite data (merge-on-read).** A 100 TB
  table cannot afford a copy-on-write rewrite for a delete touching
  0.01% of rows spread across every file. ``delete_where_mor`` writes
  *position-delete files* — (data file path, row index) pairs, the
  Iceberg spec-v2 positional delete — and publishes a metadata-only
  ``delete`` snapshot; readers anti-join the (tiny) delete set against
  the scan on the parquet ``_metadata`` columns. ``compact`` folds
  pending deletes into clean data files and drops them.
* **Commits are atomic + optimistic.** The snapshot file is created
  with O_EXCL (two racing committers: one wins, the loser sees
  ``CommitConflict``) and the version pointer is an ``os.replace``
  (atomic on POSIX). Readers resolve the current version from the
  pointer, falling back to a metadata scan (Iceberg's version-hint
  recovery path).

Reference analog: pero-ocr's processing_manager checkpoints progress
to a DB row per page (``document_ocr/processing_manager.py``); here the
unit is an immutable snapshot of the whole table, which is what makes
resume = "re-read last committed snapshot" trivially consistent.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another committer published the version this commit was based on."""


BLOOM_FILE_M = 1 << 15  # bits per file per column: 4 KB packed


def _bloom_hash_py(value) -> list[int]:
    """Driver-side replica of the task-side bloom positions: the same
    portable polynomial hash (fold a·31 + ord(c) mod 2^31−1 over the
    value's STRING rendering) and the same k affine re-hashes the
    dedup tier uses (``operators/dedup.BLOOM_SEEDS``), so planning can
    test membership without launching a job. Values are hashed via
    their CAST-to-string form on both sides — int and string columns
    are type-stable; don't put float columns in ``bloom_cols``."""
    from pero_ocr_spark.operators.dedup import BLOOM_SEEDS, HASH_P

    h = 0
    for c in str(value):
        h = (h * 31 + ord(c)) % HASH_P
    return [((h * a + b) % HASH_P) % BLOOM_FILE_M for a, b in BLOOM_SEEDS]


def _bloom_test(hex_bits: str, positions: list[int]) -> bool:
    """True iff every position bit is set (value MAY be in the file);
    any clear bit proves absence — the only direction planning uses."""
    bits = bytes.fromhex(hex_bits)
    return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)


def _shape(schema_json):
    """Schema comparison key: names + types, nullability ignored — a
    parquet round trip reports every column nullable, and (as in
    Iceberg) required→optional is not an incompatible change."""
    if isinstance(schema_json, dict):
        return {
            k: _shape(v) for k, v in schema_json.items() if k != "nullable"
        }
    if isinstance(schema_json, list):
        return [_shape(v) for v in schema_json]
    return schema_json


def _is_column_add(prev_shape, new_shape) -> bool:
    """True iff ``new`` = ``prev`` plus appended top-level columns —
    the only schema evolution an append may carry (Iceberg's
    add-column; drops/renames/retypes need a rewrite)."""
    try:
        prev_fields = {f["name"]: f for f in prev_shape["fields"]}
        new_fields = {f["name"]: f for f in new_shape["fields"]}
    except (KeyError, TypeError):
        return False
    return set(prev_fields) <= set(new_fields) and all(
        prev_fields[n] == new_fields[n] for n in prev_fields
    )


def _meta(root: str) -> str:
    return os.path.join(root, "metadata")


def _snap_path(root: str, version: int) -> str:
    return os.path.join(_meta(root), f"snap-{version}.json")


MAX_VALUE_LIST = 16  # distinct values per file above which lists are dropped


def _footer_stats(paths, stats_cols, value_cols=()):
    """Per-file (path, rows, {col: [min, max]}, {col: [values]}) from
    parquet footers + (for ``value_cols``) one column read.

    Runs inside Spark tasks — footer metadata is a few KB per file
    regardless of file size. ``value_cols`` are low-cardinality
    columns whose EXACT per-file distinct-value list is recorded (the
    analog of Iceberg's partition tuple): a file written
    partition-clustered carries one or two values, and planning can
    prune IN-list / equality predicates exactly. Lists longer than
    ``MAX_VALUE_LIST`` are dropped (the column isn't partition-like in
    that file; min/max and bloom still apply). Cost is bounded: the
    column is read one row group at a time with an early bail as soon
    as the running distinct set exceeds the cap, so a high-cardinality
    column costs at most one row-group column read per file — never a
    full-file column scan at commit time.
    """
    import pyarrow.parquet as pq

    out = []
    for path in paths:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for col in stats_cols:
            if col not in names:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                stats[col] = [int(lo), int(hi)] if isinstance(lo, int) else [lo, hi]
        values: dict[str, list] = {}
        for col in value_cols:
            if col not in names:
                continue
            # Row-group-at-a-time with early bail: a partition-like
            # column converges to its (tiny) value list in the first
            # group; a high-cardinality column blows past
            # MAX_VALUE_LIST inside the first group and costs ONE
            # row-group column read, never a full-file column scan.
            # Constant row groups (footer min==max) cost zero reads.
            uniq: set = set()
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[col]).statistics
                if st is not None and st.has_min_max and st.min == st.max:
                    uniq.add(st.min)
                else:
                    chunk = pf.read_row_group(rg, columns=[col])
                    uniq.update(chunk.column(col).to_pylist())
                if len(uniq) > MAX_VALUE_LIST or None in uniq:
                    uniq = None
                    break
            if uniq is not None:
                values[col] = sorted(uniq)
        out.append((path, md.num_rows, stats, values))
    return out


class IceTable:
    """A snapshot-versioned parquet table rooted at ``root``.

    ``stats_cols`` are the columns whose per-file min/max the write
    path records for scan pruning (the analog of Iceberg's
    ``write.metadata.metrics`` columns).
    """

    def __init__(
        self,
        root: str,
        stats_cols: tuple[str, ...] = ("doc_id",),
        bloom_cols: tuple[str, ...] = (),
        value_cols: tuple[str, ...] = (),
    ):
        self.root = root
        self.stats_cols = tuple(stats_cols)
        # exact per-file distinct-value lists for low-cardinality
        # columns — the Iceberg partition-tuple analog; see
        # _footer_stats. Planning prunes equality/IN predicates on
        # them exactly via files(isin=...)
        self.value_cols = tuple(value_cols)
        # per-file Bloom filters for point-lookup planning (the analog
        # of Iceberg/Parquet bloom metrics): min/max stats prune RANGE
        # predicates but are useless for a point probe on a column the
        # files aren't clustered by — a 4 KB bloom per (file, column)
        # answers "definitely not here" from the manifest alone
        self.bloom_cols = tuple(bloom_cols)
        os.makedirs(_meta(root), exist_ok=True)

    def _bloom_manifest(self, spark, part_files: list[str]) -> dict:
        """{path: {col: hex bitset}} for newly staged data files.

        One distributed pass: per row the k positions of each bloom
        column (portable integer arithmetic, all codegen), tagged with
        ``_metadata.file_path``, made distinct — so at most
        files × cols × m positions (manifest-scale, never row-scale)
        reach the driver, which packs bitsets."""
        from pero_ocr_spark.operators import HASH_P, poly_hash
        from pero_ocr_spark.operators.dedup import BLOOM_SEEDS

        scan = spark.read.parquet(*part_files)
        parts = []
        for col in self.bloom_cols:
            if col not in scan.columns:
                continue
            h = poly_hash(F.col(col).cast("string"))
            pos = F.array(
                *[
                    F.pmod(
                        F.pmod(h * F.lit(a) + F.lit(b), F.lit(HASH_P)),
                        F.lit(BLOOM_FILE_M),
                    )
                    for a, b in BLOOM_SEEDS
                ]
            )
            parts.append(
                scan.select(
                    F.col("_metadata.file_path").alias("fp"),
                    F.lit(col).alias("col"),
                    F.explode(pos).alias("p"),
                )
            )
        if not parts:
            return {}
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        rows = (
            union.distinct()
            .groupBy("fp", "col")
            .agg(F.collect_list("p").alias("ps"))
            .collect()
        )
        out: dict[str, dict[str, str]] = {}
        for r in rows:
            bits = bytearray(BLOOM_FILE_M // 8)
            for p in r["ps"]:
                bits[p >> 3] |= 1 << (p & 7)
            # _metadata.file_path is a file: URI (Hadoop renders it as
            # file:/abs or file:///abs); manifest paths are plain
            path = r["fp"]
            for prefix in ("file:///", "file://", "file:"):
                if path.startswith(prefix):
                    path = "/" + path[len(prefix):].lstrip("/")
                    break
            out.setdefault(path, {})[r["col"]] = bytes(bits).hex()
        return out

    # -- version resolution -------------------------------------------------

    def current_version(self) -> int:
        """0 = empty table. Falls back to a metadata scan if the
        pointer file is missing (crash between snapshot create and
        pointer swap — the snapshot with no pointer is still the
        winner, exactly like Iceberg's version-hint recovery)."""
        hint = os.path.join(_meta(self.root), "version-hint.text")
        try:
            with open(hint) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            versions = []
            for n in os.listdir(_meta(self.root)):
                if not (n.startswith("snap-") and n.endswith(".json")):
                    continue
                v = int(n[5:-5])
                # staged (write-audit-publish) snapshots are not the
                # head until published — recovery must skip them
                if self.snapshot(v).get("staged"):
                    continue
                versions.append(v)
            return max(versions, default=0)

    def snapshot(self, version: int) -> dict:
        with open(_snap_path(self.root, version)) as f:
            return json.load(f)

    def _snapshot_schema(self, version: int):
        """The snapshot's schema as an all-nullable StructType — data
        files written before an add-column evolution project the new
        columns as nulls when scanned through it."""
        from pyspark.sql.types import StructType

        fields = json.loads(self.snapshot(version)["schema"])
        for f in fields.get("fields", []):
            f["nullable"] = True
        return StructType.fromJson(fields)

    def history(self) -> list[dict]:
        """Commit log, oldest first: (version, operation, summary).
        Staged (WAP) snapshots and holes (expired or abandoned slots)
        are skipped — only the published lineage is history."""
        out = []
        for v in range(1, self.current_version() + 1):
            try:
                s = self.snapshot(v)
            except FileNotFoundError:  # expired or abandoned slot
                continue
            if s.get("staged"):
                continue
            out.append(
                {
                    "version": v,
                    "operation": s["operation"],
                    "summary": s["summary"],
                    "properties": s.get("properties", {}),
                }
            )
        return out

    # -- commit -------------------------------------------------------------

    def _publish(self, snap: dict, version: int, stage_only: bool = False) -> int:
        """Atomically create ``snap-<version>.json`` and (unless
        ``stage_only``) swing the version pointer. O_EXCL link of the
        fully-written temp file: exactly one of two racing committers
        creates the snapshot; the loser sees :class:`CommitConflict`."""
        tmp = _snap_path(self.root, version) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        try:
            os.link(tmp, _snap_path(self.root, version))
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(f"concurrent commit won v{version}") from None
        os.unlink(tmp)
        if stage_only:
            return version
        hint = os.path.join(_meta(self.root), "version-hint.text")
        tmp = hint + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, hint)  # atomic pointer swap
        return version

    def publish(self, version: int) -> int:
        """Publish a snapshot staged with ``commit(..., audit=True)``:
        the write-audit-publish (WAP) pattern. The staged snapshot
        must sit directly on the current published head (fast-forward
        only) — if another commit won in between, the stager must
        re-stage on the new head. The swap itself is the same atomic
        pointer replace every commit uses; data files do not move."""
        snap = self.snapshot(version)  # raises if the stage vanished
        current = self.current_version()
        if snap["parent"] != current:
            raise CommitConflict(
                f"staged v{version} is based on v{snap['parent']} but the "
                f"table is at v{current}; re-stage on the new head"
            )
        if snap.get("staged"):
            snap = {k: v for k, v in snap.items() if k != "staged"}
            tmp = _snap_path(self.root, version) + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump(snap, f)
            os.replace(tmp, _snap_path(self.root, version))
        hint = os.path.join(_meta(self.root), "version-hint.text")
        tmp = hint + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, hint)
        return version

    def abandon(self, version: int) -> int:
        """Drop a staged snapshot whose audit failed: delete its data
        and delete files and its metadata, leaving a hole in the
        version sequence (regular commits never depended on the slot —
        they skip staged slots — so abandoning is cleanup, not
        unblocking). Returns the number of files removed. Refuses to
        touch published snapshots (use ``expire_snapshots`` for
        those)."""
        snap = self.snapshot(version)
        if not snap.get("staged"):
            raise ValueError(f"v{version} is published; abandon refuses")
        removed = 0
        carried = {
            f["path"] for s in self._chain(snap["parent"]) for f in s["manifest"]
        } | {
            d["path"]
            for s in self._chain(snap["parent"])
            for d in s.get("delete_files", [])
        }
        own = [f["path"] for f in snap["manifest"]]
        own += [d["path"] for d in snap.get("delete_files", [])]
        for path in own:
            if path not in carried and os.path.exists(path):
                os.unlink(path)
                removed += 1
        os.unlink(_snap_path(self.root, version))
        return removed

    def commit(
        self,
        df: DataFrame,
        operation: str = "append",
        expected_version: int | None = None,
        carry_manifest: list[dict] | None = None,
        carry_deletes: list[dict] | None = None,
        properties: dict | None = None,
        audit: bool = False,
    ) -> int:
        """Write ``df``'s rows as new immutable data files and publish
        them as the next snapshot. Returns the committed version.

        ``operation``: ``append`` adds to the live set; ``overwrite``
        replaces it (prior files stay on disk for time travel until
        ``expire_snapshots``). ``expected_version`` enables optimistic
        concurrency: the commit fails with :class:`CommitConflict` if
        the table advanced past it. ``carry_manifest`` (overwrite
        only) re-lists existing data files — with their already-known
        stats, no footer re-read — in the new snapshot: the file-level
        reuse that makes copy-on-write upsert/delete O(files touched),
        not O(table). ``properties`` is an arbitrary JSON-serializable
        dict stored IN the snapshot (the analog of Iceberg's snapshot
        summary properties) — because it publishes atomically with the
        data, writers can record progress markers (e.g. which input
        shards a job has ingested) that are exactly-once by
        construction: a crash before the commit leaves no marker, a
        crash after leaves marker AND data.

        ``audit=True`` stages the snapshot WITHOUT moving the version
        pointer — the write-audit-publish pattern: readers keep seeing
        the old head, the auditor reads the staged version via
        ``read(version=...)`` time travel, then :meth:`publish` swings
        the pointer (or :meth:`abandon` drops the stage after a failed
        audit). A live stage never blocks other writers: regular
        commits skip past staged-occupied slots, and a stage whose
        head moved underneath it must re-stage (publish refuses
        non-fast-forward), exactly Iceberg's WAP + optimistic-
        concurrency contract.
        """
        if operation not in ("append", "overwrite"):
            raise ValueError(f"unknown operation {operation!r}")
        if (carry_manifest or carry_deletes) and operation != "overwrite":
            raise ValueError("carry_manifest requires operation='overwrite'")
        base = self.current_version()
        if expected_version is not None and base != expected_version:
            raise CommitConflict(
                f"table at v{base}, commit based on v{expected_version}"
            )
        if base and operation == "append":
            prev = _shape(json.loads(self.snapshot(base)["schema"]))
            new = _shape(json.loads(df.schema.json()))
            if prev != new and not _is_column_add(prev, new):
                raise ValueError(
                    "incompatible schema vs current snapshot — appends may "
                    "only ADD columns (drop/rename/retype requires "
                    "operation='overwrite' after a migration read)"
                )

        stage = os.path.join(self.root, "data", uuid.uuid4().hex)
        df.write.mode("errorifexists").parquet(stage)
        spark = df.sparkSession
        part_files = sorted(
            os.path.join(stage, n)
            for n in os.listdir(stage)
            if n.endswith(".parquet")
        )
        # footer stats task-side; the collect is manifest rows only
        cols = self.stats_cols
        blooms = (
            self._bloom_manifest(spark, part_files) if self.bloom_cols else {}
        )
        vcols = self.value_cols
        manifest = [
            {"path": p, "rows": r, "stats": s, **(
                {"values": v} if v else {}
            ), **(
                {"bloom": blooms[p]} if p in blooms else {}
            )}
            for batch in (
                spark.sparkContext.parallelize(part_files, max(1, len(part_files)))
                .glom()
                .map(lambda ps, c=cols, vc=vcols: _footer_stats(ps, c, vc))
                .collect()
            )
            for (p, r, s, v) in batch
        ]
        added_rows = sum(f["rows"] for f in manifest)
        carried_rows = sum(f["rows"] for f in (carry_manifest or []))
        if operation == "overwrite":
            total = added_rows + carried_rows
        else:
            total = added_rows + (
                self.snapshot(base)["summary"]["total_rows"] if base else 0
            )
        manifest = (carry_manifest or []) + manifest
        # Carried delete files keep merge-on-read deletions active for
        # carried data files (positions referencing rewritten/dead
        # files match nothing at read time). total_rows nets them out;
        # if a carried delete file also referenced a rewritten file it
        # over-subtracts — summary drift only, reads stay exact.
        carried_del_rows = sum(d["rows"] for d in (carry_deletes or []))
        if operation == "overwrite":
            total -= carried_del_rows
        snap = {
            "version": base + 1,
            "parent": base,
            "operation": operation,
            "schema": df.schema.json(),
            "manifest": manifest,
            "delete_files": carry_deletes or [],
            "properties": properties or {},
            "summary": {
                "added_files": len(manifest) - len(carry_manifest or []),
                "carried_files": len(carry_manifest or []),
                "added_rows": added_rows,
                "total_rows": total,
            },
        }
        if audit:
            snap["staged"] = True
        # Slot allocation: skip past slots held by STAGED (WAP)
        # snapshots instead of colliding with them — a staged audit
        # (even a crashed/abandoned one) must never block the head,
        # matching real Iceberg, where WAP stages snapshots outside
        # the published lineage. Losing the O_EXCL race to a
        # PUBLISHED snapshot is a genuine conflict (the head moved;
        # the caller re-reads and retries); losing to a stage just
        # means probing the next slot. The parent pointer stays
        # ``base`` regardless of the slot number, so staged-occupied
        # slots become holes in the version sequence that the chain
        # walk (parent pointers) and history() (skips) tolerate.
        v = base + 1
        while True:
            try:
                if not self.snapshot(v).get("staged"):
                    raise CommitConflict(f"concurrent commit won v{v}")
                v += 1
                continue
            except FileNotFoundError:
                pass
            snap["version"] = v
            try:
                return self._publish(snap, v, stage_only=audit)
            except CommitConflict:
                try:
                    if self.snapshot(v).get("staged"):
                        v += 1
                        continue
                except FileNotFoundError:
                    continue  # racing stage abandoned already: re-probe
                raise

    # -- scan planning ------------------------------------------------------

    def _chain(self, version: int) -> list[dict]:
        """Snapshots contributing live files at ``version`` (newest
        first), cut at the nearest overwrite."""
        out = []
        v = version
        while v:
            s = self.snapshot(v)
            out.append(s)
            if s["operation"] == "overwrite" or s.get("terminator"):
                break
            v = s["parent"]
        return out

    def files(
        self,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
        point: dict | None = None,
        isin: dict | None = None,
    ) -> list[str]:
        """Data files for a snapshot, optionally stats- and
        bloom-pruned.

        ``prune`` maps a stats column to an inclusive ``(lo, hi)``
        range; files whose recorded min/max cannot overlap are
        skipped. ``point`` maps a bloom column to a probe value; files
        whose per-file Bloom filter proves the value absent are
        skipped (no false negatives — a bloom miss is definitive).
        ``isin`` maps a value-list column to a collection of wanted
        values; files whose recorded EXACT distinct-value list is
        disjoint from it are skipped (files without a recorded list
        are kept). All are *optimizations only*: readers still apply the exact
        predicate (a kept file may mix matching and non-matching
        rows). Planning is pure manifest arithmetic: no filesystem
        listing, no footer reads, no Spark job — the bloom probe
        hashes driver-side with the same portable arithmetic the
        write path used.
        """
        version = self.current_version() if version is None else version
        probes = {
            col: _bloom_hash_py(val) for col, val in (point or {}).items()
        }
        out = []
        for snap in self._chain(version):
            for f in snap["manifest"]:
                keep = True
                for col, (lo, hi) in (prune or {}).items():
                    st = f["stats"].get(col)
                    if st is not None and (st[1] < lo or st[0] > hi):
                        keep = False
                        break
                for col, pos in probes.items():
                    if not keep:
                        break
                    bloom = f.get("bloom", {}).get(col)
                    if bloom is not None and not _bloom_test(bloom, pos):
                        keep = False
                for col, wanted in (isin or {}).items():
                    if not keep:
                        break
                    vals = f.get("values", {}).get(col)
                    if vals is not None and not set(vals) & set(wanted):
                        keep = False
                if keep:
                    out.append(f["path"])
        return sorted(out)

    def delete_files(self, version: int | None = None) -> list[dict]:
        """Position-delete file entries live at ``version`` (merge-on-
        read deletions not yet folded in by a rewrite)."""
        version = self.current_version() if version is None else version
        return [
            d for snap in self._chain(version)
            for d in snap.get("delete_files", [])
        ]

    def _apply_deletes(self, df: DataFrame, dels: list[dict]) -> DataFrame:
        """Anti-join pending position deletes against a tagged scan.

        The scan side carries parquet's ``_metadata.file_path`` /
        ``_metadata.row_index`` virtual columns (zero data-page cost);
        the delete side is the union of position-delete parquets. The
        delete set's size is known from manifest arithmetic, so the
        join strategy is decided metadata-only: small delete sets
        broadcast (the overwhelmingly common case — that is why the
        delete was merge-on-read in the first place); huge ones fall
        back to a shuffle join AQE can skew-split.
        """
        if not dels:
            return df
        spark = df.sparkSession
        pos = (
            spark.read.parquet(*sorted(d["path"] for d in dels))
            .select(
                F.col("file_path").alias("__icetable_file"),
                F.col("row_index").alias("__icetable_pos"),
            )
        )
        if sum(d["rows"] for d in dels) <= 4_000_000:
            pos = F.broadcast(pos)
        tagged = df.withColumns(
            {
                "__icetable_file": F.col("_metadata.file_path"),
                "__icetable_pos": F.col("_metadata.row_index"),
            }
        )
        return tagged.join(
            pos, ["__icetable_file", "__icetable_pos"], "left_anti"
        ).drop("__icetable_file", "__icetable_pos")

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
        point: dict | None = None,
        isin: dict | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read: the plan is pinned to the file list
        of one immutable snapshot, so concurrent commits never tear a
        running query (the whole point of snapshot tables). The scan
        is projected through the SNAPSHOT's schema (all-nullable), so
        files written before an add-column evolution surface the new
        columns as nulls. Pending merge-on-read position deletes are
        applied before rows surface. ``prune``/``point`` narrow the
        planned file set (see :meth:`files`); callers still apply the
        exact predicate."""
        version = self.current_version() if version is None else version
        if not version:
            raise ValueError("empty table with no snapshot to take schema from")
        schema = self._snapshot_schema(version)
        files = self.files(version, prune, point, isin)
        if not files:
            return spark.createDataFrame([], schema)
        df = spark.read.schema(schema).parquet(*files)
        return self._apply_deletes(df, self.delete_files(version))

    def incremental(
        self, spark: SparkSession, from_version: int, to_version: int
    ) -> DataFrame:
        """Rows appended in ``(from_version, to_version]`` — the
        changelog read that lets a downstream consumer resume from its
        last processed snapshot instead of rescanning the table."""
        if from_version > to_version:
            raise ValueError("from_version must be <= to_version")
        files = []
        for v in range(from_version + 1, to_version + 1):
            s = self.snapshot(v)
            if s["operation"] != "append":
                raise ValueError(
                    f"v{v} is an {s['operation']}; incremental reads only "
                    "span appends"
                )
            files.extend(f["path"] for f in s["manifest"])
        if not files:
            return self.read(spark, to_version).limit(0)
        return spark.read.schema(self._snapshot_schema(to_version)).parquet(
            *sorted(files)
        )

    # -- row-level ops (copy-on-write MERGE / DELETE) -----------------------

    def _live_entries(self, version: int | None = None) -> list[dict]:
        """Manifest entries (path/rows/stats) live at ``version``."""
        version = self.current_version() if version is None else version
        return [f for snap in self._chain(version) for f in snap["manifest"]]

    def upsert(self, updates: DataFrame, key: str | None = None) -> int:
        """Latest-wins MERGE on ``key`` (default: first stats column),
        copy-on-write: rows of ``updates`` replace same-key rows, new
        keys append. Returns the committed version.

        Cost is O(files whose key range overlaps the update batch),
        not O(table): the update keys' min/max (one tiny agg) prunes
        the live manifest by recorded per-file stats; only overlapping
        files are re-read, anti-joined against the update key set, and
        rewritten — every other file carries into the new snapshot by
        reference. With range-clustered writes (``compact``'s default)
        a narrow update batch touches a handful of files out of
        millions. The anti-join's right side is the update batch's
        distinct keys — typically broadcast-sized; for corpus-scale
        backfills AQE plans a shuffle join and the shape still holds.
        """
        key = key or (self.stats_cols[0] if self.stats_cols else None)
        if key is None:
            raise ValueError("upsert needs a key column (set stats_cols)")
        import bisect

        from pyspark.sql import functions as F

        base = self.current_version()
        if not base:
            return self.commit(updates, "append")
        lo, hi = updates.agg(F.min(key), F.max(key)).first()
        if lo is None:
            return base  # empty update batch: no-op
        # Exact file pruning needs more than the batch's global
        # [min, max] — one new key at the far end of the keyspace would
        # mark every file a rewrite candidate. When the distinct key
        # set is driver-small (the common MERGE batch), collect it
        # sorted and probe each file's range with a binary search;
        # otherwise fall back to the global range (still sound, just
        # coarser — Iceberg's metadata-only planning has the same
        # precision cliff once the batch stops being enumerable).
        keys = updates.select(key).distinct()
        key_list: list | None = None
        if keys.limit(65_537).count() <= 65_536:
            key_list = sorted(r[0] for r in keys.collect())
        entries = self._live_entries(base)
        cand, carry = [], []
        for f in entries:
            st = f["stats"].get(key)
            if st is None:  # no recorded stats -> must assume overlap
                cand.append(f)
            elif key_list is not None:
                i = bisect.bisect_left(key_list, st[0])
                hit = i < len(key_list) and key_list[i] <= st[1]
                (cand if hit else carry).append(f)
            else:
                (carry if st[1] < lo or st[0] > hi else cand).append(f)
        spark = updates.sparkSession
        dels = self.delete_files(base)
        if cand:
            survivors = self._apply_deletes(
                spark.read.schema(self._snapshot_schema(base)).parquet(
                    *sorted(f["path"] for f in cand)
                ),
                dels,
            ).join(keys, key, "left_anti")
            # allowMissingColumns: an update batch may carry an
            # add-column evolution; survivors project it as null
            new_df = survivors.unionByName(updates, allowMissingColumns=True)
        else:
            new_df = updates
        return self.commit(
            new_df,
            operation="overwrite",
            expected_version=base,
            carry_manifest=carry,
            # rewritten candidates had pending deletes applied above;
            # carried files still need theirs active at read time
            carry_deletes=dels if carry else [],
        )

    def delete_where(
        self, spark: SparkSession, predicate: str,
        prune: dict[str, tuple] | None = None,
    ) -> int:
        """Copy-on-write DELETE: rewrite files that may hold matching
        rows without the matches; carry the rest by reference.

        ``predicate`` is a SQL boolean over the table's columns
        (rows it selects are REMOVED); ``prune`` optionally narrows
        the rewrite set by stats ranges, same semantics as
        :meth:`files` — sound because a non-overlapping file cannot
        contain a matching row *for predicates implied by that range*
        (the caller owns that implication, as in Iceberg's
        metadata-only delete planning).
        """
        base = self.current_version()
        if not base:
            raise ValueError("delete on empty table")
        entries = self._live_entries(base)
        cand, carry = [], []
        for f in entries:
            keep = True
            for col, (lo, hi) in (prune or {}).items():
                st = f["stats"].get(col)
                if st is not None and (st[1] < lo or st[0] > hi):
                    keep = False
                    break
            (cand if keep else carry).append(f)
        if not cand:
            return base  # nothing can match: metadata-only no-op
        dels = self.delete_files(base)
        survivors = self._apply_deletes(
            spark.read.schema(self._snapshot_schema(base)).parquet(
                *sorted(f["path"] for f in cand)
            ),
            dels,
        ).filter(f"NOT ({predicate})")
        return self.commit(
            survivors,
            operation="overwrite",
            expected_version=base,
            carry_manifest=carry,
            carry_deletes=dels if carry else [],
        )

    def delete_where_mor(
        self, spark: SparkSession, predicate: str,
        prune: dict[str, tuple] | None = None,
    ) -> int:
        """Merge-on-read DELETE: publish *position-delete files* (data
        file path, row index — the Iceberg spec-v2 positional delete)
        instead of rewriting data files. Returns the committed version
        (unchanged if nothing matched).

        This is the only delete shape that works for a sparse
        predicate on a 100 TB table: copy-on-write would rewrite every
        file containing one matching row, merge-on-read writes bytes
        proportional to the MATCHES and defers the fold to
        :meth:`compact`. The cost moves to reads — one anti-join
        against the pending delete set, broadcast while the set is
        small (decided from manifest arithmetic, no extra job) — which
        is why compaction still matters.

        Already-deleted positions are excluded from the new delete
        files, so delete-file row counts stay exact under repeated or
        overlapping predicates.
        """
        base = self.current_version()
        if not base:
            raise ValueError("delete on empty table")
        entries = self._live_entries(base)
        cand = []
        for f in entries:
            keep = True
            for col, (lo, hi) in (prune or {}).items():
                st = f["stats"].get(col)
                if st is not None and (st[1] < lo or st[0] > hi):
                    keep = False
                    break
            if keep:
                cand.append(f)
        prev_dels = self.delete_files(base)
        if not cand:
            return base  # nothing can match: metadata-only no-op
        scan = (
            spark.read.schema(self._snapshot_schema(base))
            .parquet(*sorted(f["path"] for f in cand))
        )
        matches = (
            scan.filter(predicate)
            .select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("row_index"),
            )
        )
        if prev_dels:
            prior = spark.read.parquet(
                *sorted(d["path"] for d in prev_dels)
            ).select("file_path", "row_index")
            if sum(d["rows"] for d in prev_dels) <= 4_000_000:
                prior = F.broadcast(prior)
            matches = matches.join(
                prior, ["file_path", "row_index"], "left_anti"
            )
        stage = os.path.join(self.root, "deletes", uuid.uuid4().hex)
        matches.write.mode("errorifexists").parquet(stage)
        part_files = sorted(
            os.path.join(stage, n)
            for n in os.listdir(stage)
            if n.endswith(".parquet")
        )
        new_dels = [
            {"path": p, "rows": r}
            for batch in (
                spark.sparkContext.parallelize(
                    part_files, max(1, len(part_files))
                )
                .glom()
                .map(lambda ps: _footer_stats(ps, ()))
                .collect()
            )
            for (p, r, _s, _v) in batch
            if r  # drop empty parts
        ]
        n_deleted = sum(d["rows"] for d in new_dels)
        if not n_deleted:
            import shutil

            shutil.rmtree(stage, ignore_errors=True)
            return base  # predicate matched nothing: no-op
        prev = self.snapshot(base)
        snap = {
            "version": base + 1,
            "parent": base,
            "operation": "delete",
            "schema": prev["schema"],
            "manifest": [],  # adds no data files
            "delete_files": new_dels,
            "properties": {},
            "summary": {
                "added_files": 0,
                "added_delete_files": len(new_dels),
                "deleted_rows": n_deleted,
                "total_rows": prev["summary"]["total_rows"] - n_deleted,
            },
        }
        return self._publish(snap, base + 1)

    # -- maintenance --------------------------------------------------------

    def compact(
        self, spark: SparkSession, target_files: int, cluster_by: str | None = None
    ) -> int:
        """Rewrite the live file set into ``target_files`` files
        (range-clustered on ``cluster_by``, default the first stats
        column) and publish the rewrite as an overwrite snapshot.

        This is the small-files maintenance action: a streaming or
        micro-batch producer appending every few minutes leaves
        thousands of KB-sized files whose per-file open/footer cost
        dominates scans; compaction restores big, range-clustered
        files (which also restores pruning selectivity). Pending
        merge-on-read position deletes are folded into the rewrite
        (the new snapshot carries no delete files), restoring
        anti-join-free reads. Logical rows are unchanged — readers see
        the same table, time travel to pre-compaction snapshots still
        works until expiration."""
        cluster_by = cluster_by or (self.stats_cols[0] if self.stats_cols else None)
        base = self.current_version()
        df = self.read(spark, version=base)
        if cluster_by is not None:
            df = df.repartitionByRange(target_files, cluster_by)
        else:
            df = df.repartition(target_files)
        return self.commit(df, operation="overwrite", expected_version=base)

    def expire_snapshots(self, keep_from: int) -> int:
        """Drop snapshots older than ``keep_from`` and delete data
        files no surviving snapshot references. Returns the number of
        data files removed. (Iceberg's expire_snapshots action.)

        Because an append snapshot lists only its ADDED files, the
        oldest kept snapshot is first *compacted*: its chain's full
        manifest is inlined and it becomes a chain terminator, so the
        ancestor metadata it relied on can be deleted while every kept
        version stays fully readable."""
        current = self.current_version()
        keep_from = max(1, min(keep_from, current))
        if keep_from <= 1:
            return 0
        # Staged (WAP) snapshots occupy slots outside the published
        # lineage (possibly below keep_from, possibly above current):
        # their files and metadata stay — the auditor may still
        # publish. Holes (abandoned/expired slots) are skipped.
        staged_slots: set[int] = set()
        for n in os.listdir(_meta(self.root)):
            if n.startswith("snap-") and n.endswith(".json"):
                v = int(n[5:-5])
                if self.snapshot(v).get("staged"):
                    staged_slots.add(v)
        live: set[str] = set()
        for v in {*range(keep_from, current + 1), *staged_slots}:
            try:
                for snap in self._chain(v):
                    live.update(f["path"] for f in snap["manifest"])
                    live.update(
                        d["path"] for d in snap.get("delete_files", [])
                    )
            except FileNotFoundError:  # hole in the version sequence
                continue
        while keep_from in staged_slots or not os.path.exists(
            _snap_path(self.root, keep_from)
        ):
            keep_from += 1  # compact the oldest PUBLISHED kept snapshot
            if keep_from > current:
                return 0
        oldest = self.snapshot(keep_from)
        if not (oldest["operation"] == "overwrite" or oldest.get("terminator")):
            oldest["manifest"] = [
                f for snap in self._chain(keep_from) for f in snap["manifest"]
            ]
            oldest["delete_files"] = self.delete_files(keep_from)
            oldest["terminator"] = True
            tmp = _snap_path(self.root, keep_from) + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump(oldest, f)
            os.replace(tmp, _snap_path(self.root, keep_from))
        removed = 0
        for v in range(1, keep_from):
            if v in staged_slots:
                continue  # a live stage keeps its slot until publish/abandon
            try:
                snap = self.snapshot(v)
            except FileNotFoundError:
                continue
            dead = [f["path"] for f in snap["manifest"]]
            dead += [d["path"] for d in snap.get("delete_files", [])]
            for path in dead:
                if path not in live and os.path.exists(path):
                    os.unlink(path)
                    removed += 1
            os.unlink(_snap_path(self.root, v))
        return removed


    def changelog(self, spark: SparkSession, from_version: int,
                   to_version: int) -> DataFrame:
        """Typed CDC read of ``(from_version, to_version]``: every row
        change as data columns + ``_change_type`` ('insert' | 'delete') +
        ``_commit_version`` — the Iceberg changelog-scan analog, built
        from manifest arithmetic alone.

        * ``append`` snapshots contribute their manifest files' rows as
          inserts — exactly :meth:`IceTable.incremental`'s read, typed.
        * ``delete`` (merge-on-read) snapshots contribute the DELETED ROWS:
          the position-delete parquets published at that version name
          (file, row_index) pairs; the referenced data files — still on
          disk for time travel — are re-scanned with parquet's virtual
          ``_metadata`` columns and semi-joined on position, so the
          emitted rows are the pre-delete images at bytes ∝ files touched,
          not table size. The delete set broadcasts below the same 4M-row
          manifest-arithmetic bar the MOR read uses.
        * ``overwrite`` snapshots (CoW upsert/delete, compaction) raise:
          net row changes across a rewrite are not derivable from the
          manifest without diffing file contents — the same honesty rule
          :meth:`IceTable.incremental` applies to non-append chains.

        Downstream consumers fold this stream idempotently per version
        window (see ``merge_rollup`` for the insert-only special case).
        """
        if from_version > to_version:
            raise ValueError("from_version must be <= to_version")
        frames = []
        for v in range(from_version + 1, to_version + 1):
            s = self.snapshot(v)
            schema = self._snapshot_schema(v)
            tag = {"_change_type": F.lit("insert"), "_commit_version": F.lit(v)}
            if s["operation"] == "append":
                files = sorted(f["path"] for f in s["manifest"])
                if files:
                    frames.append(
                        spark.read.schema(schema).parquet(*files).withColumns(tag)
                    )
            elif s["operation"] == "delete":
                dels = s.get("delete_files", [])
                if not dels:
                    continue
                pos = spark.read.parquet(*sorted(d["path"] for d in dels)).select(
                    F.col("file_path").alias("__f"),
                    F.col("row_index").alias("__p"),
                )
                # distinct touched files: bounded by the manifest, so the
                # collect is metadata-sized like every planner collect here
                touched = sorted(r["__f"] for r in pos.select("__f").distinct().collect())
                if sum(d["rows"] for d in dels) <= 4_000_000:
                    pos = F.broadcast(pos)
                scan = (
                    spark.read.schema(schema).parquet(*touched)
                    .withColumns(
                        {
                            "__f": F.col("_metadata.file_path"),
                            "__p": F.col("_metadata.row_index"),
                        }
                    )
                )
                deleted = (
                    scan.join(pos, ["__f", "__p"], "semi")
                    .drop("__f", "__p")
                    .withColumns(
                        {
                            "_change_type": F.lit("delete"),
                            "_commit_version": F.lit(v),
                        }
                    )
                )
                frames.append(deleted)
            else:
                raise ValueError(
                    f"v{v} is an {s['operation']}; changelog reads span "
                    "appends and merge-on-read deletes only"
                )
        if not frames:
            return self.read(spark, to_version).limit(0).withColumns(
                {"_change_type": F.lit(""), "_commit_version": F.lit(0)}
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out


def merge_rollup(
    spark: SparkSession, view: "IceTable", delta_agg: DataFrame, key: str
) -> int:
    """Incremental materialized-view maintenance: fold an aggregated
    changelog delta into a persisted rollup table.

    ``delta_agg`` is (key, additive numeric columns...) computed from a
    changelog read (:meth:`IceTable.incremental`) — NOT from the full
    base table. Keys present in the delta get ``new total = old +
    delta`` and are MERGEd in (copy-on-write upsert, O(files whose key
    range overlaps)); keys absent from the delta are never read,
    joined, or rewritten. The first refresh simply commits the delta
    aggregate as the view's initial snapshot.

    This is the 100 TB refresh shape: per ingest batch the maintenance
    cost is O(delta rows + view keys touched), while recomputing the
    rollup from the base table would rescan the whole corpus every
    batch. Because both the base commit and the view upsert are atomic
    snapshot commits, a crashed refresh leaves the view at its previous
    consistent version — the caller re-runs the SAME (from_version,
    to_version] window and the fold is idempotent per window.

    The join of delta keys against the previous view is a plain
    equi-join (the view may be corpus-key-sized — per-host rollups at
    10^7 hosts are not broadcastable); Spark picks broadcast while the
    view is provably small from its own manifest row counts.

    Returns the committed view version.
    """
    if view.current_version() == 0:
        return view.commit(delta_agg)
    num_cols = [c for c in delta_agg.columns if c != key]
    prev = view.read(spark)
    refreshed = delta_agg.alias("d").join(prev.alias("p"), key, "left").select(
        key,
        *[
            (F.coalesce(F.col(f"p.{c}"), F.lit(0)) + F.col(f"d.{c}")).alias(c)
            for c in num_cols
        ],
    )
    return view.upsert(refreshed, key=key)

