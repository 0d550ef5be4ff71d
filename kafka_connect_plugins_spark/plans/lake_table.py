"""Snapshot-versioned, hash-bucketed lake table with MERGE upsert.

The reference's sinks are external upsert-by-key stores (JDBC upsert,
ClickHouse ReplacingMergeTree, Redshift — see
ClickHouseFlattenTransformer.kt:18-57 and README.md:113-151); the north rule
requires key-partitioned MERGE upserts into an Iceberg table with
exactly-once epoch guards. This container has no Iceberg runtime jar, so the
table format is implemented here with the same architectural properties
Iceberg provides.

Layout::

    <root>/
      manifests/v{N}.json   snapshot N: bucket -> data version, epochs, schema
      _CURRENT              main's head version (tmp file + atomic rename)
      _REFS.json            branch and tag heads (same atomic write)
      data/v{N}/_bucket=B/  parquet for bucket B, rewritten at snapshot N

Every mutation commits through ``LakeTable._commit``: allocate ``N`` as 1 +
the newest manifest on disk, write the dirty buckets into ``data/v{N}``,
write ``manifests/v{N}.json``, then move the ref. The contract is ONE
WRITER PER REF: ``N`` is chosen before the write job, so writers racing on
one ref write into one ``data/v{N}``, each with its own copy of the carried
rows, and the parent check at commit is not a compare-and-swap. Racing
merges have published the loser's rows under the winner's commit (two live
rows for a carried key) while the ledger records only the winner, or
killed the loser with a raw ``Py4JJavaError`` instead of
``CommitConflictError``.

Scale properties (the reasons for each design choice):

- **Key bucketing**: every row lives in bucket ``pmod(xxhash64(repo,path), n)``.
  MERGE joins source and target *per bucket* — both sides arrive
  hash-partitioned on the same key space, so the combine is a co-located
  aggregation, never a broadcast or a full-table sort-merge join.
- **Dirty-bucket pruning**: a microbatch touches only the buckets its keys
  hash to; clean buckets are carried forward by manifest reference. Merge
  I/O is proportional to the touched key space, not table size. Every
  bucket of a snapshot is one file set, written by the last rewrite that
  touched it.
- **Snapshot isolation**: readers resolve ``_CURRENT`` once and read an
  immutable file set; a crashed merge leaves only unreferenced garbage,
  never a torn table.
- **Exactly-once**: each merge records ``(stream_id, epoch_id)`` inside the
  manifest it commits — the same atomic unit as the data pointer swap, which
  is precisely Iceberg's snapshot-summary epoch pattern. Replaying a
  committed epoch is a no-op.
- **Schema evolution**: the manifest carries the table schema; new nullable
  payload fields widen it (union-by-field-presence, the Avro resolution
  semantics of the reference's v1/v2 fixtures — SURVEY.md §1.3); old files
  are back-filled with nulls at read time.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_plugins_spark.functions.lww import latest_per_key

LSN_COL = "_lsn"
TOMBSTONE_COL = "_tombstone"
BUCKET_COL = "_bucket"
_RESERVED = {LSN_COL, TOMBSTONE_COL, BUCKET_COL}


def _bucket_id(keys: list, num_buckets: int) -> Column:
    """The bucket a key lives in: ``pmod(xxhash64(*keys), num_buckets)``.

    The one definition that every writer (merge, rebucket, merge_into) and
    the lookup's reader use, so no reader can route a key to a different
    bucket than its writer. ``keys`` are key column names or Columns, in
    key-column order.
    """
    return F.pmod(F.xxhash64(*keys), F.lit(num_buckets)).cast("int")


def _contains_map_type(dt: T.DataType) -> bool:
    """True when ``dt`` contains a MapType anywhere — such columns are not
    null-safe-comparable in Spark (``EqualNullSafe`` rejects map ordering),
    so equality checks on them must go through a serialized form."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map_type(f_.dataType) for f_ in dt.fields)
    return False
# The equal-LSN tiebreak packs lsn*2+src into one long (see merge()); LSNs at
# or above 2**62 would overflow the packing silently.
_LSN_DOMAIN_MAX = 1 << 62
# Bits per column in compact()'s z-order key (255 range boundaries each).
_ZORDER_BITS = 8


@dataclass
class MergeStats:
    epoch_id: int | None
    skipped: bool
    source_rows: int = 0
    dirty_buckets: int = 0
    total_buckets: int = 0
    # Distinct keys upserted this epoch (the winner set).
    rows_written: int = 0
    schema_added_columns: list[str] = field(default_factory=list)
    schema_widened_columns: list[str] = field(default_factory=list)
    seconds: float = 0.0
    # Per-source-partition lineage: {partition: {"events": n, "max_lsn": m}}.
    # The CDC log-position record — filled when merge() gets lineage_col.
    lineage: dict = field(default_factory=dict)
    # Wall time per merge phase: {"stats": key-stats agg + one collect,
    # "write": the data write job (the LWW exchange + parquet write),
    # "commit": manifest swap + output listing}. The driver-serial share of
    # an epoch is everything except the write job's parallel portion.
    phases: dict = field(default_factory=dict)


@dataclass
class MergePrep:
    """Source-side merge preparation, separable from the table write.

    Everything here derives from the SOURCE batch alone (normalized frame,
    per-bucket key stats, domain guards, lineage) — no target state is
    read and nothing is committed or cached. The split lets a caller time
    the stats half (one aggregation + one driver collect) apart from the
    write+commit half, as a traced benchmark epoch does. The epoch guard,
    schema evolution and every manifest read stay in :meth:`LakeTable.merge`.
    """

    src: DataFrame                  # normalized source (+ _bucket), lazy
    bucket_counts: list             # collected per-bucket stats rows
    lineage: dict                   # per-source-partition event counts
    n_winner_keys: int
    src_rows: int
    user_fields: list               # non-key payload StructFields
    incoming: "T.StructType"        # schema offered for evolution
    stats_seconds: float            # wall time of the stats agg + collect
    table_root: str                 # safety: prep is table-specific


def digest_components(df: DataFrame) -> DataFrame:
    """Order-insensitive digest components of a DataFrame's rows, as one
    aggregated row ``(n, digest_a, digest_b)``.

    Per row: sha256 over the canonical concat of every column (sorted by
    name, cast to string, NULL distinguished from '' by a ``\\x00``
    sentinel, fields joined on ``\\x1f``). The fold is addition of the
    hash's two leading 60-bit halves in decimal(38,0) — exact, overflow-
    free below ~10^20 rows, and invariant to row order, partitioning, and
    task count. Reproducible in ANSI SQL (DuckDB:
    ``('0x' || substr(sha256(...), 1, 15))::UBIGINT`` summed), which is
    what lets the correctness gate check the verification machinery
    itself. One map-only pass + a partial aggregate; no shuffle of row
    data.
    """
    cols = sorted(df.columns)
    canon = F.sha2(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in cols
            ],
        ),
        256,
    )
    return df.select(canon.alias("__h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.conv(F.substring("__h", 1, 15), 16, 10).cast("decimal(38,0)")
        ).alias("digest_a"),
        F.sum(
            F.conv(F.substring("__h", 16, 15), 16, 10).cast("decimal(38,0)")
        ).alias("digest_b"),
    )


def cdf_classify_emit(
    joined: DataFrame,
    keys: list[str],
    vals: list[str],
    o_live,
    n_live,
    differs,
    include_preimages: bool,
    extra_cols: tuple = (),
) -> DataFrame:
    """The change-data-feed classification contract, shared by
    :meth:`LakeTable.read_changes` and ``incremental_view.snapshot_diff``.

    ``joined`` is a full-outer key join with every column prefixed ``o_``
    (old snapshot) / ``n_`` (new); the callers own what "live" and
    "differs" mean (lake snapshots test LSN + tombstone, in-memory
    snapshots test existence flags). Emits ``insert`` /
    ``update_preimage`` / ``update_postimage`` / ``delete`` rows — old
    column values on the old-side types, new on the rest — and nothing
    for untouched keys. One definition so a contract change (a new change
    type, a no-op rule) cannot drift between the two feeds."""
    update_types = (
        F.array(F.lit("update_preimage"), F.lit("update_postimage"))
        if include_preimages
        else F.array(F.lit("update_postimage"))
    )
    change = (
        F.when(~o_live & n_live, F.array(F.lit("insert")))
        .when(o_live & n_live & differs, update_types)
        .when(o_live & ~n_live, F.array(F.lit("delete")))
    )
    old_side = F.col("_change_type").isin("delete", "update_preimage")
    return (
        joined.withColumn("_change_types", change)
        .filter(F.col("_change_types").isNotNull())
        .select("*", F.explode("_change_types").alias("_change_type"))
        .select(
            *[F.coalesce(F.col(f"n_{k}"), F.col(f"o_{k}")).alias(k) for k in keys],
            *[
                F.when(old_side, F.col(f"o_{c}")).otherwise(F.col(f"n_{c}")).alias(c)
                for c in vals
            ],
            F.col("_change_type"),
            *extra_cols,
        )
    )


class CommitConflictError(RuntimeError):
    """The ref advanced after this operation read its base snapshot, so
    its manifest was not written. Its rows may still be live: a writer
    racing on one ref shares its data dir (see the module docstring)."""


class SchemaEvolutionError(TypeError):
    """Incompatible schema change (type conflict / non-additive)."""


class LakeTable:
    """A bucketed, snapshot-versioned upsert table."""

    def __init__(self, spark: SparkSession, root: str, ref: str = "main"):
        self.spark = spark
        self.root = root
        # The branch this handle commits to. "main" is the published table
        # (`_CURRENT`); any other name resolves through `_REFS.json` and is
        # the write-audit-publish staging surface (Iceberg branch analogue).
        self.ref = ref

    # ------------------------------------------------------------------
    # creation / manifest plumbing
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key_columns: list[str],
        num_buckets: int = 64,
        schema: T.StructType | None = None,
    ) -> "LakeTable":
        """Create an empty table at ``root``. Every data write puts a parquet
        bloom filter on each key column, sized from the row counts the
        manifest already keeps (see :meth:`_bucket_writer`)."""
        if os.path.exists(os.path.join(root, "_CURRENT")):
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        table = cls(spark, root)
        manifest = {
            "version": 0,
            "key_columns": list(key_columns),
            "num_buckets": int(num_buckets),
            "buckets": {},  # bucket id (str) -> data version (int)
            "epochs": {},  # stream id -> last committed epoch
            "schema": json.loads(schema.json()) if schema is not None else None,
            "summary": {"created_at_ms": int(time.time() * 1000)},
        }
        table._write_manifest(manifest)
        return table

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        if not os.path.exists(os.path.join(root, "_CURRENT")):
            raise FileNotFoundError(f"no lake table at {root}")
        return cls(spark, root)

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self._head_version()
        with open(os.path.join(self.root, "manifests", f"v{version}.json")) as f:
            m = json.load(f)
        # Older versions of this engine could leave merge-on-read delta files
        # per bucket. Every reader here reads one base file set per bucket,
        # so a snapshot that still lists deltas would serve stale rows.
        pending = m.pop("deltas", None)
        if pending:
            raise ValueError(
                f"snapshot v{version} of {self.root} has pending merge-on-read "
                f"deltas in buckets {sorted(int(b) for b in pending)}, which this "
                f"version cannot read. With the version that wrote them, run "
                f"compact() to fold them, then expire_snapshots() to drop the "
                f"older snapshots that still list them."
            )
        return m

    def _head_version(self, ref: str | None = None) -> int:
        """Resolve a ref name (default: this handle's branch) to a version."""
        ref = self.ref if ref is None else ref
        if ref == "main":
            with open(os.path.join(self.root, "_CURRENT")) as f:
                return int(f.read().strip())
        refs = self.refs()
        if ref in refs["branches"]:
            return int(refs["branches"][ref])
        if ref in refs["tags"]:
            return int(refs["tags"][ref])
        raise KeyError(f"no branch or tag named {ref!r}")

    def _manifest_versions(self) -> list[int]:
        """Every version with a manifest on disk, ascending: the one
        listing of ``manifests/``. An in-flight ``.tmp.<uuid>`` write is
        outside the ``v*.json`` filter."""
        return sorted(
            int(name[1:-5])
            for name in os.listdir(os.path.join(self.root, "manifests"))
            if name.startswith("v") and name.endswith(".json")
        )

    def _next_version(self) -> int:
        """Allocate the next snapshot version: 1 + the max manifest on disk.

        Equals head+1 on a linear history; with branches it keeps every
        manifest file and ``data/v{N}`` dir globally unique even when two
        branches commit interleaved. Single-writer-per-branch is assumed
        (see ``_commit``).
        """
        return 1 + self._manifest_versions()[-1]

    @staticmethod
    def _atomic_write(path: str, text: str) -> None:
        """Write ``text`` to ``path`` through a ``.tmp.<uuid>`` sibling and
        one rename: readers see the old file or the new one, never a torn
        one. Every metadata file (manifests, ``_CURRENT``, ``_REFS.json``)
        is written here."""
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def _move_ref(self, ref: str, version: int) -> None:
        """Point ``ref`` at ``version``: main is the ``_CURRENT`` pointer,
        any other branch its entry in ``_REFS.json``."""
        if ref == "main":
            self._atomic_write(os.path.join(self.root, "_CURRENT"), str(version))
            return
        refs = self.refs()
        if ref not in refs["branches"]:
            raise KeyError(f"branch {ref!r} does not exist (create_branch first)")
        refs["branches"][ref] = int(version)
        self._write_refs(refs)

    def _write_manifest(self, manifest: dict) -> None:
        version = manifest["version"]
        # Parent check: the snapshot was prepared against its ``parent``; if
        # the ref moved on since (a CLI maintenance op racing a live
        # ingest), this manifest is not written. It follows the data write
        # and is a read, then a rename, not a compare-and-swap, so it keeps
        # neither racer's rows out of the other's commit (module docstring).
        # Root-snapshot commits (parent None) skip the check.
        parent = manifest.get("parent")
        if parent is not None:
            head = self._head_version(self.ref)
            if int(head) != int(parent):
                raise CommitConflictError(
                    f"ref {self.ref!r} advanced to v{head} while this "
                    f"operation was prepared against v{parent}; its manifest "
                    f"was not written, but its rows in data/v{version} are live "
                    f"if a racing commit shares that dir (one writer per ref)"
                )
        # Atomic write: a crash mid-write must not leave a TORN manifest —
        # it would never publish (the ref move below is the commit point),
        # but maintenance walks every manifest file on disk, and one
        # truncated JSON would poison those walks permanently.
        self._atomic_write(
            os.path.join(self.root, "manifests", f"v{version}.json"),
            json.dumps(manifest, indent=1, sort_keys=True),
        )
        # Moving the ref is the commit point (Iceberg's version-hint swap).
        # A non-main handle advances its branch ref instead of the
        # published pointer: staged commits are invisible to main readers.
        self._move_ref(self.ref, version)

    def _commit(
        self,
        manifest: dict,
        summary: dict | Callable[[], dict | None],
        *,
        data: DataFrame | None = None,
        dirty: list[int] | None = None,
        parent: int | None = None,
        phases: dict | None = None,
        key_ndv: int | None = None,
    ) -> dict | None:
        """Commit ``manifest`` as this ref's next snapshot: the one commit
        step of every mutation. Returns the committed manifest.

        Stamps ``version`` (allocated here and nowhere else), ``parent``
        (the version ``manifest`` was derived from, unless given) and
        ``summary`` plus ``committed_at_ms``. Metadata-only commits stop
        there.

        With ``dirty`` set this is also the one data-write path. ``data``
        (None: nothing to write) goes through :meth:`_bucket_writer` into
        ``data/v{N}`` (``key_ndv`` sizes its key blooms), and the bucket
        map is rebased on the buckets that landed there. Each ``dirty``
        bucket points at ``v{N}`` if written and is dropped if not (all its
        rows were deleted). The new dir's footer stats are attached.
        ``phases`` receives the ``write`` and ``commit`` wall times. A
        callable ``summary`` runs after the write; if it returns None, the
        written dir is removed and None is returned, with nothing committed
        (removing ``data/v{N}`` is safe only under the one-writer contract).

        Concurrency: one writer per ref. The module docstring says what
        writers racing on one ref do to the table.
        """
        version = self._next_version()
        new = {
            **manifest,
            "version": version,
            "parent": int(manifest["version"]) if parent is None else parent,
        }
        if dirty is not None:
            out_dir = os.path.join(self.root, "data", f"v{version}")
            t_w = time.time()
            if data is not None:
                self._bucket_writer(data, manifest, key_ndv).parquet(out_dir)
            if callable(summary):
                summary = summary()
                if summary is None:
                    shutil.rmtree(out_dir, ignore_errors=True)
                    return None
            t_c = time.time()
            written = {
                int(name.split("=", 1)[1])
                for name in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
                if name.startswith(f"{BUCKET_COL}=")
            }
            buckets = dict(manifest["buckets"])
            for b in dirty:
                if b in written:
                    buckets[str(b)] = version
                else:
                    buckets.pop(str(b), None)
            new = self._with_file_stats({**new, "buckets": buckets}, out_dir)
        new["summary"] = {"committed_at_ms": int(time.time() * 1000), **summary}
        self._write_manifest(new)
        if phases is not None:
            phases["write"] = round(t_c - t_w, 3)
            phases["commit"] = round(time.time() - t_c, 3)
        return new

    # ------------------------------------------------------------------
    # refs: tags, branches, write-audit-publish
    # ------------------------------------------------------------------
    def refs(self) -> dict:
        """``{"branches": {name: version}, "tags": {name: version}}``."""
        path = os.path.join(self.root, "_REFS.json")
        if not os.path.exists(path):
            return {"branches": {}, "tags": {}}
        with open(path) as f:
            return json.load(f)

    def _write_refs(self, refs: dict) -> None:
        self._atomic_write(
            os.path.join(self.root, "_REFS.json"),
            json.dumps(refs, indent=1, sort_keys=True),
        )

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named snapshot pointer (Iceberg tag analogue)."""
        refs = self.refs()
        if name in refs["tags"] or name in refs["branches"] or name == "main":
            raise ValueError(f"ref {name!r} already exists")
        version = self._head_version() if version is None else int(version)
        self.manifest(version)  # existence check
        refs["tags"][name] = version
        self._write_refs(refs)
        return version

    def create_branch(self, name: str, version: int | None = None) -> "LakeTable":
        """Fork a mutable branch at ``version`` (default: this head) and
        return a handle bound to it.

        The branch carries the fork point's full manifest state — schema,
        bucket map AND epoch guards — so staged ingest keeps exactly-once
        semantics, and :meth:`publish` fast-forwards all of it onto main
        atomically. This is the write-audit-publish pattern: ingest to a
        branch, audit the staged snapshot, publish (or drop) it.
        """
        refs = self.refs()
        if name in refs["tags"] or name in refs["branches"] or name == "main":
            raise ValueError(f"ref {name!r} already exists")
        version = self._head_version() if version is None else int(version)
        self.manifest(version)  # existence check
        refs["branches"][name] = version
        self._write_refs(refs)
        return LakeTable(self.spark, self.root, ref=name)

    def checkout(self, ref: str = "main") -> "LakeTable":
        """A handle bound to an existing branch (or back to main)."""
        if ref != "main":
            refs = self.refs()
            if ref not in refs["branches"]:
                raise KeyError(f"no branch named {ref!r}")
        return LakeTable(self.spark, self.root, ref=ref)

    def drop_ref(self, name: str) -> None:
        refs = self.refs()
        if name in refs["branches"]:
            del refs["branches"][name]
        elif name in refs["tags"]:
            del refs["tags"][name]
        else:
            raise KeyError(f"no branch or tag named {name!r}")
        self._write_refs(refs)

    def _ancestry(self, version: int) -> list[int]:
        """Versions from ``version`` back to the root, following ``parent``
        (manifests predating parent tracking fall back to version-1)."""
        chain = []
        v: int | None = version
        while v is not None and v >= 0:
            chain.append(v)
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired tail — ancestry ends at the retention horizon
            v = m.get("parent", v - 1 if v > 0 else None)
        return chain

    def publish(self, branch: str, drop: bool = True) -> int:
        """Fast-forward main to a branch head (the WAP publish step).

        Requires main's current version to be an ancestor of the branch head
        — i.e. nothing was committed to main since the fork. A diverged
        main raises instead of silently dropping its commits (no rebase
        machinery; re-fork and re-stage instead). Returns the published
        version. Atomic: one `_CURRENT` swap.
        """
        refs = self.refs()
        if branch not in refs["branches"]:
            raise KeyError(f"no branch named {branch!r}")
        head = int(refs["branches"][branch])
        main_v = self._head_version("main")
        if main_v not in self._ancestry(head):
            raise ValueError(
                f"main (v{main_v}) diverged from branch {branch!r} fork "
                f"point; refusing to fast-forward to v{head}"
            )
        self._move_ref("main", head)
        if drop:
            refs = self.refs()
            refs["branches"].pop(branch, None)
            self._write_refs(refs)
        return head

    def rollback(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (Iceberg's
        ``rollback_to_snapshot``): the head moves FORWARD to a snapshot
        whose state equals the target, history is preserved (the undone
        snapshots stay readable by version), and no data file is touched —
        the new manifest simply references the target's files. The epoch
        ledger reverts with the rest of the state, so epochs committed
        after the target re-apply on replay instead of being skipped: the
        exactly-once guard and rollback compose (un-apply then re-ingest).
        The target must be an ancestor of this ref's head — rolling back
        "to" an unrelated branch snapshot is refused. Returns the committed
        version.
        """
        head_manifest = self.manifest()
        head_v = int(head_manifest["version"])
        version = int(version)
        if version == head_v:
            return head_v
        if version not in self._ancestry(head_v):
            raise ValueError(
                f"v{version} is not an ancestor of {self.ref!r} head "
                f"v{head_v}; cannot roll back across branches"
            )
        return self._commit(
            self.manifest(version), {"rolled_back_to": version}, parent=head_v
        )["version"]

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def _table_schema(self, manifest: dict) -> T.StructType | None:
        if manifest["schema"] is None:
            return None
        return T.StructType.fromJson(manifest["schema"])

    def _empty_frame(self, schema: T.StructType) -> DataFrame:
        """An empty frame of exactly ``schema`` (names, types, nullability,
        metadata), built as a JVM ``LocalRelation``: no rows are pickled and
        no Python worker starts, and the optimizer folds joins and unions
        against it away."""
        jspark = self.spark._jsparkSession
        jdf = jspark.createDataFrame(
            self.spark._jvm.java.util.ArrayList(),
            jspark.parseDataType(schema.json()),
        )
        return DataFrame(jdf, self.spark)

    def _key_rows(self, key_schema: T.StructType, rows: list[dict]) -> DataFrame:
        """The requested key tuples as a JVM ``LocalRelation``: a ``VALUES``
        query with one ``CAST(:param AS <key type>)`` per cell. The values are
        bound parameters, never SQL text, and the relation is constant, so a
        projection over it (the bucket expression) folds to a
        ``LocalTableScan`` that collects on the driver without a Spark job."""
        args: dict = {}
        tuples = []
        for i, r in enumerate(rows):
            cells = []
            for j, f_ in enumerate(key_schema.fields):
                args[f"k{i}_{j}"] = r[f_.name]
                cells.append(f"CAST(:k{i}_{j} AS {f_.dataType.simpleString()})")
            tuples.append(f"({', '.join(cells)})")
        names = ", ".join(
            "`" + f_.name.replace("`", "``") + "`" for f_ in key_schema.fields
        )
        return self.spark.sql(
            f"SELECT * FROM VALUES {', '.join(tuples)} AS __keys({names})",
            args=args,
        )

    # ------------------------------------------------------------------
    # file-level column statistics (manifest data skipping)
    # ------------------------------------------------------------------
    @staticmethod
    def _footer_stats(out_dir: str) -> dict:
        """Per-bucket column ``[min, max]`` bounds for a freshly written
        ``data/v{N}`` dir, read from parquet FOOTERS only — no data pages
        are touched, so stats collection costs O(files) metadata reads, not
        a second scan (Iceberg collects the same bounds from the writers;
        at cluster scale this loop becomes a tiny Spark job over paths).

        Only top-level int/float/str/bool columns are kept (the types whose
        bounds round-trip JSON exactly); a column missing min/max in any
        row group is dropped for that bucket — absent stats always mean
        "may match", never "matches nothing". Parquet truncates long binary
        bounds but keeps them valid (min' <= min, max' >= max), so pruning
        on string bounds stays conservative. Each bucket also records its
        row count under ``__rows``.

        pyarrow is OPTIONAL: it ships with this container and with
        ``pip install pyspark[sql]``, but not with a bare pyspark install.
        Stats are a pruning accelerator, never a correctness input, so a
        driver without pyarrow commits manifests with no ``file_stats``
        block — every read degrades to "may match" (full bucket set) and
        every write API keeps working.
        """
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return {}

        out: dict[str, dict] = {}
        if not os.path.isdir(out_dir):
            return out
        for name in sorted(os.listdir(out_dir)):
            if not name.startswith(f"{BUCKET_COL}="):
                continue
            bdir = os.path.join(out_dir, name)
            agg: dict[str, list | None] = {}
            rows = 0
            for fn in sorted(os.listdir(bdir)):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(bdir, fn)).metadata
                rows += md.num_rows
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for c_i in range(rg.num_columns):
                        col = rg.column(c_i)
                        path = col.path_in_schema
                        if "." in path:  # nested leaf — not prunable here
                            continue
                        st = col.statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or not isinstance(st.min, (int, float, str, bool))
                            or isinstance(st.min, bool) != isinstance(st.max, bool)
                        ):
                            agg[path] = None  # poisoned: unknown for bucket
                            continue
                        cur = agg.get(path, ...)
                        if cur is None:
                            continue
                        if cur is ...:
                            agg[path] = [st.min, st.max]
                        else:
                            cur[0] = min(cur[0], st.min)
                            cur[1] = max(cur[1], st.max)
            stats = {c: v for c, v in agg.items() if v is not None}
            stats["__rows"] = rows
            out[name.split("=", 1)[1]] = stats
        return out

    @staticmethod
    def _live_files(manifest: dict) -> list[tuple[int, str]]:
        """``(data version, bucket)`` of every file set a snapshot
        references, one per bucket. The one walk behind stats, pruning,
        reads and both GC sweeps."""
        return [(int(v), b) for b, v in manifest["buckets"].items()]

    def _referenced_data(self, versions: list[int]) -> set[int]:
        """Data versions the manifests of ``versions`` reference."""
        return {
            dv for v in versions for dv, _ in self._live_files(self.manifest(v))
        }

    def _with_file_stats(self, new_manifest: dict, out_dir: str) -> dict:
        """Attach ``file_stats`` to a manifest about to be committed.

        ``file_stats`` maps ``"v{version}/{bucket}"`` → column bounds for
        that physical file set (Iceberg's per-data-file stats, at this
        table's bucket granularity). Entries are carried forward from the
        previous manifest for files still referenced, new entries are
        collected from ``out_dir``'s footers, and entries for files this
        snapshot no longer references are dropped — the map stays O(live
        files), never O(history).
        """
        new_version = int(new_manifest["version"])
        fresh = self._footer_stats(out_dir)
        carried = dict(new_manifest.get("file_stats", {}))
        for b, st in fresh.items():
            carried[f"v{new_version}/{b}"] = st
        live = {f"v{v}/{b}" for v, b in self._live_files(new_manifest)}
        return {
            **new_manifest,
            "file_stats": {k: v for k, v in carried.items() if k in live},
        }

    def file_stats(self, version: int | None = None) -> dict:
        """``{"v{N}/{bucket}": {col: [min, max], "__rows": n}}`` for the
        snapshot's live files (empty for snapshots predating stats)."""
        return self.manifest(version).get("file_stats", {})

    @staticmethod
    def _stats_may_match(stats: dict | None, prune: dict) -> bool:
        """Conservative interval test: can a file with these bounds hold a
        row matching every ``col: (lo, hi)`` bound? Missing stats (old
        snapshot, poisoned column, type mismatch) always match."""
        if not stats:
            return True
        for col, (lo, hi) in prune.items():
            bounds = stats.get(col)
            if bounds is None:
                continue
            try:
                if lo is not None and bounds[1] < lo:
                    return False
                if hi is not None and bounds[0] > hi:
                    return False
            except TypeError:
                continue  # caller's bound type ≠ stored type: don't prune
        return True

    def _prune_bucket_ids(self, manifest: dict, prune: dict) -> list[int]:
        """Bucket ids whose file set might hold a matching row: a bucket is
        skipped only when its stats are provably disjoint from the bounds."""
        fstats = manifest.get("file_stats", {})
        if manifest.get("column_mapping"):
            # file stats are recorded under PHYSICAL names (read straight
            # from parquet footers); callers prune on logical names
            mapping = self._column_mapping(manifest)
            prune = {mapping.get(c, c): b for c, b in prune.items()}
        return sorted({
            int(b)
            for v, b in self._live_files(manifest)
            if self._stats_may_match(fstats.get(f"v{v}/{b}"), prune)
        })

    def _read_buckets(
        self,
        manifest: dict,
        buckets: list[int] | None,
        prune: dict | None = None,
    ) -> DataFrame | None:
        """Read the current rows of the given buckets (None = all): a plain
        scan, since each bucket's one file set holds one row per key.

        ``prune`` is a ``{col: (lo, hi)}`` bounds map (either end ``None``
        = unbounded): buckets whose file stats are disjoint from the bounds
        are skipped entirely — manifest-level data skipping. Callers must
        still apply the exact predicate to the surviving rows.
        """
        if prune:
            pruned = self._prune_bucket_ids(manifest, prune)
            buckets = pruned if buckets is None else sorted(
                set(buckets) & set(pruned)
            )
        pairs = self._live_files(manifest)
        if buckets is not None:
            sel = set(buckets)
            pairs = [(v, b) for v, b in pairs if int(b) in sel]
        if not pairs:
            return None
        # Group by data version: one parquet scan per version dir with
        # basePath, so `_bucket=B` directory pruning applies and the
        # partition column survives.
        by_version: dict[int, list[str]] = {}
        for v, b in pairs:
            by_version.setdefault(v, []).append(b)
        parts = []
        for v, bs in sorted(by_version.items()):
            vdir = os.path.join(self.root, "data", f"v{v}")
            paths = [
                os.path.join(vdir, f"{BUCKET_COL}={b}")
                for b in sorted(set(bs), key=int)
            ]
            parts.append(self.spark.read.option("basePath", vdir).parquet(*paths))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        # Back-fill columns added (to THIS manifest's schema) after these
        # files were written — time-travel reads see their snapshot's schema.
        schema = self._table_schema(manifest)
        if schema is not None and (
            manifest.get("column_mapping") or manifest.get("retired_physical")
        ):
            # physical -> logical under column mapping: retired physicals
            # (dropped columns still present in old files) are projected
            # away FIRST so a re-added logical name can never collide with
            # the dropped column's lingering physical twin
            mapping = self._column_mapping(manifest)
            keep_phys = {BUCKET_COL, *_RESERVED, *mapping.values()}
            extra = [c for c in df.columns if c not in keep_phys]
            if extra:
                df = df.drop(*extra)
            ren = {p: l for l, p in mapping.items() if p != l and p in df.columns}
            if ren:
                df = df.withColumnsRenamed(ren)
        if schema is not None:
            for f_ in schema.fields:
                if f_.name not in df.columns:
                    df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
                elif df.schema[f_.name].dataType != f_.dataType:
                    # files written before a type widening surface their
                    # narrow physical type; readers always see the manifest's
                    df = df.withColumn(f_.name, F.col(f_.name).cast(f_.dataType))
        return df

    def read(
        self,
        version: int | None = None,
        ref: str | None = None,
        prune: dict | None = None,
    ) -> DataFrame:
        """Snapshot read (table-schema columns: keys, payload, ``_lsn``).

        ``version`` time-travels to an earlier snapshot (Iceberg
        ``VERSION AS OF``); ``ref`` reads a named tag or branch head
        (``VERSION AS OF 'ref'``); default is this handle's branch head.
        Delete markers (retained so that a late-arriving lower-LSN insert
        can never resurrect a deleted key — see :meth:`merge`) are filtered
        here; they are physically dropped by :meth:`purge_tombstones`.

        ``prune`` is a ``{col: (lo, hi)}`` inclusive-bounds predicate
        (either end ``None`` = open). It is applied twice, the Iceberg
        scan-planning pattern: manifest file stats skip every bucket whose
        live files are provably disjoint from the bounds (the scan never
        lists or opens them), then the exact row filter runs over the
        survivors — the result equals ``read().filter(...)`` row for row,
        at the I/O cost of only the possibly-matching files. Rows with a
        NULL in a pruned column are excluded, standard range-predicate
        semantics.
        """
        if ref is not None:
            if version is not None:
                raise ValueError("pass version= or ref=, not both")
            version = self._head_version(ref)
        manifest = self.manifest(version)
        df = self._read_buckets(manifest, None, prune=prune)
        schema = self._table_schema(manifest)
        if df is None:
            if schema is None:
                raise ValueError("empty table with no schema yet")
            return self._empty_frame(schema)
        df = df.filter(~self._is_marker(df))
        if prune:
            for col, (lo, hi) in prune.items():
                if lo is not None:
                    df = df.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.lit(hi))
        return df.select(*[f_.name for f_ in schema.fields])

    def read_internal(self) -> DataFrame | None:
        """Current snapshot including _lsn/_bucket bookkeeping columns."""
        return self._read_buckets(self.manifest(), None)

    def lookup(
        self, keys: dict | list[dict], version: int | None = None
    ) -> DataFrame:
        """Key-pruned point read (Iceberg bucket-partition pruning).

        Each requested key hashes to exactly one bucket, so only those
        buckets' files are listed and scanned — ``O(k/num_buckets)`` of the
        table for ``k`` keys instead of a full snapshot scan. At 100 TB and
        the default 64 buckets, a single-key fetch touches ~1.6% of the
        data; real deployments size ``num_buckets`` so one bucket is a few
        GB and a lookup is sub-second. The bucket ids are constant-folded on
        the driver, with no Spark job, from the literal key rows (the SAME
        ``_bucket_id`` expression the writer uses — never a
        Python reimplementation that could drift), then directory pruning
        in ``_read_buckets`` does the skipping. No Python worker starts.

        ``keys``: one dict (or a list of dicts) mapping EVERY key column to
        a value; NULL components are legal (matched null-safely, mirroring
        ``merge``). Delete markers are filtered — a deleted key returns no
        row. ``version`` time-travels the lookup.
        """
        rows = [keys] if isinstance(keys, dict) else list(keys)
        manifest = self.manifest(version)
        key_cols = manifest["key_columns"]
        n_buckets = int(manifest["num_buckets"])
        schema = self._table_schema(manifest)
        if schema is None:
            raise ValueError("empty table with no schema yet")
        for r in rows:
            missing = [k for k in key_cols if k not in r]
            if missing:
                raise ValueError(f"lookup key missing columns: {missing}")
        if not rows:
            return self._empty_frame(schema)
        keys_df = self._key_rows(T.StructType([schema[k] for k in key_cols]), rows)
        bucket_rows = keys_df.select(
            _bucket_id(key_cols, n_buckets).alias("__b")
        ).collect()
        buckets = sorted({r["__b"] for r in bucket_rows})
        df = self._read_buckets(manifest, buckets)
        if df is None:
            return self._empty_frame(schema)
        if len(rows) == 1 or any(r[k] is None for r in rows for k in key_cols):
            # one key, or a NULL key component (a semi-join ON uses plain
            # equality and would never match it): a null-safe disjunction of
            # per-key conjunctions, bounded by the request size. A single
            # key's predicates PUSH DOWN to the parquet row-group stats
            # inside the pruned bucket.
            conds = None
            for r in rows:
                c = None
                for k in key_cols:
                    e = F.col(k).eqNullSafe(F.lit(r[k]))
                    c = e if c is None else (c & e)
                conds = c if conds is None else (conds | c)
            df = df.filter(conds)
        else:
            df = df.join(F.broadcast(keys_df), on=key_cols, how="left_semi")
        df = df.filter(~self._is_marker(df))
        return df.select(*[f_.name for f_ in schema.fields])

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Change data feed between two snapshots (Delta CDF / Iceberg
        changelog-scan analogue): what a downstream incremental consumer must
        apply to move from ``from_version`` to ``to_version``.

        Output = table columns + ``_change_type`` in {``insert``,
        ``update_postimage``, ``delete``} + ``_commit_version``. With
        ``include_preimages=True`` every update additionally emits an
        ``update_preimage`` row carrying the OLD column values (Delta CDF
        parity) — the shape a downstream incremental aggregator needs to
        fold updates as ``+post - pre`` (see ``plans/incremental_view.py``).
        Preimages cost nothing extra to read: the diff join already has both
        sides; the update branch just explodes to two rows. Only buckets
        whose data version differs between the two manifests are read
        (bucket-level pruning — the diff costs I/O proportional to what
        changed, not table size); within a rewritten bucket, carried-forward
        rows are recognized by unchanged ``_lsn`` AND unchanged column
        values, and emitted as no-ops (dropped). The value comparison is
        what makes LSN-preserving mutations visible: ``update_where`` and
        ``merge_into`` matched-updates keep the row's ``_lsn`` by contract,
        so an LSN-only diff would classify their rewrites as carried-forward
        and a replica applying the feed would silently diverge. Columns
        containing map types (not null-safe-comparable in Spark) compare via
        ``to_json`` — entry-order drift there can only produce a spurious
        no-op update row (idempotent for any consumer), never a missed
        change for a carried-forward row, which the rewrite preserves
        byte-for-byte. Deletes surface whether the marker row is still
        retained or already purged.
        """
        m_to = self.manifest(to_version)
        m_from = self.manifest(from_version)
        if to_version is None:
            to_version = int(m_to["version"])
        if from_version > to_version:
            raise ValueError(
                f"from_version ({from_version}) must be <= to_version "
                f"({to_version}); swapped arguments would silently invert the feed"
            )
        changed = sorted(
            int(b)
            for b in set(m_from["buckets"]) | set(m_to["buckets"])
            if m_from["buckets"].get(b) != m_to["buckets"].get(b)
        )
        schema = self._table_schema(m_to)
        if schema is None:
            raise ValueError("table has no schema yet (nothing was ever merged)")
        out_fields = [f_.name for f_ in schema.fields]
        if not changed:
            return self._empty_frame(
                T.StructType(
                    schema.fields
                    + [
                        T.StructField("_change_type", T.StringType(), False),
                        T.StructField("_commit_version", T.LongType(), False),
                    ]
                )
            )
        # key/output names are the TO snapshot's logical names; the old side
        # is translated onto them through the stable physical identity, so
        # the feed stays well-formed across renames (and columns dropped
        # between the snapshots vanish from both sides)
        keys = m_to["key_columns"]
        internal = T.StructType(
            [f_ for f_ in schema.fields]
            + [T.StructField(TOMBSTONE_COL, T.BooleanType(), True)]
        )

        def side(manifest: dict, tag: str) -> DataFrame:
            df = self._read_buckets(manifest, changed)
            if df is None:
                df = self._empty_frame(internal)
            else:
                df = self._translate_columns(df, manifest, m_to)
            df = df.withColumn(TOMBSTONE_COL, self._is_marker(df))
            for f_ in internal.fields:  # columns added after this snapshot
                if f_.name not in df.columns:
                    df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
            return df.select(
                *[F.col(k).alias(f"{tag}_{k}") for k in keys],
                *[
                    F.col(c).alias(f"{tag}_{c}")
                    for c in [f_.name for f_ in internal.fields]
                    if c not in keys
                ],
            )

        o, n = side(m_from, "o"), side(m_to, "n")
        cond = [F.col(f"o_{k}").eqNullSafe(F.col(f"n_{k}")) for k in keys]
        joined = o.join(n, on=cond, how="full_outer")

        # a side without the key has a NULL _lsn: FALSE AND NULL is FALSE
        o_live = F.col(f"o_{LSN_COL}").isNotNull() & ~F.col(f"o_{TOMBSTONE_COL}")
        n_live = F.col(f"n_{LSN_COL}").isNotNull() & ~F.col(f"n_{TOMBSTONE_COL}")
        # carried-forward = same LSN and same values: update_where /
        # merge_into matched-updates rewrite rows WITHOUT bumping _lsn
        # (LWW ordering stays the ingest's property), so the LSN alone
        # cannot distinguish a carried row from an out-of-band mutation
        same = F.col(f"o_{LSN_COL}").eqNullSafe(F.col(f"n_{LSN_COL}"))
        for f_ in schema.fields:
            if f_.name in keys or f_.name in (LSN_COL, TOMBSTONE_COL):
                continue
            oc, nc = F.col(f"o_{f_.name}"), F.col(f"n_{f_.name}")
            if _contains_map_type(f_.dataType):
                same = same & F.to_json(oc).eqNullSafe(F.to_json(nc))
            else:
                same = same & oc.eqNullSafe(nc)
        return cdf_classify_emit(
            joined,
            keys,
            [c for c in out_fields if c not in keys],
            o_live,
            n_live,
            ~same,
            include_preimages,
            extra_cols=(
                F.lit(int(to_version)).cast("long").alias("_commit_version"),
            ),
        )

    def last_epoch(self, stream_id: str = "default") -> int:
        return int(self.manifest()["epochs"].get(stream_id, -1))

    # ------------------------------------------------------------------
    # schema evolution
    # ------------------------------------------------------------------
    def _evolve_schema(
        self, manifest: dict, incoming: T.StructType
    ) -> tuple[dict | None, list[str], list[str]]:
        """Union-by-field-presence evolution.

        Returns ``(new schema json | None, added, widened)``. Beyond
        Avro-style add-only fields, Iceberg's lossless type promotions are
        supported in both directions (``int -> long``, ``float -> double``):

        - incoming NARROWER than the table: accepted with no schema change —
          union coercion and the manifest-schema cast in ``_read_buckets``
          widen the new file's values on read;
        - incoming WIDER than the table: the table schema is widened in the
          same manifest swap as the data commit. No existing file is
          rewritten: the parquet reader up-casts old narrow pages under the
          widened read schema (verified on Spark 4), and ``_read_buckets``
          casts to the manifest schema so readers always see one type.

        Anything else (string -> int, long -> int, …) raises
        :class:`SchemaEvolutionError` — silently coercing would lose data.
        """
        widen_ok = {("integer", "long"), ("float", "double")}
        current = self._table_schema(manifest)
        if current is None:
            return (
                json.loads(incoming.json()),
                [f_.name for f_ in incoming.fields],
                [],
            )
        by_name = {f_.name: f_ for f_ in current.fields}
        added: list[str] = []
        widened: list[str] = []
        fields = list(current.fields)
        for f_ in incoming.fields:
            if f_.name in by_name:
                have = by_name[f_.name].dataType
                got = f_.dataType
                if have == got:
                    continue
                if (got.typeName(), have.typeName()) in widen_ok:
                    continue  # incoming narrower: widen on read
                if (have.typeName(), got.typeName()) in widen_ok:
                    fields = [
                        T.StructField(x.name, got, x.nullable, x.metadata)
                        if x.name == f_.name
                        else x
                        for x in fields
                    ]
                    widened.append(f_.name)
                    continue
                raise SchemaEvolutionError(
                    f"column {f_.name!r}: table has {have.simpleString()}, "
                    f"incoming batch has {got.simpleString()} — only additive "
                    f"fields and int->long / float->double promotion are supported"
                )
            else:
                # New fields arrive nullable — Avro-style add-only widening.
                fields.append(T.StructField(f_.name, f_.dataType, True, f_.metadata))
                added.append(f_.name)
        if not added and not widened:
            return None, [], []
        return json.loads(T.StructType(fields).json()), added, widened

    # ------------------------------------------------------------------
    # column mapping: rename / drop as metadata-only commits
    # ------------------------------------------------------------------
    # Delta Lake's columnMapping=name mode (Iceberg gets the same property
    # from parquet field-ids): every column has an immutable PHYSICAL name —
    # what parquet files actually store — and a LOGICAL name readers see.
    # Rename swaps the logical label on an unchanged physical column; drop
    # removes the logical mapping and retires the physical name forever (so
    # a later re-add of the same logical name can never resurrect old
    # values). Neither touches a single data file. Tables that never
    # rename/drop carry no mapping and behave byte-identically to before.

    def _column_mapping(self, manifest: dict) -> dict[str, str]:
        """``{logical: physical}`` for this snapshot's schema fields
        (identity for fields with no explicit mapping entry)."""
        schema = self._table_schema(manifest)
        if schema is None:
            return {}
        cm = manifest.get("column_mapping") or {}
        return {
            f_.name: cm.get(f_.name, {}).get("physical", f_.name)
            for f_ in schema.fields
        }

    def _materialized_mapping(self, manifest: dict) -> tuple[dict, int]:
        """Full ``{logical: {"id", "physical"}}`` for the current schema,
        materializing identity entries (id assignment is field-order,
        matching Iceberg's initial field-id assignment) for a table that
        has never renamed/dropped. Returns ``(mapping, next_free_id)``."""
        schema = self._table_schema(manifest)
        if schema is None:
            raise SchemaEvolutionError("table has no schema yet")
        cm = {k: dict(v) for k, v in (manifest.get("column_mapping") or {}).items()}
        next_id = int(manifest.get("next_column_id", 1))
        for f_ in schema.fields:
            if f_.name not in cm:
                cm[f_.name] = {"id": next_id, "physical": f_.name}
                next_id += 1
        return cm, next_id

    def _mapping_after_add(self, manifest: dict, added: list[str]) -> dict | None:
        """Manifest-key updates registering freshly added columns in the
        mapping. ``None`` when the table is identity-mapped and can stay so
        (physical == logical needs no entry). A retired physical name is
        never reused: re-adding a dropped column allocates ``{name}_c{id}``
        so old files' values stay invisible."""
        if not manifest.get("column_mapping") and not manifest.get(
            "retired_physical"
        ):
            return None
        cm, next_id = self._materialized_mapping(manifest)
        used = {e["physical"] for e in cm.values()}
        retired = set(manifest.get("retired_physical", []))
        for name in added:
            if name in cm:
                continue
            phys = name if name not in used | retired else f"{name}_c{next_id}"
            cm[name] = {"id": next_id, "physical": phys}
            used.add(phys)
            next_id += 1
        return {"column_mapping": cm, "next_column_id": next_id}

    def _translate_columns(
        self, df: DataFrame, m_from: dict, m_to: dict
    ) -> DataFrame:
        """Rename ``df``'s ``m_from``-logical columns to ``m_to``'s logical
        names through the stable physical identity; drop columns with no
        ``m_to`` counterpart (dropped between the snapshots). Engine columns
        (bucket/LSN/tombstone) pass through untouched."""
        if not (m_from.get("column_mapping") or m_to.get("column_mapping")):
            return df
        f_map = self._column_mapping(m_from)
        t_inv = {p: l for l, p in self._column_mapping(m_to).items()}
        ren: dict[str, str] = {}
        drop: list[str] = []
        for c in df.columns:
            if c in _RESERVED or c == BUCKET_COL:
                continue
            tgt = t_inv.get(f_map.get(c, c))
            if tgt is None:
                drop.append(c)
            elif tgt != c:
                ren[c] = tgt
        if drop:
            df = df.drop(*drop)
        if ren:
            df = df.withColumnsRenamed(ren)
        return df

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (``ALTER TABLE RENAME COLUMN``).

        No data file is read or written: the column keeps its id and
        physical name; only the logical label in the new manifest changes.
        Readers of EVERY snapshot see that snapshot's own names (time travel
        across the rename shows the old name on the old side, Iceberg
        semantics). Key columns may be renamed — bucketing hashes values,
        not names. Note ``state_digest`` canonicalizes by sorted column
        NAME, so a rename changes the table's digest even though no value
        changed. Returns the committed version.
        """
        manifest = self.manifest()
        schema = self._table_schema(manifest)
        if schema is None:
            raise SchemaEvolutionError("table has no schema yet")
        names = [f_.name for f_ in schema.fields]
        if old not in names:
            raise KeyError(f"no column named {old!r} (have {names})")
        if new in names:
            raise SchemaEvolutionError(f"column {new!r} already exists")
        if old in _RESERVED or new in _RESERVED or new == BUCKET_COL:
            raise SchemaEvolutionError(
                f"cannot rename engine columns or collide with {sorted(_RESERVED)}"
            )
        cm, next_id = self._materialized_mapping(manifest)
        cm[new] = cm.pop(old)
        fields = [
            T.StructField(new, f_.dataType, f_.nullable, f_.metadata)
            if f_.name == old
            else f_
            for f_ in schema.fields
        ]
        return self._commit(
            {
                **manifest,
                "schema": json.loads(T.StructType(fields).json()),
                "column_mapping": cm,
                "next_column_id": next_id,
                "key_columns": [
                    new if k == old else k for k in manifest["key_columns"]
                ],
            },
            {"renamed_column": {"from": old, "to": new}},
        )["version"]

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop (``ALTER TABLE DROP COLUMN``).

        Old files keep the physical column on disk (snapshots before the
        drop still read it — and ``expire_snapshots`` + rewrites are what
        eventually reclaim the bytes, exactly Iceberg's contract); current
        readers project it away. The physical name is retired permanently:
        a later re-add of the same logical name gets a fresh physical
        column, so dropped values can never leak back. Key columns and
        engine columns cannot be dropped. Returns the committed version.
        """
        manifest = self.manifest()
        schema = self._table_schema(manifest)
        if schema is None:
            raise SchemaEvolutionError("table has no schema yet")
        if name in manifest["key_columns"]:
            raise SchemaEvolutionError(f"cannot drop key column {name!r}")
        if name in _RESERVED or name == BUCKET_COL:
            raise SchemaEvolutionError(f"cannot drop engine column {name!r}")
        names = [f_.name for f_ in schema.fields]
        if name not in names:
            raise KeyError(f"no column named {name!r} (have {names})")
        cm, next_id = self._materialized_mapping(manifest)
        entry = cm.pop(name)
        retired = list(manifest.get("retired_physical", []))
        retired.append(entry["physical"])
        fields = [f_ for f_ in schema.fields if f_.name != name]
        return self._commit(
            {
                **manifest,
                "schema": json.loads(T.StructType(fields).json()),
                "column_mapping": cm,
                "next_column_id": next_id,
                "retired_physical": retired,
            },
            {"dropped_column": name},
        )["version"]

    def _bucket_writer(
        self, df: DataFrame, manifest: dict, key_ndv: int | None = None
    ):
        """The one parquet writer every data path uses: bucket-partitioned,
        with a parquet BLOOM FILTER on each key column.

        Inside a bucket the key columns are hash-scattered, so row-group
        min/max stats are near-useless for a point predicate (every group's
        [min,max] spans the whole key space) — a bloom filter is what lets
        :meth:`lookup` skip row groups after bucket pruning has done the
        directory-level work. Key columns only: blooming the payload (the
        wide content column) would bloat every file for a predicate shape
        the engine never pushes. parquet-mr writes the filter whenever a
        chunk falls back from dictionary to PLAIN encoding, which a small
        chunk of distinct values does because its dictionary saves nothing.

        ``key_ndv`` bounds the distinct keys of any one bucket file (see
        :meth:`_key_ndv`) and sizes every bloom through
        ``parquet.bloom.filter.expected.ndv``: about 1.2 bytes per key at
        parquet's default 1% false-positive rate, so a 1,000-key bucket
        carries a 2 KB bloom. Unsized (``None``), parquet-mr writes each
        bloom at its 1 MB maximum however few rows the chunk holds. An
        underestimate only raises the false-positive rate; a bloom never
        hides a key it holds.
        """
        cm = manifest.get("column_mapping") or {}
        if cm:
            # logical -> physical: files always store physical names, so a
            # rename never needs a data rewrite (see rename_column)
            ren = {
                log: e["physical"]
                for log, e in cm.items()
                if e["physical"] != log and log in df.columns
            }
            if ren:
                df = df.withColumnsRenamed(ren)
        w = df.write.partitionBy(BUCKET_COL).mode("overwrite")
        for k in manifest["key_columns"]:
            phys = cm.get(k, {}).get("physical", k)
            w = w.option(f"parquet.bloom.filter.enabled#{phys}", "true")
            if key_ndv is not None:
                w = w.option(
                    f"parquet.bloom.filter.expected.ndv#{phys}", str(max(key_ndv, 1))
                )
        return w

    @staticmethod
    def _key_ndv(manifest: dict, added: dict[int, int]) -> int | None:
        """Upper bound on the distinct keys of any one bucket file that a
        rewrite of ``added``'s buckets writes: the bucket's live ``__rows``
        file stat plus the ``added[b]`` keys the rewrite brings in (one row
        per key, delete markers included). None when a live file has no
        stats (a snapshot from before stats, or a driver without pyarrow):
        the blooms are then written unsized."""
        stats = manifest.get("file_stats", {})
        bound = 0
        for b, n in added.items():
            v = manifest["buckets"].get(str(b))
            rows = 0 if v is None else stats.get(f"v{v}/{b}", {}).get("__rows")
            if rows is None:
                return None
            bound = max(bound, rows + n)
        return bound

    @staticmethod
    def _by_bucket(
        df: DataFrame, buckets: list[int], keep_slot: bool = False
    ) -> DataFrame:
        """Place ``df``'s rows for a bucket rewrite: each of ``buckets`` goes
        to a task of its own (``repartitionById`` on the bucket's slot in
        ``buckets``), so each bucket is written by exactly one task, as
        exactly one file. Hashing the few, small bucket ids instead would
        stack several buckets in one task and leave others empty.
        ``keep_slot`` keeps the slot as column ``__slot``: :meth:`_lww`
        groups on it, so its aggregation reuses this exchange."""
        slot = F.array_position(
            F.array(*[F.lit(b) for b in buckets]), F.col(BUCKET_COL)
        ) - 1
        out = df.withColumn("__slot", slot.cast("int")).repartitionById(
            max(len(buckets), 1), "__slot"
        )
        return out if keep_slot else out.drop("__slot")

    @staticmethod
    def _lww(frames: list[DataFrame], keys: list[str], buckets: list[int]) -> DataFrame:
        """Per-key last-writer-wins over ``frames`` in ONE exchange: the one
        LWW collapse of every merge, into a populated or an empty target.

        ``frames`` (one or two) carry ``_bucket``, and ``buckets`` lists the
        buckets they touch. A key's rows all hash to one bucket, so placing
        each bucket in a task of its own (:meth:`_by_bucket`) co-locates
        every key, and the ``groupBy`` that follows needs no second shuffle.

        On an equal LSN the LATER frame wins: its rows carry ``__src`` = 1
        and the ordering packs ``lsn * 2 + __src`` into one long (the
        ordering rule of :func:`latest_per_key`). Pass ``[target, source]``
        so that replaying an applied event is a no-op.
        """
        df = frames[0].withColumn("__src", F.lit(0))
        for i, f_ in enumerate(frames[1:], 1):
            df = df.unionByName(
                f_.withColumn("__src", F.lit(i)), allowMissingColumns=True
            )
        return latest_per_key(
            LakeTable._by_bucket(df, buckets, keep_slot=True),
            ["__slot", *keys],
            F.col(LSN_COL) * 2 + F.col("__src"),
            payload=[c for c in df.columns if c not in (*keys, "__src")],
        ).drop("__slot")

    @staticmethod
    def _is_marker(df: DataFrame) -> Column:
        """True on a retained delete marker of ``df`` (see :meth:`merge`)."""
        if TOMBSTONE_COL not in df.columns:
            return F.lit(False)
        return F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))

    def _dirty_buckets(
        self,
        manifest: dict,
        match: Callable[[DataFrame], Column],
        prune: dict | None,
    ) -> dict[int, int]:
        """``{bucket: rows}`` where ``match(frame)`` holds: one narrow scan
        and a <= num_buckets-row aggregation. Buckets whose file stats rule
        out ``prune`` (a :meth:`read` bounds map the match implies) are not
        scanned; when that is every bucket, no job runs."""
        current = self._read_buckets(manifest, None, prune=prune)
        if current is None:
            return {}
        hits = current.filter(match(current)).groupBy(BUCKET_COL).count().collect()
        return {int(r[BUCKET_COL]): int(r["count"]) for r in hits}

    def _rewrite(
        self,
        manifest: dict,
        dirty: list[int],
        transform: Callable[[DataFrame], DataFrame],
        summary: dict | Callable[[], dict | None],
        *,
        added: dict[int, int] | None = None,
        order: list[str] | None = None,
    ) -> dict | None:
        """The copy-on-write step of every mutation but :meth:`merge` (its
        own :meth:`_lww` plan) and :meth:`rebucket` (it reads one layout and
        writes another): Delta's DML shape, one rewrite and one commit.

        ``transform`` maps the ``dirty`` buckets' current rows (a bucket
        with no file yet reads as empty) to the rows they keep; each bucket
        then gets a task of its own (:meth:`_by_bucket`), sorted by
        ``order`` if given, and :meth:`_commit` writes it. ``added[b]``
        counts the keys the rewrite brings into bucket ``b``, for the bloom
        sizing (:meth:`_key_ndv`). Untouched buckets keep their files.
        """
        current = self._read_buckets(manifest, dirty)
        if current is None:
            current = self._empty_frame(T.StructType(
                self._table_schema(manifest).fields
                + [T.StructField(BUCKET_COL, T.IntegerType())]
            ))
        data = self._by_bucket(transform(current), dirty)
        if order:
            # BUCKET_COL leads although each task holds one bucket: the
            # partitioned writer re-sorts any input whose ordering does not
            # start with it, which scrambles the order within the bucket.
            # Order columns the transform added are sort keys, not data.
            data = data.sortWithinPartitions(BUCKET_COL, *order).drop(
                *[c for c in order if c not in current.columns]
            )
        return self._commit(
            manifest,
            summary,
            data=data,
            dirty=dirty,
            key_ndv=self._key_ndv(manifest, added or dict.fromkeys(dirty, 0)),
        )

    # ------------------------------------------------------------------
    # MERGE
    # ------------------------------------------------------------------
    def merge_prepare(
        self,
        source: DataFrame,
        lsn_col: str = "_lsn",
        tombstone_col: str | None = "_tombstone",
        lineage_col: str | None = None,
    ) -> MergePrep:
        """Run the SOURCE-side half of a merge: normalization, the per-bucket
        key stats (one aggregation + ONE driver collect), LSN-domain guards
        and lineage.

        Nothing here reads target data or the epoch ledger, and nothing is
        committed or cached. The normalized source stays lazy: the write
        re-reads it. Pass the result to ``merge(prep=...)``; the epoch guard
        and schema evolution still happen there, against the manifest as of
        apply time.
        """
        t0 = time.time()
        manifest = self.manifest()
        keys = manifest["key_columns"]
        n_buckets = manifest["num_buckets"]

        # Normalize bookkeeping columns.
        src = source.withColumn(LSN_COL, F.col(lsn_col).cast("long"))
        if lsn_col != LSN_COL:
            src = src.drop(lsn_col)
        if tombstone_col is None:
            src = src.withColumn(TOMBSTONE_COL, F.lit(False))
        elif tombstone_col != TOMBSTONE_COL:
            src = src.withColumn(TOMBSTONE_COL, F.coalesce(F.col(tombstone_col), F.lit(False)))
            src = src.drop(tombstone_col)

        user_fields = [
            f_
            for f_ in src.schema.fields
            if f_.name not in _RESERVED and f_.name not in keys and f_.name != lineage_col
        ]
        incoming = T.StructType(
            [src.schema[k] for k in keys]
            + user_fields
            + [T.StructField(LSN_COL, T.LongType(), True)]
        )
        src = src.withColumn(BUCKET_COL, _bucket_id(keys, n_buckets))

        # Lineage (per-source-partition event count + LSN high watermark, the
        # CDC log-position record) is folded into the key-stats aggregation
        # below: adding the lineage column to its grouping keys costs nothing
        # when a key maps to one log partition (the engine's case) and avoids
        # a SECOND full scan of the batch — epochs are driver-latency-
        # sensitive, and a whole extra scan+collect per epoch is serial time
        # 4x cores cannot shrink.
        lineage: dict = {}
        lineage_grouped = lineage_col is not None
        group_cols = [*keys, BUCKET_COL] + ([lineage_col] if lineage_grouped else [])
        key_stats = src.groupBy(*group_cols).agg(
            F.max(LSN_COL).alias(LSN_COL),
            F.count(F.lit(1)).alias("__cnt"),
            # count(col) skips NULLs: __cnt - __cnt_lsn = null-LSN rows,
            # guarded below (a NULL log position has no LWW meaning)
            F.count(F.col(LSN_COL)).alias("__cnt_lsn"),
            F.min(LSN_COL).alias("__min_lsn"),
        )
        # ONE driver action yields the touched-bucket set, the winner-key
        # count, the batch row count, the LSN bounds AND the per-partition
        # lineage (each extra job is a serial round trip that 4x cores cannot
        # shrink). With lineage, a key spanning several log partitions counts
        # once per partition in n_keys.
        stat_aggs = [
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("__cnt").alias("n_events"),
            F.sum("__cnt_lsn").alias("n_events_lsn"),
            F.max(LSN_COL).alias("max_lsn"),
            # __min_lsn is the per-key min, so this sees EVERY row's LSN —
            # the documented lower bound (lsn >= 0) is enforced in the same
            # pass that already guards NULLs and the 2**62 ceiling, for free.
            F.min("__min_lsn").alias("min_lsn"),
        ]
        if lineage_grouped:
            stats = (
                key_stats.groupingSets(
                    [[BUCKET_COL], [lineage_col]], BUCKET_COL, lineage_col
                )
                .agg(*stat_aggs, F.grouping(BUCKET_COL).alias("__gb"))
                .collect()
            )
            bucket_counts = [r for r in stats if r["__gb"] == 0]
            src = src.drop(lineage_col)
        else:
            stats = []
            bucket_counts = key_stats.groupBy(BUCKET_COL).agg(*stat_aggs).collect()
        n_winner_keys = int(sum(r["n_keys"] for r in bucket_counts))
        src_rows = int(sum(r["n_events"] for r in bucket_counts))
        n_null_lsn = int(
            sum(r["n_events"] - r["n_events_lsn"] for r in bucket_counts)
        )
        max_lsn_seen = max(
            (r["max_lsn"] for r in bucket_counts if r["max_lsn"] is not None),
            default=None,
        )
        min_lsn_seen = min(
            (r["min_lsn"] for r in bucket_counts if r["min_lsn"] is not None),
            default=None,
        )
        if min_lsn_seen is not None and min_lsn_seen < 0:
            raise ValueError(
                f"LSN {min_lsn_seen} is outside the supported domain "
                f"[0, 2**62): log positions must be non-negative (see "
                f"merge() docstring); re-scale or re-pack the log position "
                f"before merging"
            )
        if n_null_lsn:
            raise ValueError(
                f"{n_null_lsn} source row(s) have a NULL LSN — a NULL log "
                f"position has no last-writer-wins meaning; assign every "
                f"event a position in [0, 2**62) before merging"
            )
        if max_lsn_seen is not None and max_lsn_seen >= _LSN_DOMAIN_MAX:
            raise ValueError(
                f"LSN {max_lsn_seen} is outside the supported domain "
                f"[0, 2**62): the equal-LSN tiebreak packs lsn*2+src into one "
                f"long (see merge() docstring); re-scale or re-pack the log "
                f"position before merging"
            )
        for r in stats:
            if r["__gb"] == 1:
                lineage[r[lineage_col]] = {
                    "events": int(r["n_events"]),
                    "max_lsn": int(r["max_lsn"]),
                }
        return MergePrep(
            src=src,
            bucket_counts=bucket_counts,
            lineage=lineage,
            n_winner_keys=n_winner_keys,
            src_rows=src_rows,
            user_fields=user_fields,
            incoming=incoming,
            stats_seconds=round(time.time() - t0, 3),
            table_root=self.root,
        )

    def merge(
        self,
        source: DataFrame | None = None,
        lsn_col: str = "_lsn",
        tombstone_col: str | None = "_tombstone",
        epoch_id: int | None = None,
        stream_id: str = "default",
        lineage_col: str | None = None,
        mode: str = "rewrite",
        prep: MergePrep | None = None,
    ) -> MergeStats:
        """MERGE upsert: last-writer-wins per key on the LSN.

        Semantics (the Iceberg MERGE the north rule specifies)::

            WHEN MATCHED AND source.lsn >= target.lsn THEN UPDATE *   -- incl. tombstone flag
            WHEN NOT MATCHED THEN INSERT *

        Deletes become RETAINED marker rows (``_tombstone = true``), filtered
        by :meth:`read` and physically removed by :meth:`purge_tombstones`.
        Retention makes the merge **order-insensitive across microbatches**:
        a delete at LSN 100 applied in epoch 1 still out-ranks an insert at
        LSN 50 arriving in epoch 2 — a physical DELETE would have forgotten
        LSN 100 and resurrected the key. (Kafka's own log compaction retains
        tombstones for ``delete.retention.ms`` for exactly this reason.)

        ``source`` carries the user columns plus an LSN column; rows need not
        be pre-deduplicated (the LWW collapse runs over the raw batch). On
        equal LSN the source row wins over the stored row — replaying an
        already-applied event is therefore idempotent (the content is
        identical by determinism of the log). Two *distinct* source events
        sharing an LSN for the same key have no defined winner: the LSN must
        be a total order per key (a global offset, or pack
        ``(partition_epoch << k) | offset`` for multi-partition logs before
        calling merge).

        Plan: ONE exchange (see :meth:`_lww`). The source ∪ the dirty
        buckets' current rows go one dirty bucket per task, are collapsed
        per key there and written as one file per dirty bucket. Source and
        carried target rows both cross that exchange; that is the price of
        a single job chain and a layout that never accumulates files.

        **LSN domain**: ``0 <= lsn < 2**62``. The equal-LSN source-wins
        tiebreak packs ``lsn * 2 + source_flag`` into one long; a batch
        whose LSNs fall outside the domain raises rather than silently
        overflowing. **NULL keys** are legal: the LWW group-by treats a
        NULL key column as an ordinary value.

        ``mode`` accepts only ``"rewrite"``, the one merge this table has.

        ``prep``: a :class:`MergePrep` from :meth:`merge_prepare` — the
        source-side stats half, precomputed. When given, ``source`` is
        ignored, ``phases["stats"]`` reports the prep's own wall time, and
        ``seconds`` covers only the apply (write+commit) half. The epoch guard and schema evolution always run HERE against
        the apply-time manifest, so a prep computed against a pre-evolution
        manifest stays correct.
        """
        if mode != "rewrite":
            raise ValueError(
                f"merge mode {mode!r} is not supported: merge-on-read "
                f"('defer') was removed, and 'rewrite' is the only mode"
            )
        t0 = time.time()
        manifest = self.manifest()
        if epoch_id is not None and int(manifest["epochs"].get(stream_id, -1)) >= epoch_id:
            return MergeStats(epoch_id=epoch_id, skipped=True)
        if prep is None:
            if source is None:
                raise ValueError("merge() requires a source DataFrame or prep=")
            prep = self.merge_prepare(
                source,
                lsn_col=lsn_col,
                tombstone_col=tombstone_col,
                lineage_col=lineage_col,
            )
        elif prep.table_root != self.root:
            raise ValueError(
                f"MergePrep was built for table {prep.table_root!r}, "
                f"not {self.root!r}"
            )

        keys = manifest["key_columns"]
        new_schema_json, added, widened = self._evolve_schema(manifest, prep.incoming)
        # Register added columns in the column mapping (no-op for tables
        # that never renamed/dropped): rebinding the local manifest here
        # makes the _bucket_writer call below write the right physical
        # names and the `{**manifest, ...}` commit carry the mapping.
        mapping_updates = self._mapping_after_add(manifest, added)
        if mapping_updates:
            manifest = {**manifest, **mapping_updates}
        phases = {"stats": prep.stats_seconds}
        body = {
            **manifest,
            "epochs": {**manifest["epochs"]}
            if epoch_id is None
            else {**manifest["epochs"], stream_id: epoch_id},
            "schema": new_schema_json or manifest["schema"],
        }
        dirty = sorted(int(r[BUCKET_COL]) for r in prep.bucket_counts)
        frames = [prep.src]
        target = self._read_buckets(manifest, dirty)
        if target is not None:
            # Align target to the evolved column set. Stored rows carry
            # their own tombstone flag: delete markers are RETAINED in
            # the table (filtered at read) so their LSN keeps shielding
            # the key from late-arriving lower-LSN inserts — batches
            # need not be LSN-ordered.
            for f_ in prep.user_fields:
                if f_.name not in target.columns:
                    target = target.withColumn(f_.name, F.lit(None).cast(f_.dataType))
            if TOMBSTONE_COL not in target.columns:
                target = target.withColumn(TOMBSTONE_COL, F.lit(False))
            frames = [target, prep.src]
        committed = self._commit(
            body,
            {"source_rows": prep.src_rows, "dirty_buckets": len(dirty)},
            data=self._lww(frames, keys, dirty),
            dirty=dirty,
            phases=phases,
            key_ndv=self._key_ndv(
                manifest,
                {int(r[BUCKET_COL]): int(r["n_keys"]) for r in prep.bucket_counts},
            ),
        )
        return MergeStats(
            epoch_id=epoch_id,
            skipped=False,
            source_rows=prep.src_rows,
            dirty_buckets=len(dirty),
            total_buckets=len(committed["buckets"]),
            # the winner set: one LWW-collapsed row per key (replicate()
            # reports it)
            rows_written=prep.n_winner_keys,
            schema_added_columns=added,
            schema_widened_columns=widened,
            seconds=time.time() - t0,
            lineage=prep.lineage,
            phases=phases,
        )

    def bootstrap(
        self,
        snapshot: DataFrame,
        snapshot_lsn: int = 0,
        stream_id: str = "default",
        epoch_id: int = 0,
    ) -> MergeStats:
        """Initial-snapshot load: the Debezium snapshot-then-stream pattern.

        A CDC pipeline against an existing source can't replay the log from
        the beginning (it's been compacted away); it loads one consistent
        snapshot of the source table, then tails the changelog from the
        snapshot's log position. ``snapshot`` is that consistent read —
        key + payload columns, optionally its own ``_lsn`` column (kept
        per-row if present; else every row is stamped ``snapshot_lsn``, the
        log position the snapshot was taken at). The load is epoch
        ``epoch_id`` of ``stream_id``, so a crashed-and-restarted bootstrap
        is idempotent under the same exactly-once guard as every other
        epoch. Apply the tail (events with ``lsn > snapshot_lsn``) under a
        stream id of its own: a streamed tail's fresh checkpoint starts at
        batch 0, which under ``stream_id`` counts as the committed bootstrap
        epoch and is skipped without an error. The final state is then
        identical to a full-log replay (see ``tests/test_bootstrap.py``).

        Requires an empty table: bootstrap is a beginning, not an upsert
        (use :meth:`merge` to fold a snapshot into existing state).
        """
        manifest = self.manifest()
        if manifest["buckets"]:
            raise ValueError(
                "bootstrap requires an empty table; this one has data "
                "(merge the snapshot instead)"
            )
        src = snapshot
        if LSN_COL not in src.columns:
            src = src.withColumn(LSN_COL, F.lit(int(snapshot_lsn)).cast("long"))
        if TOMBSTONE_COL not in src.columns:
            src = src.withColumn(TOMBSTONE_COL, F.lit(False))
        return self.merge(src, epoch_id=epoch_id, stream_id=stream_id)

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def _zorder_column(self, df: DataFrame, zorder_by: list[str]) -> Column:
        """Morton (Z-order) key over the given columns, scale-shaped.

        Per column, ``2**_ZORDER_BITS - 1`` range boundaries come from an ordered,
        capped distinct sample (works for every orderable type — strings
        included — where quantile sketches only cover numerics; the collect
        is bounded at 64k values however big the table is). Each row's
        per-column rank is a single ``aggregate`` fold over the boundary
        literal array (no 255-deep CASE cascade in codegen), and the ranks'
        bits interleave into one long. NULLs rank lowest, matching the
        null-first order ``sort_by`` would give. Delta OPTIMIZE ZORDER /
        Iceberg z-order rewrite semantics; everything after the boundary
        sample is map-only.
        """
        n_bound = (1 << _ZORDER_BITS) - 1

        def rank_of(col: Column, bounds: list) -> Column:
            return F.aggregate(
                F.array(*[F.lit(b) for b in bounds]),
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(col >= b, 1).otherwise(0).cast("long"),
            )

        ranks = []
        for c in zorder_by:
            # A UNIFORM sample of the distinct values: ordering by the
            # value's hash before the limit draws from the whole range
            # (deterministically), where `orderBy(c).limit(n)` would take
            # the n SMALLEST distincts — past 64k distincts that collapses
            # every boundary into the low prefix and all higher rows share
            # one rank, silently defeating the data-skipping. The collected
            # sample is sorted driver-side (bounded at 64k values).
            vals = sorted(
                r[0]
                for r in df.select(c).na.drop().distinct()
                .orderBy(F.xxhash64(F.col(c)))
                .limit(65536).collect()
            )
            if not vals:
                ranks.append(F.lit(0).cast("long"))
                continue
            step = max(len(vals) / (n_bound + 1), 1e-9)
            bounds = sorted({vals[min(int((i + 1) * step), len(vals) - 1)]
                             for i in range(n_bound)})
            ranks.append(rank_of(F.col(c), bounds))
        return sum(
            (
                F.shiftleft(
                    F.shiftright(rank, b).bitwiseAND(F.lit(1)),
                    b * len(ranks) + i,
                )
                for i, rank in enumerate(ranks)
                for b in range(_ZORDER_BITS)
            ),
            start=F.lit(0).cast("long"),
        )

    def compact(
        self,
        buckets: list[int] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Re-cluster every data bucket (or the ``buckets`` subset) in one
        new snapshot: Iceberg ``rewrite_data_files`` with a sort order. The
        rows are unchanged; only their order inside each bucket's file is.
        Returns the number of buckets rewritten.

        ``sort_by`` clusters each bucket on the given columns (Iceberg
        sort-order compaction): rows land in parquet row groups in sorted
        order, so the per-row-group min/max stats become disjoint and a
        pushed-down range predicate on those columns skips whole row groups
        INSIDE the files that bucket- and manifest-level pruning already
        narrowed to. Sorting is within-bucket only — one extra local sort
        per task, no extra shuffle — and is recorded in the manifest as
        ``sort_order`` for audit.

        ``zorder_by`` is the multi-dimensional form (Delta OPTIMIZE ZORDER):
        rows cluster on an interleaved-bit Morton key, so row-group stats
        tighten on EVERY listed column at once — a lexicographic sort makes
        the first column's stats disjoint and leaves the others full-range
        per group. Costs one bounded boundary-sample job per column up
        front; the rewrite itself stays one local sort per task.

        Exactly one of ``sort_by`` and ``zorder_by`` must be given: every
        merge already writes one file per bucket, so a rewrite without a
        new order would change nothing.
        """
        if sort_by and zorder_by:
            raise ValueError("compact: sort_by and zorder_by are exclusive")
        if not (sort_by or zorder_by):
            raise ValueError("compact: pass sort_by or zorder_by")
        manifest = self.manifest()
        todo = sorted(
            int(b)
            for b in manifest["buckets"]
            if buckets is None or int(b) in set(buckets)
        )
        if not todo:
            return 0
        z = self._zorder_column(
            self._read_buckets(manifest, todo), zorder_by
        ) if zorder_by else None
        self._rewrite(
            manifest,
            todo,
            # the Morton key as a column: a sort evaluates a key expression
            # in every comparison, a column once per row
            (lambda df: df.withColumn("__z", z)) if zorder_by else (lambda df: df),
            {
                "compacted_buckets": len(todo),
                **({"sort_order": list(sort_by)} if sort_by else {}),
                **({"zorder": list(zorder_by)} if zorder_by else {}),
            },
            order=sort_by or ["__z"],
        )
        return len(todo)

    def rebucket(self, new_num_buckets: int) -> int:
        """Change the table's bucket count in one atomic snapshot (the
        Iceberg partition-spec-evolution analogue).

        A bucket count sized for the first 100 GB is wrong at 100 TB: too
        few buckets → giant merge tasks and useless lookup pruning; too many
        → small files. ``rebucket`` reads the current rows, re-hashes every
        key under the new count with the writer's own ``_bucket_id`` expression,
        and commits ONE new snapshot whose manifest carries the new count —
        a full-table rewrite, the honest cost of re-hash-partitioning, run
        as a single wide job sized by ``new_num_buckets``. Epoch guards are
        untouched (maintenance, not an epoch), and because every reader
        takes ``num_buckets`` from the manifest of the snapshot it reads,
        time travel ACROSS the rebucket stays correct — old snapshots keep
        pruning with the old count, new ones with the new.

        Returns the number of buckets written under the new layout.
        """
        n = int(new_num_buckets)
        if n < 1:
            raise ValueError(f"num_buckets must be >= 1, got {n}")
        manifest = self.manifest()
        if n == int(manifest["num_buckets"]):
            return 0
        keys = manifest["key_columns"]
        df = self._read_buckets(manifest, None)
        if df is not None:
            df = df.drop(BUCKET_COL).withColumn(BUCKET_COL, _bucket_id(keys, n))
            df = self._by_bucket(df, list(range(n)))
        # a new bucket may gather keys from every old one: the bound is the
        # table's row count
        old = [self._key_ndv(manifest, {int(b): 0}) for b in manifest["buckets"]]
        committed = self._commit(
            # every old file is replaced: the new layout starts empty
            {**manifest, "num_buckets": n, "buckets": {}},
            {"rebucketed_to": n},
            data=df,
            dirty=list(range(n)),
            key_ndv=None if None in old else sum(old),
        )
        return len(committed["buckets"])

    # ------------------------------------------------------------------
    # retention
    # ------------------------------------------------------------------
    def describe(self, version: int | None = None) -> dict:
        """Metadata-only table report — no Spark job, no file scan.

        Everything comes from the manifest: snapshot lineage, schema, per-
        bucket physical row counts (from the footer stats each commit already
        records) and the skew ratio between the hottest and the median
        bucket — the number that says whether :meth:`rebucket` or key
        salting is due BEFORE a 100 TB scan finds out the hard way. Row
        counts are physical (retained delete markers included), matching
        what the next maintenance rewrite will actually lift.
        """
        m = self.manifest(version)
        rows_by_bucket: dict[str, int] = {}
        for key, st in m.get("file_stats", {}).items():
            b = key.split("/", 1)[1]
            rows_by_bucket[b] = rows_by_bucket.get(b, 0) + int(st.get("__rows", 0))
        counts = sorted(rows_by_bucket.values())
        med = counts[len(counts) // 2] if counts else 0
        schema = self._table_schema(m)
        return {
            "version": int(m["version"]),
            "parent": m.get("parent"),
            "ref": self.ref,
            "key_columns": list(m["key_columns"]),
            "num_buckets": int(m["num_buckets"]),
            "buckets_with_data": len(m["buckets"]),
            "data_versions_referenced": sorted({v for v, _ in self._live_files(m)}),
            "physical_rows": sum(counts),
            "rows_per_bucket": {
                "min": counts[0] if counts else 0,
                "median": med,
                "max": counts[-1] if counts else 0,
                "skew_max_over_median": round(counts[-1] / med, 3) if med else None,
            },
            "columns": [f_.name for f_ in schema.fields] if schema else [],
            "column_mapping": {
                log: dict(e) for log, e in (m.get("column_mapping") or {}).items()
            } or None,
            "retired_physical": list(m.get("retired_physical", [])) or None,
            "streams": dict(m.get("epochs", {})),
            "refs": self.refs(),
        }

    def history(self, ref: str | None = None) -> list[dict]:
        """Snapshot log along a ref's ancestry, newest first (Iceberg
        ``table.history()`` analogue) — metadata only, no scan.

        Each entry carries the commit's own summary (epoch merges record
        stream/epoch/rows, maintenance ops record what they did), so the
        audit question "what changed the table, when, and how much" reads
        straight off the manifests that time travel already keeps.
        """
        out = []
        for v in self._ancestry(self._head_version(ref or self.ref)):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired below the retention horizon
            out.append({
                "version": int(v),
                "parent": m.get("parent"),
                "committed_at_ms": m.get("summary", {}).get("committed_at_ms"),
                "summary": m.get("summary", {}),
                "buckets_referenced": len(m.get("buckets", {})),
            })
        return out

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> dict:
        """Garbage-collect data versions unreachable from the newest
        ``keep_last`` snapshots (Iceberg ``expire_snapshots`` analogue).

        Each merge writes dirty buckets into a fresh ``data/v{N}`` dir while
        clean buckets keep referencing older dirs, so storage grows with
        UPDATE churn until expiry. A data dir is deleted only when an
        expired manifest references it and no retained manifest does;
        retained = the newest ``keep_last`` manifests (older manifest files
        are removed too, ending their time-travel window). A dir no
        manifest references, such as an in-flight merge's write before its
        commit, is left to :meth:`remove_orphans` and its grace window.
        Returns ``{"data_versions_removed": …, "manifests_removed": …}``.

        ``older_than_ms`` adds Iceberg's time-based guard: a snapshot whose
        commit timestamp is at or after the cutoff is retained even beyond
        ``keep_last`` — "keep one snapshot, but never expire anything
        younger than N days" composes both dials. It only ever widens
        retention.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        current = self._head_version("main")
        manifest_dir = os.path.join(self.root, "manifests")
        versions = self._manifest_versions()
        # Retained = the newest keep_last snapshots along MAIN's ancestry
        # (parent chain, so versions allocated to branches don't shrink
        # main's time-travel window) + every tag head + every branch's
        # PRIVATE ancestry (its parent chain down to where it rejoins main):
        # publish() walks the branch chain to prove main's head is an
        # ancestor, and rollback() walks it for the target check, so
        # expiring an interior branch manifest would permanently wedge the
        # write-audit-publish promotion of any branch with 2+ commits. Main
        # history below the fork point still ages out normally — the walk
        # stops at the first version that lies on main's chain.
        main_ancestry = self._ancestry(current)
        retained_set = set(main_ancestry[:keep_last])
        main_ancestry_set = set(main_ancestry)
        refs = self.refs()
        for v in refs["tags"].values():
            retained_set.add(int(v))
        for v in refs["branches"].values():
            for a in self._ancestry(int(v)):
                retained_set.add(a)
                if a in main_ancestry_set:
                    break  # fork point: the publish anchor; older is main's
        if older_than_ms is not None:
            for v in versions:
                if v in retained_set:
                    continue
                m = self.manifest(v)
                ts = m.get("summary", {}).get("committed_at_ms")
                if ts is None:  # pre-summary manifest: fall back to file mtime
                    ts = int(
                        os.path.getmtime(
                            os.path.join(manifest_dir, f"v{v}.json")
                        ) * 1000
                    )
                if ts >= older_than_ms:
                    retained_set.add(v)
        retained = [v for v in versions if v in retained_set]
        expired = [v for v in versions if v not in retained_set]
        removed_data = 0
        for dv in sorted(
            self._referenced_data(expired) - self._referenced_data(retained)
        ):
            path = os.path.join(self.root, "data", f"v{dv}")
            if os.path.isdir(path):
                shutil.rmtree(path)
                removed_data += 1
        for v in expired:
            os.remove(os.path.join(manifest_dir, f"v{v}.json"))
        return {"data_versions_removed": removed_data, "manifests_removed": len(expired)}

    def purge_tombstones(self, below_lsn: int) -> int:
        """Physically drop delete markers with ``_lsn < below_lsn``.

        The retention job (Kafka ``delete.retention.ms`` analogue): once the
        ingest's per-partition high watermarks have all passed ``below_lsn``,
        no in-flight event can carry a lower LSN, so markers below it can no
        longer shield anything and are safe to remove. Rewrites every bucket
        that still holds such markers into a new snapshot; returns the number
        of buckets rewritten. A bucket whose file stats show no marker, or
        no ``_lsn`` below the bound, is not even scanned.
        """
        manifest = self.manifest()

        def purgeable(df: DataFrame) -> Column:
            return self._is_marker(df) & (F.col(LSN_COL) < below_lsn)

        prune = {TOMBSTONE_COL: (True, None), LSN_COL: (None, below_lsn - 1)}
        dirty = sorted(self._dirty_buckets(manifest, purgeable, prune))
        if dirty:
            self._rewrite(
                manifest,
                dirty,
                lambda df: df.filter(~purgeable(df)),
                {"purged_below_lsn": below_lsn, "rewritten_buckets": len(dirty)},
            )
        return len(dirty)

    def purge_below_watermark(self, metrics, stream_id: str | None = None) -> dict:
        """Retention as an operational one-liner: purge delete markers the
        ingest's own lineage proves dead.

        ``metrics`` is the :class:`~kafka_connect_plugins_spark.streaming.MetricsLog`
        the ingest wrote (or any object with ``high_watermarks(stream_id)``).
        The safe purge bound is the MINIMUM per-source-partition applied-LSN
        high watermark: source LSNs are monotone within a partition, so every
        in-flight event for partition ``p`` carries ``lsn > hw[p] >= min_hw``
        — a marker with ``lsn < min_hw`` can never shield anything again.
        A marker exactly AT the watermark survives (``purge_tombstones`` is
        strict-less-than): the event that wrote it may be re-delivered by an
        at-least-once replay and must still find its shield.

        Returns ``{"below_lsn", "buckets_rewritten", "partitions"}``; a
        no-op (no recorded epochs yet) returns ``below_lsn = None``.
        """
        hw = metrics.high_watermarks(stream_id)
        if not hw:
            return {"below_lsn": None, "buckets_rewritten": 0, "partitions": 0}
        below = min(hw.values())
        return {
            "below_lsn": below,
            "buckets_rewritten": self.purge_tombstones(below_lsn=below),
            "partitions": len(hw),
        }

    def _check_assignments(self, manifest: dict, assignments: dict, op: str) -> None:
        """Raise unless ``assignments`` sets payload columns of the table
        only (see :meth:`update_where`)."""
        bad = sorted(set(assignments) & (set(manifest["key_columns"]) | _RESERVED))
        if bad:
            raise ValueError(f"{op} cannot assign key/bookkeeping columns: {bad}")
        schema = self._table_schema(manifest)
        known = {f_.name for f_ in schema.fields} if schema is not None else set()
        unknown = sorted(set(assignments) - known)
        if unknown:
            raise ValueError(f"{op}: no such columns: {unknown}")

    def _rewrite_where(
        self,
        condition: Column,
        assignments: dict[str, Column] | None,
        prune: dict | None,
        op: str,
    ) -> dict:
        """:meth:`delete_where` / :meth:`update_where`: :meth:`_rewrite` the
        buckets holding live rows that match ``condition``."""
        manifest = self.manifest()
        if assignments is not None:
            self._check_assignments(manifest, assignments, op)

        def live(df: DataFrame) -> Column:
            # Three-valued logic: a NULL predicate row must be treated as
            # unmatched (kept by DELETE, untouched by UPDATE) — `filter(~NULL)`
            # would silently DROP it from the rewrite, losing the row. Delete
            # markers are retention's business (purge_tombstones), never a
            # predicate DELETE/UPDATE's.
            return F.coalesce(condition, F.lit(False)) & ~self._is_marker(df)

        def transform(df: DataFrame) -> DataFrame:
            if assignments is None:
                return df.filter(~live(df))
            # cast the new value INSIDE the branch: when/otherwise unifies
            # branch types first, and letting it coerce the OLD column toward
            # the literal's type would corrupt (or fail) unmatched rows
            return df.select(*[
                F.when(live(df), assignments[c].cast(df.schema[c].dataType))
                .otherwise(F.col(c)).alias(c)
                if c in assignments else F.col(c)
                for c in df.columns
            ])

        hits = self._dirty_buckets(manifest, live, prune)
        matched = sum(hits.values())
        if hits:
            self._rewrite(
                manifest,
                sorted(hits),
                transform,
                {"op": op, "rows_matched": matched, "rewritten_buckets": len(hits)},
            )
        return {"op": op, "rows_matched": matched, "buckets_rewritten": len(hits)}

    def delete_where(self, condition: Column, prune: dict | None = None) -> dict:
        """Predicate DELETE as one copy-on-write snapshot (Iceberg
        ``DELETE FROM … WHERE`` analogue — the compliance-erasure path).

        Only buckets that actually hold a matching live row are rewritten;
        every other bucket's files are carried by reference, so a delete of
        one user's rows from a 100 TB table costs a scan plus a rewrite of
        the few buckets that key hashes into — pass ``prune`` (the
        ``read(prune=…)`` bounds map, which must be implied by
        ``condition``) and the scan itself skips every bucket whose file
        stats are disjoint.

        This is an out-of-band table mutation, not a CDC tombstone: no
        delete marker is left behind, so if the upstream log later replays
        an insert for a deleted key the key returns. Erasure pipelines must
        redact the upstream subject too; prior snapshots still hold the rows
        until :meth:`expire_snapshots` retires them.

        Returns ``{"op", "rows_matched", "buckets_rewritten"}``; matching
        nothing commits nothing.
        """
        return self._rewrite_where(condition, None, prune, "delete_where")

    def update_where(
        self,
        condition: Column,
        assignments: dict[str, Column],
        prune: dict | None = None,
    ) -> dict:
        """Predicate UPDATE as one copy-on-write snapshot (Iceberg
        ``UPDATE … SET … WHERE`` analogue).

        ``assignments`` maps payload column name → new-value Column,
        evaluated against the OLD row (standard UPDATE semantics) and cast
        back to the column's table type so the snapshot schema never drifts.
        Key columns and bookkeeping columns (``_lsn``, ``_bucket``,
        ``_tombstone``) are not assignable — a key change is a
        delete + insert through :meth:`merge`, and LWW ordering stays the
        ingest's property. Bucket selection, stats pruning, and commit
        mechanics are exactly :meth:`delete_where`'s.
        """
        return self._rewrite_where(condition, assignments, prune, "update_where")

    def merge_into(
        self,
        source: DataFrame,
        *,
        matched_update: dict[str, Column] | None = None,
        matched_update_condition: Column | None = None,
        matched_delete_condition: Column | None = None,
        not_matched_insert: bool = True,
        not_matched_condition: Column | None = None,
    ) -> dict:
        """Generic clause-form MERGE INTO (the Delta/Iceberg verb), distinct
        from :meth:`merge`'s LWW CDC upsert::

            MERGE INTO t USING source ON <key columns>
            WHEN MATCHED AND <delete_cond> THEN DELETE
            WHEN MATCHED AND <update_cond> THEN UPDATE SET <assignments>
            WHEN NOT MATCHED AND <insert_cond> THEN INSERT <source row>

        Column namespace in conditions and assignments: the TARGET row's
        columns by name, the SOURCE row's columns under the struct ``src``
        (e.g. ``F.col("src.op") == "delete"``, ``{"props":
        F.col("src.props")}``). "Matched" means matched a LIVE target row;
        a key whose stored row is a delete marker counts as NOT matched
        (the Delta semantics — the row is deleted), so an insert for it
        REPLACES the marker, adopting ``greatest(source _lsn, marker _lsn)``
        so the marker's replay shield survives: log events strictly below
        the marker's LSN still lose to the out-of-band insert. Updated rows
        keep their ``_lsn`` (same contract as :meth:`update_where`); brand
        new keys take the source's ``_lsn`` (0 when the source has none).

        Execution is one :meth:`_rewrite`: source keys hash to their
        buckets with the writer's own ``_bucket_id``, and ONLY those buckets
        are read and full-outer-joined to the source on the key columns, so
        a 100-row source touches a handful of buckets. Ambiguous merges (two
        source rows sharing a key) raise, as Delta does. Source columns
        outside the table schema are conditions-only (visible under ``src``,
        never inserted); table columns the source lacks insert as NULL.

        Returns ``{"op", "rows_updated", "rows_deleted", "rows_inserted",
        "buckets_rewritten"}``; a no-op (no clause fired) commits nothing.
        """
        manifest = self.manifest()
        keys = list(manifest["key_columns"])
        n_buckets = int(manifest["num_buckets"])
        schema = self._table_schema(manifest)
        if schema is None:
            raise ValueError("merge_into on an empty table with no schema yet")
        if "src" in schema.fieldNames():
            raise ValueError(
                "merge_into reserves the name 'src' for the source-row "
                "struct; this table has a column named 'src'"
            )
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"source is missing key columns: {missing}")
        self._check_assignments(manifest, matched_update or {}, "merge_into")

        src_payload = [c for c in source.columns if c not in keys]
        # cast source keys to the TABLE's key types before hashing: xxhash64
        # hashes int 7 and string '7' differently, so an uncast mismatch
        # would route the key to the wrong bucket and silently duplicate it
        kcast = [F.col(k).cast(schema[k].dataType) for k in keys]
        src = source.select(
            *[c.alias(k) for c, k in zip(kcast, keys)],
            _bucket_id(kcast, n_buckets).alias(BUCKET_COL),
            F.struct(*[F.col(c) for c in src_payload]).alias("src"),
        )
        # one job: per-bucket source-key counts AND the ambiguity check
        per_key = src.groupBy(BUCKET_COL, *keys).agg(
            F.count(F.lit(1)).alias("__c")
        )
        stats = per_key.groupBy(BUCKET_COL).agg(
            F.max("__c").alias("__max"), F.count(F.lit(1)).alias("__keys")
        ).collect()
        if not stats:
            return {"op": "merge_into", "rows_updated": 0, "rows_deleted": 0,
                    "rows_inserted": 0, "buckets_rewritten": 0}
        if max(int(r["__max"]) for r in stats) > 1:
            raise ValueError(
                "merge_into: multiple source rows share a key — the merge "
                "is ambiguous (pre-collapse the source, or use merge() for "
                "LWW streams)"
            )
        dirty = sorted(int(r[BUCKET_COL]) for r in stats)
        # the action counts come from the write itself: no second pass over
        # the dirty buckets, and they describe exactly the rows written
        counts = Observation()

        def transform(current: DataFrame) -> DataFrame:
            cur_cols = [c for c in current.columns if c != BUCKET_COL]
            left = current.withColumn("__t", F.lit(True))
            # NULL-SAFE key join: merge() and lookup() treat NULL key
            # components as a legal key value (eqNullSafe / IS NOT DISTINCT
            # FROM); a plain USING join here would never match them, carrying
            # the stored NULL-key row AND inserting the source's — two rows
            # for one key.
            cond = F.lit(True)
            for k in keys:
                cond = cond & left[k].eqNullSafe(src[k])
            cond = cond & (left[BUCKET_COL] == src[BUCKET_COL])
            joined = left.join(src, cond, "full_outer").select(
                F.coalesce(left[BUCKET_COL], src[BUCKET_COL]).alias(BUCKET_COL),
                *[F.coalesce(left[k], src[k]).alias(k) for k in keys],
                *[left[c] for c in cur_cols if c not in keys],
                src["src"],
                left["__t"],
            )

            t_exists = F.coalesce(F.col("__t"), F.lit(False))
            s_exists = F.col("src").isNotNull()
            live_match = t_exists & ~self._is_marker(joined) & s_exists

            def clause(on: bool, cond: Column | None) -> Column:
                # a clause that is off never fires; one with no condition does
                return F.lit(bool(on)) if cond is None or not on else cond

            del_c = live_match & clause(
                matched_delete_condition is not None, matched_delete_condition
            )
            upd_c = live_match & clause(
                matched_update is not None, matched_update_condition
            )
            ins_c = s_exists & ~live_match & clause(
                not_matched_insert, not_matched_condition
            )
            action = (
                F.when(del_c, F.lit("D"))   # order gives DELETE precedence
                .when(upd_c, F.lit("U"))
                .when(ins_c, F.lit("I"))
                .when(t_exists, F.lit("C"))          # carry (incl. markers)
                .otherwise(F.lit("X"))               # unmatched source, no insert
            )
            # observed BEFORE the filter below drops the deleted rows
            with_action = joined.withColumn("__a", action).observe(counts, *[
                F.count_if(F.col("__a") == a).alias(f"rows_{verb}")
                for a, verb in (("U", "updated"), ("D", "deleted"), ("I", "inserted"))
            ])

            def out_col(c: str) -> Column:
                base = F.col(c)
                dt = current.schema[c].dataType
                if c in keys:
                    ins = base  # join key: already coalesced by the ON list
                elif c == LSN_COL:
                    src_lsn = (
                        F.col(f"src.{LSN_COL}").cast(dt)
                        if LSN_COL in src_payload else F.lit(0).cast(dt)
                    )
                    # replaced marker keeps its shield; fresh key takes src lsn
                    ins = F.greatest(
                        F.coalesce(src_lsn, F.lit(0).cast(dt)),
                        F.coalesce(base, F.lit(0).cast(dt)),
                    )
                elif c == TOMBSTONE_COL:
                    ins = F.lit(False).cast(dt)
                elif c in src_payload:
                    ins = F.col(f"src.{c}").cast(dt)
                else:
                    ins = F.lit(None).cast(dt)
                col = F.when(F.col("__a") == "I", ins)
                if matched_update is not None and c in matched_update:
                    # cast INSIDE the branch — see _rewrite_where on why letting
                    # when/otherwise unify types would corrupt unmatched rows
                    col = col.when(
                        F.col("__a") == "U", matched_update[c].cast(dt)
                    )
                return col.otherwise(base).alias(c)

            return with_action.filter(F.col("__a").isin("U", "I", "C")).select(
                F.col(BUCKET_COL), *[out_col(c) for c in cur_cols]
            )

        def summary() -> dict | None:
            if not any(counts.get.values()):
                return None  # no clause fired: publish nothing
            return {
                "op": "merge_into",
                **counts.get,
                "rewritten_buckets": len(dirty),
            }

        # insert-only buckets are dirty too: the commit adds them
        committed = self._rewrite(
            manifest,
            dirty,
            transform,
            summary,
            added={int(r[BUCKET_COL]): int(r["__keys"]) for r in stats},
        )
        return {
            "op": "merge_into",
            **counts.get,
            "buckets_rewritten": len(dirty) if committed else 0,
        }

    def state_digest(
        self, version: int | None = None, ref: str | None = None
    ) -> str:
        """Order-insensitive sha256 digest of the LIVE table state — the
        "identical final state, sha256-verified" check as one distributed
        aggregation instead of a row collect.

        Per row: sha256 over the canonical concat of every column (sorted
        by name, NULL distinguished from empty string by a sentinel). The
        digest folds the per-row hashes with addition — order-insensitive,
        so it is invariant to partitioning, task count, and epoch split:
        two replays of the same log at N and 4N cores (or cut into
        different epochs) must produce byte-identical digests. The row hashes are
        summed as two 60-bit halves in decimal(38,0) (exact at any scale
        Spark can hold; no float, no overflow below ~10^20 rows), then the
        ``count-sumA-sumB`` triple is itself sha256'd into one token.

        Runs as a map-only scan plus a single partial-aggregate — no
        shuffle of row data, nothing collected but three numbers — so
        verifying a 100 TB replay costs one pass at full cluster width.
        """
        import hashlib

        df = self.read(version=version, ref=ref)
        row = digest_components(df).first()
        token = (
            f"{row['n']}-{row['digest_a']}-{row['digest_b']}-"
            f"{','.join(sorted(df.columns))}"
        )
        return hashlib.sha256(token.encode()).hexdigest()

    def remove_orphans(self, grace_seconds: float = 86400.0) -> dict:
        """Delete data version dirs no manifest references (Iceberg
        ``remove_orphan_files`` analogue).

        A crash between the parquet write and the manifest commit — or an
        abandoned write-audit-publish branch whose manifests were expired —
        leaves a ``data/v{N}`` dir nothing points at. Those dirs are
        invisible to readers but hold real bytes forever. This walks every
        manifest still present (main ancestry, branches, tags — all of
        them), unions the data versions they reference, and removes
        unreferenced dirs older than ``grace_seconds``. The grace window is what makes it safe to run
        concurrently with a writer: an in-flight merge's freshly written dir
        is unreferenced only for the instant before its manifest commits,
        and its mtime is new.

        Returns ``{"removed": [version, …], "kept_young": n}``.
        """
        live = self._referenced_data(self._manifest_versions())
        data_dir = os.path.join(self.root, "data")
        now = time.time()
        removed, kept_young = [], 0
        for name in sorted(os.listdir(data_dir)) if os.path.isdir(data_dir) else []:
            if not name.startswith("v") or not name[1:].isdigit():
                continue
            v = int(name[1:])
            if v in live:
                continue
            path = os.path.join(data_dir, name)
            if now - os.path.getmtime(path) < grace_seconds:
                kept_young += 1
                continue
            shutil.rmtree(path)
            removed.append(v)
        return {"removed": removed, "kept_young": kept_young}

