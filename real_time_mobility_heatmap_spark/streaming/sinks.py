"""Idempotent keyed sinks — the engine's exactly-once-at-the-sink contract.

The reference achieves effective exactly-once on at-least-once micro-batch
delivery through two sink-side invariants (SURVEY.md ST6):

  1. tiles: deterministic `_id` + full-overwrite upsert — replays rewrite
     the same value (heatmap_stream.py:173, 188);
  2. positions_latest: upsert guarded by "incoming ts strictly newer than
     stored" — replays and out-of-order batches are no-ops
     (heatmap_stream.py:219-228).

``KeyedParquetStore`` implements both invariants over a bucketed parquet
layout so the contract is testable without MongoDB; a production deployment
swaps in a transactional keyed store (Delta ``MERGE``, Mongo bulk upsert)
behind the same two merge modes. Unlike the reference — which funnels every
row through the driver with ``toLocalIterator`` (heatmap_stream.py:163,210),
its scalability ceiling — the merge here is a Spark plan: union + argmax
per key, computed executor-side and written in parallel.

Storage layout (the 100 TB story — a micro-batch must never rewrite the
whole store):

  - rows are hash-partitioned into ``n_buckets`` by ``xxhash64(key)``;
  - a merge rewrites ONLY the buckets the batch touches (scanning just the
    dirs that hold them), into ONE new parquet dir ``data-<uuid>``
    (``__bucket`` a column, files sized by the data); others stay put;
  - rewritten rows stay dead in their old dir, so a merge also folds in
    the live buckets of any dir whose live share would drop below half
    (dead buckets never outnumber live ones on disk or in reads).
    ``delete`` folds every dir it touches: deleted rows leave disk at GC;
  - ``MANIFEST.json`` maps bucket id -> data dir (a reader filters each
    dir to its mapped buckets), records each dir's written bucket count
    and the file schema (reads skip inference), and is replaced with one
    atomic ``os.replace``: a crash leaves the previous snapshot intact.

Replay safety comes from the merge modes being idempotent: the same batch
merged twice converges to the same state. Deliberately NO epoch-id skip
list: epoch ids restart at 0 for every new checkpoint (so they are not
globally unique keys for a store that outlives queries), and an early
return would leave the micro-batch unconsumed, which Spark's state-store
commit validation rejects (`foreachBatch` must process every partition).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class KeyedParquetStore:
    """A keyed table as bucketed parquet data dirs behind an atomic manifest.

    merge semantics:
      - ``newer_col=None``  -> last-writer-wins upsert by key ($set style);
      - ``newer_col="ts"``  -> conditional upsert: incoming row replaces the
        stored one only if strictly newer (monotonic guard, S5).

    Versioned snapshots (the Delta-like time-travel surface): every merge
    commits a monotonically numbered snapshot ``MANIFEST-{v}.json``
    alongside the current-pointer ``MANIFEST.json``. ``read(version=v)``
    serves any retained snapshot; ``retain_versions`` bounds how many are
    kept — data dirs stay alive while ANY retained snapshot references
    them, so a reader pinned to an old version is safe for
    ``retain_versions`` merges (the default of 1 keeps latest only).
    """

    path: str
    key_cols: list[str]
    newer_col: str | None = None
    n_buckets: int = 32
    retain_versions: int = 1

    # merge()/delete() collect the DISTINCT touched-bucket ids to the
    # driver: the bound is enforced at construction, not found as an OOM
    MAX_BUCKETS = 1 << 20

    def __post_init__(self) -> None:
        if not (1 <= self.n_buckets <= self.MAX_BUCKETS):
            raise ValueError(f"n_buckets must be in [1, {self.MAX_BUCKETS}], got {self.n_buckets}")

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST.json")

    def _version_path(self, version: int) -> str:
        return os.path.join(self.path, f"MANIFEST-{version:012d}.json")

    def versions(self) -> list[int]:
        """Retained snapshot versions, oldest first."""
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        found = (re.fullmatch(r"MANIFEST-(\d{12})\.json", n) for n in names)
        return sorted(int(m.group(1)) for m in found if m)

    def _load_manifest(self, version: int | None = None) -> dict:
        p = self._manifest_path() if version is None else self._version_path(version)
        if not os.path.exists(p):
            if version is not None:
                raise FileNotFoundError(
                    f"snapshot version {version} is not retained "
                    f"(retained: {self.versions()})"
                )
            return {"version": 0, "buckets": {}}
        with open(p) as f:
            manifest = json.load(f)
        if manifest["buckets"] and "schema" not in manifest:
            raise ValueError(
                f"keyed store {self.path}: {os.path.basename(p)} has the old per-bucket-dir "
                "layout, which is no longer read; replay its source into a fresh store"
            )
        return manifest

    def _write_json_durable(self, target: str, manifest: dict) -> None:
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=0, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, target)

    def _commit_manifest(self, manifest: dict) -> None:
        """Atomic, durable swap: fsync the temp file BEFORE the rename (an
        unsynced rename can surface as an empty manifest after power loss),
        then the directory. The versioned file lands before the current
        pointer moves, so a crash between them leaves an extra, consistent
        versioned file at worst."""
        os.makedirs(self.path, exist_ok=True)
        self._write_json_durable(self._version_path(manifest["version"]), manifest)
        self._write_json_durable(self._manifest_path(), manifest)
        dfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def _gc_versions(self) -> None:
        """Drop snapshots past ``retain_versions`` and the data dirs only they reference."""
        versions = self.versions()
        keep_n = max(1, self.retain_versions)  # list[-0:] would keep nothing current
        keep, drop = versions[-keep_n:], versions[:-keep_n]
        if not drop:
            return
        referenced = set()
        for v in keep:
            referenced.update(self._load_manifest(v)["buckets"].values())
        referenced.update(self._load_manifest()["buckets"].values())
        for v in drop:
            for rel in self._load_manifest(v)["buckets"].values():
                if rel not in referenced:
                    shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)
            os.remove(self._version_path(v))

    def _commit(self, manifest: dict, out: str, written, emptied, schema: StructType) -> None:
        """Point ``written`` buckets at data dir ``out``, drop ``emptied``
        ones, record the file schema, commit the next snapshot and GC."""
        for b in written:
            manifest["buckets"][str(b)] = out
        for b in emptied:
            manifest["buckets"].pop(str(b), None)
        live = set(manifest["buckets"].values())
        sizes = {**manifest.get("dirs", {}), out: len(written)}
        manifest["dirs"] = {rel: n for rel, n in sizes.items() if rel in live}
        manifest["schema"] = schema.jsonValue()
        manifest["version"] = manifest.get("version", 0) + 1
        self._commit_manifest(manifest)
        self._gc_versions()

    # -- reads --------------------------------------------------------------

    def _bucket_dirs(self, version: int | None = None) -> list[str]:
        entries = self._load_manifest(version)["buckets"]
        return [os.path.join(self.path, rel) for rel in sorted(set(entries.values()))]

    @staticmethod
    def _by_dir(manifest: dict, buckets) -> dict[str, list[int]]:
        """Data dir -> those of ``buckets`` the manifest maps to it."""
        out: dict[str, list[int]] = {}
        for b in buckets:
            if str(b) in manifest["buckets"]:
                out.setdefault(manifest["buckets"][str(b)], []).append(int(b))
        return out

    def _scan(self, spark: SparkSession, manifest: dict, buckets) -> DataFrame | None:
        """Stored rows of ``buckets`` (with their ``__bucket`` column): each
        referenced data dir, read with the recorded schema (no inference
        job) and filtered to the buckets the manifest still maps to it."""
        by_dir = self._by_dir(manifest, buckets)
        if not by_dir:
            return None
        reader = spark.read.schema(StructType.fromJson(manifest["schema"]))
        parts = [
            reader.parquet(os.path.join(self.path, rel)).where(F.col("__bucket").isin(bs))
            for rel, bs in sorted(by_dir.items())
        ]
        return reduce(DataFrame.unionByName, parts)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """Current snapshot, or time-travel to a retained ``version``."""
        manifest = self._load_manifest(version)
        snap = self._scan(spark, manifest, manifest["buckets"])
        return None if snap is None else snap.drop("__bucket")

    # -- merge --------------------------------------------------------------

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets))

    @staticmethod
    def _buckets_of(df: DataFrame) -> list[int]:
        # driver-side metadata only (<= n_buckets ints), like a Delta commit's file list
        return sorted(r["__bucket"] for r in df.select("__bucket").distinct().collect())

    def _with_folds(self, manifest: dict, touched: list[int], min_live_share: float) -> list[int]:
        """``touched`` plus the other live buckets of each dir it touches
        whose live share would drop below ``min_live_share`` of the buckets
        it was written with; those dirs then drop out of the manifest."""
        live = self._by_dir(manifest, manifest["buckets"])
        out = set(touched)
        for rel in self._by_dir(manifest, touched):
            rest = [b for b in live[rel] if b not in out]
            if len(rest) < min_live_share * manifest["dirs"][rel]:
                out.update(rest)
        return sorted(out)

    def _merged(self, incoming: DataFrame, manifest: dict, touched: list[int]) -> DataFrame:
        """The touched buckets' stored rows unioned with ``incoming``, one row
        per key. Hash-partitioning on ``__bucket`` already clusters every
        key, so the per-key window plans no second exchange."""
        src = incoming.withColumn("__stored", F.lit(0))
        existing = self._scan(incoming.sparkSession, manifest, touched)
        if existing is not None:
            src = existing.withColumn("__stored", F.lit(1)).unionByName(src)
        if self.newer_col is None:
            order = [F.asc("__stored")]  # incoming (0) outranks stored (1)
        else:
            order = [F.desc(self.newer_col), F.desc("__stored")]  # newest wins; stored wins ties
        w = Window.partitionBy("__bucket", *self.key_cols).orderBy(*order)
        return (
            src.repartition("__bucket")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__stored")
        )

    def merge(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        """Idempotent keyed merge of one micro-batch into touched buckets.

        One pass: the bucket-tagged batch is persisted, so the touched-
        bucket collect and the write share one evaluation of the lazy
        (possibly stateful) micro-batch. Only the dirs holding touched (and
        folded, see the module docstring) buckets are scanned, one shuffle
        feeds the per-key argmax, and ONE new data dir is written.

        ``epoch_id`` only fits the `foreachBatch` signature; see the module docstring.
        """
        del epoch_id
        incoming = batch_df.withColumn("__bucket", self._bucket_col()).persist()
        try:
            touched = self._buckets_of(incoming)
            if not touched:
                return
            manifest = self._load_manifest()
            rewritten = self._with_folds(manifest, touched, min_live_share=0.5)
            merged = self._merged(incoming, manifest, rewritten)
            out = f"data-{uuid.uuid4().hex}"
            merged.write.parquet(os.path.join(self.path, out))
            self._commit(manifest, out, rewritten, [], merged.schema)
        finally:
            incoming.unpersist()

    def delete(self, keys_df: DataFrame) -> int:
        """Targeted key purge (the right-to-be-forgotten path): remove
        every stored row matching ``keys_df``'s key columns. It rewrites
        all live buckets of each data dir holding a bucket those keys hash
        into, so those dirs leave the manifest: a purge costs the dirs it
        touches (the whole store right after a merge wrote every bucket).
        With ``retain_versions=1``, the default, this call's GC then
        removes them, and the deleted rows, from disk; older retained
        snapshots still serve them until GC. Fully emptied buckets leave
        the manifest. Idempotent. Returns the number of touched buckets.
        """
        keyed = keys_df.select(*self.key_cols).distinct().withColumn("__bucket", self._bucket_col())
        touched = self._buckets_of(keyed)
        manifest = self._load_manifest()
        stored = {b for b in touched if str(b) in manifest["buckets"]}
        rewritten = self._with_folds(manifest, sorted(stored), min_live_share=1.0)
        existing = self._scan(keys_df.sparkSession, manifest, rewritten)
        if existing is None:
            return 0
        remaining = existing.join(keyed, ["__bucket", *self.key_cols], "left_anti")
        remaining = remaining.select(*existing.columns).persist()
        try:
            kept = self._buckets_of(remaining)
            out = f"data-{uuid.uuid4().hex}"
            if kept:
                remaining.write.parquet(os.path.join(self.path, out))
            self._commit(manifest, out, kept, set(rewritten) - set(kept), remaining.schema)
        finally:
            remaining.unpersist()
        return len(stored)

    def vacuum(self) -> list[str]:
        """Remove data dirs no RETAINED snapshot references — leftovers of
        a merge that crashed between its write and the (atomic) manifest
        swap, invisible to readers. Returns removed paths."""
        if not os.path.isdir(self.path):
            return []
        referenced = set()
        for v in [None, *self.versions()]:
            referenced.update(self._load_manifest(v)["buckets"].values())
        removed = []
        for entry in os.listdir(self.path):
            if entry.startswith("data-") and entry not in referenced:
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)
                removed.append(entry)
        return removed


def tile_store(path: str) -> KeyedParquetStore:
    """tiles store: overwrite-upsert by deterministic tile_id (S4)."""
    return KeyedParquetStore(path, key_cols=["tile_id"], newer_col=None)


def positions_store(path: str) -> KeyedParquetStore:
    """positions_latest store: ts-monotonic conditional upsert (S5)."""
    return KeyedParquetStore(path, key_cols=["position_id"], newer_col="event_ts")
