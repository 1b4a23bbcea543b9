"""GenerationStore — the one on-disk layout of the persisted indexes
(``IncrementalLSHIndex`` in bucketed mode and ``IVFPQIndex``)::

    {root}/_pointer.json   {"generation": N, **params}
    {root}/g{N}/{name}     artifact ``name`` of generation N

Durability. Every write that creates a generation — an index's first
write, a compaction, a rebuild/retrain — goes into ``g{N+1}``, which no
pointer names, and then becomes current through ONE atomic flip of the
pointer (a tmp file + ``os.replace``). A crash before the flip leaves the
old generation serving and the new one an unreferenced orphan; a crash
after it leaves only unreferenced old files. Readers resolve every
artifact through the pointer, so no reader ever sees a mixed generation.
Appends between maintenance ops (absorbs, tombstones) land in the serving
generation; their ordering is each index's own contract.

Retention. A flip does not delete the generation it retires: a reader in
another process that resolved the old pointer is still reading it.
:meth:`GenerationStore.sweep` runs at the start of the NEXT maintenance op
and deletes every ``g*`` except the serving one, so N−1 generations stay
on disk — readers must re-resolve before an index is maintained twice.
One writer per index at a time.

Two sidecars are shared by both indexes, one per generation:

- ``ids`` — one row per indexed id, hive-partitioned on
  ``__idb__ = pmod(xxhash64(id), id_buckets)``; an exactly-once or delete
  guard prunes the stored side to its probe's partitions with a static
  ``IN`` filter, O(|Δ| + ids/id_buckets) by plan;
- ``tombstones`` — pending deletes, one id per row, appended until the
  next maintenance op writes a generation without the deleted rows.

The pointer plays the role of ``ParquetMapState``'s manifest
(``state/parquet_state.py``): Trident's txid-versioned commit, applied to
a whole generation.

The id contract, shared by both indexes and enforced by
:func:`check_adds` / :func:`check_deletes` — they take DataFrames, so the
in-memory LSH index runs the same guards. Every guard fails loudly and
runs before the operation's first durable write:

- exactly-once add: an id repeated within a batch, or an id already in
  the stored ids (a replayed or re-sent batch), is refused — re-indexing
  it would double its rows. ``enforce_unique=False`` (a trusted
  exactly-once feed) skips these two probes;
- tombstone reservation: a tombstoned id is refused even then, until a
  compaction physically drops it — its re-added rows would be hidden by
  the tombstone and then deleted by that compaction;
- dangling ids: an add appends ids before rows, so a crash between the
  two leaves an id in the sidecar with no rows behind it. Its replay is
  diagnosed apart from a true replay and names the remedy, a compaction
  (which re-derives the sidecar from the rows), then the replay;
- deletes: an empty batch, an id repeated within it, an id never
  indexed, an id already tombstoned, and a delete that would leave no
  live id are each refused, in that order.

When several add guards fail at once, a within-batch duplicate wins over
a re-sent (or dangling) id, which wins over a tombstoned one — so with
``enforce_unique`` on, a tombstoned id, still in the sidecar until the
compaction, reports as re-sent.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

POINTER = "_pointer.json"


def auto_id_buckets(n_rows: int) -> int:
    """Partition count of an ids sidecar sized from its first write: ~100k
    ids per partition, a power of two, clamped to [8, 4096]."""
    return max(8, min(4096, 1 << math.ceil(math.log2(max(1.0, n_rows / 100_000)))))


class GenerationStore:
    def __init__(self, root: str):
        self.root = root
        self.generation: int | None = None  # the serving generation

    @property
    def pointer(self) -> str:
        return os.path.join(self.root, POINTER)

    def load(self) -> dict | None:
        """Read the pointer and serve its generation; None when absent."""
        if not os.path.isfile(self.pointer):
            return None
        with open(self.pointer) as fh:
            ptr = json.load(fh)
        self.generation = ptr["generation"]
        return ptr

    def flip(self, generation: int, params: dict) -> None:
        """Make ``generation`` the serving one — the only pointer write."""
        tmp = self.pointer + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"generation": generation, **params}, fh)
        os.replace(tmp, self.pointer)
        self.generation = generation

    def next_generation(self) -> int:
        return 0 if self.generation is None else self.generation + 1

    def path(self, name: str, generation: int | None = None) -> str:
        gen = self.generation if generation is None else generation
        return os.path.join(self.root, f"g{gen}", name)

    def generations(self) -> set[int]:
        """Generation numbers on disk, referenced or not."""
        if not os.path.isdir(self.root):
            return set()
        return {int(d[1:]) for d in os.listdir(self.root) if re.fullmatch(r"g\d+", d)}

    def fresh_start(self, overwrite: bool, flag: str) -> set[int]:
        """Clear the root for a new index; returns the generations removed.
        A non-empty root is refused unless the caller opted in through
        ``flag`` — it may hold unrelated data, and a stale index left there
        would leak into the new one."""
        if os.path.isdir(self.root) and os.listdir(self.root) and not overwrite:
            raise ValueError(
                f"index path {self.root!r} is non-empty (a prior index or "
                "unrelated data); a new index must start from an empty path. "
                f"Pass {flag}=True to wipe it explicitly."
            )
        gone = self.generations()
        shutil.rmtree(self.root, ignore_errors=True)
        self.generation = None
        return gone

    def sweep(self) -> set[int]:
        """Delete every generation but the serving one; returns their
        numbers."""
        gone = self.generations() - {self.generation}
        for g in gone:
            shutil.rmtree(os.path.join(self.root, f"g{g}"), ignore_errors=True)
        return gone

    def write_ids(
        self, ids: DataFrame, col: str, id_buckets: int | str, mode: str,
        generation: int | None = None,
    ) -> int:
        """Write ``ids`` (column ``col``) into the ids sidecar; returns the
        partition count, resolving ``"auto"`` from this write's size.
        Repartitioned on the partition value, so each touched partition gets
        one file per write."""
        if id_buckets == "auto":
            id_buckets = auto_id_buckets(ids.count())
        (
            ids.select(col, F.pmod(F.xxhash64(col), F.lit(id_buckets)).alias("__idb__"))
            .repartition("__idb__")
            .write.mode(mode)
            .partitionBy("__idb__")
            .parquet(self.path("ids", generation))
        )
        return id_buckets

    def read_ids(
        self, spark: SparkSession, col: str, id_buckets: int,
        probe: DataFrame | None = None,
    ) -> DataFrame:
        """Stored ids of the serving generation. With ``probe`` (a frame of
        ``col``), pruned to the probe's partitions by a static ``IN`` filter
        (a bounded fetch of ≤ id_buckets values) — exact for membership
        questions, since an id equal to a probe id hashes with it."""
        stored = spark.read.parquet(self.path("ids"))
        if probe is not None:
            touched = [
                r[0]
                for r in probe.select(F.pmod(F.xxhash64(col), F.lit(id_buckets)))
                .distinct()
                .collect()
            ]
            stored = stored.filter(F.col("__idb__").isin(touched))
        return stored.select(col)

    def tombstones(self, spark: SparkSession) -> DataFrame | None:
        """Pending deletes of the serving generation, or None."""
        if self.generation is None or not os.path.isdir(self.path("tombstones")):
            return None
        return spark.read.parquet(self.path("tombstones"))

    def append_tombstones(self, ids: DataFrame) -> None:
        ids.write.mode("append").parquet(self.path("tombstones"))


def check_adds(
    ids: DataFrame,
    col: str,
    stored: Callable[[], DataFrame] | None,
    tombstones: DataFrame | None,
    enforce_unique: bool,
    rows: Callable[[], DataFrame] | None,
    remedy: str,
) -> None:
    """The add guards of the id contract, in ONE driver action: the
    probes union into a frame tagged so its first row by tag is the
    highest-precedence failure. ``stored`` returns the stored ids (called
    only under ``enforce_unique`` — a pruned sidecar read costs an
    action); ``rows`` returns the stored rows, opened only to diagnose a
    re-sent id as dangling; ``remedy`` names the compaction call."""
    probes = []
    if enforce_unique:
        probes.append(
            ids.groupBy(col).count().filter(F.col("count") > 1)
            .select(col, F.lit("a_dup").alias("__why__"))
        )
        if stored is not None:
            probes.append(
                ids.join(stored(), col, "semi")
                .select(col, F.lit("b_resent").alias("__why__"))
            )
    if tombstones is not None:
        probes.append(
            ids.join(F.broadcast(tombstones), col, "semi")
            .select(col, F.lit("c_tomb").alias("__why__"))
        )
    if not probes:
        return
    bad = reduce(DataFrame.unionByName, probes).orderBy("__why__", col).head(1)
    if not bad:
        return
    rid, why = bad[0][col], bad[0]["__why__"]
    if why == "a_dup":
        raise ValueError(
            f"id {rid!r} appears more than once in this batch — each id must "
            "arrive exactly once; run exact dedup upstream"
        )
    if why == "b_resent":
        if rows is not None and not rows().filter(F.col(col) == F.lit(rid)).head(1):
            raise ValueError(
                f"id {rid!r} is in the ids sidecar but has no stored rows — a "
                "dangling entry from an add interrupted between the sidecar "
                f"and row appends; run {remedy} to heal the sidecar, then "
                "replay this batch"
            )
        raise ValueError(
            f"id {rid!r} was already indexed — each id must arrive exactly "
            "once (replayed batch or re-sent id?); run exact dedup upstream "
            "or dedup the replay"
        )
    raise ValueError(
        f"id {rid!r} is tombstoned — run {remedy} to clear deletes before "
        "re-indexing the id"
    )


def check_deletes(
    dele: DataFrame,
    col: str,
    stored_probe: DataFrame,
    stored_full: DataFrame,
    tombstones: DataFrame | None,
) -> None:
    """The delete guards of the id contract. ONE aggregate job answers the
    empty and duplicate guards (the duplicate is re-fetched only on that
    failure); the other three are independent reads, run concurrently and
    awaited in precedence order. ``stored_probe`` may be pruned to
    ``dele``'s partitions; the would-empty guard asks about ids outside
    the batch, so ``stored_full`` is every stored id."""
    stats = (
        dele.groupBy(col)
        .count()
        .agg(F.count(F.lit(1)).alias("n_ids"), F.max("count").alias("max_n"))
        .collect()[0]
    )
    # an empty batch would pass every guard vacuously and materialize the
    # tombstone sidecar, taxing every later read with its anti-join
    if stats["n_ids"] == 0:
        raise ValueError(
            "empty delete batch — nothing to remove (a confused caller; the "
            "loud-failure convention refuses no-op deletes)"
        )
    if stats["max_n"] > 1:
        dup = dele.groupBy(col).count().filter(F.col("count") > 1).head(1)
        raise ValueError(
            f"id {dup[0][col]!r} appears more than once in this delete batch "
            "— each id may be deleted at most once"
        )
    live = stored_full
    if tombstones is not None:
        tombstones = F.broadcast(tombstones)
        live = live.join(tombstones, col, "anti")
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_missing = pool.submit(lambda: dele.join(stored_probe, col, "anti").head(1))
        f_twice = pool.submit(
            lambda: tombstones is not None and dele.join(tombstones, col, "semi").head(1)
        )
        f_emptied = pool.submit(lambda: live.join(dele, col, "anti").isEmpty())
        missing = f_missing.result()
        if missing:
            raise ValueError(
                f"id {missing[0][col]!r} is not indexed — deleting an unknown "
                "id indicates a confused caller"
            )
        twice = f_twice.result()
        if twice:
            raise ValueError(
                f"id {twice[0][col]!r} is already tombstoned — deleting it "
                "twice indicates a confused caller"
            )
        if f_emptied.result():
            raise ValueError(
                "this delete would tombstone every remaining indexed id — "
                "rebuild the index instead of emptying it"
            )
