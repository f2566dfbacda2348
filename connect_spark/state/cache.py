"""Cache resources + the `cache` processor operators (SURVEY.md §2.I:
17 cache backends; processor operators get/set/add/delete —
docs/.../processors/cache.adoc:167-169).

Set-based re-expression: a cache is a keyed table. The reference's 17
backends collapse into one abstraction — a path-backed parquet KV
(file/s3/gcs caches: change the path scheme; memory cache: a cached
DataFrame; redis/dynamo: foreachBatch client writes). Operators:

- set   → upsert rows (last writer wins)
- add   → insert-if-absent (the dedupe backing op, dedupe.adoc:53-78)
- get   → broadcast lookup join
- delete→ anti-join removal

At scale the store is partitioned parquet (or Delta/Iceberg for
transactional upserts); the whole-batch upsert replaces per-message
round-trips, which is the set-based superpower the reference lacks.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EXP_COL = "_cache_exp"  # expiry epoch-seconds; null = never expires
_SET_COL = "_cache_set_at"  # write stamp; drives the max_items bound


class ParquetKVCache:
    """Path-backed keyed cache (key column + arbitrary value cols).

    TTL (cached.adoc:26; the reference's ttlru/redis backends): a
    default `ttl` (seconds) set here, or a per-operation `ttl` on
    set/add, stamps each entry with an expiry timestamp. Reads filter
    expired entries; every mutation rewrites through read(), so
    expired rows are compacted out of the new generation for free.
    `now_fn` injects the clock (tests pin a logical clock)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "key",
        ttl: float | None = None,
        max_items: int | None = None,
        now_fn: Callable[[], float] = time.time,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.ttl = ttl
        # lru/ttlru backends bound entry count; the set-based analog
        # evicts by WRITE recency (each mutation stamps its rows, and
        # the bound keeps the newest `max_items` at every rewrite) —
        # access-recency would force a write per read, which is the
        # one thing a lazy plan must not do.
        self.max_items = max_items
        self.now_fn = now_fn

    # Generational layout (path/v0, path/v1, …): every mutation writes
    # a NEW immutable generation and readers always resolve the latest
    # — the snapshot/manifest pattern table formats use, which also
    # sidesteps Spark's per-path file-listing cache on overwrite.

    def _latest(self) -> int:
        if not os.path.isdir(self.path):
            return -1
        vs = [
            int(d[1:])
            for d in os.listdir(self.path)
            if d.startswith("v") and d[1:].isdigit()
        ]
        return max(vs, default=-1)

    def _gen_path(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def read(self) -> DataFrame | None:
        """Current live entries: latest generation minus expired."""
        df = self._read_live()
        if df is None:
            return None
        for c in (_EXP_COL, _SET_COL):
            if c in df.columns:
                df = df.drop(c)
        return df

    def _read_live(self) -> DataFrame | None:
        """Like read() but keeps the expiry column, so rewrites
        preserve each surviving entry's original TTL."""
        v = self._latest()
        if v < 0:
            return None
        df = self.spark.read.parquet(self._gen_path(v))
        if _EXP_COL in df.columns:
            df = df.filter(
                F.col(_EXP_COL).isNull()
                | (F.col(_EXP_COL) > F.lit(float(self.now_fn())))
            )
        return df

    def _write(self, df: DataFrame) -> None:
        self._bound(df).write.mode("overwrite").parquet(
            self._gen_path(self._latest() + 1)
        )

    def _stamp(self, rows: DataFrame, ttl: float | None) -> DataFrame:
        eff = ttl if ttl is not None else self.ttl
        exp = (
            F.lit(None).cast("double")
            if eff is None
            else F.lit(float(self.now_fn()) + float(eff))
        )
        if _EXP_COL in rows.columns:
            rows = rows.drop(_EXP_COL)
        if _SET_COL in rows.columns:
            rows = rows.drop(_SET_COL)
        return rows.withColumn(_EXP_COL, exp).withColumn(
            _SET_COL, F.lit(float(self.now_fn()))
        )

    def _bound(self, df: DataFrame) -> DataFrame:
        """Enforce max_items: newest writes survive (lru-by-write)."""
        if self.max_items is None or _SET_COL not in df.columns:
            return df
        return df.orderBy(
            F.col(_SET_COL).desc(), F.col(self.key)
        ).limit(self.max_items)

    def set(self, rows: DataFrame, ttl: float | None = None) -> None:
        """Upsert: new rows win over existing (cache set). Duplicate
        keys WITHIN the batch collapse to one survivor (at-least-once
        streams routinely redeliver) — without this, both copies
        persist and every later lookup join fans out."""
        self._rewrite(rows, None, ttl)

    def _rewrite(
        self,
        rows: DataFrame | None,
        drop: DataFrame | None,
        ttl: float | None = None,
    ) -> None:
        """One new generation: the live entries whose key is neither in
        `rows` nor in `drop`, plus `rows` (upserted as by set). Upserts
        and deletes of one batch therefore cost a single rewrite."""
        if rows is not None:
            rows = self._stamp(rows.dropDuplicates([self.key]), ttl)
        cur = self._read_live()
        if cur is None:
            if rows is not None:
                self._write(rows)
            return
        keys = [d.select(self.key) for d in (rows, drop) if d is not None]
        gone = keys[0] if len(keys) == 1 else keys[0].unionByName(keys[1])
        keep = cur.join(gone.distinct(), on=self.key, how="left_anti")
        if rows is None:
            self._write(keep)
            return
        # allowMissingColumns: upstream schema evolution (a new column
        # appearing mid-stream — the lakehouse evolution contract) adds
        # the column here with nulls for pre-evolution generations
        self._write(keep.unionByName(rows, allowMissingColumns=True))

    def add(self, rows: DataFrame, ttl: float | None = None) -> DataFrame:
        """Insert-if-absent; returns the rows actually added (the
        reference's add fails per message when present — here the
        rejected set is derivable as rows ∖ added). An expired entry
        counts as absent (read() filters it), so add after TTL expiry
        succeeds — the ttlru contract."""
        rows = self._stamp(rows, ttl)
        cur = self._read_live()
        if cur is None:
            deduped = rows.dropDuplicates([self.key])
            self._write(deduped)
            return deduped.drop(_EXP_COL, _SET_COL)
        fresh = rows.join(
            cur.select(self.key), on=self.key, how="left_anti"
        ).dropDuplicates([self.key])
        self._write(cur.unionByName(fresh, allowMissingColumns=True))
        return fresh.drop(_EXP_COL, _SET_COL)

    def get(self, df: DataFrame, on: str | None = None) -> DataFrame:
        """Lookup join (broadcast — cache sides are small by contract)."""
        cur = self.read()
        on = on or self.key
        if cur is None:
            return df
        renamed = cur.withColumnRenamed(self.key, on)
        return df.join(F.broadcast(renamed), on=on, how="left")

    def delete(self, keys: DataFrame) -> None:
        self._rewrite(None, keys)

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop old generations (the compaction knob)."""
        import shutil

        latest = self._latest()
        for v in range(latest - keep_last + 1):
            p = self._gen_path(v)
            if os.path.isdir(p):
                shutil.rmtree(p)


class TwoLevelKVCache(ParquetKVCache):
    """Memory→parquet two-level cache (the reference's multilevel cache,
    docs caches: multilevel.adoc): L1 is a driver-held snapshot of the
    latest generation (taken only when the generation is small enough
    to hold), L2 is the parquet store. Gets served from an L1 snapshot
    skip the parquet scan entirely; any mutation bumps the generation,
    which invalidates L1 by version mismatch — no explicit coherence
    protocol needed."""

    def __init__(self, *args, l1_max_rows: int = 100_000, **kwargs):
        super().__init__(*args, **kwargs)
        self.l1_max_rows = l1_max_rows
        self._l1_gen: int = -2  # generation the snapshot was taken at
        self._l1_rows = None  # list[Row] | None
        self._l1_schema = None
        self.l1_hits = 0
        self.l1_misses = 0

    def read(self) -> DataFrame | None:
        v = self._latest()
        if v < 0:
            return None
        if v == self._l1_gen and self._l1_rows is not None:
            self.l1_hits += 1
            df = self.spark.createDataFrame(
                self._l1_rows, schema=self._l1_schema
            )
        else:
            self.l1_misses += 1
            df = self.spark.read.parquet(self._gen_path(v))
            n = df.count()
            if n <= self.l1_max_rows:
                self._l1_rows = df.collect()
                self._l1_schema = df.schema
                self._l1_gen = v
            else:
                self._l1_rows = None
                self._l1_gen = -2
        if _EXP_COL in df.columns:
            df = df.filter(
                F.col(_EXP_COL).isNull()
                | (F.col(_EXP_COL) > F.lit(float(self.now_fn())))
            ).drop(_EXP_COL)
        if _SET_COL in df.columns:
            df = df.drop(_SET_COL)  # internal write stamp never leaks
        return df

    def _read_live(self) -> DataFrame | None:
        # mutations always read L2 (they rewrite the store anyway, and
        # the new generation invalidates L1 on the next read)
        return super()._read_live()
