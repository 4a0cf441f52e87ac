"""Keyed view maintenance: the engine-internal replacement for the
reference's Elasticsearch painless-script upserts (SURVEY §2.2 K1/K4/K5,
§2.5 A3/A4, §2.4 J2).

Reference behavior being replaced:
- K1: ``es.mapping.id=Date`` → doc overwrite per key (yfConsumer.py:52-65);
- K4: painless script sets the stock column-half from the newest row,
  preserving sentiment fields (yfConsumerStream.py:57-87);
- K5: painless script merges the sentiment column-half with an incremental
  average (twitterConsumerStream.py:94-127);
- J2: the two scripts racing on the same doc = a cross-stream keyed merge.

Design: a :class:`KeyedParquetView` is a versioned parquet directory
(``v=N`` subdirs + ``_CURRENT`` pointer). Each merge writes a NEW version
and flips the pointer — readers never see partial writes, and a crashed
merge leaves the previous version intact. ``foreachBatch`` sinks record the
last applied ``batch_id`` per version, making replays after checkpoint
recovery no-ops (exactly-once effect on an at-least-once channel).

Scale: merges are DataFrame full-outer joins on the key — shuffle on the
key only, no driver collect. On a real deployment the same merge functions
drive Delta/Iceberg ``MERGE INTO``; plain parquet versioning keeps this
repo dependency-free. Each version directory holds ONLY the partitions the
merge touched; the ``_CURRENT`` manifest maps every partition to the
version that owns its current data, so merge cost is O(touched partitions)
— never O(view) — and untouched partitions' files are never rewritten
(asserted byte-identical by tests/test_streaming.py). The only driver-side
work per merge is one ``distinct().collect()`` of the batch's partition
values: O(touched), the same pruning collect a Delta ``MERGE`` does.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import last_write_wins


def merge_halves(
    cur: DataFrame, batch: DataFrame, key_cols: list[str], half_cols: list[str]
) -> DataFrame:
    """Pure K4/J2 merge: ``batch`` owns ``half_cols`` (newest wins), every
    other non-key column is preserved from ``cur``; unmatched keys insert
    with nulls for the absent half. One full-outer shuffle join on the key."""
    other_cols = [c for c in cur.columns if c not in half_cols and c not in key_cols]

    def half(h):
        # a column may exist on only one side (the view may predate this
        # half, or the batch may carry a partial half)
        if h in batch.columns and h in cur.columns:
            return F.coalesce(F.col(f"b.{h}"), F.col(f"c.{h}")).alias(h)
        if h in batch.columns:
            return F.col(f"b.{h}").alias(h)
        return F.col(f"c.{h}").alias(h)

    b, c = batch.alias("b"), cur.alias("c")
    cond = [F.col(f"b.{k}") == F.col(f"c.{k}") for k in key_cols]
    return c.join(b, cond, "full_outer").select(
        *[F.coalesce(F.col(f"b.{k}"), F.col(f"c.{k}")).alias(k) for k in key_cols],
        *[half(h) for h in half_cols],
        *[F.col(f"c.{o}").alias(o) for o in other_cols],
    )


def merge_mean_states(
    cur: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    sum_col: str = "sum_v",
    cnt_col: str = "cnt_v",
    mean_col: str = "mean_v",
) -> DataFrame:
    """Pure K5 merge with correct semantics: (sum, count) states add;
    mean = merged_sum / merged_count. Non-state columns of ``cur`` (e.g.
    the stock column-half sharing the speed-view row, reference
    twitterConsumerStream.py:94-107 'keep stock fields') pass through."""
    state_cols = {sum_col, cnt_col, mean_col, *key_cols}
    other_cols = [c for c in cur.columns if c not in state_cols]
    # the view may not have the state half yet (first sentiment batch into a
    # stock-only speed view): absent state reads as zero
    cur_state = lambda col: (
        F.coalesce(F.col(f"c.{col}"), F.lit(0)) if col in cur.columns else F.lit(0)
    )
    b, c = batch.alias("b"), cur.alias("c")
    cond = [F.col(f"b.{k}") == F.col(f"c.{k}") for k in key_cols]
    merged = c.join(b, cond, "full_outer").select(
        *[F.coalesce(F.col(f"b.{k}"), F.col(f"c.{k}")).alias(k) for k in key_cols],
        (F.coalesce(F.col(f"b.{sum_col}"), F.lit(0)) + cur_state(sum_col)).alias(sum_col),
        (F.coalesce(F.col(f"b.{cnt_col}"), F.lit(0)) + cur_state(cnt_col)).alias(cnt_col),
        *[F.col(f"c.{o}").alias(o) for o in other_cols],
    )
    # try_divide: a key with an empty (0, 0) state has no mean (ANSI-safe)
    return merged.withColumn(mean_col, F.try_divide(F.col(sum_col), F.col(cnt_col)))


#: the stock column-half as MERGEABLE state (see merge_ohlc_states)
OHLC_STATE = [
    "open_ts",
    "open_v",
    "high_v",
    "low_v",
    "close_ts",
    "close_v",
    "n_trades",
    "turnover",
]


def daily_ohlc_state(trades: DataFrame, ts: str = "ts", price: str = "value") -> DataFrame:
    """Per-day OHLC *partial state* for one micro-batch: like
    ``operators.aggregate.daily_ohlc`` but carrying the open/close
    timestamps so partial states from different micro-batches merge
    exactly (open = value at the globally earliest ts, which the merge
    can only decide if each partial remembers WHEN its open happened).

    The open/close pick is the lexicographic (ts, value) struct min/max —
    NOT ``min_by(p, t)`` — so two same-ts trades with different prices
    resolve deterministically by value, matching the cross-batch merge's
    ``least``/``greatest`` struct rule (r7 advice: ``min_by`` has no
    tiebreak and would make single-batch vs split-batch results diverge
    on ts collisions)."""
    p = F.col(price).cast("decimal(18,2)")
    t = F.col(ts)
    open_s = F.min(F.struct(t.alias("t"), p.alias("v")))
    close_s = F.max(F.struct(t.alias("t"), p.alias("v")))
    return trades.groupBy(F.to_date(t).alias("event_date")).agg(
        open_s["t"].alias("open_ts"),
        open_s["v"].alias("open_v"),
        F.max(p).alias("high_v"),
        F.min(p).alias("low_v"),
        close_s["t"].alias("close_ts"),
        close_s["v"].alias("close_v"),
        F.count(F.lit(1)).alias("n_trades"),
        F.sum(p).cast("decimal(18,2)").alias("turnover"),
    )


def merge_ohlc_states(cur: DataFrame, batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """K4 generalized from overwrite to an ALGEBRAIC column-half merge —
    the piece that makes the speed layer *converge to* the batch layer
    (T7's Lambda contract) instead of merely approximating it.

    The reference's painless script overwrites the stock half with the
    newest row (yfConsumerStream.py:57-87): correct for ``close`` when
    batches arrive in order, silently wrong for high/low/turnover the
    moment a day spans two micro-batches. Here each side carries OHLC
    *state* and the combine is exact and order-independent:

    - open  = the (ts, value) pair with the smaller open_ts (lexicographic
      struct ``least``; value tiebreak makes ts collisions deterministic),
    - close = the pair with the larger close_ts (struct ``greatest``),
    - high/low = max/min, n_trades/turnover = sums (DECIMAL — exact).

    Every non-key, non-state column of ``cur`` (the sentiment half living
    in the same speed-view row) passes through, mirroring
    :func:`merge_mean_states`. One full-outer shuffle join on the key."""
    other_cols = [c for c in cur.columns if c not in OHLC_STATE and c not in key_cols]
    have_state = "open_v" in cur.columns
    b, c = batch.alias("b"), cur.alias("c")
    cond = [F.col(f"b.{k}") == F.col(f"c.{k}") for k in key_cols]
    joined = c.join(b, cond, "full_outer")
    keys = [F.coalesce(F.col(f"b.{k}"), F.col(f"c.{k}")).alias(k) for k in key_cols]
    passthrough = [F.col(f"c.{o}").alias(o) for o in other_cols]
    if not have_state:
        # first stock batch into a view that only has the sentiment half
        return joined.select(
            *keys, *[F.col(f"b.{s}").alias(s) for s in OHLC_STATE], *passthrough
        )

    def pair(side: str, ts_col: str, v_col: str):
        # an absent side must be a true NULL struct (least/greatest skip
        # nulls) — a struct of null FIELDS would compare as the smallest
        # value and steal the pick
        s = F.struct(
            F.col(f"{side}.{ts_col}").alias("t"), F.col(f"{side}.{v_col}").alias("v")
        )
        return F.when(F.col(f"{side}.{ts_col}").isNotNull(), s)

    open_s = F.least(pair("c", "open_ts", "open_v"), pair("b", "open_ts", "open_v"))
    close_s = F.greatest(
        pair("c", "close_ts", "close_v"), pair("b", "close_ts", "close_v")
    )
    zero = F.lit(0)
    return joined.select(
        *keys,
        open_s["t"].alias("open_ts"),
        open_s["v"].alias("open_v"),
        F.greatest(F.col("c.high_v"), F.col("b.high_v")).alias("high_v"),
        F.least(F.col("c.low_v"), F.col("b.low_v")).alias("low_v"),
        close_s["t"].alias("close_ts"),
        close_s["v"].alias("close_v"),
        # NULL-on-both-sides must STAY NULL: a co-partitioned passthrough
        # row with no stock half on either side (sentiment-only key in a
        # multi-key partition) must not fabricate n_trades=0 — consumers
        # use `n_trades IS NOT NULL` as the has-stock-half predicate
        # (t17's filter; r8 advice fix)
        F.when(
            F.col("c.n_trades").isNotNull() | F.col("b.n_trades").isNotNull(),
            F.coalesce(F.col("c.n_trades"), zero)
            + F.coalesce(F.col("b.n_trades"), zero),
        )
        .cast("bigint")
        .alias("n_trades"),
        F.when(
            F.col("c.turnover").isNotNull() | F.col("b.turnover").isNotNull(),
            F.coalesce(F.col("c.turnover"), zero)
            + F.coalesce(F.col("b.turnover"), zero),
        )
        .cast("decimal(18,2)")
        .alias("turnover"),
        *passthrough,
    )


class KeyedParquetView:
    """A keyed materialized view over versioned, key-partitioned parquet.

    Layout::

        path/_CURRENT          atomic manifest (version, batch_ids, parts)
        path/v=K/<part>=<p>/   only the partitions the K-th merge touched

    ``parts`` maps each partition value (string form) to the version that
    owns its current data. A merge reads ONLY the partitions present in the
    incoming batch, merges, writes them under a new version dir, and flips
    the manifest — untouched partitions' files are never opened or
    rewritten, so merge cost is O(touched), not O(view).

    ``partition_by`` must be a function of the key (default: the first key
    column) so a batch row can only affect rows in its own partition.
    Choose a DISCRETE, bounded-cardinality column (a date, not a user id):
    one directory is created per distinct value. ``partition_by=None``
    falls back to whole-view rewrite per merge (the pre-r2 behavior).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        partition_by: str | None = "",
        lock_timeout: float = 120.0,
        lock_stale: float = 600.0,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        # "" sentinel = default to the first key column; None = disabled
        self.part_col = key_cols[0] if partition_by == "" else partition_by
        self.lock_timeout = lock_timeout
        self.lock_stale = lock_stale
        os.makedirs(path, exist_ok=True)

    # -- writer lease -------------------------------------------------------
    # Two streams merging into one view (the reference's J2 race:
    # yfConsumerStream vs twitterConsumerStream racing painless scripts on
    # one ES doc) must not interleave read-merge-flip cycles: both would
    # read version N and the second flip would silently drop the first
    # writer's column-half. A lease file taken with O_CREAT|O_EXCL (atomic
    # on POSIX) serializes whole merges; each writer then reads the other's
    # committed state. Production-grade multi-host deployments should use
    # Delta/Iceberg commit protocols instead — this is the single-host
    # equivalent, with stale-lease breaking for crashed writers.
    class _Lease:
        def __init__(self, dirpath: str, timeout: float, stale: float):
            self.lockfile = os.path.join(dirpath, "_LOCK")
            self.timeout = timeout
            self.stale = stale

        def __enter__(self):
            deadline = time.time() + self.timeout
            while True:
                try:
                    fd = os.open(self.lockfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, f"{os.getpid()} {time.time()}".encode())
                    os.close(fd)
                    return self
                except FileExistsError:
                    try:  # break leases of crashed writers
                        if time.time() - os.path.getmtime(self.lockfile) > self.stale:
                            # atomic CLAIM of the stale lock via rename: of N
                            # concurrent breakers exactly one rename succeeds
                            # (the rest get ENOENT) — a plain unlink here
                            # would let a slow breaker delete the FRESH lock
                            # the fast one just created
                            broken = f"{self.lockfile}.broken.{os.getpid()}.{time.monotonic_ns()}"
                            os.rename(self.lockfile, broken)
                            os.unlink(broken)
                            continue
                    except OSError:
                        pass  # holder released/broke it concurrently
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"could not acquire writer lease {self.lockfile}"
                        )
                    time.sleep(0.05)

        def __exit__(self, *exc):
            try:
                os.unlink(self.lockfile)
            except OSError:
                pass

    def _lease(self) -> "KeyedParquetView._Lease":
        return self._Lease(self.path, self.lock_timeout, self.lock_stale)

    # -- version bookkeeping ------------------------------------------------
    def _pointer(self) -> dict:
        p = os.path.join(self.path, "_CURRENT")
        if not os.path.exists(p):
            return {"version": 0, "batch_ids": {}}
        with open(p) as fh:
            return json.load(fh)

    def _flip(
        self,
        version: int,
        batch_id: int,
        writer: str,
        parts: dict | None = None,
        part_type: str | None = None,
    ) -> None:
        cur = self._pointer()
        ids = dict(cur.get("batch_ids", {}))
        ids[writer] = batch_id
        doc = {"version": version, "batch_ids": ids, "ts": time.time()}
        if parts is not None:
            doc["parts"] = parts
            doc["part_type"] = part_type or cur.get("part_type")
        if cur.get("base"):
            # shallow clone: the base pointer must survive every flip, or
            # shared-history partitions would resolve to local missing dirs.
            # Exception: once every partition is locally owned (compact()'s
            # full rewrite), the clone is self-contained — drop the pointer
            # so it can be vacuumed against and re-cloned freely.
            bv = cur.get("base_version", 0)
            if parts is None or any(v <= bv for v in parts.values()):
                doc["base"] = cur["base"]
                doc["base_version"] = bv
        tmp = os.path.join(self.path, "_CURRENT.tmp")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, os.path.join(self.path, "_CURRENT"))

    def last_batch_id(self, writer: str = "default") -> int:
        """Replay watermark PER WRITER: each StreamingQuery numbers its own
        micro-batches from 0, so two streams merging into one view (the J2
        speed-view scenario) must not dedupe each other's batch ids."""
        return self._pointer().get("batch_ids", {}).get(writer, -1)

    # -- partition-pruned reads --------------------------------------------
    @staticmethod
    def _fmt(v) -> str:
        """Canonical string form of a partition value — must agree between
        the manifest key, the batch `collect`ed value, and the read filter.
        str() of date/int/str does; exotic key types should pre-format."""
        return str(v)

    @staticmethod
    def _unescape_part(name: str) -> str:
        """Invert Spark/Hive partition-path escaping (FileUtils
        .escapePathName): special characters (':' in timestamps, '#', '%',
        '=', ...) are written as ``%XX`` hex in the directory name.
        Unescaping the listing is total and version-proof, unlike trying to
        re-implement the exact escape set engine-side."""
        import re

        return re.sub(
            r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
        )

    def _parts_on_disk(self, vdir: str) -> set[str]:
        """Partition VALUES actually written under a version dir, decoded
        from the Hive-escaped ``part_col=...`` directory names. Used for
        empty-partition detection: checking ``isdir(vdir/col=str(v))`` with
        the raw value is wrong for any value Spark escapes — the dir exists
        under the escaped name, the raw check misses it, and a live
        partition would be silently dropped from the manifest (r8 advice)."""
        try:
            entries = os.listdir(vdir)
        except OSError:
            return set()
        pref = f"{self.part_col}="
        return {
            self._unescape_part(e[len(pref):])
            for e in entries
            if e.startswith(pref)
        }

    def _vdir(self, ver: int, cur: dict | None = None) -> str:
        """Resolve a version dir. A SHALLOW CLONE's manifest carries
        ``base``/``base_version``: versions up to the clone point live
        under the source view's path (shared read-only history, zero data
        copied); versions after it are the clone's own."""
        cur = self._pointer() if cur is None else cur
        base = cur.get("base")
        if base and ver <= cur.get("base_version", 0):
            return os.path.join(base, f"v={ver}")
        return os.path.join(self.path, f"v={ver}")

    def _read_selected(
        self, sel: dict[str, int], part_type: str | None, cur: dict | None = None
    ) -> DataFrame | None:
        """Union of the wanted partitions, each from its owning version dir.
        The isin filter is a partition predicate, so each read opens only
        the selected subdirectories."""
        if not sel:
            return None
        by_ver: dict[int, list[str]] = defaultdict(list)
        for p, ver in sel.items():
            by_ver[ver].append(p)
        pieces = []
        for ver, ps in by_ver.items():
            base = self._vdir(ver, cur)
            df = self.spark.read.parquet(base).filter(
                F.col(self.part_col).cast("string").isin(ps)
            )
            pieces.append(df)
        # versions can carry different schemas (a column-half upsert widens
        # the view); absent columns read as null, same as the full-outer
        # merge semantics of the single-version layout
        out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), pieces)
        if part_type:
            out = out.withColumn(self.part_col, F.col(self.part_col).cast(part_type))
        return out

    def read(self) -> DataFrame | None:
        cur = self._pointer()
        if cur["version"] == 0:
            return None
        parts = cur.get("parts")
        if parts is None:  # legacy / partition_by=None layout
            return self.spark.read.parquet(os.path.join(self.path, f"v={cur['version']}"))
        return self._read_selected(parts, cur.get("part_type"), cur)

    def read_at(self, version: int) -> DataFrame | None:
        """Time travel: the view as of a past version — each partition's
        owner is the highest version <= ``version`` that wrote it. Requires
        the versions to still exist (vacuum() removes history), same
        retention contract as Delta time travel."""
        cur = self._pointer()
        if cur["version"] == 0 or version < 1:
            return None
        parts = cur.get("parts")
        if parts is None:
            return self.spark.read.parquet(os.path.join(self.path, f"v={version}"))
        # replay manifest history: a partition owned by ver > version must
        # be re-pointed at its newest surviving dir <= version (scan down).
        # Presence is checked via the unescaped dir listing (cached per
        # version dir) — same Hive-escaping hazard as _write_touched.
        listed: dict[str, set[str]] = {}

        def on_disk(v: int) -> set[str]:
            d = self._vdir(v, cur)
            if d not in listed:
                listed[d] = self._parts_on_disk(d)
            return listed[d]

        sel: dict[str, int] = {}
        for p, ver in parts.items():
            v = min(ver, version)
            while v >= 1 and p not in on_disk(v):
                v -= 1
            if v >= 1:
                sel[p] = v
        return self._read_selected(sel, cur.get("part_type"), cur)

    def read_partitions(self, wanted: list[str]) -> DataFrame | None:
        """Current rows of just the named partitions (string form)."""
        cur = self._pointer()
        parts = cur.get("parts")
        if cur["version"] == 0:
            return None
        if parts is None:
            full = self.read()
            return full.filter(F.col(self.part_col).cast("string").isin(wanted))
        sel = {p: parts[p] for p in wanted if p in parts}
        return self._read_selected(sel, cur.get("part_type"), cur)

    def _touched(self, batch: DataFrame) -> list[str]:
        vals = [r[0] for r in batch.select(self.part_col).distinct().collect()]
        if any(v is None for v in vals):
            # A NULL partition value would be written to the Hive default
            # partition dir, never recorded in the manifest, and silently
            # filtered out of every read — fail loudly instead.
            raise ValueError(
                f"batch contains NULL {self.part_col!r} values: a partitioned "
                "KeyedParquetView requires a non-null partition key (rows "
                "would be silently lost); fill or drop them upstream"
            )
        return [self._fmt(v) for v in vals]

    # -- writes -------------------------------------------------------------
    def _write_version(self, df: DataFrame, batch_id: int, writer: str) -> None:
        """Whole-view rewrite (partition_by=None only)."""
        cur = self._pointer()
        nxt = cur["version"] + 1
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v={nxt}"))
        self._flip(nxt, batch_id, writer)

    def _write_touched(
        self, df: DataFrame, touched: list[str], batch_id: int, writer: str
    ) -> None:
        """Write ONLY the touched partitions under a fresh version dir and
        re-point them in the manifest; every other partition keeps its
        existing owner version (files untouched on disk)."""
        cur = self._pointer()
        nxt = cur["version"] + 1
        vdir = os.path.join(self.path, f"v={nxt}")
        df.write.mode("overwrite").partitionBy(self.part_col).parquet(vdir)
        parts = dict(cur.get("parts", {}))
        written = self._parts_on_disk(vdir)
        for p in touched:
            # a merge may legitimately EMPTY a partition (u9's erasure, a
            # retention delete): partitionBy writes no dir for it, so
            # pointing the manifest at the fileless version would break
            # every read — the partition is DELETED, drop it instead.
            # Membership is checked against the UNESCAPED dir listing, not
            # a raw isdir of str(p): Spark Hive-escapes special chars in
            # partition dir names and a raw-path miss here would silently
            # drop a live partition.
            if p in written:
                parts[p] = nxt
            else:
                parts.pop(p, None)
        part_type = cur.get("part_type") or df.schema[self.part_col].dataType.simpleString()
        self._flip(nxt, batch_id, writer, parts=parts, part_type=part_type)

    def _apply(self, batch: DataFrame, merge_fn, batch_id: int, writer: str) -> None:
        """Shared merge driver: prune to the batch's partitions, merge, write.

        ``merge_fn(cur_touched_or_None, batch) -> merged`` must only emit
        rows whose partition value appears in the batch (true for all three
        strategies: a merge output key is always a batch key or a current
        key of the same partition).

        The whole read-merge-flip cycle runs under the writer lease so two
        concurrent ``foreachBatch`` writers serialize instead of losing the
        first flip (the reference's J2 race)."""
        with self._lease():
            if batch_id >= 0 and batch_id <= self.last_batch_id(writer):
                return  # replay after checkpoint recovery
            if self.part_col is None:
                merged = merge_fn(self.read(), batch)
                self._write_version(merged, batch_id, writer)
                return
            touched = self._touched(batch)
            cur_ptr = self._pointer()
            if cur_ptr["version"] > 0 and cur_ptr.get("parts") is None:
                # pre-partitioning (legacy) layout: migrate, don't orphan
                self._migrate_merge(batch, merge_fn, touched, batch_id, writer)
                return
            cur = self.read_partitions(touched)
            merged = merge_fn(cur, batch)
            self._write_touched(merged, touched, batch_id, writer)

    def _migrate_merge(
        self, batch: DataFrame, merge_fn, touched: list[str], batch_id: int, writer: str
    ) -> None:
        """One-time layout migration: the current view predates partitioned
        manifests (no ``parts`` key). Flipping a manifest that lists only the
        batch-touched partitions would make every untouched legacy row
        invisible — and a later vacuum would delete it permanently. Instead
        the ENTIRE current view is rewritten into the new partitioned layout
        alongside the merge, so the flipped manifest owns every partition."""
        full = self.read()
        part_s = F.col(self.part_col).cast("string")
        if full.filter(F.col(self.part_col).isNull()).limit(1).count() > 0:
            raise ValueError(
                f"legacy view at {self.path} has NULL {self.part_col!r} values; "
                "cannot migrate to a partitioned layout (clean them first or "
                "use partition_by=None)"
            )
        merged = merge_fn(full.filter(part_s.isin(touched)), batch)
        untouched = full.filter(~part_s.isin(touched))
        out = merged.unionByName(untouched, allowMissingColumns=True)
        legacy_parts = [
            self._fmt(r[0])
            for r in untouched.select(self.part_col).distinct().collect()
        ]
        self._write_touched(out, touched + legacy_parts, batch_id, writer)

    # -- merge strategies ---------------------------------------------------
    def merge_overwrite_by_key(
        self, batch: DataFrame, order_col, batch_id: int = -1, writer: str = "default"
    ) -> None:
        """K1/A3: keyed last-write-wins. Dedup the batch per key (latest
        wins), union with current, LWW again. Idempotent: replaying the same
        batch reproduces the same version content."""

        def fn(cur, b):
            fresh = last_write_wins(b, *self._kc(), order_col)
            if cur is None:
                return fresh
            return last_write_wins(cur.unionByName(fresh), *self._kc(), order_col)

        self._apply(batch, fn, batch_id, writer)

    def merge_column_halves(
        self,
        batch: DataFrame,
        half_cols: list[str],
        batch_id: int = -1,
        writer: str = "default",
    ) -> None:
        """K4/J2: the incoming batch owns ``half_cols``; other columns are
        preserved from the current view (painless 'set stock fields, keep
        sentiment fields'). Missing keys insert with nulls for the other
        half (the reference's upsert-as-is branch)."""

        def fn(cur, b):
            return b if cur is None else merge_halves(cur, b, self.key_cols, half_cols)

        self._apply(batch, fn, batch_id, writer)

    def merge_daily_ohlc(
        self, batch: DataFrame, batch_id: int = -1, writer: str = "default"
    ) -> None:
        """K4 with an algebraic half: ``batch`` carries per-key OHLC
        partial state (:func:`daily_ohlc_state`) and is combined with the
        view's state via :func:`merge_ohlc_states` — exact and
        batch-order-independent, so a full replay converges to the batch
        recompute (the t17 Lambda invariant). Sentiment columns sharing
        the row are preserved."""

        def fn(cur, b):
            return b if cur is None else merge_ohlc_states(cur, b, self.key_cols)

        self._apply(batch, fn, batch_id, writer)

    def merge_incremental_mean(
        self,
        batch: DataFrame,
        sum_col: str = "sum_v",
        cnt_col: str = "cnt_v",
        mean_col: str = "mean_v",
        batch_id: int = -1,
        writer: str = "default",
    ) -> None:
        """K5/A4 — the *correct* incremental mean: state is (sum, count) per
        key; merged mean = (s1+s2)/(c1+c2). Non-state columns of the current
        view (e.g. the stock half living in the same speed-view row) are
        preserved. The reference's pairwise ``(avg_old+avg_new)/2``
        recurrence (twitterConsumerStream.py:100-106) is order-sensitive and
        biased; see ``operators.aggregate.pairwise_mean_compat`` for the
        bug-compat fold.

        Keys in partitions no state batch ever touched carry NULL state
        (not (0, 0)): the pruned merge never rewrites their partitions.
        Readers wanting zero-filled state should coalesce on read."""

        def fn(cur, b):
            if cur is None:
                return b.withColumn(mean_col, F.col(sum_col) / F.col(cnt_col))
            return merge_mean_states(
                cur.drop(mean_col), b, self.key_cols, sum_col, cnt_col, mean_col
            )

        self._apply(batch, fn, batch_id, writer)

    def merge_custom(
        self, batch: DataFrame, merge_fn, batch_id: int = -1, writer: str = "default"
    ) -> None:
        """Escape hatch for view-specific merge logic:
        ``merge_fn(cur_touched_or_None, batch) -> merged`` runs under the
        SAME contract as the built-in strategies — writer lease, per-writer
        batch-id replay watermark, partition pruning (``cur`` holds every
        current row of the partitions the batch touches, and ``merged``
        REPLACES those partitions wholesale, so rows of co-partitioned
        keys the merge doesn't change must be passed through)."""
        self._apply(batch, merge_fn, batch_id, writer)

    def _kc(self):
        if len(self.key_cols) == 1:
            return [self.key_cols[0]]
        return [F.struct(*self.key_cols)]

    # -- maintenance --------------------------------------------------------
    def compact(self) -> int:
        """Rewrite every live partition into ONE fresh version and re-point
        the whole manifest at it, then vacuum. Bounds read() fan-out: after
        many merges the current state is scattered over many version dirs
        (one read + union per distinct owner); compaction restores a
        single-dir read. The Delta OPTIMIZE analogue. Returns the new
        version (0 = nothing to compact)."""
        with self._lease():
            cur = self._pointer()
            if cur["version"] == 0 or self.part_col is None:
                return 0
            full = self.read()
            if full is None:
                return 0
            nxt = cur["version"] + 1
            vdir = os.path.join(self.path, f"v={nxt}")
            full.write.mode("overwrite").partitionBy(self.part_col).parquet(vdir)
            parts = {p: nxt for p in (cur.get("parts") or {})}
            self._flip(nxt, -1, "_compact", parts=parts, part_type=cur.get("part_type"))
            self._vacuum()
            return nxt

    def clone_to(self, dst_path: str) -> "KeyedParquetView":
        """Zero-copy SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW
        CLONE` contract): copy the MANIFEST ONLY into ``dst_path``, with
        ``base``/``base_version`` pointing data resolution back at this
        view's version dirs. O(metadata) — no parquet file is read, copied,
        or even listed; at 100 TB the clone is a single JSON write, which
        is the entire point (dev/test forks, what-if reprocessing,
        point-of-divergence experiments against production tables).

        The clone EVOLVES INDEPENDENTLY: its merges read shared history
        through the base pointer but write new version dirs under its own
        path and re-point only its own manifest — copy-on-write at
        partition granularity. The source never sees clone writes; the
        clone never sees post-clone source writes (its manifest pins the
        clone-point versions). Retention caveat, same as Delta:
        ``vacuum()``/``compact()`` on the SOURCE can delete version dirs
        the clone still references — production setups either pin source
        retention or ``compact()`` the clone (a full local rewrite, the
        documented de-clone) before vacuuming the source. Clone-of-clone
        is refused rather than silently mis-resolved: the manifest carries
        ONE base, so re-clone after compacting the first clone.

        Runs under the SOURCE's writer lease: the pointer snapshot and the
        clone-manifest write must be atomic w.r.t. source merges, or a
        concurrent merge+vacuum in the gap could delete version dirs the
        clone is about to reference — before the documented retention
        caveat even applies (r8 advice). A ``dst_path`` that already holds
        a ``_CURRENT`` manifest is refused: silently overwriting it would
        orphan the pre-existing view's data."""
        with self._lease():
            cur = self._pointer()
            if cur["version"] == 0:
                raise ValueError(f"cannot clone empty view at {self.path}")
            if cur.get("base"):
                raise ValueError(
                    f"{self.path} is itself a shallow clone; compact() it into "
                    "a self-contained view before cloning again (single-base "
                    "manifest resolution)"
                )
            if cur.get("parts") is None:
                raise ValueError(
                    "shallow clone requires the partitioned manifest layout "
                    "(partition_by=None views rewrite wholesale — just copy "
                    "the current version dir)"
                )
            if os.path.exists(os.path.join(dst_path, "_CURRENT")):
                raise ValueError(
                    f"refusing to clone over existing view at {dst_path}: it "
                    "already has a _CURRENT manifest (overwriting would "
                    "orphan its data); choose a fresh path or remove it "
                    "explicitly"
                )
            clone = KeyedParquetView(
                self.spark, dst_path, self.key_cols, partition_by=self.part_col
            )
            doc = {
                "version": cur["version"],
                "batch_ids": {},  # fresh replay watermarks: a new pipeline
                "ts": time.time(),
                "parts": dict(cur["parts"]),
                "part_type": cur.get("part_type"),
                "base": os.path.abspath(self.path),
                "base_version": cur["version"],
            }
            tmp = os.path.join(dst_path, "_CURRENT.tmp")
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
            os.replace(tmp, os.path.join(dst_path, "_CURRENT"))
            return clone

    def vacuum(self) -> list[int]:
        with self._lease():
            return self._vacuum()

    def _vacuum(self) -> list[int]:
        """Delete version directories no partition references anymore and
        return the versions removed. Safe w.r.t. concurrent readers of the
        CURRENT manifest: only versions absent from it are deleted (a
        reader pinned to an older manifest has the usual snapshot caveat,
        same as Delta VACUUM). The current version dir is always kept —
        even when empty — so a crash between write and flip cannot orphan
        the pointer."""
        import re
        import shutil

        cur = self._pointer()
        live = {cur["version"]} | set((cur.get("parts") or {}).values())
        removed = []
        for entry in os.listdir(self.path):
            m = re.fullmatch(r"v=(\d+)", entry)
            if m and int(m.group(1)) not in live:
                shutil.rmtree(os.path.join(self.path, entry))
                removed.append(int(m.group(1)))
        return sorted(removed)


def foreach_batch_lww(view: KeyedParquetView, order_col: str, writer: str = "default"):
    """K1 sink: streaming keyed append with last-write-wins semantics."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        view.merge_overwrite_by_key(batch_df, order_col, batch_id=batch_id, writer=writer)

    return fn
