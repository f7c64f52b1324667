"""Top-K per group (SURVEY §2.10 O5 / §2.7 A6).

Reference: automated_analysis.py:102-106 caps sample messages at 100
per code. Expressed as a rank window — one shuffle on the group key;
at scale Spark's WindowGroupLimit pushes the limit below the sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(df: DataFrame, group_cols: Sequence[str],
                    order_by: Sequence[Column], k: int,
                    rank_col: str | None = None) -> DataFrame:
    """Keep the top `k` rows per group under a *total* order
    (include a unique tiebreaker in `order_by` for determinism)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    out = df.withColumn("__rank", F.row_number().over(w)).where(F.col("__rank") <= k)
    if rank_col:
        return out.withColumnRenamed("__rank", rank_col)
    return out.drop("__rank")


def top_k_rows(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global deterministic top-k under a *total* order (include a
    unique tiebreaker). Plans as TakeOrderedAndProject: each partition
    keeps its local top-k, the driver merges — no full sort, no
    shuffle of the losing rows."""
    return df.orderBy(*order_by).limit(k)


def deterministic_group_sample(df: DataFrame, group_cols: Sequence[str],
                               key_col: str, k: int,
                               salt: str = "sample-v1") -> DataFrame:
    """Exactly min(k, |group|) rows per group, chosen by md5 order of
    the salted key — a reproducible stand-in for per-group reservoir
    sampling (eval-set construction, per-source spot checks). One
    window pass; changing the salt redraws the sample, while adding
    rows to a group perturbs only the sample's boundary."""
    from pyspark.sql import Window
    from ..training.dedup import md5_long

    h = md5_long(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(h, F.col(key_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k).drop("__rn"))


def group_rows_slice(spark, table_path: str, keys: DataFrame,
                     group_cols: Sequence[str]) -> DataFrame:
    """The LIVE rows of the given group keys — bucket-sliced when the
    table is clustered on a subset of `group_cols`, else one scan +
    broadcast semi-join. `keys` must be broadcast-small (it is the
    touched set of an incremental window, O(changes) by contract)."""
    from pyspark.sql import functions as F

    from ..streaming.ingest import (_bucket_on, _read_resolved,
                                    origin_bucket, read_merged_table,
                                    read_table_manifest)

    gcols = list(group_cols)
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    bk = _bucket_on(man)
    if set(bk) <= set(gcols):
        nb = int(man["n_buckets"])
        # O(n_buckets) collect of bucket ids, never group keys
        hit = sorted({int(r[0]) for r in
                      keys.select(origin_bucket(bk, nb).alias("b"))
                      .distinct().collect()} & set(man["buckets"]))
        rows = (_read_resolved(spark, table_path, man, only=hit)
                if hit else
                read_merged_table(spark, table_path).limit(0))
    else:
        rows = read_merged_table(spark, table_path)
    return rows.join(F.broadcast(keys), gcols, "left_semi")


#: Caps of the DRIVER-SIDE touched-key fast path below. The rows cap
#: bounds the narrow (op + group cols) dicts materialized in the
#: driver (~100 B each → a few MB at the default); the bytes cap
#: bounds the window's on-disk input (both versions of every changed
#: bucket) the single-threaded driver may read and diff — past it the
#: distributed Python-datasource read takes over. Tune for clusters
#: via the env vars; the defaults keep a bench/day-run-sized window
#: zero-job while any corpus-scale backlog goes distributed.
def _env_int(name: str, default: int) -> int:
    import os

    try:
        return int(os.environ.get(name, default))
    except ValueError:
        return default


_TOUCHED_LOCAL_ROWS = _env_int("SPARK_GRAFT_TOUCHED_LOCAL_ROWS", 100_000)
_TOUCHED_LOCAL_BYTES = _env_int("SPARK_GRAFT_TOUCHED_LOCAL_BYTES",
                                64 << 20)


def _window_bytes(table_path: str, from_commit: int,
                  to_commit: int) -> int | None:
    """Total LOCAL on-disk bytes the window's diff must read (both
    versions of every changed bucket); None when the table is not
    local (sizes unknown without RPCs) or a manifest is missing —
    the caller then keeps the old conservative row cap."""
    import os

    from ..streaming.cdf_source import (_bucket_dir, _changed_buckets,
                                        _manifest)
    from ..streaming.ingest import _local_path

    if _local_path(table_path) is None:
        return None
    man_to = _manifest(table_path, to_commit)
    if man_to is None:
        return None
    man_from = (_manifest(table_path, from_commit)
                if from_commit > 0 else None)
    total = 0
    for b in _changed_buckets(man_from, man_to):
        for man in (man_from, man_to):
            if man is None or b not in man["buckets"]:
                continue
            d = _bucket_dir(table_path, man, b)
            lp = _local_path(str(d)) if d is not None else None
            if lp is None:
                continue
            try:
                with os.scandir(lp) as it:
                    total += sum(e.stat().st_size
                                 for e in it if e.is_file())
            except OSError:
                pass
    return total


def touched_group_slice(spark, table_path: str, from_commit: int,
                        group_cols: Sequence[str]
                        ) -> tuple[DataFrame, DataFrame] | None:
    """The LIVE rows of every group the change feed touched since
    `from_commit` — the shared machinery of every non-invertible
    incremental recompute (top-k re-rank, K6 writeback, the G1/G2
    column-view re-fold): touched group keys come from the feed's new
    payloads plus the pre-change snapshot of updated/deleted keys
    (O(changed buckets)); when the table is clustered on a subset of
    `group_cols` (creation-time `bucket_cols`, stable only if those
    columns never change for a row) the state read is sliced to the
    touched groups' buckets, otherwise one scan + semi-join (still
    shuffling only touched rows). Returns None when the table has no
    commits past `from_commit`."""
    from pyspark.sql import functions as F

    from ..streaming.cdf_source import ensure_change_feed_registered
    from ..streaming.ingest import read_table_manifest

    gcols = list(group_cols)
    man = read_table_manifest(spark, table_path)
    if man is None:
        raise ValueError(f"{table_path} has no commits")
    current = int(man["commit"])
    if current <= from_commit:
        return None
    # Bounded-window fast path: the touched-key derivation needs only
    # the feed's group columns, so a bounded window is diffed
    # DRIVER-SIDE (cdf_source.read_changes_local — same manifests,
    # same Arrow kernel, zero scan jobs) and the key set computed as
    # a Python set — no Python-datasource scan job (~0.5 s worker
    # spin-up), no distinct shuffle, no checkpoint job. The read
    # ships ONLY op + group columns (+ their __old twins) out of the
    # Arrow diff (guide §4: the compare spans every payload column,
    # the consumer reads three), so the caps can sit far above the
    # 512-row local-merge cap: row cap ~1e5 narrow dicts (a few MB)
    # and an input-bytes cap bounding what the single-threaded driver
    # may read/diff (both env-tunable for clusters). Semantics
    # identical to the distributed read below (A/B pinned in tests);
    # windows past either cap fall through.
    from ..streaming.cdf_source import read_changes_local

    from ..streaming.local_merge import SMALL_BATCH_ROWS

    wb = _window_bytes(table_path, from_commit, current)
    cap = (_TOUCHED_LOCAL_ROWS
           if wb is not None and wb <= _TOUCHED_LOCAL_BYTES
           else SMALL_BATCH_ROWS)
    lc = read_changes_local(table_path, from_commit, current,
                            max_rows=cap, ship=gcols)
    if lc is not None and any("<" in lc.col_ddl.get(g, "<")
                              for g in gcols):
        # A non-scalar group column (array/map/struct DDL) would be
        # unhashable in the Python key set below; the distributed
        # reader handles those — fall through.
        lc = None
    if lc is not None:
        keyset = set()
        for r in lc.rows:
            if r["op"] in ("insert", "update"):
                keyset.add(tuple(r[g] for g in gcols))
            if r["op"] in ("update", "delete"):
                # origin/key columns carry no __old twin (immutable)
                keyset.add(tuple(
                    r[g + "__old"] if g + "__old" in r else r[g]
                    for g in gcols))
        data = [dict(zip(gcols, k))
                for k in sorted(keyset, key=repr)]
        touched = (spark.createDataFrame(data, lc.ddl_for(gcols))
                   if data else
                   spark.createDataFrame([], lc.ddl_for(gcols)))
        return group_rows_slice(spark, table_path, touched,
                                gcols), touched
    # ONE netting change-feed read with `includeOld`: new groups from
    # the new payloads, old groups (updates that MOVED a row across
    # groups, deletes) from the `<col>__old` pre-images — no
    # pre-change snapshot read, no semi-join. Origin columns have no
    # __old twin (keys are immutable), so a group column that is also
    # a key reads as itself on the old side.
    ensure_change_feed_registered(spark)
    # `ship` narrows the Python→JVM boundary to op + group columns
    # (+ their __old twins): the diff still compares every payload
    # column (emission semantics unchanged — a row changing only in
    # a non-group column still marks its group touched), but a wide
    # table's payloads never cross per changed row (guide §4).
    ch = (spark.read.format("merge_table_changes")
          .option("path", table_path)
          .option("fromCommit", str(from_commit))
          .option("toCommit", str(current))
          .option("ship", ",".join(gcols))
          .option("includeOld", "true").load())
    new_side = (ch.where(F.col("op").isin("insert", "update"))
                .select(*gcols))
    old_side = (ch.where(F.col("op").isin("update", "delete"))
                .select(*[
                    (F.col(f"{g}__old") if f"{g}__old" in ch.columns
                     else F.col(g)).alias(g) for g in gcols]))
    # Materialize the touched set once (it is O(changes) small):
    # every consumer re-uses it at least twice (bucket-id collect +
    # semi-join, and maintainers add a gone anti-join), and without
    # the checkpoint each use re-runs the whole feed diff DAG.
    touched = new_side.unionByName(old_side).distinct().localCheckpoint()
    return group_rows_slice(spark, table_path, touched, gcols), touched


def top_k_incremental(spark, table_path: str, from_commit: int,
                      group_cols: Sequence[str],
                      order_cols: Sequence[str], k: int,
                      rank_col: str | None = None) -> DataFrame:
    """A6 `sample_messages` as a CHANGE-FEED consumer: recompute the
    per-group top-k only for groups whose membership changed since
    `from_commit` — the reference re-samples EVERY code on every
    analysis run (automated_analysis.py:102-106), a full pass per
    sync. A deletion or recode can promote the (k+1)-th row, so the
    top-k is not retract-maintainable flat; the incremental answer is
    the k6 trick: touched groups from the feed's new payloads plus
    the pre-change snapshot of updated/deleted keys (O(changed
    buckets)), then an EXACT re-rank of just those groups. When the
    table is clustered on a subset of `group_cols` (creation-time
    `bucket_cols` — stable only if those columns never change for a
    row), the re-rank reads ONLY the touched groups' buckets: a sync
    is O(touched groups' buckets + changed rows), never a table scan.
    Otherwise one scan + semi-join (still only shuffling touched
    rows).

    `order_cols` must be a TOTAL order (unique tiebreaker) for a
    deterministic sample. Returns the re-ranked top-k restricted to
    touched groups; a group whose every row was deleted drops out."""
    from pyspark.sql import functions as F

    from ..streaming.ingest import read_merged_table

    gcols = list(group_cols)
    order_by = [F.col(c) for c in order_cols]
    sliced = touched_group_slice(spark, table_path, from_commit, gcols)
    if sliced is None:
        return top_k_per_group(
            read_merged_table(spark, table_path).limit(0), gcols,
            order_by, k, rank_col)
    return top_k_per_group(sliced[0], gcols, order_by, k, rank_col)
