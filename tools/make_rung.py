"""Materialize a larger bench rung by deterministic replication of an
existing SF directory — the opt-in scale step VERDICT r14 #8 asked
for: at sf0.1 every query is fixed-overhead-bound (8-core vs 32-core
ratios ≈ 1), so parallel-path wins are invisible; a x10 rung makes
data-bound queries show real core scaling while keeping the bench
contract untouched (bench.py already reads $SPARK_GRAFT_SF_DIR and
$SPARK_GRAFT_CPUS — point them here).

Replication preserves each table's key arithmetic the way
tools/scale_stress.py does: replica k shifts synthetic ids by
k * shift (event_id/doc_id/vec_id/order keys), so `% N` derived
structure keeps its distribution, originals survive (fixed lookup
sets like the ANN QUERY_IDS still resolve), and text replicas get a
' rep<k>' suffix so near-dup pair counts grow ~linearly, never
quadratically. The shift is 10_000_000, raised by powers of ten
until it clears every replicated id (`replica_shift`): a fixed shift
at or below the largest id would map replica ids onto existing ones
and silently double-count keys. Dimension tables (region, nation, supplier, part,
customer) are copied as-is — replicating dimensions would break FK
semantics.

Usage:
  python tools/make_rung.py <out_dir> [factor]        # default 10
  SPARK_GRAFT_SF_DIR=<out_dir> SPARK_GRAFT_CPUS=8  python bench.py
  SPARK_GRAFT_SF_DIR=<out_dir> SPARK_GRAFT_CPUS=32 python bench.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: smallest id offset between replicas (see `replica_shift`)
BASE_SHIFT = 10_000_000

#: copied verbatim (dimensions / FK targets)
COPY = ["region", "nation", "supplier", "part", "customer"]
#: (table, id columns to shift, text columns to suffix)
REPLICATE = [
    ("events", ["event_id"], []),
    ("documents", ["doc_id"], ["text"]),
    ("embeddings", ["vec_id"], []),
    ("orders", ["o_orderkey"], []),
    ("lineitem", ["l_orderkey"], []),
]


def replica_shift(lo: int, hi: int) -> int:
    """The id offset between replicas, given the smallest and largest
    id over every replicated id column: BASE_SHIFT, times ten until it
    exceeds `hi`, so replica k's ids [k*shift, k*shift + hi] never
    meet another replica's. One shift for every table keeps the
    lineitem -> orders key equal in each replica. Negative ids would
    reach into the previous replica's range and are refused."""
    if lo < 0:
        raise ValueError(
            f"replicated ids must be >= 0 (found {lo}): a shifted "
            "negative id could equal an id of the previous replica")
    shift = BASE_SHIFT
    while hi >= shift:
        shift *= 10
    return shift


def replicate(spark, src: str, out: str, factor: int) -> int:
    """Write the x`factor` rung of `src` into `out`; returns the id
    shift used."""
    import shutil

    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)
    for name in COPY:
        s = os.path.join(src, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.isdir(s):
            shutil.copytree(s, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(s, dst)
        print(f"copied {name}")

    frames = {name: spark.read.parquet(os.path.join(src, f"{name}.parquet"))
              for name, _ids, _texts in REPLICATE}
    bounds = [frames[name].agg(*[f(c) for c in ids
                                 for f in (F.min, F.max)]).first()
              for name, ids, _texts in REPLICATE]
    ids = [v for row in bounds for v in row if v is not None]
    shift = replica_shift(min(ids, default=0), max(ids, default=0))
    parts = spark.sparkContext.defaultParallelism
    for name, id_cols, text_cols in REPLICATE:
        df = frames[name]
        reps = []
        for k in range(factor):
            r = df
            for c in id_cols:
                r = r.withColumn(c, F.col(c) + F.lit(k * shift).cast("long"))
            if k > 0:
                for c in text_cols:
                    r = r.withColumn(
                        c, F.concat(F.col(c), F.lit(f" rep{k}")))
            reps.append(r)
        outdf = reps[0]
        for r in reps[1:]:
            outdf = outdf.unionByName(r)
        (outdf.repartition(parts)
         .write.mode("overwrite")
         .parquet(os.path.join(out, f"{name}.parquet")))
        print(f"replicated {name} x{factor} (id shift {shift})")
    return shift


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark-graft-rung10"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("make-rung")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    replicate(spark, SRC, out, factor)
    spark.stop()
    print(f"rung ready: {out} (factor {factor} of {SRC})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
