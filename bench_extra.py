"""Round-8 optimization harness (bench.py is FROZEN for measurement; this
file exists for §1 of the optimization guide: isolate each query, capture
plans, time with the exact bench.py methodology plus a noop-sink variant).

Usage:
  python bench_extra.py queries [name ...]     # time headline queries (bench.py agg-hash method)
  python bench_extra.py geometry               # time the spans-geometry cache build
  python bench_extra.py legs [leg ...]         # contour | polylines | bpe | ...
  python bench_extra.py explain [name ...]     # write plans/r08/<name>_<tag>.txt
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_EXTRA_TAG (before/after),
     BENCH_EXTRA_REPEATS (default 3; min is reported like bench.py's min-of-N).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
TAG = os.environ.get("BENCH_EXTRA_TAG", "probe")
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))

BENCH_QUERIES = [
    "flagship", "docs_tile_assign", "spans", "span_invariant", "tile_assign",
    "downsample", "grid_stats", "block_read", "point_read", "ocean_volume",
]


def _session():
    import __spark_entry__ as entrymod
    from gridfour_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 16))
    return spark, entrymod


def _warmup(spark, entrymod):
    """Mirror bench.py's warmup: flagship once, SPEC_A tile store built."""
    qs = entrymod.queries()
    qs["flagship"](spark, SF_DIR).count()
    entrymod._tiles_cached(spark, entrymod.SPEC_A, "dem")
    return qs


def _force(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_queries(names):
    spark, entrymod = _session()
    qs = _warmup(spark, entrymod)
    names = names or BENCH_QUERIES
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        samples = []
        for _ in range(REPEATS):
            t0 = time.time()
            _force(qs[name](spark, SF_DIR))
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps({k: v["min"] for k, v in out.items()}))
    spark.stop()


def cmd_geometry(_names):
    spark, entrymod = _session()
    _warmup(spark, entrymod)
    samples = []
    for _ in range(REPEATS):
        for k in [k for k in entrymod._SESSION_CACHE if k[1][0] == "spans"]:
            entrymod._SESSION_CACHE.pop(k).unpersist()
        t0 = time.time()
        entrymod._spans_tiles_cached(spark, SF_DIR)
        samples.append(round(time.time() - t0, 3))
        print(json.dumps({"geometry_build_sec": samples[-1]}), flush=True)
    print("RESULT " + json.dumps({"geometry_build_sec": min(samples)}))
    spark.stop()


def cmd_legs(names):
    from pyspark.sql import functions as F

    spark, entrymod = _session()
    from gridfour_spark import contour as CT
    from gridfour_spark import synth as SY
    from gridfour_spark import textops as T
    from gridfour_spark.spec import GLOBAL_GRID as GG

    names = names or ["contour", "polylines", "simplify", "bpe"]
    out = {}
    levels = [-4000.5, -2000.5, -0.5, 1999.5, 3999.5]

    if "contour" in names:
        # warm the generator path once
        CT.segments(SY.grid_df(spark, GG, value="dem").limit(100000), levels).count()
        samples = []
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription("bench_extra:contour")
            t0 = time.time()
            seg = CT.segments(SY.grid_df(spark, GG, value="dem"), levels)
            row = seg.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("lev_milli", "x1", "y1", "x2", "y2")).alias("h"),
            ).collect()[0]
            samples.append(round(time.time() - t0, 3))
            print(json.dumps({"contour_sec": samples[-1], "n": row["n"],
                              "h": row["h"]}), flush=True)
        out["contour_sec"] = min(samples)

    if "polylines" in names or "simplify" in names:
        seg = CT.segments(SY.grid_df(spark, GG, value="dem"), levels).persist()
        seg.count()
        if "polylines" in names:
            samples = []
            for _ in range(max(1, REPEATS - 1)):
                spark.sparkContext.setJobDescription("bench_extra:polylines")
                t0 = time.time()
                pl = CT.polylines(seg, levels)
                n = pl.count()
                samples.append(round(time.time() - t0, 3))
                print(json.dumps({"polylines_sec": samples[-1], "n_vertices": n}),
                      flush=True)
            out["polylines_sec"] = min(samples)
        if "simplify" in names:
            pl = CT.polylines(seg, levels).persist()
            pl.count()
            samples = []
            for _ in range(max(1, REPEATS - 1)):
                spark.sparkContext.setJobDescription("bench_extra:simplify")
                t0 = time.time()
                n = CT.simplify(pl, 2_000_000.0).count()
                samples.append(round(time.time() - t0, 3))
                print(json.dumps({"simplify_sec": samples[-1], "n": n}), flush=True)
            out["simplify_sec"] = min(samples)
            pl.unpersist()
        seg.unpersist()

    if "bpe" in names:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        T.bpe_train(docs, n_merges=2)  # warmup
        samples = []
        for _ in range(max(1, REPEATS - 1)):
            spark.sparkContext.setJobDescription("bench_extra:bpe")
            t0 = time.time()
            merges, _st = T.bpe_train(docs, n_merges=16)
            samples.append(round(time.time() - t0, 3))
            print(json.dumps({"bpe_train16_sec": samples[-1],
                              "n_merges": len(merges)}), flush=True)
        out["bpe_train16_sec"] = min(samples)

    print("RESULT " + json.dumps(out))
    spark.stop()


def cmd_explain(names):
    spark, entrymod = _session()
    qs = _warmup(spark, entrymod)
    os.makedirs("plans/r08", exist_ok=True)
    names = names or BENCH_QUERIES
    for name in names:
        df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r08/{name}_{TAG}.txt"
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    names = sys.argv[2:]
    {"queries": cmd_queries, "geometry": cmd_geometry,
     "legs": cmd_legs, "explain": cmd_explain}[cmd](names)


if __name__ == "__main__":
    main()
