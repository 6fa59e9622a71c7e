"""Self-check harness mimicking the driver's correctness gate.

Runs each __spark_entry__.queries() entry on Spark and its oracle_sql() twin
on DuckDB at the given SF dir, compares row count, column names, and an
order-insensitive value hash (rows sorted by all columns, floats rounded).

A query whose input is absent on this machine is reported as SKIP with
the reason, counted on the final line, and never counted as OK.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        # normalize ints across int32/int64/uint
        elif pdf[c].dtype.kind in "iu":
            pdf[c] = pdf[c].astype("int64")
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    body = pdf.to_csv(index=False, float_format="%.6f")
    return hashlib.md5(body.encode()).hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from gridfour_spark.session import get_spark

    spark = get_spark(shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = e.queries(), e.oracle_sql()
    # queries that read the reference's sample files, which may be absent
    skip_reasons = {}
    if not os.path.isdir(e._GVRS_SAMPLES_DIR):
        skip_reasons["gvrs_sample_read"] = (
            f"reference sample directory {e._GVRS_SAMPLES_DIR} does not exist"
        )
    failures, skipped, n_ok = [], [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip_reasons:
            print(f"{name:24s} SKIP {skip_reasons[name]}")
            skipped.append(name)
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:24s} SPARK ERROR: {ex}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in os_:
            print(f"{name:24s} rows={len(spdf):8d}  (no oracle — rows-only) {t1-t0:5.1f}s")
            continue
        try:
            ddf = con.execute(os_[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:24s} DUCKDB ERROR: {ex}")
            failures.append(name)
            continue
        cols_ok = sorted(spdf.columns) == sorted(ddf.columns)
        rows_ok = len(spdf) == len(ddf)
        h_ok = cols_ok and rows_ok and norm_hash(spdf) == norm_hash(ddf)
        status = "OK " if (cols_ok and rows_ok and h_ok) else "FAIL"
        print(
            f"{name:24s} {status} rows={len(spdf):8d}/{len(ddf):8d} cols={cols_ok} hash={h_ok} "
            f"spark={t1-t0:5.1f}s duck={time.time()-t1:5.1f}s"
        )
        if status == "FAIL":
            failures.append(name)
            if cols_ok and rows_ok:
                a = spdf.reindex(sorted(spdf.columns), axis=1).sort_values(by=sorted(spdf.columns)).reset_index(drop=True)
                b = ddf.reindex(sorted(ddf.columns), axis=1).sort_values(by=sorted(ddf.columns)).reset_index(drop=True)
                for c in a.columns:
                    try:
                        if a[c].dtype.kind == "f":
                            bad = (a[c].round(6) != b[c].round(6))
                        else:
                            bad = a[c].astype(str) != b[c].astype(str)
                        if bad.any():
                            print(f"   col {c}: {int(bad.sum())} mismatches; first:")
                            print("   spark:", a[bad].head(2).to_dict("records"))
                            print("   duck :", b[bad].head(2).to_dict("records"))
                    except Exception as ex:  # noqa: BLE001
                        print(f"   col {c}: compare error {ex}")
            else:
                print("   spark cols:", list(spdf.columns))
                print("   duck  cols:", list(ddf.columns))
        else:
            n_ok += 1
    spark.stop()
    tally = f"{n_ok} OK, {len(failures)} FAIL, {len(skipped)} skipped {skipped}"
    if failures:
        print("FAILURES:", failures, f"({tally})")
        sys.exit(1)
    print(f"ALL OK ({tally})")


if __name__ == "__main__":
    main()
