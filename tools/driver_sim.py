"""Simulates the driver's correctness gate: runs entry() as a smoke
check, then each queries()[name] vs oracle_sql()[name] on DuckDB at the
given sf dir — row count + sorted-column value hash, order-insensitive.

Usage: python tools/driver_sim.py [sf_dir] [query ...]

Runs on local[N]: N is $DRIVER_SIM_CORES if set, else $SPARK_GRAFT_CPUS,
else the host's core count.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canonicalize(pdf: pd.DataFrame) -> pd.Series:
    """Replicates the real driver's _canon path: sort the RAW frame by
    all columns FIRST (pandas sort_values — this is exactly where
    unhashable cells like array columns blow up in the driver,
    CORRECTNESS_r02 wordpiece_features.err), then stringify rows.
    Rows-only queries go through this too, so a result the driver
    cannot canonicalize fails HERE, before it ships."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if not pdf.empty:
        pdf = pdf.sort_values(by=cols)
    return pdf.astype(str).apply(lambda r: "\x1f".join(r), axis=1)


def value_hash(pdf: pd.DataFrame) -> str:
    if pdf.empty:
        return hashlib.sha256(b"<empty>").hexdigest()
    h = hashlib.sha256()
    for r in canonicalize(pdf):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as mod
    from ner_funtool_spark.session import get_spark

    cores = int(os.environ.get("DRIVER_SIM_CORES")
                or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark("driver_sim", cores=cores, shuffle_partitions=cores)

    print("== smoke: entry(spark) ==")
    edf = mod.entry(spark)
    n = edf.count()
    print(f"entry rows={n} schema={[f.name for f in edf.schema.fields]}")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = mod.queries(), mod.oracle_sql()
    fails = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir).toPandas()
        if name not in os_:
            # the real driver still canonicalizes rows-only results
            # (sorts the raw frame) — run the same path and discard the
            # hash, so an uncanonicalizable result fails the gate here
            try:
                value_hash(sdf)
            except Exception as ex:
                print(f"{name}: rows={len(sdf)} rows-only CANONICALIZE "
                      f"FAILED: {type(ex).__name__}: {ex}")
                fails.append(name)
                report[name] = {"status": "err", "spark_rows": len(sdf),
                                "err": f"{type(ex).__name__}: {ex}"}
                continue
            print(f"{name}: rows={len(sdf)} (no oracle — rows-only check, "
                  "canonicalization ok)")
            report[name] = {"status": "no_oracle", "spark_rows": len(sdf),
                            "rows_match": None, "schema_match": None,
                            "hash_match": None, "err": None}
            continue
        odf = con.execute(os_[name]).df()
        ok_rows = len(sdf) == len(odf)
        ok_schema = sorted(sdf.columns) == sorted(odf.columns)
        try:
            ok_hash = ok_schema and value_hash(sdf) == value_hash(odf)
        except Exception as ex:
            print(f"{name}: CANONICALIZE FAILED: {type(ex).__name__}: {ex}")
            fails.append(name)
            report[name] = {"status": "err", "spark_rows": len(sdf),
                            "err": f"{type(ex).__name__}: {ex}"}
            continue
        status = "OK" if (ok_rows and ok_schema and ok_hash) else "MISMATCH"
        print(f"{name}: spark_rows={len(sdf)} oracle_rows={len(odf)} "
              f"schema={'ok' if ok_schema else sorted(sdf.columns) + ['|'] + sorted(odf.columns)} "
              f"hash={'ok' if ok_hash else 'DIFF'} -> {status}")
        report[name] = {"status": status.lower(), "rows_match": ok_rows,
                        "schema_match": ok_schema, "hash_match": ok_hash,
                        "spark_rows": len(sdf), "oracle_rows": len(odf),
                        "err": None}
        if status != "OK":
            fails.append(name)
            if ok_schema:
                cols = sorted(sdf.columns)
                a = sdf[cols].astype(str).apply(lambda r: "\x1f".join(r), axis=1)
                b = odf[cols].astype(str).apply(lambda r: "\x1f".join(r), axis=1)
                sa, sb = set(a), set(b)
                print("  spark-only:", list(sa - sb)[:3])
                print("  oracle-only:", list(sb - sa)[:3])
    spark.stop()
    json_path = os.environ.get("DRIVER_SIM_JSON")
    if json_path:
        # full-registry correctness artifact (r3 verdict item 3): the
        # committed JSON's key set equals queries() so a driver
        # snapshot can never under-cover the registry again
        import json as _json

        with open(json_path, "w") as f:
            _json.dump({"sf_dir": sf_dir, "n_queries": len(report),
                        "queries": report}, f, indent=1, sort_keys=True)
        print(f"wrote {json_path} ({len(report)} queries)")
    print("FAILED:" if fails else "ALL OK", fails if fails else "")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
