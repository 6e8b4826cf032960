"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at a given sf dir and its
``oracle_sql()`` twin on DuckDB over the same parquet files, then
compares row count, sorted column names, order-insensitive values
(floats to 1e-9 relative), AND per-column Arrow type classes.

The type-class check exists because the driver's value hash is
type-sensitive: round 2's ``pivot_lang_counts`` passed here (cells
stringified, ``1 == 1``) yet hash-failed in the driver because DuckDB
``SUM(CASE ...)`` returns HUGEINT while Spark pivot-count is BIGINT.
Both result sets are exported to Arrow and each column's type is
mapped to a class (int / float / decimal / bool / string / date /
timestamp / ...); a class mismatch is a FAIL even when the stringified
values agree, so that divergence class can no longer pass locally and
fail in the driver.

Usage:  python tools/verify_local.py [--plain] [sf_dir] [query_name ...]

``--plain`` runs on a bare SparkSession (master/shuffle/ui only — none
of ``session.py``'s confs), replicating the DRIVER's environment: round
6's one red row (`python_datasource_scan`) passed every local check and
failed in the driver purely because a query silently depended on a
session.py conf. A query that is green under ``--plain`` cannot fail
in the driver for that class of reason.

Under ``--plain`` the master and shuffle partitions follow
``session.cpus()``, so results compare across hosts.
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def type_class(t) -> str:
    """Collapse an Arrow type to the class the driver's hash keys on."""
    import pyarrow as pa
    import pyarrow.types as pt

    if pt.is_boolean(t):
        return "bool"
    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_decimal(t):
        return "decimal"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "bytes"
    if pt.is_date(t):
        return "date"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return f"list<{type_class(t.value_type)}>"
    if isinstance(t, pa.StructType):
        inner = ",".join(
            f"{f.name}:{type_class(f.type)}" for f in t
        )
        return f"struct<{inner}>"
    return str(t)


def type_classes(name_to_type: dict) -> dict:
    return {k: type_class(v) for k, v in name_to_type.items()}


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def compare(name, sdf, con, sql, out):
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    # LIMIT-0 exports: Arrow schema without re-materializing the data
    stypes = type_classes(
        {f.name: f.type for f in sdf.limit(0).toArrow().schema}
    )
    res = con.sql(sql)
    dcols = res.columns
    drows = res.fetchall()
    dtypes = type_classes(
        {
            f.name: f.type
            for f in con.sql(f"SELECT * FROM ({sql}) _t LIMIT 0").arrow().schema
        }
    )
    ok = True
    msgs = []
    if len(srows) != len(drows):
        ok = False
        msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
    sc, sr = norm_rows(scols, srows)
    dc, dr = norm_rows(dcols, drows)
    if sc != dc:
        ok = False
        msgs.append(f"schema spark={sc} duckdb={dc}")
    elif stypes != dtypes:
        ok = False
        diff = {
            k: (stypes.get(k), dtypes.get(k))
            for k in set(stypes) | set(dtypes)
            if stypes.get(k) != dtypes.get(k)
        }
        msgs.append(f"type classes differ (spark, duckdb): {diff}")
    elif sr != dr:
        ok = False
        diff = [
            (a, b) for a, b in zip(sr, dr) if a != b
        ][:3]
        extra_s = [r for r in sr if r not in set(dr)][:3]
        extra_d = [r for r in dr if r not in set(sr)][:3]
        msgs.append(f"values differ; first zips={diff} only_spark={extra_s} only_duck={extra_d}")
    out.append((name, ok, msgs))
    return ok


def main():
    args = sys.argv[1:]
    plain = "--plain" in args
    if plain:
        args = [a for a in args if a != "--plain"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e

    if plain:
        from pyspark.sql import SparkSession

        from gaming_ai_analytics_spark.session import cpus

        spark = (
            SparkSession.builder.master(f"local[{cpus()}]")
            .appName("verify_local_plain")
            .config("spark.sql.shuffle.partitions", str(cpus()))
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from gaming_ai_analytics_spark.session import get_spark

        spark = get_spark("verify_local")
    con = duck_connect(sf_dir)
    qs = e.queries()
    oracles = e.oracle_sql()

    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                compare(name, sdf, con, oracles[name], results)
            else:
                nrows = sdf.count()
                results.append((name, True, [f"rows-only check: {nrows} rows"]))
        except Exception as ex:  # noqa: BLE001
            results.append((name, False, [f"EXCEPTION {type(ex).__name__}: {ex}"]))
        dt = time.time() - t0
        st = "PASS" if results[-1][1] else "FAIL"
        print(f"[{st}] {name} ({dt:.1f}s) {'; '.join(results[-1][2])}", flush=True)

    nfail = sum(1 for _, ok, _ in results if not ok)
    print(f"\n{len(results) - nfail}/{len(results)} queries pass")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
