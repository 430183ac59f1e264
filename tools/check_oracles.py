"""Local stand-in for the driver's correctness gate: run every registry
query through Spark AND its DuckDB oracle, compare row count, column set,
and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

The last line counts the Janino compilations of the run.  While the
session's generated-class cache holds every class the run needs, that
count is the working set that sizes ``session.CODEGEN_CACHE_ENTRIES``.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iiot_data_engineering_lab_assignment_spark import registry  # noqa: E402
from iiot_data_engineering_lab_assignment_spark.schemas import FIXTURE_TABLES  # noqa: E402
from iiot_data_engineering_lab_assignment_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}" if abs(v) < 1e15 else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def frame_signature(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(",".join(norm_cell(r[i]) for i in order) for r in rows)
    return lines


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    if os.environ.get("CHECK_VANILLA"):
        # simulate the external driver: NO engine session configs — the
        # engine must self-heal (readers._ensure_session_confs)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("oracle-check-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiled_before = compilations.getCount()
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, spec in registry.QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if spec.oracle is None:
            print(f"ok?  {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows from rows-only query")
            continue
        try:
            ores = con.sql(spec.oracle)
            ocols = [c.lower() for c in ores.columns]
            otypes = [str(t).upper() for t in ores.types]
            orows = ores.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        ok = True
        # Driver-faithful dtype gate: the driver's value-hasher normalizes
        # DuckDB HUGEINT (int128) / DECIMAL differently than this script's
        # str(), so such oracles hash-mismatch at the driver even when every
        # value is identical (seen r3: uncast windowed SUM -> HUGEINT).
        # Fail loudly here so the local gate predicts the driver.
        bad_types = [
            (c, t)
            for c, t in zip(ocols, otypes)
            if any(k in t for k in ("HUGEINT", "DECIMAL"))
        ]
        if bad_types:
            print(
                f"FAIL {name}: oracle emits driver-unsafe dtypes {bad_types}"
                " — add CAST(... AS BIGINT/DOUBLE) in the oracle SQL"
            )
            ok = False
        if sorted(c.lower() for c in scols) != sorted(ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(ocols)}")
            ok = False
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(orows)}")
            ok = False
        if ok:
            ssig = frame_signature([c.lower() for c in scols], [tuple(r) for r in srows])
            osig = frame_signature(ocols, orows)
            if ssig != osig:
                diff = [(a, b) for a, b in zip(ssig, osig) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diff}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    print(
        f"{compilations.getCount() - compiled_before} Janino compilations "
        f"(generated-class cache: {cache} entries)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
