"""One-off differential check for specific registry keys.

Usage: python tools/check_keys.py key1 key2 ... [--sf /root/testdata/sf0.01]
Runs the same protocol as tests/test_differential.py without the whole
suite — the fast inner loop while building a new operator.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]

    import os

    os.environ["JSMR_TEST_SF_DIR"] = sf

    import duckdb

    from jsmr_spark.session import get_spark
    from tests import conftest as C

    # conftest reads the env var at import time; override defensively.
    C.SF_DIR = sf

    spark = get_spark("check_keys")
    duck = duckdb.connect()
    for name in C.TABLES:
        duck.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')"
        )

    from jsmr_spark.registry import get_query

    failed = []
    for key in args:
        spec = get_query(key)
        try:
            if spec.oracle is None:
                cols, rows = C.run_spark(spark, key, sf)
                print(f"{key}: rows-only, {len(rows)} rows, cols={cols}")
            else:
                C.assert_query_matches(spark, duck, key)
                n = len(C.run_spark(spark, key, sf)[1])
                print(f"{key}: MATCH ({n} rows)")
        except Exception as e:  # noqa: BLE001
            failed.append(key)
            print(f"{key}: FAIL — {str(e)[:500]}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
