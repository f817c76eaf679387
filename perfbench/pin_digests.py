"""Re-pin the heavy_ops result digests in digests.json.

    python3 perfbench/pin_digests.py

Each digest comes from the key's DuckDB oracle (`registry.ORACLES`)
over the generated sf0.01 tables, which every heavy key's oracle
finishes on in seconds; the Spark result of the current checkout is
computed too and must match, or nothing is written. Run it only when
datagen.py's output changes (bump GENERATOR_VERSION there).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import datagen  # noqa: E402


def main() -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    small = datagen.ensure(os.path.join(HERE, ".data"), 0.01)
    import checks
    import lifecycle
    import workloads
    from basis_spark.registry import ORACLES, QUERIES

    spark, _ = lifecycle.set_up()
    con = checks.connect(small, len(os.sched_getaffinity(0)))
    pins, bad = {}, []
    try:
        for key in workloads.HEAVY_KEYS:
            t0 = time.perf_counter()
            want, rows = checks.duckdb_digest(con, ORACLES[key])
            oracle_s = time.perf_counter() - t0
            got, _ = checks.spark_digest(QUERIES[key](spark, small))
            if got != want:
                bad.append(key)
            pins[key] = {"digest": want, "rows": rows, "oracle_s": round(oracle_s, 2)}
            print(f"{key}: {rows} rows, oracle {oracle_s:.1f} s, spark {'matches' if got == want else 'DIFFERS'}")
    finally:
        con.close()
        lifecycle.stop_spark(spark)
    if bad:
        print(f"not written: Spark differs from the oracle on {bad}", file=sys.stderr)
        return 1
    doc = {
        "source": "DuckDB oracle (registry.ORACLES) over the generated sf0.01 tables, "
        f"datagen GENERATOR_VERSION {datagen.GENERATOR_VERSION}; Spark output cross-checked equal",
        "digests": pins,
    }
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
