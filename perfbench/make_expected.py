"""Regenerate ``expected.json``: the fingerprint of every benchmarked
query on the benchmark's query tables, each cross-checked against the
query's DuckDB oracle (``registry.ORACLES``) before it is stored.

    python3 perfbench/make_expected.py

Run from the repository root. Exits non-zero, writing nothing, if any
query's Spark output differs from its oracle's.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    import duckdb

    import checks
    import datagen
    from run import SF, TABLES_SEED
    from workloads import QUERY_MIX

    from etl_pipeline_orchestration_spark.plans import registry
    from etl_pipeline_orchestration_spark.session import get_spark

    registry.load_all()
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_expected-") as tmp:
        datagen.write_tables(tmp, SF, TABLES_SEED)
        spark = get_spark("perfbench-expected", extra_conf={"spark.ui.showConsoleProgress": "false"})
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')")
        found, bad = {}, []
        for q in QUERY_MIX:
            df = registry.QUERIES[q](spark, tmp)
            got = checks.fingerprint([tuple(r) for r in df.collect()], df.columns)
            res = con.execute(registry.ORACLES[q])
            want = checks.fingerprint(res.fetchall(), [d[0] for d in res.description])
            print(("ok  " if got == want else "DIFF"), q, got["rows"], want["rows"])
            if got != want:
                bad.append(q)
            found[q] = got
        spark.stop()
    if bad:
        print(f"spark and oracle disagree on {bad}; expected.json left unchanged")
        return 1
    try:
        with open(checks.EXPECTED_PATH) as f:
            doc = json.load(f)
    except FileNotFoundError:
        doc = {}
    doc[f"sf{SF:g}"] = found
    with open(checks.EXPECTED_PATH, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
