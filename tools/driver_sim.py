"""Full-window driver simulation — de-risks CORRECTNESS_r{N} before
round close by running exactly what the driver runs: a VANILLA
SparkSession (no repo confs — catches session-dependency bugs), the
FIRST 50 registry queries at sf0.01, each compared to its DuckDB
oracle with the name-sorted column canonicalization the driver uses
(tests/helpers.canonical_rows). Prior rounds did this ad hoc in a
heredoc each time; this pins the recipe (verify SKILL + memory note).

Run:  python tools/driver_sim.py            (all 50 window seats)
      python tools/driver_sim.py name1,...  (subset)

Exit 0 = every seat green. Run it from a FRESH process — a session
with repo confs already applied in the same JVM would mask vanilla-
session bugs (Spark reuses the first session per process).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from mapreduce_go_spark import registry, tables
    from tests.helpers import compare
    from tools import rotation

    sf_dir = tables.oracle_sf_dir()

    spark = (SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("driver-sim").getOrCreate())
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")

    queries = registry.all_queries()
    oracles = registry.all_oracles()
    # rotation.WINDOW: the authoritative seat count the registry test
    # checks against
    names = list(queries)[:rotation.WINDOW]
    if len(sys.argv) > 1 and sys.argv[1]:
        names = [n for n in sys.argv[1].split(",") if n]

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            if name not in oracles:
                n = sdf.count()
                if not n:
                    raise AssertionError("0 rows on rows-only query")
                status = f"rows-only ({n} rows)"
            else:
                # the suite's own comparator (schema + count + name-
                # sorted canonical values) so this tool can never
                # diverge from tests/test_queries.py's verdicts; its
                # collect is the single execution — a separate
                # .count() would run every plan twice (ADVICE r10)
                n = compare(sdf, con.execute(oracles[name]), name)
                status = f"match ({n} rows)"
        except Exception as ex:
            status = f"FAIL: {type(ex).__name__}: {ex}"
            failures.append(name)
            traceback.print_exc()
        print(f"{name:40s} {status}  [{time.time() - t0:.1f}s]",
              flush=True)
    print(f"\n{len(names) - len(failures)}/{len(names)} green"
          + (f"; FAILURES: {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
