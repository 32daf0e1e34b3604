"""Full-registry oracle sweep — the driver's correctness gate, locally.

Runs EVERY registered query (not just the 50-query driver window) against
its DuckDB twin at sf0.01 and compares with tests/parity.assert_frames_match
(strict value equality — a superset of the driver's order-insensitive
value-hash). When q_dedup_semantic_scalek runs at a scale where its k is
SEM_K, its rows are also compared with the fixed-k SemDeDup SQL oracle
(similarity._semantic_oracle) in the same pass. Exit code 0 means every
oracle-carrying query is exactly equal, every rows-only query executed, and
every cross-query invariant held; non-zero prints the failures.

Usage:
    python scripts/sweep_oracles.py              # full registry at sf0.01
    python scripts/sweep_oracles.py q_grid_agg   # one or more named queries
    SWEEP_SF_DIR=/root/testdata/sf0.001 python scripts/sweep_oracles.py
    SWEEP_PERTURB=1 python scripts/sweep_oracles.py
        # re-prove value parity under shuffle.partitions=7 + AQE off —
        # the determinism recipes (integer-cents sums, array_sort'ed
        # aggregations, fixed-point chains) must be partitioning- and
        # plan-choice-independent, because the DRIVER compares under its
        # own session config, not get_spark's (133/133 green r06)

Prior rounds ran this sweep ad hoc; it is a script so "local green implies
driver green" is a one-command check before each round ends.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

import duckdb  # noqa: E402

from osmpbf_spark.catalog import (  # noqa: E402
    TABLES,
    all_oracles,
    all_queries,
    table_row_count,
)
from osmpbf_spark.operators.similarity import (  # noqa: E402
    SEM_CELL_TARGET,
    SEM_K,
    _semantic_oracle,
)
from osmpbf_spark.session import get_spark  # noqa: E402
from parity import assert_frames_match  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    spark = get_spark("oracle_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SWEEP_PERTURB"):
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    con = duckdb.connect()
    # small cap + spill dir: degrade to disk under external memory
    # pressure instead of a false OutOfMemory red (tests/conftest.py
    # has the same guard and the incident note)
    con.execute("SET memory_limit='8GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill_sweep'")
    # 32 default threads each hold buffer headroom against the cap and
    # multiply transient page-provisioning demand on this microVM host
    # (one mid-sweep 256KB 'bad allocation' with >100GB guest-free,
    # r09); the oracles are sub-second at 8 threads
    con.execute("SET threads=8")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = all_queries(), all_oracles()
    unknown = only - set(qs)
    if unknown:
        # fail loudly: a typo'd name silently running nothing would make
        # the gate exit 0 having verified nothing
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        return 2
    names = [n for n in qs if not only or n in only]
    failures: list[str] = []
    scalek = None  # q_dedup_semantic_scalek's frame, for the anchor below
    t0 = time.time()
    for i, name in enumerate(names, 1):
        try:
            pdf = qs[name](spark, sf_dir).toPandas()
            if name == "q_dedup_semantic_scalek":
                scalek = pdf
            if name in oracles:
                duck_pdf = con.execute(oracles[name]).df()
                assert_frames_match(pdf, duck_pdf, name)
                status = f"green ({len(pdf)} rows)"
            else:
                status = f"rows-only ({len(pdf)} rows)"
        except Exception as exc:  # noqa: BLE001 — report and continue
            failures.append(name)
            status = f"FAIL: {exc}"
            traceback.print_exc()
        print(f"[{i}/{len(names)}] {name}: {status}", flush=True)

    # cross-query invariant asserted in the same pass: where
    # k = max(SEM_K, n // SEM_CELL_TARGET) is SEM_K, every seed routes to
    # itself, so scale-k SemDeDup must equal the fixed-k SQL oracle
    # exactly, cosines included
    if scalek is not None:
        if table_row_count(sf_dir, "embeddings") // SEM_CELL_TARGET > SEM_K:
            print("equiv[scalek==fixedk]: skipped (k > SEM_K)", flush=True)
        else:
            try:
                assert_frames_match(
                    scalek,
                    con.execute(_semantic_oracle()).df(),
                    "equiv[scalek==fixedk]",
                )
                print("equiv[scalek==fixedk]: green", flush=True)
            except Exception as exc:  # noqa: BLE001
                failures.append("equiv[scalek==fixedk]")
                print(f"equiv[scalek==fixedk]: FAIL: {exc}", flush=True)
                traceback.print_exc()

    # invariants are counted in their own denominator — folding them into
    # the query tally misreported '149/150 green' with zero red QUERIES
    # when only the cross-query equivalence failed
    q_fail = [f for f in failures if f in qs]
    inv_fail = [f for f in failures if f not in qs]
    print(
        f"\n{len(names) - len(q_fail)}/{len(names)} green"
        f" in {time.time() - t0:.0f}s"
        + (f"; FAILURES: {q_fail}" if q_fail else "")
        + (f"; INVARIANT FAILURES: {inv_fail}" if inv_fail else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
