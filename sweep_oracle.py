#!/usr/bin/env python
"""Registry-wide DuckDB-oracle sweep at an arbitrary scale factor.

The driver's correctness gate runs at sf0.01.  This script carries
the "right answer, not just runs" check to any decade: it runs every
registry query on Spark AND its oracle SQL on DuckDB over the same
parquet directory (e.g. one generated by tools/gen_testdata.py) and
records a per-query status artifact.

Per query:
- ``pass``            spark vs oracle: rows + schema + exact values
- ``mismatch``        comparison ran, values differ (failure)
- ``rows_only``       no oracle SQL registered (streaming/iterative)
                      — spark ran, row count + schema recorded
- ``oracle_skipped``  oracle exceeded SWEEP_ORACLE_TIMEOUT_S (DuckDB
                      interrupted) or errored at this scale — spark
                      row count + schema recorded, note says why
- ``spark_error``     the engine itself failed (failure)

``spark_sec`` is the wall time of the one Spark collection that is
compared.  The script writes the artifact, then exits 1 when any row
is a failure.

Usage: python sweep_oracle.py SF_DIR OUT_JSON
Env:   SWEEP_ORACLE_TIMEOUT_S (default 600)
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit("usage: python sweep_oracle.py SF_DIR OUT_JSON")
    sf_dir, out_path = sys.argv[1:]
    timeout_s = float(os.environ.get("SWEEP_ORACLE_TIMEOUT_S", "600"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    import duckdb

    from data_engineering_user_session_analysis_spark import get_spark
    from data_engineering_user_session_analysis_spark.queries import ORACLE, QUERIES
    from tests.oracle_harness import compare_pandas, duckdb_conn

    spark = get_spark("sweep")
    con = duckdb_conn(sf_dir)

    def run_oracle(sql: str):
        """fetchdf with an interrupt watchdog: DuckDB has no statement
        timeout, so a quadratic oracle at this decade is bounded by
        con.interrupt() from a timer thread.  The timer can fire
        AFTER fetchdf returns but before cancel() lands: when that
        race hits, the stale interrupt sits on the shared connection
        and would abort the NEXT query — so if the timer ran, drain
        the connection with a throwaway statement before returning."""
        fired = threading.Event()

        def _interrupt() -> None:
            fired.set()
            con.interrupt()

        timer = threading.Timer(timeout_s, _interrupt)
        timer.start()
        try:
            return con.execute(sql).fetchdf()
        finally:
            timer.cancel()
            timer.join()  # after this, fired is final
            if fired.is_set():
                try:
                    con.execute("SELECT 1").fetchall()  # absorb stale interrupt
                except Exception:
                    pass

    results: dict[str, dict] = {}
    for name in sorted(QUERIES):
        entry: dict = {"status": None, "spark_sec": None, "oracle_sec": None}
        results[name] = entry
        t0 = time.perf_counter()
        try:
            spdf = QUERIES[name](spark, sf_dir).toPandas()
            entry["spark_sec"] = round(time.perf_counter() - t0, 3)
            entry["spark_rows"] = len(spdf)
            entry["columns"] = sorted(spdf.columns)
        except Exception as exc:
            entry["status"] = "spark_error"
            entry["error"] = repr(exc)[:500]
            print(json.dumps({name: entry}), flush=True)
            continue
        if name not in ORACLE:
            entry["status"] = "rows_only"
            entry["note"] = "no oracle SQL registered (driver records the same weaker check)"
        else:
            t1 = time.perf_counter()
            try:
                oracle_pdf = run_oracle(ORACLE[name])
                entry["oracle_sec"] = round(time.perf_counter() - t1, 3)
                entry["oracle_rows"] = len(oracle_pdf)
                # compare the already-collected frame: the timed
                # collection is the compared one, and Spark runs once
                problems = compare_pandas(name, spdf, oracle_pdf)
                entry["status"] = "pass" if not problems else "mismatch"
                if problems:
                    entry["problems"] = problems[:5]
            except (duckdb.InterruptException, RuntimeError) as exc:
                entry["status"] = "oracle_skipped"
                entry["note"] = (
                    f"oracle interrupted/errored at sf{sf} after "
                    f"{round(time.perf_counter() - t1, 1)}s "
                    f"(timeout {timeout_s}s): {repr(exc)[:200]}; "
                    "spark rows+schema recorded"
                )
            except Exception as exc:
                entry["status"] = "oracle_skipped"
                entry["note"] = f"oracle error at sf{sf}: {repr(exc)[:300]}; spark rows+schema recorded"
        print(json.dumps({name: {k: entry[k] for k in ('status', 'spark_sec', 'oracle_sec')}}), flush=True)
        spark.catalog.clearCache()

    statuses = [e["status"] for e in results.values()]
    data_provenance = (
        "tools/gen_testdata.py seed=42 (driver ships sf<=0.1; schema "
        "byte-identical, distributions measured from sf0.1)"
        if ".testdata" in sf_dir
        else "driver-shipped tables"
    )
    payload = {
        "sf": sf,
        "sf_dir": sf_dir,
        "data_provenance": data_provenance,
        "n_queries": len(results),
        "n_pass": statuses.count("pass"),
        "n_mismatch": statuses.count("mismatch"),
        "n_rows_only": statuses.count("rows_only"),
        "n_oracle_skipped": statuses.count("oracle_skipped"),
        "n_spark_error": statuses.count("spark_error"),
        "oracle_timeout_s": timeout_s,
        "total_spark_sec": round(
            sum(e["spark_sec"] or 0.0 for e in results.values()), 2
        ),
        "total_oracle_sec": round(
            sum(e["oracle_sec"] or 0.0 for e in results.values()), 2
        ),
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    compact = {k: v for k, v in payload.items() if k != "queries"}
    compact["failures"] = sorted(
        n for n, e in results.items() if e["status"] in ("mismatch", "spark_error")
    )
    print(json.dumps(compact))
    if compact["failures"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
