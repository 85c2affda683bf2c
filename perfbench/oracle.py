"""Evaluate DuckDB oracles in a process of their own:

    python3 perfbench/oracle.py JOB OUT

JOB is a pickle of ``{"sqls": {key: sql}, "sf_dir": path}``; OUT
receives a pickle of ``{key: DataFrame, or the DuckDB error as text}``.
``run.py`` starts this with ``subprocess`` and waits for it, so
DuckDB's memory never counts in the driver's peak RSS and no helper
process outlives the run."""

from __future__ import annotations

import os
import pickle
import sys


def evaluate(sqls: dict[str, str], sf_dir: str) -> dict[str, object]:
    """key -> DuckDB's result for its oracle SQL, or the error as text."""
    import duckdb

    from flink_streaming_example_spark.testing import register_duckdb_views

    with duckdb.connect() as con:
        try:
            register_duckdb_views(con, sf_dir)
        except duckdb.Error as e:
            return {k: f"{type(e).__name__}: {e}" for k in sqls}
        out: dict[str, object] = {}
        for k, sql in sqls.items():
            try:
                out[k] = con.execute(sql).df()
            except duckdb.Error as e:
                out[k] = f"{type(e).__name__}: {e}"
        return out


def main(job_path: str, out_path: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(job_path, "rb") as fh:
        job = pickle.load(fh)
    result = evaluate(job["sqls"], job["sf_dir"])
    with open(out_path, "wb") as fh:
        pickle.dump(result, fh)


if __name__ == "__main__":
    main(*sys.argv[1:])
