"""Output check: each workload query's result against DuckDB over its oracle SQL.

The harness writes one parquet directory per query and the queries' oracle
SQL (`SparkEntry.oracleSql`). This module runs that SQL in DuckDB over the
same corpus and compares with the canonicalization of the repository's own
oracle gate, `tools/check_oracle.py`: columns sorted by name, rows sorted by
all columns, values compared exactly and then as dtype-sensitive strings.
"""
import importlib.util
from pathlib import Path


def load_gate(repo_root: Path):
    """Imports `tools/check_oracle.py` from the checkout under test."""
    path = repo_root / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(gate, con, got_dir: Path, sql: str):
    """None when the parquet output equals the oracle's result, else why not."""
    import pandas as pd
    got = gate.canon(pd.read_parquet(got_dir))
    want = gate.canon(con.execute(sql).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[-1][:200]
    sg, sw = gate.strict_repr(got), gate.strict_repr(want)
    if sg != sw:
        bad = next(i for i, (a, b) in enumerate(zip(sg, sw)) if a != b)
        return f"strict mismatch at row {bad}: {sg[bad][:80]} vs {sw[bad][:80]}"
    return None


def check_outputs(repo_root: Path, data_dir: Path, out_dir: Path, record: dict) -> dict:
    """Maps each checked query to None (correct) or the reason it is not.

    A query that threw in the harness fails with its error. A query without
    oracle SQL passes when it produced output, as in the repository's gate.
    """
    import duckdb
    gate = load_gate(repo_root)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in gate.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{(data_dir / (t + '.parquet')).as_posix()}')")
    oracle = record["oracle_sql"]
    verdicts = {}
    for c in record["check"]:
        name = c["name"]
        if c["error"]:
            verdicts[name] = c["error"]
        elif name not in oracle:
            verdicts[name] = None
        else:
            try:
                verdicts[name] = compare(gate, con, out_dir / "check" / name, oracle[name])
            except Exception as e:  # an oracle that cannot run is a failed check
                verdicts[name] = f"{type(e).__name__}: {e}"[:200]
    con.close()
    return verdicts
