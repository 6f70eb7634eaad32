"""Correctness checks for the benchmark, run in DuckDB outside the timed
window. Each returns a list of mismatch descriptions (empty when the
engine's output is right)."""
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import canon  # noqa: E402  (the repo's oracle compare rules)


def _files(paths):
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def compare(name, eng_cols, eng_rows, ora_cols, ora_rows):
    """Row count, sorted column names and every cell in row order, with
    the repo's oracle canonical form (floats compared bit for bit)."""
    if sorted(eng_cols) != sorted(ora_cols):
        return [f"{name}: columns {sorted(eng_cols)} != {sorted(ora_cols)}"]
    if len(eng_rows) != len(ora_rows):
        return [f"{name}: {len(eng_rows)} rows != {len(ora_rows)}"]
    ep = [eng_cols.index(c) for c in sorted(eng_cols)]
    op = [ora_cols.index(c) for c in sorted(ora_cols)]
    for i, (er, orow) in enumerate(zip(eng_rows, ora_rows)):
        if [canon(er[j]) for j in ep] != [canon(orow[j]) for j in op]:
            return [f"{name}: row {i} differs: {er} != {orow}"]
    return []


def _engine(con, result_dir):
    rel = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    return rel.columns, rel.fetchall()


def check_sql(con, name, result_dir, sql):
    try:
        ora = con.sql(sql)
        ora_cols, ora_rows = ora.columns, ora.fetchall()
        eng_cols, eng_rows = _engine(con, result_dir)
    except Exception as e:  # a failing oracle or unreadable result is a mismatch
        return [f"{name}: {e}"]
    return compare(name, eng_cols, eng_rows, ora_cols, ora_rows)


def check_stream_ingest(check):
    """The sink, after the sentinel flushed every window, equals a batch
    aggregation of the same admitted files."""
    con = duckdb.connect()
    key = "window_start_us, event_type"
    expected = con.sql(
        f"""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
                   event_type, COUNT(*) AS n, SUM(value_cents)::BIGINT AS sum_cents,
                   MAX(user_id) AS max_user
            FROM read_parquet({_files(check['inputs'])})
            GROUP BY ALL ORDER BY {key}""")
    sink = con.sql(f"SELECT * FROM read_parquet('{check['sink']}/*.parquet') ORDER BY {key}")
    return compare("stream_ingest sink", sink.columns, sink.fetchall(),
                   expected.columns, expected.fetchall())


def check_batch_mix(check):
    """Each query's result equals its registry oracle SQL over the same
    fixed sf0.01 tables, and the incremental index's final manifest equals
    the batch dedup-manifest oracle SQL over the documents it ingested."""
    con = duckdb.connect()
    tables = Path(check["tables"])
    for p in sorted(tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in sorted(check["oracle_sql"].items()):
        bad += check_sql(con, name, Path(check["results"]) / name, sql)
    docs = duckdb.connect()
    docs.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({_files(check['docs'])})")
    return bad + check_sql(docs, "incremental dedup manifest", check["manifest"], check["manifest_sql"])


CHECKS = {
    "stream_ingest": check_stream_ingest,
    "batch_mix": check_batch_mix,
}
