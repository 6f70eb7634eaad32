#!/usr/bin/env python3
"""Self-test of the benchmark's own machinery (no engine needed).

    python3 perfbench/selftest.py

1. Generators: one seed gives byte-identical inputs, two seeds differ.
2. Checks: a correct engine output passes, and a corrupted expected result
   is reported as a mismatch that fails the run (correct=false, the
   mismatch counted as a failed operation, exit code 1).
Exits 0 when every assertion holds.
"""
import shutil
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

WORK = HERE / ".work" / "selftest"


def test_generators():
    for w in sorted(gen.GENERATORS):
        a = gen.ensure(w, 7, WORK / "a")
        b = gen.ensure(w, 7, WORK / "b")
        c = gen.ensure(w, 8, WORK / "c")
        ma, mb, mc = ((d / "MANIFEST").read_text() for d in (a, b, c))
        assert ma == mb, f"{w}: seed 7 generated twice differs"
        assert ma != mc, f"{w}: seeds 7 and 8 generated the same inputs"
        print(f"ok   {w}: one seed byte-identical ({len(ma.splitlines())} files), two seeds differ")


def test_stream_check():
    d = WORK / "stream"
    d.mkdir(parents=True)
    rows = gen.events_table(gen.np.random.default_rng(1), 0, 500, gen.T0_US, gen.SLICE_US)
    inp = d / "in.parquet"
    gen.write(rows, inp)
    (d / "sink").mkdir()
    sink = duckdb.sql(
        f"""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us, event_type,
                   COUNT(*) AS n, SUM(value_cents)::BIGINT AS sum_cents, MAX(user_id) AS max_user
            FROM read_parquet('{inp}') GROUP BY ALL""").arrow()
    pq.write_table(sink, str(d / "sink" / "part-0.parquet"))
    check = {"sink": str(d / "sink"), "inputs": [str(inp)]}
    assert oracle.check_stream_ingest(check) == [], "a correct sink must pass"
    # corrupt the expected result: the same file admitted twice
    bad = oracle.check_stream_ingest(dict(check, inputs=[str(inp), str(inp)]))
    assert bad, "a corrupted expected result must be reported"
    print(f"ok   stream_ingest check: corrupted expected result reported: {bad[0][:70]}")
    return bad


def test_sql_check():
    d = WORK / "sql"
    (d / "res").mkdir(parents=True)
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]}), str(d / "res" / "part-0.parquet"))
    con = duckdb.connect()
    good = "SELECT * FROM (VALUES (1, 0.5::DOUBLE), (2, 1.25), (3, 2.0)) t(k, v) ORDER BY k"
    assert oracle.check_sql(con, "q", d / "res", good) == [], "a matching oracle must pass"
    corrupt = "SELECT * FROM (VALUES (1, 0.5::DOUBLE), (2, 1.2500000000000002), (3, 2.0)) t(k, v) ORDER BY k"
    bad = oracle.check_sql(con, "q", d / "res", corrupt)
    assert bad, "a one-ulp difference must be reported"
    print(f"ok   oracle compare: corrupted expected result reported: {bad[0][:70]}")
    return bad


def test_verdict(mismatches):
    correct, attempted, failed = run.verdict({"attempted": 10, "failed": 0}, mismatches)
    assert not correct and failed == len(mismatches) and attempted == 10
    correct, _, failed = run.verdict({"attempted": 10, "failed": 0}, [])
    assert correct and failed == 0
    print("ok   a mismatch makes the run incorrect and counts as a failed operation")


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        test_generators()
        m = test_stream_check() + test_sql_check()
        test_verdict(m)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
