#!/usr/bin/env python3
"""Self-tests of the benchmark's own measuring and checking.

    python3 perfbench/selftest.py

1. Loud failures: a deliberately throwing operation lands in the failures,
   by name, and not in pass_s.
2. Honest execution: a projection that count() prunes is still evaluated
   by the timed action (the noop sink), once per row.
3. Output checks: a corrupted registry result fails the oracle comparison
   of tools/check.py, and corrupted ETL landing counts fail the ETL
   invariants, while the uncorrupted ones pass.

Exits 0 when every self-test passes.
"""
import copy
import shutil
import sys
import time

import run

REAL_QUERY = "tpch_q1"


def check(name, cond, detail=""):
    print(f"{'PASS' if cond else 'FAIL'} {name}{': ' + detail if detail else ''}")
    return cond


def corrupt(src, dst):
    """Copy a parquet result dir, changing one value of its first numeric
    column."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    shutil.copytree(src, dst)
    f = next(dst.glob("*.parquet"))
    t = pq.read_table(f)
    for i, field in enumerate(t.schema):
        if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
            col = t.column(i).combine_chunks()
            bumped = pc.add(col.slice(0, 1), pa.scalar(1, col.type))
            new = pa.concat_arrays([bumped, col.slice(1)])
            pq.write_table(t.set_column(i, field, new), f)
            return field.name
    raise AssertionError("result has no numeric column to corrupt")


def main():
    classpath = run.build()
    data = run.data_dir()
    run_dir = run.WORK / "runs" / f"selftest-{int(time.time())}"
    verify = run_dir / "verify"
    verify.mkdir(parents=True)
    ok = True
    try:
        _, _, res = run.harness(classpath, "selftest", run_dir, {
            "data": data, "members": REAL_QUERY, "verify": verify},
            time.time() + run.RUN_DEADLINE_S)

        # 1. a thrown operation is a named failure and is never timed
        failures, medians, pass_s = run.tally(res["ops"], res["ops"], etl=False)
        real = [o for o in res["ops"] if o["name"] == REAL_QUERY][0]
        ok &= check("throwing operation is listed as a failure",
                    "selftest_throwing#pass1" in failures, str(failures))
        ok &= check("throwing operation is not in the timings",
                    "selftest_throwing" not in medians and pass_s == run.op_net_s(real),
                    f"pass_s={pass_s} real={run.op_net_s(real)}")

        # 2. the timed action evaluates what count() prunes
        n = int(res["rows"])
        ok &= check("count() prunes the costly projection",
                    int(res["count_evaluated"]) == 0, res["count_evaluated"])
        ok &= check("timed action evaluates the costly projection for every row",
                    int(res["execute_evaluated"]) == n,
                    f"{res['execute_evaluated']} of {n}")

        # 3a. the oracle comparison passes the real result, fails a corrupted one
        ok &= check("oracle check passes the real result",
                    run.oracle_check(data, verify, [REAL_QUERY]) == {})
        bad_dir = run_dir / "corrupt"
        bad_dir.mkdir()
        shutil.copy(verify / "oracle_sql.json", bad_dir)
        col = corrupt(verify / REAL_QUERY, bad_dir / REAL_QUERY)
        bad = run.oracle_check(data, bad_dir, [REAL_QUERY])
        ok &= check(f"oracle check fails a result with {col} corrupted",
                    REAL_QUERY in bad, str(bad))

        # 3b. the ETL invariants pass consistent counts, fail corrupted ones
        month = run.etl_window(0)[0]
        exp = run.etl_expected(data, [month])
        good = {"slice_counts": [{"month": month}], "unmatched_keys": 0,
                "landed": {**exp[month], "dim_date": run.DATE_DIM_DAYS,
                           "dim_time": run.TIME_DIM_ROWS,
                           **{d: 10 for d in run.DIMS}},
                "distinct_keys": {"dim_date": run.DATE_DIM_DAYS,
                                  "dim_time": run.TIME_DIM_ROWS,
                                  **{d: 10 for d in run.DIMS}}}
        ok &= check("ETL invariants pass consistent counts",
                    run.etl_checks(good, exp) == {})
        for what, edit in (
                ("a lost fact row", lambda r: r["landed"].__setitem__(
                    "fact_lineitem", r["landed"]["fact_lineitem"] - 1)),
                ("an unmatched key", lambda r: r.__setitem__("unmatched_keys", 1)),
                ("a duplicated dim key", lambda r: r["distinct_keys"].__setitem__(
                    "dim_part", 9)),
                ("a short date dim", lambda r: r["landed"].__setitem__(
                    "dim_date", run.DATE_DIM_DAYS - 1))):
            r = copy.deepcopy(good)
            edit(r)
            bad = run.etl_checks(r, exp)
            ok &= check(f"ETL invariants fail {what}", bool(bad), str(bad))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("all self-tests passed" if ok else "SELF-TEST FAILURES")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
