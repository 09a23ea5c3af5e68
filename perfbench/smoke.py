"""The benchmark's own smoke check. Run it from the repository root:

    python3 perfbench/smoke.py

In one Spark session, for every workload at scale factor 0.001:

- one untimed warm-up unit plus one timed unit, untraced and traced;
  every op must pass its check, and every metric BENCHMARK.json names
  (end-to-end for the untraced run, per-layer for the traced one) must
  be reported; each is printed with its unit;
- one more unit against a deliberately wrong expected result, which
  must be counted as failed.

It also checks that the numpy reference used for ``ann_topk_cosine``
agrees with that query's DuckDB oracle at this size, and that the
generator's tables at scale factor 0.1 match the test data's profile
(``gen.PROFILE``). Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SF = 0.001


def _corrupt(wl) -> None:
    """Add a row no engine produces to every expected result."""

    def bad(want):
        cols, rows = want
        return cols, rows + [tuple("perfbench-wrong" for _ in cols)]

    if isinstance(wl.want, dict):
        wl.want = {k: bad(v) for k, v in wl.want.items()}
    elif isinstance(wl.want, list):
        wl.want = [bad(v) for v in wl.want]
    else:
        wl.want = bad(wl.want)


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    problems: list[str] = []
    work = os.path.join(HERE, ".work", f"smoke-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        run.isolate(work)
        _check_profile(os.path.join(work, "profile"), problems)
        t0 = time.perf_counter()
        spark = run.start_session(work)
        start_s = time.perf_counter() - t0
        try:
            for name in workloads.WORKLOADS:
                wl = workloads.make(name, SF)
                dirs = run.prepare_inputs(wl, 1, os.path.join(work, name))
                if name == "corpus_dedup":
                    _check_ann_reference(dirs[0], problems)
                for trace, want_units in ((False, e2e), (True, per_layer)):
                    values, records, _ = run.measure(
                        spark, wl, dirs, os.path.join(work, name, "scratch"), 0, trace, start_s
                    )
                    out = run.result(values, records, trace)
                    print(f"{name} trace={int(trace)}: attempted={out['attempted']} "
                          f"failed={out['failed']}")
                    for k, m in out["metrics"].items():
                        print(f"  {k} = {m['value']} {m['unit']}")
                    got_units = {k: m["unit"] for k, m in out["metrics"].items()}
                    if out["failed"]:
                        problems.append(f"{name} trace={int(trace)}: {out['failed']} ops failed")
                    if want_units.keys() - got_units.keys():
                        problems.append(f"{name}: metrics missing "
                                        f"{sorted(want_units.keys() - got_units.keys())}")
                    for k in want_units.keys() & got_units.keys():
                        if want_units[k] != got_units[k]:
                            problems.append(f"{name}: {k} unit {got_units[k]} "
                                            f"!= declared {want_units[k]}")
                _corrupt(wl)
                _, records, _ = run.measure(
                    spark, wl, dirs, os.path.join(work, name, "scratch"), 0, False, start_s
                )
                failed = sum(not r["ok"] for r in records)
                print(f"{name} with a wrong expected result: {failed}/{len(records)} failed")
                if failed != len(records):
                    problems.append(f"{name}: a wrong expected result was not counted as failed")
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"SMOKE FAIL: {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


def _check_profile(root: str, problems: list[str]) -> None:
    """Generated sf 0.1 tables against the test data's profile: within
    5% of each recorded statistic (0.01 absolute for the same-label
    cosine, whose recorded value is 0)."""
    gen.generate(root, 1, 0.1, workloads.K_STREAM_FILES)
    got = gen.profile(os.path.join(root, "tables"))
    for k, want in gen.PROFILE.items():
        ok = abs(got[k] - want) <= (0.01 if want == 0 else 0.05 * abs(want))
        print(f"profile {k}: generated {got[k]:.4f}, test data {want}"
              + ("" if ok else "  MISMATCH"))
        if not ok:
            problems.append(f"generated {k} = {got[k]:.4f}, test data {want}")


def _check_ann_reference(tables_dir: str, problems: list[str]) -> None:
    import duckdb

    from python_plugins_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS FROM read_parquet('{tables_dir}/embeddings.parquet')")
        oracle = workloads.normalize(con.sql(ORACLES["ann_topk_cosine"]).df())
    finally:
        con.close()
    if workloads.normalize(workloads.ann_topk_expected(tables_dir, 5)) != oracle:
        problems.append("numpy ann_topk reference disagrees with the DuckDB oracle")
    else:
        print("ann_topk_cosine: numpy reference == DuckDB oracle")


if __name__ == "__main__":
    sys.exit(main())
