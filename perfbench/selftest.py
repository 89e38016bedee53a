#!/usr/bin/env python3
"""Self-test of the benchmark's generator and checks, at a small size.

Run from the repository root:

    python3 perfbench/selftest.py --seed 1

1. The same seed gives byte-identical base tables and drops.
2. Every query the workloads call that has a DuckDB oracle in
   `registry.full_oracles()` returns the oracle's rows on a generated dir.
3. The generator's ground-truth sidecar agrees with the oracles (diff counts
   and bytes, histogram, per-class stats, transfer requests, batch count).

Exits 0 when every check passes, 1 otherwise, naming each failure.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys

ROOT = os.getcwd()
SMALL = dict(objects=3_000, docs=300, vectors=300)


def digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import gen
    import run as bench
    import workloads as wl
    from tests.oracle_utils import compare, duck_connect

    work = os.path.join(bench.RUN_DIR, f"selftest-{os.getpid()}")
    failures: list[str] = []
    try:
        os.makedirs(work)
        bench.configure(work, trace=False)
        sizes = gen.BaseSizes(**SMALL)
        truth = gen.write_base(f"{work}/a", args.seed, sizes)
        gen.write_base(f"{work}/b", args.seed, sizes)
        for sub in ("a", "b"):
            gen.write_task_drops(f"{work}/{sub}/tasks", args.seed, 4, 50)
            gen.write_doc_drops(f"{work}/{sub}/docs", args.seed, 4, 50)
        if digest(f"{work}/a") != digest(f"{work}/b"):
            failures.append("generator: the same seed gave different bytes")
        base = f"{work}/a"

        from s3bigdatasync_spark import registry

        oracles = registry.full_oracles()
        exp = truth["sync_plan"]
        checks = sidecar_checks(exp)
        con = duck_connect(base)
        for name, want in checks.items():
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            got = want[0]([dict(zip(cols, r)) for r in cur.fetchall()])
            if got != want[1]:
                failures.append(f"sidecar vs oracle {name}: {got} != {want[1]}")
        con.close()

        from s3bigdatasync_spark import views
        from s3bigdatasync_spark.session import get_spark

        spark = get_spark(app_name="perfbench-selftest")
        try:
            views.register_all(spark, base)
            queries = registry.full_queries()
            for _span, name in wl.SYNC_QUERIES + wl.CORPUS_QUERIES:
                r = compare(queries[name](spark, base), oracles[name], base)
                detail = {k: v for k, v in r.items() if k != "ok"}
                print(f"{name}: {'ok' if r['ok'] else f'MISMATCH {detail}'}")
                if not r["ok"]:
                    failures.append(f"{name} vs oracle: {detail}")
        finally:
            bench.stop_engine(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAILED {f}")
    print("selftest " + ("passed" if not failures else f"failed ({len(failures)})"))
    return 1 if failures else 0


def sidecar_checks(exp: dict) -> dict:
    """Oracle query -> (reduce oracle rows to the sidecar's shape, sidecar value)."""
    diff = exp["diff"]
    return {
        "diff_summary": (lambda rows: {r["variance"]: (r["n_objects"], r["bytes_to_move"]) for r in rows},
                         {k: (v["n"], v["bytes"]) for k, v in diff.items()}),
        "transfer_cost_estimate": (lambda rows: {r["variance"]: r["n_requests"] for r in rows},
                                   {k: v["requests"] for k, v in diff.items()}),
        "size_histogram": (lambda rows: {k: int(v) for k, v in rows[0].items()}, exp["histogram"]),
        "inventory_stats": (lambda rows: {r["storage_class"]: {"object_count": r["object_count"],
                                                               "total_size": int(r["total_size"]),
                                                               "multipart_count": int(r["multipart_count"])}
                                          for r in rows}, exp["stats"]),
        "task_batches": (lambda rows: len(rows), exp["task_files"]),
    }


if __name__ == "__main__":
    sys.exit(main())
