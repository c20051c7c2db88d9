"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

1. The same seed writes byte-identical inputs; another seed changes them.
2. A deliberately wrong expected value makes an op count as failed: once
   through the registry-result check (no Spark), once through a real
   ``dwca_validate`` op on a small archive.

Exits 0 when every check passes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench", "selftest")


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(base, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def test_inputs_follow_the_seed() -> None:
    for name, cls in workloads.WORKLOADS.items():
        digests = []
        for i, seed in enumerate((7, 7, 8)):
            d = os.path.join(WORK, f"{name}-{i}")
            shutil.rmtree(d, ignore_errors=True)
            cls().prepare(d, seed)
            digests.append(_digest(d))
        check(digests[0] == digests[1], f"{name}: same seed, byte-identical inputs")
        check(digests[0] != digests[2], f"{name}: another seed, other inputs")


def test_registry_check_rejects_a_wrong_row() -> None:
    w = workloads.CorpusCrawl()
    rows = [(1, None), (2, 2), (3, 2)]
    domains = [("a.example", 4)]
    w.expected = [workloads.Counter(workloads._rows_key(r) for r in rr) for rr in (rows, domains)]
    check(w.check([rows, domains]), "registry check accepts the oracles' rows")
    check(not w.check([rows[:2] + [(3, 1)], domains]), "registry check rejects one wrong value")
    check(not w.check([rows[:2], domains]), "registry check rejects a missing row")
    check(not w.check([rows, []]), "registry check rejects an empty second result")


def test_wrong_expectation_fails_an_op() -> None:
    run._environment(os.path.join(WORK, "session"), trace=False)
    w = workloads.DwcaValidate()
    w.rows = 2_000
    w.prepare(os.path.join(WORK, "session", "inputs"), 3)
    spark = run._start_session()
    try:
        loop = run.Loop(spark, w)
        loop.one("check")
        check(loop.failed == 0, "dwca_validate op passes against the planted counts")
        w.expected["invalid_decimal_latitude_count"] += 1
        loop.one("check")
        check(loop.failed == 1, "a wrong planted count makes the op fail")
    finally:
        run._stop_jvm(spark)


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        test_inputs_follow_the_seed()
        test_registry_check_rejects_a_wrong_row()
        test_wrong_expectation_fails_an_op()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
