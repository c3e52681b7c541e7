"""Self-test of the benchmark in its tiny configuration.

    python3 perfbench/selftest.py

For every workload, an untraced and a traced run (2 headline queries,
2 steady cdc epochs) must pass their output checks and print every
metric BENCHMARK.json declares with its unit; a run whose expected
results are all corrupted must count failed operations. Last, the
benchmark must refuse to run from a directory that holds only
BENCHMARK.json and perfbench/. Exits 0 when every check holds.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS, declared  # noqa: E402


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
         *args], cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def _report(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for line in lines[:-1]:
        name, value, unit = line.split(" ")
        out[name] = (float(value), unit)
    return out


def main() -> int:
    import json

    errors = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            errors.append(what)

    for w in WORKLOADS:
        for trace in (0, 1):
            rc, lines = _run(ROOT, "--workload", w, "--trace", str(trace),
                             "--tiny")
            res = json.loads(lines[-1])
            want = declared(bool(trace))
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(rc == 0 and res["correct"] and res["failed"] == 0,
                   f"{w} trace={trace}: checks pass")
            expect(got == want, f"{w} trace={trace}: every declared metric "
                   "printed with its unit")
            report = _report(lines)
            expect(all(report.get(k, (0, None))[1] == u for k, u in want.items()),
                   f"{w} trace={trace}: report lines carry the same units")
        rc, lines = _run(ROOT, "--workload", w, "--trace", "0", "--tiny",
                         "--corrupt")
        res = json.loads(lines[-1])
        expect(rc == 0 and res["failed"] > 0 and not res["correct"]
               and _report(lines)["failed_ops_frac"][0] > 0,
               f"{w}: corrupted expected results count as failed")

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=base)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run(bare, "--workload", WORKLOADS[0], "--trace", "0")
        expect(rc != 0 and not lines, "refuses to run without the program")
    finally:
        shutil.rmtree(bare)
        try:
            os.rmdir(base)
        except OSError:
            pass  # a run still uses it
    print(f"{len(errors)} failed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
