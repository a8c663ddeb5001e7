"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

For each workload it checks that
  * every end-to-end and per-layer metric of BENCHMARK.json is printed by
    name with its unit, and the result line holds exactly those names;
  * a different seed changes the inputs but not the set of metric names;
  * dropping one output row before the checks raises ops_failed_ratio
    above 0 and makes the result incorrect;
and that the command fails, without a result line, in a directory that
holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _run(args: list[str], cwd: str = ROOT, script: str = RUN) -> tuple[int, str]:
    out = subprocess.run([sys.executable, script, *args], capture_output=True, text=True,
                         timeout=600, cwd=cwd)
    return out.returncode, out.stdout


def _printed(stdout: str) -> dict[str, str]:
    """metric name -> unit, from the ``metric <name> = <value> <unit>`` lines."""
    return dict(re.findall(r"^metric (\S+) = \S+ (\S+)$", stdout, flags=re.M))


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _digest(stdout: str) -> str:
    return re.search(r"sha256 (\w+)", stdout).group(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in (x["name"] for x in bench["workloads"]):
        base = ["--workload", w, "--seconds", "1", "--size", "tiny"]
        runs = {}
        for tag, extra in (("a", ["--seed", "1"]), ("b", ["--seed", "2"]),
                           ("drop", ["--seed", "1", "--drop-output-row"]),
                           ("trace", ["--seed", "1", "--trace", "1"])):
            code, out = _run(base + extra)
            expect(code == 0, f"{w}/{tag}: exit code 0 (got {code})")
            runs[tag] = out
        for tag, trace in (("a", 0), ("b", 0), ("trace", 1)):
            res, printed = _result(runs[tag]), _printed(runs[tag])
            names = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(names == want[trace], f"{w}/{tag}: result line holds exactly the trace={trace} metrics")
            expect(all(printed.get(k) == u for k, u in want[trace].items()),
                   f"{w}/{tag}: every metric printed with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w}/{tag}: outputs match the batch twin")
        expect(_digest(runs["a"]) != _digest(runs["b"]), f"{w}: another seed lands other inputs")
        expect(_result(runs["a"])["metrics"].keys() == _result(runs["b"])["metrics"].keys(),
               f"{w}: another seed reports the same metric names")
        drop = _result(runs["drop"])
        ratio = float(re.search(r"^metric ops_failed_ratio = (\S+)", runs["drop"], flags=re.M).group(1))
        expect(ratio > 0 and not drop["correct"] and drop["failed"] > 0,
               f"{w}: a dropped output row raises ops_failed_ratio above 0 ({ratio:.3g})")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = _run(["--workload", bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1"],
                     cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
    expect(code != 0 and '"metrics"' not in out, f"bare directory: fails without a result (exit {code})")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
