"""Self-test of the benchmark.

1. The checkers catch a planted wrong expected value (no Spark needed).
2. A tiny-size run of every workload, untraced and traced, exits 0, is
   correct, and emits every metric BENCHMARK.json names, with its unit.

    python3 perfbench/selftest.py [--skip-runs]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
from run import WORKLOADS  # noqa: E402


def must_catch(name: str, problems: list[str]) -> None:
    if not problems:
        raise SystemExit(f"FAIL: planted error not caught: {name}")
    print(f"ok: caught {name}")


def must_pass(name: str, problems: list[str]) -> None:
    if problems:
        raise SystemExit(f"FAIL: {name} reported {problems}")
    print(f"ok: {name} passes")


def checkers(tmp: str) -> None:
    paths = gen.landing(os.path.join(tmp, "landing"), 7, 300)
    want = oracle.build_expected(paths, gen.WATERMARK)
    must_pass("build vs itself", oracle.compare_build(list(want), want))
    planted = [list(r) for r in want]
    planted[0][1] += 1  # one row too many at the best priority
    must_catch("build row count", oracle.compare_build([tuple(r) for r in planted], want))
    planted = [list(r) for r in want]
    planted[-1][-1] ^= 1  # content hash
    must_catch("build content hash", oracle.compare_build([tuple(r) for r in planted], want))

    _, model = gen.snapshot(os.path.join(tmp, "snap"), 7, 50)
    keys = {c: oracle.row_key(v) for c, v in model.items()}
    must_pass("table vs model", oracle.compare_rows("table", dict(keys), keys))
    cid = next(iter(model))
    wrong = dict(keys)
    wrong[cid] = wrong[cid][:-1] + (wrong[cid][-1] + 1,)  # updated_at off by 1 s
    must_catch("table row value", oracle.compare_rows("table", wrong, keys))
    must_catch("table missing row", oracle.compare_rows("table", dict(list(keys.items())[1:]), keys))
    stream = gen.DeltaStream(os.path.join(tmp, "deltas"), 7, 50)
    feed, _, rows, when = stream.delta(1)
    changed, inserted = oracle.apply_delta(model, feed, rows, int(when.timestamp()))
    must_pass("change feed counts", oracle.compare_feed(changed, inserted, changed, inserted))
    must_catch("change feed count", oracle.compare_feed(changed - 1, inserted, changed, inserted))
    top = oracle.topk_expected(model, 5)
    must_pass("top-k vs model", oracle.compare_read("top-k", list(top), top))
    must_catch("top-k order", oracle.compare_read("top-k", top, [top[1], top[0]] + top[2:]))

    docs = gen.corpus(os.path.join(tmp, "corpus"), 7, 200, 30)
    pairs = oracle.dedup_expected(docs)
    if not pairs:
        raise SystemExit("FAIL: planted duplicate clusters produced no pairs")
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent[find(a)] = find(b)
    comp = {d: find(d) for d in list(parent)}
    must_pass("dedup vs oracle", oracle.compare_dedup(list(pairs), pairs, comp))
    must_catch("dedup missing pair", oracle.compare_dedup(pairs[1:], pairs, comp))
    split = dict(comp)
    split[pairs[0][1]] = -1
    must_catch("dedup split component", oracle.compare_dedup(list(pairs), pairs, split))


def tiny_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                raise SystemExit(f"FAIL: {w} trace={trace} exit {p.returncode}\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            if got != want or not res["correct"] or res["failed"]:
                raise SystemExit(f"FAIL: {w} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                                 f"units {[k for k in want if got.get(k) != want[k]]} result {res}")
            print(f"ok: {w} trace={trace} emits all {len(want)} {key} metrics")


def main() -> int:
    tmp = tempfile.mkdtemp(dir=HERE, prefix=".selftest-")
    try:
        checkers(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if "--skip-runs" not in sys.argv:
        tiny_runs()
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
