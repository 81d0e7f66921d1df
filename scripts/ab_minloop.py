#!/usr/bin/env python
"""Interleaved old/new A/B under a PERSISTENT io storm: min-of-many-reps.

Usage: python scripts/ab_minloop.py OLD NEW ROUNDS out.jsonl name [name...]

A quiet-window gate could not open at all through the r11/r12 host storms
(they last hours, with sub-minute quiet gaps), so the honest fallback is
volume: run the two arms back-to-back for ROUNDS rounds regardless of
host state, record the fsync probe around every arm, and compare each
entry's MIN across all reps per tree. The storm is one-sided noise —
it only ever ADDS time — so with enough interleaved samples the per-tree
min converges on the quiet-window value; the interleaving guarantees both
arms sample the same storm distribution, and the arm that runs first
alternates every round (recorded as ``order``) so neither tree always
gets the fresher host. Every rep and probe is recorded, nothing is
filtered.

Each arm is this tree's ``bench.py NAME... -n REPS`` (``AB_REPS``,
default 3) run from the arm's tree with that tree first on ``sys.path``;
a streaming entry also records the ``addBatch`` ms of every trigger it
drained (``add_batch_ms``), the layer the per-trigger work shows in:
both arms share one harness and warm-up, and each times its own
``fs2_kafka_streams_spark`` — the package path the arm imported is
recorded. An arm that times out, exits non-zero or prints no line for a
named entry is recorded as failed, with its return code, and the loop
goes on.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

HARNESS = Path(__file__).resolve().parent.parent / "bench.py"
sys.path.insert(0, str(HARNESS.parent))
from bench import fsync_probe, loadavg1  # noqa: E402

ARM_TIMEOUT_S = 1800

#: ``python -c`` puts the working directory (the arm's tree) first on
#: sys.path; the harness is then run as a script from this tree.
_ARM = (
    "import runpy, sys; sys.argv = sys.argv[1:]; "
    "runpy.run_path(sys.argv[0], run_name='__main__')"
)


def run_arm(tree: str, reps: int, names: list[str]) -> dict:
    rec: dict = {"rc": None, "package": None, "reps": {}, "add_batch_ms": {},
                 "failed": None}
    try:
        out = subprocess.run(
            [sys.executable, "-c", _ARM, str(HARNESS), *names,
             "-n", str(reps)],
            cwd=tree,
            capture_output=True,
            text=True,
            timeout=ARM_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        rec["failed"] = f"timed out after {ARM_TIMEOUT_S}s"
        return rec
    rec["rc"] = out.returncode
    for line in out.stdout.splitlines():
        if line.startswith("package: "):
            rec["package"] = line.split(": ", 1)[1]
        elif ": median=" in line and "reps=[" in line:
            name = line.split(":", 1)[0].strip()
            reps_s = line.split("reps=[", 1)[1].split("]", 1)[0]
            rec["reps"][name] = [float(x) for x in reps_s.split(",")]
            if "add_batch_ms=[" in line:
                ms = line.split("add_batch_ms=[", 1)[1].split("]", 1)[0]
                rec["add_batch_ms"][name] = [
                    float(x) for x in ms.split(",") if x.strip()
                ]
    missing = [n for n in names if n not in rec["reps"]]
    if out.returncode != 0:
        rec["failed"] = f"exit {out.returncode}: {out.stderr[-500:]}"
    elif missing:
        rec["failed"] = f"no line for {missing}"
    return rec


def main() -> None:
    old_tree, new_tree, rounds_s, out_path = sys.argv[1:5]
    names = sys.argv[5:]
    trees = {"old": old_tree, "new": new_tree}
    rounds = int(rounds_s)
    reps = int(os.environ.get("AB_REPS", "3"))
    mins: dict[str, dict[str, float]] = {"old": {}, "new": {}}
    with open(out_path, "a") as fh:
        for r in range(rounds):
            order = ("old", "new") if r % 2 == 0 else ("new", "old")
            io = [fsync_probe(60)]
            arms = {}
            for arm in order:
                arms[arm] = run_arm(trees[arm], reps, names)
                io.append(fsync_probe(60))
            rec = {
                "ts": round(time.time(), 1),
                "round": r,
                "order": list(order),
                "io_ms": io,
                "load1": loadavg1(),
                **arms,
            }
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            for arm, res in arms.items():
                for k, v in res["reps"].items():
                    cur = mins[arm].get(k)
                    m = min(v)
                    mins[arm][k] = m if cur is None else min(cur, m)
            print(f"round {r} order={order} io={io}", flush=True)
            for arm, res in arms.items():
                if res["failed"]:
                    why = res["failed"].strip().splitlines()[-1]
                    print(f"  {arm} FAILED (rc {res['rc']}): {why}",
                          flush=True)
            for k in names:
                o, n = mins["old"].get(k), mins["new"].get(k)
                if o and n:
                    print(f"  {k}: min old {o:.3f} new {n:.3f} "
                          f"({o / n:.2f}x)", flush=True)
    print("done", flush=True)


if __name__ == "__main__":
    main()
