#!/usr/bin/env python
"""Quiet-window full-bench pinning loop (VERDICT r11 #1).

Usage: python scripts/bench_pin_loop.py [attempts] [out.json]

Repeats the r11 closing discipline mechanically: wait for three
consecutive fsync probes < 0.65 ms/op, run the full bench, then accept
the run ONLY if its own artifact says the window stayed quiet
(io_loaded=false, host_loaded=false, io_median_ms < 0.65). The first
accepted run's summary line is copied to the output path (default
BENCH_LOCAL_r12.json) and the loop exits; rejected artifacts are left in
/tmp for the audit trail.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, os.path.join(_REPO, "scripts"))
from ab_gate import fsync_ms, loadavg1  # noqa: E402


def main() -> None:
    attempts = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else Path(
        _REPO, "BENCH_LOCAL_r12.json"
    )
    for k in range(attempts):
        probes = []
        while len(probes) < 3:
            p = fsync_ms()
            if p < 0.65 and loadavg1() < 2.0:
                probes.append(p)
                time.sleep(3)
            else:
                print(f"gate closed (io {p}, load {loadavg1()}); wait",
                      flush=True)
                probes.clear()
                time.sleep(40)
        print(f"attempt {k}: gate open {probes}; running bench", flush=True)
        t0 = time.time()
        try:
            r = subprocess.run(
                [sys.executable, "bench.py"], cwd=_REPO,
                capture_output=True, text=True, timeout=3600,
            )
        except subprocess.TimeoutExpired:
            # a hung bench is one rejected attempt, not the end of the loop
            print(f"attempt {k} reject: bench timed out after 3600s",
                  flush=True)
            continue
        line = None
        for ln in r.stdout.splitlines():
            if ln.startswith('{"metric"'):
                line = ln
        if line is None:
            print(f"attempt {k}: bench died rc={r.returncode}", flush=True)
            print(r.stdout[-2000:], r.stderr[-2000:], flush=True)
            continue
        d = json.loads(line)
        ok = (
            not d.get("io_loaded")
            and not d.get("host_loaded")
            and d.get("io_med_ms", 9) < 0.65
        )
        tag = "ACCEPT" if ok else "reject"
        print(
            f"attempt {k} {tag}: total {d['value']}s io_med {d.get('io_med_ms')} "
            f"io_loaded {d.get('io_loaded')} noisy_io_n {d.get('noisy_io_n')} "
            f"stream_sec {d.get('stream_sec')} wall {time.time()-t0:.0f}s",
            flush=True,
        )
        stamp = time.strftime("%H%M%S")
        shutil.copy(Path(_REPO, "BENCH_FULL.json"),
                    f"/tmp/bench_attempt_{stamp}_{tag}.json")
        if ok:
            out.write_text(json.dumps(d, indent=1))
            shutil.copy(Path(_REPO, "BENCH_FULL.json"),
                        str(out).replace(".json", "_full.json"))
            print(f"pinned -> {out}", flush=True)
            return
    print("no accepted run", flush=True)


if __name__ == "__main__":
    main()
