#!/usr/bin/env python
"""Sweep the full oracled registry against an arbitrary (hostile) corpus.

The rounds-7..10 cold-review campaign's main instrument, promoted from
ad-hoc session scripts to the repo: build a corpus directory that
differs from the driver fixtures along ONE hostile axis (NULL-bearing
rows, non-finite doubles, calendar extremes, Unicode, ...), then run
EVERY ``load_all()`` spec that carries an oracle through the
driver-gate canonicalize-and-hash compare on that corpus. Divergences
are engine-boundary findings: fix both sides or encode the documented
boundary, then pin the corpus + entry in ``tests/test_review_r*.py``.

Usage:
    python scripts/hostile_sweep.py CORPUS_DIR [name-substring ...]

Exit 0 = all green; 1 = at least one FAIL/ERR (each printed with a
tail of the traceback or the row/hash delta).
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not args:
        print(__doc__)
        sys.exit(2)
    corpus, pats = args[0], args[1:]

    from fs2_kafka_streams_spark.queries import load_all
    from fs2_kafka_streams_spark.session import get_spark
    from fs2_kafka_streams_spark.testing import driver_gate, duck_connect

    specs = {
        n: s
        for n, s in load_all().items()
        if s.oracle and (not pats or any(p in n for p in pats))
    }
    if not specs:
        print(f"no oracled specs match {pats}")
        sys.exit(2)

    spark = get_spark(app_name="hostile-sweep")
    con = duck_connect(corpus)

    n_ok = n_fail = n_err = 0
    for name in sorted(specs):
        spec = specs[name]
        t0 = time.perf_counter()
        try:
            res = driver_gate(spark, corpus, spec, con=con)
            if res:
                n_ok += 1
                print(
                    f"OK   {name:40s} {time.perf_counter() - t0:6.2f}s "
                    f"rows={res.spark_rows}",
                    flush=True,
                )
            else:
                n_fail += 1
                print(
                    f"FAIL {name:40s} {time.perf_counter() - t0:6.2f}s "
                    f"({res.why})",
                    flush=True,
                )
        except Exception:
            n_err += 1
            print(
                f"ERR  {name}\n{traceback.format_exc()[-1200:]}", flush=True
            )
    print(
        f"\nsweep over {corpus}: {n_ok} ok, {n_fail} fail, {n_err} err "
        f"of {len(specs)} oracled specs",
        flush=True,
    )
    sys.exit(1 if n_fail or n_err else 0)


if __name__ == "__main__":
    main()
