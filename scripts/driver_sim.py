#!/usr/bin/env python
"""Faithful local mimic of the driver's t2 correctness sweep.

Round-1 lesson: the local gate (`fs2_kafka_streams_spark.testing`) canonicalized
list cells to strings while the driver pandas-``sort_values`` raw cells and
crashed (q25/q29, `TypeError: unhashable type: 'list'`). This script reproduces
the driver's shape as closely as the round-1 evidence allows:

- loads ``__spark_entry__`` exactly as the driver does (queries()/oracle_sql());
- runs every query at sf0.01 on the engine session;
- compares each through ``testing.driver_gate``: ``sort_values`` over ALL
  columns of the raw (un-stringified) frame — so any driver-crashing cell
  type crashes here first — then row count, sorted column names, and a
  value hash after rounding floats to 2 decimals (SURVEY §2 contract);
- writes ``CORRECTNESS_SIM.json`` in the same row format as CORRECTNESS_r01,
  on a full run only.

Usage: python scripts/driver_sim.py [sf_dir]  (default /root/testdata/sf0.01)
       python scripts/driver_sim.py [sf_dir] NAME ...
Each NAME is a substring filter on the entry names; a filtered run writes
no CORRECTNESS_SIM.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from dataclasses import asdict
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    pats = args

    import __spark_entry__ as ent
    from fs2_kafka_streams_spark.queries import QuerySpec
    from fs2_kafka_streams_spark.session import get_spark
    from fs2_kafka_streams_spark.testing import driver_gate, duck_connect

    spark = get_spark(app_name="driver-sim")
    qs = {
        n: b for n, b in ent.queries().items()
        if not pats or any(p in n for p in pats)
    }
    if not qs:
        print(f"no entries match {pats}")
        sys.exit(2)
    oracles = ent.oracle_sql()
    con = duck_connect(sf_dir)

    out: dict[str, dict] = {}
    t_start = time.perf_counter()
    for name, build in qs.items():
        row = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None, "sec": None}
        t0 = time.perf_counter()
        try:
            spec = QuerySpec(name, build, oracles.get(name))
            row.update(asdict(driver_gate(spark, sf_dir, spec, con=con)))
        except Exception:
            row["err"] = traceback.format_exc()[-1500:]
        row["sec"] = round(time.perf_counter() - t0, 2)
        out[name] = row
        status = "OK" if (row["hash_match"] and row["err"] is None) else "FAIL"
        print(f"{status:4s} {name:36s} {row['sec']:6.2f}s "
              f"rows={row['spark_rows']}", flush=True)

    total = round(time.perf_counter() - t_start, 1)
    if not pats:
        (_REPO / "CORRECTNESS_SIM.json").write_text(json.dumps(out, indent=1))
    n_ok = sum(1 for r in out.values() if r["hash_match"] and not r["err"])
    print(f"\n{n_ok}/{len(out)} green, total {total}s")
    if n_ok < len(out):
        for name, r in out.items():
            if not (r["hash_match"] and not r["err"]):
                print(f"  FAIL {name}: err={'yes' if r['err'] else 'no'} "
                      f"rows={r['rows_match']} schema={r['schema_match']} "
                      f"hash={r['hash_match']}")
        sys.exit(1)


if __name__ == "__main__":
    main()
