#!/usr/bin/env python
"""Per-STAGE forensic profile of named queries: stage name, wall
duration, task count, shuffle bytes — via the Spark UI REST API on a
UI-enabled session (guide §7.1: the stage table is where the time
actually shows up; `profile_queries.py` gives job/stage COUNTS but
not durations). One timed cold run per query (warm noop first,
clearCache + GC like bench.py), then the driver's own REST endpoint
is read back for every stage submitted during the timed window.

Usage: python scripts/stage_forensics.py <query> [query ...]
       [--sf=/root/testdata/sf0.1] [--top=25]
"""

from __future__ import annotations

import gc
import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stock_indicators_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    top = 25
    names: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--top="):
            top = int(a.split("=", 1)[1])
        else:
            names.append(a)

    import __spark_entry__ as entry_mod
    from bench import EAGER_CONSTRUCTION

    spark = get_spark(
        app_name="stage_forensics",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )
    queries = entry_mod.queries()
    if hasattr(entry_mod, "extra_queries"):
        for n, fn in entry_mod.extra_queries().items():
            queries.setdefault(n, fn)

    # the UI binds the next free port when 4049 is taken; ask the
    # session where it actually landed
    ui = f"{spark.sparkContext.uiWebUrl}/api/v1"
    app_id = spark.sparkContext.applicationId

    def stages() -> list[dict]:
        with urllib.request.urlopen(
            f"{ui}/applications/{app_id}/stages?status=complete", timeout=30
        ) as r:
            return json.load(r)

    sc = spark.sparkContext
    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()  # warm
        spark.catalog.clearCache()
        gc.collect()
        sc._jvm.System.gc()
        seen = {s["stageId"] for s in stages()}
        t0 = time.perf_counter()
        d = fn(spark, sf_dir) if name in EAGER_CONSTRUCTION else df
        d.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        rows = []
        for s in stages():
            if s["stageId"] in seen:
                continue
            dur = (s.get("executorRunTime") or 0) / 1e3
            sub = s.get("submissionTime")
            comp = s.get("completionTime")
            wall_s = None
            if sub and comp:
                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                try:
                    wall_s = (
                        time.mktime(time.strptime(comp, fmt))
                        - time.mktime(time.strptime(sub, fmt))
                    )
                except ValueError:
                    wall_s = None
            rows.append(
                {
                    "id": s["stageId"],
                    "tasks": s.get("numCompleteTasks"),
                    "run_s": round(dur, 3),
                    "wall_s": round(wall_s, 3) if wall_s is not None else None,
                    "shuf_r_mb": round((s.get("shuffleReadBytes") or 0) / 2**20, 2),
                    "shuf_w_mb": round((s.get("shuffleWriteBytes") or 0) / 2**20, 2),
                    "name": (s.get("name") or "")[:80],
                }
            )
        rows.sort(key=lambda r: -(r["wall_s"] or r["run_s"]))
        print(f"\n=== {name}: wall {wall:.2f}s, {len(rows)} stages ===")
        tot_wall = sum(r["wall_s"] or 0 for r in rows)
        tot_run = sum(r["run_s"] for r in rows)
        print(f"    sum(stage wall) {tot_wall:.2f}s  sum(executorRunTime) {tot_run:.2f}s")
        for r in rows[:top]:
            print(
                f"  {r['id']:>6} tasks={r['tasks']:<4} wall={r['wall_s']!s:<8}"
                f" run={r['run_s']:<8} sr={r['shuf_r_mb']:<8} sw={r['shuf_w_mb']:<8} {r['name']}"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
