#!/usr/bin/env python3
"""Per-request Spark job breakdown of a traced hostbench run.

Usage: python3 scripts/span_jobs.py SPANS.jsonl [PHASE]

SPANS.jsonl is the span file a traced run writes
(`.hostbench/out/<workload>-seed<N>.spans.jsonl`). For every timed request
(a `request.<phase>` span), optionally only those of PHASE (cached,
uncached, expansion, distributed, ...), it prints:

  wall_ms   the request's wall time
  jobs      Spark jobs the request launched (its `spark.job` spans)
  stages    stages those jobs ran (skipped stages are not counted)
  job_ms    the jobs' summed wall time
  rest_ms   wall_ms - job_ms: driver-side time outside any job (parsing,
            planning, result handling, scheduling gaps between jobs)

then the median of each column per phase. It only reads the file.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    requests = {}  # req id -> (phase, wall ms)
    jobs = defaultdict(list)  # req id -> [(wall ms, stages)]
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            name = s["name"]
            if name.startswith("request."):
                requests[s["req"]] = (name[len("request."):], s["ms"])
            elif name == "spark.job":
                jobs[s["req"]].append((s["ms"], s.get("stages", 0.0)))
    return requests, jobs


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2])
    requests, jobs = load(argv[1])
    phase = argv[2] if len(argv) == 3 else None
    rows = defaultdict(list)  # phase -> [(req, wall, jobs, stages, job ms)]
    for req, (ph, wall) in requests.items():
        if phase is None or ph == phase:
            js = jobs.get(req, [])
            rows[ph].append((req, wall, len(js), sum(st for _, st in js),
                             sum(ms for ms, _ in js)))
    if not rows:
        sys.exit(f"no requests{' of phase ' + phase if phase else ''} "
                 f"in {argv[1]}")

    def num(req):  # "distributed:12" sorts after "distributed:2"
        tail = req.rsplit(":", 1)[-1]
        return (0, int(tail), req) if tail.isdigit() else (1, 0, req)

    head = f"{'request':<18}{'wall_ms':>10}{'jobs':>6}{'stages':>8}" \
           f"{'job_ms':>10}{'rest_ms':>10}"
    for ph in sorted(rows):
        print(head)
        for req, wall, nj, st, jms in sorted(rows[ph], key=lambda r: num(r[0])):
            print(f"{req:<18}{wall:>10.1f}{nj:>6}{st:>8.0f}{jms:>10.1f}"
                  f"{wall - jms:>10.1f}")
        med = [statistics.median(col) for col in (
            [r[1] for r in rows[ph]], [r[2] for r in rows[ph]],
            [r[3] for r in rows[ph]], [r[4] for r in rows[ph]],
            [r[1] - r[4] for r in rows[ph]])]
        print(f"{'median ' + ph:<18}{med[0]:>10.1f}{med[1]:>6g}{med[2]:>8g}"
              f"{med[3]:>10.1f}{med[4]:>10.1f}  ({len(rows[ph])} requests)")
        print()


if __name__ == "__main__":
    main(sys.argv)
