#!/usr/bin/env python3
"""Digest a Bench stderr log (run with
-Dspark.sql.streaming.streamingQueryListeners=graft.StreamStateLog) into a per-query
state-store table: batches seen, peak state rows, peak state memory, and
the per-batch row trajectory — the growth curve the wall-clock timings
cannot see. Attribution: the bench runs queries serially and prints
`[bench] <name> <secs>` AFTER the query's micro-batches, so every
[stream-state] line belongs to the NEXT [bench] line in the log.

Usage: tools/stream_state_report.py /tmp/r12_sf1_stream.log
"""
import re
import sys
from collections import defaultdict


def main(path: str) -> None:
    state_re = re.compile(
        r"\[stream-state\] name=(\S+) batch=(\d+) (.*)")
    op_re = re.compile(r"(\S+): rows=(\d+) mem=(\d+)B")
    bench_re = re.compile(r"\[bench\] (?:p\d+ |retry )?(\S+)\s+([\d.]+)s")

    pending = []  # [stream-state] lines waiting for their [bench] line
    per_query = defaultdict(lambda: {
        "batches": 0, "peak_rows": 0, "peak_mem": 0, "traj": [], "secs": []})

    with open(path, errors="replace") as f:
        for line in f:
            m = state_re.search(line)
            if m:
                total_rows = total_mem = 0
                for _, rows, mem in op_re.findall(m.group(3)):
                    total_rows += int(rows)
                    total_mem += int(mem)
                pending.append((int(m.group(2)), total_rows, total_mem))
                continue
            b = bench_re.search(line)
            if b:
                q = per_query[b.group(1)]
                q["secs"].append(float(b.group(2)))
                for batch, rows, mem in pending:
                    q["batches"] += 1
                    q["peak_rows"] = max(q["peak_rows"], rows)
                    q["peak_mem"] = max(q["peak_mem"], mem)
                    q["traj"].append(rows)
                pending = []

    print(f"{'query':<28} {'min_s':>7} {'batches':>7} {'peak_rows':>10} "
          f"{'peak_mem':>10}  row trajectory (per micro-batch)")
    for name in sorted(per_query):
        q = per_query[name]
        traj = q["traj"]
        shown = ",".join(str(r) for r in traj[:8])
        if len(traj) > 8:
            shown += f",…,{traj[-1]}"
        mem = f"{q['peak_mem'] / 1048576:.1f}M" if q["peak_mem"] else "-"
        print(f"{name:<28} {min(q['secs']):>7.2f} {q['batches']:>7} "
              f"{q['peak_rows']:>10} {mem:>10}  {shown}")


if __name__ == "__main__":
    main(sys.argv[1])
